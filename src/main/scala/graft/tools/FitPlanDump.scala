package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode

import graft.tree.{Criterion, SplitSearch}

/** Dev: dump the formatted plan of the trainer's per-LEVEL winners frame
  * ([[SplitSearch.searchLevelFrame]]) — the exact query each fit bench
  * entry executes once per tree level — for the r20 plans/ audit.
  *
  * Modes (args(0)):
  *   exact        — fit_depth4_entropy's level shape (windowed cum)
  *   partitioned  — fit_depth4_entropy_scalable's (bucketed prefix sums)
  *   exact_before — the r20 string-struct melt + windowed cum subplan
  * Binned fits run no winners frame: their level job is the
  * MultiFeatureHistogram aggregate, whose per-level plans and metrics
  * `python3 perfbench/run.py --workload binned_wide --trace 1` reports.
  * Optional args(1) = sf dir.
  */
object FitPlanDump {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("exact")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val features = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val targets = Seq[Any]("A", "N", "R")
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select((features :+ "l_returnflag").map(col): _*)
    val ranges = features.map(f => f -> (0.0, 100000.0)).toMap
    val frame = mode match {
      case "exact" =>
        SplitSearch.searchLevelFrame(df, lit(0), features, "l_returnflag",
          targets, Criterion.Entropy)
      case "partitioned" =>
        SplitSearch.searchLevelFrame(df, lit(0), features, "l_returnflag",
          targets, Criterion.Entropy, cumBuckets = Some(32), cumRanges = ranges)
      case "exact_before" =>
        // The r20 BEFORE shape: searchLevelWithStats's melt+cum subplan as
        // it stood at 6f198a3, reproduced from the UNCHANGED oracle-shaped
        // public functions (string-struct melt with the sentinel and the
        // __node extra key — the exact code the old level search called;
        // the gain/winners section above it is identical before and after,
        // only its input subplan changed).
        val base = df.withColumn("__node", lit(0).cast("int"))
          .where(col("__node").isNotNull)
        val hist = SplitSearch.meltedHistogram(base, features, "l_returnflag",
          targets, withNodeSentinel = true, extraKeys = Seq("__node"))
        SplitSearch.cumulativeCounts(hist, targets.size, Seq("__node", "feature"))
      case other => sys.error(s"unknown mode $other")
    }
    println(frame.queryExecution.explainString(FormattedMode))
    spark.stop()
  }
}

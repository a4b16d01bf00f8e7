package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tree.{Criterion, SplitSearch}

/** Dev: phase timing for ONE exact-mode level search (the repeated unit
  * of fit_depth4_entropy) — where do its ~20 s go? Times, separately:
  * source cache, the melted histogram alone, histogram + cumulative
  * windows, and the full winners frame (windowed and partitioned cum),
  * each via a noop write (full evaluation, no collect cost).
  */
object MeltPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val features = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val targets = Seq[Any]("A", "N", "R")
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select((features :+ "l_returnflag").map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[meltphase] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    def noop(d: org.apache.spark.sql.DataFrame): Unit =
      d.write.format("noop").mode("overwrite").save()

    time("cache count")(df.count())
    val base = df.withColumn("__node", lit(0).cast("int")).where(col("__node").isNotNull)
    for (run <- 1 to 2) {
      time(s"run$run histogram only")(noop(
        SplitSearch.meltedHistogramIdx(base, features, "l_returnflag", targets,
          Seq("__node"))))
      time(s"run$run hist+windowed cum")(noop(
        SplitSearch.cumulativeCounts(
          SplitSearch.meltedHistogramIdx(base, features, "l_returnflag", targets,
            Seq("__node")), targets.size, Seq("__node", "feature"))))
      time(s"run$run winners windowed")(noop(
        SplitSearch.searchLevelFrame(df, lit(0), features, "l_returnflag",
          targets, Criterion.Entropy)))
      time(s"run$run winners partitioned")(noop(
        SplitSearch.searchLevelFrame(df, lit(0), features, "l_returnflag",
          targets, Criterion.Entropy, cumBuckets = Some(32),
          cumRanges = features.map(_ -> (0.0, 200000.0)).toMap)))
    }
    spark.stop()
  }
}

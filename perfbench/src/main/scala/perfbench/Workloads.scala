package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tree.{Criterion, DecisionTreeClassifier}

/** One benchmark workload: the classifier, its training frame, and the
  * target column. `frame` is what both `fit` and `predictMany` receive. */
final case class Workload(
    name: String,
    classifier: DecisionTreeClassifier,
    frame: DataFrame,
    target: String
) {
  def features: Seq[String] = frame.columns.toSeq.filterNot(_ == target)
}

/** The three workloads. Each is built here, in the benchmark's own code, so
  * that later changes to the library's tools cannot change what is measured.
  *
  * Rows come from lineitem, restricted to a fixed hash slice
  * (`xxhash64(l_orderkey, l_linenumber) mod subsetMod = 0`, the modulus
  * chosen per workload by the runner): the slice keeps one operation to a
  * few seconds at 4 cores while keeping each workload's character
  * (candidate counts, category counts, frontier width, busy cores).
  * `exact_narrow` runs with the same command but is not in BENCHMARK.json:
  * its fit time moves by a fifth or more between runs, because every fit
  * compiles dozens of new generated classes and the JIT is still catching up.
  */
object Workloads {
  val Names: Seq[String] = Seq("exact_narrow", "binned_wide", "categorical_deep")

  private val NarrowCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def lineitem(spark: SparkSession, dataDir: String, subsetMod: Int): DataFrame = {
    val li = spark.read.parquet(s"$dataDir/lineitem.parquet")
    if (subsetMod <= 1) li
    else li.where(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(subsetMod.toLong)) === 0)
  }

  /** Writes the input file of a workload that reads one (the join of
    * `categorical_deep`) to `path` as `cpus` files. It runs in a JVM of its own before the measured one, so
    * the measured set-up time never includes it. */
  def materialize(name: String, spark: SparkSession, dataDir: String, subsetMod: Int,
      path: String, cpus: Int): Unit = name match {
    case "categorical_deep" =>
      val part = spark.read.parquet(s"$dataDir/part.parquet")
      val orders = spark.read.parquet(s"$dataDir/orders.parquet")
      val staging = s"$path.${ProcessHandle.current().pid()}.tmp"
      lineitem(spark, dataDir, subsetMod)
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(
          col("p_brand"), col("p_type"), col("o_orderpriority"), col("l_linestatus"),
          col("l_suppkey").cast("string").as("l_suppkey"),
          col("l_quantity"), col("l_discount"), col("p_size"), col("o_totalprice"),
          (col("l_returnflag") === "R").cast("int").as("returned"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(staging)
      Files.move(Paths.get(staging), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    case other =>
      throw new IllegalArgumentException(s"workload $other has no input file")
  }

  /** Builds the named workload's inputs; `input` is the file [[materialize]]
    * wrote, for a workload that reads one. */
  def build(name: String, spark: SparkSession, dataDir: String, subsetMod: Int,
      input: Option[String], cpus: Int): Workload = name match {
    // Exact candidates over 4 numeric columns: the melt and cumulative-count
    // window path, with l_extendedprice nearly unique per row. The parquet
    // is one row group, so the scan is one task.
    case "exact_narrow" =>
      Workload(name, DecisionTreeClassifier(maxDepth = Some(4)),
        lineitem(spark, dataDir, subsetMod).select((NarrowCols :+ "l_returnflag").map(col): _*),
        "l_returnflag")

    // 190 binned features: all the work is in the quantile sketch and the
    // histogram aggregate. Derived columns are built the way the library's
    // wide bench frame builds them, in one flat select.
    case "binned_wide" =>
      val base = lineitem(spark, dataDir, subsetMod)
        .select((NarrowCols :+ "l_returnflag").map(col): _*)
        .repartition(cpus)
      val derived = (0 until 186).map(i =>
        (col(NarrowCols(i % 4)) * (1.0 + i * 0.1) + i).as(s"f_$i"))
      Workload(name,
        DecisionTreeClassifier(maxDepth = Some(4), maxBins = Some(32)),
        base.select(base.columns.map(col) ++ derived: _*),
        "l_returnflag")

    // Depth 10 over five target-encoded categoricals (l_suppkey's ~1,000
    // categories take the broadcast-join recode) and four numerics: light
    // per-row work, so the fixed per-level cost and the 512-node frontier
    // routing dominate.
    case "categorical_deep" =>
      val path = input.getOrElse(throw new IllegalArgumentException(s"$name needs its input file"))
      Workload(name,
        DecisionTreeClassifier(maxDepth = Some(10), maxBins = Some(32), criterion = Criterion.Gini,
          categoricalColumns = Seq("p_brand", "p_type", "o_orderpriority", "l_linestatus", "l_suppkey")),
        spark.read.parquet(path),
        "returned")

    case other =>
      throw new IllegalArgumentException(s"unknown workload: $other (expected one of ${Names.mkString(", ")})")
  }
}

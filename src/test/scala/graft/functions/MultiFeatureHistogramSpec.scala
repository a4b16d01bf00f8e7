package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, ListenerBridge}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tree.{BinnedRef, Criterion, SplitSearch}

/** Differential pin of the binned level search — the
  * [[MultiFeatureHistogram]] aggregate plus the driver-side gain math in
  * [[SplitSearch.searchLevelAggregated]] — against the exact melt pipeline
  * ([[SplitSearch.searchLevelWithStats]]) run over the same frame with
  * every feature snapped to its edges on the test side, where nulls stay
  * null. The data is adversarial: nulls, NaN, +/-Inf, -0.0, values on,
  * between and past edges, null targets and several nodes.
  */
class MultiFeatureHistogramSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val features = Seq("fa", "fb", "fc")
  private val edges = Map(
    "fa" -> Seq(1.5, 3.0, 7.25),
    "fb" -> Seq(0.0, 10.0),
    "fc" -> Seq(-2.0))
  private val targets: Seq[Any] = Seq("x", "y", "z")
  private val numNodes = 4

  private def df: DataFrame = {
    val vals: Seq[java.lang.Double] = Seq(
      -1e300, -2.0, -1.99, -0.0, 0.0, 1.5, 1.500001, 3.0, 5.0, 7.25, 7.26, 1e300,
      Double.NaN, Double.NegativeInfinity, Double.PositiveInfinity, null)
    val rows = for {
      (a, i) <- vals.zipWithIndex
      (b, j) <- vals.reverse.zipWithIndex
    } yield Row(a, b, vals((i + j) % vals.size),
      if ((i + 2 * j) % 7 == 6) null else targets((i + j) % targets.size).toString,
      (i * 3 + j) % numNodes)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 5),
      StructType(Seq(
        StructField("fa", DoubleType), StructField("fb", DoubleType),
        StructField("fc", DoubleType), StructField("t", StringType),
        StructField("__node", IntegerType, nullable = false))))
  }

  private def aggregated(d: DataFrame, fs: Seq[String], es: Map[String, Seq[Double]],
      crit: Criterion) =
    SplitSearch.searchLevelAggregated(d, col("__node"), numNodes, fs, "t", targets, crit, es)

  /** The exact search over the snapped frame. The trainer drops null
    * targets before any search; the aggregate ignores them by itself. */
  private def exact(d: DataFrame, fs: Seq[String], es: Map[String, Seq[Double]],
      crit: Criterion) =
    SplitSearch.searchLevelWithStats(BinnedRef.snapped(d.where(col("t").isNotNull), es),
      col("__node"), fs, "t", targets, crit)

  private def assertSame(a: Map[Int, SplitSearch.NodeSearch],
      e: Map[Int, SplitSearch.NodeSearch]): Unit = {
    assert(a.keySet == e.keySet)
    a.foreach { case (node, an) =>
      val en = e(node)
      assert(an.nodeDistribution == en.nodeDistribution, s"node $node distribution")
      val ac = an.candidates.map(c => c.candidate.feature -> c).toMap
      val ec = en.candidates.map(c => c.candidate.feature -> c).toMap
      assert(ac.keySet == ec.keySet, s"node $node features")
      ac.foreach { case (f, x) =>
        val y = ec(f)
        val at = s"node $node feature $f"
        assert(x.candidate.threshold == y.candidate.threshold, s"$at threshold")
        assert(math.abs(x.candidate.informationGain - y.candidate.informationGain) < 1e-12,
          s"$at gain")
        assert(math.abs(x.candidate.parentCriterion - y.candidate.parentCriterion) < 1e-12,
          s"$at parent criterion")
        assert(x.leftClassCounts == y.leftClassCounts, s"$at left counts")
        assert(x.featureClassTotals == y.featureClassTotals, s"$at totals")
      }
    }
  }

  test("level search matches the exact search on a snapped frame on adversarial data") {
    val d = df
    for (crit <- Seq(Criterion.Entropy, Criterion.Gini)) {
      val a = aggregated(d, features, edges, crit)
      assert(a.size == numNodes && a.values.exists(_.candidates.nonEmpty))
      assertSame(a, exact(d, features, edges, crit))
    }
  }

  test("a feature without edges is not searched; the others match the exact search") {
    // the quantile pass yields no edges for an all-null or all-NaN column
    val d = df
    val partial = edges - "fb"
    val a = aggregated(d, features, partial, Criterion.Entropy)
    assert(a.values.forall(_.candidates.forall(_.candidate.feature != "fb")))
    assertSame(a, exact(d, Seq("fa", "fc"), partial, Criterion.Entropy))
    // no edges at all: node distributions only
    val none = aggregated(d, features, Map.empty, Criterion.Entropy)
    assert(none.values.forall(_.candidates.isEmpty))
    assertSame(none, exact(d, Nil, Map.empty, Criterion.Entropy))
  }

  test("level search plan carries no generator over the input rows") {
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val d = df
    ListenerBridge.waitUntilListenerBusEmpty(spark)
    spark.listenerManager.register(listener)
    try {
      aggregated(d, features, edges, Criterion.Entropy)
      ListenerBridge.waitUntilListenerBusEmpty(spark)
    } finally spark.listenerManager.unregister(listener)
    val plan = plans.synchronized(plans.mkString("\n"))
    assert(plan.contains("multi_feature_histogram"), plan)
    assert(!plan.contains("explode") && !plan.contains("Generate"), plan)
  }

  test("single-edge slots and -0.0 edges match the exact search on a snapped frame") {
    val rows = Seq(
      Row(java.lang.Double.valueOf(-0.5), "x", 0),
      Row(java.lang.Double.valueOf(-0.0), "y", 0),
      Row(java.lang.Double.valueOf(0.0), "x", 0),
      Row(java.lang.Double.valueOf(0.5), "y", 0),
      Row(java.lang.Double.valueOf(0.5), "z", 1),
      Row(null, "z", 1),
      Row(java.lang.Double.valueOf(-1.0), "y", 1))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("fa", DoubleType), StructField("t", StringType),
        StructField("__node", IntegerType, nullable = false))))
    val e = Map("fa" -> Seq(-0.0))
    val a = aggregated(d, Seq("fa"), e, Criterion.Entropy)
    assert(a(0).candidates.map(_.candidate.threshold) == Seq(0.0))
    assertSame(a, exact(d, Seq("fa"), e, Criterion.Entropy))
  }

  test("bin lookup matches the snapToEdges when-chain on every branch") {
    // one node per row, so each row's bin can be read back from the buffer
    val values: Seq[java.lang.Double] = Seq(
      -1e300, -0.0, 0.0, 1.5, 1.500001, 3.0, 5.0, 7.25, 7.26, 1e300,
      Double.NaN, Double.NegativeInfinity, Double.PositiveInfinity, null)
    val slotEdges = Seq(Seq(1.5, 3.0, 7.25), Seq(0.0))
    val rows = values.zipWithIndex.map { case (v, i) => Row(v, values(values.size - 1 - i), i) }
    val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("a", DoubleType), StructField("b", DoubleType),
        StructField("id", IntegerType, nullable = false))))
    val agg = MultiFeatureHistogram(ColumnBridge.expression(array(col("a"), col("b"))),
      ColumnBridge.expression(lit(0)), ColumnBridge.expression(col("id")),
      slotEdges, numClasses = 1, numNodes = values.size)
    val buffer = d.select(ColumnBridge.column(agg.toAggregateExpression()))
      .head().getSeq[Long](0)
    val numBins = agg.numBins
    val nodeLen = (slotEdges.size + 1) * numBins
    val chain: Seq[Column] = Seq("a", "b").zip(slotEdges).map { case (c, es) =>
      BinnedRef.snapToEdges(col(c), es)
    }
    val expected = d.orderBy("id").select(chain: _*).collect()
    expected.zipWithIndex.foreach { case (r, node) =>
      slotEdges.indices.foreach { slot =>
        val counted = (0 until numBins).filter(b => buffer(node * nodeLen + slot * numBins + b) == 1L)
        val want =
          if (r.isNullAt(slot)) Nil
          else {
            val snapped = r.getDouble(slot)
            val i = slotEdges(slot).indexOf(snapped)
            Seq(if (i >= 0) i else slotEdges(slot).size) // past the last edge: +inf bin
          }
        assert(counted == want, s"row $node slot $slot: value ${values(node)}")
      }
      // the node sentinel counts every row, null feature values included
      assert(buffer(node * nodeLen + slotEdges.size * numBins) == 1L)
    }
  }

  test("an oversized level buffer fails at construction, before any allocation") {
    // depth 15 at 190 features, 32 edges, 3 classes: 16384 x 191 x 33 x 3
    // cells = 2.4 GB of longs, past what one serialized byte array holds
    val e = intercept[IllegalArgumentException] {
      MultiFeatureHistogram(ColumnBridge.expression(lit(null).cast("array<double>")),
        ColumnBridge.expression(lit(0)), ColumnBridge.expression(lit(0)),
        Seq.fill(190)(Seq.tabulate(32)(_.toDouble)), numClasses = 3, numNodes = 1 << 14)
    }
    Seq("16384 nodes", "191 feature slots", "33 bins", "3 classes", "309805056 cells")
      .foreach(s => assert(e.getMessage.contains(s), e.getMessage))
    // the level above fits
    MultiFeatureHistogram(ColumnBridge.expression(lit(null).cast("array<double>")),
      ColumnBridge.expression(lit(0)), ColumnBridge.expression(lit(0)),
      Seq.fill(190)(Seq.tabulate(32)(_.toDouble)), numClasses = 3, numNodes = 1 << 13)
  }
}

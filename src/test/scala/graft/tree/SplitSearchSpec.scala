package graft.tree

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hand-computed split-search values on a tiny fixture, agreement between
  * the oracle-shaped pipeline and the trainer's level searches, and the
  * trainer against the test-side RefTree. */
class SplitSearchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // 8 rows, feature x in {1,2,3,4}, two classes. x<=2 -> class 0 (pure),
  // x>2 -> class 1 except one noise row at x=3.
  private def df = {
    val rows = Seq(
      Row(1.0, 0), Row(1.0, 0), Row(2.0, 0), Row(2.0, 0),
      Row(3.0, 1), Row(3.0, 0), Row(4.0, 1), Row(4.0, 1))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("x", DoubleType), StructField("target", IntegerType))))
  }

  private def entropy(ps: Seq[Double]): Double =
    -ps.filter(_ > 0).map(p => p * math.log(p) / math.log(2)).sum

  test("gainPerThreshold matches hand computation (entropy)") {
    val rows = SplitSearch.gainPerThreshold(df, Seq("x"), "target", Seq(0, 1), Criterion.Entropy)
      .orderBy("feature_value").collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.0, 2.0, 3.0)) // max (4.0) excluded
    val parent = entropy(Seq(5.0 / 8, 3.0 / 8))
    // threshold 2: left = 4x class0 (entropy 0), right = {0,1,1,1}
    val g2 = parent - (4.0 / 8 * 0.0 + 4.0 / 8 * entropy(Seq(1.0 / 4, 3.0 / 4)))
    val got = rows.find(_.getDouble(1) == 2.0).get.getAs[Double]("information_gain")
    assert(math.abs(got - g2) < 1e-12, s"got $got expected $g2")
    assert(math.abs(rows.head.getAs[Double]("parent_criterion") - parent) < 1e-12)
  }

  test("best split picks threshold 2 and searchWithStats agrees with bestSplit") {
    for (crit <- Seq(Criterion.Entropy, Criterion.Gini)) {
      val best = SplitSearch.bestSplit(df, Seq("x"), "target", Seq(0, 1), crit).get
      assert(best.feature == "x" && best.threshold == 2.0)
      val search = SplitSearch.searchWithStats(df, Seq("x"), "target", Seq(0, 1), crit)
      val sBest = search.best.get
      assert(sBest.candidate == best)
      assert(search.nodeDistribution == Seq(5L, 3L))
      assert(sBest.leftClassCounts == Seq(4L, 0L))
      assert(sBest.featureClassTotals == Seq(5L, 3L))
    }
  }

  test("searchWithStats node distribution counts null-feature rows; candidates do not") {
    val rows = Seq(Row(1.0, 0), Row(2.0, 0), Row(9.0, 1), Row(null, 1))
    val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("x", DoubleType, nullable = true), StructField("target", IntegerType))))
    val s = SplitSearch.searchWithStats(d, Seq("x"), "target", Seq(0, 1), Criterion.Entropy)
    assert(s.nodeDistribution == Seq(2L, 2L)) // null row counted in node
    assert(s.best.get.featureClassTotals == Seq(2L, 1L)) // but not under the feature
  }

  test("single-valued feature yields no candidates (right side must be non-empty)") {
    val rows = Seq(Row(5.0, 0), Row(5.0, 1))
    val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("x", DoubleType), StructField("target", IntegerType))))
    val s = SplitSearch.searchWithStats(d, Seq("x"), "target", Seq(0, 1), Criterion.Entropy)
    assert(s.candidates.isEmpty && s.nodeDistribution == Seq(1L, 1L))
    assert(SplitSearch.bestSplit(d, Seq("x"), "target", Seq(0, 1), Criterion.Entropy).isEmpty)
  }

  test("partitioned prefix-sum cumulative counts match the windowed version") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val hist = SplitSearch.meltedHistogram(
      li, Seq("l_quantity", "l_discount", "l_extendedprice"), "l_returnflag",
      Seq("A", "N", "R"))
    def canon(d: org.apache.spark.sql.DataFrame) = {
      val cols = d.columns.sorted
      d.select(cols.head, cols.tail: _*).orderBy("feature", "feature_value")
        .collect().map(_.toSeq).toSeq
    }
    val windowed = canon(SplitSearch.cumulativeCounts(hist, 3))
    for (p <- Seq(1, 3, 16)) {
      assert(canon(SplitSearch.cumulativeCountsPartitioned(hist, 3, p)) == windowed,
        s"partitioned(p=$p) differs from windowed")
    }
  }

  test("exactCumulativePartitions trainer mode builds the identical tree") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_quantity", "l_discount", "l_tax", "l_returnflag")
    val a = DecisionTreeClassifier(maxDepth = Some(3)).fit(li, "l_returnflag")
    val b = DecisionTreeClassifier(maxDepth = Some(3), exactCumulativePartitions = Some(8))
      .fit(li, "l_returnflag")
    assert(a.tree == b.tree)
  }

  private def lineitem(features: Seq[String]) =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select((features :+ "l_returnflag").map(col): _*)

  /** A seeded 1/6 row sample of sf0.001 lineitem: RefTree scans every row
    * for every candidate threshold, which is too slow on the ~6k distinct
    * l_extendedprice values of the full set. */
  private def lineitemSample(features: Seq[String]) = {
    val rows = lineitem(features).sample(1.0 / 6, 11L).collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), lineitem(features).schema)
  }

  private val liFeatures = Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice")

  test("aggregated single-pass histogram search matches the DataFrame pipeline") {
    // the binned aggregate over raw values == the exact pipeline over the
    // values snapped to the same edges
    val li = lineitem(liFeatures)
    val targets = Seq[Any]("A", "N", "R")
    val edges = Map(
      "l_quantity" -> Seq(10.0, 20.0, 30.0, 40.0),
      "l_discount" -> Seq(0.02, 0.05, 0.08),
      "l_tax" -> Seq(0.03, 0.06),
      "l_extendedprice" -> Seq(10000.0, 30000.0, 60000.0, 90000.0))
    for (crit <- Seq(Criterion.Entropy, Criterion.Gini)) {
      val viaPipeline = SplitSearch.searchWithStats(
        BinnedRef.snapped(li, edges), liFeatures, "l_returnflag", targets, crit)
      val viaAggregate = SplitSearch.searchLevelAggregated(
        li, lit(0), 1, liFeatures, "l_returnflag", targets, crit, edges)(0)
      assert(viaAggregate.nodeDistribution == viaPipeline.nodeDistribution)
      val p = viaPipeline.candidates.map(c => c.candidate.feature -> c).toMap
      val a = viaAggregate.candidates.map(c => c.candidate.feature -> c).toMap
      assert(a.keySet == p.keySet)
      a.foreach { case (f, ca) =>
        val cp = p(f)
        assert(ca.candidate.threshold == cp.candidate.threshold, s"$f threshold")
        assert(math.abs(ca.candidate.informationGain - cp.candidate.informationGain) < 1e-12, s"$f gain")
        assert(math.abs(ca.candidate.parentCriterion - cp.candidate.parentCriterion) < 1e-12, s"$f crit")
        assert(ca.leftClassCounts == cp.leftClassCounts, s"$f left counts")
        assert(ca.featureClassTotals == cp.featureClassTotals, s"$f totals")
      }
    }
  }

  test("aggregated and pipeline binned trainers build the same tree") {
    // binned fit == exact (pipeline) fit over the frame snapped to the
    // fit's own quantile edges
    val li = lineitem(liFeatures)
    val (edges, _) = DecisionTreeClassifier.quantileBins(li, liFeatures, 16)
    val binned = DecisionTreeClassifier(maxDepth = Some(3), maxBins = Some(16), shrinkDtype = false)
      .fit(li, "l_returnflag")
    val pipeline = DecisionTreeClassifier(maxDepth = Some(3), shrinkDtype = false)
      .fit(BinnedRef.snapped(li, edges), "l_returnflag")
    assert(BinnedRef.sameTree(binned.tree, pipeline.tree, 1e-12),
      s"\nbinned: ${binned.tree}\npipeline: ${pipeline.tree}")
  }

  // The depth-first side of the three tests below is RefTree, the
  // test-side recursive trainer (tree.py:180-385 semantics).

  test("level-wise trainer builds the identical tree to the depth-first trainer") {
    val li = lineitemSample(liFeatures)
    // mirror the default shrinkDtype fit projection (f32 grid)
    val (rows, ys) = BinnedRef.refRows(li, liFeatures, "l_returnflag")
    val f32 = rows.map(_.map { case (f, v) => f -> v.map(_.toFloat.toDouble) })
    for (crit <- Seq(Criterion.Entropy, Criterion.Gini)) {
      val level = DecisionTreeClassifier(maxDepth = Some(3), criterion = crit)
        .fit(li, "l_returnflag")
      val depthFirst = RefTree.fit(f32, ys, liFeatures, crit, maxDepth = 3)
      assert(BinnedRef.sameTree(level.tree, depthFirst.tree),
        s"${crit.name} trees differ\nlevel: ${level.tree}\nref: ${depthFirst.tree}")
    }
  }

  test("level-wise binned (aggregated) trainer matches depth-first binned pipeline") {
    val li = lineitem(liFeatures)
    val (edges, _) = DecisionTreeClassifier.quantileBins(li, liFeatures, 16)
    val level = DecisionTreeClassifier(maxDepth = Some(3), maxBins = Some(16), shrinkDtype = false)
      .fit(li, "l_returnflag")
    val (rows, ys) = BinnedRef.refRows(BinnedRef.snapped(li, edges), liFeatures, "l_returnflag")
    val depthFirst = RefTree.fit(rows, ys, liFeatures, Criterion.Entropy, maxDepth = 3)
    assert(BinnedRef.sameTree(level.tree, depthFirst.tree),
      s"\nlevel: ${level.tree}\nref: ${depthFirst.tree}")
  }

  /** Two gaussian features with nulls at the given row periods. */
  private def nullLaden(n: Int, seed: Int, nullEvery1: Int, nullEvery2: Int) = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      val c = i % 2
      Row(
        if (i % nullEvery1 == 0) null else java.lang.Double.valueOf(c * 2.0 + rnd.nextGaussian()),
        if (i % nullEvery2 == 0) null else java.lang.Double.valueOf(3.0 - c + rnd.nextGaussian()),
        c)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("f1", DoubleType, nullable = true),
        StructField("f2", DoubleType, nullable = true),
        StructField("target", IntegerType))))
  }

  test("level-wise null routing matches depth-first on null-laden data") {
    // nulls in the split features: rows must drop out of BOTH children at
    // the level-wise id when-chain exactly as they do in RefTree's
    // recursive filter pair
    val df = nullLaden(200, 5, 7, 11)
    val level = DecisionTreeClassifier(maxDepth = Some(3), shrinkDtype = false).fit(df, "target")
    val (rows, ys) = BinnedRef.refRows(df, Seq("f1", "f2"), "target")
    val depthFirst = RefTree.fit(rows, ys, Seq("f1", "f2"), Criterion.Entropy, maxDepth = 3)
    assert(BinnedRef.sameTree(level.tree, depthFirst.tree),
      s"\nlevel: ${level.tree}\nref: ${depthFirst.tree}")
  }

  test("binned fit on null-laden data matches RefTree over the snapped values") {
    // null rows drop out of a feature's counts AND of both children, in
    // the search exactly as in the routing: f1 is null in every third row
    val df = nullLaden(400, 3, 3, 1000)
    val (edges, _) = DecisionTreeClassifier.quantileBins(df, Seq("f1", "f2"), 8)
    val binned = DecisionTreeClassifier(maxDepth = Some(3), maxBins = Some(8), shrinkDtype = false)
      .fit(df, "target")
    val (rows, ys) = BinnedRef.refRows(BinnedRef.snapped(df, edges), Seq("f1", "f2"), "target")
    val ref = RefTree.fit(rows, ys, Seq("f1", "f2"), Criterion.Entropy, maxDepth = 3)
    assert(rows.exists(_("f1").isEmpty))
    assert(BinnedRef.sameTree(binned.tree, ref.tree), s"\nbinned: ${binned.tree}\nref: ${ref.tree}")
  }

  test("snapToEdges: exact counts at edges, +inf catch-all") {
    val vals = spark.range(1, 101).select((col("id").cast("double") / 10.0).as("v"))
      .union(spark.range(1).select(lit(null).cast("double").as("v")))
    val edges = Seq(2.0, 5.0, 8.0)
    val snapped = vals.select(BinnedRef.snapToEdges(col("v"), edges).as("s"))
      .groupBy("s").count().collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Double]) -> r.getLong(1)).toMap
    assert(snapped(Some(2.0)) == 20)  // 0.1..2.0
    assert(snapped(Some(5.0)) == 30)  // 2.1..5.0
    assert(snapped(Some(8.0)) == 30)  // 5.1..8.0
    assert(snapped(Some(Double.PositiveInfinity)) == 20) // 8.1..10.0
    assert(snapped(None) == 1) // null stays null
  }

  test("binned search gives exact gain at a chosen edge") {
    val search = SplitSearch.searchLevelAggregated(df, lit(0), 1, Seq("x"), "target", Seq(0, 1),
      Criterion.Entropy, Map("x" -> Seq(2.0, 3.0)))(0)
    val exact = SplitSearch.bestSplit(df, Seq("x"), "target", Seq(0, 1), Criterion.Entropy).get
    val b = search.best.get.candidate
    // 2.0 is in the edge set, so the binned winner must equal the exact one
    assert(b.feature == exact.feature && b.threshold == exact.threshold)
    assert(math.abs(b.informationGain - exact.informationGain) < 1e-12)
    assert(math.abs(b.parentCriterion - exact.parentCriterion) < 1e-12)
  }
}

package graft.tree

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The binned fit at the reference's flagship width (190 features = 4 base
  * + 186 derived, the `fit_depth4_entropy_*_wide190` bench frame) against
  * the exact melt pipeline over the same frame with every feature snapped
  * to the fit's quantile edges: both search the identical candidate set
  * (maxBins GK edges, exact counts at each edge), so they must build the
  * same tree. shrinkDtype is off on both sides so the snapped values are
  * the edges themselves.
  */
class WideScalableFitSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("wide190 pipeline (sampled-candidate) fit matches the aggregated binned tree on sf0.01") {
    val wide = graft.tools.WideFrame.frame(
      spark, "/root/testdata/sf0.01", nDerived = 186, repartitionTo = None)
    val features = wide.columns.toSeq.filterNot(_ == "l_returnflag")
    assert(features.size == 190)
    val (edges, _) = DecisionTreeClassifier.quantileBins(wide, features, 32)
    val aggregated = DecisionTreeClassifier(maxDepth = Some(2), criterion = Criterion.Entropy,
      maxBins = Some(32), shrinkDtype = false).fit(wide, "l_returnflag")
    val pipeline = DecisionTreeClassifier(maxDepth = Some(2), criterion = Criterion.Entropy,
      shrinkDtype = false).fit(BinnedRef.snapped(wide, edges), "l_returnflag")
    // gain metadata may differ in the last ulp between the driver-side
    // and column-expression float paths
    assert(BinnedRef.sameTree(aggregated.tree, pipeline.tree, 1e-12),
      s"\naggregated: ${aggregated.tree}\npipeline: ${pipeline.tree}")
  }
}

package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Test-side model of binned mode (`maxBins`): the values a binned fit
  * searches, built from plain column expressions and independent of the
  * MultiFeatureHistogram aggregate. A binned search over a frame must
  * match the exact search over the same frame with every feature snapped
  * to its edges; a binned fit must match the exact fit (or RefTree) over
  * the snapped frame. */
object BinnedRef {

  /** Snap a value to the smallest edge >= it. Values past the last edge
    * and NaN go to +Infinity, which sorts last and so is never a
    * candidate. Null stays null: binned mode drops null rows per feature,
    * like exact mode. Counts at every edge are exact
    * (v <= e  <=>  snap(v) <= e for e in edges). */
  def snapToEdges(c: Column, edges: Seq[Double]): Column = {
    require(edges.nonEmpty, "snapToEdges needs at least one edge")
    val sorted = edges.sorted
    sorted.foldLeft(when(c.isNull, lit(null).cast(DoubleType))) {
      case (chain, e) => chain.when(c <= e, lit(e))
    }.otherwise(lit(Double.PositiveInfinity))
  }

  /** `df` with every column that has edges snapped; others unchanged. */
  def snapped(df: DataFrame, edges: Map[String, Seq[Double]]): DataFrame =
    df.select(df.columns.toSeq.map { c =>
      edges.get(c).fold(col(c))(e => snapToEdges(col(c).cast(DoubleType), e).as(c))
    }: _*)

  /** Same structure, features, thresholds and distributions; gain and
    * parent criterion within `tol` (binned gains are computed on the
    * driver, exact ones in column expressions or in RefTree). */
  def sameTree(a: TreeNode, b: TreeNode, tol: Double = 1e-9): Boolean = (a, b) match {
    case (LeafNode(x), LeafNode(y)) => x == y
    case (SplitNode(f1, t1, g1, c1, d1, l1, r1), SplitNode(f2, t2, g2, c2, d2, l2, r2)) =>
      f1 == f2 && t1 == t2 && d1 == d2 &&
        math.abs(g1 - g2) < tol && math.abs(c1 - c2) < tol &&
        sameTree(l1, l2, tol) && sameTree(r1, r2, tol)
    case _ => false
  }

  /** Collected rows in RefTree's shape: feature -> value (None = null). */
  def refRows(df: DataFrame, features: Seq[String], target: String)
      : (Seq[Map[String, Option[Double]]], Seq[Any]) = {
    val rows = df.select((features.map(f => col(f).cast(DoubleType)) :+ col(target)): _*).collect()
    (rows.toSeq.map(r => features.indices.map(i =>
      features(i) -> (if (r.isNullAt(i)) None else Some(r.getDouble(i)))).toMap),
      rows.toSeq.map(_.get(features.size)))
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession

import graft.tree.{Criterion, DecisionTreeClassifier}

/** Dev probe: where does the 190-wide fit's time go — row volume or
  * feature width/plan size? Times the binned fit and the predict pass
  * separately at (width x rowFraction) combinations, on the EXACT
  * frame the bench entry uses ([[WideFrame]]).
  *
  * Usage: sbt "runMain graft.tools.WideScalingProbe [sfDir]"
  */
object WideScalingProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(nDerived: Int, fraction: Double): Unit = {
      val wide = WideFrame.frame(spark, sfDir, nDerived,
        repartitionTo = Some(cpus), rowFraction = fraction)
      val t0 = System.nanoTime()
      val model = DecisionTreeClassifier(maxDepth = Some(4), criterion = Criterion.Entropy,
        maxBins = Some(32)).fit(wide, "l_returnflag")
      val tFit = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.tree.Predict.predictMany(model, wide)
        .write.format("noop").mode("overwrite").save()
      val tPred = (System.nanoTime() - t1) / 1e9
      println(f"[wideprobe] nDerived=$nDerived%4d fraction=$fraction%.2f fit=$tFit%.1fs predict=$tPred%.1fs")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }

    def runScalable(nDerived: Int, fraction: Double): Unit = {
      val wide = WideFrame.frame(spark, sfDir, nDerived,
        repartitionTo = Some(cpus), rowFraction = fraction)
      val t0 = System.nanoTime()
      val model = DecisionTreeClassifier(maxDepth = Some(4), criterion = Criterion.Entropy,
        maxBins = None, exactCumulativePartitions = Some(32)).fit(wide, "l_returnflag")
      val tFit = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.tree.Predict.predictMany(model, wide)
        .write.format("noop").mode("overwrite").save()
      val tPred = (System.nanoTime() - t1) / 1e9
      println(f"[wideprobe] SCALABLE nDerived=$nDerived%4d fraction=$fraction%.2f fit=$tFit%.1fs predict=$tPred%.1fs")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }

    if (args.lift(1).contains("proxy")) {
      // The r17 gate entry's shape as a dedicated receipt, plus the
      // proxy candidates that RULED OUT a cheaper in-gate line (r18):
      // 2% rows measured 50-98 s and narrower widths got SLOWER
      // (width-96 79 s, width-48 138 s) — the exact path at width is
      // PLAN/stage-bound, not row-bound, so no sample or width cut
      // buys a cheap gate proxy and the line lives here instead.
      runScalable(186, 0.1)
      runScalable(186, 0.1)
      runScalable(186, 0.02)
      runScalable(92, 0.1)
      runScalable(44, 0.1)
    } else if (args.lift(1).contains("scalable")) {
      // the exact-threshold path at width: per-feature distincts are
      // inherited from the 4 base columns (affine derivations), so the
      // fan-out multiplies the extendedprice threshold volume by ~47
      runScalable(20, 1.0)   // warm + sanity at narrow width
      runScalable(186, 0.1)  // the r17 gate entry's shape (75.8 s in-sweep)
      runScalable(186, 1.0)
    } else {
      run(20, 1.0)    // warm the session on the cheap shape
      run(186, 0.1)   // width at 10% rows: plan-bound if still slow
      run(93, 1.0)    // half width at full rows: superlinear-in-width check
      run(186, 1.0)   // the bench entry itself
    }
    spark.stop()
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import graft.tree.{DecisionTreeModel, Predict}

/** The benchmark's JVM side: one closed loop with one client over one
  * workload. An operation is `DecisionTreeClassifier.fit`, then
  * `Predict.predictMany` over the same rows written to the `noop` sink, then
  * the correctness checks; the next operation starts when the previous one
  * has finished.
  *
  * It prints one `PERFBENCH <json>` line per event on stdout: `env`,
  * `setup_done` (after input preparation and the first untimed warm-up
  * operation), one `op` per operation, one `layers` per traced operation,
  * and `done`. `perfbench/run.py` launches it and turns the
  * events into the benchmark's result line.
  *
  * With `--trace 1` every second operation runs with a [[TraceListener]]
  * registered, so one run yields both the per-layer metrics and the
  * tracing overhead.
  *
  * With `--prepare <path>` it only writes the workload's input file (see
  * [[Workloads.materialize]]) and exits.
  */
object TreeBench {

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cpus = opt("cpus").toInt
    val work = opt("work")
    Files.createDirectories(Paths.get(work))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // One fit plus predict of categorical_deep uses close to 100 generated
      // classes, the size of Spark's default codegen cache. With the default,
      // about one JVM in four keeps evicting and recompiling 40-50 classes
      // per operation (fit_s +40%), the others none, so fit_s would measure
      // which JVM it got. A larger cache measures the library's own work.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      opts.get("prepare") match {
        case Some(path) =>
          Workloads.materialize(opt("workload"), spark, opt("data"), opt("subset").toInt, path, cpus)
        case None =>
          Counters.installCodegenAppender()
          Counters.installHeapWatch()
          run(spark, cpus, work, opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
            opt("trace") == "1", opt("data"), opt("subset").toInt, opt("fingerprint"), opts.get("input"))
      }
    } finally spark.stop()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def emit(event: String, fields: (String, Any)*): Unit = {
    println("PERFBENCH " + json.writeValueAsString(Map("event" -> event) ++ fields))
    System.out.flush()
  }

  private final case class Op(index: Int, fitS: Double, predictS: Double, totalS: Double,
      model: Option[DecisionTreeModel], failures: Seq[String], checkS: Map[String, Double],
      codegenClasses: Long, codegenFallbacks: Long)

  private def run(spark: SparkSession, cpus: Int, work: String, workload: String, seed: Long,
      seconds: Double, trace: Boolean, dataDir: String, subsetMod: Int, fingerprint: String,
      input: Option[String]): Unit = {
    val sc = spark.sparkContext
    val runtime = ManagementFactory.getRuntimeMXBean
    emit("env",
      "cpus" -> cpus,
      "default_parallelism" -> sc.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx" -> runtime.getInputArguments.asScala.find(_.startsWith("-Xmx")).getOrElse("default"),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "data" -> dataDir,
      "subset_mod" -> subsetMod)

    val jvmStartMs = runtime.getStartTime
    def sinceJvmStart = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sessionReadyS = sinceJvmStart
    val wl = Workloads.build(workload, spark, dataDir, subsetMod, input, cpus)
    val checks = new Checks(wl, seed, fingerprint, work)
    val spans = new Spans(sc)
    val inputReadyS = sinceJvmStart

    def operation(index: Int): Op = {
      val cg0 = Counters.codegenClasses
      val fb0 = Counters.codegenFallbacks
      val t0 = System.nanoTime()
      try {
        val model = spans(index, "fit") { wl.classifier.fit(wl.frame, wl.target) }
        val t1 = System.nanoTime()
        spans(index, "predict") {
          Predict.predictMany(model, wl.frame).write.format("noop").mode("overwrite").save()
        }
        val t2 = System.nanoTime()
        val cg = Counters.codegenClasses - cg0
        val fb = Counters.codegenFallbacks - fb0
        val (failures, checkS) = checks(index, model, spans)
        Op(index, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (System.nanoTime() - t0) / 1e9,
          Some(model), failures, checkS, cg, fb)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] operation $index failed:")
          e.printStackTrace()
          Op(index, 0.0, 0.0, (System.nanoTime() - t0) / 1e9, None,
            Seq(s"exception: ${e.getClass.getSimpleName}: ${e.getMessage}"), Map.empty, 0L, 0L)
      }
    }

    def report(op: Op, warmup: Boolean, traced: Boolean): Unit = emit("op",
      "index" -> op.index,
      "warmup" -> warmup,
      "traced" -> traced,
      "fit_s" -> op.fitS,
      "predict_s" -> op.predictS,
      "op_s" -> op.totalS,
      "ok" -> op.failures.isEmpty,
      "failures" -> op.failures,
      "check_s" -> op.checkS,
      "fingerprint" -> op.model.map(m => Checks.fingerprint(m.tree)).getOrElse(""),
      "codegen_classes" -> op.codegenClasses,
      "codegen_fallbacks" -> op.codegenFallbacks)

    // Two untimed warm-up operations: set-up ends with the first, which pays
    // the cold start; the second lets the JIT catch up before timing starts,
    // since the first timed operations otherwise run well above the rest.
    report(operation(0), warmup = true, traced = false)
    emit("setup_done",
      "session_ready_s" -> sessionReadyS,
      "input_ready_s" -> inputReadyS,
      "warmup_done_s" -> sinceJvmStart,
      "check_sample_rows" -> checks.sampleRows,
      "target_rows" -> checks.targetRows)
    report(operation(1), warmup = true, traced = false)

    // Closed loop: the next operation starts only when one more fits in the
    // run, judged by the median operation so far; at least one runs (two
    // with tracing). With tracing, operations alternate between untraced and
    // traced, so both kinds see the same warm-up trend and their difference
    // is the overhead.
    val listener = new TraceListener
    val done = mutable.ArrayBuffer.empty[(Op, Boolean)]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def typical = done.map(_._1.totalS).sorted.apply(done.size / 2)
    Counters.watchHeap(true)
    val minimum = if (trace) 2 else 1
    while (done.size < minimum || elapsed + typical <= seconds) {
      val index = done.size + 2
      val traced = trace && index % 2 == 1
      if (traced) sc.addSparkListener(listener)
      val op =
        try operation(index)
        finally if (traced) { BusDrain.drain(sc); sc.removeSparkListener(listener) }
      report(op, warmup = false, traced)
      done += op -> traced
    }
    Counters.watchHeap(false)
    emit("heap", "peak_live_bytes" -> Counters.peakLiveBytes)

    if (trace) {
      for ((op, true) <- done; m <- op.model)
        emit("layers", "index" -> op.index, "fit_span_s" -> spans.find(op.index, "fit").get.wallS,
          "metrics" -> Layers.forOp(op.index, spans, listener, cpus,
          m.tree.numLeaves, m.categoricalMappings.values.map(_.size).sum,
          op.codegenClasses, op.codegenFallbacks))
      writeTrace(s"$work/trace.json", spans, listener)
    }
    emit("done")
  }

  /** Writes every span and every SQL execution the listener saw. */
  private def writeTrace(path: String, spans: Spans, l: TraceListener): Unit = l.synchronized {
    val doc = Map(
      "spans" -> spans.recorded.map(s => Map("op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS)),
      "executions" -> l.executions.values.map(e => Map("id" -> e.id, "root" -> e.isRoot,
        "start_ms" -> e.startMs, "end_ms" -> e.endMs, "frame" -> e.frame,
        "layer" -> Layers.layerOf(e.file, "")))
    )
    Files.writeString(Paths.get(path), json.writeValueAsString(doc))
  }
}

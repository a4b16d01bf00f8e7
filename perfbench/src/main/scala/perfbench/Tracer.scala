package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A named driver-side interval around one public call of the library. */
final case class Span(op: Int, name: String, startMs: Long, endMs: Long, wallS: Double)

/** Records spans. Each span sets the Spark local property [[Spans.Key]] to
  * `"<op>/<name>"` for its duration, so every job and stage it submits
  * carries the span's name. Spans stay in memory until the run ends. */
final class Spans(sc: SparkContext) {
  val recorded: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def apply[T](op: Int, name: String)(body: => T): T = {
    sc.setLocalProperty(Spans.Key, s"$op/$name")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      recorded += Span(op, name, startMs, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
      sc.setLocalProperty(Spans.Key, null)
    }
  }

  def find(op: Int, name: String): Option[Span] = recorded.find(s => s.op == op && s.name == name)
}

object Spans {
  val Key = "perfbench.span"
}

/** One Spark SQL execution: its interval and the first frame of the caller's
  * stack that is library or benchmark code (Spark's long call site). */
final class Execution(val id: Long, val isRoot: Boolean, val startMs: Long, val frame: String) {
  @volatile var endMs: Long = -1L
  def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1000.0

  /** Source file of [[frame]], e.g. `Split.scala`. */
  def file: String = {
    val open = frame.lastIndexOf('(')
    if (open < 0) "" else frame.substring(open + 1).takeWhile(_ != ':')
  }
}

/** Task metrics of one stage attempt, summed over its tasks. */
final class StageTasks(val span: String, val executionId: Long) {
  val runMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  var cpuNs = 0L
  var gcMs = 0L
  var peakExecMem = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
}

/** Attributes every job, stage and SQL execution to the span that submitted
  * it. Registered only for the traced part of a run. All state is guarded by
  * the listener's own lock; readers drain the listener bus first. */
final class TraceListener extends SparkListener {
  val executions: mutable.LinkedHashMap[Long, Execution] = mutable.LinkedHashMap.empty
  val jobSpans: mutable.Map[Int, String] = mutable.Map.empty
  val stages: mutable.Map[(Int, Int), StageTasks] = mutable.Map.empty

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty(Spans.Key))).getOrElse("")

  private def executionOf(p: java.util.Properties): Long =
    Option(p).flatMap(q => Option(q.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        val frame = s.details.split("\n").map(_.trim)
          .find(l => l.startsWith("graft.") || l.startsWith("perfbench.")).getOrElse("")
        executions(s.executionId) = new Execution(s.executionId,
          s.rootExecutionId.forall(_ == s.executionId), s.time, frame)
      case e: SparkListenerSQLExecutionEnd =>
        executions.get(e.executionId).foreach(_.endMs = e.time)
      case _ =>
    }
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = synchronized {
    jobSpans(job.jobId) = spanOf(job.properties)
  }

  override def onStageSubmitted(stage: SparkListenerStageSubmitted): Unit = synchronized {
    val info = stage.stageInfo
    stages((info.stageId, info.attemptNumber())) =
      new StageTasks(spanOf(stage.properties), executionOf(stage.properties))
  }

  override def onTaskEnd(task: SparkListenerTaskEnd): Unit = synchronized {
    val m = task.taskMetrics
    stages.get((task.stageId, task.stageAttemptId)).filter(_ => m != null).foreach { s =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.spillBytes += m.diskBytesSpilled
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }
}

/** Per-operation layer metrics, read from the spans and the listener after
  * the run. Layers are the library's modules, named by the source file of
  * the first library frame that started a SQL execution. */
object Layers {
  private val MiB = 1024.0 * 1024.0
  val MaxLevels = 10

  def layerOf(file: String, spanLayer: String): String = file match {
    case "Split.scala"   => "split"
    case "Trainer.scala" => "trainer"
    case "Encode.scala"  => "encode"
    case "Predict.scala" => "predict"
    case _               => spanLayer
  }

  /** Wall time of `span` not covered by any of `execs`. */
  private def selfSeconds(span: Span, execs: Seq[Execution]): Double = {
    var covered = 0L
    var reach = span.startMs
    execs.sortBy(_.startMs).foreach { e =>
      val s = math.max(e.startMs, reach)
      val end = math.min(if (e.endMs < 0) span.endMs else e.endMs, span.endMs)
      if (end > s) { covered += end - s; reach = end }
    }
    math.max(0.0, span.wallS - covered / 1000.0)
  }

  def forOp(op: Int, spans: Spans, l: TraceListener, cpus: Int,
      leaves: Int, categories: Int, codegenClasses: Long, codegenFallbacks: Long): Map[String, Double] =
    l.synchronized {
      val fit = spans.find(op, "fit").get
      val predict = spans.find(op, "predict").get
      val encodeApplyS = spans.find(op, "encode.apply").map(_.wallS).getOrElse(0.0)
      def within(s: Span) = l.executions.values.filter(e =>
        e.isRoot && e.startMs >= s.startMs && e.startMs <= s.endMs).toSeq.sortBy(_.startMs)
      val fitExecs = within(fit)
      val predictExecs = within(predict)
      def sum(es: Seq[Execution]) = es.map(_.seconds).sum
      val byLayer = fitExecs.groupBy(e => layerOf(e.file, "trainer"))
      val splitExecs = byLayer.getOrElse("split", Nil).sortBy(_.startMs)
      val splitIds = splitExecs.map(_.id).toSet

      val timed = Set(s"$op/fit", s"$op/predict")
      val opStages = l.stages.values.filter(s => timed(s.span)).toSeq
      val splitStages = opStages.filter(s => splitIds(s.executionId))
      val runS = opStages.map(_.runMs.sum).sum / 1000.0
      val splitRunS = splitStages.map(_.runMs.sum).sum / 1000.0
      val skew = if (splitStages.isEmpty) 0.0 else {
        val worst = splitStages.maxBy(_.runMs.sum).runMs.sorted
        worst.last.toDouble / math.max(1L, worst(worst.size / 2))
      }
      val splitS = sum(splitExecs)
      val prepS = sum(byLayer.getOrElse("trainer", Nil))
      val encodeS = sum(byLayer.getOrElse("encode", Nil))
      val driverS = selfSeconds(fit, fitExecs)

      val levels = (0 until MaxLevels).map(d =>
        s"split.level${d}_s" -> splitExecs.lift(d).map(_.seconds).getOrElse(0.0))
      Map(
        "split.level_s" -> splitS,
        "split.shuffle_write_mb" -> splitStages.map(_.shuffleWriteBytes).sum / MiB,
        "split.shuffle_records" -> splitStages.map(_.shuffleWriteRecords).sum.toDouble,
        "split.core_util" -> (if (splitS > 0) splitRunS / (splitS * cpus) else 0.0),
        "split.task_skew" -> skew,
        "trainer.prep_s" -> prepS,
        "trainer.driver_s" -> driverS,
        "trainer.sql_executions" -> fitExecs.size.toDouble,
        "encode.fit_mappings_s" -> encodeS,
        "encode.apply_s" -> encodeApplyS,
        "encode.categories" -> categories.toDouble,
        "predict.score_s" -> sum(predictExecs),
        "predict.driver_s" -> selfSeconds(predict, predictExecs),
        "predict.tree_leaves" -> leaves.toDouble,
        "spark.jobs" -> l.jobSpans.values.count(timed).toDouble,
        "spark.stages" -> opStages.size.toDouble,
        "spark.tasks" -> opStages.map(_.runMs.size).sum.toDouble,
        "spark.executor_run_s" -> runS,
        "spark.executor_cpu_s" -> opStages.map(_.cpuNs).sum / 1e9,
        "spark.core_util" -> runS / ((fit.wallS + predict.wallS) * cpus),
        "spark.gc_s" -> opStages.map(_.gcMs).sum / 1000.0,
        "spark.peak_exec_mem_mb" -> opStages.map(_.peakExecMem).foldLeft(0L)(math.max) / MiB,
        "spark.spill_mb" -> opStages.map(_.spillBytes).sum / MiB,
        "spark.shuffle_write_mb" -> opStages.map(_.shuffleWriteBytes).sum / MiB,
        "spark.shuffle_read_mb" -> opStages.map(_.shuffleReadBytes).sum / MiB,
        "spark.codegen_classes" -> codegenClasses.toDouble,
        "spark.codegen_fallbacks" -> codegenFallbacks.toDouble
      ) ++ levels
    }
}

/** JVM-wide counters read as deltas around each operation. */
object Counters {
  private val codegenErrors = new AtomicLong(0L)
  private val livePeak = new AtomicLong(0L)
  @volatile private var watchingHeap = false

  /** Counts ERROR events of Spark's `CodeGenerator` logger: each is a
    * generated class that failed to compile, after which Spark falls back
    * to the interpreted plan. */
  def installCodegenAppender(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("perfbench-codegen-errors", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) codegenErrors.incrementAndGet()
    }
    appender.start()
    ctx.getLogger("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
      .asInstanceOf[Logger].addAppender(appender)
  }

  def codegenFallbacks: Long = codegenErrors.get()

  /** Generated classes compiled so far (Spark's `CodegenMetrics`). */
  def codegenClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount

  /** Tracks the heap in use right after each collection while watching. */
  def installHeapWatch(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n, _) =>
      if (watchingHeap && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        livePeak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _                      =>
    }
  }

  def watchHeap(on: Boolean): Unit = watchingHeap = on

  /** Highest post-collection heap seen while watching, in bytes. */
  def peakLiveBytes: Long = livePeak.get()
}

package perfbench

import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

import graft.tree.{DecisionTreeModel, LeafNode, ModelIO, Predict, SplitNode, TargetEncoder, TreeNode}

/** Correctness checks run on every operation's model. Any failed check
  * fails the operation.
  *
  * The check sample is chosen by the run's seed: a seeded sample of the
  * workload's rows with no null feature, numbered by `__row` and held on
  * the driver as a local relation, so the checks never rescan the input.
  */
final class Checks(wl: Workload, seed: Long, expectedFingerprint: String, workDir: String) {
  private val spark = wl.frame.sparkSession

  /** Rows whose target is not null: what the root distribution must sum to. */
  val targetRows: Long = wl.frame.where(col(wl.target).isNotNull).count()

  private val sampled: Array[Row] = {
    val fraction = math.min(1.0, Checks.SampleRows * 1.5 / math.max(1L, targetRows))
    wl.frame.na.drop(wl.features).sample(withReplacement = false, fraction, seed).take(Checks.SampleRows)
  }
  val sampleRows: Int = sampled.length

  val sample: DataFrame = spark.createDataFrame(
    sampled.toSeq.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }.asJava,
    wl.frame.schema.add("__row", LongType, nullable = false))

  /** Runs every check; returns one message per failed check and each
    * check's wall time. */
  def apply(op: Int, model: DecisionTreeModel, spans: Spans): (Seq[String], Map[String, Double]) = {
    val failures = mutable.ArrayBuffer.empty[String]
    val seconds = mutable.LinkedHashMap.empty[String, Double]
    def check(name: String)(body: => Option[String]): Unit = {
      val t0 = System.nanoTime()
      try body.foreach(m => failures += s"$name: $m")
      catch { case e: Exception => failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      seconds(name) = (System.nanoTime() - t0) / 1e9
    }

    check("fingerprint") {
      val fp = Checks.fingerprint(model.tree)
      if (fp == expectedFingerprint) None else Some(s"$fp, recorded $expectedFingerprint")
    }

    check("predict_row") {
      val encoded = spans(op, "encode.apply") {
        TargetEncoder.applyMappings(sample, model.categoricalMappings).collect()
      }
      val predicted = Predict.predictMany(model, sample).select("__row", "prediction").collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
      val mismatched = encoded.count { r =>
        val features = wl.features.map(f => f -> r.get(r.fieldIndex(f))).toMap
        Predict.predictRow(model.tree, features) != predicted(r.getAs[Long]("__row"))
      }
      if (sampleRows < math.min(Checks.SampleRows.toLong, targetRows)) Some(s"sample has only $sampleRows rows")
      else if (mismatched > 0) Some(s"$mismatched of ${encoded.length} rows disagree")
      else None
    }

    check("model_roundtrip") {
      val path = s"$workDir/model.json"
      val loaded = spans(op, "model.roundtrip") {
        ModelIO.save(model, path)
        ModelIO.load(path)
      }
      if (loaded == model) None else Some("loaded model differs from the saved one")
    }

    check("root_distribution") {
      model.tree match {
        case s: SplitNode if s.targetDistribution.sum == targetRows => None
        case s: SplitNode => Some(s"root counts ${s.targetDistribution.sum} rows, expected $targetRows")
        case _: LeafNode  => Some("root is a leaf")
      }
    }
    (failures.toSeq, seconds.toMap)
  }
}

object Checks {
  val SampleRows = 1000

  /** Structure of the tree in pre-order: split feature and threshold, leaf
    * label. Gains and counts are left out. */
  def fingerprint(tree: TreeNode): String = {
    val sb = new StringBuilder
    def walk(n: TreeNode): Unit = n match {
      case s: SplitNode =>
        sb.append("S|").append(s.feature).append('|').append(java.lang.Double.toString(s.threshold)).append(';')
        walk(s.left); walk(s.right)
      case l: LeafNode => sb.append("L|").append(String.valueOf(l.value)).append(';')
    }
    walk(tree)
    MessageDigest.getInstance("SHA-256").digest(sb.toString.getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.index.GraftConf
import graft.index.rules.RuleTimer

/** One timed operation of the closed loop. `kind` is "read", "write" or
  * "maint"; `secs` is its wall time and `cpuSecs` the CPU time the whole
  * JVM spent meanwhile; `traced` tells whether it ran with tracing on. */
final case class Op(id: Int, kind: String, name: String, secs: Double,
    cpuSecs: Double, ok: Boolean, traced: Boolean)

/** A span around one call into a layer: name, start, end, the span that
  * caused it and the op it belongs to. */
final case class Span(id: Int, layer: String, name: String, start: Long,
    end: Long, parent: Int, op: Int)

/** Per-read facts taken from the executed plan (traced ops only). */
final case class ReadFacts(op: Int, planS: Double, execS: Double,
    indexHit: Boolean, scanFiles: Long, rows: Long,
    rules: Map[String, Long])

/** Per-stage facts from the listener, keyed to the op that ran it. */
final class StageFacts(val op: Int) {
  var submitted = 0L; var completed = 0L; var tasks = 0
  var cpuNs = 0L; var schedDelayMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var fetchWaitMs = 0L
  var inputBytes = 0L
  val taskMs = ArrayBuffer.empty[Long]
}

/** Collects op timings, correctness outcomes and — when tracing — spans,
  * plan facts, rule-timer deltas and listener counters. Everything stays
  * in memory until the run ends. One client thread drives it. */
final class Recorder(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val reads = ArrayBuffer.empty[ReadFacts]
  /** (action.kind, seconds) of every index action taken in setup. */
  val setupOps = ArrayBuffer.empty[(String, Double)]
  var mismatches = 0
  val notes = ArrayBuffer.empty[String]
  private var tracing = false
  /** Client-thread nanos spent on tracing's own bookkeeping. */
  var traceNs = 0L
  private var stack: List[Int] = Nil
  private var currentOp = -1
  private val stages = mutable.Map.empty[Int, StageFacts]
  private val OpProp = "perfbench.op"

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
      op.foreach { o =>
        stages.synchronized {
          stages.getOrElseUpdate(e.stageInfo.stageId, new StageFacts(o.toInt))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.synchronized {
        stages.get(e.stageInfo.stageId).foreach { s =>
          s.submitted = e.stageInfo.submissionTime.getOrElse(0L)
          s.completed = e.stageInfo.completionTime.getOrElse(0L)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.synchronized {
        stages.get(e.stageId).foreach { s =>
          val m = e.taskMetrics
          s.tasks += 1
          s.taskMs += e.taskInfo.duration
          if (m != null) {
            s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
            s.schedDelayMs += math.max(0L, e.taskInfo.duration -
              m.executorRunTime - m.executorDeserializeTime -
              m.resultSerializationTime - e.taskInfo.gettingResultTime)
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }

  def isTracing: Boolean = tracing

  /** Turn tracing on from here on: spans, plan facts, rule deltas and the
    * listener. */
  def startTracing(): Unit = if (!tracing) {
    tracing = true
    spark.sparkContext.addSparkListener(listener)
  }

  def stopTracing(): Unit = if (tracing) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    tracing = false
  }

  /** Record a span around `f` when tracing; a plain call otherwise. */
  def span[A](layer: String, name: String)(f: => A): A =
    if (!tracing) f
    else {
      val t0 = System.nanoTime()
      val id = spans.size
      spans += Span(id, layer, name, 0L, 0L, stack.headOption.getOrElse(-1), currentOp)
      stack = id :: stack
      val start = System.nanoTime()
      traceNs += start - t0
      try f
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        spans(id) = spans(id).copy(start = start, end = end)
        traceNs += System.nanoTime() - end
      }
    }

  /** Time one op of the closed loop. A throwing op counts as failed and
    * the loop goes on. Returns the op's value when it succeeded. */
  def op[A](kind: String, name: String)(f: => A): Option[A] = {
    val id = ops.size
    currentOp = id
    if (tracing) spark.sparkContext.setLocalProperty(OpProp, id.toString)
    val c0 = Recorder.processCpuNs()
    val t0 = System.nanoTime()
    val r =
      try Some(span("bench", s"op.$name")(f))
      catch {
        case e: Throwable =>
          notes += s"op $name failed: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(300)
          None
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpuSecs = (Recorder.processCpuNs() - c0) / 1e9
    spark.sparkContext.setLocalProperty(OpProp, null)
    currentOp = -1
    ops += Op(id, kind, name, secs, cpuSecs, r.isDefined, tracing)
    r
  }

  /** A read: build the DataFrame (the `queries` layer), force planning
    * (the rules), then collect (execution). */
  def read(name: String)(build: => DataFrame): Option[Array[Row]] =
    op("read", name)(readBody(build))

  /** The body of a read, for ops that read inside a larger op. */
  def readBody(build: => DataFrame): Array[Row] = {
    val tb = System.nanoTime()
    val before = if (tracing) RuleTimer.snapshot() else Map.empty[String, Long]
    if (tracing) traceNs += System.nanoTime() - tb
    val df = span("queries", "build")(build)
    val t0 = System.nanoTime()
    val plan = span("rules", "plan")(df.queryExecution.executedPlan)
    val t1 = System.nanoTime()
    val rows = span("execution", "collect")(df.collect())
    val t2 = System.nanoTime()
    if (tracing) {
      val ta = System.nanoTime()
      val after = RuleTimer.snapshot()
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
      val root = GraftConf.systemPath(spark)
      val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      } ++ collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      val hit = scans.exists(_.relation.location.rootPaths
        .exists(p => p.toUri.getPath.startsWith(new java.io.File(root).getPath)))
      val files = scans.distinct.map(s =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      reads += ReadFacts(currentOp, (t1 - t0) / 1e9, (t2 - t1) / 1e9, hit,
        files, rows.length.toLong, delta)
      traceNs += System.nanoTime() - ta
    }
    rows
  }

  /** Untimed correctness check: `actual` must equal `expected` as a
    * multiset of rows (doubles to a relative 1e-9). */
  def check(what: String, actual: Array[Row], expected: Array[Row]): Boolean = {
    val ok = Check.sameRows(actual, expected)
    if (!ok) {
      mismatches += 1
      notes += s"mismatch in $what: ${actual.length} rows vs " +
        s"${expected.length} expected; first: " +
        actual.take(2).mkString(",") + " vs " + expected.take(2).mkString(",")
    }
    ok
  }

  def fail(what: String): Unit = { mismatches += 1; notes += what }

  /** Stage facts of the traced ops, with every event delivered. */
  def stageFacts(): Seq[StageFacts] = {
    if (tracing) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    stages.synchronized(stages.values.toList)
  }
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM so far, in nanoseconds. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

object Check {
  private def norm(v: Any): Any = v match {
    case null => null
    case f: Float => f.toDouble
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(norm)
    case a: Array[_] => a.toSeq.map(norm)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (norm(k), norm(x)) }.sortBy(_._1.toString)
    case s: scala.collection.Seq[_] => s.map(norm)
    case x => x
  }

  /** Sort key: doubles rounded so that last-bit differences sort alike. */
  private def key(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.6e"
    case s: Seq[_] => s.map(key).mkString("[", ",", "]")
    case (a, b) => key(a) + "=" + key(b)
    case x => x.toString
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Seq[_], y: Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => close(p, q) }
    case ((k1, v1), (k2, v2)) => close(k1, k2) && close(v1, v2)
    case _ => a == b
  }

  def sameRows(actual: Array[Row], expected: Array[Row]): Boolean = {
    def prep(rows: Array[Row]) =
      rows.toSeq.map(r => norm(r).asInstanceOf[Seq[Any]]).sortBy(key)
    actual.length == expected.length &&
      prep(actual).zip(prep(expected)).forall { case (a, b) => close(a, b) }
  }
}

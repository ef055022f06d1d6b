package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1`
  * plus `--src-dir`, `--run-dir`, `--cpus` and `--trace-out` from the
  * launcher. Prints human-readable lines, then the result as one JSON
  * object on the last line. */
object Main {
  /** End-to-end metrics, printed on every workload, in this order. */
  val EndToEnd = Seq("setup_s" -> "s", "read_p50_s" -> "s",
    "ops_per_s" -> "1/s", "index_bytes_per_source_byte" -> "ratio")

  /** Per-layer metrics every workload measures in a traced run. */
  val PerLayer = Seq("plan_s" -> "s", "exec_s" -> "s",
    "rule.ApplyGraft_s" -> "s", "rule.ApplyGraft.candidates_s" -> "s",
    "rule.ApplyGraft.optimize_s" -> "s", "rule.HoistSemiGate_s" -> "s",
    "rule.NormalizeNullSafeJoinKeys_s" -> "s", "rule.AlignAggExchange_s" -> "s",
    "rule.SBO_s" -> "s", "index_hit_ratio" -> "ratio",
    "stages" -> "count", "tasks" -> "count", "stage_gap_s" -> "s",
    "scheduler_delay_s" -> "s", "task_cpu_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "task_skew" -> "ratio", "input_bytes" -> "bytes",
    "scan_files_read" -> "count", "input_bytes_per_row_returned" -> "bytes",
    "maint.create_s" -> "s", "self.bench_s" -> "s", "self.queries_s" -> "s",
    "self.rules_s" -> "s", "self.execution_s" -> "s",
    "gc_s" -> "s", "tracing_overhead" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, srcDir: String, runDir: String, cpus: Int,
      traceOut: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("src-dir"), need("run-dir"),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.getOrElse("trace-out", s"${need("run-dir")}/trace.jsonl"))
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.names.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workloads.names.mkString(", ")})")
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[${a.cpus}]", a.cpus)
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, a, sessionS) finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args, sessionS: Double): Unit = {
    val rec = new Recorder(spark)
    val w = Workloads(a.workload, spark, a.seed, a.srcDir, rec)
    val tGen = System.nanoTime()
    w.generate(s"${a.runDir}/gen")
    val genS = (System.nanoTime() - tGen) / 1e9
    val tBuild = System.nanoTime()
    val indexBuildS = w.build()
    val buildS = (System.nanoTime() - tBuild) / 1e9
    val tPrep = System.nanoTime()
    w.prepare()
    println(f"session_s=$sessionS%.2f generate_s=$genS%.2f build_s=$buildS%.2f " +
      f"index_build_s=$indexBuildS%.2f prepare_s=${(System.nanoTime() - tPrep) / 1e9}%.2f")
    // context only, after set-up so that set-up pays the first Spark
    // job's warm-up as it would without the probe
    println(s"context nproc=${a.cpus} loadavg=${graft.BenchGuard.loadAvg()} " +
      f"probe_s=${graft.BenchGuard.probeSeconds(spark)}%.4f")
    val tTimed = System.nanoTime()

    // the timed phase: whole steps until the ops' time reaches the budget
    if (a.trace) rec.startTracing()
    val gc0 = gcMillis()
    var n = 0
    while (rec.ops.map(_.secs).sum < a.seconds) {
      w.step(n); n += 1
    }
    val gcMs = gcMillis() - gc0
    val timedOps = rec.ops.toVector
    println(f"timed_wall_s=${(System.nanoTime() - tTimed) / 1e9}%.2f")
    val stageFacts = if (a.trace) rec.stageFacts() else Nil
    rec.stopTracing()

    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val tFinish = System.nanoTime()
    w.finish()
    println(f"finish_s=${(System.nanoTime() - tFinish) / 1e9}%.2f")

    val okOps = timedOps.filter(_.ok)
    val readS = okOps.filter(_.kind == "read").map(_.secs)
    val live = w.liveIndexes
    val indexBytes = live.flatMap(_.content.files).map(_.size).sum.toDouble
    val sourceBytes = live.flatMap(_.sourceFiles).map(f => f.path -> f.size).distinct
      .map(_._2).sum.toDouble
    val readCpu = okOps.filter(_.kind == "read").map(_.cpuSecs)
    println(f"cpu read_p50_s=${Stats.median(readCpu)}%.6f " +
      f"per_op_s=${okOps.map(_.cpuSecs).sum / math.max(1, okOps.size)}%.6f")
    val e2e = Map(
      "setup_s" -> (sessionS + genS + buildS),
      "read_p50_s" -> Stats.median(readS),
      "ops_per_s" -> okOps.size / timedOps.map(_.secs).sum,
      "index_bytes_per_source_byte" -> indexBytes / sourceBytes)

    val attempted = timedOps.size
    val failed = timedOps.count(!_.ok) + rec.mismatches
    println(f"workload=${a.workload} seed=${a.seed} steps=$n ops=$attempted " +
      f"reads=${readS.size} failed=$failed")
    timedOps.foreach(o => println(f"op ${o.kind}%-5s ${o.name}%-32s ${o.secs}%.3f s"))
    rec.notes.take(20).foreach(s => println(s"note: $s"))
    EndToEnd.foreach { case (k, u) => println(f"e2e $k%-30s ${e2e(k)}%.6f $u") }
    if (readS.size >= 100)
      println(f"e2e read_p90_s                     ${Stats.quantile(readS, 0.9)}%.6f s (p90 of ${readS.size} reads)")
    else println(s"e2e read_p90_s                     n/a (${readS.size} reads < 100)")
    Seq("refresh" -> "maint", "optimize" -> "maint").foreach { case (p, k) =>
      val xs = okOps.filter(o => o.kind == k && o.name.startsWith(p)).map(_.secs)
      if (xs.nonEmpty) println(f"e2e ${p + "_p50_s"}%-30s ${Stats.median(xs)}%.6f s (${xs.size} ops)")
    }
    val dml = okOps.filter(o => o.kind == "write" && !o.name.startsWith("compact")).map(_.secs)
    if (dml.nonEmpty) {
      println(f"e2e dml_p50_s                      ${Stats.median(dml)}%.6f s (${dml.size} ops)")
      println(f"e2e dml_p90_s                      ${Stats.quantile(dml, 0.9)}%.6f s (p90 of ${dml.size} ops)")
    }
    println(f"e2e index_build_s                  $indexBuildS%.6f s")
    println(f"e2e heap_live_mb                   $heapMb%.6f MB")
    w.extras.foreach { case (k, v, u) => println(f"e2e $k%-30s $v%.6f $u") }
    println(f"e2e failed_share                   ${failed.toDouble / math.max(1, attempted)}%.6f ratio")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      else {
        val layer = Layers.compute(rec, timedOps, stageFacts, gcMs) ++
          w.layerExtras.map { case (k, v, u) => k -> (v, u) }
        layer.toSeq.sortBy(_._1).foreach { case (k, (v, u)) =>
          println(f"layer $k%-48s $v%.6f $u") }
        Layers.writeTrace(a.traceOut, rec)
        PerLayer.map { case (k, u) => (k, layer.get(k).map(_._1).getOrElse(Double.NaN), u) }
      }
    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN)
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Per-layer numbers of a traced run, from the recorder's spans, plan
  * facts and listener counters. Counts, bytes and busy times are per
  * traced op; plan and execution times are medians over traced reads. */
object Layers {
  def compute(rec: Recorder, ops: Seq[Op], stages: Seq[StageFacts],
      gcMillis: Long): Map[String, (Double, String)] = {
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val reads = rec.reads.toVector
    val nReads = math.max(1, reads.size).toDouble
    val out = Map.newBuilder[String, (Double, String)]
    def put(k: String, v: Double, u: String): Unit = out += k -> (v, u)

    put("plan_s", Stats.median(reads.map(_.planS)), "s")
    put("exec_s", Stats.median(reads.map(_.execS)), "s")
    val ruleNs = reads.flatMap(_.rules).groupMapReduce {
      case (k, _) => if (k.startsWith("SBO.")) "SBO" else k
    }(_._2)(_ + _)
    Seq("ApplyGraft", "ApplyGraft.candidates", "ApplyGraft.optimize",
      "HoistSemiGate", "NormalizeNullSafeJoinKeys", "AlignAggExchange", "SBO")
      .foreach(r => put(s"rule.${r}_s", ruleNs.getOrElse(r, 0L) / 1e9 / nReads, "s"))
    put("index_hit_ratio", reads.count(_.indexHit) / nReads, "ratio")
    val nameOf = ops.map(o => o.id -> o.name).toMap
    reads.groupBy(r => nameOf.getOrElse(r.op, "other")).foreach { case (name, rs) =>
      put(s"index_hit.$name", rs.count(_.indexHit).toDouble / rs.size, "ratio")
    }
    put("scan_files_read", reads.map(_.scanFiles).sum / nReads, "count")

    // stage facts, grouped by the op that ran them
    val byOp = stages.groupBy(_.op)
    put("stages", stages.size / n, "count")
    put("tasks", stages.map(_.tasks).sum / n, "count")
    put("task_cpu_s", stages.map(_.cpuNs).sum / 1e9 / n, "s")
    put("scheduler_delay_s", stages.map(_.schedDelayMs).sum / 1e3 / n, "s")
    put("shuffle_write_bytes", stages.map(_.shuffleWrite).sum / n, "bytes")
    put("shuffle_read_bytes", stages.map(_.shuffleRead).sum / n, "bytes")
    put("shuffle_fetch_wait_s", stages.map(_.fetchWaitMs).sum / 1e3 / n, "s")
    put("input_bytes", stages.map(_.inputBytes).sum / n, "bytes")
    val readIds = reads.map(_.op).toSet
    val readInput = stages.filter(s => readIds(s.op)).map(_.inputBytes).sum
    put("input_bytes_per_row_returned",
      readInput / math.max(1L, reads.map(_.rows).sum).toDouble, "bytes")
    // idle time between one stage's end and the next stage's start
    val gaps = byOp.values.map { ss =>
      val sorted = ss.filter(_.completed > 0).sortBy(_.submitted)
      var end = Long.MinValue; var gap = 0L
      sorted.foreach { s =>
        if (end != Long.MinValue && s.submitted > end) gap += s.submitted - end
        end = math.max(end, s.completed)
      }
      gap
    }
    put("stage_gap_s", gaps.sum / 1e3 / n, "s")
    // longest / median task of each op's slowest stage
    val skews = byOp.values.flatMap { ss =>
      val slow = ss.maxBy(s => s.completed - s.submitted)
      if (slow.taskMs.isEmpty) None
      else Some(slow.taskMs.max / math.max(1.0, Stats.median(slow.taskMs.map(_.toDouble))))
    }
    put("task_skew", Stats.median(skews), "ratio")

    // self time per layer: a span's duration minus what its children cover
    val spans = rec.spans.toVector
    val childNs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(s => s.end - s.start)(_ + _)
    spans.groupBy(_.layer).foreach { case (layer, ss) =>
      val self = ss.map(s => (s.end - s.start) - childNs.getOrElse(s.id, 0L)).sum
      put(s"self.${layer}_s", self / 1e9 / n, "s")
    }
    Seq("bench", "queries", "rules", "execution").foreach { l =>
      if (!spans.exists(_.layer == l)) put(s"self.${l}_s", 0.0, "s")
    }

    // per-op and per-action medians
    traced.filter(_.ok).groupBy(_.name).foreach { case (name, os) =>
      put(s"op.${name}_s", Stats.median(os.map(_.secs)), "s")
    }
    rec.setupOps.groupBy(_._1).foreach { case (k, xs) =>
      put(s"maint.${k}_s", Stats.median(xs.map(_._2)), "s")
    }
    put("maint.create_s", rec.setupOps.map(_._2).sum / math.max(1,
      rec.setupOps.size), "s")
    traced.filter(o => o.ok && o.kind == "maint").groupBy(_.name).foreach {
      case (name, os) => put(s"maint.${name}_s", Stats.median(os.map(_.secs)), "s")
    }
    Seq("ann" -> "ann.search_s", "minhash" -> "minhash.near_duplicates_s",
      "curate_batch" -> "minhash.curate_batch_s").foreach { case (name, k) =>
      val xs = spans.filter(s => s.layer == "search" && s.name == name)
      if (xs.nonEmpty) put(k, Stats.median(xs.map(s => (s.end - s.start) / 1e9)), "s")
    }

    put("gc_s", gcMillis / 1e3 / n, "s")
    // traced op time over the same time less tracing's own client-thread
    // bookkeeping (the listener runs on Spark's bus thread)
    val opNs = traced.map(_.secs).sum * 1e9
    put("tracing_overhead", opNs / math.max(1.0, opNs - rec.traceNs), "ratio")
    out.result()
  }

  /** Every span, as JSON lines of (id, layer, name, start, end, parent, op). */
  def writeTrace(path: String, rec: Recorder): Unit = {
    val sb = new StringBuilder
    rec.spans.foreach { s =>
      sb.append(s"""{"id": ${s.id}, "layer": "${s.layer}", "name": "${s.name}", """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "parent": ${s.parent}, "op": ${s.op}}""")
      sb.append('\n')
    }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

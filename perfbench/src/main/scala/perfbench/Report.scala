package perfbench

import java.nio.file.{Files, Path}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }

  /** The op-latency tail: p90 over all (op, pass) samples. Returns the value
    * and how many samples lie beyond it; below 100 samples that is fewer than
    * ten, but the samples are repeats of one fixed op set, so the level stays
    * comparable across runs whatever their pass count. */
  def p90(xs: Seq[Double]): (Double, Int) = {
    val v = quantile(xs, 0.9)
    (v, xs.count(_ > v))
  }

  /** Total length of the union of [start, end] intervals clipped to [lo, hi]. */
  def unionLength(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered, reach = 0L
    reach = lo
    spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }
}

/** Per-layer metrics from the traced samples: per-op means of the counters,
  * named by the module whose cost they show. */
object Layers {
  def metrics(traced: Seq[Main.Sample], cores: Int): Seq[(String, Double, String)] = {
    val cs = traced.flatMap(_.counters)
    val n = math.max(traced.size, 1).toDouble
    def per(f: OpCounters => Long, scale: Double = 1.0) = cs.map(f).sum * scale / n
    val mb = 1e-6
    val wall = traced.map(_.wallS).sum
    val driverOnly = traced.map { s =>
      val jobs = s.counters.toSeq.flatMap(_.jobSpans.map(j => (j._2, j._3)))
      s.wallS - Stats.unionLength(jobs, s.startMs, s.endMs) / 1e3
    }.sum / n
    // Driver planning: DataFrame construction outside any job, plus the
    // action's analysis, optimization and physical planning phases.
    val planS = traced.map { s =>
      val buildEnd = s.startMs + (s.buildS * 1000).toLong
      val jobs = s.counters.toSeq.flatMap(_.jobSpans.map(j => (j._2, j._3)))
      s.buildS - Stats.unionLength(jobs, s.startMs, buildEnd) / 1e3
    }.sum + cs.map(c => c.analysisMs + c.optimizationMs + c.planningMs).sum / 1e3
    Seq(
      ("trace.op_wall_s", wall / n, "s"),
      ("tables.input_mb", per(_.inputB, mb), "MB"),
      ("tables.input_rows", per(_.inputRows), "count"),
      ("tables.scan_s", per(_.scanMs, 1e-3), "s"),
      ("plan.build_s", traced.map(_.buildS).sum / n, "s"),
      ("plan.analysis_s", per(_.analysisMs, 1e-3), "s"),
      ("plan.optimization_s", per(_.optimizationMs, 1e-3), "s"),
      ("plan.planning_s", per(_.planningMs, 1e-3), "s"),
      ("plan.share", if (wall > 0) planS / wall else 0.0, "ratio"),
      ("plan.executions", per(_.executions), "count"),
      ("sched.jobs", per(_.jobs), "count"),
      ("sched.stages", per(_.stages), "count"),
      ("sched.tasks", per(_.tasks), "count"),
      ("sched.driver_only_s", driverOnly, "s"),
      ("exec.task_s", per(_.taskMs, 1e-3), "s"),
      ("exec.cpu_s", per(_.cpuNs, 1e-9), "s"),
      ("exec.gc_s", per(_.gcMs, 1e-3), "s"),
      ("exec.failed_tasks", per(_.failedTasks), "count"),
      ("exec.slot_util", if (wall > 0) cs.map(_.taskMs).sum / 1e3 / (wall * cores) else 0.0, "ratio"),
      ("shuffle.write_mb", per(_.shuffleWriteB, mb), "MB"),
      ("shuffle.read_mb", per(_.shuffleReadB, mb), "MB"),
      ("shuffle.fetch_wait_s", per(_.fetchWaitMs, 1e-3), "s"),
      ("shuffle.spill_mb", per(_.spillB, mb), "MB"),
      ("sink.write_mb", per(_.outputB, mb), "MB"),
      ("sink.rows_written", per(_.outputRows), "count"),
      ("sink.call_s", traced.map(_.sinkS).sum / n, "s"),
      ("stream.batches", per(_.batches), "count"),
      ("stream.add_batch_s", per(_.addBatchMs, 1e-3), "s"),
      ("stream.wal_commit_s", per(_.walCommitMs, 1e-3), "s"),
      ("stream.state_rows", per(_.stateRows), "count"),
      ("stream.state_mb", per(_.stateB, mb), "MB"))
  }
}

/** The traced run's spans, one JSON object per line: run → pass → op →
  * {build, action}, then the op's Spark jobs and streaming micro-batches.
  * Times are epoch milliseconds. */
object Spans {
  def write(path: Path, a: Main.Args, samples: Seq[Main.Sample]): Unit = {
    val lines = Seq.newBuilder[String]
    def span(kind: String, id: String, parent: String, start: Long, end: Long,
        extra: (String, String)*): Unit =
      lines += Json.obj(Seq("kind" -> Json.str(kind), "id" -> Json.str(id),
        "parent" -> Json.str(parent), "workload" -> Json.str(a.workload),
        "seed" -> a.seed.toString, "start_ms" -> start.toString,
        "end_ms" -> end.toString) ++ extra: _*)
    val traced = samples.filter(_.traced)
    if (traced.nonEmpty)
      span("run", "run", "", traced.map(_.startMs).min, traced.map(_.endMs).max)
    traced.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (p, ss) =>
      span("pass", s"pass-$p", "run", ss.map(_.startMs).min, ss.map(_.endMs).max)
      ss.foreach { s =>
        span("op", s.id, s"pass-$p", s.startMs, s.endMs, "op" -> Json.str(s.op),
          "ok" -> s.failure.isEmpty.toString)
        val buildEnd = s.startMs + (s.buildS * 1000).toLong
        span("build", s"${s.id}/build", s.id, s.startMs, buildEnd)
        span("action", s"${s.id}/action", s.id, buildEnd, s.endMs)
        s.counters.foreach { c =>
          c.jobSpans.foreach { case (j, st, en) => span("job", s"job-$j", s.id, st, en) }
          c.batchSpans.zipWithIndex.foreach { case ((b, st, en), i) =>
            span("batch", s"${s.id}/batch-$i", s.id, st, en, "batch_id" -> b.toString)
          }
        }
      }
    }
    Files.writeString(path, lines.result().mkString("", "\n", "\n"))
  }
}

/** Just enough JSON for the run's own records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  /** Parses a flat JSON object of string values. */
  def parseFlat(text: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    node.properties().iterator().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }
}

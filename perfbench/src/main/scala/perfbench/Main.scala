package perfbench

import graft.{Caches, GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: one process, one closed-loop client.
  *
  * Set-up (JVM start, `GraftSession.local`, untimed warm-up passes) is
  * followed by timed passes until `--seconds` of measuring have passed. A
  * pass runs every op of the workload once, in an order drawn from `--seed`.
  * Every op's result is checked: query ops against pinned checksums,
  * replay days against the generator's own model. With `--trace 1` every
  * second pass runs with listeners attached and the run reports per-layer
  * counters instead of end-to-end metrics.
  *
  * Started by `perfbench/run.py`, which sizes the JVM, names the input
  * tables and prints the result line; the arguments below are its contract. */
object Main {
  final case class Args(workload: String, queries: Seq[String], replayDays: Int,
      seed: Long, seconds: Double, trace: Boolean, data: String, work: String,
      out: String, expected: Option[String], warmupPasses: Int, minPasses: Int,
      maxPasses: Int)

  /** An op still running after this long is cancelled and counts as failed. */
  val OpTimeoutS = 60

  sealed trait Op { def name: String }
  final case class Query(name: String) extends Op
  final case class Day(day: Int) extends Op { def name: String = "replay_day" }

  final case class Sample(pass: Int, id: String, op: String, traced: Boolean,
      startMs: Long, endMs: Long, wallS: Double, buildS: Double, sinkS: Double,
      checksum: String, failure: Option[String], counters: Option[OpCounters])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("queries").split(',').toSeq.filter(_.nonEmpty),
      m("replay-days").toInt, m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m.get("expected"),
      m("warmup-passes").toInt, m("min-passes").toInt, m("max-passes").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val code = try run(args) catch {
      case e: Throwable => e.printStackTrace(); 3
    }
    // Non-daemon threads of an abandoned (timed-out) op must not keep the
    // process alive.
    System.exit(code)
  }

  private def run(a: Args): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val expected: Map[String, String] = a.expected.map { p =>
      Json.parseFlat(Files.readString(Paths.get(p)))
    }.getOrElse(Map.empty)
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cpus)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    val queryOps: Vector[Op] = a.queries.map(Query).toVector
    val fns = SparkEntry.queries
    val tracer = new Tracer(spark)
    val samples = mutable.ArrayBuffer.empty[Sample]
    var maxLiveAfterRelease = 0
    var opSeq = 0

    def runOp(op: Op, pass: Int, replay: => Replay, traced: Boolean): Sample = {
      opSeq += 1
      val id = s"p$pass-$opSeq-${op.name}"
      @volatile var buildS, sinkS = 0.0
      @volatile var endNs = 0L
      @volatile var endMs = 0L
      @volatile var checksum = ""
      @volatile var failure: Option[String] = None
      @volatile var liveAfter = 0
      val startMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      val worker = new Thread(() => {
        sc.setLocalProperty(Tracer.OpKey, id)
        sc.addJobTag(Tracer.TagPrefix + id)
        sc.setJobDescription(id)
        try op match {
          case Query(name) =>
            val df = fns(name)(spark, a.data)
            buildS = (System.nanoTime() - startNs) / 1e9
            checksum = Checksum.of(df)
            endNs = System.nanoTime(); endMs = System.currentTimeMillis()
            expected.get(name) match {
              case Some(want) if want != checksum => failure = Some(s"checksum $checksum != pinned $want")
              case None if a.expected.isDefined => failure = Some(s"no pinned checksum (got $checksum)")
              case _ =>
            }
          case Day(day) =>
            val r = replay
            val before = r.materializeSeconds
            val mismatches = r.runDay(day)
            endNs = System.nanoTime(); endMs = System.currentTimeMillis()
            sinkS = r.materializeSeconds - before
            checksum = if (mismatches.isEmpty) "mart=model" else "mart!=model"
            if (mismatches.nonEmpty) failure = Some(mismatches.take(3).mkString("; "))
        } catch {
          case e: Throwable =>
            endNs = System.nanoTime(); endMs = System.currentTimeMillis()
            failure = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        } finally {
          Caches.releaseAll()
          liveAfter = Caches.liveCount
        }
      }, s"perfbench-op-$opSeq")
      worker.setDaemon(true)
      worker.start()
      worker.join(OpTimeoutS * 1000L)
      if (worker.isAlive) {
        // Cancel by tag until the op's thread gives up; streams it started
        // are stopped too. The op counts as failed and the run goes on.
        val giveUp = System.currentTimeMillis() + 20000
        while (worker.isAlive && System.currentTimeMillis() < giveUp) {
          sc.cancelJobsWithTag(Tracer.TagPrefix + id)
          spark.streams.active.foreach(q => scala.util.Try(q.stop()))
          worker.interrupt()
          worker.join(200)
        }
        endNs = System.nanoTime(); endMs = System.currentTimeMillis()
        failure = Some(s"timed out after $OpTimeoutS s")
      }
      maxLiveAfterRelease = math.max(maxLiveAfterRelease, liveAfter)
      val counters = if (traced) tracer.settle(id) else None
      // Partial counters are not averaged in; the traced run fails instead.
      if (traced && counters.isEmpty)
        failure = failure.orElse(Some("trace events not settled (job ends != job starts)"))
      Sample(pass, id, op.name, traced, startMs, endMs, (endNs - startNs) / 1e9,
        buildS, sinkS, checksum, failure, counters)
    }

    val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    lazy val replay = new Replay(spark, a.seed, Paths.get(a.work, "replay").toString)
    var daysDone = 0
    def runPass(pass: Int, traced: Boolean): Unit = {
      if (traced) attach(spark, tracer)
      // Replay days continue across passes: each pass appends the next days.
      val ops = queryOps ++ (1 to a.replayDays).map(i => Day(daysDone + i))
      daysDone += a.replayDays
      val t = System.nanoTime()
      order(ops, a.seed, pass).foreach(op => samples += runOp(op, pass, replay, traced))
      passWall += ((pass, traced, (System.nanoTime() - t) / 1e9))
      if (traced) detach(spark, tracer)
    }

    val tw = System.nanoTime()
    (1 - a.warmupPasses to 0).foreach(runPass(_, traced = false))
    val warmupS = (System.nanoTime() - tw) / 1e9
    val firstOpMs = System.currentTimeMillis()
    val setupS = (firstOpMs - jvmStartMs) / 1e3
    val measureStart = System.nanoTime()
    var pass = 1
    // A traced run alternates untraced and traced passes (U, T, U, ...) so
    // the tracing overhead is measured against passes on either side.
    val minPasses = if (a.trace) math.max(3, a.minPasses) else a.minPasses
    while (pass <= a.maxPasses &&
        (pass <= minPasses || (System.nanoTime() - measureStart) / 1e9 < a.seconds)) {
      runPass(pass, traced = a.trace && pass % 2 == 0)
      pass += 1
    }
    val memoEntries = Caches.memoCount
    Caches.releaseMemos()
    spark.stop()

    val timed = samples.filter(_.pass > 0).toSeq
    val failed = samples.count(_.failure.isDefined)
    // Within a run the same op must give the same checksum in every pass.
    val unstable = samples.groupBy(_.op).collect {
      case (op, ss) if ss.map(_.checksum).distinct.size > 1 => op
    }.toSeq.sorted
    val correct = failed == 0 && unstable.isEmpty
    val untracedPasses = passWall.filter(p => p._1 > 0 && !p._2).map(_._3).toSeq
    val tracedPasses = passWall.filter(_._2).map(_._3).toSeq
    // Each traced pass against the mean of the untraced passes on either
    // side, so the warm-up trend across passes cancels.
    val untracedByPass = passWall.filter(p => p._1 > 0 && !p._2).map(p => p._1 -> p._3).toMap
    val overheads = passWall.toSeq.collect { case (p, true, t)
        if untracedByPass.contains(p - 1) && untracedByPass.contains(p + 1) =>
      t - (untracedByPass(p - 1) + untracedByPass(p + 1)) / 2
    }
    val untraced = timed.filterNot(_.traced)
    val lat = untraced.map(_.wallS)
    val (p90, beyondP90) = Stats.p90(lat)
    // The median over ops of each op's median latency: every op counts once,
    // and one slow sample of an op cannot move it. (The median of the pooled
    // samples falls in the upper tail of the short ops.)
    val opMedians = untraced.groupBy(_.op).values.map(ss => Stats.median(ss.map(_.wallS))).toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", Stats.median(untracedPasses), "s"),
        ("op_p50_s", Stats.median(opMedians), "s"),
        ("op_p90_s", p90, "s"))
      else Layers.metrics(timed.filter(_.counters.isDefined), cpus) ++ Seq(
        ("session.start_s", sessionStartS, "s"),
        ("session.warmup_s", warmupS, "s"),
        ("caches.live_after_release", maxLiveAfterRelease.toDouble, "count"),
        ("caches.memo_entries", memoEntries.toDouble, "count"),
        ("process.peak_rss_mb", peakRssMb(), "MB"),
        ("trace.pass_s", Stats.median(tracedPasses), "s"),
        ("trace.overhead_s", Stats.median(overheads), "s"))

    val detail = Json.obj(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "cores" -> cpus.toString,
      "passes" -> (pass - 1).toString, "ops_per_pass" -> (queryOps.size + a.replayDays).toString,
      "op_samples" -> lat.size.toString, "op_samples_beyond_p90" -> beyondP90.toString,
      "failed_frac" -> (failed.toDouble / samples.size).toString,
      "pass_s" -> Json.arr(passWall.toSeq.map(p => Json.num(p._3))),
      "samples" -> Json.arr(samples.toSeq.map(s => Json.arr(Seq(s.pass.toString,
        Json.str(s.op), Json.num(s.wallS), s.failure.isEmpty.toString)))),
      "op_median_s" -> Json.obj(timed.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, ss) =>
        op -> Json.num(Stats.median(ss.map(_.wallS)))
      }: _*),
      "unstable_checksums" -> Json.arr(unstable.map(Json.str)),
      "failures" -> Json.arr(samples.toSeq.flatMap(s => s.failure.map(f =>
        Json.str(s"${s.id}: $f")))),
      "checksums" -> Json.obj(samples.filter(_.failure.isEmpty)
        .map(s => s.op -> Json.str(s.checksum)).distinct.toSeq: _*))
    val result = Json.obj(
      "correct" -> correct.toString,
      "attempted" -> samples.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*),
      "detail" -> detail)
    Files.writeString(Paths.get(a.out), result)
    if (a.trace) Spans.write(Paths.get(a.work, "trace.jsonl"), a, samples.toSeq)
    if (correct) 0 else 1
  }

  /** The pass's op order: the workload's own order for the warm-up pass (so
    * every run starts measuring from the same warmed state), otherwise a
    * permutation seeded by (seed, pass) in which replay days keep their
    * relative order (day d+1 appends after day d). */
  def order(ops: Vector[Op], seed: Long, pass: Int): Vector[Op] = {
    if (pass <= 0) return ops
    val shuffled = new scala.util.Random(seed * 7919L + pass).shuffle(ops)
    val days = ops.collect { case d: Day => d }.iterator
    shuffled.map { case _: Day => days.next(); case q => q }
  }

  private def attach(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  private def detach(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

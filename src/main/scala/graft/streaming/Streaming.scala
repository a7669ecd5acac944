package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface (SURVEY.md §2.10 / §7.6 stretch).
  *
  * The reference has no true streaming — its cadence is a daily batch
  * re-pull (`/root/reference/airflow/dags/spacex_api_dag.py:58`) — so this
  * is engine capability: the same hourly aggregation as ops.Events.q20, run
  * through `readStream` → watermark → `window()` → memory sink. Driving a
  * bounded parquet source with `processAllAvailable()` makes the run
  * synchronous and deterministic, so the result is oracle-checkable exactly
  * like a batch query.
  *
  * At scale this plan is the standard incremental shape: stateful hourly
  * windows keyed by (window, event_type), partial aggregation before the
  * state store shuffle, watermark bounding state size. (`countDistinct` is
  * not available in streaming aggregation — the batch q20 carries it.)
  */
object Streaming {

  private val counter = new AtomicInteger(0)

  /** Checkpoint root for the BOUNDED driver-contract runs (q24/q77/q103):
    * tmpfs (`/dev/shm`) when the host mounts one, else the JVM temp dir.
    *
    * A `processAllAvailable()` fixture run commits offset/commit-log files
    * plus one state-store delta per store instance per micro-batch; all of
    * it is scratch that dies with the query, yet Spark's auto temp
    * checkpoint puts it on the local disk, so the per-batch fsync cost of
    * ~20 tiny files dominates these queries' wall time on slow-disk hosts
    * (BENCH_r03: q103 8.5 s on the driver vs 1.5 s locally — same code).
    * Routing the scratch to RAM removes exactly that fixed cost and changes
    * no semantics. A production deployment of the same queries sets a
    * durable `checkpointLocation` on HDFS/S3 — recovery needs the log to
    * survive the driver, which RAM does not. */
  private def scratchCheckpoint(): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root = if (java.nio.file.Files.isDirectory(shm) &&
      java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(root, "graft-ckpt-")
  }

  /** State-store metrics of the most recent [[drainBounded]] run on this
    * thread: (operator key, peak numRowsTotal across micro-batches, total
    * numRowsRemoved, micro-batches observed) per stateful operator. The key
    * is `name#index` — index is the operator's position in the plan's
    * stateOperators array (stable across micro-batches), so two stateful
    * operators sharing a name (e.g. two symmetricHashJoins) report
    * separately instead of merging into max-of-either (ADVICE r11). Probe
    * surface for `tools.StreamProbe` (VERDICT r10 item 7 — grounding the
    * bounded-state claims with measured state sizes at the 10× tier); the
    * driver-contract queries never read it. Thread-local for the same
    * multi-tenant reason as [[graft.Caches]]. */
  private[graft] val lastRunStateMetrics =
    new ThreadLocal[Seq[(String, Long, Long, Long)]] {
      override def initialValue(): Seq[(String, Long, Long, Long)] = Seq.empty
    }

  /** Progress updates retained per streaming query. The default (100) is
    * fewer micro-batches than a paced multi-batch replay runs, and
    * [[lastRunStateMetrics]] derives peak state from `q.recentProgress` —
    * silently dropping the oldest batches would under-report exactly the
    * bounded-state evidence StreamProbe exists to provide (ADVICE r11).
    * [[drainBounded]] asserts the retention was never overrun. */
  private val ProgressRetention = 4096

  /** Probe-only override of the per-query state parallelism chosen by
    * [[withStateParallelism]] call sites (they pass the fixture-sized n=4).
    * `tools.StreamProbe --stateParts N` sets it to measure the deployment
    * knob the scaladoc claims — state partitions sized to stream volume —
    * without touching query code. Thread-local; never set on the driver
    * contract path. */
  private[graft] val probeStateParallelism =
    new ThreadLocal[Option[Int]] { override def initialValue(): Option[Int] = None }

  /** Probe-only `maxFilesPerTrigger` for [[eventsFileStream]]: a paced
    * multi-batch replay (`tools.StreamProbe --paced N`) splits events into
    * N time-ordered files and feeds them one per micro-batch, so the
    * watermark advances ACROSS batches and state eviction fires mid-run —
    * the bounded-state demonstration a 1–2-batch drain of the whole input
    * can never produce (VERDICT r11 item 2). Unset (the default, and always
    * on the driver contract path) the source consumes everything available
    * per batch, exactly as before. */
  private[graft] val probeMaxFilesPerTrigger =
    new ThreadLocal[Option[Int]] { override def initialValue(): Option[Int] = None }

  /** Per-batch state trace of the most recent [[drainBounded]] run:
    * (batchId, operator key, numRowsTotal, numRowsRemoved,
    * numRowsDroppedByWatermark) per stateful operator per micro-batch — the
    * state CURVE a paced replay produces (rise to the watermark horizon,
    * then plateau while eviction tracks ingest), which is the bounded-state
    * claim in one picture; the dropped column is the store-side late-data
    * accounting an out-of-order replay exercises (VERDICT r12 item 4).
    * Always recorded (the source data is already in recentProgress); only
    * probes read it. */
  private[graft] val lastRunStateTrace =
    new ThreadLocal[Seq[(Long, String, Long, Long, Long)]] {
      override def initialValue(): Seq[(Long, String, Long, Long, Long)] = Seq.empty
    }

  /** Capture a finished bounded query's progress into
    * [[lastRunStateTrace]] / [[lastRunStateMetrics]], then ALWAYS stop it —
    * a failed retention check must not leak a running query whose scratch
    * checkpoint the caller is about to delete (ADVICE r12). Shared by
    * [[drainBounded]] and the q125 stateful-API drain so the RocksDB path
    * produces the same probe-readable state curve. */
  private[streaming] def captureProgressAndStop(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    try {
      val progress = q.recentProgress.toSeq
      // recentProgress is a ring of ProgressRetention entries. A run of
      // exactly ProgressRetention batches that dropped nothing is fine
      // (ADVICE r12): the ring is only provably overrun when it is full
      // AND the earliest retained batchId is past the fresh-checkpoint
      // first batch (id 0) — i.e. batches fell off the front.
      val ids = progress.map(_.batchId)
      val overrun = ids.length >= ProgressRetention && ids.min > 0
      require(!overrun,
        s"streaming progress retention overrun (${ids.length} batches " +
          s"retained, ids ${ids.min}..${ids.max}): state metrics would " +
          "silently under-report peak state; raise ProgressRetention")
      lastRunStateTrace.set(progress.flatMap(p =>
        p.stateOperators.toSeq.zipWithIndex.map { case (o, i) =>
          (p.batchId, s"${o.operatorName}#$i", o.numRowsTotal, o.numRowsRemoved,
            o.numRowsDroppedByWatermark)
        }))
      val ops = progress.flatMap(_.stateOperators.toSeq.zipWithIndex)
      lastRunStateMetrics.set(ops.groupBy { case (o, i) => (i, o.operatorName) }
        .toSeq.sortBy(_._1)
        .map { case ((i, n), xs) =>
          (s"$n#$i", xs.map(_._1.numRowsTotal).max,
            xs.map(_._1.numRowsRemoved).sum, xs.length.toLong)
        })
    } finally q.stop()
  }

  /** Start `build`'s streaming query checkpointed to [[scratchCheckpoint]],
    * drain it with `processAllAvailable`, stop it, and delete the scratch
    * dir — the shared lifecycle of every bounded run. */
  private def drainBounded(build: String => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
    val ckpt = scratchCheckpoint()
    try {
      val q = build(ckpt.toString).start()
      try q.processAllAvailable()
      finally captureProgressAndStop(q)
    } finally {
      // scratch cleanup; best-effort (tmpfs evaporates on reboot anyway)
      import scala.jdk.CollectionConverters._
      try java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Run a bounded streaming query with state parallelism sized to the
    * stream instead of the session default.
    *
    * In Structured Streaming, `spark.sql.shuffle.partitions` at query start
    * fixes the number of state-store instances per stateful operator (a
    * stream-stream join keeps four stores per partition), and EVERY
    * micro-batch commits a checkpoint delta per instance — so state
    * parallelism is a first-class deployment knob sized to key cardinality
    * and stream volume, not inherited from the batch default. The fixture
    * streams here carry ~20k rows over a handful of grouping keys; `n=4`
    * keeps per-batch checkpoint I/O proportional to that (32 instances ×
    * 4 stores was pure fixed overhead). A production deployment of the same
    * query raises `n` to its real key cardinality / throughput — nothing
    * else in the plan changes.
    *
    * The setting lives on a cloned session (shared SparkContext + cache,
    * isolated SQLConf and temp-view catalog), so the caller's session is
    * never mutated — safe under concurrent tenants. */
  private def withStateParallelism[T](s: SparkSession, n: Int,
      noDataBatches: Boolean = false)(f: SparkSession => T): T = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      probeStateParallelism.get().getOrElse(n))
    ss.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      ProgressRetention.toString)
    // Bounded fixture runs usually need no watermark-only batches:
    // complete-mode aggregations re-emit every batch, and the inner
    // interval join emits matches immediately — the extra no-data batch
    // would only advance the watermark to evict state that is about to be
    // dropped anyway. The EXCEPTION is outer stream-stream joins (q128):
    // null-extended rows are emitted by eviction itself, which only
    // happens in a batch that runs AFTER the watermark has advanced — so
    // those runs opt in to the trailing no-data batch.
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noDataBatches.toString)
    f(ss)
  }

  /** Collect the bounded run's memory-sink table, DROP the sink view, and
    * return the rows as a local DataFrame with the original schema. Each
    * invocation otherwise leaks a driver-heap result table plus a catalog
    * entry forever — the same unbounded-session growth class as the
    * q27/q81/q90 temp views (ADVICE r2). Safe because both memory-sink
    * users (q24, q77) run complete-mode AGGREGATIONS — the sink holds the
    * bounded aggregate (thousands of rows), never raw stream rows; q103's
    * append-mode join uses foreachBatch partials instead of a sink for
    * exactly that reason. */
  private def drainSink(s: SparkSession, name: String): DataFrame = {
    val t = s.table(name)
    val (rows, schema) = (t.collect(), t.schema)
    s.catalog.dropTempView(name)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Layout-aware events file-stream source — ONE choke point, the r6
    * canonicalTs lesson applied to the SOURCE side. The driver testdata
    * ships `events.parquet` as a single FILE, which the file-stream source
    * can only reach by streaming the sf dir under a name glob; production
    * (and the many-file tier) ships it as a DIRECTORY of part files, which
    * the source consumes directly — there the glob would match zero part
    * files and silently stream NOTHING (caught by MultiFileSpec r8). */
  private[streaming] def eventsFileStream(s: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = s"$dir/events.parquet"
    val rd = probeMaxFilesPerTrigger.get() match {
      case Some(n) => s.readStream.schema(schema)
        .option("maxFilesPerTrigger", n.toString)
      case None => s.readStream.schema(schema)
    }
    if (new java.io.File(p).isDirectory) rd.parquet(p)
    else rd.option("pathGlobFilter", "events.parquet").parquet(dir)
  }

  /** Bounded streaming run of the hourly event aggregation (complete mode →
    * in-memory table, unique per invocation). */
  def q24StreamingHourly(outer: SparkSession, dir: String): DataFrame =
      withStateParallelism(outer, 4) { s =>
    val path = s"$dir/events.parquet"
    val rawSchema = s.read.parquet(path).schema // ts shape varies; canonicalTs normalizes
    val name = s"graft_stream_hourly_${counter.incrementAndGet()}"
    val src = eventsFileStream(s, dir, rawSchema)
    val withTs = graft.Tables.canonicalTs(src)
    val agg = withTs
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(graft.Exact.cents(col("value"))).as("sum_value_cents"))
    drainBounded(ckpt => agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", ckpt))
    drainSink(s, name)
      .select(
        expr("unix_seconds(window.start)").as("hour_epoch_s"),
        col("event_type"),
        col("n_events"),
        (col("sum_value_cents").cast("double") / lit(100.0)).as("sum_value"))
      .orderBy(col("hour_epoch_s"), col("event_type"))
  }

  val q24Oracle: String =
    """SELECT (epoch_ms(ts) // 3600000) * 3600 AS hour_epoch_s, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Stream-static join (SURVEY §2.10): streaming events enriched with the
    * static customer dimension (broadcast per micro-batch — the standard
    * streaming-enrichment shape), then aggregated per market segment.
    * Events with user_ids outside the customer table are dropped by the
    * inner join; the oracle is the identical batch join. At scale the
    * static side refreshes per batch and broadcasts; state is bounded by
    * |segments|. */
  def q77StreamStaticJoin(outer: SparkSession, dir: String): DataFrame =
      withStateParallelism(outer, 4) { s =>
    val path = s"$dir/events.parquet"
    val rawSchema = s.read.parquet(path).schema
    val name = s"graft_stream_enrich_${counter.incrementAndGet()}"
    val src = eventsFileStream(s, dir, rawSchema)
    val cust = broadcast(graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment")))
    val agg = src
      .join(cust, src("user_id") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(graft.Exact.cents(col("value"))).as("sum_value_cents"))
    drainBounded(ckpt => agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", ckpt))
    drainSink(s, name)
      .select(col("c_mktsegment"), col("n_events"),
        (col("sum_value_cents").cast("double") / lit(100.0)).as("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  val q77Oracle: String =
    """SELECT c_mktsegment, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Stream-stream interval join (SURVEY §2.10 — the remaining streaming
    * join kind): the signup stream inner-joins the purchase stream on
    * user_id with an event-time bound (purchase within 1 hour of signup).
    * Both sides are watermarked and the join condition bounds event time in
    * both directions, so each side's state store evicts rows once the other
    * side's watermark passes — bounded state, the production stream-stream
    * shape. Inner-join matches emit immediately (append mode), making the
    * bounded run deterministic; the per-user_id%10 summary (reduced to
    * exact-integer partials per micro-batch via foreachBatch) is
    * oracle-checked at exact microsecond precision against the identical
    * batch interval join.
    *
    * Bench note: this query's wall time is ≈fixed micro-batch machinery —
    * two stream sources plus four join state stores per partition, each
    * committing a checkpoint delta per batch — not data volume (sf0.1
    * joins 20k×20k rows to 374 pairs). State parallelism is sized to the
    * fixture via [[withStateParallelism]]; at scale the same fixed cost
    * amortizes over the actual stream. */
  def q103StreamStreamJoin(outer: SparkSession, dir: String): DataFrame =
      withStateParallelism(outer, 4) { s =>
    val path = s"$dir/events.parquet"
    val rawSchema = s.read.parquet(path).schema
    def src: DataFrame = {
      val raw = eventsFileStream(s, dir, rawSchema)
      graft.Tables.canonicalTs(raw)
    }
    val signups = src.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    val joined = signups.join(purchases,
      col("s_user") === col("p_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 1 HOUR"))
    // Aggregate per micro-batch (ADVICE r3): a memory sink would hold every
    // raw joined pair on the driver — O(matched pairs) residency. Spark
    // can't run this non-windowed aggregation inside the streaming query
    // after a stream-stream join (append mode would never emit it), so
    // foreachBatch reduces each batch of pairs to per-(user_mod10, s_user)
    // partials — driver residency O(distinct users), not O(pairs). All
    // partial measures are exact integers (counts, µs gaps, cents), so
    // re-aggregation across batches is order-independent; s_user is kept
    // as a partial key so the final countDistinct stays exact even when a
    // user's pairs span micro-batches.
    def partialAgg(pairs: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): DataFrame =
      pairs.groupBy((col("s_user") % 10).as("user_mod10"), col("s_user"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(expr("unix_micros(p_ts) - unix_micros(s_ts)")).as("sum_gap_us"),
          sum(graft.Exact.cents(col("value"))).as("sum_purchase_cents"))
    val partialSchema = partialAgg(
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), joined.schema)).schema
    val partials = new java.util.ArrayList[org.apache.spark.sql.Row]()
    drainBounded(ckpt => joined.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = partialAgg(batch).collect()
        partials.synchronized { partials.addAll(java.util.Arrays.asList(rows: _*)); () }
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt))
    s.createDataFrame(partials, partialSchema)
      .groupBy(col("user_mod10"))
      .agg(
        sum(col("n_pairs")).as("n_pairs"),
        countDistinct(col("s_user")).as("n_users"),
        sum(col("sum_gap_us")).as("sum_gap_us"),
        (sum(col("sum_purchase_cents")).cast("double") / 100.0).as("sum_purchase"))
      .orderBy(col("user_mod10"))
  }

  val q103Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, value FROM events),
      |s AS (SELECT user_id AS s_user, ts_us AS s_us FROM e WHERE event_type = 'signup'),
      |p AS (SELECT user_id AS p_user, ts_us AS p_us, value FROM e WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT * FROM s JOIN p ON s_user = p_user
      |    AND p_us >= s_us AND p_us <= s_us + 3600000000)
      |SELECT CAST(s_user % 10 AS BIGINT) AS user_mod10,
      |  count(*) AS n_pairs,
      |  count(DISTINCT s_user) AS n_users,
      |  CAST(sum(p_us - s_us) AS BIGINT) AS sum_gap_us,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_purchase
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Left-OUTER stream-stream interval join (§2.10 — the outer variant of
    * q103): signups keep a row even when no purchase follows within the
    * hour, the abandoned-signup / attribution shape. Outer stream-stream
    * semantics are WATERMARK-DRIVEN: a null-extended row is emitted only
    * when eviction proves no match can still arrive — i.e. when the global
    * watermark (min over both sides' watermarks, each max-event-time − 1 h)
    * passes the signup's last possible match time (s_ts + 1 h). A bounded
    * run therefore (a) opts in to the trailing no-data micro-batch that
    * advances the watermark after the data batch, and (b) still ends with
    * signups inside the final two-hour horizon unreported — not missing
    * rows but the semantically correct "undecidable yet" tail, which the
    * oracle reproduces with the same `s_ts + 1h < min(max_s, max_p) − 1h`
    * cutoff at exact µs precision. State stays bounded exactly as in the
    * inner join; the emitted-vs-held distinction is the whole point of the
    * test. */
  def q128StreamLeftOuterJoin(outer: SparkSession, dir: String): DataFrame =
      withStateParallelism(outer, 4, noDataBatches = true) { s =>
    val path = s"$dir/events.parquet"
    val rawSchema = s.read.parquet(path).schema
    def src: DataFrame = {
      val raw = eventsFileStream(s, dir, rawSchema)
      graft.Tables.canonicalTs(raw)
    }
    val signups = src.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    val joined = signups.join(purchases,
      col("s_user") === col("p_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
    // foreachBatch partial aggregation, exactly q103's shape (driver holds
    // O(distinct users), not O(rows)); matched and null-extended rows are
    // counted separately, gaps/cents only over matches.
    def partialAgg(rows: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): DataFrame =
      rows.groupBy((col("s_user") % 10).as("user_mod10"), col("s_user"))
        .agg(
          count(col("p_user")).as("n_matched"),
          count(when(col("p_user").isNull, lit(1))).as("n_unmatched"),
          coalesce(sum(expr("unix_micros(p_ts) - unix_micros(s_ts)")), lit(0L)).as("sum_gap_us"))
    val partialSchema = partialAgg(
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), joined.schema)).schema
    val partials = new java.util.ArrayList[org.apache.spark.sql.Row]()
    drainBounded(ckpt => joined.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = partialAgg(batch).collect()
        partials.synchronized { partials.addAll(java.util.Arrays.asList(rows: _*)); () }
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt))
    s.createDataFrame(partials, partialSchema)
      .groupBy(col("user_mod10"))
      .agg(
        sum(col("n_matched")).as("n_matched"),
        sum(col("n_unmatched")).as("n_unmatched"),
        countDistinct(col("s_user")).as("n_users"),
        sum(col("sum_gap_us")).as("sum_gap_us"))
      .orderBy(col("user_mod10"))
  }

  /** The eviction cutoff mirrors Spark's outer-join emission rule: global
    * watermark = min(max s_ts, max p_ts) − 1 h (multipleWatermarkPolicy
    * defaults to min); a null row exists iff s_ts + 1 h < that watermark. */
  val q128Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, value FROM events),
      |s AS (SELECT user_id AS s_user, ts_us AS s_us FROM e WHERE event_type = 'signup'),
      |p AS (SELECT user_id AS p_user, ts_us AS p_us, value FROM e WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(s_us) FROM s), (SELECT max(p_us) FROM p))
      |              - 3600000000 AS w),
      |j AS (
      |  SELECT s.s_user, s.s_us, p.p_us FROM s LEFT JOIN p ON s_user = p_user
      |    AND p_us >= s_us AND p_us <= s_us + 3600000000),
      |k AS (
      |  SELECT * FROM j
      |  WHERE p_us IS NOT NULL OR s_us + 3600000000 < (SELECT w FROM wm))
      |SELECT CAST(s_user % 10 AS BIGINT) AS user_mod10,
      |  count(p_us) AS n_matched,
      |  count(*) - count(p_us) AS n_unmatched,
      |  count(DISTINCT s_user) AS n_users,
      |  CAST(coalesce(sum(p_us - s_us), 0) AS BIGINT) AS sum_gap_us
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  /** FULL-outer stream-stream interval join (§2.10 — completes the
    * inner/left-outer/full-outer triple with q103/q128): both the
    * abandoned-signup rows AND the orphan-purchase rows (purchases with no
    * signup in the preceding hour — the attribution-gap side) survive as
    * null-extended output. Eviction is watermark-driven on BOTH sides now:
    * a signup's null row needs the global watermark past s_ts + 1 h (its
    * last possible match time, as q128); a purchase's null row needs it
    * past p_ts (the latest signup that could claim it has s_ts ≤ p_ts).
    * The bounded-run tail inside the final horizon stays correctly
    * unreported on both sides; the oracle reproduces both cutoffs at exact
    * µs precision. Aggregation keys on coalesce(s_user, p_user) since
    * either side may be null. */
  def q192StreamFullOuterJoin(outer: SparkSession, dir: String): DataFrame =
      withStateParallelism(outer, 4, noDataBatches = true) { s =>
    val path = s"$dir/events.parquet"
    val rawSchema = s.read.parquet(path).schema
    def src: DataFrame = {
      val raw = eventsFileStream(s, dir, rawSchema)
      graft.Tables.canonicalTs(raw)
    }
    val signups = src.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    val joined = signups.join(purchases,
      col("s_user") === col("p_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 1 HOUR"),
      "full_outer")
    def partialAgg(rows: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): DataFrame =
      rows.withColumn("u", coalesce(col("s_user"), col("p_user")))
        .groupBy((col("u") % 10).as("user_mod10"), col("u"))
        .agg(
          count(when(col("s_user").isNotNull && col("p_user").isNotNull, lit(1))).as("n_matched"),
          count(when(col("p_user").isNull, lit(1))).as("n_left_only"),
          count(when(col("s_user").isNull, lit(1))).as("n_right_only"),
          coalesce(sum(expr("unix_micros(p_ts) - unix_micros(s_ts)")), lit(0L)).as("sum_gap_us"))
    val partialSchema = partialAgg(
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), joined.schema)).schema
    val partials = new java.util.ArrayList[org.apache.spark.sql.Row]()
    drainBounded(ckpt => joined.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = partialAgg(batch).collect()
        partials.synchronized { partials.addAll(java.util.Arrays.asList(rows: _*)); () }
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt))
    s.createDataFrame(partials, partialSchema)
      .groupBy(col("user_mod10"))
      .agg(
        sum(col("n_matched")).as("n_matched"),
        sum(col("n_left_only")).as("n_left_only"),
        sum(col("n_right_only")).as("n_right_only"),
        countDistinct(col("u")).as("n_users"),
        sum(col("sum_gap_us")).as("sum_gap_us"))
      .orderBy(col("user_mod10"))
  }

  /** Both eviction cutoffs mirror Spark's outer emission rule under the
    * min-policy global watermark w = min(max s_ts, max p_ts) − 1 h: a
    * signup null row iff s_ts + 1 h < w (as q128); a purchase null row iff
    * p_ts < w (its match window closes at its own timestamp). */
  val q192Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, value FROM events),
      |s AS (SELECT user_id AS s_user, ts_us AS s_us FROM e WHERE event_type = 'signup'),
      |p AS (SELECT user_id AS p_user, ts_us AS p_us, value FROM e WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(s_us) FROM s), (SELECT max(p_us) FROM p))
      |              - 3600000000 AS w),
      |m AS (
      |  SELECT s.s_user, p.p_user, s.s_us, p.p_us FROM s JOIN p ON s_user = p_user
      |    AND p_us >= s_us AND p_us <= s_us + 3600000000),
      |lo AS (
      |  SELECT s_user, CAST(NULL AS BIGINT) AS p_user, s_us, CAST(NULL AS BIGINT) AS p_us
      |  FROM s WHERE NOT EXISTS (
      |      SELECT 1 FROM p WHERE p_user = s_user
      |        AND p_us >= s_us AND p_us <= s_us + 3600000000)
      |    AND s_us + 3600000000 < (SELECT w FROM wm)),
      |ro AS (
      |  SELECT CAST(NULL AS BIGINT) AS s_user, p_user,
      |    CAST(NULL AS BIGINT) AS s_us, p_us
      |  FROM p WHERE NOT EXISTS (
      |      SELECT 1 FROM s WHERE s_user = p_user
      |        AND p_us >= s_us AND p_us <= s_us + 3600000000)
      |    AND p_us < (SELECT w FROM wm)),
      |k AS (SELECT * FROM m UNION ALL SELECT * FROM lo UNION ALL SELECT * FROM ro)
      |SELECT CAST(coalesce(s_user, p_user) % 10 AS BIGINT) AS user_mod10,
      |  count(CASE WHEN s_user IS NOT NULL AND p_user IS NOT NULL THEN 1 END) AS n_matched,
      |  count(CASE WHEN p_user IS NULL THEN 1 END) AS n_left_only,
      |  count(CASE WHEN s_user IS NULL THEN 1 END) AS n_right_only,
      |  count(DISTINCT coalesce(s_user, p_user)) AS n_users,
      |  CAST(coalesce(sum(p_us - s_us), 0) AS BIGINT) AS sum_gap_us
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  /** Streaming MERGE sink (§2.10 + §2.1 S6 composed): every micro-batch
    * upserts into the stored table via [[graft.Materialize.upsertInPlace]]
    * — latest row per `key` wins. Delivery is foreachBatch's
    * AT-LEAST-ONCE (a crash between the upsert's swap and the checkpoint
    * commit replays the batch); the result stays correct because the
    * upsert is idempotent — replayed versions resolve to the same
    * latest-per-key rows. A non-idempotent body would need its own
    * batchId-based transaction. This is the streaming half of the
    * reference's append-mode ingest done right: the DAG appends snapshots
    * forever (`spacex_api_dag.py:49`); this keeps the stored table
    * deduplicated continuously. At scale the same foreachBatch body
    * targets a transactional MERGE (Delta/Iceberg); the batch-level shape
    * is identical. Caller stops the query. */
  def upsertSink(stream: DataFrame, path: String, key: String, versionCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // persist: the emptiness probe and the merge's staging write would
        // otherwise each recompute the batch from the source
        batch.persist()
        try {
          if (!batch.isEmpty)
            graft.Materialize.upsertInPlace(batch.sparkSession, path, batch.toDF(), key, versionCol)
        } finally { batch.unpersist(); () }
      }
      .outputMode("update")
      .start()

  /** q166: late-data accounting — the operational counterpart of a
    * watermark. Every production stream quietly DROPS rows that arrive
    * later than the watermark allows; a pipeline that doesn't measure that
    * loss can't distinguish "low volume" from "data discarded". This query
    * replays events in three arrival waves — the on-time bulk (all but the
    * last 30 min of non-straggler event time), the on-time tail, then a
    * deterministic md5 5% straggler subset — runs the standard watermarked
    * hourly aggregation in update mode, and reports the loss as
    * `n_total − Σ(final window counts)` in an audit row.
    *
    * Two Spark subtleties, both measured here and certified by the oracle:
    * (1) The state-store metric `numRowsDroppedByWatermark` reads 0 — for
    * streaming AGGREGATIONS Spark drops late rows in a filter BEFORE
    * partial aggregation, so the store never sees them; the metric only
    * counts drops at the store (e.g. joins). The portable accounting is
    * the final aggregate state itself. (2) Since SPARK-40925 (multiple
    * stateful operators), batch N filters late rows against the watermark
    * derived from batch N−2's event-time stats, one batch BEHIND the
    * eviction watermark — so with only two waves nothing is ever dropped
    * (measured: 0 of 493), and the classic two-batch mental model of
    * "watermark advanced, stragglers die" needs a third batch to be true.
    * Hence three waves: the stragglers in batch 2 are filtered against
    * `W = floor(max_us(wave1)/1000)·1000 − 1 h` (event-time stats are
    * tracked at ms precision), dropped iff their hour-window END ≤ W —
    * WAVE 1's max, not the overall non-straggler max: batch 2's late
    * filter lags two batches behind its own input, so wave 2's stats
    * (the 30-min tail) have not reached it yet. Pinned empirically by
    * StreamingSpec's "late-filter watermark lags" fixture, whose
    * discriminator straggler falls in an hour window that ends between
    * the two candidate watermarks (kept ⟺ wave-1 rule); the progress
    * log there shows batch 2 REPORTING wm = max(wave1∪wave2) − 1 h (the
    * eviction watermark) while FILTERING with max(wave1) − 1 h. The
    * oracle re-derives exactly the wave-1 rule analytically, so a
    * hash-match certifies the engine's understanding of the lagged
    * watermark protocol, not just its ability to count.
    *
    * Degenerate input: with zero non-straggler events there is no
    * watermark cut — the watermark never leaves epoch 0, so nothing can
    * be dropped, and the audit row is emitted directly ((n, k, 0, n))
    * without replaying the stream; an all-empty events table yields
    * (0, 0, 0, 0). EmptyDataSpec pins both.
    *
    * Arrival order is pinned: each wave is one parquet file with an
    * explicit modification time and `maxFilesPerTrigger=1`, so the file
    * source processes the waves strictly in order on any host. That
    * `coalesce(1)` is REPLAY INSTRUMENTATION, not the production shape:
    * in production this audit instruments the live stream (the same
    * watermarked aggregation the pipeline already runs), where arrival
    * order is whatever the source delivers and each trigger ingests
    * many files/offsets; `n_total` comes from the ingest-side count and
    * `n_counted` from the final aggregate state, no replay involved. A
    * 100 TB backfill replay would use multi-file waves under
    * `maxFilesPerTrigger` (or `latestFirst=false` Trigger.AvailableNow),
    * not three single-task writes. Scale: the streamed aggregation is
    * q24's bounded-state shape; the audit itself is one batch aggregate
    * over the final (bounded) sink state. */
  def q166LateDataAudit(outer: SparkSession, dir: String): DataFrame =
      withStateParallelism(outer, 4) { s =>
    val straggler =
      expr("conv(substring(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) % 20 = 0")
    val ev = graft.Tables.events(s, dir).select(col("event_id"), col("ts"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-late-")
    try {
      // Wave cut: last 30 min of non-straggler event time arrives second,
      // so wave 1's stats alone define the watermark that batch 2's late
      // filter uses (see scaladoc: the late watermark lags one batch).
      val ns = ev.filter(!straggler)
      // Nullable read: with zero non-straggler events max() is NULL and the
      // watermark never advances, so no row can be dropped — short-circuit
      // to the (n, k, 0, n) audit row instead of dereferencing the null.
      val maxNsRow = ns.agg(max(unix_micros(col("ts")))).collect()(0)
      if (maxNsRow.isNullAt(0)) {
        val t = ev.agg(count(lit(1)).as("n_total"),
          coalesce(sum(when(straggler, 1L).otherwise(0L)), lit(0L)).as("n_stragglers"))
          .collect()(0)
        import s.implicits._
        Seq((t.getLong(0), t.getLong(1), 0L, t.getLong(0)))
          .toDF("n_total", "n_stragglers", "n_late_dropped", "n_counted")
      } else {
      val cut = maxNsRow.getLong(0) -
        1800L * 1000000L // µs, exact — the oracle re-derives the same cut
      val cutTs = timestamp_micros(lit(cut))
      ns.filter(col("ts") <= cutTs).coalesce(1).write.parquet(s"$tmp/b1")
      ns.filter(col("ts") > cutTs).coalesce(1).write.parquet(s"$tmp/b2")
      ev.filter(straggler).coalesce(1).write.parquet(s"$tmp/b3")
      def stamp(sub: String, t: Long): Unit =
        new java.io.File(s"$tmp/$sub").listFiles().foreach(_.setLastModified(t))
      stamp("b1", 1000000000000L)
      stamp("b2", 1000000060000L)
      stamp("b3", 1000000120000L)
      val schema = s.read.parquet(s"$tmp/b1").schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(tmp.toString)
      val agg = src.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      val name = s"graft_late_audit_${counter.incrementAndGet()}"
      val ckpt = scratchCheckpoint()
      val counted =
        try {
          val q = agg.writeStream.format("memory").queryName(name)
            .outputMode("update").option("checkpointLocation", ckpt.toString).start()
          try q.processAllAvailable()
          finally q.stop()
          // The update-mode memory sink APPENDS every emitted update, so a
          // window touched by both waves appears twice; its count is
          // monotone, so max(n) per window is the final aggregate state.
          s.table(name).groupBy(col("window")).agg(max(col("n")).as("n"))
            .agg(coalesce(sum(col("n")), lit(0L)).as("c")).collect()(0).getLong(0)
        } finally {
          s.catalog.dropTempView(name)
          import scala.jdk.CollectionConverters._
          try java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
          catch { case scala.util.control.NonFatal(_) => () }
        }
      val t = ev.agg(count(lit(1)).as("n_total"),
        coalesce(sum(when(straggler, 1L).otherwise(0L)), lit(0L)).as("n_stragglers"))
        .collect()(0)
      import s.implicits._
      Seq((t.getLong(0), t.getLong(1), t.getLong(0) - counted, counted))
        .toDF("n_total", "n_stragglers", "n_late_dropped", "n_counted")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      try java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Watermark = ms-floored max WAVE-1 event time − 1 h (wave 1 = on-time
    * events at or before cut = overall on-time max − 30 min; the late
    * filter lags one batch, so wave 2's stats don't reach it — see
    * [[q166LateDataAudit]]'s scaladoc and StreamingSpec's protocol pin).
    * A straggler is dropped iff its hour window END has passed the
    * watermark (window end exclusive ⇒ `<=`). */
  val q166Oracle: String =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS us,
      |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4) AS BIGINT) % 20 = 0
      |      AS straggler
      |  FROM events),
      |cut AS (
      |  SELECT max(us) - 1800000000 AS c FROM e WHERE NOT straggler),
      |wm AS (
      |  SELECT (max(us) // 1000 - 3600000) * 1000 AS w FROM e
      |  WHERE NOT straggler AND us <= (SELECT c FROM cut))
      |SELECT count(*) AS n_total,
      |  CAST(coalesce(sum(CASE WHEN straggler THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS n_stragglers,
      |  CAST(coalesce(sum(CASE WHEN straggler
      |    AND ((us // 3600000000) + 1) * 3600000000 <= (SELECT w FROM wm)
      |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_late_dropped,
      |  count(*) - CAST(coalesce(sum(CASE WHEN straggler
      |    AND ((us // 3600000000) + 1) * 3600000000 <= (SELECT w FROM wm)
      |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_counted
      |FROM e""".stripMargin

  /** Probe-only (`tools.StreamProbe --paced N --late D`): the q166
    * late-data ACCOUNTING applied to an out-of-order paced replay. Runs the
    * standard 1-hour-watermarked hourly count aggregation in update mode
    * over `dir`'s events (one file per micro-batch under the paced
    * [[probeMaxFilesPerTrigger]] override) and returns one audit row
    * `(n_total, n_counted, n_late_dropped)`:
    *
    *   - `n_counted` = Σ over windows of the FINAL aggregate state (max n
    *     per window across update emissions) — the portable accounting,
    *     because for streaming aggregations Spark filters late rows BEFORE
    *     partial aggregation and `numRowsDroppedByWatermark` reads 0
    *     (q166 finding 1; joins report store-side drops, aggs don't).
    *   - `n_late_dropped` = n_total − n_counted.
    *
    * The probe compares this measured loss against the analytic per-batch
    * prediction it derives from the chunk arrival order with q166's pinned
    * cutoff arithmetic (late filter in batch b uses the ms-floored max
    * event time of batches ≤ b−2, minus the 1 h horizon; a row is dropped
    * iff its hour-window END ≤ that watermark — q166 finding 2, the lagged
    * protocol). Never on the driver contract path. */
  private[graft] def probeLateHourlyAudit(outer: SparkSession, dir: String): DataFrame =
      withStateParallelism(outer, 4) { s =>
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val name = s"graft_late_probe_${counter.incrementAndGet()}"
    val src = graft.Tables.canonicalTs(eventsFileStream(s, dir, rawSchema))
    val agg = src.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
    drainBounded(ckpt => agg.writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", ckpt))
    // update-mode sink appends every emission; max(n) per window = final state
    val counted = drainSink(s, name)
      .groupBy(col("window")).agg(max(col("n")).as("n"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("c")).collect()(0).getLong(0)
    val total = s.read.parquet(s"$dir/events.parquet").count()
    import s.implicits._
    Seq((total, counted, total - counted))
      .toDF("n_total", "n_counted", "n_late_dropped")
  }

  /** q168: streaming dedup within watermark — `dropDuplicatesWithinWatermark`
    * as an oracle-certified operator, with its THREE boundary rules pinned
    * empirically (StreamingSpec pins them through this query on a crafted
    * non-aligned fixture):
    *
    *   1. LATE FILTER, two-batch lag: batch N drops an arriving row iff
    *      `ts ≤ W_f` where W_f = watermark from batch N−2's stats (same
    *      lagged protocol q166 pins for aggregation, boundary INCLUSIVE —
    *      a dup exactly at W_f was dropped).
    *   2. DEDUP: a surviving row whose key has live state is suppressed;
    *      a first arrival (or a dup whose state was evicted) is emitted.
    *      Duplicates do NOT extend state lifetime (expiry stays at
    *      first-arrival ts + delay).
    *   3. EVICTION, end of batch, ALSO two-batch-lagged as seen by the
    *      next batch: batch N−1 evicts with the watermark from batch
    *      N−2's stats (boundary inclusive — a key with expiry == W was
    *      evicted), so the state batch N reads has been trimmed by
    *      exactly W_f, the SAME watermark its late filter uses.
    *
    * Consequence (a theorem this audit pins): an EXACT-ts replay can
    * NEVER be re-emitted — evicted ⟹ ts + delay ≤ W_f ⟹ ts < W_f ⟹
    * late-dropped first; the late filter strictly dominates eviction.
    * (The first spec draft expected exact replays to re-emit and measured
    * 0 — rule 3's lag is why.) Re-emission — the real dedup hazard — is
    * reserved for RESTAMPED duplicates: at-least-once redelivery where
    * the retry carries a NEWER event time (retry-time stamping), the
    * scenario `dropDuplicatesWithinWatermark` exists for. A restamped
    * dup (original ts, arrival ts + 2 h) is re-emitted iff
    * `ts + 2h > W_f AND ts + 1h ≤ W_f` — new stamp on time, old state
    * gone. The audit replays every event with original ts in
    * `(W_f − 3 h, cut]` (cut = max − 90 min), restamped +2 h, as a third
    * wave after a clock-advancing second wave (b1 = ts ≤ cut, b2 =
    * rest, b3 = the retries). Anchoring the retry window to W_f rather
    * than md5-sampling the bulk keeps all three outcome classes
    * populated at any event density — a bulk sample lands almost
    * entirely in the late class because the non-late region is only the
    * last ~4 h of a month-long stream (first design measured 490/0/0).
    * n_late_dropped is read from the state operator's
    * `numRowsDroppedByWatermark` (for ROW-LEVEL dedup the store-side
    * metric IS populated, unlike aggregation's pre-filter — the exact
    * complement of q166's metric finding); n_reemitted from keys emitted
    * twice in the append sink. The oracle re-derives all counts from the
    * pinned rules analytically. Replay instrumentation (coalesce(1),
    * stamped mtimes, maxFilesPerTrigger=1) is the q166 test shape, not
    * the production shape — live streams instrument their own dedup stage
    * and read the same metrics. */
  def q168StreamDedupAudit(outer: SparkSession, dir: String): DataFrame =
      withStateParallelism(outer, 4) { s =>
    val ev = graft.Tables.events(s, dir).select(col("event_id"), col("ts"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-")
    try {
      val maxRow = ev.agg(max(unix_micros(col("ts")))).collect()(0)
      if (maxRow.isNullAt(0)) {
        // no events: nothing streams, nothing drops (EmptyDataSpec class)
        import s.implicits._
        Seq((0L, 0L, 0L, 0L, 0L)).toDF("n_events", "n_retries_replayed",
          "n_late_dropped", "n_reemitted", "n_suppressed")
      } else {
        val cut = maxRow.getLong(0) - 5400L * 1000000L // µs, oracle-shared
        val cutTs = timestamp_micros(lit(cut))
        val b1 = ev.filter(col("ts") <= cutTs)
        b1.coalesce(1).write.parquet(s"$tmp/b1")
        ev.filter(col("ts") > cutTs).coalesce(1).write.parquet(s"$tmp/b2")
        // W_f from wave 1's stats (nullable: b1 can be empty when all
        // events sit within 90 min of max — then no retries replay at all)
        val m1Row = b1.agg(max(unix_micros(col("ts")))).collect()(0)
        val wf = if (m1Row.isNullAt(0)) Long.MinValue
                 else (m1Row.getLong(0) / 1000L - 3600000L) * 1000L
        val retryFrom = timestamp_micros(lit(
          if (wf == Long.MinValue) Long.MaxValue else wf - 10800L * 1000000L))
        val retries = col("ts") > retryFrom && col("ts") <= cutTs
        ev.filter(retries)
          .withColumn("ts", expr("ts + INTERVAL 2 HOURS")) // restamped retry
          .coalesce(1).write.parquet(s"$tmp/b3")
        def stamp(sub: String, t: Long): Unit =
          new java.io.File(s"$tmp/$sub").listFiles().foreach(_.setLastModified(t))
        stamp("b1", 1000000000000L)
        stamp("b2", 1000000060000L)
        stamp("b3", 1000000120000L)
        val schema = s.read.parquet(s"$tmp/b1").schema
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.parquet")
          .parquet(tmp.toString)
        val ded = src.withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
        val name = s"graft_dedup_audit_${counter.incrementAndGet()}"
        val ckpt = scratchCheckpoint()
        val (nLate, nRe) =
          try {
            val q = ded.writeStream.format("memory").queryName(name)
              .outputMode("append").option("checkpointLocation", ckpt.toString).start()
            try q.processAllAvailable()
            finally q.stop()
            val late = q.recentProgress.flatMap(_.stateOperators)
              .map(_.numRowsDroppedByWatermark).sum
            val re = s.table(name).groupBy(col("event_id"))
              .agg(count(lit(1)).as("n"))
              .agg(coalesce(sum(col("n") - 1), lit(0L)).as("re"))
              .collect()(0).getLong(0)
            (late, re)
          } finally {
            s.catalog.dropTempView(name)
            import scala.jdk.CollectionConverters._
            try java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
            catch { case scala.util.control.NonFatal(_) => () }
          }
        val t = ev.agg(count(lit(1)).as("n"),
          coalesce(sum(when(retries, 1L).otherwise(0L)), lit(0L)).as("nd"))
          .collect()(0)
        import s.implicits._
        Seq((t.getLong(0), t.getLong(1), nLate, nRe, t.getLong(1) - nLate - nRe))
          .toDF("n_events", "n_retries_replayed", "n_late_dropped", "n_reemitted",
            "n_suppressed")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      try java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** The pinned rules, analytically. W_f = ms-floored max(b1) − 1 h — the
    * ONE lagged watermark both the late filter and the visible eviction
    * horizon reduce to. A restamped dup (original ts, arrival ts + 2 h):
    * late iff arrival ≤ W_f; re-emitted iff arrival > W_f and its state
    * expired (ts + 1 h ≤ W_f); suppressed otherwise. */
  val q168Oracle: String =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS us FROM events),
      |m AS (SELECT max(us) AS mu FROM e),
      |cut AS (SELECT mu - 5400000000 AS c FROM m),
      |wf AS (
      |  SELECT (max(us) // 1000 - 3600000) * 1000 AS v FROM e
      |  WHERE us <= (SELECT c FROM cut)),
      |d AS (SELECT us FROM e
      |      WHERE us > (SELECT v FROM wf) - 10800000000
      |        AND us <= (SELECT c FROM cut))
      |SELECT
      |  (SELECT count(*) FROM e) AS n_events,
      |  (SELECT count(*) FROM d) AS n_retries_replayed,
      |  CAST(coalesce(sum(CASE WHEN us + 7200000000 <= (SELECT v FROM wf)
      |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_late_dropped,
      |  CAST(coalesce(sum(CASE WHEN us + 7200000000 > (SELECT v FROM wf)
      |    AND us + 3600000000 <= (SELECT v FROM wf)
      |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_reemitted,
      |  CAST(coalesce(sum(CASE WHEN us + 3600000000 > (SELECT v FROM wf)
      |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_suppressed
      |FROM d""".stripMargin

  /** q186: checkpoint-restart continuity — the exactly-once-across-restart
    * guarantee the whole streaming suite rests on, finally exercised
    * end-to-end (VERDICT r7 next-round #5). The suite pins watermark and
    * state semantics, but every prior run is a SINGLE query lifetime; a
    * production stream is stopped and restarted from its checkpoint every
    * deploy, and correctness there needs BOTH halves of the recovery
    * contract at once: the source must not re-serve offsets the commit
    * log already covers, and the state store must restore the aggregation
    * state those offsets built.
    *
    * Test-shape harness (disclosed, the q168 convention): events are
    * re-laid out into a part-file directory split in two deterministic
    * halves (`event_id % 2`). Phase 1 streams half the files to a DURABLE
    * checkpoint and stops — a planned shutdown standing in for the crash
    * (the recovery path is identical: both resume from the last committed
    * offset + state snapshot; an unplanned kill would only add torn-batch
    * replay, which the file source's idempotent planning absorbs). The
    * remaining files then land, and a NEW query instance — same plan,
    * same checkpoint — drains to completion. The final complete-mode
    * result equals the batch answer over ALL events iff phase-2 recovered
    * phase-1's state (lost state ⇒ missing counts) and did not replay
    * phase-1's files (replay ⇒ doubled counts) — either failure breaks
    * the oracle hash. Output shape/oracle = q24's hourly aggregation. */
  def q186CheckpointRestart(outer: SparkSession, dir: String): DataFrame =
      withStateParallelism(outer, 4) { s =>
    val scratch = java.nio.file.Files.createTempDirectory("graft-restart-")
    try {
      val evDir = s"$scratch/events.parquet"
      val all = graft.Tables.canonicalTs(s.read.parquet(s"$dir/events.parquet"))
      all.filter(col("event_id") % 2 === 0).repartition(4).write.parquet(evDir)
      val ckpt = s"$scratch/ckpt"
      val schema = s.read.parquet(evDir).schema
      def agg(): DataFrame = s.readStream.schema(schema).parquet(evDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(graft.Exact.cents(col("value"))).as("sum_value_cents"))
      def run(name: String): Unit = {
        val q = agg().writeStream.format("memory").queryName(name)
          .outputMode("complete").option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      val n1 = s"graft_restart_p1_${counter.incrementAndGet()}"
      run(n1) // phase 1: half the files, committed to the checkpoint
      s.catalog.dropTempView(n1)
      // the second half lands after the stream stopped
      all.filter(col("event_id") % 2 === 1).repartition(4)
        .write.mode("append").parquet(evDir)
      val n2 = s"graft_restart_p2_${counter.incrementAndGet()}"
      run(n2) // phase 2: NEW query instance, SAME checkpoint
      drainSink(s, n2)
        .select(
          expr("unix_seconds(window.start)").as("hour_epoch_s"),
          col("event_type"),
          col("n_events"),
          (col("sum_value_cents").cast("double") / lit(100.0)).as("sum_value"))
        .orderBy(col("hour_epoch_s"), col("event_type"))
    } finally {
      import scala.jdk.CollectionConverters._
      try java.nio.file.Files.walk(scratch).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** q224: idempotent `foreachBatch` upsert sink — the exactly-once WRITE
    * law completing q186's exactly-once READ. Structured Streaming gives
    * at-least-once delivery to a custom sink: after a crash between "batch
    * written" and "offset committed", the SAME batch is re-delivered. The
    * canonical production answer is an idempotent upsert — here dynamic
    * partition overwrite keyed by event_type, so re-writing a batch
    * replaces exactly the partitions it already wrote with identical
    * content. The query runs an update-mode aggregation (each batch emits
    * the keys whose cumulative state changed; the mart's per-key partition
    * always holds the latest cumulative row), drains the bounded stream
    * over multiple micro-batches (maxFilesPerTrigger=1), snapshots the
    * mart, then REPLAYS the recorded last batch through the same upsert —
    * the at-least-once retry, forced — and proves the mart is unchanged:
    * `replay_ok` ≡ 1 on every row. A non-idempotent sink (append-mode
    * foreachBatch) would double the last batch's keys and break both the
    * flag and the row hash.
    *
    * Replay instrumentation (recording batches to a side directory) is
    * test-shape, as in q168; the upsert function itself is exactly the
    * production pattern. Oracle: the plain batch aggregate — the restart
    * machinery must be result-invisible — plus the analytic flag. */
  def q224IdempotentSink(outer: SparkSession, dir: String): DataFrame =
      withStateParallelism(outer, 4) { s =>
    val scratch = java.nio.file.Files.createTempDirectory("graft-upsert-")
    try {
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val evDir = s"$scratch/events.parquet"
      val src = graft.Tables.canonicalTs(s.read.parquet(s"$dir/events.parquet"))
      src.repartition(4).write.parquet(evDir)
      val mart = s"$scratch/mart"
      val batches = s"$scratch/batches"
      // from the source frame, not the written dir: an all-empty write
      // leaves no part files to infer from (round-3 gotcha)
      val schema = src.schema
      // the dynamic mode rides on the WRITE (round-8 gotcha: a conf set on
      // the wrong session object silently no-ops — the per-write option
      // cannot miss)
      def upsert(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): Unit =
        df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("event_type").parquet(mart)
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(evDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(graft.Exact.cents(col("value"))).as("sum_value_cents"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$scratch/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         id: Long) =>
          val snap = df.localCheckpoint() // decouple from streaming lineage
          try {
            upsert(snap)
            snap.write.mode("overwrite").parquet(s"$batches/b=$id")
          } finally snap.unpersist() // stream-thread-local; not Caches-tracked
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      import org.apache.spark.sql.types._
      // explicit schemas throughout: an all-empty source still fires batch 0,
      // and a partitioned write of zero rows leaves no footer to infer from
      // (round-3 gotcha); event_type resolves as the partition column
      val martSchema = StructType(Seq(
        StructField("n_events", LongType), StructField("sum_value_cents", LongType),
        StructField("event_type", StringType)))
      def readMart(): DataFrame = s.read.schema(martSchema).parquet(mart)
      val batchIds = Option(new java.io.File(batches).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("b=")).map(_.getName.stripPrefix("b=").toLong)
      if (batchIds.isEmpty) { // empty source: no batch ever fired, no mart
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("n_events", LongType),
            StructField("sum_value", DoubleType),
            StructField("replay_ok", LongType))))
      } else {
        val before = readMart()
          .collect().map(r => (r.getAs[String]("event_type"),
            r.getAs[Long]("n_events"), r.getAs[Long]("sum_value_cents"))).toSet
        // the forced at-least-once retry: re-deliver the LAST recorded batch
        upsert(s.read.parquet(s"$batches/b=${batchIds.max}"))
        val after = readMart()
        val ok = after.collect().map(r => (r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Long]("sum_value_cents"))).toSet == before
        // materialize before scratch cleanup deletes the parquet underneath
        graft.Caches.trackCheckpoint(after
          .select(col("event_type"), col("n_events"),
            (col("sum_value_cents").cast("double") / lit(100.0)).as("sum_value"),
            lit(if (ok) 1L else 0L).as("replay_ok"))
          .orderBy(col("event_type"))
          .localCheckpoint())
      }
    } finally {
      import scala.jdk.CollectionConverters._
      try java.nio.file.Files.walk(scratch).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  val q224Oracle: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
      |  CAST(1 AS BIGINT) AS replay_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_idempotent_sink" -> (q224IdempotentSink _),
    "q186_checkpoint_restart" -> (q186CheckpointRestart _),
    "q168_stream_dedup_audit" -> (q168StreamDedupAudit _),
    "q166_late_data_audit" -> (q166LateDataAudit _),
    "q24_streaming_hourly" -> (q24StreamingHourly _),
    "q77_stream_static_join" -> (q77StreamStaticJoin _),
    "q103_stream_stream_join" -> (q103StreamStreamJoin _),
    "q128_stream_left_outer" -> (q128StreamLeftOuterJoin _),
    "q192_stream_full_outer" -> (q192StreamFullOuterJoin _),
  )

  val oracles: Map[String, String] = Map(
    "q224_idempotent_sink" -> q224Oracle,
    // identical aggregation to q24; the restart machinery must be
    // result-invisible, which is exactly what sharing the oracle asserts
    "q186_checkpoint_restart" -> q24Oracle,
    "q168_stream_dedup_audit" -> q168Oracle,
    "q166_late_data_audit" -> q166Oracle,
    "q24_streaming_hourly" -> q24Oracle,
    "q77_stream_static_join" -> q77Oracle,
    "q103_stream_stream_join" -> q103Oracle,
    "q128_stream_left_outer" -> q128Oracle,
    "q192_stream_full_outer" -> q192Oracle,
  )
}

package perfbench

import graft.Materialize
import graft.ops.Launches
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** A seeded replay of the reference's daily ELT DAG (ingest → raw append →
  * raw compaction → staging → latest snapshot → mart), one simulated day per
  * op. Days accumulate: day d sees the raw layer of days 1..d.
  *
  * Each day's payload is SpaceX-shaped JSON: a few hundred launches drawn
  * from a fixed universe, with exact repeats inside the day, field updates
  * across days, NULL `success`, junk dates and junk flight numbers. The
  * generator also keeps its own model of the latest state per launch, so the
  * mart the engine writes is checked against counts computed here. */
final class Replay(spark: SparkSession, seed: Long, root: String) {
  import Replay._

  /** Latest (year, success) per launch id, after the days replayed so far. */
  private val state = scala.collection.mutable.Map.empty[String, (Option[Int], Option[Boolean])]
  private def rawPath = s"$root/raw"
  private def martPath = s"$root/mart"

  /** Seconds spent inside `Materialize.*` calls, summed over all days. */
  var materializeSeconds = 0.0

  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally materializeSeconds += (System.nanoTime() - t0) / 1e9
  }

  /** Replays `day` (1-based, in order) and returns the mart's mismatches
    * against the model; empty means correct. */
  def runDay(day: Int): Seq[String] = {
    val rows = payload(seed, day)
    rows.foreach(r => state(r.id) = (r.year, r.success))
    val at = java.time.Instant.parse("2026-01-01T06:00:00Z").plusSeconds(86400L * day)
    val raw = Launches.withLoadTs(Launches.ingestPayload(spark, rows.map(_.json)), at)
      .withColumn("load_day", lit(day))
    timed(Materialize.overwritePartitions(raw, rawPath, "load_day"))
    timed(Materialize.compact(spark, rawPath, partitionCols = Seq("load_day")))
    val stg = Launches.staging(Materialize.readTable(spark, rawPath))
    timed(Materialize.asPartitionedTable(
      Launches.mart(Launches.latestSnapshot(stg)), martPath, "year"))
    check(Materialize.readTable(spark, martPath).collect().toSeq)
  }

  private def check(mart: Seq[org.apache.spark.sql.Row]): Seq[String] = {
    val expected = state.values.groupBy(_._1).map { case (year, launches) =>
      val ok = launches.count(_._2.contains(true)).toLong
      year -> (launches.size.toLong, ok, launches.size - ok)
    }
    val got = mart.map { r =>
      val year = Option(r.getAs[Any]("year")).map(_.toString.toInt)
      year -> (r.getAs[Long]("launches"), r.getAs[Long]("successes"), r.getAs[Long]("failures"))
    }.toMap
    val rates = mart.flatMap { r =>
      val (n, ok) = (r.getAs[Long]("launches"), r.getAs[Long]("successes"))
      val want = (BigDecimal(100 * ok) / BigDecimal(n)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      val rate = BigDecimal(r.getAs[java.math.BigDecimal]("success_rate_pct"))
      if (rate == want) None else Some(s"rate $rate != $want for year ${r.getAs[Any]("year")}")
    }
    val counts = (expected.keySet ++ got.keySet).toSeq.flatMap { y =>
      if (expected.get(y) == got.get(y)) None
      else Some(s"year $y: mart ${got.get(y)} != model ${expected.get(y)}")
    }
    counts ++ rates
  }
}

object Replay {
  private val Universe = 600

  final case class Launch(id: String, year: Option[Int], success: Option[Boolean], json: String)

  /** The day's payload lines, a pure function of (seed, day). Repeats inside
    * a day are exact copies, so the latest snapshot never depends on which
    * copy wins a `load_ts` tie. */
  def payload(seed: Long, day: Int): Seq[Launch] = {
    val rnd = new scala.util.Random(seed * 1000003L + day)
    val n = 200 + rnd.nextInt(51)
    val ids = rnd.shuffle((0 until Universe).toVector).take(n)
    val launches = ids.map { i =>
      val id = f"${i * 2654435761L & 0xffffffffffL}%024x"
      val (date, year) =
        if (rnd.nextInt(20) == 0) (Seq("TBD", "", "2020/05/30", "not-a-date")(rnd.nextInt(4)), None)
        else {
          val y = 2006 + rnd.nextInt(19)
          (f"$y-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02dT" +
            f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00.000Z", Some(y))
        }
      val success = rnd.nextInt(20) match {
        case k if k < 12 => Some(true)
        case k if k < 17 => Some(false)
        case _ => None
      }
      val flight = if (rnd.nextInt(30) == 0) "\"N/A\"" else s"\"${i + 1}\""
      val json = s"""{"id":"$id","name":"Launch $i","date_utc":"$date",""" +
        s""""success":${success.fold("null")(_.toString)},"rocket":"${f"${i % 7}%024x"}",""" +
        s""""flight_number":$flight,"upcoming":${year.isEmpty},""" +
        s""""details":"day $day payload for launch $i"}"""
      Launch(id, year, success, json)
    }
    rnd.shuffle(launches ++ launches.filter(_ => rnd.nextInt(10) == 0))
  }
}

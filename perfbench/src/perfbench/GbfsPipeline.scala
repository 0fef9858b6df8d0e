package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.Trigger

import graft.dbt.{DagRunner, EngineConfig, Materialization, ModelRegistry, SchemaTest}
import graft.gbfs.{GbfsModels, GbfsSchemas}
import graft.ingest.Loaders
import graft.sources.Tables
import graft.streaming.StatusStreamPipeline

/** Seeded synthetic Oslo-style GBFS feeds: station information, one-minute
  * station-status snapshots split into deliveries, and a historic-trips
  * CSV. Everything is drawn up front from the seed, so each delivery's
  * files are the same whenever and however often they land; the expected
  * mart contents are counted from the same draws.
  */
final class GbfsFeed(seed: Long) {
  import GbfsFeed._

  final case class Station(id: String, name: String, lat: Double, lon: Double,
      capacity: Int, virtual: Boolean)
  final case class Status(station: Station, bikes: Int, docks: Int,
      installed: Boolean, renting: Boolean, returning: Boolean, reported: Long)
  final case class Snapshot(epoch: Long, rows: Seq[Status])
  final case class Trip(start: Long, end: Long, duration: Int, from: Station, to: Station)

  private def rng(stream: Long) = new SplittableRandom(seed * 1000003L + stream)

  val stations: Seq[Station] = {
    val r = rng(-1)
    (0 until Stations).map { i =>
      Station((400 + 17 * i).toString, s"Stasjon $i",
        59.90 + r.nextDouble() * 0.05, 10.70 + r.nextDouble() * 0.10,
        10 + r.nextInt(30), r.nextInt(10) == 0)
    }
  }

  private val drawn = mutable.Map.empty[Int, Seq[Snapshot]]

  /** Snapshots of delivery k: the first delivery backfills more history. */
  def snapshots(k: Int): Seq[Snapshot] = drawn.getOrElseUpdate(k, {
    val r = rng(k)
    val first = if (k == 0) 0 else BackfillSnapshots + (k - 1) * SnapshotsPerDelivery
    val n = if (k == 0) BackfillSnapshots else SnapshotsPerDelivery
    (first until first + n).map { j =>
      val epoch = BaseEpoch + 60L * j
      Snapshot(epoch, stations.map { s =>
        val bikes = r.nextInt(s.capacity + 1)
        Status(s, bikes, s.capacity - bikes - (if (r.nextInt(10) == 0) 1 else 0) max 0,
          r.nextInt(50) != 0, r.nextInt(20) != 0, r.nextInt(20) != 0,
          epoch - r.nextInt(30))
      })
    }
  })

  val trips: Seq[Trip] = {
    val r = rng(-2)
    (0 until Trips).map { _ =>
      val start = BaseEpoch - 86400L * (1 + r.nextInt(TripDays)) + r.nextInt(86400)
      val secs = 120 + r.nextInt(2400)
      val reported = if (r.nextInt(20) == 0) secs + 1 + r.nextInt(60) else secs
      Trip(start, start + secs, reported, stations(r.nextInt(stations.size)),
        stations(r.nextInt(stations.size)))
    }
  }

  /** ingest_datetime of delivery k: 30 s after its last snapshot. */
  def ingestAt(k: Int): java.sql.Timestamp =
    new java.sql.Timestamp(1000L * (snapshots(k).last.epoch + 30))

  /** The pinned `current_date()` of every model run. */
  val today: LocalDate = Instant.ofEpochSecond(BaseEpoch).atZone(ZoneOffset.UTC).toLocalDate.plusDays(1)

  def statusJson(s: Snapshot): String =
    s"""{"last_updated":${s.epoch},"ttl":10,"version":"2.3","data":{"stations":[""" +
      s.rows.map { st =>
        s"""{"station_id":"${st.station.id}","num_bikes_available":${st.bikes},""" +
          s""""num_docks_available":${st.docks},"is_installed":${st.installed},""" +
          s""""is_renting":${st.renting},"is_returning":${st.returning},""" +
          s""""last_reported":${st.reported}}"""
      }.mkString(",") + "]}}"

  def informationJson: String =
    s"""{"last_updated":$BaseEpoch,"ttl":10,"version":"2.3","data":{"stations":[""" +
      stations.map { s =>
        s"""{"station_id":"${s.id}","name":"${s.name}","address":"Gate ${s.id}",""" +
          s""""cross_street":"Hjørne ${s.id}","lat":${s.lat},"lon":${s.lon},""" +
          s""""capacity":${s.capacity},"is_virtual_station":${s.virtual},""" +
          s""""rental_uris":{"android":"oslobysykkel://stations/${s.id}",""" +
          s""""ios":"oslobysykkel://stations/${s.id}","web":"https://oslobysykkel.no/${s.id}"}}"""
      }.mkString(",") +
      """],"tariffs":[{"tariff_id":"day","name":"Dagspass","cost_per_hour":49.0,""" +
      """"currency":"NOK","duration_minutes":60},{"tariff_id":"year","name":"Årskort",""" +
      """"cost_per_hour":0.0,"currency":"NOK","duration_minutes":60}]}}"""

  def tripsCsv: String = {
    val header = "started_at,ended_at,duration,start_station_id,start_station_name," +
      "start_station_description,start_station_latitude,start_station_longitude," +
      "end_station_id,end_station_name,end_station_description," +
      "end_station_latitude,end_station_longitude"
    (header +: trips.map { t =>
      Seq(tripTs(t.start), tripTs(t.end), t.duration.toString,
        t.from.id, t.from.name, s"ved ${t.from.name}", t.from.lat.toString, t.from.lon.toString,
        t.to.id, t.to.name, s"ved ${t.to.name}", t.to.lat.toString, t.to.lon.toString)
        .mkString(",")
    }).mkString("\n") + "\n"
  }

  /** Expected mart contents after delivery k (row counts and exact
    * integer column sums), counted from the draws without Spark.
    */
  def expected(k: Int): Map[String, Seq[Long]] = {
    val seen = (0 to k).flatMap(snapshots).flatMap(_.rows)
    val byStation = seen.groupBy(_.station.id)
    def n(p: Status => Boolean) = seen.count(p).toLong
    Map(
      "mart_station_availability" -> Seq(seen.size.toLong, seen.map(_.bikes.toLong).sum,
        seen.map(_.docks.toLong).sum),
      "mart_station_uptime" -> Seq(byStation.size.toLong, seen.size.toLong,
        n(_.installed), n(_.renting), n(_.returning)),
      "mart_trip_metrics" -> Seq(
        trips.map(t => (tripDate(t.start), t.from.id)).distinct.size.toLong,
        trips.size.toLong, trips.count(t => t.duration != t.end - t.start).toLong),
      "stream_sink" -> Seq(seen.size.toLong))
  }
}

object GbfsFeed {
  val Stations = 40
  val BackfillSnapshots = 20
  val SnapshotsPerDelivery = 5
  val Trips = 3000
  val TripDays = 6
  /** 2025-05-11 00:00:00 UTC. */
  val BaseEpoch = 1746921600L

  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS'+00:00'")
  def tripTs(epoch: Long): String =
    Instant.ofEpochSecond(epoch).atZone(ZoneOffset.UTC).format(tsFormat)
  def tripDate(epoch: Long): LocalDate = Instant.ofEpochSecond(epoch).atZone(ZoneOffset.UTC).toLocalDate

  /** The archive object name of the reference layout:
    * gbfs/{feed}/{YYYY}/{MM}/{DD}/{ts}-{suffix}-{feed}.json
    */
  def archivePath(root: Path, feed: String, epoch: Long, suffix: String): Path = {
    val t = Instant.ofEpochSecond(epoch).atZone(ZoneOffset.UTC)
    root.resolve(f"gbfs/$feed/${t.getYear}%04d/${t.getMonthValue}%02d/${t.getDayOfMonth}%02d/" +
      t.format(DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'000000Z'")) + s"-$suffix-$feed.json")
  }
}

/** The `gbfs_pipeline` workload: the paper's own pipeline over seeded
  * feeds, one delivery at a time. A delivery lands its files, then —
  * timed from landing to marts rebuilt and tested — loads the feeds into
  * the raw tables, runs the status stream into its sink with an
  * AvailableNow trigger, runs the model DAG, then its schema tests. The
  * first delivery into empty directories is a full refresh of every GBFS
  * model; each later one is an incremental run of the models fed by
  * station status. A timed pass is one incremental delivery.
  */
final class GbfsPipeline(spark: SparkSession, root: String, seed: Long)
    extends Workload {
  private val feed = new GbfsFeed(seed)

  /** The marts fed by station status, plus what they need. */
  private val statusMarts = Seq("mart_station_availability", "mart_station_uptime",
    "fact_station_uptime", "fact_station_status_latest", "dim_date")
  /** Every GBFS model; the jaffle-shop demo models are not part of it. */
  private val allMarts = statusMarts ++ Seq("mart_trip_metrics", "dim_tariff")

  def opsPerPass: Int = 1

  private final class Dirs(val base: String) {
    val landing = s"$base/landing"
    val inbox = s"$base/inbox"
    val stationInfo = s"$base/static/station_information.json"
    val trips = s"$base/static/trips.csv"
    val rawStatus = s"$base/raw/station_status"
    val rawInfo = s"$base/raw/station_information"
    val warehouse = s"$base/warehouse"
    val sink = s"$base/sink"
    val checkpoint = s"$base/checkpoint"
    var nextDelivery = 0
    var inputBytes = 0L
  }

  /** Warm-up deliveries land here, and so do the untraced timed ones. */
  private val warm = new Dirs(s"$root/warm")
  private var timed = warm
  private var checked, checkFailed = 0

  private def write(p: Path, s: String): Long = {
    Files.createDirectories(p.getParent)
    val bytes = s.getBytes(UTF_8)
    Files.write(p, bytes)
    bytes.length
  }

  /** Lands the next delivery; returns its index and its batch-landing
    * status files.
    */
  private def land(d: Dirs): (Int, Seq[String]) = {
    val k = d.nextDelivery
    d.nextDelivery += 1
    val status = feed.snapshots(k).map { s =>
      val json = feed.statusJson(s)
      // the stream reads its own copy, as a subscriber gets the message
      write(GbfsFeed.archivePath(Paths.get(d.inbox), "station_status", s.epoch, "s"), json)
      val p = GbfsFeed.archivePath(Paths.get(d.landing), "station_status", s.epoch, "b")
      d.inputBytes += write(p, json)
      p.toString
    }
    if (k == 0) {
      d.inputBytes += write(GbfsFeed.archivePath(Paths.get(d.landing), "station_information",
        GbfsFeed.BaseEpoch, "b"), feed.informationJson)
      write(Paths.get(d.stationInfo), feed.informationJson)
      d.inputBytes += write(Paths.get(d.trips), feed.tripsCsv)
    }
    (k, status)
  }

  private def sources(d: Dirs): (String, String) => DataFrame = {
    case ("gbfs", "raw_station_status") => spark.read.parquet(d.rawStatus)
    case ("gbfs", "raw_station_information") => spark.read.parquet(d.rawInfo)
    case ("trips", "raw_historic_trips") =>
      Loaders.cleanTrips(Tables.csvWithSchema(spark, d.trips, GbfsSchemas.rawHistoricTripsDdl))
    case (s, t) => sys.error(s"source $s.$t not provided")
  }

  private def kind(m: Materialization): String = m match {
    case Materialization.View => "view"
    case Materialization.Table => "table"
    case Materialization.Ephemeral => "ephemeral"
    case _: Materialization.Incremental => "incremental"
    case _: Materialization.Snapshot => "snapshot"
  }

  /** The GBFS registry; under a trace each model's build closes the
    * previous model's span and opens its own, so a model's span runs from
    * its build to the next model's, its materialization included.
    */
  private def registry(tr: Tracing, parent: Span, spans: mutable.Buffer[(Span, String)])
      : ModelRegistry = {
    val base = GbfsModels.registry()
    if (tr == null) return base
    val r = new ModelRegistry
    base.all.foreach { m =>
      r.register(m.copy(build = ctx => {
        spans.lastOption.foreach { case (s, _) => tr.trace.close(s) }
        spans += tr.trace.open(parent, s"model ${m.name}") -> kind(m.materialization)
        m.build(ctx)
      }))
    }
    r
  }

  /** Lands and runs the next delivery into `d`; under a trace, returns
    * the delivery's per-layer counters too.
    */
  private def delivery(tr: Tracing, d: Dirs): (Sample, Map[String, Double]) = {
    val (k, landed) = land(d)
    val sc = spark.sparkContext
    if (tr != null) tr.listener.take(sc) // landing is not part of the delivery
    val op = if (tr == null) null else tr.trace.open(tr.pass, s"delivery $k")
    val steps = mutable.ArrayBuffer.empty[(Span, SparkWork)]
    val models = mutable.ArrayBuffer.empty[(Span, String)]
    var current: Span = null
    def step[T](name: String)(f: => T): T =
      if (tr == null) f
      else {
        current = tr.trace.open(op, name)
        val s = current
        try f finally {
          if (name == "dbt.run") models.lastOption.foreach { case (m, _) => tr.trace.close(m) }
          tr.trace.close(s)
          steps += s -> tr.listener.take(sc)
        }
      }
    var ok = true
    var streamMs, streamRows = 0.0
    val t0 = System.nanoTime()
    try {
      step("ingest") {
        Loaders.appendAndRetire(spark, Loaders.loadGbfsFeed(spark,
          s"${d.landing}/gbfs/station_status", "station_status", Some(feed.ingestAt(k))),
          d.rawStatus, landed)
        if (k == 0)
          Loaders.appendAndRetire(spark, Loaders.loadGbfsFeed(spark,
            s"${d.landing}/gbfs/station_information", "station_information",
            Some(feed.ingestAt(k))), d.rawInfo, Nil)
      }
      step("streaming") {
        val q = StatusStreamPipeline.run(spark, StatusStreamPipeline.fileSource(spark, d.inbox),
          d.stationInfo, d.sink, d.checkpoint, Trigger.AvailableNow())
        // an AvailableNow query ends once the backlog is drained; one that
        // does not is a failed delivery, not a hung run
        if (!q.awaitTermination(GbfsPipeline.StreamTimeoutMs)) {
          q.stop()
          sys.error(s"stream did not drain within ${GbfsPipeline.StreamTimeoutMs} ms")
        }
        q.recentProgress.foreach { p =>
          streamMs += Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
          streamRows += p.numInputRows
        }
      }
      val (built, reg, runner) = step("dbt.run") {
        val reg = registry(tr, current, models)
        val runner = new DagRunner(spark, reg, sources(d), d.warehouse,
          EngineConfig(today = Some(feed.today)))
        (runner.run(select = if (k == 0) allMarts else statusMarts, runTests = false,
          fullRefresh = k == 0), reg, runner)
      }
      step("dbt.tests") {
        val failures = built.keys.toSeq.sorted.flatMap { name =>
          val m = reg(name)
          if (m.tests.isEmpty) Nil else SchemaTest.report(name, m.tests, built(name), runner.resolve)
        }.filter(_._2 > 0)
        if (failures.nonEmpty) {
          System.err.println(s"OPERATION FAILED delivery $k: schema tests ${failures.mkString(", ")}")
          ok = false
        }
      }
    } catch { case e: Exception => Gates.report(s"delivery $k", e); ok = false }
    val sample = Sample(s"delivery $k", (System.nanoTime() - t0) / 1e9, ok)
    if (tr == null) return (sample, Map.empty)

    tr.trace.close(op)
    val all = SparkWork(steps.flatMap(_._2.jobs).toSeq, steps.flatMap(_._2.stages).toSeq,
      steps.flatMap(_._2.queries).toSeq, steps.map(_._2.aqeUpdates).sum)
    Layers.jobSpans(tr.trace, all, op, steps.map(_._1).toSeq ++ models.map(_._1))
    val c = Layers.counters(all, op)
    def work(n: String) = steps.find(_._1.name == n)
    def stepMs(n: String) = work(n).map(_._1.ms).getOrElse(0.0)
    def written(n: String, f: QueryEvent => Long) =
      work(n).map(_._2.queries.map(f).sum).getOrElse(0L).toDouble
    c("ingest.load_ms") = stepMs("ingest")
    c("ingest.rows") = written("ingest", _.rowsWritten)
    c("streaming.batch_ms") = streamMs
    c("streaming.rows") = streamRows
    c("dbt.run_ms") = stepMs("dbt.run")
    c("dbt.tests_ms") = stepMs("dbt.tests")
    Seq("view", "table", "incremental", "ephemeral").foreach { kd =>
      c(s"dbt.model_ms.$kd") = models.filter(_._2 == kd).map(_._1.ms).sum }
    c("warehouse.bytes_written") = written("dbt.run", _.bytesWritten)
    c("warehouse.files_written") = written("dbt.run", _.filesWritten)
    c("exec.busy_ratio") = c("exec.task_ms") / (op.ms * tr.cores)
    c.foreach { case (kk, v) => op.attrs(kk) = v }
    (sample, c.toMap)
  }

  /** Mart row counts and integer sums, and the stream sink's row count,
    * against the counts drawn from the feed; true when all match.
    */
  private def martsMatch(d: Dirs): Boolean = {
    def read(n: String) = spark.read.parquet(s"${d.warehouse}/$n")
    def sums(df: DataFrame, cols: String*): Seq[Long] = {
      val r = df.agg(count(lit(1)), cols.map(c => sum(col(c)).cast("long")): _*).head()
      (0 to cols.size).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    }
    val got = Map(
      "mart_station_availability" -> sums(read("mart_station_availability"),
        "bikes_available", "docks_available"),
      "mart_station_uptime" -> sums(read("mart_station_uptime"), "total_snapshots",
        "installed_snapshots", "renting_snapshots", "returning_snapshots"),
      "mart_trip_metrics" -> sums(read("mart_trip_metrics"), "total_trips_started",
        "count_mismatched_durations"),
      "stream_sink" -> sums(spark.read.parquet(d.sink)))
    val k = d.nextDelivery - 1
    val want = feed.expected(k)
    val bad = want.keys.toSeq.sorted.filter(n => got(n) != want(n))
    bad.foreach(n => System.err.println(
      s"CHECK FAILED delivery $k $n: got ${got(n)}, want ${want(n)}"))
    bad.isEmpty
  }

  private def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  /** The full refresh and one incremental delivery; each delivery's
    * marts are checked here, outside any timing.
    */
  def warmup(): Unit = (1 to 2).foreach { pass =>
    val (s, _) = delivery(null, warm)
    checked += 1
    if (!(s.ok && martsMatch(warm))) checkFailed += 1
    Warmup.log(pass, s.seconds)
  }

  /** A traced run also traces a full refresh, into fresh directories the
    * timed deliveries then continue; an untraced run continues the
    * warm-up's directories.
    */
  override def beforeTimed(tr: Tracing): Pass =
    if (tr == null) Pass(0, Nil)
    else {
      timed = new Dirs(s"$root/timed")
      // its other counters stay on its span: the per-layer medians are
      // over incremental deliveries
      val (s, _) = delivery(tr, timed)
      Pass(s.seconds, Nil, Map("dbt.full_refresh_ms" -> 1000 * s.seconds), unsampled = Seq(s))
    }

  def pass(tr: Tracing): Pass = {
    val t0 = System.nanoTime()
    val (s, c) = delivery(tr, timed)
    Pass((System.nanoTime() - t0) / 1e9, Seq(s), c)
  }

  override def finalLayers(passes: Seq[Pass]): Map[String, Double] =
    Map("warehouse.bytes_stored_per_input_byte" ->
      Seq(timed.warehouse, timed.rawStatus, timed.rawInfo, timed.sink).map(dirBytes).sum.toDouble /
        timed.inputBytes)

  def check(): (Int, Int) = (checked, checkFailed)
}

object GbfsPipeline {
  val StreamTimeoutMs = 60000L
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.ingest.Loaders

class LoadersSpec extends SparkSpec {
  import spark.implicits._

  private def writeFeedFile(dir: String, name: String): String = {
    val json =
      """{"last_updated": 1747000000, "ttl": 10, "version": "2.3",
         "data": {"stations": [
           {"station_id": "s1", "name": "Alpha", "lat": 59.9, "lon": 10.7,
            "capacity": 30,
            "station_area": {"type": "MultiPolygon", "coordinates": [[[[1.0, 2.0]]]]}},
           {"station_id": "s2", "name": "Beta", "lat": 59.91, "lon": 10.71,
            "capacity": 20,
            "station_area": {"type": "MultiPolygon", "coordinates": [[[[3.0, 4.0]]]]}}],
          "tariffs": [{"tariff_id": "t1", "cost_per_hour": 12.5}]}}"""
    val p = Paths.get(dir, name)
    Files.writeString(p, json)
    p.toString
  }

  test("loadGbfsFeed(station_status) drops station_area structurally") {
    val dir = tmpDir("gbfs-json")
    writeFeedFile(dir, "f1.json")
    val df = Loaders.loadGbfsFeed(spark, dir, "station_status",
      ingestAt = Some(java.sql.Timestamp.valueOf("2025-05-11 21:47:00")))
    val elem = df.schema("data").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("stations").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(!elem.fieldNames.contains("station_area"))
    assert(elem.fieldNames.contains("station_id"))
    assert(df.select(explode(col("data.stations")).as("s"))
      .select("s.station_id").as[String].collect().sorted
      .sameElements(Array("s1", "s2")))
  }

  test("loadGbfsFeed(station_information) serializes data to data_json") {
    val dir = tmpDir("gbfs-json2")
    writeFeedFile(dir, "f1.json")
    val df = Loaders.loadGbfsFeed(spark, dir, "station_information",
      ingestAt = Some(java.sql.Timestamp.valueOf("2025-05-11 21:47:00")))
    assert(df.columns.contains("data_json") && !df.columns.contains("data"))
    val j = df.select("data_json").as[String].head()
    assert(!j.contains("station_area"))
    assert(get_json_object(lit(j), "$.stations[0].station_id") != null)
    // staging path can parse it
    val parsed = df.select(
      get_json_object(col("data_json"), "$.stations[1].name").as("n")).head()
    assert(parsed.getString(0) == "Beta")
  }

  test("appendAndRetire appends parquet and deletes consumed inputs") {
    val dir = tmpDir("gbfs-json3")
    val f = writeFeedFile(dir, "f1.json")
    val out = tmpDir("raw-out") + "/raw_station_status"
    val df = Loaders.loadGbfsFeed(spark, dir, "station_status",
      ingestAt = Some(java.sql.Timestamp.valueOf("2025-05-11 21:47:00")))
    Loaders.appendAndRetire(spark, df, out, Seq(f))
    assert(spark.read.parquet(out).count() == 1)
    assert(!Files.exists(Paths.get(f)))
    // new arrival; failure to delete a missing path is non-fatal
    // (reference :119-121)
    val f2 = writeFeedFile(dir, "f2.json")
    val df2 = Loaders.loadGbfsFeed(spark, dir, "station_status",
      ingestAt = Some(java.sql.Timestamp.valueOf("2025-05-11 21:48:00")))
    Loaders.appendAndRetire(spark, df2, out, Seq(s"$dir/missing.json"))
    assert(spark.read.parquet(out).count() == 2)
    assert(Files.exists(Paths.get(f2)))
  }

  test("cleanTrips drops rows missing endpoints and parses offset timestamps") {
    val raw = Seq(
      (Option("2025-01-01 04:37:39.287000+00:00"),
        Option("2025-01-01 04:47:39.000000+00:00"), "600", "441"),
      (None, Option("2025-01-01 05:00:00.000000+00:00"), "60", "442"))
      .toDF("started_at", "ended_at", "duration", "start_station_id")
      .withColumn("end_station_id", lit(7)) // numeric-typed id → cast to string
    val cleaned = Loaders.cleanTrips(raw)
    assert(cleaned.count() == 1)
    val r = cleaned.head()
    assert(r.getAs[java.sql.Timestamp]("started_at").toInstant.toString
      == "2025-01-01T04:37:39.287Z")
    assert(r.getAs[Int]("duration") == 600)
    assert(r.getAs[String]("end_station_id") == "7")
  }

  test("jsonLenient quarantines malformed lines instead of failing") {
    val dir = tmpDir("json-lenient")
    Files.writeString(Paths.get(dir, "feed.jsonl"),
      """{"id": 1, "name": "ok"}
        |{"id": 2 "name": "missing comma"}
        |{"id": 3, "name": "fine"}
        |""".stripMargin)
    // Spark disallows querying ONLY the corrupt column straight off the
    // scan — materialize first (what a quarantine router does anyway)
    val df = graft.sources.Tables.jsonLenient(spark, dir,
      "id BIGINT, name STRING").cache()
    val good = df.filter(col("_corrupt_record").isNull)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(good.count() == 2)
    assert(good.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(bad.count() == 1)
    assert(bad.select("_corrupt_record").as[String].head().contains("missing comma"))
    df.unpersist() // shared test session: don't leak storage across suites
  }

  test("schema evolution: mergeSchema reads old+new parquet with nulls for added columns") {
    val dir = tmpDir("schema-evolution")
    Seq((1L, "a")).toDF("id", "v1")
      .write.parquet(s"$dir/batch=1")
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2_added")
      .write.parquet(s"$dir/batch=2")
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.toSet == Set("id", "v1", "v2_added", "batch"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getAs[Any]("v2_added") == null) // old files: null-filled
    assert(rows(1).getAs[Double]("v2_added") == 9.5)
  }

  test("Warehouse.compact collapses small files per partition, preserving data") {
    val dir = tmpDir("filecounts") + "/t"
    val df = (0 until 1000)
      .map(i => (i.toLong, s"2025-01-0${i % 3 + 1}", i * 1.5))
      .toDF("id", "p_date", "v")
    // simulate a micro-batch sink: many tiny files per partition
    df.repartition(20).write.partitionBy("p_date").parquet(dir)
    def dataFiles = Files.walk(Paths.get(dir)).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("compact"))
    val before = dataFiles.length
    assert(before > 10)
    val beforeRows = spark.read.parquet(dir).orderBy("id").collect()
    graft.sources.Warehouse.compact(spark, dir)
    assert(dataFiles.length == 3) // one file per partition value
    val afterRows = spark.read.parquet(dir).orderBy("id").collect()
    assert(afterRows.map(_.toSeq).toSeq == beforeRows.map(_.toSeq).toSeq)
  }

  test("Tables scan cache memoizes per (session, path) and invalidate refreshes the listing") {
    val dir = tmpDir("scan-cache")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    val a = graft.sources.Tables.table(spark, dir, "t")
    assert(graft.sources.Tables.table(spark, dir, "t") eq a,
      "repeat scan of an immutable path must be the memoized instance")
    // rewrite the path, then invalidate: the next scan must see new data
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    graft.sources.Tables.invalidate(dir)
    val b = graft.sources.Tables.table(spark, dir, "t")
    assert(!(b eq a))
    assert(b.count() == 2)
  }

  test("Warehouse.compact fails fast on a stale .compact-old, cleans stale tmp") {
    val dir = tmpDir("compact-stale") + "/t"
    Seq((1L, "2025-01-01", 1.0)).toDF("id", "p_date", "v")
      .write.partitionBy("p_date").parquet(dir)
    // stale tmp from an aborted rewrite: silently discarded
    Files.createDirectories(Paths.get(dir + ".compact-tmp/junk"))
    graft.sources.Warehouse.compact(spark, dir)
    assert(!Files.exists(Paths.get(dir + ".compact-tmp")))
    assert(spark.read.parquet(dir).count() == 1)
    // stale .compact-old means a prior swap crashed with the original
    // data staged aside — compact must refuse, not nest the live table
    Files.createDirectories(Paths.get(dir + ".compact-old"))
    val e = intercept[IllegalArgumentException] {
      graft.sources.Warehouse.compact(spark, dir)
    }
    assert(e.getMessage.contains("compact-old"))
    assert(spark.read.parquet(dir).count() == 1) // table untouched
  }
}

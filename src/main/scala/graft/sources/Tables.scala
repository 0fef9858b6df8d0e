package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scans over the driver's synthetic star schema (`TESTDATA.md`) and the
  * reference's file formats.
  *
  * Source operators per SURVEY §2.1:
  *  - S1 parquet table source (reference `models/src/sources.yml:5-23`)
  *  - S3 multiline/recursive JSON scan (`src/pyspark_gbfs_raw_load.py:94-98`)
  *  - S4 CSV scan with header+inferSchema (`src/historical_bucket_to_bq.py:57-62`)
  *
  * All reads are plain format scans: Catalyst owns predicate pushdown and
  * column pruning, so callers `.select`/`.filter` freely and the parquet
  * reader only materializes what the plan needs.
  */
object Tables {

  // Memoized scans: `spark.read.parquet` pays file listing + footer
  // schema read on EVERY call, and the query entry points re-read their
  // tables once per invocation — ~500 times across a bench run. The
  // analyzed scan (with its resolved schema and shared file index) is
  // immutable, so it is built once per (session, dir, table) and reused.
  // Assumption (holds for every caller): the scale-factor dirs are
  // immutable while cached — a writer that rewrites a cached path must
  // call [[invalidate]] to refresh the file listing. Mutable paths
  // (warehouse sinks, `{{ this }}` incremental scans) go through their
  // own spark.read calls, never this cache.
  //
  // Lifecycle: entries are evicted once their session's SparkContext is
  // stopped (checked opportunistically on every lookup — the map holds
  // ≤ sessions × tables entries, so the sweep is a few dozen pointer
  // reads), so a stopped test session doesn't pin its DataFrames for
  // the JVM lifetime. A weak-keyed map can't do this job here: the
  // cached DataFrame strongly references its SparkSession
  // (`df.sparkSession`), so value→key references would defeat the weak
  // keys anyway.
  private val scanCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def evictStopped(): Unit = {
    val it = scanCache.keySet.iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
  }

  /** Drop cached scans under `pathOrDir` (exact file or dir prefix), all
    * sessions — call after rewriting a previously-scanned location.
    */
  def invalidate(pathOrDir: String): Unit = {
    val it = scanCache.keySet.iterator()
    while (it.hasNext) {
      val p = it.next()._2
      if (p == pathOrDir || p.startsWith(pathOrDir + "/")) it.remove()
    }
  }

  // Canonical Spark schema per synthetic table. The testdata is
  // REGENERATED by the driver between rounds and its physical types have
  // drifted before (round 9: events.ts TIMESTAMP(NANOS) → TIMESTAMP_NTZ
  // µs crashed 16 queries at plan time against a hardcoded assumption).
  // Every scan therefore conforms to these pinned schemas via
  // SchemaDrift.conformTo — an IDENTITY pass-through (zero extra plan
  // nodes, pushdown intact) while the files match, a per-column
  // try_cast only for columns that drifted. `events` stays special-cased
  // below (its nanos encoding needs a reader conf, not just a cast).
  private val canonicalDdl: Map[String, String] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  /** S1 — parquet table scan rooted at a scale-factor dir, conformed to
    * the table's canonical schema when the files have drifted from it.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    evictStopped()
    scanCache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      { case (s, p) =>
        val raw = s.read.parquet(p)
        canonicalDdl.get(name) match {
          case Some(ddl) =>
            val canon = org.apache.spark.sql.types.StructType.fromDDL(ddl)
            if (raw.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
                canon.fields.map(f => (f.name, f.dataType)).toSeq) raw
            else {
              // a regeneration drifted this table: conform, and say so
              // on stderr — bench-only runs never pass the Verify
              // oracle, so silent conformance there would mean quietly
              // timing queries over NULL-filled columns.
              val (conformed, drifts) = graft.ingest.SchemaDrift
                .conformToWithReport(raw, canon)
              System.err.println(s"[graft] testdata drift: $name conformed " +
                drifts.map(d => s"${d.path}(${d.kind})").mkString(", "))
              conformed
            }
          case None => raw
        }
      })
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** The events table's `ts` column has shipped in two physical
    * encodings across testdata generations: parquet TIMESTAMP(NANOS)
    * (which Spark's vectorized reader only admits as a raw long via the
    * legacy `nanosAsLong` conf) and plain TIMESTAMP(MICROS). Dispatch on
    * the scanned type and surface the SAME logical schema either way:
    * a µs-precision `ts` (TimestampType) plus exact `ts_ns` epoch-nanos
    * for precision-sensitive ordering. Integer `div`/`* 1000L` (never
    * double arithmetic) — epoch nanos exceed double's 53-bit mantissa.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw
          .withColumn("ts_ns", org.apache.spark.sql.functions.col("ts"))
          .withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestamp_micros(ts div 1000)"))
      case _ =>
        // TIMESTAMP or TIMESTAMP_NTZ scan: normalize to TimestampType
        // (identity under the UTC session timezone every entry point
        // sets) so every downstream consumer sees one logical type,
        // then derive exact epoch-nanos from the µs value.
        raw
          .withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
          .withColumn("ts_ns", org.apache.spark.sql.functions.expr(
            "unix_micros(ts) * 1000L"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** S3 — whole-file JSON scan, as the GBFS archive loader reads feed
    * snapshots (reference `src/pyspark_gbfs_raw_load.py:94-98`).
    */
  def jsonArchive(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("multiLine", "true")
      .option("recursiveFileLookup", "true")
      .json(path)

  /** S3 hardened — line-delimited JSON with corrupt-record capture: bad
    * lines land in `_corrupt_record` instead of failing the job (a crawl
    * feed at scale ALWAYS contains malformed payloads; FAILFAST on day 30
    * of a backfill is an outage). Callers route `_corrupt_record IS NOT
    * NULL` rows to a quarantine sink and process the rest.
    */
  def jsonLenient(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read
      .schema(ddl + ", _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** S4 at scale — explicit schema, single pass. */
  def csvWithSchema(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.option("header", "true").schema(ddl).csv(path)

  /** Register every synthetic table as a temp view so `spark.sql` queries
    * (scalar subqueries, ordinal group-by) can name them like the oracle.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
  }
}

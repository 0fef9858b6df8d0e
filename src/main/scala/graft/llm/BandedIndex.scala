package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Warehouse

/** Band-partitioned signature-index layout for [[IncrementalDedup]] —
  * the lookup-pruned path for small deliveries against a huge index.
  *
  * [[IncrementalDedup.FlatIndex]] answers "which index rows share a band
  * key with this delivery?" by re-banding the ENTIRE index: one map-side
  * pass over all N signature rows per delivery. Fine while deliveries
  * are a constant fraction of the corpus; wrong for the streaming
  * operating point, where a micro-batch of a few hundred documents
  * arrives every trigger and the index holds the accumulated 100 TB
  * corpus — per-trigger cost must be ∝ what the batch can possibly
  * collide with, not ∝ N.
  *
  * Layout under `root`:
  *  - `state/` — delta-log of (id, sig, sharr) per generation, identical
  *    to the flat layout (verification + monotone-id checks read it; ids
  *    are monotone per generation, so parquet footer min/max stats give
  *    generation- and row-group-level skipping on id lookups for free);
  *  - `bands/` — delta-log whose generations hold the EXPLODED band rows
  *    (id, bh) hive-partitioned by (band, bkt = pmod(bh, B)), one file
  *    per partition dir, bh-sorted within files for tight row-group
  *    stats.
  *
  * B is sized PER GENERATION: `max(1, min(numBuckets, rows/minBucketRows))`,
  * and travels in the committed generation name (`gen-<tag>.b<B>`), so a
  * 50-row bootstrap generation writes 8 files while a billion-row
  * backfill generation fans out to `numBuckets` dirs per band — file
  * count tracks data, never a fixed constant (a fixed B=32 measured
  * +3.5 s/delivery at toy scale, pure file-open overhead). The name is
  * committed atomically with the generation, so B needs no sidecar read.
  *
  * Candidate lookup for a delivery carrying ≤ `maxPrunedKeys` distinct
  * band keys: collect the key set (bounded, driver-safe by the cap),
  * prune each generation's scan to the (band, bkt) partitions the keys
  * hash into under THAT generation's B — at most `bands` disjuncts of
  * `bkt IN (...)` — and push `bh IN (...)` down into the parquet reader
  * so bh-sorted row groups outside the key set are skipped by footer
  * stats. A delivery above the cap (a bulk backfill whose keys saturate
  * every bucket anyway) falls back to the full scan, which is exactly
  * the flat layout's cost — pruning is monotone: never worse,
  * ∝ delivery when it matters.
  *
  * Crash consistency across the two sub-tables: `state/` commits FIRST;
  * the `bands/` twin is derived (a deterministic projection of state),
  * so [[syncBands]] rebuilds any missing twin before every read or
  * append — a crash between the two commits self-heals on the next
  * touch instead of silently losing candidates.
  *
  * Semantics are layout-invariant by construction: the layout only
  * changes WHAT the candidate join scans, and the pruned scan returns
  * every index row matching a delivery band key (the join condition).
  * `BandedIndexSpec` pins result equality against the flat layout and
  * asserts the partition pruning on physical plans.
  */
object BandedIndex {
  /** Schema of a `bands/` generation — (id, bh) data rows plus the
    * (band, bkt) pair, which is hive-partitioned on non-empty
    * generations and kept as data columns on empty ones (both shapes
    * carry the same four name/type pairs, so one declared schema reads
    * either; supplying it skips the per-generation footer-inference
    * job on every candidate lookup).
    */
  private[llm] val BandsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bh",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bkt",
      org.apache.spark.sql.types.IntegerType)))

  /** Whether a candidate lookup took the pruned path (noted per lookup). */
  val Pruned = graft.core.Trace.Key[Boolean]("banded.pruned")
  /** (band, bkt) partitions a lookup scanned, and the layout's total —
    * noted only under `Trace.auditing`: the counts force driver-side
    * file listings that production lookups shouldn't pay twice.
    */
  val Partitions = graft.core.Trace.Key[(Int, Int)]("banded.partitions")
}

final case class BandedIndex(numBuckets: Int = 256,
    minBucketRows: Long = 1L << 16,
    maxPrunedKeys: Int = 4096) extends IncrementalDedup.IndexLayout {
  require(numBuckets > 0 && minBucketRows > 0 && maxPrunedKeys >= 0)

  private def stateRoot(root: String) = s"$root/state"
  private def bandsRoot(root: String) = s"$root/bands"

  /** Per-generation bucket count for a generation of `rows` rows. */
  private def bucketsFor(rows: Long): Int =
    math.max(1L, math.min(numBuckets.toLong, rows / minBucketRows)).toInt

  /** Bucket count a committed bands generation was written with (from
    * its `.b<B>` name suffix; legacy/unsuffixed generations are B=1).
    */
  private def bucketsOf(gen: String): Int =
    gen.split("\\.b").drop(1).lastOption.map(_.toInt).getOrElse(1)

  /** The bands generation name serving state generation `stateGen`. */
  private def twinOf(stateGen: String, have: Seq[String]): Option[String] =
    have.find(g => g == stateGen || g.startsWith(stateGen + ".b"))

  /** Exploded, bucketed band rows of a (id, sig) state generation.
    * `singleTask` (micro generations, B = 1): the whole generation fits
    * one task, so ONE sorted task writes every partition dir directly —
    * the repartition exchange (plus its adaptive stage round) is pure
    * overhead at per-trigger row counts, measured ~0.1 s per delivery.
    * Either shape preserves the invariant the pruned lookup relies on:
    * one file per (band, bkt) dir, bh-ascending within each dir.
    */
  private def bandedRows(st: DataFrame, bands: Int, rowsPerBand: Int,
      buckets: Int, singleTask: Boolean = false): DataFrame = {
    val rows = st
      .select(col("id"),
        explode(Dedup.bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
      .withColumn("bkt", pmod(col("bh"), lit(buckets.toLong)).cast("int"))
    // one task — and so one file — per (band, bkt) partition dir, with
    // bh-sorted rows for row-group min/max skipping on the IN pushdown
    if (singleTask) rows.coalesce(1).sortWithinPartitions("band", "bkt", "bh")
    else rows.repartition(col("band"), col("bkt")).sortWithinPartitions("bh")
  }

  /** Rebuild any `bands/` generation missing its committed `state/`
    * twin (deterministic projection — see crash-consistency note).
    */
  def syncBands(spark: SparkSession, root: String, bands: Int,
      rowsPerBand: Int): Unit = {
    val have = Warehouse.deltaVersions(spark, bandsRoot(root)) match {
      case Seq() => Seq.empty[String]
      case _ => Warehouse.committedGenerations(spark, bandsRoot(root))
    }
    Warehouse.committedGenerations(spark, stateRoot(root))
      .filter(sg => twinOf(sg, have).isEmpty).foreach { gen =>
        val st = spark.read.schema(IncrementalDedup.StateSchema)
          .parquet(s"${stateRoot(root)}/$gen")
          .select("id", "sig")
        val n = st.count() // parquet footer row count: no data read
        val b = bucketsFor(n)
        val tag = s"${gen.stripPrefix("gen-")}.b$b"
        // an empty generation hive-partitioned would write no part file
        // and become unreadable (no schema to infer) — keep band/bkt as
        // data columns there; the read path unions them by name
        if (n == 0)
          Warehouse.deltaAppendTagged(
            bandedRows(st, bands, rowsPerBand, b), bandsRoot(root), tag)
        else
          Warehouse.deltaAppendTagged(
            bandedRows(st, bands, rowsPerBand, b,
              singleTask = n <= minBucketRows), bandsRoot(root), tag,
            Seq("band", "bkt"))
      }
  }

  def committedTags(spark: SparkSession, root: String): Seq[String] =
    Warehouse.deltaVersions(spark, stateRoot(root)) match {
      case Seq() => Seq.empty
      // ledger, not live: replay guard must survive compaction
      case _ => Warehouse.generationLedger(spark, stateRoot(root))
    }
  def hasIndex(spark: SparkSession, root: String): Boolean =
    Warehouse.deltaVersions(spark, stateRoot(root)).nonEmpty
  def readState(spark: SparkSession, root: String): DataFrame =
    Warehouse.deltaRead(spark, stateRoot(root),
      Some(IncrementalDedup.StateSchema))

  def candidateSide(spark: SparkSession, root: String,
      deliveryKeys: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    syncBands(spark, root, bands, rowsPerBand)
    val gens = Warehouse.committedGenerations(spark, bandsRoot(root))
    // bounded collect: limit(cap + 1) decides prune-vs-full with one
    // small job; above the cap nothing large ever reaches the driver
    val keys = deliveryKeys.select(col("band").cast("int").as("band"),
      col("bh")).distinct().limit(maxPrunedKeys + 1).collect()
    val pruned = keys.length <= maxPrunedKeys
    graft.core.Trace.note(BandedIndex.Pruned, pruned)
    val bhs = keys.map(_.getLong(1)).distinct.toSeq
    val byBand = keys.groupBy(_.getInt(0))
    // one (band = b AND bkt IN (...)) disjunct per band, under the
    // generation's OWN bucket count: pure partition-column predicates,
    // so Catalyst prunes directories before any file is opened
    def partPred(buckets: Int): Column =
      if (byBand.isEmpty) lit(false) // empty delivery: nothing to look up
      else byBand.map { case (b, rows) =>
        col("band") === b && col("bkt").isInCollection(
          rows.map(r => math.floorMod(r.getLong(1), buckets.toLong).toInt)
            .distinct.toSeq)
      }.reduce(_ || _)
    // Pruned lookups read the needed (band, bkt) directories DIRECTLY —
    // the layout's dir names are a pure function of the key set and the
    // generation's bucket count, so partition DISCOVERY (a recursive
    // listing of every `band=*/bkt=*` leaf, cost ∝ total index dirs —
    // the one per-trigger cost that still grew with index size: the 10×
    // scale curve measured the listing, not the scan) collapses to one
    // name-only listing per needed band. A generation without `band=`
    // dirs (empty generations keep band/bkt as data columns; legacy
    // unsuffixed ones predate the fan-out) falls back to the filtered
    // whole-generation read. BandedIndexSpec pins result equality of
    // the direct-path read against the filtered full read, including
    // keys whose (band, bkt) dir does not exist.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def emptyBands(): DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      BandedIndex.BandsSchema)
    def prunedScan(genPath: String, buckets: Int): DataFrame = {
      val gp = new org.apache.hadoop.fs.Path(genPath)
      val topBands = fs.listStatus(gp).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("band=")).toSet
      if (topBands.isEmpty) {
        // flat layout (empty or legacy generation): filtered full read
        spark.read.schema(BandedIndex.BandsSchema).parquet(genPath)
          .filter(partPred(buckets) &&
            graft.expr.native.inLongSet(col("bh"), bhs))
      } else {
        val dirs = byBand.toSeq.sortBy(_._1).flatMap { case (b, rows) =>
          if (!topBands.contains(s"band=$b")) Nil
          else {
            val have = fs.listStatus(
              new org.apache.hadoop.fs.Path(gp, s"band=$b"))
              .filter(_.isDirectory).map(_.getPath.getName).toSet
            rows.map(r =>
              math.floorMod(r.getLong(1), buckets.toLong).toInt)
              .distinct.sorted.collect {
                case k if have.contains(s"bkt=$k") =>
                  s"$genPath/band=$b/bkt=$k"
              }
          }
        }
        if (dirs.isEmpty) emptyBands()
        else spark.read.option("basePath", genPath)
          .schema(BandedIndex.BandsSchema).parquet(dirs: _*)
          .filter(graft.expr.native.inLongSet(col("bh"), bhs))
      }
    }
    val side = gens.map { g =>
      val genPath = s"${bandsRoot(root)}/$g"
      if (pruned) prunedScan(genPath, bucketsOf(g))
      else spark.read.schema(BandedIndex.BandsSchema).parquet(genPath)
    }.reduce(_.unionByName(_))
    if (graft.core.Trace.auditing)
      graft.core.Trace.note(BandedIndex.Partitions,
        (Warehouse.partitionsRead(side), Warehouse.partitionsRead(gens.map(g =>
          spark.read.schema(BandedIndex.BandsSchema)
            .parquet(s"${bandsRoot(root)}/$g")).reduce(_.unionByName(_)))))
    side.select(col("id").as("id_a"), col("band"), col("bh"))
  }

  def append(survivors: DataFrame, root: String, bands: Int,
      rowsPerBand: Int, tag: Option[String]): String = {
    val spark = survivors.sparkSession
    val statePath = tag match {
      case Some(t) =>
        Warehouse.deltaAppendTagged(survivors, stateRoot(root), t)
          .getOrElse(s"${stateRoot(root)}/gen-$t")
      case None => Warehouse.deltaAppend(survivors, stateRoot(root))
    }
    // bands twin derived from the just-committed state generation(s);
    // state-first order means a crash here self-heals on the next touch
    syncBands(spark, root, bands, rowsPerBand)
    statePath
  }

  /** Ids of every survivor admitted so far (the [[IncrementalDedup
    * .indexIds]] analogue for this layout).
    */
  def indexIds(spark: SparkSession, root: String): DataFrame =
    readState(spark, root).select("id")

  /** Fold this banded index's generations — the [[IncrementalDedup
    * .compactIndex]] analogue for the two-sub-log layout. The state
    * delta-log compacts via [[Warehouse.compactDeltaLog]] (its ledger
    * survives, so tag-replay guards keep working); the compacted
    * generation's bands twin is rebuilt by [[syncBands]] under its OWN
    * adaptive bucket count (a big snapshot fans out to more buckets
    * than the small per-delivery generations it folded — compaction
    * IMPROVES pruning granularity); and a bands snapshot commit retires
    * the superseded twins from the live list. Without that retirement
    * the candidate join would still be CORRECT (the old twins' rows
    * duplicate the new twin's — a superset, which the layout contract
    * permits), but every lookup would scan gens× the pruned bytes.
    * Folded directories stay on disk until [[Warehouse.vacuumDeltaLog]]
    * on each sub-log. Admissions and pruned lookups are byte-equivalent
    * across the fold (spec-pinned).
    */
  def compact(spark: SparkSession, root: String, bands: Int = 8,
      rowsPerBand: Int = 4): String = {
    val snap = Warehouse.compactDeltaLog(spark, stateRoot(root))
    syncBands(spark, root, bands, rowsPerBand)
    val stateGen = snap.split('/').last
    val live = Warehouse.committedGenerations(spark, bandsRoot(root))
    val twin = twinOf(stateGen, live).getOrElse(
      sys.error(s"bands twin missing for $stateGen after syncBands"))
    val ledger = Warehouse.generationLedger(spark, bandsRoot(root))
    val v = Warehouse.deltaVersions(spark, bandsRoot(root)).last + 1
    val content = ("#snapshot" +: Seq(twin)) ++
      ("#history" +: (ledger :+ twin).distinct)
    Warehouse.manifestCommit(spark, bandsRoot(root), v,
      content.mkString("\n"))
    snap
  }
}

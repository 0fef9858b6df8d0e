package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse layout helpers: the physical-design levers that matter at
  * 100 TB (SURVEY §4 — the reference's day-partitioned, station-clustered
  * BigQuery sink, re-expressed for parquet).
  */
object Warehouse {

  /** S8 — date-partitioned, key-clustered append. Partition pruning makes
    * date-ranged reads touch only matching directories;
    * `sortWithinPartitions` is the clustering analogue (row-group stats
    * let the reader skip pages by the cluster key).
    */
  def writePartitioned(df: DataFrame, path: String, dateCol: String,
      clusterCol: String, mode: String = "append"): Unit =
    df.withColumn("p_date", to_date(col(dateCol)))
      .sortWithinPartitions(col("p_date"), col(clusterCol))
      .write.mode(mode).partitionBy("p_date").parquet(path)

  /** Bucketed table for co-located joins: both sides bucketed by the join
    * key into the same bucket count join WITHOUT a shuffle. This is the
    * pre-partitioning answer for repeated big-big joins (e.g. lineitem ⋈
    * orders at every mart build).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol)
    sortCol.fold(w)(s => w.sortBy(s)).saveAsTable(table)
  }

  /** Interchange formats: the engine's canonical storage is parquet, but
    * warehouse exports/imports also speak ORC (columnar, predicate
    * pushdown and column pruning work identically through the same
    * FileSourceScan path — ORC jars ship with Spark). Same partitioning
    * levers apply.
    */
  def writeOrc(df: DataFrame, path: String, mode: String = "overwrite",
      partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode).format("orc")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .save(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Small-file compaction for a partitioned parquet table — the
    * maintenance pass every streaming/incremental sink needs at scale:
    * micro-batches and per-trigger appends leave thousands of KB-sized
    * files per partition, and scan cost becomes file-open-bound instead
    * of byte-bound.
    *
    * One shuffle keyed on the partition column co-locates each partition
    * value in a single task, so every partition directory compacts to one
    * file (plus `maxRecordsPerFile` splits for oversized partitions).
    *
    * The rewrite commits through [[graft.core.AtomicFiles.publish]],
    * the same whole-table swap as a dbt table build: a failed rewrite
    * leaves the table untouched, a stale `.compact-old` (a crashed swap)
    * fails fast, and a stale `.compact-tmp` is discarded. On object
    * stores (S3A) rename is a non-atomic O(n) copy — do not use this
    * there; keep such tables as delta logs and fold them with
    * [[compactDeltaLog]], whose commit is a single-key atomic create
    * with zero reader unavailability.
    */
  def compact(spark: SparkSession, path: String,
      partitionCol: String = "p_date",
      maxRecordsPerFile: Long = 1L << 22): Unit =
    graft.core.AtomicFiles.publish(spark, path,
        graft.core.AtomicFiles.Replace.Whole) { staging =>
      spark.read.parquet(path)
        .repartition(col(partitionCol))
        .write
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(partitionCol)
        .parquet(staging)
    }

  // ---- Delta-log manifest tables: append cost ∝ delta ---------------
  //
  // Data lives in immutable generation directories `<root>/gen-*`, and
  // `<root>/_manifest/<version>` files name the committed ones. A
  // version file is created with create-if-absent (one key), atomic on
  // S3/GCS/ABFS and on HDFS, so a reader resolves the old version or the
  // new one — never a partial mix, and with no unavailability window —
  // and two racing committers cannot both win a version. Each
  // generation holds ONLY its commit's rows and a read unions every
  // committed generation — the Delta/Iceberg add-files discipline
  // reduced to its core (a 100 TB signature index must never be
  // rewritten to admit a 100 GB delivery). Readers resolve the manifest
  // once and pin that version's generation list; a racing append
  // commits version v+1 without disturbing them. [[compactDeltaLog]]
  // folds generations back together when the file count grows.

  private val ManifestDir = "_manifest"
  private def manifestPath(root: String) = new org.apache.hadoop.fs.Path(
    root, ManifestDir)
  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def manifestCommit(spark: SparkSession, root: String,
      version: Long, gen: String): Unit = {
    val fs = fsOf(spark, root)
    val p = new org.apache.hadoop.fs.Path(manifestPath(root), f"$version%09d")
    // create-if-absent IS the commit; losing the race to another
    // committer must fail, not clobber. Through AtomicFiles so the
    // exclusive create is actually atomic on local filesystems (plain
    // fs.create(overwrite=false) is exists-then-create there) and the
    // version name never appears without its complete bytes (a torn
    // version file would resolve as an empty ledger entry).
    if (!graft.core.AtomicFiles.publishExclusive(fs, p,
        gen.getBytes("UTF-8")))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(p.toString)
  }

  /** Versions committed to a delta-log table, ascending (empty when the
    * table does not exist yet).
    */
  def deltaVersions(spark: SparkSession, root: String): Seq[Long] =
    graft.core.AtomicFiles.listVersions(fsOf(spark, root),
      manifestPath(root))

  /** Append `df` as one new immutable generation of the delta-log table
    * at `root` (creating the table at version 1 if absent). Returns the
    * committed generation's data path — already durable, so callers can
    * re-read results from it instead of recomputing `df`'s lineage.
    */
  def deltaAppend(df: DataFrame, root: String,
      partitionCols: Seq[String] = Nil): String = {
    val spark = df.sparkSession
    // Writer-UNIQUE generation directory. Version numbers are not
    // writer-unique, so naming the directory by version (and reclaiming
    // a squatter before writing, as an earlier revision did) let a
    // concurrent appender delete another appender's in-flight data and
    // then commit a manifest pointing at the survivor's rows. With a
    // unique name there is nothing to reclaim and nothing another
    // writer could destroy: the manifest's single-key create alone
    // decides what is committed. A crashed attempt leaves an orphan
    // directory no manifest names — invisible to every reader, and
    // sweepable once quiescent via [[orphanGenerations]].
    val token = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val gen = s"gen-a$token"
    val w = df.write.mode("errorifexists")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(s"$root/$gen")
    commitNextVersion(spark, root, gen)
    s"$root/$gen"
  }

  /** Commit `gen` at the next free manifest version — a CAS loop on the
    * version key: losing the single-key create race to a concurrent
    * appender re-reads the tip and retries at the next version; the
    * already-written generation directory is reused verbatim, never
    * rewritten. Returns the version committed at. (Object-store
    * manifest backends need create-if-absent semantics, same as every
    * other commit in this file.)
    */
  private[graft] def commitNextVersion(spark: SparkSession, root: String,
      gen: String, staleTipPlusOne: Long = -1L): Long = {
    // staleTipPlusOne is a test seam: a racing appender's commit lands
    // between our tip resolve and our create, so tests inject the
    // stale (already-taken) version to drive the retry branch
    var v = if (staleTipPlusOne > 0) staleTipPlusOne
      else deltaVersions(spark, root).lastOption.getOrElse(0L) + 1
    while (true) {
      try { manifestCommit(spark, root, v, gen); return v }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          v = math.max(v + 1,
            deltaVersions(spark, root).lastOption.getOrElse(0L) + 1)
      }
    }
    v // unreachable
  }

  /** Generation directories that no manifest version names — crashed
    * append attempts (a writer creates its directory BEFORE its
    * commit). Invisible to readers; safe to delete only when no append
    * is in flight, which is the caller's retention decision, exactly
    * like [[vacuumDeltaLog]].
    */
  def orphanGenerations(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootPath)) return Seq.empty // table not created yet
    val known = resolveLedger(spark, root).history.toSet
    fs.listStatus(rootPath)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.startsWith("gen-") && !known.contains(n)).toSeq
  }

  // ---- Snapshot manifests + compaction ------------------------------
  //
  // A long-lived delta-log accumulates one generation directory (and
  // one manifest version file) per append — at a 100 TB index taking
  // thousands of deliveries the union scan fans out over thousands of
  // directories and every manifest resolve opens every version file.
  // [[compactDeltaLog]] folds the live generations into ONE directory
  // and commits a SNAPSHOT version file that (a) names the compacted
  // generation as the only live one and (b) carries the full ledger of
  // historical generation names, so tag-replay guards survive
  // compaction (a replayed micro-batch whose generation was folded
  // away must still be a no-op). The commit is the same single-key
  // create as an append — readers resolve entirely before or entirely
  // after. Folded directories are retained until [[vacuumDeltaLog]]
  // (the VACUUM discipline: deleting eagerly would yank files out from
  // under an in-flight scan that resolved the pre-compaction list).
  //
  // Version-file format: a plain file holds one generation name (an
  // append); a snapshot file is
  //   #snapshot\n<live gen>...\n#history\n<every gen name ever>...

  private final case class Ledger(live: Seq[String], history: Seq[String])

  private def readVersionFile(fs: org.apache.hadoop.fs.FileSystem,
      root: String, v: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(manifestPath(root), f"$v%09d")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Resolved-ledger memo per table root. Version files are IMMUTABLE
    * once committed (the single-key create CAS — a version's content
    * never changes after its create succeeds), so a ledger folded from
    * a given version list can be reused verbatim while the listing is
    * unchanged, and EXTENDED incrementally when new versions land past
    * the cached prefix. Every resolve still pays exactly ONE manifest
    * listing — the freshness check, so an EXTERNAL writer's commit is
    * seen the moment its version file exists — but the per-version
    * file opens (at a long-lived 100 TB index: thousands of small
    * metadata reads per admission, 50–190 ms driver gaps between jobs)
    * collapse to the new versions only. A shrunk or rewritten listing
    * (vacuumed versions) misses the prefix check and refolds from
    * scratch. Bounded at [[LedgerMemoMax]] roots — entries are tiny
    * (generation-name lists), cleared wholesale on overflow.
    */
  private final case class LedgerMemo(versions: Seq[Long], ledger: Ledger)
  private val ledgerMemo =
    new java.util.concurrent.ConcurrentHashMap[String, LedgerMemo]()
  private val LedgerMemoMax = 256
  /** Test seam: drop every memoized ledger (forces cold refolds), so
    * specs can pin warm == cold. */
  private[graft] def ledgerMemoReset(): Unit = ledgerMemo.clear()

  private def resolveLedger(spark: SparkSession, root: String): Ledger = {
    val versions = deltaVersions(spark, root)
    val ledger = Option(ledgerMemo.get(root)) match {
      case Some(m) if m.versions == versions => m.ledger
      case Some(m) if versions.startsWith(m.versions) =>
        foldVersions(spark, root, versions.drop(m.versions.length), m.ledger)
      case _ => foldVersions(spark, root, versions, Ledger(Nil, Nil))
    }
    if (ledgerMemo.size() > LedgerMemoMax) ledgerMemo.clear()
    ledgerMemo.put(root, LedgerMemo(versions, ledger))
    ledger
  }

  /** Fold an EXPLICIT versions listing into a ledger — so a caller that
    * also needs the next commit version can derive both from ONE
    * listing (see [[compactDeltaLogWith]]: deriving them from two
    * separate listings opened a lost-append window).
    */
  private def resolveLedgerFrom(spark: SparkSession, root: String,
      versions: Seq[Long]): Ledger =
    foldVersions(spark, root, versions, Ledger(Nil, Nil))

  /** Sequential ledger fold of `versions` on top of `from` — the memo's
    * incremental step IS the from-scratch fold started mid-stream, so
    * the two can never disagree (CompactionSpec pins warm == cold).
    */
  private def foldVersions(spark: SparkSession, root: String,
      versions: Seq[Long], from: Ledger): Ledger = {
    val fs = fsOf(spark, root)
    var live = from.live.toVector
    var history = from.history.toVector
    versions.foreach { v =>
      readVersionFile(fs, root, v) match {
        case "#snapshot" +: rest =>
          val (l, h) = rest.span(_ != "#history")
          live = l.toVector
          history = (history ++ l ++ h.drop(1)).distinct
        case single =>
          live = live ++ single
          history = (history ++ single).distinct
      }
    }
    Ledger(live, history)
  }

  /** Names of every LIVE generation of the delta-log table (post-
    * compaction, the folded generations drop out; reads union these).
    */
  def committedGenerations(spark: SparkSession, root: String): Seq[String] =
    resolveLedger(spark, root).live

  /** Every generation name ever committed, live or folded — the
    * replay-guard surface: a tagged generation stays in the ledger
    * after compaction folds its directory away.
    */
  def generationLedger(spark: SparkSession, root: String): Seq[String] =
    resolveLedger(spark, root).history

  /** Fold the live generations of the delta-log at `root` into one
    * compacted generation and commit a snapshot manifest naming it as
    * the only live one (ledger preserved). Returns the compacted
    * generation's path. Readers are never disturbed: the union they
    * resolve is either the pre- or post-compaction list, and folded
    * directories remain on disk until [[vacuumDeltaLog]].
    */
  def compactDeltaLog(spark: SparkSession, root: String,
      partitionCols: Seq[String] = Nil): String =
    compactDeltaLogWith(spark, root, partitionCols, identity)

  /** Test seam: [[compactDeltaLog]] with a hook fired between the
    * manifest-listing snapshot and the snapshot commit — where a
    * concurrent append is hardest to survive (CompactionSpec injects
    * one and asserts its rows make the fold).
    */
  private[graft] def compactDeltaLogSeamed(spark: SparkSession,
      root: String, raceSeam: () => Unit): String =
    compactDeltaLogWith(spark, root, Nil, identity, raceSeam)

  /** [[compactDeltaLog]] that additionally REWRITES the folded table
    * Z-ORDERED on `zorderCols` — compaction is exactly where a table's
    * physical layout gets fixed, so the multi-column-locality rewrite
    * rides the fold instead of being a separate full-table pass
    * (Delta/Iceberg `OPTIMIZE ... ZORDER BY` semantics). Each output
    * file covers one contiguous z-range = a hypercube in the original
    * dimensions, so per-file min/max stats prune scans filtering on ANY
    * of the z-ordered columns — append-ordered generations can't give
    * that to more than one column. Costs the fold two extra passes
    * (bounds aggregate + range-exchange sampling), both ∝ the folded
    * data, amortized over every read until the next compaction.
    * The z-key is layout-only: it is dropped before the write, so the
    * compacted generation's schema matches later appends and
    * [[deltaRead]]'s union is unaffected.
    */
  def compactDeltaLogZOrdered(spark: SparkSession, root: String,
      zorderCols: Seq[String], bits: Int = 8,
      numFiles: Int = 64): String =
    compactDeltaLogWith(spark, root, Nil,
      df => graft.operators.ZOrder
        .clusterByZOrder(df, zorderCols, bits, numFiles).drop("zkey"))

  private def compactDeltaLogWith(spark: SparkSession, root: String,
      partitionCols: Seq[String], shape: DataFrame => DataFrame,
      raceSeam: () => Unit = () => ()): String = {
    var attempt = 0
    while (attempt < 5) {
      // ONE manifest listing per attempt: the ledger fold AND the commit
      // version derive from the same snapshot. Deriving them from two
      // separate listings (as an earlier revision did) opened a TOCTOU
      // window — an append committing between the two landed at a
      // version BELOW our v, so our snapshot commit at v succeeded
      // without a CAS collision while its live and history lists omitted
      // that generation: the append's rows vanished from reads and its
      // tag replay guard was lost. With a single listing, any append
      // that commits after it necessarily takes a version >= v, so our
      // commit at v collides and the refold path picks the append up.
      val versions = deltaVersions(spark, root)
      val ledger = resolveLedgerFrom(spark, root, versions)
      require(ledger.live.nonEmpty, s"nothing to compact under $root")
      val v = versions.last + 1
      raceSeam() // test seam: a concurrent append lands right here
      // Writer-UNIQUE directory (the deltaAppend rule): a version-
      // derived name is NOT unique — a compactor that crashed between
      // write and commit would leave the name squatted, and every later
      // compaction at the same tip would recompute the same version and
      // die on errorifexists (permanently wedging compaction, since
      // vacuumDeltaLog rightly refuses to delete unknown directories);
      // two concurrent compactors would likewise collide at the write
      // instead of racing cleanly at the commit CAS. The version lives
      // in the manifest content only.
      val token = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val gen = s"gen-compact-a$token"
      val df = shape(ledger.live.map(g => spark.read.parquet(s"$root/$g"))
        .reduce(_.unionByName(_)))
      val w = df.write.mode("errorifexists")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(s"$root/$gen")
      val content = ("#snapshot" +: Seq(gen)) ++
        ("#history" +: (ledger.history :+ gen))
      try {
        manifestCommit(spark, root, v, content.mkString("\n"))
        return s"$root/$gen"
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          // a concurrent append committed between our ledger resolve
          // and our commit. A blind retry at v+1 (the deltaAppend CAS)
          // would publish a snapshot whose live list MISSES that
          // append's generation — silent data loss. REFOLD from the
          // fresh ledger instead; the just-written directory becomes a
          // uniquely-named orphan ([[orphanGenerations]] surfaces it).
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"compaction of $root lost the commit race $attempt times — " +
        "quiesce appenders or retry later")
  }

  /** Delete folded (non-live) generation directories. Run only after
    * every reader that could have resolved a pre-compaction manifest
    * is done — the retention decision is the caller's (Delta/Iceberg
    * VACUUM semantics). Victims are restricted to generations the
    * LEDGER knows were committed and folded: a concurrent appender
    * writes its parquet directory BEFORE its manifest commit, so an
    * unknown `gen-*` directory may be an in-flight (or crashed) append
    * — deleting it would make the upcoming commit point at nothing.
    * Orphans from crashed appends are reclaimed separately:
    * [[deltaAppendTagged]] deletes-and-rewrites its own (writer-unique)
    * tag on retry, and crashed [[deltaAppend]] attempts surface via
    * [[orphanGenerations]] for an operator sweep once quiescent.
    */
  def vacuumDeltaLog(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val ledger = resolveLedger(spark, root)
    val foldedSet = ledger.history.toSet -- ledger.live.toSet
    val victims = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(foldedSet.contains)
    victims.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
    victims.toSeq
  }

  /** Idempotent [[deltaAppend]] for replayed writers (foreachBatch
    * re-runs a micro-batch after recovery): the generation is NAMED by
    * the caller's `tag`, so a replay of an already-committed tag is a
    * no-op (returns None), and a crash between the parquet write and
    * the manifest commit leaves an orphan directory that the retry
    * deletes and rewrites before committing — the manifest stays the
    * single source of truth for what was admitted exactly once.
    * HARD PRECONDITION: the tag is writer-unique (one live writer per
    * tag, the foreachBatch epoch contract) — the delete-and-rewrite
    * reclaim is only safe because no OTHER writer can be mid-flight on
    * the same tag. Untagged concurrent appends use [[deltaAppend]],
    * whose writer-unique directory names need no reclaim at all.
    */
  def deltaAppendTagged(df: DataFrame, root: String,
      tag: String, partitionCols: Seq[String] = Nil): Option[String] = {
    val spark = df.sparkSession
    val gen = s"gen-$tag"
    // ledger, not live: a tag whose generation was FOLDED by compaction
    // is still committed — replaying it must stay a no-op
    if (generationLedger(spark, root).contains(gen)) None
    else {
      val fs = fsOf(spark, root)
      val dir = new org.apache.hadoop.fs.Path(s"$root/$gen")
      if (fs.exists(dir)) fs.delete(dir, true) // crashed earlier attempt
      val w = df.write.mode("errorifexists")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(s"$root/$gen")
      // same CAS loop as deltaAppend: a concurrent untagged appender
      // taking the version key must not fail this batch (the
      // generation's content does not depend on its version)
      commitNextVersion(spark, root, gen)
      Some(s"$root/$gen")
    }
  }

  /** DataFrameReader with the caller's KNOWN schema applied when given.
    * An engine knows its own index/table schemas statically (the writer
    * code three lines up defines them), and supplying the schema skips
    * the per-read footer-inference Spark job — at a 100 TB index with
    * thousands of generation directories that inference is a real
    * per-trigger listing/footer sweep, and even at gate scale it is one
    * scheduler round plus a driver gap per read.
    */
  private def readerWith(spark: SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType]) = {
    val r = spark.read
    schema.foreach(r.schema)
    r
  }

  /** Read the union of every committed generation of a delta-log table.
    * Pass the table's known `schema` to skip footer inference (see
    * [[readerWith]]).
    */
  def deltaRead(spark: SparkSession, root: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val paths = committedGenerations(spark, root).map(gen => s"$root/$gen")
    require(paths.nonEmpty, s"no delta-log generations under $root")
    readerWith(spark, schema).parquet(paths: _*)
  }

  /** True when a scan of `df` prunes partitions down to `expected` or
    * fewer — assertion helper for pruning tests and plan audits.
    */
  def partitionsRead(df: DataFrame): Int = {
    // sparkPlan, not executedPlan: AQE wraps the tree in
    // AdaptiveSparkPlanExec whose children are hidden from collect()
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount
    }
    if (scans.isEmpty) -1 else scans.sum[Int]
  }
}

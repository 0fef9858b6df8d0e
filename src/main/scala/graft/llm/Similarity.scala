package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Staged
import graft.functions.roundDet

/** Two-level IVF coarse quantizer: flat `centroids` at level 1, plus a
  * sub-quantizer per SPLIT cell ([[Similarity.ivfReclusterIndex]]'s
  * cell-skew maintenance). Assignment is hierarchical — nearest level-1
  * centroid first, then (only inside a split cell) nearest sub-centroid
  * — which is exactly what lets a recluster leave every unsplit cell's
  * files untouched: adding sub-centroids can never steal a vector from
  * an unsplit cell, unlike retraining a flat quantizer.
  */
final case class IvfQuantizer(centroids: Seq[Seq[Double]],
    splits: Map[Int, Seq[Seq[Double]]] = Map.empty) {
  require(splits.keySet.forall(p => p >= 0 && p < IvfQuantizer.SubBase),
    "only level-1 cells can be split")
  require(splits.values.forall(s => s.nonEmpty && s.length <= IvfQuantizer.MaxSub),
    s"sub-quantizer size must be in [1, ${IvfQuantizer.MaxSub}]")

  /** Cell id of `parent`'s `child`-th sub-cell (0-based, collision-free
    * with level-1 ids, which stay below SubBase). */
  def subCid(parent: Int, child: Int): Int =
    IvfQuantizer.SubBase + parent * IvfQuantizer.MaxSub + child

  /** Hierarchical cell assignment for an `array<double>` vector. */
  def cidExpr(vec: Column): Column = {
    val base = element_at(
      graft.expr.native.nearestCentroids(vec, centroids, 1), 1)
    splits.toSeq.sortBy(_._1).foldLeft(base) { case (acc, (p, subs)) =>
      when(base === p, lit(subCid(p, 0)) + element_at(
        graft.expr.native.nearestCentroids(vec, subs, 1), 1))
        .otherwise(acc)
    }
  }
}
object IvfQuantizer {
  val SubBase: Int = 1 << 20
  val MaxSub: Int = 1024
}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus; one map-side pass over the corpus plus a
  *    per-query bounded top-k aggregate (O(k) partial state per task —
  *    no reducer ever sorts a corpus-sized group). This is the
  *    correctness baseline and is also the right plan at 100 TB when
  *    the query set is small: the corpus is never shuffled, only the
  *    bounded per-task partials are.
  *  - [[lshTopK]]: random-hyperplane (sign) LSH — corpus and queries are
  *    bucketed by an nBits-bit sketch; candidates are generated only
  *    within matching buckets, so the join is a hash-shuffle on the
  *    bucket key instead of a cross product. Recall is tunable via
  *    nBits/nTables.
  *
  * All arithmetic is done in double after an explicit cast so results are
  * deterministic and match a double-precision oracle.
  */
object Similarity {

  /** dot(a, b) for array<double> columns — native sequential loop with
    * the same accumulation order as the HOF fold (oracle-bit-compatible).
    */
  def dot(a: Column, b: Column): Column = graft.expr.native.arrayDot(a, b)

  def l2Norm(a: Column): Column = sqrt(graft.expr.native.arrayDot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (idCol, vecCol) — the full embedding table
    * @param queries (idCol, vecCol) — small; broadcast
    * @return query_id, rank (1-based), neighbor_id, cos_sim (rounded)
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // zero-norm vectors make cosine NaN, and NaN sorts ABOVE every real
    // value in a descending order — exclude them on both sides
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .filter(graft.expr.native.arrayDot(col("cvec"), col("cvec")) > 0)
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .filter(graft.expr.native.arrayDot(col("qvec"), col("qvec")) > 0)
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos_raw"))
    rankByCosine(scored, k)
  }

  /** nBits-bit sign sketches for all tables in one native pass; plane
    * components are a deterministic splitmix64 function of
    * (table, bit, dim), so every executor derives identical planes.
    */
  def signSketches(vec: Column, nTables: Int, nBits: Int): Column =
    graft.expr.native.signSketches(vec, nTables, nBits)

  /** Approximate top-k via multi-table sign-LSH bucketing. Corpus rows are
    * sketched into `nTables` buckets (explode factor = nTables); queries
    * likewise; the candidate join is on (table, bucket). Falls back to
    * fewer than k results for queries whose buckets are sparse — standard
    * ANN semantics.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 12, nTables: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // candidate generation and dedup carry ONLY ids — at 100 TB the
    // wide embedding vectors never enter the bucket-join or dedup
    // shuffles; they re-attach afterwards by key
    val cBase = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .filter(graft.expr.native.arrayDot(col("cvec"), col("cvec")) > 0)
    val qBase = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .filter(graft.expr.native.arrayDot(col("qvec"), col("qvec")) > 0)
    def bucketed(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(id),
        posexplode(signSketches(col(vec), nTables, nBits)).as(Seq("tbl", "bucket")))
    val c = bucketed(cBase, "neighbor_id", "cvec")
    val q = bucketed(qBase, "query_id", "qvec")
    val candidates = c.join(q, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
      .join(broadcast(qBase), Seq("query_id"))
      .join(cBase, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos_raw"))
    rankByCosine(candidates, k)
  }

  /** Spherical-k-means coarse quantizer for [[ivfTopK]]: deterministic
    * seeding (the `nCentroids` sample vectors with the smallest md5 of
    * their id) followed by `lloydIters` distributed Lloyd rounds over a
    * deterministic id-hash sample of the corpus.
    *
    * Scale: quantizer training is the one place a bounded driver-side
    * collect is CORRECT — every IVF system holds the k×dim centroid
    * matrix as broadcast state. The per-round work is distributed (a
    * native nearest-centroid map + a posexplode/avg aggregation over the
    * sample); only the k×dim aggregated centroids come back to the
    * driver. At 100 TB set `sampleFraction` so the training sample is
    * ~100k–1M vectors — Lloyd on a uniform sample converges to the same
    * cells as full-corpus training for coarse quantization.
    */
  def trainCentroids(corpus: DataFrame, nCentroids: Int,
      lloydIters: Int = 2, sampleFraction: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Double]] = {
    val base = corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .filter(graft.expr.native.arrayDot(col("vec"), col("vec")) > 0)
    val sample = (if (sampleFraction >= 1.0) base
      else base.filter(Sampling.hashBucket(col("id"), "ivf-train")
        < math.round(sampleFraction * 1000000L)))
      .localCheckpoint(true) // several actions below; train once, not per-action
    try {
    // a sparser-than-requested corpus just gets fewer cells — callers
    // must clamp anything derived from nCentroids to the returned size
    var cents: Seq[Seq[Double]] = sample
      .withColumn("hk", md5(col("id").cast("string")))
      .orderBy("hk").limit(nCentroids) // TakeOrdered: no global sort
      .select("vec").collect().map(_.getSeq[Double](0)).toSeq
    if (cents.isEmpty) return cents
    // quantize coordinates after each averaging pass: the distributed
    // avg's partial-merge order is not deterministic, so raw means can
    // drift by ulps run-to-run; 1e-6 quantization pins the quantizer so
    // cell assignment (and thus results) stays reproducible
    def q(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    var it = 0
    while (it < lloydIters) {
      val assigned = sample.withColumn("cid",
        element_at(graft.expr.native.nearestCentroids(col("vec"), cents, 1), 1))
      val means = assigned
        .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg("x").as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cvec"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).map(q)).toMap
      // a centroid that lost all members keeps its previous position
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
      it += 1
    }
    cents
    // free the training sample's checkpoint blocks on every exit —
    // centroids are collected driver state, nothing references the
    // sample afterwards, and a maintenance loop calling this per cell
    // would otherwise pin one sample per call until session end
    } finally graft.core.CacheUtil.freeCheckpoint(sample)
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors are assigned
    * to their nearest coarse centroid (one native map, no shuffle);
    * queries probe their `nProbe` nearest cells and score exactly within
    * them. The candidate join broadcasts the probe list, so the corpus
    * is never shuffled — at 100 TB the assignment is computed once and
    * the corpus written partitioned/bucketed by `cid`
    * ([[graft.sources.Warehouse]]), turning every search into a
    * partition-pruned scan of nProbe/nCentroids of the data.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, lloydIters: Int = 2,
      sampleFraction: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pretrained: Option[Seq[Seq[Double]]] = None): DataFrame = {
    // `pretrained` is the production mode at scale: the coarse quantizer
    // is trained offline on a sample (faiss-style) and shipped as config
    // state, so a search issues ZERO training actions. When absent, train
    // in-line on this corpus.
    val cents = pretrained.getOrElse(trainCentroids(corpus, nCentroids,
      lloydIters, sampleFraction, idCol, vecCol))
    // degrade like the sibling ANN paths instead of throwing: an empty /
    // all-zero corpus yields an empty result; a corpus sparser than the
    // requested cell count just probes fewer cells
    if (cents.isEmpty)
      // typed from the INPUTS: the id may be any orderable type, and a
      // caller unioning per-shard results must get the same schema from
      // the empty-corpus edge as from the populated path
      return queries.limit(0).select(col(idCol).as("query_id"),
        lit(null).cast("long").as("rank"),
        lit(null).cast(corpus.schema(idCol).dataType).as("neighbor_id"),
        lit(null).cast("double").as("cos_sim"))
    val probe = math.min(nProbe, cents.size)
    val cBase = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .filter(graft.expr.native.arrayDot(col("cvec"), col("cvec")) > 0)
      .withColumn("cid",
        element_at(graft.expr.native.nearestCentroids(col("cvec"), cents, 1), 1))
    val qBase = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .filter(graft.expr.native.arrayDot(col("qvec"), col("qvec")) > 0)
    val probes = qBase.withColumn("cid",
      explode(graft.expr.native.nearestCentroids(col("qvec"), cents, probe)))
    val candidates = cBase.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos_raw"))
    rankByCosine(candidates, k)
  }

  // ------------------------------------------------------------------
  // IVF index maintenance: cell manifest + live-cell accounting. The
  // `_cells` file names the LIVE cell set (atomically swapped, like the
  // Warehouse manifest): a reclustered parent cell stays readable until
  // the swap commits its children, so readers never see a half-moved
  // cell — double rows before the swap are invisible (children not yet
  // live), missing rows after are impossible (parent dir is vacuumed
  // only post-commit).
  // ------------------------------------------------------------------

  private def cellsManifestPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_cells")

  private def cellsDirPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_cells.d")

  private def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def cellsVersions(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[Long] =
    graft.core.AtomicFiles.listVersions(fs, cellsDirPath(path))

  private def cellsVersionFile(path: String, v: Long) =
    new org.apache.hadoop.fs.Path(cellsDirPath(path), f"$v%09d")

  /** Tolerant cell-set file read: a writer that crashed mid-write
    * leaves a PREFIX of its intended lines at the committed version —
    * unparseable trailing garbage is skipped, and a missing cell is
    * the self-healing case (the next append re-unions presentCells).
    */
  private def readCellsFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Set[Int] = {
    val in = fs.open(p)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    s.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .flatMap(t => scala.util.Try(t.toInt).toOption).toSet
  }

  /** Live cell ids, when the index carries a cell manifest. Reads the
    * TIP of the versioned `_cells.d` commit log (falling back to the
    * legacy single-file `_cells` for pre-versioned indexes); version
    * files are immutable, so there is no window in which a committed
    * manifest is unreadable. A tip pruned by a racing writer's
    * retention pass (keeps the last 8 — reachable only after 8 commits
    * land between our listing and our open) retries on a fresh listing.
    */
  def ivfLiveCells(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Set[Int]] = {
    val fs = fsOf(spark, path)
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val vs = cellsVersions(fs, path)
      if (vs.isEmpty) {
        val legacy = cellsManifestPath(path)
        // the first versioned commit deletes the legacy file, so a
        // reader between the (empty) version listing and the legacy
        // check/read can catch the transition mid-flight: a missing or
        // vanished legacy file only means "no manifest" if a RE-LISTED
        // version log is still empty — otherwise retry on the log
        try {
          if (fs.exists(legacy)) return Some(readCellsFile(fs, legacy))
          if (cellsVersions(fs, path).isEmpty) return None
        } catch { case _: java.io.FileNotFoundException => () }
      } else {
        try return Some(readCellsFile(fs, cellsVersionFile(path, vs.last)))
        catch { case _: java.io.FileNotFoundException => () }
      }
    }
    throw new IllegalStateException(
      s"ivfLiveCells: manifest tip vanished 5 times under $path")
  }

  /** Commit a live-cell manifest at the next free version of the
    * `_cells.d` commit log — create-if-absent IS the commit (the
    * Warehouse manifest discipline). The first delete-then-rename
    * revision of this method could still LOSE a racer's committed set
    * (a commit landing before our delete was deleted and overwritten,
    * and on local filesystems rename overwrites so the checked-rename
    * retry never fired); a version-file CAS cannot: losing the create
    * race re-reads the new tip and retries, and with `mergeTip` the
    * retry folds the winner's set in, so concurrent APPENDS linearize
    * to the full union. `mergeTip = false` is for the exact-set
    * writers — full index (re)build, and recluster, whose set SHRINKS
    * (removing the split parent) and which is single-writer
    * maintenance by contract. Version files are immutable (hard-link
    * clone safe, no reader window); each commit prunes versions older
    * than the last 8 — which bounds the linearization guarantee: a
    * writer stalled across ≥8 intervening commits could re-create an
    * already-pruned version number that no successor merges. Real
    * concurrency is far below that bound (the streaming sinks are
    * one-writer-per-trigger and cell maintenance is single-writer).
    */
  private[graft] def writeLiveCells(spark: org.apache.spark.sql.SparkSession,
      path: String, cells: Set[Int], mergeTip: Boolean,
      expectedTip: Option[Long] = None): Unit = {
    val fs = fsOf(spark, path)
    var attempts = 0
    while (attempts < 16) {
      attempts += 1
      val vs = cellsVersions(fs, path)
      // exact-set writers (mergeTip = false) are read-modify-write
      // across the CALLER's live-set read: an append committing in
      // between would be silently dropped from the manifest, leaving
      // its cell dead to probedScan. The caller passes the tip version
      // its read observed; any advance past it is a single-writer
      // contract violation that must surface, not shrink the live set.
      expectedTip.foreach { t =>
        val tip = vs.lastOption.getOrElse(0L)
        if (tip != t) throw new java.util.ConcurrentModificationException(
          s"writeLiveCells: manifest under $path advanced from version " +
            s"$t to $tip during an exact-set rewrite — a concurrent " +
            "append violated the single-writer maintenance contract; " +
            "its cells would be dropped. Re-run maintenance.")
      }
      val legacy = cellsManifestPath(path)
      // a racer can prune the tip (retention) or delete the legacy
      // file (first versioned commit supersedes it) between our
      // listing/exists check and the read — that is a lost race, not
      // an error: re-enter the loop on a fresh listing
      val contentOpt =
        try Some(
          if (mergeTip && vs.nonEmpty)
            cells ++ readCellsFile(fs, cellsVersionFile(path, vs.last))
          else if (mergeTip && fs.exists(legacy))
            // first versioned commit on a pre-versioned index: the
            // legacy single-file set is the tip to fold in
            cells ++ readCellsFile(fs, legacy)
          else cells)
        catch { case _: java.io.FileNotFoundException => None }
      val content = contentOpt.getOrElse(Set.empty)
      val next = vs.lastOption.getOrElse(0L) + 1
      // the commit must publish FULL CONTENT atomically, not just the
      // file's existence: a create-then-write (even an O_EXCL one)
      // exposes an empty/partial tip that a racing writer reads and
      // "merges" as truth, dropping the in-flight set (measured: the
      // contention spec intermittently lost the early writers' cells).
      // AtomicFiles stages the bytes in a hidden tmp and the version
      // name appears atomically with them (hard link on file://,
      // rename-no-overwrite elsewhere); false = lost the version race.
      val committed = contentOpt.isDefined &&
        graft.core.AtomicFiles.publishExclusive(fs,
          cellsVersionFile(path, next),
          content.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      if (committed) {
        // retention: immutable history older than the last 8 versions
        // is dead weight (readers resolve the tip; 8 back-versions keep
        // a pruned-tip read unreachable in practice, and the reader
        // retries on a fresh listing regardless)
        vs.dropRight(7).foreach(v =>
          fs.delete(cellsVersionFile(path, v), false))
        // the legacy single-file manifest is superseded the moment a
        // versioned commit exists (readers prefer the version log)
        if (fs.exists(legacy)) fs.delete(legacy, false)
        return
      }
    }
    throw new IllegalStateException(
      s"writeLiveCells: could not commit a manifest version under " +
        s"$path after 16 attempts (racing writers?) — refusing to " +
        "leave a fresh cell dead to probedScan")
  }

  /** Cells physically present in the index layout, from the hive
    * partition directory names — one filesystem listing, no Spark job
    * (the layout IS the `cid=<v>` directory set, so reading parquet
    * footers to rediscover it was a whole scan job per maintenance
    * call). A crashed write's empty directory is harmlessly counted
    * live: a pruned search over it returns zero rows.
    */
  private def presentCells(spark: org.apache.spark.sql.SparkSession,
      path: String): Set[Int] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // tolerate non-numeric cid dirs (a stray cid=__HIVE_DEFAULT_PARTITION__
    // from a null key, or any squatter matching the prefix): a blind
    // toInt here threw NumberFormatException and killed the whole
    // maintenance/append call, which the old parquet-footer read (typed
    // values) could never hit
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.startsWith("cid=") =>
        scala.util.Try(n.stripPrefix("cid=").toInt).toOption }
      .flatten.toSet
  }

  /** Per-cell row counts — the audit that decides when a drifting
    * append stream has bloated hot cells past the recluster threshold.
    * Partition-column-only aggregation: footer-level, no data read.
    */
  def ivfCellStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val live = ivfLiveCells(spark, path)
    val base = Staged.read(spark, path)
    val scoped = live match {
      case Some(cells) =>
        base.filter(col("cid").isin(cells.toSeq.sorted.map(Int.box): _*))
      case None => base
    }
    scoped.groupBy("cid").agg(count(lit(1)).as("n_rows"))
  }

  /** Materialize the IVF index layout the [[ivfTopK]] scaladoc promises:
    * the corpus with its coarse-cell assignment, hive-partitioned by
    * `cid`, plus the live-cell manifest. Written once per corpus (the
    * assignment is one native map — no shuffle beyond the partitioned
    * write); after that every [[ivfSearchIndex]] call is a
    * partition-pruned scan of the probed cells only — at 100 TB,
    * nProbe/nCentroids of the data.
    */
  def ivfWriteIndex(corpus: DataFrame, quantizer: IvfQuantizer,
      path: String, idCol: String, vecCol: String): Unit = {
    require(quantizer.centroids.nonEmpty,
      "ivfWriteIndex needs a trained quantizer")
    val spark = corpus.sparkSession
    corpus.select(col(idCol), col(vecCol))
      .filter(graft.expr.native.arrayDot(
        col(vecCol).cast("array<double>"),
        col(vecCol).cast("array<double>")) > 0)
      .withColumn("cid", quantizer.cidExpr(col(vecCol).cast("array<double>")))
      .write.mode("overwrite").partitionBy("cid").parquet(path)
    Staged.forget(path) // overwrite may change the column set
    writeLiveCells(spark, path, presentCells(spark, path),
      mergeTip = false)
  }

  def ivfWriteIndex(corpus: DataFrame, centroids: Seq[Seq[Double]],
      path: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    ivfWriteIndex(corpus, IvfQuantizer(centroids), path, idCol, vecCol)

  /** Delta maintenance for an [[ivfWriteIndex]] index: assign ONLY the
    * new delivery's vectors to the index's FROZEN quantizer and append
    * them under their cell partitions. No re-cluster, no rewrite of
    * resident cells — at 100 TB the index is the accumulated corpus and
    * each delivery is orders of magnitude smaller, so maintenance must
    * cost O(delta), never O(index). The quantizer staying frozen is what
    * keeps the layout valid: identical vectors land in identical cells
    * across deliveries, so [[ivfSearchIndex]]'s partition pruning and
    * recall contract hold over the union exactly as over a full rebuild.
    * (Re-training centroids on drifted data is an OFFLINE decision that
    * produces a NEW index path; it is deliberately not this method.)
    */
  def ivfAppendIndex(delta: DataFrame, quantizer: IvfQuantizer,
      path: String, idCol: String, vecCol: String): Unit = {
    require(quantizer.centroids.nonEmpty,
      "ivfAppendIndex needs the index's quantizer")
    val spark = delta.sparkSession
    val assigned = delta.select(col(idCol), col(vecCol))
      .filter(graft.expr.native.arrayDot(
        col(vecCol).cast("array<double>"),
        col(vecCol).cast("array<double>")) > 0)
      .withColumn("cid", quantizer.cidExpr(col(vecCol).cast("array<double>")))
    // repartition on the partition column before the partitioned write:
    // without it every input task opens a writer per cell it touches —
    // up to tasks×cells small files per delivery, the classic
    // dynamic-partition small-files failure at crawl scale. One
    // delta-sized exchange (AQE coalesces it for a small delivery)
    // makes each cell's delta contiguous. A single-partition delta (the
    // micro-delivery trigger) skips the exchange outright: one sorted
    // task already writes exactly one file per touched cell.
    val placed =
      if (assigned.rdd.getNumPartitions <= 1)
        assigned.sortWithinPartitions("cid")
      else assigned.repartition(col("cid"))
    placed.write.mode("append").partitionBy("cid").parquet(path)
    // a delivery can populate a previously-empty cell: make it live.
    // The new cell set comes from the directory layout the write just
    // produced (one fs listing) — not from a second scan job over the
    // delta.
    ivfLiveCells(spark, path).foreach { live =>
      val present = presentCells(spark, path)
      if (!present.subsetOf(live))
        writeLiveCells(spark, path, live ++ present, mergeTip = true)
    }
  }

  def ivfAppendIndex(delta: DataFrame, centroids: Seq[Seq[Double]],
      path: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    ivfAppendIndex(delta, IvfQuantizer(centroids), path, idCol, vecCol)

  /** Exactly-once [[ivfAppendIndex]] for REPLAYED writers (a streaming
    * foreachBatch re-runs its micro-batch after recovery): the same
    * tag-ledger discipline as the incremental-dedup index
    * ([[graft.sources.Warehouse.deltaAppendTagged]]) grafted onto the
    * IVF layout, whose data must stay under flat `cid=` partitions for
    * probed-cell pruning — so instead of per-tag generation
    * directories, the batch is (1) STAGED under `_staging/<tag>/`
    * (underscore-hidden from every index scan), (2) a move-list of
    * final destinations is written into the staging dir, (3) staged
    * files are renamed into their live cells under tag-stamped names,
    * and (4) the tag is committed to the index's manifest ledger. A
    * replayed COMMITTED tag is a no-op; a replay of a CRASHED attempt
    * first deletes exactly the destinations its move-list names — an
    * O(delta) reclaim, never an index sweep — then re-runs, so
    * admission is exactly-once at every crash point. Same scale shape
    * as [[ivfAppendIndex]]: O(delta) work, resident cells untouched,
    * frozen quantizer. HARD PRECONDITION (as deltaAppendTagged): the
    * tag is writer-unique — one live writer per tag, the foreachBatch
    * epoch contract. Returns true iff this call performed the append.
    */
  def ivfAppendIndexTagged(delta: DataFrame, quantizer: IvfQuantizer,
      path: String, tag: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean = {
    require(quantizer.centroids.nonEmpty,
      "ivfAppendIndexTagged needs the index's quantizer")
    taggedCellAppend(path, tag,
      delta.select(col(idCol), col(vecCol))
        .filter(graft.expr.native.arrayDot(
          col(vecCol).cast("array<double>"),
          col(vecCol).cast("array<double>")) > 0)
        .withColumn("cid",
          quantizer.cidExpr(col(vecCol).cast("array<double>"))))
  }

  /** Exactly-once tagged append for the IVF-PQ index — the same staged
    * commit as [[ivfAppendIndexTagged]] with [[ivfPqAppendIndex]]'s
    * assignment (frozen coarse quantizer + frozen PQ codebooks), so a
    * PQ index is stream-maintainable under the same replay/crash
    * guarantees. Returns true iff this call performed the append.
    */
  def ivfPqAppendIndexTagged(delta: DataFrame, quantizer: IvfQuantizer,
      codebooks: Seq[Seq[Seq[Double]]], path: String, tag: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Boolean = {
    require(quantizer.centroids.nonEmpty && codebooks.nonEmpty,
      "ivfPqAppendIndexTagged needs the index's quantizer and codebooks")
    taggedCellAppend(path, tag,
      delta.select(col(idCol), col(vecCol))
        .filter(graft.expr.native.arrayDot(
          col(vecCol).cast("array<double>"),
          col(vecCol).cast("array<double>")) > 0)
        .withColumn("cid",
          quantizer.cidExpr(col(vecCol).cast("array<double>")))
        .withColumn("codes", graft.expr.native.pqEncode(
          unitVec(col(vecCol).cast("array<double>")), codebooks)))
  }

  /** The shared staged exactly-once commit under a cell-partitioned
    * layout: stage `assigned` (already carrying its final columns +
    * `cid`) under `_staging/<tag>/`, commit a move-list, rename into
    * the live cells under tag-stamped names, union the live-cell
    * manifest, commit the tag to the ledger. See
    * [[ivfAppendIndexTagged]] for the crash/replay contract.
    */
  private def taggedCellAppend(path: String, tag: String,
      assigned: DataFrame): Boolean = {
    require(tag.nonEmpty && !tag.contains("/"),
      s"tag must be a plain name, got '$tag'")
    val spark = assigned.sparkSession
    val gen = s"gen-ivf-$tag"
    val fs = fsOf(spark, path)
    val staging = new org.apache.hadoop.fs.Path(path, s"_staging/$tag")
    val moveList = new org.apache.hadoop.fs.Path(staging, "_movelist")
    // ledger, not live: compaction never folds IVF cells, but the
    // shared resolver keeps replay guards uniform across index kinds.
    // A crash BETWEEN the ledger commit and the staging cleanup leaves
    // an orphaned staging dir that every replay would otherwise skip
    // forever (the early return) — reclaim it here, where the replay
    // lands.
    if (graft.sources.Warehouse.generationLedger(spark, path)
        .contains(gen)) {
      if (fs.exists(staging)) fs.delete(staging, true)
      return false
    }
    // reclaim a crashed earlier attempt: the move-list names every
    // destination the attempt could have reached, so deleting exactly
    // those (idempotent — unmoved ones don't exist) restores the
    // pre-attempt index without scanning it
    if (fs.exists(moveList)) {
      val in = fs.open(moveList)
      val targets = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
      targets.foreach(t =>
        fs.delete(new org.apache.hadoop.fs.Path(path, t), false))
    }
    if (fs.exists(staging)) fs.delete(staging, true)
    // same small-files discipline as ivfAppendIndex (one file per
    // touched cell for a micro-delivery)
    val placed =
      if (assigned.rdd.getNumPartitions <= 1)
        assigned.sortWithinPartitions("cid")
      else assigned.repartition(col("cid"))
    placed.write.mode("errorifexists").partitionBy("cid")
      .parquet(staging.toString)
    // enumerate staged data files → tag-stamped destinations in the
    // live layout (filenames carry the tag for debuggability; the
    // reclaim contract reads the move-list, not the name pattern)
    val moves = {
      val it = fs.listFiles(staging, true)
      val b = List.newBuilder[(org.apache.hadoop.fs.Path, String)]
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        val parent = f.getPath.getParent.getName
        if (name.endsWith(".parquet") && parent.startsWith("cid="))
          b += (f.getPath -> s"$parent/t-$tag-$name")
      }
      b.result()
    }
    if (moves.nonEmpty) {
      // COMMIT ORDER: move-list first, then the renames, then live
      // cells, then the ledger tag. The move-list publishes through the
      // same atomic primitive as every other commit-ordering file
      // (AtomicFiles: full bytes appear WITH the name) — a plain
      // fs.create here was a non-atomic exists-then-create that also
      // exposed an empty file before its bytes, safe only by the
      // implicit single-writer-per-tag contract. A false return means
      // the name is taken: a racing writer on our tag, a precondition
      // violation worth crashing on.
      require(graft.core.AtomicFiles.publishExclusive(fs, moveList,
        moves.map(_._2).mkString("\n").getBytes("UTF-8")),
        s"taggedCellAppend: move-list already exists under $staging — " +
          s"a concurrent writer is appending tag '$tag'")
      moves.foreach { case (src, rel) =>
        val dst = new org.apache.hadoop.fs.Path(path, rel)
        fs.mkdirs(dst.getParent)
        require(fs.rename(src, dst), s"staging move failed: $src -> $dst")
      }
      // newly populated cells become live (monotone union — harmless
      // if the tag commit below never lands: a live cell whose files
      // were reclaimed scans as empty)
      ivfLiveCells(spark, path).foreach { live =>
        val present = presentCells(spark, path)
        if (!present.subsetOf(live))
          writeLiveCells(spark, path, live ++ present, mergeTip = true)
      }
    }
    graft.sources.Warehouse.commitNextVersion(spark, path, gen)
    fs.delete(staging, true)
    true
  }

  def ivfAppendIndexTagged(delta: DataFrame, centroids: Seq[Seq[Double]],
      path: String, tag: String): Boolean =
    ivfAppendIndexTagged(delta, IvfQuantizer(centroids), path, tag)

  /** Cell-skew maintenance for an append-maintained index
    * ([[ivfAppendIndex]] freezes the quantizer, so a drifting delivery
    * stream concentrates into whatever cells the drift points at until
    * probed-cell scans degrade): every LIVE level-1 cell whose row count
    * exceeds `bloatFactor`× the mean is SPLIT — a sub-quantizer is
    * trained on (a sample of) the cell's own vectors, the cell's rows
    * are rewritten under its sub-cells, and the live-cell manifest swap
    * commits the move atomically; only then is the parent directory
    * vacuumed. Untouched cells are never read or rewritten
    * (byte-identical files — `ScaleOpsSpec` asserts it).
    *
    * The result is a TWO-LEVEL quantizer ([[IvfQuantizer]] with a
    * `splits` entry per reclustered cell): level-1 assignment is
    * unchanged, so a full rebuild under the returned quantizer places
    * every vector exactly where the incremental recluster did — search
    * over the maintained index is identical to search over a rebuild,
    * which is what makes the maintenance safe to run forever. Probing
    * expands a split parent to all its children (same candidate set,
    * same recall as before the split); the win is bounded per-partition
    * size and parallel scans of the former hot cell.
    */
  def ivfReclusterIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, quantizer: IvfQuantizer, bloatFactor: Double = 4.0,
      subCells: Int = 8, lloydIters: Int = 2, sampleFraction: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfQuantizer = {
    val stats = ivfCellStats(spark, path).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (stats.isEmpty) return quantizer
    val mean = stats.values.sum.toDouble / stats.size
    val bloated = stats.toSeq
      .filter { case (cid, n) =>
        n > bloatFactor * mean && cid < IvfQuantizer.SubBase &&
          !quantizer.splits.contains(cid)
      }
      .sortBy(_._1)
    var q = quantizer
    val fs = fsOf(spark, path)
    bloated.foreach { case (cid, _) =>
      // materialized before anything writes under `path`: the rewrite
      // below appends to the same root this scan reads from, and the
      // vacuum deletes the very files backing the lazy plan. ALL data
      // columns ride the move (drop only the partition column being
      // reassigned): an IVF-PQ index's `codes` column must survive a
      // recluster — PQ codes are global subspace state, independent of
      // which cell a vector lives in, so moving a row never re-encodes
      // it — and any future payload column is likewise preserved.
      val cell = Staged.read(spark, path).filter(col("cid") === cid)
        .drop("cid")
        .localCheckpoint(true)
      try {
      val subs = trainCentroids(cell, subCells, lloydIters, sampleFraction,
        idCol, vecCol)
      if (subs.length >= 2) {
        val candidate = q.copy(splits = q.splits + (cid -> subs))
        // orphan cleanup: a crashed earlier attempt may have left
        // child dirs that never became live — rewriting is idempotent.
        // Tip version captured BEFORE the live-set read: any append
        // landing after this point advances the tip and the exact-set
        // commit below fails loudly instead of dropping its cells.
        val tip0 = cellsVersions(fs, path).lastOption.getOrElse(0L)
        val live0 = ivfLiveCells(spark, path).getOrElse(
          presentCells(spark, path))
        subs.indices.map(i => candidate.subCid(cid, i)).foreach { sc =>
          if (!live0.contains(sc)) {
            val d = new org.apache.hadoop.fs.Path(path, s"cid=$sc")
            if (fs.exists(d)) fs.delete(d, true)
          }
        }
        val moved = cell
          .withColumn("cid", candidate.cidExpr(col(vecCol).cast("array<double>")))
        val childCells = moved.select("cid").distinct()
          .collect().map(_.getInt(0)).toSet
        moved.write.mode("append").partitionBy("cid").parquet(path)
        // COMMIT: children become live, the parent stops being live
        writeLiveCells(spark, path, live0 - cid ++ childCells,
          mergeTip = false, expectedTip = Some(tip0))
        q = candidate
        // vacuum the superseded parent directory
        fs.delete(new org.apache.hadoop.fs.Path(path, s"cid=$cid"), true)
        ()
      }
      // the cell's checkpoint blocks are dead once its rewrite (or the
      // too-sparse skip) completes — freed per iteration, or an N-cell
      // maintenance pass pins N hot cells in storage until session end
      } finally graft.core.CacheUtil.freeCheckpoint(cell)
    }
    q
  }

  /** Search a cell-partitioned index written by [[ivfWriteIndex]]. The
    * probed cell ids (a bounded |queries|×nProbe collect — the same
    * config-sized probe state every IVF system ships to its readers)
    * become a LITERAL partition filter on the index scan, and the method
    * verifies on the physical plan that the scan really pruned to at
    * most that many partition directories — a mis-laid-out index (flat
    * files, renamed partition column) fails fast instead of silently
    * full-scanning.
    */
  def ivfSearchIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int,
      centroids: Seq[Seq[Double]], nProbe: Int,
      idCol: String, vecCol: String): DataFrame =
    ivfSearchIndex(spark, indexPath, queries, k, IvfQuantizer(centroids),
      nProbe, idCol, vecCol)

  def ivfSearchIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int,
      centroids: Seq[Seq[Double]], nProbe: Int = 4,
      idCol: String = "vec_id"): DataFrame =
    ivfSearchIndex(spark, indexPath, queries, k, IvfQuantizer(centroids),
      nProbe, idCol, "embedding")

  def ivfSearchIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int,
      quantizer: IvfQuantizer, nProbe: Int,
      idCol: String, vecCol: String): DataFrame = {
    require(quantizer.centroids.nonEmpty,
      "ivfSearchIndex needs the index's quantizer")
    val qBase = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .filter(graft.expr.native.arrayDot(col("qvec"), col("qvec")) > 0)
    val (probes, scan) = probedScan(spark, indexPath, qBase, quantizer, nProbe)
    val cBase = scan.select(col("cid"), col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cvec"))
    val candidates = cBase.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos_raw"))
    rankByCosine(candidates, k)
  }

  /** Shared probed-index access for the IVF search family: level-1
    * probes per query (a split parent expands to ALL its children — the
    * candidate set, and recall, is exactly the pre-split one), the
    * probed cell ids as a LITERAL partition filter, and the physical-
    * plan self-assert that the scan really pruned to at most that many
    * partition directories. Returns (probes with (query_id, qvec, cid),
    * pruned index scan).
    */
  private def probedScan(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, qBase: DataFrame, quantizer: IvfQuantizer,
      nProbe: Int): (DataFrame, DataFrame) = {
    val probe = math.min(nProbe, quantizer.centroids.size)
    val probes0 = qBase.withColumn("cid",
      explode(graft.expr.native.nearestCentroids(
        col("qvec"), quantizer.centroids, probe)))
    val probes =
      if (quantizer.splits.isEmpty) probes0
      else {
        val expand = quantizer.splits.toSeq.sortBy(_._1)
          .foldLeft(array(col("cid"))) { case (acc, (p, subs)) =>
            when(col("cid") === p, array(
              subs.indices.map(i => lit(quantizer.subCid(p, i))): _*))
              .otherwise(acc)
          }
        probes0.withColumn("cid", explode(expand))
      }
    val live = ivfLiveCells(spark, indexPath)
    // collect the raw |queries|×nProbe cid rows (the bounded probe
    // state this method's contract already ships driver-ward) and
    // dedupe locally: a .distinct() here costs one more exchange +
    // adaptive stage round per search for a set that is at most
    // nProbe·|queries| ints either way
    val cells = probes.select("cid").collect()
      .map(_.getInt(0)).distinct
      .filter(c => live.forall(_.contains(c)))
      .sorted
    val scan = Staged.read(spark, indexPath)
      .filter(col("cid").isin(cells.map(Int.box).toIndexedSeq: _*))
    // plan self-assert under an audit only (the BandedIndex partition
    // counts rule): partitionsRead forces an extra planning pass +
    // partition listing per lookup, which a production search
    // shouldn't pay twice. The pruning contract itself stays pinned
    // independently by ScaleOpsSpec's partitionsRead assertions.
    if (graft.core.Trace.auditing)
      require(graft.sources.Warehouse.partitionsRead(scan) <= cells.length,
        s"IVF index scan read more than the ${cells.length} probed cells — " +
          "is the index hive-partitioned by cid?")
    (probes, scan)
  }

  /** Per-query top-k by (cosine DESC, neighbor_id ASC) via the bounded
    * top-k aggregate ([[graft.operators.TopK.grouped]] with
    * `idAscending = true`): O(k) partial state per (task, query)
    * instead of a full candidate-group sort per query, and the id may
    * be ANY orderable type (integral ids keep the bounded scale path;
    * others route to the window fallback inside TopK). Output matches
    * [[bruteForceTopK]]: (query_id, rank, neighbor_id, cos_sim).
    */
  private def rankByCosine(scored: DataFrame, k: Int): DataFrame =
    graft.operators.TopK.grouped(
      scored, "query_id", "cos_raw", "neighbor_id", k, idAscending = true)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        roundDet(col("cos_raw"), 6).as("cos_sim"))

  /** Per-query smallest-`rerank` ADC candidate cut, same bounded-agg
    * shape (negate the double-typed distance so "largest" = smallest —
    * total on doubles — with ascending-id ties via the TopK flag). This
    * replaces the `row_number` window that made every reducer sort a
    * corpus-sized group per query — the flat-PQ scale-killer. */
  private def adcCandidateCut(adc: DataFrame, rerank: Int): DataFrame =
    graft.operators.TopK.grouped(
      adc.withColumn("nadc", -col("adc")),
      "query_id", "nadc", "neighbor_id", rerank, idAscending = true)
      .select(col("query_id"), col("neighbor_id"))

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023 —
    * the public recipe: k-means the embeddings, dedup WITHIN clusters
    * only): every vector is assigned to its nearest coarse-quantizer
    * cell (map stage against broadcast centroids — the same
    * scale-invariant dot/|c| assignment as [[ivfTopK]], so colinear
    * duplicates always share a cell), candidates are generated only
    * inside a (cell, sign-sketch bucket) block, and survivors verify by
    * exact cosine. The cell partition bounds the candidate space the
    * way SemDeDup's per-cluster pairwise pass does, but the sketch
    * sub-blocking keeps even a hot cell sub-quadratic — no cross-cell
    * pair is ever materialized, which is the operator's documented
    * recall tradeoff (near-pairs straddling a cell boundary are out of
    * contract; duplicates and near-colinear pairs never straddle).
    */
  def semanticDupPairs(df: DataFrame, centroids: Seq[Seq[Double]],
      minCos: Double = 0.95, nBits: Int = 8, nTables: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "semanticDupPairs needs a trained quantizer")
    semanticDupPairsImpl(df, centroids, minCos, nBits, nTables, idCol, vecCol)
  }

  /** Offline-training mode, symmetric to `ivfTopK(pretrained = None)`:
    * train the coarse quantizer once on (a sample of) `df` — the same
    * bounded k×dim driver state as [[trainCentroids]] — then run the
    * cluster-scoped dedup under it. Production callers training offline
    * should persist the returned quantizer (via [[trainCentroids]]
    * directly) and call [[semanticDupPairs]] so repeated passes issue
    * ZERO training actions; this entry point is the train-and-go
    * convenience for one-shot jobs. Degrades to an empty pair set on an
    * empty/all-zero corpus instead of throwing, like the ANN siblings.
    */
  def semanticDupPairsTrained(df: DataFrame, nCells: Int = 16,
      lloydIters: Int = 2, sampleFraction: Double = 1.0,
      minCos: Double = 0.95, nBits: Int = 8, nTables: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = trainCentroids(df, nCells, lloydIters, sampleFraction,
      idCol, vecCol)
    if (cents.isEmpty)
      // typed from the input (the ivfTopK empty-edge rule): id_a/id_b
      // carry the caller's id type on both the empty and populated paths
      return df.limit(0).select(col(idCol).as("id_a"),
        col(idCol).as("id_b"),
        lit(null).cast("double").as("cos_sim"))
    semanticDupPairsImpl(df, cents, minCos, nBits, nTables, idCol, vecCol)
  }

  private def semanticDupPairsImpl(df: DataFrame, centroids: Seq[Seq[Double]],
      minCos: Double, nBits: Int, nTables: Int,
      idCol: String, vecCol: String): DataFrame = {
    // persist: assignment+sketch subtree feeds the block join and both
    // verify re-attach sides (caller owns lifetime, as in the siblings)
    val base = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .filter(graft.expr.native.arrayDot(col("vec"), col("vec")) > 0)
      .withColumn("cell", element_at(
        graft.expr.native.nearestCentroids(col("vec"), centroids, 1), 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sk = base.select(col("id"), col("cell"),
      posexplode(signSketches(col("vec"), nTables, nBits))
        .as(Seq("tbl", "bucket")))
    val a = sk.select(col("cell"), col("tbl"), col("bucket"), col("id").as("id_a"))
    val b = sk.select(col("cell"), col("tbl"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("cell", "tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        roundDet(cosine(col("vec_a"), col("vec_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Pairs with IDENTICAL feature vectors: block on a 64-bit hash of the
    * vector, verify exact equality (hash-collision guard). This — not
    * sign-LSH — is the correct blocking when the target is identical
    * payloads: on a near-identical-direction corpus (byte histograms,
    * normalized features) every vector shares sign buckets and an LSH
    * candidate set goes quadratic, while the exact-hash shuffle stays
    * uniform and linear. First stage of any media dedup cascade.
    */
  def exactFeatureDupPairs(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // persist: the keyed relation feeds the ids-only blocking join AND
    // both re-attach sides; uncached, the upstream decode would run 3×.
    // Lifetime is the caller's: in a long-lived session, unpersist (or
    // spark.catalog.clearCache()) after materializing the result, or the
    // cached relation outlives the pipeline and crowds storage memory
    val keyed = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .filter(graft.expr.native.arrayDot(col("vec"), col("vec")) > 0)
      .withColumn("fh", xxhash64(col("vec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ids-only through the hash-blocking shuffle (the wide vectors
    // re-attach by key only for the few hash-equal candidates)
    val ids = keyed.select("fh", "id")
    ids.select(col("fh"), col("id").as("id_a"))
      .join(ids.select(col("fh"), col("id").as("id_b")), Seq("fh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .join(keyed.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(keyed.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .filter(col("vec_a") === col("vec_b")) // 64-bit-collision guard
      .select(col("id_a"), col("id_b"), lit(1.0).as("cos_sim"))
  }

  /** Near-duplicate pairs by embedding cosine: block on a coarse sign
    * sketch (two vectors with cosine ≥ minCos almost surely agree on a
    * low-bit sketch in at least one table), verify exactly.
    *
    * Sizing the blocking: a sketch bit disagrees between two vectors
    * with p = arccos(cos)/π, so recall at the threshold is
    * 1 - (1 - (1-p)^nBits)^nTables while expected bucket occupancy (and
    * with it the quadratic verify fan-in) shrinks as n/2^nBits per
    * table. The defaults suit the broad minCos ≈ 0.95 regime
    * (p ≈ 0.10: 8/6 keeps recall ≈ 0.965 at the boundary); tight
    * thresholds should buy MUCH deeper blocking with the recall they
    * don't need — at 0.999 (p ≈ 0.014), 16 bits × 8 tables still
    * misses only ~3e-6 of true pairs but cuts bucket sizes 256×,
    * which is what keeps the verify stage near-linear as the corpus
    * scales.
    */
  def cosineDupPairs(df: DataFrame, minCos: Double = 0.95,
      nBits: Int = 8, nTables: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // ids-only candidates (vectors stay out of the hot shuffles), then
    // re-attach both vectors by key for the exact verification pass
    val base = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .filter(graft.expr.native.arrayDot(col("vec"), col("vec")) > 0)
    val sk = base.select(col("id"),
      posexplode(signSketches(col("vec"), nTables, nBits)).as(Seq("tbl", "bucket")))
    val a = sk.select(col("tbl"), col("bucket"), col("id").as("id_a"))
    val b = sk.select(col("tbl"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        roundDet(cosine(col("vec_a"), col("vec_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Measured recall@k of an ANN result against the exact result — the
    * quality contract every approximate index owes its operator. Both
    * inputs are (query_id, neighbor_id, …) top-k tables; the output is
    * one row: exact pair count, hit count, recall = |approx ∩ exact| /
    * |exact|. Ids-only semi-join + two tiny aggregates — the vectors
    * never re-enter. Callers evaluating several ANN variants against one
    * exact table should persist `exact` (it is scanned per variant).
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .select(col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall"))

  /** Per-vector scalar int8 quantization — the storage/bandwidth arm of
    * an ANN system: codes are 4× smaller than float32 (32× smaller than
    * the float64 compute form), and at 100 TB the index scan reads codes
    * while only the re-rank tail touches full vectors.
    *
    * Each vector is encoded against its own [min, max] range:
    * `code_i = floor((x_i - min) / (max - min) * 255 + 0.5)` (the
    * deterministic floor-rounding used everywhere in this engine);
    * degenerate constant vectors encode to all-zero codes. Emitted per
    * vector: the range, order-insensitive code checksums (sum, sum of
    * squares), and the round-trip reconstruction MSE — the quality
    * metric that tells an operator whether SQ8 is safe for their
    * embedding distribution. Shape: posexplode → codegen'd arithmetic →
    * one aggregation shuffle; the exploded rows of a vector never leave
    * their scan partition before the partial agg.
    */
  def quantizeInt8Stats(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val base = df.select(col(idCol),
      col(vecCol).cast("array<double>").as("_v"),
      array_min(col(vecCol).cast("array<double>")).as("_lo"),
      array_max(col(vecCol).cast("array<double>")).as("_hi"))
    val exploded = base
      .select(col(idCol), col("_lo"), col("_hi"),
        posexplode(col("_v")).as(Seq("_pos", "_x")))
      .withColumn("_code",
        when(col("_hi") === col("_lo"), lit(0L)).otherwise(
          floor((col("_x") - col("_lo")) / (col("_hi") - col("_lo"))
            * 255.0 + 0.5).cast("long")))
      .withColumn("_recon",
        col("_lo") + col("_code") * (col("_hi") - col("_lo")) / 255.0)
    exploded.groupBy(idCol)
      .agg(
        count(lit(1)).as("n_dims"),
        roundDet(min(col("_lo")), 6).as("v_min"),
        roundDet(max(col("_hi")), 6).as("v_max"),
        sum(col("_code")).as("code_sum"),
        sum(col("_code") * col("_code")).as("code_sumsq"),
        roundDet(avg(pow(col("_x") - col("_recon"), 2)), 9).as("recon_mse"))
  }

  /** Per-label embedding centroids, one row per (label, dimension):
    * element-wise mean component plus the label's vector count — the
    * class-prototype table behind nearest-centroid classification and
    * the seed state for IVF-style coarse quantizers.
    *
    * Scale design (100 TB): the posexplode is a map-side Generate and
    * the (label, dim) average partial-aggregates BEFORE the exchange, so
    * the shuffle carries only |labels| × dim × partitions partial sums —
    * never the exploded corpus. No driver collect (contrast with the IVF
    * trainer, which materializes its k×dim centroids as config state).
    */
  def labelCentroids(df: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("_pos", "_x")))
      .groupBy(col("label"), col("_pos").cast("long").as("dim_idx"))
      .agg(
        count(lit(1)).as("n_vecs"),
        roundDet(avg(col("_x")), 6).as("centroid_comp"))

  // ---------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search"): the vector-COMPRESSION half of ANN,
  // complementing IVF's candidate pruning. A 64-dim float64 vector (512
  // bytes) becomes M sub-codes (M bytes at K≤256): the compressed-domain
  // ADC scan touches ~1/64th of the bytes an exact scan reads — at
  // 100 TB of embeddings that is the difference between an in-memory
  // code sweep and a disk-bound vector scan.
  // ---------------------------------------------------------------------

  /** Train per-subspace PQ codebooks: the vector is split into `numSub`
    * contiguous subvectors and each subspace gets its own
    * `codesPerSub`-codeword L2 k-means codebook. ALL subspaces train in
    * the SAME distributed pass per Lloyd round (assignment is one
    * [[graft.expr.native.pqEncode]] map; the mean-update aggregates on
    * (subspace, code, dim) — M·K·subDim partial sums, never the
    * corpus). Deterministic like [[trainCentroids]]: seeds are the
    * `codesPerSub` sample vectors with the smallest md5(id) (sliced
    * per subspace), means are 1e-6-quantized each round. Driver state
    * is the M×K×subDim codebook tensor — model config, like the IVF
    * quantizer.
    */
  /** Unit-normalize an array<double> vector (zero vectors pass through
    * unchanged). PQ trains/encodes on the unit sphere because the
    * search ranks by COSINE: on unit vectors L2 order equals cosine
    * order (‖a−b‖² = 2−2·cos), so the L2-native ADC sweep ranks
    * correctly. */
  private def unitVec(vec: Column): Column = {
    val n = sqrt(graft.expr.native.arrayDot(vec, vec))
    when(n > 0, transform(vec, x => x / n)).otherwise(vec)
  }

  def trainPqCodebooks(corpus: DataFrame, numSub: Int, codesPerSub: Int,
      lloydIters: Int = 2, sampleFraction: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[Seq[Seq[Double]]] = {
    require(numSub >= 1 && codesPerSub >= 1)
    val base = corpus.select(col(idCol).as("id"),
        unitVec(col(vecCol).cast("array<double>")).as("vec"))
      .filter(size(col("vec")) > 0)
    val sample = (if (sampleFraction >= 1.0) base
      else base.filter(Sampling.hashBucket(col("id"), "pq-train")
        < math.round(sampleFraction * 1000000L)))
      .localCheckpoint(true)
    val firstDim = sample.select(size(col("vec"))).head(1)
    if (firstDim.isEmpty) return Seq.empty
    val dim = firstDim(0).getInt(0)
    require(dim % numSub == 0,
      s"vector dim $dim must divide evenly into $numSub subspaces")
    val subDim = dim / numSub
    val seeds = sample
      .withColumn("hk", md5(col("id").cast("string")))
      .orderBy("hk").limit(codesPerSub) // TakeOrdered: no global sort
      .select("vec").collect().map(_.getSeq[Double](0)).toSeq
    if (seeds.isEmpty) return Seq.empty
    def q(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    // seed codebook m = subvector m of each seed (padded by cycling when
    // the sample is sparser than codesPerSub — fewer codes, still valid)
    var cbs: Seq[Seq[Seq[Double]]] = (0 until numSub).map(m =>
      seeds.map(v => v.slice(m * subDim, (m + 1) * subDim)))
    var it = 0
    while (it < lloydIters) {
      val assigned = sample.select(col("vec"),
        graft.expr.native.pqEncode(col("vec"), cbs).as("codes"))
      val means = assigned
        .select(posexplode(col("codes")).as(Seq("m", "code")), col("vec"))
        .select(col("m"), col("code"),
          posexplode(slice(col("vec"), col("m") * lit(subDim) + lit(1),
            lit(subDim))).as(Seq("pos", "x")))
        .groupBy("m", "code", "pos").agg(avg("x").as("mean"))
        .groupBy("m", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
          s => s.getField("mean")).as("cvec"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).map(q))
        .toMap
      // a codeword that lost all members keeps its previous position
      cbs = cbs.zipWithIndex.map { case (cb, m) =>
        cb.indices.map(k => means.getOrElse((m, k), cb(k)))
      }
      it += 1
    }
    cbs
  }

  /** Deterministic stand-in for offline-trained PQ codebooks
    * (splitmix64 components, the [[graft.queries.LlmQueries]]
    * pseudorandomCentroids idiom): any fixed codebook tensor is a valid
    * quantizer for the planted-twin construction — identical vectors
    * encode identically — so the gate can run the search path with zero
    * training actions.
    */
  def pseudorandomPqCodebooks(numSub: Int, codesPerSub: Int,
      subDim: Int): Seq[Seq[Seq[Double]]] = {
    def splitmix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until numSub).map(m => (0 until codesPerSub).map(k =>
      (0 until subDim).map { d =>
        splitmix((m.toLong * 7919L + k) * 1000003L + d).toDouble /
          (1L << 63).toDouble.abs
      }))
  }

  /** PQ-encode a corpus: (idCol, codes array<int>). One codegen'd map
    * over the scan — the offline index-build step; at scale the codes
    * table IS the searchable index (M bytes/vector). */
  def pqEncodeCorpus(corpus: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol),
      graft.expr.native.pqEncode(
        unitVec(col(vecCol).cast("array<double>")), codebooks).as("codes"))

  /** Approximate top-k via PQ ADC scan + exact re-rank — the standard
    * production composition: the compressed-domain sweep ranks the
    * whole corpus by asymmetric distance (query exact, corpus codes —
    * M bytes/vector touched), keeps `rerank` candidates per query, and
    * only those re-attach their full vectors for exact cosine scoring.
    * Output schema matches [[bruteForceTopK]]/[[lshTopK]] (query_id,
    * rank, neighbor_id, cos_sim), so [[recallAtK]] and the twin-gate
    * construction apply unchanged.
    *
    * Scale shape: the ADC join carries (id, codes) only — never the
    * wide vectors; candidates shuffle once for the per-query window
    * (keyed on query_id, |queries|·rerank rows); the re-rank join
    * re-attaches vectors for candidates only. A planted exact twin's
    * code achieves the per-subspace minimum ADC distance, so it is
    * always within the candidate cut (ties can only come from
    * code-identical vectors).
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      codebooks: Seq[Seq[Seq[Double]]], rerank: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, "rerank candidate cut must be >= k")
    val cBase = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .filter(graft.expr.native.arrayDot(col("cvec"), col("cvec")) > 0)
    val qBase = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .filter(graft.expr.native.arrayDot(col("qvec"), col("qvec")) > 0)
    val codes = cBase.select(col("neighbor_id"),
      graft.expr.native.pqEncode(unitVec(col("cvec")), codebooks).as("codes"))
    val adc = codes.join(
        broadcast(qBase.select(col("query_id"),
          unitVec(col("qvec")).as("qunit"))),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.expr.native.pqAdcDist(col("qunit"), col("codes"), codebooks)
          .as("adc"))
    val candidates = adcCandidateCut(adc, rerank)
    // candidates (|queries|*rerank rows) BROADCAST into the corpus-side
    // vector re-attach: the wide vectors never shuffle, the re-rank is a
    // map-side join over the scan
    val rescored = cBase
      .join(broadcast(candidates.join(broadcast(qBase), Seq("query_id"))),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos_raw"))
    rankByCosine(rescored, k)
  }

  // ---------------------------------------------------------------------
  // IVF-PQ (faiss IndexIVFPQ, Jégou et al. 2011 §V): the production
  // composition of the two halves above — IVF's partition pruning bounds
  // WHICH vectors a query touches (nProbe/nCells of the corpus), PQ's
  // codes bound the BYTES each touched vector costs (M bytes, not the
  // full vector). At 100 TB a search reads probed-cell code columns
  // only; full vectors are fetched for the rerank candidates alone.
  // ---------------------------------------------------------------------

  /** Materialize the IVF-PQ index: the corpus hive-partitioned by coarse
    * cell (the [[ivfWriteIndex]] layout) with a PQ `codes` column stored
    * NEXT TO the vector. One native map over the scan — assignment and
    * encoding in the same projection, no shuffle beyond the partitioned
    * write. The ADC sweep later column-prunes to (id, codes) — the wide
    * vector bytes stay on disk until the rerank re-attach asks for the
    * few candidate rows.
    */
  def ivfPqWriteIndex(corpus: DataFrame, quantizer: IvfQuantizer,
      codebooks: Seq[Seq[Seq[Double]]], path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(quantizer.centroids.nonEmpty && codebooks.nonEmpty,
      "ivfPqWriteIndex needs a trained quantizer and codebooks")
    val spark = corpus.sparkSession
    corpus.select(col(idCol), col(vecCol))
      .filter(graft.expr.native.arrayDot(
        col(vecCol).cast("array<double>"),
        col(vecCol).cast("array<double>")) > 0)
      .withColumn("cid", quantizer.cidExpr(col(vecCol).cast("array<double>")))
      .withColumn("codes", graft.expr.native.pqEncode(
        unitVec(col(vecCol).cast("array<double>")), codebooks))
      .write.mode("overwrite").partitionBy("cid").parquet(path)
    Staged.forget(path) // overwrite may change the column set
    writeLiveCells(spark, path, presentCells(spark, path),
      mergeTip = false)
  }

  /** Delta maintenance for an [[ivfPqWriteIndex]] index — the faiss
    * `IndexIVFPQ.add` analogue, completing the build/search/append
    * lifecycle: the delivery's vectors are assigned against the index's
    * FROZEN coarse quantizer and PQ-encoded under its FROZEN codebooks,
    * then appended under their cell partitions. O(delta) cost, resident
    * cells untouched — both quantizer levels staying frozen is what
    * keeps the layout and the ADC geometry valid across deliveries:
    * identical vectors land in identical cells with identical codes, so
    * search over the maintained index equals search over a full
    * rebuild ([[ivfAppendIndex]]'s contract, extended to the codes).
    * Re-training either quantizer on drifted data is an OFFLINE
    * decision producing a NEW index path, deliberately not this method.
    */
  def ivfPqAppendIndex(delta: DataFrame, quantizer: IvfQuantizer,
      codebooks: Seq[Seq[Seq[Double]]], path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(quantizer.centroids.nonEmpty && codebooks.nonEmpty,
      "ivfPqAppendIndex needs the index's quantizer and codebooks")
    val spark = delta.sparkSession
    val assigned = delta.select(col(idCol), col(vecCol))
      .filter(graft.expr.native.arrayDot(
        col(vecCol).cast("array<double>"),
        col(vecCol).cast("array<double>")) > 0)
      .withColumn("cid", quantizer.cidExpr(col(vecCol).cast("array<double>")))
      .withColumn("codes", graft.expr.native.pqEncode(
        unitVec(col(vecCol).cast("array<double>")), codebooks))
    // same write discipline as ivfAppendIndex: repartition on the
    // partition column (skip for a single-partition micro-delivery) so
    // a delivery never writes tasks×cells small files, and derive the
    // live-cell update from the POST-write directory listing — a
    // pre-write scan job over the delta would both encode the delta
    // twice and, on a nondeterministic delta, disagree with what the
    // write actually produced, leaving a written cell permanently
    // dead to probedScan
    val placed =
      if (assigned.rdd.getNumPartitions <= 1)
        assigned.sortWithinPartitions("cid")
      else assigned.repartition(col("cid"))
    placed.write.mode("append").partitionBy("cid").parquet(path)
    ivfLiveCells(spark, path).foreach { live =>
      val present = presentCells(spark, path)
      if (!present.subsetOf(live))
        writeLiveCells(spark, path, live ++ present, mergeTip = true)
    }
  }

  /** Search an [[ivfPqWriteIndex]] index: probed-cell partition pruning
    * (plan-asserted, as in [[ivfSearchIndex]]), compressed-domain ADC
    * sweep over the probed cells' (id, codes) columns only, bounded-agg
    * candidate cut (O(rerank) partials — no corpus-sized window sort),
    * then exact-cosine rerank re-attaching full vectors for candidates
    * alone. Output schema matches [[bruteForceTopK]].
    *
    * Twin contract (the oracle reduction): a planted exact twin shares
    * its probe's nearest cell under ANY quantizer, its code achieves the
    * per-subspace minimum ADC distance within that cell, and exact
    * rerank ranks it at cos 1.0 — so recall on the twin set is 1
    * end-to-end.
    *
    * `maxPushdownIds` bounds the candidate-id pushdown: at most that
    * many (query, candidate) pairs are collected to the driver to build
    * the `isin` predicate that reaches the vector scan. Pass 0 to force
    * the always-lazy join shape. CAVEAT on the lazy/fallback path: the
    * ADC sweep executes TWICE — once for the `limit(max+1)` probe that
    * discovers the overflow (skipped entirely when `maxPushdownIds`
    * is 0) and once inside the final plan — so choose 0 up front when
    * the probe batch is known to be corpus-sized.
    */
  def ivfPqSearchIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int,
      quantizer: IvfQuantizer, codebooks: Seq[Seq[Seq[Double]]],
      nProbe: Int = 4, rerank: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxPushdownIds: Int = 100000): DataFrame = {
    require(maxPushdownIds >= 0, "maxPushdownIds must be >= 0 (0 = lazy)")
    require(quantizer.centroids.nonEmpty && codebooks.nonEmpty,
      "ivfPqSearchIndex needs the index's quantizer and codebooks")
    require(rerank >= k, "rerank candidate cut must be >= k")
    val qBase = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .filter(graft.expr.native.arrayDot(col("qvec"), col("qvec")) > 0)
    // ONE probedScan for the whole search: the sweep reuses the same
    // (probes, scan) pair the rerank reads vectors from — calling the
    // public ivfPqAdcSweep here would run the probe-cell collect (and,
    // under an audit, the partition-listing assert) a second time
    val (probes, scan) = probedScan(spark, indexPath, qBase, quantizer, nProbe)
    val candidates = adcCandidateCut(
      adcSweepFrom(probes, scan, codebooks, idCol), rerank)
    // rerank: vectors fetched for candidates only, still cell-pruned.
    // A bare join would bound only the join OUTPUT — the scan would
    // still read the wide vector column for every probed-cell row,
    // which at a 100 TB index re-reads exactly the bytes the PQ codes
    // exist to avoid. So for a bounded probe batch the candidate PAIRS
    // (≤ |queries| × rerank) are collected once — the single execution
    // of the ADC sweep — and the rerank query is rebuilt from that
    // local relation with the candidate ids as an isin predicate ON
    // the vector scan: the filter reaches the parquet reader and only
    // candidate rows survive to the join. Costs one extra driver round
    // versus a single lazy plan — noise at scale, visible at toy scale
    // (the bench gate's justified ratio). Above the bound (a massive
    // corpus-vs-corpus batch) the fully-lazy join shape applies: the
    // probe's sweep is discarded and re-runs in the final plan —
    // acceptable on the path whose candidate set is itself
    // corpus-sized, where no literal list could be shipped anyway;
    // callers that KNOW the batch is corpus-sized pass
    // maxPushdownIds = 0 to skip the doomed probe too.
    val cVecBase = scan.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cvec"))
    val rescoredOf = (cand: DataFrame, cVec: DataFrame) => cand
      .join(broadcast(qBase), Seq("query_id"))
      .join(cVec, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos_raw"))
    // the pushdown path materializes ids as Longs — gate it on the id
    // column actually BEING bigint (the siblings' contract is any
    // orderable id type; getAs[Long] on an int/string id would throw,
    // so non-Long ids take the always-lazy shape instead)
    val longIds = Seq("query_id", "neighbor_id").forall(c =>
      candidates.schema(c).dataType ==
        org.apache.spark.sql.types.LongType)
    val collected =
      if (maxPushdownIds == 0 || !longIds) Array.empty[org.apache.spark.sql.Row]
      else candidates.limit(maxPushdownIds + 1).collect()
    val rescored =
      if (maxPushdownIds > 0 && longIds &&
          collected.length <= maxPushdownIds) {
        import spark.implicits._
        val local = collected
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
          .toSeq.toDF("query_id", "neighbor_id")
        val ids = collected.map(_.getAs[Long]("neighbor_id")).distinct
        // InSet + min/max range guard, not a per-literal IN tree: at the
        // 10^3-10^5-id sizes this pushdown ships, the In-with-literal-
        // children form costs more driver analysis time than the scan
        // (NativeExpressions.inLongSet rationale), and the range guard
        // reaches parquet footers
        rescoredOf(local, cVecBase.filter(
          graft.expr.native.inBoundedLongSet(col("neighbor_id"),
            ids.toIndexedSeq)))
      } else rescoredOf(candidates, cVecBase)
    rankByCosine(rescored, k)
  }

  /** The compressed-domain ADC sweep of [[ivfPqSearchIndex]], exposed
    * lazy so the codes-only scan contract is assertable on its plan:
    * probed-cell pruned, (id, codes) columns only — the ReadSchema on
    * this branch never includes the wide vector column.
    */
  def ivfPqAdcSweep(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, quantizer: IvfQuantizer,
      codebooks: Seq[Seq[Seq[Double]]], nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qBase = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .filter(graft.expr.native.arrayDot(col("qvec"), col("qvec")) > 0)
    val (probes, scan) = probedScan(spark, indexPath, qBase, quantizer, nProbe)
    adcSweepFrom(probes, scan, codebooks, idCol)
  }

  /** The sweep body over an already-probed (probes, scan) pair — shared
    * by [[ivfPqAdcSweep]] (which derives the pair itself, the
    * plan-assertable surface) and [[ivfPqSearchIndex]] (which reuses the
    * pair its rerank also reads, so one search runs ONE probe collect).
    */
  private def adcSweepFrom(probes: DataFrame, scan: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]], idCol: String): DataFrame =
    scan.select(col("cid"), col(idCol).as("neighbor_id"), col("codes"))
      .join(broadcast(probes.select(col("cid"), col("query_id"),
        unitVec(col("qvec")).as("qunit"))), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.expr.native.pqAdcDist(col("qunit"), col("codes"), codebooks)
          .as("adc"))
}

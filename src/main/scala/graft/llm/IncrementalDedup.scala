package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.Warehouse

/** Incremental (delta) near-duplicate deduplication against a persisted
  * signature index — the 100 TB operating mode. Nobody re-runs
  * whole-corpus dedup per crawl delivery: each delivery is deduped
  * against the ACCUMULATED survivors, and only the delivery's own
  * survivors are appended to the index.
  *
  * Index state per survivor: `(id, sig, sharr)` — the k-hash MinHash
  * signature (candidate generation) and the xxhash64'd distinct-shingle
  * set (exact Jaccard verification). Document TEXT is never stored:
  * verification against prior deliveries runs entirely on the hashed
  * arrays ([[Dedup.verifyJaccardFromHashedShingles]]), so a delivery's
  * dedup reads the index plus its own rows and nothing else. State is
  * orders of magnitude smaller than the documents it summarizes
  * (k + |distinct shingles| longs per doc vs the raw text).
  *
  * Scale shape per delivery (index size N, delivery size n ≪ N):
  *  - within-delivery candidates: the standard banded LSH over n rows;
  *  - delivery↔index candidates: band-key equi-join — the index side is
  *    a column-pruned scan of the delta-log generations, the delivery
  *    side is small enough that AQE broadcasts it, so the index is
  *    NEVER shuffled; cost is one map-side pass over N signature rows
  *    under [[FlatIndex]], or a partition-PRUNED lookup ∝ the delivery's
  *    own band keys under [[BandedIndex]] (the streaming/micro-batch
  *    operating point, where even one pass over N per trigger is too
  *    much).
  *  - verification + connected components: proportional to candidate
  *    pairs, not to N or n;
  *  - admission: one [[Warehouse.deltaAppend]] of the delivery's
  *    survivor state — append cost ∝ delivery, never index size, with
  *    the manifest's atomic single-key commit.
  *
  * Semantics: a delivery document is REJECTED when its duplicate
  * cluster (over verified pairs at `minJaccard`) contains any index
  * survivor, or a smaller-id member of its own delivery; otherwise it is
  * admitted. The index is never retro-pruned — first-admitted content
  * wins, the standard production contract.
  *
  * Equivalence to the whole-corpus rerun: when ids are monotone across
  * deliveries (every id in delivery t+1 exceeds every id in deliveries
  * ≤ t — enforced by default, see `requireMonotoneIds`) and the
  * duplicate relation is transitive at the chosen threshold (guaranteed
  * at minJaccard = 1.0, where "duplicate" is distinct-shingle-set
  * equality), the accumulated survivor set after every delivery equals
  * [[Dedup.dropNearDuplicates]] over the union of all deliveries: each
  * equality class's global minimum id lives in the earliest delivery
  * that contains the class, is admitted there, and rejects every later
  * member. Below 1.0 the incremental result is the documented
  * index-wins semantics (a later doc bridging two admitted survivors
  * cannot retroactively merge them) — the same divergence every
  * production delta-dedup accepts.
  */
object IncrementalDedup {

  /** Largest driver-resident label set the admission filter pushes down
    * as IN-literal predicates (the bounded-probe-pushdown rule: beyond
    * this the plan-side join path keeps everything lazy — an InSet of
    * ~64k longs is a cheap hash probe per row, a million-literal one is
    * a plan-size liability). The verified pair set scales with the
    * DELIVERY's duplication, not the corpus, so typical deliveries sit
    * far under this at any corpus size.
    */
  private val DriverAdmissionBound = 65536

  /** Default ceiling (bytes, estimated) on the delivery STATE a single
    * admission may collect to the driver for the fully-local candidate/
    * verify/cluster pass — sized to the session's broadcast threshold
    * (64 MB): the distributed plan already ships the same state to the
    * driver as the build side of its broadcast joins, so admitting a
    * bounded delivery locally holds the memory line while removing the
    * ~15 adaptive stage rounds the join pipeline pays per trigger. A
    * delivery over the ceiling (a bulk backfill) takes the distributed
    * path unchanged — the 100 TB worst case never depends on the
    * driver. Byte- and row-bounded (see `driverAdmissionMaxBytes`).
    */
  val DriverAdmissionMaxBytes: Long = 64L << 20

  /** Physical layout of the persisted signature index — the pluggable
    * seam between "how the index is stored" and the delivery-dedup
    * semantics (which are layout-invariant and tested so). Two
    * implementations: [[FlatIndex]] (one delta-log of (id, sig, sharr);
    * the candidate join re-bands the whole index per delivery) and
    * [[BandedIndex]] (bands precomputed and hive-partitioned by
    * (band, bucket), so a small delivery's candidate lookup prunes to
    * the partitions its own band keys touch instead of scanning N).
    */
  private[graft] trait IndexLayout {
    /** Generation names already committed (replay guard). */
    def committedTags(spark: SparkSession, root: String): Seq[String]
    def hasIndex(spark: SparkSession, root: String): Boolean
    /** Full survivor state (id, sig, sharr). */
    def readState(spark: SparkSession, root: String): DataFrame
    /** Index side of the band-key candidate join, as (id_a, band, bh).
      * `deliveryKeys` is the delivery's distinct (band, bh) set — a
      * layout may use it to prune what it reads; correctness only
      * requires returning a SUPERSET of the index rows matching it.
      */
    def candidateSide(spark: SparkSession, root: String,
        deliveryKeys: DataFrame, bands: Int, rowsPerBand: Int): DataFrame
    /** Persist one delivery's survivors as a new generation; returns the
      * path holding the generation's (id, sig, sharr) rows.
      */
    def append(survivors: DataFrame, root: String, bands: Int,
        rowsPerBand: Int, tag: Option[String]): String
  }

  /** The original single-table layout: the index is one delta-log of
    * (id, sig, sharr) and candidate generation re-bands it per delivery
    * — one full map-side pass over N signature rows, no pruning.
    */
  private[graft] object FlatIndex extends IndexLayout {
    // ledger, not live generations: the replay guard (and the stage
    // ordinal) must still see tags whose directories compaction folded
    def committedTags(spark: SparkSession, root: String): Seq[String] =
      Warehouse.generationLedger(spark, root)
    def hasIndex(spark: SparkSession, root: String): Boolean =
      Warehouse.deltaVersions(spark, root).nonEmpty
    def readState(spark: SparkSession, root: String): DataFrame =
      Warehouse.deltaRead(spark, root, Some(StateSchema))
    def candidateSide(spark: SparkSession, root: String,
        deliveryKeys: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
      readState(spark, root)
        .select(col("id"),
          explode(Dedup.bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
        .select(col("id").as("id_a"), col("bk.band").as("band"),
          col("bk.bh").as("bh"))
    def append(survivors: DataFrame, root: String, bands: Int,
        rowsPerBand: Int, tag: Option[String]): String = tag match {
      case Some(t) =>
        Warehouse.deltaAppendTagged(survivors, root, t)
          .getOrElse(s"$root/gen-$t")
      case None => Warehouse.deltaAppend(survivors, root)
    }
  }

  /** Whether an [[addDelivery]] admission ran the driver-local bounded
    * path (vs the distributed join pipeline), noted once per admission
    * so the equivalence spec and the forced-distributed gate can check
    * which path actually executed. Nothing in the engine reads it.
    */
  val AdmissionLocal =
    graft.core.Trace.Key[Boolean]("incremental_dedup.admission_local")

  // -------------------------------------------------------------------
  // Monotone-id bound: the max id ever admitted, kept as an O(1)
  // atomically-renamed metadata file next to the manifest. The guard
  // then compares the delivery's min against a FILE READ instead of
  // aggregating over every index generation — at a 100 TB index with
  // 10k generations the per-trigger cost of the old idx.agg(max) is an
  // O(generations) footer sweep; the bound file is one open. The bound
  // is the admitted DELIVERY max (survivors ⊆ delivery), i.e.
  // delivery-level monotonicity — precisely the precondition the
  // equivalence argument uses.
  // -------------------------------------------------------------------

  private def boundPath(root: String) =
    new org.apache.hadoop.fs.Path(root, "_maxid")

  private def readIdBound(spark: SparkSession, root: String): Option[Long] = {
    val p = boundPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  private def writeIdBound(spark: SparkSession, root: String, v: Long): Unit = {
    val p = boundPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // UNIQUE tmp name, never truncate-in-place: a crash can leave a
    // stale tmp behind, and the hard-link index clones (LlmQueries
    // cloneIndex) assume committed index trees are never rewritten in
    // place — fs.create(overwrite) on a linked leftover would truncate
    // the SHARED inode across every clone. The .tmp suffix keeps
    // stragglers out of the clone walk; the unique stem keeps a
    // concurrent writer from racing a delete/create on one path.
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"_maxid.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    out.write(v.toString.getBytes("UTF-8")); out.close()
    // RATCHET commit with the rename result CHECKED: rename returns
    // false (it does not throw) when the destination reappears between
    // the delete and the rename — a racing writer. Discarding that
    // false would leave the bound stale-LOWER, which silently weakens
    // the monotone-id guard (the next delivery could overlap
    // already-admitted ids and still pass). Each retry first re-reads
    // the current bound and yields if a racer already committed >= v
    // (the bound is a max — losing to a higher value is success).
    var attempts = 0
    var committed = false
    while (!committed && attempts < 3) {
      attempts += 1
      if (readIdBound(spark, root).exists(_ >= v)) {
        fs.delete(tmp, false)
        return
      }
      if (fs.exists(p)) fs.delete(p, false)
      committed = fs.rename(tmp, p)
    }
    if (!committed) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"writeIdBound: could not commit $p after $attempts attempts " +
          "(racing writers?) — refusing to leave a stale-lower bound")
    }
  }

  /** The persisted survivor-state schema — what [[state]] produces and
    * every generation directory stores. Passed to the index reads so
    * they skip per-read parquet footer inference (a Spark job per
    * `spark.read.parquet`, and at a 100 TB index a footer sweep over
    * thousands of generations per trigger).
    */
  private[graft] val StateSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)),
    org.apache.spark.sql.types.StructField("sharr",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))))

  /** Signature-index state for a batch of documents: (id, sig, sharr). */
  def state(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3, k: Int = 32): DataFrame =
    df.select(col(idCol).as("id"),
        Dedup.shingles(TextAnalysis.tokens(col(textCol)), shingleN).as("_arr"))
      .select(col("id"),
        Dedup.minhashSignature(col("_arr"), k).as("sig"),
        transform(col("_arr"), x => xxhash64(x)).as("sharr"))

  /** Ids of every survivor admitted to the index so far. */
  def indexIds(spark: SparkSession, indexRoot: String): DataFrame =
    Warehouse.deltaRead(spark, indexRoot, Some(StateSchema)).select("id")

  /** Fold a FLAT index's per-delivery generations into one compacted
    * generation ([[Warehouse.compactDeltaLog]]): after thousands of
    * deliveries the per-trigger union scan fans out over thousands of
    * directories — compaction resets it to one, while the manifest
    * ledger keeps every historical delivery tag replay-guarded and the
    * `_maxid` bound is untouched. Run offline, any cadence; admissions
    * before/after are byte-equivalent (spec-pinned).
    */
  def compactIndex(spark: SparkSession, indexRoot: String): String =
    Warehouse.compactDeltaLog(spark, indexRoot)

  /** Dedup `delivery` against the index at `indexRoot` (created at its
    * first delivery), admit the delivery's survivors to the index, and
    * return the admitted delivery rows (all original columns).
    *
    * @param requireMonotoneIds assert max(index id) < min(delivery id)
    *        before admitting — the precondition for whole-corpus-rerun
    *        equivalence (see object doc). Two column-pruned min/max
    *        aggregates; disable for id schemes where index-wins
    *        semantics are acceptable without the guarantee.
    */
  def addDelivery(delivery: DataFrame, indexRoot: String,
      minJaccard: Double = 1.0, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4,
      requireMonotoneIds: Boolean = true,
      deliveryTag: Option[String] = None,
      layout: IndexLayout = FlatIndex,
      driverAdmissionMaxBytes: Long = DriverAdmissionMaxBytes): DataFrame = {
    val spark = delivery.sparkSession
    // admission ids flow into getLong collects and negated inLongSet
    // loser filters — a fractional id would truncate through the long
    // cast and silently drop extra rows; fail fast at the boundary
    graft.expr.native.requireIntegralId(delivery, idCol,
      "IncrementalDedup.addDelivery")
    val k = bands * rowsPerBand
    // manifest read ONCE per admission (replay guard + stage ordinal);
    // layout.append re-reads under its own commit discipline
    val committed0 = layout.committedTags(spark, indexRoot)
    // replay guard for streaming/restart callers: a tag that already
    // committed means this delivery was fully admitted once — the whole
    // dedup is skipped, not just the append (exactly-once admission).
    // Before returning, re-ratchet the `_maxid` bound from the replayed
    // delivery: a crash BETWEEN the generation commit and the bound
    // write would otherwise leave the bound stale at the previous
    // delivery's max, letting the next delivery pass the monotone guard
    // while overlapping already-admitted ids (silent equivalence break).
    // One cheap aggregate over the (small) delivery, replay-path only.
    if (deliveryTag.exists(t => committed0.contains(s"gen-$t"))) {
      val replayMax = delivery.agg(max(col(idCol))).head()
      if (!replayMax.isNullAt(0)) {
        val m = replayMax.getLong(0)
        if (readIdBound(spark, indexRoot).forall(_ < m))
          writeIdBound(spark, indexRoot, m)
      }
      return delivery.limit(0)
    }
    val hasIndex = layout.hasIndex(spark, indexRoot)
    // persisted: candidates, verification, and the admission semi-join
    // all reference the delivery state; signatures + hashed shingles are
    // far smaller than the documents they summarize
    val batch = state(delivery, textCol, idCol, shingleN, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // a projection of the persisted batch: both candidate paths read it
    // through the batch cache — a second persist would only buy another
    // materialization pass and double-cache the signatures
    val sigView = batch.select("id", "sig")
    val idx = if (hasIndex) layout.readState(spark, indexRoot) else null

    // one batch-only aggregate (also materializes the persisted state);
    // the index side is the O(1) bound file — falling back to an index
    // aggregation only for pre-bound-file indexes. Row count and hashed-
    // shingle mass ride the same job: they decide (for free) whether the
    // delivery state is small enough for the driver-local admission.
    val idRow = batch.agg(min(col("id")).as("minNew"),
      max(col("id")).as("maxNew"), count(lit(1)).as("nDocs"),
      sum(size(col("sharr"))).as("nHashes")).head()
    val emptyDelivery = idRow.isNullAt(0)
    val (minNew, maxNew) =
      if (emptyDelivery) (Long.MinValue, Long.MinValue)
      else (idRow.getLong(0), idRow.getLong(1))
    val nDocs = if (emptyDelivery) 0L else idRow.getLong(2)
    val stateBytesEst =
      if (emptyDelivery) 0L else 8L * (idRow.getLong(3) + (k + 2L) * nDocs)
    if (emptyDelivery) {
      // nothing to admit and nothing to guard: skip the candidate/
      // verify/append machinery entirely. Deliberately NO generation or
      // tag commit — re-running an empty delivery is a no-op either
      // way, so exactly-once needs no marker (and streaming callers
      // save the per-trigger isEmpty probe job by just calling in).
      batch.unpersist()
      return delivery.limit(0)
    }
    if (!emptyDelivery && hasIndex && requireMonotoneIds) {
      val maxIdx = readIdBound(spark, indexRoot).getOrElse(
        idx.agg(max(col("id"))).head().getLong(0))
      // a rejected delivery is a caller-recoverable error (reorder and
      // retry) — release the delivery cache on the way out, or every
      // rejection leaks a MEMORY_AND_DISK entry for the session's life
      if (minNew <= maxIdx) {
        batch.unpersist(false)
        throw new IllegalArgumentException(
          s"requirement failed: addDelivery: delivery min id $minNew " +
            s"must exceed index max id $maxIdx for whole-corpus-rerun " +
            "equivalence (pass requireMonotoneIds = false to accept " +
            "index-wins semantics)")
      }
    }

    val ord = committed0.size + 1

    // Driver-local admission for BOUNDED deliveries — the micro-batch/
    // streaming operating point. The distributed admission plan below is
    // correct at any scale but pays ~15 adaptive stage rounds (band
    // self-join, index candidate join, two verify joins, label/reject/
    // anti joins) per delivery; at the per-trigger regime those rounds,
    // not data, dominate. When the delivery state fits the driver
    // ceiling (the SAME state the distributed plan ships driver-ward as
    // the build side of its broadcast joins), this path collects it
    // once and replays candidates → exact Jaccard → union-find →
    // admission locally, against two pushed-down index probes:
    //   * candidate probe: [[IndexLayout.candidateSide]] with the
    //     delivery's band keys — partition-pruned + bh-IN-pushed under
    //     [[BandedIndex]], one map-side pass under [[FlatIndex]]
    //     (exactly the distributed plan's scan, minus join machinery);
    //   * verify fetch: hashed-shingle state for ONLY the colliding
    //     index ids (footer-pruned id-IN scan), preceded by a byte-mass
    //     probe so an adversarial collision set can never blow the
    //     driver.
    // Band keys and the survivor write stay in Spark (the keys come
    // from the same [[Dedup.bandKeys]] column expression, so no hash
    // re-implementation can drift); the agreement estimate and Jaccard
    // replay the distributed operators' integer arithmetic and
    // deterministic rounding bit-for-bit. Any cap overflow returns None
    // and the distributed pipeline runs — the fast path is never a
    // limit. Cross-path survivor equality is spec-pinned
    // (IncrementalDedupSpec).
    def driverAdmit(): Option[DataFrame] = {
      def rd4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
      val pairCap = 4 * DriverAdmissionBound
      val candCap = 8 * DriverAdmissionBound
      // 1 job: delivery state + band keys (cache read of the persisted batch)
      val rows = batch.select(col("id"), col("sig"), col("sharr"),
        Dedup.bandKeys(col("sig"), bands, rowsPerBand).as("bks")).collect()
      final case class Doc(sig: Array[Long], len: Int,
        set: java.util.HashSet[Long])
      val docOf = new java.util.HashMap[Long, Doc](rows.length * 2)
      // (band, bh) -> delivery ids sharing that band key
      val groups = new java.util.HashMap[(Int, Long),
        scala.collection.mutable.ArrayBuffer[Long]]()
      rows.foreach { r =>
        val id = r.getLong(0)
        val sharr = r.getSeq[Long](2)
        val set = new java.util.HashSet[Long](sharr.length * 2)
        sharr.foreach(set.add)
        docOf.put(id, Doc(r.getSeq[Long](1).toArray, sharr.length, set))
        r.getSeq[org.apache.spark.sql.Row](3).foreach { bk =>
          groups.computeIfAbsent((bk.getInt(0), bk.getLong(1)),
            _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += id
        }
      }
      // within-delivery candidates: same grouping as the band self-join
      var withinBudget = 0L
      groups.forEach((_, g) =>
        withinBudget += g.length.toLong * (g.length - 1) / 2)
      if (withinBudget > pairCap) return None
      val seen = new java.util.HashSet[(Long, Long)]()
      val verifyQueue = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val groupIt = groups.values().iterator()
      while (groupIt.hasNext) {
        val g = groupIt.next().sorted
        var i = 0
        while (i < g.length - 1) {
          var j = i + 1
          while (j < g.length) {
            val p = (g(i), g(j))
            if (seen.add(p)) {
              // agreement-rate prefilter, identical arithmetic to the
              // distributed est_jaccard (roundDet(eq/k, 4) >= minJ/2)
              val sa = docOf.get(p._1).sig; val sb = docOf.get(p._2).sig
              var eq = 0; var h = 0
              while (h < k) { if (sa(h) == sb(h)) eq += 1; h += 1 }
              if (rd4(eq.toDouble / k) >= minJaccard / 2) verifyQueue += p
            }
            j += 1
          }
          i += 1
        }
      }
      // delivery ↔ index candidates via the layout's pruned probe
      val idxDoc = new java.util.HashMap[Long, Doc]()
      val crossQueue = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var candProbe: DataFrame = null
      var verifyFetch: DataFrame = null
      if (hasIndex) {
        import spark.implicits._
        val keys = new Array[(Int, Long)](groups.size)
        var ki = 0
        groups.forEach((bk, _) => { keys(ki) = bk; ki += 1 })
        val keysDf = keys.toSeq.toDF("band", "bh")
        val bhSet = keys.map(_._2).distinct.toSeq
        // candidateSide may over-return (superset contract): the bh IN
        // bounds the collect, the exact (band, bh) match happens here.
        // InSet, not isInCollection: a corpus-scale delivery carries
        // ~bands×nDocs distinct band hashes and the per-literal In tree
        // costs more driver analysis time than the probe job itself
        candProbe = layout
          .candidateSide(spark, indexRoot, keysDf, bands, rowsPerBand)
          .filter(graft.expr.native.inLongSet(col("bh"), bhSet))
        // limit(cap+1) keeps the collect BOUNDED even against an
        // adversarial collision set; the session's
        // spark.sql.limit.initialNumPartitions (GraftSession) makes
        // CollectLimit cover the pruned scan in ONE scheduler round
        // instead of the default 1→4→16 partition escalation
        val idxRows = candProbe.limit(candCap + 1).collect() // 1 job
        if (idxRows.length > candCap) return None
        val crossSeen = new java.util.HashSet[(Long, Long)]()
        var overflow = false
        idxRows.foreach { r =>
          val ia = r.getLong(0)
          val g = groups.get((r.getInt(1), r.getLong(2)))
          if (g != null) g.foreach { db =>
            if (crossSeen.add((ia, db))) {
              if (crossSeen.size > pairCap) overflow = true
              else crossQueue += ((ia, db))
            }
          }
        }
        if (overflow) return None
        val aIds = crossQueue.iterator.map(_._1).toSet
        if (aIds.size > DriverAdmissionBound) return None
        if (aIds.nonEmpty) {
          val fetchSrc =
            idx.filter(graft.expr.native.inBoundedLongSet(col("id"), aIds))
          // byte-mass probe before the fetch: collision-set state must
          // obey the same driver ceiling as the delivery's own
          val mass = fetchSrc.agg(sum(size(col("sharr")))).head() // 1 job
          if (!mass.isNullAt(0) &&
              8L * mass.getLong(0) > driverAdmissionMaxBytes) return None
          verifyFetch = fetchSrc.select("id", "sharr")
          verifyFetch.collect().foreach { r => // 1 job, footer-pruned
            val sharr = r.getSeq[Long](1)
            val set = new java.util.HashSet[Long](sharr.length * 2)
            sharr.foreach(set.add)
            idxDoc.put(r.getLong(0), Doc(Array.empty, sharr.length, set))
          }
        }
      }
      // exact verification — array_intersect is distinct-set semantics,
      // denominators are RAW array lengths, rounding is roundDet
      def jaccardOk(a: Doc, b: Doc): Boolean = {
        val (small, big) = if (a.set.size <= b.set.size) (a.set, b.set)
          else (b.set, a.set)
        var shared = 0L
        val it = small.iterator()
        while (it.hasNext) { if (big.contains(it.next())) shared += 1 }
        // zero-denominator = jaccard 0 — the distributed
        // verifyJaccardFromHashedShingles definition; unguarded the two
        // paths diverge on empty-shingle docs (NaN filters keep
        // distributed, drop locally). Value-then-compare so degenerate
        // minJaccard <= 0 thresholds agree with the distributed filter
        val denom = a.len + b.len - shared
        val j = if (denom == 0L) 0.0 else rd4(shared.toDouble / denom)
        j >= minJaccard
      }
      // union-find with path halving, union-to-min (the
      // duplicateClustersLocal labeling, so cluster ids agree)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) {
          parent.put(r, parent.get(parent.get(r)))
          r = parent.get(r)
        }
        r
      }
      def union(a: Long, b: Long): Unit = {
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      verifyQueue.foreach { case (a, b) =>
        if (jaccardOk(docOf.get(a), docOf.get(b))) union(a, b) }
      crossQueue.foreach { case (ia, db) =>
        val a = idxDoc.get(ia)
        if (a != null && jaccardOk(a, docOf.get(db))) union(ia, db)
      }
      // a cluster holding ANY index survivor rejects all its delivery
      // members; otherwise the cluster-minimum delivery doc survives
      val rejected = new java.util.HashSet[Long]()
      val idxIt = idxDoc.keySet().iterator()
      while (idxIt.hasNext) {
        val ia = idxIt.next()
        if (parent.containsKey(ia)) rejected.add(find(ia))
      }
      val losers = scala.collection.mutable.ArrayBuffer.empty[Long]
      val pIt = parent.keySet().iterator()
      while (pIt.hasNext) {
        val id = pIt.next()
        if (docOf.containsKey(id)) {
          val c = find(id)
          if (id != c || rejected.contains(c)) losers += id
        }
      }
      val surv =
        if (losers.isEmpty) batch
        else batch.filter(!graft.expr.native.inLongSet(col("id"), losers))
      if (graft.core.Trace.auditing)
        graft.core.PlanAudit.noteStages(
          Seq(s"d$ord:delivery_state" -> batch) ++
            Option(candProbe).map(s"d$ord:candidates" -> _) ++
            Option(verifyFetch).map(s"d$ord:verify" -> _) :+
            (s"d$ord:admission" -> surv))
      Some(surv)
    }

    val driverSurvivors: Option[DataFrame] =
      if (nDocs <= DriverAdmissionBound &&
          stateBytesEst <= driverAdmissionMaxBytes) driverAdmit()
      else None
    graft.core.Trace.note(AdmissionLocal, driverSurvivors.isDefined)

    // within-delivery candidates: banded LSH over the (small) delivery
    // persistInput = false: sigView is a projection of the persisted
    // batch — the auto-persist inside candidate generation can't see
    // that cache through the Project, would double-cache the delivery
    // signatures, and (with nothing able to unpersist it) would leak
    // one cache entry per trigger under a streaming sink
    lazy val batchPairs = Dedup.minhashCandidatesFromSigs(sigView,
        bands, rowsPerBand, persistInput = false)
      .filter(col("est_jaccard") >= minJaccard / 2)
      .select("id_a", "id_b")
    // delivery↔index candidates: band-key equi-join; the index side is a
    // map-side scan (delivery bands broadcast by AQE at the n ≪ N regime)
    lazy val pairs =
      if (!hasIndex) batchPairs
      else {
        val deliveryBanded = sigView
          .select(col("id"),
            explode(Dedup.bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
          .select(col("id").as("id_b"), col("bk.band").as("band"),
            col("bk.bh").as("bh"))
        val cross = layout
          .candidateSide(spark, indexRoot,
            deliveryBanded.select("band", "bh"), bands, rowsPerBand)
          .join(deliveryBanded, Seq("band", "bh"))
          .select("id_a", "id_b")
          .dropDuplicates("id_a", "id_b")
        batchPairs.union(cross)
      }
    // exact verification on the stored hashed-shingle sets — no text read
    lazy val stateAll =
      (if (hasIndex) idx.select("id", "sharr").union(batch.select("id", "sharr"))
       else batch.select("id", "sharr"))
        .select(col("id"), col("sharr").as("arr"))
    lazy val verified = Dedup.verifyJaccardFromHashedShingles(pairs, stateAll)
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b")

    // admitted = delivery docs whose cluster holds no index survivor and
    // whose id is the cluster minimum among delivery members.
    // duplicateClusters labels every member with the component MINIMUM
    // id, so "minimum among delivery members of a non-rejected cluster"
    // is just `id == cluster_id`: a non-rejected cluster has no index
    // member at all (any index member rejects the whole cluster,
    // whatever its id), hence its overall minimum IS a delivery id.
    // That turns the per-cluster min aggregation — one exchange per
    // delivery — into a shuffle-free filter.
    //
    // When the verified pair set took duplicateClusters' under-cap
    // driver fast path AND is small enough to push down (the bounded-
    // probe-pushdown idiom: bounded batches → pushed IN filters,
    // corpus-sized sets → the fully-lazy join plan below), the whole
    // admission is computed driver-side: the loser set is a pure
    // function of the driver-resident labels plus one id-IN-pushed
    // index probe (which clusters hold an index member), replacing the
    // labels/rejected/anti join round-trip — three joins and their
    // adaptive-planning rounds per delivery, the dominant cost of a
    // micro-delivery admission at any corpus size since the pair set
    // scales with the DELIVERY's duplication, not the corpus.
    val survivors = driverSurvivors.getOrElse(Dedup.duplicateClustersLocal(verified) match {
      case Left(local) if local.length <= DriverAdmissionBound =>
        val labelOf = new java.util.HashMap[Long, Long](local.length * 2)
        local.foreach { case (id, c) => labelOf.put(id, c) }
        val rejected = new java.util.HashSet[Long]()
        if (hasIndex && local.nonEmpty) {
          val keys = local.map(_._1)
          idx.select("id")
            .filter(graft.expr.native.inBoundedLongSet(col("id"), keys))
            .collect().foreach(r => rejected.add(labelOf.get(r.getLong(0))))
        }
        // losers: non-minimal cluster members, plus every member of a
        // cluster holding an index survivor (index-side ids in the map
        // are harmless — they are never in the batch)
        val losers = local.collect {
          case (id, c) if id != c || rejected.contains(c) => id
        }
        if (losers.isEmpty) batch
        else batch.filter(!graft.expr.native.inLongSet(col("id"), losers))
      case other =>
        val labels = other match {
          case Left(local) =>
            import spark.implicits._
            local.toSeq.toDF("id", "cluster_id")
          case Right(df) => df
        }
        val batchLabels = batch.select("id").join(labels, Seq("id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
        val rejectedClusters =
          if (!hasIndex) labels.limit(0).select("cluster_id")
          else labels.join(idx.select("id"), Seq("id"), "left_semi")
            .select("cluster_id").distinct()
        val admitted = batchLabels
          .filter(col("id") === col("cluster_id"))
          .join(rejectedClusters, Seq("cluster_id"), "left_anti")
          .select("id")
        // one delta generation per delivery: append cost ∝ delivery
        batch.join(admitted, Seq("id"), "left_semi")
    })
    // stage rows only under an audit (Explain → PLANS.md): each row
    // renders a full physical plan. The driver-local path notes its own
    // rows (its distributed fragments are the two index probes, not
    // these join pipelines).
    if (graft.core.Trace.auditing && driverSurvivors.isEmpty)
      graft.core.PlanAudit.noteStages(Seq(s"d$ord:delivery_state" -> batch,
        s"d$ord:candidates" -> pairs, s"d$ord:verify" -> verified,
        s"d$ord:admission" -> survivors))
    // replay-guarded when tagged: the committed-tag check at the top
    // already returned, so a tag commits exactly once
    val genPath = layout.append(survivors, indexRoot, bands, rowsPerBand,
      deliveryTag)
    // bound = admitted delivery's max id (survivors ⊆ delivery); ratchet
    // AFTER the commit (a pre-commit ratchet would wedge the replay of a
    // failed append behind its own bound). The crash window between the
    // commit and this write is healed by the replay-guard path above,
    // which re-ratchets from the replayed delivery before returning.
    if (!emptyDelivery)
      writeIdBound(spark, indexRoot,
        math.max(maxNew, readIdBound(spark, indexRoot).getOrElse(Long.MinValue)))
    batch.unpersist()
    // admitted ids re-read from the durable generation just written —
    // the returned plan scans parquet instead of replaying the dedup
    delivery.join(
      spark.read.schema(StateSchema).parquet(genPath)
        .select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
  }
}

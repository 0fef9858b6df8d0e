package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) vocabulary induction — the
  * tokenizer-training half of a training-data pipeline (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units";
  * the reference pipeline has no tokenizer, this is north-star surface).
  *
  * Scale shape: the corpus is touched ONCE (word-frequency count, one
  * shuffle); every subsequent merge iteration runs on the DISTINCT-WORD
  * table, whose size is the corpus vocabulary — bounded by language, not
  * corpus bytes, so 100 TB of text trains at the same per-iteration cost
  * as 100 GB once the word table is built. Driver state per iteration is
  * exactly one row (the argmax pair), k rows total for k merges — the
  * merge table IS the model, and it is config-sized (30k-100k entries in
  * practice), like the IVF quantizer.
  *
  * Determinism: the argmax pair tie-breaks on (count DESC, left ASC,
  * right ASC), so training is reproducible run-to-run and cluster-size
  * independent.
  */
object Bpe {

  /** Whitespace word frequencies — the one corpus-wide pass. */
  def wordFreqs(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Character symbols of a word (Spark `split` on the empty pattern).
    * NB: splits on Java chars; supplementary-plane code points (outside
    * the BMP) become surrogate halves. Training on raw unicode text
    * should pre-filter or pre-normalize; the gate trains on an
    * ASCII-word slice where Spark and every oracle agree byte-for-byte.
    */
  def charSymbols(word: Column): Column = split(word, "")

  /** Adjacent-symbol pair counts, weighted by word frequency. `words`
    * must carry (`symsCol`: array<string>, freq: long). Partial
    * aggregation runs map-side, so the exchange carries one row per
    * distinct pair per task — the classic BPE statistics step as a
    * two-column hash aggregate.
    */
  def pairCounts(words: DataFrame, symsCol: String = "syms"): DataFrame = {
    val n = size(col(symsCol))
    words
      .filter(n >= 2)
      .select(col("freq"), explode(
        zip_with(
          slice(col(symsCol), lit(1), n - 1),
          slice(col(symsCol), lit(2), n - 1),
          (a, b) => struct(a.as("left"), b.as("right")))).as("pair"))
      .groupBy(col("pair.left").as("left"), col("pair.right").as("right"))
      .agg(sum(col("freq")).as("n"))
  }

  /** Merge every non-overlapping left-to-right occurrence of the
    * adjacent pair (a, b) in a symbol array into the single symbol a+b —
    * the BPE merge rule as a fold with one symbol of carry, fully inside
    * Catalyst (`aggregate` higher-order function, no UDF):
    * pending=null → stash s; (pending,s)==(a,b) → emit a+b, clear;
    * otherwise emit pending, stash s. The carry makes the scan
    * sequential-with-lookahead-1, which is exactly non-overlapping
    * left-to-right ("aaa" + merge(a,a) → ["aa","a"], as in reference
    * BPE implementations).
    */
  def mergePair(syms: Column, a: String, b: String): Column = {
    val empty = lit(Array.empty[String])
    aggregate(
      syms,
      struct(empty.as("out"), lit(null).cast("string").as("pend")),
      (st, s) => {
        val out = st.getField("out")
        val p = st.getField("pend")
        when(p.isNull, struct(out.as("out"), s.as("pend")))
          .when(p === lit(a) && s === lit(b),
            struct(concat(out, array(lit(a + b))).as("out"),
              lit(null).cast("string").as("pend")))
          .otherwise(struct(concat(out, array(p)).as("out"), s.as("pend")))
      },
      st => when(st.getField("pend").isNull, st.getField("out"))
        .otherwise(concat(st.getField("out"), array(st.getField("pend")))))
  }

  /** Apply a learned merge list in rank order to a symbol array —
    * tokenizer application as a folded Catalyst expression. Plan depth
    * grows linearly with merges; fine for spec/gate-sized merge tables
    * (≲ a few hundred). The production-scale encoder is
    * [[encodeWordTable]], whose plan is ONE mapPartitions regardless of
    * merge count; `BpeSpec` pins the two paths equal on trained tables.
    */
  def applyMerges(syms: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (c, (a, b)) => mergePair(c, a, b) }

  /** One learned merge. */
  final case class Merge(rank: Int, left: String, right: String, n: Long)

  /** Partition-local BPE encode of one symbol array against a rank
    * table — the production tokenizer-application algorithm (the
    * GPT-2/SentencePiece shape): repeatedly find the lowest-rank
    * adjacent pair present and merge all its non-overlapping occurrences
    * left-to-right. O(len²) worst case in the WORD length, independent
    * of merge-table size — which is why a 50k-merge production vocab
    * encodes at the same per-word cost as a 100-merge toy table, where
    * the [[applyMerges]] expression fold pays per table entry.
    *
    * Equivalent to applying the merge list in rank order (what
    * [[applyMerges]] and the DuckDB oracle replay do) whenever the table
    * is well-formed: every compound symbol's components are created by
    * LOWER-ranked merges. Tables from [[train]] satisfy this by
    * construction (a pair can only be counted once its components
    * exist), as do single-character pair tables trivially; `BpeSpec`
    * property-tests the equivalence on trained tables.
    */
  def encodeSymbols(syms0: Array[String],
      ranks: Map[(String, String), Int]): Array[String] = {
    var cur = syms0
    var continue = cur.length >= 2
    while (continue) {
      // lowest-rank adjacent pair present
      var bestRank = Int.MaxValue
      var i = 0
      while (i < cur.length - 1) {
        val r = ranks.getOrElse((cur(i), cur(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        // merge its occurrences, left-to-right non-overlapping
        val out = new scala.collection.mutable.ArrayBuffer[String](cur.length)
        var j = 0
        while (j < cur.length) {
          if (j < cur.length - 1 &&
            ranks.getOrElse((cur(j), cur(j + 1)), Int.MaxValue) == bestRank) {
            out += cur(j) + cur(j + 1)
            j += 2
          } else { out += cur(j); j += 1 }
        }
        cur = out.toArray
        continue = cur.length >= 2
      }
    }
    cur
  }

  /** Production encoder over a word table: one mapPartitions with the
    * rank table as broadcast state — plan depth constant in merge count
    * (a trained vocab is model state, like the IVF quantizer, NOT plan
    * structure). At 100 TB the corpus is word-frequency-counted once
    * (one shuffle), this encoder runs over the DISTINCT-WORD table
    * (vocabulary-bounded, not corpus-bounded), and token streams are
    * recovered by joining words back — the same touch-the-corpus-once
    * shape as [[train]].
    */
  def encodeWordTable(words: DataFrame, merges: Seq[Merge],
      wordCol: String = "word"): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Int] =
      merges.map(m => (m.left, m.right) -> m.rank).toMap
    val bc = spark.sparkContext.broadcast(ranks)
    words.select(col(wordCol).cast("string")).as[String]
      .mapPartitions { it =>
        val r = bc.value
        it.map { w =>
          val syms = if (w.isEmpty) Array.empty[String] else w.split("")
          (w, encodeSymbols(syms, r).toSeq)
        }
      }.toDF(wordCol, "tokens")
  }

  /** Corpus tokenization — the actual pretraining artifact: every
    * document becomes its BPE token stream. Composes [[encodeWordTable]]
    * with the join-back its contract promises: positioned words are
    * exploded once (corpus-bounded map), the DISTINCT-word vocabulary is
    * encoded by the production partition-local encoder
    * (vocabulary-bounded — at 100 TB the vocab is language-sized, not
    * corpus-sized, so the O(len²)-per-word encode cost is paid once per
    * distinct word no matter how often it occurs), and token arrays join
    * back to positions for an ordered per-document flatten.
    *
    * Plan shape: ONE distinct shuffle (vocab), ONE join of positioned
    * words against the encoded vocab (broadcastable when the vocab
    * fits), ONE per-doc aggregation — constant in merge-table size
    * (contrast [[applyMerges]], whose expression fold grows the plan per
    * merge).
    *
    * Output: (idCol, tokens array<string>, n_tokens).
    */
  def encodeCorpus(df: DataFrame, merges: Seq[Merge],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // posexplode_OUTER over the pre-filtered word array: an empty or
    // whitespace-only document yields one (null pos, null word) marker
    // row instead of vanishing — an inner explode+join would silently
    // DROP such documents from the output, breaking "every document
    // becomes its token stream" for downstream joins on the id
    val positioned = df
      .select(col(idCol).as("id"),
        posexplode_outer(filter(split(col(textCol), " "), w => w =!= ""))
          .as(Seq("pos", "word")))
    val encoded = encodeWordTable(
      positioned.select("word").filter(col("word").isNotNull).distinct(),
      merges)
    orderedFlatten(positioned.join(encoded, Seq("word"), "left"), idCol)
  }

  /** Ordered per-document flatten of positioned token arrays — the
    * join-back tail of [[encodeCorpus]] (and [[Unigram.encodeCorpus]]).
    * Secondary sort (guide §2): the per-document order is produced by
    * the ONE exchange the reassembly needs anyway — repartition on the
    * doc id, sort (id, pos) within partitions — and consumed by a
    * single linear mapPartitions pass that concatenates consecutive
    * same-id runs. The old shape paid the same exchange PLUS a
    * collect_list of (pos, tokens) structs, a per-group interpreted
    * `array_sort`, and a transform/flatten projection; here each task
    * streams its sorted partition once, buffering one document at a
    * time. A mapPartitions (not collect_list over the sorted input) is
    * deliberate: hash aggregates do NOT guarantee arrival order —
    * ObjectHashAggregate's sort-based fallback reorders groups past
    * 128 keys/task, observed scrambling streams at sf0.001 — while the
    * iterator order of a sorted partition is a hard contract. Long ids
    * only (every corpus id in the engine; [[encodeCorpus]] callers) —
    * non-long ids take the legacy array_sort path. Bit-equality with
    * the array_sort formulation is pinned by BpeSpec/UnigramSpec
    * ordered-stream cases. Null `pos` only marks the single marker row
    * of a wordless document, so its sort position is moot; null ids
    * group under one null key like the old groupBy did.
    */
  private[llm] def orderedFlatten(joined: DataFrame, idCol: String)
      : DataFrame = {
    val spark = joined.sparkSession
    import spark.implicits._
    val prepared = joined
      .select(col("id"), col("pos"),
        coalesce(col("tokens"), array().cast("array<string>")).as("tokens"))
    val longId = prepared.schema("id").dataType ==
      org.apache.spark.sql.types.LongType
    val out =
      if (longId) {
        prepared
          .select(col("id").as("_1"), col("pos").as("_2"),
            col("tokens").as("_3"))
          .repartition(col("_1"))
          .sortWithinPartitions(col("_1"), col("_2"))
          .as[(Option[Long], Option[Int], Seq[String])]
          .mapPartitions { it =>
            new Iterator[(Option[Long], Seq[String])] {
              private var pending: Option[(Option[Long], Option[Int],
                Seq[String])] = if (it.hasNext) Some(it.next()) else None
              def hasNext: Boolean = pending.isDefined
              def next(): (Option[Long], Seq[String]) = {
                val id = pending.get._1
                val buf = Seq.newBuilder[String]
                while (pending.isDefined && pending.get._1 == id) {
                  buf ++= pending.get._3
                  pending = if (it.hasNext) Some(it.next()) else None
                }
                (id, buf.result())
              }
            }
          }
          .toDF(idCol, "tokens")
      } else {
        prepared
          .groupBy(col("id").as(idCol))
          .agg(flatten(transform(
            array_sort(collect_list(struct(col("pos"),
              col("tokens").as("tokens")))),
            s => s.getField("tokens"))).as("tokens"))
      }
    out.withColumn("n_tokens", size(col("tokens")).cast("long"))
  }

  /** Ranked merge table from ONE pair-count pass (no iterative
    * retraining): all adjacent-symbol pairs ranked by (n DESC, left,
    * right). For single-character symbol tables this is a well-formed
    * merge table (components are initial symbols), so the production
    * encoder and a rank-order replay agree — the construction the
    * x_bpe_encode oracle gate uses, since the whole table is
    * recomputable in SQL. Driver state is bounded by the pair
    * vocabulary (≤ charset² for char symbols) — config-sized model
    * state, not data.
    */
  def rankedPairMerges(words: DataFrame, symsCol: String = "syms"): Seq[Merge] =
    pairCounts(words, symsCol)
      .orderBy(col("n").desc, col("left").asc, col("right").asc)
      .collect().zipWithIndex.map { case (r, i) =>
        Merge(i, r.getAs[String]("left"), r.getAs[String]("right"),
          r.getAs[Long]("n"))
      }.toSeq

  /** Pad a merge table to `size` entries with provably-inert merges:
    * every pad symbol contains '#', a character that can never occur in
    * any real symbol (symbols are concatenations of word characters),
    * so pads match nothing, ever. Lets gates/specs exercise the
    * production encoder at production table sizes (≥1k entries) while
    * staying bit-equal to the real-merges-only oracle replay.
    */
  def padMerges(base: Seq[Merge], size: Int): Seq[Merge] =
    base ++ (base.length until size).map(i => Merge(i, s"#$i", s"#$i", 0L))

  /** Free the block-manager state behind a localCheckpoint'ed Dataset —
    * shared helper ([[graft.core.CacheUtil.freeCheckpoint]], also used
    * by the IVF maintenance loops). */
  private def freeCheckpoint(df: DataFrame): Unit =
    graft.core.CacheUtil.freeCheckpoint(df)

  /** Train `numMerges` BPE merges over the corpus. Returns the ranked
    * merge table. `minCount` stops early once the best pair drops below
    * it. Each iteration: one map + hash-agg + global top-1 on the word
    * table (TakeOrdered — one row to the driver), then a lineage-cutting
    * localCheckpoint of the re-symbolized words so iteration k doesn't
    * re-execute merges 1..k-1; the superseded checkpoint's RDD blocks
    * are freed eagerly via [[freeCheckpoint]].
    */
  def train(df: DataFrame, textCol: String = "text", numMerges: Int = 16,
      minCount: Long = 2L, wordFilter: Column => Column = _ => lit(true))
      : Seq[Merge] = {
    var words = wordFreqs(df, textCol)
      .filter(wordFilter(col("word")))
      .select(charSymbols(col("word")).as("syms"), col("freq"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val top = pairCounts(words)
        .orderBy(col("n").desc, col("left").asc, col("right").asc)
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("n") < minCount) done = true
      else {
        val (a, b, n) = (top(0).getAs[String]("left"),
          top(0).getAs[String]("right"), top(0).getAs[Long]("n"))
        merges += Merge(rank, a, b, n)
        val next = words.select(mergePair(col("syms"), a, b).as("syms"),
          col("freq")).localCheckpoint(true)
        freeCheckpoint(words)
        words = next
        rank += 1
      }
    }
    freeCheckpoint(words)
    merges.result()
  }

  // ---------------------------------------------------------------------
  // Scaled trainer: batched merge selection + incremental pair-count
  // deltas + fault-tolerant loop state. Byte-equal to [[train]] on any
  // corpus (BpeScaledSpec pins it); the production path for 32k-100k
  // merge vocabularies, where [[train]]'s one-merge-per-full-aggregation
  // loop would need ~10⁵ sequential full-table jobs.
  // ---------------------------------------------------------------------

  /** Driver-side twin of [[mergePair]]: merge non-overlapping LTR
    * occurrences of (a,b). Returns `syms` UNCHANGED (same reference)
    * when the pair does not occur, so callers can cheaply detect
    * affected words. `BpeScaledSpec` property-pins equality with the
    * Catalyst expression. */
  def mergePairLocal(syms: Array[String], a: String, b: String): Array[String] = {
    var i = 0
    var found = false
    while (i < syms.length - 1 && !found) {
      if (syms(i) == a && syms(i + 1) == b) found = true
      i += 1
    }
    if (!found) syms
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      var j = 0
      while (j < syms.length) {
        if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
          out += a + b; j += 2
        } else { out += syms(j); j += 1 }
      }
      out.toArray
    }
  }

  /** Pure-Scala reference sequential trainer over a collected word
    * table — the semantic spec of [[train]] in one screen, used by the
    * test suite to pin [[train]] == [[trainScaledWords]] cheaply (no
    * per-merge Spark jobs). Not a production path. */
  def refTrainWords(words0: Seq[(Array[String], Long)], numMerges: Int,
      minCount: Long): Seq[Merge] = {
    var words = words0
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.updateWith((syms(i), syms(i + 1)))(c => Some(c.getOrElse(0L) + f))
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), n) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (n < minCount) done = true
        else {
          merges += Merge(rank, a, b, n)
          words = words.map { case (s, f) => (mergePairLocal(s, a, b), f) }
          rank += 1
        }
      }
    }
    merges.result()
  }

  /** One candidate row of the per-pass top-K view. */
  private final case class Cand(left: String, right: String, n: Long)

  /** Select the longest batch of top candidates provably equal to
    * sequential selection, WITHOUT applying anything — the conservative
    * path. `view` must be every pair with count > `cutoff` (a complete
    * set of count classes), sorted (n DESC, left ASC, right ASC); any
    * pair outside it has count ≤ cutoff < every accepted count.
    *
    * Merging (a,b)→"ab" can only (i) zero (a,b) itself, (ii) decrement
    * pairs with right==a or left==b (the neighbors of consumed
    * occurrences), and (iii) create pairs involving the new "ab" symbol,
    * each bounded by the count of a decremented neighbor pair (an
    * occurrence of x·ab comes from an occurrence of x·a). So the scan
    * accepts candidates in sorted order and stops at the first that
    * (or whose count-tie class) is touched by an earlier acceptance —
    * every count that could shift, and every pair that could newly
    * appear, then stays strictly below the next accepted count, which
    * keeps the sequential argmax exactly on the accepted sequence. A
    * new symbol whose STRING equals an existing symbol ("abc" via
    * (ab,c) after (a,bc)) can INCREASE old counts, so a collision with
    * the maintained symbol set ends the batch after that merge. */
  private def scanConservative(view: IndexedSeq[Cand], symbols: Set[String],
      minCount: Long, maxTake: Int): IndexedSeq[Cand] = {
    val accepted = scala.collection.mutable.ArrayBuffer[Cand]()
    val acceptedSet = scala.collection.mutable.HashSet[Cand]()
    val aLefts = scala.collection.mutable.HashSet[String]()
    val aRights = scala.collection.mutable.HashSet[String]()
    val newSyms = scala.collection.mutable.HashSet[String]()
    def tainted(c: Cand): Boolean =
      aLefts.contains(c.right) || aRights.contains(c.left) ||
        newSyms.contains(c.left) || newSyms.contains(c.right)
    var stop = false
    var i = 0
    while (!stop && i < view.length && accepted.length < maxTake) {
      val c = view(i)
      if (c.n < minCount) stop = true
      else if (tainted(c)) stop = true
      else {
        // count-tie guard: a TAINTED pair tied with c could, after its
        // decrement or via a new pair it bounds, tie c again and win on
        // a lex order involving an unknown new-symbol string — accept c
        // only when its whole count class is untouched
        val classTainted = view.exists(t => t.n == c.n && t != c &&
          !acceptedSet.contains(t) && tainted(t))
        if (classTainted) stop = true
        else {
          accepted += c
          acceptedSet += c
          val ns = c.left + c.right
          if (symbols.contains(ns)) stop = true // string collision
          aLefts += c.left; aRights += c.right; newSyms += ns
        }
      }
      i += 1
    }
    accepted.toIndexedSeq
  }

  /** Loop state for [[trainScaledWords]]: persisted to `stateDir` every
    * `persistEvery` passes (parquet dirs `pass_<n>/`, then the pass's
    * version file in `_state.d/`), so a failed 100k-merge training job
    * resumes from the last committed pass instead of re-running days of
    * work. A state dir holds one training run. */
  final case class TrainState(words: DataFrame, counts: DataFrame,
      merges: Seq[Merge], symbols: Set[String], pass: Int)

  private def stateLog(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_state.d")

  private def persistState(dir: String, st: TrainState): Unit = {
    val spark = st.words.sparkSession
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = new org.apache.hadoop.fs.Path(stateLog(dir), f"${st.pass}%09d")
    // a committed pass is immutable: the run's closing persist repeats
    // the last in-loop one, and a resume without progress repeats the tip
    if (fs.exists(version)) return
    val step = s"pass_${st.pass}"
    // overwrite: a crashed attempt's uncommitted dirs are discardable
    st.words.write.mode("overwrite").parquet(s"$dir/$step/words")
    st.counts.write.mode("overwrite").parquet(s"$dir/$step/counts")
    st.symbols.toSeq.toDF("symbol")
      .write.mode("overwrite").parquet(s"$dir/$step/symbols")
    st.merges.toDF().write.mode("overwrite").parquet(s"$dir/$step/merges")
    // the version file last, with its full content at once: a pass
    // whose dirs are written but whose version file is not is invisible
    require(graft.core.AtomicFiles.publishExclusive(fs, version,
      step.getBytes("UTF-8")),
      s"training state $step under $dir was committed by another writer")
  }

  /** Load the last committed [[TrainState]] from `stateDir`. */
  def loadState(spark: SparkSession, stateDir: String): TrainState = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val passes = graft.core.AtomicFiles.listVersions(fs, stateLog(stateDir))
    require(passes.nonEmpty, s"no committed training state under $stateDir")
    val step = s"pass_${passes.last}"
    val merges = spark.read.parquet(s"$stateDir/$step/merges").as[Merge]
      .collect().sortBy(_.rank).toSeq
    TrainState(
      spark.read.parquet(s"$stateDir/$step/words"),
      spark.read.parquet(s"$stateDir/$step/counts"),
      merges,
      spark.read.parquet(s"$stateDir/$step/symbols").as[String].collect().toSet,
      passes.last.toInt)
  }

  /** Scaled BPE training over a prepared word table (`syms`
    * array<string>, `freq` long). Byte-equal to [[train]] on the same
    * words; designed for production vocabulary sizes:
    *
    *  - **Batched selection**: each pass aggregates once and accepts up
    *    to `batchCap` merges whose sequential equivalence is proven
    *    either conservatively ([[scanConservative]]) or optimistically —
    *    take the top prefix, apply it, and verify from the EXACT count
    *    delta that no pair outside the batch changed (true iff every
    *    accepted occurrence was an entire 2-symbol word, where counts
    *    can only decrease and the zero-sum check is exact); on
    *    verification failure the pass rolls back to the conservative
    *    batch. Two consecutive failures disable the optimistic try.
    *  - **Incremental deltas**: pair counts are MAINTAINED, not
    *    recomputed — each pass rewrites words partition-locally
    *    ([[mergePairLocal]] via mapPartitions, plan size constant in
    *    batch size), re-aggregates only CHANGED words (before/after),
    *    and folds the delta into the cached count table. Per-merge cost
    *    is O(affected words)/batch, not O(all words) — the full table
    *    is touched map-only, shuffled never.
    *  - **Fault-tolerant state**: with `stateDir` set, words/counts/
    *    merges/symbols persist every `persistEvery` passes, each pass
    *    committed by an atomically published version file;
    *    [[resumeScaledWords]] continues from the last committed pass.
    */
  def trainScaledWords(words0: DataFrame, numMerges: Int,
      minCount: Long = 2L, batchCap: Int = 64, viewSize: Int = 512,
      checkpointEvery: Int = 12, stateDir: Option[String] = None,
      persistEvery: Int = 25): Seq[Merge] = {
    val spark = words0.sparkSession
    import spark.implicits._
    // counts and symbols MUST derive from the materialized words: a
    // nondeterministic upstream (sampled/limited corpus) re-executed
    // per-branch would make the maintained counts inconsistent with the
    // word table, and every delta after that silently wrong
    val cp = words0
      .select(col("syms").cast("array<string>"), col("freq").cast("long"))
      .localCheckpoint(true)
    val init = TrainState(
      cp,
      pairCounts(cp).localCheckpoint(true),
      Seq.empty,
      cp.select(explode(col("syms"))).distinct().as[String].collect().toSet,
      0)
    runScaledLoop(init, numMerges, minCount, batchCap, viewSize,
      checkpointEvery, stateDir, persistEvery)
  }

  /** Resume a [[trainScaledWords]] run from its persisted state. */
  def resumeScaledWords(spark: SparkSession, stateDir: String,
      numMerges: Int, minCount: Long = 2L, batchCap: Int = 64,
      viewSize: Int = 512, checkpointEvery: Int = 12,
      persistEvery: Int = 25): Seq[Merge] = {
    val st = loadState(spark, stateDir)
    runScaledLoop(
      st.copy(words = st.words.localCheckpoint(true),
        counts = st.counts.localCheckpoint(true)),
      numMerges, minCount, batchCap, viewSize, checkpointEvery,
      Some(stateDir), persistEvery)
  }

  /** Pass count of a scaled-training run, noted when it ends: each pass
    * is ONE count-table collect + ONE map-only rewrite + ONE delta
    * aggregation over changed words, so passes ≪ merges is the
    * measurable form of "per-merge cost far below one full-table
    * aggregation per merge". */
  val ScaledPasses = graft.core.Trace.Key[Int]("bpe.scaled_passes")

  private def runScaledLoop(init: TrainState, numMerges: Int,
      minCount: Long, batchCap: Int, viewSize: Int, checkpointEvery: Int,
      stateDir: Option[String], persistEvery: Int): Seq[Merge] = {
    val spark = init.words.sparkSession
    import spark.implicits._
    var words = init.words
    var counts = init.counts
    var lastWordsCp = words
    var lastCountsCp = counts
    val symbols = scala.collection.mutable.HashSet[String](init.symbols.toSeq: _*)
    val merges = scala.collection.mutable.ArrayBuffer[Merge](init.merges: _*)
    var pass = init.pass
    var optimisticFails = 0
    var done = false
    while (merges.length < numMerges && !done) {
      val top = counts
        .orderBy(col("n").desc, col("left").asc, col("right").asc)
        .limit(viewSize + 1).collect()
        .map(r => Cand(r.getAs[String]("left"), r.getAs[String]("right"),
          r.getAs[Long]("n"))).toIndexedSeq
      if (top.isEmpty || top.head.n < minCount) done = true
      else {
        val haveAll = top.length <= viewSize
        val cutoff = if (haveAll) Long.MinValue else top.last.n
        val view = if (haveAll) top else top.filter(_.n > cutoff)
        val maxTake = numMerges - merges.length
        // view can be empty when the whole collected top is one count
        // class: the sorted head is still the exact sequential argmax,
        // and for the OPTIMISTIC try the sorted prefix of the collected
        // top remains valid — tied out-of-view pairs are lex-after
        // every collected row, so verified-unchanged counts keep the
        // sequential argmax walking the prefix in order
        val conservative =
          if (view.isEmpty) IndexedSeq(top.head)
          else scanConservative(view, symbols.toSet, minCount, maxTake)
        val optCands = if (view.nonEmpty) view else top
        val optimistic =
          if (optimisticFails >= 2 || optCands.length <= conservative.length)
            None
          else {
            val prefix = optCands.takeWhile(_.n >= minCount).take(
              math.min(batchCap, maxTake))
            // the optimistic proof needs counts to be monotone
            // non-increasing, which a string collision breaks
            val noCollide = prefix.takeWhile(c => !symbols.contains(c.left + c.right))
            if (noCollide.length > conservative.length) Some(noCollide) else None
          }
        var batch = optimistic.getOrElse(conservative)
        var verified = optimistic.isEmpty
        var staged: DataFrame = null
        var delta: DataFrame = null
        while (!verified) {
          staged = rewriteBatch(words, batch.map(c => (c.left, c.right)))
          delta = batchDelta(staged).cache()
          // single-job probe: limit to batch+1 rows — a failed
          // optimistic try touches more pairs than the batch, and one
          // extra row is enough to know without collecting them all
          val expect = batch.map(c => ((c.left, c.right), -c.n)).toMap
          val rows = delta.limit(batch.length + 1).collect()
          val ok = rows.length == batch.length && rows.forall { r =>
            expect.get((r.getAs[String]("left"), r.getAs[String]("right")))
              .contains(r.getAs[Long]("n"))
          }
          if (ok) { verified = true; optimisticFails = 0 }
          else {
            delta.unpersist()
            optimisticFails += 1
            batch = conservative
            verified = true
            staged = null; delta = null
          }
        }
        if (staged == null) {
          staged = rewriteBatch(words, batch.map(c => (c.left, c.right)))
          delta = batchDelta(staged).cache()
        }
        batch.foreach { c =>
          merges += Merge(merges.length, c.left, c.right, c.n)
          symbols += c.left + c.right
        }
        val newCounts = counts.union(delta)
          .groupBy("left", "right").agg(sum("n").as("n"))
          .filter(col("n") =!= 0L)
          .localCheckpoint(true)
        delta.unpersist()
        freeCheckpoint(lastCountsCp)
        counts = newCounts
        lastCountsCp = newCounts
        words = staged.select(col("syms"), col("freq"))
        pass += 1
        if (pass % checkpointEvery == 0) {
          val cp = words.localCheckpoint(true)
          freeCheckpoint(lastWordsCp)
          words = cp
          lastWordsCp = cp
        }
        if (stateDir.nonEmpty && pass % persistEvery == 0)
          persistState(stateDir.get,
            TrainState(words, counts, merges.toSeq, symbols.toSet, pass))
      }
    }
    stateDir.foreach(d => persistState(d,
      TrainState(words, counts, merges.toSeq, symbols.toSet, pass)))
    freeCheckpoint(lastWordsCp)
    freeCheckpoint(lastCountsCp)
    graft.core.Trace.note(ScaledPasses, pass - init.pass)
    merges.toSeq
  }

  /** Apply `batch` (rank order) to every word partition-locally. Output
    * columns: syms (after), freq, changed, oldSyms (empty when
    * unchanged). One mapPartitions node regardless of batch size — no
    * per-merge expression stacking, no shuffle. */
  private def rewriteBatch(words: DataFrame,
      batch: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(batch)
    words.select(col("syms"), col("freq")).as[(Seq[String], Long)]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (syms, f) =>
          val before = syms.toArray
          var cur = before
          b.foreach { case (l, r) => cur = mergePairLocal(cur, l, r) }
          if (cur eq before) (syms, f, false, Seq.empty[String])
          else (cur.toSeq, f, true, syms)
        }
      }.toDF("syms", "freq", "changed", "oldSyms")
  }

  /** Exact pair-count delta of one rewrite: counts over CHANGED words
    * after minus before. Aggregates only the affected slice — the
    * incremental path that replaces [[train]]'s full re-aggregation. */
  private def batchDelta(staged: DataFrame): DataFrame = {
    val changed = staged.filter(col("changed"))
    pairCounts(changed.select(col("syms"), col("freq")))
      .union(pairCounts(changed.select(col("oldSyms").as("syms"), col("freq")))
        .withColumn("n", -col("n")))
      .groupBy("left", "right").agg(sum("n").as("n"))
      .filter(col("n") =!= 0L)
  }
}

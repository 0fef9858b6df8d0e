package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.roundDet

/** Deduplication operators for LLM training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB): every variant is
  *   map (signatures, expression-only) → explode small-fanout keys →
  *   one hash-shuffle on the bucket key → per-bucket pair generation.
  * Candidate pairs are generated ONLY within LSH buckets, never by global
  * cross join; bucket keys are high-cardinality hashes so the shuffle is
  * uniform (band index is part of the key, which also spreads hot shingles).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup groups: one row per distinct text hash with the surviving
    * (minimum) id and the duplicate count. A single hash-shuffle on the
    * 128-bit content hash; at 100 TB, hash first so the shuffle carries a
    * 32-byte key instead of the document body.
    */
  def exactGroups(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Keep one row per distinct text (the minimum id), preserving all
    * original columns: groups → semi-join back on the surviving id.
    */
  def dropExactDuplicates(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keep = exactGroups(df, textCol, idCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles of a token array, as an array column.
    * Documents shorter than n yield a single whole-text shingle so they
    * still participate.
    */
  def shingles(toks: Column, n: Int): Column =
    graft.expr.native.wordShingles(toks, n)

  // -------------------------------------------------------------- MinHash

  /** MinHash signature: k independent min-hashes over the shingle set.
    * Hash family is xxhash64 seeded by the hash index — deterministic
    * across runs and executors. Expression-only (codegen'd map).
    */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    graft.expr.native.minhashSignature(shingleArr, k)

  /** LSH band keys: the signature split into `bands` bands of `rowsPerBand`
    * rows, each band hashed to one 64-bit key. Two docs sharing any band
    * key are candidates. Returned as array<struct<band:int, bh:bigint>>.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.cast("int").as("band"),
        xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bh")))

  /** Candidate near-duplicate pairs via MinHash LSH.
    *
    * @param df         input with `idCol` and `textCol`
    * @param numHashes  k (signature length) = bands * rowsPerBand
    * @return (id_a, id_b, est_jaccard) with id_a < id_b; est_jaccard is the
    *         signature agreement rate.
    */
  def minhashCandidates(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    minhashCandidatesFromSigs(
      minhashSigs(df, textCol, idCol, shingleN, bands * rowsPerBand),
      bands, rowsPerBand)

  /** (id, sig) MinHash signature table for [[minhashCandidatesFromSigs]] —
    * exposed so callers that can derive signatures cheaper than a full
    * recompute (e.g. planted exact twins, which share their source's
    * signature by construction) can skip the k min-hash passes.
    */
  def minhashSigs(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3, k: Int = 32): DataFrame =
    df.select(col(idCol).as("id"),
      minhashSignature(shingles(TextAnalysis.tokens(col(textCol)), shingleN), k)
        .as("sig"))

  /** LSH candidate generation over a precomputed (id, sig) table. */
  def minhashCandidatesFromSigs(sigTable: DataFrame,
      bands: Int = 8, rowsPerBand: Int = 4,
      persistInput: Boolean = true): DataFrame = {
    val k = bands * rowsPerBand
    // persist: the signature subtree feeds bucketing AND both sides of
    // the pair re-attach join — uncached, the k min-hash passes over the
    // full corpus would run three times. Signatures are ~8k bytes/doc,
    // orders of magnitude smaller than the documents they summarize.
    // Skipped when the caller already persisted the table (storageLevel
    // != NONE) — a second cache entry of near-identical data buys
    // nothing. Caller owns the lifetime either way: unpersist/clearCache
    // after materializing in a long-lived session.
    //
    // persistInput = false is for callers whose sigTable is a PROJECTION
    // of an already-cached table: Dataset.storageLevel cannot see through
    // the Project (reports NONE), so the auto-persist here would both
    // double-cache the signatures AND leak the entry — the caller can't
    // unpersist a cache this function created on a derived plan. The
    // per-delivery paths (addDelivery, dropNearDupLosersBounded) pass
    // false; under a streaming sink the leak would otherwise grow one
    // cache entry per trigger, forever.
    val sigs =
      if (!persistInput ||
          sigTable.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        sigTable
      else sigTable
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ids-only through the bucket join and pair dedup — signatures
    // re-attach by key for the agreement estimate, so the hot shuffles
    // never carry the k-long arrays
    val buckets = sigs
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val a = buckets.select(col("band"), col("bh"), col("id").as("id_a"))
    val b = buckets.select(col("band"), col("bh"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        roundDet(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          v => v)).cast("double") / k, 4).as("est_jaccard"))
  }

  /** Benchmark-decontamination scan: corpus documents sharing at least
    * `minShared` word n-grams with ANY benchmark document. The benchmark
    * shingle set is globally deduplicated, 64-bit hashed, and (being
    * small) broadcast by Catalyst — the corpus is never shuffled, making
    * this a map-side semi-join at 100 TB.
    */
  /** (id, sh) exploded 64-bit shingle hashes — shared by both
    * decontamination variants so their semantics cannot diverge.
    */
  private def shingleHashes(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int): DataFrame = df
    .select(col(idCol).as("id"),
      explode(shingles(TextAnalysis.tokens(col(textCol)), shingleN)).as("shs"))
    .select(col("id"), xxhash64(col("shs")).as("sh"))

  /** Exact semi-join + per-doc shared-shingle count — the common tail of
    * both decontamination variants.
    */
  private def contaminationTail(corpusShingles: DataFrame, bench: DataFrame,
      idCol: String, minShared: Long): DataFrame = corpusShingles
    .join(bench, Seq("sh"))
    .groupBy(col("id").as(idCol))
    .agg(count(lit(1)).as("n_shared"))
    .filter(col("n_shared") >= minShared)
    .select(col(idCol), col("n_shared"))

  def contaminatedDocs(corpus: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, minShared: Long = 1L): DataFrame = {
    val bench = shingleHashes(benchmark, textCol, idCol, shingleN)
      .select("sh").distinct()
    contaminationTail(shingleHashes(corpus, textCol, idCol, shingleN),
      bench, idCol, minShared)
  }

  /** Per-document contamination SCORES: the fraction of a corpus
    * document's distinct shingles that appear anywhere in the benchmark
    * (n-gram overlap fraction, the usual eval-decontamination report
    * column). Same plan shape as [[contaminatedDocs]] plus one per-doc
    * size aggregate re-joined on the id: two hash shuffles (shingle,
    * then id), both partial-aggregated map-side. Documents sharing no
    * shingle are omitted (they'd all be 0.0 — at crawl scale that is
    * nearly every row).
    *
    * @param minFrac keep only documents at or above this overlap
    *                fraction (applied to the 4-decimal rounded value)
    */
  def contaminationScores(corpus: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, minFrac: Double = 0.0): DataFrame = {
    val cs = shingleHashes(corpus, textCol, idCol, shingleN)
    val sizes = cs.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val bench = shingleHashes(benchmark, textCol, idCol, shingleN)
      .select("sh").distinct()
    cs.join(bench, Seq("sh"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes, Seq("id"))
      .withColumn("overlap_frac",
        roundDet(col("n_shared").cast("double") / col("n_sh"), 4))
      .filter(col("overlap_frac") >= minFrac)
      .select(col("id").as(idCol), col("n_sh"), col("n_shared"),
        col("overlap_frac"))
  }

  /** Bloom-prefiltered decontamination: byte-identical results to
    * [[contaminatedDocs]] (verified: identical 118,840 hits on a 200k-doc
    * probe), with corpus shingles screened map-side against a Bloom
    * filter of the benchmark shingles BEFORE the exact semi-join.
    *
    * When the bench shingle set fits the broadcast threshold the exact
    * path is already map-side and the bloom saves little (measured ~5%
    * locally). The bloom is the insurance for when it does NOT fit — a
    * full eval-suite shingle set can be 10⁸+ entries, the semi-join
    * becomes a shuffle join, and then the n·9-bit filter (deterministic,
    * driver-bounded) keeps the corpus side out of the exchange: shuffle
    * volume drops to contaminated fraction + false-positive rate. This
    * is Spark's InjectRuntimeFilter trick made explicit; the exact join
    * afterwards removes false positives.
    */
  def contaminatedDocsBloom(corpus: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, minShared: Long = 1L,
      expectedShingles: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    // persist: the bench shingle set feeds both the bloom build (an
    // immediate action) and the exact verify join. Caller owns the
    // lifetime: unpersist/clearCache after materializing.
    val bench = shingleHashes(benchmark, textCol, idCol, shingleN)
      .select("sh").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = bench.select(bridge.column(
        new BloomFilterAggregate(bridge.expression(col("sh")), expectedShingles)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pre = shingleHashes(corpus, textCol, idCol, shingleN)
      .filter(bridge.column(
        new BloomFilterMightContain(Literal.create(bloom, BinaryType),
          bridge.expression(col("sh")))))
    contaminationTail(pre, bench, idCol, minShared)
  }

  // ---------------------------------------------------------- line dedup

  /** (id, pos, line) — documents split into trimmed non-empty lines on
    * `sepRegex` (sentence/line boundaries), position-preserving.
    */
  def docLines(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", sepRegex: String = "\\.\\s+"): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "line")))
      .select(col("id"), col("pos"), trim(col("line")).as("line"))
      .filter(length(col("line")) > 0)

  /** Per-document DISTINCT line hashes, deduped MAP-SIDE
    * (`array_distinct` over the per-doc hash array) — the
    * doc-frequency input for [[lineStats]]/[[dropCommonLines]]. The
    * old `.select(id, lh).distinct()` paid a full exchange of the
    * exploded line corpus keyed on (id, lh) just to drop in-doc
    * repeats; this feeds the same (lh → doc count) aggregation with
    * identical counts at one shuffle instead of two. Same trim/
    * non-empty chain as [[docLines]], so the hashed strings match.
    */
  private def distinctLineHashes(df: DataFrame, textCol: String,
      idCol: String, sepRegex: String): DataFrame =
    df.select(explode(array_distinct(transform(
        filter(transform(split(col(textCol), sepRegex), s => trim(s)),
          s => length(s) > 0),
        s => xxhash64(s)))).as("lh"))

  /** Line-level dedup statistics (the CCNet/RefinedWeb boilerplate
    * signal): for each document, how many of its lines appear in more
    * than `maxDocs` documents corpus-wide. Lines shuffle as 64-bit
    * hashes; two shuffles (line-hash doc frequency, then per-doc
    * aggregate), both partial-aggregated map-side.
    */
  def lineStats(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", sepRegex: String = "\\.\\s+",
      maxDocs: Long = 1L): DataFrame = {
    val lines = docLines(df, textCol, idCol, sepRegex)
      .select(col("id"), col("pos"), xxhash64(col("line")).as("lh"))
    val dfreq = distinctLineHashes(df, textCol, idCol, sepRegex)
      .groupBy("lh").agg(count(lit(1)).as("line_docs"))
    lines.join(dfreq, Seq("lh"))
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("line_docs") > maxDocs, 1)).as("n_common_lines"))
      .withColumn("common_frac",
        roundDet(col("n_common_lines").cast("double") / col("n_lines"), 4))
  }

  /** Remove boilerplate lines: keep only lines appearing in at most
    * `maxDocs` documents and reconstruct each document in original line
    * order. A document whose every line is boilerplate disappears (its
    * group is empty) — the desired crawl-cleaning behavior. The
    * reconstruction re-attaches line TEXT by (id, pos) after the
    * hash-keyed frequency join, so the wide strings ride only the final
    * per-document aggregation.
    */
  def dropCommonLines(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", sepRegex: String = "\\.\\s+",
      maxDocs: Long = 1L): DataFrame = {
    val lines = docLines(df, textCol, idCol, sepRegex)
      .select(col("id"), col("pos"), col("line"), xxhash64(col("line")).as("lh"))
    val keep = distinctLineHashes(df, textCol, idCol, sepRegex)
      .groupBy("lh").agg(count(lit(1)).as("line_docs"))
      .filter(col("line_docs") <= maxDocs)
      .select("lh")
    lines.join(keep, Seq("lh"))
      .groupBy(col("id").as(idCol))
      .agg(concat_ws(". ",
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as(textCol))
  }

  // ------------------------------------------------- exact substring dedup

  /** Positioned token k-grams, hashed: (id, pos, gh) with pos 1-based.
    * The hash — not the gram text — is what shuffles; the hashes come
    * from the native one-pass k-gram expressions (zero string
    * allocation, codegen'd).
    *
    * `wide = false` → 8-byte [[graft.expr.TokenKgramHashes]] keys: right
    * for STATISTICS consumers, where a birthday collision (certain once
    * the corpus holds ~2^32 distinct grams) only perturbs a count by one.
    * `wide = true` → 16-byte [[graft.expr.TokenKgramHashes128]]
    * struct<h1,h2> keys for DESTRUCTIVE consumers: a false "repeated"
    * gram would delete real tokens, so the destructive path pays double
    * the key width to push the birthday bound to ~2^64 grams.
    */
  private def positionedGrams(df: DataFrame, k: Int, textCol: String,
      idCol: String, wide: Boolean = false): DataFrame = {
    val hashes =
      if (wide) graft.expr.native.tokenKgramHashes128(col("_toks"), k)
      else graft.expr.native.tokenKgramHashes(col("_toks"), k)
    df.withColumn("_toks", TextAnalysis.tokens(col(textCol)))
      .filter(size(col("_toks")) >= k)
      .select(col(idCol).as("id"), posexplode(hashes))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("gh"))
  }

  /** Token k-gram hashes occurring in more than `maxDocs` distinct
    * documents — the cross-document repeated-substring alphabet.
    * Within-document dedup happens MAP-SIDE (`array_distinct` over the
    * per-doc hash array before the explode): the old
    * `.select(id, gh).distinct()` paid a full exchange of the gram
    * corpus — the largest table in the query — keyed on (id, gh) just
    * to drop in-doc repeats, before the (gh) doc-frequency exchange.
    * Per-doc distinct explode feeds the same (gh → doc count)
    * aggregation with identical counts (each doc contributes each gram
    * once either way), one shuffle instead of two.
    */
  private def repeatedGramHashes(df: DataFrame, k: Int, textCol: String,
      idCol: String, maxDocs: Long, wide: Boolean = false): DataFrame = {
    // distinct = true: dedup happens inside the native one-pass hash
    // expression (an array_distinct over array<struct> would fall to
    // the O(grams²) interpreted comparison path per document)
    val hashes =
      if (wide) graft.expr.native.tokenKgramHashes128(col("_toks"), k,
        distinct = true)
      else graft.expr.native.tokenKgramHashes(col("_toks"), k,
        distinct = true)
    df.withColumn("_toks", TextAnalysis.tokens(col(textCol)))
      .filter(size(col("_toks")) >= k)
      .select(explode(hashes).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("gram_docs"))
      .filter(col("gram_docs") > maxDocs)
      .select("gh")
  }

  /** Exact substring deduplication signals (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): token
    * k-grams repeating ACROSS documents, coalesced per document into
    * maximal repeated spans, reported as per-doc span statistics.
    *
    * The paper builds one corpus-wide suffix array — inherently
    * single-machine. The Spark-shaped equivalent of the same ≥k-token
    * repeat signal: positioned k-gram hashes (map-side, 8-byte keys) →
    * ONE hash-shuffle for document frequency → join back → per-document
    * gaps-and-islands merge (two window passes over in-doc positions;
    * partition key = doc, so the window never sees more rows than the
    * longest document). Everything is linear in corpus tokens; nothing
    * global is sorted.
    *
    * Span semantics: flagged positions p, q (p < q) coalesce into one
    * span when q - p <= k (their k-gram occurrences overlap or are
    * adjacent); a span starting at p with last flagged hit m covers
    * tokens [p, m + k). Docs with no repeated span report zeros.
    *
    * Output: (doc_id, n_tokens, n_spans, dup_tokens, dup_token_frac);
    * docs shorter than k tokens are excluded (no k-gram exists).
    */
  def repeatedSpans(df: DataFrame, k: Int = 8, textCol: String = "text",
      idCol: String = "doc_id", maxDocs: Long = 1L): DataFrame = {
    require(k >= 2, s"k-gram length must be >= 2, got $k")
    val grams = positionedGrams(df, k, textCol, idCol)
    val flagged = grams.join(
      repeatedGramHashes(df, k, textCol, idCol, maxDocs), Seq("gh"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val spans = flagged
      .withColumn("_new", when(
        col("pos") - lag(col("pos"), 1).over(byDoc) <= k, 0).otherwise(1))
      .withColumn("_island", sum(col("_new")).over(byDoc))
      .groupBy(col("id"), col("_island"))
      .agg((max(col("pos")) + k - min(col("pos"))).as("span_tokens"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("dup_tokens"))
    df.select(col(idCol).as("id"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= k)
      .join(spans, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        roundDet(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 4).as("dup_token_frac"))
  }

  /** Remove cross-document repeated spans, rebuilding each document from
    * its un-flagged tokens in original order (the destructive form of
    * [[repeatedSpans]] — both copies of a repeated span are cut, the
    * conservative crawl-cleaning choice; a doc that is entirely repeated
    * text disappears). Span coverage is reconstructed per document from
    * the island aggregates, so the join back to token positions carries
    * only (start, end) pairs, never exploded coverage rows.
    */
  def dropRepeatedSpans(df: DataFrame, k: Int = 8, textCol: String = "text",
      idCol: String = "doc_id", maxDocs: Long = 1L): DataFrame = {
    require(k >= 2, s"k-gram length must be >= 2, got $k")
    // destructive path → 128-bit gram keys (a hash collision here would
    // DELETE real tokens; see positionedGrams)
    val grams = positionedGrams(df, k, textCol, idCol, wide = true)
    val flagged = grams.join(
      repeatedGramHashes(df, k, textCol, idCol, maxDocs, wide = true),
      Seq("gh"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    // per-doc array of [start, end) spans (bounded by tokens-per-doc)
    val spans = flagged
      .withColumn("_new", when(
        col("pos") - lag(col("pos"), 1).over(byDoc) <= k, 0).otherwise(1))
      .withColumn("_island", sum(col("_new")).over(byDoc))
      .groupBy(col("id"), col("_island"))
      .agg(min(col("pos")).cast("long").as("s"),
        (max(col("pos")) + k).cast("long").as("e"))
      .groupBy(col("id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("_spans"))
    // rebuild via the native two-pointer sweep (codegen'd, O(tokens +
    // spans·log spans) per doc) — the HOF filter/transform/exists tree it
    // replaces was CodegenFallback and O(tokens × spans)
    // dataset-qualified join keys: with idCol == "id" (a legal caller
    // choice) the unqualified col("id") would resolve against BOTH join
    // children and fail analysis as ambiguous
    val left = df.withColumn("_toks", TextAnalysis.tokens(col(textCol)))
    left.join(spans, left(idCol) === spans("id"), "left")
      .withColumn("_kept", graft.expr.native.removeCoveredTokens(col("_toks"),
        coalesce(col("_spans"), array().cast("array<struct<s:long,e:long>>"))))
      .filter(size(col("_kept")) > 0)
      .select(left(idCol), concat_ws(" ", col("_kept")).as(textCol))
  }

  // --------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token multiset: per-bit majority vote over
    * xxhash64(token). Near-duplicates have small Hamming distance.
    * Expression-only; one codegen'd projection.
    */
  def simhash64(toks: Column): Column =
    graft.expr.native.simhash64(toks)

  /** SimHash near-dup candidates: band the 64-bit signature into four
    * 16-bit chunks (any chunk equal → candidate; catches all pairs with
    * Hamming distance ≤ 3 by pigeonhole), then verify with bit_count.
    */
  def simhashCandidates(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3): DataFrame =
    simhashCandidatesFromSigs(
      df.select(col(idCol).as("id"),
        simhash64(TextAnalysis.tokens(col(textCol))).as("sim")),
      maxHamming)

  /** Candidate generation over a precomputed (id, sim) signature table —
    * the reuse hook for callers whose signatures are derivable without a
    * recompute (planted exact twins share their source's simhash).
    */
  def simhashCandidatesFromSigs(sigTable: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val chunked = sigTable.select(col("id"), col("sim"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sim"), c * 16).bitwiseAND(0xFFFFL).as("ch"))): _*))
        .as("ck"))
      .select(col("id"), col("sim"), col("ck.chunk").as("chunk"), col("ck.ch").as("ch"))
    val a = chunked.select(col("chunk"), col("ch"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("ch"), col("id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk", "ch"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int").as("hamming"))
      // verify BEFORE the pair dedup: hamming is a pure map-side check,
      // so the dedup shuffle only carries true near-dup pairs instead of
      // every 16-bit chunk coincidence (which at corpus scale outnumber
      // real candidates by orders of magnitude)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact n-gram Jaccard for a GIVEN candidate pair set: re-attaches both
    * documents' shingle arrays by id and intersects per pair — no shingle
    * explosion, no posting-list join. O(|pairs| · shingles) regardless of
    * how clustered the duplicates are.
    */
  def verifyJaccard(pairs: DataFrame, df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3): DataFrame =
    verifyJaccardFromShingles(pairs,
      df.select(col(idCol).as("id"),
        shingles(TextAnalysis.tokens(col(textCol)), shingleN).as("arr")))

  /** Per-pair exact Jaccard over a precomputed (id, arr) shingle table —
    * the reuse hook for callers that already hold the arrays (e.g. a
    * pipeline that derived signatures from them one line earlier).
    *
    * Shingles are 64-bit-hashed BEFORE the re-attach joins, so the two
    * pair-side shuffles carry 8-byte elements instead of n-word strings
    * (~3× fewer bytes at shingleN = 3) and the per-pair intersection
    * compares longs. Set cardinalities are preserved and a cross-shingle
    * collision (~|shingles|²/2⁶⁴) is negligible at any corpus size —
    * the same argument the posting-list path rests on — so the jaccard
    * values (including the ==1.0 set-equality class the planted oracles
    * use) are unchanged.
    */
  def verifyJaccardFromShingles(pairs: DataFrame, sh: DataFrame): DataFrame =
    verifyJaccardFromHashedShingles(pairs, sh.select(col("id"),
      transform(col("arr"), x => xxhash64(x)).as("arr")))

  /** Per-pair exact Jaccard over ALREADY-HASHED distinct-shingle arrays
    * (id, arr: array<bigint>) — the entry point for callers that persist
    * hashed shingle sets as index state ([[IncrementalDedup]]): the
    * stored form verifies new candidates without ever re-reading the
    * original document text.
    */
  def verifyJaccardFromHashedShingles(pairs: DataFrame, hashed: DataFrame): DataFrame =
    pairs.select("id_a", "id_b")
      .join(hashed.select(col("id").as("id_a"), col("arr").as("arr_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("arr").as("arr_b")), Seq("id_b"))
      .withColumn("n_shared",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      // Zero-denominator (both shingle sets empty — docs shorter than
      // the shingle width) is DEFINED as jaccard 0: no shingle evidence
      // means no near-dup claim. Unguarded, 0/0 is NaN, and Spark's
      // NaN-greatest double ordering would make every downstream
      // `jaccard >= t` filter silently KEEP such pairs while the
      // driver-local replays (Java NaN >= t is false) drop them —
      // divergent survivor sets across the bounded-path ceiling.
      .select(col("id_a"), col("id_b"),
        when(size(col("arr_a")) + size(col("arr_b")) - col("n_shared") === 0,
          lit(0.0))
          .otherwise(roundDet(col("n_shared").cast("double") /
            (size(col("arr_a")) + size(col("arr_b")) - col("n_shared")), 4))
          .as("jaccard"))

  /** The scalable exact near-dup pipeline: MinHash-LSH candidate
    * generation (sub-quadratic in cluster size) → per-pair exact Jaccard
    * verification. Use THIS at corpus scale; [[ngramJaccardPairs]]'s
    * all-pairs posting-list join is exact but quadratic in duplicate
    * cluster size (measured: 20 replicas/doc → 50× slower than this
    * path on the same data).
    */
  def nearDupPairs(df: DataFrame, minJaccard: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    verifyJaccard(
      minhashCandidates(df, textCol, idCol, shingleN, bands, rowsPerBand)
        .filter(col("est_jaccard") >= minJaccard / 2),
      df, textCol, idCol, shingleN)
      .filter(col("jaccard") >= minJaccard)

  /** Connected components over a near-dup pair set: every document gets
    * the minimum id of its duplicate cluster as `cluster_id`. Iterative
    * min-label propagation WITH pointer doubling: each round a node takes
    * the min over its own label, its neighbors' labels, AND its label's
    * label (label(label(u))) — the path-halving step that turns
    * convergence from O(diameter) into O(log diameter) rounds, so deep
    * duplicate chains (template corpora where LSH links page k only to
    * page k±1) finish in a handful of rounds instead of hitting the cap.
    * Each round localCheckpoints to cut lineage so plans stay bounded.
    * Needed because dropping `id_b` of every pair over-keeps when LSH
    * misses a transitive pair: a chain a–b, b–c without the a–c pair
    * must still collapse to one survivor.
    */
  /** Rounds a [[duplicateClusters]] distributed loop took to converge,
    * noted when the loop ends (the driver fast path and the empty path
    * note nothing) — the scale curve's O(log diameter) evidence;
    * nothing in the engine reads it.
    */
  val CcRounds = graft.core.Trace.Key[Int]("dedup.cc_rounds")

  def duplicateClusters(pairs: DataFrame, maxIterations: Int = 20,
      driverMaxPairs: Long = 1000000L): DataFrame =
    duplicateClustersLocal(pairs, maxIterations, driverMaxPairs) match {
      case Left(labels) =>
        val sp = pairs.sparkSession
        import sp.implicits._
        labels.toSeq.toDF("id", "cluster_id")
      case Right(df) => df
    }

  /** [[duplicateClusters]] that SURFACES the under-cap driver fast path
    * instead of folding it back into a local-relation DataFrame:
    * `Left(labels)` when the verified pair set fit the driver bound
    * (the id→cluster_id array is already driver-resident — the collect
    * happened either way), `Right(distributed labels)` otherwise.
    * Callers whose next step is per-pair driver logic (admission
    * filters, bounded probes) use the `Left` to skip a whole round of
    * small-table joins; everything else goes through
    * [[duplicateClusters]] and never sees the split.
    */
  def duplicateClustersLocal(pairs: DataFrame, maxIterations: Int = 20,
      driverMaxPairs: Long = 1000000L): Either[Array[(Long, Long)], DataFrame] = {
    val slim = pairs.select("id_a", "id_b")
    // Small-pair fast path: the VERIFIED near-dup pair set is proportional
    // to the corpus's actual duplication, not its size — on most corpora
    // it is thousands of rows while the distributed loop still pays
    // O(log diameter) full job rounds. Probe with a count over the
    // CACHED pair set, then collect only when it fits (≤ ~16 MB of ids,
    // bounded driver state like the IVF centroids) and run union-find
    // with path compression on the result. Exactly TWO jobs — the r14
    // limit(cap+1) probe's incremental CollectLimit (1, 4, 16, …
    // partitions until the limit fills) paid 5-7 scheduler rounds to
    // read the same cached rows whenever the set was under-cap, which
    // is the common case. Counting computes every partition, but so
    // does the checkpoint the over-cap path takes next, so nothing is
    // computed that wasn't already — at any scale. Only a
    // genuinely-massive pair set (> cap) pays the checkpoint + the
    // distributed loop, fed straight from the probe's still-warm cache.
    val integralIds = slim.schema.fields.forall(_.dataType == LongType)
    val cap = math.min(driverMaxPairs, (Int.MaxValue - 2).toLong).toInt
    if (integralIds) {
      slim.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nPairs = slim.count()
      if (nPairs == 0) { // clean corpus: skip the propagation entirely
        slim.unpersist()
        return Left(Array.empty)
      }
      if (nPairs <= cap) {
        val sample = slim.collect() // cache read: the count materialized it
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) {
            parent.put(r, parent.get(parent.get(r))) // path halving
            r = parent.get(r)
          }
          r
        }
        sample.foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
          val ra = find(a); val rb = find(b)
          // union-to-min: the root of a component is always its minimum id
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        val labels = parent.keySet().toArray(Array.empty[java.lang.Long])
          .map(id => (id.longValue, find(id.longValue)))
        slim.unpersist()
        return Left(labels)
      }
    }
    // materialize the pair set once: the loop issues several actions and
    // would otherwise re-run the candidate/verify pipeline behind `pairs`
    // on every one of them (an over-cap integral probe feeds the
    // checkpoint straight from its still-warm cache, then releases it)
    val p = slim.localCheckpoint(true)
    slim.unpersist()
    // Edges are shuffled into the join layout ONCE and pinned: every
    // round's neighbor join keys on `dst`, so a persisted
    // HashPartitioning(dst) lets each round exchange only the (smaller,
    // shrinking) label delta instead of re-shuffling the full edge set
    // O(log diameter) times.
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint(true)
    // Delta iteration: a node's label can only improve through a
    // neighbor whose label improved LAST round (min-propagation never
    // forgets, so a label that stopped changing has already been seen by
    // every neighbor) — so the neighbor join streams only the CHANGED
    // labels against the pinned edges. Round 1: everything "changed".
    // On low-diameter duplication (star-shaped clusters, the common
    // corpus case) the delta collapses after round 1 and later rounds
    // are near-free; on worst-case chains it degrades gracefully to the
    // full join.
    var changed = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val nbrMin = edges
        .join(changed.select(col("id").as("dst"), col("cluster_id").as("nbr_label")),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr_label")).as("nbr_min"))
      // pointer doubling: label(label(u)) — labels only ever shrink, so
      // chasing one extra hop per round halves pointer chains. Pointless
      // in round 1 (labels still equal ids ⇒ label(label)=label), so the
      // extra join only runs from round 2 on
      val withJump =
        if (iter == 0) labels.join(nbrMin, Seq("id"), "left")
          .withColumn("jump", col("cluster_id"))
        else {
          val labelOfLabel = labels
            .join(labels.select(col("id").as("cluster_id"), col("cluster_id").as("ll")),
              Seq("cluster_id"), "left") // labels are always node ids, but stay safe
            .select(col("id"), coalesce(col("ll"), col("cluster_id")).as("jump"))
          labels.join(nbrMin, Seq("id"), "left").join(labelOfLabel, Seq("id"), "left")
        }
      // carry the previous label through the checkpoint so convergence is
      // a filter over already-materialized rows, not another shuffle join
      val updated = withJump
        .select(col("id"),
          least(
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))),
            coalesce(col("jump"), col("cluster_id"))).as("cluster_id"),
          col("cluster_id").as("prev"))
        .localCheckpoint(true)
      // the eager checkpoint above consumed the previous round's labels
      // (and `changed`, a view of the same checkpoint): free its blocks
      // now instead of leaving them to ContextCleaner, which reclaims
      // them only after a GC happens to collect the Dataset
      graft.core.CacheUtil.freeCheckpoint(labels)
      changed = updated.filter(col("cluster_id") < col("prev"))
        .select("id", "cluster_id")
      converged = changed.isEmpty
      labels = updated.drop("prev")
      iter += 1
    }
    graft.core.Trace.note(CcRounds, iter)
    edges.unpersist()
    // the final labels are checkpointed, so nothing reads the pair
    // checkpoint any more; the labels themselves are the caller's
    graft.core.CacheUtil.freeCheckpoint(p)
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIterations rounds " +
          "(O(log diameter) with pointer doubling — this cap covers " +
          "components of diameter ~2^20): a component split across " +
          "labels would make dropNearDuplicates over-keep. Raise " +
          "maxIterations.")
    Right(labels)
  }

  /** Drop every NON-MINIMAL cluster member of `df` given a verified
    * near-dup pair set — the survivors-only consumer of
    * [[duplicateClusters]]. When the pair set took the under-cap driver
    * fast path the loser ids are already driver-resident, so the drop
    * is ONE pushed IN filter (the bounded-probe-pushdown rule) instead
    * of a cluster-label join plus anti-join and their adaptive planning
    * rounds; over the bound the plan falls back to the fully-lazy
    * anti-join. The loser set scales with the corpus's DUPLICATION, not
    * its size, so real corpora sit under the bound while the fallback
    * keeps the worst case distributed.
    */
  def dropClusterLosers(df: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", pushdownBound: Int = 65536): DataFrame =
    duplicateClustersLocal(pairs) match {
      case Left(local) if local.length <= pushdownBound =>
        val losers = local.collect { case (id, c) if id != c => id }
        if (losers.isEmpty) df
        else {
          graft.expr.native.requireIntegralId(df, idCol, "dropClusterLosers")
          df.filter(!graft.expr.native.inLongSet(col(idCol), losers))
        }
      case other =>
        val labels = other match {
          case Left(local) =>
            val sp = df.sparkSession
            import sp.implicits._
            local.toSeq.toDF("id", "cluster_id")
          case Right(d) => d
        }
        df.join(labels.filter(col("id") =!= col("cluster_id"))
          .select(col("id").as(idCol)), Seq(idCol), "left_anti")
    }

  /** One survivor per near-duplicate cluster: candidates → exact verify →
    * connected components → keep each cluster's minimum id. The complete,
    * transitive-safe dedup (contrast with naive per-pair id_b dropping).
    */
  def dropNearDuplicates(df: DataFrame, minJaccard: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    dropClusterLosers(df, nearDupPairs(df, minJaccard, textCol, idCol), idCol)

  /** Whether a [[dropNearDupLosersBounded]] call ran the driver-local
    * bounded path, noted per call so the equivalence spec and the
    * forced-distributed gates can check which path actually executed.
    */
  val NearDupLocal = graft.core.Trace.Key[Boolean]("dedup.near_dup_local")

  /** Near-dup survivor filter over a PREPARED signature/shingle state
    * table (id, sig, arr) — the bounded-probe twin of the distributed
    * candidates → verify → cluster → drop composition, same rule as
    * [[IncrementalDedup]]'s driver-local admission: when the state fits
    * the driver ceiling (the same rows the distributed plan broadcasts
    * into its verify joins anyway), ONE collect replaces the banded
    * self-join, two verify re-attach joins, and the cluster/anti-join
    * machinery — at the bounded operating point those plans' adaptive
    * stage rounds cost more than the data. Arithmetic replicates the
    * distributed operators bit-for-bit: shingles are hashed BY SPARK in
    * the collect projection (the verifyJaccardFromShingles transform,
    * so no hash re-implementation can drift), band keys come from the
    * same [[bandKeys]] column expression, the agreement prefilter is
    * roundDet(eq/k, 4) ≥ minJaccard/2, and exact Jaccard uses distinct
    * intersections over RAW array-length denominators. Over the ceiling
    * (the 100 TB case) the unchanged distributed composition runs —
    * the fast path is never a limit. Cross-path survivor equality is
    * spec-pinned (DedupSpec).
    */
  def dropNearDupLosersBounded(df: DataFrame, state: DataFrame,
      minJaccard: Double, idCol: String = "doc_id",
      bands: Int = 8, rowsPerBand: Int = 4,
      maxRows: Long = 65536, maxBytes: Long = 64L << 20): DataFrame = {
    val k = bands * rowsPerBand
    // one bounds probe (cache read when the caller persisted state)
    val m = state.agg(count(lit(1)).as("n"),
      sum(size(col("arr"))).as("mass")).head()
    val n = m.getLong(0)
    val massBytes = if (n == 0L) 0L else 8L * (m.getLong(1) + (k + 2L) * n)
    // maxRows == 0 is the FORCED-distributed contract (the _dist twin
    // gates); without the explicit check an empty state (n = 0,
    // massBytes = 0) would satisfy 0 <= 0 and take the local path,
    // turning an empty-but-valid input into a require() crash in the
    // forced-distributed gates
    val local = maxRows > 0 && n <= maxRows && massBytes <= maxBytes
    graft.core.Trace.note(NearDupLocal, local)
    if (!local) {
      val pairs = verifyJaccardFromShingles(
        // persistInput = false: state is the caller's prepared (and by
        // contract persisted) table; its (id, sig) projection reads
        // through that cache, and an auto-persist here would leak
        minhashCandidatesFromSigs(state.select("id", "sig"),
          bands, rowsPerBand, persistInput = false)
          .filter(col("est_jaccard") >= minJaccard / 2),
        state)
        .filter(col("jaccard") >= minJaccard)
      return dropClusterLosers(df, pairs, idCol)
    }
    def rd4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val rows = state.select(col("id"), col("sig"),
      transform(col("arr"), x => xxhash64(x)).as("harr"),
      bandKeys(col("sig"), bands, rowsPerBand).as("bks")).collect()
    final case class Doc(sig: Array[Long], len: Int,
      set: java.util.HashSet[Long])
    val docOf = new java.util.HashMap[Long, Doc](rows.length * 2)
    val groups = new java.util.HashMap[(Int, Long),
      scala.collection.mutable.ArrayBuffer[Long]]()
    rows.foreach { r =>
      val id = r.getLong(0)
      val harr = r.getSeq[Long](2)
      val set = new java.util.HashSet[Long](harr.length * 2)
      harr.foreach(set.add)
      docOf.put(id, Doc(r.getSeq[Long](1).toArray, harr.length, set))
      r.getSeq[org.apache.spark.sql.Row](3).foreach { bk =>
        groups.computeIfAbsent((bk.getInt(0), bk.getLong(1)),
          _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += id
      }
    }
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
    val seen = new java.util.HashSet[(Long, Long)]()
    val groupIt = groups.values().iterator()
    while (groupIt.hasNext) {
      val g = groupIt.next().sorted
      var i = 0
      while (i < g.length - 1) {
        var j = i + 1
        while (j < g.length) {
          val p = (g(i), g(j))
          if (seen.add(p)) {
            val a = docOf.get(p._1); val b = docOf.get(p._2)
            var eq = 0; var h = 0
            while (h < k) { if (a.sig(h) == b.sig(h)) eq += 1; h += 1 }
            if (rd4(eq.toDouble / k) >= minJaccard / 2) {
              val (small, big) =
                if (a.set.size <= b.set.size) (a.set, b.set)
                else (b.set, a.set)
              var shared = 0L
              val it = small.iterator()
              while (it.hasNext) { if (big.contains(it.next())) shared += 1 }
              // zero-denominator = jaccard 0, the distributed
              // verifyJaccardFromHashedShingles definition (two
              // empty-shingle docs share every band key but carry no
              // dedup evidence). Computed as a VALUE then compared, so
              // a degenerate minJaccard <= 0 threshold still agrees
              // with the distributed `0.0 >= t` filter
              val denom = a.len + b.len - shared
              val j = if (denom == 0L) 0.0 else rd4(shared.toDouble / denom)
              if (j >= minJaccard) union(p._1, p._2)
            }
          }
          j += 1
        }
        i += 1
      }
    }
    val losers = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pIt = parent.keySet().iterator()
    while (pIt.hasNext) {
      val id = pIt.next()
      if (find(id) != id) losers += id
    }
    if (losers.isEmpty) df
    else {
      graft.expr.native.requireIntegralId(df, idCol,
        "dropNearDupLosersBounded")
      df.filter(!graft.expr.native.inLongSet(col(idCol), losers))
    }
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Exact n-gram Jaccard similarity for pairs sharing at least one
    * shingle. The shingle equi-join IS the blocking step: only documents
    * with a common shingle meet, so the shuffle is bounded by shingle
    * posting-list sizes (cap hot shingles upstream if the corpus has
    * boilerplate). Output: (id_a, id_b, jaccard) with jaccard ≥ minJaccard.
    */
  /** Default posting-list cap: a shingle shared by more than this many
    * documents is boilerplate (header/footer/license), carries no dedup
    * signal, and uncapped would contribute O(df²) join pairs — the one
    * quadratic path reachable from a gate query at 100 TB. 10k keeps
    * every genuine duplicate cluster (those are caught via their many
    * OTHER shared shingles) while bounding any single shingle's pair
    * contribution to 5·10⁷.
    */
  val DefaultMaxDocFreq = 10000L

  /** @param maxDocFreq drop shingles appearing in more than this many
    *                    documents before the pair join (boilerplate cap) —
    *                    at corpus scale a header/footer shingle shared by
    *                    millions of docs would otherwise produce a
    *                    quadratic posting-list blowup. ON by default
    *                    ([[DefaultMaxDocFreq]]); pass None for exact
    *                    all-pairs semantics on corpora known clean.
    *
    * With a cap, the (shingle, id) posting table is persisted
    * (MEMORY_AND_DISK) and not unpersisted here, because the returned
    * plan reads it. The caller owns its lifetime: unpersist or
    * `clearCache` after materializing the result. A long-lived session
    * that does neither keeps one posting table per call, and disk
    * blocks survive LRU eviction.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3,
      minJaccard: Double = 0.5,
      maxDocFreq: Option[Long] = Some(DefaultMaxDocFreq)): DataFrame = {
    // shingles are 64-bit-hashed before the join: the shuffle carries an
    // 8-byte key instead of an n-word string; a cross-shingle collision
    // (~|shingles|^2 / 2^64) is negligible even at 100 TB corpus sizes.
    // Ids-only through the posting-list join and the pair aggregation —
    // the hot shuffles carry (sh, id) / (id_a, id_b) and nothing else
    // (an interleaved A/B of this plan against carrying the set size
    // through the join measured the narrow shape ~15 % faster: the
    // wider rows tax every posting row while the joins they'd replace
    // touch only the aggregated pair set). Per-doc set sizes re-attach
    // AFTER the pair aggregation from a MAP-ONLY (id, size(arr))
    // projection — shingles() output is distinct by construction, so
    // size(arr) IS the per-doc count the old (id → count(exploded))
    // aggregate computed, minus that aggregate's exchange and its
    // 50×-rows explode pass. NB: n_sh is PRE-cap, so a capped run
    // still reports jaccard against the FULL set sizes (lower bound,
    // as documented on maxDocFreq).
    val base = df.select(col(idCol).as("id"),
      shingles(TextAnalysis.tokens(col(textCol)), shingleN).as("arr"))
    val sh0 = base
      .select(col("id"), explode(col("arr")).as("shs"))
      .select(col("id"), xxhash64(col("shs")).as("sh"))
    val sh = maxDocFreq match {
      case None => sh0
      case Some(cap) =>
        // NB: capped runs under-count n_shared for affected pairs; n_sh
        // stays the full set size, so reported jaccard is a lower bound
        //
        // The posting table is persisted: the hot-set aggregate, the
        // anti-join probe, and both self-join sides all derive from it,
        // and uncached each consumer re-runs the scan→tokenize→shingle→
        // explode subtree (the most expensive map work in the query).
        // Spill-safe (MEMORY_AND_DISK) and narrow — 16 bytes/row.
        // Callers' actions materialize it; the bench clears cache per
        // query, so nothing leaks across measurements.
        val posts = sh0.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // The df>cap hot-shingle set is BROADCAST into the left-anti
        // (guide §3.1) so the corpus-sized probe side is never
        // exchanged: explicit, not estimate-driven — at 100 TB the
        // planner's size estimate for the aggregate can exceed the
        // auto-broadcast threshold and silently fall back to shuffling
        // the full posting table. The hot set is small by construction:
        // each member implies > cap occurrences, so |hot| ≤
        // corpus shingle occurrences / cap (boilerplate count, ~8 bytes
        // each at the default cap).
        val hot = posts.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("sh")
        posts.join(broadcast(hot), Seq("sh"), "left_anti")
    }
    val sizes = base.select(col("id"), size(col("arr")).as("n_sh"))
    val a = sh.select(col("sh"), col("id").as("id_a"))
    val b = sh.select(col("sh"), col("id").as("id_b"))
    a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        roundDet(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Quality-aware canonical selection per duplicate cluster: keep the
    * member maximizing `scoreCol` (smallest id on ties) instead of the
    * min-id convention [[dropNearDuplicates]] uses — at curation time
    * the surviving copy of a duplicated page should be the BEST one
    * (longest, highest quality score), not the accidentally
    * first-crawled one (the "keep best" policy of public dedup
    * pipelines, e.g. CCNet's per-cluster selection).
    *
    * `clusters` is [[duplicateClusters]] output (id, cluster_id); docs
    * absent from it are their own singleton cluster — same contract as
    * [[Sampling.clusterSafeSplit]]. The cluster table is ∝ actual
    * duplication — 30–80% of the corpus on real web crawls — so the
    * join strategy is left to the planner (auto-broadcast when under
    * `autoBroadcastJoinThreshold`, shuffle join when corpus-sized; a
    * forced hint would OOM at crawl scale). Selection and the member
    * count ride ONE aggregation: `max(struct(score, ~id))` is a plain
    * O(1)-state declarative argmax (bitwise NOT turns the struct's
    * lexicographic descending id order into the ascending tie-break,
    * with no `Long.MinValue` negation overflow), so a hot cluster
    * (boilerplate duplicated millions of times at crawl scale) never
    * funnels through one reducer sort and the whole operator is a
    * single shuffle. Non-integral id types route through
    * [[graft.operators.TopK.grouped]]'s window fallback.
    *
    * Output: one row per cluster — (cluster_id, rep_id, rep_score,
    * n_members). `scoreCol` must be non-null (a null field inside the
    * argmax struct would make the tie order engine-defined).
    */
  def clusterRepresentatives(docs: DataFrame, clusters: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val c = clusters.select(col("id").as("__cr_id"),
      col("cluster_id").as("__cr_cluster"))
    val withCluster = docs
      .join(c, docs(idCol) === col("__cr_id"), "left")
      .withColumn("cluster_id", coalesce(col("__cr_cluster"), col(idCol)))
      .drop("__cr_id", "__cr_cluster")
    val integralId =
      graft.operators.TopK.integralIdType(docs.schema(idCol).dataType)
    if (integralId)
      withCluster.groupBy("cluster_id")
        .agg(max(struct(col(scoreCol), bitwise_not(col(idCol)).as("__nid")))
          .as("__m"), count(lit(1)).as("n_members"))
        .select(col("cluster_id"),
          bitwise_not(col("__m.__nid")).as("rep_id"),
          col(s"__m.$scoreCol").as("rep_score"), col("n_members"))
    else {
      val sizes = withCluster.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"))
      graft.operators.TopK.grouped(withCluster, "cluster_id",
          scoreCol, idCol, k = 1, idAscending = true)
        .select(col("cluster_id"), col(idCol).as("rep_id"),
          col(scoreCol).as("rep_score"))
        .join(sizes, Seq("cluster_id"))
    }
  }
}

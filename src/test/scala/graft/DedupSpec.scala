package graft

import org.apache.spark.sql.functions._
import graft.core.Trace
import graft.llm.{Dedup, TextAnalysis}

/** Dedup operators on planted exact/near/unrelated duplicates. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the sun sets slowly behind distant purple mountains today"
  private val nearDup = base.replace("purple", "crimson")
  private val unrelated = "completely different content about spark " +
    "engines shuffling data across wide clusters with hash partitioned joins"

  private lazy val docs = Seq(
    (0L, base), (1L, base), (2L, nearDup), (3L, unrelated))
    .toDF("doc_id", "text")

  test("exactGroups collapses identical texts to min id") {
    val g = Dedup.exactGroups(docs)
    assert(g.count() == 3)
    val dup = g.filter(col("n_dups") === 2).head()
    assert(dup.getAs[Long]("keep_id") == 0L)
    assert(Dedup.dropExactDuplicates(docs).count() == 3)
  }

  test("minhash LSH finds the near-duplicate pair, not the unrelated one") {
    val pairs = Dedup.minhashCandidates(docs).collect()
    val keys = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(keys.contains((0L, 1L))) // exact dup: always a candidate
    assert(keys.contains((0L, 2L)) || keys.contains((1L, 2L))) // near dup
    assert(!keys.contains((0L, 3L)) && !keys.contains((2L, 3L)))
    val exact = pairs.find(r => r.getAs[Long]("id_a") == 0L &&
      r.getAs[Long]("id_b") == 1L).get
    assert(exact.getAs[Double]("est_jaccard") == 1.0)
  }

  test("ngram jaccard is exact: identical=1.0, near-dup high, unrelated absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.2).collect()
    val m = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
      r.getAs[Double]("jaccard")).toMap
    assert(m((0L, 1L)) == 1.0)
    // one word changed in a 19-token doc: 17 trigrams, 3 affected
    assert(m((0L, 2L)) > 0.5 && m((0L, 2L)) < 1.0)
    assert(!m.contains((0L, 3L)))
  }

  test("default boilerplate cap keeps a planted hot shingle sub-quadratic") {
    // 10k docs sharing ONE boilerplate trigram plus unique content:
    // uncapped, that shingle alone contributes ~5·10⁷ join pairs; with
    // the cap it is dropped before the pair join and the result is empty
    val boiler = "standard footer disclaimer"
    val big = (0L until 10000L)
      .map(i => (i, s"unique alpha$i bravo$i charlie$i delta$i $boiler"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(big, minJaccard = 0.01,
      maxDocFreq = Some(100L))
    assert(capped.count() == 0L)
    // the cap must not perturb corpora with no hot shingles: default-cap
    // output equals exact output on the 4-doc fixture
    val exact = Dedup.ngramJaccardPairs(docs, minJaccard = 0.2,
      maxDocFreq = None).collect().map(_.toSeq).toSet
    val dflt = Dedup.ngramJaccardPairs(docs, minJaccard = 0.2)
      .collect().map(_.toSeq).toSet
    assert(dflt == exact && dflt.nonEmpty)
  }

  test("simhash: hamming 0 for identical, small for near-dup, large otherwise") {
    val sigs = docs.select(col("doc_id"),
      Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) == 0)
    assert(ham(sigs(0L), sigs(2L)) < ham(sigs(0L), sigs(3L)))
  }

  test("duplicateClusters resolves transitive chains; dropNearDuplicates keeps one per cluster") {
    // chain 0-1, 1-2 WITHOUT the 0-2 pair, plus isolated pair 5-6 —
    // asserted on BOTH paths: the driver union-find fast path (default)
    // and the distributed propagation loop (forced via driverMaxPairs=0)
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    for (cap <- Seq(1000000L, 0L)) {
      val labels = Dedup.duplicateClusters(pairs, driverMaxPairs = cap)
      // the caller owns the distributed labels' checkpoint
      val clusters =
        try labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally graft.core.CacheUtil.freeCheckpoint(labels)
      assert(clusters(0L) == 0L && clusters(1L) == 0L && clusters(2L) == 0L,
        s"cap=$cap")
      assert(clusters(5L) == 5L && clusters(6L) == 5L, s"cap=$cap")
    }

    // end-to-end: three mutual near-dups + one distinct doc → 2 survivors
    val n = nearDup.replace("crimson", "scarlet")
    val df = Seq((0L, base), (1L, nearDup), (2L, n), (3L, unrelated))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(df, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 3L))
  }

  test("duplicateClusters collapses a deep chain in O(log n) rounds") {
    // a 64-node path (k linked only to k+1): pure min propagation needs
    // 63 rounds and would blow the 20-round cap; pointer doubling must
    // finish well inside it
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // driverMaxPairs = 0 forces the distributed loop — the path this
    // test exists to pin (the fast path has no round cap to blow)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (labels, notes) = Trace.capture(Dedup.duplicateClusters(chain,
      maxIterations = 20, driverMaxPairs = 0L))
    val rounds = notes.last(Dedup.CcRounds).getOrElse(0)
    // the loop frees its pair checkpoint and every superseded round's
    // labels itself; only the returned labels' checkpoint stays, the
    // caller's to free
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size == 1,
      s"rounds: $rounds")
    assert(rounds > 1)
    val clusters =
      try labels.collect().map(r => r.getLong(0) -> r.getLong(1))
      finally graft.core.CacheUtil.freeCheckpoint(labels)
    assert(clusters.length == 64)
    assert(clusters.forall(_._2 == 0L))
  }

  test("contaminatedDocs flags n-gram overlap with a benchmark set") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "intro words then alpha beta gamma delta closing remarks"),
      (1L, "totally clean document with none of those evaluation items"))
      .toDF("doc_id", "text")
    val hits = Dedup.contaminatedDocs(corpus, bench).collect()
    assert(hits.length == 1)
    assert(hits(0).getAs[Long]("doc_id") == 0L)
    assert(hits(0).getAs[Long]("n_shared") == 2L) // two shared trigrams
    // bloom-prefiltered variant is byte-identical (FPs removed by the
    // exact join)
    val bloomHits = Dedup.contaminatedDocsBloom(corpus, bench).collect()
    assert(bloomHits.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      hits.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("line dedup flags and strips corpus-wide boilerplate lines") {
    val df = Seq(
      (0L, "alpha unique thoughts. SHARED FOOTER. more original text"),
      (1L, "different document body. SHARED FOOTER"),
      (2L, "SHARED FOOTER")).toDF("doc_id", "text")
    val stats = Dedup.lineStats(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_common_lines"))).toMap
    assert(stats(0L) == (3L, 1L))
    assert(stats(1L) == (2L, 1L))
    assert(stats(2L) == (1L, 1L))
    val cleaned = Dedup.dropCommonLines(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // order preserved, footer gone
    assert(cleaned(0L) == "alpha unique thoughts. more original text")
    assert(cleaned(1L) == "different document body")
    // a document that was ALL boilerplate disappears
    assert(!cleaned.contains(2L))
  }

  test("contaminationScores reports the per-doc overlap fraction") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // 7 distinct trigrams, 2 shared with the benchmark → 2/7
      (0L, "intro words then alpha beta gamma delta closing remarks"),
      (1L, "totally clean document with none of those evaluation items"))
      .toDF("doc_id", "text")
    val rows = Dedup.contaminationScores(corpus, bench).collect()
    assert(rows.length == 1) // zero-overlap docs are omitted
    val r = rows.head
    assert(r.getAs[Long]("doc_id") == 0L)
    assert(r.getAs[Long]("n_sh") == 7L)
    assert(r.getAs[Long]("n_shared") == 2L)
    assert(math.abs(r.getAs[Double]("overlap_frac") - 0.2857) < 1e-9)
    // threshold above the fraction drops the row
    assert(Dedup.contaminationScores(corpus, bench, minFrac = 0.5).count() == 0)
  }

  test("simhashCandidates surfaces only close pairs") {
    val c = Dedup.simhashCandidates(docs, maxHamming = 10).collect()
    val keys = c.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(keys.contains((0L, 1L)))
    assert(!keys.contains((0L, 3L)))
  }

  test("repeatedSpans merges overlapping cross-doc k-gram hits into islands") {
    val df = Seq(
      // A and B share the 6-token run s1..s6 (3 overlapping 4-grams → 1 span)
      (0L, "u1 u2 s1 s2 s3 s4 s5 s6 v1 v2"),
      (1L, "w1 w2 w3 s1 s2 s3 s4 s5 s6 x1 x2 x3"),
      // C is unrelated: zero spans, frac 0
      (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      // D and E share two runs separated by a > k gap → 2 islands
      (3L, "p1 p2 p3 p4 m1 m2 m3 m4 m5 t1 t2 t3 t4"),
      (4L, "p1 p2 p3 p4 z1 z2 z3 z4 z5 t1 t2 t3 t4"),
      // shorter than k tokens: excluded entirely
      (5L, "short doc")).toDF("doc_id", "text")
    val r = Dedup.repeatedSpans(df, k = 4).collect()
      .map(x => x.getAs[Long]("doc_id") -> (x.getAs[Long]("n_tokens"),
        x.getAs[Long]("n_spans"), x.getAs[Long]("dup_tokens"),
        x.getAs[Double]("dup_token_frac"))).toMap
    assert(r(0L) == (10L, 1L, 6L, 0.6))
    assert(r(1L) == (12L, 1L, 6L, 0.5))
    assert(r(2L) == (10L, 0L, 0L, 0.0))
    assert(r(3L) == (13L, 2L, 8L, 0.6154))
    assert(r(4L) == (13L, 2L, 8L, 0.6154))
    assert(!r.contains(5L))
  }

  test("dropRepeatedSpans accepts idCol == \"id\" (no ambiguous self-reference)") {
    // the span table's internal key is also named `id`; the rebuild
    // join must qualify its sides or this legal caller choice fails
    // analysis as an ambiguous reference
    val df = Seq(
      (0L, "a1 a2 r1 r2 r3 r4 r5 r6 r7 r8 b1 b2"),
      (1L, "c1 c2 r1 r2 r3 r4 r5 r6 r7 r8 d1 d2"))
      .toDF("id", "text")
    val out = Dedup.dropRepeatedSpans(df, k = 8, idCol = "id").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
    assert(out(0L) == "a1 a2 b1 b2" && out(1L) == "c1 c2 d1 d2", s"$out")
  }

  test("dropRepeatedSpans cuts both copies; an all-repeated doc disappears") {
    val df = Seq(
      (0L, "u1 u2 s1 s2 s3 s4 s5 s6 v1 v2"),
      (1L, "w1 w2 w3 s1 s2 s3 s4 s5 s6 x1 x2 x3"),
      (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      // F == G: every token is inside the one repeated span
      (3L, "q1 q2 q3 q4 q5 q6"),
      (4L, "q1 q2 q3 q4 q5 q6")).toDF("doc_id", "text")
    val cleaned = Dedup.dropRepeatedSpans(df, k = 4).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("text")).toMap
    assert(cleaned(0L) == "u1 u2 v1 v2")
    assert(cleaned(1L) == "w1 w2 w3 x1 x2 x3")
    assert(cleaned(2L) == "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")
    assert(!cleaned.contains(3L) && !cleaned.contains(4L))
  }

  test("dropNearDupLosersBounded: driver-local path equals the " +
      "distributed composition at a fractional threshold") {
    // planted structure: exact twins (0,1), a fractional near-dup pair
    // (0,2) via one-word substitution, a transitive chain through them,
    // and unrelated content — enough to exercise prefilter, exact
    // verify, and union-to-min labeling on BOTH paths
    val variant2 = base.replace("quick", "rapid")
    // sub-shingleN-token docs (6,7,8): WordShingles backs off to one
    // whole-text shingle below the shingle width, so three DISTINCT
    // short texts are three distinct single-shingle sets — jaccard 0
    // against everything, all three must survive on both paths at
    // every threshold (the truly-empty-array zero-denominator case is
    // unit-pinned in the verifyJaccardFromHashedShingles test below)
    val corpus = Seq(
      (0L, base), (1L, base), (2L, nearDup), (3L, unrelated),
      (4L, variant2),
      (5L, "another fully unrelated document speaking of parquet " +
        "footers statistics and row group pruning at petabyte scale"),
      (6L, "tiny doc"), (7L, "short text"), (8L, "ok"))
      .toDF("doc_id", "text")
    def stateOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("id"),
          Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("arr"))
        .withColumn("sig", Dedup.minhashSignature(col("arr"), 32))
    // 0.0 is the degenerate threshold where every band-sharing pair
    // (even jaccard-0 ones) merges — pre-r16-review the local replay's
    // denom != 0 short-circuit dropped the empty∩empty union the
    // distributed `0.0 >= 0.0` filter kept
    for (minJ <- Seq(0.0, 0.5, 0.8, 1.0)) {
      val st = stateOf(corpus)
      val (local, localNotes) = Trace.capture(
        Dedup.dropNearDupLosersBounded(corpus, st, minJ)
          .select("doc_id").collect().map(_.getLong(0)).toSet)
      assert(localNotes.last(Dedup.NearDupLocal).contains(true),
        s"bounded corpus must take the local path (minJ=$minJ)")
      val (dist, distNotes) = Trace.capture(
        Dedup.dropNearDupLosersBounded(corpus, st, minJ,
          maxRows = 1) // force the distributed fallback
          .select("doc_id").collect().map(_.getLong(0)).toSet)
      assert(distNotes.last(Dedup.NearDupLocal).contains(false),
        "maxRows=1 must force the distributed path")
      assert(local == dist, s"survivor sets diverge at minJaccard=$minJ: " +
        s"local=$local distributed=$dist")
      if (minJ > 0.0)
        assert(Set(6L, 7L, 8L).subsetOf(local),
          s"distinct short docs must ALL survive (single-shingle backoff, " +
            s"jaccard 0 pairwise) at minJaccard=$minJ: $local")
    }
  }

  test("forced-distributed ceiling (maxRows 0) holds even on an empty state") {
    // an empty state satisfies n <= 0 && mass <= 0, so without the
    // explicit maxRows > 0 guard the FORCED-distributed contract the
    // _dist twin gates rely on would silently flip local and trip
    // their require() on an empty-but-valid input
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val st = corpus.select(col("doc_id").as("id"),
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("arr"))
      .withColumn("sig", Dedup.minhashSignature(col("arr"), 32))
    val (out, notes) = Trace.capture(
      Dedup.dropNearDupLosersBounded(corpus, st, 1.0, maxRows = 0))
    assert(notes.last(Dedup.NearDupLocal).contains(false),
      "ceiling 0 must force the distributed path even on an empty state")
    assert(out.count() == 0)
  }

  test("verifyJaccardFromHashedShingles: empty shingle sets are jaccard 0, " +
      "never NaN (cross-path divergence guard)") {
    // CALLER-provided state can carry genuinely empty arrays (the
    // built-in WordShingles never emits one — it backs off to the
    // whole text). Unguarded, 0/0 = NaN and Spark's NaN-greatest
    // ordering makes `jaccard >= t` KEEP the pair while the
    // driver-local Java replay drops it — survivor sets would then
    // differ across the bounded-path ceiling (advisor r15, medium).
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val hashed = Seq(
      (1L, Seq.empty[Long]), (2L, Seq.empty[Long]), (3L, Seq(42L, 43L)))
      .toDF("id", "arr")
    val j = Dedup.verifyJaccardFromHashedShingles(pairs, hashed)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 0.0, s"empty∩empty must be 0.0, got ${j((1L, 2L))}")
    assert(!j.values.exists(_.isNaN), s"NaN leaked from the verify: $j")
    assert(Dedup.verifyJaccardFromHashedShingles(pairs, hashed)
      .filter(col("jaccard") >= 0.5).count() == 0,
      "no empty-set pair may pass a threshold filter")
  }

  test("dropClusterLosers fails fast on a fractional id column " +
      "(InSet long cast would truncate)") {
    // the pushed loser filter casts the id column to long for the
    // single-InSet probe; on a double id 5.9 would match 5 and the
    // NEGATED filter would silently drop extra rows — the boundary
    // must reject it loudly instead (advisor r16, low)
    val df = Seq((1.0, "a"), (2.5, "b"), (2.9, "c"))
      .toDF("doc_id", "text")
    val pairs = Seq((2L, 3L)).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.dropClusterLosers(df, pairs)
    }
    assert(ex.getMessage.contains("must be integral"))
    // integer ids keep working (the cast widens, no truncation)
    val intDf = Seq((1, "a"), (2, "b"), (3, "c")).toDF("doc_id", "text")
    val kept = Dedup.dropClusterLosers(intDf, pairs)
      .select("doc_id").collect().map(_.getInt(0)).toSet
    assert(kept == Set(1, 2), s"int-id loser drop broken: $kept")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.llm.Similarity

/** Cosine similarity search: exact values, top-k ordering, LSH recall on
  * identical/near-identical vectors.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // v0 ∥ v1 (identical), v2 orthogonal-ish, v3 = -v0
  private lazy val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 2.0f, 0.0f)),
    (1L, Seq(1.0f, 0.0f, 2.0f, 0.0f)),
    (2L, Seq(0.0f, 3.0f, 0.0f, 1.0f)),
    (3L, Seq(-1.0f, 0.0f, -2.0f, 0.0f)),
    (4L, Seq(1.0f, 1.0f, 1.0f, 1.0f)))
    .toDF("vec_id", "embedding")

  test("bruteForceTopK: identical vector ranks first with cos 1.0") {
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 4)
      .orderBy("rank").collect()
    assert(top.length == 4)
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(top(0).getAs[Double]("cos_sim") == 1.0)
    assert(top(3).getAs[Long]("neighbor_id") == 3L) // anti-parallel last
    assert(top(3).getAs[Double]("cos_sim") == -1.0)
  }

  test("cosine matches hand computation") {
    // cos(v0, v4) = (1+0+2+0) / (sqrt(5)*2) = 3 / (2*sqrt(5))
    val expected = 3.0 / (2.0 * math.sqrt(5.0))
    val got = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 4)
      .filter(col("neighbor_id") === 4L).head().getAs[Double]("cos_sim")
    assert(math.abs(got - expected) < 1e-6)
  }

  test("ivfTopK: identical vectors share a cell, found at rank 1") {
    // an exact duplicate is assigned the same nearest centroid as its
    // twin, so nProbe=1 already guarantees the match
    val r = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0), k = 2,
      nCentroids = 3, nProbe = 1, lloydIters = 1)
      .orderBy("rank").collect()
    assert(r.nonEmpty)
    assert(r(0).getAs[Long]("neighbor_id") == 1L)
    assert(r(0).getAs[Double]("cos_sim") == 1.0)
  }

  test("ivfTopK degrades gracefully on tiny/empty corpora") {
    // 5 vectors < nCentroids=16: fewer cells, clamped probes, no throw
    val r = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0), k = 2,
      nCentroids = 16, nProbe = 4)
      .orderBy("rank").collect()
    assert(r.nonEmpty && r(0).getAs[Long]("neighbor_id") == 1L)
    // empty / all-zero corpus: empty result, not an exception
    val zero = Seq((7L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.ivfTopK(zero, zero, k = 1).isEmpty)
    // and the empty-edge schema carries the CALLER's id type (string
    // here) — the populated path does, so a per-shard union must not
    // hit an AnalysisException only on the empty shard
    val zeroStr = Seq(("a", Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val emptyR = Similarity.ivfTopK(zeroStr, zeroStr, k = 1)
    assert(emptyR.isEmpty)
    assert(emptyR.schema("query_id").dataType ==
      org.apache.spark.sql.types.StringType &&
      emptyR.schema("neighbor_id").dataType ==
        org.apache.spark.sql.types.StringType,
      s"empty-edge schema must keep the caller's id type: ${emptyR.schema}")
    val emptyP = graft.llm.Similarity.semanticDupPairsTrained(zeroStr)
    assert(emptyP.isEmpty && emptyP.schema("id_a").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("ivfPqSearchIndex handles non-bigint ids (pushdown gated on type)") {
    // int-typed vec_id: the candidate-pushdown path materializes Longs,
    // so it must step aside (lazy shape) instead of ClassCastException
    val intVecs = Seq(
      (0, Seq(1.0f, 0.0f, 2.0f, 0.0f)),
      (1, Seq(1.0f, 0.0f, 2.0f, 0.0f)),
      (2, Seq(0.0f, 3.0f, 0.0f, 1.0f)),
      (3, Seq(-1.0f, 0.0f, -2.0f, 0.0f)),
      (4, Seq(1.0f, 1.0f, 1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(intVecs, nCentroids = 2,
      lloydIters = 1)
    val cbs = Similarity.trainPqCodebooks(intVecs, numSub = 2,
      codesPerSub = 4, lloydIters = 1)
    val idx = tmpDir("wh-ivfpq-int") + "/index"
    Similarity.ivfPqWriteIndex(intVecs, graft.llm.IvfQuantizer(cents),
      cbs, idx)
    val res = Similarity.ivfPqSearchIndex(spark, idx,
      intVecs.filter(col("vec_id") === 0), k = 1,
      graft.llm.IvfQuantizer(cents), cbs, nProbe = 2, rerank = 2)
      .collect()
    assert(res.nonEmpty && res(0).getAs[Int]("neighbor_id") == 1,
      s"twin not found over int ids: ${res.toSeq}")
  }

  test("index schema memo: overwrite at a reused path invalidates; " +
      "reads see the new layout") {
    // the memo (r18/r19) assumes single-session writers: the in-session
    // overwrite writers must drop the cached schema so a relayout at a
    // reused path is never read with stale columns (silent nulls)
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 2.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 2.0f, 0.0f)),
      (2L, Seq(0.0f, 3.0f, 0.0f, 1.0f)),
      (3L, Seq(1.0f, 1.0f, 1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val q = graft.llm.IvfQuantizer(
      Similarity.trainCentroids(vecs, nCentroids = 2, lloydIters = 1))
    val idx = tmpDir("wh-memo-inval") + "/index"
    Similarity.ivfWriteIndex(vecs, q, idx, "vec_id", "embedding")
    // populate the memo via a search read
    val hit = Similarity.ivfSearchIndex(spark, idx,
      vecs.filter(col("vec_id") === 0), k = 1, q, nProbe = 2,
      idCol = "vec_id", vecCol = "embedding").collect()
    assert(hit.nonEmpty)
    val memoA = graft.core.Staged.pinnedSchema(idx)
    assert(memoA.isDefined, "first read must populate the memo")
    // RELAYOUT at the same path: the PQ writer adds code columns
    val cbs = Similarity.trainPqCodebooks(vecs, numSub = 2,
      codesPerSub = 4, lloydIters = 1)
    Similarity.ivfPqWriteIndex(vecs, q, cbs, idx)
    assert(graft.core.Staged.pinnedSchema(idx).isEmpty,
      "overwrite writer must invalidate the memoized schema")
    // the next read infers the NEW layout — PQ search works end-to-end
    val res = Similarity.ivfPqSearchIndex(spark, idx,
      vecs.filter(col("vec_id") === 0), k = 1, q, cbs,
      nProbe = 2, rerank = 2).collect()
    assert(res.nonEmpty && res(0).getAs[Long]("neighbor_id") == 1L,
      s"post-relayout read failed: ${res.toSeq}")
    val memoB = graft.core.Staged.pinnedSchema(idx)
    assert(memoB.isDefined && memoB != memoA,
      "re-read must memoize the new layout's schema")
  }

  test("ivfTopK recall vs brute force on real embeddings") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(e, q, k = 5))
    val ivf = pairs(Similarity.ivfTopK(e, q, k = 5,
      nCentroids = 16, nProbe = 4))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("semanticDupPairs: identical vectors share cell+sketches and pair at cos 1.0") {
    // any fixed quantizer works for the equality contract
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(-1.0, 0.0, 0.0, 0.0))
    val pairs = Similarity.semanticDupPairs(vecs, cents, minCos = 0.999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cos_sim")))
    // only the identical pair (0,1) reaches 0.999; v3 = -v0 is in the
    // opposite-sign cell AND fails the cosine verify (-1.0)
    assert(pairs.toSeq == Seq((0L, 1L, 1.0)))
  }

  test("semanticDupPairs never crosses a cell boundary (documented contract)") {
    // two colinear-ish vectors assigned to DIFFERENT cells by a
    // quantizer that splits them: near-pair at cos ~0.9998 straddling
    // the boundary is out of contract and must NOT appear
    val close = Seq(
      (0L, Seq(1.0f, 0.02f)), (1L, Seq(1.0f, -0.02f))).toDF("vec_id", "embedding")
    val splitter = Seq(Seq(1.0, 0.5), Seq(1.0, -0.5))
    val got = Similarity.semanticDupPairs(close, splitter, minCos = 0.9)
      .collect()
    assert(got.isEmpty)
    // the same pair in ONE cell is found
    val oneCell = Seq(Seq(1.0, 0.0))
    val found = Similarity.semanticDupPairs(close, oneCell, minCos = 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(found.toSeq == Seq((0L, 1L)))
  }

  test("semanticDupPairsTrained: offline-trained quantizer finds identical pairs; empty corpus degrades") {
    // train-and-dedup one-shot: the Lloyd-trained quantizer assigns
    // identical vectors to the same cell, so the equality contract holds
    // without a caller-supplied centroid set
    val pairs = Similarity.semanticDupPairsTrained(vecs, nCells = 2,
        lloydIters = 1, minCos = 0.999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cos_sim")))
    assert(pairs.toSeq == Seq((0L, 1L, 1.0)))
    // an all-zero corpus yields an empty result, not an exception
    val zeros = Seq((0L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.semanticDupPairsTrained(zeros, nCells = 2).count() == 0)
  }

  test("lshTopK finds identical vectors (same sketch in every table)") {
    val r = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 0), k = 2,
      nBits = 4, nTables = 3)
    val ids = r.select("neighbor_id").as[Long].collect().toSet
    assert(ids.contains(1L))
  }

  test("labelCentroids averages element-wise per label") {
    val df = Seq(
      (0L, Seq(1.0f, 3.0f), 0),
      (1L, Seq(3.0f, 5.0f), 0),
      (2L, Seq(10.0f, 20.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(df).collect()
      .map(r => ((r.getAs[Long]("label"), r.getAs[Long]("dim_idx")),
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("centroid_comp")))).toMap
    assert(got((0L, 0L)) == (2L, 2.0))
    assert(got((0L, 1L)) == (2L, 4.0))
    assert(got((1L, 0L)) == (1L, 10.0))
    assert(got((1L, 1L)) == (1L, 20.0))
    assert(got.size == 4)
  }

  test("cosineDupPairs reports the identical pair at cos 1.0") {
    val p = Similarity.cosineDupPairs(vecs, minCos = 0.99)
    val rows = p.collect()
    assert(rows.exists(r => r.getAs[Long]("id_a") == 0L &&
      r.getAs[Long]("id_b") == 1L && r.getAs[Double]("cos_sim") == 1.0))
    assert(!rows.exists(r => r.getAs[Long]("id_b") == 3L))
  }

  test("pqEncode: identical vectors share codes; ADC to own code is minimal") {
    val cbs = Similarity.pseudorandomPqCodebooks(
      numSub = 2, codesPerSub = 4, subDim = 2)
    val enc = Similarity.pqEncodeCorpus(vecs, cbs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc(0L) == enc(1L)) // identical vectors, identical codes
    assert(enc.values.forall(_.length == 2))
    assert(enc.values.flatten.forall(c => c >= 0 && c < 4))
    // a vector's ADC distance to its OWN code is <= to any other code
    // (each subspace picked the L2-argmin codeword)
    // encode/ADC run on the unit sphere — normalize the probe the same way
    val withAdc = vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
      .select(col("vec_id"), transform(col("v0"),
        x => x / sqrt(graft.expr.native.arrayDot(col("v0"), col("v0"))))
        .as("v"))
      .crossJoin(Similarity.pqEncodeCorpus(vecs, cbs)
        .select(col("vec_id").as("other"), col("codes")))
      .select(col("vec_id"), col("other"),
        graft.expr.native.pqAdcDist(col("v"), col("codes"), cbs).as("adc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    vecs.collect().map(_.getLong(0)).foreach { id =>
      val own = withAdc((id, id))
      withAdc.filter(_._1._1 == id).values.foreach(d => assert(own <= d + 1e-12))
    }
  }

  test("pqAdcTopK finds identical vectors at rank 1, cos 1.0") {
    val cbs = Similarity.pseudorandomPqCodebooks(
      numSub = 2, codesPerSub = 4, subDim = 2)
    val top = Similarity.pqAdcTopK(vecs, vecs.filter(col("vec_id") === 0),
      k = 4, codebooks = cbs, rerank = 4).orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(top(0).getAs[Double]("cos_sim") == 1.0)
  }

  test("pqAdcTopK recall vs brute force on real embeddings (trained codebooks)") {
    // config + floor from measured behavior (graft.PqProbe): M=16/K=32/
    // rerank=32 gives recall@5 = 0.90-0.91 at sf0.001 AND sf0.01, with
    // margin; a codebook/ADC regression below 0.7 fails loudly
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 8)
    val cbs = Similarity.trainPqCodebooks(e, numSub = 16, codesPerSub = 32,
      lloydIters = 3)
    assert(cbs.length == 16 && cbs.forall(_.length == 32) &&
      cbs.forall(_.forall(_.length == 4)))
    // trained codebooks are deterministic (seeded sample, quantized means)
    val cbs2 = Similarity.trainPqCodebooks(e, numSub = 16, codesPerSub = 32,
      lloydIters = 3)
    assert(cbs == cbs2)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(e, q, k = 5))
    val pq = pairs(Similarity.pqAdcTopK(e, q, k = 5, codebooks = cbs,
      rerank = 32))
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"PQ recall@5 = $recall")
    // compression contract: codes are M=16 small ints per 64-dim vector
    val codes = Similarity.pqEncodeCorpus(e, cbs)
    assert(codes.select(size(col("codes"))).distinct().head().getInt(0) == 16)
  }
}

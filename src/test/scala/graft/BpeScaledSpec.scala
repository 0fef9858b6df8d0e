package graft

import org.apache.spark.sql.functions._
import graft.llm.Bpe

/** Byte-equality of the scaled trainer ([[Bpe.trainScaledWords]]:
  * batched selection + incremental deltas + persisted loop state) with
  * the sequential trainer — the contract that makes batching safe to
  * ship: a 32k-merge production vocabulary must be the SAME vocabulary
  * the one-merge-per-pass loop would learn, just cheaper.
  */
class BpeScaledSpec extends SparkSpec {
  import spark.implicits._

  private def wordsDf(ws: Seq[(Seq[String], Long)]) =
    ws.toDF("syms", "freq")

  private def refOf(ws: Seq[(Seq[String], Long)], n: Int, minCount: Long) =
    Bpe.refTrainWords(ws.map { case (s, f) => (s.toArray, f) }, n, minCount)

  test("mergePairLocal matches the mergePair Catalyst expression") {
    val cases = Seq(
      Seq("a", "b", "c"), Seq("a", "a", "a"), Seq("a", "a", "a", "a"),
      Seq("a", "b", "a", "b"), Seq("x"), Seq.empty[String],
      Seq("a", "a", "b", "b"), Seq("b", "a", "b", "a", "b"))
    for ((a, b) <- Seq(("a", "b"), ("a", "a"), ("b", "a"))) {
      val viaExpr = cases.toDF("syms")
        .select(Bpe.mergePair(col("syms"), a, b).as("out"))
        .as[Seq[String]].collect().toSeq
      val viaLocal = cases.map(s => Bpe.mergePairLocal(s.toArray, a, b).toSeq)
      assert(viaExpr == viaLocal, s"pair ($a,$b)")
    }
  }

  test("refTrainWords matches the Spark sequential trainer") {
    val docs = (0 until 40)
      .map(i => s"the${i % 7} cat sat on the mat the cat").toDF("text")
    val spark2 = Bpe.train(docs, numMerges = 25, minCount = 2)
    val words = Bpe.wordFreqs(docs)
      .select(Bpe.charSymbols(col("word")).as("syms"), col("freq"))
      .as[(Seq[String], Long)].collect().toSeq
    assert(refOf(words, 25, 2L) == spark2)
  }

  test("trainScaledWords is byte-equal to sequential on natural text") {
    val docs = graft.sources.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text"))
    val collected = Bpe.wordFreqs(docs)
      .select(Bpe.charSymbols(col("word")).as("syms"), col("freq"))
      .as[(Seq[String], Long)].collect().toSeq
    val expected = refOf(collected, 160, 2L)
    val (scaled, notes) = graft.core.Trace.capture(
      Bpe.trainScaledWords(wordsDf(collected), numMerges = 160,
        minCount = 2L, batchCap = 16, viewSize = 64, checkpointEvery = 5))
    assert(scaled == expected)
    // the scale claim, measured: 160 merges must NOT cost 160 passes —
    // each pass is one count-collect + one map-only rewrite + one
    // changed-words delta agg, and batching amortizes merges per pass
    val passes = notes.last(Bpe.ScaledPasses)
    assert(passes.exists(_ <= 80),
      s"160 merges took $passes passes — batching broke")
  }

  test("trainScaledWords survives chained and colliding merges") {
    // "abc" is reachable both via (ab,c) and (a,bc): the second merge
    // creating the string must end its batch (collision guard) or the
    // later counts drift. Frequencies force the order.
    val ws = Seq(
      (Seq("a", "b"), 50L), (Seq("b", "c"), 40L),
      (Seq("ab", "c"), 30L), (Seq("a", "bc"), 20L),
      (Seq("abc", "d"), 10L), (Seq("d", "abc"), 8L),
      (Seq("a", "b", "c", "d"), 6L), (Seq("c", "b", "a"), 5L))
    val expected = refOf(ws, 12, 1L)
    val scaled = Bpe.trainScaledWords(wordsDf(ws), numMerges = 12,
      minCount = 1L, batchCap = 8, viewSize = 32)
    assert(scaled == expected)
  }

  test("trainScaledWords equals the reference across random corpora") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 6) {
      val alphabet = Seq("a", "b", "c", "d")
      val ws = (0 until 30).map { _ =>
        val len = 1 + rnd.nextInt(6)
        (Seq.fill(len)(alphabet(rnd.nextInt(alphabet.size))),
          1L + rnd.nextInt(9))
      }
      val expected = refOf(ws, 20, 1L)
      val scaled = Bpe.trainScaledWords(wordsDf(ws), numMerges = 20,
        minCount = 1L, batchCap = 6, viewSize = 24)
      assert(scaled == expected, s"trial $trial")
    }
  }

  test("optimistic batching on 2-symbol words equals the static ranking") {
    // every word is exactly one pair, so merges can't interact: the
    // sequential order IS the one-pass (n DESC, left, right) ranking,
    // and the optimistic batch path should take it in few passes
    val rnd = new scala.util.Random(11)
    val ws = (0 until 400).map { i =>
      (Seq(s"s${i % 37}", s"t${i % 23}"), 1L + rnd.nextInt(50))
    }
    val agg = ws.groupBy(_._1).map { case (s, g) => (s, g.map(_._2).sum) }.toSeq
    val expected = agg.sortBy { case (s, n) => (-n, s(0), s(1)) }
      .zipWithIndex
      .map { case ((s, n), i) => Bpe.Merge(i, s(0), s(1), n) }
    val scaled = Bpe.trainScaledWords(wordsDf(agg), numMerges = agg.length,
      minCount = 1L, batchCap = 128, viewSize = 1024)
    assert(scaled == expected)
    assert(scaled == refOf(agg, agg.length, 1L))
  }

  test("training resumes from persisted state to the identical table") {
    val docs = (0 until 60)
      .map(i => s"re${i % 5} sume train re${i % 3} state").toDF("text")
    val words = Bpe.wordFreqs(docs)
      .select(Bpe.charSymbols(col("word")).as("syms"), col("freq"))
    val full = Bpe.trainScaledWords(words, numMerges = 24, minCount = 1L,
      batchCap = 4, viewSize = 16)
    val dir = tmpDir("bpe-state")
    val half = Bpe.trainScaledWords(words, numMerges = 12, minCount = 1L,
      batchCap = 4, viewSize = 16, stateDir = Some(dir), persistEvery = 2)
    assert(half == full.take(12))
    // a fresh session picking up the manifest continues byte-equal
    val resumed = Bpe.resumeScaledWords(spark, dir, numMerges = 24,
      minCount = 1L, batchCap = 4, viewSize = 16)
    assert(resumed == full)
  }

  test("loadState skips a pass whose dirs exist but whose commit is missing") {
    val docs = (0 until 40).map(i => s"lo${i % 4} ad st${i % 3} ate")
      .toDF("text")
    val words = Bpe.wordFreqs(docs)
      .select(Bpe.charSymbols(col("word")).as("syms"), col("freq"))
    val dir = tmpDir("bpe-uncommitted")
    val merges = Bpe.trainScaledWords(words, numMerges = 8, minCount = 1L,
      batchCap = 2, viewSize = 16, stateDir = Some(dir), persistEvery = 1)
    val tip = Bpe.loadState(spark, dir)
    assert(tip.merges == merges && tip.pass > 0)
    // a crash after a later pass wrote its dirs but before its commit
    val later = s"$dir/pass_${tip.pass + 1}"
    Seq("words", "counts", "symbols", "merges").foreach(d =>
      spark.read.parquet(s"$dir/pass_${tip.pass}/$d").limit(1)
        .write.parquet(s"$later/$d"))
    val loaded = Bpe.loadState(spark, dir)
    assert(loaded.pass == tip.pass)
    assert(loaded.merges == merges)
    // resuming from there repeats the committed tip, not the torn pass
    assert(Bpe.resumeScaledWords(spark, dir, numMerges = 8, minCount = 1L,
      batchCap = 2, viewSize = 16) == merges)
  }
}

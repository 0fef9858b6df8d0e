package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Trace
import graft.llm.{Dedup, IncrementalDedup}
import graft.sources.Warehouse

/** Incremental (delta) dedup against the persisted signature index: the
  * accumulated survivor set must equal the whole-corpus rerun (monotone
  * ids, minJaccard = 1.0), later deliveries must never read or rewrite
  * earlier deliveries' state (generations are immutable, text is never
  * stored), and the monotone-id precondition is enforced.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  private val d1 = docsDf(
    1L -> "alpha beta gamma delta epsilon",
    2L -> "alpha beta gamma delta epsilon", // exact dup of 1: rejected in-delivery
    3L -> "one two three four five",
    4L -> "unique text number four here",
    5L -> "totally different content words")

  private val d2 = docsDf(
    11L -> "alpha beta gamma delta epsilon", // dup of index survivor 1
    12L -> "fresh new document text here",
    13L -> "fresh new document text here", // in-delivery dup of 12
    14L -> "one two three four five", // dup of index survivor 3
    15L -> "another brand new doc entirely")

  private def ids(df: DataFrame, c: String = "doc_id"): Seq[Long] =
    df.select(col(c).cast("long")).as[Long].collect().sorted.toSeq

  test("accumulated survivors equal the whole-corpus rerun") {
    val root = tmpDir("incr-dedup-idx")
    val a1 = IncrementalDedup.addDelivery(d1, root, minJaccard = 1.0)
    assert(ids(a1) == Seq(1L, 3L, 4L, 5L),
      "delivery 1: exact dup 2 rejected in-delivery, min id kept")
    val a2 = IncrementalDedup.addDelivery(d2, root, minJaccard = 1.0)
    assert(ids(a2) == Seq(12L, 15L),
      "delivery 2: 11/14 rejected against the index, 13 in-delivery")
    val accumulated = ids(IncrementalDedup.indexIds(spark, root), "id")
    val rerun = ids(Dedup.dropNearDuplicates(
      d1.unionByName(d2), minJaccard = 1.0))
    assert(accumulated == rerun,
      "incremental accumulation must equal whole-corpus dropNearDuplicates")
    assert(accumulated == Seq(1L, 3L, 4L, 5L, 12L, 15L))
    // admitted rows keep all original delivery columns
    assert(a2.columns.toSeq == Seq("doc_id", "text"))
  }

  test("index stores signatures + hashed shingles, never text") {
    val root = tmpDir("incr-dedup-schema")
    IncrementalDedup.addDelivery(d1, root)
    val idx = Warehouse.deltaRead(spark, root)
    assert(idx.columns.toSet == Set("id", "sig", "sharr"),
      "rejecting a later twin must be possible without delivery-1 text")
    assert(!idx.schema.fields.exists(_.dataType ==
      org.apache.spark.sql.types.StringType))
  }

  test("a delivery appends one immutable generation; earlier ones untouched") {
    val root = tmpDir("incr-dedup-gens")
    IncrementalDedup.addDelivery(d1, root)
    assert(Warehouse.deltaVersions(spark, root) == Seq(1L))
    val gen1 = Warehouse.committedGenerations(spark, root).head
    def gen1Files(): Map[String, Long] =
      new java.io.File(s"$root/$gen1").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = gen1Files()
    IncrementalDedup.addDelivery(d2, root)
    assert(Warehouse.deltaVersions(spark, root) == Seq(1L, 2L),
      "append cost ∝ delivery: exactly one new generation")
    assert(gen1Files() == before,
      "delivery 2 must not rewrite delivery 1's generation")
    // the new generation holds ONLY delivery 2's survivors
    val gen2 = Warehouse.committedGenerations(spark, root).last
    assert(gen2 != gen1)
    assert(ids(spark.read.parquet(s"$root/$gen2"), "id") == Seq(12L, 15L))
  }

  test("monotone-id precondition is enforced (and bypassable)") {
    val root = tmpDir("incr-dedup-mono")
    IncrementalDedup.addDelivery(d2, root) // ids 11..15 admitted first
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.addDelivery(d1, root) // ids 1..5 arrive late
    }
    assert(ex.getMessage.contains("monotone") ||
      ex.getMessage.contains("exceed index max id"))
    // index-wins semantics when explicitly requested: late twins of
    // already-admitted content are rejected even though their ids are
    // smaller (1 vs 11, 3 vs 14) — the documented divergence from the
    // whole-corpus rerun — while genuinely fresh late docs are admitted
    val late = IncrementalDedup.addDelivery(d1, root,
      requireMonotoneIds = false)
    assert(ids(late) == Seq(4L, 5L))
    assert(ids(IncrementalDedup.indexIds(spark, root), "id") ==
      Seq(4L, 5L, 11L, 12L, 14L, 15L))
  }

  test("tag replay heals a bound lost to a crash after the commit") {
    // the r12 advisory's crash window: the generation COMMITS, then the
    // process dies before the `_maxid` ratchet is written. Without the
    // replay-path ratchet, the stale bound would let the next delivery
    // pass the monotone guard while overlapping already-admitted ids —
    // a silent break of the whole-corpus-rerun equivalence.
    val root = tmpDir("incr-dedup-crash")
    IncrementalDedup.addDelivery(d1, root, deliveryTag = Some("t1"))
    IncrementalDedup.addDelivery(d2, root, deliveryTag = Some("t2"))
    // simulate the crash: roll `_maxid` back to delivery-1's max (the
    // value a crash between t2's commit and its bound write leaves)
    val p = new org.apache.hadoop.fs.Path(root, "_maxid")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write("5".getBytes("UTF-8")); out.close()
    // recovery replays the last micro-batch with the same tag: the
    // committed-tag guard skips re-admission (exactly-once) AND
    // re-ratchets the bound from the replayed delivery
    val (replayed, notes) = Trace.capture(IncrementalDedup.addDelivery(d2,
      root, deliveryTag = Some("t2")))
    assert(replayed.count() == 0, "replayed tag must admit nothing")
    assert(!notes.last(IncrementalDedup.AdmissionLocal).contains(true),
      "a replayed trigger ran no admission — it must not report the " +
        "local path (a forced-distributed caller's require would trip)")
    val healed = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
      .mkString.trim.toLong
    assert(healed == 15L, s"bound not re-ratcheted on replay: $healed")
    // the healed bound catches the overlap the stale bound would miss
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.addDelivery(
        docsDf(13L -> "overlapping id thirteen"), root)
    }
    assert(ex.getMessage.contains("exceed index max id 15"))
  }

  test("admissions leave no cache entries behind (both paths, incl. rejects)") {
    // the delivery state persists for the candidate/verify references;
    // every exit — local success, distributed success, and the
    // caller-recoverable monotone rejection — must release it. Under a
    // streaming sink a leaked entry per trigger is unbounded executor
    // memory growth (r16 review: the distributed path double-cached the
    // sigView projection through candidate generation's auto-persist).
    spark.catalog.clearCache()
    val root = tmpDir("incr-dedup-nocache")
    IncrementalDedup.addDelivery(d1, root, minJaccard = 1.0)
    IncrementalDedup.addDelivery(d2, root, minJaccard = 1.0,
      driverAdmissionMaxBytes = 0L)
    intercept[IllegalArgumentException] {
      IncrementalDedup.addDelivery(
        docsDf(2L -> "overlapping id two"), root, minJaccard = 1.0)
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"admission leaked cache entries: " +
        spark.sparkContext.getPersistentRDDs.values.map(_.name).toSeq)
  }

  test("addDelivery fails fast on a fractional id column") {
    // admission ids flow into getLong collects and NEGATED inLongSet
    // loser filters: a double id would truncate through the long cast
    // (5.9 matches 5) and silently drop extra rows — the boundary must
    // reject it loudly (advisor r16, low)
    val root = tmpDir("incr-dedup-fracid")
    val frac = Seq((1.5, "some text here"), (2.0, "other text there"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.addDelivery(frac, root)
    }
    assert(ex.getMessage.contains("must be integral"))
  }

  test("an empty delivery resets the admission-path flag") {
    // the empty-delivery early return runs NO admission; it must not
    // report the local path, or a forced-distributed gate's require
    // would crash on an empty-but-valid trigger
    val root = tmpDir("incr-dedup-empty")
    val (_, first) = Trace.capture(
      IncrementalDedup.addDelivery(d1, root, minJaccard = 1.0))
    assert(first.last(IncrementalDedup.AdmissionLocal).contains(true),
      "bounded delivery should have taken the local path")
    val (out, notes) = Trace.capture(
      IncrementalDedup.addDelivery(d1.limit(0), root, minJaccard = 1.0))
    assert(out.count() == 0)
    assert(!notes.last(IncrementalDedup.AdmissionLocal).contains(true),
      "empty delivery must not report the local path")
  }

  test("driver-local admission ≡ distributed admission (both layouts, " +
      "fractional thresholds)") {
    // a corpus whose sliding token windows produce near-dup pairs across
    // the whole Jaccard spectrum — including values AT the est/jaccard
    // rounding boundaries — plus exact twins and fresh docs, delivered
    // in two monotone waves. The driver-local path must admit exactly
    // the same ids as the distributed join pipeline, per delivery and
    // accumulated, for both index layouts at every threshold.
    val vocab = ('a' to 'z').map(c => s"tok$c")
    def window(i: Int, n: Int): String =
      (0 until n).map(j => vocab((i + j) % vocab.length)).mkString(" ")
    // sub-shingleN-token docs (31/32 and 141/142): WordShingles backs
    // off to ONE whole-text shingle below the shingle width, so short
    // docs dedup by exact-text equality — 141 (byte-identical to index
    // doc 31) must be REJECTED on both paths, while the distinct short
    // docs 31/32/142 all survive. Pins the backoff semantics across
    // the delivery/index seam on both admission paths.
    val wave1 = docsDf(((1L to 30L).map(i =>
      i -> window(i.toInt, 6 + (i % 5).toInt)) ++
      Seq(31L -> "tiny one", 32L -> "ok")): _*)
    val wave2 = docsDf(((101L to 140L).map { i =>
      val base = (i - 100).toInt
      val text =
        if (i % 4 == 0) window(base, 6 + (base % 5)) // exact twin of wave1
        else if (i % 4 == 1) window(base + 1, 6 + (base % 5)) // shifted near-dup
        else if (i % 4 == 2) window(base, 7 + (base % 5)) // extended near-dup
        else s"fresh ${i} entirely new content piece" // fresh
      i -> text
    } ++ Seq(141L -> "tiny one", 142L -> "wee")): _*)
    for (minJ <- Seq(0.5, 0.8, 1.0); banded <- Seq(false, true)) {
      def layout(): IncrementalDedup.IndexLayout =
        if (banded) graft.llm.BandedIndex() else IncrementalDedup.FlatIndex
      val rootL = tmpDir(s"adm-local-$minJ-$banded")
      val rootD = tmpDir(s"adm-dist-$minJ-$banded")
      val (l1, localNotes) = Trace.capture(ids(IncrementalDedup.addDelivery(
        wave1, rootL, minJaccard = minJ, layout = layout())))
      assert(localNotes.last(IncrementalDedup.AdmissionLocal).contains(true),
        "bounded wave must take the driver-local path")
      val (d1, distNotes) = Trace.capture(ids(IncrementalDedup.addDelivery(
        wave1, rootD, minJaccard = minJ, layout = layout(),
        driverAdmissionMaxBytes = 0L)))
      assert(distNotes.last(IncrementalDedup.AdmissionLocal).contains(false),
        "zero ceiling must force the distributed path")
      assert(l1 == d1, s"wave-1 admission diverged (minJ=$minJ banded=$banded)")
      val l2 = ids(IncrementalDedup.addDelivery(wave2, rootL,
        minJaccard = minJ, layout = layout()))
      val d2x = ids(IncrementalDedup.addDelivery(wave2, rootD,
        minJaccard = minJ, layout = layout(),
        driverAdmissionMaxBytes = 0L))
      assert(l2 == d2x, s"wave-2 admission diverged (minJ=$minJ banded=$banded)")
      assert(l2.contains(142L) && !l2.contains(141L),
        s"short-doc backoff: fresh 142 admitted, exact-twin 141 rejected " +
          s"(minJ=$minJ banded=$banded): $l2")
      val accL = ids(layout().readState(spark, rootL).select("id"), "id")
      val accD = ids(layout().readState(spark, rootD).select("id"), "id")
      assert(accL == accD && accL.nonEmpty,
        s"accumulated index diverged (minJ=$minJ banded=$banded)")
      assert(Seq(31L, 32L, 142L).forall(accL.contains) && !accL.contains(141L),
        s"short-doc survivors wrong in the index (minJ=$minJ banded=$banded): $accL")
    }
  }
}

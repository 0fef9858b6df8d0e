package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Trace
import graft.llm.{BandedIndex, IncrementalDedup}
import graft.sources.Warehouse

/** Band-partitioned signature index: identical admission semantics to
  * the flat layout (the layout seam must be invisible to results), a
  * small delivery's candidate lookup must PRUNE the bands scan to the
  * partitions its own keys touch (the ∝-delivery streaming operating
  * point), an over-cap delivery must fall back to the full scan, and a
  * crash between the state and bands commits must self-heal.
  */
class BandedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(ids: Range): DataFrame =
    ids.map(i => (i.toLong,
      s"base$i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      .toDF("doc_id", "text")

  private def ids(df: DataFrame, c: String = "doc_id"): Seq[Long] =
    df.select(col(c).cast("long")).as[Long].collect().sorted.toSeq

  private def twin(of: DataFrame, offset: Long): DataFrame =
    of.select((col("doc_id") + offset).as("doc_id"), col("text"))

  test("banded layout admits exactly what the flat layout admits") {
    val d1 = corpus(0 until 120).union(twin(corpus(0 until 10), 500L))
    val d2 = corpus(1000 until 1060).union(twin(corpus(40 until 60), 2000L))
    val flatRoot = tmpDir("flat-idx")
    val bandRoot = tmpDir("band-idx")
    val layout = BandedIndex(numBuckets = 32)
    IncrementalDedup.addDelivery(d1, flatRoot, minJaccard = 1.0)
    IncrementalDedup.addDelivery(d2, flatRoot, minJaccard = 1.0)
    IncrementalDedup.addDelivery(d1, bandRoot, minJaccard = 1.0,
      layout = layout)
    val a2 = IncrementalDedup.addDelivery(d2, bandRoot, minJaccard = 1.0,
      layout = layout)
    assert(ids(IncrementalDedup.indexIds(spark, flatRoot), "id") ==
      ids(layout.indexIds(spark, bandRoot), "id"),
      "accumulated survivor sets must be layout-invariant")
    // delivery-2 twins of index survivors 40-59 rejected; fresh admitted
    assert(ids(a2) == (1000L until 1060L),
      "delivery-2 admission must reject index dups under the banded layout")
  }

  test("small delivery prunes the bands scan to its own partitions") {
    // minBucketRows = 1 forces the full 32-bucket fan-out at spec scale
    // (the adaptive sizing would write one bucket for 300 docs)
    val layout = BandedIndex(numBuckets = 32, minBucketRows = 1L)
    val root = tmpDir("band-prune")
    IncrementalDedup.addDelivery(corpus(0 until 300), root,
      minJaccard = 1.0, layout = layout)
    // 4 docs × 8 bands = ≤32 band keys → ≤32 of ~256 (band, bkt) dirs
    val small = corpus(5000 until 5002)
      .union(twin(corpus(7 until 9), 9000L)) // dups of survivors 7, 8
    val (admitted, notes) = Trace.audit(IncrementalDedup.addDelivery(small,
      root, minJaccard = 1.0, layout = layout))
    assert(notes.last(BandedIndex.Pruned).contains(true),
      "under-cap delivery must take the pruned path")
    val (scanned, total) =
      notes.last(BandedIndex.Partitions).getOrElse((-1, -1))
    assert(scanned >= 0 && scanned <= 32,
      s"scanned $scanned dirs; a 4-doc delivery holds at most 32 band keys")
    assert(total >= 200,
      s"index should spread over most of the 256 dirs, saw $total")
    assert(ids(admitted) == Seq(5000L, 5001L),
      "pruned lookup must still see the colliding index rows")
    // sizing is per generation: 300 docs fan out to all 32 buckets,
    // the 2-survivor micro generation only to 2 (committedGenerations
    // lists in COMMIT order — generation names are writer-unique, not
    // lexicographically ordered)
    val gens = Warehouse.committedGenerations(spark, s"$root/bands")
    assert(gens.head.endsWith(".b32") && gens.last.endsWith(".b2"),
      s"per-generation sizing must track each generation's rows ($gens)")
  }

  test("compaction folds both sub-logs; admissions and pruned lookups unchanged") {
    val d1 = corpus(0 until 150)
    val d2 = corpus(1000 until 1100)
    val micro = corpus(5000 until 5002)
      .union(twin(corpus(3 until 5), 9000L)) // dups of survivors 3, 4
    def run(compactBetween: Boolean): (Seq[Long], Seq[Long], Int) = {
      val layout = BandedIndex(numBuckets = 32, minBucketRows = 1L)
      val root = tmpDir(s"band-compact-$compactBetween")
      IncrementalDedup.addDelivery(d1, root, minJaccard = 1.0,
        layout = layout, deliveryTag = Some("t1"))
      IncrementalDedup.addDelivery(d2, root, minJaccard = 1.0,
        layout = layout, deliveryTag = Some("t2"))
      if (compactBetween) {
        layout.compact(spark, root)
        // replay guard must survive the fold: a replayed tag is a no-op
        assert(IncrementalDedup.addDelivery(d1, root, minJaccard = 1.0,
          layout = layout, deliveryTag = Some("t1")).count() == 0)
        // both sub-logs folded to one live generation; the snapshot's
        // bands twin re-fans-out under its own (bigger) bucket count
        assert(Warehouse.committedGenerations(spark, s"$root/state").size == 1)
        val bandGens = Warehouse.committedGenerations(spark, s"$root/bands")
        assert(bandGens.size == 1, s"bands not folded: $bandGens")
        assert(bandGens.head.endsWith(".b32"),
          s"snapshot twin lost the adaptive fan-out: $bandGens")
      }
      val (admitted, notes) = Trace.audit(IncrementalDedup.addDelivery(
        micro, root, minJaccard = 1.0, layout = layout))
      assert(notes.last(BandedIndex.Pruned).contains(true),
        "micro lookup must stay pruned")
      (ids(admitted), ids(layout.indexIds(spark, root), "id"),
        notes.last(BandedIndex.Partitions).fold(-1)(_._1))
    }
    val (admPlain, idxPlain, scanPlain) = run(compactBetween = false)
    val (admFolded, idxFolded, scanFolded) = run(compactBetween = true)
    assert(admPlain == Seq(5000L, 5001L) && admFolded == admPlain,
      "compaction changed an admission")
    assert(idxPlain == idxFolded, "compaction changed the survivor set")
    // the fold's scan win: the pruned lookup pays <= keys dirs PER LIVE
    // GENERATION (4 docs x 8 bands = 32 keys), so two generations cost
    // up to 64 and the folded single generation at most 32 — compaction
    // halves the per-trigger directory fan-out here
    assert(scanPlain > 32 && scanPlain <= 64,
      s"expected the 2-generation fan-out, scanned $scanPlain")
    assert(scanFolded <= 32 && scanFolded < scanPlain,
      s"fold did not shrink the pruned scan: $scanFolded vs $scanPlain")
  }

  test("adaptive sizing keeps tiny generations at one bucket per band") {
    val layout = BandedIndex() // production defaults: minBucketRows 64k
    val root = tmpDir("band-adaptive")
    IncrementalDedup.addDelivery(corpus(0 until 50), root,
      minJaccard = 1.0, layout = layout)
    val gens = Warehouse.committedGenerations(spark, s"$root/bands")
    assert(gens.nonEmpty && gens.forall(_.endsWith(".b1")),
      s"50-doc generation must not fan out (saw $gens)")
    // 8 band dirs, one file each — file count tracks data, not config
    val files = new java.io.File(s"$root/bands/${gens.head}")
      .listFiles().filter(_.isDirectory)
    assert(files.length == 8, s"expected 8 band dirs, saw ${files.length}")
  }

  test("direct-path pruned lookup equals the filtered full read, " +
      "including keys with no (band, bkt) dir") {
    // r19: pruned lookups construct the needed band=/bkt= paths
    // directly (partition DISCOVERY of the whole index was the one
    // per-trigger cost still ∝ index size). The directly-read side
    // must return exactly what a filtered full-index read returns —
    // also when some delivery keys hash to directories no index row
    // ever populated (those dirs don't exist and must contribute
    // nothing, not error).
    val layout = BandedIndex(numBuckets = 32, minBucketRows = 1L)
    val root = tmpDir("band-direct")
    IncrementalDedup.addDelivery(corpus(0 until 300), root,
      minJaccard = 1.0, layout = layout)
    // 6 probe docs: 2 dup twins of survivors (keys exist), 4 fresh
    // (most of their 32 band keys hash to absent dirs)
    val probe = corpus(5000 until 5004).union(twin(corpus(3 until 5), 9000L))
    val keys = IncrementalDedup.state(probe)
      .select(col("id"),
        explode(graft.llm.Dedup.bandKeys(col("sig"), 8, 4)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bh").as("bh"))
      .persist()
    keys.count()
    val (side, notes) = Trace.capture(
      layout.candidateSide(spark, root, keys, 8, 4))
    val direct = side.collect().map(_.toString).sorted.toSeq
    assert(notes.last(BandedIndex.Pruned).contains(true))
    // reference: whole bands table, joined on the same key set
    val allBands = Warehouse.deltaRead(spark, s"$root/bands")
      .select(col("id").as("id_a"), col("band").cast("int").as("band"),
        col("bh"))
    val want = allBands.join(keys.select(col("band"), col("bh")).distinct(),
        Seq("band", "bh"))
      .select(col("id_a"), col("band"), col("bh"))
      .collect().map(_.toString).sorted.toSeq
    // candidateSide pushes bh IN (...) but not the exact (band, bh)
    // pair — it may return same-bh rows from another band's dir only
    // if that (band, bkt) dir was requested; either way the JOIN the
    // caller performs on (band, bh) lands on `want`. Compare through
    // the same join to pin end-to-end equality.
    val got = layout.candidateSide(spark, root, keys, 8, 4)
      .join(keys.select(col("band"), col("bh")).distinct(),
        Seq("band", "bh"))
      .select(col("id_a"), col("band"), col("bh"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, "direct-path lookup diverged from full read")
    assert(direct.nonEmpty, "twin probes must surface index candidates")
    keys.unpersist()
  }

  test("over-cap delivery falls back to the full scan, same results") {
    val layout = BandedIndex(numBuckets = 32, maxPrunedKeys = 8)
    val root = tmpDir("band-fallback")
    IncrementalDedup.addDelivery(corpus(0 until 80), root,
      minJaccard = 1.0, layout = layout)
    val d2 = corpus(500 until 520).union(twin(corpus(3 until 5), 9000L))
    val (admitted, notes) = Trace.capture(IncrementalDedup.addDelivery(d2,
      root, minJaccard = 1.0, layout = layout))
    assert(notes.last(BandedIndex.Pruned).contains(false),
      "22 docs × 8 bands ≫ cap 8 must full-scan")
    assert(ids(admitted) == (500L until 520L))
  }

  test("crash between state and bands commits self-heals on next touch") {
    val layout = BandedIndex(numBuckets = 32)
    val root = tmpDir("band-heal")
    IncrementalDedup.addDelivery(corpus(0 until 60), root,
      minJaccard = 1.0, layout = layout)
    IncrementalDedup.addDelivery(corpus(100 until 140), root,
      minJaccard = 1.0, layout = layout)
    // simulate the crash: state gen-2 committed, bands twin lost
    val bandsRoot = s"$root/bands"
    val gen2 = Warehouse.committedGenerations(spark, bandsRoot).last
    val fs = new org.apache.hadoop.fs.Path(bandsRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$bandsRoot/$gen2"), true))
    val manifest = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$bandsRoot/_manifest"))
      .map(_.getPath).maxBy(_.getName)
    assert(fs.delete(manifest, false))
    // a delivery duplicating a gen-2 survivor must still be rejected:
    // the read path rebuilds the missing twin before candidate lookup
    val d3 = corpus(700 until 705).union(twin(corpus(110 until 112), 9000L))
    val admitted = IncrementalDedup.addDelivery(d3, root,
      minJaccard = 1.0, layout = layout)
    assert(ids(admitted) == (700L until 705L),
      "healed bands twin must restore gen-2 candidates")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.llm.IncrementalDedup
import graft.sources.Warehouse

/** Delta-log snapshot compaction (Warehouse.compactDeltaLog): read
  * equivalence, replay-guard survival, continued appends, vacuum. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compaction folds live generations; reads are byte-equivalent") {
    val root = tmpDir("graft-compact") + "/log"
    Warehouse.deltaAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    Warehouse.deltaAppend(Seq((3L, "c")).toDF("id", "v"), root)
    Warehouse.deltaAppendTagged(Seq((4L, "d")).toDF("id", "v"), root, "t4")
    val before = spark.read.parquet(
      Warehouse.committedGenerations(spark, root).map(g => s"$root/$g"): _*)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(Warehouse.committedGenerations(spark, root).size == 3)
    // a reader resolved before the fold keeps its generation list
    val pinned = Warehouse.deltaRead(spark, root)

    Warehouse.compactDeltaLog(spark, root)
    assert(pinned.count() == 4,
      "a pre-compaction read must still scan its retained generations")
    // one live generation, same rows
    val liveGens = Warehouse.committedGenerations(spark, root)
    assert(liveGens.size == 1 && liveGens.head.startsWith("gen-compact-"))
    val after = Warehouse.deltaRead(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before)
    // the ledger still remembers the folded tag → replay is a no-op
    assert(Warehouse.generationLedger(spark, root).contains("gen-t4"))
    assert(Warehouse.deltaAppendTagged(
      Seq((99L, "dup")).toDF("id", "v"), root, "t4").isEmpty)
    assert(Warehouse.deltaRead(spark, root).count() == 4)

    // a commit at a taken version fails and leaves the tip untouched
    val tip = Warehouse.deltaVersions(spark, root).last
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      Warehouse.manifestCommit(spark, root, tip, "gen-bogus")
    }
    assert(Warehouse.deltaVersions(spark, root).last == tip)
    assert(Warehouse.committedGenerations(spark, root) == liveGens)

    // appends continue after the snapshot; reads union snapshot + delta
    Warehouse.deltaAppend(Seq((5L, "e")).toDF("id", "v"), root)
    assert(Warehouse.committedGenerations(spark, root).size == 2)
    assert(Warehouse.deltaRead(spark, root).count() == 5)

    // vacuum removes only folded dirs; the live read is untouched
    val victims = Warehouse.vacuumDeltaLog(spark, root)
    assert(victims.nonEmpty && !victims.exists(liveGens.contains))
    victims.foreach(v => assert(!new java.io.File(s"$root/$v").exists(),
      s"vacuum must reclaim the folded generation $v"))
    assert(Warehouse.deltaRead(spark, root).count() == 5)
  }

  test("an append racing the compactor's snapshot commit is never lost") {
    val root = tmpDir("graft-compact-toctou") + "/log"
    Warehouse.deltaAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    Warehouse.deltaAppend(Seq((3L, "c")).toDF("id", "v"), root)
    // inject a concurrent TAGGED append between the compactor's
    // manifest-listing snapshot and its snapshot commit — the worst
    // possible interleave: if the compactor derived its commit version
    // from a LATER listing than the one its ledger folded (the r14
    // TOCTOU), this append's version would sit below the snapshot's, the
    // commit would succeed without a CAS collision, and the rows (and
    // the tag's replay guard) would silently vanish from reads.
    var fired = false
    Warehouse.compactDeltaLogSeamed(spark, root, () => {
      if (!fired) { // fire once: the REFOLD attempt must run unraced
        fired = true
        Warehouse.deltaAppendTagged(
          Seq((4L, "raced")).toDF("id", "v"), root, "race-tag")
      }
    })
    // the raced rows survived the fold…
    val rows = Warehouse.deltaRead(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "raced")))
    // …its replay guard survived too (even if the refold folded it) …
    assert(Warehouse.generationLedger(spark, root).contains("gen-race-tag"))
    assert(Warehouse.deltaAppendTagged(
      Seq((99L, "dup")).toDF("id", "v"), root, "race-tag").isEmpty)
    assert(Warehouse.deltaRead(spark, root).count() == 4)
    // …and the seam actually exercised the race
    assert(fired)
  }

  test("a crashed compaction attempt never wedges later compactions") {
    val root = tmpDir("graft-compact-crash") + "/log"
    Warehouse.deltaAppend(Seq((1L, "a")).toDF("id", "v"), root)
    Warehouse.deltaAppend(Seq((2L, "b")).toDF("id", "v"), root)
    // simulate a compactor that crashed between its parquet write and
    // its manifest commit: an orphan compacted directory is on disk.
    // With version-derived names every retry at the same tip would
    // recompute the same name and die on errorifexists; writer-unique
    // names make the orphan inert.
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$root/gen-compact-adeadbeef0000")
    val compacted = Warehouse.compactDeltaLog(spark, root)
    assert(!compacted.endsWith("gen-compact-adeadbeef0000"))
    assert(Warehouse.committedGenerations(spark, root).size == 1)
    assert(Warehouse.deltaRead(spark, root).count() == 2)
    // the crashed attempt surfaces as an orphan, not a live generation
    assert(Warehouse.orphanGenerations(spark, root)
      .contains("gen-compact-adeadbeef0000"))
    // and compaction keeps working after (a second fold at the new tip)
    Warehouse.deltaAppend(Seq((3L, "c")).toDF("id", "v"), root)
    Warehouse.compactDeltaLog(spark, root)
    assert(Warehouse.deltaRead(spark, root).count() == 3)
  }

  test("a crashed append attempt is invisible and surfaced as an orphan") {
    val root = tmpDir("graft-orphan") + "/log"
    Warehouse.deltaAppend(Seq((1L, "a")).toDF("id", "v"), root)
    // simulate a crash BETWEEN the parquet write and the manifest
    // commit: a writer-unique directory exists that no manifest names
    Seq((99L, "junk")).toDF("id", "v")
      .write.parquet(s"$root/gen-adeadbeef0000")
    assert(Warehouse.committedGenerations(spark, root).size == 1)
    // a later append must neither wedge on the orphan nor expose it
    Warehouse.deltaAppend(Seq((2L, "b")).toDF("id", "v"), root)
    val rows = Warehouse.deltaRead(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set(1L -> "a", 2L -> "b"))
    assert(Warehouse.orphanGenerations(spark, root) ==
      Seq("gen-adeadbeef0000"))
  }

  test("deltaAppend survives losing the commit race to a concurrent appender") {
    val root = tmpDir("graft-race") + "/log"
    val a = Warehouse.deltaAppend(Seq((1L, "a")).toDF("id", "v"), root)
    // simulate appender B winning version 2 while OUR append is between
    // resolving the tip and committing: B's generation + manifest entry
    // appear out from under us, then OUR commit targets the taken key
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$root/gen-arival0000000")
    Warehouse.manifestCommit(spark, root, 2L, "gen-arival0000000")
    Seq((3L, "c")).toDF("id", "v").write.parquet(s"$root/gen-aours00000000")
    // the CAS loop must hit the taken version 2 (injected as the stale
    // pre-race tip), retry, and land at 3 — keeping our data dir and
    // never touching B's rows (the old version-named scheme deleted
    // B's in-flight dir here)
    val vOurs = Warehouse.commitNextVersion(spark, root,
      "gen-aours00000000", staleTipPlusOne = 2L)
    assert(vOurs == 3L)
    val c = s"$root/gen-aours00000000"
    assert(c != a && !c.endsWith("gen-arival0000000"))
    assert(Warehouse.deltaVersions(spark, root) == Seq(1L, 2L, 3L))
    val rows = Warehouse.deltaRead(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(Warehouse.orphanGenerations(spark, root).isEmpty)
  }

  test("truly concurrent deltaAppends never lose a generation " +
      "(atomic manifest publish)") {
    // r17: manifestCommit publishes through AtomicFiles — plain
    // fs.create(overwrite=false) on the local filesystem is a
    // non-atomic exists-then-create, so two racers at one version
    // number could both "succeed" and silently drop a generation.
    // Six real threads race the commit CAS; every generation's rows
    // must be resolvable afterwards.
    val root = tmpDir("wh-concurrent-append") + "/log"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 6).map { i =>
      new Thread(() =>
        try {
          Warehouse.deltaAppend(
            Seq((i.toLong, s"w$i")).toDF("id", "v"), root)
          ()
        } catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent deltaAppend threw: ${errs.peek()}")
    assert(Warehouse.committedGenerations(spark, root).size == 6)
    val ids = Warehouse.deltaRead(spark, root)
      .select("id").as[Long].collect().toSet
    assert(ids == (0L until 6L).toSet,
      s"a concurrent append's generation was lost: $ids")
  }

  test("index compaction preserves admission semantics end-to-end") {
    val d = (0L until 400L).map(i =>
      (i, s"doc $i body ${"w" + i % 50} tail ${"u" + i % 7}"))
      .toDF("doc_id", "text")
    def run(compactBetween: Boolean): Set[Long] = {
      val root = tmpDir(s"graft-inc-compact-$compactBetween") + "/idx"
      IncrementalDedup.addDelivery(d.filter(col("doc_id") < 150),
        root, minJaccard = 1.0)
      IncrementalDedup.addDelivery(
        d.filter(col("doc_id") >= 150 && col("doc_id") < 300),
        root, minJaccard = 1.0)
      if (compactBetween) {
        IncrementalDedup.compactIndex(spark, root)
        assert(Warehouse.committedGenerations(spark, root).size == 1)
      }
      // delivery 3 re-delivers 250-299 (must be rejected against the
      // index — compacted or not) plus fresh 300+ rows
      IncrementalDedup.addDelivery(
        d.filter(col("doc_id") >= 300).union(
          d.filter(col("doc_id") >= 250 && col("doc_id") < 300)
            .select((col("doc_id") + 10000L).as("doc_id"), col("text"))),
        root, minJaccard = 1.0, requireMonotoneIds = false)
      IncrementalDedup.indexIds(spark, root).collect().map(_.getLong(0)).toSet
    }
    val plain = run(compactBetween = false)
    val compacted = run(compactBetween = true)
    assert(plain == compacted)
    assert(!compacted.exists(_ >= 10000L)) // re-delivered twins rejected
  }

  test("memoized ledger resolves == cold resolves across append, tagged " +
      "append, compaction and vacuum") {
    // the r19 ledger memo reuses a folded ledger while the version
    // listing is unchanged and extends it incrementally past the cached
    // prefix; every mutation below must be visible on the very next
    // resolve, and the warm answer must equal a cold (memo-cleared)
    // refold at every step
    val root = tmpDir("graft-ledger-memo") + "/log"
    def check(): Unit = {
      val warmLive = Warehouse.committedGenerations(spark, root)
      val warmHist = Warehouse.generationLedger(spark, root)
      Warehouse.ledgerMemoReset()
      assert(warmLive == Warehouse.committedGenerations(spark, root),
        "warm live list diverged from cold refold")
      assert(warmHist == Warehouse.generationLedger(spark, root),
        "warm ledger history diverged from cold refold")
    }
    Warehouse.deltaAppend(Seq((1L, "a")).toDF("id", "v"), root)
    check()
    // warm-memo incremental extension: resolve once (memo hot), append,
    // resolve again — the new generation must appear immediately
    val before = Warehouse.committedGenerations(spark, root)
    Warehouse.deltaAppend(Seq((2L, "b")).toDF("id", "v"), root)
    val after = Warehouse.committedGenerations(spark, root)
    assert(after.size == before.size + 1)
    check()
    Warehouse.deltaAppendTagged(Seq((3L, "c")).toDF("id", "v"), root, "tm1")
    check()
    Warehouse.compactDeltaLog(spark, root)
    assert(Warehouse.committedGenerations(spark, root).size == 1)
    // replay guard must keep working through the memoized history
    assert(Warehouse.deltaAppendTagged(
      Seq((9L, "z")).toDF("id", "v"), root, "tm1").isEmpty)
    check()
    Warehouse.vacuumDeltaLog(spark, root)
    check()
    val rows = Warehouse.deltaRead(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }
}

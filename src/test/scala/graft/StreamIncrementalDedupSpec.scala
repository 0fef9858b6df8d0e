package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.llm.IncrementalDedup
import graft.streaming.DocStream

/** Streaming composition of the persisted-index delta dedup
  * (DocStream.incrementalDedupSink): micro-batches dedup against
  * EVERYTHING ever admitted — not just in-flight stream state — and a
  * replayed batch cannot double-admit.
  */
class StreamIncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ids(root: String): Set[Long] =
    IncrementalDedup.indexIds(spark, root).as[Long].collect().toSet

  test("a near-dup arriving in a later trigger is rejected by the index") {
    implicit val sq = spark.sqlContext
    val root = tmpDir("st-incdedup")
    val mem = MemoryStream[(Long, String)]
    val q = DocStream.incrementalDedupSink(
      mem.toDF().toDF("doc_id", "text"),
      s"$root/index", s"$root/ckpt", minJaccard = 1.0,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      mem.addData((1L, "alpha beta gamma delta epsilon"),
        (2L, "one two three four five six"))
      q.processAllAvailable()
      assert(ids(s"$root/index") == Set(1L, 2L))
      // trigger 2: an exact near-dup of doc 1 (same shingle set) plus a
      // genuinely new doc — only the new doc may be admitted
      mem.addData((3L, "seven eight nine ten eleven"),
        (1000000001L, "alpha beta gamma delta epsilon"))
      q.processAllAvailable()
      assert(ids(s"$root/index") == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("restart with a fresh checkpoint cannot double-admit (tagged replay)") {
    val root = tmpDir("st-incdedup-replay")
    val d1 = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val first = IncrementalDedup.addDelivery(d1, s"$root/index",
      minJaccard = 1.0, deliveryTag = Some("batch-000000000"))
    assert(first.count() == 1)
    // same tag replayed (recovered foreachBatch re-runs the batch):
    // whole dedup short-circuits, index unchanged
    val replay = IncrementalDedup.addDelivery(d1, s"$root/index",
      minJaccard = 1.0, deliveryTag = Some("batch-000000000"))
    assert(replay.count() == 0)
    assert(ids(s"$root/index") == Set(1L))
    assert(graft.sources.Warehouse
      .committedGenerations(spark, s"$root/index").size == 1)
  }

  test("banded layout through the sink: per-trigger pruned lookup") {
    implicit val sq = spark.sqlContext
    val root = tmpDir("st-incdedup-banded")
    val banded = graft.llm.BandedIndex()
    // the sink admits on the stream's batch thread, where the spec's
    // captures cannot see; this delegating layout opens the capture
    // on that thread and keeps each lookup's pruned decision
    val pruned = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val layout = new IncrementalDedup.IndexLayout {
      def committedTags(s: SparkSession, r: String) = banded.committedTags(s, r)
      def hasIndex(s: SparkSession, r: String) = banded.hasIndex(s, r)
      def readState(s: SparkSession, r: String) = banded.readState(s, r)
      def candidateSide(s: SparkSession, r: String, keys: DataFrame,
          bands: Int, rowsPerBand: Int): DataFrame = {
        val (side, notes) = graft.core.Trace.capture(
          banded.candidateSide(s, r, keys, bands, rowsPerBand))
        notes.last(graft.llm.BandedIndex.Pruned).foreach(pruned.add)
        side
      }
      def append(survivors: DataFrame, r: String, bands: Int,
          rowsPerBand: Int, tag: Option[String]) =
        banded.append(survivors, r, bands, rowsPerBand, tag)
    }
    // batch bootstrap builds the index the stream will probe
    IncrementalDedup.addDelivery(
      (1L to 50L).map(i => (i, s"boot$i alpha$i beta$i gamma$i delta$i"))
        .toDF("doc_id", "text"),
      s"$root/index", minJaccard = 1.0, layout = layout)
    val mem = MemoryStream[(Long, String)]
    val q = DocStream.incrementalDedupSink(
      mem.toDF().toDF("doc_id", "text"),
      s"$root/index", s"$root/ckpt", minJaccard = 1.0,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      layout = layout)
    try {
      // a micro-batch: one dup of a bootstrap survivor, one fresh doc —
      // the tiny trigger must take the pruned lookup path
      mem.addData((1000000001L, "boot7 alpha7 beta7 gamma7 delta7"),
        (200L, "fresh words never seen before"))
      q.processAllAvailable()
      assert(!pruned.isEmpty && !pruned.contains(false),
        "micro-batch lookup must be pruned")
      assert(banded.indexIds(spark, s"$root/index")
        .as[Long].collect().toSet == (1L to 50L).toSet + 200L)
    } finally q.stop()
  }

  test("streaming and batch ingestion share one index") {
    implicit val sq = spark.sqlContext
    val root = tmpDir("st-incdedup-shared")
    // batch backfill admits doc 1
    IncrementalDedup.addDelivery(
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      s"$root/index", minJaccard = 1.0)
    // the stream then rejects its near-dup
    val mem = MemoryStream[(Long, String)]
    val q = DocStream.incrementalDedupSink(
      mem.toDF().toDF("doc_id", "text"),
      s"$root/index", s"$root/ckpt", minJaccard = 1.0,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      mem.addData((1000000001L, "alpha beta gamma delta epsilon"),
        (2L, "one two three four five six"))
      q.processAllAvailable()
      assert(ids(s"$root/index") == Set(1L, 2L))
    } finally q.stop()
  }
}

package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.core.{PlanAudit, Trace}
import graft.llm.{BandedIndex, IncrementalDedup}

/** The one diagnostic recorder: captures are thread-scoped, nest,
  * close on a throw, cost nothing when none is open, and only an
  * audit pays for plan rendering and partition listings.
  */
class TraceSpec extends SparkSpec {
  import spark.implicits._

  private val Seen = Trace.Key[Int]("trace-spec.seen")

  test("a note made on another thread does not reach this thread's capture") {
    val (_, notes) = Trace.capture {
      val t = new Thread(() => Trace.note(Seen, 1))
      t.start()
      t.join()
      Trace.note(Seen, 2)
    }
    assert(notes(Seen) == Seq(2))
  }

  test("an inner capture's notes reach every enclosing capture; " +
      "auditing holds under any enclosing audit") {
    assert(!Trace.auditing)
    val ((inner, middle), outer) = Trace.audit {
      Trace.note(Seen, 1)
      Trace.capture {
        val (_, inner) = Trace.capture {
          assert(Trace.auditing, "an enclosing audit must stay visible")
          Trace.note(Seen, 2)
        }
        Trace.note(Seen, 3)
        inner
      }
    }
    assert(inner(Seen) == Seq(2))
    assert(middle(Seen) == Seq(2, 3))
    assert(outer(Seen) == Seq(1, 2, 3))
    val (_, plain) = Trace.capture(assert(!Trace.auditing))
    assert(plain(Seen).isEmpty)
  }

  test("a body that throws leaves no capture open") {
    intercept[IllegalStateException] {
      Trace.audit {
        Trace.capture(throw new IllegalStateException("boom"))
      }
    }
    assert(!Trace.auditing)
    val evaluated = new AtomicInteger
    Trace.note(Seen, evaluated.incrementAndGet())
    assert(evaluated.get == 0, "a note after the throw must be a no-op")
  }

  test("with no capture open a note does not evaluate its value") {
    val evaluated = new AtomicInteger
    Trace.note(Seen, evaluated.incrementAndGet())
    assert(evaluated.get == 0)
    val (_, notes) = Trace.capture(Trace.note(Seen, evaluated.incrementAndGet()))
    assert(evaluated.get == 1 && notes(Seen) == Seq(1))
  }

  /** Counts optimizer runs (every plan rendered or partition count
    * taken plans its query) and Spark jobs started while running
    * `body`. The listener bus is asynchronous and FIFO, so a sentinel
    * job run afterwards marks the point by which every earlier job
    * start has been delivered (the [[StagedSpec]] idiom).
    */
  private def workDuring(body: => Unit): (Int, Int) = {
    val plans = new AtomicInteger
    val counter = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        plans.incrementAndGet(); plan
      }
    }
    val sentinel = "trace-spec-sentinel"
    val jobs = new AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == sentinel)) seen.countDown()
        else { jobs.incrementAndGet(); () }
    }
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved :+ counter
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.experimental.extraOptimizations = saved
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (plans.get, jobs.get)
    } finally {
      spark.experimental.extraOptimizations = saved
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("under capture but not audit, a banded addDelivery renders no " +
      "plan and lists no partitions") {
    val corpus = (0 until 120).map(i =>
      (i.toLong, s"base$i alpha$i beta$i gamma$i delta$i")).toDF("doc_id", "text")
    val micro = Seq((5000L, "fresh words never seen before"),
      (9007L, "base7 alpha7 beta7 gamma7 delta7")).toDF("doc_id", "text")
    val layout = BandedIndex(numBuckets = 32, minBucketRows = 1L)
    // the same micro delivery against a fresh copy of the same index,
    // once per recorder state
    def admitMicro(recorder: (=> Any) => Trace.Notes)
        : ((Int, Int), Trace.Notes) = {
      val root = tmpDir("trace-banded")
      IncrementalDedup.addDelivery(corpus, root, minJaccard = 1.0,
        layout = layout)
      var notes: Trace.Notes = null
      val work = workDuring {
        notes = recorder(IncrementalDedup.addDelivery(micro, root,
          minJaccard = 1.0, layout = layout).collect())
      }
      (work, notes)
    }
    admitMicro(body => Trace.capture(body)._2) // warm-up
    val (none, _) = admitMicro { body => body; Trace.capture(())._2 }
    val (captured, notes) = admitMicro(body => Trace.capture(body)._2)
    val (audited, auditNotes) = admitMicro(body => Trace.audit(body)._2)
    assert(captured == none,
      s"(plans, jobs) under capture $captured vs no capture $none")
    assert(notes.last(BandedIndex.Pruned).contains(true))
    assert(notes(BandedIndex.Partitions).isEmpty &&
      notes(PlanAudit.StageCounts).isEmpty)
    // the counter does see the audit's work
    assert(audited._1 > none._1,
      s"audit planned ${audited._1} queries, no capture ${none._1}")
    assert(auditNotes(BandedIndex.Partitions).nonEmpty &&
      auditNotes(PlanAudit.StageCounts).nonEmpty)
  }
}

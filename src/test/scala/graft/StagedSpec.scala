package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.core.Staged

/** The one staging primitive: build-once under concurrency, retry after
  * a failed build, nested staging, per-name isolation, and the
  * schema-pinned read that skips the footer-inference job.
  */
class StagedSpec extends SparkSpec {
  import spark.implicits._

  test("concurrent callers of one key build it once") {
    val builds = new AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => Staged.value("spec-concurrent", "/corpus/a") {
          builds.incrementAndGet()
          Thread.sleep(200)
          42
        })
      }.map(_.get())
      assert(results.forall(_ == 42))
      assert(builds.get == 1)
    } finally pool.shutdown()
  }

  test("a build that throws stores nothing; the next call rebuilds") {
    val builds = new AtomicInteger
    def stage(): Int = Staged.value("spec-retry", "/corpus/a") {
      if (builds.incrementAndGet() == 1) sys.error("transient build failure")
      7
    }
    intercept[RuntimeException](stage())
    assert(stage() == 7)
    assert(stage() == 7)
    assert(builds.get == 2)
  }

  test("a build may stage other state (nested calls)") {
    val p = Staged.path("spec-nested-outer", "/corpus/a") { outer =>
      val inner = Staged.path("spec-nested-inner", "/corpus/a") { q =>
        Staged.write(Seq(1L, 2L).toDF("id"), q)
      }
      val n = Staged.value("spec-nested-count", "/corpus/a") {
        Staged.read(spark, inner).count()
      }
      Staged.write(Seq(n).toDF("n"), outer)
    }
    assert(Staged.read(spark, p).as[Long].collect().toSeq == Seq(2L))
  }

  test("one dir under two names stages two artifacts") {
    val a = Staged.path("spec-name-a", "/corpus/b")(p =>
      Staged.write(Seq("a").toDF("v"), p))
    val b = Staged.path("spec-name-b", "/corpus/b")(p =>
      Staged.write(Seq("b").toDF("v"), p))
    assert(a != b)
    assert(Staged.read(spark, a).as[String].collect().toSeq == Seq("a"))
    assert(Staged.read(spark, b).as[String].collect().toSeq == Seq("b"))
    assert(Staged.value("spec-name-a-v", "/corpus/b")(1) == 1)
    assert(Staged.value("spec-name-b-v", "/corpus/b")(2) == 2)
    // and one name over two dirs: distinct paths, full-md5 keyed
    val c = Staged.path("spec-name-a", "/corpus/c")(p =>
      Staged.write(Seq("c").toDF("v"), p))
    assert(c != a)
  }

  test("a read after staging runs no Spark job") {
    val p = Staged.path("spec-pinned", "/corpus/a")(p =>
      Staged.write(Seq((1L, "x")).toDF("id", "s"), p))
    assert(Staged.pinnedSchema(p).isDefined)
    assert(jobsDuring { Staged.read(spark, p); () } == 0)
  }

  test("forget makes the next read infer the schema again") {
    val p = Staged.path("spec-forget", "/corpus/a")(p =>
      Staged.write(Seq((1L, "x")).toDF("id", "s"), p))
    // an in-place overwrite with another column set, as an index
    // relayout does: the writer forgets the pinned schema
    Seq((1L, "x", 2.0)).toDF("id", "s", "w")
      .write.mode("overwrite").parquet(p)
    Staged.forget(p)
    assert(Staged.pinnedSchema(p).isEmpty)
    assert(jobsDuring {
      assert(Staged.read(spark, p).columns.toSeq == Seq("id", "s", "w"))
    } >= 1, "the first read after forget infers from the footers")
    assert(Staged.pinnedSchema(p).exists(_.fieldNames.toSeq ==
      Seq("id", "s", "w")))
    assert(jobsDuring { Staged.read(spark, p); () } == 0)
  }
}

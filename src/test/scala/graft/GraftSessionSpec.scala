package graft

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** One session conf: the tests' builder, Bench's and Verify's apply the
  * same map, and the core count parses loudly.
  */
class GraftSessionSpec extends SparkSpec {

  /** Effective SQL conf `build` leaves on the shared test session: every
    * runtime SQL conf is unset first, so what is read back is exactly
    * what the builder applied (an omitted key reads as absent, not as
    * the test session's value); the session's conf is restored after.
    */
  private def effectiveSqlConf(build: => SparkSession): Map[String, String] = {
    def sqlConf = spark.conf.getAll.filter(_._1.startsWith("spark.sql."))
    val saved = sqlConf
    def unsetRuntime(): Unit =
      sqlConf.keys.filter(spark.conf.isModifiable).foreach(spark.conf.unset)
    unsetRuntime()
    try {
      val s = build
      assert(s eq spark, "a builder must reuse the running session")
      sqlConf
    } finally {
      unsetRuntime()
      saved.filter(kv => spark.conf.isModifiable(kv._1))
        .foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  test("local, Bench and Verify builders yield key-for-key identical SQL conf") {
    val local = effectiveSqlConf(GraftSession.local("graft-conf-spec", cores = 8))
    val bench = effectiveSqlConf(Bench.session(8))
    val verify = effectiveSqlConf(Verify.session(8))
    assert(bench == local, s"Bench differs: ${(bench.toSet diff local.toSet)}")
    assert(verify == local, s"Verify differs: ${(verify.toSet diff local.toSet)}")
    GraftSession.conf.filter(_._1.startsWith("spark.sql.")).foreach {
      case (k, v) => assert(local.get(k).contains(v), k)
    }
    assert(local.get("spark.sql.shuffle.partitions").contains("8"))
  }

  test("SPARK_GRAFT_CPUS: 32 when unset; malformed or non-positive fails naming it") {
    assert(GraftSession.cpus(Map.empty) == 32)
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "4")) == 4)
    Seq("four", "4.5", "", "0", "-2").foreach { v =>
      val e = intercept[IllegalArgumentException](
        GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
    }
  }
}

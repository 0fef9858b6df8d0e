package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import graft.dbt._
import graft.dbt.SchemaTest._

/** D7 — the four dbt generic tests on clean + dirty fixtures, and the
  * runner failing a DAG whose tests fail.
  */
class SchemaTestSpec extends SparkSpec {
  import spark.implicits._

  private def resolveNothing: String => DataFrame =
    n => sys.error(s"unexpected resolve $n")

  test("not_null flags NULL rows only") {
    val df = Seq(Some(1), None, Some(3)).toDF("k")
    assert(NotNull("k").violations(df, resolveNothing).count() == 1)
    assert(NotNull("k").violations(df.na.drop(), resolveNothing).count() == 0)
  }

  test("unique flags duplicated keys once per key") {
    val df = Seq(1, 2, 2, 3, 3, 3).toDF("k")
    val v = Unique("k").violations(df, resolveNothing)
    assert(v.count() == 2) // keys 2 and 3
  }

  test("accepted_values passes NULLs, flags strangers") {
    val df = Seq(Some("placed"), Some("cancelled"), None).toDF("status")
    val v = AcceptedValues("status", Seq("placed", "shipped"))
      .violations(df, resolveNothing)
    assert(v.count() == 1)
    assert(v.head().getString(0) == "cancelled")
  }

  test("relationships flags orphans, passes NULL FKs") {
    val child = Seq(Some(1), Some(2), Some(99), None).toDF("fk")
    val parent = Seq(1, 2, 3).toDF("pk")
    val v = Relationships("fk", "parents", "pk")
      .violations(child, _ => parent)
    assert(v.count() == 1)
    assert(v.head().getInt(0) == 99)
  }

  test("fused counts equal per-test counts, above the cap too") {
    val parents = Seq(1, 2).toDF("pk")
    val resolve: String => DataFrame = {
      case "parents" => parents
      case n => sys.error(s"unexpected resolve $n")
    }
    val tests = Seq(NotNull("k"), Unique("k"),
      AcceptedValues("s", Seq("ok")), Relationships("k", "parents", "pk"),
      NotNull("s"))
    val broken = Seq((Some(1), "ok"), (Some(1), "bad"), (None, null),
      (Some(3), "bad"), (Some(2), "ok")).toDF("k", "s")
    // 1,000,001 rows with a NULL k and a stranger s: both capped
    val huge = spark.range(Cap + 1L)
      .select(lit(null).cast("int").as("k"), lit("bad").as("s"))
    def perTest(df: DataFrame) = tests.map(t => (s"m.${t.testName}",
      t.violations(df, resolve).limit(Cap).count()))
    val fused = SchemaTest.report("m", tests, broken, resolve)
    assert(fused == perTest(broken))
    assert(fused.map(_._2) == Seq(1L, 1L, 2L, 1L, 1L))
    val capped = SchemaTest.report("m", tests, huge, resolve)
    assert(capped == perTest(huge))
    assert(capped.map(_._2) == Seq(Cap.toLong, 1L, Cap.toLong, 0L, 0L))
  }

  test("a model's row-local tests run as one query") {
    val df = Seq((Some(1), "ok"), (None, "bad")).toDF("k", "s")
    val tests = Seq(NotNull("k"), AcceptedValues("s", Seq("ok")),
      NotNull("s"))
    var report = Seq.empty[(String, Long)]
    val (_, queries) = sparkWork {
      report = SchemaTest.report("m", tests, df, resolveNothing)
    }
    assert(queries == 1)
    assert(report == Seq("m.not_null_k" -> 1L,
      "m.accepted_values_s" -> 1L, "m.not_null_s" -> 0L))
  }

  test("DagRunner fails the run when a declared test fails") {
    val reg = new ModelRegistry().register(Model(
      name = "bad", deps = Nil, materialization = Materialization.View,
      build = _ => Seq(Some(1), None).toDF("k"),
      tests = Seq(NotNull("k"))))
    val runner = new DagRunner(spark, reg, (_, _) => sys.error("none"),
      tmpDir("st-wh"))
    val e = intercept[RuntimeException](runner.run())
    assert(e.getMessage.contains("bad.not_null_k"))
  }

  test("registry declares the reference schema.yml test inventory 1:1") {
    // models/staging/schema.yml:9-110 + models_demo/schema.yml:9-41,
    // count-for-count: 19 staging not_null + 9 demo tests = 28. These run
    // (not just exist) on every GbfsModelsSpec full-DAG build, where
    // DagRunner executes each model's declared tests with runTests=true.
    val declared: Map[String, Seq[String]] =
      graft.gbfs.GbfsModels.registry().all
        .map(m => m.name -> m.tests.map(_.testName)).toMap

    def nn(cols: String*): Seq[String] = cols.map("not_null_" + _)

    assert(declared("stg_station_status").sorted ==
      nn("station_id", "reported_at", "bikes_available", "docks_available",
        "feed_updated_at", "ingest_at").sorted)
    assert(declared("stg_station_information").sorted ==
      nn("station_id", "feed_updated_at", "station_name", "lat", "lon").sorted)
    assert(declared("stg_historic_trips").sorted ==
      nn("started_at", "ended_at", "duration_s", "computed_duration_s",
        "start_station_id", "end_station_id", "trip_date", "trip_hour").sorted)
    assert(declared("customers").sorted ==
      Seq("unique_customer_id", "not_null_customer_id").sorted)
    assert(declared("stg_customers").sorted ==
      Seq("unique_customer_id", "not_null_customer_id").sorted)
    assert(declared("stg_orders").sorted ==
      Seq("unique_order_id", "not_null_order_id", "accepted_values_status",
        "not_null_customer_id", "relationships_customer_id_to_stg_customers")
        .sorted)
    // no extras: models the reference leaves untested stay untested here
    val tested = Set("stg_station_status", "stg_station_information",
      "stg_historic_trips", "customers", "stg_customers", "stg_orders")
    assert(declared.filter(_._2.nonEmpty).keySet == tested)
    assert(declared.values.map(_.size).sum == 28)
  }

  test("DagRunner topo-sorts and rejects cycles") {
    val reg = new ModelRegistry()
      .register(Model("a", Seq("b"), Materialization.Ephemeral, ctx => ctx.ref("b")))
      .register(Model("b", Seq("a"), Materialization.Ephemeral, ctx => ctx.ref("a")))
    assertThrows[IllegalArgumentException](reg.topoOrder)
  }
}

package graft

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dbt._
import graft.gbfs.GbfsModels

/** DagRunner's schema-pinned reads and its skipping of unchanged models:
  * a pinned read equals a plain parquet read, a run with no new input
  * starts no job, and a change re-runs exactly the models it reaches.
  */
class DagRunnerSkipSpec extends SparkSpec {
  import spark.implicits._

  private val schema = "id BIGINT, v INT"

  /** A source dir read under a given schema, so reading it runs no job. */
  private def source(dir: String): DataFrame =
    spark.read.schema(schema).parquet(dir)

  private val day = LocalDate.parse("2025-05-20")

  /** a (table) feeds b → d, the view c → e, and dated; tagged reads the
    * `min_v` env value; t1 → t2 read a second source.
    */
  private def registry(bBuild: ModelContext => DataFrame =
      ctx => ctx.ref("a").groupBy((col("id") % 2).as("k"))
        .agg(sum("v").as("v"))): ModelRegistry = {
    def table(name: String, deps: String*)(build: ModelContext => DataFrame) =
      Model(name, deps, Materialization.Table, build)
    new ModelRegistry()
      .register(table("a")(_.source("s", "s").select("id", "v")))
      .register(Model("c", Seq("a"), Materialization.View,
        _.ref("a").filter(col("v") > 0)))
      .register(table("b", "a")(bBuild))
      .register(table("d", "b")(_.ref("b").withColumn("w", col("v") * 2)))
      .register(table("e", "c")(_.ref("c").select("id")))
      .register(table("dated", "a")(ctx =>
        ctx.ref("a").withColumn("day", ctx.config.currentDate)))
      .register(table("tagged")(ctx => ctx.source("s", "s")
        .filter(col("v") >= ctx.config.envVar("min_v", "0").toInt)))
      .register(table("t1")(_.source("s", "t").select("id")))
      .register(table("t2", "t1")(_.ref("t1").agg(count(lit(1)).as("n"))))
  }

  private val tables =
    Seq("a", "b", "d", "e", "dated", "tagged", "t1", "t2")

  /** Every file under each of `names`' tables as (path, mtime), by table. */
  private def files(wh: String, names: Seq[String] = tables)
      : Map[String, Seq[(String, Long)]] =
    names.map { t =>
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$wh/$t"))
      try t -> scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (f.toString, java.nio.file.Files.getLastModifiedTime(f)
          .toMillis)).toSeq.sorted
      finally s.close()
    }.toMap

  private final class Fixture {
    val root = tmpDir("dag-skip")
    val wh = s"$root/wh"
    Seq((1L, 5), (2L, -1), (3L, 7)).toDF("id", "v").write.parquet(s"$root/s")
    Seq((1L, 0)).toDF("id", "v").write.parquet(s"$root/t")
    def runner(reg: ModelRegistry = registry(),
        config: EngineConfig = EngineConfig(today = Some(day))) =
      new DagRunner(spark, reg, (_, t) => source(s"$root/$t"), wh, config)
    /** Runs once more and returns the tables whose files changed. */
    def rerun(r: DagRunner, fullRefresh: Boolean = false): Set[String] = {
      val before = files(wh)
      r.run(fullRefresh = fullRefresh)
      val after = files(wh)
      tables.filter(t => before(t) != after(t)).toSet
    }
  }

  test("a second run with no new input starts no job and writes no file") {
    val f = new Fixture
    f.runner().run()
    val before = files(f.wh)
    var built = Map.empty[String, DataFrame]
    assert(jobsDuring { built = f.runner().run() } == 0)
    assert(files(f.wh) == before)
    assert(built("d").as[(Long, Long, Long)].collect().sorted.toSeq ==
      Seq((0L, -1L, -2L), (1L, 12L, 24L)))
  }

  test("a change re-runs exactly the models it reaches") {
    val f = new Fixture
    f.runner().run()
    val later = EngineConfig(today = Some(day.plusDays(1)))
    assert(f.rerun(f.runner(config = later)) == Set("dated"))
    val strict = later.copy(env = Map("min_v" -> "6"))
    assert(f.rerun(f.runner(config = strict)) == Set("tagged"))
    Seq((9L, 9)).toDF("id", "v").write.mode("append").parquet(s"${f.root}/t")
    assert(f.rerun(f.runner(config = strict)) == Set("t1", "t2"))
    val maxB = registry(bBuild = ctx => ctx.ref("a")
      .groupBy((col("id") % 2).as("k")).agg(max("v").as("v")))
    assert(f.rerun(f.runner(maxB, strict)) == Set("b", "d"))
    assert(f.rerun(f.runner(maxB, strict)).isEmpty)
    assert(f.rerun(f.runner(maxB, strict), fullRefresh = true) == tables.toSet)
  }

  test("a table rewritten outside the runner is re-inferred and rebuilt") {
    val f = new Fixture
    var selfColumns = Seq.empty[Seq[String]]
    val reg = registry().register(Model("inc", Nil,
      Materialization.Incremental("id"), ctx => {
        selfColumns :+= ctx.self.map(_.columns.toSeq).getOrElse(Nil)
        ctx.source("s", "s")
      }))
    f.runner(reg).run()
    // another writer replaces both tables with an extra column
    Seq((1L, 5, 1.0)).toDF("id", "v", "x")
      .write.mode("overwrite").parquet(s"${f.wh}/a")
    Seq((8L, 8, 1.0)).toDF("id", "v", "x")
      .write.mode("overwrite").parquet(s"${f.wh}/inc")
    val built = f.runner(reg).run()
    assert(selfColumns.last == Seq("id", "v", "x"))
    assert(built("a").columns.toSeq == Seq("id", "v"))
    assert(built("a").count() == 3)
    assert(spark.read.parquet(s"${f.wh}/inc").count() == 4)
  }

  test("snapshots, fullRefresh runs and LocalRelation or UDF models never skip") {
    val root = tmpDir("dag-noskip")
    Seq((1L, 5, 1L)).toDF("id", "v", "ts").write.parquet(s"$root/s")
    val plusOne = udf((v: Int) => v + 1)
    def table(name: String)(build: ModelContext => DataFrame) =
      Model(name, Nil, Materialization.Table, build)
    val reg = new ModelRegistry()
      .register(Model("snap", Nil, Materialization.Snapshot("id", "ts"),
        _.source("s", "s")))
      .register(table("local")(_ => Seq((1L, 5)).toDF("id", "v")))
      .register(table("udf")(_.source("s", "s")
        .select(plusOne(col("v")).as("v"))))
      .register(table("rand")(_.source("s", "s")
        .select((col("v") + rand(7)).as("v"))))
      .register(table("clock")(ctx => ctx.source("s", "s")
        .select(ctx.config.currentDate.as("day"))))
      .register(table("plain")(_.source("s", "s")))
    val wh = s"$root/wh"
    def run(fullRefresh: Boolean = false): Unit = new DagRunner(spark, reg,
      (_, _) => spark.read.schema("id BIGINT, v INT, ts BIGINT")
        .parquet(s"$root/s"), wh).run(fullRefresh = fullRefresh)
    val names = reg.all.map(_.name)
    run()
    val first = files(wh, names)
    run()
    val second = files(wh, names)
    assert(names.filter(n => first(n) != second(n)).toSet ==
      Set("snap", "local", "udf", "rand", "clock"))
    run(fullRefresh = true)
    val third = files(wh, names)
    assert(names.forall(n => third(n) != second(n)))
  }

  test("every persisted GBFS and demo model's pinned read equals a plain read") {
    val wh = tmpDir("dag-pinned")
    val runner = new DagRunner(spark, GbfsModels.registry(),
      GbfsFixtures.sources(spark), wh, EngineConfig(today = Some(day)))
    val persisted = GbfsModels.registry().all.filter(m =>
      m.materialization != Materialization.View &&
        m.materialization != Materialization.Ephemeral)
    val incremental = persisted.collect {
      case m if m.materialization.isInstanceOf[Materialization.Incremental] =>
        m.name
    }
    assert(persisted.size >= 10 && incremental.size == 2)
    // the second run reads each incremental model's `{{ this }}` pinned
    val built = runner.run() ++ runner.run(select = incremental)
    persisted.map(_.name).foreach { n =>
      val plain = spark.read.parquet(s"$wh/$n")
      assert(built(n).schema == plain.schema, n)
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(built(n)) == rows(plain), n)
    }
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dbt.{DagRunner, Materialization, Model, ModelRegistry}

/** Failure atomicity of every persisted materialization: a model that
  * fails at execution leaves its previous table readable and row-
  * identical, and the next good run commits cleanly with no staging or
  * aside dirs left in the warehouse.
  */
class DagRunnerCommitSpec extends SparkSpec {
  import spark.implicits._

  /** Runs one model `m` over three batches: a good one, one whose row
    * with `v < 0` raises at execution, and a good one whose result is
    * `expected` (the columns `cols`, sorted). Batches are read from
    * parquet, so the failure happens in the write job, not in planning.
    */
  private def lifecycle(mat: Materialization, cols: Seq[String],
      batches: Seq[DataFrame], expected: Seq[Seq[Any]]): Unit = {
    val root = tmpDir("dag-commit")
    val wh = s"$root/warehouse"
    val reg = new ModelRegistry().register(Model("m", Nil, mat, ctx =>
      ctx.source("s", "batch").withColumn("v",
        when(col("v") < 0, raise_error(lit("bad row"))).otherwise(col("v")))))
    def run(i: Int): Unit = {
      val batch = s"$root/batch$i"
      batches(i).write.parquet(batch)
      new DagRunner(spark, reg, (_, _) => spark.read.parquet(batch), wh)
        .run()
    }
    def table: Seq[Seq[Any]] = spark.read.parquet(s"$wh/m")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("|"))

    run(0)
    val prior = table
    intercept[Exception](run(1))
    assert(table == prior, "a failed run must leave the prior table intact")
    run(2)
    assert(table == expected.sortBy(_.mkString("|")))
    assert(new java.io.File(wh).list().toSeq == Seq("m"),
      "the warehouse must hold only model dirs after a good run")
  }

  test("Table: a failed rebuild keeps the previous table") {
    lifecycle(Materialization.Table, Seq("id", "v"), Seq(
      Seq((1L, 10), (2L, 20)).toDF("id", "v"),
      Seq((1L, 10), (3L, -1)).toDF("id", "v"),
      Seq((4L, 40)).toDF("id", "v")),
      Seq(Seq(4L, 40)))
  }

  test("Snapshot: a failed batch keeps the previous versions") {
    lifecycle(Materialization.Snapshot("id", "ts"),
      Seq("id", "v", "dbt_valid_from", "dbt_valid_to"), Seq(
        Seq((1L, 10, 1L), (2L, 20, 1L)).toDF("id", "v", "ts"),
        Seq((1L, -1, 2L), (2L, 20, 1L)).toDF("id", "v", "ts"),
        Seq((1L, 11, 3L), (2L, 20, 1L)).toDF("id", "v", "ts")),
      Seq(Seq(1L, 10, 1L, 3L), Seq(1L, 11, 3L, null), Seq(2L, 20, 1L, null)))
  }

  test("Incremental append: a failed delta appends nothing") {
    lifecycle(Materialization.Incremental("id"), Seq("id", "v"), Seq(
      Seq((1L, 10), (2L, 20)).toDF("id", "v"),
      Seq((3L, -1)).toDF("id", "v"),
      Seq((2L, 99), (3L, 30)).toDF("id", "v")),
      Seq(Seq(1L, 10), Seq(2L, 20), Seq(3L, 30)))
  }

  test("Incremental merge: a failed batch keeps every partition; a " +
      "relocated key vacates its old one") {
    lifecycle(Materialization.Incremental(Seq("id"), None, Seq("p"),
        Materialization.IncrementalStrategy.Merge), Seq("id", "v", "p"),
      Seq(
        Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c")).toDF("id", "v", "p"),
        Seq((1L, -1, "a"), (4L, 40, "d")).toDF("id", "v", "p"),
        Seq((1L, 11, "a"), (2L, 21, "c")).toDF("id", "v", "p")),
      Seq(Seq(1L, 11, "a"), Seq(2L, 21, "c"), Seq(3L, 30, "c")))
  }
}

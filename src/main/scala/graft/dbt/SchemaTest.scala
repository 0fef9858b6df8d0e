package graft.dbt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative schema tests (D7), mirroring dbt's four generic tests as
  * used in `models/staging/schema.yml` and `models_demo/schema.yml`.
  * Each compiles to a query returning VIOLATING rows; non-empty ⇒ fail —
  * exactly dbt's contract. `violations` stays lazy (a DataFrame);
  * [[SchemaTest.report]] counts them, each count capped at
  * [[SchemaTest.Cap]], and counts all of a model's row-local tests in
  * one aggregate pass over the model.
  */
sealed trait SchemaTest {
  def testName: String
  /** Rows violating the constraint. `resolve` maps a model name to its
    * built relation (for relationship tests).
    */
  def violations(df: DataFrame, resolve: String => DataFrame): DataFrame
}

/** A test whose verdict on a row depends on that row alone, so its
  * violations are the rows where [[violation]] holds.
  */
sealed trait RowLocal extends SchemaTest {
  /** True on a violating row (null counts as passing, as in a filter). */
  def violation: Column
  def violations(df: DataFrame, resolve: String => DataFrame): DataFrame =
    df.filter(violation)
}

object SchemaTest {

  /** Every reported count stops here: past it a count only says "many". */
  val Cap = 1000000

  /** `not_null` — `models/staging/schema.yml:9-30` etc. */
  final case class NotNull(column: String) extends RowLocal {
    val testName = s"not_null_$column"
    def violation: Column = col(column).isNull
  }

  /** `unique` — `models_demo/schema.yml:9-11`. */
  final case class Unique(column: String) extends SchemaTest {
    val testName = s"unique_$column"
    def violations(df: DataFrame, resolve: String => DataFrame): DataFrame =
      df.groupBy(col(column)).count().filter(col("count") > 1)
  }

  /** `accepted_values` — `models_demo/schema.yml:33-35`. NULLs pass (dbt
    * semantics: accepted_values tests only non-null values).
    */
  final case class AcceptedValues(column: String, values: Seq[String])
      extends RowLocal {
    val testName = s"accepted_values_$column"
    def violation: Column = col(column).isNotNull &&
      !col(column).isin(values.map(v => v: Any): _*)
  }

  /** `relationships(to, field)` — `models_demo/schema.yml:36-41`. NULL
    * child keys pass (dbt tests only non-null FKs).
    */
  final case class Relationships(column: String, toModel: String,
      toField: String) extends SchemaTest {
    val testName = s"relationships_${column}_to_$toModel"
    def violations(df: DataFrame, resolve: String => DataFrame): DataFrame = {
      val parent = resolve(toModel).select(col(toField).as("__parent_key"))
      df.filter(col(column).isNotNull)
        .join(parent, col(column) === col("__parent_key"), "left_anti")
    }
  }

  /** One `(model.test, violation count)` per test, in `tests` order —
    * the d7 reporting shape. The row-local tests share one aggregate
    * query over `df`, one capped `count_if` column each; `Unique` and
    * `Relationships` run one query each.
    */
  def report(model: String, tests: Seq[SchemaTest], df: DataFrame,
      resolve: String => DataFrame): Seq[(String, Long)] = {
    val rowLocal = tests.collect { case t: RowLocal => t }
    val fused =
      if (rowLocal.isEmpty) Iterator.empty[Long]
      else {
        val r = df.agg(capped(rowLocal.head), rowLocal.tail.map(capped): _*)
          .head()
        Iterator.tabulate(rowLocal.size)(r.getLong)
      }
    tests.map { t =>
      val n = t match {
        case _: RowLocal => fused.next()
        case _ => t.violations(df, resolve).limit(Cap).count()
      }
      (s"$model.${t.testName}", n)
    }
  }

  private def capped(t: RowLocal): Column =
    least(count_if(t.violation), lit(Cap.toLong))
}

package graft.dbt

import org.apache.spark.sql.{DataFrame, SparkSession}

/** dbt-runtime semantics re-expressed for Spark (SURVEY §2.11, §3.1).
  *
  * A [[Model]] is what a dbt SQL file + its `config()` block is in the
  * reference (`/root/reference/models/`): a named, dependency-declaring
  * builder from upstream relations to a DataFrame, with a materialization
  * class. The Jinja surface maps as:
  *   - `source(src, tbl)`  → [[ModelContext.source]]
  *   - `ref(name)`         → [[ModelContext.ref]]
  *   - `{{ this }}`        → [[ModelContext.self]] (D5)
  *   - `is_incremental()`  → [[ModelContext.isIncremental]]
  *   - `env_var(k)`        → [[EngineConfig.env]]
  */
final case class Model(
    name: String,
    deps: Seq[String],
    materialization: Materialization,
    build: ModelContext => DataFrame,
    tests: Seq[SchemaTest] = Nil)

object Model {
  /** A SQL-bodied model — the literal migration path for dbt model files:
    * paste the SELECT, list the refs/sources it names. Upstream models are
    * registered as temp views under their model names and sources as
    * `<source>_<table>` before the SQL runs, so `{{ ref("m") }}` becomes
    * `m` and `{{ source("s", "t") }}` becomes `s_t`.
    */
  def fromSql(name: String, deps: Seq[String], materialization: Materialization,
      sql: String, sources: Seq[(String, String)] = Nil,
      tests: Seq[SchemaTest] = Nil): Model =
    Model(name, deps, materialization,
      build = ctx => {
        deps.foreach(d => ctx.ref(d).createOrReplaceTempView(d))
        sources.foreach { case (s, t) =>
          ctx.source(s, t).createOrReplaceTempView(s"${s}_$t")
        }
        ctx.spark.sql(sql)
      },
      tests = tests)
}

/** Materialization classes, `dbt_project.yml:41-77`. */
sealed trait Materialization
object Materialization {
  /** D1 — compiled into consumers, never persisted (Catalyst inlines). */
  case object Ephemeral extends Materialization
  /** D2 — recomputed on read; registered as a temp view. */
  case object View extends Materialization
  /** D3 — full refresh: the table is rebuilt into a staging dir and
    * swapped in whole ([[graft.core.AtomicFiles.publish]]), so a failed
    * build keeps the previous table; downstream reads the files.
    */
  case object Table extends Materialization
  /** D4 — first run full build; later runs append rows whose `uniqueKey`
    * is not yet present (the reference's NOT-IN models make this
    * pure-append; the runner still left_anti-guards on the key).
    *
    * `scanPredicate` (SQL over the existing table, e.g.
    * "status_date >= current_date() - interval 7 days") scopes BOTH the
    * runner's anti-join read of the existing output and the `{{ this }}`
    * relation handed to the model body — at 100 TB the dedup check must
    * not rescan years of history. Safe whenever key collisions can only
    * occur inside the predicate window (true for time-keyed snapshot
    * ids); with `partitionBy` declared, partition pruning turns the
    * guard into a few-partition read (IncrementalPruningSpec asserts
    * the pruned partition count).
    *
    * `partitionBy` writes the incremental table hive-partitioned on the
    * named columns (initial build and every delta append), which is what
    * makes the scanPredicate prune at the FILE level rather than merely
    * row-filter after a full scan.
    */
  final case class Incremental(uniqueKey: Seq[String],
      scanPredicate: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      strategy: IncrementalStrategy = IncrementalStrategy.AppendNewKeys)
    extends Materialization {
    require(uniqueKey.nonEmpty, "incremental model needs a unique_key")
  }
  object Incremental {
    /** dbt accepts `unique_key` as a string or a list; mirror that. */
    def apply(uniqueKey: String): Incremental = Incremental(Seq(uniqueKey))
    def apply(uniqueKey: String, scanPredicate: Option[String])
        : Incremental = Incremental(Seq(uniqueKey), scanPredicate)
    def apply(uniqueKey: String, scanPredicate: Option[String],
        partitionBy: Seq[String]): Incremental =
      Incremental(Seq(uniqueKey), scanPredicate, partitionBy)
    def apply(uniqueKey: String, scanPredicate: Option[String],
        partitionBy: Seq[String], strategy: IncrementalStrategy)
        : Incremental =
      Incremental(Seq(uniqueKey), scanPredicate, partitionBy, strategy)
  }

  /** dbt snapshot (SCD2, `timestamp` strategy): the model body returns
    * the source's CURRENT state (≤ 1 row per `uniqueKey`); each run
    * reconciles it against the existing snapshot table via
    * [[Snapshots.applyBatch]] — versions open/close on strictly newer
    * `updatedAt`, replays are no-ops. `fullRefresh` rebuilds from the
    * batch alone (all versions reset), matching dbt's behavior.
    */
  final case class Snapshot(uniqueKey: String, updatedAt: String)
    extends Materialization

  /** How an incremental run reconciles batch rows against existing
    * output rows sharing a `uniqueKey` — dbt's `incremental_strategy`.
    */
  sealed trait IncrementalStrategy
  object IncrementalStrategy {
    /** Existing keys win; only NEW keys append (the reference's usage —
      * its models NOT-IN-filter before insert, so a key never updates:
      * `models/facts/fact_station_status.sql:30-32`).
      */
    case object AppendNewKeys extends IncrementalStrategy
    /** dbt `merge`: an incoming row REPLACES the existing row with its
      * key (update-in-place), other rows are preserved. Implemented as
      * a staged rewrite of only the TOUCHED partitions, each swapped in
      * by directory rename ([[graft.core.AtomicFiles.publish]]): at
      * 100 TB, a day's re-delivered snapshots rewrite that day's
      * partitions, never the table.
      */
    case object Merge extends IncrementalStrategy
  }
}

/** What a model body can see while building. */
final case class ModelContext(
    spark: SparkSession,
    config: EngineConfig,
    sourceResolver: (String, String) => DataFrame,
    refResolver: String => DataFrame,
    self: Option[DataFrame]) {
  def source(src: String, table: String): DataFrame = sourceResolver(src, table)
  def ref(name: String): DataFrame = refResolver(name)
  def isIncremental: Boolean = self.isDefined
}

/** Engine configuration: the reference's `env_var()` lookups
  * (`models/src/sources.yml:8,18`) plus an injectable clock so
  * `current_date()`-dependent models (dim_date) are testable
  * (SURVEY §7.4 risk 2).
  */
final case class EngineConfig(
    env: Map[String, String] = Map.empty,
    today: Option[java.time.LocalDate] = None) {
  def envVar(key: String, default: String = ""): String =
    env.getOrElse(key, default)
  /** Column for "now's date": pinned if injected, else current_date(). */
  def currentDate: org.apache.spark.sql.Column = today match {
    case Some(d) => org.apache.spark.sql.functions.lit(d.toString).cast("date")
    case None    => org.apache.spark.sql.functions.current_date()
  }
}

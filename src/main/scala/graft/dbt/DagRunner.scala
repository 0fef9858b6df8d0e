package graft.dbt

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{broadcast, col}

import graft.core.AtomicFiles
import graft.core.AtomicFiles.Replace

/** Model registry + DAG executor: the Spark-native replacement for dbt's
  * parse/plan/execute lifecycle (SURVEY §3.1 stages 1-3).
  *
  * Registration order is irrelevant; execution is topological over
  * declared deps (D6). Materialization decides the persistence boundary
  * (D1-D4): only Table/Incremental cross a write — everything else stays
  * a lazy Catalyst plan, so ephemeral/view chains fuse into their
  * consumers exactly like dbt's ephemeral CTE inlining, with predicate
  * pushdown and column pruning across model boundaries for free.
  */
final class ModelRegistry {
  private val models = mutable.LinkedHashMap.empty[String, Model]

  def register(m: Model): this.type = {
    require(!models.contains(m.name), s"duplicate model ${m.name}")
    // dedupe deps: the indegree count below is per-edge, and a repeated
    // dep entry would otherwise read as an unsatisfiable edge (fake cycle)
    models += m.name -> m.copy(deps = m.deps.distinct)
    this
  }

  def apply(name: String): Model =
    models.getOrElse(name, sys.error(s"unknown model $name"))
  def all: Seq[Model] = models.values.toSeq

  /** Kahn topo-sort; deterministic (registration order among ready nodes);
    * cycles are a hard error.
    */
  def topoOrder: Seq[String] = {
    val indeg = mutable.LinkedHashMap(models.keys.map(_ -> 0).toSeq: _*)
    for (m <- models.values; d <- m.deps if models.contains(d)) indeg(m.name) += 1
    val ready = mutable.Queue(indeg.collect { case (n, 0) => n }.toSeq: _*)
    val out = mutable.ArrayBuffer.empty[String]
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      out += n
      for (m <- models.values if m.deps.contains(n) && models.contains(m.name)) {
        indeg(m.name) -= 1
        if (indeg(m.name) == 0) ready += m.name
      }
    }
    require(out.size == models.size,
      s"cycle among ${models.keySet.diff(out.toSet).mkString(", ")}")
    out.toSeq
  }
}

/** Executes a registry against a warehouse directory.
  *
  * Every persisted materialization chooses the frame to write and the
  * part of the table it replaces, then commits through
  * [[graft.core.AtomicFiles.publish]]: the write lands in a staging dir
  * first, so a model that fails at execution leaves its previous table
  * readable and the next run starts clean.
  *
  * @param sources   (sourceName, tableName) → raw relation (S1/S2)
  * @param warehouse dir for Table/Incremental/Snapshot parquet; layout is
  *                  `<warehouse>/<model>` — at cluster scale point this at
  *                  object storage and nothing else changes.
  */
final class DagRunner(
    spark: SparkSession,
    registry: ModelRegistry,
    sources: (String, String) => DataFrame,
    warehouse: String,
    config: EngineConfig = EngineConfig()) {

  private val built = mutable.LinkedHashMap.empty[String, DataFrame]

  private def path(name: String) = s"$warehouse/$name"

  private def exists(name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(name))
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  def resolve(name: String): DataFrame =
    built.getOrElse(name, sys.error(s"model $name not built yet"))

  /** Run the full DAG (or a sub-selection plus its upstreams). Returns the
    * materialized relation per model. Test failures raise after the full
    * report is computed. `fullRefresh` rebuilds incremental models from
    * scratch (dbt's --full-refresh).
    */
  def run(select: Seq[String] = Nil, runTests: Boolean = true,
      fullRefresh: Boolean = false): Map[String, DataFrame] = {
    val wanted: Set[String] =
      if (select.isEmpty) registry.all.map(_.name).toSet
      else {
        val closure = mutable.Set.empty[String]
        def visit(n: String): Unit = if (closure.add(n))
          registry(n).deps.foreach(visit)
        select.foreach(visit)
        closure.toSet
      }
    val failures = mutable.ArrayBuffer.empty[(String, Long)]

    for (name <- registry.topoOrder if wanted(name)) {
      val m = registry(name)
      val selfRaw =
        if (!fullRefresh &&
          m.materialization.isInstanceOf[Materialization.Incremental] &&
          exists(name)) Some(spark.read.parquet(path(name)))
        else None
      // scanPredicate scopes every read of the existing table — the
      // model's own `{{ this }}` NOT-IN as well as the runner's key
      // guard below — so the incremental dedup check partition-prunes
      // instead of rescanning full history
      val self = (selfRaw, m.materialization) match {
        case (Some(df0), Materialization.Incremental(_, Some(p), _, _)) =>
          Some(df0.filter(p))
        case _ => selfRaw
      }
      val ctx = ModelContext(spark, config, sources, resolve, self)
      val df = m.build(ctx)

      val materialized = m.materialization match {
        case Materialization.Ephemeral => df
        case Materialization.View =>
          df.createOrReplaceTempView(name); df
        case Materialization.Table =>
          publish(name, df, Replace.Whole)
        case Materialization.Snapshot(key, updatedAt) =>
          val existing =
            if (!fullRefresh && exists(name))
              Some(spark.read.parquet(path(name)))
            else None
          publish(name, Snapshots.applyBatch(existing, df, key, updatedAt),
            Replace.Whole)
        case Materialization.Incremental(keys, _, parts, strategy) =>
          val (rows, replace) = selfRaw match {
            case None => (df, Replace.Whole)
            case Some(existingFull)
                if strategy == Materialization.IncrementalStrategy.Merge =>
              merge(df, existingFull, keys, parts)
            case Some(_) =>
              // Append-only-new-keys guard (D4) against the
              // scanPredicate-scoped `self`; the reference models already
              // NOT-IN-filter, this keeps the contract even if a model
              // forgets.
              (df.join(self.get.select(keys.map(col): _*), keys, "left_anti"),
                Replace.Append)
          }
          publish(name, rows, replace, parts)
      }
      built(name) = materialized

      if (runTests && m.tests.nonEmpty)
        SchemaTest.report(name, m.tests, materialized, resolve)
          .foreach { case (t, n) => if (n > 0) failures += ((t, n)) }
    }

    if (failures.nonEmpty)
      sys.error("schema tests failed: " +
        failures.map { case (t, n) => s"$t($n)" }.mkString(", "))
    built.toMap
  }

  /** Write `rows` as model `name`'s table, replacing `replace` of it, and
    * return the committed table.
    */
  private def publish(name: String, rows: DataFrame, replace: Replace,
      parts: Seq[String] = Nil): DataFrame = {
    AtomicFiles.publish(spark, path(name), replace) { staging =>
      val w = rows.write
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(staging)
    }
    spark.read.parquet(path(name))
  }

  /** MERGE/upsert: batch rows replace same-key rows. Only the partitions
    * the batch touches are rewritten — survivors = (existing ⋉ touched
    * partitions) ∖ batch keys, written together with the batch — so
    * untouched partitions never move and cost ∝ churn, not table size.
    * `existingFull` is the UNSCOPED table (partition pruning is the
    * scope): scanPredicate bounds the dedup window, but an in-window
    * rewrite must not drop out-of-window rows that share a touched
    * partition. Unpartitioned tables degrade to a full rewrite (give a
    * merge model partitions).
    *
    * Touched partitions = batch partition values ∪ partitions that
    * CURRENTLY hold a batch key: dbt merge matches on key regardless of
    * location, so a re-delivered key whose partition-column value
    * changed (e.g. a corrected event_date) must evict its old row from
    * the OLD partition too, and a partition it leaves empty is removed.
    * Finding those rows is a column-pruned (key + partition cols only)
    * scan of the table — the price of supporting key relocation; when
    * partitions are a stable function of the key this returns ⊆ batch
    * partitions and costs one footer-level scan.
    */
  private def merge(df: DataFrame, existingFull: DataFrame,
      keys: Seq[String], parts: Seq[String]): (DataFrame, Replace) = {
    val batchKeys = df.select(keys.map(col): _*).distinct()
    def merged(existing: DataFrame) = df.unionByName(
      existing.join(batchKeys, keys, "left_anti")
        .select(df.columns.map(col).toIndexedSeq: _*))
    if (parts.isEmpty) (merged(existingFull), Replace.Whole)
    else {
      val touched =
        df.select(parts.map(col): _*).distinct().unionByName(
          existingFull.join(broadcast(batchKeys), keys, "left_semi")
            .select(parts.map(col): _*).distinct()).distinct()
      // the writer's own dir naming: each value cast to string in the
      // session time zone, then escaped
      val dirs = touched.select(parts.map(col(_).cast("string")): _*)
        .collect().toSeq.map(r => parts.indices.map(i =>
          ExternalCatalogUtils.getPartitionPathString(parts(i), r.getString(i)))
          .mkString("/"))
      (merged(existingFull.join(broadcast(touched), parts, "left_semi")),
        Replace.Partitions(dirs))
    }
  }
}

package graft.dbt

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTime,
  CurrentTimestampLike, Expression, Literal, UserDefinedExpression,
  UserDefinedGenerator}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, ObjectConsumer,
  ObjectProducer, TypedFilter}
import org.apache.spark.sql.execution.aggregate.TypedAggregateExpression
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.ObjectType

import graft.core.{AtomicFiles, Staged}
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
  * A published unpartitioned table is read back, and read as an
  * incremental model's `{{ this }}`, under the schema the runner wrote,
  * so no read runs a footer-inference job. A partitioned table is
  * inferred on every read: partition-value type inference can differ
  * from the written type. So is a table whose files changed since this
  * JVM last published it (a rewrite outside the runner).
  *
  * Unchanged models are skipped. A persisted model that is not a
  * snapshot has a skip key: a digest of its canonicalized analyzed plan
  * rendered in full, its output schema and materialization, the
  * session's SQL conf, and for each file leaf its format, options,
  * schema and sorted (path, length, mtime) list. `EngineConfig` enters
  * through the plan: `today` and every `env` value a model uses become
  * literals or file leaves of its plan, so changing one re-runs just
  * the models that read it. When the key equals the one recorded at
  * the table's last publish and the table still holds the files that
  * publish left, the run reads the table back and starts no job;
  * downstream models then see unchanged files and skip too. Keys are
  * recorded per JVM: a new JVM rebuilds every model once. A model never
  * skips under `fullRefresh`, when it is a snapshot, when its plan has a
  * leaf that is not a file scan (an RDD, a `LocalRelation`, a cache or a
  * stream), or when its plan has a UDF or typed closure, a
  * non-deterministic expression or a current-time expression. An
  * incremental model reads its own table, which its last publish
  * changed, so it re-runs on every run.
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

  import DagRunner._

  private val built = mutable.LinkedHashMap.empty[String, DataFrame]

  private def path(name: String) = s"$warehouse/$name"

  private lazy val fs =
    new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())

  /** Every file under model `name`'s table dir, sorted; empty when it
    * has no table.
    */
  private def committedFiles(name: String): Seq[FileId] = {
    val p = new Path(path(name))
    val out = mutable.ArrayBuffer.empty[FileId]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    }
    out.sorted.toSeq
  }

  /** Model `name`'s table: under its pinned schema when `pinned`, else
    * under the schema its footers give (pinned for the next read).
    */
  private def read(name: String, pinned: Boolean): DataFrame = {
    if (!pinned) Staged.forget(path(name))
    Staged.read(spark, path(name))
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
      val (persisted, parts) = m.materialization match {
        case Materialization.Ephemeral | Materialization.View => (false, Nil)
        case i: Materialization.Incremental => (true, i.partitionBy)
        case _ => (true, Nil)
      }
      val table = if (persisted) committedFiles(name) else Nil
      val last = if (table.isEmpty) None else Option(published.get(path(name)))
      // the table holds what this JVM's last publish of it left
      val intact = last.exists(_.files == table)
      def existing() = read(name, pinned = intact && parts.isEmpty)
      val selfRaw =
        if (!fullRefresh &&
          m.materialization.isInstanceOf[Materialization.Incremental] &&
          table.nonEmpty) Some(existing())
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
      val key =
        if (!persisted ||
          m.materialization.isInstanceOf[Materialization.Snapshot]) None
        else skipKey(m, df)

      val materialized = m.materialization match {
        case _ if !fullRefresh && key.isDefined && intact &&
            last.exists(_.key == key) => existing()
        case Materialization.Ephemeral => df
        case Materialization.View =>
          df.createOrReplaceTempView(name); df
        case Materialization.Table =>
          publish(name, df, Replace.Whole, key)
        case Materialization.Snapshot(uniqueKey, updatedAt) =>
          val prior =
            if (!fullRefresh && table.nonEmpty) Some(existing()) else None
          publish(name, Snapshots.applyBatch(prior, df, uniqueKey, updatedAt),
            Replace.Whole, None)
        case Materialization.Incremental(keys, _, _, strategy) =>
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
          publish(name, rows, replace, key, parts)
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

  /** Write `rows` as model `name`'s table, replacing `replace` of it,
    * record `key` with the committed files, and return the committed
    * table.
    */
  private def publish(name: String, rows: DataFrame, replace: Replace,
      key: Option[String], parts: Seq[String] = Nil): DataFrame = {
    AtomicFiles.publish(spark, path(name), replace) { staging =>
      val w = rows.write
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(staging)
    }
    if (parts.isEmpty) Staged.pin(path(name), rows.schema)
    record(path(name), Published(key, committedFiles(name)))
    read(name, pinned = parts.isEmpty)
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

  /** The skip key of persisted model `m` built as `df` (see the class
    * doc), or None when `df`'s rows are not a function of what the key
    * covers.
    */
  private def skipKey(m: Model, df: DataFrame): Option[String] = try {
    val plan = df.queryExecution.withCachedData
    val nodes = (plan +: plan.subqueriesAll).flatMap(_.collect { case n => n })
    val leaves = nodes.collect { case l: LeafNode => fileLeaf(l) }
    val opaque = nodes.exists {
      case _: ObjectProducer | _: ObjectConsumer | _: TypedFilter => true
      case n => n.expressions.exists(_.exists(opaqueExpr))
    }
    if (opaque || leaves.contains(None)) None
    else {
      val canon = plan.canonicalized
      // in full: a truncated field list could hide a changed expression
      val conf = spark.sessionState.conf.clone()
      conf.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
      val rendered = SQLConf.withExistingConf(conf) {
        (canon +: canon.subqueriesAll).map(
          _.treeString(true, false, Int.MaxValue, false, false))
      }
      Some(digest(Seq(m.materialization.toString, df.schema.json,
        spark.sessionState.conf.getAllConfs.toSeq.sorted.mkString("\n")) ++
        rendered ++ leaves.flatten))
    }
  } catch { case NonFatal(_) => None }
}

object DagRunner {

  /** A file as (path, length, mtime). */
  private type FileId = (String, Long, Long)

  /** What this JVM's last publish of a table left: the skip key of the
    * run that wrote it (None: a run that may not be skipped) and the
    * table's files right after the commit.
    */
  private final case class Published(key: Option[String], files: Seq[FileId])

  /** Per table path. Bounded like [[graft.core.Staged]]'s schema memo:
    * past [[PublishedMax]] entries it is cleared wholesale (a miss
    * costs one rebuild).
    */
  private val PublishedMax = 512
  private val published =
    new java.util.concurrent.ConcurrentHashMap[String, Published]()
  private def record(path: String, p: Published): Unit = {
    if (published.size() > PublishedMax) published.clear()
    published.put(path, p)
    ()
  }

  /** A batch file scan, described by everything that decides its rows;
    * None for any other leaf.
    */
  private def fileLeaf(l: LeafNode): Option[String] = l match {
    case LogicalRelation(h: HadoopFsRelation, _, _, false, _) =>
      h.location match {
        case index: PartitioningAwareFileIndex =>
          val files = index.allFiles()
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          Some(Seq(h.fileFormat.toString, h.options.toSeq.sorted.toString,
            h.dataSchema.json, h.partitionSchema.json, h.bucketSpec.toString,
            files.sorted.toString).mkString("\n"))
        case _ => None
      }
    case _ => None
  }

  /** A UDF, a closure-backed aggregate or object, a non-deterministic
    * expression or one that reads the clock.
    */
  private def opaqueExpr(e: Expression): Boolean = e match {
    case _: UserDefinedExpression | _: UserDefinedGenerator |
        _: TypedAggregateExpression => true
    case Literal(_, _: ObjectType) => true
    case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime => true
    case _ => !e.deterministic
  }

  private def digest(parts: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\u0000").getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}

package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Mirrors the reference's session settings (UTC everywhere, ANSI off so
  * casts behave like BigQuery SAFE_CAST-adjacent semantics; see
  * reference `src/historical_bucket_to_bq.py:31-47`) while sizing shuffle
  * parallelism for the actual cluster rather than the 200 default.
  */
object GraftSession {

  /** The engine's session conf: every session builder applies this one
    * map ([[local]], which Bench, Verify, the probes and the specs use),
    * and [[configure]] applies its runtime-settable part to a session
    * built elsewhere. Shuffle partitions are sized from the core count
    * by [[local]].
    */
  val conf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // parallelismFirst stays at its default (true): with the 1 MB
    // minPartitionSize floor, KB-sized shuffles already coalesce to a
    // couple of tasks, while `false` would also collapse WORK-BOUND
    // shuffles to advisory-size (64 MB) chunks — measured +35% on the
    // shingle-join queries at sf0.1 when only 3-4 of 32 cores stayed
    // busy.
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Bounded-probe collects (limit(cap+1) on pruned scans — the
    // incremental-dedup candidate probe, the duplicate-pair cap
    // probe) should cost ONE scheduler round: the default
    // initialNumPartitions=1 escalates 1→4→16… jobs to fill a limit,
    // which at probe scale is pure round-trip latency. 64 covers the
    // session's 32-partition shuffles in one pass; per-partition
    // early termination still applies, so a selective LIMIT over a
    // huge scan does no extra WORK, it just schedules wider.
    "spark.sql.limit.initialNumPartitions" -> "64",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.ui.enabled" -> "false",
    // Generated-class cache (STATIC conf, default 100 entries): a
    // session serving a whole workload (the 155-gate bench loop, or
    // any long-lived production driver) carries far more than 100
    // distinct codegen units, so the default thrashes — every query
    // re-pays janino compilation (~10-50 ms per unit) on every
    // execution. 4096 keeps each plan's classes resident for the
    // session's lifetime at negligible heap cost.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // 64 MB broadcast threshold (vs the 10 MB default): any executor
    // profile this engine targets (≥4 GB heap) holds a 64 MB hash
    // relation comfortably, and replacing a shuffle exchange with a
    // broadcast removes a whole stage boundary. Joins above the
    // threshold still shuffle — the 100 TB fact⋈fact path is unchanged.
    "spark.sql.autoBroadcastJoinThreshold" -> s"${64 * 1024 * 1024}",
    // RocksDB state store: streaming state (dedup keys, window aggs,
    // custom state) lives off-heap and spills to local disk instead of
    // filling executor heap — the difference between "state fits this
    // hour" and "state fits forever" on a 24/7 pipeline. Changelog
    // checkpointing uploads per-batch deltas rather than full SST
    // snapshots, keeping checkpoint cost proportional to churn.
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    // InferFiltersFromGenerate adds `size(e)>0 AND isnotnull(e)` above
    // every explode and pushdown re-substitutes the array expression
    // into both conjuncts — our exploded arrays are computed (shingles,
    // band keys, tokens), so the map stage would evaluate the expensive
    // expression 3x per row (measured: +50% on the shingle-join path).
    // The rule is a pure pre-generate pruning optimization (Generate
    // itself drops null/empty arrays), and our generators never produce
    // them by construction, so exclusion trades nothing for the win.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** Build a local session. `cores` drives both the master thread count
    * and `spark.sql.shuffle.partitions` — at 100 TB on a real cluster the
    * same builder is used minus `.master`, with shuffle partitions sized
    * ~2-3x total executor cores (AQE coalesces the rest). [[conf]] wins
    * over `extraConf` on a shared key.
    */
  def local(appName: String = "graft", cores: Int = 32,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
    (extraConf ++ conf + ("spark.sql.shuffle.partitions" -> cores.toString))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply every runtime-settable entry of [[conf]] to a session built
    * elsewhere (the session a caller passes to `SparkEntry.entry`).
    * Static entries only take effect at build time. Idempotent.
    */
  def configure(spark: SparkSession): SparkSession = {
    conf.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) spark.conf.set(k, v)
    }
    spark
  }

  /** Core count from `SPARK_GRAFT_CPUS` (32 when unset). A value that is
    * not a positive integer fails here, naming the variable, instead of
    * as a malformed `local[...]` master.
    */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(32) { v =>
      val n = v.toIntOption
      require(n.exists(_ > 0),
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n.get
    }
}

package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: assign documents to fixed-token-budget training
  * sequences — the step between curation and tokenization in a
  * pretraining pipeline.
  *
  * Strategy is streaming first-fit in id order WITHIN each `byCol` group:
  * `seq_id = floor(exclusive-cumsum / budget)`. A real pretraining corpus
  * has O(10) sources of multi-TB size, so a cumsum windowed on `byCol`
  * alone would sort an entire source in ONE task. Instead the cumsum is
  * two-level:
  *
  *   1. rows are bucketed by an id-monotone shard key
  *      (`idCol div shardWidth` by default, or a caller-supplied
  *      ingest-shard expression that is non-decreasing in `idCol`);
  *      the within-shard cumsum windows on (byCol, shard) — thousands
  *      of bounded tasks instead of one per source;
  *   2. per-(source, shard) token totals (a tiny relation: #sources ×
  *      #shards rows) get an exclusive prefix-sum over shards — the only
  *      per-source single-task window left runs over shard COUNTS, not
  *      rows — and are broadcast back as per-shard offsets.
  *
  * cum_tokens = shard offset + within-shard cumsum, bit-identical to the
  * single-window formulation (PackingSpec proves it), deterministic, and
  * no window partition ever spans a full source.
  */
object Packing {

  /** Assign each row of `df` a `seq_id` (see the object doc).
    * Precondition: `nTokensCol` is non-negative, as token counts are.
    * Each shard's total is read off its within-shard cumsum's maximum,
    * which equals the sum only for non-negative counts; a negative count
    * would silently shift the offsets of every later shard instead of
    * failing. Not checked here: a check would cost a pass over `df`.
    */
  def packSequences(df: DataFrame, budgetTokens: Long,
      byCol: String = "source", idCol: String = "doc_id",
      nTokensCol: String = "n_tokens",
      shardWidth: Long = 1L << 20,
      shardExpr: Option[String] = None): DataFrame = {
    // `div 0` would silently NULL every seq_id instead of failing
    require(budgetTokens > 0, s"budgetTokens must be > 0, got $budgetTokens")
    require(shardWidth > 0, s"shardWidth must be > 0, got $shardWidth")
    // the shard key must be non-decreasing in idCol or the cross-shard
    // prefix order breaks; the default id-range bucket is monotone by
    // construction, a caller-supplied ingest-shard key must be too
    val shard = shardExpr.getOrElse(s"$idCol div ${shardWidth}L")
    val sharded = df.withColumn("_shard", expr(shard))
    val wIn = Window.partitionBy(byCol, "_shard").orderBy(idCol)
    val inShard = sharded.withColumn("_cum_in", sum(col(nTokensCol)).over(wIn))
    // exclusive prefix of shard totals: offsets relation is #byCol×#shards
    // rows (driver-broadcast-size at 100 TB: ~10 sources × ~10k shards).
    // Aggregated from the WINDOW OUTPUT, not from `sharded`: the window
    // already hash-partitioned the rows on exactly (byCol, _shard), so
    // this groupBy rides that same exchange (guide §2.4 — consecutive
    // operations keyed the same way need one exchange) and the join
    // probe side below reuses it too — ONE evaluation of the corpus
    // upstream instead of two, one exchange instead of two. The group
    // total is read off the cumsum's maximum (its last value), which
    // keeps `_cum_in` referenced — aggregating sum(nTokensCol) here
    // would let column pruning drop `_cum_in`, erase the window from
    // this branch, and re-derive the whole upstream a second time
    // (observed: the pruned branch re-scanned and re-tokenized the
    // corpus). max == sum requires the cumsum to be non-decreasing,
    // i.e. token counts ≥ 0 — counts by contract; PackingSpec pins
    // bit-equality with the single-window formulation.
    val wSh = Window.partitionBy(byCol).orderBy("_shard")
    val offsets = inShard.groupBy(col(byCol), col("_shard"))
      .agg(max(col("_cum_in")).as("_shard_tokens"))
      .withColumn("_offset",
        sum(col("_shard_tokens")).over(wSh) - col("_shard_tokens"))
      .select(col(byCol).as("_by_off"), col("_shard").as("_shard_off"),
        col("_offset"))
    // null-SAFE keys: groupBy above keeps a NULL source / NULL-id shard
    // as its own group, and `<=>` re-attaches its offset instead of
    // silently dropping those rows as a plain equi-join would
    inShard.join(broadcast(offsets),
        col(byCol) <=> col("_by_off") && col("_shard") <=> col("_shard_off"))
      .drop("_by_off", "_shard_off")
      .withColumn("cum_tokens", col("_offset") + col("_cum_in"))
      // exclusive cumsum: a document starts the sequence its own tokens
      // begin in; `div` keeps the arithmetic integral end-to-end
      .withColumn("seq_id",
        expr(s"(cum_tokens - $nTokensCol) div ${budgetTokens}L"))
      .drop("_shard", "_cum_in", "_offset")
  }
}

package graft.core

import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame

/** Block-manager hygiene helpers shared by the long-lived lifecycle
  * operators (BPE training loops, IVF index maintenance).
  */
object CacheUtil {

  /** Free the block-manager state behind a localCheckpoint'ed Dataset.
    * `Dataset.unpersist()` only drops CacheManager entries; the
    * checkpoint's RDD blocks live on the RDD itself, reachable through
    * the `LogicalRDD` leaf the checkpoint returned. Without an explicit
    * free, every eager checkpoint in a maintenance loop pins its rows
    * in storage memory until the session ends (ContextCleaner only
    * reclaims them after the Dataset is GC'd). Falls back to
    * ContextCleaner GC if the plan shape ever changes.
    */
  def freeCheckpoint(df: DataFrame): Unit =
    // best effort: ContextCleaner still frees the blocks if this fails
    try df.queryExecution.logical.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    } catch { case NonFatal(_) => () }
}

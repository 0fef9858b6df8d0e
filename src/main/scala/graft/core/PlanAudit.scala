package graft.core

import org.apache.spark.sql.DataFrame

/** Physical-plan operator counts for the PLANS.md audit — shared by
  * `graft.Explain` (whole gate queries) and the imperative pipelines
  * that note their internal stages under [[StageCounts]]: a pipeline
  * like `IncrementalDedup.addDelivery` runs several materializations
  * the top-level query plan never shows, and the audit table would
  * otherwise record its post-admission read (one parquet scan) as if
  * that were the work. [[counts]] renders the FULL formatted physical
  * plan — tens of milliseconds per multi-join tree — so pipelines note
  * stages only under `if (Trace.auditing)` (`graft.Explain`).
  */
object PlanAudit {

  /** One audited stage of an imperative pipeline: (name, [[counts]]). */
  val StageCounts = Trace.Key[(String, (Int, Int, Int))]("plan.stage")

  /** Note each named stage's [[counts]] under [[StageCounts]]. */
  def noteStages(stages: Seq[(String, DataFrame)]): Unit =
    stages.foreach { case (name, df) =>
      Trace.note(StageCounts, name -> counts(df))
    }

  /** (shuffles, broadcasts, parquet scans) of `df`'s physical plan. */
  def counts(df: DataFrame): (Int, Int, Int) = {
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // count operators in the tree section only (the formatted detail
    // section repeats every node name)
    val tree = plan.split("\n\n").headOption.getOrElse(plan)
    ("""[+:]- Exchange""".r.findAllIn(tree).size,
      "BroadcastExchange".r.findAllIn(tree).size,
      "Scan parquet".r.findAllIn(tree).size)
  }
}

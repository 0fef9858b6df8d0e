package graft

/** Plan inspection: `runMain graft.Explain <sfDir> [query ...]` prints the
  * formatted physical plan per query (all queries when none named) plus a
  * one-line shuffle/broadcast/scan summary — the feedback loop for the
  * "would this plan survive 100×?" review.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // --executed: run the query (noop sink) FIRST and print the final
    // adaptive plan — the only rendering that shows what actually ran
    // (ReusedExchange / table-cache hits / AQE join rewrites), which the
    // pre-execution dump structurally cannot (AQE reuses stages at
    // runtime, so static Exchange-node counts overstate the work)
    val executed = args.contains("--executed")
    val rest = args.drop(1).filterNot(_ == "--executed").toSeq
    val names = if (rest.nonEmpty) rest
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.GraftSession.local("graft-explain",
      cores = graft.core.GraftSession.cpus())
    names.foreach { name =>
      // under an audit, imperative pipelines (addDelivery et al.) note
      // their per-stage plan shapes, which they skip otherwise
      val (df, notes) = graft.core.Trace.audit {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (executed) {
          // run THIS QueryExecution's plan (a noop write would build its
          // own QueryExecution and leave df's AdaptiveSparkPlan unfinalized)
          df.queryExecution.toRdd.foreach(_ => ())
        }
        df
      }
      val plan =
        if (executed) df.queryExecution.executedPlan.toString
        else df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      val (shuffles, bcasts, scans) = graft.core.PlanAudit.counts(df)
      println(s"\n########## $name  [shuffles=$shuffles broadcasts=$bcasts scans=$scans]")
      // one audit row per noted imperative stage, so the table shows
      // what actually shuffles, not just the post-admission read
      notes(graft.core.PlanAudit.StageCounts).foreach {
        case (stage, (s, b, p)) =>
          println(s"########## $name/$stage  [shuffles=$s broadcasts=$b scans=$p]")
      }
      println(plan)
      spark.catalog.clearCache() // executed persists must not leak across gates
    }
    spark.stop()
  }
}

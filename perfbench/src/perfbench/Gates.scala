package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `relational` and `llm` workloads: passes over a fixed, sorted set
  * of `SparkEntry.queries` gates on the read-only sf0.1 tables. Each gate
  * call is one operation: the builder call, then a noop write that
  * evaluates every output column, then the cache is cleared.
  */
final class Gates(spark: SparkSession, dir: String, names: Seq[String],
    override val minPasses: Int = 3) extends Workload {
  private type Gate = (SparkSession, String) => DataFrame
  private val gates: Seq[(String, Gate)] = names.sorted.map(n => n -> graft.SparkEntry.queries(n))
  private val expected = Fingerprint.load(Fingerprint.DefaultPath)
  private val firstCallS = mutable.Map.empty[String, Double]

  def opsPerPass: Int = gates.size

  private def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def untracedOp(name: String, gate: Gate): Sample = {
    val t0 = System.nanoTime()
    val ok =
      try { execute(gate(spark, dir)); true }
      catch { case e: Exception => Gates.report(name, e); false }
    val dt = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    Sample(name, dt, ok)
  }

  /** Two untimed passes. In the first, cold, each gate's first call is
    * timed like a timed operation (builder call and noop write); its
    * result is then fingerprinted, outside that time, and checked against
    * the record. The second is a plain noop pass.
    */
  def warmup(): Unit = {
    var checkS = 0.0
    gates.foreach { case (n, g) =>
      val t0 = System.nanoTime()
      val df =
        try { val d = g(spark, dir); execute(d); Some(d) }
        catch { case e: Exception => Gates.report(n, e); None }
      val t1 = System.nanoTime()
      firstCallS(n) = (t1 - t0) / 1e9
      if (!df.exists(matchesRecord(n, _))) checkFailed += n
      checkS += (System.nanoTime() - t1) / 1e9
      spark.catalog.clearCache()
    }
    Warmup.log(1, firstCallS.values.sum)
    System.err.println(f"PERFBENCH output check: $checkS%.3f s")
    Warmup.log(2, gates.map { case (n, g) => untracedOp(n, g).seconds }.sum)
  }

  def pass(tr: Tracing): Pass = {
    val t0 = System.nanoTime()
    if (tr == null) {
      val samples = gates.map { case (n, g) => untracedOp(n, g) }
      Pass((System.nanoTime() - t0) / 1e9, samples)
    } else {
      val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val samples = gates.map { case (n, g) => tracedOp(tr, n, g, layers) }
      val wall = (System.nanoTime() - t0) / 1e9
      layers("exec.busy_ratio") = layers("exec.task_ms") / (wall * 1000 * tr.cores)
      Pass(wall, samples, layers.toMap)
    }
  }

  /** One gate under the trace: spans queries.build (the builder call,
    * with any eager staging inside it), catalyst (the analysis,
    * optimization and planning phases of the write's query) and exec
    * (from the end of planning to the write's return). Their sum must
    * reconcile with the operation's wall time; the residual is kept on
    * the operation span.
    */
  private def tracedOp(tr: Tracing, name: String, gate: Gate,
      layers: mutable.Map[String, Double]): Sample = {
    val sc = spark.sparkContext
    val op = tr.trace.open(tr.pass, name)
    val build = tr.trace.open(op, "queries.build")
    var ok = true
    val df = try gate(spark, dir) catch { case e: Exception => Gates.report(name, e); ok = false; null }
    tr.trace.close(build)
    if (df != null)
      try execute(df) catch { case e: Exception => Gates.report(name, e); ok = false }
    tr.trace.close(op)
    // the write wraps the frame in a command whose analysis is recorded
    // into the frame's own tracker, from the write call on
    val commandAnalysisMs = Option(df).flatMap(_.queryExecution.tracker.phases.get("analysis"))
      .map(p => math.max(0.0, p.endTimeMs - build.endMs)).getOrElse(0.0)
    val leaked = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
    spark.catalog.clearCache()
    val work = tr.listener.take(sc)

    val writeQuery = work.queries.filter(_.firstStartMs >= math.floor(build.endMs))
      .sortBy(_.firstStartMs).headOption
    val planEnd = writeQuery.map(_.lastEndMs.toDouble).getOrElse(build.endMs)
    val catalyst = tr.trace.close(tr.trace.open(op, "catalyst", build.endMs), planEnd)
    val exec = tr.trace.close(tr.trace.open(op, "exec", planEnd), op.endMs)
    Layers.jobSpans(tr.trace, work, op, Seq(build, catalyst, exec))

    val c = Layers.counters(work, op)
    // planning inside the builder belongs to queries.build
    Seq("analyze" -> "analysis", "optimize" -> "optimization", "plan" -> "planning")
      .foreach { case (k, phase) =>
        c(s"catalyst.${k}_ms") = writeQuery.map(_.phaseMs(phase)).getOrElse(0.0) }
    c("catalyst.analyze_ms") += commandAnalysisMs
    val catalystMs = Seq("analyze", "optimize", "plan").map(k => c(s"catalyst.${k}_ms")).sum
    c("queries.build_ms") = build.ms
    c("queries.build_jobs") = work.jobs.count(_.startMs < build.endMs)
    c("exec.jobs") = work.jobs.size - c("queries.build_jobs")
    c("cache.leaked_bytes") = leaked
    // rows of the gate's result, as the write committed them
    c("output.rows") = work.queries.filter(_.firstStartMs >= math.floor(build.endMs))
      .map(_.rowsWritten).sum.toDouble
    if (Gates.IndexMaintenance(name)) c("index.driver_gap_ms") = c("exec.driver_gap_ms")
    val residual = op.ms - build.ms - catalystMs - exec.ms
    val reconciled = writeQuery.isDefined && math.abs(residual) <= math.max(5.0, 0.05 * op.ms)
    c("trace.unreconciled_ops") = if (reconciled) 0 else 1
    c.foreach { case (k, v) => op.attrs(k) = v; layers(k) += v }
    op.attrs("trace.residual_ms") = residual
    Sample(name, op.ms / 1000, ok)
  }

  override def finalLayers(passes: Seq[Pass]): Map[String, Double] = {
    val timed = passes.flatMap(_.samples).groupBy(_.name)
    Map("setup.first_call_excess_ms" -> firstCallS.map { case (n, first) =>
      1000 * (first - Stats.median(timed(n).map(_.seconds)))
    }.sum)
  }

  private val checkFailed = mutable.Set.empty[String]

  private def matchesRecord(name: String, df: DataFrame): Boolean =
    try {
      val got = Fingerprint.of(df)
      val want = expected.get(name)
      if (!want.contains(got))
        System.err.println(s"CHECK FAILED $name: got $got, want ${want.getOrElse("no record")}")
      want.contains(got)
    } catch { case e: Exception => Gates.report(name, e); false }

  def check(): (Int, Int) = (gates.size, checkFailed.size)
}

object Gates {
  /** The workloads' gate subsets, chosen by perfbench/select_gates.py
    * from a traced survey over every gate of the family (73 gates not
    * prefixed `x_`, 93 prefixed `x_`): `llm` holds the index-maintenance
    * gates, and each workload a sample of its other gates, one per
    * stratum of warm wall time, swapped within strata until the sample's
    * time composition matches theirs. The survey and the comparison are
    * in perfbench/baseline/.
    */
  val Relational: Seq[String] = Seq(
    "a12_set_ops", "a14_exists_subquery", "a2_countif", "a5_group_by_ordinal",
    "a8_event_dedup", "d7_schema_tests", "j7_asof_join", "p4_null_drop",
    "p6_incremental_composite", "s_schema_drift_nested", "st_hopping_window",
    "st_rate_intake", "st_simhash_dedup", "st_tumbling_window",
    "tpch_q20_excess_stock", "tpch_q9_product_profit")

  val Llm: Seq[String] = Seq(
    "x_ann_recall_maintained", "x_bpe_encode", "x_cosine_ann_ivf_append",
    "x_fingerprint", "x_image_phash", "x_incremental_dedup_pruned", "x_psi_drift",
    "x_substring_dedup", "x_token_budget_mix")

  /** Gates that maintain an index on disk (FORCED in select_gates.py);
    * `index.driver_gap_ms` is the driver gap summed over them.
    */
  val IndexMaintenance: Set[String] = Set(
    "x_ann_recall_maintained", "x_cosine_ann_ivf_append", "x_incremental_dedup_pruned")

  def report(name: String, e: Throwable): Unit =
    System.err.println(s"OPERATION FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
}

/** Warm-up is a fixed two passes: for the gates the cold pass with the
  * output check and one noop pass, for the pipeline the full refresh and
  * one delivery. On a 4-core box
  * pass totals keep falling for five passes and more (JIT), so waiting
  * for them to settle would not fit the benchmark's time budget; every run
  * instead times its passes at the same point of warmth and reports
  * medians.
  */
object Warmup {
  def log(pass: Int, seconds: Double): Unit =
    System.err.println(f"PERFBENCH warm-up pass $pass: $seconds%.3f s")
}

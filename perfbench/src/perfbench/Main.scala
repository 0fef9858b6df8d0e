package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation's latency sample: its name, seconds, and whether it ran
  * without throwing.
  */
final case class Sample(name: String, seconds: Double, ok: Boolean)

/** One pass of a workload: its wall time, its operation samples, the
  * per-layer counters summed over its operations when traced, and the
  * operations it ran outside the latency samples.
  */
final case class Pass(seconds: Double, samples: Seq[Sample],
    layers: Map[String, Double] = Map.empty, unsampled: Seq[Sample] = Nil) {
  def ops: Seq[Sample] = samples ++ unsampled
}

/** What a traced pass records into. */
final class Tracing(val trace: Trace, val listener: SparkWorkListener, val cores: Int) {
  var pass: Span = _
}

trait Workload {
  /** Operations per timed pass whose latencies are sampled. */
  def opsPerPass: Int
  /** Timed passes a run makes at least, whatever --seconds says. */
  def minPasses: Int = 3
  /** Untimed warm-up passes ([[Warmup]]); the output check runs in them. */
  def warmup(): Unit
  /** One timed pass; `tracing` is null in an untraced pass. */
  def pass(tracing: Tracing): Pass
  /** The output check's (operations checked, operations failed). */
  def check(): (Int, Int)
  /** Untimed work the timed passes build on, run just before them. */
  def beforeTimed(tracing: Tracing): Pass = Pass(0, Nil)
  /** Per-layer counters known only once the timed passes are done. */
  def finalLayers(passes: Seq[Pass]): Map[String, Double] = Map.empty
}

/** Runs one workload closed-loop with a single client:
  *
  *   --workload relational|llm|gbfs_pipeline --seed N --seconds S
  *   --trace 0|1 --data <sf0.1 dir> --run-dir <scratch> --trace-dir <dir>
  *   [--gates all]
  *
  * Prints the result object as the last stdout line. With --trace 1,
  * passes alternate untraced/traced, the traced ones record spans into
  * <trace-dir>/<workload>-<seed>.spans.jsonl, and the result carries the
  * per-layer metrics.
  */
object Main {

  /** (name, unit) of each metric of a BENCHMARK.json section, in order. */
  def declared(section: String): Seq[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCHMARK.json")).get(section)
    (0 until root.size).map(i => root.get(i).get("name").asText -> root.get(i).get("unit").asText)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val runDir = opt("run-dir")
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // `--gates all` runs every gate of the workload's family instead of its
    // subset: the survey the subsets are chosen from (select_gates.py)
    def gateSet(subset: Seq[String], family: String => Boolean): Seq[String] =
      opts.get("gates") match {
        case None => subset
        case Some("all") => graft.SparkEntry.queries.keys.filter(family).toSeq
        case Some(other) => sys.error(s"--gates takes only 'all', not $other")
      }

    val spark = graft.core.GraftSession.local("perfbench", cores = cores,
      extraConf = Map("spark.local.dir" -> s"$runDir/spark-local"))
    spark.sparkContext.setLogLevel("ERROR")
    val workload: Workload = workloadName match {
      case "relational" => new Gates(spark, opt("data"), gateSet(Gates.Relational, !_.startsWith("x_")))
      // the index gates stall now and then on disk writes: the median of
      // four passes stands one stalled pass
      case "llm" => new Gates(spark, opt("data"), gateSet(Gates.Llm, _.startsWith("x_")), minPasses = 4)
      case "gbfs_pipeline" => new GbfsPipeline(spark, s"$runDir/gbfs", seed)
      case other => sys.error(s"unknown workload $other")
    }

    def progress(what: String): Unit = System.err.println(
      f"PERFBENCH ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s: $what")
    progress("session started")
    workload.warmup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val trace = new Trace
    val root = trace.open(null, workloadName)
    val tracing = new Tracing(trace, new SparkWorkListener, cores)
    def tracedPass(f: => Pass): Pass = {
      tracing.listener.attach(spark)
      try f finally tracing.listener.detach(spark)
    }
    val before =
      if (!traced) workload.beforeTimed(null)
      else tracedPass {
        tracing.pass = trace.open(root, "before timed passes")
        try workload.beforeTimed(tracing) finally trace.close(tracing.pass)
      }
    val passes = mutable.ArrayBuffer.empty[(Boolean, Pass)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minPasses = if (traced) 2 * workload.minPasses else workload.minPasses
    while (passes.size < minPasses || elapsed < seconds) {
      // traced runs alternate, so both sides see the same JVM warmth
      val isTraced = traced && passes.size % 2 == 1
      val p =
        if (!isTraced) workload.pass(null)
        else tracedPass {
          tracing.pass = trace.open(root, s"pass ${passes.size}")
          try workload.pass(tracing) finally trace.close(tracing.pass)
        }
      passes += isTraced -> p
      progress(f"timed pass ${passes.size}${if (isTraced) " (traced)" else ""}: ${p.seconds}%.3f s " +
        p.samples.map(s => f"${s.name}=${s.seconds}%.3f").mkString(" "))
    }
    trace.close(root)

    val (checked, checkFailed) = workload.check()
    val untraced = passes.collect { case (false, p) => p }
    val samples = untraced.flatMap(_.samples)
    val ran = before +: passes.map(_._2).toSeq
    val timedFailed = ran.map(_.ops.count(!_.ok)).sum
    val attempted = ran.map(_.ops.size).sum + checked
    val failed = timedFailed + checkFailed
    val tailP = Stats.tailPercentile(workload.opsPerPass * workload.minPasses)
    val secs = samples.map(_.seconds)
    println(f"op_tail_s is p$tailP over ${secs.size} samples " +
      f"(${untraced.size} untraced passes of ${workload.opsPerPass} operations)")

    val values: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> setupS,
        "pass_s" -> Stats.median(untraced.map(_.seconds)),
        "op_p50_s" -> Stats.hdQuantile(secs, 0.5),
        "op_tail_s" -> Stats.hdQuantile(secs, tailP / 100.0),
        "peak_rss_mb" -> Stats.peakRssMb())
      else {
        val tracedPasses = passes.collect { case (true, p) => p }
        val path = s"${opt("trace-dir")}/$workloadName-$seed.spans.jsonl"
        trace.write(path)
        println(s"spans written to $path")
        // a layer no traced pass reached reads 0
        declared("per_layer").map { case (k, _) =>
          k -> Stats.median(tracedPasses.map(_.layers.getOrElse(k, 0.0))) }.toMap ++
          before.layers ++ workload.finalLayers(passes.map(_._2).toSeq) +
          ("trace.overhead_ms" -> 1000 * (Stats.median(tracedPasses.map(_.seconds)) -
            Stats.median(untraced.map(_.seconds))))
      }
    val metrics = declared(if (traced) "per_layer" else "end_to_end")
      .map { case (k, unit) => (k, values(k), unit) }

    val ms = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
    System.out.flush()
    // halt, not exit: Spark's shutdown hooks delete every temp dir the run
    // registered one `rm -rf` process at a time (10+ s after a streaming
    // run), and run.py deletes the whole run directory anyway
    Runtime.getRuntime.halt(0)
  }
}

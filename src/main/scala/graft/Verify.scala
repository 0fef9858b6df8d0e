package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The dumped session: [[graft.core.GraftSession.local]], so Verify,
    * Bench and the specs run one engine conf. */
  private[graft] def session(cpus: Int): SparkSession =
    graft.core.GraftSession.local("graft-verify", cores = cpus)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query names (local iteration only;
    // the driver always runs the full set)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = session(graft.core.GraftSession.cpus())
    new java.io.File(outDir).mkdirs()
    // A query that throws must surface as a RED row in the driver's
    // compare, never as an omission: write a sentinel single-row parquet
    // (schema/hash/rows all mismatch any real oracle), record the error,
    // and exit nonzero so a partial run can't read as all-green.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg.take(500)
        try {
          import spark.implicits._
          Seq(("QUERY_FAILED: " + msg.take(500)))
            .toDF("__graft_query_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    // bench-time oracle splits for staged-state gates (setup = untimed
    // training into temp tables, query = the timed scoring pass);
    // consumed by tools/duckdb_baseline.py, which self-checks each
    // split against the full oracle before timing with it
    val benchJson = SparkEntry.oracleBenchSql
      .map { case (k, bo) =>
        val setup = bo.setup.map(q).mkString("[", ",", "]")
        s"${q(k)}: {${q("setup")}: $setup, ${q("query")}: ${q(bo.query)}}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_bench.json"), benchJson)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}

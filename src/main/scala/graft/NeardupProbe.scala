package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextAnalysis}

/** Stage decomposition of x_neardup_survivors for the scale curve:
  * `runMain graft.NeardupProbe [sfDir] [workDir]` times the candidates /
  * +verify / +CC+anti-join prefixes AND counts per-stage rows at 1×, 3×,
  * and 10× corpus scale (derived corpora via `ScaleCurve.buildCorpus`).
  *
  * The claim under probe: the tail above candidate generation (CC label
  * pass + survivor anti-join) is linear in the PLANTED EDGE set — which
  * grows exactly with the corpus multiple, since every distinct doc
  * contributes one planted triplet — not in doc pairs. Three points
  * separate "linear in edges" from "quadratic in docs" where two-point
  * prose could not; PLANS.md records the table.
  */
object NeardupProbe {
  private def time(f: => DataFrame): Double = {
    f.write.format("noop").mode("overwrite").save() // warm
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    ts.min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scale")
    val spark = graft.core.GraftSession.local("neardup-probe",
      graft.core.GraftSession.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"scale"}%-5s ${"stage"}%-7s ${"min(s)"}%7s  rows")
    for (mult <- Seq(1, 3, 10)) {
      val dir =
        if (mult == 1) sfDir
        else ScaleCurve.buildCorpus(spark, sfDir, mult, workDir, reuse = true)
      def state0 = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id").as("id"),
          Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("arr"))
        .withColumn("sig", Dedup.minhashSignature(col("arr"), 32))
      def rekey(off: Long) = state0.select(
        (col("id") + off).as("id"), col("arr"), col("sig"))
      def state = state0.union(rekey(1000000000L)).union(rekey(2000000000L))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def run(stage: String): DataFrame = {
        val st = state
        val cands = Dedup.minhashCandidatesFromSigs(st.select("id", "sig"))
        stage match {
          case "cands" => cands
          case "verify" => Dedup.verifyJaccardFromShingles(cands, st)
            .filter(col("jaccard") >= 1.0)
          case _ =>
            val pairs = Dedup.verifyJaccardFromShingles(cands, st)
              .filter(col("jaccard") >= 1.0)
            val losers = Dedup.duplicateClusters(pairs)
              .filter(col("id") =!= col("cluster_id")).select("id")
            st.select("id").join(losers, Seq("id"), "left_anti")
        }
      }
      for (stage <- Seq("cands", "verify", "full")) {
        val t = time(run(stage))
        val rows = run(stage).count()
        spark.catalog.clearCache()
        println(f"NEARDUP x$mult%-4d $stage%-7s $t%7.3f  $rows%d")
      }
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{CurationPipeline, Dedup, Sampling, TextAnalysis}

/** Stage decomposition of the end-to-end curation pipeline for the scale
  * curve: `runMain graft.CurationProbe [sfDir] [workDir]` times the
  * gated / exact-dedup / candidates / verified-pairs / full prefixes AND
  * counts per-stage rows at 1×, 3×, and 10× corpus scale (derived
  * corpora via `ScaleCurve.buildCorpus`, same dirs as NeardupProbe).
  *
  * The claim under probe: every stage's row count is linear in the
  * corpus multiple — the quality gates are a pure map, exact dedup is
  * one hash shuffle, and the near-dup tail (candidates → verify → CC →
  * anti-join) is proportional to the duplicate-pair set, which the
  * derived corpora grow linearly (each replica's tokens are suffixed,
  * so replicas never pair across — duplication stays within-replica).
  * Three points separate "linear" from "quadratic in docs" where a
  * two-point A/B could not; PLANS.md records the table.
  */
object CurationProbe {
  // by-VALUE: one plan is built per stage and re-executed; a by-name
  // parameter would rebuild the plan per pass, re-registering (and
  // re-materializing) the persisted signature state each time —
  // inflating probe memory and folding re-caching cost into the timings
  private def time(df: DataFrame): Double = {
    df.write.format("noop").mode("overwrite").save() // warm
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    ts.min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scale")
    val spark = graft.core.GraftSession.local("curation-probe",
      graft.core.GraftSession.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = CurationPipeline.Config() // production defaults, 0.8 near-dup
    println(f"${"scale"}%-5s ${"stage"}%-7s ${"min(s)"}%7s  rows")
    for (mult <- Seq(1, 3, 10)) {
      val dir =
        if (mult == 1) sfDir
        else ScaleCurve.buildCorpus(spark, sfDir, mult, workDir, reuse = true)
      // the same stage prefixes curate() wires, addressable individually
      def docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("source"))
      def gated = {
        val scored = TextAnalysis.textStats(docs)
          .withColumn("quality", TextAnalysis.qualityScore(
            col("n_tokens"), col("stopword_ratio")))
          .withColumn("predicted_lang", TextAnalysis.langId(col("text")))
          .drop("char_count", "avg_token_len", "stopword_ratio")
        scored.filter(col("quality") >= cfg.minQuality)
      }
      def exact = Dedup.dropExactDuplicates(gated, "text", "doc_id")
      val state = exact.select(col("doc_id").as("id"),
          Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("arr"))
        .withColumn("sig", Dedup.minhashSignature(col("arr"), 32))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def run(stage: String): DataFrame = stage match {
        case "gated" => gated
        case "exact" => exact
        case "cands" =>
          Dedup.minhashCandidatesFromSigs(state.select("id", "sig"))
            .filter(col("est_jaccard") >= cfg.nearDupJaccard / 2)
        case "pairs" =>
          Dedup.verifyJaccardFromShingles(
            Dedup.minhashCandidatesFromSigs(state.select("id", "sig"))
              .filter(col("est_jaccard") >= cfg.nearDupJaccard / 2), state)
            .filter(col("jaccard") >= cfg.nearDupJaccard)
        case _ => CurationPipeline.curate(docs, cfg)
      }
      for (stage <- Seq("gated", "exact", "cands", "pairs", "full")) {
        val df = run(stage) // ONE plan per stage, timed and counted
        val t = time(df)
        val rows = df.count()
        println(f"CURATE x$mult%-4d $stage%-7s $t%7.3f  $rows%d")
      }
      state.unpersist(blocking = true)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

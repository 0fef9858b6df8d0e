package graft

import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Diagnostic main: measured recall@k of the LSH and IVF ANN paths vs
  * brute force on the synthetic embeddings, at each scale factor given
  * on the command line. Used to pin the `x_ann_recall` gate's floors —
  * re-run after retuning nBits/nTables/nProbe to see what contract the
  * new settings can sign.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.local("graft-recall-probe",
      graft.core.GraftSession.cpus())
    for (dir <- dirs) {
      val e = graft.sources.Tables.embeddings(spark, dir)
      val q = e.filter(col("vec_id") < 8)
      val k = 10
      val exact = Similarity.bruteForceTopK(e, q, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val variants = Seq(
        "lsh-6x8" -> Similarity.lshTopK(e, q, k, nBits = 6, nTables = 8),
        "lsh-4x16" -> Similarity.lshTopK(e, q, k, nBits = 4, nTables = 16),
        "lsh-3x24" -> Similarity.lshTopK(e, q, k, nBits = 3, nTables = 24),
        "ivf-p4" -> Similarity.ivfTopK(e, q, k, nCentroids = 16, nProbe = 4,
          pretrained = Some(graft.queries.LlmQueries.pseudorandomCentroids(16, 64))),
        "ivf-p8" -> Similarity.ivfTopK(e, q, k, nCentroids = 16, nProbe = 8,
          pretrained = Some(graft.queries.LlmQueries.pseudorandomCentroids(16, 64))))
      for ((name, approx) <- variants) {
        val r = Similarity.recallAtK(exact, approx).head()
        println(f"RECALL $dir%s $name%s k=$k n_exact=${r.getLong(0)} " +
          f"n_hit=${r.getLong(1)} recall=${r.getDouble(2)}%.4f")
      }
      exact.unpersist()
      // maintained-index lifecycle (append drift + recluster + search):
      // pins x_ann_recall_maintained's floor
      val m = graft.queries.LlmQueries.annMaintainedRecall(spark, dir).head()
      println(f"RECALL $dir%s ivf-maintained k=10 n_exact=${m.getLong(0)} " +
        f"n_hit=${m.getLong(1)} recall=${m.getDouble(2)}%.4f")
    }
    spark.stop()
  }
}

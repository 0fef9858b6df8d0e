package graft

import org.apache.spark.sql.functions._
import graft.llm.Similarity

/** Scratch probe: PQ recall across configurations (deleted or kept as a
  * measurement harness; informs the SimilaritySpec floor). */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.local("graft-pq-probe",
      cores = graft.core.GraftSession.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(e, q, k = 5))
    for (m <- Seq(8, 16); kk <- Seq(16, 32); rr <- Seq(16, 32, 64)) {
      val cbs = Similarity.trainPqCodebooks(e, numSub = m, codesPerSub = kk,
        lloydIters = 3)
      val pq = pairs(Similarity.pqAdcTopK(e, q, k = 5, codebooks = cbs,
        rerank = rr))
      val recall = (exact intersect pq).size.toDouble / exact.size
      println(f"PQPROBE m=$m%2d k=$kk%2d rerank=$rr%2d recall@5=$recall%.3f")
    }
    // IVF-PQ composition: recall also loses to the coarse probe miss
    // rate, so sweep nProbe against the trained 8-cell quantizer
    val cents = Similarity.trainCentroids(e, nCentroids = 8, lloydIters = 1)
    val cbs = Similarity.trainPqCodebooks(e, numSub = 16, codesPerSub = 32,
      lloydIters = 2)
    val idx = s"/tmp/graft-pqprobe-ivfpq-${math.abs(sfDir.hashCode)}"
    Similarity.ivfPqWriteIndex(e, graft.llm.IvfQuantizer(cents), cbs, idx)
    for (np <- Seq(2, 4, 8); rr <- Seq(32, 64)) {
      val got = pairs(Similarity.ivfPqSearchIndex(spark, idx, q, k = 5,
        graft.llm.IvfQuantizer(cents), cbs, nProbe = np, rerank = rr))
      val recall = (exact intersect got).size.toDouble / exact.size
      println(f"IVFPQPROBE nProbe=$np%2d rerank=$rr%2d recall@5=$recall%.3f")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.roundDet
import graft.llm.{Dedup, TextAnalysis}

/** Scratch A/B harness for the ngramJaccardPairs plan variants —
  * interleaved timed runs in ONE window so host heat divides out.
  * `runMain graft.NgramAb <sfDir> <rounds>`.
  *
  * r18 adjudicated the sizes-attachment question (map-only sizes won);
  * r19 re-targets the harness at the CACHING question for the capped
  * path: where should the one materialization sit so the hot-set
  * aggregate, the anti-join probe, and both self-join sides stop
  * re-deriving the scan→tokenize→shingle subtree?
  *   - nopersist:    r18 committed shape (subtree re-derived per
  *                   consumer; broadcast anti by planner estimate)
  *   - postspersist: persist the exploded (id, sh) posting table;
  *                   sizes still re-tokenize the corpus twice
  *   - basepersist:  persist (id, arr) once; postings AND sizes are
  *                   cache reads — ONE tokenize pass total
  * Uncapped twins (unc_*) measure the same question without the
  * hot-set stage. Result equality is asserted before any timing.
  */
object NgramAb {
  private val Cap = 25L // sf0.1 max df is ~25; a low cap exercises the path

  def variant(df: DataFrame, kind: String, minJaccard: Double): DataFrame = {
    val base0 = df.select(col("doc_id").as("id"),
      Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("arr"))
    val persistBase = kind.endsWith("basepersist")
    val base = if (persistBase)
      base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else base0
    val sh0raw = base.select(col("id"), explode(col("arr")).as("shs"))
      .select(col("id"), xxhash64(col("shs")).as("sh"))
    val sh0 = if (kind == "unc_postspersist")
      sh0raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sh0raw
    val capped = !kind.startsWith("unc_")
    val sh = if (!capped) sh0 else kind match {
      case "nopersist" =>
        val hot = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > Cap).select("sh")
        sh0.join(hot, Seq("sh"), "left_anti")
      case _ =>
        val posts = if (persistBase) sh0
          else sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val hot = posts.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > Cap).select("sh")
        posts.join(broadcast(hot), Seq("sh"), "left_anti")
    }
    val sizes = base.select(col("id"), size(col("arr")).as("n_sh"))
    val a = sh.select(col("sh"), col("id").as("id_a"))
    val b = sh.select(col("sh"), col("id").as("id_b"))
    a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", roundDet(col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rounds = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = graft.core.GraftSession.local("graft-ngram-ab",
      cores = graft.core.GraftSession.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val kinds = Seq("nopersist", "postspersist", "basepersist",
      "unc_nopersist", "unc_basepersist", "unc_postspersist")
    // result-equality sanity before timing (capped vs capped, unc vs unc)
    def sortedRows(k: String) = {
      val r = variant(docs, k, 0.2).collect().map(_.toString).sorted
      spark.catalog.clearCache(); r
    }
    val refCap = sortedRows("nopersist")
    Seq("postspersist", "basepersist").foreach { k =>
      require(sortedRows(k).sameElements(refCap), s"variant $k diverges")
    }
    val refUnc = sortedRows("unc_nopersist")
    Seq("unc_basepersist", "unc_postspersist").foreach { k =>
      require(sortedRows(k).sameElements(refUnc), s"variant $k diverges")
    }
    // warmup each
    kinds.foreach { k =>
      variant(docs, k, 0.2).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    val times = scala.collection.mutable.Map[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    (1 to rounds).foreach { _ =>
      kinds.foreach { k =>
        val t0 = System.nanoTime()
        variant(docs, k, 0.2).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        times.getOrElseUpdate(k,
          scala.collection.mutable.ArrayBuffer.empty) += dt
        spark.catalog.clearCache()
      }
    }
    kinds.foreach { k =>
      val ts = times(k).sorted
      println(f"NGRAMAB $k%-15s min=${ts.head}%.3f med=${ts(ts.length / 2)}%.3f " +
        s"runs=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

import graft.core.Trace
import graft.functions._

/** Property tests for the BigQuery↔Spark semantic-drift risks
  * (SURVEY §7.4 risk 1): SAFE_DIVIDE, NOT IN vs left_anti, deterministic
  * rounding, TIMESTAMP_DIFF truncation. Uses seeded ScalaCheck generators
  * sampled explicitly (scalatest's forAll bridge isn't in the offline
  * cache), evaluating each batch through ONE Spark job.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed: Long = 42L): Seq[A] = {
    val it = Iterator.iterate(rng.Seed(seed))(_.next).flatMap(s =>
      g.apply(Gen.Parameters.default, s))
    it.take(n).toSeq
  }

  test("safeDivide: NULL on zero/NULL denominator, exact quotient otherwise") {
    val cases = samples(for {
      n <- Gen.chooseNum(-1e6, 1e6)
      d <- Gen.frequency(1 -> Gen.const(0.0), 5 -> Gen.chooseNum(-1e6, 1e6))
      dNull <- Gen.oneOf(true, false)
    } yield (n, d, dNull), 200)
    val df = cases.map { case (n, d, dNull) =>
      (n, if (dNull) None else Some(d))
    }.toDF("n", "d")
    val got = df.select(col("n"), col("d"), safeDivide(col("n"), col("d")).as("q"))
      .collect()
    got.foreach { r =>
      val n = r.getDouble(0)
      if (r.isNullAt(1) || r.getDouble(1) == 0.0) assert(r.isNullAt(2))
      else {
        val q = n / r.getDouble(1)
        if (q.isNaN) assert(r.getDouble(2).isNaN) else assert(r.getDouble(2) == q)
      }
    }
  }

  test("bqTimestampString renders BigQuery's cast format byte-for-byte") {
    // epoch micros spanning whole seconds, ms-precision (trailing fraction
    // zeros — the case Spark's plain cast trims) and full-µs values
    val cases = samples(for {
      sec <- Gen.choose(0L, 4102444800L) // 1970..2100
      frac <- Gen.oneOf(Gen.const(0L), Gen.choose(0L, 999L).map(_ * 1000),
        Gen.choose(0L, 999999L)).flatMap(g => g)
    } yield sec * 1000000L + frac, 300)
    val df = cases.toDF("us")
      .select(col("us"), timestamp_micros(col("us")).as("ts"))
    val got = df.select(col("us"), bqTimestampString(col("ts")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
    cases.foreach { us =>
      val want = fmt.format(java.time.Instant.EPOCH.plus(
        us, java.time.temporal.ChronoUnit.MICROS)) + "+00:00"
      assert(got(us) == want, s"us=$us")
      // the documented shape: microseconds ALWAYS 6 digits, UTC suffix
      assert(got(us).matches(
        """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6}\+00:00"""))
    }
  }

  test("roundDet equals the pure-Scala floor formula at every scale") {
    val cases = samples(for {
      x <- Gen.chooseNum(-1e6, 1e6)
      s <- Gen.choose(0, 6)
    } yield (x, s), 300)
    cases.groupBy(_._2).foreach { case (s, xs) =>
      val p = math.pow(10, s)
      val got = xs.map(_._1).toDF("x")
        .select(col("x"), roundDet(col("x"), s).as("r")).collect()
      got.foreach { r =>
        assert(r.getDouble(1) == math.floor(r.getDouble(0) * p + 0.5) / p)
      }
    }
  }

  test("NOT IN (SQL) == left_anti for non-null keys; NULL subquery differs") {
    val cases = samples(for {
      ls <- Gen.listOfN(30, Gen.choose(0, 20))
      rs <- Gen.listOfN(10, Gen.choose(0, 20))
    } yield (ls, rs), 20)
    cases.foreach { case (ls, rs) =>
      val l = ls.toDF("k"); val r = rs.toDF("k")
      l.createOrReplaceTempView("prop_l"); r.createOrReplaceTempView("prop_r")
      val viaSql = spark.sql(
        "SELECT k FROM prop_l WHERE k NOT IN (SELECT k FROM prop_r)")
        .as[Int].collect().sorted.toSeq
      val viaAnti = l.join(r, Seq("k"), "left_anti")
        .as[Int].collect().sorted.toSeq
      assert(viaSql == viaAnti, s"ls=$ls rs=$rs")
    }
    // the NULL trap (P6 commentary): one NULL in the subquery empties a
    // NOT IN result while left_anti keeps rows — the engine relies on
    // never-NULL md5 keys for the equivalence
    val l = Seq(Some(1), Some(2)).toDF("k")
    val r = Seq(Some(2), None).toDF("k")
    l.createOrReplaceTempView("prop_l"); r.createOrReplaceTempView("prop_r")
    assert(spark.sql(
      "SELECT k FROM prop_l WHERE k NOT IN (SELECT k FROM prop_r)").count() == 0)
    assert(l.join(r, Seq("k"), "left_anti").count() == 1)
  }

  test("surrogateKey NULL-propagates like BigQuery CONCAT") {
    val df = Seq((Option("a"), Option("b")), (Option("a"), None), (None, None))
      .toDF("x", "y")
    val keys = df.select(surrogateKey(col("x"), col("y")).as("k")).collect()
    assert(keys(0).getString(0).length == 32)
    assert(keys(1).isNullAt(0) && keys(2).isNullAt(0))
  }

  test("dropExactDuplicates is idempotent and keeps one row per text") {
    val docs = samples(Gen.listOfN(60, Gen.oneOf("aa bb", "cc dd", "ee ff", "gg hh")), 5)
    docs.foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = graft.llm.Dedup.dropExactDuplicates(df)
      assert(once.count() == texts.distinct.size)
      assert(graft.llm.Dedup.dropExactDuplicates(once).count() == once.count())
    }
  }

  test("hashSplit assigns every row when fractions sum to 1") {
    val df = (0L until 5000L).toDF("doc_id")
    val out = graft.llm.Sampling.hashSplit(df, "doc_id",
      Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
    assert(out.filter(col("split").isNull).count() == 0)
    assert(out.count() == 5000)
  }

  test("repairMojibake: corrupt→repair round-trips; repair is idempotent") {
    // random texts over ASCII + every repairable character; corruption
    // is the REVERSE map (the true chars re-encoded as their mojibake
    // renderings). The alphabet excludes the raw lead bytes Ã/â so a
    // pattern can only arise from the corruption itself. Idempotence
    // holds structurally: no RHS char can complete an LHS pattern
    // (second chars of the table are ©¨ª¼±§¶¤/€-family, disjoint from
    // every RHS) — this pins that property against future table edits.
    // lead chars Ã/â/€ appear RAW too, so partial patterns (a lead with
    // no valid continuation) must pass through untouched
    val alphabet = Gen.oneOf(('a' to 'z') ++ Seq(' ', '.', ',') ++
      Seq('é', 'è', 'ê', 'ü', 'ñ', 'ç', 'ö', 'ä', '’', '“', '…') ++
      Seq('Ã', 'â', '€'))
    val textGen = Gen.listOfN(40, alphabet).map(_.mkString)
    val texts = samples(textGen, 40)
    def corrupt(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      graft.llm.TextAnalysis.MojibakeMap.foldLeft(c) { case (acc, (bad, good)) =>
        regexp_replace(acc, java.util.regex.Pattern.quote(good), bad)
      }
    // the sequential replace chain — the reference semantics the native
    // single-scan ReplaceMany must reproduce exactly
    def chain(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      graft.llm.TextAnalysis.MojibakeMap.foldLeft(c) { case (acc, (bad, good)) =>
        replace(acc, lit(bad), lit(good))
      }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    import graft.llm.TextAnalysis.repairMojibake
    val out = df.select(col("t").as("orig"),
        repairMojibake(corrupt(col("t"))).as("roundtrip"),
        repairMojibake(repairMojibake(corrupt(col("t")))).as("twice"),
        chain(corrupt(col("t"))).as("viaChain"),
        repairMojibake(col("t")).as("repairRaw"),
        chain(col("t")).as("chainRaw"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(0),
        s"round-trip broke: '${r.getString(0)}' -> '${r.getString(1)}'")
      assert(r.getString(2) == r.getString(1), "repair not idempotent")
      assert(r.getString(3) == r.getString(1),
        s"native != replace chain on '${r.getString(0)}'")
      assert(r.getString(4) == r.getString(5),
        s"native != chain on raw text '${r.getString(0)}'")
    }
  }

  test("clusterSafeSplit: no cluster ever spans a split boundary") {
    // random pair sets over a 200-id universe: whatever components they
    // induce, every member of a component must draw the same split, and
    // total row count is preserved (the join neither drops nor fans out)
    val pairGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 199L), Gen.choose(0L, 199L)))
    samples(pairGen, 5).foreach { rawPairs =>
      val pairs = rawPairs.filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        .distinct.toDF("id_a", "id_b")
      val clusters = graft.llm.Dedup.duplicateClusters(pairs)
      val out = graft.llm.Sampling.clusterSafeSplit(
        (0L until 200L).toDF("doc_id"), clusters, "doc_id",
        Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
      assert(out.count() == 200)
      val spanning = out.groupBy("cluster_id")
        .agg(countDistinct(col("split")).as("k"))
        .filter(col("k") > 1).count()
      assert(spanning == 0L)
    }
  }

  test("repetitionRatio lands in [0,1) and is 0 iff all tokens distinct") {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
    val cases = samples(Gen.nonEmptyListOf(word).map(_.mkString(" ")), 200)
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    df.select(col("text"),
      graft.llm.TextAnalysis.repetitionRatio(col("text")).as("r"))
      .collect().foreach { row =>
        val toks = row.getString(0).split(" ").toSeq
        val r = row.getDouble(1)
        assert(r >= 0.0 && r < 1.0)
        assert((r == 0.0) == (toks.distinct.size == toks.size))
      }
  }

  test("packSequences: within a group no sequence starts past the budget") {
    val cases = samples(for {
      src <- Gen.oneOf("a", "b", "c")
      n <- Gen.choose(1L, 120L)
    } yield (src, n), 300)
    val df = cases.zipWithIndex.map { case ((s, n), i) => (i.toLong, s, n) }
      .toDF("doc_id", "source", "n_tokens")
    val out = graft.llm.Packing.packSequences(df, budgetTokens = 100L)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("seq_id"), r.getAs[Long]("cum_tokens")))
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      // each doc's sequence is exactly its exclusive-cumsum div budget,
      // which also makes seq ids non-decreasing in doc order
      var cum = 0L
      sorted.foreach { case (_, _, seqId, cumTok) =>
        assert(seqId == cum / 100L)
        cum = cumTok
      }
    }
  }

  test("slidingChunks covers every token exactly; stride=chunk tiles without overlap") {
    import org.apache.spark.sql.functions._
    // random-ish doc lengths across the boundary cases
    val docs = Seq(1, 2, 47, 48, 49, 63, 64, 65, 96, 97, 100, 200).zipWithIndex
      .map { case (n, i) => (i.toLong, (0 until n).map(t => s"w$t").mkString(" ")) }
      .toDF("doc_id", "text")
    val chunks = graft.llm.Chunking.slidingChunks(docs,
      chunkTokens = 64, strideTokens = 48).collect()
    val nTokens = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").length).toMap
    chunks.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      val n = nTokens(id)
      // every token index in [0, n) is inside some [start, start+len)
      val covered = rows.flatMap { r =>
        val s = r.getAs[Long]("chunk_start").toInt
        s until (s + r.getAs[Long]("n_chunk_tokens").toInt)
      }.toSet
      assert(covered == (0 until n).toSet, s"doc $id coverage hole")
      // no chunk is empty and none starts at/after the end
      assert(rows.forall(_.getAs[Long]("n_chunk_tokens") > 0))
      assert(rows.forall(_.getAs[Long]("chunk_start") < n))
    }
    // stride == chunk: a partition (no overlap, total length == n)
    val tiled = graft.llm.Chunking.slidingChunks(docs,
      chunkTokens = 48, strideTokens = 48).collect()
    tiled.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      assert(rows.map(_.getAs[Long]("n_chunk_tokens")).sum == nTokens(id))
    }
  }

  test("hashSplit buckets are engine-portable (matches a pure-Scala md5)") {
    val ids = samples(Gen.choose(0L, 1000000L), 100).distinct
    val df = ids.map(Tuple1(_)).toDF("doc_id")
    val got = df.select(col("doc_id"),
      graft.llm.Sampling.hashBucket(col("doc_id"), "split").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val expect = java.lang.Long.parseLong(hex.substring(24, 32), 16) % 1000000L
      assert(got(id) == expect, s"id=$id")
    }
  }

  test("timestampDiffSeconds truncates like TIMESTAMP_DIFF(…, SECOND)") {
    val cases = samples(for {
      epoch <- Gen.choose(0L, 4102444800L)
      micros <- Gen.choose(0, 999999)
      deltaS <- Gen.choose(-100000L, 100000L)
    } yield (epoch, micros, deltaS), 200)
    val df = cases.map { case (epoch, micros, deltaS) =>
      val start = java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(epoch, micros * 1000L))
      val end = java.sql.Timestamp.from(start.toInstant.plusSeconds(deltaS))
      (start, end, deltaS)
    }.toDF("s", "e", "expected")
    df.select(timestampDiffSeconds(col("e"), col("s")).as("got"), col("expected"))
      .collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("codecs: PPM and BMP round-trip arbitrary dims; WAV round-trips arbitrary PCM") {
    import graft.llm.Codecs.{BmpCodec, PpmCodec, WavCodec}
    val imgs = samples(for {
      w <- Gen.chooseNum(1, 23)
      h <- Gen.chooseNum(1, 17)
      seed <- Gen.chooseNum(0, Int.MaxValue)
    } yield (w, h, seed), 60)
    imgs.foreach { case (w, h, seed) =>
      val px = Array.tabulate(w * h * 3)(i =>
        ((i * 2654435761L + seed) % 256).toByte)
      val Some((pw, ph, prgb)) = PpmCodec.decode(PpmCodec.encode(w, h, px))
      assert((pw, ph) == (w, h) && prgb.toSeq == px.toSeq, s"ppm $w x $h")
      val Some((bw, bh, brgb)) = BmpCodec.decode(BmpCodec.encode(w, h, px))
      assert((bw, bh) == (w, h) && brgb.toSeq == px.toSeq, s"bmp $w x $h")
      // cross-codec: identical pixels through either container
      assert(prgb.toSeq == brgb.toSeq)
    }
    val wavs = samples(for {
      rate <- Gen.oneOf(8000, 16000, 44100)
      n <- Gen.chooseNum(0, 5000)
      seed <- Gen.chooseNum(0, Int.MaxValue)
    } yield (rate, n, seed), 40)
    wavs.foreach { case (rate, n, seed) =>
      val pcm = Array.tabulate[Short](n)(i => ((i * 31 + seed) % 65536 - 32768).toShort)
      val Some((r, out)) = WavCodec.decode(WavCodec.encode(rate, pcm))
      assert(r == rate && out.toSeq == pcm.toSeq, s"wav rate=$rate n=$n")
    }
  }

  // ------- cross-path equality hardening (r15 verdict task 5) --------
  // The driver-local bounded paths replay distributed arithmetic in
  // Scala (agreement prefilter, rounded Jaccard, union-to-min) — the
  // one drift-prone construction in the engine. The fixed-corpus specs
  // pin 2 layouts × 3 thresholds; these properties pin RANDOM corpora
  // whose mutation structure densely hits the jaccard spectrum
  // (exact copies, 1–3 token edits, extensions, sub-shingle-width
  // docs) at random thresholds.

  /** Mutation-structured corpus: fresh docs, exact copies, edited
    * copies, extended copies, and short (sub-shingle-width) docs —
    * ids strictly increasing from `baseId`.
    */
  private def corpusGen(baseId: Long, nDocs: Int): Gen[Seq[(Long, String)]] = {
    val vocab = Vector("alpha", "bravo", "carol", "delta", "echo", "fox",
      "golf", "hotel", "india", "jolt", "kilo", "lima")
    val fresh: Gen[String] = for {
      n <- Gen.chooseNum(4, 10)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val short: Gen[String] =
      Gen.chooseNum(1, 2).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
        .map(_.mkString(" "))
    // op: 0 = fresh, 1 = copy of an earlier doc, 2 = edit k tokens,
    // 3 = extend by k tokens, 4 = short doc
    val op: Gen[(Int, Int, Int)] = for {
      kind <- Gen.frequency(3 -> 0, 2 -> 1, 3 -> 2, 2 -> 3, 1 -> 4)
      src <- Gen.chooseNum(0, 1000)
      k <- Gen.chooseNum(1, 3)
    } yield (kind, src, k)
    for {
      ops <- Gen.listOfN(nDocs, op)
      freshes <- Gen.listOfN(nDocs, fresh)
      shorts <- Gen.listOfN(nDocs, short)
      subs <- Gen.listOfN(nDocs, Gen.oneOf(vocab))
    } yield {
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      ops.zipWithIndex.foreach { case ((kind, src, k), i) =>
        val t = kind match {
          case 0 => freshes(i)
          case 4 => shorts(i)
          case _ if texts.isEmpty => freshes(i)
          case 1 => texts(src % texts.length)
          case 2 =>
            val toks = texts(src % texts.length).split(" ")
            toks.indices.take(k).foreach(j =>
              toks(j) = subs((i + j) % subs.length))
            toks.mkString(" ")
          case 3 =>
            texts(src % texts.length) + " " +
              (0 until k).map(j => subs((i + j) % subs.length)).mkString(" ")
        }
        texts += t
      }
      texts.zipWithIndex.map { case (t, i) => (baseId + i, t) }.toSeq
    }
  }

  private val thresholdGen: Gen[Double] =
    Gen.oneOf(0.0, 0.3, 0.5, 0.6667, 0.75, 0.8, 0.9, 1.0)

  test("property: dropNearDupLosersBounded local ≡ distributed on random corpora") {
    import graft.llm.{Dedup, TextAnalysis}
    val cases = samples(for {
      docs <- Gen.chooseNum(8, 24).flatMap(n => corpusGen(0L, n))
      minJ <- thresholdGen
    } yield (docs, minJ), 50)
    cases.zipWithIndex.foreach { case ((docsSeq, minJ), i) =>
      val corpus = docsSeq.toDF("doc_id", "text")
      val st = corpus.select(col("doc_id").as("id"),
          Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("arr"))
        .withColumn("sig", Dedup.minhashSignature(col("arr"), 32))
      val (local, localNotes) = Trace.capture(
        Dedup.dropNearDupLosersBounded(corpus, st, minJ)
          .select("doc_id").collect().map(_.getLong(0)).toSet)
      assert(localNotes.last(Dedup.NearDupLocal).contains(true),
        s"case $i: expected the local path")
      val (dist, distNotes) = Trace.capture(
        Dedup.dropNearDupLosersBounded(corpus, st, minJ, maxRows = 0)
          .select("doc_id").collect().map(_.getLong(0)).toSet)
      assert(distNotes.last(Dedup.NearDupLocal).contains(false),
        s"case $i: expected the distributed path")
      assert(local == dist,
        s"case $i (minJ=$minJ): local=$local dist=$dist corpus=$docsSeq")
    }
  }

  test("property: addDelivery local ≡ distributed admission on random corpora") {
    import graft.llm.IncrementalDedup
    // two monotone waves per case: wave 2's id floor sits above wave
    // 1's ceiling so the monotone-id precondition holds by construction
    val cases = samples(for {
      w1 <- Gen.chooseNum(6, 14).flatMap(n => corpusGen(0L, n))
      w2 <- Gen.chooseNum(6, 14).flatMap(n => corpusGen(1000L, n))
      minJ <- thresholdGen
      banded <- Gen.oneOf(false, true)
    } yield (w1, w2, minJ, banded), 50)
    cases.zipWithIndex.foreach { case ((w1, w2, minJ, banded), i) =>
      def layout(): IncrementalDedup.IndexLayout =
        if (banded) graft.llm.BandedIndex() else IncrementalDedup.FlatIndex
      val rootL = tmpDir(s"prop-adm-l-$i")
      val rootD = tmpDir(s"prop-adm-d-$i")
      def run(root: String, dist: Boolean): (Seq[Long], Seq[Long]) = {
        def admit(w: Seq[(Long, String)]) =
          IncrementalDedup.addDelivery(w.toDF("doc_id", "text"), root,
            minJaccard = minJ, layout = layout(),
            driverAdmissionMaxBytes = if (dist) 0L else 64L << 20)
            .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
        val a1 = admit(w1)
        val (a2, notes) = Trace.capture(admit(w2))
        assert(notes.last(IncrementalDedup.AdmissionLocal).contains(!dist),
          s"case $i: wrong admission path (dist=$dist)")
        (a1, a2)
      }
      val (l1, l2) = run(rootL, dist = false)
      val (d1, d2) = run(rootD, dist = true)
      assert(l1 == d1 && l2 == d2,
        s"case $i (minJ=$minJ banded=$banded): " +
          s"local=($l1, $l2) dist=($d1, $d2)")
    }
  }

  test("property: duplicateClustersLocal union-find ≡ distributed " +
      "pointer-doubling ≡ BFS ground truth on random graphs") {
    import graft.llm.Dedup
    // graph shapes the fixed-corpus specs miss: long chains (diameter
    // stresses the O(log d) delta loop), reversed chains, all-self-edge
    // graphs, plus random extra edges (duplicates/reversals included)
    val edgeGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.chooseNum(2, 40) // node universe 0..n-1
      shape <- Gen.oneOf(0, 1, 2, 3)
      extra <- Gen.chooseNum(0, 30)
      randomPairs <- Gen.listOfN(extra, for {
        a <- Gen.chooseNum(0L, (n - 1).toLong)
        b <- Gen.chooseNum(0L, (n - 1).toLong)
      } yield (a, b))
    } yield {
      val base: Seq[(Long, Long)] = shape match {
        case 0 => (0L until (n - 1).toLong).map(i => (i, i + 1)) // chain
        case 1 => (0L until (n - 1).toLong).map(i => (i + 1, i)) // reversed
        case 2 => (0L until n.toLong).map(i => (i, i)) // self-edges only
        case _ => Seq.empty
      }
      base ++ randomPairs
    }
    // independent ground truth: label every node in the edge set with
    // its component's minimum id (plain BFS, no Spark, no union-find)
    def bfsLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.Set[Long]]
      def link(a: Long, b: Long): Unit = {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
      edges.foreach { case (a, b) => link(a, b) }
      val label = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { start =>
        if (!label.contains(start)) {
          val comp = scala.collection.mutable.ArrayBuffer(start)
          val seen = scala.collection.mutable.Set(start)
          var qi = 0
          while (qi < comp.length) {
            adj(comp(qi)).foreach(nb =>
              if (seen.add(nb)) comp += nb)
            qi += 1
          }
          val m = comp.min
          comp.foreach(id => label(id) = m)
        }
      }
      label.toMap
    }
    val cases = samples(edgeGen.suchThat(_.nonEmpty), 60)
    assert(cases.length >= 50, s"generator starved: ${cases.length}")
    cases.zipWithIndex.foreach { case (edges, i) =>
      val pairsDf = edges.toDF("id_a", "id_b")
      val truth = bfsLabels(edges)
      val local = Dedup.duplicateClustersLocal(pairsDf) match {
        case Left(arr) => arr.toMap
        case Right(_) => fail(s"case $i: expected the driver fast path")
      }
      val dist = Dedup.duplicateClustersLocal(pairsDf,
          driverMaxPairs = 0) match {
        case Right(df) => // the caller owns the labels' checkpoint
          try df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          finally graft.core.CacheUtil.freeCheckpoint(df)
        case Left(_) => fail(s"case $i: expected the distributed path")
      }
      assert(local == truth,
        s"case $i: union-find diverged from BFS\n edges=$edges\n " +
          s"local=$local\n truth=$truth")
      assert(dist == truth,
        s"case $i: pointer-doubling diverged from BFS\n edges=$edges\n " +
          s"dist=$dist\n truth=$truth")
    }
  }

  test("ReplaceMany rejects a replacement containing ANY pattern char") {
    // (ab→X),(cX→Y) passes a lead-char-only check yet diverges from the
    // replace chain on "cab" (chain: "Y"; scan: "cX") — the validator
    // must ban replacement chars occurring anywhere in any pattern
    val bad = graft.expr.ReplaceMany(
      org.apache.spark.sql.catalyst.expressions.Literal("x"),
      Seq("ab" -> "X", "cX" -> "Y"))
    intercept[IllegalArgumentException] {
      bad.computeUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString("cab"))
    }
  }
}

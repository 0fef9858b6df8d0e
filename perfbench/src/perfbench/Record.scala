package perfbench

/** Records gate output fingerprints into perfbench/fingerprints.json:
  *
  *   perfbench.Record <sf0.1 dir> [gate,gate,...]
  *
  * Every gate (default: all of `SparkEntry.queries`) is fingerprinted
  * twice in this JVM. Both calls, and the record the file already holds
  * for the gate (from an earlier JVM), must agree on the whole
  * fingerprint; a gate whose output differs between them fails the
  * recording, and nothing is written.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq).sorted
    val path = Fingerprint.DefaultPath
    val earlier = Fingerprint.load(path)
    val spark = graft.core.GraftSession.local("perfbench-record",
      cores = Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")
    val records = names.map { n =>
      val gate = graft.SparkEntry.queries(n)
      val calls = (1 to 2).map { _ =>
        val fp = Fingerprint.of(gate(spark, dir))
        spark.catalog.clearCache()
        fp
      }
      val seen = calls ++ earlier.get(n)
      require(seen.distinct.size == 1, s"$n: fingerprints differ between calls: ${seen.mkString(" / ")}")
      System.err.println(s"RECORD $n ${seen.head}")
      n -> seen.head
    }
    spark.stop()
    val all = (earlier ++ records).toSeq.sortBy(_._1)
    val body = all.map { case (n, fp) =>
      s"""    ${Json.str(n)}: {"rows":${fp.rows},"sum":${fp.sum},"xor":${fp.xor}}"""
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(s"""{\n  "data": "sf0.1",\n  "gates": {\n${body.mkString(",\n")}\n  }\n}\n""")
    finally w.close()
  }
}

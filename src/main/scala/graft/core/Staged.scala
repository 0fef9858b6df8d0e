package graft.core

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Offline state staged once per JVM and reused by every later call:
  * trained quantizers, resident index bases, cluster tables, drift
  * lakes. Building it is the amortized offline step; what a gate times
  * is the per-delivery path that reads it. Every staged artifact is
  * deterministic in its inputs, so reuse never changes a result.
  *
  * Staged state is named by `(name, dir)`: `dir` is the corpus it was
  * derived from, `name` the artifact. Names share one namespace across
  * [[value]] and [[path]].
  *
  * Single-session assumption: staged artifacts, and every index whose
  * schema [[read]] pins, are written only by this process's writers
  * (another process relaying out a pinned path would be read with the
  * stale schema, renamed columns as nulls). A writer that overwrites a
  * path with a possibly different column set calls [[forget]] (or
  * writes through [[write]]), so the next read sees the new layout.
  */
object Staged {

  /** Per-JVM private root for every staged artifact and scratch root.
    * `createTempDirectory` gives a fresh, owner-only (0700) directory
    * per process, so no other local user can pre-create or squat a
    * predictable world-writable /tmp path. Staged state is JVM-local
    * anyway, so a per-JVM root loses no cross-process reuse.
    */
  private lazy val root: String =
    Files.createTempDirectory("graft-stage-").toString

  /** One holder per key. The map lock is held only to create the holder,
    * never during a build: a build is a multi-second Spark job, and a
    * build that stages other state (a nested call) must not re-enter a
    * map bin. Callers of one key wait on its holder, so a key is built
    * once; a build that throws stores nothing and the next call retries.
    */
  private final class Cell { var value: Option[Any] = None }
  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Cell]()

  /** Driver-local state (a model, a bound, a few collected rows), built
    * on the first call for `(name, dir)` and returned by every later one.
    */
  def value[T](name: String, dir: String)(build: => T): T = {
    val cell = cells.computeIfAbsent((name, dir), _ => new Cell)
    cell.synchronized {
      cell.value.getOrElse {
        val v = build
        cell.value = Some(v)
        v
      }.asInstanceOf[T]
    }
  }

  /** On-disk artifact built once per `(name, dir)`; returns its path.
    * The path is a pure function of the key, keyed on the FULL md5 hex
    * of `dir` (a 32-bit hashCode could collide and silently cross-wire
    * two corpora's state). Whatever an earlier JVM or a failed build
    * left there is deleted before `build` writes it.
    */
  def path(name: String, dir: String)(build: String => Unit): String =
    value(name, dir) {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      val p = s"$root/$name-$hex"
      delete(p)
      forget(p)
      build(p)
      p
    }

  /** Fixed root for state a gate rebuilds on every call (an index clone,
    * a stream checkpoint, a scratch warehouse), wiped on entry so
    * repeated calls stay reproducible and nothing accumulates.
    */
  def scratch(name: String): String = {
    val p = s"$root/gate_$name"
    delete(p)
    p
  }

  /** Schema per parquet path, so repeated reads skip the footer-inference
    * Spark job (one scheduler round plus driver gap per read; on a
    * 100 TB index, a footer sweep over every cell directory). Bounded:
    * per-invocation roots accumulate fresh paths, so past
    * [[SchemaMax]] entries the memo is cleared wholesale (a miss costs
    * one re-inference).
    */
  private val SchemaMax = 512
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  /** Pin `schema` as the layout of `path`, so the next [[read]] runs no
    * inference job. Only the writer that just wrote `path` under
    * exactly `schema` calls this.
    */
  def pin(path: String, schema: StructType): Unit = {
    if (schemas.size() > SchemaMax) schemas.clear()
    schemas.put(path, schema)
    ()
  }

  /** Parquet read of `path` under its pinned schema; the first read of
    * an unpinned path infers the schema and pins it.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    Option(schemas.get(path)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        pin(path, df.schema)
        df
    }

  /** Overwrite `path` with `df` as parquet and pin the written schema,
    * so the next [[read]] runs no inference job.
    */
  def write(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    pin(path, df.schema)
  }

  /** Drop the pinned schema of `path`. Every writer that overwrites a
    * path in place, possibly with another column set, calls this;
    * appending writers keep the layout by construction and leave the
    * pin alone.
    */
  def forget(path: String): Unit = {
    schemas.remove(path)
    ()
  }

  /** Test seam: the schema pinned for `path` (None = next read infers). */
  private[graft] def pinnedSchema(path: String): Option[StructType] =
    Option(schemas.get(path))

  private def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p) // close: a walk stream holds an fd
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }
}

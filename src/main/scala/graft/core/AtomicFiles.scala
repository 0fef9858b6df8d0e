package graft.core

import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The two commit primitives behind the engine's persisted tables and
  * version logs.
  *
  * [[publishExclusive]] is atomic create-if-absent file publication with
  * FULL content — the commit behind the version-log CAS loops
  * ([[graft.sources.Warehouse]] delta-log versions,
  * [[graft.llm.Similarity]] live-cell versions, [[graft.llm.Bpe]]
  * training-state passes).
  *
  * [[publish]] commits a finished write into a plain-parquet table
  * directory — every dbt materialization and [[graft.sources.Warehouse]]
  * compaction. The write lands in a sibling staging dir; only after it
  * succeeds are the replaced dirs renamed aside, their staged
  * counterparts renamed in, and the aside dirs deleted. A failed write
  * leaves the previous table untouched.
  *
  * [[publishExclusive]] avoids two hazards a naive
  * `fs.create(target, overwrite = false)` carries:
  * on the LOCAL filesystem Hadoop's create is a non-atomic
  * exists-then-create (two racers both pass the check and silently
  * clobber one another — measured at 9 of 10 sets lost under an
  * 8-writer contention test), and even an exclusive create publishes
  * an EMPTY file before its bytes land, so a racing reader can take a
  * half-written commit as truth. Here the complete bytes are staged in
  * a hidden tmp file first and the target name appears atomically WITH
  * its content: hard-link on `file://` (fails with EEXIST when the
  * name is taken), rename-no-overwrite elsewhere (atomic with full
  * content on HDFS; renaming onto an existing destination returns
  * false). Hidden `.stage-*.tmp` litter from a crashed writer is
  * invisible to manifest listings (digit-only filters) and to parquet
  * scans (dot-prefixed).
  */
object AtomicFiles {

  /** Publish `bytes` at `target` iff nothing exists there, such that
    * the name never appears without its complete content. Returns
    * false when the target already exists — a racing committer won.
    */
  def publishExclusive(fs: FileSystem, target: Path,
      bytes: Array[Byte]): Boolean =
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(target.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      val tmp = java.nio.file.Files.createTempFile(local.getParent,
        ".stage-", ".tmp")
      java.nio.file.Files.write(tmp, bytes)
      try {
        java.nio.file.Files.createLink(local, tmp)
        java.nio.file.Files.deleteIfExists(tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(tmp)
          false
        // some local mounts (NFS/overlay) expose scheme "file" but
        // reject hard links — fall back to ATOMIC_MOVE without
        // REPLACE_EXISTING, which keeps both invariants (name appears
        // with full content; an occupied name loses the race) at the
        // cost of clobber-atomicity guarantees the link path didn't
        // need either
        case _: UnsupportedOperationException |
             _: java.nio.file.FileSystemException =>
          try {
            java.nio.file.Files.move(tmp, local,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              java.nio.file.Files.deleteIfExists(tmp)
              false
          }
      }
    } else {
      // ONLY a lost create race returns false — the tmp name is
      // UUID-unique, so any exception out of create/write/rename is a
      // GENUINE I/O failure and must propagate (a blanket catch here
      // fed commitNextVersion's CAS loop false "already exists"
      // verdicts on disk-full/permission errors, retrying forever at
      // ever-higher versions instead of surfacing the real error)
      val tmp = new Path(target.getParent,
        s".stage-${java.util.UUID.randomUUID()}.tmp")
      try {
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        val ok = fs.rename(tmp, target)
        if (!ok) fs.delete(tmp, false)
        ok
      } catch {
        case e: Throwable =>
          try { if (fs.exists(tmp)) fs.delete(tmp, false) }
          // best effort: readers skip a leftover .tmp; `e` must surface
          catch { case NonFatal(_) => () }
          throw e
      }
    }

  /** Digit-named version files under `dir`, ascending — the listing
    * half of the version-log commit discipline (shared by the
    * delta-log manifest and the live-cells manifest; staging litter
    * and squatters are excluded by the digit-only filter). Empty when
    * the directory does not exist yet.
    */
  def listVersions(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).sorted.toSeq

  /** What a [[publish]] replaces in the table. */
  sealed trait Replace
  object Replace {
    /** The whole table: a full build, a full refresh, a compaction. */
    case object Whole extends Replace
    /** These partition dirs, relative to the table (`a=1/b=x`). A dir
      * the write did not produce is removed; every staged data file
      * must lie under one of them.
      */
    final case class Partitions(dirs: Seq[String]) extends Replace
    /** Nothing: the staged data files move in next to the existing ones
      * (Spark names them uniquely per job).
      */
    case object Append extends Replace
  }

  /** Run `write` into the staging dir `<path>.compact-tmp`, then move
    * its output into the parquet table at `path` as `replace` says.
    * Each replaced dir is renamed under `<path>.compact-old` before its
    * staged counterpart is renamed in, and the aside dir is deleted
    * last. Each rename is atomic on HDFS and local filesystems, but the
    * set of them is not: a reader listing mid-swap can miss a replaced
    * dir, and a crash mid-swap leaves the replaced data at
    * `.compact-old`. Recovery is a manual rename back, so a stale
    * `.compact-old` fails fast here rather than being deleted (Hadoop's
    * rename-into-existing-directory would otherwise nest the live
    * table inside it). A stale `.compact-tmp` is always a discardable
    * partial write. On object stores rename is a non-atomic O(n) copy;
    * use the delta-log layout there
    * ([[graft.sources.Warehouse.deltaAppend]]).
    */
  def publish(spark: SparkSession, path: String, replace: Replace)
      (write: String => Unit): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(path + ".compact-tmp")
    val old = new Path(path + ".compact-old")
    require(!fs.exists(old),
      s"publish: stale $old exists (a prior swap crashed mid-flight); " +
        "inspect and restore/remove it before publishing")
    fs.delete(tmp, true)
    write(tmp.toString)
    def move(from: Path, to: Path): Unit = {
      fs.mkdirs(to.getParent)
      require(fs.rename(from, to), s"publish: could not move $from to $to")
    }
    def swap(rel: String): Unit = {
      def at(root: Path) = if (rel.isEmpty) root else new Path(root, rel)
      if (fs.exists(at(live))) move(at(live), at(old))
      if (fs.exists(at(tmp))) move(at(tmp), at(live))
    }
    replace match {
      case Replace.Whole => swap("")
      case Replace.Partitions(dirs) =>
        val stray = dataFiles(fs, tmp)
          .filterNot(f => dirs.exists(d => f.startsWith(d + "/")))
        require(stray.isEmpty, s"publish: staged files outside the " +
          s"replaced partitions of $path: ${stray.take(3).mkString(", ")}")
        dirs.distinct.foreach(swap)
      case Replace.Append =>
        dataFiles(fs, tmp).foreach(f => move(new Path(tmp, f), new Path(live, f)))
    }
    fs.delete(old, true)
    fs.delete(tmp, true)
  }

  /** Data files under `root`, relative to it; Spark's `_`/`.`-prefixed
    * markers and checksums are skipped.
    */
  private def dataFiles(fs: FileSystem, root: Path): Seq[String] = {
    val prefix = fs.makeQualified(root).toString + "/"
    val it = fs.listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .map(_.toString.stripPrefix(prefix)).toList
  }
}

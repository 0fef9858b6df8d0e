package graft.core

import scala.collection.mutable.ArrayBuffer

/** The one diagnostic recorder: operators [[note]] what they decided
  * (the admission path taken, CC rounds, BPE passes, partitions a
  * lookup scanned, per-stage plan shapes) and a caller reads it back
  * from the [[capture]] it opened around the call.
  *
  * Captures are THREAD-SCOPED: a note reaches the captures open on the
  * calling thread only, so concurrent gates, suites and stream batch
  * threads never see each other's notes. Captures nest, and a note
  * reaches every enclosing capture. With no capture open a note is a
  * no-op that does not evaluate its value, so operators may note on
  * every call.
  *
  * Diagnostics that cost work of their own (rendering a physical plan,
  * listing an index's partitions) run only under `if (Trace.auditing)`,
  * true inside an [[audit]] and in anything it encloses; a plain
  * [[capture]], as the gates' own path checks open, stays free.
  */
object Trace {

  /** A typed note key; equal names are the same key. */
  final case class Key[T](name: String)

  /** The notes one capture received, in the order they were made. */
  final class Notes private[Trace] (entries: Seq[(Key[_], Any)]) {
    def apply[T](key: Key[T]): Seq[T] =
      entries.collect { case (k, v) if k == key => v.asInstanceOf[T] }
    def last[T](key: Key[T]): Option[T] = apply(key).lastOption
  }

  private final class Frame(val auditing: Boolean, val outer: Frame) {
    val notes = ArrayBuffer.empty[(Key[_], Any)]
  }

  private val open = new ThreadLocal[Frame]

  /** Record `value` under `key` in every capture open on this thread. */
  def note[T](key: Key[T], value: => T): Unit = {
    var f = open.get()
    if (f != null) {
      val v = value
      while (f != null) { f.notes += key -> v; f = f.outer }
    }
  }

  /** Whether an [[audit]] is open on this thread. */
  def auditing: Boolean = {
    val f = open.get()
    f != null && f.auditing
  }

  /** Run `body`, returning its result and the notes it made. */
  def capture[A](body: => A): (A, Notes) = run(audit = false)(body)

  /** [[capture]] under which [[auditing]] is true. */
  def audit[A](body: => A): (A, Notes) = run(audit = true)(body)

  private def run[A](audit: Boolean)(body: => A): (A, Notes) = {
    val outer = open.get()
    val frame = new Frame(audit || (outer != null && outer.auditing), outer)
    open.set(frame)
    val result =
      try body
      finally if (outer == null) open.remove() else open.set(outer)
    (result, new Notes(frame.notes.toSeq))
  }
}

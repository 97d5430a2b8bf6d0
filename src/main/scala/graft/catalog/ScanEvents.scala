package graft.catalog

import scala.collection.mutable

/** Driver-side scan observability: every manifest-pruned snapshot scan
  * ([[GraftBatchScan]]) reports how many data files the
  * manifest kept out of the snapshot's total. Recording is thread-local
  * and OFF unless a capture block is active, so the hot path pays one
  * ThreadLocal read. This is what lets a test (or an operator audit)
  * assert "this MERGE actually skipped files" instead of trusting the
  * plan string — scans happen driver-side during planning, on the
  * thread that runs the statement.
  */
object ScanEvents {

  /** One snapshot scan: `kept` of `total` data files survived manifest
    * pruning for table `root`.
    */
  final case class Event(root: String, kept: Int, total: Int)

  private val active = new ThreadLocal[mutable.Buffer[Event]]

  /** Run `f`, returning its result plus every snapshot scan it planned
    * on this thread. Nestable; the inner capture sees (and steals)
    * events only while active.
    */
  def capture[T](f: => T): (T, Seq[Event]) = {
    val buf = mutable.Buffer.empty[Event]
    val prev = active.get()
    active.set(buf)
    try {
      val r = f
      (r, buf.toSeq)
    } finally {
      if (prev == null) active.remove() else active.set(prev)
    }
  }

  private[catalog] def record(root: String, kept: Int, total: Int): Unit = {
    val b = active.get()
    if (b != null) {
      b += Event(root, kept, total)
      ()
    }
  }
}

package graft.sources

/** Every id `queue` acks, in commit order: an [[QueueRamp.onCommit]]
  * hook that reads each newly committed range before it is released.
  * Register it after the queue's last [[QueueRamp.drop]]. */
final class AckRecorder(queue: String) {
  private val ids = scala.collection.mutable.ArrayBuffer[String]()
  QueueRamp.onCommit(queue) { (from, until) =>
    val got = QueueRamp.slice(queue, from, until).map(_.id)
    ids.synchronized(ids ++= got)
  }
  def acked: Seq[String] = ids.synchronized(ids.toVector)
}

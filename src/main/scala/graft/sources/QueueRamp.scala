package graft.sources

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.{ArrayBuffer, ArrayDeque, HashMap}

/** Driver-side message queues backing [[QueueRampProvider]] — the Ramp
  * contract of the reference (`motorway/ramp.py:15-170`):
  * `next()` ≙ [[enqueue]] feeding uncommitted messages,
  * `success(_id)` ≙ the engine calling `MicroBatchStream.commit()` after
  * the batch's sink write succeeds (which is exactly where the Kafka
  * ramp commits the oldest uncompleted offset,
  * `contrib/kafka/ramps.py:180-198`, and the SQS ramp deletes messages,
  * `contrib/amazon_sqs/ramps.py:28-31`).
  *
  * The buffer behind every polling connector ([[PollingRamp]],
  * [[CometDRamp]], [[RecurlyRamp]], [[KinesisShardConsumer]],
  * [[SqsPoller]]): a process-global registry, valid in local[*].
  *
  * Release rule: each [[QueueRampStream]] holds its queue at the offset
  * it has committed, and the queue's committed offset is the minimum
  * over the holds (with none, [[commitUpTo]] sets it directly). A hold
  * belongs to the reading query's checkpoint, not to one run of it: a
  * stopped query keeps its hold while its checkpoint exists, and a
  * restart from that checkpoint takes it back. [[onCommit]] hooks fire
  * for each newly committed range, and only then are the entries below
  * it dropped, so a queue holds just the messages some reader has not
  * committed. Offsets stay absolute; reading one that was released
  * throws.
  */
object QueueRamp {
  final case class Entry(id: String, content: String, groupingValue: String, eventTimeMicros: Long)

  private[sources] final class Q {
    val entries = new ArrayDeque[Entry]()
    var base: Long = 0L // absolute offset of entries.head
    var committed: Long = 0L
    var draining: Boolean = false // see markDrainable
    val holds = HashMap[String, Hold]() // reader id → its hold
    val commitLock = new Object // serializes hooks and release, not enqueue
    def size: Long = base + entries.size
  }

  /** A stream's identity on its queue. `id` survives a restart of its
    * query (the query's checkpoint location); `resumable` says whether
    * such a restart can still happen once the stream has stopped. */
  private[sources] final class Reader(val name: String, val id: String, val resumable: () => Boolean)

  /** What one reader has committed; `live` until its stream stops. */
  private[sources] final class Hold(val reader: Reader, var pos: Long) { var live = true }

  private val queues = new ConcurrentHashMap[String, Q]()

  private def q(name: String): Q = queues.computeIfAbsent(name, _ => new Q)

  def exists(name: String): Boolean = queues.containsKey(name)

  /** Queue bootstrap — the reference's SQS get-or-create contract
    * (`motorway/contrib/amazon_sqs/mixins.py:6-19`: `init_queue` looks
    * the queue up and creates it on NonExistentQueue). A ramp must be
    * startable against a queue nobody has produced to yet; the stream
    * calls this before its first offset read. Returns true when the
    * queue was created by this call (≙ the mixin's create_queue
    * branch), false when it already existed. */
  def ensureQueue(name: String): Boolean = {
    // the created flag is derived INSIDE the atomic computeIfAbsent —
    // a check-then-act (containsKey, then create) would let two
    // concurrent bootstrappers both observe "absent" and both report
    // created=true, breaking the mixin's create/found distinction
    var created = false
    queues.computeIfAbsent(name, { _ => created = true; new Q })
    created
  }

  /** Append `msgs` and return the offset of the FIRST appended entry,
    * atomically under the queue lock. Callers mapping offsets to
    * external bookkeeping (shard-sequence inflight lists, SQS receipt
    * handles) MUST use this return value: a separate `size()` read
    * followed by `enqueue` races with a concurrent producer on the same
    * queue — e.g. the old lease owner during a takeover window, whose
    * `owned` check passed just before the lease moved — and skews the
    * offset→external-id mapping, which would let checkpoints publish
    * sequences whose offsets were never committed. */
  def enqueue(name: String, msgs: Seq[Entry]): Long = q(name).synchronized {
    val start = q(name).size
    q(name).entries ++= msgs
    start
  }

  def size(name: String): Long = q(name).synchronized(q(name).size)

  /** Entries at absolute offsets [from, until), clamped to the queue's
    * end. Throws when `from` lies below the released prefix. */
  def slice(name: String, from: Long, until: Long): Seq[Entry] = {
    val qu = q(name)
    qu.synchronized {
      if (from < qu.base)
        throw new IllegalStateException(s"queue '$name': offset $from was released " +
          s"(base ${qu.base}); every reader hold had committed it")
      val lo = (math.min(from, qu.size) - qu.base).toInt
      val hi = (math.min(math.max(until, from), qu.size) - qu.base).toInt
      qu.entries.view.slice(lo, hi).toVector
    }
  }

  private val commitHooks =
    new ConcurrentHashMap[String, ArrayBuffer[(Long, Long) => Unit]]()

  /** Register a success callback fired with each newly committed offset
    * range [from, until) — the seam where an external-system ack happens
    * at exactly engine-commit time (≙ the SQS ramp deleting messages in
    * `success()`, `contrib/amazon_sqs/ramps.py:28-31`). The range is
    * still readable with [[slice]] inside the hook. Hooks must not throw. */
  def onCommit(name: String)(hook: (Long, Long) => Unit): Unit = {
    // loop: a concurrent drop() can remove the buffer between the
    // computeIfAbsent and the append — re-fetch until the buffer we
    // locked is still the registered one
    var registered = false
    while (!registered) {
      val buf = commitHooks.computeIfAbsent(name, _ => new ArrayBuffer)
      buf.synchronized {
        if (commitHooks.get(name) eq buf) { buf += hook; registered = true }
      }
    }
  }

  /** Everything below `upTo` is acked, for a queue no stream reads: the
    * seam for consumers that play the engine. A read queue takes its
    * commits from its readers' holds only, so this throws while one is held. */
  def commitUpTo(name: String, upTo: Long): Unit = advance(name, q(name)) { qu =>
    if (lowestHold(qu).nonEmpty)
      throw new IllegalStateException(s"queue '$name' has ${qu.holds.size} reader " +
        "hold(s); its commits come from them")
    upTo
  }

  /** Register a reader. A new one holds the queue at its committed
    * offset; a restarted one takes back the hold it left. */
  private[sources] def register(r: Reader): Unit = {
    val qu = q(r.name)
    qu.synchronized(qu.holds.getOrElseUpdate(r.id, new Hold(r, qu.committed)).live = true)
  }

  /** A stopped reader keeps its hold while it is `resumable`, so a
    * restart from its checkpoint still finds what it has not committed. */
  private[sources] def stopReader(r: Reader): Unit =
    Option(queues.get(r.name)).foreach(qu => qu.synchronized(qu.holds.get(r.id).foreach(_.live = false)))

  /** Engine-driven success callback for one reader: the queue commits up
    * to the lowest offset every hold has committed. */
  private[sources] def commit(r: Reader, upTo: Long): Unit = advance(r.name, q(r.name)) { qu =>
    qu.holds.get(r.id).foreach(h => h.pos = math.max(h.pos, upTo))
    lowestHold(qu).getOrElse(qu.committed)
  }

  /** Drop the holds of stopped readers that can no longer resume, then
    * return the lowest offset a remaining hold has committed. */
  private def lowestHold(qu: Q): Option[Long] = {
    qu.holds.filterInPlace((_, h) => h.live || h.reader.resumable())
    qu.holds.valuesIterator.map(_.pos).minOption
  }

  /** Move `committed` to `target` (under the queue lock) when it grows,
    * fire the hooks for the new range, then release it. */
  private def advance(name: String, qu: Q)(target: Q => Long): Unit = qu.commitLock.synchronized {
    val range = qu.synchronized {
      val t = target(qu)
      if (t > qu.committed) { val from = qu.committed; qu.committed = t; Some((from, t)) }
      else None
    }
    range.foreach { case (from, until) =>
      Option(commitHooks.get(name)).toSeq
        .flatMap(h => h.synchronized(h.toVector))
        .foreach { hook =>
          // a throwing hook must not fail the engine's commit() — the
          // batch IS durably done; the external ack retries via the
          // next commit or redelivery (at-least-once)
          try hook(from, until)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[queue-ramp-$name] commit hook failed: " +
              String.valueOf(e.getMessage))
            e.printStackTrace()
          }
        }
      qu.synchronized {
        val n = math.min(until, qu.size) - qu.base
        qu.entries.dropInPlace(n.toInt)
        qu.base += n
      }
    }
  }

  def committed(name: String): Long = q(name).synchronized(q(name).committed)
  /** Forget the queue, its hooks and every hold on it. */
  def drop(name: String): Unit = { queues.remove(name); commitHooks.remove(name) }

  /** Entries still held: the ones some reader has not committed. */
  private[sources] def retained(name: String): Int = q(name).synchronized(q(name).entries.size)

  /** The holds' committed offsets, ascending, stopped readers' included. */
  private[sources] def readerPositions(name: String): Seq[Long] =
    q(name).synchronized(q(name).holds.values.map(_.pos).toVector.sorted)

  /** Test hook: an empty, unread queue whose first offset is `offset`,
    * as if `offset` messages had been enqueued and committed. */
  private[sources] def startAt(name: String, offset: Long): Unit = q(name).synchronized {
    require(q(name).entries.isEmpty && q(name).holds.isEmpty, s"queue '$name' is not empty and unread")
    q(name).base = offset
    q(name).committed = offset
  }

  /** Mark the queue as DRAINING: its producer is finished forever (a
    * Kinesis shard closed by a reshard, fully enqueued). The engine
    * withholds `commit(end_N)` until it constructs batch N+1 — which
    * never happens on a queue that will never see another record — so
    * without this flag a closed shard's tail is never externally acked
    * and the lease checkpoint never reaches the shard's ending sequence:
    * the reshard handoff stalls with children forever unclaimable
    * (probed empirically: the final commit does not arrive on idle or
    * even across a query restart). With the flag set,
    * [[QueueRampProvider]]'s `latestOffset(start, _)` treats `start` as
    * committed — safe because the engine only asks for offsets after
    * `start` once the batch ending at `start` has fully completed (sink
    * write + commit log), i.e. the same trigger where `commit(start)`
    * would have fired had there been more data; the KCL SHARD_END
    * checkpoint special-case, expressed at the queue seam. Normal
    * (non-draining) queues keep the engine's own commit timing
    * untouched. */
  def markDrainable(name: String): Unit = q(name).synchronized { q(name).draining = true }
  def isDrainable(name: String): Boolean = q(name).synchronized(q(name).draining)
}

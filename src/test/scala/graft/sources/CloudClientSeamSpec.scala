package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.RetryingBatchWriter

/** The client seam contract: connector protocol logic is pure over
  * [[KinesisApi]]/[[SqsApi]]/[[LeaseTable]], so these specs drive it
  * against the in-memory doubles exactly as the reference's tests drive
  * mocked AWS (`tests/test_amazon_kinesis.py:6-188`) — including a
  * flaky client and a dead-worker lease steal that must converge with
  * no record loss. */
class CloudClientSeamSpec extends AnyFunSuite {

  test("kinesis consumer: records flow, checkpoint follows engine commits, backpressure bounds uncompleted") {
    val api = new InMemoryKinesis
    val leases = new InMemoryLeaseTable
    (1 to 10).foreach(i => api.append("s", "shard-1", s"k$i", s"rec$i"))
    val c = new KinesisShardConsumer("s", "shard-1", "w1", api, leases, maxUncompleted = 3)
    QueueRamp.drop(c.queue)
    val acks = new AckRecorder(c.queue)
    assert(c.claim(), "first registration")
    // backpressure: max 3 uncompleted → poll caps at 3 then refuses
    assert(c.poll(limit = 3) == 3)
    assert(c.poll() == 0, "uncompleted at bound: poll must refuse")
    assert(c.lastMillisBehind == 7, "behind-the-head gauge")
    // engine commits 2 of 3 → checkpoint publishes seq 2, backpressure opens
    QueueRamp.commitUpTo(c.queue, 2)
    assert(c.checkpoint())
    assert(leases.get("shard-1").get.checkpoint == 2L)
    assert(c.poll(limit = 500) == 2, "room for exactly 2 more under the bound")
    // drain everything, 3 at a time under the bound
    QueueRamp.commitUpTo(c.queue, QueueRamp.size(c.queue))
    assert(c.poll() == 3)
    QueueRamp.commitUpTo(c.queue, QueueRamp.size(c.queue))
    assert(c.poll() == 2)
    QueueRamp.commitUpTo(c.queue, QueueRamp.size(c.queue))
    assert(c.checkpoint())
    assert(leases.get("shard-1").get.checkpoint == 10L)
    assert(acks.acked == (1 to 10).map(i => s"shard-1-$i"))
    QueueRamp.drop(c.queue)
  }

  /** Flaky client wrapper: every other getRecords call throws. */
  private final class FlakyKinesis(inner: KinesisApi) extends KinesisApi {
    var calls = 0
    var failures = 0
    def listShards(stream: String): Seq[String] = inner.listShards(stream)
    def describeShards(stream: String): Seq[KinesisApi.ShardInfo] = inner.describeShards(stream)
    def getRecords(stream: String, shardId: String, afterSequence: Long,
        limit: Int): KinesisApi.GetRecordsResult = {
      calls += 1
      if (calls % 2 == 1) { failures += 1; throw new RuntimeException(s"throttled (call $calls)") }
      inner.getRecords(stream, shardId, afterSequence, limit)
    }
    def putRecords(stream: String, records: Seq[KinesisApi.PutEntry]): Seq[RetryingBatchWriter.Outcome] =
      inner.putRecords(stream, records)
  }

  test("flaky client + dead worker: lease steal converges, no record loss") {
    val mem = new InMemoryKinesis
    val api = new FlakyKinesis(mem)
    val leases = new InMemoryLeaseTable
    (1 to 20).foreach(i => mem.append("s", "shard-1", s"k$i", s"rec$i"))

    // worker A consumes through the flaky client, commits 8, then dies
    val a = new KinesisShardConsumer("s", "shard-1", "wA", api, leases)
    QueueRamp.drop(a.queue)
    assert(a.claim())
    var polled = 0
    while (polled < 12) polled += a.poll(limit = 4) // flaky: every other call fails, loop survives
    assert(api.failures > 0, "the flaky client did throw")
    QueueRamp.commitUpTo(a.queue, 8)
    assert(a.checkpoint())
    assert(leases.get("shard-1").get.checkpoint == 8L)
    // A dies: its queue (engine state) goes with it; 9..12 were in flight
    QueueRamp.drop(a.queue)

    // worker B detects the stale owner (no heartbeat during the wait)
    val coordB = new ShardLeaseCoordinator("wB", leases)
    assert(coordB.canClaimShard("shard-1"), "dead owner must be claimable")
    val b = new KinesisShardConsumer("s", "shard-1", "wB", api, leases)
    val acks = new AckRecorder(b.queue)
    assert(b.claim(), "takeover CAS")
    assert(leases.get("shard-1").get.checkpoint == 8L, "checkpoint transferred, not reset")
    // B resumes strictly after 8: replays 9..12 (uncommitted = at-least-once), reads 13..20
    var got = 0
    while (got < 12) got += b.poll(limit = 5)
    QueueRamp.commitUpTo(b.queue, QueueRamp.size(b.queue))
    assert(b.checkpoint())
    assert(leases.get("shard-1").get.checkpoint == 20L, "converged to the head")
    assert(acks.acked == (9 to 20).map(i => s"shard-1-$i"),
      "exactly the uncommitted suffix replayed — nothing lost, nothing before the checkpoint")
    QueueRamp.drop(b.queue)
  }

  test("consumer refuses to poll a shard it does not own") {
    val api = new InMemoryKinesis
    val leases = new InMemoryLeaseTable
    api.append("s", "shard-1", "k", "rec")
    leases.force(ShardLease("shard-1", 0L, "other", 0L))
    val c = new KinesisShardConsumer("s", "shard-1", "me", api, leases)
    QueueRamp.drop(c.queue)
    assert(c.poll() == 0)
    assert(QueueRamp.size(c.queue) == 0)
    QueueRamp.drop(c.queue)
  }

  test("sqs poller: visibility hides, engine commit deletes, expiry redelivers") {
    var now = 0L
    val api = new InMemorySqs(clockMs = () => now)
    (1 to 3).foreach(i => api.send("jobs", s"body$i"))
    QueueRamp.drop("sqs-jobs") // clean slate before the poller registers its hook
    val p2 = new SqsPoller("jobs", api, visibilityTimeoutMs = 1000L)
    assert(p2.pollOnce(max = 10) == 3)
    assert(p2.pollOnce() == 0, "received messages are invisible")
    // engine commits the first two → deleted in SQS permanently
    QueueRamp.commitUpTo(p2.queue, 2)
    assert(api.remaining("jobs") == 1)
    // an engine commit SLOWER than the visibility timeout must still
    // delete: the latest handle stays valid after expiry (AWS behavior)
    // as long as no new receive superseded it
    (1 to 1).foreach(_ => api.send("jobs", "slowbatch"))
    val slow = api.receive("jobs", 1, 1000L)
    now = 5000L // visibility long expired, no re-receive happened
    assert(api.delete("jobs", slow.head.receiptHandle),
      "latest handle must delete even after the visibility timeout")
    // the uncommitted third reappears after the visibility timeout
    assert(p2.pollOnce() == 1, "un-deleted message must redeliver")
    val redelivered = QueueRamp.slice(p2.queue, 3, 4)
    assert(redelivered.map(_.content) == Seq("body3"), "at-least-once replay of the uncommitted message")
    QueueRamp.commitUpTo(p2.queue, 4)
    assert(api.remaining("jobs") == 0, "commit after redelivery deletes with the fresh handle")
    QueueRamp.drop(p2.queue)
  }

  test("sqs send enforces the 256 KB bound") {
    val api = new InMemorySqs()
    assertThrows[IllegalArgumentException](api.send("jobs", "x" * (256 * 1024 + 1)))
  }

  // Resharding — the operational case the reference's lease table never
  // handled: children must stay unclaimable until every parent is
  // drained to its ending sequence, and nothing may be lost or
  // replayed-before-checkpoint across the boundary.
  test("shard split: children claimable only after the parent drains; no replay loss") {
    val api = new InMemoryKinesis
    val leases = new InMemoryLeaseTable
    api.createShard("s", "shard-1")
    (1 to 10).foreach(i => api.append("s", "shard-1", s"k$i", s"p$i"))
    assert(KinesisResharding.registerStartable("s", "w1", api, leases) == Seq("shard-1"),
      "bootstrap: the parentless shard registers")
    val parent = new KinesisShardConsumer("s", "shard-1", "w1", api, leases)
    QueueRamp.drop(parent.queue)
    val parentAcks = new AckRecorder(parent.queue)
    assert(parent.claim())
    assert(parent.poll() == 10)
    QueueRamp.commitUpTo(parent.queue, 6)
    assert(parent.checkpoint())

    // split mid-consumption; post-split traffic lands on the children
    api.splitShard("s", "shard-1", "shard-2", "shard-3")
    api.append("s", "shard-2", "kA", "c2-1")
    api.append("s", "shard-3", "kB", "c3-1")
    // closed parent rejects writes
    assertThrows[IllegalArgumentException](api.append("s", "shard-1", "k", "late"))
    assert(KinesisResharding.registerStartable("s", "w1", api, leases).isEmpty,
      "children must not register while the parent has an uncommitted tail")
    assert(!KinesisResharding.drained("s", "shard-1", api, leases))

    // drain the parent tail (7..10), then the children open up
    QueueRamp.commitUpTo(parent.queue, 10)
    assert(parent.checkpoint())
    assert(KinesisResharding.drained("s", "shard-1", api, leases))
    assert(KinesisResharding.registerStartable("s", "w1", api, leases).sorted ==
      Seq("shard-2", "shard-3"))
    val kids = Seq("shard-2", "shard-3").map { id =>
      val c = new KinesisShardConsumer("s", id, "w1", api, leases)
      QueueRamp.drop(c.queue); assert(c.claim()); (c, new AckRecorder(c.queue))
    }
    kids.foreach { case (c, _) =>
      assert(c.poll() == 1, "child starts at its TRIM_HORIZON (checkpoint 0)")
      QueueRamp.commitUpTo(c.queue, 1)
      assert(c.checkpoint())
    }
    assert(parentAcks.acked == (1 to 10).map(i => s"shard-1-$i"))
    assert(kids.flatMap(_._2.acked) == Seq("shard-2-1", "shard-3-1"))
    (parent +: kids.map(_._1)).foreach(c => QueueRamp.drop(c.queue))
  }

  test("shard merge: the child waits for BOTH parents to drain") {
    val api = new InMemoryKinesis
    val leases = new InMemoryLeaseTable
    api.createShard("s", "shard-1"); api.createShard("s", "shard-2")
    (1 to 3).foreach(i => api.append("s", "shard-1", s"k$i", s"a$i"))
    (1 to 2).foreach(i => api.append("s", "shard-2", s"k$i", s"b$i"))
    KinesisResharding.registerStartable("s", "w1", api, leases)
    val c1 = new KinesisShardConsumer("s", "shard-1", "w1", api, leases)
    val c2 = new KinesisShardConsumer("s", "shard-2", "w1", api, leases)
    Seq(c1, c2).foreach { c => QueueRamp.drop(c.queue); assert(c.claim()) }

    api.mergeShards("s", "shard-1", "shard-2", "shard-12")
    // first parent drains fully; second still has its tail
    assert(c1.poll() == 3); QueueRamp.commitUpTo(c1.queue, 3); assert(c1.checkpoint())
    assert(KinesisResharding.drained("s", "shard-1", api, leases))
    assert(KinesisResharding.registerStartable("s", "w1", api, leases).isEmpty,
      "one drained parent is not enough for a merge child")
    // second parent drains → child registers and consumes merged traffic
    assert(c2.poll() == 2); QueueRamp.commitUpTo(c2.queue, 2); assert(c2.checkpoint())
    assert(KinesisResharding.registerStartable("s", "w1", api, leases) == Seq("shard-12"))
    api.append("s", "shard-12", "k", "merged-1")
    val child = new KinesisShardConsumer("s", "shard-12", "w1", api, leases)
    QueueRamp.drop(child.queue)
    assert(child.claim())
    assert(child.poll() == 1)
    (Seq(c1, c2, child)).foreach(c => QueueRamp.drop(c.queue))
  }

  test("kinesis sink seam: putRecords feeds the partial-retry writer") {
    val api = new InMemoryKinesis
    api.createShard("out", "shard-a"); api.createShard("out", "shard-b")
    val entries = (1 to 7).map(i => KinesisApi.PutEntry(s"pk$i", s"data$i"))
    val res = RetryingBatchWriter.writeAll(entries, maxBatch = 3)(api.putRecords("out", _))
    assert(res.succeeded == entries && res.failed.isEmpty)
    val landed = Seq("shard-a", "shard-b")
      .flatMap(s => api.getRecords("out", s, 0L, 100).records.map(_.data)).sorted
    assert(landed == (1 to 7).map(i => s"data$i").sorted.toList)
  }
}

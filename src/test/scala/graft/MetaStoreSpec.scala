package graft

import graft.control.{JobMessage, MetaStore}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Durable control-plane semantics: the reference's GORM store
  * (hashed-key lookup, share expiry) and DB queue (claim / ack / nack /
  * crash redelivery — pkg/storage/database/gorm/queue.go:15-91). */
class MetaStoreSpec extends AnyFunSuite {

  private def newDir() = Files.createTempDirectory("graft-meta").toString + "/db"

  test("queue: enqueue/dequeue/ack/nack, at-least-once across reopen") {
    val dir = newDir()
    val m1 = new MetaStore(dir)
    val job = JobMessage.InsertFile("db1", "t1", "/tmp/f1.ndjson")
    val id = m1.enqueue(job)
    assert(m1.size == 1 && !m1.isEmpty)

    // claim but do NOT ack — simulates a worker dying mid-job
    val claimed = m1.dequeue(1000)
    assert(claimed.contains((id, job)))
    assert(m1.dequeue(50).isEmpty, "claimed job must not be double-claimed")
    m1.close()

    // reopen: the claimed-but-unacked job is redelivered
    val m2 = new MetaStore(dir)
    val redelivered = m2.dequeue(1000)
    assert(redelivered.contains((id, job)), "crash redelivery")
    m2.ack(id)
    assert(m2.isEmpty)

    // nack puts a job back for another worker
    val cp = JobMessage.CopyData("src", "select * from t \"quoted\"\nnewline", "dst", "t2")
    val id2 = m2.enqueue(cp)
    assert(m2.dequeue(1000).contains((id2, cp)), "payload round-trips exactly")
    m2.nack(id2)
    assert(m2.dequeue(1000).contains((id2, cp)))
    m2.ack(id2)
    m2.close()
  }

  test("queue: enqueue and nack wake a waiting dequeue well before its timeout") {
    val m = new MetaStore(newDir())
    val job = JobMessage.InsertFile("db1", "t1", "/tmp/f1.ndjson")
    def waitingDequeue() = {
      val result = new java.util.concurrent.CompletableFuture[(Option[(Long, JobMessage)], Long)]
      new Thread(() => {
        val claimed = m.dequeue(30000)
        result.complete((claimed, System.nanoTime()))
      }).start()
      Thread.sleep(300) // let the consumer reach its wait
      result
    }
    val first = waitingDequeue()
    val enqueuedAt = System.nanoTime()
    val id = m.enqueue(job)
    val (claimed, wokeAt) = first.get(10, java.util.concurrent.TimeUnit.SECONDS)
    assert(claimed.contains((id, job)))
    assert((wokeAt - enqueuedAt) / 1000000L < 5000, "enqueue must wake the waiting dequeue")

    val second = waitingDequeue()
    val nackedAt = System.nanoTime()
    m.nack(id)
    val (again, wokeAgainAt) = second.get(10, java.util.concurrent.TimeUnit.SECONDS)
    assert(again.contains((id, job)))
    assert((wokeAgainAt - nackedAt) / 1000000L < 5000, "nack must wake the waiting dequeue")
    m.ack(id)
    m.close()
  }

  test("leases: exclusive while live, TTL takeover, monotone fencing") {
    val m = new MetaStore(newDir())
    val t0 = 1000000L
    // first acquire wins with fence 1; re-acquire extends and bumps
    assert(m.acquireLease("dedup/db/t", "w1", ttlMs = 5000, nowMs = t0).contains(1L))
    assert(m.acquireLease("dedup/db/t", "w1", ttlMs = 5000, nowMs = t0 + 100).contains(2L))
    // a second holder is locked out while the lease is live
    assert(m.acquireLease("dedup/db/t", "w2", ttlMs = 5000, nowMs = t0 + 200).isEmpty)
    // independent lease names don't contend
    assert(m.acquireLease("dedup/db/u", "w2", ttlMs = 5000, nowMs = t0).contains(1L))
    // past the TTL the dead holder is fenced: w2 takes over with a
    // HIGHER token than any w1 ever held
    assert(m.acquireLease("dedup/db/t", "w2", ttlMs = 5000, nowMs = t0 + 100 + 5001).contains(3L))
    assert(m.acquireLease("dedup/db/t", "w1", ttlMs = 5000, nowMs = t0 + 5300).isEmpty)
    // release only frees the caller's own lease
    m.releaseLease("dedup/db/t", "w1") // no-op: w2 holds it
    assert(m.acquireLease("dedup/db/t", "w1", ttlMs = 5000, nowMs = t0 + 5400).isEmpty)
    // fencing stays monotone across release/re-acquire (release
    // expires, never deletes — a reset-to-1 would let a stale fenced
    // writer outrank the new holder)
    m.releaseLease("dedup/db/t", "w2")
    assert(m.acquireLease("dedup/db/t", "w1", ttlMs = 5000, nowMs = t0 + 5500).contains(4L))
    m.close()
  }

  test("keys, destinations, shares persist and expire") {
    val dir = newDir()
    val m1 = new MetaStore(dir)
    m1.putKey("abc123", "tenant_db", isAdmin = false)
    m1.putKey("admin99", "", isAdmin = true)
    m1.putKey("abc123", "moved_db", isAdmin = false) // overwrite = move key
    m1.addDestination("d1")
    m1.addDestination("d1") // idempotent
    m1.addDestination("d0")
    m1.putShare("u-1", "tenant_db", "select 1", "live", expiresAtMs = Long.MaxValue)
    m1.putShare("u-2", "tenant_db", "select 2", "dead", expiresAtMs = 0L)
    m1.close()

    val m2 = new MetaStore(dir)
    assert(m2.lookupKey("abc123").contains(("moved_db", false)))
    assert(m2.lookupKey("admin99").contains(("", true)))
    assert(m2.lookupKey("nope").isEmpty)
    assert(m2.listDestinations() == Seq("d0", "d1"))
    assert(m2.hasDestination("d1") && !m2.hasDestination("dX"))
    assert(m2.getShare("u-1", nowMs = 1000L)
      .contains(("tenant_db", "select 1", "live")))
    assert(m2.getShare("u-2", nowMs = 1000L).isEmpty, "expired shares are reaped")
    assert(m2.getShare("u-2", nowMs = 0L).isEmpty, "reaped share stays gone")
    m2.close()
  }
}

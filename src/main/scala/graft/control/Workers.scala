package graft.control

import graft.query.Copier
import graft.sources.Loader
import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicBoolean

/** Worker pool consuming the job queue (reference:
  * pkg/workers/workers.go:27-185 — N consumers over a polled queue,
  * message deleted only on success → at-least-once, duplicates
  * possible). Each job body launches Spark actions; parallel workers
  * give concurrent Spark jobs, which local[N] and clusters both
  * schedule fairly. */
final class Workers(queue: JobQueue, loader: Loader, copier: Copier,
                    count: Int = 1, pollMs: Long = 100, maxAttempts: Int = 3) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val running = new AtomicBoolean(false)
  private val attempts = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
  private var threads: Seq[Thread] = Nil

  def start(): Unit = if (running.compareAndSet(false, true)) {
    threads = (1 to count).map { i =>
      val t = new Thread(() => loop(), s"graft-worker-$i")
      t.setDaemon(true); t.start(); t
    }
  }

  def stop(): Unit = {
    running.set(false)
    threads.foreach(_.join(5000))
  }

  /** Synchronously drain the queue (tests / shutdown). */
  def drain(timeoutMs: Long = 60000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!queue.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    queue.isEmpty
  }

  private def loop(): Unit = {
    while (running.get()) {
      queue.dequeue(pollMs).foreach { case (id, msg) =>
        try {
          process(id, msg)
          queue.ack(id)
          attempts.remove(id)
        } catch {
          case e: Exception =>
            val n = attempts.merge(id, 1, (a, b) => a + b)
            log.warn(s"job $id failed (attempt $n of $maxAttempts): ${e.getMessage}")
            if (n < maxAttempts) {
              // Backoff before redelivery: transient faults (a sidecar
              // mid-commit, a metastore row lock) re-fail identically
              // within milliseconds; 100ms·2ⁿ gives the writer's window
              // time to close before the attempt budget is spent.
              Thread.sleep(math.min(2000L, 100L << (n - 1)))
              queue.nack(id)
            }
            else { queue.ack(id); attempts.remove(id) } // dead-letter: drop after max attempts
        }
      }
    }
  }

  // The queue id is stable across nack/redelivery (both queue arms),
  // so it is the idempotency key that turns a retried job's table
  // publish from at-least-once into exactly-once (GraftCatalog.append).
  private def process(id: Long, msg: JobMessage): Unit = msg match {
    case JobMessage.InsertFile(db, table, path) =>
      loader.loadFile(db, table, Paths.get(path), Some(s"q$id"))
    case JobMessage.CopyData(srcDb, query, destDb, destTable) =>
      copier.copy(srcDb, query, destDb, destTable, Some(s"q$id"))
  }
}

package graft.control

/** Control-plane job messages (the reference's queue payloads:
  * /root/reference/pkg/storage/queue/models/models.go and
  * pkg/storage/database/models/models.go:70-91). */
sealed trait JobMessage
object JobMessage {
  /** A rotated NDJSON batch file ready to bulk-load (INSERT_DATA). */
  final case class InsertFile(database: String, table: String, path: String) extends JobMessage
  /** Cross-table ETL: run query on source, append into dest (COPY_DATA). */
  final case class CopyData(sourceDb: String, query: String,
                            destDb: String, destTable: String) extends JobMessage
}

/** At-least-once job queue contract (the reference backs this with a
  * DB table + FOR UPDATE SKIP LOCKED —
  * pkg/storage/database/gorm/queue.go:15-91): claim on dequeue, remove
  * on ack, redeliver on nack, duplicates possible, loss impossible.
  * [[MetaStore]] implements it (Derby-backed, survives restarts). */
trait JobQueue {
  def enqueue(msg: JobMessage): Long
  def dequeue(timeoutMs: Long): Option[(Long, JobMessage)]
  def ack(id: Long): Unit
  def nack(id: Long): Unit
  def isEmpty: Boolean
  def size: Int
}

package graft.sources

import graft.functions.Ulid
import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The reference's append-only micro-batching data sink
  * (/root/reference/pkg/datasink/filesystem/filesystem.go): JSON lines
  * append to one open NDJSON file per (database, table); a file rotates
  * (closes) once it breaches maxBytes / maxRows / maxAgeSeconds; closed
  * files are handed to `onRotate`. The reference uploads the file to a
  * blob store and its worker downloads it to load; graft's server
  * uploads a copy through the upload-only [[graft.control.BlobStore]]
  * and enqueues a load job naming the LOCAL sink path, which the
  * worker's `Loader.loadFile` reads (same at-least-once contract).
  * Nothing deletes the sink file or the blob copy after the load.
  *
  * `tick()` is the 1 s rotation check made explicit (testable, no
  * background thread required); `start()` runs it on a scheduler for
  * server deployments.
  */
final class NdjsonSink(
    root: String,
    maxBytes: Long = 100L * 1024 * 1024,
    maxRows: Long = 100000,
    maxAgeSeconds: Long = 300,
    onRotate: NdjsonSink.ClosedFile => Unit = _ => ()) {

  import NdjsonSink._

  private final class OpenFile(val key: Key, val path: Path) {
    val out: OutputStream = new BufferedOutputStream(new FileOutputStream(path.toFile))
    var bytes: Long = 0
    var rows: Long = 0
    val openedAtMs: Long = System.currentTimeMillis()
  }

  private val open = mutable.Map.empty[Key, OpenFile]
  @volatile private var scheduler: java.util.concurrent.ScheduledExecutorService = _

  /** Append one JSON line (rotation predicate checked on write too, so
    * a single huge batch can't overshoot maxBytes by more than a line). */
  def writeData(database: String, table: String, line: String): Unit = synchronized {
    val key = Key(database, table)
    val f = open.getOrElseUpdate(key, newFile(key))
    val data = (line.stripLineEnd + "\n").getBytes("UTF-8")
    f.out.write(data)
    f.bytes += data.length
    f.rows += 1
    if (shouldRotate(f)) rotate(f)
  }

  /** Periodic rotation check (reference: 1 s ticker). */
  def tick(): Unit = synchronized {
    open.values.toSeq.filter(shouldRotate).foreach(rotate)
  }

  /** Close and hand over everything (shutdown / test flush). */
  def flushAll(): Seq[ClosedFile] = synchronized {
    val closed = open.values.toSeq.map(rotate)
    closed
  }

  def start(periodMs: Long = 1000): Unit = synchronized {
    if (scheduler == null) {
      scheduler = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "ndjson-sink-rotator"); t.setDaemon(true); t
      }
      scheduler.scheduleAtFixedRate(() => tick(), periodMs, periodMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
    }
  }

  def stop(): Unit = synchronized {
    if (scheduler != null) { scheduler.shutdown(); scheduler = null }
    flushAll()
  }

  private def shouldRotate(f: OpenFile): Boolean =
    f.bytes >= maxBytes || f.rows >= maxRows ||
      (System.currentTimeMillis() - f.openedAtMs) / 1000 >= maxAgeSeconds

  private def newFile(key: Key): OpenFile = {
    val dir = Paths.get(root, key.database, key.table)
    Files.createDirectories(dir)
    new OpenFile(key, dir.resolve(s"${Ulid.make()}.ndjson"))
  }

  private def rotate(f: OpenFile): ClosedFile = {
    f.out.close()
    open.remove(f.key)
    val closed = ClosedFile(f.key.database, f.key.table, f.path, f.rows, f.bytes)
    onRotate(closed)
    closed
  }
}

object NdjsonSink {
  final case class Key(database: String, table: String)
  final case class ClosedFile(database: String, table: String, path: Path, rows: Long, bytes: Long)
}

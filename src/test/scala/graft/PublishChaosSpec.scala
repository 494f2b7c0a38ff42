package graft

import graft.control.{JobMessage, MetaStore}
import graft.sources.{GraftCatalog, Loader}
import org.apache.hadoop.fs.{Path => HPath}
import java.nio.file.{Files, Paths}

/** Chaos probe for the exactly-once publish boundary (VERDICT r13 #5):
  * the jobKey rename-publish exists for the window where a WORKER dies
  * AFTER the Spark load completes and BEFORE the queue ack — the queue
  * then redelivers (at-least-once) and the retry must CONVERGE (no
  * duplicate rows, no lost rows) instead of appending a second copy.
  * The kill is injected at the exact state the crash leaves behind:
  * the worker loop's steps are dequeue → process → ack, so "killed
  * before ack" IS "processed, never acked, redelivered" — driven here
  * deterministically at each crash point inside process/publish. */
class PublishChaosSpec extends SparkTestBase {

  private def fixture() = {
    val tmp = Files.createTempDirectory("chaos").toString
    val catalog = new GraftCatalog(spark, s"$tmp/warehouse")
    val loader = new Loader(catalog)
    val file = Paths.get(tmp, "batch.ndjson")
    Files.writeString(file,
      (1 to 50).map(i => s"""{"k": $i, "v": "row$i"}""").mkString("\n"))
    (catalog, loader, file, tmp)
  }

  private def rows(cat: GraftCatalog) = cat.read("db", "t").count()

  test("worker killed between load completion and ack: redelivery converges, no dups") {
    val (catalog, loader, file, tmp) = fixture()
    // the Derby-backed queue the workers run on
    val queue = new MetaStore(s"$tmp/meta")
    try {
      val id = queue.enqueue(JobMessage.InsertFile("db", "t", file.toString))

      // attempt 1: the worker claims and fully processes the job — the
      // table publish is COMPLETE — then dies before queue.ack(id)
      val Some((jid, JobMessage.InsertFile(db, tbl, path))) = queue.dequeue(1000)
      loader.loadFile(db, tbl, Paths.get(path), Some(s"q$jid"))
      assert(rows(catalog) == 50, "attempt 1 published the batch")
      assert(!queue.isEmpty, "unacked job must remain visible to the queue")
      queue.nack(jid) // the redelivery a crashed claim gets

      // attempt 2: another worker claims the SAME job id and reruns the
      // SAME code path — the keyed republish replaces attempt 1's files
      val Some((jid2, JobMessage.InsertFile(db2, tbl2, path2))) = queue.dequeue(1000)
      assert(jid2 == jid, "queue ids are stable across redelivery")
      loader.loadFile(db2, tbl2, Paths.get(path2), Some(s"q$jid2"))
      queue.ack(jid2)

      assert(rows(catalog) == 50, "redelivered job must not duplicate rows")
      assert(queue.isEmpty)
      // and a DIFFERENT job with the same content is a genuine second
      // batch — keying is per job, not per content
      val id3 = queue.enqueue(JobMessage.InsertFile("db", "t", file.toString))
      val Some((jid3, JobMessage.InsertFile(_, _, p3))) = queue.dequeue(1000)
      loader.loadFile("db", "t", Paths.get(p3), Some(s"q$jid3"))
      queue.ack(jid3)
      assert(rows(catalog) == 100, "distinct job ids append distinct batches")
    } finally queue.close()
  }

  test("worker killed MID-publish (files moved, marker never written): retry completes the batch") {
    val (catalog, loader, file, tmp) = fixture()
    loader.loadFile("db", "t", file, Some("q7"))
    assert(rows(catalog) == 50)
    val fs = new HPath(tmp).getFileSystem(spark.sessionState.newHadoopConf())

    // crash point A: every file renamed in, marker PUT never happened —
    // reconstructed by deleting the marker of the completed publish
    val commits = new HPath(s"$tmp/warehouse/db/t/commits")
    val markers = fs.listStatus(commits).map(_.getPath)
    assert(markers.length == 1)
    fs.delete(markers.head, false)
    assert(catalog.committedKeys("db", "t").isEmpty)
    assert(rows(catalog) == 0,
      "readers never see a batch whose marker is missing")

    // crash point B (earlier still): also lose one published file —
    // the partial-batch state a mid-publish kill leaves
    val data = new HPath(s"$tmp/warehouse/db/t/data")
    val part = fs.listStatus(data).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    fs.delete(part, false)
    assert(rows(catalog) < 50, "the crash left a partial batch")

    // redelivery: same jobKey reruns the load — old partial files are
    // swept, the full batch republishes, the marker commits it
    loader.loadFile("db", "t", file, Some("q7"))
    assert(rows(catalog) == 50, "retry converges to exactly one copy")
    assert(catalog.committedKeys("db", "t").size == 1)
    assert(rows(catalog) == 50, "the completed publish is marker-committed")
  }

  test("redelivery storm: N sequential redeliveries of one job stay exactly-once") {
    val (catalog, loader, file, _) = fixture()
    (1 to 5).foreach { _ =>
      loader.loadFile("db", "t", file, Some("q-storm"))
      assert(rows(catalog) == 50, "every replay must land on the same 50 rows")
    }
    assert(catalog.committedKeys("db", "t").size == 1)
  }

  test("a batch without its marker is never read, compacted or duplicated by its redelivery") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("chaos").toString
    val catalog = new GraftCatalog(spark, s"$tmp/warehouse")
    catalog.ensureTable("db", "t")
    catalog.addColumns("db", "t", Map("k" -> "int"))
    val fs = new HPath(tmp).getFileSystem(spark.sessionState.newHadoopConf())
    def batch(ids: Range) =
      ids.map(i => (i.toLong, i.toLong)).toDF("__row_id", "k").repartition(2)
    def ids() = catalog.read("db", "t").select("__row_id").as[Long].collect().toSeq
    // the state a worker leaves when it dies after publishing a batch's
    // two files and before writing its marker
    def publishWithoutMarker(rows: Range, jobKey: String): Unit = {
      val before = catalog.committedKeys("db", "t")
      catalog.append("db", "t", batch(rows), Some(jobKey))
      (catalog.committedKeys("db", "t") -- before).foreach(k =>
        fs.delete(new HPath(s"$tmp/warehouse/db/t/commits/$k.json"), false))
    }

    catalog.append("db", "t", batch(1 to 10), Some("q1"))
    publishWithoutMarker(11 to 20, "q2") // redelivered below
    publishWithoutMarker(21 to 30, "q3") // dead-lettered: never redelivered
    assert(ids().sorted == (1L to 10L), "unmarked batches are hidden")

    // a rewrite reads through `read`: it must not fold the unmarked
    // files into the new generation, where no key names them any more
    catalog.compact("db", "t")
    assert(ids().sorted == (1L to 10L), "compaction keeps only committed rows")

    // the redelivery of q2 republishes it under its key, exactly once
    catalog.append("db", "t", batch(11 to 20), Some("q2"))
    assert(ids().sorted == (1L to 20L), "every row sent is held exactly once")
    catalog.compact("db", "t")
    assert(ids().sorted == (1L to 20L), "the dead-lettered q3 stays hidden")
  }

  test("worker killed before the index params write: the next batch is accepted") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("chaos").toString
    val catalog = new GraftCatalog(spark, s"$tmp/warehouse")
    // a convention other than the defaults (the md5 k-hash family)
    val params = GraftCatalog.DedupParams(4, 64, 16, 7L, useMd5 = true, oph = false)
    catalog.addColumns("db", "docs", Map("text" -> "string"))
    catalog.setDedupPolicy("db", "docs", GraftCatalog.DedupPolicy("text", "tag", 0.7, params))
    val shared = (1 to 50).map(i => s"cv$i").mkString(" ")
    catalog.appendWithPolicy("db", "docs", Seq(s"$shared ending one").toDF("text"))

    // the crash window: the index rows landed, params.json did not
    val paramsFile = new HPath(catalog.dedupIndexDir("db", "docs"), "params.json")
    paramsFile.getFileSystem(spark.sessionState.newHadoopConf()).delete(paramsFile, false)

    catalog.appendWithPolicy("db", "docs", Seq(s"$shared ending two").toDF("text"))
    assert(catalog.storedIndexParams("db", "docs").contains(params))
    assert(catalog.read("db", "docs").filter($"__is_dup").count() == 1,
      "the second batch probes the index and is tagged a near-dup")
  }
}

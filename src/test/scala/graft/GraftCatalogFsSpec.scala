package graft

import graft.sources.GraftCatalog
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions.col

/** The object-store-capable warehouse cycle, driven through an EXPLICIT
  * `file://` Hadoop FileSystem URI — the same code path an `s3a://` or
  * `gs://` root takes (FS resolved from the root's scheme, every byte
  * of catalog I/O through the Hadoop API; a java.nio catalog would
  * throw on the scheme'd root at the first sidecar write). Covers:
  * ingest → marker-committed publish → batch-atomic read
  * → generation-pointer compact → post-compact append → compact again. */
class GraftCatalogFsSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("whfs")
    "file://" + d.toString + "/warehouse"
  }

  test("full cycle on a file:// Hadoop FS root: ingest, publish, read, compact, compact again") {
    val root = freshRoot()
    val cat = new GraftCatalog(spark, root)
    cat.ensureTable("db", "t")
    cat.addColumns("db", "t", Map("k" -> "int", "v" -> "string"))
    assert(cat.listTables("db") == Seq("t"))
    assert(cat.schemaOf("db", "t") == Map("__row_id" -> "int", "k" -> "int", "v" -> "string"))

    // three appends -> three marker-committed batches
    (1 to 3).foreach { i =>
      cat.append("db", "t",
        Seq((i.toLong, i.toLong, s"v$i")).toDF("__row_id", "k", "v"),
        jobKey = Some(s"job-$i"))
    }
    assert(cat.read("db", "t").count() == 3)
    assert(cat.committedKeys("db", "t").size == 3)

    // idempotent republish: redelivering job-2 replaces, never duplicates
    cat.append("db", "t",
      Seq((2L, 2L, "v2-retry")).toDF("__row_id", "k", "v"),
      jobKey = Some("job-2"))
    val afterRetry = cat.read("db", "t")
    assert(afterRetry.count() == 3, "redelivered jobKey must not duplicate rows")
    assert(afterRetry.filter(col("k") === 2).select("v").as[String].head() == "v2-retry")

    // compact commits via the gen pointer: data moves to data-1, reads
    // resolve through gen.json, rows unchanged
    val (before, after) = cat.compact("db", "t")
    assert(before >= 3 && after >= 1 && after <= before, s"($before, $after)")
    val fs = new HPath(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new HPath(root + "/db/t/gen.json")), "rewrite must commit a gen pointer")
    assert(fs.exists(new HPath(root + "/db/t/data-1")), "rewrite output is a new generation")
    assert(!fs.exists(new HPath(root + "/db/t/data")), "old generation cleaned up")
    assert(cat.read("db", "t").count() == 3)
    assert(cat.committedKeys("db", "t").isEmpty,
      "markers describe pre-rewrite batches and must be cleared by the flip")

    // appends keep working against the new generation
    cat.append("db", "t", Seq((4L, 4L, "v4")).toDF("__row_id", "k", "v"))
    assert(cat.read("db", "t").count() == 4)
    assert(fs.listStatus(new HPath(root + "/db/t/data-1"))
      .exists(_.getPath.getName.endsWith(".parquet")), "append lands in the live generation")

    // a second compact is a second rewrite -> data-2, same rows
    cat.compact("db", "t")
    assert(fs.exists(new HPath(root + "/db/t/data-2")))
    assert(!fs.exists(new HPath(root + "/db/t/data-1")))
    assert(cat.read("db", "t").orderBy("k").select("k").as[Long].collect().toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("a read hides a published-but-unmarked batch (crash before marker)") {
    val root = freshRoot()
    val cat = new GraftCatalog(spark, root)
    cat.ensureTable("db", "t")
    cat.addColumns("db", "t", Map("k" -> "int"))
    cat.append("db", "t", Seq((1L, 10L)).toDF("__row_id", "k"), jobKey = Some("good"))

    // simulate a worker death between file publish and marker PUT: a
    // keyed parquet file lands in the data dir with NO commit marker
    val fs = new HPath(root).getFileSystem(spark.sessionState.newHadoopConf())
    val stage = java.nio.file.Files.createTempDirectory("orphan").toString
    Seq((2L, 20L)).toDF("__row_id", "k").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) src = p }
    val orphanKey = "a" * 32 // shape of a publish key, but never committed
    fs.copyFromLocalFile(new HPath(src.toString),
      new HPath(root + s"/db/t/data/$orphanKey-0.parquet"))

    assert(cat.read("db", "t").count() == 1,
      "a read must hide the marker-less batch")
    // completing the publish (marker appears) makes it visible
    cat.append("db", "t", Seq((2L, 20L)).toDF("__row_id", "k"),
      jobKey = Some("second"))
    assert(cat.read("db", "t").count() == 2)
  }
}

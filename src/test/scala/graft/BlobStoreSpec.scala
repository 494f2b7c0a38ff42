package graft

import graft.api.GraftServer
import graft.control.HadoopBlobStore
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration

/** A non-local Hadoop FS scheme for tests: `mocks3://bucket/...`
  * resolves through the same FileSystem registry + initialize path an
  * s3a:// URI does (hadoop-aws binds fs.s3a.impl the same way), backed
  * by the local filesystem underneath. */
class MockS3FileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("mocks3://bucket/")
}

/** The A19 claim made real: the upload-only blob store speaking a
  * non-local scheme through the Hadoop FS API (reference behavior:
  * pkg/storage/blobstore/s3/s3.go Upload). */
class BlobStoreSpec extends SparkTestBase {

  private def mockConf(): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    conf
  }

  test("upload over a non-local scheme lands the object; a key escaping the root refuses") {
    val backing = Files.createTempDirectory("mocks3-backing")
    val store = new HadoopBlobStore(s"mocks3://bucket$backing/blobs", mockConf())

    val src = Files.createTempFile("blob-src", ".ndjson")
    Files.writeString(src, "{\"x\": 1}\n")
    store.upload("db1/t1/batch-0001.ndjson", src)
    assert(Files.exists(backing.resolve("blobs/db1/t1/batch-0001.ndjson")),
      "object lands under the scheme's backing store")
    assert(Files.readString(backing.resolve("blobs/db1/t1/batch-0001.ndjson")) ==
      "{\"x\": 1}\n")

    intercept[IllegalArgumentException](store.upload("../escape", src))
  }

  test("ingest pipeline stages rotated batches through the non-local scheme") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    val root = Files.createTempDirectory("graft-s3srv").toString
    val backing = Files.createTempDirectory("mocks3-ingest")
    val srv = new GraftServer(spark, root,
      blobRoot = Some(s"mocks3://bucket$backing/stage"))
    srv.addApiKey("k3y", "default")
    val port = srv.start()
    try {
      val http = HttpClient.newHttpClient()
      val r = http.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/data/insert/s3t?api_key=k3y"))
          .POST(HttpRequest.BodyPublishers.ofString("""{"v": 41}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      assert(srv.drain(), "load jobs drain")

      val q = http.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/api/data/query?api_key=k3y"))
          .POST(HttpRequest.BodyPublishers.ofString("select v from s3t")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.body() == """[{"v":41}]""", q.body())

      // the rotated NDJSON batch was uploaded through the scheme
      val staged = Files.walk(backing).filter(_.toString.endsWith(".ndjson"))
        .count()
      assert(staged >= 1, "rotated batch staged in the blob store")
    } finally srv.stop()
  }
}

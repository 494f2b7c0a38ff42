package graft.control

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Blob storage seam (reference: pkg/storage/blobstore/blobstore.go —
  * Upload/Download/Delete over memory/S3/GCS). graft's seam is
  * upload-only: the one caller is the server's rotation hook, which
  * copies each rotated NDJSON file here; the loader reads the local
  * sink file, so nothing downloads or deletes a blob. On a cluster,
  * Spark's Hadoop FS layer makes s3a:// and gs:// paths transparent, so
  * the local implementation is all the test deployment needs; the trait
  * is the boundary a cloud impl would plug into. */
trait BlobStore {
  def upload(key: String, localFile: Path): Unit
}

/** Hadoop-FS-backed blob store: the root is any URI Spark's Hadoop
  * layer resolves — s3a://bucket/prefix, gs://, hdfs://, file:// —
  * mirroring the reference's S3 store (pkg/storage/blobstore/s3/s3.go:
  * Upload=PutObject). The filesystem client is resolved once from the
  * scheme and reused, the way an S3 client is held for the bucket's
  * lifetime. */
final class HadoopBlobStore(rootUri: String,
                            conf: org.apache.hadoop.conf.Configuration)
    extends BlobStore {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}
  private val root = new HPath(rootUri)
  private val fs: FileSystem = root.getFileSystem(conf)
  fs.mkdirs(root)

  private def keyPath(key: String): HPath = {
    require(!key.split("/").contains("..") && !key.startsWith("/"),
      s"key escapes root: $key")
    new HPath(root, key)
  }

  override def upload(key: String, localFile: Path): Unit =
    fs.copyFromLocalFile(false /*delSrc*/, true /*overwrite*/,
      new HPath(localFile.toUri), keyPath(key))
}

final class LocalBlobStore(root: String) extends BlobStore {
  Files.createDirectories(Paths.get(root))

  private def keyPath(key: String): Path = {
    val p = Paths.get(root, key).normalize()
    require(p.startsWith(Paths.get(root).normalize()), s"key escapes root: $key")
    p
  }

  override def upload(key: String, localFile: Path): Unit = {
    val dst = keyPath(key)
    Files.createDirectories(dst.getParent)
    Files.copy(localFile, dst, StandardCopyOption.REPLACE_EXISTING)
  }
}

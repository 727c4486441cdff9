package graft

import java.net.{HttpURLConnection, URI}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import graft.api.ApiService

/** Custom-scheme Hadoop FileSystem wrapping local disk: `graftfs://` URIs
  * resolve through THIS class (registered via `fs.graftfs.impl`), so any
  * engine code path that assumed `file://` — a `java.io.File` shortcut, a
  * hard-coded scheme, a local-path string split — would either miss data
  * or throw. The op counter proves the lifecycle actually routed its IO
  * through the custom scheme rather than silently falling back.
  *
  * This is the honest stand-in for the reference's (disabled) moto-S3
  * archive tests (reference: tests/test_archive.py:78-83): same contract
  * — a non-local Hadoop filesystem behind every archive root. */
class GraftTestFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    GraftTestFileSystem.ops.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    GraftTestFileSystem.ops.incrementAndGet()
    super.listStatus(f).map(materialize)
  }
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    GraftTestFileSystem.ops.incrementAndGet()
    materialize(super.getFileStatus(f))
  }
  override def mkdirs(f: Path): Boolean = {
    GraftTestFileSystem.ops.incrementAndGet()
    super.mkdirs(f)
  }

  /** RawLocalFileSystem statuses load permissions LAZILY via
    * `new java.io.File(path.toUri)`, which rejects any scheme but
    * `file` — exactly the kind of local-disk assumption this spec
    * exists to catch, here inside Hadoop itself. Copy each status into
    * a plain eager FileStatus (default permissions) so nothing
    * downstream re-derives a java.io.File from a graftfs URI. */
  private def materialize(
      st: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime, null, null, null, st.getPath)
}

object GraftTestFileSystem {
  val ops = new AtomicLong(0)
}

/** End-to-end lifecycle — crawl → incremental re-crawl → make → entities →
  * catalog → export zip → HTTP API — with EVERY archive and source URI on
  * the custom `graftfs://` scheme. */
class GraftFsSpec extends SparkSpec {
  import spark.implicits._

  test("crawl→make→export→API all run against graftfs:// URIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    val lakeLocal = java.nio.file.Files.createTempDirectory("graftfs-lake")
    val lake = s"graftfs://$lakeLocal"
    val src = s"graftfs://${Fixtures.src}"
    GraftTestFileSystem.ops.set(0)

    val archive = new GraftArchive(spark, lake)
    val ds = archive.dataset("fs_ds")
    val status = ds.crawl(src, versionTs = "v1")
    assert(status("added") > 60L && status("blobs_copied") > 0L)
    assert(GraftTestFileSystem.ops.get() > 0,
      "graftfs was never invoked — something fell back to file://")
    assert(ds.documents.count() == status("added"))
    // blob bytes round-trip through the custom scheme
    assert(new String(ds.openBlob("utf.txt").get, "UTF-8") == "Îș unî©ođ€.\n")

    // incremental re-crawl and make-verify behave exactly as on file://
    assert(ds.crawl(src, versionTs = "v2")("added") == 0L)
    assert(ds.make(src, versionTs = "v3").keySet == Set("verify"))
    assert(ds.versions == Seq("v1", "v2", "v3"))

    // entities + catalog sinks write through graftfs
    ds.writeEntities()
    assert(spark.read.json(s"${ds.metaRoot}/entities.ftm.json").count() ==
      ds.documents.count())
    assert(archive.makeCatalog().count() == 1)

    // export zip lands on the graftfs lake; the backing local file is a
    // genuine zip with one entry per document
    val n = ds.exportZip(s"$lake/export.zip")
    assert(n == ds.documents.count())
    val zf = new java.util.zip.ZipFile(s"$lakeLocal/export.zip")
    try assert(zf.stream().count() >= n)
    finally zf.close()

    // the HTTP API serves bytes out of the graftfs-backed archive
    val svc = new ApiService(archive, "s3cret").start()
    try {
      val conn = java.net.URI
        .create(s"http://127.0.0.1:${svc.port}/fs_ds/utf.txt").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val body = conn.getInputStream.readAllBytes()
      conn.disconnect()
      assert(new String(body, "UTF-8") == "Îș unî©ođ€.\n")
    } finally svc.stop()
  }
}

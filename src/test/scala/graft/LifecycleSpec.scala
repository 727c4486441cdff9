package graft

import org.apache.spark.sql.functions._

/** End-to-end dataset lifecycle over the golden corpus ([[Fixtures.src]]:
  * the reference's tests/fixtures/src where it is checked out, else the
  * generated corpus of the same shape): crawl → layout → re-crawl skip →
  * make heal → entities → catalog → export — the full
  * `ftm-datalake crawl/make/export` story in one lake (SURVEY §3). */
class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val srcDir = Fixtures.src
  private lazy val lake = java.nio.file.Files.createTempDirectory("graft-lake").toString
  private lazy val archive = new GraftArchive(spark, lake)
  private lazy val ds = archive.dataset("test_dataset")

  test("crawl populates the full lake layout") {
    val status = ds.crawl(srcDir, versionTs = "v1")
    assert(status("added") > 60L)
    assert(status("blobs_copied") > 0L)
    // layout
    assert(new java.io.File(s"${ds.metaRoot}/documents.parquet").isDirectory)
    assert(new java.io.File(s"${ds.metaRoot}/index.json").isFile)
    assert(ds.versions == Seq("v1"))
    val docs = ds.documents
    assert(docs.count() == status("added"))
    // documents are the snapshot-ordered core relation, unique per key
    assert(docs.select("key").distinct().count() == docs.count())
  }

  test("blob store is content-addressed and byte-faithful") {
    val utf = ds.openBlob("utf.txt")
    assert(utf.isDefined)
    assert(new String(utf.get, "UTF-8") == "Îș unî©ođ€.\n")
    val hash = ds.documents.filter($"key" === "utf.txt")
      .select("content_hash").as[String].head()
    assert(hash == "5a6acf229ba576d9a40b09292595658bbb74ef56")
  }

  test("re-crawl is incremental: nothing added, no new blobs") {
    val before = ds.documents.count()
    val status = ds.crawl(srcDir, versionTs = "v2")
    assert(status("added") == 0L)
    assert(status("blobs_copied") == 0L)
    assert(ds.documents.count() == before)
  }

  test("make over an unchanged source is all-verify; diffs recorded") {
    val status = ds.make(srcDir, versionTs = "v3")
    assert(status.keySet == Set("verify"))
    assert(ds.versions.contains("v3"))
  }

  test("entities project one FTM entity per document") {
    val e = ds.entities
    assert(e.count() == ds.documents.count())
    assert(e.select("schema").distinct().count() > 3)
    ds.writeEntities()
    val back = spark.read.json(s"${ds.metaRoot}/entities.ftm.json")
    assert(back.count() == e.count())
  }

  test("index.json carries entity_count and total_file_size") {
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"${ds.metaRoot}/index.json"))
    assert(json.contains(s""""entity_count":${ds.documents.count()}"""))
    assert(json.contains(""""schemata":["""))
  }

  test("archive catalog rolls up datasets and writes catalog.json") {
    val cat = archive.makeCatalog()
    assert(archive.datasetNames == Seq("test_dataset"))
    assert(cat.count() == 1)
    assert(new java.io.File(s"$lake/catalog.json").isFile)
  }

  test("info.json mirror: diff-driven writes, deletes, and scan-back (RFC interop)") {
    import java.sql.Timestamp
    import org.apache.spark.sql.Row
    val lake2 = java.nio.file.Files.createTempDirectory("mirror-lake").toString
    val ds2 = new GraftDataset(spark, lake2, "mirror_ds", mirrorFileInfo = true)
    val ts = Timestamp.valueOf("2026-01-01 00:00:00")
    def docs(keys: String*) = spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map(k =>
        Row(k, s"hash-$k", 3L, "text/plain", ts, ts))),
      graft.core.Model.documentsSchema)
    ds2.publish(docs("a/one.txt", "two.txt"), "v1")
    val p1 = new java.io.File(s"${ds2.metaRoot}/meta/a/one.txt/info.json")
    assert(p1.isFile)
    val json = new String(java.nio.file.Files.readAllBytes(p1.toPath), "UTF-8")
    assert(json.contains(""""key":"a/one.txt"""") && json.contains(""""name":"one.txt""""))
    assert(json.contains(""""dataset":"mirror_ds"""") && json.contains(""""content_hash":"hash-a/one.txt""""))
    // second publish: drop two.txt, add three.txt → mirror follows the diff
    ds2.publish(docs("a/one.txt", "three.txt"), "v2")
    assert(!new java.io.File(s"${ds2.metaRoot}/meta/two.txt/info.json").exists)
    assert(new java.io.File(s"${ds2.metaRoot}/meta/three.txt/info.json").isFile)
    assert(p1.isFile) // unchanged key untouched
    // the S3-style scan reads the mirror back with the documents fields
    val back = graft.core.FileInfoMirror.read(spark, ds2.metaRoot)
    assert(back.count() == 2)
    assert(back.select("key").as[String].collect().toSet ==
      Set("a/one.txt", "three.txt"))
  }

  test("a stray .graft FILE does not make a directory a dataset") {
    val impostor = new java.io.File(s"$lake/not_a_dataset")
    impostor.mkdirs()
    java.nio.file.Files.write(
      impostor.toPath.resolve(".graft"), "oops".getBytes)
    try assert(archive.datasetNames == Seq("test_dataset"))
    finally {
      java.nio.file.Files.delete(impostor.toPath.resolve(".graft"))
      java.nio.file.Files.delete(impostor.toPath)
    }
  }

  test("export zip re-keys blobs under the dataset name") {
    val zip = s"$lake/export.zip"
    val n = ds.exportZip(zip)
    assert(n == ds.documents.count())
    val zf = new java.util.zip.ZipFile(zip)
    try {
      import scala.jdk.CollectionConverters._
      val names = zf.entries().asScala.map(_.getName).toSeq
      assert(names.forall(_.startsWith("test_dataset/")))
      assert(names.contains("test_dataset/utf.txt"))
    } finally zf.close()
  }

  test("archive export zip is a complete re-mountable mirror (test_export.py analog)") {
    val zip = s"$lake/full_export.zip"
    val n = ds.exportArchiveZip(zip)
    val zf = new java.util.zip.ZipFile(zip)
    try {
      import scala.jdk.CollectionConverters._
      val entries = zf.entries().asScala.map(_.getName).toSet
      assert(n == entries.size)
      // metadata tree travels with the data
      assert(entries.contains("test_dataset/.graft/index.json"))
      assert(entries.exists(_.startsWith("test_dataset/.graft/versions/")))
      // every document's blob is present at its content-addressed path,
      // and its bytes hash back to the recorded content_hash
      val docs = ds.documents.select("content_hash").as[String].collect().toSet
      docs.foreach { ch =>
        val shard = s"${ch.substring(0, 2)}/${ch.substring(2, 4)}/${ch.substring(4, 6)}/$ch"
        val e = zf.getEntry(s"test_dataset/blobs/$shard")
        assert(e != null, s"missing blob $shard")
        val md = java.security.MessageDigest.getInstance("SHA-1")
        val in = zf.getInputStream(e)
        val bytes = try in.readAllBytes() finally in.close()
        assert(md.digest(bytes).map("%02x".format(_)).mkString == ch)
      }
      // the exported metadata re-reads as the same documents table
      val tmpMeta = java.nio.file.Files.createTempDirectory("remount")
      val parts = entries.filter(e =>
        e.startsWith("test_dataset/.graft/documents.parquet/") && e.endsWith(".parquet"))
      parts.foreach { p =>
        val dst = tmpMeta.resolve(p.split("/").last)
        val in = zf.getInputStream(zf.getEntry(p))
        try java.nio.file.Files.write(dst, in.readAllBytes()) finally in.close()
      }
      val back = spark.read.parquet(tmpMeta.toString)
      assert(back.select("content_hash").as[String].collect().toSet == docs)
    } finally zf.close()
  }

  test("crawl with extract=true stores archive members, not archives") {
    val lake2 = java.nio.file.Files.createTempDirectory("graft-lake2").toString
    // source: one zip + one plain file
    val src = java.nio.file.Files.createTempDirectory("graft-src").toString
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("inner/a.txt"))
    z.write("alpha".getBytes("UTF-8")); z.closeEntry(); z.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/bundle.zip"), bos.toByteArray)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src/plain.txt"), "beta")
    val ds2 = new GraftArchive(spark, lake2).dataset("ex")
    val st = ds2.crawl(src, extract = true, versionTs = "v1")
    assert(st("added") == 2L)
    val keys = ds2.documents.select("key").as[String].collect().toSet
    assert(keys == Set("inner/a.txt", "plain.txt"))
    assert(new String(ds2.openBlob("inner/a.txt").get, "UTF-8") == "alpha")
  }

  test("lake on a file:-qualified URI root: catalog, versions, export all resolve") {
    // everything below must go through the Hadoop FS API — java.io.File
    // cannot see a URI-qualified root (this is the s3a://-portability proxy)
    val lake3 = "file://" + java.nio.file.Files.createTempDirectory("graft-uri").toString
    val src = java.nio.file.Files.createTempDirectory("graft-uri-src").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src/a.txt"), "alpha")
    val arch = new GraftArchive(spark, lake3)
    val d = arch.dataset("uri_ds")
    val st = d.crawl(src, versionTs = "v1")
    assert(st("added") == 1L)
    assert(arch.datasetNames == Seq("uri_ds"))
    assert(d.versions == Seq("v1"))
    val zip = java.nio.file.Files.createTempDirectory("graft-uri-zip").toString + "/e.zip"
    assert(d.exportZip("file://" + zip) == 1L)
    val zf = new java.util.zip.ZipFile(zip)
    try assert(zf.entries().nextElement().getName == "uri_ds/a.txt")
    finally zf.close()
  }

  test("version diff of an unchanged publish is empty") {
    val diffDir = new java.io.File(s"${ds.metaRoot}/versions/v2.diff")
    assert(diffDir.isDirectory)
    val lines = spark.read.text(s"${ds.metaRoot}/versions/v2.diff")
    assert(lines.isEmpty)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.core.{DocumentsStore, Stats}

/** RFC interop against the reference's OWN shipped archive fixture
  * (tests/fixtures/archive/test_dataset/.leakrfc, read in place): our CSV
  * reader, stats rollups, and schema mapping must reproduce the numbers
  * the reference published in that fixture's index.json
  * (BASELINE.md "Quantitative facts"). Specs that need the shipped files
  * are canceled, naming the missing path, where the reference tree is
  * absent. */
class ReferenceArchiveSpec extends SparkSpec {
  import spark.implicits._

  private val archiveDir = Fixtures.referencePath("archive")
  private val metaDir = s"$archiveDir/test_dataset/.leakrfc"

  private lazy val docs =
    DocumentsStore.readCsv(spark, s"$metaDir/documents.csv").cache()

  test("documents.csv parses with the documents schema, all rows valid") {
    Fixtures.assumePresent(s"$metaDir/documents.csv")
    // the shipped archive fixture carries 75 keys (index.json
    // entity_count/things.total = 75; the 74 of test_crawl.py is the
    // src/ tree, a different fixture)
    assert(docs.count() == 75)
    assert(docs.filter($"key".isNull || $"content_hash".isNull).isEmpty)
    // timestamps parse (reference format: yyyy-MM-dd HH:mm:ss.SSSSSS)
    assert(docs.filter($"created_at".isNull).isEmpty)
  }

  test("published sha1 oracle vectors are present") {
    Fixtures.assumePresent(s"$metaDir/documents.csv")
    val hashes = docs.filter($"key".isin("utf.txt", "testdir/test.txt"))
      .select("key", "content_hash").as[(String, String)].collect().toMap
    assert(hashes("utf.txt") == "5a6acf229ba576d9a40b09292595658bbb74ef56")
    assert(hashes("testdir/test.txt") == "2aae6c35c94fcfb415dbe95f408b9ce91ee846ed")
  }

  test("total file size matches the fixture's published rollup (A1)") {
    Fixtures.assumePresent(s"$metaDir/documents.csv", s"$metaDir/size")
    // index.json total_file_size + the .leakrfc/size file
    assert(Stats.totalFileSize(docs) == 22385367L)
    val sizeFile = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$metaDir/size")), "UTF-8").trim
    assert(sizeFile.toLong == 22385367L)
  }

  test("schema counts reproduce the fixture's published index stats (A2/F4)") {
    Fixtures.assumePresent(s"$metaDir/documents.csv")
    // index.json things.schemata: Pages 13, Document 33, HyperText 3,
    // Table 6, Email 10, PlainText 5, Image 5 — derived here from the
    // STORED mimetypes through our mimeToSchema mapping
    val got = Stats.schemaCounts(docs)
      .select("schema", "count").as[(String, Long)].collect().toMap
    val want = Map(
      "Pages" -> 13L, "Document" -> 33L, "HyperText" -> 3L,
      "Table" -> 6L, "Email" -> 10L, "PlainText" -> 5L, "Image" -> 5L)
    assert(got == want, s"got $got")
  }

  test("extension mimetype guess reproduces the fixture's stored mimetypes (F4 input)") {
    // every one of the 75 keys: our extension-based guess == what the
    // reference's detector recorded (including the octet-stream defaults
    // for .msg/.pst/.olm/.emlx/.ical/.001)
    val mismatches = docs
      .select($"key", $"mimetype",
        graft.pipelines.Crawl.guessMimetype($"key").as("guessed"))
      .filter($"mimetype" =!= $"guessed")
      .as[(String, String, String)].collect()
    assert(mismatches.isEmpty, s"mismatches: ${mismatches.toSeq}")
  }

  test("CRAWL path keeps the octet-stream pins — sniff must not override them") {
    // the full crawl mimetype is coalesce(extension, sniff, octet-stream);
    // these extensions are deliberate octet-stream pins in the extension
    // map, because a pure content sniff WOULD classify some of them
    // (event.ical is calendar text; 500_pages.7z.001 carries the 7z
    // magic) and diverge from the reference-pinned documents.csv values
    val srcDir = Fixtures.src
    val pinned = Set("event.ical", "500_pages.7z.001", "fnf.msg",
      "piste.msg", "plaintext.emlx", "richtext.emlx", "testPST.pst")
    val keys = graft.pipelines.Crawl.listKeys(spark, srcDir)
      .filter($"key".isin(pinned.toSeq: _*))
    val crawled = graft.pipelines.Crawl
      .hashAndDescribe(spark, srcDir, keys)
      .select("key", "mimetype").as[(String, String)].collect().toMap
    assert(crawled.keySet == pinned, s"missing fixtures: $crawled")
    val wrong = crawled.filter(_._2 != "application/octet-stream")
    assert(wrong.isEmpty, s"sniff overrode pinned octet-stream: $wrong")
  }

  test("ReferenceLakeReader reads the reference lake in place (keys, blobs, lookup)") {
    Fixtures.assumePresent(archiveDir)
    val reader = new graft.core.ReferenceLakeReader(spark, archiveDir)
    assert(reader.datasetNames == Seq("s3_dataset", "test_dataset"))
    assert(reader.documents("test_dataset").count() == 75)
    val bytes = reader.openBlob("test_dataset", "utf.txt").get
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
      .digest(bytes).map("%02x".format(_)).mkString
    assert(sha1 == "5a6acf229ba576d9a40b09292595658bbb74ef56")
    val hdrs = reader.lookup("test_dataset", "utf.txt").get
    assert(hdrs("x-graft-sha1") == "5a6acf229ba576d9a40b09292595658bbb74ef56")
    assert(reader.openBlob("test_dataset", "missing.bin").isEmpty)
  }

  test("migrateTo moves a reference-layout dataset into a graft lake wholesale") {
    Fixtures.assumePresent(archiveDir)
    val reader = new graft.core.ReferenceLakeReader(spark, archiveDir)
    val lake = java.nio.file.Files.createTempDirectory("migrated").toString
    val target = new GraftArchive(spark, lake)
    val counts = reader.migrateTo("test_dataset", target)
    val migrated = target.dataset("test_dataset")
    val srcKeys = reader.documents("test_dataset")
      .select("key").as[String].collect().toSet
    val dstRows = migrated.documents
      .select("key", "content_hash").as[(String, String)].collect()
    // every key in the reference CSV whose blob exists on disk migrated;
    // rehashed content hashes agree with the reference's recorded ones
    val srcHashes = reader.documents("test_dataset")
      .select("key", "content_hash").as[(String, String)].collect().toMap
    assert(counts("added") == dstRows.length.toLong)
    assert(dstRows.map(_._1).toSet subsetOf srcKeys)
    val disagreements = dstRows.filter { case (k, h) => srcHashes(k) != h }
    assert(disagreements.isEmpty, s"hash drift: ${disagreements.toSeq}")
    // migrated blobs are content-addressed and byte-faithful
    val viaGraft = migrated.openBlob("utf.txt").get
    assert(viaGraft sameElements reader.openBlob("test_dataset", "utf.txt").get)
    // idempotent: second migration moves nothing
    assert(reader.migrateTo("test_dataset", target)("added") == 0L)
  }

  test("keep-latest over the fixture is a no-op (already one row per key)") {
    assert(graft.core.Rebuild.keepLatest(
      docs, Seq("key"), "updated_at").count() == docs.count())
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.core.Stats
import graft.pipelines.{Crawl, Export, Make, PointLookup}

/** End-to-end crawl of the golden fixture corpus ([[Fixtures.src]]: the
  * reference's tests/fixtures/src where it is checked out, else the
  * generated corpus of the same shape). Assertions are pinned to the
  * published oracle vectors (the two known sha1s, which both corpora
  * carry) and to filesystem ground truth for counts and sizes, since the
  * two corpora differ in both.
  */
class CrawlSpec extends SparkSpec {
  import spark.implicits._

  private val srcDir = Fixtures.src

  private def fsFiles(): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(srcDir))
  }

  lazy val crawled = Crawl.crawl(spark, srcDir,
    existing = spark.emptyDataFrame.select(lit("").as("key")).limit(0)).cache()

  test("crawl lists and hashes every file in the corpus") {
    assert(crawled.count() == fsFiles().size.toLong)
  }

  test("content checksums match the published sha1 oracle vectors") {
    // tests/test_archive.py:22, tests/test_crawl.py:24-27
    val hashes = crawled.filter($"key".isin("utf.txt", "testdir/test.txt"))
      .select("key", "content_hash").as[(String, String)].collect().toMap
    assert(hashes("utf.txt") == "5a6acf229ba576d9a40b09292595658bbb74ef56")
    assert(hashes("testdir/test.txt") == "2aae6c35c94fcfb415dbe95f408b9ce91ee846ed")
  }

  test("crawl total size matches filesystem ground truth") {
    val want = fsFiles().map(_.length()).sum
    val got = crawled.agg(sum("size")).as[Long].head()
    assert(got == want)
  }

  test("include/exclude globs partition the corpus (tests/test_crawl.py:30-35)") {
    val nPdf = fsFiles().count(_.getName.endsWith(".pdf")).toLong
    val incl = Crawl.crawl(spark, srcDir,
      existing = crawled.limit(0), include = Some("*.pdf"))
    val excl = Crawl.crawl(spark, srcDir,
      existing = crawled.limit(0), exclude = Some("*.pdf"))
    assert(incl.count() == nPdf)
    assert(excl.count() == crawled.count() - nPdf)
    assert(incl.count() + excl.count() == crawled.count())
  }

  test("skip_existing drops already-archived keys (J2)") {
    val second = Crawl.crawl(spark, srcDir, existing = crawled.select("key"))
    assert(second.isEmpty)
  }

  test("skipExistingBloom is exactly skipExisting at any fpp (J2 at scale)") {
    val keys = Crawl.listKeys(spark, srcDir)
    // existing = every other key (sorted order), so both branches carry rows
    val existing = keys.orderBy("key").limit(keys.count().toInt / 2)
      .select("key")
    val exact = Crawl.skipExisting(keys, existing)
      .select("key").as[String].collect().toSet
    // tight filter AND a deliberately terrible one (fpp=0.5: half the
    // definitely-new keys routed through the residue join) — identical
    // results; the filter routes rows, it never decides membership
    for (fpp <- Seq(0.01, 0.5)) {
      val bloom = Crawl.skipExistingBloom(keys, existing,
          expectedKeys = 1000L, fpp = fpp)
        .select("key").as[String].collect().toSet
      assert(bloom == exact, s"fpp=$fpp")
    }
    // empty existing set: everything passes, no join at all
    val none = Crawl.skipExistingBloom(keys, existing.limit(0))
    assert(none.count() == keys.count())
  }

  test("byte content round-trips through the binaryFile source") {
    // tests/test_archive.py:30-33: utf.txt content
    val content = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(srcDir)
      .filter($"path".endsWith("/utf.txt"))
      .select("content").as[Array[Byte]].head()
    assert(new String(content, "UTF-8") == "Îș unî©ođ€.\n")
  }

  test("dataset stats: schema counts + total size (make_index shape)") {
    val withSchema = Stats.schemaCounts(crawled)
    val total = withSchema.agg(sum("count")).as[Long].head()
    assert(total == crawled.count())
    assert(Stats.totalFileSize(crawled) == fsFiles().map(_.length()).sum)
    // extension-derived mimetypes must produce >1 FTM schema on this corpus
    assert(withSchema.count() > 3)
  }

  test("make reconcile over a freshly crawled corpus is all-verify") {
    val st = Make.status(Make.reconcile(crawled, crawled))
      .as[(String, Long)].collect().toMap
    assert(st == Map("verify" -> crawled.count()))
  }

  test("export→reimport round-trip preserves keys and bytes (S12)") {
    val sub = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(srcDir)
      .filter($"path".endsWith(".txt"))
      .select(regexp_replace($"path", s"^.*?$srcDir/", "").as("key"), $"content")
    val zipPath = java.nio.file.Files.createTempDirectory("graft").toString + "/ds.zip"
    val n = Export.exportZip(sub, "test_dataset", zipPath)
    assert(n == sub.count())
    val back = Export.readZip(spark, zipPath, "test_dataset")
    assert(back.select("key").as[String].collect().toSet
      == sub.select("key").as[String].collect().toSet)
    val origHash = sub.select(sha1($"content")).as[String].collect().toSet
    val backHash = back.select(sha1($"content")).as[String].collect().toSet
    assert(origHash == backHash)
  }

  test("fan-out listing matches ground truth over >1 top-level prefix (S1 scale path)") {
    // Distributed listing must agree with a plain local recursive walk on a
    // tree with multiple top-level directories, nested dirs, top-level files,
    // a zero-byte file, and non-ASCII names.
    val root = java.nio.file.Files.createTempDirectory("graft-listing")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, bytes)
    }
    put("top.txt", "hello".getBytes)
    put("empty.pdf", Array.emptyByteArray)
    put("a/one.txt", "1".getBytes)
    put("a/deep/two.txt", "22".getBytes)
    put("b/three.txt", "333".getBytes)
    put("c/Îș unî©ođ€.txt", "üñï".getBytes("UTF-8"))
    put(".ftm_datalake/state.json", "{}".getBytes)

    val listed = Crawl.listKeys(spark, root.toString, listingParallelism = 3)
      .select("key", "size").as[(String, Long)].collect().toMap
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val want = walk(root.toFile)
      .map(f => (root.relativize(f.toPath).toString, f.length()))
      .filterNot(_._1.startsWith(".ftm_datalake"))
      .toMap
    assert(listed == want)
    assert(listed.contains("empty.pdf") && listed("empty.pdf") == 0L)
    assert(listed.keySet.exists(_.contains("unî©ođ€")))
  }

  test("point lookup returns metadata headers; missing key → None (J5/API)") {
    val hdrs = PointLookup.lookupHeaders(crawled, "test_dataset", "utf.txt")
    assert(hdrs.isDefined)
    assert(hdrs.get("x-graft-sha1") == "5a6acf229ba576d9a40b09292595658bbb74ef56")
    assert(hdrs.get("x-graft-name") == "utf.txt")
    assert(PointLookup.lookupHeaders(crawled, "test_dataset", "nope.txt").isEmpty)
  }
}

package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.spark.sql.functions._

import graft.pipelines.Extract

class ExtractSpec extends SparkSpec {
  import spark.implicits._

  private def zipBytes(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (n, c) =>
      z.putNextEntry(new ZipEntry(n)); z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    z.close(); bos.toByteArray
  }

  private def tarBytes(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val t = new TarArchiveOutputStream(bos)
    entries.foreach { case (n, c) =>
      val e = new TarArchiveEntry(n)
      e.setSize(c.getBytes("UTF-8").length.toLong)
      t.putArchiveEntry(e); t.write(c.getBytes("UTF-8")); t.closeArchiveEntry()
    }
    t.close(); bos.toByteArray
  }

  private def frame(rows: (String, Array[Byte])*) =
    rows.toSeq.toDF("key", "content")

  test("zip members replace the archive, keeping directory structure") {
    val df = frame(
      "docs/bundle.zip" -> zipBytes("a.txt" -> "alpha", "sub/b.txt" -> "beta"),
      "docs/plain.txt" -> "gamma".getBytes("UTF-8"))
    val out = Extract.extractArchives(df)
    val keys = out.select("key").as[String].collect().toSet
    // docs/crawl.md: members land in the archive's directory
    assert(keys == Set("docs/a.txt", "docs/sub/b.txt", "docs/plain.txt"))
    val byKey = out.collect().map(r => r.getString(0) ->
      (new String(r.getAs[Array[Byte]](1), "UTF-8"), r.getString(3), r.getString(4))).toMap
    assert(byKey("docs/a.txt") == (("alpha", "extracted", "docs/bundle.zip")))
    assert(byKey("docs/plain.txt") == (("gamma", "original", null)))
  }

  test("ensureSubdir nests members under the archive key") {
    val df = frame("x/data.zip" -> zipBytes("f.csv" -> "1,2"))
    val keys = Extract.extractArchives(df, ensureSubdir = true)
      .select("key").as[String].collect().toSet
    assert(keys == Set("x/data.zip/f.csv"))
  }

  test("keepSource retains the archive row alongside members") {
    val df = frame("a.zip" -> zipBytes("inner.txt" -> "x"))
    val out = Extract.extractArchives(df, keepSource = true)
    assert(out.select("key").as[String].collect().toSet == Set("a.zip", "inner.txt"))
  }

  test("tar archives extract with sizes and origin tags") {
    val df = frame("t.tar" -> tarBytes("one.txt" -> "11", "dir/two.txt" -> "2222"))
    val out = Extract.extractArchives(df)
    val sizes = out.select("key", "size").as[(String, Long)].collect().toMap
    assert(sizes == Map("one.txt" -> 2L, "dir/two.txt" -> 4L))
    assert(out.select("origin").distinct().as[String].collect().toSeq
      == Seq("extracted"))
  }

  test("members above the extraction size cap are rejected, not truncated") {
    val big = "x" * 1000
    val ex = intercept[IllegalArgumentException] {
      Extract.extractBytes("a.zip", zipBytes("big.txt" -> big),
        maxMemberBytes = 100L)
    }
    assert(ex.getMessage.contains("big.txt"))
    // same member under the cap extracts fully
    val ok = Extract.extractBytes("a.zip", zipBytes("big.txt" -> big),
      maxMemberBytes = 10000L)
    assert(ok.head._2.length == 1000)
  }

  test("7z from the golden corpus extracts (commons-compress path)") {
    val archives = spark.read.format("binaryFile")
      .load(Fixtures.src)
      .filter($"path".endsWith(".7z"))
      .select(element_at(split($"path", "/"), -1).as("key"), $"content")
    assert(archives.count() >= 1)
    val out = Extract.extractArchives(archives)
    assert(out.count() > 0)
    assert(out.filter($"origin" =!= "extracted").isEmpty)
  }
}

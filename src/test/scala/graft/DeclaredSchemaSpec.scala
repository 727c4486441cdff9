package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DocumentsStore, Lakehouse, Layout, ReferenceLakeReader}
import graft.llm.Retrieval

/** The Spark jobs a block of driver code starts, seen by a listener. */
object JobProbe {
  private val Tag = "graft.spec.jobProbe"

  /** Every job `body` starts from the calling thread. */
  def jobsOf(spark: SparkSession)(body: => Any): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val fence = s"$id-fence"
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
          .foreach { t =>
            if (t == id) seen.add(e)
            else if (t == fence) fenced.countDown()
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, id)
      try body finally sc.setLocalProperty(Tag, fence)
      // the bus delivers a listener's events in order: once it sees a
      // job started after `body`, it has seen every job `body` started
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus stalled")
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  /** Call sites of the jobs `body` starts outside any SQL execution —
    * on these paths, the schema-inference jobs of reads given no
    * schema. */
  def inferenceJobsOf(spark: SparkSession)(body: => Any): Seq[String] =
    jobsOf(spark)(body)
      .filter(_.properties.getProperty("spark.sql.execution.id") == null)
      .map(_.stageInfos.headOption.map(_.name).getOrElse("?"))
}

/** Reads of files graft wrote take a declared or committed schema: they
  * launch no schema-inference job, and they read what inference would. */
class DeclaredSchemaSpec extends SparkSpec {
  import spark.implicits._
  import JobProbe.{inferenceJobsOf, jobsOf}

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def tree(files: (String, String)*): String = {
    val dir = tmp("graft-decl-src")
    files.foreach { case (k, body) =>
      val p = dir.resolve(k)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes(UTF_8))
    }
    dir.toString
  }

  private val corpus = Seq("a.txt" -> "alpha", "b/c.csv" -> "x,y\n1,2\n",
    "d.html" -> "<html><body>delta</body></html>")

  /** The documents table of `ds` read with the declared schema equals
    * the read that infers one, in schema and rows. */
  private def assertDeclaredEqualsInferred(ds: GraftDataset): Unit = {
    val path = s"${ds.metaRoot}/documents.parquet"
    val declared = DocumentsStore.readParquet(spark, path)
    val inferred = spark.read.parquet(path)
    assert(declared.schema == inferred.schema,
      s"${declared.schema.treeString} vs ${inferred.schema.treeString}")
    assert(declared.count() > 0 && declared.count() == inferred.count())
    assert(declared.exceptAll(inferred).isEmpty &&
      inferred.exceptAll(declared).isEmpty)
  }

  test("documents read with the declared schema equal the inferred read " +
      "after crawl, make, migrate and on the bucketed layout") {
    val src = tree(corpus: _*)
    val ds = new GraftArchive(spark, tmp("graft-decl-lake").toString)
      .dataset("ds")
    ds.crawl(src)
    assertDeclaredEqualsInferred(ds)
    // make: one file changed, one added, one removed
    Files.write(java.nio.file.Paths.get(src, "a.txt"), "ALPHA".getBytes(UTF_8))
    Files.write(java.nio.file.Paths.get(src, "e.txt"), "echo".getBytes(UTF_8))
    Files.delete(java.nio.file.Paths.get(src, "d.html"))
    ds.make(src)
    assertDeclaredEqualsInferred(ds)
    assert(ds.documents.select("key").as[String].collect().sorted.toSeq ==
      Seq("a.txt", "b/c.csv", "e.txt"))
    // migrate a reference-layout dataset (blobs at their keys, a
    // `.leakrfc` metadata folder beside them)
    val ref = tmp("graft-decl-ref")
    corpus.foreach { case (k, body) =>
      val p = ref.resolve("rds").resolve(k)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes(UTF_8))
    }
    Files.createDirectories(ref.resolve("rds/.leakrfc"))
    val migrated = new GraftArchive(spark, tmp("graft-decl-mig").toString)
    new ReferenceLakeReader(spark, ref.toString).migrateTo("rds", migrated)
    assertDeclaredEqualsInferred(migrated.dataset("rds"))
    // the bucketed layout's files, read by path as a fresh session would
    val bucketed = new GraftArchive(spark, tmp("graft-decl-bkt").toString)
      .dataset("bkt", bucketedLayout = true)
    bucketed.crawl(src)
    assertDeclaredEqualsInferred(bucketed)
  }

  test("building the documents frame, a loaded BM25 index, a no-log " +
      "table's schema and a testdata table starts no Spark job") {
    val ds = new GraftArchive(spark, tmp("graft-decl-jobs").toString)
      .dataset("ds")
    ds.crawl(tree(corpus: _*))
    assert(jobsOf(spark)(ds.documents).isEmpty)

    val ix = tmp("graft-decl-bm25").resolve("ix").toString
    Retrieval.buildCompactedBm25Index(
      Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, ""))
        .toDF("doc_id", "text"), ix)
    var loaded: Retrieval.Bm25Index = null
    assert(jobsOf(spark) { loaded = Retrieval.loadBm25Index(spark, ix) }.isEmpty)
    // the declared schemas are the ones the writers landed
    Seq(loaded.postings -> "postings", loaded.docFreq -> "docfreq",
        loaded.stats -> "stats").foreach { case (df, part) =>
      val inferred = spark.read.parquet(s"$ix/$part")
      assert(df.schema == inferred.schema, part)
      assert(df.exceptAll(inferred).isEmpty && inferred.exceptAll(df).isEmpty,
        part)
    }

    // a plain parquet folder with no commit log: its schema comes from
    // one footer
    val plain = tmp("graft-decl-plain").resolve("t").toString
    spark.range(100).select(col("id"), (col("id") % 7).as("k"))
      .write.parquet(plain)
    assert(jobsOf(spark)(Lakehouse.tableSchema(spark, plain)).isEmpty)
    assert(Lakehouse.tableSchema(spark, plain) ==
      spark.read.parquet(plain).schema)
  }

  test("Tables.load reads a testdata table's schema from its footer") {
    Fixtures.assumePresent(s"$sf0/events.parquet")
    // a copy under a fresh path: the loader caches schemas by path
    val dir = tmp("graft-decl-tables")
    Seq("events", "lineitem").foreach { t =>
      Files.copy(java.nio.file.Paths.get(s"$sf0/$t.parquet"),
        dir.resolve(s"$t.parquet"))
      var df: DataFrame = null
      assert(jobsOf(spark) { df = Tables.load(spark, dir.toString, t) }.isEmpty,
        t)
      val raw = spark.read.parquet(s"$dir/$t.parquet")
      assert(df.count() == raw.count(), t)
      if (t == "lineitem") assert(df.schema == raw.schema)
    }
  }

  test("no call that reads a manifest, a Bloom sidecar or a table's data " +
      "files launches a schema-inference job") {
    val root = tmp("graft-decl-lakehouse")
    val path = root.resolve("t").toString
    val cols = Seq("x", "y")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(col("id"),
      (col("id") % 50).cast("double").as("x"),
      (col("id") / 50).cast("double").as("y"))
    Lakehouse.appendAt(spark, path, mk(0L, 400L), cols, gen = 0L,
      bits = 6, partitions = 4)
    Lakehouse.appendAt(spark, path, mk(400L, 600L), cols, gen = 1L,
      bits = 6, partitions = 2)
    val box = Seq(("x", lit(10.0), lit(20.0)), ("y", lit(0.0), lit(5.0)))
    val calls: Seq[(String, () => Any)] = Seq(
      "Layout.writeManifest" -> (() =>
        Layout.writeManifest(spark, path, cols)),
      "Layout.writeBloomManifest" -> (() =>
        Layout.writeBloomManifest(spark, path, "id")),
      "Lakehouse.pointLookup" -> (() =>
        Lakehouse.pointLookup(spark, path, "id", Seq(3L, 450L)).collect()),
      "Lakehouse.prunedScan" -> (() =>
        Lakehouse.prunedScan(spark, path, box).collect()),
      "Layout.prunedScan" -> (() =>
        Layout.prunedScan(spark, path, box).collect()),
      "Lakehouse.describeTables" -> (() =>
        Lakehouse.describeTables(spark, root.toString).collect()),
      "Lakehouse.deleteMatching" -> (() =>
        Lakehouse.deleteMatching(spark, path,
          spark.range(5, 9).toDF("id"), "id")),
      "Lakehouse.upsertByKey" -> (() =>
        Lakehouse.upsertByKey(spark, path, mk(10L, 14L), "id", cols,
          bits = 6, partitions = 1)),
      "Lakehouse.compactRetaining" -> (() =>
        Lakehouse.compactRetaining(spark, path, cols, retainAfter = 0L,
          bits = 6, partitions = 2)),
      "Layout.maintainLayout" -> (() =>
        Layout.maintainLayout(spark, path, mk(600L, 650L), cols, bits = 6,
          partitions = 1, maxPointCost = 1e9)),
      "Lakehouse.recover" -> (() => Lakehouse.recover(spark, path)))
    val inferring = calls.map { case (name, call) =>
      name -> inferenceJobsOf(spark)(call())
    }.filter(_._2.nonEmpty)
    assert(inferring.isEmpty, s"schema-inference jobs: $inferring")
    // the table still answers exactly: 650 rows, 4 deleted, 4 upserted
    assert(Lakehouse.scan(spark, path).count() == 650L - 4L)
  }
}

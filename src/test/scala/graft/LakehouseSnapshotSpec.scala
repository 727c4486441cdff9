package graft

import java.net.URI
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lakehouse, Layout}

/** [[GraftTestFileSystem]] under its own `snapfs://` scheme (registered
  * via `fs.snapfs.impl`), watching the commit log: it counts
  * `listStatus` calls on `*_commit` directories, and can run a one-shot
  * action right after such a listing returns, before the caller sees
  * the listing — exactly where a concurrent writer's commit lands in
  * the middle of an operation. */
class CommitWatchFileSystem extends GraftTestFileSystem {
  override def getUri: URI = URI.create("snapfs:///")
  override def getScheme: String = "snapfs"
  override def listStatus(f: Path): Array[FileStatus] = {
    val listed = super.listStatus(f)
    if (f.getName.endsWith("_commit")) {
      CommitWatchFileSystem.logListings.incrementAndGet()
      Option(CommitWatchFileSystem.afterLogListing.getAndSet(null))
        .foreach(_.apply())
    }
    listed
  }
}

object CommitWatchFileSystem {
  val logListings = new AtomicInteger(0)
  val afterLogListing = new AtomicReference[() => Unit](null)
}

/** One operation, one snapshot: every reader and keyed mutator resolves
  * the table's commit log ONCE and takes data files, tombstones,
  * schema, epoch and floor from that one commit — so a commit landing
  * mid-call cannot mix two versions into one answer. */
class LakehouseSnapshotSpec extends SparkSpec {

  private val cols = Seq("x", "y")

  private def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
    col("id"), (col("id") % 100).cast("double").as("x"),
    (col("id") / 100).cast("double").as("y"))

  /** A logged generation table on `snapfs://`: generations 0–2 (ids
    * 0–999), 80 rows tombstoned at generation 1 (x ≥ 90 among ids
    * 0–799), a min/max manifest and a Bloom manifest on `id`. */
  private def debtTable(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.snapfs.impl", classOf[CommitWatchFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory(prefix).toString
    val path = s"snapfs://$local/t"
    Layout.appendGeneration(spark, path, mk(0L, 400L), cols, bits = 6,
      partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(400L, 800L), cols, bits = 6,
      partitions = 2, gen = 1L)
    assert(Lakehouse.deleteWhere(spark, path, col("x") >= 90.0) == 80L)
    Layout.appendGeneration(spark, path, mk(800L, 1000L), cols, bits = 6,
      partitions = 2, gen = 2L)
    Layout.writeManifest(spark, path, cols)
    Layout.writeBloomManifest(spark, path, "id", 1024L)
    assert(Lakehouse.scan(spark, path).count() == 920L)
    path
  }

  private def logListings(body: => Any): Int = {
    CommitWatchFileSystem.logListings.set(0)
    body
    CommitWatchFileSystem.logListings.get()
  }

  /** Run `body` with a compact armed to fire right after the FIRST
    * commit-log listing `body` makes; asserts the compact did fire. */
  private def withCompactMidCall[T](path: String)(body: => T): T = {
    val epoch = Lakehouse.compactEpoch(spark, path)
    CommitWatchFileSystem.afterLogListing.set(() =>
      Lakehouse.compact(spark, path, cols, bits = 6, partitions = 2))
    val out = try body
      finally assert(CommitWatchFileSystem.afterLogListing.getAndSet(null)
        == null, "the armed compact never fired")
    assert(Lakehouse.compactEpoch(spark, path) == epoch + 1)
    out
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("every reader and keyed mutator lists the table's commit log " +
      "exactly once") {
    val path = debtTable("snap-once")
    val box = Seq(("x", lit(0.0), lit(50.0)))
    val readers: Seq[(String, () => Long)] = Seq(
      "scan" -> (() => Lakehouse.scan(spark, path).count()),
      "Lakehouse.prunedScan" ->
        (() => Lakehouse.prunedScan(spark, path, box).count()),
      "Layout.prunedScan" ->
        (() => Layout.prunedScan(spark, path, box).count()),
      "pointLookup" ->
        (() => Lakehouse.pointLookup(spark, path, "id", Seq(5L, 95L))
          .count()),
      "scanAsOf" -> (() => Lakehouse.scanAsOf(spark, path, 1L).count()),
      "changesBetween" ->
        (() => Lakehouse.changesBetween(spark, path, 0L, 2L).count()))
    var answers = Map.empty[String, Long]
    val readerListings = readers.map { case (name, read) =>
      name -> logListings { answers += name -> read() }
    }
    assert(answers == Map("scan" -> 920L, "Lakehouse.prunedScan" -> 510L,
      "Layout.prunedScan" -> 510L, "pointLookup" -> 1L,
      "scanAsOf" -> 720L, "changesBetween" -> 600L), answers)
    val feed = (lo: Long, hi: Long) =>
      mk(lo, hi).withColumn("__op", lit("insert"))
    val mutators: Seq[(String, () => Any)] = Seq(
      "deleteWhere" ->
        (() => Lakehouse.deleteWhere(spark, path, col("x") === 80.0)),
      "deleteMatching" ->
        (() => Lakehouse.deleteMatching(spark, path,
          spark.range(0L, 5L).select(col("id")), "id")),
      "upsertByKey" ->
        (() => Lakehouse.upsertByKey(spark, path, mk(10L, 20L), "id", cols,
          bits = 6, partitions = 1)),
      "upsertBatch" ->
        (() => Lakehouse.upsertBatch(spark, path, mk(20L, 30L), "id", cols,
          6, 1, 20L)),
      "applyChangesByKey" ->
        (() => Lakehouse.applyChangesByKey(spark, path, feed(30L, 40L),
          "id", cols, bits = 6, partitions = 1)),
      "applyBatch" ->
        (() => Lakehouse.applyBatch(spark, path, feed(40L, 50L), "id",
          cols, 6, 1, 30L)))
    val listings = readerListings ++
      mutators.map { case (name, mutate) => name -> logListings(mutate()) }
    assert(listings.forall(_._2 == 1), listings.mkString(", "))
    // 920 live − 10 (x = 80) − 5 (ids 0–4); the upserts and applies
    // replace ids 10–49 one for one
    assert(Lakehouse.scan(spark, path).count() == 905L)
  }

  test("a compact landing right after a scan's log listing cannot " +
      "bring deleted rows back: the scan answers from ONE commit") {
    val path = debtTable("snap-scan")
    val want = ids(Lakehouse.scan(spark, path))
    val got = withCompactMidCall(path)(Lakehouse.scan(spark, path))
    // the replaced files wait for vacuum, so the resolved commit's
    // files and tombstones are all still readable
    val gotIds = ids(got)
    assert(gotIds == want, s"${(gotIds -- want).size} deleted rows came " +
      s"back, ${(want -- gotIds).size} live rows went missing")
    assert(ids(Lakehouse.scan(spark, path)) == want)
  }

  test("a compact landing right after changesBetween's log listing " +
      "cannot empty the window: the feed answers from ONE commit") {
    val path = debtTable("snap-feed")
    def rows(df: DataFrame): Set[(Long, String)] =
      df.select("id", "__op").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = rows(Lakehouse.changesBetween(spark, path, 0L, 2L))
    // gen 1 + gen 2 minus the 40 gen-1 rows tombstoned, and the 40
    // gen-0 rows the window's tombstones retract
    assert(want.count(_._2 == "insert") == 560 &&
      want.count(_._2 == "delete") == 40)
    val got = withCompactMidCall(path)(
      Lakehouse.changesBetween(spark, path, 0L, 2L))
    val gotRows = rows(got)
    assert(gotRows == want, s"window of ${gotRows.size} changes, want " +
      s"${want.size}")
  }
}

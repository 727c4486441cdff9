package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Lakehouse, Layout}

/** [[GraftTestFileSystem]] under its own `snapfs://` scheme (registered
  * via `fs.snapfs.impl`), watching the commit log: it counts
  * `listStatus` calls on `*_commit` directories, and can run a one-shot
  * action right after such a listing returns, before the caller sees
  * the listing — exactly where a concurrent writer's commit lands in
  * the middle of an operation. It also records the directory every
  * `rename` lands in, and can refuse the next rename into a `*_commit`
  * directory — a commit marker that fails to land. */
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
  override def rename(src: Path, dst: Path): Boolean = {
    val into = dst.getParent.getName
    CommitWatchFileSystem.renamedInto.add(into)
    if (into.endsWith("_commit") &&
        CommitWatchFileSystem.failNextCommitRename.getAndSet(false)) false
    else super.rename(src, dst)
  }
}

object CommitWatchFileSystem {
  val logListings = new AtomicInteger(0)
  val afterLogListing = new AtomicReference[() => Unit](null)
  val renamedInto = new ConcurrentLinkedQueue[String]()
  val failNextCommitRename = new AtomicBoolean(false)
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

  /** The directory names `body` renamed files into, by count. */
  private def renamesInto(body: => Any): Map[String, Int] = {
    CommitWatchFileSystem.renamedInto.clear()
    body
    CommitWatchFileSystem.renamedInto.asScala.toSeq.groupBy(identity)
      .map { case (d, ds) => d -> ds.size }
  }

  /** Parquet file names in the table dir and its `_deletes` sidecar. */
  private def dataAndTombstoneFiles(path: String): Set[String] = {
    val local = new URI(path).getPath
    Seq(local, Lakehouse.deletesDir(local)).flatMap { d =>
      Option(new java.io.File(d).listFiles()).toSeq.flatten
        .map(_.getName).filter(_.endsWith(".parquet"))
    }.toSet
  }

  test("every mutator lands its data and tombstone files in place: no " +
      "rename into the table or its _deletes, exactly one into _commit") {
    val path = debtTable("snap-rename")
    val mutators: Seq[(String, () => Any)] = Seq(
      "append" -> (() => Lakehouse.append(spark, path, mk(1000L, 1010L),
        cols, bits = 6, partitions = 1)),
      "appendAt" -> (() => Lakehouse.appendAt(spark, path,
        mk(1010L, 1020L), cols, gen = 3L, bits = 6, partitions = 1)),
      "upsertByKey" -> (() => Lakehouse.upsertByKey(spark, path,
        mk(10L, 20L), "id", cols, bits = 6, partitions = 1)),
      // stamped at generation 4: later than the fold below
      "deleteMatching" -> (() => Lakehouse.deleteMatching(spark, path,
        spark.range(0L, 6L).select(col("id")), "id")),
      "compactRetaining" -> (() => Lakehouse.compactRetaining(spark, path,
        cols, retainAfter = 1L, bits = 6, partitions = 2)),
      "compact" -> (() => Lakehouse.compact(spark, path, cols, bits = 6,
        partitions = 2)))
    val renames = mutators.map { case (name, mutate) =>
      name -> renamesInto(mutate())
    }
    val bad = renames.filter { case (_, into) =>
      into.getOrElse("t", 0) != 0 || into.getOrElse("t_deletes", 0) != 0 ||
        into.getOrElse("t_commit", 0) != 1
    }
    assert(bad.isEmpty, bad.mkString("; "))
    // 920 live + 10 appended + 10 at generation 3; the upsert replaces
    // ids 10–19 one for one; ids 0–5 are deleted
    assert(Lakehouse.scan(spark, path).count() == 934L)
  }

  test("a commit marker that fails to land leaves the previous version " +
      "readable, the landed files as orphans vacuum removes, and nothing " +
      "for recover") {
    val path = debtTable("snap-crash")
    def commitFails(what: String)(op: => Any): Unit = {
      Lakehouse.vacuum(spark, path, graceMs = 0L)
      val version = Lakehouse.readCommit(spark, path).get.version
      val live = ids(Lakehouse.scan(spark, path))
      val onDisk = dataAndTombstoneFiles(path)
      CommitWatchFileSystem.failNextCommitRename.set(true)
      val e = intercept[IllegalArgumentException](op)
      assert(e.getMessage.contains("commit: rename"), s"$what: $e")
      assert(!CommitWatchFileSystem.failNextCommitRename.get)
      assert(Lakehouse.readCommit(spark, path).get.version == version, what)
      assert(ids(Lakehouse.scan(spark, path)) == live, what)
      val orphans = dataAndTombstoneFiles(path) -- onDisk
      assert(orphans.nonEmpty, what)
      val swept = Lakehouse.vacuum(spark, path, graceMs = 0L)
      assert(swept.map(p => new Path(p).getName).toSet == orphans,
        s"$what: swept ${swept.mkString(",")}, landed ${orphans.mkString(",")}")
      assert(Lakehouse.recover(spark, path).isEmpty, what)
      assert(ids(Lakehouse.scan(spark, path)) == live, what)
    }
    commitFails("upsertByKey")(Lakehouse.upsertByKey(spark, path,
      mk(10L, 20L), "id", cols, bits = 6, partitions = 1))
    // a tombstone stamped later than the fold, on a folded file: the
    // retention compaction lands doom and remapped tombstone files too
    Lakehouse.deleteMatching(spark, path,
      spark.range(0L, 6L).select(col("id")), "id")
    commitFails("compactRetaining")(Lakehouse.compactRetaining(spark,
      path, cols, retainAfter = 1L, bits = 6, partitions = 2))
    assert(Lakehouse.scan(spark, path).count() == 914L)
  }

  test("a table whose files carry the previous release's names mutates, " +
      "time-travels and folds like any other") {
    val local = java.nio.file.Files.createTempDirectory("snap-oldnames")
    val path = s"$local/t"
    def place(df: DataFrame, dir: String, name: String): Unit = {
      val staged = s"$local/staged"
      df.coalesce(1).write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, name))
    }
    place(mk(0L, 100L), path, "part-v2-00000.parquet")
    place(mk(100L, 200L), path, "gen3-v4-part00000.parquet")
    // ids 0–9 sit at rows 0–9 of the base file, deleted at base gen −1
    place(spark.range(0L, 10L).select(lit("part-v2-00000.parquet")
        .as(Lakehouse.FileCol), col("id").as(Lakehouse.PosCol),
        lit(-1L).as(Lakehouse.GenCol)),
      Lakehouse.deletesDir(path), "del-1-0.parquet")
    def asOf(g: Long) = ids(Lakehouse.scanAsOf(spark, path, g))
    val base = (10L until 100L).toSet
    val gen3 = base ++ (100L until 200L)
    assert(asOf(-1L) == base && asOf(3L) == gen3)
    Lakehouse.deleteMatching(spark, path,
      spark.range(100L, 105L).select(col("id")), "id")
    Lakehouse.appendAt(spark, path, mk(200L, 250L), cols, gen = 4L,
      bits = 6, partitions = 1)
    Lakehouse.upsertByKey(spark, path, mk(20L, 30L), "id", cols,
      bits = 6, partitions = 1)
    val c = Lakehouse.readCommit(spark, path).get
    assert(c.data.contains("gen3-v4-part00000.parquet") &&
      c.deletes.contains("del-1-0.parquet"), c)
    // the deletes fold into the generation the table sat at
    val at3 = gen3 -- (100L until 105L)
    val at4 = at3 ++ (200L until 250L) -- (20L until 30L)
    val snaps = Seq(-1L, 3L, 4L, 5L).map(g => g -> asOf(g)).toMap
    assert(snaps == Map(-1L -> base, 3L -> at3, 4L -> at4,
      5L -> (at4 ++ (20L until 30L))), snaps)
    assert(ids(Lakehouse.scan(spark, path)) == snaps(5L))
    // fold the old-named files; the stamp-4 tombstones on them remap
    Lakehouse.compactRetaining(spark, path, cols, retainAfter = 3L,
      bits = 6, partitions = 1)
    assert(Seq(3L, 4L, 5L).map(g => g -> asOf(g)).toMap ==
      snaps - (-1L))
    Lakehouse.rollback(spark, path, 4L)
    assert(ids(Lakehouse.scan(spark, path)) == snaps(4L))
  }

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

package graft

import org.apache.spark.sql.functions._
import graft.core.{Lakehouse, Layout}

/** The layout's mutation half: positional tombstones, merge-on-read
  * scans with the clean-file split, keyed upserts, generation time
  * travel, rollback, and the compaction that folds the debt in. */
class LakehouseSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** 1000 rows over a 2-D grid, laid out z-ordered across 8 files. */
  private def freshTable(path: String): Unit = {
    val df = spark.range(1000).select(
      col("id"),
      (col("id") % 100).cast("double").as("x"),
      (col("id") / 100).cast("double").as("y"))
    Layout.zorder(df, Seq("x", "y"), bits = 6, partitions = 8)
      .write.parquet(path)
    Layout.writeManifest(spark, path, Seq("x", "y"))
  }

  test("deleteWhere: scan excludes exactly the matched rows; " +
      "re-running the same predicate is a no-op; debt is counted") {
    val path = tmp("lake-del")
    freshTable(path)
    val n = Lakehouse.deleteWhere(spark, path, col("x") >= 40.0)
    assert(n == 600L) // ids with id%100 in [40,100)
    assert(Lakehouse.deleteDebt(spark, path) == 600L)
    val live = Lakehouse.scan(spark, path)
    assert(live.count() == 400L)
    assert(live.filter(col("x") >= 40.0).count() == 0L)
    // idempotent: same predicate again records nothing new
    assert(Lakehouse.deleteWhere(spark, path, col("x") >= 40.0) == 0L)
    assert(Lakehouse.deleteDebt(spark, path) == 600L)
    // a second, overlapping predicate records only the fresh rows
    assert(Lakehouse.deleteWhere(spark, path, col("x") >= 30.0) == 100L)
    assert(Lakehouse.scan(spark, path).count() == 300L)
  }

  test("deleteWhere with no matches writes nothing") {
    val path = tmp("lake-del0")
    freshTable(path)
    assert(Lakehouse.deleteWhere(spark, path, col("x") > 1e9) == 0L)
    assert(Lakehouse.deleteDebt(spark, path) == 0L)
    assert(!new java.io.File(Lakehouse.deletesDir(path)).exists())
    assert(Lakehouse.scan(spark, path).count() == 1000L)
  }

  test("scan without any delete debt is a plain parquet read (no join)") {
    val path = tmp("lake-clean")
    freshTable(path)
    val plan = Lakehouse.scan(spark, path)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("scan with small debt broadcasts the anti-join and leaves " +
      "untouched files out of the join entirely") {
    val path = tmp("lake-split")
    freshTable(path)
    // tombstone rows from ONE corner of the grid — z-order keeps that
    // corner in a minority of the 8 files
    assert(Lakehouse.deleteWhere(spark, path,
      col("x") < 10.0 && col("y") < 1.0) > 0L)
    val live = Lakehouse.scan(spark, path)
    val plan = live.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan)
    // the clean-file split: two parquet scans, only one under the join
    assert(plan.contains("Union"), plan)
    assert(live.count() == 1000L -
      spark.read.parquet(path)
        .filter(col("x") < 10.0 && col("y") < 1.0).count())
  }

  test("deleteMatching: bulk takedown by key list") {
    val path = tmp("lake-take")
    freshTable(path)
    import spark.implicits._
    val keys = Seq(1L, 5L, 7L, 999L, 5000L).toDF("id") // 5000 absent
    assert(Lakehouse.deleteMatching(spark, path, keys, "id") == 4L)
    val live = Lakehouse.scan(spark, path)
    assert(live.count() == 996L)
    assert(live.filter(col("id").isin(1L, 5L, 7L, 999L)).count() == 0L)
    // replay of the same list: nothing fresh
    assert(Lakehouse.deleteMatching(spark, path, keys, "id") == 0L)
  }

  test("prunedScan composes manifest pruning with the delete debt") {
    val path = tmp("lake-pruned")
    freshTable(path)
    Lakehouse.deleteWhere(spark, path, col("y") < 2.0 && col("x") < 50.0)
    val got = Lakehouse.prunedScan(spark, path,
        Seq(("x", lit(0.0), lit(60.0)), ("y", lit(0.0), lit(3.0))))
      .select("id").collect().map(_.getLong(0)).sorted
    val want = spark.range(1000).select(col("id"),
        (col("id") % 100).cast("double").as("x"),
        (col("id") / 100).cast("double").as("y"))
      .filter(col("x").between(0.0, 60.0) && col("y").between(0.0, 3.0) &&
        !(col("y") < 2.0 && col("x") < 50.0))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("upsertByKey: updates win, inserts land, base survives; " +
      "duplicate-key batches raise") {
    val path = tmp("lake-upsert")
    freshTable(path)
    import spark.implicits._
    val updates = Seq(
      (3L, -1.0, -1.0),   // update
      (999L, -2.0, -2.0), // update
      (5000L, 9.0, 9.0)   // insert (new key)
    ).toDF("id", "x", "y")
    Lakehouse.upsertByKey(spark, path, updates, "id", Seq("x", "y"),
      bits = 6, partitions = 2)
    val live = Lakehouse.scan(spark, path)
    assert(live.count() == 1001L)
    assert(live.filter(col("id") === 3L).select("x")
      .head().getDouble(0) == -1.0)
    assert(live.filter(col("id") === 5000L).count() == 1L)
    assert(live.filter(col("id") === 4L).select("x")
      .head().getDouble(0) == 4.0) // untouched
    val dup = Seq((1L, 0.0, 0.0), (1L, 1.0, 1.0)).toDF("id", "x", "y")
    val e = intercept[IllegalArgumentException] {
      Lakehouse.upsertByKey(spark, path, dup, "id", Seq("x", "y"))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("compact folds the debt in: content invariant, tombstones " +
      "cleared, manifest rebuilt, files bin-packed") {
    val path = tmp("lake-compact")
    freshTable(path)
    Lakehouse.deleteWhere(spark, path, col("x") >= 50.0)
    val before = Lakehouse.scan(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6, partitions = 2)
    assert(Lakehouse.deleteDebt(spark, path) == 0L)
    // replaced files await the grace vacuum; sweep with zero grace so
    // the physical assertions below see only the committed live set
    Lakehouse.vacuum(spark, path, 0L)
    assert(!new java.io.File(Lakehouse.deletesDir(path)).exists())
    val after = Lakehouse.scan(spark, path)
    assert(after.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == before)
    // physically applied: the raw read no longer contains deleted rows
    assert(spark.read.parquet(path).filter(col("x") >= 50.0).count() == 0L)
    // bin-packed to the asked partitioning
    assert(new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet")) == 2)
    // manifest agrees with the rewritten files
    val manifest = spark.read.parquet(s"${path}_manifest")
    assert(manifest.count() == 2L)
    val health = Layout.layoutHealth(manifest, Seq("x", "y"))
    assert(health.files == 2L)
  }

  test("compact with targetBytes sizes the output from on-disk bytes") {
    val path = tmp("lake-target")
    freshTable(path)
    val bytes = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // target = half the table → 2 output files
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6,
      targetBytes = (bytes + 1) / 2)
    Lakehouse.vacuum(spark, path, 0L)
    assert(new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet")) == 2)
    assert(Lakehouse.scan(spark, path).count() == 1000L)
  }

  test("scanAsOf: generation snapshots, deletes folded into the " +
      "generation they were issued under") {
    val path = tmp("lake-asof")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"),
      (col("id") / 100).cast("double").as("y"))
    Layout.appendGeneration(spark, path, mk(0L, 500L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(500L, 1000L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 1L)
    assert(Lakehouse.currentGen(spark, path) == 1L)
    // a delete issued while the table sits at generation 1
    Lakehouse.deleteWhere(spark, path, col("id") < 10L)
    assert(Lakehouse.scan(spark, path).count() == 990L)
    // gen-0 snapshot: second generation AND the later delete invisible
    val asOf0 = Lakehouse.scanAsOf(spark, path, 0L)
    assert(asOf0.count() == 500L)
    assert(asOf0.filter(col("id") < 10L).count() == 10L)
    // gen-1 snapshot = live
    assert(Lakehouse.scanAsOf(spark, path, 1L).count() == 990L)
  }

  test("rollback makes a snapshot permanent and appends keep working") {
    val path = tmp("lake-roll")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"),
      (col("id") / 100).cast("double").as("y"))
    Layout.appendGeneration(spark, path, mk(0L, 500L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(500L, 1000L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 1L)
    Lakehouse.deleteWhere(spark, path, col("id") < 10L) // stamped gen 1
    Lakehouse.rollback(spark, path, 0L)
    assert(Lakehouse.currentGen(spark, path) == 0L)
    assert(Lakehouse.scan(spark, path).count() == 500L)
    assert(Lakehouse.deleteDebt(spark, path) == 0L)
    // manifest slices past the snapshot are gone too
    assert(spark.read.parquet(s"${path}_manifest").count() == 2L)
    // the rolled-back generation and its tombstone left the live sets;
    // their files wait for vacuum, which sweeps them past grace
    val swept = Lakehouse.vacuum(spark, path, graceMs = 0L)
    assert(swept.count(_.contains("/gen1-")) == 2 &&
      swept.exists(_.contains("/del1-")), swept.mkString(","))
    // life goes on: the freed generation id is reusable
    Layout.appendGeneration(spark, path, mk(500L, 600L), Seq("x", "y"),
      bits = 6, partitions = 1, gen = 1L)
    assert(Lakehouse.scan(spark, path).count() == 600L)
  }

  test("deleteMatchingStream: key batches drain as tombstones; a " +
      "second drain picks up only new requests (offsets carried)") {
    val path = tmp("lake-delstream")
    freshTable(path)
    val reqDir = java.nio.file.Files
      .createTempDirectory("lake-requests").toString
    spark.range(0, 5).select(col("id"))
      .coalesce(1).write.parquet(s"$reqDir/b0")
    spark.range(5, 9).select(col("id"))
      .coalesce(1).write.parquet(s"$reqDir/b1")
    def drain(): Unit = graft.core.Lakehouse.deleteMatchingStream(
      spark.readStream.schema("id LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$reqDir/*/"),
      path, "id")
    drain()
    assert(graft.core.Lakehouse.deleteDebt(spark, path) == 9L)
    assert(graft.core.Lakehouse.scan(spark, path).count() == 991L)
    // a third request file arrives; the checkpoint skips the old ones
    spark.range(9, 12).select(col("id"))
      .coalesce(1).write.parquet(s"$reqDir/b2")
    drain()
    assert(graft.core.Lakehouse.deleteDebt(spark, path) == 12L)
    assert(graft.core.Lakehouse.scan(spark, path).count() == 988L)
  }

  test("pointLookup: bloom manifest skips most files, result equals " +
      "the direct filter, tombstones apply, misses raise") {
    val path = tmp("lake-bloom")
    // 64 files, ids range-clustered so each id lives in exactly 1 file
    val df = spark.range(64000).select(col("id"),
      (col("id") % 100).cast("double").as("x"))
    Layout.zorder(df, Seq("id"), bits = 8, partitions = 64)
      .write.parquet(path)
    val e = intercept[IllegalArgumentException] {
      Lakehouse.pointLookup(spark, path, "id", Seq(7L))
    }
    assert(e.getMessage.contains("writeBloomManifest"))
    Layout.writeBloomManifest(spark, path, "id",
      expectedKeysPerFile = 2000L, fpp = 0.001)
    // the skip property: 3 point keys touch a handful of the 64 files
    val bm = spark.read.parquet(s"${path}_bloom_id")
    assert(bm.count() == 64L)
    val probes = Seq(7L, 31000L, 63999L)
    val hashes = spark.range(1)
      .select(probes.map(v => xxhash64(lit(v))): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    val keptFiles = bm.filter(graft.expressions.GraftExpressions
      .bloomMightContainAny(col("__bloom"), hashes)).count()
    assert(keptFiles <= 8L, s"bloom kept $keptFiles of 64 files")
    val got = Lakehouse.pointLookup(spark, path, "id", probes)
    assert(got.count() == 3L)
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == probes.sorted)
    // a tombstoned row disappears from the lookup
    Lakehouse.deleteWhere(spark, path, col("id") === 31000L)
    assert(Lakehouse.pointLookup(spark, path, "id", probes)
      .count() == 2L)
  }

  test("pointLookup keeps unmanifested files (stale-safe appends) and " +
      "compact rebuilds the bloom manifest") {
    val path = tmp("lake-bloomstale")
    val df = spark.range(1000).select(col("id"),
      (col("id") % 100).cast("double").as("x"))
    Layout.zorder(df, Seq("id"), bits = 6, partitions = 4)
      .write.parquet(path)
    Layout.writeManifest(spark, path, Seq("id", "x"))
    Layout.writeBloomManifest(spark, path, "id",
      expectedKeysPerFile = 2000L, fpp = 0.001)
    // a key that arrives AFTER the bloom manifest was built
    val late = spark.range(50000, 50001).select(col("id"),
      lit(5.0).as("x"))
    Layout.appendZordered(spark, path, late, Seq("id", "x"), bits = 6,
      partitions = 1)
    val got = Lakehouse.pointLookup(spark, path, "id", Seq(50000L, 7L))
    assert(got.count() == 2L, "stale bloom manifest must not hide appends")
    // compact rewrites every file AND rebuilds the bloom manifest
    Lakehouse.compact(spark, path, Seq("id", "x"), bits = 6,
      partitions = 2)
    assert(Lakehouse.pointLookup(spark, path, "id", Seq(50000L, 7L))
      .count() == 2L)
    val bm = spark.read.parquet(s"${path}_bloom_id")
    assert(bm.count() == 2L, "bloom manifest must track the rewrite")
  }

  test("changesBetween: applying the feed to the fromGen snapshot " +
      "reproduces the toGen snapshot; in-window births+deaths net out") {
    val path = tmp("lake-cdf")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 400L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(400L, 800L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 1L)
    // a delete at gen 1 hitting BOTH generations: x in [90, 100)
    Lakehouse.deleteWhere(spark, path, col("x") >= 90.0)
    Layout.appendGeneration(spark, path, mk(800L, 1000L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 2L)
    // a delete at gen 2 hitting all three generations: x < 5
    Lakehouse.deleteWhere(spark, path, col("x") < 5.0)
    val feed = Lakehouse.changesBetween(spark, path, 0L, 2L)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    val inserts = ids(feed.filter(col("__op") === "insert"))
    val deletes = ids(feed.filter(col("__op") === "delete"))
    // net: rows born at gen 1/2 and deleted inside the window appear
    // as NEITHER — e.g. id 495 (gen 1, x=95, deleted at gen 1)
    assert(!inserts.contains(495L) && !deletes.contains(495L))
    // a gen-0 row deleted in the window IS a delete — e.g. id 95
    assert(deletes.contains(95L))
    // a gen-1 row alive at the end IS an insert — e.g. id 450
    assert(inserts.contains(450L))
    // the replica law: asOf(0) minus deletes plus inserts == asOf(2)
    val replica = (ids(Lakehouse.scanAsOf(spark, path, 0L)) -- deletes)
      .union(inserts)
    assert(replica == ids(Lakehouse.scanAsOf(spark, path, 2L)))
    // disjointness and an empty window
    assert((inserts & deletes).isEmpty)
    assert(Lakehouse.changesBetween(spark, path, 2L, 2L).count() == 0L)
  }

  test("appends raise loudly on schema drift instead of landing a " +
      "silently null-filled generation") {
    val path = tmp("lake-drift")
    freshTable(path)
    val drifted = spark.range(10).select(col("id"),
      (col("id") % 100).cast("double").as("x"),
      (col("id") / 100).cast("double").as("y"),
      lit("en").as("lang")) // extra column
    val e = intercept[IllegalArgumentException] {
      Layout.appendZordered(spark, path, drifted, Seq("x", "y"),
        bits = 6, partitions = 1)
    }
    assert(e.getMessage.contains("extra: [lang]"), e.getMessage)
    val retyped = spark.range(10).select(col("id"),
      (col("id") % 100).cast("float").as("x"), // double -> float
      (col("id") / 100).cast("double").as("y"))
    val e2 = intercept[IllegalArgumentException] {
      Layout.appendGeneration(spark, path, retyped, Seq("x", "y"),
        bits = 6, partitions = 1, gen = 1L)
    }
    assert(e2.getMessage.contains("x double->float"), e2.getMessage)
    // the matching batch still lands
    Layout.appendZordered(spark, path,
      spark.range(2000, 2010).select(col("id"),
        (col("id") % 100).cast("double").as("x"),
        (col("id") / 100).cast("double").as("y")),
      Seq("x", "y"), bits = 6, partitions = 1)
    assert(Lakehouse.scan(spark, path).count() == 1010L)
  }

  test("read-set audits: changesBetween touches only the window's " +
      "files, pointLookup only the bloom-kept handful") {
    val path = tmp("lake-readset")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 400L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(400L, 800L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 1L)
    Layout.appendGeneration(spark, path, mk(800L, 1200L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 2L)
    def names(files: Array[String]): Set[String] =
      files.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    // no deletes in the window: the (1,2] feed reads gen-2 files ONLY
    val feedInputs = names(
      Lakehouse.changesBetween(spark, path, 1L, 2L).inputFiles)
    assert(feedInputs.nonEmpty &&
      feedInputs.forall(_.startsWith("gen2-")), feedInputs.toString)
    // a lookup reads only the files its bloom manifest keeps
    Layout.writeBloomManifest(spark, path, "id",
      expectedKeysPerFile = 2000L, fpp = 0.001)
    val lookupInputs = names(
      Lakehouse.pointLookup(spark, path, "id", Seq(7L)).inputFiles)
      .filter(_.contains("gen")) // data files, not the manifest read
    assert(lookupInputs.size <= 2,
      s"pointLookup read ${lookupInputs.size} of 6 data files: " +
        lookupInputs.toString)
  }

  test("upsertByKeyStream: update batches drain exactly-once; a " +
      "replayed batch body neither double-tombstones nor self-kills") {
    val path = tmp("lake-upstream")
    val mk = (lo: Long, hi: Long, bump: Double) =>
      spark.range(lo, hi).select(col("id"),
        ((col("id") % 100).cast("double") + lit(bump)).as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 1000L, 0.0),
      Seq("x", "id"), bits = 6, partitions = 2, gen = 0L)
    val reqDir = java.nio.file.Files
      .createTempDirectory("lake-upserts").toString
    mk(0L, 10L, 1000.0).coalesce(1).write.parquet(s"$reqDir/b0")
    mk(5L, 15L, 2000.0).coalesce(1).write.parquet(s"$reqDir/b1")
    def drain(): Unit = graft.core.Lakehouse.upsertByKeyStream(
      spark.readStream.schema("id LONG, x DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$reqDir/*/"),
      path, "id", Seq("x", "id"), bits = 6, partitions = 1)
    drain()
    val live = Lakehouse.scan(spark, path)
    assert(live.count() == 1000L)
    def xOf(id: Long): Double = live.filter(col("id") === id)
      .select("x").head().getDouble(0)
    // id 3: updated only by batch 0; id 7: batch 1 wins (later batch)
    assert(xOf(3L) == 1003.0 && xOf(7L) == 2007.0 && xOf(20L) == 20.0)
    // the replay hazard, driven directly: redelivering the FULL batch
    // body (delete half + append half) at the SAME generation must not
    // tombstone the rows its first attempt landed
    val gen = Lakehouse.currentGen(spark, path)
    val replay = mk(5L, 15L, 2000.0)
    val before = Lakehouse.deleteDebt(spark, path)
    Lakehouse.upsertBatch(spark, path, replay, "id", Seq("x", "id"),
      bits = 6, partitions = 1, gen = gen)
    val after = Lakehouse.scan(spark, path)
    assert(after.count() == 1000L)
    assert(after.filter(col("id") === 7L).select("x").head()
      .getDouble(0) == 2007.0)
    assert(Lakehouse.deleteDebt(spark, path) == before)
    // a restart with a NEW request file continues from the checkpoint
    mk(500L, 501L, 3000.0).coalesce(1).write.parquet(s"$reqDir/b2")
    drain()
    val live2 = Lakehouse.scan(spark, path)
    assert(live2.count() == 1000L)
    assert(live2.filter(col("id") === 500L).select("x").head()
      .getDouble(0) == 3000.0) // 500 % 100 = 0, bumped by 3000
    assert(live2.filter(col("id") === 7L).select("x").head()
      .getDouble(0) == 2007.0)
  }

  test("a health-triggered maintainLayout rebuild is a compaction: " +
      "deleted rows stay gone, the tombstone dir folds in") {
    val path = tmp("lake-maintdel")
    freshTable(path)
    Lakehouse.deleteWhere(spark, path, col("x") >= 50.0)
    assert(Lakehouse.scan(spark, path).count() == 500L)
    // an append that RE-TILES the whole base domain (same x/y box) so
    // the measured point cost crosses the threshold → rebuild
    val batch = spark.range(1000, 2000).select(col("id"),
      (col("id") % 100).cast("double").as("x"),
      ((col("id") % 1000) / 100).cast("double").as("y"))
    val rebuilt = Layout.maintainLayout(spark, path, batch, Seq("x", "y"),
      bits = 6, partitions = 4, maxPointCost = 1.5)
    assert(rebuilt, "fixture must trigger the rebuild")
    Lakehouse.vacuum(spark, path, 0L)
    // the rebuild must NOT resurrect the tombstoned rows...
    val live = spark.read.parquet(path)
    assert(live.filter(col("x") >= 50.0 && col("id") < 1000L)
      .count() == 0L, "rebuild resurrected deleted rows")
    assert(live.count() == 1500L) // 500 survivors + 1000 appended
    // ...and must clear the folded tombstone set (no phantom debt)
    assert(Lakehouse.deleteDebt(spark, path) == 0L)
    assert(!new java.io.File(Lakehouse.deletesDir(path)).exists())
  }

  test("pointLookup hashes probes AS the key column's type: an Int " +
      "probe on a LONG key still finds its rows") {
    val path = tmp("lake-typed")
    val df = spark.range(4000).select(col("id"),
      (col("id") % 100).cast("double").as("x"))
    Layout.zorder(df, Seq("id"), bits = 6, partitions = 8)
      .write.parquet(path)
    Layout.writeBloomManifest(spark, path, "id",
      expectedKeysPerFile = 1000L, fpp = 0.001)
    // probes typed Int — the build side hashed LONGs; uncast these
    // would probe false everywhere and silently return empty
    val got = Lakehouse.pointLookup(spark, path, "id",
      Seq(7, 1234, 3999))
    assert(got.count() == 3L)
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(7L, 1234L, 3999L))
  }

  test("an all-null key file carries a NULL bloom sketch and is " +
      "skipped soundly") {
    val path = tmp("lake-nullkey")
    spark.range(100).select(col("id"), lit("a").as("tag"))
      .coalesce(1).write.parquet(path)
    spark.range(100).select(lit(null).cast("long").as("id"),
        lit("b").as("tag"))
      .coalesce(1).write.mode("append").parquet(path)
    val bm = Layout.bloomManifest(spark.read.parquet(path), "id",
      expectedKeysPerFile = 1000L, fpp = 0.001)
    val rows = bm.select("__file", "__bloom").collect()
    assert(rows.length == 2)
    assert(rows.count(_.isNullAt(1)) == 1,
      "the all-null-key file must carry a null sketch")
    bm.write.mode("overwrite")
      .parquet(s"${path}_bloom_id") // persist for the lookup
    val got = Lakehouse.pointLookup(spark, path, "id", Seq(42L))
    assert(got.count() == 1L && got.select("tag").head().getString(0) == "a")
  }

  test("concurrent upsertByKey writers serialize through the table " +
      "lock: neither batch is lost, generations are distinct") {
    val path = tmp("lake-race")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 1000L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 0L)
    val updA = mk(0L, 50L).withColumn("x", col("x") + lit(1000.0))
    val updB = mk(500L, 550L).withColumn("x", col("x") + lit(2000.0))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(Lakehouse.upsertByKey(spark, path, updA, "id",
      Seq("x", "id"), bits = 6, partitions = 1))
    val fb = Future(Lakehouse.upsertByKey(spark, path, updB, "id",
      Seq("x", "id"), bits = 6, partitions = 1))
    Await.result(fa, 5.minutes); Await.result(fb, 5.minutes)
    val live = Lakehouse.scan(spark, path)
    assert(live.count() == 1000L, "a writer's batch was lost")
    def xOf(id: Long): Double = live.filter(col("id") === id)
      .select("x").head().getDouble(0)
    assert(xOf(3L) == 1003.0, "writer A's update lost")
    assert(xOf(510L) == 2010.0, "writer B's update lost")
    // serialized: the two batches landed as DISTINCT generations 1, 2
    assert(Lakehouse.currentGen(spark, path) == 2L)
  }

  test("withTableLock: a held lease makes a second writer raise after " +
      "waitMs; a stale lease is taken over") {
    val path = tmp("lake-lock")
    freshTable(path)
    val conf = spark.sessionState.newHadoopConf()
    val lease = new org.apache.hadoop.fs.Path(s"${path}_lock/lease")
    val f = lease.getFileSystem(conf)
    f.mkdirs(lease.getParent)
    val out = f.create(lease, false)
    out.write("someone-else".getBytes); out.close()
    val e = intercept[IllegalArgumentException] {
      Lakehouse.withTableLock(spark, path, waitMs = 300L) { fail("ran") }
    }
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    // stale-lease takeover: age the lease past its window
    f.setTimes(lease, System.currentTimeMillis() - 1000L, -1L)
    val ran = Lakehouse.withTableLock(spark, path, leaseMs = 500L) { 42 }
    assert(ran == 42)
    assert(!f.exists(lease), "lock released after the body")
  }

  test("withTableLock runs unchanged over a CUSTOM LeaseBackend: " +
      "acquisition, stale takeover, and usurpation all ride the seam") {
    // a deployment with a sound coordination primitive (conditional
    // put, a lock service) implements five operations; the mechanics
    // must not depend on the file-based default
    final class MemLease extends Lakehouse.LeaseBackend {
      @volatile var holder: String = ""
      @volatile var touched: Long = 0L
      def tryAcquire(token: String): Boolean = synchronized {
        if (holder.nonEmpty) false
        else { holder = token; touched = System.currentTimeMillis(); true }
      }
      def holderToken(): String = holder
      def ageMs(): Long =
        if (holder.isEmpty) Long.MaxValue
        else System.currentTimeMillis() - touched
      def refresh(): Unit = touched = System.currentTimeMillis()
      def release(): Unit = holder = ""
      def describe: String = "mem://lease"
    }
    val backend = new MemLease
    // plain acquisition + release
    assert(Lakehouse.withTableLock(backend, 60000L, 1000L) { 7 } == 7)
    assert(backend.holder.isEmpty, "released after the body")
    // a held lease blocks a second writer until waitMs
    backend.holder = "someone-else"
    backend.touched = System.currentTimeMillis()
    val e = intercept[IllegalArgumentException] {
      Lakehouse.withTableLock(backend, 60000L, 300L) { fail("ran") }
    }
    assert(e.getMessage.contains("mem://lease"), e.getMessage)
    // a STALE lease is taken over
    backend.touched = System.currentTimeMillis() - 10000L
    assert(Lakehouse.withTableLock(backend, 500L, 1000L) { 42 } == 42)
    // usurpation mid-body raises after a clean body
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.withTableLock(backend, 90L, 1000L) {
        backend.holder = "usurper" // someone stole the lease
        Thread.sleep(400L) // let the heartbeat observe it
      }
    }
    assert(e2.getMessage.contains("taken over"), e2.getMessage)
    assert(backend.holder == "usurper",
      "the loser must not release the new owner's lease")
  }

  test("CasLeaseBackend: the full race family over the sound " +
      "compare-and-set reference — and the double-takeover " +
      "interleaving the FS backend documents CANNOT happen here") {
    @volatile var nowMs = 1000000L
    val scope = s"cas-spec-${System.nanoTime()}"
    val b = new Lakehouse.CasLeaseBackend(scope, () => nowMs)
    // plain acquisition + release through withTableLock
    assert(Lakehouse.withTableLock(b, 60000L, 1000L) { 7 } == 7)
    assert(b.holderToken().isEmpty, "released after the body")
    // a held lease blocks a second writer until waitMs
    assert(b.tryAcquire("someone-else"))
    val e = intercept[IllegalArgumentException] {
      Lakehouse.withTableLock(b, 60000L, 300L) { fail("ran") }
    }
    assert(e.getMessage.contains(s"cas:$scope"), e.getMessage)
    // a STALE lease is taken over (clock-injected staleness)
    nowMs += 10000L
    assert(Lakehouse.withTableLock(b, 500L, 1000L) { 42 } == 42)
    assert(b.holderToken().isEmpty)
    // THE ADVICE INTERLEAVING, closed: contenders A and B both
    // observe the same stale token; B compare-and-deletes it and
    // acquires; A's later compare-and-delete finds B's FRESH token
    // and FAILS — A can neither delete B's lease nor acquire
    assert(b.tryAcquire("dead-writer"))
    nowMs += 10000L // dead-writer is stale
    val observedByA = b.holderToken()
    val observedByB = b.holderToken()
    assert(b.releaseIf(observedByB), "B's takeover fires first")
    assert(b.tryAcquire("B-fresh"))
    assert(!b.releaseIf(observedByA),
      "A's conditional delete must fail against B's fresh lease")
    assert(b.holderToken() == "B-fresh",
      "B's critical section stays exclusive")
    assert(!b.tryAcquire("A-late"))
    b.release()
    // usurpation mid-body still raises after a clean body
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.withTableLock(b, 90L, 1000L) {
        b.release(); assert(b.tryAcquire("usurper"))
        Thread.sleep(400L) // let the heartbeat observe it
      }
    }
    assert(e2.getMessage.contains("taken over"), e2.getMessage)
    assert(b.holderToken() == "usurper",
      "the loser must not release the new owner's lease")
    b.release()
    // and real concurrent writers serialize: two threads, one table
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlap = new java.util.concurrent.atomic.AtomicBoolean(false)
    val inBody = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ts = (1 to 2).map { _ =>
      new Thread(() => Lakehouse.withTableLock(b, 60000L, 10000L) {
        if (!inBody.compareAndSet(false, true)) overlap.set(true)
        hits.incrementAndGet()
        Thread.sleep(150L)
        inBody.set(false)
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(20000L))
    assert(hits.get() == 2 && !overlap.get(),
      s"both bodies ran, never overlapping (hits=${hits.get()})")
  }

  test("compact bumps the epoch: a replica's stale-epoch window " +
      "raises loudly instead of reading reused generation ids") {
    val path = tmp("lake-epoch")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 500L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(500L, 1000L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 1L)
    val replicaEpoch = Lakehouse.compactEpoch(spark, path)
    // same-epoch feeds work
    assert(Lakehouse.changesBetween(spark, path, 0L, 1L,
      asOfEpoch = replicaEpoch).count() == 500L)
    Lakehouse.compact(spark, path, Seq("x", "id"), bits = 6,
      partitions = 2)
    assert(Lakehouse.compactEpoch(spark, path) == replicaEpoch + 1)
    val e = intercept[IllegalArgumentException] {
      Lakehouse.changesBetween(spark, path, 0L, 1L,
        asOfEpoch = replicaEpoch)
    }
    assert(e.getMessage.contains("epoch"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.scanAsOf(spark, path, 0L, asOfEpoch = replicaEpoch)
    }
    assert(e2.getMessage.contains("epoch"), e2.getMessage)
    // a maintainLayout rebuild is a compact: it bumps too
    Layout.maintainLayout(spark, path,
      mk(1000L, 1500L), Seq("x", "id"), bits = 6, partitions = 2,
      maxPointCost = 0.0)
    assert(Lakehouse.compactEpoch(spark, path) == replicaEpoch + 2)
  }

  test("compactRetaining: debt folds below the floor, every later " +
      "snapshot and the change feed stay byte-correct") {
    val path = tmp("lake-retain")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 400L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 0L)
    // a delete at gen 0 — folds away entirely
    Lakehouse.deleteWhere(spark, path, col("id") < 20L)
    Layout.appendGeneration(spark, path, mk(400L, 800L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 1L)
    // a delete at gen 1 hitting BOTH generations — its gen-0 victims
    // must be remapped, its gen-1 victims carried verbatim
    Lakehouse.deleteWhere(spark, path, col("x") >= 90.0)
    Layout.appendGeneration(spark, path, mk(800L, 1200L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 2L)
    // a delete at gen 2 hitting everything
    Lakehouse.deleteWhere(spark, path, col("x") < 5.0)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    val asOf0 = ids(Lakehouse.scanAsOf(spark, path, 0L))
    val asOf1 = ids(Lakehouse.scanAsOf(spark, path, 1L))
    val asOf2 = ids(Lakehouse.scanAsOf(spark, path, 2L))
    val feed12 = Lakehouse.changesBetween(spark, path, 1L, 2L)
    val feedIns = ids(feed12.filter(col("__op") === "insert"))
    val feedDel = ids(feed12.filter(col("__op") === "delete"))
    val epoch = Lakehouse.compactEpoch(spark, path)
    Lakehouse.compactRetaining(spark, path, Seq("x", "id"),
      retainAfter = 0L, bits = 6, partitions = 2)
    // the epoch did NOT move (later windows stay valid); the floor did
    assert(Lakehouse.compactEpoch(spark, path) == epoch)
    assert(Lakehouse.snapshotFloor(spark, path) == 0L)
    // every retained snapshot is unchanged
    assert(ids(Lakehouse.scanAsOf(spark, path, 0L, asOfEpoch = epoch))
      == asOf0)
    assert(ids(Lakehouse.scanAsOf(spark, path, 1L)) == asOf1)
    assert(ids(Lakehouse.scanAsOf(spark, path, 2L)) == asOf2)
    assert(ids(Lakehouse.scan(spark, path)) == asOf2)
    // the replica's feed is unchanged across the retention compaction
    val feed12b = Lakehouse.changesBetween(spark, path, 1L, 2L,
      asOfEpoch = epoch)
    assert(ids(feed12b.filter(col("__op") === "insert")) == feedIns)
    assert(ids(feed12b.filter(col("__op") === "delete")) == feedDel)
    // the folded debt is gone: only post-floor tombstones remain
    // (gen-1 box: remapped + carried; gen-2 box: untouched)
    Lakehouse.vacuum(spark, path, 0L)
    val delFiles = new java.io.File(Lakehouse.deletesDir(path))
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(delFiles.forall(n => n.startsWith("del1-") ||
      n.startsWith("del2-")), delFiles.mkString(","))
    // expired history raises loudly
    val e = intercept[IllegalArgumentException] {
      Lakehouse.scanAsOf(spark, path, -1L)
    }
    assert(e.getMessage.contains("floor"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.changesBetween(spark, path, -1L, 2L)
    }
    assert(e2.getMessage.contains("floor"), e2.getMessage)
    // life goes on: appends, deletes, rollback above the floor
    Layout.appendGeneration(spark, path, mk(1200L, 1300L), Seq("x", "id"),
      bits = 6, partitions = 1, gen = 3L)
    assert(ids(Lakehouse.scan(spark, path)) == asOf2 ++ (1200L until 1300L))
    Lakehouse.rollback(spark, path, 2L)
    assert(ids(Lakehouse.scan(spark, path)) == asOf2)
  }

  test("compactRetaining shards bulky doomed rows and their remapped " +
      "tombstones past rowsPerFile — never a single-task funnel") {
    val path = tmp("lake-retainshard")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 1000L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(1000L, 1100L), Seq("x", "id"),
      bits = 6, partitions = 1, gen = 1L)
    // a bulky retraction stamped 1 hitting 500 gen-0 rows
    Lakehouse.deleteMatching(spark, path,
      spark.range(0, 500).select(col("id")), "id")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    val wantLive = ids(Lakehouse.scan(spark, path))
    val wantAsOf0 = ids(Lakehouse.scanAsOf(spark, path, 0L))
    Lakehouse.compactRetaining(spark, path, Seq("x", "id"),
      retainAfter = 0L, bits = 6, partitions = 2, rowsPerFile = 100L)
    Lakehouse.vacuum(spark, path, 0L)
    val files = new java.io.File(path).listFiles().map(_.getName)
    val doomFiles = files.filter(_.startsWith("doom1-"))
    assert(doomFiles.length == 5, doomFiles.mkString(","))
    val delFiles = new java.io.File(Lakehouse.deletesDir(path))
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(delFiles.count(_.startsWith("del1-")) == 5,
      delFiles.mkString(","))
    assert(ids(Lakehouse.scan(spark, path)) == wantLive)
    assert(ids(Lakehouse.scanAsOf(spark, path, 0L)) == wantAsOf0)
    assert(Lakehouse.deleteDebt(spark, path) == 500L)
  }

  test("bulk retractions shard their tombstone files past rowsPerFile " +
      "and replays still record nothing") {
    val path = tmp("lake-shard")
    freshTable(path)
    val n = Lakehouse.deleteWhere(spark, path, col("x") >= 40.0,
      rowsPerFile = 100L)
    assert(n == 600L)
    val delFiles = new java.io.File(Lakehouse.deletesDir(path))
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(delFiles.length == 6, delFiles.mkString(","))
    assert(delFiles.forall(_.startsWith("del-1-")), delFiles.mkString(","))
    assert(Lakehouse.deleteDebt(spark, path) == 600L)
    assert(Lakehouse.scan(spark, path).count() == 400L)
    // replay: content-idempotent across the sharded layout
    assert(Lakehouse.deleteWhere(spark, path, col("x") >= 40.0,
      rowsPerFile = 100L) == 0L)
    assert(Lakehouse.deleteDebt(spark, path) == 600L)
  }

  test("appends extend the bloom manifests: lookups on appended " +
      "generations stay file-bounded instead of full-keeping") {
    val path = tmp("lake-bloomappend")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 8000L), Seq("id"),
      bits = 6, partitions = 8, gen = 0L)
    Layout.writeBloomManifest(spark, path, "id",
      expectedKeysPerFile = 2000L, fpp = 0.001)
    // a generation appended AFTER the manifest was built gets a slice
    Layout.appendGeneration(spark, path, mk(8000L, 16000L), Seq("id"),
      bits = 6, partitions = 8, gen = 1L)
    assert(new java.io.File(s"${path}_bloom_id/gen1.parquet").exists(),
      "appendGeneration must land its bloom slice")
    def readSet(probe: Long): Set[String] =
      Lakehouse.pointLookup(spark, path, "id", Seq(probe)).inputFiles
        .map(f => f.substring(f.lastIndexOf('/') + 1))
        .filter(_.startsWith("gen")).toSet
    // a gen-1 key's lookup reads a handful of files, NOT all 8 gen-1
    // files (which a stale manifest would full-keep)
    val rs = readSet(12345L)
    assert(rs.nonEmpty && rs.size <= 3, rs.toString)
    // the replayed generation rewrites its own slice and stays pruned
    Layout.appendGeneration(spark, path, mk(8000L, 16000L), Seq("id"),
      bits = 6, partitions = 8, gen = 1L)
    assert(Lakehouse.pointLookup(spark, path, "id", Seq(12345L))
      .count() == 1L)
    assert(readSet(12345L).size <= 3)
    // appendZordered (non-generation append) extends manifests too
    val path2 = tmp("lake-bloomappend2")
    Layout.zorder(mk(0L, 4000L), Seq("id"), bits = 6, partitions = 4)
      .write.parquet(path2)
    Layout.writeManifest(spark, path2, Seq("id"))
    Layout.writeBloomManifest(spark, path2, "id",
      expectedKeysPerFile = 2000L, fpp = 0.001)
    Layout.appendZordered(spark, path2, mk(4000L, 8000L), Seq("id"),
      bits = 6, partitions = 4)
    val rs2 = Lakehouse.pointLookup(spark, path2, "id", Seq(6000L))
      .inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1))
      .filter(_.startsWith("part-")).toSet
    assert(rs2.nonEmpty && rs2.size <= 3, rs2.toString)
    // rollback drops the rolled-back generations' bloom slices
    Lakehouse.rollback(spark, path, 0L)
    assert(!new java.io.File(s"${path}_bloom_id/gen1.parquet").exists(),
      "rollback must drop the rolled-back bloom slice")
    assert(Lakehouse.pointLookup(spark, path, "id", Seq(7L)).count() == 1L)
  }

  test("the lease heartbeat keeps a LONG mutation's lock fresh: a " +
      "contender cannot usurp a live holder that outlives leaseMs") {
    val path = tmp("lake-beat")
    freshTable(path)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val holderDone = new java.util.concurrent.CountDownLatch(1)
    // a holder whose body outlives its own lease window 2.5×: without
    // the heartbeat the contender below would take the lease over and
    // both would mutate concurrently
    val holder = Future(Lakehouse.withTableLock(spark, path,
      leaseMs = 1000L) {
      Thread.sleep(2500L); holderDone.countDown(); "held"
    })
    // wait until the holder has actually ACQUIRED (polling the lease
    // file beats a fixed sleep on a loaded container)
    val lease2 = new org.apache.hadoop.fs.Path(s"${path}_lock/lease")
    val f2 = lease2.getFileSystem(spark.sessionState.newHadoopConf())
    val acquireDeadline = System.currentTimeMillis() + 10000L
    while (!f2.exists(lease2) &&
        System.currentTimeMillis() < acquireDeadline)
      Thread.sleep(20L)
    assert(f2.exists(lease2), "holder never acquired")
    val e = intercept[IllegalArgumentException] {
      Lakehouse.withTableLock(spark, path, leaseMs = 1000L,
        waitMs = 1800L) { fail("usurped a live holder") }
    }
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    assert(Await.result(holder, 1.minute) == "held")
    assert(holderDone.getCount == 0)
    // released cleanly: the next writer acquires immediately
    assert(Lakehouse.withTableLock(spark, path, waitMs = 500L) { 1 } == 1)
  }

  test("applyChangesByKey: a replica reproduces the source snapshot " +
      "from the feed alone; replayed feeds are no-ops; updates win") {
    val path = tmp("lake-replsrc")
    val rep = tmp("lake-repldst")
    val mk = (lo: Long, hi: Long, bump: Double) =>
      spark.range(lo, hi).select(col("id"),
        ((col("id") % 100).cast("double") + lit(bump)).as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 500L, 0.0),
      Seq("x", "id"), bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, rep, mk(0L, 500L, 0.0),
      Seq("x", "id"), bits = 6, partitions = 2, gen = 0L)
    // the window (0, 2]: new rows land as generation 1, then a
    // takedown (stamped 1 — generation 0 is closed, so the stamp
    // falls inside the window), then an UPDATE of ids 0-4 through
    // upsertByKey (delete stamped 1 + re-insert as generation 2 —
    // the same key on both sides of the feed)
    Layout.appendGeneration(spark, path, mk(500L, 600L, 0.0),
      Seq("x", "id"), bits = 6, partitions = 2, gen = 1L)
    Lakehouse.deleteMatching(spark, path,
      spark.range(400, 450).select(col("id")), "id")
    Lakehouse.upsertByKey(spark, path, mk(0L, 5L, 9000.0), "id",
      Seq("x", "id"), bits = 6, partitions = 1)
    val feed = Lakehouse.changesBetween(spark, path, 0L, 2L)
    Lakehouse.applyChangesByKey(spark, rep, feed, "id", Seq("x", "id"),
      bits = 6, partitions = 2)
    def state(p: String): Set[(Long, Double)] =
      Lakehouse.scan(spark, p).select("id", "x").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(state(rep) == state(path), "replica diverged from source")
    assert(Lakehouse.scan(spark, rep).count() ==
      Lakehouse.scan(spark, path).count())
    // the updated keys carry the NEW values
    assert(state(rep).contains((3L, 9003.0)))
    // a replayed feed is effect-idempotent: the upsert-style
    // retraction covers the insert keys too, so re-landing the same
    // rows never doubles COUNTS (a set compare alone would mask that)
    Lakehouse.applyChangesByKey(spark, rep, feed, "id", Seq("x", "id"),
      bits = 6, partitions = 2)
    assert(state(rep) == state(path), "feed replay must be a no-op")
    assert(Lakehouse.scan(spark, rep).count() ==
      Lakehouse.scan(spark, path).count(),
      "feed replay duplicated rows")
    // duplicate-key inserts raise loudly
    import spark.implicits._
    val badFeed = Seq((1L, 1.0, "insert"), (1L, 2.0, "insert"))
      .toDF("id", "x", "__op")
    val e = intercept[IllegalArgumentException] {
      Lakehouse.applyChangesByKey(spark, rep, badFeed, "id",
        Seq("x", "id"))
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
  }

  test("applyChangesByKeyStream: feed batches drain exactly-once into " +
      "the replica; a replayed batch body neither doubles nor " +
      "self-kills") {
    val path = tmp("lake-repstreamsrc")
    val rep = tmp("lake-repstreamdst")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 500L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, rep, mk(0L, 500L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(500L, 600L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 1L)
    Lakehouse.deleteMatching(spark, path,
      spark.range(400, 450).select(col("id")), "id")
    val feedDir = java.nio.file.Files
      .createTempDirectory("lake-repfeed").toString
    Lakehouse.changesBetween(spark, path, 0L, 1L)
      .coalesce(1).write.parquet(s"$feedDir/pull0")
    val schema = spark.read.parquet(s"$feedDir/pull0").schema
    def drain(): Unit = Lakehouse.applyChangesByKeyStream(
      spark.readStream.schema(schema).parquet(s"$feedDir/*/"),
      rep, "id", Seq("x", "id"), bits = 6, partitions = 1)
    drain()
    def ids(p: String): Set[Long] =
      Lakehouse.scan(spark, p).select("id").collect()
        .map(_.getLong(0)).toSet
    assert(ids(rep) == ids(path), "replica diverged after drain")
    assert(Lakehouse.scan(spark, rep).count() ==
      Lakehouse.scan(spark, path).count())
    // the replay hazard, driven directly: redeliver the FULL batch
    // body at the SAME generation — it must rewrite its own files,
    // not double them, and not tombstone its own landed rows
    val gen = Lakehouse.currentGen(spark, rep)
    Lakehouse.applyBatch(spark, rep,
      spark.read.parquet(s"$feedDir/pull0"), "id", Seq("x", "id"),
      bits = 6, partitions = 1, gen = gen)
    assert(ids(rep) == ids(path), "batch replay diverged the replica")
    assert(Lakehouse.scan(spark, rep).count() ==
      Lakehouse.scan(spark, path).count(), "batch replay doubled rows")
    // a second pull lands through the same checkpoint: only new files
    // (the disciplined producer: gen 2 closes gen 1 BEFORE the next
    // takedown, so the takedown stamps 2 and rides the (1,2] window)
    Layout.appendGeneration(spark, path, mk(600L, 650L), Seq("x", "id"),
      bits = 6, partitions = 1, gen = 2L)
    Lakehouse.deleteMatching(spark, path,
      spark.range(0, 5).select(col("id")), "id")
    Lakehouse.changesBetween(spark, path, 1L, 2L)
      .coalesce(1).write.parquet(s"$feedDir/pull1")
    drain()
    assert(ids(rep) == ids(path), "replica diverged after second pull")
    assert(Lakehouse.scan(spark, rep).count() ==
      Lakehouse.scan(spark, path).count())
  }

  test("recover: a healthy table is a no-op, orphaned staging drops, " +
      "and the table reads and mutates unchanged afterwards") {
    val path = tmp("lake-recover")
    freshTable(path)
    Lakehouse.deleteWhere(spark, path, col("x") >= 90.0)
    val before = Lakehouse.scan(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val conf = spark.sessionState.newHadoopConf()
    val f = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // healthy table: recover does nothing
    assert(Lakehouse.recover(spark, path).isEmpty)
    // a crashed writer's staging: an empty rebuild dir and a staged
    // generation under _incoming
    f.mkdirs(p(s"${path}_rebuild"))
    f.mkdirs(p(s"${path}_incoming/gen9"))
    val acts = Lakehouse.recover(spark, path)
    assert(acts.exists(_.contains("orphaned")), acts.mkString("; "))
    assert(!f.exists(p(s"${path}_rebuild")))
    assert(!f.exists(p(s"${path}_incoming")))
    assert(Lakehouse.scan(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == before)
    assert(Lakehouse.deleteDebt(spark, path) == 100L)
    // and the table still mutates normally afterwards
    assert(Lakehouse.deleteWhere(spark, path, col("x") >= 80.0) == 100L)
  }

  test("recover drops a manifest naming vanished files and leaves a " +
      "healthy one alone") {
    val path = tmp("lake-recovermanifest")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 500L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(500L, 1000L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 1L)
    Lakehouse.deleteMatching(spark, path,
      spark.range(0, 10).select(col("id")), "id")
    val conf = spark.sessionState.newHadoopConf()
    val f = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    Layout.writeManifest(spark, path, Seq("x", "id"))
    assert(Lakehouse.recover(spark, path).isEmpty,
      "a healthy manifest must survive recover")
    assert(Lakehouse.deleteDebt(spark, path) == 10L)
    val manifestPart = f.listStatus(p(s"${path}_manifest"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    // corrupt the addressing: rename a DATA file so the manifest's
    // entry for it dangles (any rewrite that crashed after its commit,
    // before its manifest rebuild, leaves the same state)
    val victim = f.listStatus(p(path)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    assert(f.rename(victim,
      p(s"$path/renamed-${victim.getName}")))
    val acts2 = Lakehouse.recover(spark, path)
    assert(acts2.exists(_.contains("dangling manifest")),
      acts2.mkString("; "))
    assert(!f.exists(p(s"${path}_manifest")))
    assert(f.exists(manifestPart) == false)
  }

  test("pointLookup drops a probe the key type cannot represent " +
      "instead of raising or wrapping: a Long 2^40 against an Int key") {
    val path = tmp("lake-trycast")
    spark.range(1000).select(col("id").cast("int").as("id"),
        (col("id") % 100).cast("double").as("x"))
      .repartition(8).write.parquet(path)
    Layout.writeBloomManifest(spark, path, "id", 256L)
    // an overflowing probe alone: empty, never CAST_OVERFLOW (ANSI) or
    // a wrapped value matching the WRONG rows (non-ANSI)
    assert(Lakehouse.pointLookup(spark, path, "id",
      Seq(1L << 40)).count() == 0L)
    // mixed with representable probes: survivors still answer
    val got = Lakehouse.pointLookup(spark, path, "id",
      Seq(7L, 1L << 40, 13L))
    assert(got.select("id").collect().map(_.getInt(0)).toSet ==
      Set(7, 13))
  }

  test("rollback bumps the compact epoch: a pre-rollback window " +
      "raises loudly instead of addressing re-appended reused ids") {
    val path = tmp("lake-rbepoch")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    Layout.appendGeneration(spark, path, mk(0L, 500L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(500L, 1000L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 1L)
    val replicaEpoch = Lakehouse.compactEpoch(spark, path)
    Lakehouse.rollback(spark, path, 0L)
    assert(Lakehouse.compactEpoch(spark, path) == replicaEpoch + 1)
    // gen 1 is re-appended with DIFFERENT rows under the reused id —
    // exactly what a stale window must not silently address
    Layout.appendGeneration(spark, path, mk(2000L, 2500L), Seq("x", "id"),
      bits = 6, partitions = 2, gen = 1L)
    val e = intercept[IllegalArgumentException] {
      Lakehouse.changesBetween(spark, path, 0L, 1L,
        asOfEpoch = replicaEpoch)
    }
    assert(e.getMessage.contains("epoch"), e.getMessage)
    // a fresh capture works and reads the NEW gen-1 rows
    val fresh = Lakehouse.changesBetween(spark, path, 0L, 1L,
      asOfEpoch = Lakehouse.compactEpoch(spark, path))
    assert(fresh.filter(col("__op") === "insert").count() == 500L)
  }

  test("migrating an old on-disk table reads its legacy epoch marker: " +
      "v1 lands with the _epoch (or a crashed update's _epoch_next) " +
      "epoch and floor") {
    // the standalone `<path>_epoch` marker is what tables written
    // before the commit log carry; it is read only as migration input
    val conf = spark.sessionState.newHadoopConf()
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def marker(path: String, suffix: String, epoch: Long,
               floor: Long): Unit = {
      val out = p(path).getFileSystem(conf).create(p(s"$path$suffix"), true)
      try { out.writeLong(epoch); out.writeLong(floor) } finally out.close()
    }
    val old = tmp("lake-legacy-epoch")
    freshTable(old)
    marker(old, "_epoch", 3L, 5L)
    // read before any mutation: the listing snapshot, no log written
    assert(Lakehouse.epochAndFloor(spark, old) == ((3L, 5L)))
    assert(Lakehouse.readCommit(spark, old).isEmpty)
    Lakehouse.deleteWhere(spark, old, col("id") < 10L)
    val c = Lakehouse.readCommit(spark, old).get
    assert((c.epoch, c.floor) == ((3L, 5L)))
    assert(Lakehouse.scan(spark, old).count() == 990L)
    // an update that crashed after landing its new value at
    // `_epoch_next` (the old `_epoch` still beside it): the newer value
    // wins — reverting would silently stop expired windows raising
    val crashed = tmp("lake-legacy-epochnext")
    freshTable(crashed)
    marker(crashed, "_epoch", 1L, -1L)
    marker(crashed, "_epoch_next", 2L, 4L)
    Lakehouse.deleteWhere(spark, crashed, col("id") < 10L)
    val c2 = Lakehouse.readCommit(spark, crashed).get
    assert(c2.version == 2L && (c2.epoch, c2.floor) == ((2L, 4L)))
    assert(Lakehouse.epochAndFloor(spark, crashed) == ((2L, 4L)))
  }

  test("recover takes over a crashed writer's stale lease and leaves " +
      "the table intact and mutable") {
    val path = tmp("lake-recoverlease")
    freshTable(path)
    val conf = spark.sessionState.newHadoopConf()
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val f = p(path).getFileSystem(conf)
    val lease = p(s"${path}_lock/lease")
    f.mkdirs(p(s"${path}_lock"))
    val out = f.create(lease, false)
    out.write("crashed-writer".getBytes); out.close()
    // age the lease past the window: its holder stopped heartbeating
    f.setTimes(lease, System.currentTimeMillis() - 1000L, -1L)
    Lakehouse.recover(spark, path, leaseMs = 500L)
    assert(!f.exists(lease), "the stale lease must be cleared")
    assert(Lakehouse.scan(spark, path).count() == 1000L)
    assert(Lakehouse.deleteWhere(spark, path, col("x") >= 90.0) == 100L)
  }

  test("Lakehouse.append serializes concurrent ingest through the " +
      "lease: both batches land with their manifest slices intact") {
    val path = tmp("lake-lockedappend")
    freshTable(path)
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"),
      (col("id") / 100).cast("double").as("y"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq(mk(5000L, 5400L), mk(6000L, 6400L)).map { b =>
      new Thread(() =>
        try Lakehouse.append(spark, path, b, Seq("x", "y"), bits = 6,
          partitions = 2)
        catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000L))
    assert(errs.isEmpty, errs.toString)
    assert(Lakehouse.scan(spark, path).count() == 1800L)
    // the manifest covers EVERY data file — the mis-sliced-manifest
    // hazard of two unlocked appends diffing the same before-listing
    val manifested = spark.read.parquet(s"${path}_manifest")
      .select("__file").collect()
      .map(r => r.getString(0).split('/').last).toSet
    val onDisk = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(onDisk.subsetOf(manifested),
      s"unmanifested: ${(onDisk -- manifested).mkString(",")}")
  }

  test("delete debt survives an appendGeneration replay: positions " +
      "reference only files the replay does not touch") {
    val path = tmp("lake-replay")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"),
      (col("id") / 100).cast("double").as("y"))
    Layout.appendGeneration(spark, path, mk(0L, 500L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, path, mk(500L, 1000L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 1L)
    // tombstones land only in generation-0 files
    Lakehouse.deleteWhere(spark, path, col("id") < 10L)
    // generation 1 replays (at-least-once delivery) — same batch
    Layout.appendGeneration(spark, path, mk(500L, 1000L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 1L)
    assert(Lakehouse.scan(spark, path).count() == 990L)
  }

  test("landChangesTracked: the watermarked producer lands only newly " +
      "CLOSED windows exactly once — replays no-op, a rename/marker " +
      "crash heals, and the relayed replica equals the source") {
    val base = java.nio.file.Files
      .createTempDirectory("lake-relay").toString
    val src = s"$base/src"
    val rep = s"$base/replica"
    val out = s"$base/feed"
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"),
      (col("id") / 100).cast("double").as("y"))
    Layout.appendGeneration(spark, src, mk(0L, 400L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, rep, mk(0L, 400L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    // first call MUST name the bootstrap generation; then: nothing
    // closed yet -> None, but the watermark marker is down
    val e0 = intercept[IllegalArgumentException] {
      Lakehouse.landChangesTracked(spark, src, out)
    }
    assert(e0.getMessage.contains("initFromGen"), e0.getMessage)
    assert(Lakehouse.landChangesTracked(spark, src, out,
      initFromGen = 0L).isEmpty)
    // gen 1 lands; still OPEN (no gen 2) -> the default refuses it
    Layout.appendGeneration(spark, src, mk(400L, 500L), Seq("x", "y"),
      bits = 6, partitions = 1, gen = 1L)
    assert(Lakehouse.landChangesTracked(spark, src, out).isEmpty,
      "an open generation must not land by default")
    // gen 2 closes gen 1: the default lands exactly (0,1]
    Layout.appendGeneration(spark, src, mk(500L, 560L), Seq("x", "y"),
      bits = 6, partitions = 1, gen = 2L)
    assert(Lakehouse.landChangesTracked(spark, src, out)
      .contains((0L, 1L)))
    // deletes stamp gen 2 (current); a quiesced explicit pull takes
    // it — including the CROSS-WINDOW conflict rows 400..409, born in
    // window 1's insert set and deleted here (the one-window-per-
    // drain contract is what makes their net absence reachable)
    Lakehouse.deleteWhere(spark, src, col("id") < 50L)
    Lakehouse.deleteWhere(spark, src, col("id").between(400L, 409L))
    assert(Lakehouse.landChangesTracked(spark, src, out, toGen = 2L)
      .contains((1L, 2L)))
    // replay -> None; out-of-order -> raise
    assert(Lakehouse.landChangesTracked(spark, src, out,
      toGen = 2L).isEmpty)
    val oo = intercept[IllegalArgumentException] {
      Lakehouse.landChangesTracked(spark, src, out, toGen = 1L)
    }
    assert(oo.getMessage.contains("OUT OF ORDER"))
    // crash between the window rename and the marker: drop the newest
    // marker -> the replay reuses the landed dir and re-advances
    val ptr = new java.io.File(s"$out/_ptr")
    val newest = ptr.listFiles().map(_.getName).filter(_.startsWith("v"))
      .sorted.last
    assert(new java.io.File(ptr, newest).delete())
    assert(Lakehouse.landChangesTracked(spark, src, out, toGen = 2L)
      .contains((1L, 2L)), "the healed replay re-advances the marker")
    assert(new java.io.File(out).listFiles()
      .count(_.getName.startsWith("win1_")) == 1,
      "the healed replay must not duplicate the window")
    // the consumer side: apply each landed window IN ORDER (the
    // documented one-window-per-drain contract — a merged multi-
    // window batch would re-land the 400..409 rows their window-2
    // delete retracts, and the shape is indistinguishable from a
    // legitimate single-window update)
    Seq("win0_1", "win1_2").foreach { w =>
      Lakehouse.applyChangesByKey(spark, rep,
        spark.read.parquet(s"$out/$w"), "id", Seq("x", "y"),
        bits = 6, partitions = 1)
    }
    assert(Lakehouse.scan(spark, rep).select("id").collect()
      .map(_.getLong(0)).toSet ==
      Lakehouse.scan(spark, src).select("id").collect()
        .map(_.getLong(0)).toSet)
    assert(Lakehouse.scan(spark, rep)
      .filter(col("id").between(400L, 409L)).count() == 0L,
      "a window-1 insert deleted in window 2 nets to absence")
    assert(Lakehouse.scan(spark, rep).count() == 500L)
  }
}

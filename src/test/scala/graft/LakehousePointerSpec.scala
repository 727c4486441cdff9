package graft

import org.apache.spark.sql.functions._
import graft.core.{Lakehouse, Layout}

/** The version-pointer commit protocol: atomic pointer flips instead
  * of directory swaps, concurrent readers surviving a compact, the
  * grace-period vacuum, and commit-carried epoch/floor/schema. */
class LakehousePointerSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
    col("id"), (col("id") % 100).cast("double").as("x"),
    (col("id") / 100).cast("double").as("y"))

  test("a long-running scan SURVIVES a concurrent compact: the plan " +
      "resolved before the pointer flip completes against the " +
      "pre-compact version, and replaced files wait for vacuum") {
    val path = tmp("lake-ptr-scan")
    Layout.zorder(mk(0L, 1000L), Seq("x", "y"), bits = 6, partitions = 8)
      .write.parquet(path)
    Layout.writeManifest(spark, path, Seq("x", "y"))
    Lakehouse.deleteWhere(spark, path, col("x") >= 50.0)
    // the long-running reader: file list resolved NOW (1000 raw rows,
    // 500 live), execution deferred until after the compact
    val inflight = Lakehouse.scan(spark, path)
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6,
      partitions = 2)
    // the compacted table answers through the new commit...
    assert(Lakehouse.scan(spark, path).count() == 500L)
    // ...and the in-flight pre-compact plan still COMPLETES — its
    // files were replaced, not destroyed (the old two-rename swap
    // killed exactly this reader mid-job)
    assert(inflight.count() == 500L)
    assert(inflight.filter(col("x") >= 50.0).count() == 0L)
    // the replaced files are vacuum's to remove, inside grace: nothing
    val spared = Lakehouse.vacuum(spark, path,
      graceMs = 24L * 60 * 60 * 1000)
    assert(spared.isEmpty, spared.mkString(","))
    assert(inflight.count() == 500L, "grace window must protect readers")
    // past grace: dead data files, dead tombstones, old commits go
    val swept = Lakehouse.vacuum(spark, path, graceMs = 0L)
    assert(swept.nonEmpty)
    assert(new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet")) == 2)
    assert(!new java.io.File(Lakehouse.deletesDir(path)).exists())
    assert(Lakehouse.scan(spark, path).count() == 500L)
  }

  test("the pointer flip is ONE atomic commit: data set, tombstone " +
      "set, epoch and floor all move together, and every mutator " +
      "advances the version") {
    val path = tmp("lake-ptr-commit")
    Layout.appendGeneration(spark, path, mk(0L, 400L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    assert(Lakehouse.readCommit(spark, path).isDefined,
      "the first write lands the table's log")
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6,
      partitions = 2)
    val c1 = Lakehouse.readCommit(spark, path).get
    assert(c1.epoch == 1L && c1.floor == -1L && c1.deletes.isEmpty)
    assert(c1.data.size == 2 && c1.data.forall(_.startsWith("base")))
    assert(c1.schemaJson.isDefined)
    // a delete advances the commit with its tombstone names
    Lakehouse.deleteWhere(spark, path, col("x") < 10.0)
    val c2 = Lakehouse.readCommit(spark, path).get
    assert(c2.version > c1.version && c2.deletes.size == 1)
    assert(c2.data == c1.data)
    // an append advances it with the generation's names
    Lakehouse.appendAt(spark, path, mk(400L, 500L), Seq("x", "y"),
      gen = Lakehouse.currentGen(spark, path) + 1, bits = 6,
      partitions = 1)
    val c3 = Lakehouse.readCommit(spark, path).get
    assert(c3.data.toSet -- c2.data.toSet ==
      c3.data.filter(_.startsWith("gen")).toSet)
    // scans resolve THROUGH the commit: a junk parquet file planted in
    // the directory is invisible (the directory is no longer the truth)
    mk(9000L, 9100L).coalesce(1).write.mode("overwrite")
      .parquet(s"${path}_junkstage")
    val junk = new java.io.File(s"${path}_junkstage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(junk.toPath,
      java.nio.file.Paths.get(path, "zzz-junk.parquet"))
    assert(Lakehouse.scan(spark, path).count() == 460L,
      "uncommitted files must be invisible to commit-resolved scans")
    assert(Lakehouse.scan(spark, path)
      .filter(col("id") >= 9000L).count() == 0L)
  }

  test("retention compaction under the pointer: the kept tail never " +
      "moves (no copy), and the fold is one atomic commit") {
    val path = tmp("lake-ptr-retain")
    Layout.appendGeneration(spark, path, mk(0L, 400L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    Lakehouse.deleteWhere(spark, path, col("id") < 20L)
    Layout.appendGeneration(spark, path, mk(400L, 800L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 1L)
    Lakehouse.deleteWhere(spark, path, col("x") >= 90.0)
    val keptBefore = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("gen1-"))
      .map(f => (f.getName, f.lastModified(), f.length())).sorted.toSeq
    val asOf0 = Lakehouse.scanAsOf(spark, path, 0L)
      .select("id").collect().map(_.getLong(0)).toSet
    val live = Lakehouse.scan(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet
    Lakehouse.compactRetaining(spark, path, Seq("x", "y"),
      retainAfter = 0L, bits = 6, partitions = 2)
    // kept generation files: byte-identical, same inode-level files —
    // the pointer protocol removed the driver-side tail copy entirely
    val keptAfter = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("gen1-"))
      .map(f => (f.getName, f.lastModified(), f.length())).sorted.toSeq
    assert(keptAfter == keptBefore, "the kept tail must not be touched")
    assert(Lakehouse.scanAsOf(spark, path, 0L)
      .select("id").collect().map(_.getLong(0)).toSet == asOf0)
    assert(Lakehouse.scan(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet == live)
    val c = Lakehouse.readCommit(spark, path).get
    assert(c.floor == 0L)
    assert(c.data.exists(_.startsWith("gen1-")), "kept tail committed")
  }

  test("a crash between landing files and the commit changes NOTHING: " +
      "the orphans age into vacuum and recover reports cleanly") {
    val path = tmp("lake-ptr-orphan")
    Layout.zorder(mk(0L, 500L), Seq("x", "y"), bits = 6, partitions = 2)
      .write.parquet(path)
    Layout.writeManifest(spark, path, Seq("x", "y"))
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6,
      partitions = 2)
    val c = Lakehouse.readCommit(spark, path).get
    // simulate a compact that crashed mid-land: an orphan base file of
    // the NEXT version sits in the directory, no commit ever landed
    mk(8000L, 8100L).coalesce(1).write.mode("overwrite")
      .parquet(s"${path}_orphanstage")
    val part = new java.io.File(s"${path}_orphanstage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(path,
        f"base${c.version + 1}%d-part00000.parquet"))
    assert(Lakehouse.scan(spark, path).count() == 500L,
      "an uncommitted base file must be invisible")
    assert(Lakehouse.readCommit(spark, path).get.version == c.version)
    // vacuum sweeps the aged orphan
    val swept = Lakehouse.vacuum(spark, path, graceMs = 0L)
    assert(swept.exists(_.contains(f"base${c.version + 1}%d")),
      swept.mkString(","))
    // and the next compact lands fine at that version name
    Lakehouse.deleteWhere(spark, path, col("x") < 5.0)
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6,
      partitions = 2)
    assert(Lakehouse.scan(spark, path).count() == 475L)
  }

  test("prunedScan raises LOUDLY on a manifest that predates the " +
      "commit instead of silently serving dead files") {
    val path = tmp("lake-ptr-stalemanifest")
    Layout.zorder(mk(0L, 500L), Seq("x", "y"), bits = 6, partitions = 4)
      .write.parquet(path)
    Layout.writeManifest(spark, path, Seq("x", "y"))
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6,
      partitions = 2)
    // sanity: the rebuilt manifest serves
    assert(Lakehouse.prunedScan(spark, path,
      Seq(("x", lit(0.0), lit(30.0)))).count() ==
      Lakehouse.scan(spark, path).filter(col("x").between(0.0, 30.0))
        .count())
    // regress the manifest to the pre-compact one (the crash window:
    // commit landed, manifest rebuild did not)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    f.delete(new org.apache.hadoop.fs.Path(s"${path}_manifest"), true)
    val deadFiles = new java.io.File(path).listFiles()
      .filter(x => x.getName.endsWith(".parquet") &&
        !x.getName.startsWith("base"))
      .map(_.getAbsolutePath)
    assert(deadFiles.nonEmpty, "vacuum-pending dead files expected")
    Layout.statsManifest(spark.read.parquet(deadFiles.toSeq: _*),
        Seq("x", "y"))
      .coalesce(1).write.parquet(s"${path}_manifest")
    val e = intercept[IllegalArgumentException] {
      Lakehouse.prunedScan(spark, path,
        Seq(("x", lit(0.0), lit(30.0)))).count()
    }
    assert(e.getMessage.contains("predates"), e.getMessage)
    // recover drops it (dangling by the LIVE set, even though every
    // named file still exists on disk awaiting vacuum)
    val acts = Lakehouse.recover(spark, path)
    assert(acts.exists(_.contains("dangling manifest")),
      acts.mkString("; "))
    Layout.writeManifest(spark, path, Seq("x", "y"))
    assert(Lakehouse.prunedScan(spark, path,
      Seq(("x", lit(0.0), lit(30.0)))).count() > 0L)
  }

  test("additive schema evolution: resident files null-fill the new " +
      "column at scan, old snapshots and the change feed answer with " +
      "the evolved shape, drops and retypes still raise") {
    import org.apache.spark.sql.types._
    val path = tmp("lake-ptr-evolve")
    Layout.appendGeneration(spark, path, mk(0L, 300L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    val resident = Lakehouse.tableSchema(spark, path)
    // the guard still refuses an implicit widening append
    val drift = intercept[IllegalArgumentException] {
      Layout.appendGeneration(spark, path,
        mk(300L, 400L).withColumn("lang", lit("en")), Seq("x", "y"),
        bits = 6, partitions = 1, gen = 1L)
    }
    assert(drift.getMessage.contains("extra"), drift.getMessage)
    // the explicit opt-in widens the committed schema; metadata-only
    Lakehouse.evolveSchema(spark, path,
      StructType(resident.fields :+ StructField("lang", StringType)))
    assert(Lakehouse.tableSchema(spark, path).fieldNames.toSeq ==
      Seq("id", "x", "y", "lang"))
    // resident rows null-fill from the next query on
    val live0 = Lakehouse.scan(spark, path)
    assert(live0.schema.fieldNames.contains("lang"))
    assert(live0.filter(col("lang").isNull).count() == 300L)
    // the evolved-shape batch now lands normally
    Lakehouse.appendAt(spark, path,
      mk(300L, 400L).withColumn("lang", lit("en")), Seq("x", "y"),
      gen = 1L, bits = 6, partitions = 1)
    val live = Lakehouse.scan(spark, path)
    assert(live.count() == 400L)
    assert(live.filter(col("lang") === "en").count() == 100L)
    // OLD-generation snapshots and the feed answer with the evolved
    // shape (null-filled), not the write-time shape
    val asOf0 = Lakehouse.scanAsOf(spark, path, 0L)
    assert(asOf0.schema.fieldNames.contains("lang") &&
      asOf0.count() == 300L &&
      asOf0.filter(col("lang").isNull).count() == 300L)
    val feed = Lakehouse.changesBetween(spark, path, 0L, 1L)
    assert(feed.schema.fieldNames.contains("lang") &&
      feed.filter(col("__op") === "insert").count() == 100L)
    // mutation paths accept the evolved shape end-to-end
    Lakehouse.upsertByKey(spark, path,
      mk(50L, 60L).withColumn("lang", lit("de")), "id",
      Seq("x", "y"), bits = 6, partitions = 1)
    assert(Lakehouse.scan(spark, path)
      .filter(col("lang") === "de").count() == 10L)
    // a retype is NEVER additive
    val retype = intercept[IllegalArgumentException] {
      Lakehouse.evolveSchema(spark, path, StructType(Seq(
        StructField("id", LongType), StructField("x", StringType),
        StructField("y", DoubleType), StructField("lang", StringType))))
    }
    assert(retype.getMessage.contains("retyped"), retype.getMessage)
    // a drop is NEVER additive
    val dropped = intercept[IllegalArgumentException] {
      Lakehouse.evolveSchema(spark, path, StructType(Seq(
        StructField("id", LongType), StructField("x", DoubleType))))
    }
    assert(dropped.getMessage.contains("missing"), dropped.getMessage)
    // appendEvolving: widen + land in one call
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6,
      partitions = 2)
    Lakehouse.appendEvolving(spark, path,
      mk(400L, 450L).withColumn("lang", lit("fr"))
        .withColumn("score", col("x") * 2.0),
      Seq("x", "y"), bits = 6, partitions = 1)
    val wide = Lakehouse.scan(spark, path)
    assert(wide.schema.fieldNames.contains("score"))
    assert(wide.filter(col("score").isNotNull).count() == 50L)
    assert(wide.count() == 450L)
  }

  test("evolution meets the CDC loop: an evolved source's feed raises " +
      "on an unevolved replica and applies after the replica evolves; " +
      "an evolved EMPTY table still guards its first batch") {
    import org.apache.spark.sql.types._
    val src = tmp("lake-ptr-evcdc") + "-src"
    val rep = tmp("lake-ptr-evcdc") + "-rep"
    Layout.appendGeneration(spark, src, mk(0L, 200L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.appendGeneration(spark, rep, mk(0L, 200L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    // the source evolves and lands an evolved-shape generation
    Lakehouse.evolveSchema(spark, src, StructType(
      Lakehouse.tableSchema(spark, src).fields :+
        StructField("lang", StringType)))
    Lakehouse.appendAt(spark, src,
      mk(200L, 300L).withColumn("lang", lit("en")), Seq("x", "y"),
      gen = 1L, bits = 6, partitions = 1)
    val feed = Lakehouse.changesBetween(spark, src, 0L, 1L)
    // the unevolved replica REFUSES the widened feed loudly
    val e = intercept[IllegalArgumentException] {
      Lakehouse.applyChangesByKey(spark, rep, feed, "id", Seq("x", "y"),
        bits = 6, partitions = 1)
    }
    assert(e.getMessage.contains("extra") &&
      e.getMessage.contains("evolveSchema"), e.getMessage)
    // after evolving the replica, the same feed applies and both
    // tables answer identically (old rows null-filled on both sides)
    Lakehouse.evolveSchema(spark, rep, StructType(
      Lakehouse.tableSchema(spark, rep).fields :+
        StructField("lang", StringType)))
    Lakehouse.applyChangesByKey(spark, rep, feed, "id", Seq("x", "y"),
      bits = 6, partitions = 1)
    def state(p: String) = Lakehouse.scan(spark, p)
      .select("id", "x", "lang").collect().map(_.toString).sorted.toSeq
    assert(state(rep) == state(src))
    // the OPT-IN path: a second unevolved replica FOLLOWS the evolved
    // source in one call — evolve = true widens it to the feed's
    // shape before the retraction half, no operator intervention
    val rep2 = tmp("lake-ptr-evcdc") + "-rep2"
    Layout.appendGeneration(spark, rep2, mk(0L, 200L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    Lakehouse.applyChangesByKey(spark, rep2, feed, "id", Seq("x", "y"),
      bits = 6, partitions = 1, evolve = true)
    assert(state(rep2) == state(src))
    assert(Lakehouse.tableSchema(spark, rep2).fieldNames
      .contains("lang"))
    // evolve = true is ADDITIVE only: a feed that drops a replica
    // column still raises, before anything mutates
    val narrow = feed.drop("y")
    val eN = intercept[IllegalArgumentException] {
      Lakehouse.applyChangesByKey(spark, rep2, narrow, "id", Seq("x"),
        bits = 6, partitions = 1, evolve = true)
    }
    assert(eN.getMessage.contains("missing"), eN.getMessage)
    assert(state(rep2) == state(src), "a refused feed mutates nothing")
    // an evolveSchema'd EMPTY table guards its FIRST batch against the
    // committed schema — landing the unevolved shape would silently
    // null-fill forever
    val fresh = tmp("lake-ptr-evempty")
    new java.io.File(fresh).mkdirs()
    Lakehouse.evolveSchema(spark, fresh, StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType),
      StructField("y", DoubleType), StructField("lang", StringType))))
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.appendAt(spark, fresh, mk(0L, 10L), Seq("x", "y"),
        gen = 0L, bits = 6, partitions = 1)
    }
    assert(e2.getMessage.contains("missing"), e2.getMessage)
    Lakehouse.appendAt(spark, fresh,
      mk(0L, 10L).withColumn("lang", lit("de")), Seq("x", "y"),
      gen = 0L, bits = 6, partitions = 1)
    assert(Lakehouse.scan(spark, fresh).count() == 10L)
  }

  test("a Bloom manifest bounds the retraction pass: an upsert's " +
      "delete half reads only files that might hold a batch key") {
    val path = tmp("lake-ptr-bloomdel")
    // 16 disjoint id-range generations, bloom-manifested
    (0 until 4).foreach { g =>
      Layout.appendGeneration(spark, path,
        mk(g * 1000L, g * 1000L + 1000L), Seq("x", "y"), bits = 6,
        partitions = 4, gen = g.toLong)
    }
    Layout.writeBloomManifest(spark, path, "id", 1024L)
    val allFiles = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(allFiles.length >= 16)
    val c = Lakehouse.readCommit(spark, path).get
    // READ-SET AUDIT, directly on the narrowing: keys from one
    // generation's disjoint id range must keep a file-bounded subset,
    // never the whole table (the per-micro-batch full key-column pass
    // this exists to remove)
    val narrowed = Lakehouse.bloomNarrow(spark, path, c, allFiles.toSeq,
      spark.range(100L, 150L).select(col("id")), "id")
    assert(narrowed.nonEmpty && narrowed.size < allFiles.length / 2,
      s"narrowed ${narrowed.size} of ${allFiles.length}")
    // keys matching NOTHING: every manifested file is provably clean
    assert(Lakehouse.bloomNarrow(spark, path, c, allFiles.toSeq,
      spark.range(900000L, 900010L).select(col("id")), "id").isEmpty)
    // past the size threshold the pass stays full (no narrow)
    assert(Lakehouse.bloomNarrow(spark, path, c, allFiles.toSeq,
      spark.range(0L, Lakehouse.bloomRetractionMaxKeys + 10L)
        .select(col("id")), "id").toSet == allFiles.toSet)
    // a type-mismatched key expression disables the narrow (join
    // coercion is the semi-join's business, not the sketch's)
    assert(Lakehouse.bloomNarrow(spark, path, c, allFiles.toSeq,
      spark.range(100L, 150L).select(col("id").cast("int").as("id")),
      "id").toSet == allFiles.toSet)
    // end-to-end through the narrowed pass: delete, replay, upsert
    val n = Lakehouse.deleteMatching(spark, path,
      spark.range(100L, 150L).select(col("id")), "id")
    assert(n == 50L)
    assert(Lakehouse.scan(spark, path).count() == 3950L)
    assert(Lakehouse.deleteMatching(spark, path,
      spark.range(100L, 150L).select(col("id")), "id") == 0L)
    Lakehouse.upsertByKey(spark, path,
      mk(2000L, 2050L).withColumn("x", col("x") + lit(5000.0)),
      "id", Seq("x", "y"), bits = 6, partitions = 1)
    assert(Lakehouse.scan(spark, path)
      .filter(col("x") >= 5000.0).count() == 50L)
    assert(Lakehouse.scan(spark, path).count() == 3950L)
  }

  test("the CDC loop rides commits untouched: feeds, snapshots and " +
      "point lookups answer identically across pointerization") {
    val path = tmp("lake-ptr-cdc")
    Layout.appendGeneration(spark, path, mk(0L, 300L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    Layout.writeBloomManifest(spark, path, "id", 1024L)
    Layout.appendGeneration(spark, path, mk(300L, 600L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 1L)
    Lakehouse.deleteWhere(spark, path, col("id") === 42L)
    val feed01 = Lakehouse.changesBetween(spark, path, 0L, 1L)
      .select("id", "__op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val probe = Lakehouse.pointLookup(spark, path, "id", Seq(7L, 301L))
      .select("id").collect().map(_.getLong(0)).toSet
    // pointerize via a retention fold that keeps gen 1 addressable
    Lakehouse.compactRetaining(spark, path, Seq("x", "y"),
      retainAfter = 0L, bits = 6, partitions = 2)
    assert(Lakehouse.changesBetween(spark, path, 0L, 1L)
      .select("id", "__op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == feed01)
    assert(Lakehouse.pointLookup(spark, path, "id", Seq(7L, 301L))
      .select("id").collect().map(_.getLong(0)).toSet == probe)
    // and the live upsert path keeps committing
    Lakehouse.upsertByKey(spark, path,
      mk(100L, 120L).withColumn("x", col("x") + lit(1000.0)),
      "id", Seq("x", "y"), bits = 6, partitions = 1)
    assert(Lakehouse.scan(spark, path)
      .filter(col("x") >= 1000.0).count() == 20L)
    assert(Lakehouse.readCommit(spark, path).get.floor == 0L)
  }

  test("the commit log is a DELTA log: incremental mutations land " +
      "O(actions) markers whose bytes do not grow with the table, " +
      "and a full checkpoint lands on cadence") {
    val path = tmp("lake-ptr-deltalog")
    Layout.zorder(mk(0L, 200L), Seq("x", "y"), bits = 6, partitions = 2)
      .write.parquet(path)
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6,
      partitions = 2) // pointerizes: v1 (migrate) + v2 (compact), full
    val cDir = new java.io.File(Lakehouse.commitDir(path))
    def markers = cDir.listFiles().filter(_.getName.startsWith("v"))
      .sortBy(_.getName).toSeq
    // 12 single-file appends: versions 3..14 — deltas except v8
    (0 until 12).foreach { k =>
      Lakehouse.appendAt(spark, path, mk(200L + k * 10, 210L + k * 10),
        Seq("x", "y"), gen = k.toLong, bits = 6, partitions = 1)
    }
    val deltas = markers.filter(_.getName.endsWith(".delta.json"))
    val fulls = markers.filterNot(_.getName.endsWith(".delta.json"))
    assert(fulls.map(_.getName).exists(_.contains("00000000000000000008")),
      "version 8 must checkpoint (every-8 cadence): " +
        fulls.map(_.getName).mkString(","))
    assert(deltas.size == 11 && fulls.size == 3,
      markers.map(_.getName).mkString(","))
    // the load-bearing scale property: a delta marker's size is the
    // COMMIT's, not the table's — the 11th append's marker is no
    // bigger than the 1st's (±digits), while the live set grew 12 files
    val sizes = deltas.map(_.length())
    assert(sizes.max - sizes.min <= 64L,
      s"delta markers must not grow with the table: ${sizes.mkString(",")}")
    // the checkpoints DO grow with the live set (full state is their
    // job); the deltas tracking the same mutations stay flat — the
    // constant schema JSON both carry is the only shared bulk
    val fullSizes = fulls.sortBy(_.getName).map(_.length())
    assert(fullSizes.last > fullSizes.head + 64L,
      s"checkpoints carry the growing full state: ${fullSizes.mkString(",")}")
    assert(sizes.max < fullSizes.last,
      "a delta must be smaller than the state it avoids rewriting")
    val c = Lakehouse.readCommit(spark, path).get
    assert(c.version == 14L && c.data.size == 14)
    assert(Lakehouse.scan(spark, path).count() == 320L)
    // tombstone writes ride deltas too
    Lakehouse.deleteWhere(spark, path, col("id") < 10L)
    val c2 = Lakehouse.readCommit(spark, path).get
    assert(c2.version == 15L && c2.deletes.size == 1 &&
      c2.data == c.data)
    assert(Lakehouse.scan(spark, path).count() == 310L)
  }

  test("a log longer than the checkpoint cadence resolves from its " +
      "newest checkpoint plus the delta tail") {
    val path = tmp("lake-ptr-cadence")
    (0 until 10).foreach { k => // v1 (the empty path's log) + v2..v11
      Lakehouse.appendAt(spark, path, mk(k * 10L, k * 10L + 10L),
        Seq("x", "y"), gen = k.toLong, bits = 6, partitions = 1)
    }
    val cDir = new java.io.File(Lakehouse.commitDir(path))
    def version(n: String) = n.stripPrefix("v").takeWhile(_.isDigit).toLong
    val names = cDir.listFiles().map(_.getName).filter(_.startsWith("v"))
      .sorted.toSeq
    assert(names.filterNot(_.endsWith(".delta.json")).map(version) ==
      Seq(1L, 8L), names.mkString(","))
    // the markers below the newest checkpoint are not needed to resolve
    names.filter(n => version(n) < 8L)
      .foreach(n => assert(new java.io.File(cDir, n).delete()))
    val c = Lakehouse.readCommit(spark, path).get
    assert(c.version == 11L && c.data.size == 10)
    assert(Lakehouse.scan(spark, path).count() == 100L)
  }

  test("vacuum sweeps only the CONSUMED tail below the newest " +
      "checkpoint — the readable log survives, and a manufactured " +
      "gap raises loudly instead of resolving a partial state") {
    val path = tmp("lake-ptr-logsweep")
    Layout.zorder(mk(0L, 100L), Seq("x", "y"), bits = 6, partitions = 1)
      .write.parquet(path)
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6,
      partitions = 1) // v1+v2 full
    (0 until 9).foreach { k => // v3..v11: deltas except v8
      Lakehouse.appendAt(spark, path, mk(100L + k * 10, 110L + k * 10),
        Seq("x", "y"), gen = k.toLong, bits = 6, partitions = 1)
    }
    Lakehouse.vacuum(spark, path, graceMs = 0L)
    val cDir = new java.io.File(Lakehouse.commitDir(path))
    val left = cDir.listFiles().filter(_.getName.startsWith("v"))
      .map(_.getName).sorted.toSeq
    // v1..v7 swept; the checkpoint v8 and its tail v9..v11 MUST stay
    assert(left.head.contains("00000000000000000008") &&
      !left.head.endsWith(".delta.json"), left.mkString(","))
    assert(left.size == 4, left.mkString(","))
    assert(Lakehouse.readCommit(spark, path).get.version == 11L)
    assert(Lakehouse.scan(spark, path).count() == 190L)
    // a gap in the tail (an over-swept or corrupted log) is LOUD
    assert(new java.io.File(cDir,
      "v00000000000000000010.delta.json").delete())
    val gap = intercept[IllegalStateException] {
      Lakehouse.readCommit(spark, path)
    }
    assert(gap.getMessage.contains("delta tail gap"))
    // and a log whose checkpoint is gone raises too — deltas alone
    // have nothing to replay over
    assert(new java.io.File(cDir, "v00000000000000000008.json").delete())
    val noBase = intercept[IllegalArgumentException] {
      Lakehouse.readCommit(spark, path)
    }
    assert(noBase.getMessage.contains("only delta markers"))
  }

  test("an in-flight scan SURVIVES a concurrent rollback: rolled-back " +
      "files wait for vacuum, and a re-append of the same generation " +
      "lands under version-salted names with no collision") {
    val path = tmp("lake-ptr-rollback")
    Layout.zorder(mk(0L, 1000L), Seq("x", "y"), bits = 6, partitions = 2)
      .write.parquet(path)
    Lakehouse.compact(spark, path, Seq("x", "y"), bits = 6,
      partitions = 2)
    Seq(0L, 1L, 2L).foreach { g =>
      Lakehouse.appendAt(spark, path,
        mk(1000L + g * 100, 1100L + g * 100), Seq("x", "y"), gen = g,
        bits = 6, partitions = 1)
    }
    assert(new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("gen"))
      .forall(_.matches("gen\\d+-v\\d+-[0-9a-f]+p\\d+a\\d+\\.parquet")),
      "pointered generations land under commit-version-salted names")
    val inflight = Lakehouse.scan(spark, path) // resolves gens 0..2
    Lakehouse.rollback(spark, path, gen = 1L)
    // the pre-rollback plan completes: its files were de-committed,
    // not destroyed (the immediate-delete form killed this reader)
    assert(inflight.count() == 1300L)
    assert(Lakehouse.scan(spark, path).count() == 1200L)
    // same-generation re-append: the salt (a NEW commit version)
    // keeps it clear of the dead attempt still on disk
    Lakehouse.appendAt(spark, path, mk(5000L, 5050L), Seq("x", "y"),
      gen = 2L, bits = 6, partitions = 1)
    assert(Lakehouse.scan(spark, path).count() == 1250L)
    assert(Lakehouse.scan(spark, path)
      .filter(col("id") >= 5000L).count() == 50L)
    // the rolled-back attempt's files age into the grace sweep
    val swept = Lakehouse.vacuum(spark, path, graceMs = 0L)
    assert(swept.exists(_.contains("gen2-")), swept.mkString(","))
    assert(Lakehouse.scan(spark, path).count() == 1250L)
  }

  test("fused upsert commit: ONE delta marker carries both the " +
      "tombstone adds and the data adds, a crash-orphaned uncommitted " +
      "tombstone is invisible and replay-safe, and vacuum sweeps it") {
    // the table is built by appendGeneration alone — the fused commit
    // must be atomic on every table, not only on compacted ones
    val path = tmp("lake-ptr-fused")
    Layout.appendGeneration(spark, path, mk(0L, 400L), Seq("x", "y"),
      bits = 6, partitions = 2, gen = 0L)
    // CRASH WINDOW of the deferred tombstone commit: an upsert's
    // retraction landed its debt in the deletes dir, then the writer
    // died before the fused commit. Fabricate exactly that state — a
    // tombstone addressing LIVE rows of a generation-0 file, never
    // named by any marker — and require it invisible
    val victim = new java.io.File(path).listFiles().map(_.getName)
      .filter(n => n.startsWith("gen0-") && n.endsWith(".parquet")).min
    val orphan = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(victim, 0L, 99L),
        org.apache.spark.sql.Row(victim, 1L, 99L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__file",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__pos",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__gen",
          org.apache.spark.sql.types.LongType))))
    orphan.coalesce(1).write.mode("overwrite")
      .parquet(s"${path}_orphanstage")
    val part = new java.io.File(s"${path}_orphanstage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(Lakehouse.deletesDir(path)))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(
      Lakehouse.deletesDir(path), "del99-0.parquet"))
    assert(Lakehouse.scan(spark, path).count() == 400L,
      "an uncommitted (crash-orphaned) tombstone must be invisible " +
        "to commit-resolved readers")
    val c0 = Lakehouse.readCommit(spark, path).get
    // the crashed micro-batch replays: replace keys 0..49 — the
    // retraction half and the append half must land as ONE commit
    // (version +1, both action kinds in the same resolved state)
    Lakehouse.upsertBatch(spark, path, mk(0L, 50L), "id", Seq("x", "y"),
      bits = 6, partitions = 1,
      gen = Lakehouse.currentGen(spark, path) + 1)
    val c1 = Lakehouse.readCommit(spark, path).get
    assert(c1.version == c0.version + 1,
      s"upsert must advance the commit by exactly ONE version " +
        s"(fused marker), got ${c0.version} -> ${c1.version}")
    assert(c1.deletes.nonEmpty && c1.deletes.forall(_.startsWith("del")) &&
      !c1.deletes.contains("del99-0.parquet"))
    assert((c1.data.toSet -- c0.data.toSet).nonEmpty &&
      (c1.data.toSet -- c0.data.toSet).forall(_.startsWith("gen")))
    assert(Lakehouse.scan(spark, path).count() == 400L)
    val liveIds = Lakehouse.scan(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(liveIds == (0L until 400L).toSet)
    // a further REPLAY of the same micro-batch converges to the same
    // content (the orphan never contaminates it)
    Lakehouse.upsertBatch(spark, path, mk(0L, 50L), "id", Seq("x", "y"),
      bits = 6, partitions = 1, gen = Lakehouse.currentGen(spark, path))
    assert(Lakehouse.scan(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet == liveIds)
    // and the orphan ages into vacuum's ordinary sweep
    val swept = Lakehouse.vacuum(spark, path, graceMs = 0L)
    assert(swept.exists(_.endsWith("del99-0.parquet")),
      swept.mkString(","))
    assert(Lakehouse.scan(spark, path).count() == 400L)
  }

  test("every mutator commits through the log: after any mutation of " +
      "a plain folder readCommit is Some, and an empty path gets its " +
      "log at its first write") {
    val cols = Seq("x", "y")
    val feed = mk(0L, 20L).withColumn("__op", lit("insert"))
    val wider = mk(0L, 1L).withColumn("lang", lit("en")).schema
    // (mutator, live rows after it, starting from a 200-row plain folder)
    val mutators: Seq[(String, String => Any, Long)] = Seq(
      ("append", p => Lakehouse.append(spark, p, mk(200L, 220L), cols,
        bits = 6, partitions = 1), 220L),
      ("appendAt", p => Lakehouse.appendAt(spark, p, mk(200L, 220L),
        cols, gen = 0L, bits = 6, partitions = 1), 220L),
      ("Layout.appendZordered", p => Layout.appendZordered(spark, p,
        mk(200L, 220L), cols, bits = 6, partitions = 1), 220L),
      ("Layout.appendGeneration", p => Layout.appendGeneration(spark, p,
        mk(200L, 220L), cols, bits = 6, partitions = 1, gen = 0L), 220L),
      ("deleteWhere", p => Lakehouse.deleteWhere(spark, p,
        col("id") < 10L), 190L),
      ("deleteMatching", p => Lakehouse.deleteMatching(spark, p,
        spark.range(0L, 5L).toDF("id"), "id"), 195L),
      ("upsertByKey", p => Lakehouse.upsertByKey(spark, p, mk(0L, 20L),
        "id", cols, bits = 6, partitions = 1), 200L),
      ("upsertBatch", p => Lakehouse.upsertBatch(spark, p, mk(0L, 20L),
        "id", cols, 6, 1, gen = 0L), 200L),
      ("applyChangesByKey", p => Lakehouse.applyChangesByKey(spark, p,
        feed, "id", cols, bits = 6, partitions = 1), 200L),
      ("applyBatch", p => Lakehouse.applyBatch(spark, p, feed, "id", cols,
        6, 1, gen = 0L), 200L),
      ("rollback", p => Lakehouse.rollback(spark, p, -1L), 200L),
      ("compact", p => Lakehouse.compact(spark, p, cols, bits = 6,
        partitions = 1), 200L),
      ("compactRetaining", p => Lakehouse.compactRetaining(spark, p, cols,
        retainAfter = 0L, bits = 6, partitions = 1), 200L),
      ("evolveSchema", p => Lakehouse.evolveSchema(spark, p, wider),
        200L))
    mutators.foreach { case (name, mutate, rows) =>
      val path = tmp(s"lake-ptr-every-$name")
      Layout.zorder(mk(0L, 200L), cols, bits = 6, partitions = 2)
        .write.parquet(path)
      assert(Lakehouse.readCommit(spark, path).isEmpty, name)
      mutate(path)
      assert(Lakehouse.readCommit(spark, path).isDefined,
        s"$name left the table without a log")
      assert(Lakehouse.scan(spark, path).count() == rows, name)
    }
    val empty = tmp("lake-ptr-every-empty")
    Layout.appendGeneration(spark, empty, mk(0L, 50L), cols, bits = 6,
      partitions = 1, gen = 0L)
    val c = Lakehouse.readCommit(spark, empty).get
    assert(c.version == 2L && c.data.nonEmpty && c.schemaJson.isDefined,
      "v1 is the empty path's log, v2 the first append")
    assert(Lakehouse.scan(spark, empty).count() == 50L)
  }
}

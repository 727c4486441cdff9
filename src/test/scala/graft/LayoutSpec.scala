package graft

import org.apache.spark.sql.functions._

/** Z-order lake layout: Morton key arithmetic, content invariance, and
  * the actual pruning property — fewer files intersect a
  * multi-dimensional predicate box than under a single-column sort. */
class LayoutSpec extends SparkSpec {

  test("interleaveBits: hand vector, null propagation, geometry guards") {
    import spark.implicits._
    val g = graft.expressions.GraftExpressions
    // q0 = 0b10, q1 = 0b01, 2 bits → MSB round-robin: (1,0),(0,1) = 0b1001
    val df = Seq((2L, 1L)).toDF("a", "b")
    assert(df.select(g.interleaveBits(Seq(col("a"), col("b")), 2))
      .as[Long].head() == 9L)
    // identity: one column, its own bits
    assert(df.select(g.interleaveBits(Seq(col("a")), 2))
      .as[Long].head() == 2L)
    // null propagates
    val withNull = Seq((Some(2L), Option.empty[Long])).toDF("a", "b")
    assert(withNull.select(g.interleaveBits(Seq(col("a"), col("b")), 2))
      .as[Option[Long]].head().isEmpty)
    // geometry guards: k·bits over 63, empty column list
    intercept[IllegalArgumentException] {
      g.interleaveBits(Seq(col("a"), col("b")), 32)
    }
    intercept[IllegalArgumentException] {
      g.interleaveBits(Seq.empty, 8)
    }
  }

  test("zValue: min-max cells, nulls and constant columns to cell 0, " +
      "monotone in each dimension") {
    import spark.implicits._
    val df = Seq((0.0, 10L), (50.0, 20L), (100.0, 30L))
      .toDF("x", "y")
    val z = graft.core.Layout.zValue(df, Seq("x", "y"), bits = 2)
      .select("x", "__z").as[(Double, Long)].collect().toMap
    // x: domain [0,100] → cells 0, 2, 3 (max clamps into the top cell);
    // y: domain [10,30] → cells 0, 2, 3; interleaved pairwise
    assert(z(0.0) == 0L && z(100.0) == 15L, z.toString)
    // a null measure lands in cell 0, not dropped, not null
    val withNull = Seq((Some(1.0), 1L), (None, 2L)).toDF("x", "y")
    val zs = graft.core.Layout.zValue(withNull, Seq("x", "y"), bits = 2)
      .select("__z").as[Long].collect()
    assert(zs.length == 2 && zs.forall(_ >= 0L))
    // constant column: degenerate domain → cell 0 for every row
    val const = Seq((7.0, 1L), (7.0, 2L)).toDF("x", "y")
    assert(graft.core.Layout.zValue(const, Seq("x"), bits = 4)
      .select("__z").as[Long].collect().forall(_ == 0L))
  }

  test("zorder: content invariant, and a 2-D box intersects strictly " +
      "fewer files than under a single-column sort") {
    import spark.implicits._
    // 200×200 uniform grid — the layout's home turf
    val grid = spark.range(40000).select(
      (col("id") % 200).cast("double").as("x"),
      (col("id") / 200).cast("double").as("y"))
    // content invariance: the layout moves rows, never changes them
    val zed = graft.core.Layout.zorder(grid, Seq("x", "y"), bits = 8,
      partitions = 64)
    assert(zed.exceptAll(grid).isEmpty && grid.exceptAll(zed).isEmpty,
      "zorder changed the data")
    assert(zed.columns.toSeq == Seq("x", "y"), "key column leaked")

    // write both layouts, read per-file bounding boxes
    def filesIntersecting(df: org.apache.spark.sql.DataFrame): Long = {
      val dir = java.nio.file.Files.createTempDirectory("graft-layout")
        .toString + "/t"
      df.write.parquet(dir)
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("x").as("mnx"), max("x").as("mxx"),
          min("y").as("mny"), max("y").as("mxy"))
        // the 2-D predicate box: 20×20 of a 200×200 domain (1% mass)
        .filter(col("mnx") <= 60 && col("mxx") >= 40 &&
          col("mny") <= 60 && col("mxy") >= 40)
        .count()
    }
    // both layouts come from range exchanges, whose bounds are drawn
    // from a sample seeded by the RDD id, so they move from run to run
    // and the two counts could tie. A sample size per partition of the
    // row count makes each exchange sample every row: exact equal-count
    // bounds, the same in every run.
    val sampleKey = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val sampleWas = spark.conf.getOption(sampleKey)
    spark.conf.set(sampleKey, 40000L)
    val (zFiles, linearFiles) =
      try (filesIntersecting(graft.core.Layout.zorder(grid, Seq("x", "y"),
          bits = 8, partitions = 64)),
        filesIntersecting(
          grid.repartitionByRange(64, col("x")).sortWithinPartitions("x")))
      finally sampleWas.fold(spark.conf.unset(sampleKey))(
        spark.conf.set(sampleKey, _))
    assert(zFiles < linearFiles,
      s"z-order pruning no better than linear: $zFiles vs $linearFiles " +
        "files intersect the box")
    // and the absolute number is small: the box covers ~1% of the
    // space, so far fewer than half the 64 files may intersect
    assert(zFiles <= 16, s"z-order boxes too loose: $zFiles of 64")
  }

  test("manifest + prunedScan: skips most files on a z-ordered layout, " +
      "equals the full scan exactly, survives all-null and empty-box " +
      "edges") {
    import spark.implicits._
    val grid = spark.range(40000).select(
      (col("id") % 200).cast("double").as("x"),
      (col("id") / 200).cast("double").as("y"),
      col("id").as("payload"))
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest")
      .toString + "/t"
    graft.core.Layout.zorder(grid, Seq("x", "y"), bits = 8,
      partitions = 64).write.parquet(dir)
    val mPath = graft.core.Layout.writeManifest(spark, dir, Seq("x", "y"))
    val manifest = spark.read.parquet(mPath)
    assert(manifest.count() == 64 &&
      manifest.agg(sum("__rows")).as[Long].head() == 40000)
    // the box: 20×20 of 200×200 (1% mass) — pruning earns > 3/4 skipped
    val box = Seq(("x", lit(40.0), lit(60.0)), ("y", lit(40.0), lit(60.0)))
    val kept = graft.core.Layout.pruneFiles(manifest, box).count()
    assert(kept < 16, s"pruned scan kept $kept of 64 files")
    // exactness: pruned ≡ full-scan filter, bit-for-bit
    val pruned = graft.core.Layout.prunedScan(spark, dir, box)
    val full = spark.read.parquet(dir)
      .filter(col("x").between(40.0, 60.0) && col("y").between(40.0, 60.0))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
      "pruned scan diverged from the full scan")
    // y = id/200 is FRACTIONAL, so y ∈ [40,60] spans ids [8000,12000]:
    // 20 full x-centuries × 21 in-box x values (id 12000 has x = 0)
    assert(pruned.count() == 20L * 21L, "box row count wrong")
    // a box nothing satisfies → empty frame, full schema, no crash
    val none = graft.core.Layout.prunedScan(spark, dir,
      Seq(("x", lit(1e9), lit(2e9))))
    assert(none.count() == 0 && none.columns.toSeq ==
      Seq("x", "y", "payload"))
    // an all-null stats column prunes soundly: BETWEEN never matches
    // nulls, so the all-null file is skippable, and the scan result
    // (empty) still equals the full-scan filter
    val withNull = Seq((Option.empty[Double], 1L), (None, 2L))
      .toDF("x", "payload")
    val nDir = java.nio.file.Files.createTempDirectory("graft-mnull")
      .toString + "/t"
    withNull.coalesce(1).write.parquet(nDir)
    graft.core.Layout.writeManifest(spark, nDir, Seq("x"))
    val nScan = graft.core.Layout.prunedScan(spark, nDir,
      Seq(("x", lit(0.0), lit(10.0))))
    assert(nScan.count() == 0)
  }

  test("layoutHealth + appendZordered + maintainLayout: appends degrade " +
      "the measured point cost by ~1 per generation, the loop rebuilds " +
      "past the threshold, content survives everything") {
    import spark.implicits._
    val L = graft.core.Layout
    // independent 100×100 grid per generation (x and y must not be
    // functions of each other, or the "space" is a 1-D curve and the
    // tiling argument is void); seeds rotate y and disjoint payloads
    def grid(seed: Long) = spark.range(10000).select(
      (col("id") % 100).cast("double").as("x"),
      ((col("id") / 100 + seed) % 100).cast("double").as("y"),
      (col("id") + seed * 100000).as("payload"))
    val dir = java.nio.file.Files.createTempDirectory("graft-maint")
      .toString + "/t"
    L.zorder(grid(0), Seq("x", "y"), bits = 8, partitions = 16)
      .write.parquet(dir)
    L.writeManifest(spark, dir, Seq("x", "y"))
    val h0 = L.layoutHealth(spark.read.parquet(s"${dir}_manifest"),
      Seq("x", "y"))
    // a fresh layout costs a small constant (equal-frequency curve
    // slices aren't quad-aligned, so boxes overlap modestly — ~1.3-2.1
    // here, never near the file count; the exact value wobbles with
    // repartitionByRange's sampled boundaries, which depend on the
    // session's RDD-id sequence, i.e. on which suites ran before)
    assert(h0.files == 16 && h0.pointCost < 2.25,
      s"fresh layout unhealthy: $h0")
    // one append: a second generation of files tiles the space again —
    // the manifest-read cost adds ≈ one fresh-layout cost without
    // touching the data
    L.appendZordered(spark, dir, grid(1), Seq("x", "y"), bits = 8,
      partitions = 16)
    val h1 = L.layoutHealth(spark.read.parquet(s"${dir}_manifest"),
      Seq("x", "y"))
    assert(h1.files == 32 && h1.pointCost > h0.pointCost + 0.6 &&
      h1.pointCost < 2.2 * h0.pointCost + 0.2,
      s"appended health off: $h1 vs fresh $h0")
    // pruned scans stay EXACT against the appended union
    val box = Seq(("x", lit(10.0), lit(30.0)), ("y", lit(10.0), lit(30.0)))
    val full = spark.read.parquet(dir).filter(
      col("x").between(10.0, 30.0) && col("y").between(10.0, 30.0))
    val pruned = L.prunedScan(spark, dir, box)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // below threshold: no rebuild, third generation lands
    assert(!L.maintainLayout(spark, dir, grid(2), Seq("x", "y"),
      bits = 8, partitions = 16, maxPointCost = 10.0))
    // past threshold (set just above one generation's cost): the loop
    // rewrites the whole table and health returns to one generation
    assert(L.maintainLayout(spark, dir, grid(3), Seq("x", "y"),
      bits = 8, partitions = 16, maxPointCost = h0.pointCost + 0.5))
    // the rebuild is a pointer-commit compact: replaced files await
    // the grace vacuum — sweep so the raw-dir reads below see only
    // the committed live set
    graft.core.Lakehouse.vacuum(spark, dir, 0L)
    val h2 = L.layoutHealth(spark.read.parquet(s"${dir}_manifest"),
      Seq("x", "y"))
    assert(h2.files == 16 && h2.pointCost < h0.pointCost + 0.5,
      s"rebuilt layout unhealthy: $h2 vs fresh $h0")
    // all four generations' content survived the rebuild
    assert(spark.read.parquet(dir).count() == 40000)
    val expect = grid(0).unionByName(grid(1)).unionByName(grid(2))
      .unionByName(grid(3))
    assert(spark.read.parquet(dir).exceptAll(expect).isEmpty &&
      expect.exceptAll(spark.read.parquet(dir)).isEmpty,
      "rebuild lost or changed rows")
  }

  test("appendGeneration is replay-idempotent; appendZorderedStream " +
      "drains micro-batches into exactly-once generations") {
    import org.apache.spark.sql.functions._
    val L = graft.core.Layout
    val base = spark.range(2000).select(
      (col("id") % 50).cast("double").as("x"),
      (col("id") / 50).cast("double").as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft-lstream")
      .toString + "/t"
    L.zorder(base, Seq("x", "y"), bits = 6, partitions = 4)
      .write.parquet(dir)
    L.writeManifest(spark, dir, Seq("x", "y"))
    // the at-least-once case: the SAME generation applied twice lands
    // once — its live files and manifest slice are replaced, never
    // duplicated (reads go through the commit: the replaced attempt's
    // files wait on disk for vacuum)
    def live = graft.core.Lakehouse.scan(spark, dir)
    val gen = spark.range(2000, 3000).select(
      (col("id") % 50).cast("double").as("x"),
      (col("id") / 50).cast("double").as("y"))
    L.appendGeneration(spark, dir, gen, Seq("x", "y"), bits = 6,
      partitions = 2, gen = 7L)
    val afterOnce = live.count()
    val manOnce = spark.read.parquet(s"${dir}_manifest").count()
    L.appendGeneration(spark, dir, gen, Seq("x", "y"), bits = 6,
      partitions = 2, gen = 7L) // the replay
    assert(live.count() == afterOnce &&
      spark.read.parquet(s"${dir}_manifest").count() == manOnce,
      "replayed generation duplicated rows or manifest entries")
    assert(afterOnce == 3000)
    // streamed ingestion: two arrival files drain as two generations,
    // pruned scans stay exact against the full union
    val srcDir = java.nio.file.Files.createTempDirectory("graft-lsrc")
    Seq(3000, 4000).foreach { start =>
      spark.range(start, start + 1000).select(
          (col("id") % 50).cast("double").as("x"),
          (col("id") / 50).cast("double").as("y"))
        .coalesce(1).write.parquet(s"$srcDir/arrival$start")
    }
    val arrivals = spark.readStream
      .schema(base.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/arrival*")
    L.appendZorderedStream(arrivals, dir, Seq("x", "y"), bits = 6,
      partitions = 2)
    assert(live.count() == 5000,
      "streamed generations missing rows")
    val box = Seq(("x", lit(5.0), lit(25.0)), ("y", lit(10.0), lit(60.0)))
    val pruned = L.prunedScan(spark, dir, box)
    val full = live.filter(
      col("x").between(5.0, 25.0) && col("y").between(10.0, 60.0))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
      "pruned scan diverged after streamed appends")
    // these generations occupy DISJOINT y bands (arriving data is
    // time-ordered), so they tile NEW domain instead of re-tiling old
    // space — and the health metric correctly stays near one
    // generation: banded appends don't degrade pruning, which is why
    // the maintenance loop measures instead of rebuilding on a
    // schedule (the OVERLAPPING-append degradation is pinned in the
    // maintainLayout test above)
    val h = L.layoutHealth(spark.read.parquet(s"${dir}_manifest"),
      Seq("x", "y"))
    assert(h.files == 10 && h.pointCost < 2.0,
      s"banded appends should stay healthy: $h")
  }

  test("zorderByQuantile: a heavy-tailed domain prunes strictly fewer " +
      "files than equal-width; content is invariant") {
    import org.apache.spark.sql.functions._
    val L = graft.core.Layout
    // both columns heavy-tailed (x⁸ over a 100-value grid): under
    // equal-width quantization ~59% of each column's rows collapse
    // into cell 0, so the files of the dense corner all span it and a
    // dense-region box keeps them all; equal-frequency cells hold
    // equal MASS, so the same box touches ~its own mass in files
    val df = spark.range(10000).select(
      col("id"),
      pow(col("id") % 100, 8.0).as("a"),
      pow((col("id") / 100) % 100, 8.0).as("b"))
    val work = java.nio.file.Files.createTempDirectory("graft-zq")
    val eqw = s"$work/eqw"
    val eqf = s"$work/eqf"
    L.zorder(df, Seq("a", "b"), bits = 6, partitions = 16)
      .write.parquet(eqw)
    L.writeManifest(spark, eqw, Seq("a", "b"))
    L.zorderByQuantile(df, Seq("a", "b"), bits = 6, partitions = 16)
      .write.parquet(eqf)
    L.writeManifest(spark, eqf, Seq("a", "b"))
    // the dense-region box: values ≤ 21⁸ ≈ the first 21% of MASS per
    // dimension but only ~0.004% of the VALUE domain
    val hi = math.pow(21.0, 8.0)
    val box = Seq(("a", lit(0.0), lit(hi)), ("b", lit(0.0), lit(hi)))
    val keptEqw = L.pruneFiles(
      spark.read.parquet(s"${eqw}_manifest"), box).count()
    val keptEqf = L.pruneFiles(
      spark.read.parquet(s"${eqf}_manifest"), box).count()
    assert(keptEqf < keptEqw,
      s"equal-frequency must out-prune equal-width on a heavy tail: " +
        s"eqf kept $keptEqf vs eqw $keptEqw of 16")
    // the layout changes placement, never content
    val got = L.prunedScan(spark, eqf, box)
    val want = df.filter(col("a") <= hi && col("b") <= hi)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(spark.read.parquet(eqf).count() == 10000)
    // all-null and constant columns still get a total order (cell 0)
    val weird = spark.range(100).select(col("id"),
      lit(null).cast("double").as("a"), lit(7.0).as("b"))
    assert(L.zValueByQuantile(weird, Seq("a", "b"), bits = 6)
      .select("__z").distinct().count() >= 1L)
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core.{Config, Diff, DocumentsStore, Rebuild, Stats}

class CoreSpec extends SparkSpec {
  import spark.implicits._

  private def docRows(rows: (String, String, Long)*) =
    rows.toSeq.map { case (k, h, sz) =>
      (k, h, sz, "text/plain",
        Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.valueOf("2024-01-02 03:04:05.123456"))
    }.toDF("key", "content_hash", "size", "mimetype", "created_at", "updated_at")

  test("documents CSV round-trip preserves schema and microsecond timestamps") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val df = docRows("a.txt" -> ("h1", 1L) match { case (k, (h, s)) => (k, h, s) },
      ("b/c.txt", "h2", 2L))
    DocumentsStore.writeSnapshot(df, dir, "2024-01-02T00:00:00")
    val back = DocumentsStore.readCsv(spark, s"$dir/versions/2024-01-02T00:00:00")
    // CSV readers report all columns nullable; compare names + types
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == graft.core.Model.documentsSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // parquet system of record too
    val pq = DocumentsStore.readParquet(spark, s"$dir/documents.parquet")
    assert(pq.exceptAll(df).isEmpty)
  }

  test("missing documents table reads as an empty frame with schema (S2)") {
    val df = DocumentsStore.readCsv(spark, "/tmp/graft-definitely-missing.csv")
    assert(df.isEmpty && df.schema == graft.core.Model.documentsSchema)
  }

  test("versions are listed sorted; diffs excluded; current = max (A5/O2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vers").toString
    val df = docRows(("a", "h", 1L))
    DocumentsStore.writeSnapshot(df, dir, "2024-01-01T00:00:00")
    DocumentsStore.writeSnapshot(df, dir, "2024-02-01T00:00:00")
    DocumentsStore.writeDiff(
      Diff.toDiffLines(Diff.snapshotDiff(df.limit(0), df)),
      dir, "2024-02-01T00:00:00")
    assert(DocumentsStore.versions(spark, dir)
      == Seq("2024-01-01T00:00:00", "2024-02-01T00:00:00"))
    assert(DocumentsStore.currentVersion(spark, dir).contains("2024-02-01T00:00:00"))
  }

  test("datasetIndex aggregates entity_count/size/schemata (index.json shape)") {
    val df = docRows(("a.pdf", "h1", 10L), ("b.pdf", "h2", 20L), ("c.txt", "h3", 5L))
      .withColumn("mimetype",
        when($"key".endsWith(".pdf"), "application/pdf").otherwise("text/plain"))
    val row = Stats.datasetIndex(df).collect()(0)
    assert(row.getLong(0) == 3L)
    assert(row.getLong(1) == 35L)
    assert(row.getMap[String, Long](2).toMap == Map("Pages" -> 2L, "PlainText" -> 1L))
  }

  test("writeIndexJson emits the RFC index shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    val df = docRows(("a.pdf", "h1", 10L))
      .withColumn("mimetype", lit("application/pdf"))
    Stats.writeIndexJson(df, "test_dataset", s"$dir/index.json")
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/index.json"))
    assert(json.contains(""""name":"test_dataset""""))
    assert(json.contains(""""entity_count":1"""))
    assert(json.contains(""""total_file_size":10"""))
    assert(json.contains(""""schemata":[{"name":"Pages","count":1}]"""))
  }

  test("catalog rollup aggregates per dataset (A7)") {
    val df = docRows(("a", "h1", 10L), ("b", "h2", 20L))
      .withColumn("dataset", when($"key" === "a", "ds1").otherwise("ds2"))
    val cat = Stats.catalog(df)
    assert(cat.select("dataset").as[String].collect().toSeq == Seq("ds1", "ds2"))
    assert(cat.filter($"dataset" === "ds1").select("total_file_size")
      .as[Long].head() == 10L)
  }

  test("tableProfile: per-column card on hand-built mixed types") {
    val df = Seq(
      (1L, Some("b"), Some(2.5), Seq(1, 2)),
      (2L, None, Some(0.5), Seq.empty[Int]),
      (3L, Some("a"), None, Seq(3))
    ).toDF("id", "s", "x", "arr")
    val p = Stats.tableProfile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p.keySet == Set("id", "s", "x", "arr"))
    val id = p("id")
    assert(id.getLong(1) == 3L && id.getLong(2) == 0L &&
      id.getLong(3) == 3L && id.getDouble(4) == 1.0 &&
      id.getDouble(5) == 3.0 && id.isNullAt(6) && id.isNullAt(7))
    val s = p("s")
    assert(s.getLong(2) == 1L && s.getLong(3) == 2L &&
      s.isNullAt(4) && s.getString(6) == "a" && s.getString(7) == "b")
    val x = p("x")
    assert(x.getLong(2) == 1L && x.getDouble(4) == 0.5 &&
      x.getDouble(5) == 2.5)
    // non-atomic: null counts only, no distinct/ordering claims
    val arr = p("arr")
    assert(arr.getLong(2) == 0L && arr.isNullAt(3) && arr.isNullAt(4) &&
      arr.isNullAt(6))
    // dotted column names must profile, not parse as struct access
    val dotted = Seq((1L, "v")).toDF("user.id", "plain")
    val dp = Stats.tableProfile(dotted).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(dp == Map("user.id" -> 1L, "plain" -> 1L))
    // scale mode: approx distinct within the default 5% rsd of exact
    val docs = Tables.load(spark, sf0, "documents")
    val exact = Stats.tableProfile(docs.select("doc_id"))
      .head().getLong(3)
    val approx = Stats.tableProfile(docs.select("doc_id"),
      approxDistinct = true).head().getLong(3)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx $approx vs exact $exact")
  }

  test("config.yml parsing: flat keys, nested sections, legacy leakrfc name") {
    val yml =
      """name: test_dataset          # foreign_id
        |title: Test_Dataset
        |prefix: test-dataset
        |content_type: structured
        |leakrfc:
        |  metadata_prefix: .leakrfc
        |  checksum_algorithm: sha1
        |  public_url: https://example.org/test_dataset/
        |storage:
        |  uri: "s3://bucket/path"
        |""".stripMargin
    val cfg = Config.datasetConfig(yml)
    assert(cfg.name == "test_dataset")
    assert(cfg.title.contains("Test_Dataset"))
    assert(cfg.metadataPrefix == ".leakrfc")
    assert(cfg.checksumAlgorithm == "sha1")
    assert(cfg.publicUrl.contains("https://example.org/test_dataset/"))
    assert(cfg.storageUri.contains("s3://bucket/path"))
  }

  test("reference fixture documents.csv parses with the documents schema") {
    // the golden CSV written by the reference round-trips through our codec
    val metaDir = Fixtures.referencePath("archive/test_dataset/.leakrfc")
    Fixtures.assumePresent(s"$metaDir/documents.csv", s"$metaDir/size")
    val df = DocumentsStore.readCsv(spark, s"$metaDir/documents.csv")
    assert(df.count() > 60)
    assert(df.filter($"key".isNull || $"content_hash".isNull || $"size".isNull).isEmpty)
    // microsecond timestamps survive ("2024-09-29 22:52:24.613038")
    val ts = df.select(max(date_format($"updated_at", "yyyy-MM-dd HH:mm:ss.SSSSSS")))
      .as[String].head()
    assert(ts.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6}"""))
    // keys unique per rebuild invariant; sizes positive
    assert(df.select("key").distinct().count() == df.count())
    // golden total size from the sidecar `size` file
    val want = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$metaDir/size")).trim.toLong
    assert(df.agg(sum("size")).as[Long].head() == want)
  }

  test("config.yml of the reference fixture parses (read in place)") {
    val path = Fixtures.referencePath("archive/test_dataset/.leakrfc/config.yml")
    Fixtures.assumePresent(path)
    val cfg = Config.loadDatasetConfig(path)
    assert(cfg.name == "test_dataset")
  }

  test("robustOutliers: inclusive discrete median/MAD hand vector, " +
      "null exclusion, repartition determinism, loud k") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // values 1,2,3,4,100 → inclusive median = 3 (2·cum ≥ 5 at v=3);
    // deviations 2,1,0,1,97 → sorted 0,1,1,2,97 → MAD = 1;
    // k=3 ⇒ only |100−3| = 97 > 3 flags
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "a", 4.0), (5L, "a", 100.0),
      (6L, "b", 7.0), (7L, "b", Double.NaN)) // NaN is a value, not null
      .toDF("id", "key", "v")
      .withColumn("v", when(col("id") === 7L, lit(null)).otherwise(col("v")))
    for (parts <- Seq(1, 5)) {
      val out = graft.core.Stats.robustOutliers(
          df.repartition(parts), "key", "v", k = 3.0)
        .select("id", "med", "mad", "is_outlier")
        .as[(Long, Double, Double, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L),
        s"null v must drop: $out")
      assert(out(1L) == ((3.0, 1.0, false)), out(1L).toString)
      assert(out(5L) == ((3.0, 1.0, true)), out(5L).toString)
      // singleton group: med = the value, mad = 0, never flagged
      assert(out(6L) == ((7.0, 0.0, false)), out(6L).toString)
    }
    intercept[IllegalArgumentException] {
      graft.core.Stats.robustOutliers(df, "key", "v", k = 0.0)
    }
  }

  test("robustStats/robustOutliersAgainst: parquet-reloaded stats serve " +
      "identically; unseen groups drop by contract") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "a", 4.0), (5L, "a", 100.0), (6L, "b", 7.0))
      .toDF("id", "key", "v")
    val inline = graft.core.Stats.robustOutliers(df, "key", "v", k = 3.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-rs")
      .toString + "/stats"
    graft.core.Stats.robustStats(df, "key", "v").write.parquet(dir)
    val served = graft.core.Stats.robustOutliersAgainst(df,
      spark.read.parquet(dir), "key", "v", k = 3.0)
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty, "served flags diverge")
    // a batch with a group absent from the stats: no baseline → dropped
    val newBatch = Seq((7L, "a", 50.0), (8L, "zzz", 1.0)).toDF("id", "key", "v")
    val flags = graft.core.Stats.robustOutliersAgainst(newBatch,
        spark.read.parquet(dir), "key", "v", k = 3.0)
      .select("id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(flags == Map(7L -> true), s"unseen-group contract broken: $flags")
  }

  test("rankNormalize: inclusive empirical CDF per group, ties share, " +
      "nulls excluded, global mode") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 20.0),
      (4L, "a", 30.0), (5L, "b", 5.0), (6L, "b", Double.NaN))
      .toDF("id", "key", "v")
      .withColumn("v", when(col("id") === 6L, lit(null)).otherwise(col("v")))
    val out = graft.core.Stats.rankNormalize(df, "v", "key")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L), s"null kept: $out")
    assert(out(1L) == 0.25 && out(2L) == 0.75 && out(3L) == 0.75 &&
      out(4L) == 1.0, out.toString)
    assert(out(5L) == 1.0, out.toString) // singleton group
    // global mode (no key): 5 non-null values across both groups
    val g = graft.core.Stats.rankNormalize(df, "v")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    assert(g(5L) == 0.2 && g(4L) == 1.0 && g(2L) == 0.8, g.toString)
  }

  test("rankStats/rankNormalizeAgainst: parquet-reloaded CDF serves " +
      "identically; out-of-domain values drop by contract") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 20.0),
      (4L, "a", 30.0), (5L, "b", 5.0)).toDF("id", "key", "v")
    val inline = graft.core.Stats.rankNormalize(df, "v", "key")
    val dir = java.nio.file.Files.createTempDirectory("graft-rn")
      .toString + "/cdf"
    graft.core.Stats.rankStats(df, "v", "key").write.parquet(dir)
    val served = graft.core.Stats.rankNormalizeAgainst(df,
      spark.read.parquet(dir), "v", "key")
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty, "served CDF diverged from inline")
    // a batch with values/keys outside the reference domain: an exact
    // empirical rank is undefined there → dropped (inner join); known
    // (key, value) pairs keep the REFERENCE pct, not a recomputed one
    val batch = Seq((7L, "a", 20.0), (8L, "a", 999.0), (9L, "zzz", 1.0))
      .toDF("id", "key", "v")
    val pcts = graft.core.Stats.rankNormalizeAgainst(batch,
        spark.read.parquet(dir), "v", "key")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    assert(pcts == Map(7L -> 0.75), s"out-of-domain contract broken: $pcts")
    // global (keyless) mode serves through the same split
    val gdir = java.nio.file.Files.createTempDirectory("graft-rn")
      .toString + "/cdf_g"
    graft.core.Stats.rankStats(df, "v").write.parquet(gdir)
    val g = graft.core.Stats.rankNormalizeAgainst(df,
        spark.read.parquet(gdir), "v")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    assert(g(5L) == 0.2 && g(4L) == 1.0, g.toString)
  }

  test("rankNormalizeAgainst keepUnmatched: out-of-domain rows surface " +
      "with NULL pct instead of silently shrinking the batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ref = Seq((1L, "a", 10.0), (2L, "a", 20.0)).toDF("id", "key", "v")
    val stats = graft.core.Stats.rankStats(ref, "v", "key")
    val batch = Seq((7L, "a", 20.0), (8L, "a", 999.0), (9L, "zzz", 1.0))
      .toDF("id", "key", "v")
    val out = graft.core.Stats.rankNormalizeAgainst(batch, stats, "v",
        "key", keepUnmatched = true)
      .select("id", "pct").as[(Long, Option[Double])].collect().toMap
    assert(out.keySet == Set(7L, 8L, 9L), s"rows dropped: $out")
    assert(out(7L).contains(1.0) && out(8L).isEmpty && out(9L).isEmpty,
      out.toString)
    // the observable retraining signal: 2 of 3 rows out of domain
    val served = graft.core.Stats.rankNormalizeAgainst(batch, stats,
      "v", "key", keepUnmatched = true)
    val (n, matched) = served.agg(count(lit(1)), count(col("pct")))
      .as[(Long, Long)].head()
    assert(n == 3 && matched == 1, s"drop counter wrong: $n/$matched")
  }

  test("rankStatsApprox/rankNormalizeSketch: exact-regime parity with " +
      "the exact CDF, defined ranks for out-of-domain probes, " +
      "parquet round-trip, groupless rows drop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ref = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 20.0),
      (4L, "a", 30.0), (5L, "b", 5.0)).toDF("id", "key", "v")
    val stats = graft.core.Stats.rankStatsApprox(ref, "v", "key", k = 64)
    // exact-regime parity: serving the reference itself equals the
    // exact inclusive CDF bit-for-bit
    val inline = graft.core.Stats.rankNormalize(ref, "v", "key")
    val sketchServed = graft.core.Stats.rankNormalizeSketch(ref, stats,
      "v", "key")
    assert(sketchServed.exceptAll(inline).isEmpty &&
      inline.exceptAll(sketchServed).isEmpty,
      "sketch serve diverged from the exact CDF in the exact regime")
    // out-of-domain probes get DEFINED ranks: between-values probes
    // read the inclusive CDF, below-domain 0, above-domain 1; a
    // groupless row still drops (no baseline exists at all)
    val batch = Seq((7L, "a", 25.0), (8L, "a", -1.0), (9L, "a", 999.0),
      (10L, "zzz", 1.0)).toDF("id", "key", "v")
    val pcts = graft.core.Stats.rankNormalizeSketch(batch, stats, "v",
        "key")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    assert(pcts == Map(7L -> 0.75, 8L -> 0.0, 9L -> 1.0),
      s"probe ranks wrong: $pcts")
    // persisted state serves identically (binary column round-trips)
    val dir = java.nio.file.Files.createTempDirectory("graft-rns")
      .toString + "/sketch"
    stats.write.parquet(dir)
    val fromDisk = graft.core.Stats.rankNormalizeSketch(batch,
        spark.read.parquet(dir), "v", "key")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    assert(fromDisk == pcts, s"parquet-reloaded sketch diverged: $fromDisk")
    // keyless (global) mode
    val g = graft.core.Stats.rankNormalizeSketch(ref,
        graft.core.Stats.rankStatsApprox(ref, "v", k = 64), "v")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    assert(g(5L) == 0.2 && g(4L) == 1.0, g.toString)
    // the day-N increment: folding a second disjoint slice into the
    // persisted state ≡ one-shot build over the union (exact regime) —
    // including a group ("c") the original baseline never saw
    val batch2 = Seq((10L, "a", 40.0), (11L, "c", 7.0))
      .toDF("id", "key", "v")
    val extended = graft.core.Stats.extendRankStats(stats, batch2, "v",
      "key", k = 64)
    val oneShot = graft.core.Stats.rankStatsApprox(
      ref.unionByName(batch2), "v", "key", k = 64)
    val probeAll = Seq((20L, "a", 25.0), (21L, "c", 7.0), (22L, "b", 9.0))
      .toDF("id", "key", "v")
    val viaExtend = graft.core.Stats.rankNormalizeSketch(probeAll,
        extended, "v", "key")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    val viaOneShot = graft.core.Stats.rankNormalizeSketch(probeAll,
        oneShot, "v", "key")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    assert(viaExtend == viaOneShot,
      s"merge diverged from one-shot: $viaExtend vs $viaOneShot")
    assert(viaExtend(20L) == 0.6 && viaExtend(21L) == 1.0 &&
      viaExtend(22L) == 1.0, viaExtend.toString)
    intercept[IllegalArgumentException] {
      graft.core.Stats.mergeRankStats(Seq.empty)
    }
  }

  test("sketchCdf serving: bit-equal to the per-row sketch read (past " +
      "the compaction horizon too), and a pre-exploded CDF frame " +
      "serves identically") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic pseudo-random doubles, n ≫ k so compaction HAS
    // fired: the serve must still read the identical sorted view the
    // binary would give — same search, same division, bit-for-bit
    val ref = spark.range(5000).select(
      (col("id") % 3).cast("string").as("key"),
      (sin(col("id").cast("double")) * 1e6).as("v"))
    // PIN the trained state: past the horizon the binary depends on
    // partition-merge order, so both serves must read the SAME train
    // artifact (exactly how production serves work — train once,
    // persist, serve many)
    val statsDir = java.nio.file.Files.createTempDirectory("graft-cdfeq")
      .toString + "/stats"
    graft.core.Stats.rankStatsApprox(ref, "v", "key", k = 64)
      .write.parquet(statsDir)
    val stats = spark.read.parquet(statsDir)
    val probes = spark.range(400).select(col("id"),
      (col("id") % 3).cast("string").as("key"),
      (sin(col("id").cast("double") + 0.5) * 2e6).as("v"))
    val viaCdf = graft.core.Stats.rankNormalizeSketch(probes, stats,
        "v", "key")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    // the reference read: join the binary and rank per row (the old
    // serve shape — correct, just O(retained) per row)
    val g = graft.expressions.GraftExpressions
    val viaBinary = probes.join(stats, col("key") === col("__k"))
      .select(col("id"), g.kllRank(col("__sketch"), col("v")).as("pct"))
      .as[(Long, Double)].collect().toMap
    assert(viaCdf == viaBinary,
      s"CDF serve diverged from the binary read: " +
        s"${viaCdf.toSeq.sortBy(_._1).take(5)} vs " +
        s"${viaBinary.toSeq.sortBy(_._1).take(5)}")
    // a persisted-then-reloaded CDF frame (plain arrays in parquet)
    // serves identically — the hot-serve persistence form
    val dir = java.nio.file.Files.createTempDirectory("graft-cdf")
      .toString + "/cdf"
    graft.core.Stats.sketchCdf(stats).write.parquet(dir)
    val viaDisk = graft.core.Stats.rankNormalizeSketch(probes,
        spark.read.parquet(dir), "v", "key")
      .select("id", "pct").as[(Long, Double)].collect().toMap
    assert(viaDisk == viaCdf, "parquet-reloaded CDF frame diverged")
  }

  test("bucketizeSketch: equal-mass buckets off the shared KLL state — " +
      "clamped edges, equal reference mass, groupless rows drop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 100 uniform values → with B = 4 each bucket holds exactly 25 of
    // the reference rows (the equal-mass contract in the exact regime)
    val ref = spark.range(1, 101).select(lit("a").as("key"),
      col("id").cast("double").as("v"))
    val stats = graft.core.Stats.rankStatsApprox(ref, "v", "key", k = 256)
    val refBuckets = graft.core.Stats.bucketizeSketch(ref, stats, "v",
        "key", buckets = 4)
      .groupBy("bucket").count().as[(Long, Long)].collect().toMap
    assert(refBuckets == Map(1L -> 25, 2L -> 25, 3L -> 25, 4L -> 25),
      s"reference mass not equal: $refBuckets")
    // edges: below-domain → bucket 1 (pct 0 clamps), above-domain →
    // bucket B (pct 1), boundary value 25 → pct .25 → ceil → bucket 1;
    // a groupless probe drops
    val probes = Seq((1L, "a", -5.0), (2L, "a", 1e9), (3L, "a", 25.0),
      (4L, "zzz", 7.0)).toDF("id", "key", "v")
    val got = graft.core.Stats.bucketizeSketch(probes, stats, "v",
        "key", buckets = 4)
      .select("id", "bucket").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 4, 3L -> 1), s"edges wrong: $got")
    intercept[IllegalArgumentException] {
      graft.core.Stats.bucketizeSketch(probes, stats, "v", "key",
        buckets = 0)
    }
  }

  test("robustStatsFromSketch: med/MAD read from the shared KLL state " +
      "equals exact robustStats in the exact regime, merges, and " +
      "degrades gracefully past the horizon") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the robustOutliers hand vector (1,2,3,4,100 → med 3, mad 1) next
    // to a second group, split into two disjoint slices to exercise
    // the day-N merge
    val s1 = Seq((1L, "x", 1.0), (2L, "x", 2.0), (3L, "x", 3.0),
      (6L, "y", 7.0)).toDF("id", "key", "v")
    val s2 = Seq((4L, "x", 4.0), (5L, "x", 100.0), (7L, "y", 9.0))
      .toDF("id", "key", "v")
    val both = s1.unionByName(s2)
    val exact = graft.core.Stats.robustStats(both, "key", "v")
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    val viaSketch = graft.core.Stats.robustStatsFromSketch(
        graft.core.Stats.rankStatsApprox(both, "v", "key", k = 64), "key")
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    assert(viaSketch == exact, s"sketch read diverged: $viaSketch vs $exact")
    assert(viaSketch == Seq(("x", 3.0, 1.0), ("y", 7.0, 0.0)), viaSketch)
    // merged day-N state reads identically (exact regime: merge keeps
    // every item)
    val merged = graft.core.Stats.extendRankStats(
      graft.core.Stats.rankStatsApprox(s1, "v", "key", k = 64), s2, "v",
      "key", k = 64)
    val viaMerged = graft.core.Stats.robustStatsFromSketch(merged, "key")
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    assert(viaMerged == exact, s"merged-state read diverged: $viaMerged")
    // the full serve path: flags equal the exact incremental screen
    val batch = Seq((10L, "x", 3.5), (11L, "x", 50.0), (12L, "y", 7.0))
      .toDF("id", "key", "v")
    val viaExact = graft.core.Stats.robustOutliersAgainst(batch,
        graft.core.Stats.robustStats(both, "key", "v"), "key", "v")
      .select("id", "is_outlier").as[(Long, Boolean)].collect().toMap
    val viaState = graft.core.Stats.robustOutliersAgainst(batch,
        graft.core.Stats.robustStatsFromSketch(merged, "key"), "key", "v")
      .select("id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(viaState == viaExact && viaState ==
      Map(10L -> false, 11L -> true, 12L -> false), viaState.toString)
    // past the exactness horizon (n ≫ k): still a sane robust pair —
    // the approximate regime is the design, not a failure
    val big = spark.range(10000).select(lit("z").as("key"),
      (col("id") % 1000).cast("double").as("v"))
    val approx = graft.core.Stats.robustStatsFromSketch(
        graft.core.Stats.rankStatsApprox(big, "v", "key", k = 64), "key")
      .as[(String, Double, Double)].head()
    assert(math.abs(approx._2 - 499.5) < 100 &&
      math.abs(approx._3 - 249.5) < 100,
      s"approximate med/mad far off: $approx")
  }

  test("robustOutliers: a NULL group key is a group like any other — " +
      "rows keep flowing with their own median/MAD") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // null-key group 1,2,3,4,100 (same hand vector as above) next to a
    // keyed group; a plain equi-join pipeline would silently drop the
    // five null-key rows
    val df = Seq((1L, "x", 1.0), (2L, "x", 2.0), (3L, "x", 3.0),
      (4L, "x", 4.0), (5L, "x", 100.0), (6L, "a", 7.0))
      .toDF("id", "key", "v")
      .withColumn("key", when(col("key") === "x", lit(null)).otherwise(col("key")))
    val out = graft.core.Stats.robustOutliers(df, "key", "v", k = 3.0)
      .select("id", "med", "mad", "is_outlier")
      .as[(Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L),
      s"null-key rows vanished: ${out.keySet}")
    assert(out(1L) == ((3.0, 1.0, false)), out(1L).toString)
    assert(out(5L) == ((3.0, 1.0, true)), out(5L).toString)
    assert(out(6L) == ((7.0, 0.0, false)), out(6L).toString)
  }
}

package graft

import java.io.{ByteArrayOutputStream, PrintStream}

/** CLI smoke test over the golden corpus — the analog of driving
  * `ftm-datalake -d <ds> ls/crawl/export/head/get/versions`
  * (ftm_datalake/cli.py:213-292) end-to-end. */
class CliSpec extends SparkSpec {

  private val srcDir = Fixtures.src

  private def cli(args: String*): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val code = Cli.run(spark, args.toSeq, new PrintStream(buf, true, "UTF-8"))
    (code, new String(buf.toByteArray, "UTF-8"))
  }

  test("crawl → ls → head → get → versions → export drive the full lifecycle") {
    val lake = java.nio.file.Files.createTempDirectory("cli-lake").toString
    val base = Seq("--archive", lake, "-d", "cli_ds")

    val (c1, crawlOut) = cli(base ++ Seq("crawl", srcDir): _*)
    assert(c1 == 0 && crawlOut.contains("\"added\":"))

    val (c2, keys) = cli(base ++ Seq("ls", "--keys"): _*)
    assert(c2 == 0)
    val keySet = keys.linesIterator.toSet
    assert(keySet.contains("utf.txt") && keySet.contains("testdir/test.txt"))

    val (c3, sums) = cli(base ++ Seq("ls", "--checksums"): _*)
    assert(c3 == 0)
    assert(sums.linesIterator.toSet
      .contains("2aae6c35c94fcfb415dbe95f408b9ce91ee846ed"))

    val (c4, jsonl) = cli(base ++ Seq("ls"): _*)
    assert(c4 == 0)
    assert(jsonl.linesIterator.forall(_.startsWith("{\"key\":")))
    assert(jsonl.linesIterator.size == keySet.size)

    val (c5, head) = cli(base ++ Seq("head", "utf.txt"): _*)
    assert(c5 == 0)
    assert(head.contains("5a6acf229ba576d9a40b09292595658bbb74ef56"))
    val (c5b, _) = cli(base ++ Seq("head", "nope.txt"): _*)
    assert(c5b == 1)

    val outFile = java.nio.file.Files.createTempFile("cli-get", ".bin")
    val (c6, _) = cli(base ++ Seq("get", "utf.txt", "-o", outFile.toString): _*)
    assert(c6 == 0)
    assert(new String(java.nio.file.Files.readAllBytes(outFile), "UTF-8")
      == "Îș unî©ođ€.\n")

    val (c7, versions) = cli(base ++ Seq("versions"): _*)
    assert(c7 == 0 && versions.trim.linesIterator.size == 1)

    val zipPath = s"$lake/out.zip"
    val (c8, expOut) = cli(base ++ Seq("export", zipPath): _*)
    assert(c8 == 0 && expOut.contains("\"files\":"))
    assert(new java.io.File(zipPath).isFile)

    val (c9, cat) = cli(Seq("--archive", lake, "catalog"): _*)
    assert(c9 == 0 && cat.contains("\"name\":\"cli_ds\""))
  }

  test("diff and memorious-sync commands (cli.py:145,295 analogs)") {
    val lake = java.nio.file.Files.createTempDirectory("cli-mem-lake").toString
    val base = Seq("--archive", lake, "-d", "mem_ds")
    // memorious store fixture: {sha1}.json + sibling blob
    val store = java.nio.file.Files.createTempDirectory("cli-mem-store")
    val h1 = "2aae6c35c94fcfb415dbe95f408b9ce91ee846ed"
    java.nio.file.Files.writeString(store.resolve(s"$h1.json"),
      s"""{"url": "https://example.org/docs/hello.txt", "content_hash": "$h1",
         | "_file_name": "$h1.data.txt"}""".stripMargin)
    java.nio.file.Files.writeString(store.resolve(s"$h1.data.txt"), "hello world")

    val (c1, syncOut) = cli(base ++ Seq("memorious-sync", "-i", store.toString,
      "--name-only"): _*)
    assert(c1 == 0 && syncOut.contains("\"added\":1") &&
      syncOut.contains("\"blobs_copied\":1"), syncOut)
    val (_, keys) = cli(base ++ Seq("ls", "--keys"): _*)
    assert(keys.trim == "hello.txt")
    // blob landed content-addressed and byte-faithful
    val out = java.nio.file.Files.createTempFile("cli-mem-get", ".bin")
    assert(cli(base ++ Seq("get", "hello.txt", "-o", out.toString): _*)._1 == 0)
    assert(new String(java.nio.file.Files.readAllBytes(out), "UTF-8") == "hello world")

    // diff of the first (only) version: one "+" line per added key
    val (_, versionsOut) = cli(base ++ Seq("versions"): _*)
    val v = versionsOut.trim
    val (c2, diffOut) = cli(base ++ Seq("diff", "-v", v): _*)
    assert(c2 == 0)
    assert(diffOut.linesIterator.toSeq.count(_.startsWith("+")) == 1)
    assert(cli(base ++ Seq("diff", "-v", "nope"): _*)._1 == 1)
  }

  test("migrate-reference brings a reference-layout dataset into the archive") {
    val refArchive = Fixtures.referencePath("archive")
    Fixtures.assumePresent(refArchive)
    val lake = java.nio.file.Files.createTempDirectory("cli-mig-lake").toString
    val (c, outStr) = cli("--archive", lake, "-d", "test_dataset",
      "migrate-reference", "-i", refArchive)
    assert(c == 0 && outStr.contains("\"added\":"), outStr)
    val (_, keys) = cli("--archive", lake, "-d", "test_dataset", "ls", "--keys")
    assert(keys.linesIterator.toSet.contains("utf.txt"))
    // unknown dataset in the source lake errors clearly
    val (c2, msg) = cli("--archive", lake, "-d", "nope",
      "migrate-reference", "-i", refArchive)
    assert(c2 == 2 && msg.contains("not found"), msg)
  }

  test("corpus-build shards a training corpus end-to-end (archive-independent)") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("cli-corpus")
    val docsPath = s"$work/docs.parquet"
    val benchPath = s"$work/bench.parquet"
    val outDir = s"$work/shards"
    (0 until 60).map(i =>
      (i.toLong, (0 until 15).map(j => s"w${i}t$j").mkString(" "), "web"))
      .toDF("doc_id", "text", "source")
      .write.parquet(docsPath)
    Seq((999L, "unrelated benchmark words only", "bench"))
      .toDF("doc_id", "text", "source").write.parquet(benchPath)

    val (code, outStr) = cli("corpus-build", "--docs", docsPath,
      "--benchmark", benchPath, "-o", outDir, "--budget", "64",
      "--format", "json")
    assert(code == 0, outStr)
    assert(outStr.contains("\"input\":60") && outStr.contains("\"packed\":"))
    // shards landed and read back whole
    val back = spark.read.json(outDir)
    assert(back.count() == 60)
    assert(back.columns.contains("start") && back.columns.contains("seq_first"))

    // missing required flag → usage error, exit 2
    val (bad, err) = cli("corpus-build", "--docs", docsPath)
    assert(bad == 2 && err.contains("error:"))
    // a typo'd option must fail loudly, never run with silent defaults
    val (typo, terr) = cli("corpus-build", "--docs", docsPath,
      "--benchmark", benchPath, "-o", outDir, "--buget", "100")
    assert(typo == 2 && terr.contains("unknown option: --buget"))
    // an option with no value gets the right diagnostic
    val (noval, nerr) = cli("corpus-build", "--docs", docsPath,
      "--benchmark", benchPath, "-o", outDir, "--format")
    assert(noval == 2 && nerr.contains("missing value for --format"))
    // a bad format value fails BEFORE the pipeline runs
    val (badfmt, ferr) = cli("corpus-build", "--docs", docsPath,
      "--benchmark", benchPath, "-o", outDir, "--format", "csv")
    assert(badfmt == 2 && ferr.contains("unsupported --format"))
    // mixture weights reach the pipeline: web stratum doubled → more
    // packed rows than the unweighted run
    val out2 = s"$work/shards2"
    val (wcode, wout) = cli("corpus-build", "--docs", docsPath,
      "--benchmark", benchPath, "-o", out2, "--budget", "64",
      "--weights", "web=2.0", "--format", "json")
    assert(wcode == 0, wout)
    assert(spark.read.json(out2).count() == 120)
    // malformed weight specs fail loudly before the pipeline runs
    val (badw, werr) = cli("corpus-build", "--docs", docsPath,
      "--benchmark", benchPath, "-o", out2, "--weights", "web=heavy")
    assert(badw == 2 && werr.contains("bad --weights value"))
    val (badw2, werr2) = cli("corpus-build", "--docs", docsPath,
      "--benchmark", benchPath, "-o", out2, "--weights", "just-a-name")
    assert(badw2 == 2 && werr2.contains("bad --weights entry"))
    // --gopher gates documents through the MassiveText rules: the tiny
    // 15-word synthetic docs all fail the 50-word floor → empty corpus
    val out3 = s"$work/shards3"
    val (gcode, gout) = cli("corpus-build", "--docs", docsPath,
      "--benchmark", benchPath, "-o", out3, "--budget", "64",
      "--gopher", "--format", "json")
    assert(gcode == 0, gout)
    assert(gout.contains("\"input\":60") && gout.contains("\"packed\":0"))
  }

  test("layout lays out, appends, and rebuilds through the CLI " +
      "(archive-independent)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("cli-layout")
    val srcPath = s"$work/src.parquet"
    val outDir = s"$work/laid"
    spark.range(5000).select(
        (col("id") % 100).cast("double").as("x"),
        (col("id") / 100).cast("double").as("y"))
      .write.parquet(srcPath)
    // fresh layout: manifest written, one-generation health reported
    val (c0, j0) = cli("layout", "--src", srcPath, "-o", outDir,
      "--cols", "x,y", "--bits", "6", "--partitions", "8")
    assert(c0 == 0, j0)
    assert(j0.contains("\"files\":8") && j0.contains("\"rebuilt\":false"), j0)
    assert(spark.read.parquet(s"${outDir}_manifest").count() == 8)
    // thresholds RELATIVE to the measured fresh cost (absolute box
    // tightness varies with range-sampling): a generation's own cost is
    // bounded by its file count, so fresh + 9 can never trip on one
    // 8-file append, while fresh + 0.5 always does (a full-domain
    // generation adds ≥ ~1)
    val h0 = "\"point_cost\":([0-9.]+)".r
      .findFirstMatchIn(j0).get.group(1).toDouble
    val (c1, j1) = cli("layout", "-o", outDir, "--cols", "x,y",
      "--bits", "6", "--partitions", "8", "--append", srcPath,
      "--max-point-cost", (h0 + 9.0).toString)
    assert(c1 == 0 && j1.contains("\"files\":16") &&
      j1.contains("\"rebuilt\":false"), j1)
    // append past a tight threshold: the rebuild fires, content doubles
    val (c2, j2) = cli("layout", "-o", outDir, "--cols", "x,y",
      "--bits", "6", "--partitions", "8", "--append", srcPath,
      "--max-point-cost", (h0 + 0.5).toString)
    assert(c2 == 0 && j2.contains("\"rebuilt\":true") &&
      j2.contains("\"files\":8"), j2)
    // the rebuild is a pointer-commit compact: sweep the replaced
    // files (zero grace) so the raw-dir read sees the live set only
    val (cv, jv) = cli("layout", "-o", outDir, "--cols", "x,y",
      "--vacuum", "0")
    assert(cv == 0 && jv.contains("\"vacuumed\":"), jv)
    assert(spark.read.parquet(outDir).count() == 15000)
    // the heavy-tail layout: --quantile clusters by equal-frequency
    // cells through the same verb (content invariant, manifest written)
    val qDir = s"$work/laidq"
    val (cq, jq) = cli("layout", "--src", srcPath, "-o", qDir,
      "--cols", "x,y", "--bits", "6", "--partitions", "4", "--quantile")
    assert(cq == 0 && jq.contains("\"files\":4"), jq)
    assert(spark.read.parquet(qDir).count() == 5000)
    // both modes or neither → usage errors; typos loud
    val (b1, e1) = cli("layout", "-o", outDir, "--cols", "x,y")
    assert(b1 == 2 && e1.contains("error:"), e1)
    val (b2, e2) = cli("layout", "--src", srcPath, "-o", outDir,
      "--cols", "x,y", "--append", srcPath)
    assert(b2 == 2 && e2.contains("not both"), e2)
    val (b3, e3) = cli("layout", "--src", srcPath, "-o", outDir,
      "--cols", "x,y", "--bots", "6")
    assert(b3 == 2 && e3.contains("unknown option: --bots"), e3)
  }

  test("layout mutation verbs: delete-where, delete-keys, compact, " +
      "and the loud option errors") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("cli-lake")
    val srcPath = s"$work/src.parquet"
    val outDir = s"$work/laid"
    spark.range(5000).select(col("id"),
        (col("id") % 100).cast("double").as("x"),
        (col("id") / 100).cast("double").as("y"))
      .write.parquet(srcPath)
    val (c0, j0) = cli("layout", "--src", srcPath, "-o", outDir,
      "--cols", "x,y", "--bits", "6", "--partitions", "8")
    assert(c0 == 0 && j0.contains("\"delete_debt\":0"), j0)
    // predicate takedown: 500 rows tombstoned, debt visible
    val (c1, j1) = cli("layout", "-o", outDir, "--cols", "x,y",
      "--delete-where", "x >= 90.0")
    assert(c1 == 0, j1)
    assert(j1.contains("\"deleted\":500") &&
      j1.contains("\"delete_debt\":500"), j1)
    // key-list takedown on top; replayed list deletes nothing new
    val keysPath = s"$work/keys.parquet"
    spark.range(3).select((col("id") * 1000).as("id"))
      .write.parquet(keysPath)
    val (c2, j2) = cli("layout", "-o", outDir, "--cols", "x,y",
      "--delete-keys", keysPath, "--key", "id")
    assert(c2 == 0 && j2.contains("\"deleted\":3") &&
      j2.contains("\"delete_debt\":503"), j2)
    val (c3, j3) = cli("layout", "-o", outDir, "--cols", "x,y",
      "--delete-keys", keysPath, "--key", "id")
    assert(c3 == 0 && j3.contains("\"deleted\":0"), j3)
    // compact folds the debt in and bin-packs
    val (c4, j4) = cli("layout", "-o", outDir, "--cols", "x,y",
      "--compact", "--partitions", "2")
    assert(c4 == 0 && j4.contains("\"rebuilt\":true") &&
      j4.contains("\"delete_debt\":0") && j4.contains("\"files\":2"), j4)
    val (cv, jv) = cli("layout", "-o", outDir, "--cols", "x,y",
      "--vacuum", "0")
    assert(cv == 0, jv)
    assert(spark.read.parquet(outDir).count() == 4497)
    // loud errors: two verbs at once, delete-keys without --key
    val (b1, e1) = cli("layout", "-o", outDir, "--cols", "x,y",
      "--compact", "--rollback", "0")
    assert(b1 == 2 && e1.contains("not both"), e1)
    val (b2, e2) = cli("layout", "-o", outDir, "--cols", "x,y",
      "--delete-keys", keysPath)
    assert(b2 == 2 && e2.contains("--key"), e2)
  }

  test("lake-catalog discovers and describes the tables under a root") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("cli-lakecat")
      .toString
    val df = spark.range(1000).select(col("id"),
      (col("id") % 100).cast("double").as("x"),
      (col("id") / 100).cast("double").as("y"))
    graft.core.Layout.zorder(df, Seq("x", "y"), bits = 6, partitions = 4)
      .write.parquet(s"$root/t1")
    graft.core.Layout.writeManifest(spark, s"$root/t1", Seq("x", "y"))
    graft.core.Lakehouse.deleteWhere(spark, s"$root/t1",
      col("x") >= 90.0)
    graft.core.Layout.appendGeneration(spark, s"$root/t2", df,
      Seq("x", "y"), bits = 6, partitions = 2, gen = 0L)
    graft.core.Lakehouse.compact(spark, s"$root/t2", Seq("x", "y"),
      bits = 6, partitions = 2)
    // a PLAIN parquet dir (no sidecars) must stay out of the catalog
    df.limit(10).write.parquet(s"$root/scratch")
    // a genuine table NAMED like a bloom sidecar is still a table —
    // only a dir whose base-table sibling exists is a sidecar
    graft.core.Layout.zorder(df.limit(100), Seq("x"), bits = 6,
        partitions = 1)
      .write.parquet(s"$root/acc_bloom_test")
    graft.core.Layout.writeManifest(spark, s"$root/acc_bloom_test",
      Seq("x"))
    val (code, outTxt) = cli("lake-catalog", root)
    assert(code == 0, outTxt)
    val lines = outTxt.linesIterator.toSeq
    assert(lines.size == 3, outTxt)
    // a folder never mutated has no log yet: its listing snapshot is v0
    assert(lines.exists(l => l.contains("\"table\":\"acc_bloom_test\"") &&
      l.contains("\"version\":0")), outTxt)
    // the delete committed through the log: v1 (the migrated listing)
    // then v2 (the tombstone)
    val l1 = lines.find(_.contains("\"table\":\"t1\"")).get
    assert(l1.contains("\"delete_debt\":100") &&
      l1.contains("\"data_files\":4") &&
      l1.contains("\"version\":2"), l1)
    // t2: v1 (the empty path's log), v2 (the generation), v3 (compact)
    val l2 = lines.find(_.contains("\"table\":\"t2\"")).get
    assert(l2.contains("\"epoch\":1") &&
      l2.contains("\"delete_debt\":0") &&
      l2.contains("\"version\":3"), l2)
    // usage error without a root
    val (bad, err) = cli("lake-catalog")
    assert(bad == 2 && err.contains("root"), err)
  }

  test("layout --changes writes the generation change feed to parquet") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("cli-cdf")
    val outDir = s"$work/laid"
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    graft.core.Layout.appendGeneration(spark, outDir, mk(0L, 100L),
      Seq("x", "id"), bits = 6, partitions = 1, gen = 0L)
    graft.core.Layout.appendGeneration(spark, outDir, mk(100L, 200L),
      Seq("x", "id"), bits = 6, partitions = 1, gen = 1L)
    graft.core.Lakehouse.deleteWhere(spark, outDir, col("id") < 10L)
    val feedOut = s"$work/feed"
    val (c0, j0) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--changes", "0,1", "--feed-out", feedOut)
    assert(c0 == 0, j0)
    val feed = spark.read.parquet(feedOut)
    assert(feed.filter(col("__op") === "insert").count() == 100L)
    assert(feed.filter(col("__op") === "delete").count() == 10L)
    // malformed window and missing --feed-out are loud
    val (b0, e0) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--changes", "7", "--feed-out", feedOut)
    assert(b0 == 2 && e0.contains("<fromGen>,<toGen>"), e0)
    val (b1, e1) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--changes", "0,1")
    assert(b1 == 2 && e1.contains("--feed-out"), e1)
  }

  test("day-N runbook: generation ingest → takedown → epoch-guarded " +
      "change feed to a replica → retention compact → full compact, " +
      "each operator step the CLI verb") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("cli-runbook")
    val outDir = s"$work/lake"
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") % 100).cast("double").as("x"))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    // day 0: the first generation lands (the streamed-ingest form of
    // this step is spec'd in LayoutSpec; a drain ≡ one generation)
    graft.core.Layout.appendGeneration(spark, outDir, mk(0L, 1000L),
      Seq("x", "id"), bits = 6, partitions = 2, gen = 0L)
    // the replica bootstraps from the (-1, 0] feed and captures the
    // epoch the CLI reports alongside it
    val (c0, j0) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--changes", "-1,0", "--feed-out", s"$work/bootstrap")
    assert(c0 == 0, j0)
    assert(j0.contains("\"epoch\":0") && j0.contains("\"floor\":-1"), j0)
    assert(ids(spark.read.parquet(s"$work/bootstrap")
      .filter(col("__op") === "insert")).size == 1000)
    // the replica is a REAL lake table, bootstrapped at generation 0
    val repDir = s"$work/replica"
    graft.core.Layout.appendGeneration(spark, repDir, mk(0L, 1000L),
      Seq("x", "id"), bits = 6, partitions = 2, gen = 0L)
    // day 1: the next generation arrives, then a takedown list lands
    // (stamped into generation 1's snapshot)
    graft.core.Layout.appendGeneration(spark, outDir, mk(1000L, 2000L),
      Seq("x", "id"), bits = 6, partitions = 2, gen = 1L)
    val keysPath = s"$work/takedown.parquet"
    spark.range(10).select(col("id")).write.parquet(keysPath)
    val (c1, j1) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--delete-keys", keysPath, "--key", "id")
    assert(c1 == 0 && j1.contains("\"deleted\":10"), j1)
    // the replica pulls (0, 1] WITH its captured epoch and consumes
    // it through the CLI verb pair: --changes on the source,
    // --apply-feed on the replica
    var pull = 0
    def pullAndApply(): Unit = {
      pull += 1
      val feedDir = s"$work/feed$pull"
      val (c, j) = cli("layout", "-o", outDir, "--cols", "x,id",
        "--changes", "0,1", "--feed-out", feedDir, "--epoch", "0")
      assert(c == 0, j)
      val (ca, ja) = cli("layout", "-o", repDir, "--cols", "x,id",
        "--apply-feed", feedDir, "--key", "id")
      assert(ca == 0, ja)
    }
    def replicaIds: Set[Long] =
      ids(graft.core.Lakehouse.scan(spark, repDir))
    pullAndApply()
    assert(replicaIds == ids(graft.core.Lakehouse.scan(spark, outDir)),
      "replica diverged from the live table")
    // scheduled maintenance: retention compact folds the sub-floor
    // debt while the replica's window STAYS valid (epoch unchanged)
    val (c2, j2) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--compact", "--retain-after", "0")
    assert(c2 == 0, j2)
    assert(j2.contains("\"epoch\":0") && j2.contains("\"floor\":0") &&
      j2.contains("\"rebuilt\":true"), j2)
    pullAndApply() // the same pull re-applies, idempotently
    assert(replicaIds == ids(graft.core.Lakehouse.scan(spark, outDir)))
    assert(graft.core.Lakehouse.scan(spark, repDir).count() == 1990L,
      "re-applied feed must not duplicate replica rows")
    // deeper maintenance: the FULL compact collapses history and
    // bumps the epoch — the replica's next pull raises loudly instead
    // of reading reused generation ids
    val (c3, j3) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--compact")
    assert(c3 == 0 && j3.contains("\"epoch\":1") &&
      j3.contains("\"delete_debt\":0"), j3)
    val (c4, e4) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--changes", "0,1", "--feed-out", s"$work/feedX", "--epoch", "0")
    assert(c4 != 0 && e4.contains("epoch"), e4)
    // the replica re-syncs from a full scan at the new epoch
    assert(ids(graft.core.Lakehouse.scan(spark, outDir)).size == 1990)
    // storage hygiene closes the maintenance arc: the full compact's
    // replaced files awaited their grace window — the zero-grace
    // vacuum removes them and the live answer is untouched
    val (c6, j6) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--vacuum", "0")
    assert(c6 == 0 && "\"vacuumed\":(\\d+)".r.findFirstMatchIn(j6)
      .exists(_.group(1).toLong > 0), j6)
    assert(ids(graft.core.Lakehouse.scan(spark, outDir)).size == 1990)
    // fleet discovery: both tables (source and replica) surface in the
    // catalog with their operational numbers — day N operates by
    // discovery, not by remembering raw paths
    val (c7, j7) = cli("lake-catalog", work.toString)
    assert(c7 == 0, j7)
    val catLines = j7.linesIterator.toSeq
    assert(catLines.size == 2, j7)
    assert(catLines.exists(l => l.contains("\"table\":\"lake\"") &&
      l.contains("\"epoch\":1") && l.contains("\"delete_debt\":0")), j7)
    assert(catLines.exists(l => l.contains("\"table\":\"replica\"")), j7)
    // crash tooling closes the runbook: --recover on a healthy table
    // reports nothing to do
    val (c5, j5) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--recover")
    assert(c5 == 0 && j5.contains("\"recovered\":[]"), j5)
  }

  test("layout health line survives an empty manifest: a rollback " +
      "that drops every generation still reports its success") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("cli-healthguard")
    val outDir = s"$work/lake"
    graft.core.Layout.appendGeneration(spark, outDir,
      spark.range(100).select(col("id"),
        (col("id") % 10).cast("double").as("x")),
      Seq("x", "id"), bits = 6, partitions = 1, gen = 0L)
    // rollback(-1) empties the table AND its manifest dir; the verb
    // already succeeded, so the health line must degrade to
    // files:0/point_cost:null instead of dying on schema inference
    val (c0, j0) = cli("layout", "-o", outDir, "--cols", "x,id",
      "--rollback", "-1")
    assert(c0 == 0, j0)
    assert(j0.contains("\"files\":0") &&
      j0.contains("\"point_cost\":null"), j0)
  }

  test("config prints archive and dataset configuration (cli.py:97-108)") {
    // golden output against the reference fixture's own config.yml
    val archive = Fixtures.referencePath("archive")
    Fixtures.assumePresent(s"$archive/test_dataset/.leakrfc/config.yml")
    val (c1, archOnly) = cli("--archive", archive, "config")
    assert(c1 == 0)
    assert(archOnly.trim ==
      s"""{"archive":{"root":"$archive"}}""")
    val (c2, withDs) =
      cli("--archive", archive, "-d", "test_dataset", "config")
    assert(c2 == 0)
    val lines = withDs.trim.linesIterator.toSeq
    assert(lines.size == 2)
    assert(lines(0) == s"""{"archive":{"root":"$archive"}}""")
    assert(lines(1) ==
      """{"dataset":{"name":"test_dataset","title":"Test_Dataset",""" +
        """"prefix":"test-dataset","metadata_prefix":".leakrfc",""" +
        """"checksum_algorithm":"sha1",""" +
        """"public_url":"https://example.org/test_dataset/",""" +
        """"storage_uri":null}}""")
    // a dataset with no config.yml prints its defaults
    val lake = java.nio.file.Files.createTempDirectory("cli-cfg").toString
    val (c3, defaults) = cli("--archive", lake, "-d", "fresh_ds", "config")
    assert(c3 == 0)
    assert(defaults.contains(""""name":"fresh_ds""""))
    assert(defaults.contains(""""metadata_prefix":".ftm_datalake""""))
  }

  test("usage and error paths return non-zero codes") {
    assert(cli()._1 == 2)
    assert(cli("--archive", "/tmp/nowhere")._1 == 2) // no command
    val (cUnknown, msg) = cli("--archive", "/tmp/nowhere", "frobnicate")
    assert(cUnknown == 2 && msg.contains("unknown command"))
    // dataset-requiring command without -d mirrors cli.py:73
    val (cNoDs, msg2) = cli("--archive", "/tmp/nowhere", "ls")
    assert(cNoDs == 2 && msg2.contains("-d"))
  }
}

package graft

import java.io.{OutputStream, PrintStream}

import org.apache.spark.sql.SparkSession

import graft.pipelines.AlephHttpConnector

/** Thin command-line surface over the library API — the analog of the
  * reference's `ftm-datalake` typer CLI (ftm_datalake/cli.py:213-292):
  *
  * {{{
  *   graft.Cli --archive <root> -d <dataset> ls [--keys|--checksums]
  *   graft.Cli --archive <root> -d <dataset> crawl <uri> [--include G] [--exclude G] [--extract]
  *   graft.Cli --archive <root> -d <dataset> make <uri>
  *   graft.Cli --archive <root> -d <dataset> export <zipPath>
  *   graft.Cli --archive <root> -d <dataset> head <key>
  *   graft.Cli --archive <root> -d <dataset> get <key> [-o <path>]
  *   graft.Cli --archive <root> -d <dataset> versions
  *   graft.Cli --archive <root> -d <dataset> diff -v <version>
  *   graft.Cli --archive <root> -d <dataset> memorious-sync -i <dir>
  *                [--name-only | --strip-prefix P | --key-template T]
  *   graft.Cli --archive <root>              catalog
  * }}}
  *
  * All data-plane work happens in the library; the CLI only parses
  * arguments and serializes results (metadata JSON lines to stdout,
  * blob bytes for `get`), mirroring cli.py's write_obj/smart_open layer.
  */
object Cli {

  private val Usage =
    """usage: graft.Cli --archive <root> [-d <dataset>] <command> [args]
      |
      |commands:
      |  ls [--keys|--checksums]          list files (JSON lines / keys / hashes)
      |  crawl <uri> [--include G] [--exclude G] [--extract]
      |  make <uri>                       reconcile a source tree
      |  export <zipPath>                 zip-export the dataset
      |  head <key>                       metadata headers for one key
      |  get <key> [-o <path>]            blob bytes (stdout or file)
      |  versions                         sorted snapshot versions
      |  diff -v <version>                +/- diff lines of one version
      |  config                           print archive (and dataset) config
      |  memorious-sync -i <dir> [--name-only|--strip-prefix P|--key-template T]
      |  migrate-reference -i <refLakeRoot> [--meta-prefix P]
      |                                   migrate a reference-layout dataset in
      |  catalog                          archive-wide catalog rollup
      |  aleph-sync --host H [--api-key K] [--prefix P] [--foreign-id F] [--no-blobs]
      |                                   upload version history to Aleph
      |  aleph-load-dataset --host H [--api-key K] [--foreign-id F]
      |                                   push the dataset's FTM entities
      |  aleph-load-catalog --host H [--api-key K] [--include G] [--exclude G]
      |                                   push every published entity sink
      |
      |archive-independent:
      |  corpus-build --docs <parquet> --benchmark <parquet> -o <outDir>
      |               [--id C] [--text C] [--stratum C]
      |               [--weights s=w,s2=w2] [--default-weight W]
      |               [--min-quality Q] [--langs a,b] [--strip-spans]
      |               [--gopher] [--budget N] [--format parquet|json]
      |                                   build + shard a training corpus
      |  layout --src <parquet> -o <dir> --cols a,b [--bits N]
      |         [--partitions N] [--quantile]
      |                                   Z-order-cluster + write manifest
      |                                   (--quantile: equal-frequency cells
      |                                   for heavy-tailed columns)
      |  layout -o <dir> --cols a,b --append <parquet>
      |         [--max-point-cost C]      append a generation; rebuild when
      |                                   the measured health crosses C
      |  layout -o <dir> --cols a,b --delete-where <sqlExpr>
      |                                   tombstone matching rows (merge-on-read)
      |  layout -o <dir> --cols a,b --delete-keys <parquet> --key <col>
      |                                   tombstone rows by retraction key list
      |  layout -o <dir> --cols a,b --compact [--target-bytes N]
      |         [--retain-after G]        fold tombstones in; bin-pack files
      |                                   (--retain-after keeps snapshots > G
      |                                   addressable: floor rises, epoch stays)
      |  layout -o <dir> --cols a,b --rollback <gen> [--epoch E]
      |                                   drop generations + deletes after <gen>
      |  layout -o <dir> --cols a,b --changes <from>,<to> --feed-out <dir>
      |         [--epoch E]               write the (from,to] change feed; E =
      |                                   the epoch captured with <from> (raises
      |                                   if a compact landed in between)
      |  layout -o <dir> --cols a,b --apply-feed <feedDir> --key <col>
      |                                   consume a feed into this replica table
      |  layout -o <dir> --cols a,b --recover
      |                                   drop a crashed writer's staging,
      |                                   dangling manifests, stale leases
      |  layout -o <dir> --cols a,b --vacuum <graceMs>
      |                                   remove files a past commit replaced,
      |                                   once older than the grace window
      |  lake-catalog <root>              one JSON line per lakehouse table
      |                                   under <root>: version, epoch, floor,
      |                                   generation, files, debt, health
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try run(spark, args.toSeq, System.out)
    finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Parse and dispatch; returns a process exit code. Separated from
    * [[main]] so specs can drive the full surface in-process. */
  def run(spark: SparkSession, args: Seq[String], out: PrintStream): Int = {
    var archive: Option[String] = None
    var dataset: Option[String] = None
    val rest = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--archive" if i + 1 < args.length => archive = Some(args(i + 1)); i += 2
        case "-d" | "--dataset" if i + 1 < args.length => dataset = Some(args(i + 1)); i += 2
        case a => rest += a; i += 1
      }
    }
    (archive, rest.toList) match {
      case (_, "corpus-build" :: cmdArgs) =>
        // archive-independent: reads/writes parquet paths directly
        try corpusBuild(spark, cmdArgs, out)
        catch {
          case e: IllegalArgumentException =>
            out.println(s"error: ${e.getMessage}"); 2
          case e: Exception =>
            out.println(s"error: ${e.getMessage}"); 1
        }
      case (_, "layout" :: cmdArgs) =>
        // archive-independent: Z-order layout lifecycle over parquet paths
        try layoutCmd(spark, cmdArgs, out)
        catch {
          case e: IllegalArgumentException =>
            out.println(s"error: ${e.getMessage}"); 2
          case e: Exception =>
            out.println(s"error: ${e.getMessage}"); 1
        }
      case (_, "lake-catalog" :: cmdArgs) =>
        // archive-independent: discover and describe the lakehouse
        // tables under a root — day-N operates by discovery, not by
        // remembering raw paths
        try {
          val root = cmdArgs.headOption.getOrElse(
            throw new IllegalArgumentException(
              "lake-catalog requires <root-dir>"))
          val it = graft.core.Lakehouse.describeTables(spark, root)
            .orderBy("table").toLocalIterator()
          while (it.hasNext) {
            val r = it.next()
            out.println(s"""{"table":"${jsonEscape(r.getString(0))}",""" +
              s""""path":"${jsonEscape(r.getString(1))}",""" +
              s""""version":${r.getLong(2)},"epoch":${r.getLong(3)},""" +
              s""""floor":${r.getLong(4)},"current_gen":${r.getLong(5)},""" +
              s""""data_files":${r.getLong(6)},""" +
              s""""delete_files":${r.getLong(7)},""" +
              s""""delete_debt":${r.getLong(8)},""" +
              s""""data_bytes":${r.getLong(9)},""" +
              s""""manifest_files":${if (r.isNullAt(10)) "null"
                else r.getLong(10).toString},""" +
              s""""point_cost":${if (r.isNullAt(11)) "null"
                else r.getDouble(11).toString}}""")
          }
          0
        } catch {
          case e: IllegalArgumentException =>
            out.println(s"error: ${e.getMessage}"); 2
          case e: Exception =>
            out.println(s"error: ${e.getMessage}"); 1
        }
      case (None, _) | (_, Nil) =>
        out.println(Usage); 2
      case (Some(root), "config" :: Nil) =>
        // cli.py:97-108: print the runtime configuration for the archive
        // and, when one is selected with -d, the dataset — one JSON line
        // per object, the write_obj(-) analog
        printConfig(spark, root, dataset, out)
      case (Some(root), cmd :: cmdArgs) =>
        val arch = new GraftArchive(spark, root)
        def ds: GraftDataset = dataset match {
          case Some(n) => arch.dataset(n)
          case None =>
            throw new IllegalArgumentException(
              "Specify dataset foreign_id with `-d` option!") // cli.py:73
        }
        try dispatch(arch, () => ds, cmd, cmdArgs, out)
        catch {
          case e: IllegalArgumentException =>
            out.println(s"error: ${e.getMessage}"); 2
          case e: Exception =>
            out.println(s"error: ${e.getMessage}"); 1
        }
    }
  }

  /** The training-corpus pipeline as a runnable artifact:
    * [[graft.llm.Corpus.buildTrainingSet]] (quality/repetition gate →
    * language gate → optional boilerplate strip → dedup → decontaminate
    * → split → pack) over a documents parquet, sharded to disk via
    * [[graft.llm.Corpus.writeTrainingShards]]; per-stage row counts as
    * one JSON line on stdout. */
  private def corpusBuild(spark: SparkSession, args: List[String],
                          out: PrintStream): Int = {
    val valueOpts = Set("--docs", "--benchmark", "-o", "--out", "--id",
      "--text", "--stratum", "--weights", "--default-weight",
      "--min-quality", "--langs", "--budget", "--format")
    val kv = scala.collection.mutable.Map.empty[String, String]
    val flags = scala.collection.mutable.Set.empty[String]
    var i = 0
    val a = args.toArray
    while (i < a.length) {
      a(i) match {
        case f @ ("--strip-spans" | "--gopher") => flags += f; i += 1
        case k if valueOpts(k) && i + 1 < a.length =>
          kv(k) = a(i + 1); i += 2
        case k if valueOpts(k) =>
          throw new IllegalArgumentException(s"missing value for $k")
        case other =>
          // reject typos loudly — a silently-defaulted flag would run a
          // multi-hour build with the wrong parameters
          throw new IllegalArgumentException(s"unknown option: $other")
      }
      ()
    }
    val docsPath = kv.getOrElse("--docs",
      throw new IllegalArgumentException("corpus-build requires --docs"))
    val benchPath = kv.getOrElse("--benchmark",
      throw new IllegalArgumentException("corpus-build requires --benchmark"))
    val outDir = kv.getOrElse("-o", kv.getOrElse("--out",
      throw new IllegalArgumentException("corpus-build requires -o <outDir>")))
    val idCol = kv.getOrElse("--id", "doc_id")
    val textCol = kv.getOrElse("--text", "text")
    val stratumCol = kv.getOrElse("--stratum", "source")
    val format = kv.getOrElse("--format", "parquet")
    // validate BEFORE launching the pipeline — the sink's own check
    // would fire only after hours of gate/dedup/pack work
    if (format != "parquet" && format != "json")
      throw new IllegalArgumentException(
        s"unsupported --format: $format (parquet|json)")
    // mixture weights: "--weights web=1.0,books=2.5" per stratum value;
    // parsed (and rejected) here so a malformed spec fails before the
    // pipeline launches, like every other option
    val weights: Map[String, Double] =
      kv.get("--weights").map(_.split(",").toSeq.map { entry =>
        entry.split("=", 2) match {
          case Array(k, v) if k.nonEmpty =>
            k -> (try v.toDouble catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"bad --weights value for '$k': $v")
            })
          case _ =>
            throw new IllegalArgumentException(
              s"bad --weights entry: '$entry' (want stratum=weight)")
        }
      }.toMap).getOrElse(Map.empty)
    val (packed, stats) = graft.llm.Corpus.buildTrainingSet(
      spark.read.parquet(docsPath),
      spark.read.parquet(benchPath),
      idCol, textCol, stratumCol,
      weights = weights,
      defaultWeight =
        kv.get("--default-weight").map(_.toDouble).getOrElse(1.0),
      langs = kv.get("--langs").map(_.split(",").toSet).getOrElse(Set.empty),
      minQuality = kv.get("--min-quality").map(_.toDouble).getOrElse(0.0),
      budget = kv.get("--budget").map(_.toLong).getOrElse(4096L),
      stripSpans = flags.contains("--strip-spans"),
      gopher = flags.contains("--gopher"))
    // persist before the two actions: the write and the count would each
    // re-run the packing windows otherwise (the recompute class the
    // operator audit eliminated from the library paths)
    packed.persist()
    graft.llm.Corpus.writeTrainingShards(packed, outDir, format)
    val packedRows = packed.count()
    packed.unpersist()
    val statsJson = stats.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${jsonEscape(k)}":$v""" }.mkString(",")
    out.println(s"""{$statsJson,"packed":$packedRows,"out":"${jsonEscape(outDir)}"}""")
    0
  }

  /** The Z-order layout lifecycle as a runnable artifact
    * ([[graft.core.Layout]]): `--src` lays out a table fresh (cluster +
    * manifest), `--append` lands a generation through
    * [[graft.core.Layout.maintainLayout]] (manifest-measured health,
    * rebuild past `--max-point-cost`). One JSON line with the
    * post-operation health either way. */
  private def layoutCmd(spark: SparkSession, args: List[String],
                        out: PrintStream): Int = {
    val valueOpts = Set("--src", "-o", "--out", "--cols", "--bits",
      "--partitions", "--append", "--max-point-cost",
      "--delete-where", "--delete-keys", "--key", "--rollback",
      "--target-bytes", "--changes", "--feed-out", "--retain-after",
      "--epoch", "--apply-feed", "--vacuum")
    val flagOpts = Set("--compact", "--recover", "--quantile")
    val kv = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    val a = args.toArray
    while (i < a.length) {
      a(i) match {
        case k if flagOpts(k) => kv(k) = "true"; i += 1
        case k if valueOpts(k) && i + 1 < a.length => kv(k) = a(i + 1); i += 2
        case k if valueOpts(k) =>
          throw new IllegalArgumentException(s"missing value for $k")
        case other =>
          throw new IllegalArgumentException(s"unknown option: $other")
      }
      ()
    }
    val outDir = kv.getOrElse("-o", kv.getOrElse("--out",
      throw new IllegalArgumentException("layout requires -o <dir>")))
    val cols = kv.getOrElse("--cols",
        throw new IllegalArgumentException("layout requires --cols a,b"))
      .split(",").toSeq.filter(_.nonEmpty)
    val bits = kv.get("--bits").map(_.toInt).getOrElse(12)
    val partitions = kv.get("--partitions").map(_.toInt).getOrElse(0)
    val verbs = Seq("--src", "--append", "--delete-where",
      "--delete-keys", "--compact", "--rollback", "--changes",
      "--apply-feed", "--recover", "--vacuum")
      .filter(kv.contains)
    if (verbs.size > 1)
      throw new IllegalArgumentException(
        s"layout takes ONE of ${verbs.mkString(" / ")}, not both")
    var deleted = -1L
    var vacuumed = -1L
    val rebuilt = verbs.headOption match {
      case Some("--src") =>
        // --quantile clusters by equal-frequency (KLL CDF) cells — the
        // layout for heavy-tailed columns
        val laid =
          if (kv.contains("--quantile"))
            graft.core.Layout.zorderByQuantile(
              spark.read.parquet(kv("--src")), cols, bits, partitions)
          else graft.core.Layout.zorder(
            spark.read.parquet(kv("--src")), cols, bits, partitions)
        laid.write.parquet(outDir)
        graft.core.Layout.writeManifest(spark, outDir, cols)
        false
      case Some("--append") =>
        graft.core.Layout.maintainLayout(spark, outDir,
          spark.read.parquet(kv("--append")), cols, bits, partitions,
          maxPointCost =
            kv.get("--max-point-cost").map(_.toDouble).getOrElse(3.0))
      case Some("--delete-where") =>
        deleted = graft.core.Lakehouse.deleteWhere(spark, outDir,
          org.apache.spark.sql.functions.expr(kv("--delete-where")))
        false
      case Some("--delete-keys") =>
        val key = kv.getOrElse("--key", throw new IllegalArgumentException(
          "--delete-keys requires --key <col>"))
        deleted = graft.core.Lakehouse.deleteMatching(spark, outDir,
          spark.read.parquet(kv("--delete-keys")), key)
        false
      case Some("--compact") =>
        kv.get("--retain-after") match {
          case Some(g) =>
            // retention-preserving: fold debt at or below generation g,
            // keep later snapshots addressable (floor rises, epoch stays)
            graft.core.Lakehouse.compactRetaining(spark, outDir, cols,
              g.toLong, bits, partitions)
          case None =>
            graft.core.Lakehouse.compact(spark, outDir, cols, bits,
              partitions,
              targetBytes = kv.get("--target-bytes").map(_.toLong)
                .getOrElse(0L))
        }
        true
      case Some("--rollback") =>
        graft.core.Lakehouse.rollback(spark, outDir,
          kv("--rollback").toLong,
          asOfEpoch = kv.get("--epoch").map(_.toLong).getOrElse(-1L))
        false
      case Some("--changes") =>
        val (from, to) = kv("--changes").split(",").map(_.trim) match {
          case Array(f, t) => (f.toLong, t.toLong)
          case _ => throw new IllegalArgumentException(
            "--changes wants <fromGen>,<toGen>")
        }
        val feedOut = kv.getOrElse("--feed-out",
          throw new IllegalArgumentException(
            "--changes requires --feed-out <dir>"))
        // a replica passes the epoch it captured with fromGen; a
        // compaction in between then raises instead of serving wrong
        // deltas off reused generation ids
        graft.core.Lakehouse.changesBetween(spark, outDir, from, to,
            asOfEpoch = kv.get("--epoch").map(_.toLong).getOrElse(-1L))
          .write.mode("overwrite").parquet(feedOut)
        false
      case Some("--apply-feed") =>
        // the replica side of the CDC loop: consume a produced feed
        // dir (tagged __op rows) into this table by key
        val key = kv.getOrElse("--key", throw new IllegalArgumentException(
          "--apply-feed requires --key <col>"))
        graft.core.Lakehouse.applyChangesByKey(spark, outDir,
          spark.read.parquet(kv("--apply-feed")), key, cols, bits,
          partitions)
        false
      case Some("--vacuum") =>
        // remove files a past commit replaced, once older than the
        // grace window (ms) — the second half of the pointer-commit
        // contract (commits replace, vacuum destroys)
        vacuumed = graft.core.Lakehouse.vacuum(spark, outDir,
          kv("--vacuum").toLong).size.toLong
        false
      case Some("--recover") =>
        // clean up whatever a crashed writer left behind; the action
        // log rides the JSON line
        val acts = graft.core.Lakehouse.recover(spark, outDir)
        out.println(s"""{"recovered":[${acts.map(a =>
          s""""${jsonEscape(a)}"""").mkString(",")}]}""")
        false
      case _ =>
        throw new IllegalArgumentException(
          "layout requires --src <parquet>, --append <parquet>, " +
            "--delete-where/--delete-keys, --compact, --rollback, " +
            "--apply-feed, --vacuum <graceMs>, or --recover")
    }
    // the health line must not fail a mutation that already succeeded:
    // a rollback can empty the manifest dir, and a mutation verb may
    // run against a table that never had one — report files:0 /
    // point_cost:null instead of dying on schema inference
    val mDir = new org.apache.hadoop.fs.Path(s"${outDir}_manifest")
    val mFs = mDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasManifest = mFs.exists(mDir) && mFs.listStatus(mDir)
      .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val healthJson =
      if (hasManifest) {
        val h = graft.core.Layout.layoutHealth(
          spark.read.parquet(s"${outDir}_manifest"), cols)
        s""""files":${h.files},"point_cost":${h.pointCost}"""
      } else """"files":0,"point_cost":null"""
    val debt = graft.core.Lakehouse.deleteDebt(spark, outDir)
    val (epoch, floor) = graft.core.Lakehouse.epochAndFloor(spark, outDir)
    out.println(s"""{"out":"${jsonEscape(outDir)}",$healthJson,""" +
      s""""rebuilt":$rebuilt,"delete_debt":$debt,""" +
      s""""epoch":$epoch,"floor":$floor""" +
      (if (deleted >= 0) s""","deleted":$deleted""" else "") +
      (if (vacuumed >= 0) s""","vacuumed":$vacuumed""" else "") + "}")
    0
  }

  /** `config` (cli.py:97-108): archive config as one JSON line; with a
    * dataset selected, its `config.yml` — searched under the current
    * `.graft` metadata prefix and the reference-layout `.ftm_datalake` /
    * legacy `.leakrfc` prefixes (the same set the migration path reads) —
    * parsed via [[graft.core.Config]] and printed as a second line.
    * A dataset without a config file prints its defaults (the reference
    * serializes the in-memory model the same way). */
  private def printConfig(spark: SparkSession, root: String,
                          dataset: Option[String], out: PrintStream): Int = {
    val r = root.stripSuffix("/")
    out.println(s"""{"archive":{"root":"${jsonEscape(r)}"}}""")
    dataset.foreach { name =>
      val conf = spark.sparkContext.hadoopConfiguration
      val candidates = Seq(".graft", ".ftm_datalake", ".leakrfc")
        .map(p => new org.apache.hadoop.fs.Path(s"$r/$name/$p/config.yml"))
      val cfg = candidates.find(p => p.getFileSystem(conf).exists(p))
        .map { p =>
          val in = p.getFileSystem(conf).open(p)
          val text = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
          graft.core.Config.datasetConfig(text)
        }
        .getOrElse(graft.core.Config.DatasetConfig(name = name))
      def j(v: Option[String]): String =
        v.map(s => s""""${jsonEscape(s)}"""").getOrElse("null")
      out.println(
        s"""{"dataset":{"name":"${jsonEscape(cfg.name)}"""" +
          s""","title":${j(cfg.title)},"prefix":${j(cfg.prefix)}""" +
          s""","metadata_prefix":"${jsonEscape(cfg.metadataPrefix)}"""" +
          s""","checksum_algorithm":"${jsonEscape(cfg.checksumAlgorithm)}"""" +
          s""","public_url":${j(cfg.publicUrl)}""" +
          s""","storage_uri":${j(cfg.storageUri)}}}""")
    }
    0
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }

  private def dispatch(arch: GraftArchive, ds: () => GraftDataset,
                       cmd: String, args: List[String],
                       out: PrintStream): Int = cmd match {
    case "ls" =>
      val docs = ds().documents.orderBy("key")
      val it = docs.toLocalIterator()
      args match {
        case List("--keys") =>
          while (it.hasNext) out.println(it.next().getString(0))
        case List("--checksums") =>
          while (it.hasNext) out.println(it.next().getString(1))
        case Nil =>
          while (it.hasNext) {
            val r = it.next()
            out.println(
              s"""{"key":"${jsonEscape(r.getString(0))}","content_hash":"${r.getString(1)}","size":${r.getLong(2)},"mimetype":"${jsonEscape(r.getString(3))}"}""")
          }
        case other =>
          throw new IllegalArgumentException(s"ls: unknown options $other")
      }
      0

    case "crawl" =>
      val (flags, pos) = args.partition(_.startsWith("--"))
      val uri = pos.headOption.getOrElse(
        throw new IllegalArgumentException("crawl: missing <uri>"))
      def flagVal(name: String): Option[String] = {
        val ix = args.indexOf(name)
        if (ix >= 0 && ix + 1 < args.length) Some(args(ix + 1)) else None
      }
      val counts = ds().crawl(uri,
        include = flagVal("--include"), exclude = flagVal("--exclude"),
        extract = flags.contains("--extract"))
      out.println(counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      0

    case "make" =>
      val uri = args.headOption.getOrElse(
        throw new IllegalArgumentException("make: missing <uri>"))
      val status = ds().make(uri)
      out.println(status.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      0

    case "export" =>
      val zip = args.headOption.getOrElse(
        throw new IllegalArgumentException("export: missing <zipPath>"))
      val n = ds().exportZip(zip)
      out.println(s"""{"files":$n,"path":"${jsonEscape(zip)}"}""")
      0

    case "head" =>
      val key = args.headOption.getOrElse(
        throw new IllegalArgumentException("head: missing <key>"))
      ds().lookup(key) match {
        case Some(h) =>
          out.println(h.toSeq.sortBy(_._1)
            .map { case (k, v) => s""""$k":"${jsonEscape(v)}"""" }
            .mkString("{", ",", "}"))
          0
        case None => out.println(s"error: key not found: $key"); 1
      }

    case "get" =>
      val key = args.headOption.getOrElse(
        throw new IllegalArgumentException("get: missing <key>"))
      ds().openBlob(key) match {
        case Some(bytes) =>
          val target: OutputStream = args.indexOf("-o") match {
            case ix if ix >= 0 && ix + 1 < args.length =>
              new java.io.FileOutputStream(args(ix + 1))
            case _ => out
          }
          try target.write(bytes)
          finally if (!(target eq out)) target.close()
          0
        case None => out.println(s"error: key not found: $key"); 1
      }

    case "versions" =>
      ds().versions.foreach(out.println)
      0

    case "diff" =>
      // cli.py:145-156: `diff -v <version>` prints the +/- lines
      val version = args.indexOf("-v") match {
        case ix if ix >= 0 && ix + 1 < args.length => args(ix + 1)
        case _ => throw new IllegalArgumentException("diff: missing -v <version>")
      }
      val lines = ds().versionDiff(version)
      if (lines.isEmpty && !ds().versions.contains(version)) {
        out.println(s"error: unknown version: $version"); 1
      } else { lines.foreach(out.println); 0 }

    case "memorious-sync" =>
      // cli.py:295-317: key strategy flags mirror the reference's key_funcs
      import graft.pipelines.Memorious
      val dir = args.indexOf("-i") match {
        case ix if ix >= 0 && ix + 1 < args.length => args(ix + 1)
        case _ => throw new IllegalArgumentException("memorious-sync: missing -i <dir>")
      }
      def flagVal(name: String): Option[String] = {
        val ix = args.indexOf(name)
        if (ix >= 0 && ix + 1 < args.length) Some(args(ix + 1)) else None
      }
      val strategy: Memorious.KeyStrategy =
        if (args.contains("--name-only")) Memorious.NameOnly
        else flagVal("--strip-prefix").map(Memorious.StripPrefix)
          .orElse(flagVal("--key-template").map(t =>
            Memorious.Template(t, Seq("url", "content_hash"))))
          .getOrElse(Memorious.UrlPath)
      val counts = ds().importMemorious(dir, strategy)
      out.println(counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      0

    case "migrate-reference" =>
      // bridge an existing reference-layout lake into this archive
      val src = args.indexOf("-i") match {
        case ix if ix >= 0 && ix + 1 < args.length => args(ix + 1)
        case _ => throw new IllegalArgumentException(
          "migrate-reference: missing -i <refLakeRoot>")
      }
      val metaPrefix = args.indexOf("--meta-prefix") match {
        case ix if ix >= 0 && ix + 1 < args.length => args(ix + 1)
        case _ => ".leakrfc"
      }
      val d = ds() // requires -d: which dataset of the source lake to migrate
      val reader = new graft.core.ReferenceLakeReader(arch.spark, src, metaPrefix)
      if (!reader.datasetNames.contains(d.name))
        throw new IllegalArgumentException(
          s"migrate-reference: dataset '${d.name}' not found in $src " +
            s"(has: ${reader.datasetNames.mkString(", ")})")
      val counts = reader.migrateTo(d.name, arch)
      out.println(counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      0

    case "aleph-sync" =>
      // cli.py:324-350 (`ftm-datalake aleph sync`): push a dataset's
      // version history to an Aleph instance over HTTP, memoized in the
      // dataset's ledger. --no-blobs uploads metadata-only (spec/mocks).
      def flagVal(name: String): Option[String] = {
        val ix = args.indexOf(name)
        if (ix >= 0 && ix + 1 < args.length) Some(args(ix + 1)) else None
      }
      val host = flagVal("--host").getOrElse(
        throw new IllegalArgumentException("aleph-sync: missing --host"))
      val apiKey = flagVal("--api-key")
        .orElse(sys.env.get("ALEPH_API_KEY")).getOrElse("")
      val d = ds()
      val foreignId = flagVal("--foreign-id").getOrElse(d.name)
      val openBlob: (String, String) => Option[Array[Byte]] =
        if (args.contains("--no-blobs")) AlephHttpConnector.NoBlobs
        else AlephHttpConnector.contentAddressedBlobs(d.blobRoot)
      val conn = new AlephHttpConnector(host, apiKey, foreignId, openBlob)
      val st = graft.pipelines.AlephSync.syncDocuments(arch.spark, d.metaRoot,
        s"${d.metaRoot}/aleph_ledger", d.name, conn,
        prefix = flagVal("--prefix"))
      out.println(s"""{"versions":${st.versionsReplayed},""" +
        s""""uploaded":${st.uploaded},"folders":${st.foldersCreated}}""")
      0

    case "aleph-load-dataset" | "aleph-load-catalog" =>
      // cli.py:351-390 (`aleph load-dataset` / `aleph load-catalog`): push
      // published FTM entity sinks to an Aleph collection over HTTP,
      // checksum-memoized in the archive ledger. load-dataset targets one
      // dataset (publishing its entities sink first if absent);
      // load-catalog sweeps every dataset that has published one, with
      // --include/--exclude dataset globs (aleph_entities.py:118-125).
      def flagVal2(name: String): Option[String] = {
        val ix = args.indexOf(name)
        if (ix >= 0 && ix + 1 < args.length) Some(args(ix + 1)) else None
      }
      val host = flagVal2("--host").getOrElse(
        throw new IllegalArgumentException(s"$cmd: missing --host"))
      val apiKey = flagVal2("--api-key")
        .orElse(sys.env.get("ALEPH_API_KEY")).getOrElse("")
      val targets: Seq[GraftDataset] =
        if (cmd == "aleph-load-dataset") {
          val d = ds()
          val sink = new org.apache.hadoop.fs.Path(s"${d.metaRoot}/entities.ftm.json")
          val fs = sink.getFileSystem(arch.spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(sink)) d.writeEntities()
          Seq(d)
        } else arch.datasetNames.map(arch.dataset(_))
      val resources = graft.pipelines.AlephSync.entityResources(arch.spark,
        targets.map(d => d.name -> s"${d.metaRoot}/entities.ftm.json"))
      // one Aleph collection PER DATASET by default — the reference's
      // load_catalog creates a per-dataset worker whose foreign_id
      // defaults to that dataset's own name (connectors/aleph.py:117);
      // --foreign-id forces everything into one named collection instead
      val connectorFor: String => graft.pipelines.AlephConnector =
        flagVal2("--foreign-id") match {
          case Some(fid) =>
            val shared = new AlephHttpConnector(host, apiKey, fid)
            _ => shared
          case None =>
            val cache =
              scala.collection.mutable.Map.empty[String, AlephHttpConnector]
            name => cache.getOrElseUpdate(name,
              new AlephHttpConnector(host, apiKey, name))
        }
      val st = graft.pipelines.AlephSync.syncEntitiesEach(arch.spark, resources,
        s"${arch.root}/.graft_aleph_ledger", connectorFor,
        url => arch.spark.read.textFile(url).toDF(),
        includeDataset = flagVal2("--include"),
        excludeDataset = flagVal2("--exclude"))
      out.println(s"""{"resources":${st.resources},"entities":${st.entities}}""")
      0

    case "catalog" =>
      val it = arch.makeCatalog().toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        out.println(s"""{"name":"${jsonEscape(r.getString(0))}","file_count":${r.getLong(1)},"total_file_size":${r.getLong(2)}}""")
      }
      0

    case other =>
      throw new IllegalArgumentException(s"unknown command: $other")
  }
}

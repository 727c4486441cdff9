package graft.core

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional lake layout: Z-order (Morton-curve) clustering so
  * parquet row-group and file min/max stats prune scans with
  * predicates over SEVERAL columns at once.
  *
  * Why this exists at 100 TB: a lake table is written once and scanned
  * thousands of times, and the scan cost is decided by how many row
  * groups the reader can SKIP. A linear sort on one column makes that
  * column's min/max ranges disjoint (perfect pruning) and leaves every
  * other column's ranges spanning the whole domain (zero pruning). The
  * Z-curve interleaves the bits of k quantized column ranks
  * ([[graft.expressions.InterleaveBits]]), so consecutive keys are
  * neighbors in EVERY dimension — each output file covers a small
  * hyper-rectangle of the value space, and a predicate box touches
  * O(selectivity) of them instead of all (the OPTIMIZE ZORDER pattern;
  * Morton 1966). The layout changes WHERE rows land, never what they
  * are — results of any query are invariant (oracled).
  *
  * Plan shape: one tiny min/max aggregate (k columns, ONE row,
  * broadcast), one map-side quantize+interleave projection, one range
  * exchange on the Z key, an intra-partition sort. No shuffle beyond
  * the one the layout IS; scales as a single pass over the table. */
object Layout {

  /** Quantized cell index of `c` within [mn, mx]: `floor((c − mn) /
    * (mx − mn) · 2^bits)` clamped to [0, 2^bits − 1] — plain min-max
    * scaling (each cell an equal value-width slice; IEEE-deterministic
    * and cheap to reproduce in any engine). Nulls and degenerate
    * domains (mx ≤ mn) map to cell 0: layout needs SOME total order
    * for every row, and a constant column carries no pruning signal
    * anyway. */
  private def quantize(c: Column, mn: Column, mx: Column,
                       bits: Int): Column = {
    val cells = 1L << bits
    when(c.isNull || mx <= mn, lit(0L))
      .otherwise(least(lit(cells - 1), greatest(lit(0L),
        floor((c.cast("double") - mn) / (mx - mn) * cells))))
  }

  /** Append the Morton key of `cols` as `zCol` (default `__z`): each
    * column min-max-quantized to `bits` bits over ITS OWN observed
    * domain (one broadcast stats row), then bit-interleaved. The key
    * is what [[zorder]] partitions and sorts by; exposed separately so
    * callers can bucket, range-join, or oracle it directly.
    * Numeric/timestamp columns only (cast to double for scaling);
    * `k · bits ≤ 63`. */
  def zValue(df: DataFrame, cols: Seq[String], bits: Int = 12,
             zCol: String = "__z"): DataFrame = {
    require(cols.nonEmpty, "zValue needs at least one column")
    require(bits >= 1 && cols.size * bits <= 63,
      s"k·bits must fit a signed LONG: got ${cols.size} cols × $bits bits")
    val stats = df.agg(
      min(col(cols.head).cast("double")).as("__mn0"),
      (cols.tail.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(col(c).cast("double")).as(s"__mn${i + 1}"),
          max(col(c).cast("double")).as(s"__mx${i + 1}"))
      } :+ max(col(cols.head).cast("double")).as("__mx0")): _*)
    // ONE stats row joined to every row — Spark broadcasts a 1-row side
    val withStats = df.crossJoin(broadcast(stats))
    val cells = cols.zipWithIndex.map { case (c, i) =>
      quantize(col(c), col(s"__mn$i"), col(s"__mx$i"), bits)
    }
    withStats
      .withColumn(zCol,
        graft.expressions.GraftExpressions.interleaveBits(cells, bits))
      .drop(cols.indices.flatMap(i => Seq(s"__mn$i", s"__mx$i")): _*)
  }

  /** [[zValue]]'s EQUAL-FREQUENCY sibling: each column quantized
    * through its own KLL quantile sketch CDF instead of min-max
    * scaling, so every cell holds ~1/2^bits of the column's MASS.
    * Why: equal-width quantization collapses a heavy-tailed domain
    * (zipfian ids, log-normal sizes — common corpus shapes) into a
    * few cells, degrading the Z-curve toward a single-column sort and
    * the per-file boxes toward the whole domain; rank-quantization
    * spreads exactly-as-many rows per cell regardless of the value
    * distribution (spec'd: a zipfian fixture prunes strictly fewer
    * files than equal-width; content invariance oracled).
    *
    * Plan shape matches [[zValue]]: one map-side-combined sketch
    * aggregate (k columns, ONE row), the CDF views broadcast, then a
    * per-row O(log retained) binary-search rank
    * ([[graft.expressions.SortedCdfRank]] — codegen'd, the same
    * kernel the sketch-serving family rides) and the bit interleave.
    * `k` is the sketch accuracy (exact below k values per column,
    * ~1.65/√k rank error beyond — rank error only MOVES cell
    * boundaries, never rows' contents). All-null / empty columns map
    * to cell 0 like [[zValue]]'s nulls. */
  def zValueByQuantile(df: DataFrame, cols: Seq[String], bits: Int = 12,
                       k: Int = 4096, zCol: String = "__z"): DataFrame = {
    require(cols.nonEmpty, "zValueByQuantile needs at least one column")
    require(bits >= 1 && cols.size * bits <= 63,
      s"k·bits must fit a signed LONG: got ${cols.size} cols × $bits bits")
    val cells = 1L << bits
    val sketchAggs = cols.zipWithIndex.map { case (c, i) =>
      graft.expressions.GraftExpressions
        .kllSketch(col(c).cast("double"), k).as(s"__s$i")
    }
    val cdfs = df.agg(sketchAggs.head, sketchAggs.tail: _*)
      .select(cols.indices.map(i => graft.expressions.GraftExpressions
        .kllCdf(col(s"__s$i")).as(s"__cdf$i")): _*)
    // ONE CDF row joined to every row — Spark broadcasts a 1-row side
    val withStats = df.crossJoin(broadcast(cdfs))
    val cellCols = cols.zipWithIndex.map { case (c, i) =>
      val pct = graft.expressions.GraftExpressions.cdfRank(
        col(s"__cdf$i.items"), col(s"__cdf$i.cumw"), col(s"__cdf$i.n"),
        col(c).cast("double"))
      when(col(c).isNull || pct.isNull, lit(0L))
        .otherwise(least(lit(cells - 1), floor(pct * cells).cast("long")))
    }
    withStats
      .withColumn(zCol,
        graft.expressions.GraftExpressions.interleaveBits(cellCols, bits))
      .drop(cols.indices.map(i => s"__cdf$i"): _*)
  }

  /** [[zorder]] over the equal-frequency key: cluster `df` by
    * [[zValueByQuantile]] for writing — the layout for heavy-tailed
    * domains, where equal-width cells would leave most files spanning
    * the dense region. Same single-exchange plan as [[zorder]]. */
  def zorderByQuantile(df: DataFrame, cols: Seq[String], bits: Int = 12,
                       partitions: Int = 0, k: Int = 4096): DataFrame =
    rangeByZ(zValueByQuantile(df, cols, bits, k), partitions)

  /** Per-file min/max statistics of `cols` — the data-skipping
    * manifest a pruned scan consults instead of listing-and-reading
    * every file (the Iceberg/Delta manifest pattern, as one plain
    * parquet frame): `(__file, __rows, __min_<c>, __max_<c> …)`, one
    * row per file. A file whose column is all-null carries null
    * min/max — a range predicate can never match it, so pruning skips
    * it soundly. One scan to build; build it at WRITE time
    * ([[writeManifest]]) so scans never touch the data to decide what
    * to read. Manifest size is FILE-count-bounded (100 TB at 1 GB
    * files ≈ 10⁵ rows), never row-count-bounded. */
  def statsManifest(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "statsManifest needs at least one column")
    df.groupBy(input_file_name().as("__file"))
      .agg(count(lit(1)).as("__rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"__min_$c"),
          max(col(c)).as(s"__max_$c"))): _*)
  }

  /** Build and persist the manifest for a written layout at
    * `<path>_manifest`; returns the manifest path. Re-run after every
    * rewrite/compaction of `path` — a stale manifest prunes against
    * files that no longer exist ([[prunedScan]] re-applies the
    * predicate, so stale = wrong file set = read error, never silent
    * wrong data). */
  def writeManifest(spark: org.apache.spark.sql.SparkSession,
                    path: String, cols: Seq[String]): String =
    writeManifestFrom(spark, path, Lakehouse.resolve(spark, path), cols)

  /** [[writeManifest]] over commit `c`'s LIVE files (the directory may
    * hold vacuum-pending dead files); a commit with no files leaves no
    * manifest. */
  private[core] def writeManifestFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      c: Lakehouse.TableCommit, cols: Seq[String]): String = {
    val mPath = s"${path}_manifest"
    val live = Lakehouse.livePaths(path, c)
    if (live.isEmpty) {
      val m = new org.apache.hadoop.fs.Path(mPath)
      m.getFileSystem(spark.sessionState.newHadoopConf()).delete(m, true)
    } else
      statsManifest(
          spark.read.schema(Lakehouse.schemaOf(spark, path, c))
            .parquet(live: _*), cols)
        .coalesce(1).write.mode("overwrite").parquet(mPath)
    mPath
  }

  /** `<path>_manifest` read under its own schema, taken from one footer
    * on the driver: the `__min_<c>`/`__max_<c>` columns depend on which
    * columns it was built over. */
  private[core] def readManifest(spark: org.apache.spark.sql.SparkSession,
                                 path: String): DataFrame = {
    val mPath = s"${path}_manifest"
    spark.read.schema(ParquetFooter.schema(spark, mPath)).parquet(mPath)
  }

  /** Per-file Bloom MEMBERSHIP manifest over `keyCol` — the
    * data-skipping structure for POINT predicates on high-cardinality
    * columns, where min/max spans are useless (a checksum's range
    * covers the domain in every file; its membership does not). One
    * row per file: `(__file, __bloom)`, the key hashed to a LONG via
    * `xxhash64` (the probe side must hash identically —
    * [[graft.core.Lakehouse.pointLookup]] does). Size the geometry at
    * the FILE grain: `expectedKeysPerFile` ≈ rows per output file
    * (1 GB parquet ≈ a few million keys; fpp 0.01 ≈ 1.2 MB per file —
    * manifest bytes stay file-count-bounded like the min/max stats).
    * A file whose key column is all null carries a null sketch —
    * a point probe can never match a null key, so skipping it is
    * sound. Probes answer "false ⇒ DEFINITELY not in this file"; a
    * true is fpp-probably wrong, which only over-selects — the scan
    * re-applies the predicate ([[Lakehouse.pointLookup]]), so the
    * structure is performance-only, never correctness. */
  def bloomManifest(df: DataFrame, keyCol: String,
                    expectedKeysPerFile: Long = 1L << 21,
                    fpp: Double = 0.01): DataFrame =
    df.groupBy(input_file_name().as("__file"))
      // null keys are SKIPPED, not hashed: xxhash64(null) is the seed
      // (a real long), so feeding it would both pollute the sketch and
      // break the all-null-file null-sketch contract the point
      // lookup's skip-soundness argument rides on
      .agg(graft.expressions.GraftExpressions.bloomSketch(
          when(col(keyCol).isNotNull, xxhash64(col(keyCol))),
          expectedKeysPerFile, fpp).as("__bloom"))
      // geometry rides along so a rebuild (compaction) reproduces the
      // SAME sizing the caller chose, not a default
      .withColumn("__keys", lit(expectedKeysPerFile))
      .withColumn("__fpp", lit(fpp))

  /** Build and persist the Bloom membership manifest for `keyCol` at
    * `<path>_bloom_<keyCol>`; returns the manifest path. Files written
    * AFTER this (appends) are simply absent from it —
    * [[graft.core.Lakehouse.pointLookup]] treats unmanifested files as
    * kept, so staleness degrades pruning, never results; re-run here
    * (or let [[graft.core.Lakehouse.compact]] do it — it rebuilds every
    * `_bloom_*` manifest it finds) to restore the skip rate. */
  def writeBloomManifest(spark: org.apache.spark.sql.SparkSession,
                         path: String, keyCol: String,
                         expectedKeysPerFile: Long = 1L << 21,
                         fpp: Double = 0.01): String =
    writeBloomManifestFrom(spark, path, Lakehouse.resolve(spark, path),
      keyCol, expectedKeysPerFile, fpp)

  /** The schema [[bloomManifest]] writes. A manifest built before the
    * geometry columns existed reads them as null. */
  private[core] val BloomManifestSchema =
    "__file STRING, __bloom BINARY, __keys BIGINT, __fpp DOUBLE"

  /** [[writeBloomManifest]] over commit `c`'s live files. */
  private[core] def writeBloomManifestFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      c: Lakehouse.TableCommit, keyCol: String, expectedKeysPerFile: Long,
      fpp: Double): String = {
    val bPath = s"${path}_bloom_$keyCol"
    bloomManifest(spark.read.schema(Lakehouse.schemaOf(spark, path, c))
        .parquet(Lakehouse.livePaths(path, c): _*),
        keyCol, expectedKeysPerFile, fpp)
      .coalesce(1).write.mode("overwrite").parquet(bPath)
    bPath
  }

  /** The files of a manifest that a conjunctive inclusive box
    * predicate (`col BETWEEN lo AND hi` for every entry) could touch:
    * interval-overlap on the per-file min/max, all-null files out.
    * Exposed for observability — `pruneFiles(m, box).count()` vs
    * `m.count()` is the skip rate a layout earns. */
  def pruneFiles(manifest: DataFrame,
                 box: Seq[(String, Column, Column)]): DataFrame =
    box.foldLeft(manifest) { case (m, (c, lo, hi)) =>
      m.filter(col(s"__min_$c").isNotNull &&
        col(s"__max_$c") >= lo && col(s"__min_$c") <= hi)
    }

  /** Scan `path` through its persisted manifest: resolve the files the
    * box predicate could touch ([[pruneFiles]] — a manifest-sized read,
    * never a data read), read ONLY those, and RE-APPLY the exact
    * predicate. The manifest is a performance structure, never a
    * correctness one: the re-applied filter makes any over-selection
    * harmless, and row-group pruning inside the kept files still
    * applies on top. Composes with [[zorder]]: the layout is what makes
    * per-file boxes tight enough to skip (spec'd: the grid fixture
    * skips >3/4 of its files). The kept-file list passes through the
    * driver — file-count-bounded by the manifest argument above.
    * An empty kept set returns an empty frame with the full schema. */
  def prunedScan(spark: org.apache.spark.sql.SparkSession, path: String,
                 box: Seq[(String, Column, Column)]): DataFrame = {
    require(box.nonEmpty, "prunedScan needs a box predicate")
    val manifest = readManifest(spark, path)
    // the manifest must name exactly the live files (a stale one would
    // silently serve dead data)
    val c = Lakehouse.resolve(spark, path)
    Lakehouse.requireManifestLive(path, c, manifest)
    val kept = pruneFiles(manifest, box)
      .select("__file").collect().map(_.getString(0))
    val schema = Lakehouse.schemaOf(spark, path, c)
    val pred = box.map { case (cn, lo, hi) => col(cn).between(lo, hi) }
      .reduce(_ && _)
    if (kept.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .filter(lit(false))
    else spark.read.schema(schema).parquet(kept.toSeq: _*).filter(pred)
  }

  /** Clustering health of a laid-out table, read from its manifest
    * alone (never the data): `pointCost` is the expected number of
    * files a uniformly-placed POINT predicate touches — the sum over
    * files of each file's normalized box volume (Π per-column
    * width / global domain width). A fresh [[zorder]] layout tiles the
    * space once: cost is a small constant regardless of file count
    * (~1.3–1.8 in practice — equal-frequency curve slices aren't
    * quad-aligned, so boxes overlap modestly; never anywhere near the
    * file count). Every appended batch tiles the space AGAIN with its
    * own files, adding ≈ one fresh-layout cost — so the measure
    * counts, in expectation, how many generations of files every scan
    * must touch, which is exactly the degradation appends cause and a
    * re-layout repairs. Appends whose values occupy NEW domain
    * (time-banded arrivals — the common ingest shape) tile fresh space
    * instead of re-tiling old space and correctly do NOT degrade the
    * measure (spec'd): the metric tells overlapping appends apart from
    * banded ones, which a rebuild-on-schedule policy cannot.
    * All-null-stat files contribute nothing (a
    * range predicate can never touch them); a degenerate global domain
    * counts each file as spanning it. Manifest-sized arithmetic. */
  final case class LayoutHealth(files: Long, pointCost: Double)

  def layoutHealth(manifest: DataFrame, cols: Seq[String]): LayoutHealth = {
    require(cols.nonEmpty, "layoutHealth needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      min(col(s"__min_$c").cast("double")).as(s"__lo_$c"),
      max(col(s"__max_$c").cast("double")).as(s"__hi_$c")))
    val domain = manifest.agg(aggs.head, aggs.tail: _*)
    val vol = cols.map { c =>
      when(col(s"__hi_$c") <= col(s"__lo_$c"), lit(1.0))
        .otherwise((col(s"__max_$c").cast("double") -
          col(s"__min_$c").cast("double")) /
          (col(s"__hi_$c") - col(s"__lo_$c")))
    }.reduce(_ * _)
    val row = manifest.crossJoin(broadcast(domain))
      .agg(count(lit(1)), coalesce(sum(vol), lit(0.0))).head()
    LayoutHealth(row.getLong(0), row.getDouble(1))
  }

  /** Loud schema-drift guard for appends: a batch whose columns differ
    * from the resident table's would otherwise land SILENTLY — parquet
    * is name-addressed, so scans would null-fill the discrepancy or
    * pick an arbitrary footer, a corruption that surfaces far from its
    * cause. Name→type equality enforced (order-insensitive; parquet
    * doesn't care about order), naming every extra / missing / retyped
    * column. Evolution is an EXPLICIT decision, never an append
    * default: `allowAdditive = true` (set by the opt-in surfaces —
    * [[graft.core.Lakehouse.evolveSchema]] and the evolving append
    * wrappers) permits a batch that is a SUPERSET of the resident
    * schema (new columns; resident files null-fill them at scan —
    * parquet is name-addressed); drops and retypes still raise
    * unconditionally, additive or not. */
  private[core] def requireSameSchema(
      resident: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType,
      what: String, allowAdditive: Boolean = false): Unit = {
    val r = resident.fields.map(f => f.name -> f.dataType).toMap
    val b = batch.fields.map(f => f.name -> f.dataType).toMap
    val extra = if (allowAdditive) Set.empty[String] else b.keySet -- r.keySet
    val missing = r.keySet -- b.keySet
    val retyped = (r.keySet & b.keySet).filter(k => r(k) != b(k))
    require(extra.isEmpty && missing.isEmpty && retyped.isEmpty,
      s"$what: batch schema drifts from the resident table's — " +
        s"extra: ${extra.toSeq.sorted.mkString("[", ",", "]")}, " +
        s"missing: ${missing.toSeq.sorted.mkString("[", ",", "]")}, " +
        s"retyped: ${retyped.toSeq.sorted
          .map(k => s"$k ${r(k).simpleString}->${b(k).simpleString}")
          .mkString("[", ",", "]")}. Additive evolution is an explicit " +
        "opt-in (Lakehouse.evolveSchema / appendEvolving); anything " +
        "else is a rewrite (zorder the unioned frame)")
  }

  /** Append a new batch to an existing layout WITHOUT touching the
    * resident data: the batch is z-ordered over its own observed
    * domain (each new file still covers a tight box — cross-batch key
    * compatibility is irrelevant, per-file min/max is what prunes),
    * landed in place alongside under names unique to the write
    * (`part-v<version>-…parquet`, [[graft.core.Lakehouse.land]]), and
    * the manifest extended with JUST the new files' stats (manifest
    * dirs are append-friendly parquet). The incremental cost is one
    * pass over the BATCH — the 100 TB history is never rescanned.
    * Appends degrade [[layoutHealth]] by ≈ 1 per batch (each
    * generation tiles the space again); [[maintainLayout]] is the
    * measured repair loop.
    *
    * UNLOCKED internal form: the table's mutation surface is
    * single-writer, and this does not take the (non-reentrant) lease —
    * it exists for callers already HOLDING it. Concurrent ingest goes
    * through [[graft.core.Lakehouse.append]], which wraps exactly this
    * under [[graft.core.Lakehouse.withTableLock]]. */
  def appendZordered(spark: org.apache.spark.sql.SparkSession,
                     path: String, batch: DataFrame, cols: Seq[String],
                     bits: Int = 12, partitions: Int = 0,
                     extraAddDeletes: Seq[String] = Seq.empty): Unit =
    appendZorderedFrom(spark, path, Lakehouse.migrateToCommit(spark, path),
      batch, cols, bits, partitions, extraAddDeletes)

  /** [[appendZordered]] advancing from the caller's resolved commit `c`
    * (lock-holding callers: the keyed merge's landing half).
    * `extraAddDeletes`: a lock-holding merge's DEFERRED tombstone names
    * ride the append's marker — one commit per mutation, not two. */
  private[core] def appendZorderedFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      c: Lakehouse.TableCommit, batch: DataFrame, cols: Seq[String],
      bits: Int, partitions: Int, extraAddDeletes: Seq[String]): Unit = {
    // the drift guard also fires against a COMMITTED schema with no
    // resident files yet (an evolveSchema'd empty table): the commit
    // is the contract the first batch must honor too
    Lakehouse.schemaContract(spark, path, c)
      .foreach(requireSameSchema(_, batch.schema, "appendZordered"))
    val (_, fresh) = Lakehouse.land(spark,
      zorder(batch, cols, bits, partitions), path, s"part-v${c.version + 1}-")
    // the live set advances by commit — files in the directory are
    // invisible to readers until this lands
    Lakehouse.commitAdvance(spark, path, c, addData = fresh,
      addDeletes = extraAddDeletes,
      schemaJson = c.schemaJson.orElse(Some(batch.schema.json)))
    if (fresh.nonEmpty) {
      // the just-written files carry the batch's schema — manifest
      // passes skip the footer-inference job
      val freshDf = spark.read.schema(Lakehouse.nullableCopy(batch.schema))
        .parquet(fresh.map(n => s"$path/$n"): _*)
      statsManifest(freshDf, cols)
        .coalesce(1).write.mode("append").parquet(s"${path}_manifest")
      // Bloom manifests extend at append time too (the min/max one
      // just did): without the new files' sketches every appended
      // row's lookup degrades to a stale-safe full keep until a
      // compact. Sized under each manifest's own recorded geometry.
      bloomManifestsOf(spark, path).foreach { case (bDir, key, keys, fpp) =>
        bloomManifest(freshDf, key, keys, fpp)
          .coalesce(1).write.mode("append").parquet(bDir.toString)
      }
    }
  }

  /** Each Bloom manifest of `path` as (dir, key column, recorded
    * expectedKeysPerFile, fpp) — the geometry its extension slices and
    * rebuilds must reproduce. Both geometry columns are constant in a
    * manifest, so a slice's footer statistics hold them (min = max =
    * the value): read on the driver, no job. A manifest built before
    * those columns existed, or holding no rows, gets the defaults. */
  private[core] def bloomManifestsOf(spark: org.apache.spark.sql.SparkSession,
                                     path: String)
      : Seq[(org.apache.hadoop.fs.Path, String, Long, Double)] = {
    val conf = spark.sessionState.newHadoopConf()
    val prefix = s"${new org.apache.hadoop.fs.Path(path).getName}_bloom_"
    Lakehouse.bloomDirsOf(spark, path).map { dir =>
      val (keys, fpp) = dir.getFileSystem(conf).listStatus(dir).iterator
        .filter(_.getPath.getName.endsWith(".parquet")).flatMap { st =>
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          val mins = try r.getFooter.getBlocks.asScala
              .flatMap(_.getColumns.asScala)
              .filter(_.getStatistics.hasNonNullValue)
              .map(c => c.getPath.toDotString -> c.getStatistics.genericGetMin)
              .toMap
            finally r.close()
          for (k <- mins.get("__keys"); p <- mins.get("__fpp"))
            yield (k.asInstanceOf[java.lang.Long].longValue,
              p.asInstanceOf[java.lang.Double].doubleValue)
        }.nextOption().getOrElse((1L << 21, 0.01))
      (dir, dir.getName.stripPrefix(prefix), keys, fpp)
    }
  }

  /** Idempotent per-generation append — the exactly-once building
    * block under [[appendZorderedStream]], usable directly for any
    * at-least-once delivery (a replayed call with the same `gen`
    * replaces EXACTLY its own files and manifest slice, nothing else —
    * the [[graft.streaming.Streaming.foldLedgerStream]] discipline
    * applied to table files): the batch is z-ordered and landed in
    * place under names unique to the write (`gen<id>-v<version>-…`),
    * and ONE commit adds them while
    * dropping any prior attempt's `gen<id>-*` entries (the replay
    * case) from the live set — the dead files ride
    * [[graft.core.Lakehouse.vacuum]]'s grace window, so a reader that
    * resolved the pre-replay commit keeps reading files that exist.
    * The generation's manifest slice lands as one
    * deterministically-named file (`gen<id>.parquet`) in the manifest
    * dir, replacing its own previous version. Works against an empty
    * `path` too — streamed ingestion can create the table.
    *
    * UNLOCKED internal form (see [[appendZordered]]'s discipline):
    * lock-holding callers (the streamed per-batch bodies) call this
    * directly; everyone else goes through
    * [[graft.core.Lakehouse.appendAt]] — two unlocked writers landing
    * the same generation id would each drop the other's files from the
    * live set. */
  def appendGeneration(spark: org.apache.spark.sql.SparkSession,
                       path: String, batch: DataFrame,
                       cols: Seq[String], bits: Int = 12,
                       partitions: Int = 0, gen: Long = 0L,
                       extraAddDeletes: Seq[String] = Seq.empty): Unit =
    appendGenerationFrom(spark, path, Lakehouse.migrateToCommit(spark, path),
      batch, cols, bits, partitions, gen, extraAddDeletes)

  /** [[appendGeneration]] advancing from the caller's resolved commit
    * `c` (lock-holding callers: the keyed merge's landing half). */
  private[core] def appendGenerationFrom(
      spark: org.apache.spark.sql.SparkSession, path: String,
      c: Lakehouse.TableCommit, batch: DataFrame, cols: Seq[String],
      bits: Int, partitions: Int, gen: Long,
      extraAddDeletes: Seq[String]): Unit = {
    Lakehouse.schemaContract(spark, path, c)
      .foreach(requireSameSchema(_, batch.schema, "appendGeneration"))
    val (_, mine) = Lakehouse.land(spark,
      zorder(batch, cols, bits, partitions), path,
      s"gen$gen-v${c.version + 1}-")
    // the generation replaces exactly its own names in the live set —
    // an O(generation) delta marker, not a full-state rewrite.
    // `extraAddDeletes`: a lock-holding upsert/CDC-apply's DEFERRED
    // tombstone names ride this marker too — ONE delta commit per
    // micro-batch (tombstone adds + data adds), not two
    Lakehouse.commitAdvance(spark, path, c, addData = mine,
      removeData = c.data.filter(_.startsWith(s"gen$gen-")),
      addDeletes = extraAddDeletes,
      schemaJson = c.schemaJson.orElse(Some(batch.schema.json)))
    val mDir = new org.apache.hadoop.fs.Path(s"${path}_manifest")
    mDir.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(mDir, s"gen$gen.parquet"), false)
    if (mine.nonEmpty) {
      val genDf = spark.read.schema(Lakehouse.nullableCopy(batch.schema))
        .parquet(mine.map(n => s"$path/$n"): _*)
      Lakehouse.landSlice(spark, path, statsManifest(genDf, cols),
        mDir.toString, s"gen$gen.parquet")
      // Bloom manifests get the generation's slice under the SAME
      // replace-your-own-slice discipline (a replay rewrites exactly
      // its own gen<id>.parquet), so point lookups keep pruning
      // appended generations instead of stale-safe full-keeping them
      bloomManifestsOf(spark, path).foreach { case (bDir, key, keys, fpp) =>
        Lakehouse.landSlice(spark, path,
          bloomManifest(genDf, key, keys, fpp), bDir.toString,
          s"gen$gen.parquet")
      }
    }
  }

  /** Streamed lake ingestion with the layout maintained: each
    * micro-batch lands as one z-ordered GENERATION through
    * [[appendGeneration]], keyed by the micro-batch id — so
    * `foreachBatch`'s at-least-once replay contract becomes
    * exactly-once by construction (a replayed batch replaces exactly
    * its own `gen<id>-*` files and manifest slice; the checkpoint
    * under `<path>_ckpt` carries the source offsets). AvailableNow
    * drain: returns when every available input is committed. Health
    * degrades by ≈ one generation per micro-batch like any append —
    * run [[maintainLayout]]'s rebuild (or [[layoutHealth]] + a manual
    * [[zorder]] rewrite) BETWEEN drains, never under a live query
    * (the [[graft.streaming.Streaming.compactLedger]] contract). */
  def appendZorderedStream(stream: DataFrame, path: String,
                           cols: Seq[String], bits: Int = 12,
                           partitions: Int = 0): Unit = {
    val spark = stream.sparkSession
    val q = stream.writeStream
      .option("checkpointLocation", s"${path}_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // each micro-batch body holds the table lease, like the
        // streamed upsert/apply forms — the stream is one writer, but
        // the lock keeps an out-of-band mutator (a takedown, a
        // compact) from interleaving mid-batch
        Lakehouse.withTableLock(spark, path) {
          appendGeneration(spark, path, batch, cols, bits, partitions,
            id)
        }
      }
      .start()
    q.awaitTermination()
  }

  /** The layout's certify→regenerate loop (the
    * [[graft.llm.Similarity.maintainVectorIndex]] discipline applied
    * to storage): append the batch ([[appendZordered]]), READ the
    * health off the manifest, and when the point cost exceeds
    * `maxPointCost` re-layout the WHOLE table (a
    * [[graft.core.Lakehouse.compact]]: [[zorder]] rewrite, one pointer
    * commit, manifest rebuilt). Returns true when
    * the rebuild fired. The threshold is generations-of-files: a
    * fresh layout costs ≈ 1 and each append adds ≈ 1, so
    * `maxPointCost = 3` re-layouts after roughly two appends — tune
    * to the append cadence vs the rewrite budget (the rewrite is the
    * one full-table pass; everything else here is batch- or
    * manifest-sized). */
  def maintainLayout(spark: org.apache.spark.sql.SparkSession,
                     path: String, batch: DataFrame, cols: Seq[String],
                     bits: Int = 12, partitions: Int = 0,
                     maxPointCost: Double = 3.0): Boolean = {
    // the append rides the table lease (released before the rebuild —
    // Lakehouse.compact takes its own hold; the lease is not reentrant)
    Lakehouse.append(spark, path, batch, cols, bits, partitions)
    val health = layoutHealth(readManifest(spark, path), cols)
    if (health.pointCost <= maxPointCost) false
    else {
      // the rebuild IS a compaction, and runs as one: rewriting from
      // Lakehouse.scan (LIVE rows only) and clearing the folded
      // tombstones in the same pointer commit — a rebuild that read
      // the raw parquet would RESURRECT every tombstoned row and leave
      // stale tombstones addressing vanished file names. Bloom
      // manifests rebuild, the compact epoch bumps (generation
      // history collapses).
      Lakehouse.compact(spark, path, cols, bits, partitions)
      true
    }
  }

  /** Z-order-cluster `df` for writing: Morton key → ONE range exchange
    * into `partitions` output slices → intra-partition sort → key
    * dropped. Write the result straight to parquet; each output file
    * then covers a compact hyper-rectangle of (`cols`) space and
    * min/max row-group stats prune multi-column predicate boxes
    * (spec'd: strictly fewer files intersect a 2-D box than under a
    * single-column sort of the same data). Content is untouched —
    * every query over the result is bit-identical (oracled). */
  def zorder(df: DataFrame, cols: Seq[String], bits: Int = 12,
             partitions: Int = 0): DataFrame =
    rangeByZ(zValue(df, cols, bits), partitions)

  /** The shared clustering tail: ONE range exchange on the Morton key
    * into `partitions` output slices, intra-partition sort, key
    * dropped. */
  private def rangeByZ(keyed: DataFrame, partitions: Int): DataFrame = {
    val ranged =
      if (partitions > 0) keyed.repartitionByRange(partitions, col("__z"))
      else keyed.repartitionByRange(col("__z"))
    ranged.sortWithinPartitions("__z").drop("__z")
  }
}

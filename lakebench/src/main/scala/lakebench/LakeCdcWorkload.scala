package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Lakehouse, Layout}
import graft.llm.{FeedConsumer, Retrieval}
import graft.llm.Retrieval.Bm25Index

/** Seeded documents-shaped rows (`doc_id`, `text`, `source`, `n_chars`):
  * texts draw Zipf-distributed tokens from a fixed vocabulary, so BM25
  * postings have realistic skew. */
final class DocGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val vocab = (Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch") ++
    (0 until 2970).map(i => s"t${Integer.toString(i, 36)}")).toArray
  private val cdf = {
    val w = vocab.indices.map(r => 1.0 / (r + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  private def token(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    vocab(math.min(vocab.size - 1, if (i >= 0) i else -i - 1))
  }
  def text(): String = Seq.fill(15 + rnd.nextInt(50))(token()).mkString(" ")
  /** A top-k query of one token from each Zipf rank band [0, 10),
    * [10, 100) and [100, 1000): every query costs about the same. */
  def query(): String =
    Seq(0 -> 10, 10 -> 100, 100 -> 1000).map { case (lo, hi) =>
      vocab(lo + rnd.nextInt(hi - lo))
    }.mkString(" ")
  def row(id: Long): Row = {
    val t = text()
    Row(id, t, s"src${rnd.nextInt(20)}", t.length.toLong)
  }
  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object DocGen {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  /** UTF-8 bytes a row submits (text, source, two 8-byte longs). */
  def bytes(r: Row): Long =
    r.getString(1).getBytes("UTF-8").length + r.getString(2).getBytes("UTF-8").length + 16L
}

/** The Lakehouse half of `lifecycle`: keyed deletes and upserts on a
  * Lakehouse table while a key replica and a tracked BM25 index follow its
  * change feed, then point lookups and top-k queries, then a compaction /
  * manifest / vacuum maintenance cycle — one pass. */
final class LakeCdcWorkload(o: Opts) extends Workload {
  import LakeCdcWorkload._
  private val rows0 = if (o.smoke) 2000 else 5000
  private val rewrites = if (o.smoke) 40 else 200
  private val inserts = if (o.smoke) 10 else 50
  private val deletes = if (o.smoke) 8 else 40
  private val pointReads = 2
  private val topkReads = 1
  private val cols = Seq("doc_id")

  // the kept bootstrap's state
  private var src, rep, feed, idxRoot = ""
  private var gen: DocGen = _
  private val model = mutable.LinkedHashMap[Long, Row]()
  private var nextId = 0L
  private var index: Bm25Index = _
  private var watermark = 0L
  private var lastQueries = Seq.empty[(Long, String, Seq[String])]
  private var submitted = 0L
  private var fsWritten = 0L
  private val ratios = mutable.ArrayBuffer[Double]()

  private var rows = Seq.empty[Row]

  /** The source table's initial rows (driver-side; the model starts as
    * exactly these). */
  def generate(h: Harness, dir: String): Unit = {
    gen = new DocGen(o.seed)
    rows = (0 until rows0).map(i => gen.row(i.toLong))
    h.sizes("rows") = rows0
  }

  /** Land the source (Bloom manifest on `doc_id`), the replica, the feed
    * relay and the tracked BM25 index. */
  def bootstrap(h: Harness): Unit = {
    val s = h.spark
    val dir = s"${o.work}/lake"
    src = s"$dir/src"; rep = s"$dir/replica"; feed = s"$dir/feed"
    idxRoot = s"$dir/index"
    rows.foreach(r => model(r.getLong(0)) = r)
    nextId = rows0
    // consumers bootstrap at generation 0 while generation 1 is already
    // open: a retraction stamps the OPEN generation, so the first upsert's
    // must land in a window the consumers have yet to read
    val (g0, g1) = rows.splitAt(rows.size - rows.size / 10)
    Lakehouse.appendAt(s, src, DocGen.frame(s, g0), cols, gen = 0L, partitions = 8)
    Lakehouse.appendAt(s, src, DocGen.frame(s, g1), cols, gen = 1L, partitions = 1)
    Layout.writeBloomManifest(s, src, "doc_id")
    Lakehouse.appendAt(s, rep, DocGen.frame(s, g0), cols, gen = 0L, partitions = 8)
    Lakehouse.landChangesTracked(s, src, feed, initFromGen = 0L)
    FeedConsumer.initTrackedBm25IndexOver(s, idxRoot,
      Lakehouse.scanAsOf(s, src, 0L).select("doc_id", "text"), src, asOfGen = 0L)
    index = FeedConsumer.loadTrackedBm25Index(s, idxRoot)._1
    watermark = 0L
  }

  def pass(h: Harness, i: Int): Unit = {
    val w0 = if (h.tracer.enabled) Tracer.fsBytes()._2 else 0L
    tick(h)
    maintain(h)
    if (h.tracer.enabled) fsWritten += Tracer.fsBytes()._2 - w0
    h.sizes("upsert_rows_per_pass") = rewrites + inserts
    h.sizes("delete_ids_per_pass") = deletes
    h.sizes("point_reads_per_pass") = pointReads
    h.sizes("topk_reads_per_pass") = topkReads
  }

  private def live: IndexedSeq[Long] = model.keys.toIndexedSeq

  private def tick(h: Harness): Unit = {
    val s = h.spark
    val (batch, delIds) = h.untimed {
      val ids = live
      val rw = mutable.LinkedHashSet[Long]()
      while (rw.size < math.min(rewrites, ids.size)) rw += ids(gen.nextInt(ids.size))
      val fresh = (0 until inserts).map(_ => { nextId += 1; nextId })
      val b = (rw.toSeq ++ fresh).map(gen.row)
      val d = mutable.LinkedHashSet[Long]()
      while (d.size < deletes) {
        val k = ids(gen.nextInt(ids.size)); if (!rw(k)) d += k
      }
      (b, d.toSeq)
    }
    if (h.tracer.enabled)
      submitted += batch.map(DocGen.bytes).sum + 8L * delIds.size
    val keys = h.untimed(s.createDataFrame(
      java.util.Arrays.asList(delIds.map(Row(_)): _*),
      StructType(Seq(StructField("doc_id", LongType)))))
    h.op(deleteSpan)(
      Lakehouse.deleteMatching(s, src, keys, "doc_id"))
      .foreach { case (_, ms) => h.sample("write_ms", ms); delIds.foreach(model.remove) }
    val df = h.untimed(DocGen.frame(s, batch))
    val committed = h.op(upsertSpan)(
      Lakehouse.upsertByKey(s, src, df, "doc_id", cols))
    committed.foreach { case (_, ms) =>
      h.sample("write_ms", ms); batch.foreach(r => model(r.getLong(0)) = r)
    }
    val t0 = System.nanoTime()
    if (catchUp(h) && committed.nonEmpty)
      h.sample("fresh_ms", (System.nanoTime() - t0) / 1e6)
    readsOnce(h)
  }

  /** Both consumers apply every generation the last commit closed (the
    * change feed's closed-window contract: `Lakehouse.changesBetween`). */
  private def catchUp(h: Harness): Boolean = {
    val s = h.spark
    val landed = h.op(landSpan)(
      Lakehouse.landChangesTracked(s, src, feed))
    val replicaOk = landed match {
      case Some((Some((from, to)), _)) =>
        h.op(applySpan)(
          Lakehouse.applyChangesByKey(s, rep,
            s.read.parquet(s"$feed/win${from}_$to"), "doc_id", cols)).nonEmpty
      case Some((None, _)) => true
      case None => false
    }
    val indexed = h.op(indexFeedSpan)(
      FeedConsumer.applyFeedToBm25IndexTracked(s, idxRoot, src))
    indexed.foreach { case ((idx, off), _) =>
      index = idx
      val to = landed.flatMap(_._1).map(_._2).getOrElse(watermark)
      h.check("lake_cdc consumers agree on the watermark")(off.gen == to,
        s"index consumed through gen ${off.gen}, replica through $to")
      watermark = off.gen
    }
    replicaOk && indexed.nonEmpty
  }

  private def readsOnce(h: Harness): Unit = {
    val s = h.spark
    (1 to pointReads).foreach { j =>
      val id = h.untimed {
        val ids = live
        if (j == pointReads) nextId + 1000 + j else ids(gen.nextInt(ids.size))
      }
      h.op(pointLookupSpan)(
        Lakehouse.pointLookup(s, src, "doc_id", Seq(id)).collect())
        .foreach { case (got, ms) =>
          h.sample("read_ms", ms)
          h.check("lake_cdc pointLookup == model")(
            got.toSeq.map(_.toSeq) == model.get(id).toSeq.map(_.toSeq),
            s"pointLookup($id) = ${got.toSeq} but the model holds ${model.get(id)}")
          if (h.tracer.enabled) h.untimed(ratios += filesReadRatio(s, id))
        }
    }
    import s.implicits._
    lastQueries = (1 to topkReads).flatMap { j =>
      val q = gen.query()
      h.op(topKSpan)(
        Retrieval.bm25TopKAgainst(index, Seq((j.toLong, q)).toDF("query_id", "query_text"),
          k = 10).collect())
        .map { case (got, ms) =>
          h.sample("read_ms", ms)
          (j.toLong, q, got.toSeq.map(_.toString).sorted)
        }
    }
  }

  private def filesReadRatio(s: SparkSession, id: Long): Double = {
    val read = Lakehouse.pointLookup(s, src, "doc_id", Seq(id)).inputFiles
      .count(f => !f.contains("_deletes"))
    val liveFiles = Lakehouse.readCommit(s, src).map(_.data.size)
      .getOrElse(new java.io.File(src).listFiles().count(_.getName.endsWith(".parquet")))
    read.toDouble / math.max(1, liveFiles)
  }

  /** Replica law, tracked top-k law and the scan aggregate — then fold
    * the consumed generations, refresh the Bloom manifest, vacuum. */
  private def maintain(h: Harness): Unit = {
    val s = h.spark
    verify(h)
    h.op(compactSpan)(
      Lakehouse.compactRetaining(s, src, cols, retainAfter = watermark))
    h.op(bloomSpan)(Layout.writeBloomManifest(s, src, "doc_id"))
    h.op(scanSpan)(
      Lakehouse.scan(s, src).agg(count(lit(1)), sum("n_chars")).collect().head)
      .foreach { case (r, _) =>
        h.check("lake_cdc scan aggregate == model")(
          r.getLong(0) == model.size &&
            r.getLong(1) == model.values.map(_.getLong(3)).sum,
          s"scan has ${r.getLong(0)} rows / ${r.getLong(1)} chars, model " +
            s"${model.size} / ${model.values.map(_.getLong(3)).sum}")
      }
    h.op(vacuumSpan)(Lakehouse.vacuum(s, src, graceMs = 0L))
  }

  private def verify(h: Harness): Unit = {
    val s = h.spark
    h.check("lake_cdc replica == source at the watermark")({
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
      val want = rows(Lakehouse.scanAsOf(s, src, watermark)).sortBy(_.head.asInstanceOf[Long])
      val got = h.observed(rows(Lakehouse.scan(s, rep)).sortBy(_.head.asInstanceOf[Long]))
      got == want
    }, s"replica scan differs from the source's gen-$watermark snapshot")
    h.check("lake_cdc tracked top-k == rebuilt top-k")({
      import s.implicits._
      val live = Lakehouse.scanAsOf(s, src, watermark).select("doc_id", "text")
      val want = Retrieval.bm25TopK(live,
          lastQueries.map { case (qid, q, _) => (qid, q) }.toDF("query_id", "query_text"), k = 10)
        .collect().toSeq.groupBy(_.getLong(0))
      lastQueries.forall { case (qid, _, got) =>
        want.getOrElse(qid, Nil).map(_.toString).sorted == got
      }
    }, "a tracked-index top-10 differs from a from-scratch index over the live source")
  }

  override def traceExtras(h: Harness): Map[String, (Double, String)] = Map(
    s"$pointLookupSpan.files_read_ratio" ->
      (if (ratios.isEmpty) 0.0 else ratios.sum / ratios.size, "ratio"),
    "lake_cdc.write_amp" ->
      (fsWritten.toDouble / math.max(1L, submitted), "ratio"))

  def figures(h: Harness): Map[String, (Double, String, Int)] = {
    val reads = h.samplesOf("read_ms"); val writes = h.samplesOf("write_ms")
    val fresh = h.samplesOf("fresh_ms")
    val lakeMb = Du.bytes(new java.io.File(src).getParentFile) / 1e6
    Map(
      "read_p50_ms" -> (Stats.median(reads), "ms", reads.size),
      "write_p50_ms" -> (Stats.median(writes), "ms", writes.size),
      "fresh_p50_ms" -> (Stats.median(fresh), "ms", fresh.size),
      "lake_mb" -> (lakeMb, "MB", 1))
  }
}

object LakeCdcWorkload {
  val upsertSpan = "core.Lakehouse.upsertByKey"
  val deleteSpan = "core.Lakehouse.deleteMatching"
  val landSpan = "core.Lakehouse.landChangesTracked"
  val applySpan = "core.Lakehouse.applyChangesByKey"
  val indexFeedSpan = "llm.FeedConsumer.applyFeedToBm25IndexTracked"
  val pointLookupSpan = "core.Lakehouse.pointLookup"
  val topKSpan = "llm.Retrieval.bm25TopKAgainst"
  val compactSpan = "core.Lakehouse.compactRetaining"
  val bloomSpan = "core.Layout.writeBloomManifest"
  val scanSpan = "core.Lakehouse.scan"
  val vacuumSpan = "core.Lakehouse.vacuum"
  val spanNames: Seq[String] = Seq(upsertSpan, deleteSpan, landSpan, applySpan,
    indexFeedSpan, pointLookupSpan, topKSpan, compactSpan, bloomSpan, scanSpan,
    vacuumSpan)
}

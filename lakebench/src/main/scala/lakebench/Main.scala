package lakebench

import scala.collection.mutable

/** A workload: input generation (repeated during set-up, the last one
  * kept), a bootstrap of the program's state over those inputs that ends
  * with a warm-up of the pass's code paths, and a pass — its fixed
  * operation sequence — which the timed window runs. */
trait Workload {
  def generate(h: Harness, dir: String): Unit
  def bootstrap(h: Harness): Unit
  def pass(h: Harness, i: Int): Unit
  /** Per-layer metrics beyond the span metrics, from traced passes. */
  def traceExtras(h: Harness): Map[String, (Double, String)] = Map.empty
  /** The workload's end-to-end figures: name -> (value, unit, n). */
  def figures(h: Harness): Map[String, (Double, String, Int)]
}

/** Entry point of one benchmark run (one workload, fresh JVM). Writes its
  * result to `<work>/result.json` and its spans to `<work>/spans.json`;
  * `run.py` turns them into the printed report. */
object Main {
  val allSpans: Seq[String] = IngestWorkload.spanNames ++
    LakeCdcWorkload.spanNames ++ AnalyticsWorkload.spanNames
  /** Reads that never write: their fs_write_mb would always read 0. */
  val noWriteSpans = Set(IngestWorkload.lookupSpan,
    IngestWorkload.versionDiffSpan, LakeCdcWorkload.pointLookupSpan)
  /** Figures without a bound (not defined on every workload, or sampled
    * too thinly per run): printed with their sample count in every
    * report, and as per-layer metrics when traced. */
  val figureNames: Seq[(String, String)] = Seq(
    "read_p50_ms" -> "ms", "write_p50_ms" -> "ms", "fresh_p50_ms" -> "ms",
    "ingest_mb_per_s" -> "MB/s", "archive_mb" -> "MB", "lake_mb" -> "MB")

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m.getOrElse("data", ""),
      m("t0-ms").toLong,
      m.get("gen-s").filter(_.nonEmpty).map(_.split(",").toSeq.map(_.toDouble)).getOrElse(Nil),
      m.getOrElse("smoke", "0") == "1", m.getOrElse("corrupt", "0") == "1")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = graft.GraftSession.builder()
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.checkpoint.dir", s"${o.work}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - o.t0Ms) / 1e3
    val h = new Harness(spark, o)
    val wl: Workload = o.workload match {
      case "lifecycle" => new LifecycleWorkload(o)
      case "analytics" => new AnalyticsWorkload(o)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: session start, input generation several times (median),
    // one bootstrap of the program's state including its warm-up
    val reps = if (o.smoke) 1 else 3
    val gens = if (o.genS.nonEmpty) o.genS else (1 to reps).map { r =>
      val t0 = System.nanoTime()
      wl.generate(h, s"${o.work}/gen$r")
      (System.nanoTime() - t0) / 1e9
    }
    val (b0, bx0) = (System.nanoTime(), h.excluded)
    wl.bootstrap(h)
    val bootS = (System.nanoTime() - b0 - (h.excluded - bx0)) / 1e9
    h.clearSamples()
    val setupS = sessionS + Stats.median(gens) + bootS

    // the timed window: whole passes until --seconds have elapsed
    if (o.trace) h.tracer.enable()
    val passes = mutable.ArrayBuffer[Double]()
    val w0 = System.nanoTime()
    do {
      val i = passes.size
      h.tracer.op = i
      val ex0 = h.excluded
      val t0 = System.nanoTime()
      h.tracer.span("pass")(wl.pass(h, i))
      passes += (System.nanoTime() - t0 - (h.excluded - ex0)) / 1e9
    } while ((System.nanoTime() - w0) / 1e9 < o.seconds)
    h.sizes("passes") = passes.size

    val figs = wl.figures(h)
    val e2e = Seq(
      "setup_s" -> (setupS, "s", gens.size),
      "wall_s" -> (Stats.median(passes.toSeq), "s", passes.size)) ++
      figureNames.map { case (n, u) =>
        n -> figs.getOrElse(n, (0.0, u, 0))
      } ++ Seq("error_rate" -> (
        if (h.attempted == 0) 0.0 else h.failed.toDouble / h.attempted, "ratio",
        h.attempted.toInt))

    val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
    if (o.trace) {
      val sum = h.tracer.summarize()
      val nT = passes.size
      allSpans.foreach { s =>
        val m = sum.getOrElse(s, Map.empty[String, Double])
        def per(k: String) = m.getOrElse(k, 0.0) / nT
        perLayer(s"$s.ms") = (per("ms"), "ms")
        perLayer(s"$s.jobs") = (per("jobs"), "count")
        perLayer(s"$s.gap_ms") = (per("gap_ms"), "ms")
        perLayer(s"$s.shuffle_mb") = (per("shuffle_mb"), "MB")
        if (!noWriteSpans(s)) perLayer(s"$s.fs_write_mb") = (per("fs_write_mb"), "MB")
      }
      def fsRead(s: String) =
        sum.get(s).map(_("fs_read_mb")).getOrElse(0.0) / nT
      val ex = wl.traceExtras(h)
      val ratio = s"${LakeCdcWorkload.pointLookupSpan}.files_read_ratio"
      perLayer(ratio) = ex.getOrElse(ratio, (0.0, "ratio"))
      Seq(IngestWorkload.crawlSpan, IngestWorkload.makeSpan).foreach { s =>
        perLayer(s"$s.fs_read_mb") = (fsRead(s), "MB")
      }
      perLayer("lake_cdc.write_amp") = ex.getOrElse("lake_cdc.write_amp", (0.0, "ratio"))
      perLayer("trace_overhead_pct") = (h.tracer.overheadMs / 1e3 / passes.sum * 100, "%")
      figureNames.foreach { case (n, u) =>
        perLayer(n) = figs.get(n).map(f => (f._1, f._2)).getOrElse((0.0, u))
      }
      h.tracer.disable()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${o.work}/spans.json"), h.tracer.spansJson)
    }

    val result = Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> h.attempted, "failed" -> h.failed,
      "failures" -> h.failures.toSeq,
      "sizes" -> h.sizes.toMap,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> gens,
        "bootstrap_s" -> bootS),
      "pass_s" -> passes.toSeq,
      "end_to_end" -> e2e.map { case (n, (v, u, k)) =>
        n -> Map("value" -> v, "unit" -> u, "n" -> k) }.toMap,
      "per_layer" -> perLayer.map { case (n, (v, u)) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${o.work}/result.json"), result)
    spark.stop()
  }
}

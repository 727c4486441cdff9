package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, prints one JSON line with per-query seconds.
  *
  * A short warm-up pass (the same plans at sf0.001) runs before timing so
  * the measured numbers reflect steady-state execution rather than JIT /
  * classloading of Spark internals — the standard JVM benchmarking
  * discipline. Each query is then timed `SPARK_GRAFT_BENCH_PASSES` times
  * (default 5) and the per-query MEDIAN reported: single-pass timing on a
  * shared container produced two rounds of ghost regressions (±30%+
  * contention spikes) that medians suppress. The JSON also carries a
  * parallel `spread` map (max−min seconds over the passes per query) so a
  * recorded number can be read against its own run-internal dispersion.
  * Queries run in sorted name order, one action per pass.
  *
  * CONTENTION GUARD: a fixed CPU-bound calibration probe (hash-reduce over
  * `spark.range`, no IO, no data dependence) runs before and after the
  * timed passes. Its healthy median on the reference container is pinned
  * in [[CalibrationHealthySec]]; when either probe exceeds
  * [[CalibrationContendedFactor]]× that, the emitted JSON carries
  * `"contended":true` plus the measured probe times — a recorded run
  * whose numbers regress while `contended` is set is measuring the
  * neighbourhood, not the engine (the r7 lesson: 3-8× phantom
  * regressions on unchanged code, absent on re-run). */
object Bench {
  /** Median calibration-probe seconds on a healthy (uncontended)
    * local[32] container. The r10–r12 reference machines all measured
    * 0.136–0.139 s quiet; the default pin is 0.15 (tight enough that a
    * genuinely 2× contended run trips the 2.5× wire — the old 0.30
    * default put the trip at 0.75 s, loose enough to pass one; r12
    * verdict finding #2). Hardware-specific by nature, so it is
    * overridable via `SPARK_GRAFT_CAL_HEALTHY_SEC`: on a slower
    * machine pin a quiet run's own `calibration_sec` (the recorded-run
    * recipe in docs/ does exactly this); on a faster one the
    * min-of-probes derivation below tightens past the pin
    * automatically. */
  val CalibrationHealthySec: Double =
    sys.env.get("SPARK_GRAFT_CAL_HEALTHY_SEC").map(_.toDouble).getOrElse(0.15)
  /** Probe slowdown factor beyond which the run is flagged contended. */
  val CalibrationContendedFactor = 2.5

  /** Effective healthy baseline for a run: the TIGHTER of the pinned
    * value and the best probe observed in the run itself — a
    * faster-than-pin box tightens the threshold to its own measured
    * capability (the pin can only ever loosen the wire, never a
    * contended probe), so "healthy 0.14, contention pushed the second
    * probe to 0.5" flags even under a conservative pin. */
  def effectiveHealthySec(probes: Seq[Double],
                          pin: Double = CalibrationHealthySec): Double =
    math.min(pin, probes.min)

  /** The contended verdict: any probe beyond
    * [[CalibrationContendedFactor]] × [[effectiveHealthySec]]. */
  def contendedVerdict(probes: Seq[Double],
                       pin: Double = CalibrationHealthySec): Boolean =
    probes.max > effectiveHealthySec(probes, pin) * CalibrationContendedFactor

  /** Fixed CPU-bound probe: 2²⁸ xxhash64 evaluations reduced to one
    * value (bit_xor — full-range hashes overflow an ANSI-mode sum).
    * Whole-stage-codegen'd, zero IO, zero shuffle beyond the final
    * single-row aggregate — its wall time tracks available CPU only. */
  def calibrate(spark: SparkSession, reps: Int = 3): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 28).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.length / 2)
  }

  /** One query's outcome: name, median and spread (max − min) seconds
    * over the timed passes, and the first error a pass raised. */
  type QueryResult = (String, Double, Double, Option[String])

  // 3-decimal rounding: ms resolution is well inside every recorded
  // number's own run-internal spread, and it roughly HALVES the full
  // JSON line — 18 rounds of BENCH_r* carried `parsed: null` because
  // the unrounded ~232-query line outgrew the driver's bounded stdout
  // window (r18 verdict finding #1)
  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** Seconds over the queries that ran clean — errored ones are
    * excluded (a crash must not record as a speedup). */
  private[graft] def cleanTotal(results: Seq[QueryResult]): Double =
    results.collect { case (_, med, _, None) => med }.sum

  /** Mean seconds per CLEAN query — the errored ones neither add time
    * to [[cleanTotal]] nor count in the divisor. */
  private[graft] def secondsPerQuery(results: Seq[QueryResult]): Double = {
    val clean = results.count(_._4.isEmpty)
    if (clean > 0) cleanTotal(results) / clean else 0.0
  }

  /** The FULL result line. `queries` stays a flat name->seconds map
    * (the driver contract) and `spread` its parallel dispersion map;
    * both carry only clean queries, so a per-query diff never reads an
    * errored query's phantom near-zero time as a speedup — errored ones
    * ride the `errors` map (name -> message) and `n_errors` instead.
    * `run` is the run-level fields, spliced in before the counts. Field
    * order: the big maps FIRST, the contract scalars
    * (`metric`/`value`/`unit`) LAST — a JSON parser is order-blind, but
    * a bounded stdout TAIL truncates from the front, and the r8
    * artifact lost its head including the total; this way any tail
    * window ends with `..."metric":"total","unit":"sec","value":N}`. */
  private[graft] def resultLine(results: Seq[QueryResult],
                                run: String): String = {
    val clean = results.filter(_._4.isEmpty)
    val qs = clean.map { case (k, med, _, _) => "\"" + k + "\":" + r3(med) }
      .mkString("{", ",", "}")
    val spreads = clean.map { case (k, _, sp, _) => "\"" + k + "\":" + r3(sp) }
      .mkString("{", ",", "}")
    val errored = results.collect { case (k, _, _, Some(e)) => (k, e) }
    val errJson = errored.map { case (k, e) =>
      // MiniJson.escape covers every char below 0x20: exception
      // messages carry CR, tab and newline, and one raw control char
      // makes the whole line invalid JSON
      "\"" + k + "\":\"" + graft.core.MiniJson.escape(e) + "\""
    }.mkString("{", ",", "}")
    s"""{"queries":$qs,"spread":$spreads,"errors":$errJson,$run,"n_errors":${errored.size},"n_queries":${results.size},"metric":"total","unit":"sec","value":${r3(cleanTotal(results))}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val gates = SparkEntry.gates.sortBy(_.name)

    // warm-up at the smallest SF: exercises scan/codegen/shuffle machinery
    gates.foreach { g =>
      try g.plan(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }

    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "5").toInt
    val noisyThreshold = math.max(3, gates.size / 20)

    // one full measurement attempt: probe, timed passes, probe, verdicts.
    // Per query: (median, spread = max - min over the passes, err). The
    // spread rides along in the JSON so a recorded regression can be read
    // against the run's own dispersion instead of a cross-round guess —
    // ±17% judge-to-judge total swings with healthy calibration were the
    // r9 round signal's largest error bar. A query that THROWS during a
    // timed pass is recorded with its error (class: message) instead of
    // silently contributing a fast phantom time: errored queries are
    // excluded from the total and counted loudly (r18 verdict finding #5
    // — correctness is Verify's job, but the bench must not reward a
    // crash with a speedup).
    final case class Attempt(
        results: Seq[QueryResult],
        calBefore: Double, calAfter: Double) {
      val contended: Boolean = contendedVerdict(Seq(calBefore, calAfter))
      // RUN-LEVEL NOISE VERDICT: a pass where many queries' run-internal
      // spread exceeds their own median is measuring scheduler jitter, not
      // the engine — the recorded r11 driver run had 7/98 such queries
      // (q4: median 0.94 s, spread 2.06 s) and, tail-truncated, read as a
      // phantom 3× regression. The threshold scales with suite size
      // (>max(3, 5%) of queries) so a couple of intrinsically-variable
      // queries on a clean run don't trip it: the r11 builder run (3/98)
      // and judge re-run (4/98) stay clean, the driver's 7/98 flags.
      val noisyCount: Int =
        results.count { case (_, med, sp, _) => sp > med }
      val noisy: Boolean = noisyCount > noisyThreshold
      def flagged: Boolean = contended || noisy
    }
    def measure(): Attempt = {
      val calBefore = calibrate(spark)
      val results = gates.map { g =>
        var err: Option[String] = None
        val times = (1 to passes).map { _ =>
          val t0 = System.nanoTime()
          try g.plan(spark, sfDir).count()
          catch { case e: Throwable =>
            if (err.isEmpty) {
              val msg = Option(e.getMessage).getOrElse("").take(160)
              err = Some(s"${e.getClass.getSimpleName}: $msg")
            }
          }
          (System.nanoTime() - t0) / 1e9
        }.sorted
        (g.name, times(times.length / 2), times.last - times.head, err)
      }
      Attempt(results, calBefore, calibrate(spark))
    }

    // RETRY-ONCE-IF-FLAGGED: the r12/r13 driver recordings both
    // self-stamped noisy while builder/judge runs on the same HEAD were
    // clean — the flag machinery worked, but two consecutive unusable
    // artifacts of record mean transient contention should get ONE more
    // chance inside the same invocation before the round records a
    // flagged number. If the first attempt is noisy or contended, measure
    // once more and keep the cleaner attempt (fewer flags, then fewer
    // noisy queries, then lower worst probe); `attempts` in the JSON says
    // which path produced the record. Opt out: SPARK_GRAFT_BENCH_RETRY=0.
    val retry = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY", "1") != "0"
    val first = measure()
    val (att, allAttempts) =
      if (!retry || !first.flagged) (first, Seq(first))
      else {
        System.err.println(
          s"WARNING: attempt 1 flagged (noisy=${first.noisy} " +
            s"contended=${first.contended}) — retrying once")
        val second = measure()
        def score(a: Attempt) =
          ((if (a.contended) 1 else 0) + (if (a.noisy) 1 else 0),
            a.noisyCount, math.max(a.calBefore, a.calAfter))
        (if (Ordering[(Int, Int, Double)].lteq(score(second), score(first)))
          second else first, Seq(first, second))
      }
    val attempts = allAttempts.size
    val results = att.results
    val calBefore = att.calBefore
    val calAfter = att.calAfter
    val contended = att.contended
    val noisyCount = att.noisyCount
    val noisy = att.noisy
    if (contended)
      System.err.println(
        f"WARNING: calibration probe $calBefore%.2fs/$calAfter%.2fs vs " +
          f"effective healthy ${effectiveHealthySec(Seq(calBefore, calAfter))}%.2fs " +
          "— container contended; timings below overstate the engine's cost")
    val errored = results.collect { case (k, _, _, Some(e)) => (k, e) }
    if (errored.nonEmpty) {
      System.err.println(
        s"ERROR: ${errored.size} quer${if (errored.size == 1) "y" else "ies"} " +
          s"FAILED during timed passes (excluded from total): " +
          errored.map(_._1).mkString(", "))
      errored.foreach { case (k, e) => System.err.println(s"  $k: $e") }
    }
    // EVERY attempt's verdict rides along (not just the kept one): a
    // reviewer of a retried run can see what the discarded attempt
    // looked like instead of trusting the selection — the recorded
    // answer to retry-once's mild keep-the-cleaner bias
    val attemptLog = allAttempts.map { a =>
      s"""{"calibration_sec":[${r3(a.calBefore)},${r3(a.calAfter)}],""" +
        s""""noisy":${a.noisy},"noisy_count":${a.noisyCount},""" +
        s""""contended":${a.contended},"kept":${a eq att},""" +
        s""""total":${r3(cleanTotal(a.results))}}"""
    }.mkString("[", ",", "]")
    val json = resultLine(results,
      s""""attempt_log":$attemptLog,"passes":$passes,"sf":"$sfDir","calibration_sec":[${r3(calBefore)},${r3(calAfter)}],"contended":$contended,"noisy":$noisy,"noisy_count":$noisyCount,"attempts":$attempts""")
    // Self-record to a file first — best-effort; a read-only cwd must
    // not fail the bench itself.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"WARNING: could not write $outPath: ${e.getMessage}")
    }
    // Compact self-qualifying summary BEFORE the full line: short enough
    // to survive any stdout window, valid JSON carrying the
    // driver-contract scalars (`metric`/`value`/`unit`) plus the noise
    // verdict — the human-readable TL;DR.
    println(
      s"""{"metric":"total","value":${r3(cleanTotal(results))},"unit":"sec","sf":"$sfDir","s_per_q":${r3(secondsPerQuery(results))},"n_queries":${gates.size},"n_errors":${errored.size},"noisy":$noisy,"noisy_count":$noisyCount,"contended":$contended,"attempts":$attempts,"summary":true}""")
    // The FULL per-query JSON is the FINAL stdout line: the driver reads
    // a bounded stdout tail and had parsed `null` for 18 rounds because
    // this line used to print BEFORE the summary (and unrounded) — last
    // + 3-decimal rounding keeps the whole per-query map inside the
    // driver's window (r18 verdict "Next round" item 1). bench_out.json
    // carries the identical line as the file-side record.
    println(json)
    spark.stop()
  }
}

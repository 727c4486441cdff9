package lakebench

import scala.collection.mutable

import graft.SparkEntry

/** `analytics`: a read-only batch of oracle-checked `SparkEntry.queries`
  * over the generated TPC-H-ish tables, in a seed-permuted order per
  * pass, each query under its layer family's span. Every pass's results
  * are written out for the DuckDB oracle check (`run.py`). */
final class AnalyticsWorkload(o: Opts) extends Workload {
  import AnalyticsWorkload._
  private val results = mutable.ArrayBuffer[Map[String, String]]()

  /** The tables are generated by `run.py` (timed there). */
  def generate(h: Harness, dir: String): Unit = ()

  /** One count over `lineitem`, so that the session's first-action cost
    * (about 5 s, paid by whichever query runs first) is set-up, not part
    * of one query. No warm-up of the queries themselves: over the same
    * tables it costs as much as the timed pass (query-plan code generation
    * and JIT dominate the first pass), more than a run's time budget
    * allows. */
  def bootstrap(h: Harness): Unit =
    h.spark.read.parquet(s"${o.data}/lineitem.parquet").count()

  def pass(h: Harness, i: Int): Unit = {
    val order = h.untimed {
      val qs = new java.util.ArrayList[String]()
      families.foreach(_._2.foreach(qs.add))
      java.util.Collections.shuffle(qs, new java.util.Random(o.seed * 7919L + i))
      (0 until qs.size).map(qs.get)
    }
    order.foreach { q =>
      h.op(familyOf(q))(h.tracer.span(q) {
        val df = SparkEntry.queries(q)(h.spark, o.data)
        (df, df.collect())
      }).foreach { case ((df, rows), ms) =>
        h.sample("read_ms", ms)
        h.untimed {
          val out = s"${o.work}/results/p$i/$q"
          h.spark.createDataFrame(java.util.Arrays.asList(
            h.observed(rows.toSeq): _*), df.schema)
            .coalesce(1).write.parquet(out)
          results += Map("query" -> q, "result" -> out)
        }
      }
    }
    h.untimed {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.work}/oracle.json"),
        Json.obj(Seq("sql" -> order.map(q => q -> SparkEntry.oracleSql(q)).toMap,
          "results" -> results.toSeq)))
    }
  }

  def figures(h: Harness): Map[String, (Double, String, Int)] = {
    val reads = h.samplesOf("read_ms")
    Map("read_p50_ms" -> (Stats.median(reads), "ms", reads.size))
  }
}

object AnalyticsWorkload {
  /** Layer family -> queries: one oracle-checked query per family, so
    * that a run fits the benchmark's time budget. Left out: the
    * golden-parquet oracles (`dedup_minhash_lsh`, `ann_ivf_pq_topk`),
    * which hold only at one scale, and `q3_shipping_priority`,
    * `ev_funnel_conversions`, `st_session_durations`, `vocab_freq_sketch`,
    * `vocab_heavy_hitters`, `dedup_jaccard_pairs` (the first stage of
    * `dedup_components`), `graph_label_prop`, `ann_cosine_topk` and
    * `text_hybrid_rrf`. */
  val families: Seq[(String, Seq[String])] = Seq(
    "spark.control" -> Seq("q1_pricing_summary"),
    "operators" -> Seq("st_sessionize"),
    "expressions" -> Seq("doc_len_quantile_sketch"),
    "llm.Dedup" -> Seq("dedup_components"),
    "llm.Graph" -> Seq("graph_pagerank"),
    "llm.Similarity" -> Seq("ann_sq_topk"),
    "llm.Retrieval" -> Seq("text_bm25_topk"))
  val spanNames: Seq[String] = families.map(_._1)
  val familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
}

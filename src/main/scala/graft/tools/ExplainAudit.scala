package graft.tools
import graft._

/** Print query plans for audit. First arg: comma-separated query names
  * (default: a representative set). Then, in any order: `exec`
  * additionally RUNS each query and prints the final adaptive plan — the
  * only way to see whether AQE's stage reuse (ReusedExchange / table-cache
  * hits) fired, which the static `explain` cannot show — and an sf dir
  * (default: the sf0.01 testdata). Building a composite gate's frame
  * runs its by-construction machinery, so the printed plan is the SERVED
  * query's plan; [[QueryProfile]] decomposes the machinery into jobs.
  *
  * One plan per file (the `plans/<round>/<q>_<tag>.txt` before/after
  * artifacts): run one gate per call and redirect its output, keeping
  * the lines from the gate's `===` header on, without sbt's `[info] `
  * prefix:
  * {{{
  * for q in graph_pagerank ann_feed_tracked; do
  *   sbt -batch "runMain graft.tools.ExplainAudit $q $SF_DIR" 2>/dev/null \
  *     | sed -n '/^\[info\] === /,$ s/^\[info\] //p' > plans/r18/${q}_after.txt
  * done
  * }}}
  */
object ExplainAudit extends App {
  val spark = GraftSession.builder(master = "local[8]", shufflePartitions = 8).getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val dir = "/root/testdata/sf0.01"
  val opts = args.drop(1)
  val exec = opts.contains("exec")
  val sfDir = opts.find(_ != "exec").getOrElse(dir)
  val targets = args.headOption.map(_.split(",").toSeq)
    .getOrElse(Seq("q5_region_revenue", "q3_shipping_priority", "j5_point_lookup",
      "p1_project_keys", "a6_keep_latest", "dedup_jaccard_pairs", "ann_cosine_topk",
      // round-8 additions + the recompute-class family (plan-guarded in
      // PlanShapeSpec; audited here by default so regressions are visible
      // without arguments)
      "text_gopher_gate", "text_c4_clean", "text_line_stats",
      "dedup_simhash_incremental", "dedup_semantic_incremental",
      "text_bigram_surprisal", "text_surprisal", "tfidf_keywords",
      "ann_ivf_pq_topk",
      // round-9 additions (r10: plan-guarded single-scoring-pass /
      // 3-scan-floor shapes)
      "corpus_budget_select", "text_importance",
      // round-10 operators (single-exchange substring windows; bounded
      // TopKByKey ObjectHashAggregate)
      "dedup_substring", "corpus_stratified_sample",
      // round-11 operators (against-index probe, derived-marginal
      // collocations, scan-side temperature cut, broadcast label margin,
      // reference-set strip)
      "dedup_substring_incremental", "text_collocations",
      "corpus_temperature_mix", "emb_label_margin", "emb_knn_vote",
      "dedup_strip_spans_incremental",
      // round-12: the r11 audit stragglers — dedup_components' whole
      // design story is plan shape (checkpointed pair leaf, no per-round
      // recompute), the scan-side three prove they stay exchange-free —
      // plus the per-group-k weighted sampler (ObjectHashAggregate, no
      // window sort)
      "dedup_components", "dedup_components_incremental",
      "text_strip_html", "text_url_canonical",
      "corpus_report", "corpus_stratified_weighted",
      // round-12 session-2 operators: the deletion-variant linkage family
      // (one exchange per side + local pair generation), the relational
      // NB classifier (sparse-model join + one argmax aggregate), and the
      // graded decontam coverage (scan-side totals + hash join)
      "link_fuzzy_pairs", "link_fuzzy_against", "text_nb_classify",
      "decontam_overlap",
      // round-12 session-3 operators: the MG heavy-hitter 2-pass plan
      // (bounded-sketch pass ran eagerly; audited plan is the candidate-
      // filtered pass 2), the drift ranking (one token exchange, totals
      // as ReusedExchange), and the tagged-ngram diversity single scan
      "vocab_heavy_hitters", "corpus_drift", "text_ngram_diversity",
      // the two scan-side projections: literal-sign JL compression and
      // the char-class script profile (both must stay exchange-free)
      "emb_random_projection", "text_script_profile",
      // broadcast-query top-k with the other-label filter: must keep
      // the map-side WindowGroupLimit prune
      "emb_hard_negatives", "vocab_heavy_bigrams",
      // per-split sketch union + bounded merge (groupBy over ≤ s·cap
      // counter rows, rank window on the aggregated counter set only)
      "vocab_sketch_merge",
      // BM25: one tokenizing corpus scan (tf/docfreq share the exchange),
      // query-term × postings join on token, map-side WindowGroupLimit
      "text_bm25_topk",
      // int8 affine quantization — must stay a zero-exchange projection
      "emb_scalar_quant",
      // the BM25 serving form: index subtrees + one candidate shuffle
      "text_bm25_incremental",
      // coverage curve: token exchange + bounded top-max(ks) window only
      "vocab_coverage",
      // HLL distinct sketches: per-slice partial-agg, bounded union
      "vocab_distinct_sketch",
      // RRF: everything post-union is |queries|·k·sources rows
      "text_hybrid_rrf",
      // eval metrics: run + truth joins are |queries|·max(k,n_rel) rows
      "retrieval_metrics",
      // merged-index serving + the int8 asymmetric scan
      "text_bm25_index_merge", "ann_sq_topk",
      // KLL: slice partial-agg with bounded binaries, bounded merge
      "doc_len_quantile_sketch",
      // canonical-per-cluster selection: broadcast label joins against
      // the corpus, one comp exchange, map-side WindowGroupLimit
      "dedup_keep_representative",
      // bounded language-domain rollup — one partial-agg exchange
      "text_token_stats_by_lang",
      // Bloom-routed exact incremental dedup: the audited serve plan is
      // a scan-side might_contain filter + the reduced exact hash join
      "dedup_exact_bloom",
      // NearestCentroid-kernel scan + broadcast centroid join + one
      // bounded nlist-domain rollup exchange
      "emb_cluster_profile",
      // assignment scan + bounded TopKByKey (ObjectHashAggregate) pick
      "emb_balanced_sample",
      // scan-side priorities + TakeOrderedAndProject (no global sort)
      "corpus_weighted_sample",
      // encode+decode must stay one map-only projection, zero exchange
      "bpe_roundtrip",
      // one scan + Expand for the exact distincts + a 1-row stack
      "a8_table_profile",
      // one partial-agg exchange + a bounded-domain share window
      "text_langid_confusion",
      // q21's aggregate rewrite: one lineitem scan, one orderkey
      // repartition riding the (order,supplier) agg + per-order windows
      "q21_waiting_supplier",
      // Count–Min build: one tokenize scan into a bounded-matrix
      // partial-agg exchange; serving is a broadcast codegen'd scan
      "vocab_freq_sketch",
      // CCNet buckets: the surprisal subtree + a score-DOMAIN cumulative
      // window + broadcast threshold assignment (no doc-level sort)
      "text_perplexity_buckets",
      // PageRank: checkpoint-leaf edges, per-iteration join+agg with the
      // edge exchange reused (no source re-scan — PlanShapeSpec-policed)
      "graph_pagerank",
      // eval harness: the jaccard pair subtree + two pair-keyed distincts
      // + one counting join — nothing exceeds the pair lists
      "dedup_eval",
      // label propagation: checkpoint-leaf edges; per-round vote agg +
      // a bounded (≤ label-domain rows per dst) argmax window
      "graph_label_prop",
      // funnel: k−1 user-keyed joins of type-pruned slices (pushed step
      // filters), rollups riding the join partitioning
      "ev_funnel",
      // calendar-anchor variant: same join shape, date_trunc equality
      // instead of the duration bound
      "ev_funnel_calendar",
      // ANN recall gate: brute + IVF subtrees + |queries|·k-bounded
      // metrics joins
      "ann_recall",
      // VectorIndex serving: build+extend encodes are map-only baked
      // kernels; the serving subtree is probe-join + windowed top-k
      // with zero training stages
      "ann_ivf_incremental",
      // bitext margin: two broadcast-queries scans + bounded per-id
      // rollups + candidate join + per-src argmax
      "emb_bitext_margin",
      // Heaps curve: one tokenizing scan, token exchange collapses to
      // checkpoint indexes, windows over ≤|checkpoints| rows
      "vocab_growth_curve",
      // contamination attribution: (hash, id) exchanges only, bench
      // side DISTINCT-collapsed with its id riding
      "decontam_by_source",
      // served anomaly screen: stats subtree on the training slice +
      // ONE scan + one AQE-decided stats join per served batch
      "ev_anomaly_incremental",
      // prototypes: one scan, one (group, dim) partial-agg exchange,
      // bounded per-group assembly
      "emb_label_prototypes",
      // NCM classify: |labels|-row broadcast, query side unshuffled,
      // map-side argmax prune
      "emb_prototype_classify",
      // rank normalize: value-domain histogram + cum window over the
      // aggregated domain + one join back (2-scan floor)
      "ev_rank_normalize",
      // retention: activity collapses to (user, period) BEFORE any join;
      // the cell rollup's domain is periods², calendar-bounded
      "ev_retention",
      // line-mixture: one scan + line explode, (doc,lang) partial agg,
      // bounded per-doc window
      "text_langid_lines",
      // MAD screen: value-domain histogram + two domain windows + a
      // per-row stats join — 2-scan floor
      "ev_anomaly",
      // sketch drift: two bounded sketch subtrees + one capacity-bounded
      // token join + a TakeOrdered
      "corpus_drift_sketch"))
  targets.foreach { n =>
    println(s"=== $n ===")
    val df = SparkEntry.queries(n)(spark, sfDir)
    if (exec) {
      // execute THIS dataframe's own physical plan so its
      // AdaptiveSparkPlan finalizes (df.count() or a noop write would
      // plan a separate query and leave this one's plan un-executed,
      // hiding AQE stage reuse); rows are consumed on executors, never
      // collected to the driver
      df.queryExecution.toRdd.foreach(_ => ())
      println(df.queryExecution.executedPlan.toString)
    } else df.explain("formatted")
  }
  spark.stop()
}

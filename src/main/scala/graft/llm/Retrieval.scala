package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over a document corpus: BM25 top-k via an
  * inverted-index postings join.
  *
  * The LLM-pipeline use cases are eval-set retrieval baselines, RAG
  * candidate generation, and lexical hard-negative mining (the sparse
  * sibling of [[Similarity.hardNegatives]]). The shape is the classic
  * sparse-retrieval plan: tokenize once, build (doc, token, tf) postings,
  * join the (small) query-term set against the postings ON TOKEN — the
  * candidate set per query is the union of its terms' postings lists,
  * never a query × corpus cross product.
  *
  * Cross-engine float discipline: products/quotients are grouped
  * identically on both sides and the per-(query,doc) term-weight sum is
  * a token-ordered left fold ([[Similarity.randomProjection]]'s
  * `list_sum` discipline), so float addition order is pinned. The one
  * op that CANNOT be pinned bitwise is `ln`: the JVM intrinsic
  * `Math.log`, fdlibm `StrictMath.log` (what Spark's built-in `log`
  * emits under codegen), and glibc/DuckDB `ln` disagree pairwise by one
  * ulp on different parts of the idf domain (measured: df=373 splits
  * Strict from the other two, df=398 splits Math from the other two).
  * So scores are QUANTIZED to 10 decimal places before ranking, on both
  * engines: ulp-level score noise collapses to exact ties, the doc_id
  * tie-break makes the ranking total-ordered, and ordering differences
  * below 1e-10 — far under any semantic meaning of a BM25 score — are
  * the only behavior traded away. Same idiom as the line-stats oracle's
  * round(x, 6).
  */
object Retrieval {

  /** A materialized BM25 index: the three frames [[bm25Index]] builds and
    * [[bm25TopKAgainst]] queries. Each is a plain DataFrame so the index
    * persists as parquet (postings bucketed by token is the 100 TB
    * layout) and reloads for the index-once-query-many serving shape —
    * the Against form of the family, like [[Dedup.exactAgainst]].
    *
    *   - `postings`: (doc_id, token, tf, dl) — doc length denormalized
    *     onto the postings (the Lucene norms-in-the-index shape), so
    *     serving needs exactly one join.
    *   - `docFreq`:  (token, docfreq).
    *   - `stats`:    one row (n, toklen). */
  final case class Bm25Index(postings: DataFrame, docFreq: DataFrame,
                             stats: DataFrame)

  /** The analyzer contract a [[Bm25Index]] is built under — the BM25
    * analog of the ANN family's geometry: postings only mean what the
    * tokenizer that produced them means, so an index built by one
    * analyzer version must never be merged with, or served by, another
    * (query terms would tokenize into a different vocabulary than the
    * postings — silently wrong scores, the classic Lucene
    * analyzer-mismatch bug). BUMP THE CONTRACT STRING whenever
    * [[TextAnalysis.normalizeText]]'s semantics change. */
  private val AnalyzerContract: String =
    "graft-bm25 analyzer v1: lowercase; [^a-z0-9\\s] -> space; " +
      "collapse whitespace; trim; split on single space; drop empties"

  /** 64-bit fingerprint of [[AnalyzerContract]] — stamped into every
    * index's `stats` frame as `analyzer_fp` (one BIGINT on a 1-row
    * frame: free to carry, survives parquet), verified in-plan at
    * merge (all parts must agree) and at serve (the index must match
    * the library version tokenizing the queries). Splitmix-style fold
    * over the contract bytes. */
  val AnalyzerFingerprint: Long = {
    var h = 0x616E616C797A6572L // "analyzer"
    AnalyzerContract.getBytes("UTF-8").foreach { b =>
      h = (h ^ (b & 0xFFL)) * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32)
    }
    h
  }

  /** Normalize a stats frame to carry `analyzer_fp`: frames persisted
    * before the stamp existed are assumed built by the CURRENT
    * analyzer (the only one that has ever existed pre-stamp) — once a
    * v2 analyzer ships, unstamped frames should be treated as v1 and
    * this default flipped to a loud error. */
  private def statsWithFp(stats: DataFrame): DataFrame =
    if (stats.columns.contains("analyzer_fp")) stats
    else stats.withColumn("analyzer_fp", lit(AnalyzerFingerprint))

  /** Build the [[Bm25Index]] frames from a corpus. Plan shape: ONE
    * tokenizing scan feeds tf, docfreq and doc length (the docfreq
    * `count(when(tf > 0, …))` and the source-side isNotNull keep the
    * subtrees canonically identical → AQE ReusedExchange; see
    * [[Corpus.tfidfKeywords]]); doc length re-aggregates the post-agg tf
    * frame, never the raw corpus; `N`/`toklen` count ALL docs (empty
    * included) so avgdl matches Lucene. Null-id docs don't exist for the
    * index (consistent with countDistinct(id) ignoring nulls). */
  def bm25Index(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): Bm25Index = {
    // the isNotNull declaration is load-bearing: the doc-length join
    // pushes isnotnull(doc_id) into ITS branch's scan, and without the
    // same filter on the tf branch the two subtrees stop canonicalizing
    // together — a whole second tokenize scan (the unigramSurprisal
    // discipline)
    val base = docs.filter(col(idCol).isNotNull)
    val toks = base.select(col(idCol).as("doc_id"),
        explode(split(TextAnalysis.normalizeText(col(textCol)), " "))
          .as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // docfreq: the conditional count pins the tf column so this subtree
    // stays canonically equal to the join branch (ReusedExchange; see
    // tfidfKeywords scaladoc for why count(1)/count(tf) would break it)
    val dfreq = tf.groupBy("token")
      .agg(count(when(col("tf") > 0, lit(1))).as("docfreq"))
    // doc length from the post-agg tf frame (|docs|·|vocab∩doc| rows,
    // already exchanged) — not a second corpus tokenize
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    // N over ALL docs (empty included) + total token count → avgdl;
    // two scalar rows, broadcast. The id-only scan is genuinely narrow.
    val ndocs = base.agg(countDistinct(col(idCol)).as("n"))
    val toklen = dl.agg(coalesce(sum("dl"), lit(0L)).as("toklen"))
    Bm25Index(tf.join(dl, "doc_id"), dfreq,
      ndocs.crossJoin(toklen)
        .withColumn("analyzer_fp", lit(AnalyzerFingerprint)))
  }

  /** Merge per-slice [[Bm25Index]] parts into the index of their union
    * — incremental index MAINTENANCE, the retrieval sibling of
    * [[Corpus.mergeHeavyHitterSketches]]/[[Corpus.mergeDistinctSketches]]:
    * yesterday's index plus today's batch-index equals a full rebuild,
    * exactly. Every merged statistic is integer arithmetic (postings
    * and doc lengths are doc-local → plain union; docfreq sums per
    * token; N and toklen add), so serving from the merged index is
    * BIT-IDENTICAL to serving from `bm25Index` of the union — the
    * oracle for the merge path IS the full-rebuild twin.
    *
    * CONTRACT: parts must cover DISJOINT doc-id sets (each doc indexed
    * by exactly one part). A doc present in two parts double-counts in
    * docfreq/N/toklen — this is not checkable without a join over the
    * postings, so it is the caller's invariant (the natural slicing —
    * by arrival batch — satisfies it by construction). ANALYZER
    * equality, by contrast, IS verified: the parts' `analyzer_fp`
    * stamps are compared in-plan (a min/max over the 1-row stats union
    * — zero extra scans) and a mismatch raises naming both
    * fingerprints, instead of silently merging two vocabularies. */
  def mergeBm25Indexes(parts: Seq[Bm25Index]): Bm25Index = {
    require(parts.nonEmpty, "mergeBm25Indexes needs at least one part")
    val postings = parts.map(_.postings).reduce(_ unionByName _)
    val docFreq = parts.map(_.docFreq).reduce(_ unionByName _)
      .groupBy("token").agg(sum("docfreq").as("docfreq"))
    val stats = parts.map(p => statsWithFp(p.stats)).reduce(_ unionByName _)
      .agg(sum("n").as("n"), sum("toklen").as("toklen"),
        min("analyzer_fp").as("__fmin"), max("analyzer_fp").as("__fmax"))
      .select(col("n"), col("toklen"),
        when(col("__fmin") === col("__fmax"), col("__fmin"))
          .otherwise(raise_error(concat(
            lit("mergeBm25Indexes: analyzer fingerprint mismatch across " +
              "parts ("), col("__fmin").cast("string"), lit(" vs "),
            col("__fmax").cast("string"),
            lit(") — indexes built by different analyzer versions " +
              "cannot merge; rebuild the older parts"))).cast("long"))
          .as("analyzer_fp"))
    Bm25Index(postings, docFreq, stats)
  }

  /** BM25 top-k against a pre-built (possibly parquet-reloaded)
    * [[Bm25Index]] — the serving path: query terms ⋈ docFreq (tiny ×
    * token-partitioned, idf + optional stop-term prune BEFORE the
    * expansion), then ⋈ postings on token (the one candidate-set
    * shuffle), token-ordered fold, 1e-10 quantization, map-side
    * rank-pruned top-k. Semantics and output exactly as [[bm25TopK]] —
    * which IS this, over [[bm25Index]] of its docs argument. */
  def bm25TopKAgainst(index: Bm25Index, queries: DataFrame, k: Int = 10,
                      k1: Double = 1.2, b: Double = 0.75,
                      queryIdCol: String = "query_id",
                      queryTextCol: String = "query_text",
                      maxDfRatio: Double = 1.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxDfRatio > 0.0 && maxDfRatio <= 1.0,
      s"maxDfRatio must be in (0, 1], got $maxDfRatio")

    val qterms = queries.select(col(queryIdCol).as("query_id"),
        explode(split(TextAnalysis.normalizeText(col(queryTextCol)), " "))
          .as("token"))
      .filter(length(col("token")) > 0)
      .distinct()

    // the serve-side analyzer guard, in-plan on the 1-row stats frame
    // (zero extra scans): an index built by a different analyzer
    // version than the one tokenizing these queries raises instead of
    // scoring a mismatched vocabulary
    val stats = statsWithFp(index.stats).filter(
      when(!(col("analyzer_fp") <=> lit(AnalyzerFingerprint)),
        raise_error(concat(
          lit("bm25TopKAgainst: index analyzer fingerprint "),
          col("analyzer_fp").cast("string"),
          lit(s" does not match this library's $AnalyzerFingerprint — " +
            "the index was built by a different analyzer version; " +
            "rebuild it before serving"))))
        .otherwise(lit(true)))

    // idf per query term (query set × token-partitioned docfreq), with
    // the optional stop-term prune BEFORE postings expansion
    val qidf = qterms.join(index.docFreq, "token")
      .crossJoin(broadcast(stats))
      .filter(col("docfreq") <= col("n") * lit(maxDfRatio))
      .select(col("query_id"), col("token"),
        // platformLn, not functions.log: Spark's log codegen is
        // StrictMath (fdlibm), an ulp off libm/DuckDB ln on this domain
        graft.expressions.GraftExpressions.platformLn(
          (col("n") - col("docfreq") + lit(0.5)) /
            (col("docfreq") + lit(0.5)) + lit(1.0)).as("idf"),
        // avgdl as a scalar double, grouped exactly as the oracle spells
        // it: CAST(toklen AS DOUBLE) / n
        (col("toklen").cast("double") / col("n")).as("avgdl"))

    // the per-term weight is grouped (idf * (num/den)) — the oracle
    // parenthesizes identically
    val num = col("tf") * (lit(k1) + lit(1.0))
    val den = col("tf") +
      lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    val weighted = qidf.join(index.postings, "token")
      .select(col("query_id"), col("doc_id"), col("token"),
        (col("idf") * (num / den)).as("w"))

    // deterministic cross-row sum: token-ordered left fold (tokens are
    // unique per (query, doc) — tf is already grouped — so the struct
    // sort is a total order), through the compiled StructDoubleFieldSum
    // kernel (functions.aggregate interprets its lambda per element —
    // at |queries|·|candidates| groups that interpretation dominated
    // the serving stage); then the 1e-10 quantization that makes the
    // score engine-portable despite the ln ulp spread (scaladoc)
    val summed = weighted.groupBy("query_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("token"), col("w"))))
        .as("tw"))
      .select(col("query_id"), col("doc_id"),
        round(graft.expressions.GraftExpressions
          .structDoubleFieldSum(col("tw"), 2, 1), 10).as("score"))

    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    summed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
  }

  /** BM25 top-k document retrieval, one-shot form:
    * [[bm25TopKAgainst]] over [[bm25Index]] of `docs` — the same plan,
    * with the index subtrees inlined (the 3-scan floor and
    * WindowGroupLimit are plan-guarded in PlanShapeSpec on THIS form).
    *
    * Scoring is the Lucene-variant BM25: per matched term
    * `idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with
    * `idf = ln((N − df + 0.5)/(df + 0.5) + 1)`, summed over the query's
    * DISTINCT terms (the common k3→∞ simplification: query-side term
    * frequency is ignored). `N` counts all docs (empty ones included) and
    * `avgdl` averages over all N, so empty documents influence the length
    * normalization exactly as in Lucene. `maxDfRatio` < 1 drops query
    * terms whose docfreq exceeds N·ratio — the standard stop-term prune;
    * it changes scores, so the default 1.0 is exact BM25 and the prune
    * is an explicit caller opt-in. Skew lives where it does in every
    * inverted index: stop-term postings lists.
    *
    * Output: (query_id, doc_id, rank, score), rank 1..k per query.
    * Queries with no indexed terms produce no rows.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text",
               queryIdCol: String = "query_id",
               queryTextCol: String = "query_text",
               maxDfRatio: Double = 1.0): DataFrame =
    bm25TopKAgainst(bm25Index(docs, idCol, textCol), queries, k, k1, b,
      queryIdCol, queryTextCol, maxDfRatio)

  /** Certify a (typically merged or long-lived) [[Bm25Index]] against a
    * from-scratch rebuild over the docs it claims to cover — the BM25
    * member of the docs/sketches.md "certification failure →
    * regenerate" lifecycle, and the teeth behind
    * [[mergeBm25Indexes]]' disjointness contract (the one invariant a
    * fingerprint CANNOT check): serve `queries` from the index and
    * from `bm25Index(docs)`, then compare the two top-k lists exactly
    * — rank and quantized score both, since merge ≡ rebuild is
    * bit-exact by construction, so ANY divergence (overlapping parts,
    * a lost batch, postings corruption) shows as `certified = false`.
    *
    * Output: one row per query —
    * (query_id, n_served, n_rebuilt, n_agree, certified), where
    * `n_agree` counts (doc_id, rank, score)-identical rows and
    * `certified` ⇔ all three counts coincide. Queries absent from both
    * runs (no indexed terms) produce no row — they certify nothing
    * either way. Cost: one rebuild of the index (the point: a
    * certification is a paid audit, run on a sampled query set at a
    * cadence, not per serve) plus |queries|·k-bounded comparison. */
  def certifyBm25Index(index: Bm25Index, docs: DataFrame,
                       queries: DataFrame, k: Int = 10,
                       k1: Double = 1.2, b: Double = 0.75,
                       idCol: String = "doc_id", textCol: String = "text",
                       queryIdCol: String = "query_id",
                       queryTextCol: String = "query_text"): DataFrame = {
    val served = bm25TopKAgainst(index, queries, k, k1, b,
      queryIdCol, queryTextCol)
    val rebuilt = bm25TopKAgainst(bm25Index(docs, idCol, textCol),
      queries, k, k1, b, queryIdCol, queryTextCol)
    // ONE full-outer join + ONE aggregation, each serve subtree
    // referenced exactly once: (query_id, rank) is unique per side
    // (a row_number), so matching on the full tuple is 1:1 and the
    // per-query counts fall out of a single pass. The earlier
    // three-frame shape (two per-side counts + an agreement join)
    // referenced each UNPERSISTED serve twice — whether the run paid
    // 2 serves + 2 rebuilds or 1 + 1 depended on AQE happening to
    // reuse the duplicated exchanges, the measured whole-run 6×
    // bimodality on this audit (r17 finding #1)
    val s1 = served.select(col("query_id"), col("doc_id"), col("rank"),
      col("score"), lit(1L).as("__served"))
    val r1 = rebuilt.select(col("query_id"), col("doc_id"), col("rank"),
      col("score"), lit(1L).as("__rebuilt"))
    s1.join(r1, Seq("query_id", "doc_id", "rank", "score"), "full")
      .groupBy("query_id").agg(
        sum(coalesce(col("__served"), lit(0L))).as("n_served"),
        sum(coalesce(col("__rebuilt"), lit(0L))).as("n_rebuilt"),
        sum(when(col("__served").isNotNull &&
          col("__rebuilt").isNotNull, 1L).otherwise(0L)).as("n_agree"))
      .withColumn("certified",
        col("n_served") === col("n_agree") &&
          col("n_rebuilt") === col("n_agree"))
  }

  /** Materialize a [[Bm25Index]] to parquet and reload it — index
    * COMPACTION, the missing step between daily [[mergeBm25Indexes]]
    * calls and a long-lived serving index: a merge is a lazy union of
    * its parts' lineage, so N days of merges means N postings subtrees
    * re-scanned (and the docfreq re-aggregated) on EVERY serve.
    * Compacting writes the three frames once — postings REPARTITIONED
    * BY TOKEN (each token's postings list lands contiguously: the
    * Lucene segment-merge layout, and exactly the join key
    * [[bm25TopKAgainst]] shuffles on), docfreq pre-aggregated, stats
    * (with its `analyzer_fp` stamp) as one row — and returns the index
    * reading flat parquet, serving-identical to the union it replaced
    * (spec'd: compact(merge) ≡ rebuild, which merge already equals
    * bit-for-bit). Run it at the same maintenance cadence as
    * [[certifyBm25Index]]; at 100 TB the postings write is the one
    * data-sized job (|docs|·|vocab∩doc| rows, one shuffle), the other
    * two are token- and row-bounded. */
  def compactBm25Index(index: Bm25Index, path: String): Bm25Index = {
    val base = path.stripSuffix("/")
    index.postings.repartition(col("token"))
      .write.mode("overwrite").parquet(s"$base/postings")
    index.docFreq.write.mode("overwrite").parquet(s"$base/docfreq")
    statsWithFp(index.stats).write.mode("overwrite").parquet(s"$base/stats")
    loadBm25Index(index.postings.sparkSession, base)
  }

  /** Reload a [[compactBm25Index]]-materialized index from parquet —
    * the serve-side half of the compaction lifecycle. No read launches
    * a schema-inference job: `docfreq` has a fixed schema; the
    * postings' (whose `doc_id` type is the corpus id's) and the stats'
    * (an index persisted before the `analyzer_fp` stamp has none, and
    * must load without one for [[statsWithFp]] to supply it) come from
    * one footer each on the driver. */
  def loadBm25Index(spark: org.apache.spark.sql.SparkSession,
                    path: String): Bm25Index = {
    val base = path.stripSuffix("/")
    def footerRead(dir: String) =
      spark.read.schema(graft.core.ParquetFooter.schema(spark, dir))
        .parquet(dir)
    Bm25Index(footerRead(s"$base/postings"),
      spark.read.schema("token STRING, docfreq BIGINT")
        .parquet(s"$base/docfreq"),
      footerRead(s"$base/stats"))
  }

  /** Land an index state at `path` with docfreq and toklen DERIVED from
    * the landed postings instead of re-evaluating the index's own
    * lineage per frame — the minimal-pass compaction: [[compactBm25Index]]
    * runs THREE independent write actions over one lazy index, so a
    * tokenize-backed lineage (a fresh [[bm25Index]], or an
    * [[applyFeedToBm25Index]] union) is re-evaluated once per frame
    * (cross-action exchange reuse does not exist). Here the full lineage
    * is evaluated exactly once (the postings write); `docfreq` is one
    * count-per-token aggregation and `toklen` one sum(tf) over the
    * LANDED parquet, and `n`/`analyzer_fp` arrive as the caller's 1-row
    * `nFp` frame. Sound under the family invariant every index built,
    * merged, applied or compacted by this object maintains: `docFreq`
    * equals the per-token doc counts of `postings`, and `toklen` equals
    * sum(tf) (empty docs hold no postings and contribute 0 to both, so
    * only `n` needs the corpus-side count). Reloads ride explicit
    * schemas — zero footer-inference jobs. */
  private[llm] def landBm25IndexDerived(postings: DataFrame,
                                        nFp: DataFrame,
                                        path: String): Bm25Index = {
    val spark = postings.sparkSession
    val base = path.stripSuffix("/")
    val pSchema = postings.schema
    postings.repartition(col("token"))
      .write.mode("overwrite").parquet(s"$base/postings")
    val landed = spark.read.schema(pSchema).parquet(s"$base/postings")
    val dfreq = landed.groupBy("token")
      .agg(count(lit(1)).as("docfreq"))
    val dfSchema = dfreq.schema
    dfreq.write.mode("overwrite").parquet(s"$base/docfreq")
    val stats = nFp.crossJoin(
        landed.agg(coalesce(sum("tf"), lit(0L)).as("toklen")))
      .select(col("n"), col("toklen"), col("analyzer_fp"))
    val sSchema = stats.schema
    stats.write.mode("overwrite").parquet(s"$base/stats")
    Bm25Index(landed,
      spark.read.schema(dfSchema).parquet(s"$base/docfreq"),
      spark.read.schema(sSchema).parquet(s"$base/stats"))
  }

  /** Build AND land the [[Bm25Index]] of `docs` at `path` in the minimal
    * number of passes — serving-identical to
    * `compactBm25Index(bm25Index(docs), path)` (spec'd frame-for-frame)
    * but the tokenize lineage runs ONCE (inside the postings write)
    * instead of once per frame write: docfreq/toklen derive from the
    * landed postings ([[landBm25IndexDerived]]), and `n` is one id-only
    * corpus scan (the empty-doc-inclusive count the postings cannot
    * carry). The bootstrap path of the tracked-index lifecycle. */
  def buildCompactedBm25Index(docs: DataFrame, path: String,
                              idCol: String = "doc_id",
                              textCol: String = "text"): Bm25Index = {
    val ix = bm25Index(docs, idCol, textCol)
    val nFp = docs.filter(col(idCol).isNotNull)
      .agg(countDistinct(col(idCol)).as("n"))
      .withColumn("analyzer_fp", lit(AnalyzerFingerprint))
    landBm25IndexDerived(ix.postings, nFp, path)
  }

  /** Consume a LANDED [[graft.core.Lakehouse.changesBetween]] window into
    * a compacted index and land the next state at `path` — the fusion of
    * [[applyFeedToBm25Index]] + [[compactBm25Index]] the checkpointed
    * consumer runs every cycle, in the minimal number of passes.
    * Equivalence (spec'd frame-for-frame against the unfused pair, and
    * oracled through the tracked gate's verbatim-shared twin):
    *
    *  - postings′ = (postings ∖ deleted docs) ∪ insert postings — the
    *    same anti-join + union, evaluated ONCE (the insert tokenize ran
    *    3× under the unfused pair: once per frame write).
    *  - docfreq′: the unfused path subtracts the delete batch's
    *    tokenized per-token doc counts and merges the insert batch's;
    *    under the family invariant (docFreq ≡ per-token doc counts of
    *    postings; delete rows carry the indexed text verbatim — the CDC
    *    feed contract the oracle pins) that equals counting the landed
    *    postings′ directly — zero delete-side tokenize at all.
    *  - toklen′ likewise: sum(tf) over postings′ ≡ toklen − deleted
    *    docs' tokens + inserted docs' tokens.
    *  - n′ = n − |distinct delete ids| + |distinct insert ids| — the
    *    merge path's integer sums, as 1-row arithmetic over the feed
    *    (an id-only scan, no tokenize); the analyzer fingerprint
    *    equality check rides the same row exactly as before.
    *
    * Same window discipline as [[applyFeedToBm25Index]]: in-order,
    * exactly-once, update = delete(old)+insert(new). */
  def applyFeedToBm25IndexCompacted(index: Bm25Index, feed: DataFrame,
                                    path: String,
                                    idCol: String = "doc_id",
                                    textCol: String = "text"): Bm25Index = {
    val delKeys = feed.filter(col("__op") === "delete")
      .select(col(idCol).as("doc_id")).distinct()
    val ins = feed.filter(col("__op") === "insert")
      .select(col(idCol), col(textCol))
    val postings = index.postings
      .join(delKeys, Seq("doc_id"), "left_anti")
      .unionByName(bm25Index(ins, idCol, textCol).postings)
    val deltas = feed.agg(
      count_distinct(when(col("__op") === "delete", col(idCol)))
        .as("__dn"),
      count_distinct(when(col("__op") === "insert", col(idCol)))
        .as("__in"))
    val nFp = statsWithFp(index.stats).crossJoin(deltas)
      .select((col("n") - col("__dn") + col("__in")).as("n"),
        when(col("analyzer_fp") === lit(AnalyzerFingerprint),
          col("analyzer_fp"))
          .otherwise(raise_error(concat(
            lit("applyFeedToBm25IndexCompacted: analyzer fingerprint " +
              "mismatch ("),
            col("analyzer_fp").cast("string"),
            lit(s" vs $AnalyzerFingerprint"),
            lit(") — the index was built by a different analyzer " +
              "version; rebuild it"))).cast("long"))
          .as("analyzer_fp"))
    landBm25IndexDerived(postings, nFp, path)
  }

  /** The outcome of one [[maintainBm25Index]] cycle: the index to serve
    * from, its (re-)certification frame ([[certifyBm25Index]] schema),
    * and whether the regenerate path fired. */
  final case class Bm25Maintenance(index: Bm25Index,
                                   certificate: DataFrame,
                                   rebuilt: Boolean)

  /** The BM25 certify→regenerate maintenance LOOP — the sparse sibling
    * of [[Similarity.maintainVectorIndex]], wiring
    * [[certifyBm25Index]]'s audit numbers to an action: merge today's
    * batch-index into the serving index ([[mergeBm25Indexes]] —
    * analyzer fingerprints verified in-plan), certify the merged index
    * against a from-scratch rebuild over the docs it claims to cover,
    * and when ANY sampled query fails to certify — the disjointness
    * violations, lost batches, and postings corruption a fingerprint
    * cannot catch — REBUILD from `docs` and re-certify (trivially green:
    * the rebuild is its own twin; returned so the caller's gate reads
    * one schema either way). Merge ≡ rebuild is bit-exact under the
    * contract, so a fired trigger always means a real integrity breach,
    * never float noise. Cost: certification already pays one rebuild
    * (the audit's price — run at a maintenance cadence on a sampled
    * query set); the trigger path pays nothing further beyond the
    * re-certify's bounded comparison. */
  def maintainBm25Index(index: Bm25Index, batch: DataFrame,
                        docs: DataFrame, queries: DataFrame, k: Int = 10,
                        k1: Double = 1.2, b: Double = 0.75,
                        idCol: String = "doc_id", textCol: String = "text",
                        queryIdCol: String = "query_id",
                        queryTextCol: String = "query_text"): Bm25Maintenance = {
    val merged = mergeBm25Indexes(Seq(index,
      bm25Index(batch, idCol, textCol)))
    // materialized ONCE, driver-side (|queries| rows — bounded,
    // deliberate): the gate below and the caller consume the same
    // already-executed audit instead of re-running it. NOT persist():
    // a leaked cache entry outlives the cycle and the CacheManager
    // substitutes it into ANY later plan that canonicalizes equal —
    // the r17 bench bimodality was exactly that (a retried suite's
    // second attempt served certify from the first attempt's leaked
    // cert cache, reporting a 6× phantom speedup on the audit).
    val cert = materializeBounded(certifyBm25Index(merged, docs,
      queries, k, k1, b, idCol, textCol, queryIdCol, queryTextCol))
    val allGreen = cert.agg(
      coalesce(min(col("certified")), lit(true)).as("ok"))
      .head().getBoolean(0)
    if (allGreen) Bm25Maintenance(merged, cert, rebuilt = false)
    else {
      val regenerated = bm25Index(docs, idCol, textCol)
      Bm25Maintenance(regenerated,
        materializeBounded(certifyBm25Index(regenerated, docs, queries,
          k, k1, b, idCol, textCol, queryIdCol, queryTextCol)),
        rebuilt = true)
    }
  }

  /** Execute a BOUNDED audit frame once and hand it back as a local
    * relation: the caller can consume it repeatedly without
    * re-execution, and — unlike `persist()` — nothing enters the
    * CacheManager, so no later query whose plan canonicalizes equal
    * can silently serve from a leaked cache entry. Only for frames
    * bounded by construction (certificates: one row per sampled
    * query). */
  private[llm] def materializeBounded(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Consume a [[graft.core.Lakehouse.changesBetween]] feed into a
    * [[Bm25Index]] — the sparse sibling of
    * [[Similarity.applyFeedToVectorIndex]]: the index tracks a
    * mutating lakehouse corpus by window deltas, never a corpus
    * re-tokenize. BM25's global statistics make removal arithmetic,
    * not just filtering: the feed's DELETE rows carry the full doc
    * text, so their exact contributions (per-token docfreq, doc count,
    * token count — empty docs included, Lucene-parity) come from
    * tokenizing the FEED (feed-sized work) and subtracting
    * integer-exactly; postings drop by one anti-join over the index's
    * own postings; tokens whose docfreq reaches zero drop (rebuild
    * parity); the insert rows then merge as a batch index
    * ([[mergeBm25Indexes]] — analyzer fingerprints verified in-plan on
    * BOTH the subtraction and the merge). Apply windows IN ORDER,
    * EXACTLY ONCE — an update arrives as delete(old)+insert(new), so
    * integer subtraction is exact, but a replayed window would
    * double-subtract (track (epoch, gen) like any feed consumer;
    * [[graft.core.Lakehouse.changesBetween]] raises on expired and
    * cross-compaction windows). Serving from the maintained index is
    * BIT-IDENTICAL to a from-scratch [[bm25Index]] of the live corpus
    * (oracled, twin shared verbatim). */
  def applyFeedToBm25Index(index: Bm25Index, feed: DataFrame,
                           idCol: String = "doc_id",
                           textCol: String = "text"): Bm25Index = {
    val dels = feed.filter(col("__op") === "delete")
      .select(col(idCol), col(textCol))
    val ins = feed.filter(col("__op") === "insert")
      .select(col(idCol), col(textCol))
    val delIx = bm25Index(dels, idCol, textCol)
    val delKeys = dels.select(col(idCol).as("doc_id")).distinct()
    val postings = index.postings.join(delKeys, Seq("doc_id"), "left_anti")
    val docFreq = index.docFreq
      .join(delIx.docFreq.withColumnRenamed("docfreq", "__sub"),
        Seq("token"), "left")
      .select(col("token"),
        (col("docfreq") - coalesce(col("__sub"), lit(0L))).as("docfreq"))
      .filter(col("docfreq") > 0)
    // subtract n/toklen on the 1-row stats frames, with the same
    // in-plan analyzer equality the merge path enforces — subtracting
    // a v2-analyzer delta from a v1 index would corrupt silently
    val stats = statsWithFp(index.stats).crossJoin(
        delIx.stats.select(col("n").as("__dn"),
          col("toklen").as("__dt"), col("analyzer_fp").as("__dfp")))
      .select((col("n") - col("__dn")).as("n"),
        (col("toklen") - col("__dt")).as("toklen"),
        when(col("analyzer_fp") === col("__dfp"), col("analyzer_fp"))
          .otherwise(raise_error(concat(
            lit("applyFeedToBm25Index: analyzer fingerprint mismatch ("),
            col("analyzer_fp").cast("string"), lit(" vs "),
            col("__dfp").cast("string"),
            lit(") — the index was built by a different analyzer " +
              "version; rebuild it"))).cast("long"))
          .as("analyzer_fp"))
    mergeBm25Indexes(Seq(Bm25Index(postings, docFreq, stats),
      bm25Index(ins, idCol, textCol)))
  }

  /** Reciprocal-rank fusion — the standard sparse+dense hybrid-retrieval
    * combiner (Cormack et al. 2009; what every hybrid RAG stack runs
    * over its BM25 and ANN lists): fused score per (query, doc) is
    * `Σ_sources 1/(rrfK + rank)`, using only RANKS, so incomparable
    * score scales (BM25 vs cosine) fuse without calibration. A doc
    * absent from a source simply contributes nothing.
    *
    * Each input ranking is (query_id, doc_id, rank) — [[bm25TopK]] and
    * [[Similarity.bruteForceTopK]]/ivf/pq outputs after a rename. The
    * contribution sum is folded in source order (sorted struct fold, the
    * BM25 discipline), and each term is one exact IEEE division of small
    * integers, so fused scores are bit-exact cross-engine with NO
    * quantization. Final ranking: (score desc, doc_id), map-side
    * rank-pruned like every window-top-k here.
    *
    * Scale shape: inputs are already top-k lists — |queries|·k·sources
    * rows — so everything after the source union is small; one
    * (query, doc) exchange, one bounded window. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10,
              rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0 && rrfK >= 0, s"bad k=$k / rrfK=$rrfK")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("doc_id"),
        (lit(1.0) / (lit(rrfK) + col("rank"))).as("contrib"),
        lit(i).as("src"))
    }
    val fused = tagged.reduce(_ unionByName _)
      .groupBy("query_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("src"), col("contrib"))))
        .as("cs"))
      .select(col("query_id"), col("doc_id"),
        graft.expressions.GraftExpressions
          .structDoubleFieldSum(col("cs"), 2, 1).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
  }

  /** RECALL-GATED hybrid serving at deployment nprobe — the steady-state
    * form of the hybrid stack: BM25 from the persisted inverted index,
    * dense from the persisted [[Similarity.VectorIndex]] probed at
    * `nprobe` ≪ nlist (the real serving cost — the exhaustive-probe
    * hybrid is the oracle twin, not the deployment), fused by
    * [[rrfFuse]]. The approximation is NOT taken on faith: the vector
    * index is first certified at THIS nprobe on the hash-deterministic
    * sample ([[Similarity.certifyVectorIndex]] — |sample|·k-bounded,
    * amortized across the query batch), and an average recall below
    * `minRecall` RAISES naming both numbers (the library's loud-failure
    * discipline) instead of silently fusing a degraded dense list —
    * the caller escalates nprobe or runs
    * [[Similarity.maintainVectorIndex]] to regenerate the geometry.
    *
    * `queries` carries BOTH modalities per row: `queryTextCol` for the
    * sparse leg, `vecCol` for the dense leg. Scale shape: one bounded
    * certification + the two serving plans (each the documented
    * index-serve shape) + a |queries|·k·2-bounded fusion. */
  def hybridTopKAgainst(index: Bm25Index,
                        vecIndex: Similarity.VectorIndex,
                        queries: DataFrame, k: Int = 10,
                        nprobe: Int = 4, minRecall: Double = 0.9,
                        sampleN: Int = 16, rrfK: Int = 60,
                        queryIdCol: String = "query_id",
                        queryTextCol: String = "query_text",
                        vecCol: String = "embedding"): DataFrame = {
    require(minRecall >= 0.0 && minRecall <= 1.0,
      s"hybridTopKAgainst: minRecall=$minRecall outside [0, 1]")
    val cert = Similarity.certifyVectorIndex(vecIndex, k, nprobe, sampleN)
      .agg(avg("recall")).head()
    val recall = if (cert.isNullAt(0)) 0.0 else cert.getDouble(0)
    require(recall >= minRecall,
      f"hybridTopKAgainst: IVF serving at nprobe=$nprobe certifies " +
        f"recall@$k = $recall%.4f < floor $minRecall%.4f on the " +
        "deterministic sample — escalate nprobe or regenerate the " +
        "index (maintainVectorIndex) before serving this hybrid")
    val sparse = bm25TopKAgainst(index, queries, k,
      queryIdCol = queryIdCol, queryTextCol = queryTextCol)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = Similarity.ivfTopKAgainst(vecIndex,
        queries.select(col(queryIdCol), col(vecCol)), k, nprobe,
        idCol = queryIdCol, vecCol = vecCol)
      .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(sparse, dense), k, rrfK)
  }

  /** Per-query ranking-quality metrics — the evaluation side of the
    * retrieval family: recall@k, reciprocal rank (MRR's per-query term)
    * and nDCG@k of a `run` (query_id, doc_id, rank) against a binary
    * `truth` relevance set (query_id, doc_id).
    *
    * Exactness: `hits`/`n_rel` are integers, recall is their round-6
    * quotient (the dup-frac idiom); `rr = 1/first_rel_rank` is one exact
    * IEEE division (0.0 when nothing relevant ranked). nDCG needs logs —
    * gain 1/log2(r+1) is computed as `ln(2)/ln(r+1)` with the platform
    * ln and the DCG/IDCG sums fold in rank order, then the final
    * quotient is quantized to 10 dp (the BM25 ln-ulp discipline —
    * Retrieval scaladoc).
    *
    * Queries with an empty truth set have no definable recall/nDCG and
    * are dropped (inner join on the truth aggregate); a query in truth
    * but absent from the run scores 0 on everything only if the caller
    * unions it in — the run frame drives. At scale both inputs are
    * top-k-sized lists, so every join and window here is
    * |queries|·max(k, n_rel)-bounded — nothing touches a corpus. */
  def rankingMetrics(run: DataFrame, truth: DataFrame,
                     k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val ln2 = graft.expressions.GraftExpressions.platformLn(lit(2.0))
    // dedup the truth pairs defensively: a duplicated (query, doc) row
    // would MULTIPLY the matching run row through the left join (hits
    // and DCG double-count) and inflate n_rel — relevance is a set
    val uniq = truth.select(col("query_id"), col("doc_id")).distinct()
    val rel = uniq.select(col("query_id"), col("doc_id"), lit(1).as("rel"))
    val nrel = uniq.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val per = run.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("rel"), lit(0))).cast("long").as("hits"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"),
        // collect_list drops the nulls of non-relevant ranks; the sort
        // pins the DCG fold order
        sort_array(collect_list(when(col("rel") === 1, col("rank"))))
          .as("rel_ranks"))
    per.join(nrel, "query_id")
      .select(col("query_id"), col("n_rel"), col("hits"),
        round(col("hits").cast("double") / col("n_rel"), 6).as("recall"),
        coalesce(lit(1.0) / col("first_rel"), lit(0.0)).as("rr"),
        round(
          aggregate(col("rel_ranks"), lit(0.0), (acc, r) =>
            acc + ln2 / graft.expressions.GraftExpressions
              .platformLn(r + lit(1.0))) /
          aggregate(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))),
            lit(0.0), (acc, i) =>
              acc + ln2 / graft.expressions.GraftExpressions
                .platformLn(i + lit(1.0))),
          10).as("ndcg"))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.llm.Retrieval

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def docs3 = Seq(
    (1L, "apple banana apple cherry"),
    (2L, "banana cherry cherry date"),
    (3L, "apple date")
  ).toDF("doc_id", "text")

  test("bm25TopK matches a plain-Scala BM25 reference on a hand-sized corpus") {
    val q = Seq((10L, "apple cherry")).toDF("query_id", "query_text")
    val got = Retrieval.bm25TopK(docs3, q, k = 3)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()

    // independent reference: classic Lucene-variant BM25 over the same
    // tokenization, k1 = 1.2, b = 0.75
    val corpus = Map(
      1L -> Seq("apple", "banana", "apple", "cherry"),
      2L -> Seq("banana", "cherry", "cherry", "date"),
      3L -> Seq("apple", "date"))
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    def dfOf(t: String) = corpus.values.count(_.contains(t)).toDouble
    def score(d: Long, terms: Set[String]): Double = {
      val toks = corpus(d)
      val dl = toks.size.toDouble
      terms.toSeq.sorted.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val idf = math.log((n - dfOf(t) + 0.5) / (dfOf(t) + 0.5) + 1.0)
          // grouped exactly as the engine: idf * (num / den)
          idf * ((tf * (1.2 + 1.0)) /
            (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
        }
      }.sum
    }
    val want = corpus.keys.toSeq
      .map(d => (d, score(d, Set("apple", "cherry"))))
      .filter(_._2 > 0)
      .sortBy { case (d, s) => (-s, d) }
      .zipWithIndex
      .map { case ((d, s), i) =>
        (10L, d, i + 1, BigDecimal(s).setScale(10,
          BigDecimal.RoundingMode.HALF_UP).toDouble) }
    assert(got.toSeq == want,
      s"got ${got.toSeq.mkString(",")} want ${want.mkString(",")}")
    // doc 1 carries both terms with tf(apple)=2 → must rank first
    assert(got.head._2 == 1L)
  }

  test("bm25TopK is a postings join: docs without query terms never appear") {
    val q = Seq((10L, "banana")).toDF("query_id", "query_text")
    val got = Retrieval.bm25TopK(docs3, q, k = 10)
    // doc 3 has no 'banana' → absent even with k > corpus size
    assert(got.filter(col("doc_id") === 3L).isEmpty)
    assert(got.count() == 2)
  }

  test("bm25TopK: queries with no indexed terms yield no rows; empty docs shape avgdl") {
    val docs = docs3.union(Seq((4L, "")).toDF("doc_id", "text"))
    val q = Seq((10L, "zzz qqq"), (11L, "date")).toDF("query_id", "query_text")
    val got = Retrieval.bm25TopK(docs, q, k = 5)
    assert(got.filter(col("query_id") === 10L).isEmpty)
    // N = 4 (empty doc counts), avgdl = 10/4: check one score end-to-end
    val s = got.filter(col("query_id") === 11L && col("doc_id") === 3L)
      .select("score").as[Double].head()
    val idf = math.log((4.0 - 2 + 0.5) / (2 + 0.5) + 1.0)
    val expect = idf * ((1.0 * (1.2 + 1.0)) /
      (1.0 + 1.2 * (1.0 - 0.75 + 0.75 * 2.0 / (10.0 / 4.0))))
    assert(s == BigDecimal(expect).setScale(10,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("maxDfRatio prunes stop terms before the postings expansion") {
    // 'apple' df=2/3 > 0.5 → pruned; only 'cherry' (df=2/3... also pruned)
    // use 'banana' df=2/3 and 'date' df=2/3: with ratio 0.7 all survive,
    // with ratio 0.5 every query term is gone
    val q = Seq((10L, "apple cherry")).toDF("query_id", "query_text")
    val pruned = Retrieval.bm25TopK(docs3, q, k = 3, maxDfRatio = 0.5)
    assert(pruned.isEmpty)
    val kept = Retrieval.bm25TopK(docs3, q, k = 3, maxDfRatio = 0.7)
    assert(kept.count() > 0)
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs3, q, k = 3, maxDfRatio = 0.0)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs3, q, k = 0)
    }
  }

  test("bm25Index round-trips through parquet and serves identically") {
    import graft.llm.Retrieval.Bm25Index
    val q = Seq((10L, "apple cherry"), (11L, "date banana"))
      .toDF("query_id", "query_text")
    val direct = Retrieval.bm25TopK(docs3, q, k = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25").toString
    val idx = Retrieval.bm25Index(docs3)
    idx.postings.write.parquet(s"$dir/postings")
    idx.docFreq.write.parquet(s"$dir/docfreq")
    idx.stats.write.parquet(s"$dir/stats")
    val reloaded = Bm25Index(
      spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/docfreq"),
      spark.read.parquet(s"$dir/stats"))
    val served = Retrieval.bm25TopKAgainst(reloaded, q, k = 3)
    assert(served.exceptAll(direct).isEmpty && direct.exceptAll(served).isEmpty)
  }

  test("Bm25 analyzer fingerprint: stamped through parquet, legacy " +
      "frames pass, forged stamps refuse to merge or serve; " +
      "certifyBm25Index has teeth") {
    import graft.llm.Retrieval.Bm25Index
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val q = Seq((10L, "apple cherry"), (11L, "date banana"))
      .toDF("query_id", "query_text")
    val idx = Retrieval.bm25Index(docs3)
    val direct = Retrieval.bm25TopKAgainst(idx, q, k = 3)
    // the stamp is on the 1-row stats frame
    assert(idx.stats.select("analyzer_fp").as[Long].collect().toSeq ==
      Seq(Retrieval.AnalyzerFingerprint))
    // a pre-stamp (legacy) stats frame is assumed current and serves
    val legacy = Bm25Index(idx.postings, idx.docFreq,
      idx.stats.drop("analyzer_fp"))
    val servedLegacy = Retrieval.bm25TopKAgainst(legacy, q, k = 3)
    assert(servedLegacy.exceptAll(direct).isEmpty &&
      direct.exceptAll(servedLegacy).isEmpty)
    // ...and so does one persisted before the stamp, loaded from disk
    val legacyDir = java.nio.file.Files.createTempDirectory("graft-bm25l")
      .toString
    legacy.postings.write.parquet(s"$legacyDir/postings")
    legacy.docFreq.write.parquet(s"$legacyDir/docfreq")
    legacy.stats.write.parquet(s"$legacyDir/stats")
    val loadedLegacy = Retrieval.loadBm25Index(spark, legacyDir)
    assert(!loadedLegacy.stats.columns.contains("analyzer_fp"))
    val servedLoaded = Retrieval.bm25TopKAgainst(loadedLegacy, q, k = 3)
    assert(servedLoaded.exceptAll(direct).isEmpty &&
      direct.exceptAll(servedLoaded).isEmpty)
    // a FORGED stamp (an index from a different analyzer version):
    // serving raises naming both fingerprints instead of scoring a
    // mismatched vocabulary
    val forged = Bm25Index(idx.postings, idx.docFreq,
      idx.stats.withColumn("analyzer_fp", lit(42L)))
    val e = intercept[Exception] {
      Retrieval.bm25TopKAgainst(forged, q, k = 3).collect()
    }
    assert(chain(e).contains("analyzer fingerprint"), chain(e))
    // ...and merging it with a current-version part raises too
    val e2 = intercept[Exception] {
      Retrieval.mergeBm25Indexes(Seq(idx, forged)).stats.collect()
    }
    assert(chain(e2).contains("analyzer fingerprint mismatch"), chain(e2))
    // certification with teeth: the merged halves certify fully...
    val even = Retrieval.bm25Index(docs3.filter(col("doc_id") % 2 === 0))
    val odd = Retrieval.bm25Index(docs3.filter(col("doc_id") % 2 === 1))
    val merged = Retrieval.mergeBm25Indexes(Seq(even, odd))
    val cert = Retrieval.certifyBm25Index(merged, docs3, q, k = 3)
      .select("query_id", "certified").as[(Long, Boolean)].collect().toMap
    assert(cert == Map(10L -> true, 11L -> true), cert.toString)
    // ...while an index that LOST a batch (claims docs3, indexed only
    // the even half) fails certification — the divergence a fingerprint
    // cannot catch, caught by the rebuild audit
    val lost = Retrieval.certifyBm25Index(even, docs3, q, k = 3)
      .select("query_id", "certified").as[(Long, Boolean)].collect().toMap
    assert(lost.values.exists(_ == false),
      s"lost-batch index must fail certification: $lost")
  }

  test("bm25TopKAgainst scores against the INDEX corpus stats only") {
    // index covers docs 1-2; doc 3 arrives later and is used as a query
    // — it must never appear as a result, and idf/avgdl must reflect the
    // 2-doc index (N=2, toklen=8), not any 3-doc view
    val idx = Retrieval.bm25Index(docs3.filter(col("doc_id") < 3))
    val q = Seq((30L, "apple date")).toDF("query_id", "query_text")
    val got = Retrieval.bm25TopKAgainst(idx, q, k = 5)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    assert(got.forall(_._2 < 3))
    // 'date' hits doc 2 only: idf over N=2, df=1; dl=4, avgdl=8/2
    val idf = math.log((2.0 - 1 + 0.5) / (1 + 0.5) + 1.0)
    val w = idf * ((1.0 * (1.2 + 1.0)) /
      (1.0 + 1.2 * (1.0 - 0.75 + 0.75 * 4.0 / (8.0 / 2.0))))
    val expect = BigDecimal(w).setScale(10,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.exists(r => r._2 == 2L && r._4 > 0))
    // doc 1 matches only 'apple' (df=1 in the 2-doc index)
    val d2score = got.find(_._2 == 2L).get._4
    // doc 2's score is exactly the single 'date' term weight... plus
    // nothing else ('apple' is not in doc 2) — pin it to the reference
    assert(d2score == expect, s"$d2score != $expect")
  }

  test("mergeBm25Indexes: merged halves serve bit-identically to a full rebuild") {
    val docs = docs3.union(Seq((4L, "cherry cherry banana apple"))
      .toDF("doc_id", "text"))
    val q = Seq((10L, "apple cherry"), (11L, "banana date"))
      .toDF("query_id", "query_text")
    val full = Retrieval.bm25TopK(docs, q, k = 4)
    val merged = Retrieval.mergeBm25Indexes(Seq(
      Retrieval.bm25Index(docs.filter(col("doc_id") % 2 === 0)),
      Retrieval.bm25Index(docs.filter(col("doc_id") % 2 === 1))))
    val served = Retrieval.bm25TopKAgainst(merged, q, k = 4)
    assert(served.exceptAll(full).isEmpty && full.exceptAll(served).isEmpty)
    // single-part merge is the identity
    val one = Retrieval.bm25TopKAgainst(
      Retrieval.mergeBm25Indexes(Seq(Retrieval.bm25Index(docs))), q, k = 4)
    assert(one.exceptAll(full).isEmpty && full.exceptAll(one).isEmpty)
    intercept[IllegalArgumentException] {
      Retrieval.mergeBm25Indexes(Seq.empty)
    }
  }

  test("compactBm25Index: the materialized merge serves bit-identically " +
      "to a full rebuild and drops the union lineage") {
    val docs = docs3.union(Seq((4L, "cherry cherry banana apple"))
      .toDF("doc_id", "text"))
    val q = Seq((10L, "apple cherry"), (11L, "banana date"))
      .toDF("query_id", "query_text")
    val merged = Retrieval.mergeBm25Indexes(Seq(
      Retrieval.bm25Index(docs.filter(col("doc_id") % 2 === 0)),
      Retrieval.bm25Index(docs.filter(col("doc_id") % 2 === 1))))
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25c")
      .toString + "/idx"
    val compacted = Retrieval.compactBm25Index(merged, dir)
    val full = Retrieval.bm25TopK(docs, q, k = 4)
    val served = Retrieval.bm25TopKAgainst(compacted, q, k = 4)
    assert(served.exceptAll(full).isEmpty && full.exceptAll(served).isEmpty,
      "compact(merge) must serve the rebuild's exact results")
    // the compacted index is flat parquet: its postings plan reads ONE
    // relation, not the merge's union of per-part tokenize subtrees
    val plan = compacted.postings.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union"), s"lineage survived compaction:\n$plan")
    // a fresh session-independent reload serves identically too
    val reloaded = Retrieval.loadBm25Index(spark, dir)
    val served2 = Retrieval.bm25TopKAgainst(reloaded, q, k = 4)
    assert(served2.exceptAll(full).isEmpty && full.exceptAll(served2).isEmpty)
    // the analyzer stamp survives the round-trip
    assert(reloaded.stats.select("analyzer_fp").as[Long].head() ==
      Retrieval.AnalyzerFingerprint)
  }

  test("maintainBm25Index: a clean batch merges and certifies green; a " +
      "disjointness violation trips the gate and the rebuild recovers") {
    val docs = docs3.union(Seq((4L, "cherry cherry banana apple"))
      .toDF("doc_id", "text"))
    val q = Seq((10L, "apple cherry"), (11L, "banana date"))
      .toDF("query_id", "query_text")
    val idx = Retrieval.bm25Index(docs.filter(col("doc_id") % 2 === 0))
    // clean path: the disjoint odd half merges in, merge ≡ rebuild is
    // bit-exact, every query certifies — the serving index is the merge
    val clean = Retrieval.maintainBm25Index(idx,
      docs.filter(col("doc_id") % 2 === 1), docs, q, k = 4)
    assert(!clean.rebuilt, "clean merge must not trigger a rebuild")
    assert(clean.certificate.filter(!col("certified")).isEmpty)
    val full = Retrieval.bm25TopK(docs, q, k = 4)
    val served = Retrieval.bm25TopKAgainst(clean.index, q, k = 4)
    assert(served.exceptAll(full).isEmpty && full.exceptAll(served).isEmpty)
    // violation path: the "batch" re-indexes doc 2, which the serving
    // index already covers — docfreq/N/toklen double-count, scores
    // shift, certification fails, and the loop rebuilds from docs
    val overlap = Retrieval.maintainBm25Index(idx,
      docs.filter(col("doc_id") =!= 1L), docs, q, k = 4)
    assert(overlap.rebuilt,
      "an overlapping batch must fail certification and rebuild")
    assert(overlap.certificate.filter(!col("certified")).isEmpty,
      "the rebuilt index must re-certify green")
    val served2 = Retrieval.bm25TopKAgainst(overlap.index, q, k = 4)
    assert(served2.exceptAll(full).isEmpty && full.exceptAll(served2).isEmpty,
      "the rebuilt index must serve the true corpus scores")
  }

  test("hybridTopKAgainst: exhaustive-probe parity with separate-leg " +
      "fusion; a degraded index fails the recall gate loudly") {
    import graft.llm.Similarity
    val docs = docs3.union(Seq((4L, "cherry cherry banana apple"))
      .toDF("doc_id", "text"))
    def v(x: Double, y: Double, z: Double, w: Double) =
      Array(x.toFloat, y.toFloat, z.toFloat, w.toFloat)
    val emb = Seq(
      (1L, v(1, 0.1, 0, 0)), (2L, v(0.9, 0.2, 0.1, 0)),
      (3L, v(0, 0.1, 1, 0)), (4L, v(0.1, 0, 0.9, 0.2))
    ).toDF("vec_id", "embedding")
    val q = Seq((1L, "apple cherry"), (3L, "banana date"))
      .toDF("query_id", "query_text")
      .join(emb.select(col("vec_id").as("query_id"), col("embedding")),
        "query_id")
    val bidx = Retrieval.bm25Index(docs)
    val vidx = Similarity.buildVectorIndex(emb, nlist = 2, m = 2,
      codebookSize = 2)
    // nprobe = nlist ⇒ the dense leg is exhaustive: the gate certifies
    // 1.0 and the fusion equals the separately-computed legs exactly
    val hybrid = Retrieval.hybridTopKAgainst(bidx, vidx, q, k = 3,
      nprobe = 2, minRecall = 1.0, sampleN = 4)
    val sparse = Retrieval.bm25TopKAgainst(bidx, q, k = 3)
      .select("query_id", "doc_id", "rank")
    val dense = Similarity.ivfTopKAgainst(vidx,
        q.select(col("query_id"), col("embedding")), k = 3, nprobe = 2,
        idCol = "query_id")
      .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
    val expected = Retrieval.rrfFuse(Seq(sparse, dense), k = 3)
    assert(hybrid.exceptAll(expected).isEmpty &&
      expected.exceptAll(hybrid).isEmpty,
      "gated hybrid must equal separate-leg fusion when probes are " +
        "exhaustive")
    // degraded index: geometry trained before a drifted cluster arrived
    // (the maintainVectorIndex fixture) — nprobe = 1 splits every true
    // neighborhood across cells, the certificate misses the floor, and
    // the serve refuses with both numbers in the message
    val seed = Seq((0L, v(1, 0, 0, 0)), (1L, v(0, 0, 1, 0)))
      .toDF("vec_id", "embedding")
    val drift = (0 until 30).map { i =>
      (100L + i, v(((i * 37) % 7 - 3) * 0.001, 1.0,
        ((i * 53) % 7 - 3) * 0.001, 0.0))
    }.toDF("vec_id", "embedding")
    val degraded = Similarity.extendVectorIndex(
      Similarity.buildVectorIndex(seed, nlist = 2, m = 2,
        codebookSize = 2), drift)
    val e = intercept[IllegalArgumentException] {
      Retrieval.hybridTopKAgainst(bidx, degraded, q, k = 10,
        nprobe = 1, minRecall = 0.8, sampleN = 8)
    }
    assert(e.getMessage.contains("escalate nprobe") &&
      e.getMessage.contains("floor 0.8"), e.getMessage)
  }

  test("applyFeedToBm25Index: deltas subtract and merge bit-exactly — " +
      "updates, empty-doc deletes, vanished tokens, analyzer guard") {
    val base = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana cherry cherry date"),
      (3L, "apple date"),
      (4L, ""), // an EMPTY doc: counts in N/avgdl, has no postings
      (5L, "quince quince")
    ).toDF("doc_id", "text")
    val idx0 = Retrieval.bm25Index(base)
    // the window: doc 2 UPDATED (delete old + insert new), doc 4
    // (empty) and doc 5 (sole holder of "quince") DELETED, doc 6 born
    val feed = Seq(
      (2L, "banana cherry cherry date", "delete"),
      (4L, "", "delete"),
      (5L, "quince quince", "delete"),
      (2L, "banana banana fig", "insert"),
      (6L, "cherry fig", "insert")
    ).toDF("doc_id", "text", "__op")
    val maintained = Retrieval.applyFeedToBm25Index(idx0, feed)
    val rebuilt = Retrieval.bm25Index(Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana banana fig"),
      (3L, "apple date"),
      (6L, "cherry fig")
    ).toDF("doc_id", "text"))
    // frame-for-frame equality — postings, docfreq (the quince row
    // must VANISH, not linger at zero), and the global stats
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(sortedRows(maintained.postings) == sortedRows(rebuilt.postings))
    assert(sortedRows(maintained.docFreq) == sortedRows(rebuilt.docFreq))
    assert(sortedRows(maintained.stats) == sortedRows(rebuilt.stats))
    assert(maintained.docFreq.filter(col("token") === "quince")
      .count() == 0L, "a token whose last holder left must vanish")
    // serving equality on top (the oracle's claim, unit-sized)
    val q = Seq((10L, "banana fig"), (11L, "apple cherry"))
      .toDF("query_id", "query_text")
    assert(sortedRows(Retrieval.bm25TopKAgainst(maintained, q, k = 3)) ==
      sortedRows(Retrieval.bm25TopKAgainst(rebuilt, q, k = 3)))
    // analyzer guard: a stats frame stamped by a different analyzer
    // raises in-plan instead of silently subtracting
    val foreign = graft.llm.Retrieval.Bm25Index(idx0.postings,
      idx0.docFreq, idx0.stats.withColumn("analyzer_fp", lit(42L)))
    val e = intercept[Exception] {
      Retrieval.applyFeedToBm25Index(foreign, feed).stats.collect()
    }
    assert(e.getMessage.contains("analyzer"), e.getMessage)
  }

  test("rrfFuse: hand-computed fusion, single-source docs, determinism") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 13L, 2))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), k = 10)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    def c(r: Int) = 1.0 / (60 + r)
    // doc 11: in both lists (ranks 2, 1) → the top fused doc
    val want = Seq(
      (11L, c(2) + c(1)), (10L, c(1)), (13L, c(2)), (12L, c(3)))
      .sortBy { case (d, s) => (-s, d) }
      .zipWithIndex.map { case ((d, s), i) => (1L, d, i + 1, s) }
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
    assert(got.head._2 == 11L)
    // single ranking degenerates to its own order
    val solo = Retrieval.rrfFuse(Seq(a), k = 2)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    assert(solo.map(_._2).toSeq == Seq(10L, 11L))
    intercept[IllegalArgumentException] { Retrieval.rrfFuse(Seq.empty) }
    intercept[IllegalArgumentException] { Retrieval.rrfFuse(Seq(a), k = 0) }
  }

  test("rankingMetrics: hand-computed recall/RR/nDCG, edge queries") {
    val run = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),  // one hit at rank 2
      (2L, 20L, 1), (2L, 21L, 2),                // no hits
      (3L, 30L, 1))                              // no truth → dropped
    .toDF("query_id", "doc_id", "rank")
    val truth = Seq(
      (1L, 11L), (1L, 13L), (1L, 14L),
      (2L, 99L),
      (4L, 40L))                                 // no run rows → dropped
    .toDF("query_id", "doc_id")
    val got = Retrieval.rankingMetrics(run, truth, k = 3)
      .as[(Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    val (q1, q2) = (got(0), got(1))
    assert(q1._2 == 3L && q1._3 == 1L && q1._4 == 0.333333 && q1._5 == 0.5)
    val ln2 = math.log(2.0)
    val dcg = ln2 / math.log(3.0)
    val idcg = ln2 / math.log(2.0) + ln2 / math.log(3.0) + ln2 / math.log(4.0)
    val ndcg = BigDecimal(dcg / idcg)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(q1._6 == ndcg, s"${q1._6} != $ndcg")
    // query 2: relevant doc exists but was not retrieved
    assert(q2._2 == 1L && q2._3 == 0L && q2._4 == 0.0 &&
      q2._5 == 0.0 && q2._6 == 0.0)
    // duplicated truth pairs are a set, not a multiplier: identical
    // metrics with the (1,11) judgment repeated
    val dupTruth = truth.union(Seq((1L, 11L)).toDF("query_id", "doc_id"))
    val again = Retrieval.rankingMetrics(run, dupTruth, k = 3)
      .as[(Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(again.toSeq == got.toSeq)
  }

  test("bm25TopK is invariant under repartitioning") {
    val q = Seq((10L, "apple cherry"), (11L, "date banana"))
      .toDF("query_id", "query_text")
    val a = Retrieval.bm25TopK(docs3, q, k = 3)
    val b = Retrieval.bm25TopK(docs3.repartition(7), q.repartition(3), k = 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}

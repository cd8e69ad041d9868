package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import graft.pipeline.{Dedup, Pipelines, TextAnalysis}

/** Round-16 additions: the joined multi-LM CCNet engine (one-pass
  * per-class fit + single-join apply, proven equal to the per-class
  * chains), the pre-bound quantileBuckets guard, fail-open span masking
  * against partial winner state, and bpeFit's deterministic storage
  * release. */
class Round16Spec extends SparkSpec {
  import spark.implicits._

  private val Classes = Seq("aa", "bb", "cc")
  private val Biases = Seq(0.0, 0.0, 0.0)
  private val Weights: Map[String, Seq[Double]] = Map(
    "alpha" -> Seq(1.0, 0.0, 0.0),
    "beta" -> Seq(0.0, 1.0, 0.0),
    "gamma" -> Seq(0.0, 0.0, 1.0))

  /** Ties (empty docs score equal biases → first-listed class), empty
    * docs, single-token docs (no bigrams → NULL lm_nll), OOV-heavy text,
    * and repeated bigrams within and across classes. */
  private lazy val ccnetDocs = Seq(
    (0L, "alpha red fox jumps over red fox"),
    (1L, "alpha red fox sleeps near the red door"),
    (2L, "alpha red red red fox fox"),
    (3L, "beta blue whale swims deep blue water"),
    (4L, "beta blue water runs deep and blue"),
    (5L, "beta whale whale whale blue"),
    (6L, "gamma green tree grows tall green tree"),
    (7L, "gamma green green tall tree"),
    (8L, "gamma tree tall grows green fast"),
    (9L, ""), // tie on biases -> first-listed class; no tokens -> NULL nll
    (10L, "alpha"), // single token -> no bigrams -> NULL nll
    (11L, "alpha red fox jumps over red fox"), // exact dup of 0
    (12L, "beta unseen tokens entirely here now") // OOV bigrams only
  ).toDF("doc_id", "text")

  private def predFrame = ccnetDocs.select(col("doc_id"), col("text"),
    TextAnalysis.linearClassifyLabel(col("text"), Classes, Weights, Biases)
      .as("pred_class"))

  test("bigramLmApplyJoined equals per-class bigramLmApply chains (ties, empty, OOV)") {
    val pred = predFrame.cache()
    try {
      val perClass = Classes.map { c =>
        val part = pred.filter(col("pred_class") === c)
        TextAnalysis.bigramLmApply(
            TextAnalysis.bigramLmFit(part, "text", "doc_id"),
            part, "text", "doc_id")
          .withColumn("pred_class", lit(c))
      }.reduce(_.unionByName(_))
        .collect().map(r => r.getLong(0) ->
          (r.getString(2), Option(r.get(1)))).toMap
      val lm = TextAnalysis.bigramLmFitByClass(pred, "text", "doc_id",
        "pred_class")
      val joined = TextAnalysis.bigramLmApplyJoined(lm, pred, "text",
          "doc_id", "pred_class")
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), Option(r.get(2)))).toMap
      assert(joined.keySet == perClass.keySet)
      val drift = perClass.keys.filter(k => joined(k) != perClass(k))
      assert(drift.isEmpty,
        s"scores drifted: ${drift.map(k => (k, perClass(k), joined(k))).mkString(", ")}")
      // the NULL contracts actually fired
      assert(perClass(9L)._2.isEmpty && perClass(10L)._2.isEmpty)
    } finally { pred.unpersist(); graft.pipeline.StageCaches.unpersistAll() }
  }

  test("ccnet on the long model equals the per-class-lmFor overload, composed") {
    val pred = predFrame.cache()
    try {
      val lms = Classes.map { c =>
        c -> TextAnalysis.bigramLmFit(pred.filter(col("pred_class") === c),
          "text", "doc_id")
      }.toMap
      val kernel = Pipelines.ccnet(ccnetDocs, "text", "doc_id", Classes,
          Weights, Biases, lms, midKeepPermille = 500)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val lm = TextAnalysis.bigramLmFitByClass(pred, "text", "doc_id",
        "pred_class")
      val joined = Pipelines.ccnet(ccnetDocs, "text", "doc_id", Classes,
          Weights, Biases, lm, 500)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(kernel == joined, s"kernel=$kernel joined=$joined")
      assert(kernel.nonEmpty)
    } finally { pred.unpersist(); graft.pipeline.StageCaches.unpersistAll() }
  }

  test("BigramLmByClass save/load roundtrip scores identically") {
    val pred = predFrame
    val lm = TextAnalysis.bigramLmFitByClass(pred, "text", "doc_id",
      "pred_class")
    val dir = tmpDir("lmbyclass")
    lm.save(dir)
    val loaded = TextAnalysis.BigramLmByClass.load(spark, dir)
    assert(loaded.k == lm.k && loaded.capTokens == lm.capTokens)
    val a = TextAnalysis.bigramLmApplyJoined(lm, pred, "text", "doc_id",
      "pred_class").collect().map(r => (r.getLong(0), Option(r.get(2)))).toSet
    val b = TextAnalysis.bigramLmApplyJoined(loaded, pred, "text", "doc_id",
      "pred_class").collect().map(r => (r.getLong(0), Option(r.get(2)))).toSet
    assert(a == b)
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("DataFrame-langID ccnet is classBiases-order-independent and equals the sorted kernel") {
    // the joined argmax tie-breaks lex-first regardless of classBiases
    // order (biases ride a class-keyed broadcast); the kernel overload
    // tie-breaks first-LISTED — so ANY caller order of the DataFrame
    // overload must equal the kernel overload with SORTED classes (the
    // documented agreement convention)
    val weightsDf = Weights.toSeq.flatMap { case (t, ws) =>
      Classes.zip(ws).map { case (c, w) => (t, c, w) }
    }.toDF("token", "class", "weight")
    val pred = predFrame.cache()
    try {
      val lms = Classes.map { c =>
        c -> TextAnalysis.bigramLmFit(pred.filter(col("pred_class") === c),
          "text", "doc_id")
      }.toMap
      val kernel = Pipelines.ccnet(ccnetDocs, "text", "doc_id", Classes,
          Weights, Biases, lms, midKeepPermille = 500)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      def run(order: Seq[(String, Double)]) =
        Pipelines.ccnet(ccnetDocs, "text", "doc_id", weightsDf, order,
            lms, 500)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(run(Classes.zip(Biases)) == kernel)
      assert(run(Classes.zip(Biases).reverse) == kernel)
      assert(kernel.nonEmpty)
    } finally { pred.unpersist(); graft.pipeline.StageCaches.unpersistAll() }
  }

  test("fully-distributed ccnet overload equals classify + ccnetPreClassified") {
    val weightsDf = Weights.toSeq.flatMap { case (t, ws) =>
      Classes.zip(ws).map { case (c, w) => (t, c, w) }
    }.toDF("token", "class", "weight")
    val pred = predFrame.cache()
    try {
      val lm = TextAnalysis.bigramLmFitByClass(pred, "text", "doc_id",
        "pred_class")
      val composed = Pipelines.ccnet(ccnetDocs, "text", "doc_id",
          weightsDf, Classes.zip(Biases), lm, 500)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val preClassified = Pipelines.ccnetPreClassified(pred, "text",
          "doc_id", "pred_class", lm, 500)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(composed == preClassified && composed.nonEmpty)
    } finally { pred.unpersist(); graft.pipeline.StageCaches.unpersistAll() }
  }

  test("quantileBuckets buckets a NULL class and guards it (null-safe join)") {
    // NULL is a legal class: its rows must get real buckets (not be
    // silently dropped by an equi-join in the guard path) and count
    // toward the distinct-score bound
    // en: 6 distinct scores (under the guard below); null class: 9
    // distinct — ONLY the null class violates, so the raise proves the
    // guard sees it
    val scored = ((0 until 30).map(i => ("en", (i % 6) * 1.0)) ++
      (0 until 30).map(i => (null.asInstanceOf[String], (i % 9) * 1.0)))
      .toDF("lang", "score")
    val out = Pipelines.quantileBuckets(scored, "lang", "score", 3)
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1), r.getInt(2)))
    val nullRows = out.filter(_._1.isEmpty)
    assert(nullRows.length == 30, s"null-class rows dropped: ${nullRows.length}")
    assert(nullRows.map(_._3).toSet == Set(1, 2, 3),
      s"null class not bucketed: ${nullRows.map(_._3).toSet}")
    // guard applies to the null class too
    val e = intercept[Exception] {
      Pipelines.quantileBuckets(scored, "lang", "score", 3,
        maxDistinctScores = 8).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("distinct scores")))
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("maskSpansAgainstWinners survives duplicate winner rows for one hash") {
    // a duplicated winner row (emit checkpoint wiped, output dir kept)
    // must not fan the join out and mask the true winner — the operator
    // canonicalizes to min (id, pos) per hash
    val docs = Seq(
      (1L, "a b c d e f g h tail one"),
      (2L, "a b c d e f g h tail two")).toDF("doc_id", "text")
    // deterministic min(id, pos) winner set (flatMapGroupsWithState runs
    // batch-mode with empty state here), then duplicate every row at a
    // DIFFERENT coordinate (doc 2's)
    val winners = graft.streaming.DocStream.incrementalSpanWinners(
      docs, "doc_id", "text", k = 8).toDF()
    val dup = winners.unionByName(winners.withColumn("id", lit(2L)))
    val out = Dedup.maskSpansAgainstWinners(docs, "doc_id", "text", dup,
        k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // min (id, pos) canonicalization keeps doc 1 the winner everywhere
    assert(out(1L) == 0L, s"true winner masked under duplicate rows: $out")
    assert(out(2L) > 0L, s"duplicate span not masked: $out")
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("40-class joined ccnet: no per-class union, plan independent of class count") {
    // the claim that kills the old shape at ~100 languages: the joined
    // engine's plan (scans, joins) must be the SAME at 40 classes as at
    // 4 — the per-class form grows a union branch and a cache re-scan
    // per language
    def planFor(n: Int): (String, Long) = {
      val classesN = (0 until n).map(i => f"l$i%02d")
      val weightsN = (0 until n).map { i =>
        s"tok$i" -> (0 until n).map(j => if (i == j) 1.0 else 0.0)
      }.toMap
      val biasesN = Seq.fill(n)(0.0)
      val docsN = (0 until 200).map { i =>
        (i.toLong, s"tok${i % n} word${i % 7} word${(i + 1) % 7} word${i % 5} end")
      }.toDF("doc_id", "text")
      val pred = docsN.select(col("doc_id"), col("text"),
        TextAnalysis.linearClassifyLabel(col("text"), classesN, weightsN,
          biasesN).as("pred_class"))
      val lm = TextAnalysis.bigramLmFitByClass(pred, "text", "doc_id",
        "pred_class")
      val out = Pipelines.ccnet(docsN, "text", "doc_id", classesN,
        weightsN, biasesN, lm, 500)
      val plan = out.queryExecution.explainString(
        ExplainMode.fromString("simple"))
      val rows = out.count()
      graft.pipeline.StageCaches.unpersistAll()
      (plan, rows)
    }
    val (p4, r4) = planFor(4)
    val (p40, r40) = planFor(40)
    assert(!p40.contains("Union"),
      s"per-class union crept into the joined ccnet plan:\n$p40")
    def joins(p: String) = p.linesIterator.count(_.contains("Join"))
    def scans(p: String) = p.linesIterator.count(_.contains("LocalTableScan"))
    assert(joins(p40) == joins(p4),
      s"join count grew with classes: ${joins(p4)} @4 vs ${joins(p40)} @40")
    assert(scans(p40) == scans(p4),
      s"scan count grew with classes: ${scans(p4)} @4 vs ${scans(p40)} @40")
    assert(r4 > 0 && r40 > 0)
  }

  test("quantileBuckets rejects an over-resolution class BEFORE building its array") {
    val scored = (0 until 50).map(i => ("en", i * 1.0001))
      .toDF("lang", "score")
    val e = intercept[Exception] {
      Pipelines.quantileBuckets(scored, "lang", "score", 3,
        maxDistinctScores = 8).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null &&
      m.contains("has more than 8 distinct scores")), e.getMessage)
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("maskSpansAgainstWinners is fail-open: unseen shingles mask nothing") {
    val docs = Seq(
      (1L, "a b c d e f g h tail one"),
      (2L, "a b c d e f g h tail two")).toDF("doc_id", "text")
    // winner state that never saw this corpus: nothing may be masked
    val empty = Seq.empty[(Long, Long, Int)].toDF("h", "id", "pos")
    val out = Dedup.maskSpansAgainstWinners(docs, "doc_id", "text", empty,
        k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L)._2 == 0L && out(2L)._2 == 0L,
      s"partial state destroyed unique text: $out")
    assert(out(1L)._3 == "a b c d e f g h tail one")
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("maskSpansAgainstWinners with full state still masks the duplicate (sanity)") {
    val docs = Seq(
      (1L, "a b c d e f g h tail one"),
      (2L, "a b c d e f g h tail two")).toDF("doc_id", "text")
    val winners = graft.streaming.DocStream.incrementalSpanDedup(
      docs, "doc_id", "text", k = 8)
      .select(col("h"), col("doc_id").as("id"), col("pos"))
    val out = Dedup.maskSpansAgainstWinners(docs, "doc_id", "text", winners,
        k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // doc 1 holds every first-seen shingle; doc 2's copies of the shared
    // span tiles mask (its own unique tail shingles stay)
    assert(out(1L) == 0L, s"winner doc masked: $out")
    assert(out(2L) > 0L, s"duplicate span not masked: $out")
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("bpeFit batchMerges equals B=1 on provably independent top pairs") {
    // four disjoint-alphabet words with strictly ordered counts: the
    // top-4 candidates share no symbols and create no cross pairs, so
    // the batch contract guarantees exact equality with the sequential
    // fit
    val words = Seq.fill(100)("ab") ++ Seq.fill(90)("cd") ++
      Seq.fill(80)("ef") ++ Seq.fill(70)("gh")
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text")
    def fit(b: Int) = TextAnalysis.bpeFit(docs, "text", numMerges = 4,
        batchMerges = b)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val seq1 = fit(1)
    assert(seq1.map(t => (t._2, t._3, t._5)) ==
      Seq(("a", "b", 100L), ("c", "d", 90L), ("e", "f", 80L), ("g", "h", 70L)))
    assert(fit(4) == seq1)
    assert(fit(8) == seq1) // B past numMerges/table size is safe
  }

  test("bpeFit batch prefix stops at the first symbol conflict (near-miss stays exact)") {
    // candidates round 1: (a,b)=10, (x,a)=10, (c,d)=9 — (x,a) shares
    // 'a' with the accepted (a,b), so the contiguous prefix stops
    // BEFORE it; the created pair (x,ab) (count 10) then wins round 2
    // ahead of (c,d), exactly as the sequential fit orders them. A
    // skip-past-conflicts rule would have merged (c,d) second — rank
    // drift; the prefix rule keeps batch == sequential here.
    val words = Seq.fill(10)("xab") ++ Seq.fill(9)("cd")
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text")
    def fit(b: Int) = TextAnalysis.bpeFit(docs, "text", numMerges = 3,
        batchMerges = b)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    val seq1 = fit(1)
    assert(seq1 == Seq(("a", "b", 10L), ("x", "ab", 10L), ("c", "d", 9L)),
      seq1.mkString(","))
    assert(fit(3) == seq1)
  }

  test("chunkTokensBpe: overlap, short tail and doc-end stop over SUBWORD positions") {
    // vocab {ab, cd}: "abab cdcd xy" -> subwords [ab, ab, cd, cd, x, y]
    // (n = 6, vs 3 whitespace tokens — the fertility the BPE form exists
    // to budget); "" -> nothing
    val docs = Seq((1L, "abab cdcd xy"), (2L, "")).toDF("doc_id", "text")
    val vocab = Seq("ab", "cd")
    def run(maxLen: Int, stride: Int) =
      Pipelines.chunkTokensBpe(docs, "text", "doc_id", vocab, maxLen, stride)
        .orderBy(col("doc_id"), col("chunk_idx"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSeq
    // stride 2: chunk 1 ends exactly at the doc end -> chunk 2 (a strict
    // subset) is STOPPED; maxLen - stride = 2 subwords overlap
    assert(run(4, 2) == Seq(
      (1L, 0L, "ab ab cd cd", 4L),
      (1L, 1L, "cd cd x y", 4L)))
    // stride 3: short tail keeps the remaining 3 subwords
    assert(run(4, 3) == Seq(
      (1L, 0L, "ab ab cd cd", 4L),
      (1L, 1L, "cd x y", 3L)))
    // whitespace form on the same doc sees n = 3 tokens -> ONE chunk:
    // the two forms genuinely budget different units
    val ws = Pipelines.chunkTokens(docs, "text", "doc_id", 4, 2)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(ws == Seq((1L, "abab cdcd xy")))
  }

  test("bpeFit releases every checkpoint block deterministically") {
    val docs = (0 until 30).map(i => (i.toLong, s"banana band bandit b$i"))
      .toDF("id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val merges = TextAnalysis.bpeFit(docs, "text", numMerges = 5)
    assert(merges.count() == 5)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    val leaked = after.diff(before)
    assert(leaked.isEmpty,
      s"bpeFit left ${leaked.size} checkpoint RDD(s) persisted: $leaked")
  }
}

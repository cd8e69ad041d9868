package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Pipelines, TextAnalysis}

/** Adversarial-corpus regression family: the r10–r12 defect classes were
  * always an untested input COMBINATION, not a new operator. Every fixture
  * here is a degenerate corpus shape a 100 TB crawl WILL contain — an
  * all-identical template flood, one-token docs, a single enormous doc,
  * zero-printable bytes, a doc that is one paragraph repeated — pushed
  * through the full cleaning path (quality + dedup pipeline, repetition
  * signals, both LM scorers, both span-dedup units) with expected outputs
  * pinned, not just "does not throw". */
class AdversarialCorpusSpec extends SparkSpec {
  import spark.implicits._

  private val goodText =
    "the quick brown fox jumps over the lazy dog and the cat is on the mat " +
      "with a hat for it that is all there is to say about this fine day"

  // the family: ids partition the classes so assertions can select them
  //   0..199   identical flood (good text)
  //   200..204 one-token docs (all the same token)
  //   300      100k-token doc (one token repeated)
  //   301      zero-printable bytes
  //   302      single repeated paragraph
  //   303      empty
  //   304      unique healthy doc
  private lazy val family = {
    val flood = (0L until 200L).map(i => (i, goodText))
    val oneTok = (200L until 205L).map(i => (i, "solo"))
    val big = Seq((300L, Array.fill(100000)("w").mkString(" ")))
    val ctrl = Seq((301L, "\u0001\u0002\u0007\u0003"))
    val para = Seq((302L, "repeat me\n\nrepeat me\n\nrepeat me"))
    val empty = Seq((303L, ""))
    val healthy = Seq((304L,
      "a completely different and quite unique document about the inner " +
        "workings of a distributed query engine that is not like the others"))
    (flood ++ oneTok ++ big ++ ctrl ++ para ++ empty ++ healthy)
      .toDF("doc_id", "text")
  }

  test("cleanCorpus: flood collapses to its min id, degenerate docs never throw") {
    // precondition, asserted so a scoring change fails loudly here instead
    // of silently weakening the flood assertion
    val q = family.filter(col("doc_id") === 0L)
      .select(TextAnalysis.qualityScore(col("text"))).head.getDouble(0)
    assert(q >= 0.5, s"fixture text must pass the quality gate (got $q)")
    val survivors = Pipelines.cleanCorpus(family)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact dedup collapses the flood BEFORE the LSH stage ever sees it —
    // the designed mitigation for quadratic buckets — keeping only id 0
    assert(survivors.intersect((0L until 200L).toSet) == Set(0L), survivors.toString)
    assert((200L until 205L).forall(i => !survivors.contains(i) || i == 200L),
      "identical one-token docs must collapse to at most their min id")
    assert(!survivors.contains(303L), "empty doc can never pass the quality gate")
  }

  test("repetitionSignals: the 100k-token doc and the repeated paragraph are maximal") {
    val r = TextAnalysis.repetitionSignals(
        family.filter(col("doc_id").isin(300L, 301L, 302L, 303L)))
      .select(col("doc_id"), col("top_bigram_frac"), col("dup_trigram_frac"),
        col("adj_dup_frac"), col("dup_line_frac"))
      .collect().map(x => x.getLong(0) ->
        (x.getDouble(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    // one token repeated 100k times, capped at 512 by design: every bigram
    // is THE bigram, every adjacent pair equal, 510 trigrams 1 distinct
    assert(r(300L)._1 == 1.0 && r(300L)._3 == 1.0, r(300L).toString)
    assert(r(300L)._2 == 0.998039, r(300L).toString) // round(1 - 1/510, 6)
    // control bytes: one token, no bigrams, no repeated lines -> all zero
    assert(r(301L) == ((0.0, 0.0, 0.0, 0.0)), r(301L).toString)
    // "repeat me" x3 on blank lines: 3 lines 1 distinct -> 2/3; bigram
    // occurrences: "repeat me" x3 + "me repeat" x2 of 5 -> 0.6
    assert(r(302L)._4 == 0.666667 && r(302L)._1 == 0.6, r(302L).toString)
    assert(r(303L) == ((0.0, 0.0, 0.0, 0.0)), r(303L).toString)
  }

  test("LM scoring: degenerate docs score NULL below the n-gram order, never throw") {
    val bg = TextAnalysis.bigramLmScore(family)
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(bg(303L).isEmpty && bg(301L).isEmpty && bg(200L).isEmpty,
      "docs with < 2 tokens must carry NULL bigram scores")
    assert(bg(0L).nonEmpty && bg(300L).nonEmpty && bg(304L).nonEmpty)
    assert(bg(0L) == bg(1L), "identical docs must score identically")

    val lm = TextAnalysis.ngramLmFit(family, order = 3)
    val tri = TextAnalysis.ngramLmApply(lm, family)
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(tri(303L).isEmpty && tri(301L).isEmpty && tri(200L).isEmpty,
      "docs with < 3 tokens must carry NULL trigram scores")
    assert(tri(0L).nonEmpty && tri(300L).nonEmpty)
    assert(tri(0L) == tri(1L))
    // the all-"w w w" doc is its own perfect predictor: its trigram is the
    // corpus mode, so its nll must be strictly below the healthy doc's
    val nll300 = tri(300L).get.asInstanceOf[Double]
    val nll304 = tri(304L).get.asInstanceOf[Double]
    assert(nll300 < nll304, s"$nll300 vs $nll304")
  }

  test("paragraph dedup: the repeated-paragraph doc keeps exactly its first copy") {
    val r = Dedup.dropDuplicateParagraphs(
      family.filter(col("doc_id").isin(302L, 303L))
        .select(col("doc_id"), Dedup.blankLineParagraphs(col("text")).as("p")),
      "doc_id", col("p"), "\n\n")
      .collect().map(x => x.getLong(0) ->
        (x.getString(3), x.getLong(1), x.getLong(2))).toMap
    assert(r(302L) == (("repeat me", 3L, 2L)), r(302L).toString)
    assert(r(303L) == (("", 0L, 0L)), r(303L).toString)
  }

  test("paragraph dedup: 4000 identical windows of the 100k-token doc collapse to one") {
    // the long-doc path: the windows array must not be re-evaluated per
    // exploded row (quadratic — the staged-cache fix), and the 4000-way
    // identical digest is the heavy-hitter shape the partial-agg winner
    // pick exists for
    val r = Dedup.dropDuplicateParagraphs(
      family.filter(col("doc_id") === 300L)
        .select(col("doc_id"), split(col("text"), " ").as("__toks"))
        .select(col("doc_id"), Dedup.tokenWindows(col("__toks"), 25).as("p")),
      "doc_id", col("p"))
      .collect().map(x => x.getLong(0) ->
        (x.getString(3), x.getLong(1), x.getLong(2))).toMap
    val window = Array.fill(25)("w").mkString(" ")
    assert(r(300L) == ((window, 4000L, 3999L)),
      (r(300L)._1.length, r(300L)._2, r(300L)._3).toString)
  }

  test("span masking: a 100k-token unigram doc collapses to one surviving token") {
    // every 8-shingle in the doc is identical; only position 0 is the
    // winner, and only token 0 is covered by no eligible occurrence — the
    // degenerate-repetition shape must stay linear, not quadratic
    val r = Dedup.maskRepeatedSpans(
        family.filter(col("doc_id").isin(300L, 301L, 303L)), "doc_id", "text", k = 8)
      .collect().map(x => x.getLong(0) ->
        (x.getString(3), x.getLong(1), x.getLong(2))).toMap
    assert(r(300L) == (("w", 100000L, 99999L)), (r(300L)._2, r(300L)._3).toString)
    assert(r(301L) == (("\u0001\u0002\u0007\u0003", 1L, 0L)), "unique control-byte token survives")
    assert(r(303L) == (("", 0L, 0L)), r(303L).toString)
  }

  test("bpeFit survives the degenerate family and learns only from real structure") {
    // the flood is ONE distinct word-multiset row after the word count, so
    // merges are driven by content, not copy count explosion; the 100k-token
    // unigram doc contributes a single ("w", 100000) word row; control
    // bytes and empty docs must neither throw nor produce empty-string
    // symbols
    val merges = TextAnalysis.bpeFit(family, "text", numMerges = 4)
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))
    assert(merges.length == 4, merges.mkString(","))
    assert(merges.forall { case (l, r, m) =>
      l.nonEmpty && r.nonEmpty && m == l + r }, merges.mkString(","))
    // a corpus of ONLY single-char words has no pairs: zero merges, no loop
    val single = (0L until 50L).map(i => (i, "a b c")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeFit(single, "text", 5).count() == 0)
    val empty = Seq((0L, ""), (1L, "")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeFit(empty, "text", 5).count() == 0)
  }

  test("linearFit survives the degenerate family; constant labels push weights one way") {
    // all-positive labels: every gradient factor is (p - 1) <= 0, so no
    // learned weight can ever be negative; empty/control docs ride along
    val allPos = family.withColumn("__y", lit(1.0))
    val (w, b) = TextAnalysis.linearFit(allPos, "text", "__y", iterations = 2, lr = 1.0)
    assert(w.values.forall(_ >= 0.0), w.filter(_._2 < 0).take(3).toString)
    assert(b > 0.0, b.toString)
    // flood + healthy separated: the flood's vocabulary gets negative
    // weight when the flood is labeled 0 and the healthy doc 1
    val labeled = family.withColumn("__y",
      when(col("doc_id") === 304L, 1.0).otherwise(0.0))
    val (w2, _) = TextAnalysis.linearFit(labeled, "text", "__y", iterations = 5, lr = 1.0)
    assert(w2("workings") > w2("quick"),
      s"healthy-doc marker must outweigh flood marker: ${w2("workings")} vs ${w2("quick")}")
  }

  test("joined classifier apply + ccnet survive the degenerate family") {
    // empty docs, a 100k-token unigram doc, control bytes, floods — the
    // joined-model apply must classify every row (bias-only for empties)
    // and the composed ccnet must bucket without throwing
    val wdf = Seq(("the", "en", 1.0), ("der", "xx", 1.0))
      .toDF("token", "class", "weight")
    val pred = TextAnalysis.linearClassifyLabelJoined(family, "text",
      "doc_id", wdf, Seq("en" -> 0.0, "xx" -> 0.0))
    assert(pred.count() == family.count())
    // the empty doc scores bias-only: tie at 0.0 -> first class
    val empty = pred.filter(col("doc_id") === 303L).head
    assert(empty.getString(1) == "en" && empty.getDouble(2) == 0.0,
      empty.toString)
    val lm = TextAnalysis.bigramLmFit(family)
    val cc = Pipelines.ccnetGlobalLm(family, "text", "doc_id",
        Seq("en", "xx"), Map("the" -> Seq(1.0, 0.0)), Seq(0.0, 0.0), lm)
      .collect()
    assert(cc.nonEmpty)
    assert(cc.forall(r => r.getInt(2) == 1 || r.getInt(2) == 2),
      cc.take(3).mkString(","))
  }

  test("quantileBuckets: a 95%-one-language corpus buckets without any window, exactly") {
    // the CommonCrawl shape: one language dominates. The old ntile form
    // would sort all 19k English rows in ONE task; the cutoff form must
    // plan NO window node and still assign every row the bucket the
    // counted-threshold definition demands — verified here against an
    // independent local computation, heavy score TIES included.
    val rows = (0L until 20000L).map { i =>
      val (lang, score) =
        if (i < 19000L) ("en", (i % 41).toDouble * 0.25) // 41 distinct, ~463-deep ties
        else if (i < 19500L) ("de", (i % 7).toDouble)
        else ("fr", (i % 3).toDouble)
      (i, lang, score)
    }
    val df = rows.toDF("doc_id", "lang", "score")
    val out = Pipelines.quantileBuckets(df, "lang", "score", 3)
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Window"), s"skewed-key window in:\n$plan")
    // independent expectation: per class, cutoff i = min score whose
    // cumulative count reaches ceil(i*n/3); bucket by value compare
    val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
      val n = rs.size.toLong
      val cum = rs.groupBy(_._3).view.mapValues(_.size.toLong).toSeq
        .sortBy(_._1).scanLeft((Double.NaN, 0L)) {
          case ((_, c0), (s, c)) => (s, c0 + c) }.drop(1)
      val t1 = cum.find(_._2 * 3 >= n).get._1
      val t2 = cum.find(_._2 * 3 >= 2 * n).get._1
      rs.map { case (id, _, s) =>
        id -> (if (s <= t1) 1 else if (s <= t2) 2 else 3) }
    }
    val got = out.select(col("doc_id"), col("bucket"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == 20000, got.size.toString)
    val wrong = got.filter { case (id, b) => expected(id) != b }
    assert(wrong.isEmpty, s"${wrong.size} mis-bucketed, e.g. ${wrong.take(3)}")
    // every tied (class, score) cell landed in ONE bucket by construction
    // of the value compare; spot-assert the tie mass is really deep
    assert(rows.count(r => r._2 == "en" && r._3 == 0.0) > 400)
  }
}

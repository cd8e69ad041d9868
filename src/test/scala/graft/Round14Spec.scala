package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Round 14: the sparse recall-floor empty-hits guard (round-13 ADVICE
  * high — `hits.last` evaluated before the isEmpty check threw out of
  * query() instead of declining to the job path). */
class Round14Spec extends SparkSpec {

  private def resultIds(resp: String, key: String = "__row_id"): Seq[Long] =
    (JsonMethods.parse(resp) \ "result") match {
      case JArray(rows) => rows.map(r => (r \ key) match {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case JDouble(d) => d.toLong
        case other => fail(s"bad $key in $resp: $other")
      })
      case other => fail(s"no result array in $resp: $other")
    }

  test("sparse recall floor with ZERO overlap candidates declines to the job path (no crash on empty hits)") {
    val db = new graft.api.GraftDb(spark, tmpDir("r14_rt_sparse_empty"))
    db.createTable(
      """{"name":"S","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":16,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    // no row carries dim 3: a [3]-only query has NO postings to walk, so
    // SparseIndex.serve returns Some(empty) and the floor check must decline
    val rows = (0 until 600).map { i =>
      val dims = Seq(8 + i % 4, 12 + i % 4)
      Row(i.toLong, Row(dims.distinct.sorted, dims.distinct.map(_ => 1.0f)))
    }
    db.store("S").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("SV", graft.functions.SparseVec.sqlType, nullable = false)))))
    db.rebuildIndex("S", "SV")
    // pre-fix this threw UnsupportedOperationException (Array.last on
    // empty) out of query(); now it declines and the job path answers
    // with zero-dot rows
    val resp = db.query(
      """{"table":"S","queryVector":{"indices":[3],"values":[1.0]},
        |"limit":5,"serve":true,"recallTarget":1.0,"response":["ID"]}""".stripMargin)
    assert(!resp.contains("\"served\""), resp)
    assert(resultIds(resp, "ID").size == 5, resp)
    // same shape under COSINE's unseen constant
    val respCos = db.query(
      """{"table":"S","queryVector":{"indices":[3],"values":[1.0]},
        |"limit":5,"serve":true,"recallTarget":0.5,"response":["ID"]}""".stripMargin)
    assert(resultIds(respCos, "ID").size == 5, respCos)
  }

  // ---- de-skewed survivor picks: window null-ordering semantics pinned ----

  test("dropExactDuplicatesBy desc priority ranks NULLs last (window parity)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "same", Option.empty[Double]), (2L, "same", Some(0.3)),
      (3L, "same", Some(0.9)), (4L, "solo", Option.empty[Double]))
      .toDF("id", "text", "quality")
    val kept = graft.pipeline.Dedup.dropExactDuplicatesBy(
        docs, "text", "id", Seq(col("quality").desc))
      .select("id").collect().map(_.getLong(0)).toSet
    // desc = nulls LAST (the window's default): 0.9 beats 0.3 beats null
    assert(kept == Set(3L, 4L), kept.toString)
  }

  test("dropExactDuplicatesBy asc priority ranks NULLs first (window parity)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "same", Some(0.1)), (2L, "same", Option.empty[Double]),
      (3L, "same", Option.empty[Double])).toDF("id", "text", "quality")
    val kept = graft.pipeline.Dedup.dropExactDuplicatesBy(
        docs, "text", "id", Seq(col("quality").asc))
      .select("id").collect().map(_.getLong(0)).toSet
    // asc = nulls FIRST; id tie-break picks 2 over 3
    assert(kept == Set(2L), kept.toString)
  }

  test("dropExactDuplicatesBy explicit nulls-ordering variants are honored") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "same", Some(0.1)), (2L, "same", Option.empty[Double]))
      .toDF("id", "text", "quality")
    def keptWith(p: org.apache.spark.sql.Column): Set[Long] =
      graft.pipeline.Dedup.dropExactDuplicatesBy(docs, "text", "id", Seq(p))
        .select("id").collect().map(_.getLong(0)).toSet
    assert(keptWith(col("quality").asc_nulls_last) == Set(1L))
    assert(keptWith(col("quality").desc_nulls_first) == Set(2L))
  }

  test("StageCaches.unpersistAll releases the pipeline's staged cache pins") {
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, s"alpha beta g$i one two three"))
      .toDF("doc_id", "text")
    graft.pipeline.StageCaches.unpersistAll() // drain pins from earlier tests
    val masked = graft.pipeline.Dedup.maskRepeatedSpans(docs, "doc_id", "text", 3)
    assert(masked.count() == 50)
    val pinned = spark.sparkContext.getPersistentRDDs.size
    assert(pinned > 0, "expected the staged token frame to be cached")
    val released = graft.pipeline.StageCaches.unpersistAll(blocking = true)
    assert(released > 0)
    assert(spark.sparkContext.getPersistentRDDs.size < pinned)
    // downstream frames stay CORRECT after release (recompute, not wrong)
    assert(masked.count() == 50)
  }

  // ---- multi-class linear classifier apply (fastText-style langID) ----

  test("linearClassifyLabel picks the argmax class; ties break to the first class") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.TextAnalysis
    val classes = Seq("de", "en", "fr")
    val w = Map(
      "der" -> Seq(1.0, 0.0, 0.0),
      "the" -> Seq(0.0, 1.0, 0.0),
      "les" -> Seq(0.0, 0.0, 1.0),
      "tie" -> Seq(0.5, 0.5, 0.0))
    val docs = Seq(
      (1L, "der der the"), (2L, "the the les"), (3L, "les"),
      (4L, "tie tie"), // de == en exactly -> first class (de) wins
      (5L, ""), // empty -> biases only; max bias = fr
      (6L, "unknown words only")) // all-zero sums -> biases decide
      .toDF("id", "text")
    val got = docs.select(col("id"),
        TextAnalysis.linearClassifyLabel(col("text"), classes, w,
          Seq(0.0, 0.0, 0.1)).as("pred"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "de", 2L -> "en", 3L -> "fr",
      4L -> "de", 5L -> "fr", 6L -> "fr"), got.toString)
  }

  test("loadLinearClassWeights: classes sorted, dup rows keep max, missing class weighs 0") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val df = Seq(
      ("tok1", "en", 0.5), ("tok1", "en", 0.2), // dup -> max 0.5
      ("tok1", "de", -0.1),
      ("tok2", "fr", 0.9)) // missing de/en -> 0
      .toDF("token", "class", "weight")
    val (classes, table) = TextAnalysis.loadLinearClassWeights(df)
    assert(classes == Seq("de", "en", "fr"))
    assert(table("tok1") == Seq(-0.1, 0.5, 0.0), table("tok1").toString)
    assert(table("tok2") == Seq(0.0, 0.0, 0.9), table("tok2").toString)
  }

  test("linearClassSums kernel handles a large vocab without per-token scans") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.TextAnalysis
    // 50k-entry vocab x 1k docs x ~40 tokens: a literal-map element_at
    // would be ~2e9 string compares; the hash kernel is ~4e4 lookups
    val vocab = (0 until 50000).map(i => s"w$i" -> Seq(i * 1e-4, -i * 1e-4)).toMap
    val docs = (0 until 1000).map { d =>
      (d.toLong, (0 until 40).map(j => s"w${(d * 37 + j * 911) % 60000}").mkString(" "))
    }.toDF("id", "text")
    val t0 = System.nanoTime()
    val s = docs.select(sum(element_at(
      TextAnalysis.linearClassSums(TextAnalysis.tokens(col("text")), 2, vocab),
      1)).as("s")).collect()(0).getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9
    // expected: each doc's tokens hit the vocab iff index < 50000
    assert(s != 0L)
    assert(secs < 30.0, s"large-vocab apply took ${secs}s — lookup is not O(1)")
  }

  // ---- fixed-context training chunks ----

  test("chunkTokens: sliding windows cover every token, overlap by maxLen-stride, short tail") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: starts 0,4
      (2L, "a b c"), // fits one chunk
      (3L, "")).toDF("id", "text") // empty -> nothing
    val got = graft.pipeline.Pipelines.chunkTokens(docs, "text", "id",
        maxLen = 6, stride = 4)
      .orderBy(col("id"), col("chunk_idx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // chunk [4,10) reaches the doc end, so start 8 is NOT emitted — it
    // would be a strict subset of the previous chunk (a duplicate sample)
    assert(got.toSeq == Seq(
      (1L, 0L, "t1 t2 t3 t4 t5 t6", 6L),
      (1L, 1L, "t5 t6 t7 t8 t9 t10", 6L),
      (2L, 0L, "a b c", 3L)), got.mkString("\n"))
    // stride == maxLen degenerates to the non-overlapping split
    val flat = graft.pipeline.Pipelines.chunkTokens(docs, "text", "id", 5, 5)
      .orderBy(col("id"), col("chunk_idx"))
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(flat.toSeq == Seq(
      (1L, "t1 t2 t3 t4 t5"), (1L, "t6 t7 t8 t9 t10"), (2L, "a b c")),
      flat.mkString("\n"))
  }

  // ---- linear classifier training (logistic full-batch GD) ----

  test("linearFit separates marker tokens and the fit model classifies its corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.TextAnalysis
    val docs = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, s"good solid fine f$i", 1.0)
      else (i.toLong, s"bad broken junk f$i", 0.0)
    }.toDF("id", "text", "y")
    val (w, b) = TextAnalysis.linearFit(docs, "text", "y", iterations = 20, lr = 2.0)
    assert(w("good") > 0 && w("bad") < 0, s"good=${w("good")} bad=${w("bad")}")
    // the learned model separates the training corpus at threshold 1/2
    val scored = docs.select(col("y"),
        TextAnalysis.linearQualityScore(col("text"), w, b).as("p"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(scored.forall { case (y, p) => (y > 0.5) == (p > 0.5) },
      scored.take(6).mkString(","))
  }

  test("wordNgrams=2 separates an order-only corpus that unigrams provably cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.TextAnalysis
    // the two classes have IDENTICAL unigram bags; only word ORDER
    // (the bigram) differs — the fastText wordNgrams case
    val docs = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, "alpha beta", 1.0)
      else (i.toLong, "beta alpha", 0.0)
    }.toDF("id", "text", "y")
    val (w1, b1) = TextAnalysis.linearFit(docs, "text", "y", 10, 2.0)
    val s1 = docs.select(col("y"),
        TextAnalysis.linearQualityScore(col("text"), w1, b1).as("p"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(s1.map(_._2).distinct.length == 1,
      s"unigram model must score both orders identically: ${s1.take(2).mkString(",")}")
    val (w2, b2) = TextAnalysis.linearFit(docs, "text", "y", 10, 2.0, wordNgrams = 2)
    assert(w2("alpha beta") > 0 && w2("beta alpha") < 0,
      s"${w2.get("alpha beta")} vs ${w2.get("beta alpha")}")
    val s2 = docs.select(col("y"),
        TextAnalysis.linearQualityScore(col("text"), w2, b2, wordNgrams = 2).as("p"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(s2.forall { case (y, p) => (y > 0.5) == (p > 0.5) },
      s2.take(4).mkString(","))
  }

  test("hashBuckets caps the n-gram weight table at |unigrams| + buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.TextAnalysis
    // 200 docs x distinct word pairs -> ~400 raw bigrams; with 16
    // buckets the learned table is bounded by unigrams + 16
    val docs = (0 until 200).map { i =>
      (i.toLong, s"w${i} w${(i * 7) % 200} common", if (i % 2 == 0) 1.0 else 0.0)
    }.toDF("id", "text", "y")
    val (wRaw, _) = TextAnalysis.linearFit(docs, "text", "y", 1, 1.0, wordNgrams = 2)
    val (wHash, _) = TextAnalysis.linearFit(docs, "text", "y", 1, 1.0,
      wordNgrams = 2, hashBuckets = 16)
    val unigrams = wHash.keySet.filterNot(_.startsWith("#"))
    val bucketToks = wHash.keySet.filter(_.startsWith("#"))
    assert(bucketToks.nonEmpty && bucketToks.size <= 16, bucketToks.toString)
    assert(wHash.size <= unigrams.size + 16)
    assert(wRaw.size > wHash.size, s"${wRaw.size} vs ${wHash.size}")
    // hashed apply consumes the hashed model consistently (scores land
    // in (0, 1) and the pipeline runs end-to-end)
    val p = docs.select(TextAnalysis.linearQualityScore(col("text"), wHash,
        0.0, wordNgrams = 2, hashBuckets = 16).as("p"))
      .agg(org.apache.spark.sql.functions.min(col("p")),
        org.apache.spark.sql.functions.max(col("p"))).head
    assert(p.getDouble(0) > 0.0 && p.getDouble(1) < 1.0, p.toString)
  }

  test("linearFit is bit-deterministic under repartitioning") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = (0 until 60).map { i =>
      (i.toLong, s"alpha beta t${i % 7} u$i", if (i % 3 == 0) 1.0 else 0.0)
    }.toDF("id", "text", "y")
    val (w1, b1) = TextAnalysis.linearFit(docs.repartition(2), "text", "y", 4, 0.5)
    val (w2, b2) = TextAnalysis.linearFit(docs.repartition(13), "text", "y", 4, 0.5)
    assert(b1 == b2, s"$b1 vs $b2")
    assert(w1 == w2, (w1.toSeq.sorted zip w2.toSeq.sorted)
      .filter { case (a, bb) => a != bb }.take(3).mkString(","))
  }

  test("linearFitOneVsAll model drives linearClassifyLabel on its training corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.TextAnalysis
    val docs = (0 until 60).map { i =>
      i % 3 match {
        case 0 => (i.toLong, s"der die das f$i", "de")
        case 1 => (i.toLong, s"the and of f$i", "en")
        case _ => (i.toLong, s"les des une f$i", "fr")
      }
    }.toDF("id", "text", "lang")
    val (classes, w, biases) =
      TextAnalysis.linearFitOneVsAll(docs, "text", "lang", iterations = 15, lr = 2.0)
    assert(classes == Seq("de", "en", "fr"))
    val got = docs.select(col("lang"),
        TextAnalysis.linearClassifyLabel(col("text"), classes, w, biases).as("pred"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.forall { case (y, p) => y == p }, got.filterNot(t => t._1 == t._2).take(5).mkString(","))
  }

  // ---- BPE vocabulary training (fit) ----

  test("bpeFit learns the Sennrich merges on the classic corpus") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    // low x5, lower x2, newest x6, widest x3 (no end-of-word marker):
    // (e,s)=9 ties (s,t)=9 -> lexicographic; then (es,t)=9; then
    // (l,o)=7 ties (o,w)=7 -> lexicographic; then (lo,w)=7
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeFit(docs, "text", 4)
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(merges.toSeq == Seq(
      (1, "es", 9L), (2, "est", 9L), (3, "lo", 7L), (4, "low", 7L)),
      merges.mkString(","))
  }

  test("bpeFit counts overlapping pairs and merges greedily left-to-right") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeFit(docs, "text", 2)
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    // "aaa": (a,a) occurs at 2 positions (overlap counted, Sennrich
    // get_stats semantics); greedy merge -> [aa, a]; round 2: (aa,a)=1
    assert(merges.toSeq == Seq((1, "aa", 2L), (2, "aaa", 1L)),
      merges.mkString(","))
  }

  test("bpeFit stops early when no pair reaches minPairCount; empty corpus fits nothing") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq((1L, "ab cd")).toDF("doc_id", "text")
    // every pair occurs once -> with minPairCount=2 nothing merges
    assert(TextAnalysis.bpeFit(docs, "text", 5, minPairCount = 2).count() == 0)
    val empty = Seq((1L, "")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeFit(empty, "text", 5).count() == 0)
  }

  test("bpeTokensByMerges applies merges by RANK, diverging from longest-match where it should") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.TextAnalysis
    // merges ranked: (a,b) < (c,d) < (b,c). On "bcd" the rank order
    // merges (c,d) first -> [b, cd]; longest-match over the flat vocab
    // {ab, cd, bc} eats "bc" from the left -> [bc, d]. Both are
    // "valid-looking" splits; only the first is what the trained model
    // means.
    val merges = Seq(("a", "b"), ("c", "d"), ("b", "c"))
    val df = Seq((1L, "bcd abcd"), (2L, ""), (3L, "xyz")).toDF("id", "t")
    val byMerges = df.select(col("id"),
        TextAnalysis.bpeTokensByMerges(col("t"), merges).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(byMerges(1L) == Seq("b", "cd", "ab", "cd"), byMerges(1L).toString)
    assert(byMerges(2L) == Seq.empty, byMerges(2L).toString)
    assert(byMerges(3L) == Seq("x", "y", "z"), byMerges(3L).toString)
    val byVocab = df.filter(col("id") === 1L).select(
        TextAnalysis.bpeTokens(col("t"), Seq("ab", "cd", "bc")))
      .collect()(0).getSeq[String](0)
    assert(byVocab == Seq("bc", "d", "ab", "cd"), byVocab.toString)
  }

  test("bpeTokensByMerges reproduces the training segmentation of fit words") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    // 4 merges: es, est, lo, low (pinned above) — training leaves
    // "lower" as [low, e, r] and "widest" as [w, i, d, est]
    val merges = TextAnalysis.loadBpeMerges(TextAnalysis.bpeFit(docs, "text", 4))
    val got = Seq((1L, "lower widest")).toDF("id", "t")
      .select(TextAnalysis.bpeTokensByMerges(col("t"), merges))
      .collect()(0).getSeq[String](0)
    assert(got == Seq("low", "e", "r", "w", "i", "d", "est"), got.toString)
  }

  test("bpeFitVocab feeds bpeTokens: fit + apply end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" "))).toDF("doc_id", "text")
    // merges 1-5 assemble "newest" (count 6 beats low's 5 at every
    // tie-break), 6-7 assemble "low"
    val vocab = TextAnalysis.bpeFitVocab(docs, "text", 7)
    assert(vocab.contains("newest") && vocab.contains("low"), vocab.toString)
    // the learned vocab retokenizes its own training words to one symbol
    val split = Seq((1L, "low newest")).toDF("id", "t")
      .select(TextAnalysis.bpeTokens(col("t"), vocab))
      .collect()(0).getSeq[String](0)
    assert(split == Seq("low", "newest"), split.toString)
  }

  test("keepClusterSurvivors multi-priority with mixed directions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // cluster 10: len desc then cost asc — (len 5, cost 1) beats
    // (len 5, cost 7) beats (len 3, cost 0)
    val docs = Seq(
      (10L, 5L, 7.0), (11L, 5L, 1.0), (12L, 3L, 0.0), (20L, 1L, 9.0))
      .toDF("id", "len", "cost")
    val clusters = Seq((10L, 10L), (11L, 10L), (12L, 10L)).toDF("id", "cluster")
    val kept = graft.pipeline.Dedup.keepClusterSurvivors(
        docs, "id", clusters, Seq(col("len").desc, col("cost").asc))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 20L), kept.toString)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{StageCaches, TextAnalysis}

/** The n-gram LM scorers: hand-computed stupid-backoff fixtures at
  * order 3 (the trigram model), the joined engine against per-class
  * classless chains, and the classless adapters' no-model contract. */
class LmSpec extends SparkSpec {
  import spark.implicits._

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def nllById(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Option[Double]] =
    df.select(col("doc_id"), col("lm_nll")).collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap

  test("order-3 stupid backoff: every branch hand-computed; save/load roundtrip") {
    // train: doc1 "a b c a b c", doc2 "a b d"
    //   N=9 tokens, V=4 ({a,b,c,d})
    //   c3: "a b c"=2, "b c a"=1, "c a b"=1, "a b d"=1
    //   c2: "a b"=3, "b c"=2, "c a"=1, "b d"=1
    //   c1: a=3, b=3, c=2, d=1
    val train = Seq((1L, "a b c a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val lm = TextAnalysis.ngramLmFit(train, order = 3)
    val nv = lm.totals.select(col("n"), col("v")).head()
    assert(nv.getLong(0) == 9L && nv.getLong(1) == 4L, nv.toString)
    val apply = Seq(
      (10L, "a b c"),       // seen trigram: S = c3/c2("a b") = 2/3
      (11L, "b b c"),       // unseen trigram, seen "b c": S = α·(2/3)
      (12L, "c b x"),       // unseen everything, OOV w3: S = α²·(0+1)/(N+V)
      (13L, "a"),           // < 3 tokens -> NULL
      (14L, "a b c a b c")  // multiplicity: -(2·ln(2/3)+ln(1/2)+ln(1))/4
    ).toDF("doc_id", "text")
    val r = nllById(TextAnalysis.ngramLmApply(lm, apply))
    assert(r(10L).contains(r4(-math.log(2.0 / 3))), r(10L).toString)
    assert(r(11L).contains(r4(-math.log(0.4 * 2.0 / 3))), r(11L).toString)
    assert(r(12L).contains(r4(-math.log(0.4 * 0.4 * 1.0 / 13))),
      r(12L).toString)
    assert(r(13L).isEmpty, r(13L).toString)
    assert(r(14L).contains(r4(-(2 * math.log(2.0 / 3) + math.log(0.5)) / 4)),
      r(14L).toString)
    // persisted model scores identically
    val dir = tmpDir("trigram_lm_model")
    lm.save(dir)
    val loaded = TextAnalysis.NgramLmByClass.load(spark, dir)
    assert(loaded.order == 3)
    assert(nllById(TextAnalysis.ngramLmApply(loaded, apply)) == r)
    StageCaches.unpersistAll()
  }

  test("order-3 joined engine equals per-class ngramLmApply chains (all backoff branches)") {
    val classes = Seq("aa", "bb", "cc")
    val weights: Map[String, Seq[Double]] = Map(
      "alpha" -> Seq(1.0, 0.0, 0.0),
      "beta" -> Seq(0.0, 1.0, 0.0),
      "gamma" -> Seq(0.0, 0.0, 1.0))
    val docs = Seq(
      (0L, "alpha red fox jumps over red fox"),
      (1L, "alpha red fox sleeps near the red door"),
      (2L, "alpha red red red fox fox"),
      (3L, "beta blue whale swims deep blue water"),
      (4L, "beta blue water runs deep and blue"),
      (5L, "beta whale whale whale blue"),
      (6L, "gamma green tree grows tall green tree"),
      (7L, "gamma green green tall tree"),
      (8L, "gamma tree tall grows green fast"),
      (9L, ""), // tie on biases -> first-listed class; no tokens -> NULL
      (10L, "alpha"), // < 3 tokens -> NULL
      (11L, "alpha red fox jumps over red fox"), // exact dup of 0
      (12L, "beta unseen tokens entirely here now") // OOV n-grams only
    ).toDF("doc_id", "text")
    val pred = docs.select(col("doc_id"), col("text"),
        TextAnalysis.linearClassifyLabel(col("text"), classes, weights,
          Seq(0.0, 0.0, 0.0)).as("pred_class"))
      .cache()
    try {
      // fit on a SUBSET per class (doc_id <= 7) and score everything —
      // held-out docs exercise the unseen-trigram and unseen-bigram
      // backoff branches and the add-one unigram floor
      val fitPart = pred.filter(col("doc_id") <= 7)
      val perClass = classes.map { c =>
        val part = pred.filter(col("pred_class") === c)
        TextAnalysis.ngramLmApply(
            TextAnalysis.ngramLmFit(
              fitPart.filter(col("pred_class") === c), "text", "doc_id",
              order = 3),
            part, "text", "doc_id")
          .withColumn("pred_class", lit(c))
      }.reduce(_.unionByName(_))
        .collect().map(r => r.getLong(0) ->
          (r.getString(2), Option(r.get(1)))).toMap
      val lm = TextAnalysis.ngramLmFitByClass(fitPart, "text", "doc_id",
        "pred_class", order = 3)
      val joined = TextAnalysis.ngramLmApplyJoined(lm, pred, "text",
          "doc_id", "pred_class")
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), Option(r.get(2)))).toMap
      assert(joined.keySet == perClass.keySet)
      val drift = perClass.keys.filter(k => joined(k) != perClass(k))
      assert(drift.isEmpty,
        s"scores drifted: ${drift.map(k => (k, perClass(k), joined(k))).mkString(", ")}")
      // short docs carry NULL through both engines
      assert(perClass(9L)._2.isEmpty && perClass(10L)._2.isEmpty)
      // save/load roundtrip
      val dir = tmpDir("trilmbyclass")
      lm.save(dir)
      val loaded = TextAnalysis.NgramLmByClass.load(spark, dir)
      val reloaded = TextAnalysis.ngramLmApplyJoined(loaded, pred, "text",
          "doc_id", "pred_class")
        .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
      assert(reloaded == joined.view.mapValues(_._2).toMap)
    } finally { pred.unpersist(); StageCaches.unpersistAll() }
  }

  test("classless fit over zero tokens scores NULL (no fitted model), never -Infinity") {
    val empty = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val held = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val bigram = nllById(TextAnalysis.bigramLmApply(
      TextAnalysis.bigramLmFit(empty), held))
    val trigram = nllById(TextAnalysis.ngramLmApply(
      TextAnalysis.ngramLmFit(empty, order = 3), held))
    assert(bigram == Map(10L -> None), bigram.toString)
    assert(trigram == Map(10L -> None), trigram.toString)
    StageCaches.unpersistAll()
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, TextAnalysis, Multimodal, Pipelines}

/** Unit tests for the training-data pipeline operators on hand-rolled docs
  * (the testdata tables are covered by the oracle gate; these pin semantics
  * the synthetic corpus can't, e.g. langid on real sentences, LSH recall on
  * known near-duplicates). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "completely different content about spark engines and shuffles"),
    (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (4L, ""),                                               // empty
    (5L, "der hund läuft nicht auf der straße und die katze ist da"),
    (6L, "el gato y el perro en la casa que es de los niños"),
    (7L, "le chien est dans la maison et les chats sont pour une femme"),
    (8L, "short")
  ).toDF("doc_id", "text")

  test("repetitionSignals: Gopher-style line/n-gram repetition fractions") {
    val rdocs = Seq(
      (1L, "good line\nother line\nthird one"),              // no repeats
      (2L, "spam line\nspam line\nspam line\nreal content"), // dup lines
      (3L, "buy now buy now buy now buy now"),               // dominant bigram
      (4L, "a a a b"),                                       // adjacent dups
      (5L, ""),                                              // empty
      (6L, "one")                                            // single token
    ).toDF("id", "text")
    val r = TextAnalysis.repetitionSignals(rdocs)
      .select(col("id"), col("dup_line_frac"), col("dup_line_char_frac"),
        col("top_bigram_frac"), col("dup_trigram_frac"), col("adj_dup_frac"))
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(r(1L) == ((0.0, 0.0, 0.0, 0.0, 0.0)), r(1L).toString)
    // 4 lines, 2 distinct -> 0.5; chars 3*9+12=39, distinct 21 -> 18/39
    assert(r(2L)._1 == 0.5 && r(2L)._2 == 0.461538, r(2L).toString)
    // 8 tokens -> 7 bigrams: "buy now" x4, "now buy" x3 -> 4/7;
    // 6 trigrams, 2 distinct -> 1 - 2/6
    assert(r(3L)._3 == 0.571429 && r(3L)._4 == 0.666667, r(3L).toString)
    // a a a b: adjacent equal pairs 2 of 3
    assert(r(4L)._5 == 0.666667, r(4L).toString)
    assert(r(5L) == ((0.0, 0.0, 0.0, 0.0, 0.0)), r(5L).toString)
    assert(r(6L) == ((0.0, 0.0, 0.0, 0.0, 0.0)), r(6L).toString)
  }

  test("dropDuplicateParagraphs: Lee et al. span dedup, hand-computed survivors") {
    val pdocs = Seq(
      // doc 1: header + unique body — header is the corpus-wide boilerplate
      (1L, "SITE HEADER\n\nalpha body one\n\nSHARED FOOTER"),
      // doc 2: same header+footer, own body; header/footer must be scrubbed
      (2L, "SITE HEADER\n\nbeta body two\n\nSHARED FOOTER"),
      // doc 3: nothing but the boilerplate -> clean_text = ""
      (3L, "SITE HEADER\n\nSHARED FOOTER"),
      // doc 4: repeats ITS OWN first paragraph later (in-doc repeat) and
      // has blank-ish separators with stray spaces
      (4L, "gamma para\n \n\ngamma para\n\ndelta para"),
      (5L, "")                                              // empty doc
    ).toDF("doc_id", "text")
    val staged = pdocs.select(col("doc_id"),
      Dedup.blankLineParagraphs(col("text")).as("paras"))
    val r = Dedup.dropDuplicateParagraphs(staged, "doc_id", col("paras"), "\n\n")
      .collect().map(x => x.getLong(0) ->
        (x.getString(3), x.getLong(1), x.getLong(2))).toMap
    // columns come back as (doc_id, n_paras, n_dropped, clean_text)
    assert(r(1L) == (("SITE HEADER\n\nalpha body one\n\nSHARED FOOTER", 3L, 0L)), r(1L).toString)
    assert(r(2L) == (("beta body two", 3L, 2L)), r(2L).toString)
    assert(r(3L) == (("", 2L, 2L)), r(3L).toString)
    assert(r(4L) == (("gamma para\n\ndelta para", 3L, 1L)), r(4L).toString)
    assert(r(5L) == (("", 0L, 0L)), r(5L).toString)
  }

  test("maskRepeatedSpans: shifted duplicate spans that provably evade both paragraph units") {
    // one 30-token span S shared by two docs at DIFFERENT offsets (3 vs 7)
    // — the construction Lee et al. 2022's substring dedup exists for
    val S = (1 to 30).map(i => s"s$i").mkString(" ")
    val sdocs = Seq(
      (1L, s"a1 a2 a3 $S a4 a5"),          // 35 tokens, S at 3..32 (first)
      (2L, s"b1 b2 b3 b4 b5 b6 b7 $S b8")  // 38 tokens, S at 7..36
    ).toDF("doc_id", "text")

    // EVASION PROOF: both shipped alignment-locked units remove nothing.
    // blank-line paragraphs: one block per doc, blocks differ.
    val viaParas = Dedup.dropDuplicateParagraphs(
      sdocs.select(col("doc_id"), Dedup.blankLineParagraphs(col("text")).as("p")),
      "doc_id", col("p")).select("doc_id", "n_dropped")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(viaParas == Map(1L -> 0L, 2L -> 0L), viaParas.toString)
    // 25-token windows: the shifted span straddles every window boundary,
    // so all four windows are distinct.
    val viaWindows = Dedup.dropDuplicateParagraphs(
      sdocs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
        .select(col("doc_id"), Dedup.tokenWindows(col("__toks"), 25).as("p")),
      "doc_id", col("p")).select("doc_id", "n_dropped")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(viaWindows == Map(1L -> 0L, 2L -> 0L), viaWindows.toString)

    // span masking removes exactly S from doc 2 and nothing from doc 1
    val r = Dedup.maskRepeatedSpans(sdocs, "doc_id", "text", k = 8)
      .collect().map(x => x.getLong(0) ->
        (x.getString(3), x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == ((s"a1 a2 a3 $S a4 a5", 35L, 0L)), r(1L).toString)
    assert(r(2L) == (("b1 b2 b3 b4 b5 b6 b7 b8", 38L, 30L)), r(2L).toString)
  }

  test("maskRepeatedSpans: in-doc repeats, short-doc duplicates, empty docs") {
    val sdocs = Seq(
      (3L, "x y z"),   // 3 tokens < k: one whole-doc shingle (first)
      (4L, "x y z"),   // exact short duplicate -> fully masked
      (5L, ""),        // empty
      // 8-token span repeated back-to-back IN the same doc: second copy
      // masked, first survives, trailing unique token survives
      (6L, "p q r s t u v w p q r s t u v w zz")
    ).toDF("doc_id", "text")
    val r = Dedup.maskRepeatedSpans(sdocs, "doc_id", "text", k = 8)
      .collect().map(x => x.getLong(0) ->
        (x.getString(3), x.getLong(1), x.getLong(2))).toMap
    assert(r(3L) == (("x y z", 3L, 0L)), r(3L).toString)
    assert(r(4L) == (("", 3L, 3L)), r(4L).toString)
    assert(r(5L) == (("", 0L, 0L)), r(5L).toString)
    assert(r(6L) == (("p q r s t u v w zz", 17L, 8L)), r(6L).toString)
  }

  test("bpeTokens: greedy longest-match, char fallback, vocab-DataFrame load") {
    val vocab = Seq("the", "qu", "ick", "ing", "er", "brown")
    val bdocs = Seq(
      (1L, "thequickbrown zebra thinger"), // merges + full fallback + mixed
      (2L, ""), (3L, "   ")
    ).toDF("id", "text")
    val want = Seq("the", "qu", "ick", "brown", // longest-match merges
      "z", "e", "b", "r", "a",                  // no vocab hit: chars
      "t", "h", "ing", "er")                    // greedy, not optimal: t+h
    val r = bdocs.select(col("id"),
        TextAnalysis.bpeTokens(col("text"), vocab).as("b"))
      .collect().map(x => x.getLong(0) -> x.getSeq[String](1)).toMap
    assert(r(1L) == want, r(1L).toString)
    assert(r(2L).isEmpty && r(3L).isEmpty)
    // vocab loaded from a one-column frame (vocab file): same result
    // regardless of the frame's row order, and the count overload agrees
    val vdf = vocab.reverse.toDF("token")
    val r2 = bdocs.filter(col("id") === 1L)
      .select(TextAnalysis.bpeTokens(col("text"), vdf, "token"))
      .head.getSeq[String](0)
    assert(r2 == want, r2.toString)
    val n = bdocs.filter(col("id") === 1L)
      .select(TextAnalysis.subwordCount(col("text"), vocab)).head.getInt(0)
    assert(n == want.length)
    // the unbounded-collect guard on a mis-pointed "vocab"
    intercept[IllegalArgumentException] {
      TextAnalysis.loadBpeVocab(
        spark.range(10).selectExpr("CAST(id AS STRING) AS token"),
        maxEntries = 5)
    }
  }

  test("linearQualityScore: hand-computed logistic, empty doc, weights-file load") {
    val w = Map("the" -> 0.5, "dog" -> 1.0, "spam" -> -2.0)
    val qdocs = Seq(
      (1L, "the dog"),          // z = (0.5 + 1.0)/2 = 0.75
      (2L, "spam spam zz"),     // z = (-2 -2 + 0)/3
      (3L, "")                  // empty -> sigmoid(bias)
    ).toDF("id", "text")
    def sig(z: Double) = 1.0 / (1.0 + math.exp(-z))
    val r = qdocs.select(col("id"),
        TextAnalysis.linearQualityScore(col("text"), w).as("q"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - sig(0.75)) < 1e-12, r(1L).toString)
    assert(math.abs(r(2L) - sig(-4.0 / 3)) < 1e-9, r(2L).toString)
    assert(r(3L) == sig(0.0), r(3L).toString)
    // bias shifts every score; empty doc scores exactly sigmoid(bias)
    val rb = qdocs.filter(col("id") === 3L)
      .select(TextAnalysis.linearQualityScore(col("text"), w, bias = 2.0))
      .head.getDouble(0)
    assert(rb == sig(2.0), rb.toString)
    // weights from a (token, weight) frame: duplicate rows resolve to the
    // max weight regardless of row order, and the collect is capped
    val wdf = Seq(("dog", 0.25), ("dog", 1.0), ("the", 0.5))
      .toDF("token", "weight")
    assert(TextAnalysis.loadLinearWeights(wdf) == Map("dog" -> 1.0, "the" -> 0.5))
    intercept[IllegalArgumentException] {
      TextAnalysis.loadLinearWeights(
        spark.range(10).selectExpr("CAST(id AS STRING) token", "id * 1.0 weight"),
        maxEntries = 5)
    }
  }

  test("gopherQualityFlags: each App. A rule isolated on a hand-built doc") {
    val base = Seq("the", "be", "to", "of", "and", "that", "have", "with",
      "alpha", "beta", "gamma", "delta")
    val good = (1 to 5).flatMap(_ => base).mkString(" ") // 60 words, 8 stops
    val gdocs = Seq(
      (1L, good),                                    // passes every rule
      (2L, base.mkString(" ")),                      // 12 words: wc fails
      (3L, good + " # # # # # # #"),                 // 7/67 > 0.1: sym fails
      (4L, (1 to 10).map(i => s"• item $i").mkString("\n")), // all bulleted
      (5L, "one line fine\nsecond goes on...\nthird trails too..."),
      (6L, (1 to 60).map(i => (i * 37 % 1000).toString).mkString(" ")), // digits
      (7L, Array.fill(60)("extraordinarily").mkString(" ")) // mean wl 15
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherQualityFlags(gdocs)
      .collect().map(x => x.getLong(0) -> x).toMap
    def flag(id: Long, name: String) =
      r(id).getBoolean(r(id).fieldIndex(name))
    assert(flag(1L, "pass_gopher"), r(1L).toString)
    assert(!flag(2L, "word_count_ok") && flag(2L, "stop_word_ok")
      && !flag(2L, "pass_gopher"), r(2L).toString)
    assert(!flag(3L, "symbol_ratio_ok") && flag(3L, "alpha_word_ok"),
      r(3L).toString) // '#' words: 60/67 alpha still >= 0.8
    assert(!flag(4L, "bullet_ratio_ok"), r(4L).toString)
    assert(!flag(5L, "ellipsis_ratio_ok"), r(5L).toString) // 2 of 3 lines
    assert(!flag(6L, "alpha_word_ok") && !flag(6L, "stop_word_ok"), r(6L).toString)
    assert(!flag(7L, "mean_word_len_ok"), r(7L).toString)
  }

  test("c4Clean: line and document rules isolated") {
    val cdocs = Seq(
      (1L, "here is a good sentence.\nshort one.\n" +
        "no terminal punctuation here at all\n" +
        "this javascript line has five words.\n" +
        "quoted line with five words \"\n" +
        "second proper sentence right here!\n" +
        "third full sentence also lives here?"),
      (2L, "lorem ipsum somewhere...\nplus three good sentences right here. " +
        "another fine sentence right here. a third one to be sure."),
      (3L, "object notation { inside. with three sentences kept fine. " +
        "one more right here. final full sentence right here."),
      (4L, "only two sentences right here. second one with five words.")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.c4Clean(cdocs)
      .collect().map(x => x.getLong(0) ->
        (x.getString(1), x.getLong(3), x.getLong(4), x.getBoolean(5))).toMap
    // doc 1: 7 lines -> 4 kept (short, unpunctuated, javascript dropped);
    // the quote-terminated line adds no sentence ender -> 3 sentences
    assert(r(1L) == (("here is a good sentence.\n" +
      "quoted line with five words \"\n" +
      "second proper sentence right here!\n" +
      "third full sentence also lives here?", 4L, 3L, true)), r(1L).toString)
    assert(!r(2L)._4, "lorem ipsum must drop the doc: " + r(2L))
    assert(!r(3L)._4, "a curly brace must drop the doc: " + r(3L))
    assert(!r(4L)._4 && r(4L)._3 == 2L,
      "below min sentences must drop the doc: " + r(4L))
  }

  test("tokenWindows: fixed-span unit, boundary + short-doc behavior") {
    val tdocs = Seq((1L, "a b c d e"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val r = tdocs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"), Dedup.tokenWindows(col("__toks"), 2).as("w"))
      .collect().map(x => x.getLong(0) -> x.getSeq[String](1)).toMap
    assert(r(1L) == Seq("a b", "c d", "e"), r(1L).toString)
    assert(r(2L) == Seq("a b"), r(2L).toString)
    // split("", " ") yields [""] -> one empty window, matching the oracle's
    // string_split behavior (documents never carry empty text)
    assert(r(3L) == Seq(""), r(3L).toString)
  }

  test("jlProject: deterministic ±1 matrix; distributed projection equals the driver matvec") {
    import graft.pipeline.Quantize
    val signs = Quantize.jlSigns(4, 3)
    assert(signs.flatten.forall(s => s == 1.0 || s == -1.0))
    assert(Quantize.jlSigns(4, 3).map(_.toSeq).toSeq ==
      signs.map(_.toSeq).toSeq) // same seed → same matrix, every process
    val v = Array(1.0f, 2.0f, 3.0f, 4.0f)
    val df = Seq((1L, v.toSeq)).toDF("id", "v")
    val got = df.select(Quantize.jlProject(col("v"), signs).as("rv"))
      .head.getSeq[Double](0)
    val want = Quantize.jlProjectLocal(v, signs).toSeq
    assert(got == want, s"$got vs $want")
  }

  test("bigramLmScore: add-k smoothed corpus bigram NLL, hand-computed") {
    val lmDocs = Seq(
      (1L, "a b a b"), // bigrams: "a b" x2, "b a" x1
      (2L, "a b c"),   // "a b", "b c"
      (3L, "x"),       // no bigrams -> NULL score
      (4L, "")         // empty -> NULL score
    ).toDF("doc_id", "text")
    // corpus: c("a b")=3, c("b a")=1, c("b c")=1; left a=3, b=2; V=4, k=0.5
    // P(b|a)=3.5/5=0.7  P(a|b)=P(c|b)=1.5/4=0.375
    // doc1 = -(2 ln .7 + ln .375)/3 = 0.5647;  doc2 = -(ln .7 + ln .375)/2 = 0.6688
    val r = TextAnalysis.bigramLmScore(lmDocs).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(r(1L).contains(0.5647), r(1L).toString)
    assert(r(2L).contains(0.6688), r(2L).toString)
    assert(r(3L).isEmpty && r(4L).isEmpty, (r(3L), r(4L)).toString)
  }

  test("bigramLm fit/apply: OOV smoothing floor + save/load roundtrip") {
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")
    // model: c("a b")=2, c("b a")=1; left a=2, b=1; V={a,b}=2, k=0.5, kV=1
    val lm = TextAnalysis.bigramLmFit(train)
    assert(lm.vocab.select(col("v")).head().getLong(0) == 2L)
    val held = Seq(
      (10L, "a b c x"), // "a b": 2.5/3   "b c": 0.5/2   "c x" (OOV left): 0.5/1
      (11L, "solo")     // no bigrams -> NULL
    ).toDF("doc_id", "text")
    def scores(m: TextAnalysis.BigramLmByClass) =
      TextAnalysis.bigramLmApply(m, held).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    val r = scores(lm)
    // -(ln(2.5/3) + ln .25 + ln .5)/3 = 0.7539
    assert(r(10L).contains(0.7539), r(10L).toString)
    assert(r(11L).isEmpty, r(11L).toString)
    val dir = tmpDir("lm_model")
    lm.save(dir)
    val loaded = TextAnalysis.BigramLmByClass.load(spark, dir)
    assert(loaded.vocab.collect().toSet == lm.vocab.collect().toSet &&
      loaded.k == lm.k && loaded.capTokens == lm.capTokens)
    assert(scores(loaded) == r)
  }

  test("ccnet: end-to-end from a loaded weight file and persisted per-language LMs") {
    // the production shape the library operator exists for: a trained
    // (token, class, weight) model FILE + per-language reference LMs
    // persisted with BigramLmByClass.save, composed by Pipelines.ccnet
    val classes = Seq("aa", "bb", "cc")
    val weightsDf = Seq(
      ("alpha", "aa", 5.0), ("beta", "bb", 5.0), ("gamma", "cc", 5.0)
    ).toDF("token", "class", "weight")
    val (loadedClasses, table) = TextAnalysis.loadLinearClassWeights(weightsDf)
    assert(loadedClasses == classes)
    // per class: 12 docs around its marker; low ids share a frequent
    // phrase (low NLL), high ids carry rare word sequences (high NLL)
    val corpus = classes.zipWithIndex.flatMap { case (c, ci) =>
      val m = Seq("alpha", "beta", "gamma")(ci)
      (0 until 12).map { i =>
        val body =
          if (i < 6) s"common phrase here $c common phrase here $c"
          else s"rare$i$c word$i salt$i pepper$i stone$i river$i"
        ((ci * 100 + i).toLong, s"$m $body")
      }
    }.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("ccnet_lms")
    val lms = classes.map { c =>
      val ci = classes.indexOf(c)
      val fit = TextAnalysis.bigramLmFit(corpus.filter(
        col("doc_id") >= ci * 100 && col("doc_id") < ci * 100 + 12))
      fit.save(s"$tmp/$c")
      c -> TextAnalysis.BigramLmByClass.load(spark, s"$tmp/$c")
    }.toMap
    // head tercile only (midKeepPermille = 0): output must be exactly the
    // per-class lowest-NLL value-tercile under the counted-cutoff rule
    val out = Pipelines.ccnet(corpus, "text", "doc_id", classes, table,
        Seq(0.0, 0.0, 0.0), lms, midKeepPermille = 0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.forall(_._3 == 1), out.mkString(","))
    // every doc predicted its marker's class
    assert(out.forall { case (id, c, _) => classes((id / 100).toInt) == c },
      out.mkString(","))
    val expected = classes.flatMap { c =>
      val ci = classes.indexOf(c)
      val scored = TextAnalysis.bigramLmApply(lms(c), corpus.filter(
          col("doc_id") >= ci * 100 && col("doc_id") < ci * 100 + 12))
        .collect().map(r => r.getLong(0) -> r.getDouble(1))
      val n = scored.length.toLong
      val cum = scored.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
        .sortBy(_._1).scanLeft((Double.NaN, 0L)) {
          case ((_, c0), (s, k)) => (s, c0 + k) }.drop(1)
      val t1 = cum.find(_._2 * 3 >= n).get._1
      scored.filter(_._2 <= t1).map(_._1)
    }.toSet
    assert(out.map(_._1).toSet == expected,
      s"got ${out.map(_._1).toSet}, want $expected")
  }

  test("tokens: empty string yields empty array") {
    val r = docs.select(TextAnalysis.tokenCount(col("text")).as("n"), col("doc_id"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    assert(r(4L) == 0 && r(8L) == 1 && r(0L) == 9)
  }

  test("langid picks the profile language on real sentences") {
    val r = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(0L) == "en", s"got ${r(0L)}")
    assert(r(5L) == "de", s"got ${r(5L)}")
    assert(r(6L) == "es", s"got ${r(6L)}")
    assert(r(7L) == "fr", s"got ${r(7L)}")
    assert(r(4L) == "und")
  }

  test("exact dedup finds the duplicate group") {
    val groups = Dedup.exactDuplicates(docs, "text", "doc_id").collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n") == 2 && groups.head.getAs[Long]("min_id") == 0L)
    assert(Dedup.dropExactDuplicates(docs, "text", "doc_id").count() == 8)
  }

  test("minhash LSH catches the near-duplicate pair and the exact pair") {
    val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), s"exact dup missing: $pairs")
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L)), s"near dup missing: $pairs")
  }

  test("simhash: identical docs get identical fingerprints, near-dups are close") {
    val sims = docs.select(col("doc_id"), Dedup.simhashBits(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(0L) == sims(3L))
    val hamming01 = java.lang.Long.bitCount(sims(0L) ^ sims(1L))
    val hamming02 = java.lang.Long.bitCount(sims(0L) ^ sims(2L))
    assert(hamming01 < hamming02, s"near-dup hamming $hamming01 !< unrelated $hamming02")
    assert(sims(4L) == 0L)
  }

  test("simhashNearDuplicates returns the exact-dup pair at distance 0") {
    val nd = Dedup.simhashNearDuplicates(docs, "text", "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(nd.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 0))
  }

  test("fingerprint: identical docs collide, distinct docs don't") {
    val fps = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(3L))
    assert(fps(0L) != fps(2L))
    assert(fps(4L) == 0L)
  }

  test("multimodal: binary plumbing round-trips deterministic features") {
    val feats = Multimodal.extractFeatures(
        Multimodal.withBinaryPayload(docs, "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getInt(4), r.getInt(5)))).toMap
    assert(feats(0L)._1 == 43L) // byte length of doc 0
    assert(feats(0L)._2 == 't'.toInt)
    assert(feats(4L)._1 == 0L && feats(4L)._2 == -1)
    // decode stub metadata is a pure function of length
    assert(feats(0L)._3 == 16 + (43 % 64) && feats(0L)._4 == 16 + ((43 / 64) % 64))
  }

  test("real PNG decode: synthesized image round-trips through ImageIO with true dims") {
    val png = Multimodal.syntheticPng(23, 11, seed = 42L)
    // PNG magic bytes prove a real encode, not a stub
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P'.toByte)
    val meta = Multimodal.decode(png)
    assert(meta.width == 23 && meta.height == 11 && meta.nChannels == 3)
    // distributed: synthesize + decode over executors, dims match arithmetic
    val feats = Multimodal.extractFeatures(
        Multimodal.synthesizeImages(docs.select(col("doc_id"))))
      .select("doc_id", "width", "height").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    docs.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(feats(id) == (((8 + id % 16).toInt, (8 + id % 7).toInt)), s"doc $id")
    }
  }

  test("real WAV decode: header duration and channels") {
    // write a 0.25 s stereo 8 kHz WAV through the JDK encoder
    val frames = 2000
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val data = new Array[Byte](frames * fmt.getFrameSize)
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val meta = Multimodal.decode(bos.toByteArray)
    assert(meta.nChannels == 2 && meta.durationMs == 250L)
  }

  test("typed rejection: recognized-but-undecodable formats surface unsupported:<fmt>, never fake dims") {
    def bytes(parts: Any*): Array[Byte] = parts.flatMap {
      case s: String => s.getBytes("ISO-8859-1").toSeq
      case i: Int => Seq(i.toByte)
      case b: Byte => Seq(b)
    }.toArray
    val webp = bytes("RIFF", 0x24, 0, 0, 0, "WEBPVP8 ") ++ new Array[Byte](24)
    val mp3Id3 = bytes("ID3", 4, 0, 0, 0, 0, 0, 10) ++ new Array[Byte](32)
    val mp4 = bytes(0, 0, 0, 0x20, "ftypisom") ++ new Array[Byte](24)
    for ((payload, fmt) <- Seq(webp -> "webp", mp3Id3 -> "mp3", mp4 -> "mp4")) {
      val (status, meta) = Multimodal.decodeTyped(payload)
      assert(status == s"unsupported:$fmt", s"$fmt sniffed as $status")
      assert(meta == Multimodal.UnsupportedMeta,
        s"$fmt must carry the -1 sentinel, not stub dims: $meta")
    }
    // a VALID bare MPEG-1 Layer III frame header parses for real:
    // 128 kbps CBR, joint stereo -> 2 channels; 36 bytes * 8 / 128 = 2 ms
    val mp3Sync = bytes(0xff, 0xfb, 0x90, 0x64) ++ new Array[Byte](32)
    assert(Multimodal.decodeTyped(mp3Sync) ==
      (("ok:mp3", Multimodal.MediaMeta(0, 0, 2, 2L))))
    // decodable formats still classify ok:<fmt>
    val (pngStatus, pngMeta) = Multimodal.decodeTyped(Multimodal.syntheticPng(9, 5, 1L))
    assert(pngStatus == "ok:png" && pngMeta.width == 9)
    // a RIFF container that is neither WEBP nor parseable audio is a
    // typed bad header (stub meta keeps the extraction total)
    val lyingRiff = bytes("RIFF", 8, 0, 0, 0, "JUNK") ++ new Array[Byte](8)
    val (riffStatus, _) = Multimodal.decodeTyped(lyingRiff)
    assert(riffStatus == "badheader:wav", riffStatus)
    // unrecognized payloads stay on the deterministic stub
    assert(Multimodal.decodeTyped("plain text".getBytes)._1 == "stub")
    // the verdict rides the distributed extraction as media_status
    val rows = Seq(1L -> webp, 2L -> mp3Id3, 3L -> mp4,
      4L -> Multimodal.syntheticPng(9, 5, 2L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, p) =>
        org.apache.spark.sql.Row(id, p)
      }, 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType, nullable = false))))
    val statuses = Multimodal.extractFeatures(df)
      .select("doc_id", "media_status", "width").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(statuses(1L) == (("unsupported:webp", -1)))
    assert(statuses(2L) == (("unsupported:mp3", -1)))
    assert(statuses(3L) == (("unsupported:mp4", -1)))
    assert(statuses(4L) == (("ok:png", 9)))
  }

  test("pure-JVM header parsers: webp (all 3 variants) and mp4 extract real metadata") {
    import Multimodal.MediaMeta
    def riff(fourcc: String, chunk: Array[Byte]): Array[Byte] =
      ("RIFF".getBytes("ISO-8859-1") :+ 0.toByte :+ 0.toByte :+ 0.toByte :+ 0.toByte) ++
        "WEBP".getBytes("ISO-8859-1") ++ fourcc.getBytes("ISO-8859-1") ++
        Array[Byte](0, 0, 0, 0) ++ chunk ++ new Array[Byte](16)
    // VP8 lossy: 3-byte frame tag, 9d 01 2a sync, then u16le dims
    val vp8 = riff("VP8 ", Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a,
      0x40, 0x01, 0xf0.toByte, 0x00)) // 320 x 240
    assert(Multimodal.decodeWebP(vp8).contains(MediaMeta(320, 240, 3, 0L)))
    // VP8L lossless: 0x2f signature, (w-1) | (h-1)<<14 packed LE
    val v = (23 - 1) | ((11 - 1) << 14)
    val vp8l = riff("VP8L", Array[Byte](0x2f,
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte))
    assert(Multimodal.decodeWebP(vp8l).contains(MediaMeta(23, 11, 4, 0L)))
    // VP8X extended: 4 flag bytes, then u24le canvas dims minus one
    val vp8x = riff("VP8X", Array[Byte](0, 0, 0, 0,
      99, 0, 0, 49, 0, 0)) // 100 x 50
    assert(Multimodal.decodeWebP(vp8x).contains(MediaMeta(100, 50, 4, 0L)))
    // the distributed path reports ok:webp with the parsed dims
    assert(Multimodal.decodeTyped(vp8l) == (("ok:webp", MediaMeta(23, 11, 4, 0L))))

    // minimal mp4: ftyp + moov{ mvhd v0 (timescale 1000, duration 2500) +
    // trak{ tkhd v0 (width 640, height 360 as 16.16 fixed) } }
    val bb = java.nio.ByteBuffer.allocate(152) // big-endian by default
    bb.putInt(16); bb.put("ftypisom".getBytes("ISO-8859-1")); bb.putInt(0)
    bb.putInt(136); bb.put("moov".getBytes("ISO-8859-1"))
    bb.putInt(28); bb.put("mvhd".getBytes("ISO-8859-1"))
    bb.putInt(0); bb.putInt(0); bb.putInt(0) // ver/flags, ctime, mtime
    bb.putInt(1000); bb.putInt(2500) // timescale, duration
    bb.putInt(100); bb.put("trak".getBytes("ISO-8859-1"))
    bb.putInt(92); bb.put("tkhd".getBytes("ISO-8859-1"))
    (0 until 19).foreach(_ => bb.putInt(0)) // v0 header through the matrix
    bb.putInt(640 << 16); bb.putInt(360 << 16)
    val mp4 = bb.array()
    assert(Multimodal.decodeMp4(mp4).contains(MediaMeta(640, 360, 3, 2500L)))
    assert(Multimodal.decodeTyped(mp4) == (("ok:mp4", MediaMeta(640, 360, 3, 2500L))))
  }

  test("real image resize: dims change, content stays decodable") {
    val png = Multimodal.syntheticPng(32, 16, seed = 7L)
    val small = Multimodal.resizeImage(png, 8, 8)
    assert(small.isDefined)
    val meta = Multimodal.decodeImage(small.get).get
    assert(meta.width == 8 && meta.height == 8)
    // non-image payloads refuse instead of throwing
    assert(Multimodal.resizeImage("not an image".getBytes, 8, 8).isEmpty)
  }

  test("decode falls back to the stub for bytes no JDK codec accepts") {
    val bytes = "plain text payload".getBytes
    assert(Multimodal.decode(bytes) == Multimodal.decodeStub(bytes))
  }

  test("frame sampling explodes payload chunks") {
    val frames = Multimodal.sampleFrames(
        Multimodal.withBinaryPayload(docs.filter(col("doc_id") === 0L), "text"),
        stride = 16)
    assert(frames.count() == 3) // 44 bytes / 16 = 3 chunks
  }

  test("char-trigram langid identifies the profile language") {
    val r = docs.select(col("doc_id"), TextAnalysis.langIdNgram(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(5L) == "de", s"got ${r(5L)}")
    assert(r(6L) == "es", s"got ${r(6L)}")
    assert(r(4L) == "und")
  }

  test("quality score orders garbage below prose") {
    val q = docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(0L) > q(4L))
    assert(q(0L) > q(8L))
  }

  test("scrub masks URLs, emails, long digit runs; leaves prose alone") {
    import spark.implicits._
    val out = Seq(
      "visit https://ex.com/a?b=1 or mail bob.smith+x@corp.example.org id 123456789",
      "plain text with short 123 numbers")
      .toDF("t").select(TextAnalysis.scrub(col("t")).as("s"))
      .collect().map(_.getString(0))
    assert(out(0) == "visit <URL> or mail <EMAIL> id <NUM>", out(0))
    assert(out(1) == "plain text with short 123 numbers")
  }

  test("mixture sample flattens toward low-resource sources at alpha < 1") {
    import spark.implicits._
    // 3200 "en" vs 200 "sw": natural share 16:1
    val df = (0L until 3400L).map(i =>
      (i, if (i < 3200L) "en" else "sw")).toDF("id", "lang")
    val out = Pipelines.mixtureSample(df, "lang", "id",
      alpha = 0.5, targetFraction = 0.25)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = byLang.values.sum.toDouble
    assert(math.abs(total / 3400.0 - 0.25) < 0.05, byLang)
    // sqrt weights: expected ratio sqrt(3200):sqrt(200) = 4:1, not 16:1 —
    // the low-resource share must be well ABOVE its natural 1/17
    val swShare = byLang.getOrElse("sw", 0L) / total
    assert(swShare > 0.12 && swShare < 0.3, byLang)
    // capped source keeps everything: tiny source at a huge target rate
    val df2 = (0L until 1000L).map(i =>
      (i, if (i < 990L) "en" else "rare")).toDF("id", "lang")
    val out2 = Pipelines.mixtureSample(df2, "lang", "id",
      alpha = 0.1, targetFraction = 0.9)
    val rare = out2.filter($"lang" === "rare").count()
    assert(rare == 10L, s"capped rare source must keep all rows, got $rare")
    // deterministic
    assert(out.collect().toSeq == Pipelines.mixtureSample(df, "lang", "id",
      alpha = 0.5, targetFraction = 0.25).collect().toSeq)
  }

  test("stratified sample hits the per-stratum rates deterministically") {
    import spark.implicits._
    val df = (0L until 4000L).map(i =>
      (i, if (i % 2 == 0) "en" else if (i % 4 == 1) "de" else "fr")).toDF("id", "lang")
    val s1 = Pipelines.stratifiedSample(df, "lang", "id",
      Map("en" -> 0.5, "de" -> 0.25), 0.1)
    val s2 = Pipelines.stratifiedSample(df, "lang", "id",
      Map("en" -> 0.5, "de" -> 0.25), 0.1)
    assert(s1.collect().toSeq == s2.collect().toSeq) // reproducible
    val byLang = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byLang("en") / 2000.0 - 0.5) < 0.05, byLang)
    assert(math.abs(byLang("de") / 1000.0 - 0.25) < 0.05, byLang)
    assert(math.abs(byLang("fr") / 1000.0 - 0.1) < 0.05, byLang)
  }

  test("rangeJoinBinned == naive containment join, incl. intervals spanning bins") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // epoch-nano-scale values to catch double-precision bin math
    val base = 1700000000000000000L
    val points = (0 until 300).map(i => (i.toLong, base + rnd.nextInt(1000000) * 1000000L))
      .toDF("pid", "pts")
    val intervals = (0 until 50).map { i =>
      val s = base + rnd.nextInt(900000) * 1000000L
      (i.toLong, s, s + (rnd.nextInt(3) + 1) * 77000000000L) // 77-231s: spans bins
    }.toDF("iid", "istart", "iend")
    val got = graft.pipeline.Pipelines
      .rangeJoinBinned(points, "pts", intervals, "istart", "iend", 60000000000L)
      .select(col("pid"), col("iid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.crossJoin(intervals)
      .filter(col("pts") >= col("istart") && col("pts") <= col("iend"))
      .select(col("pid"), col("iid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive && naive.nonEmpty, s"got ${got.size} vs naive ${naive.size}")
  }

  test("packBySize: batches respect the greedy running-sum rule") {
    import spark.implicits._
    val df = Seq((1L, 40L), (2L, 50L), (3L, 30L), (4L, 100L), (5L, 10L))
      .toDF("id", "sz")
    val got = Pipelines.packBySize(df, "sz", "id", budget = 100L)
      .select("id", "batch_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cum-exclusive: 0,40,90,120,220 -> batches 0,0,0,1,2
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 2L), got)
  }

  test("contamination finds planted benchmark overlap only") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("id", "t")
    val train = Seq(
      (1L, "the quick brown fox jumps high today"), // shares a shingle prefix
      (2L, "completely different words entirely here")).toDF("id", "t")
    val got = Dedup.contamination(train, bench, "t", "id")
      .collect().map(r => r.getLong(0)).toSet
    assert(got == Set(1L), got)
  }

  test("int8 quantization: reconstruction within half a step, codes in 0..255") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 50L).map(i =>
      (i, Seq.fill(16)((rnd.nextFloat() * 4f) - 2f)))
    val df = graft.pipeline.Quantize.quantizeI8(vecs.toDF("id", "v"), "v")
      .withColumn("dq", graft.pipeline.Quantize.dequantized(col("q"), col("qmin"), col("qmax")))
    val rows = df.select("v", "q", "dq", "qmin", "qmax").collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0); val q = r.getSeq[Int](1)
      val dq = r.getSeq[Double](2)
      val step = (r.getDouble(4) - r.getDouble(3)) / 255.0
      assert(q.forall(x => x >= 0 && x <= 255))
      v.zip(dq).foreach { case (orig, rec) =>
        assert(math.abs(orig - rec) <= step / 2 + 1e-9,
          s"reconstruction error ${math.abs(orig - rec)} > half-step ${step / 2}")
      }
    }
    // constant vector edge: all-zero codes, exact reconstruction
    val const = graft.pipeline.Quantize.quantizeI8(
        Seq((1L, Seq(0.5f, 0.5f, 0.5f))).toDF("id", "v"), "v")
      .withColumn("dq", graft.pipeline.Quantize.dequantized(col("q"), col("qmin"), col("qmax")))
      .select("q", "dq").head()
    assert(const.getSeq[Int](0) == Seq(0, 0, 0))
    assert(const.getSeq[Double](1) == Seq(0.5, 0.5, 0.5))
  }

  test("duplicateClusters labels every component by its min id") {
    import spark.implicits._
    // components: {1,2,3} (chain), {10,11}, {20,21,22} (star), {5,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (5L, 9L))
      .toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 5L -> 5L, 9L -> 5L)
    // driver union-find path (small edge set)...
    val small = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(small == want, small)
    // ...and the distributed min-label loop must agree
    val dist = Dedup.duplicateClusters(pairs, driverThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == want, dist)
  }

  test("bucketed embedding near-dup: subset of brute force, recall >= 0.95") {
    import spark.implicits._
    // 10 tight direction-clusters on the unit sphere: real near-dups
    // (cos >= 0.9) exist within clusters — the regime the operator targets
    val rnd = new scala.util.Random(7)
    val dim = 16
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(10)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val points = (0 until 400).map { i =>
      val c = centers(i % 10)
      val p = unit(c.zip(Array.fill(dim)(rnd.nextGaussian() * 0.15)).map { case (a, b) => a + b })
      (i.toLong, p.map(_.toFloat).toSeq)
    }
    val df = points.toDF("id", "v")
    val brute = Dedup.embeddingNearDuplicates(df, "v", "id", minCosine = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size > 100, s"fixture too sparse: ${brute.size} brute pairs")
    // centroids deliberately misaligned with the true centers (first 12
    // points) — multi-probe has to recover boundary pairs
    val cents = points.take(12).map(_._2.map(_.toDouble).toArray).toArray
    val buck = Dedup.embeddingNearDuplicatesBucketed(df, "v", "id", cents,
        minCosine = 0.9, probes = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(buck.subsetOf(brute), "bucketed produced a pair brute force did not")
    val recall = buck.size.toDouble / brute.size
    assert(recall >= 0.95, f"recall $recall%.3f (${buck.size}/${brute.size})")
  }

  test("lshCandidatePairs maxBucket: a 100k identical-doc flood yields linear star pairs") {
    // the adversarial case the cap exists for: template spam hashing every
    // band into ONE bucket — uncapped that is n(n-1)/2 ≈ 5·10⁹ pairs;
    // capped it is n−1 star edges to the min-id representative
    val n = 100000L
    val flood = spark.range(n).select(col("id"),
      lit("buy cheap pills now best price online today").as("text"))
    val pairs = Dedup.lshCandidatePairs(flood, "text", "id",
      numHashes = 16, bands = 4, maxBucket = 64).cache()
    try {
      assert(pairs.count() == n - 1, "star pairing must emit exactly n-1 edges")
      assert(pairs.agg(min(col("id_a")), max(col("id_a"))).head ==
        org.apache.spark.sql.Row(0L, 0L), "every star edge roots at the min id")
      // connectivity preserved: the flood resolves to ONE duplicate cluster
      val clusters = Dedup.duplicateClusters(pairs)
      assert(clusters.filter(col("cluster") === 0L).count() == n)
    } finally pairs.unpersist()
  }

  test("maxBucket leaves the normal fixture's verified near-dup pairs unchanged") {
    def pairSet(maxBucket: Int) =
      Dedup.minhashNearDuplicates(docs, "text", "doc_id",
          threshold = 0.5, numHashes = 32, bands = 8, maxBucket = maxBucket)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairSet(Int.MaxValue)
    assert(uncapped.nonEmpty, "fixture must have near-dup pairs")
    assert(pairSet(8) == uncapped, "a cap above every bucket size must be a no-op")
  }

  test("embeddingNearDuplicatesBucketed maxBucket bounds an identical-vector flood") {
    val n = 10000L
    val flood = spark.range(n).select(col("id"),
      array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f)).as("v"))
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0, 0.0))
    val pairs = Dedup.embeddingNearDuplicatesBucketed(flood, "v", "id", cents,
      minCosine = 0.9, maxBucket = 32)
    assert(pairs.count() == n - 1, "star pairing must emit exactly n-1 edges")
    assert(pairs.agg(min(col("cos_sim")), max(col("cos_sim"))).head ==
      org.apache.spark.sql.Row(1.0, 1.0))
  }
}

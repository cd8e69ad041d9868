package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_SPAN_N > 0: span-mask scale probe on synthetic docs —
    // every 5th doc carries the same planted 30-token span at a varying
    // offset (the alignment-shifted case), surrounded by unique filler.
    val spanN = sys.env.getOrElse("SPARK_GRAFT_SPAN_N", "0").toLong
    if (spanN > 0) {
      val span = (1 to 30).map(i => s"sp$i").mkString(" ")
      val sdocs = spark.range(spanN).select(col("id").as("doc_id"),
        concat_ws(" ",
          array_join(transform(sequence(lit(1), (col("id") % 13 + 1).cast("int")),
            i => concat(lit("u"), col("id"), lit("_"), i)), " "),
          when(col("id") % 5 === 0, lit(span)).otherwise(lit("")),
          array_join(transform(sequence(lit(1), lit(40)),
            i => concat(lit("v"), col("id"), lit("_"), i)), " ")).as("text"))
      val t0 = System.nanoTime()
      val r = graft.pipeline.Dedup.maskRepeatedSpans(sdocs, "doc_id", "text", 8)
        .agg(sum(col("n_tokens")), sum(col("n_masked")),
          count(when(col("n_masked") > 0, 1))).head()
      println(f"span-mask n=$spanN: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"tokens=${r.getLong(0)} masked=${r.getLong(1)} docsMasked=${r.getLong(2)} " +
        s"expectedDocsMasked=${(spanN + 4) / 5 - 1}")
      spark.stop()
      return
    }
    // SPARK_GRAFT_DSIR_N > 0: DSIR scale probe — N synthetic raw docs
    // (every 10th target-like: an English phrase backbone; the rest
    // unique gibberish) against a 5k-doc target corpus, at
    // B = SPARK_GRAFT_DSIR_B buckets (default the paper's 10⁴). Times
    // fit (the one tagged-union B-bounded aggregate), score (map-only
    // kernel pass) and select (Gumbel top-N/4), and reports selection
    // precision — the fraction of selected docs that are target-like,
    // which importance weighting should pull far above the 10% base
    // rate. The score pass is corpus-linear and shuffle-free; fit cost
    // is the explode + partial-merge count.
    val dsirN = sys.env.getOrElse("SPARK_GRAFT_DSIR_N", "0").toLong
    if (dsirN > 0) {
      val b = sys.env.getOrElse("SPARK_GRAFT_DSIR_B", "10000").toInt
      val phrase = "the quick brown fox jumps over the lazy dog and " +
        "the small cat sleeps near the warm fire while rain falls"
      def filler(prefix: String, n: org.apache.spark.sql.Column) =
        array_join(transform(sequence(lit(1), n),
          i => concat(lit(prefix), col("id"), lit("_"), i)), " ")
      val target = spark.range(5000).select(col("id"),
        concat_ws(" ", lit(phrase), filler("t", (col("id") % 7 + 3).cast("int")))
          .as("text"))
      val raw = spark.range(dsirN).select(col("id").as("doc_id"),
        (col("id") % 10 === 0).as("is_target_like"),
        when(col("id") % 10 === 0,
            concat_ws(" ", lit(phrase), filler("r", (col("id") % 5 + 2).cast("int"))))
          .otherwise(filler("g", (col("id") % 11 + 20).cast("int")))
          .as("text"))
        .cache()
      raw.count() // materialize outside the timing windows
      val t0 = System.nanoTime()
      val model = graft.pipeline.Dsir.fit(target, raw, "text",
        wordNgrams = 2, buckets = b, alpha = 1.0)
      val tFit = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val scored = graft.pipeline.Dsir.score(raw, "text", model)
      val scoreAgg = scored.agg(sum(col("dsir_logw_micro"))).head()
      val tScore = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val k = (dsirN / 4).toInt
      val sel = graft.pipeline.Dsir.resample(scored, "doc_id", k)
        .agg(count(lit(1)), count(when(col("is_target_like"), 1))).head()
      val tSel = (System.nanoTime() - t2) / 1e9
      println(f"dsir n=$dsirN B=$b: fit=$tFit%.2f s score=$tScore%.2f s " +
        f"select=$tSel%.2f s selected=${sel.getLong(0)} " +
        f"targetLikeSelected=${sel.getLong(1)} " +
        f"precision=${sel.getLong(1).toDouble / sel.getLong(0)}%.3f " +
        s"(base rate 0.100) sumMicro=${scoreAgg.getLong(0)}")
      spark.stop()
      return
    }
    // SPARK_GRAFT_CCNET_N > 0: many-language CCNet scale probe — the
    // measured form of the joined-vs-per-class claim. N synthetic docs
    // over C = SPARK_GRAFT_CCNET_CLASSES languages (marker-token
    // classify, per-class phrase backbone with per-doc variation so the
    // terciles are non-trivial); the SAME corpus runs through (a) the
    // joined engine — bigramLmFitByClass (one pass fits ALL models) +
    // the long-model ccnet overload (one scan, one model join) — and
    // (b) the per-class engine — C sequential bigramLmFit calls + the
    // lmFor overload's C-branch filter/union. Outputs must agree on
    // (count, Σbucket, Σid·bucket); the wall-clock gap is the point.
    val ccnetN = sys.env.getOrElse("SPARK_GRAFT_CCNET_N", "0").toLong
    if (ccnetN > 0) {
      val c = sys.env.getOrElse("SPARK_GRAFT_CCNET_CLASSES", "40").toInt
      val classes = (0 until c).map(i => f"l$i%02d")
      val weights = (0 until c).map { i =>
        s"lang$i" -> (0 until c).map(j => if (i == j) 1.0 else 0.0)
      }.toMap
      val biases = Seq.fill(c)(0.0)
      val cls = pmod(col("id"), lit(c.toLong))
      val docs = spark.range(ccnetN).select(col("id").as("doc_id"),
        concat_ws(" ",
          concat(lit("lang"), cls),
          // class backbone: 20 tokens cycling through 9 class-keyed
          // words, phase-shifted per doc — heavy shared bigrams within
          // a class, enough per-doc variation for real terciles
          array_join(transform(sequence(lit(1), lit(20)),
            i => concat(lit("w"), cls, lit("_"),
              pmod(i + col("id") % 5, lit(9)))), " "),
          // a third of the docs carry unique noise (high-nll tail)
          when(col("id") % 3 === 0,
            array_join(transform(sequence(lit(1), lit(10)),
              i => concat(lit("n"), col("id"), lit("_"), i)), " "))
            .otherwise(lit(""))).as("text"))
      import graft.pipeline.{Pipelines, StageCaches, TextAnalysis}
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)), sum(col("bucket")),
          sum(col("doc_id") * col("bucket"))).head()
      val pred = docs.select(col("doc_id"), col("text"),
          TextAnalysis.linearClassifyLabel(col("text"), classes, weights,
            biases).as("pred_class"))
        .cache()
      pred.count() // materialize: both engines fit from this cache
      // SPARK_GRAFT_CCNET_ORDER=n (n>3): the ORDER-N joined engine's
      // flat-in-C timing (fit + 2n-1-join apply) — run at 10 and 40
      // classes to confirm the generic engine inherits the class-count
      // invariance (correctness is gate-pinned by tx_lm_5gram_perlang)
      // SPARK_GRAFT_CCNET_KN=1 swaps in the modified-KN engines (same
      // probe contract: the joined apply must stay flat in C).
      // SPARK_GRAFT_LM_MINCOUNT sets the count floor (default 2) and the
      // probe logs MODEL ROWS per order — the sweep mode behind
      // SCALE.md's model-size table: minCount is the claimed scale
      // control on unbounded corpora, so measure rows AND apply time
      // at 1/2/5.
      val ccnetOrder = sys.env.getOrElse("SPARK_GRAFT_CCNET_ORDER", "0").toInt
      if (ccnetOrder > 3) {
        val minCount = sys.env.getOrElse("SPARK_GRAFT_LM_MINCOUNT", "2").toInt
        val useKn = sys.env.getOrElse("SPARK_GRAFT_CCNET_KN", "0") == "1"
        val t0 = System.nanoTime()
        val (r, gramFrames) = if (useKn) {
          val lmK = TextAnalysis.knLmFitByClass(pred, "text", "doc_id",
            "pred_class", order = ccnetOrder, minCount = minCount)
          (TextAnalysis.knLmApplyJoined(lmK, pred, "text", "doc_id",
              "pred_class")
            .agg(count(lit(1)), count(col("lm_nll")), sum(col("lm_nll")))
            .head(), lmK.grams)
        } else {
          val lmN = TextAnalysis.ngramLmFitByClass(pred, "text", "doc_id",
            "pred_class", order = ccnetOrder, minCount = minCount)
          (TextAnalysis.ngramLmApplyJoined(lmN, pred, "text",
              "doc_id", "pred_class")
            .agg(count(lit(1)), count(col("lm_nll")), sum(col("lm_nll")))
            .head(), lmN.counts)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        // model rows AFTER the timing window (reads the fit's caches)
        val modelRows = gramFrames.map(_.count())
        StageCaches.unpersistAll(blocking = true)
        val eng = if (useKn) "kn" else "sb"
        println(f"ccnet-ngram probe: n=$ccnetN classes=$c " +
          f"order=$ccnetOrder engine=$eng minCount=$minCount " +
          f"joined=$secs%.1f s rows=${r.getLong(0)} " +
          s"scored=${r.getLong(1)} " +
          s"modelRows=${modelRows.mkString("+")}=${modelRows.sum}")
        spark.stop()
        return
      }
      val tj0 = System.nanoTime()
      val lmJoined = TextAnalysis.bigramLmFitByClass(pred, "text",
        "doc_id", "pred_class")
      val aj = agg(Pipelines.ccnet(docs, "text", "doc_id", classes,
        weights, biases, lmJoined, 500))
      val tJoined = (System.nanoTime() - tj0) / 1e9
      StageCaches.unpersistAll(blocking = true)
      val tp0 = System.nanoTime()
      val lms = classes.map { k =>
        k -> TextAnalysis.bigramLmFit(pred.filter(col("pred_class") === k),
          "text", "doc_id")
      }.toMap
      val ap = agg(Pipelines.ccnet(docs, "text", "doc_id", classes,
        weights, biases, lms, 500))
      val tPerClass = (System.nanoTime() - tp0) / 1e9
      StageCaches.unpersistAll(blocking = true)
      val eq = (0 to 2).forall(i => aj.get(i) == ap.get(i))
      println(f"ccnet-joined probe: n=$ccnetN classes=$c " +
        f"joined=$tJoined%.1f s perClass=$tPerClass%.1f s " +
        f"speedup=${tPerClass / tJoined}%.1fx kept=${aj.getLong(0)} " +
        s"MATCH=$eq")
      spark.stop()
      return
    }
    // SPARK_GRAFT_BPE_N > 0: BPE-training scale probe — N synthetic docs
    // with ~N distinct words (unique word per doc + pooled words), the
    // learned merge table compared EXACTLY against an independent local
    // reference implementation over the same word multiset (the sf
    // corpora have only ~31 distinct words, far too small to exercise
    // the word-table path).
    val bpeN = sys.env.getOrElse("SPARK_GRAFT_BPE_N", "0").toLong
    if (bpeN > 0) {
      // SPARK_GRAFT_BPE_MERGES: merge rounds (default 8; 1000 for the
      // production-shape wall-time measurement). SPARK_GRAFT_BPE_MINCOUNT:
      // the count floor — the reference loop prunes ITS word table with
      // the same floor, so merge-table equality is checked on the
      // pruned-table semantics the operator promises.
      val rounds = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "8").toInt
      val minCount = sys.env.getOrElse("SPARK_GRAFT_BPE_MINCOUNT", "1").toLong
      // SPARK_GRAFT_BPE_BATCH: merges applied per round (batchMerges);
      // the reference loop below implements the IDENTICAL contiguous
      // symbol-disjoint-prefix rule, so MATCH checks the batched
      // semantics exactly at any B
      val batch = sys.env.getOrElse("SPARK_GRAFT_BPE_BATCH", "1").toInt
      val sdocs = spark.range(bpeN).select(col("id").as("doc_id"),
        concat_ws(" ",
          concat(lit("alpha"), pmod(col("id"), lit(9973))),
          concat(lit("beta"), pmod(col("id"), lit(997))),
          concat(lit("uniq"), col("id")),
          lit("common common tail")).as("text"))
      // reference: plain-Scala Sennrich loop on the collected word counts
      val wc = sdocs
        .select(explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .filter(_._2 >= minCount)
      println(s"bpe-fit probe: n=$bpeN minCount=$minCount " +
        s"prunedDistinctWords=${wc.length}")
      def mergeGreedy(toks: Vector[String], l: String, r: String): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += toks(i); i += 1 }
        }
        out.result()
      }
      def referenceMerges(b: Int): Seq[(String, String, Long)] = {
        var ws = wc.map { case (w, c) =>
          (w.toCharArray.map(_.toString).toVector, c)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var r0 = 0
        while (r0 < rounds) {
          val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
          for ((toks, c) <- ws; i <- 0 until toks.length - 1)
            counts((toks(i), toks(i + 1))) =
              counts.getOrElse((toks(i), toks(i + 1)), 0L) + c
          if (counts.isEmpty) r0 = rounds
          else {
            val cand = counts.toSeq
              .sortBy { case ((a, b2), n) => (-n, a, b2) }
              .take(math.min(b, rounds - r0))
            // the operator's batched rule verbatim: contiguous prefix,
            // stop at the first candidate sharing an accepted symbol or
            // an accepted merge result (at b = 1 this IS the plain
            // Sennrich loop — the batch of one is always disjoint)
            val used = scala.collection.mutable.Set.empty[String]
            val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
            var stop = false
            cand.foreach { case ((l, rr), c) =>
              if (!stop) {
                if (used(l) || used(rr) || used(l + rr)) stop = true
                else { acc += ((l, rr, c)); used += l; used += rr; used += (l + rr) }
              }
            }
            if (acc.isEmpty) r0 = rounds
            else {
              acc.foreach { case (l, rr, c) =>
                out += ((l, rr, c))
                ws = ws.map { case (toks, cc) => (mergeGreedy(toks, l, rr), cc) }
                r0 += 1
              }
            }
          }
        }
        out.toSeq
      }
      val expected = referenceMerges(batch)
      val t0 = System.nanoTime()
      val got = graft.pipeline.TextAnalysis.bpeFit(sdocs, "text", rounds,
          minWordCount = minCount, batchMerges = batch)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
      val bpeSecs = (System.nanoTime() - t0) / 1e9
      println(f"bpe-fit $rounds rounds (batch=$batch): $bpeSecs%.2f s " +
        f"(${bpeSecs / math.max(1, got.length)}%.3f s/merge, " +
        f"32k-merge extrapolation ${bpeSecs / math.max(1, got.length) * 32768 / 3600}%.2f h)")
      println(s"got:      ${got.mkString(", ")}")
      println(s"expected: ${expected.mkString(", ")}")
      println(s"MATCH=${got == expected}")
      // independent validation of the BATCHED semantics (not just rule
      // transcription): the exactness contract says batch == the B=1
      // sequential Sennrich fit unless an exact count tie flips a
      // multi-char lex comparison — so at probe scale (untied counts by
      // construction) the batched output must equal the sequential one,
      // and any divergence must sit on an exact tie
      if (batch > 1) {
        val seq = referenceMerges(1)
        val seqMatch = got == seq
        if (!seqMatch) {
          val i = got.zip(seq).indexWhere { case (a, b) => a != b }
          val (g, e) = (got(i), seq(i))
          println(s"SEQ_DIVERGES_AT=$i got=$g seq=$e " +
            s"TIE=${g._3 == e._3} (contract: divergence requires an exact count tie)")
        }
        println(s"SEQ_MATCH=$seqMatch")
      }
      spark.stop()
      return
    }
    // SPARK_GRAFT_FIT_N > 0: logistic-trainer scale probe — N synthetic
    // docs with planted class markers + ~N unique filler tokens (vocab
    // ~= N), timing per GD iteration and asserting the planted signs.
    val fitN = sys.env.getOrElse("SPARK_GRAFT_FIT_N", "0").toLong
    if (fitN > 0) {
      val sdocs = spark.range(fitN).select(col("id").as("doc_id"),
        (col("id") % 2).cast("double").as("y"),
        concat_ws(" ",
          when(col("id") % 2 === 1, lit("posmark")).otherwise(lit("negmark")),
          concat(lit("filler"), col("id")),
          lit("shared tokens everywhere")).as("text"))
      // SPARK_GRAFT_FIT_JOINED=1: same probe through the joined-weight
      // path (linearFitDf, vocabCutover=0) — the 10⁷-vocab engine, where
      // the weight table never touches the driver
      val joined = sys.env.getOrElse("SPARK_GRAFT_FIT_JOINED", "0") == "1"
      val t0 = System.nanoTime()
      val (w, b) =
        if (joined) {
          val (wdf, bb) = graft.pipeline.TextAnalysis.linearFitDf(
            sdocs, "text", "y", iterations = 3, lr = 1.0, vocabCutover = 0L)
          val marks = wdf.filter(col("token").isin("posmark", "negmark"))
            .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
          val vocabN = wdf.count()
          (marks.map { case (k, v) => k -> v } ++
            Map("__vocab__" -> vocabN.toDouble), bb)
        } else {
          val (wm, bb) = graft.pipeline.TextAnalysis.linearFit(
            sdocs, "text", "y", iterations = 3, lr = 1.0)
          (wm ++ Map("__vocab__" -> wm.size.toDouble), bb)
        }
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"linear-fit${if (joined) " (joined)" else ""} n=$fitN " +
        f"vocab=${w("__vocab__").toLong} 3 iters: $secs%.2f s " +
        f"(${secs / 3}%.2f s/iter)")
      println(s"posmark=${w("posmark")} negmark=${w("negmark")} bias=$b")
      println(s"MATCH=${w("posmark") > 0 && w("negmark") < 0}")
      spark.stop()
      return
    }
    // SPARK_GRAFT_CLEAN_N > 0: FULL-CHAIN scale probe — N synthetic docs
    // with violations planted at known rates through cleanCorpusFull
    // (C4 -> Gopher -> span mask -> fully-masked drop -> exact dedup),
    // asserting EXPECTED survivor counts per class. Per-stage oracles
    // cannot see cross-stage interactions (a doc must survive C4+Gopher
    // to reach masking; exact dedup fires on post-mask text); this is
    // the planted-counts discipline applied to the composition.
    // Classes by id % 10:
    //   0,8,9 healthy unique (two C4 line violations ride along) -> keep, 50 toks
    //   1 '{' doc-kill, 2 'lorem ipsum' doc-kill      -> C4 drops all
    //   3 18-token doc                                 -> Gopher drops all
    //   4 ALL IDENTICAL                                -> min id survives whole,
    //     every other copy fully masked -> fully-masked drop
    //   5 unique 6-token prefix F_j + shared 45-token span S
    //   6 the SAME F_j + a different shared span S2
    //     -> the first 5/6 docs keep everything; every later pair masks
    //        down to the identical F_j, so exact dedup keeps the ≡5 doc
    //        and drops the ≡6 one (the cross-stage interaction)
    //   7 30-token span at an id-varying line offset inside 50 unique
    //     tokens -> first doc whole (80), later docs keep exactly 50
    val cleanN = sys.env.getOrElse("SPARK_GRAFT_CLEAN_N", "0").toLong
    if (cleanN > 0) {
      require(cleanN % 10 == 0 && cleanN >= 20, "CLEAN_N: multiple of 10, >= 20")
      val sdocs = plantedCleanCorpus(spark, cleanN)
      val t0 = System.nanoTime()
      val out = graft.pipeline.Pipelines.cleanCorpusFull(sdocs, "text", "doc_id")
        .select(col("doc_id"), col("n_final"),
          pmod(col("doc_id"), lit(10)).as("cls"))
        .groupBy(col("cls"), col("n_final")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val secs = (System.nanoTime() - t0) / 1e9
      graft.pipeline.StageCaches.unpersistAll()
      val expected = plantedCleanExpected(cleanN)
      println(f"clean-full n=$cleanN: $secs%.2f s survivors=" +
        s"${out.toSeq.map(_._3).sum} expectedSurvivors=${cleanN / 2 + 2}")
      println(s"got:      ${out.toSeq.sorted.mkString(", ")}")
      println(s"expected: ${expected.toSeq.sorted.mkString(", ")}")
      println(s"MATCH=${out == expected}")
      spark.stop()
      return
    }
    // SPARK_GRAFT_CLEAN_INCR_N > 0: the SAME planted corpus driven
    // through the ALWAYS-ON streaming path in TWO snapshots
    // (doc_id < N/2, then the rest — emit + cleanConsumeIncremental per
    // snapshot, separate queries on shared checkpoints): the
    // accumulated output must hit the IDENTICAL per-class planted
    // counts as the batch chain on the union — snapshot-2 copies of
    // snapshot-1 text (the class-4 flood, later class-7 span carriers)
    // must drop against checkpoint state without re-reading snapshot 1.
    // SPARK_GRAFT_CLEAN_TTL (ms, optional): run the digest dedup through
    // the TTL-bounded form (incrementalCleanDedupTtl); with a TTL large
    // enough to span both snapshots the planted counts must be UNCHANGED
    // (the bound changes state size, not in-window semantics).
    val cleanIncrN = sys.env.getOrElse("SPARK_GRAFT_CLEAN_INCR_N", "0").toLong
    if (cleanIncrN > 0) {
      require(cleanIncrN % 20 == 0 && cleanIncrN >= 40,
        "CLEAN_INCR_N: multiple of 20, >= 40 (the split must not cut a decade)")
      val sdocs = plantedCleanCorpus(spark, cleanIncrN)
      val base = java.nio.file.Files.createTempDirectory("clean_incr_probe")
      def p(s: String) = base.resolve(s).toString
      val schema = sdocs.schema
      val t0 = System.nanoTime()
      def snapshot(pred: org.apache.spark.sql.Column): Unit = {
        sdocs.filter(pred).write.mode("append").parquet(p("src"))
        val q = graft.streaming.DocStream.cleanStreamEmit(
            spark.readStream.schema(schema).parquet(p("src")),
            "text", "doc_id", 8)
          .writeStream.format("parquet").option("path", p("wins"))
          .option("checkpointLocation", p("ck_emit"))
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.streaming.DocStream.cleanConsumeIncremental(
          sdocs.filter(pred), spark.read.parquet(p("wins")),
          p("inbox"), p("ck_dedup"), p("out"), "text", "doc_id", 8,
          ttlMs = sys.env.getOrElse("SPARK_GRAFT_CLEAN_TTL", "0").toLong)
      }
      snapshot(col("doc_id") < cleanIncrN / 2)
      // SPARK_GRAFT_CLEAN_VACUUM=1: drop snapshot 1's committed inbox
      // files before snapshot 2 — the planted counts must be unchanged
      // (dedup state lives in the checkpoint, not the vacuumed files)
      if (sys.env.getOrElse("SPARK_GRAFT_CLEAN_VACUUM", "0") == "1") {
        val nv = graft.streaming.DocStream.vacuumInbox(
          spark, p("inbox"), p("ck_dedup"))
        println(s"clean-incr vacuum after snapshot 1: $nv files deleted")
      }
      snapshot(col("doc_id") >= cleanIncrN / 2)
      val out = spark.read.parquet(p("out"))
        .select(col("n_final"), pmod(col("id"), lit(10)).as("cls"))
        .groupBy(col("cls"), col("n_final")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val secs = (System.nanoTime() - t0) / 1e9
      graft.pipeline.StageCaches.unpersistAll()
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      val expected = plantedCleanExpected(cleanIncrN)
      println(f"clean-incr n=$cleanIncrN (2 snapshots): $secs%.2f s survivors=" +
        s"${out.toSeq.map(_._3).sum} expectedSurvivors=${cleanIncrN / 2 + 2}")
      println(s"got:      ${out.toSeq.sorted.mkString(", ")}")
      println(s"expected: ${expected.toSeq.sorted.mkString(", ")}")
      println(s"MATCH=${out == expected}")
      spark.stop()
      return
    }
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    println(s"docs=${docs.count()}")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$label: ${(System.nanoTime()-t0)/1e9}%.2f s (rows=$n)")
    }
    time("tokens+shingle-md5 only") {
      docs.select(Dedup.shingleHashes(col("text")).as("hs"))
        .select(sum(size(col("hs")))).head(); docs.count()
    }
    time("signatures") { Dedup.minhashSignatures(docs, "text", "doc_id", 32).count() }
    time("lsh candidates") { Dedup.lshCandidatePairs(docs, "text", "doc_id", 32, 8).count() }
    time("full minhashNearDuplicates") {
      Dedup.minhashNearDuplicates(docs, "text", "doc_id", 0.5, 32, 8).count()
    }
    spark.stop()
  }

  /** The planted clean-chain corpus shared by the CLEAN_N (batch) and
    * CLEAN_INCR_N (always-on streaming) probes — ONE copy of the
    * fixture so the two probes provably run the same input. Classes by
    * id % 10 (see the CLEAN_N comment above for the per-class design
    * and the expected interactions). */
  private def plantedCleanCorpus(spark: SparkSession, n: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    val id = col("id")
    // first AND last word of every unique line are id-tagged: a shared
    // trailing word would form an all-shared 8-gram with a planted
    // span's first 7 tokens and mask one token too many (measured)
    def ulines(from: Column, to: Column): Column =
      array_join(transform(sequence(from, to), l =>
        concat_ws(" ",
          concat(lit("u"), id, lit("w"), l, lit("a")),
          lit("holds the fine and"),
          concat(lit("u"), id, lit("w"), l, lit("b")),
          concat(lit("u"), id, lit("w"), l, lit("c")),
          concat(lit("u"), id, lit("w"), l, lit("d")),
          concat(lit("u"), id, lit("w"), l, lit("e")),
          concat(lit("u"), id, lit("w"), l, lit("f.")))), "\n")
    val span30 = (1 to 15).map(i => s"sp${i}a").mkString(" ") + ".\n" +
      (1 to 15).map(i => s"sp${i}b").mkString(" ") + "."
    def span45(tag: String) = (1 to 3).map(i =>
      (1 to 15).map(k => s"$tag$i" + s"x$k").mkString(" ") + ".").mkString("\n")
    val template60 = (1 to 6).map(l =>
      s"tmpl${l}a holds the fine and tmpl${l}b tmpl${l}c tmpl${l}d tmpl${l}e stays.")
      .mkString("\n")
    // the pair prefix F_j: 6 tokens (< the shingle width, so no
    // F-only window exists), FOUR of them j-tagged — with only the
    // first token tagged, the window [holds the line and stays. S0..]
    // is identical across pairs and masks F down to one token
    val fj = (id / 10).cast("long")
    val prefixLine = concat(lit("pfx"), fj, lit("a hold"), fj,
      lit("b the and mid"), fj, lit("c end"), fj, lit("d.\n"))
    val healthy = concat(ulines(lit(1), lit(5)),
      lit("\njavascript mention with five words here.\n" +
        "no terminal punctuation on this line at all"))
    val cls = pmod(id, lit(10))
    val b = lit(1) + pmod(id, lit(3)) // class-7 span offset: 1..3 lines before
    val text = when(cls === 1, concat(healthy, lit("\nbrace { line with words here.")))
      .when(cls === 2, concat(healthy, lit("\nlorem ipsum here with more words.")))
      .when(cls === 3, concat_ws("\n",
        concat(lit("tiny"), id, lit(" sits the line and stays.")),
        concat(lit("tiny"), id, lit(" alsoa the line and stays.")),
        concat(lit("tiny"), id, lit(" again the line and stays."))))
      .when(cls === 4, lit(template60))
      .when(cls === 5, concat(prefixLine, lit(span45("spw"))))
      .when(cls === 6, concat(prefixLine, lit(span45("sqw"))))
      .when(cls === 7, concat(ulines(lit(1), b), lit("\n" + span30 + "\n"),
        ulines(b + 1, lit(5))))
      .otherwise(healthy)
    spark.range(n).select(id.as("doc_id"), text.as("text"))
  }

  /** Expected (cls, n_final, count) survivor set for
    * [[plantedCleanCorpus]] of size n — identical for the batch chain
    * and the increasing-id snapshot split (snapshot-1 ids are lower, so
    * the stream's first-batch winners equal the batch min(id, pos)). */
  private def plantedCleanExpected(n: Long): Set[(Long, Long, Long)] = {
    val g = n / 10
    Set(
      (0L, 50L, g), (8L, 50L, g), (9L, 50L, g), // healthy
      (4L, 60L, 1L), // identical flood: one whole survivor
      (5L, 51L, 1L), (5L, 6L, g - 1), // first pair whole, later = F_j
      (6L, 51L, 1L), // the j=0 pair partner; j>0 partners exact-deduped
      (7L, 80L, 1L), (7L, 50L, g - 1)) // shifted span masked in full
  }
}

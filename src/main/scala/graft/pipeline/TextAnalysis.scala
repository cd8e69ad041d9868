package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, document fingerprinting.
  *
  * Everything is composed from codegen'd built-ins (split / transform /
  * aggregate / filter) — no UDFs — so the operators run inside whole-stage
  * codegen and scale linearly with partitions: each is a pure map over rows
  * with no shuffle.
  */
object TextAnalysis {

  /** Whitespace tokenization (empty input => empty array, not [""]). */
  def tokens(text: Column): Column = {
    val trimmed = trim(text)
    when(length(trimmed) === 0, array().cast("array<string>"))
      .otherwise(split(trimmed, "\\s+"))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: whitespace tokens plus intra-word
    * splits on case/digit/punct boundaries (a cheap stand-in for a real
    * tokenizer's fertility, deterministic and shuffle-free). */
  def subwordCount(text: Column): Column = {
    val pieces = split(trim(text),
      "\\s+|(?<=[a-z])(?=[A-Z])|(?<=[A-Za-z])(?=[0-9])|(?<=[0-9])(?=[A-Za-z])|(?=[^A-Za-z0-9\\s])")
    size(filter(pieces, p => length(p) > 0))
  }

  /** Greedy longest-match subword tokens from an INPUT VOCABULARY — the
    * apply step of a trained BPE/WordPiece model. Map-only: the vocab
    * rides the expression as a reference object (no join). Word
    * boundaries match [[tokens]] (`\s+` on trimmed text); unmatched
    * positions fall back to single characters. Use this instead of the
    * heuristic [[subwordCount]] whenever a real tokenizer vocab is
    * available — packing/mixing budgets keyed to it then match the
    * training tokenizer's actual fertility. */
  def bpeTokens(text: Column, vocab: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.CatalystBridge
    CatalystBridge.column(graft.functions.BpeGreedyTokens(
      CatalystBridge.expression(text), vocab))
  }

  /** [[bpeTokens]] with the vocabulary loaded from a one-column DataFrame
    * (a vocab file read as text/csv/parquet). Entries are collected to
    * the driver — a tokenizer vocab is bounded (~10⁴..10⁵ entries), and
    * `maxEntries` guards against an unbounded collect from a mis-pointed
    * table; sorted for a deterministic expression regardless of the
    * source's partitioning. */
  def loadBpeVocab(vocabDf: org.apache.spark.sql.DataFrame,
      vocabCol: String = "token", maxEntries: Int = 1 << 21): Seq[String] = {
    val n = vocabDf.count()
    require(n <= maxEntries,
      s"vocab has $n entries (> $maxEntries): not a tokenizer vocabulary")
    vocabDf.select(col(vocabCol).cast("string")).na.drop()
      .distinct().collect().map(_.getString(0)).sorted.toSeq
  }

  def bpeTokens(text: Column, vocabDf: org.apache.spark.sql.DataFrame,
      vocabCol: String): Column =
    bpeTokens(text, loadBpeVocab(vocabDf, vocabCol))

  /** Subword count under an input vocab — see [[bpeTokens]]. */
  def subwordCount(text: Column, vocab: Seq[String]): Column =
    size(bpeTokens(text, vocab))

  /** Merge-ORDER BPE encode from an ordered merge list — the faithful
    * inference of a trained BPE model ([[graft.functions.BpeMergeOrderTokens]];
    * [[bpeTokens]] is the longest-match heuristic over a flat vocab).
    * Feed it [[bpeFit]]'s (lft, rgt) rows in rank order, or a merges
    * file via [[loadBpeMerges]]. */
  def bpeTokensByMerges(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graftbridge.CatalystBridge
    CatalystBridge.column(graft.functions.BpeMergeOrderTokens(
      CatalystBridge.expression(text), merges))
  }

  /** Ordered merge list from a merges DataFrame (rank, lft, rgt — the
    * [[bpeFit]] output shape / a merges.txt read as columns). Bounded
    * collect with a mis-pointed-table guard; sorted by rank. */
  def loadBpeMerges(mergesDf: org.apache.spark.sql.DataFrame,
      rankCol: String = "rank", leftCol: String = "lft",
      rightCol: String = "rgt", maxEntries: Int = 1 << 21): Seq[(String, String)] = {
    val n = mergesDf.count()
    require(n <= maxEntries,
      s"merge table has $n entries (> $maxEntries): not a BPE merges file")
    mergesDf.select(col(rankCol).cast("long"), col(leftCol).cast("string"),
        col(rightCol).cast("string")).na.drop()
      .collect().sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** BPE vocabulary TRAINING — the merge-learning step of Sennrich et
    * al. 2016 ("Neural Machine Translation of Rare Words with Subword
    * Units", the public algorithm): start from characters, repeatedly
    * (1) count every adjacent symbol pair across the corpus (overlaps
    * included, weighted by word frequency), (2) take the most frequent
    * pair — ties broken (left, right) lexicographic so the model is
    * deterministic on any engine — and (3) merge it greedily
    * left-to-right in every word ([[graft.functions.BpeMergePair]]).
    * Returns the learned merge table (rank, lft, rgt, merged,
    * pair_count), rank = merge priority order.
    *
    * Spark shape: the state is the DISTINCT-WORD table (word, symbol
    * array, count) — corpus text is read ONCE for the word count; every
    * round after that is one partial-agg groupBy over the word table
    * plus a single-row argmax to the driver (the algorithm's inherent
    * sequential dependency) and a map-only merge apply. Per-round cost
    * is independent of corpus size; every round truncates its lineage
    * with a LAZY localCheckpoint (materialized by the round's own
    * argmax job, so it costs nothing extra over a cache — and unlike a
    * cache chain it cannot accumulate plan depth: under AQE each nested
    * cached round prints BOTH its initial and final physical plans, so
    * a cache chain's plan STRING doubles per round and OOMs the driver
    * near depth ~25; measured, hence truncate-every-round). Each round
    * EXPLICITLY releases the round-before-last's checkpoint blocks
    * right after its argmax materializes the current round (storage is
    * bounded at two rounds' worth deterministically, not
    * when-the-driver-GCs); the trade of a LAZY checkpoint is that its
    * blocks are non-recoverable — on executor/block loss the fit FAILS
    * and must rerun rather than recomputing lineage (acceptable for a
    * trainer job; rerun cost is the rounds so far).
    * Merging never crosses a word boundary (no end-of-word marker —
    * the byte-level-BPE convention; words come from [[tokens]]).
    * Stops early when no pair reaches `minPairCount`.
    *
    * `minWordCount` / `maxWords` prune the word table ONCE after the
    * initial count — the standard trainer bound (SentencePiece/HF expose
    * the same knobs): per-round cost is word-table-bound, so a
    * production 32k-merge fit needs the table capped; on a Zipfian
    * corpus the count floor discards a vanishing share of PAIR MASS
    * (rank-r word frequency ~ 1/r: words below count c hold well under
    * 1% of occurrences for any realistic c — the coverage math and the
    * measured 1k-merge wall time live in SCALE.md). The floor changes
    * the learned merges only where a tail word's pairs were decisive —
    * exactly the noise the bound exists to drop. `maxWords` keeps the
    * top-M by (count desc, word asc) — deterministic under ties.
    *
    * `batchMerges` = B > 1 applies a BATCH of merges per round — the
    * standard trainer trick for the sequential-latency bound (a 32k-merge
    * fit is priced by rounds × job latency, not data size): each round
    * takes the top-B pairs from the SAME count aggregate and keeps the
    * CONTIGUOUS greedy prefix that is symbol-disjoint (stopping at the
    * FIRST candidate sharing a symbol — including the freshly merged
    * symbols — with an earlier accepted one), applies the accepted
    * prefix as one chained map, and assigns ranks in candidate order.
    * Exactness contract: an accepted prefix's own counts are invariant
    * under each other (disjointness), and a pair CREATED by an accepted
    * merge can never out-COUNT a later accepted candidate (its count is
    * bounded by a destroyed pair's, which — ranking before the later
    * candidate — would have stopped the prefix), so divergence from
    * B = 1 requires a created pair to TIE a later accepted candidate's
    * count exactly and beat it lexicographically through a multi-
    * character symbol comparison — impossible in the first round over
    * single-character symbols and vanishingly rare after (Round16Spec
    * pins both the equality and a constructed near-miss); B = 1 is the
    * exact escape hatch and the default. */
  def bpeFit(df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 1L,
      minWordCount: Long = 1L, maxWords: Int = Int.MaxValue,
      batchMerges: Int = 1): DataFrame = {
    require(numMerges >= 0, "numMerges must be >= 0")
    require(minPairCount >= 1, "minPairCount must be >= 1")
    require(minWordCount >= 1, "minWordCount must be >= 1")
    require(maxWords >= 1, "maxWords must be >= 1")
    require(batchMerges >= 1, "batchMerges must be >= 1")
    import org.apache.spark.sql.graftbridge.CatalystBridge
    val sq = df.sparkSession
    import sq.implicits._
    val counted = df
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val floored =
      if (minWordCount <= 1L) counted
      else counted.filter(col("cnt") >= minWordCount)
    val pruned =
      if (maxWords == Int.MaxValue) floored
      // top-M via TakeOrdered (distributed partial top-k), then fan the
      // M survivors back out — the limit's single output partition would
      // otherwise serialize every merge round
      else floored.orderBy(col("cnt").desc, col("w").asc).limit(maxWords)
        .repartition(col("w"))
    var cur = pruned
      // split("", "") keeps a trailing empty string (Java regex split
      // semantics) — filter it out of the initial symbol array
      .select(col("cnt"),
        filter(split(col("w"), ""), t => length(t) > 0).as("toks"))
      // LAZY checkpoint: the first argmax job materializes it; no ref
      // to the corpus lineage survives, and no round ever nests another
      // round's plan. Superseded rounds release their blocks explicitly
      // below (the ContextCleaner would get there eventually, but only
      // after a driver GC — unbounded in the meantime).
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    // the frame cur's lazy checkpoint still READS from (its parent):
    // freeable only after cur materializes in the next round's argmax
    var dep: DataFrame = null
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val b = math.min(batchMerges, numMerges - rank + 1)
      val n = size(col("toks"))
      // the one job per round: the top-B consumes cur fully, which
      // also materializes its (lazily checkpointed) blocks
      val cand = cur
        .select(col("cnt"), col("toks"),
          explode(when(n < 2, array().cast("array<int>"))
            .otherwise(sequence(lit(0), n - 2))).as("i"))
        .select(col("cnt"),
          element_at(col("toks"), col("i") + 1).as("lft"),
          element_at(col("toks"), col("i") + 2).as("rgt"))
        .groupBy(col("lft"), col("rgt"))
        .agg(sum(col("cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lft").asc, col("rgt").asc)
        .limit(b).collect()
      // the job just materialized cur — the frame cur checkpointed
      // FROM is unreachable by any later round; release it now
      if (dep != null) { CatalystBridge.unpersistCheckpoint(dep); dep = null }
      // candidates are sorted, so the floor cuts a prefix too
      val viable = cand.takeWhile(_.getLong(2) >= minPairCount)
      if (viable.isEmpty) done = true
      else {
        // contiguous symbol-disjoint prefix: stop at the FIRST conflict
        // (skipping past one would reorder ranks vs the sequential fit);
        // `used` holds accepted symbols AND their merged results — a
        // later candidate touching either has a batch-dependent count
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = Vector.newBuilder[(String, String, Long)]
        var stop = false
        viable.foreach { row =>
          if (!stop) {
            val (l, r) = (row.getString(0), row.getString(1))
            if (used(l) || used(r) || used(l + r)) stop = true
            else {
              accepted += ((l, r, row.getLong(2)))
              used += l; used += r; used += (l + r)
            }
          }
        }
        val acc = accepted.result()
        acc.foreach { case (l, r, c) =>
          merges += ((rank, l, r, l + r, c)); rank += 1
        }
        dep = cur
        // one chained map applies the whole accepted prefix — disjoint
        // pairs commute, but candidate order is kept anyway
        val newToks = acc.foldLeft(
            CatalystBridge.expression(col("toks"))) { case (e, (l, r, _)) =>
          graft.functions.BpeMergePair(e, l, r)
        }
        cur = cur.withColumn("toks", CatalystBridge.column(newToks))
          .localCheckpoint(false)
      }
    }
    // fit state is driver-side from here — free the last rounds' blocks
    // (an unmaterialized lazy checkpoint unpersists as a no-op)
    if (dep != null) CatalystBridge.unpersistCheckpoint(dep)
    CatalystBridge.unpersistCheckpoint(cur)
    merges.toSeq.toDF("rank", "lft", "rgt", "merged", "pair_count")
  }

  /** The learned merge tokens of [[bpeFit]] as a greedy-longest-match
    * vocabulary for [[bpeTokens]] (single characters fall back
    * implicitly) — fit + apply end-to-end without a pre-trained file. */
  def bpeFitVocab(df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 1L): Seq[String] =
    bpeFit(df, textCol, numMerges, minPairCount)
      .select(col("merged")).collect().map(_.getString(0)).distinct.sorted.toSeq

  /** Linear text-classifier APPLY from input weights — the fastText-style
    * quality filter of CCNet-class pipelines (score a crawl doc by "looks
    * like reference text", keep above a threshold): logistic over the
    * mean token weight, `sigmoid(bias + (Σ w(tok)) / n)`. The weights
    * ride as a LITERAL MAP (map-only, codegen'd builtins, no join/UDF;
    * a trained quality vocab is bounded). Weights are quantized to
    * MICRO-units and accumulated in Long so the sum is order-free and
    * EXACT — the same score bit-for-bit on any engine, any partitioning
    * (a double fold would be addition-order-dependent). Unknown tokens
    * weigh 0; an empty doc scores sigmoid(bias). */
  def linearQualityScore(text: Column, weights: Map[String, Double],
      bias: Double = 0.0, wordNgrams: Int = 1, hashBuckets: Int = 0): Column = {
    require(weights.nonEmpty, "empty weight table")
    val toks = featureTokens(tokens(text), wordNgrams, hashBuckets)
    val n = size(toks)
    val sumMicro = element_at(linearClassSums(toks, 1,
      weights.map { case (t, w) => t -> Seq(w) }), 1)
    val z = lit(bias) +
      when(n > 0, (sumMicro.cast("double") / 1e6) / n).otherwise(lit(0.0))
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Per-class micro-unit weight sums (`array<bigint>`, one Long per
    * class) of a token-array column under a token -> per-class-weights
    * table — the shared accumulation kernel of [[linearQualityScore]]
    * and [[linearClassifyScores]]. O(1) hash lookup per token via a
    * reference-object Expression (NOT a Catalyst literal map, whose
    * `element_at` is a linear scan over the vocab per token); exact
    * order-free Long accumulation, map-only, codegen'd. Weight rows are
    * micro-quantized (`round(w * 1e6)`) and sorted for a canonical
    * expression. */
  def linearClassSums(toks: Column, numClasses: Int,
      weights: Map[String, Seq[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.CatalystBridge
    val micro = weights.toSeq.sortBy(_._1).map { case (t, ws) =>
      t -> ws.map(w => math.round(w * 1e6))
    }
    CatalystBridge.column(graft.functions.LinearClassSums(
      CatalystBridge.expression(toks), numClasses, micro))
  }

  /** Multi-class linear classifier APPLY — the argmax generalization of
    * [[linearQualityScore]] (fastText-style, Joulin et al. 2016 "Bag of
    * Tricks for Efficient Text Classification"): per class c,
    * `z_c = bias_c + (Σ w_c(tok)) / n` (mean pooling; an empty doc
    * scores its biases). Returns `array<double>` of z scores aligned
    * with `classes`. The canonical use is model-driven language ID —
    * the first stage of a CCNet-class pipeline — with one weight row
    * per (token) and one column per language. Map-only: the table rides
    * the expression as a hash-indexed reference object, sums accumulate
    * in exact micro-unit Longs (bit-identical on any engine /
    * partitioning), z is one double op per class. */
  def linearClassifyScores(text: Column, classes: Seq[String],
      weights: Map[String, Seq[Double]],
      biases: Seq[Double] = Nil, wordNgrams: Int = 1,
      hashBuckets: Int = 0): Column = {
    require(classes.nonEmpty, "no classes")
    require(classes.distinct.length == classes.length, "duplicate class names")
    val b = if (biases.isEmpty) classes.map(_ => 0.0) else biases
    require(b.length == classes.length, "one bias per class")
    require(weights.values.forall(_.length == classes.length),
      "every weight row must carry one value per class")
    val toks = featureTokens(tokens(text), wordNgrams, hashBuckets)
    val n = size(toks)
    val sums = linearClassSums(toks, classes.length, weights)
    zip_with(typedLit(b), sums, (bias, s) =>
      bias + when(n > 0, (s.cast("double") / 1e6) / n).otherwise(lit(0.0)))
  }

  /** Predicted class label under [[linearClassifyScores]]: argmax over
    * z, ties broken by class ORDER (first listed wins — pass classes
    * sorted for a canonical tie-break). */
  def linearClassifyLabel(text: Column, classes: Seq[String],
      weights: Map[String, Seq[Double]],
      biases: Seq[Double] = Nil, wordNgrams: Int = 1,
      hashBuckets: Int = 0): Column = {
    val z = linearClassifyScores(text, classes, weights, biases, wordNgrams,
      hashBuckets)
    element_at(typedLit(classes),
      array_position(z, array_max(z)).cast("int"))
  }

  /** Multi-class classifier APPLY with the model as a DATAFRAME — the
    * 10⁷-vocab twin of [[linearClassifyScores]] (the kernel form holds
    * the whole table in one reference object on every executor; a
    * 10⁷-row model wants to stay distributed, exactly like
    * [[linearFitDf]]'s weight state). Long-form output: one row per
    * (doc, class) with the z score. Bit-equal to the kernel: weights
    * dedupe to the MAX per (token, class) (the [[loadLinearClassWeights]]
    * rule) and quantize with the kernel's own `math.round(w·1e6)`
    * (= floor(w·1e6 + 0.5)); per-(doc, class) sums accumulate in exact
    * Longs; z is the identical per-row double chain. Plan: one staged
    * tokenize, one (doc, token) count partial-agg, one join against the
    * model keyed by token (a 100 TB crawl shuffles only its compressed
    * token counts), one (doc, class) partial-agg, a broadcast of the
    * (class, bias) table. Docs with no known tokens (or no tokens at
    * all) still score `bias_c` for every class. */
  def linearClassifyScoresJoined(docs: DataFrame, textCol: String,
      idCol: String, weightsDf: DataFrame,
      classBiases: Seq[(String, Double)], wordNgrams: Int = 1,
      hashBuckets: Int = 0, tokenCol: String = "token",
      classCol: String = "class", weightCol: String = "weight")
      : DataFrame = {
    require(classBiases.nonEmpty, "no classes")
    require(classBiases.map(_._1).distinct.length == classBiases.length,
      "duplicate class names")
    val sq = docs.sparkSession
    import sq.implicits._
    val id = col(idCol)
    val staged = docs.select(id,
      featureTokens(tokens(col(textCol)), wordNgrams, hashBuckets)
        .as("__toks"))
    val meta = staged.select(id, size(col("__toks")).as("__n"))
    val occ = staged.select(id, explode(col("__toks")).as("__t"))
      .groupBy(id, col("__t")).agg(count(lit(1)).as("__c"))
    val w = weightsDf.select(col(tokenCol).cast("string").as("__t"),
        col(classCol).cast("string").as("__cls"),
        col(weightCol).cast("double").as("__w")).na.drop()
      .groupBy(col("__t"), col("__cls")).agg(max(col("__w")).as("__w"))
      .select(col("__t"), col("__cls"),
        floor(col("__w") * lit(1e6) + lit(0.5)).as("__wm"))
    val sums = occ.join(w, Seq("__t"))
      .groupBy(id, col("__cls")).agg(sum(col("__c") * col("__wm")).as("__sm"))
    val cls = broadcast(classBiases.toDF("__cls", "__bias"))
    meta.crossJoin(cls)
      .join(sums, Seq(idCol, "__cls"), "left")
      .select(id, col("__cls").as("class"),
        (col("__bias") + when(col("__n") > 0,
          (coalesce(col("__sm"), lit(0L)).cast("double") / 1e6) / col("__n"))
          .otherwise(lit(0.0))).as("z"))
  }

  /** Predicted label under [[linearClassifyScoresJoined]]: per-doc
    * argmax via a partial-merge `min_by` over (−z, class) — ties break
    * to the lexicographically FIRST class, which equals
    * [[linearClassifyLabel]]'s first-listed rule when (as documented
    * there) classes are passed sorted. Returns
    * (idCol, pred_class, z_max). */
  def linearClassifyLabelJoined(docs: DataFrame, textCol: String,
      idCol: String, weightsDf: DataFrame,
      classBiases: Seq[(String, Double)], wordNgrams: Int = 1,
      hashBuckets: Int = 0, tokenCol: String = "token",
      classCol: String = "class", weightCol: String = "weight")
      : DataFrame = {
    val scored = linearClassifyScoresJoined(docs, textCol, idCol, weightsDf,
      classBiases, wordNgrams, hashBuckets, tokenCol, classCol, weightCol)
    scored.groupBy(col(idCol))
      .agg(min_by(struct(col("class"), col("z")),
        struct(negate(col("z")), col("class"))).as("__win"))
      .select(col(idCol), col("__win")("class").as("pred_class"),
        col("__win")("z").as("z_max"))
  }

  /** Bag-of-features array for the linear classifiers: unigrams plus,
    * for `wordNgrams >= 2`, space-joined word n-grams up to that order —
    * fastText's `wordNgrams` (Joulin et al. 2016; there the n-grams are
    * hashed into buckets, here they stay strings — the weight table is
    * the bucket table). `toks` must be a staged/cheap column; the n-gram
    * transforms index it positionally (no re-tokenization per n-gram). */
  def featureTokens(toks: Column, wordNgrams: Int): Column =
    featureTokens(toks, wordNgrams, hashBuckets = 0)

  /** [[featureTokens]] with fastText's n-gram HASH BUCKETS: for
    * `hashBuckets` = B > 0, each n-gram (n >= 2) becomes the bucket
    * token `"#" + (hash60(ngram) mod B)` instead of its raw string.
    * Unigram vocab is corpus-bounded, but raw bigram vocab is
    * quadratic in it — unbounded at crawl scale; bucketing caps the
    * weight table at |unigrams| + B exactly as fastText's `bucket`
    * option does (collisions share a weight, the standard trade).
    * Bucket tokens start with '#', which [[tokens]] can also emit —
    * harmless: a colliding literal token just shares the bucket weight,
    * same as any other hash collision. */
  def featureTokens(toks: Column, wordNgrams: Int, hashBuckets: Int): Column = {
    require(wordNgrams >= 1 && wordNgrams <= 3, "wordNgrams must be 1..3")
    require(hashBuckets >= 0, "hashBuckets must be >= 0")
    (2 to wordNgrams).foldLeft(toks) { (acc, n) =>
      concat(acc,
        when(size(toks) < n, array().cast("array<string>"))
          .otherwise {
            // n-grams as zip_with over n shifted SLICES — each slice
            // evaluates `toks` once. The transform(sequence)/element_at
            // form re-evaluates the (possibly inlined, e.g. split())
            // toks EXPRESSION per element — O(tokens²) per doc, 24 s on
            // a 5k-doc gate corpus vs ~4 s for this shape
            val len = size(toks) - (n - 1)
            val grams = (0 until n)
              .map(o => slice(toks, lit(o + 1), len))
              .reduce((a, b) =>
                zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
            if (hashBuckets == 0) grams
            else transform(grams, g => concat(lit("#"),
              pmod(hash60(g), lit(hashBuckets.toLong)).cast("string")))
          })
    }
  }

  /** Linear text-classifier TRAINING — binary logistic regression by
    * full-batch gradient descent over mean-pooled bag-of-words features,
    * the fit step behind [[linearQualityScore]] /
    * [[linearClassifyScores]] (a fastText-style classifier without the
    * embedding layer; multi-class = one-vs-all via [[linearFitOneVsAll]]).
    * Model: `p = sigmoid(bias + (Σ_t w(t)·cnt(t)) / n)`; per iteration
    * `w -= lr·Σ_d (p_d − y_d)·cnt_d(t)/n_d / N`, `bias -= lr·Σ_d (p_d −
    * y_d) / N`. Deterministic on any engine and partitioning: weights
    * live in MICRO units, the per-doc score reuses the exact-Long
    * [[linearClassSums]] kernel, and the per-doc gradient factor is
    * quantized to 1e-9 units before the cross-doc sums — every
    * accumulation is integer, so addition order never matters; the only
    * float ops are per-doc sigmoids and the driver-side update.
    *
    * Spark shape: the corpus is tokenized ONCE into a cached (y, tokens)
    * frame; each iteration is one map-only scoring pass + a
    * partial-agg groupBy(token) gradient (skew-proof: heavy tokens
    * collapse map-side) + a vocab-bounded collect for the driver update
    * (the same driver-coordination granularity as [[bpeFit]]; a 10⁷+
    * vocab would switch to a joined weight table). Returns (weights in
    * real units — micro-grained, so the apply's re-quantization is
    * exact — and the bias). */
  def linearFit(df: DataFrame, textCol: String, labelCol: String,
      iterations: Int = 5, lr: Double = 0.5,
      wordNgrams: Int = 1, hashBuckets: Int = 0): (Map[String, Double], Double) = {
    require(iterations >= 0, "iterations must be >= 0")
    val base = df
      .select(col(labelCol).cast("double").as("__y"),
        tokens(col(textCol)).as("__t0"))
      .select(col("__y"),
        featureTokens(col("__t0"), wordNgrams, hashBuckets).as("__toks"))
      .cache()
    try {
      val nDocs = base.count()
      require(nDocs > 0, "empty training frame")
      val wm = scala.collection.mutable.HashMap.empty[String, Long]
      base.select(explode(col("__toks")).as("t")).distinct()
        .collect().foreach(r => wm(r.getString(0)) = 0L)
      var bias = 0.0
      // round half AWAY from zero (Spark round / DuckDB round semantics;
      // math.round floors negative halves toward +inf)
      def roundAway(x: Double): Long =
        new java.math.BigDecimal(x)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      var it = 0
      while (it < iterations && wm.nonEmpty) {
        val n = size(col("__toks"))
        val sumMicro = element_at(linearClassSums(col("__toks"), 1,
          wm.map { case (t, m) => t -> Seq(m / 1e6) }.toMap), 1)
        val z = lit(bias) +
          when(n > 0, (sumMicro.cast("double") / 1e6) / n).otherwise(lit(0.0))
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        val fq = when(n > 0,
          round((p - col("__y")) / n * 1e9, 0).cast("long")).otherwise(lit(0L))
        val fb = round((p - col("__y")) * 1e9, 0).cast("long")
        val stage = base.select(col("__toks"), fq.as("__fq"), fb.as("__fb"))
        val gb = stage.agg(sum(col("__fb"))).head.getLong(0)
        val gt = stage
          .select(explode(col("__toks")).as("t"), col("__fq"))
          .groupBy(col("t")).agg(sum(col("__fq")).as("g"))
          .collect()
        gt.foreach { r =>
          val t = r.getString(0)
          wm(t) = wm(t) - roundAway(lr * r.getLong(1) / (nDocs * 1e3))
        }
        bias -= lr * gb / (nDocs * 1e9)
        it += 1
      }
      (wm.map { case (t, m) => t -> m / 1e6 }.toMap, bias)
    } finally base.unpersist()
  }

  /** [[linearFit]] with the weight table as a DATAFRAME keyed by token —
    * the 10⁷+-vocab form: the per-iteration score lookup and gradient
    * fold become JOINS against the distributed weight table instead of
    * a driver-held literal map, so the vocab never has to fit on the
    * driver (the cutover SCALE.md documents). Selected AUTOMATICALLY:
    * at or below `vocabCutover` distinct features the driver path runs
    * and its map comes back as a frame (one collect beats 2·iterations
    * joins there); above it the joined path runs. BIT-EQUAL to the
    * driver path (Round15Spec pins it): the per-doc score is the same
    * exact-Long Σ count·w_micro, the per-doc gradient factor is the
    * same HALF_UP 1e-9 quantization, the weight step rounds the same
    * double lr·g/(N·1e3) — every cross-row accumulation stays integer,
    * so partitioning never matters on either path. Per iteration:
    * one join-aggregate for scores, one for gradients, a localCheckpoint
    * to pin the new weights and truncate lineage; the only driver
    * scalars are the bias gradient and the doc count. Returns
    * ((token, weight) in real units — [[loadLinearWeights]]-ready —
    * and the bias). */
  def linearFitDf(df: DataFrame, textCol: String, labelCol: String,
      iterations: Int = 5, lr: Double = 0.5, wordNgrams: Int = 1,
      hashBuckets: Int = 0, vocabCutover: Long = 1L << 21)
      : (DataFrame, Double) = {
    require(iterations >= 0, "iterations must be >= 0")
    val sq = df.sparkSession
    import sq.implicits._
    val base = df
      .select(col(labelCol).cast("double").as("__y"),
        tokens(col(textCol)).as("__t0"))
      .select(monotonically_increasing_id().as("__did"), col("__y"),
        featureTokens(col("__t0"), wordNgrams, hashBuckets).as("__toks"))
      .cache()
    try {
      val nVocab = base.select(explode(col("__toks")).as("t"))
        .agg(countDistinct(col("t"))).head.getLong(0)
      if (nVocab <= vocabCutover) {
        val (w, b) = linearFit(df, textCol, labelCol, iterations, lr,
          wordNgrams, hashBuckets)
        return (w.toSeq.toDF("token", "weight"), b)
      }
      val nDocs = base.count()
      require(nDocs > 0, "empty training frame")
      val docMeta = base
        .select(col("__did"), col("__y"), size(col("__toks")).as("__n"))
        .cache()
      val docTok = base
        .select(col("__did"), explode(col("__toks")).as("t"))
        .groupBy(col("__did"), col("t")).agg(count(lit(1)).as("__c"))
        .cache()
      var weights = docTok.select(col("t")).distinct()
        .select(col("t"), lit(0L).as("__wm")).localCheckpoint(true)
      var bias = 0.0
      val scale = nDocs * 1e3 // precomputed once, like the driver path
      var it = 0
      while (it < iterations) {
        val sums = docTok.join(weights, Seq("t"))
          .groupBy(col("__did"))
          .agg(sum(col("__c") * col("__wm")).as("__sm"))
        val z = lit(bias) + when(col("__n") > 0,
          (coalesce(col("__sm"), lit(0L)).cast("double") / 1e6) / col("__n"))
          .otherwise(lit(0.0))
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        val stage = docMeta.join(sums, Seq("__did"), "left")
          .select(col("__did"),
            when(col("__n") > 0,
              round((p - col("__y")) / col("__n") * 1e9, 0).cast("long"))
              .otherwise(lit(0L)).as("__fq"),
            round((p - col("__y")) * 1e9, 0).cast("long").as("__fb"))
          .cache()
        val gb = stage.agg(sum(col("__fb"))).head.getLong(0)
        val gt = docTok
          .join(stage.select(col("__did"), col("__fq")), Seq("__did"))
          .groupBy(col("t")).agg(sum(col("__fq") * col("__c")).as("__g"))
        weights = weights.join(gt, Seq("t"), "left")
          .select(col("t"), (col("__wm") - coalesce(
            round(lit(lr) * col("__g") / scale, 0).cast("long"), lit(0L)))
            .as("__wm"))
          .localCheckpoint(true)
        stage.unpersist()
        bias -= lr * gb / (nDocs * 1e9)
        it += 1
      }
      docTok.unpersist(); docMeta.unpersist()
      (weights.select(col("t").as("token"),
        (col("__wm").cast("double") / 1e6).as("weight")), bias)
    } finally base.unpersist()
  }

  /** Multi-class training by one-vs-all [[linearFit]]: one binary fit
    * per class (classes sorted for a canonical model), returning
    * (classes, token -> per-class weights, per-class biases) in the
    * exact shape [[linearClassifyScores]]/[[linearClassifyLabel]]
    * consume. */
  def linearFitOneVsAll(df: DataFrame, textCol: String, classCol: String,
      iterations: Int = 5, lr: Double = 0.5, wordNgrams: Int = 1,
      hashBuckets: Int = 0)
      : (Seq[String], Map[String, Seq[Double]], Seq[Double]) = {
    val classes = df.select(col(classCol).cast("string")).na.drop()
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    require(classes.nonEmpty, "no classes")
    val fits = classes.map { c =>
      linearFit(df.withColumn("__lab",
          when(col(classCol).cast("string") === c, 1.0).otherwise(0.0)),
        textCol, "__lab", iterations, lr, wordNgrams, hashBuckets)
    }
    val vocab = fits.flatMap(_._1.keys).distinct
    val table = vocab.map { t =>
      t -> fits.map(_._1.getOrElse(t, 0.0))
    }.toMap
    (classes, table, fits.map(_._2))
  }

  /** Multi-class one-vs-all training through [[linearFitDf]] — the
    * 10⁷-vocab form of [[linearFitOneVsAll]]: one binary fit per class
    * (classes sorted for a canonical model), each selecting the joined
    * engine above `vocabCutover`, with the model returned as the LONG
    * (token, class, weight) DataFrame that [[loadLinearClassWeights]]
    * persists and [[linearClassifyScoresJoined]] consumes directly —
    * train and apply both stay off-driver end to end. A (token, class)
    * pair a class's fit never saw is simply absent (weighs 0 at apply,
    * the same semantics as the driver table's 0.0 fill). Returns
    * (classes sorted asc, weights frame, per-class biases). */
  def linearFitOneVsAllDf(df: DataFrame, textCol: String, classCol: String,
      iterations: Int = 5, lr: Double = 0.5, wordNgrams: Int = 1,
      hashBuckets: Int = 0, vocabCutover: Long = 1L << 21)
      : (Seq[String], DataFrame, Seq[Double]) = {
    val classes = df.select(col(classCol).cast("string")).na.drop()
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    require(classes.nonEmpty, "no classes")
    val fits = classes.map { c =>
      val (wdf, b) = linearFitDf(df.withColumn("__lab",
          when(col(classCol).cast("string") === c, 1.0).otherwise(0.0)),
        textCol, "__lab", iterations, lr, wordNgrams, hashBuckets,
        vocabCutover)
      (wdf.select(col("token"), lit(c).as("class"), col("weight")), b)
    }
    (classes, fits.map(_._1).reduce(_.unionByName(_)), fits.map(_._2))
  }

  /** Load a multi-class weight table from a (token, class, weight)
    * DataFrame — a trained model file. Returns (classes sorted asc,
    * token -> per-class weights aligned with that order). Bounded
    * collect with a mis-pointed-table guard; duplicate (token, class)
    * rows keep the max weight so a malformed file can't make the model
    * depend on row order; a token missing a class weighs 0 there. */
  def loadLinearClassWeights(weightsDf: org.apache.spark.sql.DataFrame,
      tokenCol: String = "token", classCol: String = "class",
      weightCol: String = "weight", maxEntries: Int = 1 << 22)
      : (Seq[String], Map[String, Seq[Double]]) = {
    val n = weightsDf.count()
    require(n <= maxEntries,
      s"weight table has $n entries (> $maxEntries): not a classifier model")
    val rows = weightsDf.select(col(tokenCol).cast("string"),
        col(classCol).cast("string"), col(weightCol).cast("double"))
      .na.drop()
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val classes = rows.map(_._2).distinct.sorted.toSeq
    val idx = classes.zipWithIndex.toMap
    val table = rows.groupBy(_._1).map { case (t, rs) =>
      val ws = Array.fill(classes.length)(0.0)
      rs.groupBy(_._2).foreach { case (c, cs) => ws(idx(c)) = cs.map(_._3).max }
      t -> ws.toSeq
    }
    (classes, table)
  }

  /** [[linearQualityScore]] with the weights loaded from a two-column
    * (token, weight) DataFrame — a trained model file. Bounded collect,
    * deterministic (duplicate tokens keep the max-then-lexicographic
    * weight so a malformed file can't make the score depend on row
    * order). */
  def loadLinearWeights(weightsDf: org.apache.spark.sql.DataFrame,
      tokenCol: String = "token", weightCol: String = "weight",
      maxEntries: Int = 1 << 21): Map[String, Double] = {
    val n = weightsDf.count()
    require(n <= maxEntries,
      s"weight table has $n entries (> $maxEntries): not a classifier vocab")
    weightsDf.select(col(tokenCol).cast("string"),
        col(weightCol).cast("double")).na.drop()
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (t, ws) => t -> ws.map(_._2).max }
  }

  /** English-ish stopword list used by quality scoring (fixed, public). */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be", "are")

  /** Quality features + composite score in [0,1]:
    * length signal, mean token length sanity, stopword presence,
    * punctuation/alpha balance. Deterministic, mirrorable in ANSI SQL. */
  def qualityFeatures(text: Column): (Column, Column, Column, Column, Column) = {
    val toks = tokens(text)
    val nTok = size(toks)
    val nChars = length(text)
    val avgTokLen = when(nTok > 0, nChars.cast("double") / nTok).otherwise(lit(0.0))
    val stopRatio = when(nTok > 0,
      size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") / nTok)
      .otherwise(lit(0.0))
    val punctRatio = when(nChars > 0,
      (nChars - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))).cast("double") / nChars)
      .otherwise(lit(0.0))
    (nChars.cast("long"), nTok.cast("long"), avgTokLen, stopRatio, punctRatio)
  }

  def qualityScore(text: Column): Column = {
    val (nChars, nTok, avgTokLen, stopRatio, punctRatio) = qualityFeatures(text)
    val lenScore = least(nChars.cast("double") / 500.0, lit(1.0))
    val tokLenScore = when(avgTokLen >= 3 && avgTokLen <= 12, 1.0).otherwise(0.3)
    val stopScore = least(stopRatio * 4.0, lit(1.0))
    val punctScore = when(punctRatio <= 0.2, 1.0).otherwise(greatest(lit(0.0), lit(1.0) - punctRatio * 2))
    round((lenScore * 0.3 + tokLenScore * 0.2 + stopScore * 0.3 + punctScore * 0.2), 6)
  }

  /** Gopher document-quality stop set (Rae et al. 2021 App. A: a doc must
    * contain at least two of these to pass the stop-word rule). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher document-level quality RULES (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", Appendix A — the public filter set;
    * the n-gram REPETITION rules of the same appendix live in
    * [[repetitionSignals]]). One boolean per rule plus the conjunction,
    * all map-only codegen'd builtins over staged arrays, mirrored
    * verbatim in the DuckDB oracle:
    *
    *  - word_count_ok      50 ≤ words ≤ 100,000
    *  - mean_word_len_ok   3 ≤ mean characters per word ≤ 10
    *  - symbol_ratio_ok    ('#' chars + '...' occurrences) / words ≤ 0.1
    *  - bullet_ratio_ok    ≤ 90% of non-empty lines start with a bullet
    *  - ellipsis_ratio_ok  ≤ 30% of non-empty lines end with an ellipsis
    *  - alpha_word_ok      ≥ 80% of words contain ≥ 1 alphabetic char
    *  - stop_word_ok       ≥ 2 DISTINCT members of [[GopherStops]] present
    *
    * Empty docs fail word_count_ok (and therefore pass_gopher). */
  def gopherQualityFlags(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val (staged, flags) = gopherStagedFlags(df, textCol)
    staged.select(col(idCol) +: flags: _*)
  }

  /** The shared Gopher rule computation: stages the token/line arrays
    * (every rule references them, some inside HOF lambdas — a bare
    * Column would re-tokenize per rule) and returns the staged frame
    * plus the named flag columns ending in the `pass_gopher`
    * conjunction. */
  private def gopherStagedFlags(df: DataFrame, textCol: String)
      : (DataFrame, Seq[Column]) = {
    val text = col(textCol)
    // Per-task cost note (r18, measured via OptProbe emitparts): this
    // map-only stage runs inside EVERY clean gate and every streaming
    // emit/mask micro-batch, and its per-token/per-line java.util.regex
    // work dominated cleanStage wall-clock. Each rule below that used a
    // regex now uses a bit-EQUIVALENT char operation (translate /
    // substring / endswith / literal replace / array_intersect) — the
    // rule SEMANTICS and every flag value are unchanged (the DuckDB
    // mirrors still express the same predicate), only the evaluation is
    // cheaper. The lowered token array is staged once (__glt): the old
    // stop-word lambda re-lowered the whole array once per stop word.
    val staged = df
      .withColumn("__gt", tokens(text))
      .withColumn("__glt", transform(col("__gt"), t => lower(t)))
      .withColumn("__gl", filter(split(text, "\n"), l => length(trim(l)) > 0))
    val toks = col("__gt")
    val lines = col("__gl")
    val n = size(toks)
    val nL = size(lines)
    val wcOk = n >= 50 && n <= 100000
    val meanWl = aggregate(toks, lit(0L), (a, t) => a + length(t))
      .cast("double") / n
    val mwlOk = n > 0 && meanWl >= 3.0 && meanWl <= 10.0
    // '#' count and non-overlapping "..." count via literal replace
    // (regexp_count over a literal pattern scans identically)
    val symbols = length(text) - length(replace(text, lit("#"), lit(""))) +
      (length(text) - length(replace(text, lit("..."), lit("")))) / lit(3)
    val symOk = n > 0 && symbols.cast("double") / n <= 0.1
    // first-char-in-set instead of ^[set] regex
    val bullets = size(filter(lines,
      l => substring(trim(l), 1, 1).isin("\u2022", "-", "*")))
    val bulletOk = nL === 0 || bullets.cast("double") / nL <= 0.9
    // suffix test instead of (...|…)$ regex
    val ellipses = size(filter(lines,
      l => trim(l).endsWith("...") || trim(l).endsWith("\u2026")))
    val ellipsisOk = nL === 0 || ellipses.cast("double") / nL <= 0.3
    // "contains an ASCII letter" via translate: removing [A-Za-z]
    // shortens the token iff one is present
    val alphaWords = size(filter(toks,
      t => length(translate(t,
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz", "")) <
        length(t)))
    val alphaOk = n > 0 && alphaWords.cast("double") / n >= 0.8
    // distinct stops present = |stops ∩ lowered tokens| (stop list is
    // duplicate-free), one hash-set pass instead of 8 array scans each
    // re-lowering the tokens
    val stopsPresent = size(array_intersect(typedLit(GopherStops),
      col("__glt")))
    val stopOk = stopsPresent >= 2
    (staged, Seq(
      n.cast("long").as("n_words"),
      wcOk.as("word_count_ok"),
      mwlOk.as("mean_word_len_ok"),
      symOk.as("symbol_ratio_ok"),
      bulletOk.as("bullet_ratio_ok"),
      ellipsisOk.as("ellipsis_ratio_ok"),
      alphaOk.as("alpha_word_ok"),
      stopOk.as("stop_word_ok"),
      (wcOk && mwlOk && symOk && bulletOk && ellipsisOk && alphaOk && stopOk)
        .as("pass_gopher")))
  }

  /** [[gopherQualityFlags]]' composite verdict APPENDED to the caller's
    * own columns — the STREAMING-composable form: the flag rides along
    * with the text instead of coming back through an id-join (a
    * stream-stream join would need watermarks; this stays map-only).
    * Same staged arrays, same rules, one `pass_gopher` column added. */
  def gopherPassThrough(df: DataFrame, textCol: String = "text"): DataFrame = {
    val (staged, flags) = gopherStagedFlags(df, textCol)
    staged.withColumn("pass_gopher", flags.last).drop("__gt", "__glt", "__gl")
  }

  /** C4 line/document cleaning (Raffel et al. 2020, "Exploring the Limits
    * of Transfer Learning with a Unified Text-to-Text Transformer" §2.2 —
    * the public rule set, minus the obscenity word-list which is an input
    * concern):
    *
    *  - keep only lines that end in terminal punctuation (. ! ? ")
    *  - keep only lines with ≥ `minWordsPerLine` words
    *  - drop lines mentioning javascript (case-insensitive)
    *  - drop the whole DOC when it contains "lorem ipsum" or a curly
    *    brace, or fewer than `minSentences` sentence enders survive
    *
    * Map-only (one staged line array per doc); returns (idCol,
    * clean_text, n_lines, n_kept, n_sentences, keep_doc) — the caller
    * filters on keep_doc and takes clean_text. */
  def c4Clean(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minWordsPerLine: Int = 5,
      minSentences: Int = 3): DataFrame = {
    val text = col(textCol)
    val staged = df.withColumn("__cl", split(text, "\n"))
    val lines = col("__cl")
    // last-char-in-set instead of [.!?"]$ regex, and a translate-based
    // sentence-ender count instead of regexp_count([.!?]) — equivalent
    // values, no per-line/per-doc java.util.regex cost (r18; the word
    // count keeps its \s+ split: its empty-leading-token semantics are
    // what the oracle mirrors)
    val kept = filter(lines, l =>
      substring(trim(l), -1, 1).isin(".", "!", "?", "\"") &&
        size(split(trim(l), "\\s+")) >= minWordsPerLine &&
        !lower(l).contains("javascript"))
    val staged2 = staged.withColumn("__ck", kept)
      .withColumn("__ct", array_join(col("__ck"), "\n"))
    val nSent = length(col("__ct")) -
      length(translate(col("__ct"), ".!?", ""))
    val keepDoc = !lower(text).contains("lorem ipsum") &&
      !text.contains("{") && nSent >= minSentences
    staged2.select(col(idCol),
      col("__ct").as("clean_text"),
      size(lines).cast("long").as("n_lines"),
      size(col("__ck")).cast("long").as("n_kept"),
      nSent.cast("long").as("n_sentences"),
      keepDoc.as("keep_doc"))
  }

  /** Language-ID marker profiles (function words; public linguistic facts).
    * Ordered map: ties resolve to the earlier entry — the SQL mirror must
    * use the same order. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "mit", "auf", "für"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it", "with", "for"),
    "es" -> Seq("el", "la", "los", "las", "que", "de", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "les", "des", "et", "est", "une", "dans", "que", "pour"),
    "it" -> Seq("il", "la", "che", "di", "e", "un", "per", "con", "del", "sono"))

  /** N-gram-heuristic language ID: count profile function words among the
    * lowercased tokens; argmax with first-profile-wins tie-break; "und"
    * (undetermined) when no marker hits at all. */
  def langId(text: Column): Column = {
    val toks = transform(tokens(text), lower(_))
    val scores = LangProfiles.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), els) =>
      when(s === best && s > 0, lit(lang)).otherwise(els)
    }
  }

  /** Character-trigram profiles (most-frequent trigrams of each language,
    * public linguistic facts — spaces marked as '_'). */
  val CharTrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "ein", "sch", "ich", "nde", "die", "che", "en_", "und", "cht"),
    "en" -> Seq("the", "ing", "and", "ion", "ent", "he_", "of_", "ed_", "is_", "in_"),
    "es" -> Seq("de_", "la_", "os_", "el_", "ent", "que", "ión", "ado", "es_", "nte"),
    "fr" -> Seq("es_", "de_", "ent", "le_", "la_", "ion", "re_", "une", "ait", "eur"),
    "it" -> Seq("di_", "che", "la_", "to_", "re_", "ion", "ent", "del", "no_", "are"))

  /** Char-trigram language ID: count profile trigrams in the lowercased
    * text (spaces normalized to '_'); argmax, first-profile-wins ties,
    * "und" when nothing matches. Heavier than the word-marker `langId`
    * (one contains() per profile trigram) but robust to unseen words. */
  def langIdNgram(text: Column): Column = {
    val norm = concat(lit("_"),
      regexp_replace(lower(trim(text)), "\\s+", "_"), lit("_"))
    val scores = CharTrigramProfiles.map { case (lang, tris) =>
      lang -> tris.map(t =>
        (length(norm) - length(regexp_replace(norm, java.util.regex.Pattern.quote(t), "")))
          / t.length).reduce(_ + _)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), els) =>
      when(s === best && s > 0, lit(lang)).otherwise(els)
    }
  }

  // shared 60-bit shingle hash: both engines compute
  // hex_to_bigint(md5(s)[0:15]) identically (custom single-pass expression;
  // equivalence with the conv(substr(md5)) composition is unit-tested)
  private[pipeline] def hash60(s: Column): Column = graft.functions.hash60(s)

  /** Word k-gram shingles over a token-array column. */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column =
    when(size(toks) < k, when(size(toks) > 0, array(concat_ws(" ", toks)).cast("array<string>"))
      .otherwise(array().cast("array<string>")))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** Word k-gram shingles of a document. */
  def shingles(text: Column, k: Int = 3): Column = shinglesFromTokens(tokens(text), k)

  // --- fast shingle hashing: one md5 per TOKEN, shingle hashes are
  // polynomial combinations of the token hashes (no per-shingle string
  // concat/md5). Domain: [0, P). Mirrored verbatim in the DuckDB oracle. ---
  private[pipeline] val P = 2147483647L
  private[pipeline] val R1 = 1000003L
  private[pipeline] val R2 = 2000003L
  private[pipeline] val R3 = 3000017L

  /** Per-token 31-bit hashes — codegen'd single pass (the HOF composition
    * `transform(tokens(text), t -> pmod(hash60(t), P))` is the tested
    * reference form; see HashExprSpec equivalence). */
  def tokenHashesMod(text: Column): Column =
    graft.functions.token_hashes_mod(text, P)

  /** Polynomial-combine coefficient for shingle position j (R1..R3 for the
    * default 3-gram; deterministic extension beyond). Products stay well
    * inside Long: coef < 2^25, token hash < P = 2^31. */
  private[graft] def rCoef(j: Int): Long = j match {
    case 0 => R1
    case 1 => R2
    case 2 => R3
    case _ => (j + 1) * 1000003L + 31
  }

  /** n-gram shingle hashes from a token-hash array column (default 3-gram).
    * Documents shorter than `shingleLen` yield one shingle over all their
    * tokens (a single token passes through unchanged). */
  def shingleHashesFromTokenHashes(th: Column, shingleLen: Int = 3): Column = {
    require(shingleLen >= 1, "shingleLen must be >= 1")
    def window(i: Column, m: Int): Column =
      if (m == 1) element_at(th, i + 1)
      else pmod((0 until m).map(j => element_at(th, i + j + 1) * rCoef(j)).reduce(_ + _), lit(P))
    var result = when(size(th) === 0, array().cast("array<bigint>"))
    for (m <- 1 until shingleLen)
      result = result.when(size(th) === m, array(window(lit(0), m)))
    result.otherwise(transform(sequence(lit(0), size(th) - shingleLen),
      i => window(i, shingleLen)))
  }

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis and Insights from Training Gopher",
    * App. A — public filtering rules): boilerplate, SEO spam and scraper
    * junk are dominated by repeated lines and n-grams. Five signals, each
    * a map-only codegen'd expression (no UDF, no shuffle) rounded to 6
    * places and mirrored verbatim in the DuckDB oracle:
    *  - dup_line_frac       repeated (non-empty) lines / lines
    *  - dup_line_char_frac  characters inside repeated lines / line chars
    *  - top_bigram_frac     occurrences of the most frequent token bigram
    *                        / all bigram occurrences
    *  - dup_trigram_frac    1 − distinct trigrams / trigram occurrences
    *  - adj_dup_frac        adjacent equal-token pairs / (tokens − 1)
    * N-gram signals run over the first `capTokens` tokens, so the per-row
    * cost is a CONSTANT (the mode count is sort + one fold, O(n log n) in
    * the window) — at 100 TB the operator stays a pure bounded map while
    * keeping the signal (boilerplate repeats early and often). */
  def repetitionSignals(df: DataFrame, textCol: String = "text",
      capTokens: Int = 512): DataFrame = {
    val text = col(textCol)
    // The arrays MUST be staged as attributes: every signal references
    // them many times — several INSIDE HOF lambdas, i.e. once per array
    // ELEMENT — and an attribute read is O(1) from the row, while an
    // inlined expression tree re-evaluates at every reference (the
    // unstaged Column form of this function re-ran the regex split per
    // element per lambda: 1964 s for 5000 docs at sf0.1 vs seconds
    // staged). Same staging rationale as annotate(); CollapseProject
    // keeps the stage because the arrays are non-cheap and multiply
    // referenced.
    val staged = df
      .withColumn("__rl", filter(split(text, "\n"),
        l => length(trim(l)) > 0))
      .withColumn("__rt", slice(tokens(text), 1, capTokens))
    val toks = col("__rt")
    val n = size(toks)
    // i = 1..n-k+1, space-joined — identical to the oracle's
    // list_transform(range(1, len+2-k), i -> toks[i] || ' ' || ...)
    def gram(k: Int): Column =
      when(n >= k, transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ", (0 until k).map(o => element_at(toks, i + o)): _*)))
        .otherwise(array().cast("array<string>"))
    val staged2 = staged
      .withColumn("__rbg", gram(2))
      .withColumn("__rtg", gram(3))
    val lines = col("__rl")
    val bg = col("__rbg")
    val tg = col("__rtg")
    val nL = size(lines)
    val nDl = size(array_distinct(lines))
    val dupLineFrac = when(nL > 0,
      round((nL - nDl).cast("double") / nL, 6)).otherwise(lit(0.0))
    val lineChars = aggregate(lines, lit(0L), (acc, l) => acc + length(l))
    val distChars =
      aggregate(array_distinct(lines), lit(0L), (acc, l) => acc + length(l))
    val dupLineCharFrac = when(lineChars > 0,
      round((lineChars - distChars).cast("double") / lineChars, 6))
      .otherwise(lit(0.0))
    // Mode count via sort + longest-equal-run: O(n log n) per row vs the
    // O(distinct × n) transform(array_distinct, b => size(filter(...)))
    // form (~260k string compares in a 511-bigram window — it was the
    // single most expensive bench row at 20% of the r11 wall). The fold
    // runs once over the sorted array; run resets to 1 on a boundary, and
    // the zero accumulator (prev="", run=0) is safe even for an "" element
    // because 0+1 == 1. Identical value to the mode count, so the oracle's
    // list-comprehension form still hash-matches.
    def runLen(acc: Column, x: Column): Column =
      when(x === acc("prev"), acc("run") + 1).otherwise(lit(1))
    val topBg = aggregate(
      array_sort(bg),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => struct(x.as("prev"), runLen(acc, x).as("run"),
        greatest(acc("best"), runLen(acc, x)).as("best")),
      acc => acc("best"))
    // a top bigram occurring ONCE is not repetition — every no-repeat doc
    // must score 0.0 on every signal (contract pinned by PipelineSpec)
    val topBigramFrac = when(size(bg) > 0 && topBg > 1,
      round(topBg.cast("double") / size(bg), 6)).otherwise(lit(0.0))
    val dupTrigramFrac = when(size(tg) > 0,
      round(lit(1.0) - size(array_distinct(tg)).cast("double") / size(tg), 6))
      .otherwise(lit(0.0))
    val adj = size(filter(sequence(lit(1), n - 1),
      i => element_at(toks, i) === element_at(toks, i + 1)))
    val adjDupFrac = when(n >= 2,
      round(adj.cast("double") / (n - 1), 6)).otherwise(lit(0.0))
    staged2
      .withColumn("dup_line_frac", dupLineFrac)
      .withColumn("dup_line_char_frac", dupLineCharFrac)
      .withColumn("top_bigram_frac", topBigramFrac)
      .withColumn("dup_trigram_frac", dupTrigramFrac)
      .withColumn("adj_dup_frac", adjDupFrac)
      .drop("__rl", "__rt", "__rbg", "__rtg")
  }

  /** PII / noise scrubbing patterns — written to behave identically under
    * Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround. */
  val UrlPattern = "https?://[^ ]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongDigitsPattern = "[0-9]{7,}"

  /** Scrub URLs, emails and long digit runs (ids/phone numbers) from text
    * — the PII-masking stage of a training pipeline. Order matters: URLs
    * first (emails can appear inside them), then emails, then digit runs.
    * Narrow codegen'd map, no shuffle. */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      LongDigitsPattern, "<NUM>")

  /** Document fingerprint = min shingle-hash (the winnowing/rolling-hash
    * family collapsed to its cheapest deterministic member: identical docs
    * get identical fingerprints; near-identical docs collide with
    * probability = their shingle-Jaccard). */
  def fingerprint(text: Column, k: Int = 3): Column = {
    val hs = shingleHashesFromTokenHashes(tokenHashesMod(text))
    when(size(hs) === 0, lit(0L)).otherwise(array_min(hs))
  }

  /** Top-k terms per document by tf-idf.
    * Plan shape: explode tokens -> (doc, word) counts [one shuffle] ->
    * word document-frequency [one shuffle of distinct (doc,word)] ->
    * broadcast df join -> per-doc top-k window. The df table is vocabulary-
    * sized, so the join broadcasts at any corpus scale. */
  def topTermsTfIdf(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = col(idCol)
    val exploded = df.select(id, explode(tokens(col(textCol))).as("word"))
    val tf = exploded.groupBy(id, col("word")).agg(count(lit(1)).as("tf"))
    val docFreq = exploded.select(id, col("word")).distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = df.count()
    val w = Window.partitionBy(id)
      .orderBy(col("score").desc, col("word").asc)
    tf.join(broadcast(docFreq), "word")
      .withColumn("score", col("tf") * log(lit(n.toDouble) / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(id, col("rank"), col("word"), round(col("score"), 4).as("score"))
  }

  /** Corpus bigram-LM quality score (CCNet-style; Wenzek et al. 2019,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data" — the public LM-perplexity corpus-filtering signal). Each
    * document is scored by the negative mean log-likelihood of its token
    * bigrams under an add-k-smoothed bigram model estimated from the
    * corpus itself: low = fluent/typical text, high = junk — the standard
    * head/middle/tail quality axis.
    *
    *   P(w2|w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V),   V = |vocab|
    *   lm_nll(doc) = −(Σ m·ln P) / Σ m   over the doc's DISTINCT bigrams
    *                                     with multiplicity m
    *
    * Self-scoring is [[bigramLmApply]] over [[bigramLmFit]] of the same
    * frame, so the add-k math exists once (in [[bigramLmApplyJoined]]).
    * ln differs between libm implementations in the last ulp → the score
    * is rounded to 4 places (oracle-fp discipline), and min/max/count
    * over the rounded score are exact downstream. Every input doc
    * appears; < 2-token docs carry a NULL score. */
  def bigramLmScore(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", capTokens: Int = 512,
      k: Double = 0.5): DataFrame =
    bigramLmApply(bigramLmFit(df, textCol, idCol, capTokens, k), df,
      textCol, idCol)

  private def cappedTokens(text: Column, capTokens: Int): Column =
    slice(tokens(text), 1, capTokens)

  /** The bigram string array of a staged `toks` column — the shared
    * bigram enumeration of the bigram fit/apply. Whitespace tokens
    * cannot contain spaces, so "w1 w2" is an injective bigram key and
    * the left context w1 derives from it by splitting — the compress
    * shuffles one string per row, not two. */
  private def bigramStrings: Column = {
    val nT = size(col("toks"))
    when(nT >= 2,
      transform(sequence(lit(1), nT - 1),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** The left-context key, derived from a `bg` column AFTER the
    * compress aggregate. */
  private def bigramW1: Column = element_at(split(col("bg"), " "), 1).as("w1")

  /** ALL per-class add-k bigram LMs in ONE long model frame: `model` is
    * (class, bg, w1, c_bg), `vocab` is (class, v). Fit/apply is split
    * so the model can be estimated on a clean REFERENCE corpus and
    * applied to the crawl — the actual CCNet deployment shape (the
    * reference model is wiki-grade text; the crawl never contaminates
    * its own quality measure). Wenzek et al. 2019 fit one LM per
    * language; at the ~100 languages of a real crawl this keeps the
    * whole model set distributed: fit is one `groupBy(class, bg)` pass,
    * apply is one join on (class, bg) — both independent of class
    * count. The classless [[bigramLmFit]] is this model with one
    * constant class. Persistable via save/load. */
  final case class BigramLmByClass(model: DataFrame, vocab: DataFrame,
      k: Double, capTokens: Int) {
    def save(dir: String): Unit = {
      val spark = model.sparkSession
      model.write.mode("overwrite").parquet(s"$dir/bigrams.parquet")
      vocab.write.mode("overwrite").parquet(s"$dir/vocab.parquet")
      import spark.implicits._
      Seq((k, capTokens)).toDF("k", "cap_tokens")
        .write.mode("overwrite").parquet(s"$dir/meta.parquet")
    }
  }

  object BigramLmByClass {
    def load(spark: org.apache.spark.sql.SparkSession, dir: String)
        : BigramLmByClass = {
      val meta = spark.read.parquet(s"$dir/meta.parquet").head()
      BigramLmByClass(spark.read.parquet(s"$dir/bigrams.parquet"),
        spark.read.parquet(s"$dir/vocab.parquet"),
        meta.getAs[Double]("k"), meta.getAs[Int]("cap_tokens"))
    }
  }

  /** Fit ONE bigram LM PER CLASS in a single pass over the corpus —
    * class-partition counts via `groupBy(class, bg)` (a partial-merge
    * aggregate: heavy (class, bigram) cells collapse map-side, so the
    * skewed-language crawl never floods one task) and per-class vocab
    * sizes via one `countDistinct` aggregate. No driver action (the
    * per-class V lives in the model's `vocab` frame) and no per-class
    * job: fitting 100 languages costs the same two aggregates as
    * fitting 3. Rows with a NULL class are excluded (they belong to no
    * model).
    *
    * `minCount` > 1 PRUNES model rows whose count is below the floor
    * AFTER the aggregate (KenLM's standard count-pruning recipe; the
    * in-repo precedent is `bpeFit.minWordCount`) — without it the model
    * itself grows corpus-sized on crawl-scale reference corpora (the
    * zipfian tail is almost entirely count-1 bigrams). Pruned bigrams
    * fall through the OOV branch at apply time (coalesce to count 0 →
    * k/(c_left + k·V)); left-context totals derive from the pruned
    * table (the only counts the model still holds), and V stays the
    * full training vocab so the smoothing mass is unchanged. No new
    * math — minCount=1 is bit-identical to the unpruned fit. */
  def bigramLmFitByClass(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", classCol: String = "class",
      capTokens: Int = 512, k: Double = 0.5,
      minCount: Int = 1): BigramLmByClass = {
    require(minCount >= 1, "minCount must be >= 1")
    val tok = df.filter(col(classCol).isNotNull)
      .select(col(classCol).cast("string").as("class"),
        cappedTokens(col(textCol), capTokens).as("toks"))
    val model = tok.select(col("class"), explode(bigramStrings).as("bg"))
      .groupBy(col("class"), col("bg"))
      .agg(count(lit(1)).as("c_bg"))
      .filter(col("c_bg") >= minCount)
      .select(col("class"), col("bg"), bigramW1, col("c_bg"))
      // cache: every apply consumes the model twice (the bigram join +
      // the left-context groupBy) — uncached, the fit corpus's whole
      // tokenize/count lineage re-executes per consumer
      .cache().transform(StageCaches.track)
    val vocab = tok.select(col("class"), explode(col("toks")).as("w"))
      .groupBy(col("class")).agg(countDistinct(col("w")).as("v"))
      // cache: one row per class, read by every apply. The pin also
      // hides the constant class of [[bigramLmFit]] from constant
      // folding, which would turn the apply's broadcast k·V hash join
      // on class into a nested-loop cross join
      .cache().transform(StageCaches.track)
    BigramLmByClass(model, vocab, k, capTokens)
  }

  /** Global (classless) bigram fit — [[bigramLmFitByClass]] with one
    * constant class, so the add-k model exists exactly once; score with
    * [[bigramLmApply]]. */
  def bigramLmFit(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", capTokens: Int = 512,
      k: Double = 0.5, minCount: Int = 1): BigramLmByClass =
    bigramLmFitByClass(df.withColumn("__one", lit("")), textCol, idCol,
      "__one", capTokens, k, minCount)

  /** Score under a [[bigramLmFit]]-fitted global model; returns
    * (idCol, lm_nll). */
  def bigramLmApply(lm: BigramLmByClass, df: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    bigramLmApplyJoined(lm, df.withColumn("__one", lit("")), textCol,
      idCol, "__one").drop("__one")

  /** Score every document against ITS OWN class's model in ONE pass:
    * one staged tokenize, one (id, class, bg) compress [shuffle 1 —
    * bounds the model-join fan-in under zipfian bigrams: "buy now" ×10⁴
    * in one spam doc joins once, not 10⁴ times, and m·ln p is one
    * multiply on both engines, not m re-ordered additions], one join
    * against the long model on (class, bg), one against the derived
    * left-context counts on (class, w1), a BROADCAST of the per-class
    * smoothing mass k·V (one row per class), one per-doc reduce. A
    * 100 TB crawl shuffles only its compressed bigrams ONCE, regardless
    * of how many languages the model holds. Out-of-vocabulary mass: an
    * unseen bigram coalesces to count 0 and an unseen left context to
    * total 0, so the smoothed probability degrades to k/(c_left + k·V)
    * and finally 1/V — never a log of zero. k·V is an exact
    * 0.5·integer double; the output is rounded to 4 places. Docs with
    * < 2 tokens — or whose class has no fitted model, including a fit
    * partition with zero tokens (no vocab row) — carry NULL `lm_nll`.
    * Returns (idCol, classCol, lm_nll). */
  def bigramLmApplyJoined(lm: BigramLmByClass, df: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      classCol: String = "class"): DataFrame = {
    val id = col(idCol)
    // cache: consumed twice (the bigram compress + the id/class join-back
    // side) — without the pin the upstream lineage (often a whole langID
    // classify) would evaluate twice
    val tok = df
      .select(id, col(classCol).cast("string").as("__cls"),
        cappedTokens(col(textCol), lm.capTokens).as("toks"))
      .cache().transform(StageCaches.track)
    val docBg = tok.select(id, col("__cls"), explode(bigramStrings).as("bg"))
      .groupBy(id, col("__cls"), col("bg"))
      .agg(count(lit(1)).as("m"))
      .select(id, col("__cls"), col("bg"), bigramW1, col("m"))
    val m = lm.model.select(col("class").as("__cls"), col("bg"), col("c_bg"))
    val lc = lm.model.groupBy(col("class").as("__cls"), col("w1"))
      .agg(sum(col("c_bg")).as("c_left"))
    // per-class smoothing mass k·V: exact (0.5 × integer-valued double),
    // one row per class — rides every executor as a broadcast
    val vk = lm.vocab.select(col("class").as("__cls"),
      (lit(lm.k) * col("v").cast("double")).as("__kv"))
    val scored = docBg
      .join(m, Seq("__cls", "bg"), "left")
      .join(lc, Seq("__cls", "w1"), "left")
      .join(broadcast(vk), Seq("__cls"), "left")
      .select(id, (col("m") *
        log((coalesce(col("c_bg"), lit(0L)) + lm.k) /
            (coalesce(col("c_left"), lit(0L)) + col("__kv")))).as("lp"),
        col("m"))
      .groupBy(id)
      .agg((-sum(col("lp")) / sum(col("m"))).as("nll"))
    tok.select(id, col("__cls")).join(scored, Seq(idCol), "left")
      .select(id, col("__cls").as(classCol), round(col("nll"), 4).as("lm_nll"))
  }

  /** ALL per-class order-n STUPID-BACKOFF LMs in one long model (Brants
    * et al. 2007, "Large Language Models in Machine Translation" §4 —
    * the public large-corpus recipe CCNet's KenLM descends from):
    * relative frequencies with a fixed backoff multiplier α (0.4 in the
    * paper), no normalization —
    *
    *   S_1 = (c1(w_n) + 1)/(N + V)
    *   S_k = c_k(suffix_k)/c_{k-1}(prefix of suffix_k)  if suffix_k seen
    *       = α · S_{k-1}                                 otherwise
    *
    * The terminal unigram is add-one smoothed over the training vocab (a
    * documented deviation — pure stupid backoff gives an OOV token score
    * 0 ⇒ ln 0). Order 3 is the trigram model; Wenzek et al.'s actual
    * configuration is 5-gram KenLM. The model is one count frame per
    * order k = 1..n, each (class, gram, c) with `gram` the space-joined
    * k tokens, plus the (class, n, v) totals. Fit is n partial-merge
    * aggregates over ONE staged tokenize; apply is 2n−1 left joins + a
    * broadcast totals join — both independent of class count. The
    * classless [[ngramLmFit]] is this model with one constant class.
    * Persistable. */
  final case class NgramLmByClass(order: Int, counts: Seq[DataFrame],
      totals: DataFrame, alpha: Double, capTokens: Int) {
    require(counts.length == order, "one count frame per order 1..n")
    def save(dir: String): Unit = {
      val spark = totals.sparkSession
      counts.zipWithIndex.foreach { case (c, i) =>
        c.write.mode("overwrite").parquet(s"$dir/grams_${i + 1}.parquet")
      }
      totals.write.mode("overwrite").parquet(s"$dir/totals.parquet")
      import spark.implicits._
      Seq((order, alpha, capTokens)).toDF("order", "alpha", "cap_tokens")
        .write.mode("overwrite").parquet(s"$dir/meta.parquet")
    }
  }

  object NgramLmByClass {
    def load(spark: org.apache.spark.sql.SparkSession, dir: String)
        : NgramLmByClass = {
      val meta = spark.read.parquet(s"$dir/meta.parquet").head()
      val order = meta.getAs[Int]("order")
      NgramLmByClass(order,
        (1 to order).map(k => spark.read.parquet(s"$dir/grams_$k.parquet")),
        spark.read.parquet(s"$dir/totals.parquet"),
        meta.getAs[Double]("alpha"), meta.getAs[Int]("cap_tokens"))
    }
  }

  /** Fit one order-n stupid-backoff LM per class: one partial-merge
    * `groupBy(class, gram)` aggregate PER ORDER over one staged
    * tokenize, no per-class jobs, no driver action. Rows with a NULL
    * class are excluded.
    *
    * `minCount` > 1 PRUNES every order at the same floor AFTER the
    * aggregates (KenLM's count-pruning recipe) — the model of a
    * crawl-scale reference corpus is otherwise corpus-sized (the
    * zipfian tail is count-1 n-grams). Pruned n-grams fall through the
    * EXISTING backoff branches (a pruned trigram scores as α·S(w3|w2),
    * a pruned bigram as α²·S(w3), a pruned unigram hits the add-one
    * floor with count 0) — no new math. The SAME floor on every order
    * keeps the seen-branch invariants (see [[ngramLmApplyJoined]]).
    * (N, V) stay the FULL partition totals so the smoothing floor is
    * unchanged; minCount=1 is bit-identical to the unpruned fit.
    *
    * Measured design note: a single-pass variant (emit (k, gram)
    * structs for all orders from one explode into ONE
    * `groupBy(class, k, gram)`) was tried and REVERTED — it shuffles
    * the same total rows but must cache the aggregate UNPRUNED (totals
    * need unpruned unigrams), and every one of the apply's 2n−1 joins
    * then re-scans that fat multi-order cache behind its per-order
    * filter: min-of-2 at 100k docs / 40 classes / order 5 read 17.8 s
    * vs 9.2 s for this per-order form, whose join sides are thin
    * pruned caches. n extra reads of the cached token arrays are
    * cheaper than 2n−1 scans of an n×-fat cache. */
  def ngramLmFitByClass(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", classCol: String = "class",
      order: Int = 5, capTokens: Int = 512, alpha: Double = 0.4,
      minCount: Int = 1): NgramLmByClass = {
    require(order >= 2, "order must be >= 2")
    require(minCount >= 1, "minCount must be >= 1")
    val tok = df.filter(col(classCol).isNotNull)
      .select(col(classCol).cast("string").as("class"),
        cappedTokens(col(textCol), capTokens).as("toks"))
      // cache: n enumerations read the staged tokens
      .cache().transform(StageCaches.track)
    val nT = size(col("toks"))
    def kgrams(k: Int): Column =
      if (k == 1) col("toks")
      else when(nT >= k,
        transform(sequence(lit(1), nT - (k - 1)),
          i => concat_ws(" ",
            (0 until k).map(o => element_at(col("toks"), i + o)): _*)))
        .otherwise(array().cast("array<string>"))
    // unigram counts stay UNPRUNED in the totals derivation
    val uniAll = tok.select(col("class"), explode(col("toks")).as("gram"))
      .groupBy(col("class"), col("gram")).agg(count(lit(1)).as("c"))
      .cache().transform(StageCaches.track)
    val totals = uniAll.groupBy(col("class"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val counts = (1 to order).map { k =>
      val base =
        if (k == 1) uniAll.filter(col("c") >= minCount)
        else tok
          .select(col("class"), explode(kgrams(k)).as("gram"))
          .groupBy(col("class"), col("gram")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= minCount)
      // cache: every order's frame is joined twice by the apply (as the
      // suffix numerator and as the next order's denominator)
      if (k == 1) base else base.cache().transform(StageCaches.track)
    }
    NgramLmByClass(order, counts, totals, alpha, capTokens)
  }

  /** Global (classless) order-n fit — for corpora scored by ONE
    * reference model: a thin adapter over the per-class engine with a
    * single constant class (the class key adds one constant column to
    * each join — broadcast-irrelevant), so the order-n math exists
    * exactly once. */
  def ngramLmFit(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", order: Int = 5, capTokens: Int = 512,
      alpha: Double = 0.4, minCount: Int = 1): NgramLmByClass =
    ngramLmFitByClass(df.withColumn("__one", lit("")), textCol, idCol,
      "__one", order, capTokens, alpha, minCount)

  /** Score under a [[ngramLmFit]]-fitted global model; returns
    * (idCol, lm_nll). */
  def ngramLmApply(lm: NgramLmByClass, df: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    ngramLmApplyJoined(lm, df.withColumn("__one", lit("")), textCol,
      idCol, "__one").drop("__one")

  /** Score every document against ITS class's order-n stupid-backoff
    * model in one pass: one (id, class) n-gram compress carrying all
    * 2n−1 backoff keys, then for k = n..2 a left join on the k-suffix
    * (numerator) and the (k−1)-denominator (the suffix's own prefix),
    * the unigram floor join, and a broadcast (N, V) join, then the
    * backoff chain of [[NgramLmByClass]]. The model side is the
    * small/fixed side, so crawl-scale scoring never re-shuffles it.
    * Seen branches never divide by zero/NULL at any `minCount`: a kept
    * k-suffix's (k−1)-prefix count ≥ the suffix count ≥ the floor, so
    * the denominator row survives the same pruning. Docs with < n
    * tokens — or an unfitted class, including a fit partition with
    * zero tokens (no totals row) — carry NULL `lm_nll`. Returns
    * (idCol, classCol, lm_nll). */
  def ngramLmApplyJoined(lm: NgramLmByClass, df: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      classCol: String = "class"): DataFrame = {
    val n = lm.order
    val id = col(idCol)
    val (tok, docNg) = ngramDocCompress(df, textCol, idCol, classCol, n,
      lm.capTokens)
    var cur = docNg
    for (k <- n to 2 by -1) {
      cur = cur.join(lm.counts(k - 1).select(col("class").as("__cls"),
        col("gram").as(s"suf$k"), col("c").as(s"c_suf$k")),
        Seq("__cls", s"suf$k"), "left")
      cur = cur.join(lm.counts(k - 2).select(col("class").as("__cls"),
        col("gram").as(s"den${k - 1}"), col("c").as(s"c_den${k - 1}")),
        Seq("__cls", s"den${k - 1}"), "left")
    }
    cur = cur.join(lm.counts(0).select(col("class").as("__cls"),
      col("gram").as("suf1"), col("c").as("c_suf1")),
      Seq("__cls", "suf1"), "left")
      .join(broadcast(lm.totals.select(col("class").as("__cls"),
        col("n").as("__n"), col("v").as("__v"))), Seq("__cls"), "left")
    var s: Column = (coalesce(col("c_suf1"), lit(0L)) + lit(1.0)) /
      (col("__n") + col("__v")).cast("double")
    for (k <- 2 to n)
      s = when(col(s"c_suf$k").isNotNull,
          col(s"c_suf$k").cast("double") / col(s"c_den${k - 1}"))
        .otherwise(lit(lm.alpha) * s)
    val scored = cur
      .select(id, (col("m") * log(s)).as("lp"), col("m"))
      .groupBy(id)
      .agg((-sum(col("lp")) / sum(col("m"))).as("nll"))
    tok.select(id, col("__cls")).join(scored, Seq(idCol), "left")
      .select(id, col("__cls").as(classCol), round(col("nll"), 4).as("lm_nll"))
  }

  /** The shared doc-side head of the joined order-n applies
    * ([[ngramLmApplyJoined]] / [[knLmApplyJoined]]): the staged
    * (id, class, toks) cache, and the injective n-gram compress.
    * Compresses on the FULL n-gram only: every backoff key (suffix_k,
    * den_k) is a substring of it, and whitespace tokens cannot contain
    * spaces, so the n-gram string is an injective key and the other
    * 2n−2 keys derive from it AFTER the aggregate — the compress
    * shuffle carries one string + m per row instead of 2n−1 overlapping
    * substrings (~O(n²) chars/row), the widest shuffle in the apply.
    * Returns (tok, docNg) where docNg carries (idCol, __cls, suf_n, m,
    * suf_1..suf_{n−1}, den_1..den_{n−1}); suffix_k = last k words,
    * den_k = the k words ending one before the last. */
  private def ngramDocCompress(df: DataFrame, textCol: String,
      idCol: String, classCol: String, n: Int, capTokens: Int)
      : (DataFrame, DataFrame) = {
    val id = col(idCol)
    val tok = df
      .select(id, col(classCol).cast("string").as("__cls"),
        cappedTokens(col(textCol), capTokens).as("toks"))
      .cache().transform(StageCaches.track)
    val nT = size(col("toks"))
    val occ = tok
      .select(id, col("__cls"), col("toks"),
        explode(when(nT >= n, sequence(lit(1), nT - (n - 1)))
          .otherwise(array().cast("array<int>"))).as("__i"))
      .select(id, col("__cls"), concat_ws(" ",
        (0 until n).map(o => element_at(col("toks"), col("__i") + o)): _*)
        .as(s"suf$n"))
    // suffix_k = last k words, den_k = the k words ending one before the
    // last; substring_index ≡ concat_ws∘slice∘split (grams are
    // space-joined whitespace tokens — no spaces inside a token), with
    // no per-row split-array allocation (r19)
    val head = substring_index(col(s"suf$n"), " ", n - 1)
    val derived =
      (1 until n).map(k =>
        substring_index(col(s"suf$n"), " ", -k).as(s"suf$k")) ++
      (1 until n).map(k =>
        substring_index(head, " ", -k).as(s"den$k"))
    val docNg = occ
      .groupBy(id, col("__cls"), col(s"suf$n"))
      .agg(count(lit(1)).as("m"))
      .select((Seq(id, col("__cls"), col(s"suf$n"), col("m")) ++
        derived): _*)
    (tok, docNg)
  }

  /** ALL per-class interpolated MODIFIED KNESER-NEY order-n LMs in one
    * long model — the smoothing KenLM actually ships (Chen & Goodman
    * 1998's modified KN; Wenzek et al.'s CCNet scorer), where
    * [[NgramLmByClass]] is the stupid-backoff at-scale default. Per
    * order k the model holds the ADJUSTED count table `grams(k−1)`
    * (raw counts at the highest order, CONTINUATION counts — distinct
    * left-extensions — below it), the prefix-history stats
    * `prefixStats(k−2)` for k ≥ 2 (denominator mass + the
    * count-of-count tallies the backoff weight γ(h) needs), per-class
    * scalars (`classStats`: unigram mass, tallies, vocabulary), and the
    * per-(class, order) discount triples D1/D2/D3+ (`discounts`, wide).
    * No BOS/EOS markers — grams slide over the token array, matching
    * the backoff engines, so order-3 scores are comparable across the
    * two smoothers. Persistable. */
  final case class KnLmByClass(order: Int, grams: Seq[DataFrame],
      prefixStats: Seq[DataFrame], classStats: DataFrame,
      discounts: DataFrame, capTokens: Int, minCount: Int) {
    require(grams.length == order, "one adjusted-count frame per order")
    require(prefixStats.length == order - 1, "prefix stats for k=2..n")
    def save(dir: String): Unit = {
      val spark = classStats.sparkSession
      grams.zipWithIndex.foreach { case (g, i) =>
        g.write.mode("overwrite").parquet(s"$dir/grams_${i + 1}.parquet")
      }
      prefixStats.zipWithIndex.foreach { case (ps, i) =>
        ps.write.mode("overwrite").parquet(s"$dir/pstats_${i + 2}.parquet")
      }
      classStats.write.mode("overwrite").parquet(s"$dir/class_stats.parquet")
      discounts.write.mode("overwrite").parquet(s"$dir/discounts.parquet")
      import spark.implicits._
      Seq((order, capTokens, minCount)).toDF("order", "cap_tokens",
        "min_count").write.mode("overwrite").parquet(s"$dir/meta.parquet")
    }
  }

  object KnLmByClass {
    def load(spark: org.apache.spark.sql.SparkSession, dir: String)
        : KnLmByClass = {
      val meta = spark.read.parquet(s"$dir/meta.parquet").head()
      val order = meta.getAs[Int]("order")
      KnLmByClass(order,
        (1 to order).map(k => spark.read.parquet(s"$dir/grams_$k.parquet")),
        (2 to order).map(k => spark.read.parquet(s"$dir/pstats_$k.parquet")),
        spark.read.parquet(s"$dir/class_stats.parquet"),
        spark.read.parquet(s"$dir/discounts.parquet"),
        meta.getAs[Int]("cap_tokens"), meta.getAs[Int]("min_count"))
    }
  }

  /** Fit one interpolated modified-KN order-n LM per class. Statistics
    * per order k (all partial-merge aggregates, no per-class jobs):
    *
    *  - raw k-gram TYPE tables (k = 2..n) over one staged tokenize;
    *  - ADJUSTED counts a_k: raw counts at k = n; for k < n the
    *    CONTINUATION count — the number of distinct left-extensions,
    *    i.e. rows of the (k+1)-type table grouped by its k-suffix
    *    (each (k+1)-gram type has a distinct first word given the
    *    suffix, so `count(1)` IS the distinct-predecessor count: no
    *    `count_distinct` shuffle);
    *  - modified-KN discounts from the count-of-counts n1..n4 of a_k
    *    (Chen & Goodman): Y = n1/(n1+2·n2), D1 = 1−2Y·n2/n1,
    *    D2 = 2−3Y·n3/n2, D3+ = 3−4Y·n4/n3, each guarded (fallback
    *    0.5/1.0/1.5 when its tally is zero) and clamped to [0, j] —
    *    degenerate count-of-count shapes yield a valid if blunt
    *    discount instead of KenLM's hard error;
    *  - prefix-history stats for k ≥ 2: S(h) = Σ_w a_k(h·w) plus the
    *    N1/N2/N3+(h·) tallies γ(h) needs, grouped from a_k by its
    *    (k−1)-word prefix;
    *  - per-class scalars from a_1 (unigram mass S1, tallies,
    *    V = continuation vocabulary — words only ever seen
    *    document-initial score through the uniform 1/V floor).
    *
    * `minCount` prunes the STORED numerator tables a_k at the floor
    * AFTER every statistic is taken (discounts, prefix stats, and
    * scalars stay full-corpus — the same pruning recipe as the backoff
    * trainers; a pruned gram scores through γ(h)·p_{k−1}, mass no
    * longer exactly normalized, as with KenLM's own --prune). */
  def knLmFitByClass(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", classCol: String = "class",
      order: Int = 5, capTokens: Int = 512, minCount: Int = 1)
      : KnLmByClass = {
    require(order >= 2, "order must be >= 2")
    require(minCount >= 1, "minCount must be >= 1")
    val tok = df.filter(col(classCol).isNotNull)
      .select(col(classCol).cast("string").as("class"),
        cappedTokens(col(textCol), capTokens).as("toks"))
      .cache().transform(StageCaches.track)
    val nT = size(col("toks"))
    def kgrams(k: Int): Column =
      if (k == 1) col("toks")
      else when(nT >= k,
        transform(sequence(lit(1), nT - (k - 1)),
          i => concat_ws(" ",
            (0 until k).map(o => element_at(col("toks"), i + o)): _*)))
        .otherwise(array().cast("array<string>"))
    def rawTypes(k: Int): DataFrame = tok
      .select(col("class"), explode(kgrams(k)).as("gram"))
      .groupBy(col("class"), col("gram")).agg(count(lit(1)).as("c"))
    // the order-n type table is read twice (it IS a_n, and it is the
    // continuation source for a_{n-1}) — cache it so the corpus-wide
    // explode-aggregate runs once; the lower raw tables feed exactly
    // one continuation group-by each and stay uncached.
    //
    // Measured design note (r19): deriving the lower-order RAW tables
    // downward from rawN (c_k(g) = Σ_w c_{k+1}(g·w) + doc-final-tail
    // correction — exact integer math, one prefix group-by over the
    // (k+1) TYPE table instead of a corpus explode per order) was
    // implemented and REVERTED: grams lap 5.6 → 6.4-7.0 s at sf0.1/32c
    // (classify lap equal across windows). The per-order explodes over
    // the cached token arrays are cheaper than the derivation's extra
    // type-table aggregates + two cache materializations — the same
    // lesson as r17/r18's reverted multi-order single-pass fit.
    val rawN = rawTypes(order).cache().transform(StageCaches.track)
    // adjusted counts; cached — each frame feeds discounts, prefix
    // stats (or class scalars), and the stored numerator.
    // substring_index ≡ concat_ws∘slice∘split here (grams are
    // space-joined whitespace tokens — no spaces inside a token, no
    // empty tokens), without the per-row split-array allocation.
    val adj: Seq[DataFrame] = (1 to order).map { k =>
      if (k == order) rawN.withColumnRenamed("c", "a")
      else {
        val src = if (k == order - 1) rawN else rawTypes(k + 1)
        src.select(col("class"),
            substring_index(col("gram"), " ", -k).as("gram"))
          .groupBy(col("class"), col("gram")).agg(count(lit(1)).as("a"))
          .cache().transform(StageCaches.track)
      }
    }
    def tally(j: Int): Column =
      sum(when(col("a") === j, 1L).otherwise(0L)).as(s"n$j")
    def discFor(k: Int): DataFrame = {
      val coc = adj(k - 1).groupBy(col("class"))
        .agg(tally(1), tally(2), tally(3), tally(4))
      val y = when(col("n1") + lit(2) * col("n2") > 0,
        col("n1").cast("double") / (col("n1") + lit(2) * col("n2")))
        .otherwise(lit(0.5))
      def clamp(c: Column, hi: Double) =
        greatest(lit(0.0), least(lit(hi), c))
      coc.select(col("class"),
        clamp(when(col("n1") > 0,
          lit(1.0) - lit(2.0) * y * col("n2") / col("n1"))
          .otherwise(lit(0.5)), 1.0).as(s"d1_$k"),
        clamp(when(col("n2") > 0,
          lit(2.0) - lit(3.0) * y * col("n3") / col("n2"))
          .otherwise(lit(1.0)), 2.0).as(s"d2_$k"),
        clamp(when(col("n3") > 0,
          lit(3.0) - lit(4.0) * y * col("n4") / col("n3"))
          .otherwise(lit(1.5)), 3.0).as(s"d3_$k"))
    }
    // wide per-class discount frame: inner join is lossless — a class
    // that can score at all (some doc with >= n tokens) has rows at
    // every order
    val discounts = (1 to order).map(discFor)
      .reduce((a, b) => a.join(b, Seq("class")))
    val prefixStats = (2 to order).map { k =>
      adj(k - 1)
        .select(col("class"),
          substring_index(col("gram"), " ", k - 1).as("hist"), col("a"))
        .groupBy(col("class"), col("hist"))
        .agg(sum(col("a")).as("s"),
          sum(when(col("a") === 1, 1L).otherwise(0L)).as("h1"),
          sum(when(col("a") === 2, 1L).otherwise(0L)).as("h2"),
          sum(when(col("a") >= 3, 1L).otherwise(0L)).as("h3p"))
        // joined twice-shaped like the backoff counts: cache
        .cache().transform(StageCaches.track)
    }
    val classStats = adj.head.groupBy(col("class"))
      .agg(sum(col("a")).as("s1"),
        sum(when(col("a") === 1, 1L).otherwise(0L)).as("u1"),
        sum(when(col("a") === 2, 1L).otherwise(0L)).as("u2"),
        sum(when(col("a") >= 3, 1L).otherwise(0L)).as("u3p"),
        count(lit(1)).as("v"))
    val grams = adj.map(a =>
      if (minCount == 1) a else a.filter(col("a") >= minCount))
    KnLmByClass(order, grams, prefixStats, classStats, discounts,
      capTokens, minCount)
  }

  /** Global (classless) KN fit — [[knLmFitByClass]] with one constant
    * class, so the KN math exists exactly once. */
  def knLmFit(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", order: Int = 5, capTokens: Int = 512,
      minCount: Int = 1): KnLmByClass =
    knLmFitByClass(df.withColumn("__one", lit("")), textCol, idCol,
      "__one", order, capTokens, minCount)

  /** Score under a [[knLmFit]]-fitted global model; returns
    * (idCol, lm_nll). */
  def knLmApply(lm: KnLmByClass, df: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    knLmApplyJoined(lm, df.withColumn("__one", lit("")), textCol,
      idCol, "__one").drop("__one")

  /** Score every document against ITS class's interpolated modified-KN
    * model in one pass — the same injective-compress + join shape as
    * [[ngramLmApplyJoined]] (flat in class count): per level
    * k = n..2 a left join on the k-suffix's adjusted count and on the
    * (k−1)-history's prefix stats, the unigram adjusted count, and two
    * broadcast joins (class scalars, discount triples). The recursion
    * (D(a) selects D1/D2/D3+ by the adjusted count; u ∨ γ both read
    * the SAME history row):
    *
    *   p_1 = max(a_1(w) − D(a_1), 0)/S1 + (γ-mass_1/S1)/V
    *   p_k = max(a_k(suffix_k) − D(a_k), 0)/S(h_k)
    *         + ((D1·N1(h_k) + D2·N2(h_k) + D3+·N3+(h_k))/S(h_k)) · p_{k−1}
    *         — or p_{k−1} outright when h_k is unseen (no row: full
    *           backoff, the unseen-history convention)
    *
    * with a final max(p, 1e-10) floor so a degenerate class (all
    * discount mass clamped away) can never take log(0). Docs with < n
    * tokens — or an unfitted class — carry NULL `lm_nll`. Returns
    * (idCol, classCol, lm_nll). */
  def knLmApplyJoined(lm: KnLmByClass, df: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      classCol: String = "class"): DataFrame = {
    val n = lm.order
    val id = col(idCol)
    val (tok, docNg) = ngramDocCompress(df, textCol, idCol, classCol, n,
      lm.capTokens)
    var cur = docNg
    for (k <- n to 2 by -1) {
      cur = cur.join(lm.grams(k - 1).select(col("class").as("__cls"),
        col("gram").as(s"suf$k"), col("a").as(s"a_suf$k")),
        Seq("__cls", s"suf$k"), "left")
      cur = cur.join(lm.prefixStats(k - 2).select(col("class").as("__cls"),
        col("hist").as(s"den${k - 1}"), col("s").as(s"s_$k"),
        col("h1").as(s"h1_$k"), col("h2").as(s"h2_$k"),
        col("h3p").as(s"h3p_$k")),
        Seq("__cls", s"den${k - 1}"), "left")
    }
    cur = cur.join(lm.grams(0).select(col("class").as("__cls"),
      col("gram").as("suf1"), col("a").as("a_suf1")),
      Seq("__cls", "suf1"), "left")
      .join(broadcast(lm.classStats.select(col("class").as("__cls"),
        col("s1").as("__s1"), col("u1").as("__u1"), col("u2").as("__u2"),
        col("u3p").as("__u3p"), col("v").as("__v"))), Seq("__cls"), "left")
      .join(broadcast(lm.discounts.withColumnRenamed("class", "__cls")),
        Seq("__cls"), "left")
    def dsel(a: Column, k: Int): Column =
      when(a >= 3, col(s"d3_$k")).when(a === 2, col(s"d2_$k"))
        .when(a === 1, col(s"d1_$k")).otherwise(lit(0.0))
    val a1 = coalesce(col("a_suf1"), lit(0L))
    var p: Column =
      greatest(a1.cast("double") - dsel(a1, 1), lit(0.0)) / col("__s1") +
        ((col("d1_1") * col("__u1") + col("d2_1") * col("__u2") +
          col("d3_1") * col("__u3p")) / col("__s1")) / col("__v")
    for (k <- 2 to n) {
      val ak = coalesce(col(s"a_suf$k"), lit(0L))
      val pk =
        greatest(ak.cast("double") - dsel(ak, k), lit(0.0)) /
          col(s"s_$k") +
          ((col(s"d1_$k") * col(s"h1_$k") + col(s"d2_$k") * col(s"h2_$k") +
            col(s"d3_$k") * col(s"h3p_$k")) / col(s"s_$k")) * p
      p = when(col(s"s_$k").isNotNull, pk).otherwise(p)
    }
    // floor only FITTED classes (greatest skips nulls — an unfitted
    // class's all-null join row must stay NULL, not become 1e-10)
    val s = when(col("__s1").isNotNull, greatest(p, lit(1e-10)))
    val scored = cur
      .select(id, (col("m") * log(s)).as("lp"), col("m"))
      .groupBy(id)
      .agg((-sum(col("lp")) / sum(col("m"))).as("nll"))
    tok.select(id, col("__cls")).join(scored, Seq(idCol), "left")
      .select(id, col("__cls").as(classCol), round(col("nll"), 4).as("lm_nll"))
  }

  /** Annotate a documents DataFrame with the full feature set.
    * Tokenization and shingle hashing are staged into their own projection
    * so they run ONCE per row; every feature reads the materialized arrays.
    * (Catalyst's CollapseProject keeps the stage because the arrays are
    * non-cheap and referenced many times.) */
  def annotate(df: DataFrame, textCol: String = "text"): DataFrame = {
    val c = col(textCol)
    val staged = df
      .withColumn("__toks", tokens(c))
      .withColumn("__ltoks", transform(col("__toks"), lower(_)))
      .withColumn("__th", transform(col("__toks"), t => pmod(hash60(t), lit(P))))
      .withColumn("__hs", shingleHashesFromTokenHashes(col("__th")))

    val toks = col("__toks")
    val nTok = size(toks)
    val nChars = length(c)
    val avgTokLen = when(nTok > 0, nChars.cast("double") / nTok).otherwise(lit(0.0))
    val stopRatio = when(nTok > 0,
      size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") / nTok)
      .otherwise(lit(0.0))
    val punctRatio = when(nChars > 0,
      (nChars - length(regexp_replace(c, "[^A-Za-z0-9\\s]", ""))).cast("double") / nChars)
      .otherwise(lit(0.0))

    val lenScore = least(nChars.cast("double") / 500.0, lit(1.0))
    val tokLenScore = when(avgTokLen >= 3 && avgTokLen <= 12, 1.0).otherwise(0.3)
    val stopScore = least(stopRatio * 4.0, lit(1.0))
    val punctScore = when(punctRatio <= 0.2, 1.0)
      .otherwise(greatest(lit(0.0), lit(1.0) - punctRatio * 2))

    val ltoks = col("__ltoks") // staged: referenced once per language profile
    val scores = LangProfiles.map { case (lang, markers) =>
      lang -> size(filter(ltoks, t => t.isin(markers: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val langPred = scores.foldRight(lit("und"): Column) { case ((lang, s), els) =>
      when(s === best && s > 0, lit(lang)).otherwise(els)
    }

    staged
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("n_subwords", subwordCount(c))
      .withColumn("avg_token_len", round(avgTokLen, 4))
      .withColumn("stopword_ratio", round(stopRatio, 4))
      .withColumn("punct_ratio", round(punctRatio, 4))
      .withColumn("quality",
        round(lenScore * 0.3 + tokLenScore * 0.2 + stopScore * 0.3 + punctScore * 0.2, 6))
      .withColumn("lang_pred", langPred)
      .withColumn("fingerprint",
        when(size(col("__hs")) === 0, lit(0L)).otherwise(array_min(col("__hs"))))
      // Gopher-style repetition signal: fraction of duplicate shingles
      .withColumn("dup_shingle_ratio",
        when(size(col("__hs")) === 0, lit(0.0))
          .otherwise(round(lit(1.0) -
            size(array_distinct(col("__hs"))).cast("double") / size(col("__hs")), 4)))
      .drop("__toks", "__ltoks", "__th", "__hs")
  }
}

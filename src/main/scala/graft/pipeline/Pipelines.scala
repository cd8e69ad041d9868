package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composed end-to-end training-data pipelines. */
object Pipelines {

  /** Corpus cleaning: quality gate -> exact dedup (keep lowest id) ->
    * MinHash near-dup removal (drop the higher id of each near-dup pair).
    *
    * Every stage is one of the already-tested operators; the composition is
    * shuffle-minimal: the quality gate is a narrow map, exact dedup is one
    * digest shuffle, near-dup is the LSH band join over the survivors only.
    */
  /** Deterministic hash-based stratified sampling — the data-mixing stage
    * of a training pipeline ("50% en, 25% de, 10% everything else").
    * Membership is a pure function of the row id (md5-hash bucket < rate),
    * so the sample is reproducible across runs/engines and never shuffles:
    * one narrow filter, no sampleBy randomness, no global sort. */
  def stratifiedSample(docs: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double], defaultFraction: Double): DataFrame = {
    val bucket = pmod(graft.functions.hash60(col(idCol).cast("string")), lit(1000))
    val rate = fractions.foldLeft(lit(defaultFraction)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit(f)).otherwise(acc)
    }
    docs.filter(bucket < rate * 1000)
  }

  /** Temperature-flattened source mixing (the multinomial sampling of
    * XLM/mBERT-style pipelines, public literature): sample source s with
    * probability ∝ n_s^alpha, scaled so the expected output is
    * `targetFraction` of the corpus. alpha < 1 up-weights low-resource
    * sources relative to their natural share; alpha = 1 is proportional
    * (plain uniform sampling); per-source rates cap at 1.0 (a capped
    * source contributes everything it has — the excess is NOT
    * redistributed, by design: redistribution would couple every source's
    * rate to the cap set and make rates data-order-sensitive).
    *
    * One tiny count aggregate (cardinality = #sources) fixes the rates
    * driver-side; membership is then the same deterministic hash filter
    * as [[stratifiedSample]] — no shuffle, no sort, reproducible across
    * runs and engines. Rates are rounded to 6 decimals so a SQL oracle
    * summing the normalizer in a different order lands on identical
    * thresholds (alpha = 0.5 keeps the weight function inside IEEE-exact
    * sqrt; other alphas go through libm pow and stay engine-internal). */
  def mixtureSample(docs: DataFrame, sourceCol: String, idCol: String,
      alpha: Double, targetFraction: Double): DataFrame = {
    // NULL-source rows are EXCLUDED from the mixture (they can never be
    // selected — stratifiedSample's equality comparison is null for them)
    // so they must not inflate nTotal/the normalizer either, or every
    // real source's rate silently undershoots targetFraction
    val counts = docs.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (String.valueOf(r.get(0)), r.getLong(1)))
      .sortBy { case (k, _) => k }
    val nTotal = counts.map { case (_, n) => n }.sum.toDouble
    def w(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
    val z = counts.map { case (_, n) => w(n) }.sum
    val rates = counts.map { case (k, n) =>
      k -> BigDecimal(math.min(1.0, targetFraction * nTotal * w(n) / z / n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    stratifiedSample(docs, sourceCol, idCol, rates, defaultFraction = 0.0)
  }

  /** Fixed-context training chunks with overlap — the sliding-window
    * split every LM pretraining pipeline applies before batching (HF
    * `return_overflowing_tokens` semantics): chunk c covers tokens
    * [c·stride, c·stride + maxLen); starts advance by `stride`
    * (stride < maxLen ⇒ maxLen − stride tokens of context overlap; HF
    * names the OVERLAP `stride` — ours is the ADVANCE, i.e. maxLen −
    * HF-stride; the non-overlapping
    * [[graft.pipeline.Dedup.tokenWindows]] is the dedup UNIT, this is
    * the training SAMPLE shape). Emission STOPS once a chunk reaches
    * the document end — a further start would yield a chunk fully
    * contained in the previous one, a duplicated training sample (the
    * HF tokenizer stops there too). Last chunk short, empty docs emit
    * nothing, every token is covered. Map-only: one staged tokenize +
    * a position explode — no shuffle, linear in output tokens
    * (≈ input tokens × maxLen/stride). */
  def chunkTokens(docs: DataFrame, textCol: String, idCol: String,
      maxLen: Int, stride: Int): DataFrame =
    chunkArray(docs, TextAnalysis.tokens(col(textCol)), idCol, maxLen, stride)

  /** TOKENIZER-TRUE training chunks: the same sliding windows as
    * [[chunkTokens]], but over the document's SUBWORD sequence under a
    * trained BPE vocabulary ([[TextAnalysis.bpeTokens]] greedy
    * longest-match apply, map-only) — context-window math in a real
    * pipeline budgets what the TRAINING TOKENIZER emits, and whitespace
    * counts under-estimate fertility exactly where it matters (long
    * or OOV words). `chunk_text` is the space-joined subword stream
    * (the training sample unit; detokenization is the consumer's
    * concern). Same overlap/stop-rule semantics, map-only, no shuffle. */
  def chunkTokensBpe(docs: DataFrame, textCol: String, idCol: String,
      vocab: Seq[String], maxLen: Int, stride: Int): DataFrame =
    chunkArray(docs, TextAnalysis.bpeTokens(col(textCol), vocab), idCol,
      maxLen, stride)

  private def chunkArray(docs: DataFrame, tokensExpr: Column, idCol: String,
      maxLen: Int, stride: Int): DataFrame = {
    require(maxLen >= 1, "maxLen must be >= 1")
    require(stride >= 1 && stride <= maxLen,
      "stride must be in [1, maxLen] (stride > maxLen would drop tokens)")
    val id = col(idCol)
    // stage the token array as an attribute before the explode: the
    // position sequence is derived from its SIZE, and exploding over an
    // inline-tokenize expression re-evaluates it per output row (the
    // Generate trap) — here the explode payload is a cheap int sequence
    // and the slice reads the staged attribute once per chunk
    docs
      .select(id, tokensExpr.as("__toks"))
      .select(id, col("__toks"), size(col("__toks")).as("__n"))
      .filter(col("__n") > 0)
      .select(id, col("__toks"), col("__n"),
        explode(sequence(lit(0),
          ceil((col("__n") - 1).cast("double") / stride).cast("int"),
          lit(1))).as("__i"))
      // keep chunk i only if the PREVIOUS chunk did not already reach
      // the document end (i > 0 with (i-1)·stride + maxLen >= n would be
      // a strict subset of chunk i-1 — a duplicated sample)
      .filter(col("__i") === 0 ||
        (col("__i") - 1) * stride + maxLen < col("__n"))
      .select(id, col("__i").cast("long").as("chunk_idx"),
        array_join(slice(col("__toks"), col("__i") * stride + 1, lit(maxLen)), " ")
          .as("chunk_text"),
        least(lit(maxLen), col("__n") - col("__i") * stride).cast("long")
          .as("n_chunk_tokens"))
  }

  /** Token-budget sequence packing: assign rows (ordered by `orderCol`) to
    * consecutive batches so each batch holds ~`budget` units of `sizeCol`
    * (a row straddling the boundary starts inside its batch — the greedy
    * running-sum rule). One window pass. The window here is global (one
    * partition); at 100 TB pack per shard instead: repartition by a shard
    * key and add it to the partitionBy — packing quality is per-shard
    * local, which is what batch assembly wants anyway. */
  def packBySize(docs: DataFrame, sizeCol: String, orderCol: String,
      budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs.withColumn("__cum", sum(col(sizeCol)).over(w))
      .withColumn("batch_id",
        floor((col("__cum") - col(sizeCol)) / budget).cast("long"))
      .drop("__cum")
  }

  /** The 100 TB form of `packBySize`: the running sum is windowed PER
    * SHARD (language, source, date bucket — whatever batch assembly groups
    * by), so each shard packs independently on its own executor instead of
    * collapsing the whole table into one partition for a global window.
    * `batch_id` is unique per (shard, batch) — globally unique ids, if
    * needed, come from hashing the pair. */
  def packBySizeSharded(docs: DataFrame, shardCol: String, sizeCol: String,
      orderCol: String, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol))
      .orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs.withColumn("__cum", sum(col(sizeCol)).over(w))
      .withColumn("batch_id",
        floor((col("__cum") - col(sizeCol)) / budget).cast("long"))
      .drop("__cum")
  }

  /** Interval (range) join WITHOUT an equi key, scalably: each interval
    * explodes to the time bins it covers (<= len/binWidth + 1 bins), each
    * point lands in exactly one bin, and the join becomes a plain shuffle
    * equi-join on the bin plus a residual containment filter. The naive
    * formulation `points.join(intervals, ts BETWEEN start AND end)` has no
    * equi conjunct, so Spark plans a BroadcastNestedLoopJoin — quadratic
    * at scale. Pick binWidth >= the typical interval length (each interval
    * then covers <= 2 bins); bins use exact int64 division (double math
    * would lose precision on epoch-nano timestamps).
    * Column names must not collide between the two sides. */
  def rangeJoinBinned(points: DataFrame, pointTsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      binWidth: Long): DataFrame = {
    val binned = intervals.withColumn("__bin",
      explode(sequence(expr(s"$startCol div $binWidth"), expr(s"$endCol div $binWidth"))))
    val pts = points.withColumn("__bin", expr(s"$pointTsCol div $binWidth"))
    pts.join(binned, Seq("__bin"))
      .filter(col(pointTsCol) >= col(startCol) && col(pointTsCol) <= col(endCol))
      .drop("__bin")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — public method): remove
    * semantic near-duplicates by embedding similarity WITHIN k-means
    * clusters, keeping one representative per duplicate group. Composed
    * from the engine's scale primitives — candidate pairs only inside
    * shared clusters ([[Dedup.embeddingNearDuplicatesBucketed]], with the
    * same multi-probe boundary recovery and opt-in `maxBucket` star cap),
    * connected components by pointer-jumping min-label propagation
    * ([[Dedup.duplicateClusters]]), and the survivor per component picked
    * by the caller's priority ([[Dedup.keepClusterSurvivors]] — e.g.
    * highest quality score, the paper keeps low-centroid-distance).
    * Never an all-pairs join anywhere; unclustered docs pass through. */
  def semDedup(docs: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]], minCosine: Double,
      priority: Seq[Column], probes: Int = 1,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val pairs = Dedup.embeddingNearDuplicatesBucketed(docs, vecCol, idCol,
      centroids, minCosine, probes, maxBucket)
    val clusters = Dedup.duplicateClusters(pairs.select(col("id_a"), col("id_b")))
    Dedup.keepClusterSurvivors(docs, idCol, clusters, priority)
  }

  /** The shared rule head of the full cleaning chain: C4 line/document
    * rules → Gopher document-quality rules, fully MAP-ONLY (the Gopher
    * verdict rides along via [[TextAnalysis.gopherPassThrough]] instead
    * of coming back through an id-join — one narrow stage, no cache, no
    * shuffle, and the identical plan runs inside a streaming microbatch:
    * [[graft.streaming.DocStream]] composes this same head). Returns
    * (idCol, clean_text) survivors. */
  def cleanStage(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    TextAnalysis.gopherPassThrough(
        TextAnalysis.c4Clean(docs, textCol, idCol)
          .filter(col("keep_doc"))
          .select(col(idCol), col("clean_text")),
        "clean_text")
      .filter(col("pass_gopher"))
      .select(col(idCol), col("clean_text"))

  /** The full production cleaning chain, composed end-to-end: C4 line/doc
    * rules → Gopher doc-quality rules ([[cleanStage]], map-only) →
    * arbitrary-alignment span masking (first occurrence survives
    * corpus-wide) → fully-masked-doc drop → exact dedup of the masked
    * text. Every stage is the oracle-gated operator; the composition
    * inherits their plan guarantees (map-only rules, skew-proof winner
    * picks, no all-pairs joins anywhere).
    * Returns (idCol, clean_text, n_final) — survivors only. */
  def cleanCorpusFull(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", spanK: Int = 8): DataFrame = {
    val masked = Dedup.maskRepeatedSpans(
      cleanStage(docs, textCol, idCol), idCol, "clean_text", spanK)
      .filter(col("n_tokens") > col("n_masked"))
      .select(col(idCol), col("clean_text"),
        (col("n_tokens") - col("n_masked")).as("n_final"))
    Dedup.dropExactDuplicates(masked, "clean_text", idCol)
  }

  def cleanCorpus(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      minQuality: Double = 0.5, jaccardThreshold: Double = 0.5,
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val id = col(idCol)

    // 1. quality gate (annotate stages tokenization once); project down
    //    to what the later stages read before anything shuffles — the
    //    dedup aggregate and the minhash pass otherwise carry (and
    //    recompute) every annotate column
    val annotated = TextAnalysis.annotate(docs, textCol)
    val qualified = annotated.filter(col("quality") >= minQuality)
      .select(id, col(textCol), col("n_tokens"), col("quality"))

    // 2. exact dedup: keep the lowest id per content digest; cached —
    //    consumed twice below (candidate pairs + the survivor join),
    //    and each re-evaluation would re-run the whole annotate lineage
    val exactDeduped = Dedup.dropExactDuplicates(qualified, textCol, idCol)
      .cache().transform(StageCaches.track)

    // 3. near-dup removal over the survivors: any doc that is the HIGHER id
    //    of a verified near-dup pair is dropped
    val pairs = Dedup.minhashNearDuplicates(exactDeduped, textCol, idCol,
      jaccardThreshold, numHashes, bands)
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
    exactDeduped.join(losers, Seq(idCol), "left_anti")
      .select(id, col("n_tokens"), col("quality"))
  }

  /** Per-class q-quantile bucket assignment by BROADCAST VALUE CUTOFFS —
    * the scale-safe form of "per-language perplexity terciles" (Wenzek
    * et al. 2019 compute per-language cutoff values and compare; they do
    * NOT rank every document). A `ntile(q) OVER (PARTITION BY class)`
    * would shuffle every row of the heaviest class into ONE task and
    * sort it there — and language is THE canonical skewed key of a web
    * crawl (English ≈ half of CommonCrawl). Here instead:
    *
    *  1. `groupBy(class, score).count` — a partial-merge aggregate,
    *     skew-proof (heavy (class, score) cells collapse map-side); its
    *     size is bounded by the SCORE RESOLUTION (scores arrive rounded
    *     — lm_nll is 4-decimal — so a class holds at most a few hundred
    *     thousand distinct values regardless of corpus size).
    *  2. one tiny per-class reduce folds the sorted (score, count) array
    *     into the q−1 cutoff values — cutoff i = the smallest score
    *     whose running count reaches ⌈i·n/q⌉ (`cum·q >= i·n` in exact
    *     integer arithmetic; no division, no float thresholds). No
    *     window anywhere in the plan.
    *  3. the cutoff table (one row per class) broadcast-joins back and
    *     the bucket is a map-only comparison:
    *     `bucket = q − #{cutoffs >= score}`.
    *
    * Buckets are VALUE buckets: every row with the same (class, score)
    * lands in the same bucket (ntile splits ties by id — at crawl scale
    * that distinction is rank noise, and value buckets are the published
    * CCNet semantics). Rows with a NULL score get a NULL bucket; a class
    * whose scores are all NULL gets NULL buckets throughout. Scores must
    * be numeric and ROUNDED (the pipeline's lm_nll already is): the
    * whole design rests on distinct-score cardinality being
    * resolution-bounded — an unrounded raw double would grow a class's
    * cutoff array toward corpus size. A class exceeding
    * `maxDistinctScores` distinct values fails AT EXECUTION with an
    * actionable message (round the score first) rather than silently
    * broadcasting a corpus-sized cutoff table. */
  def quantileBuckets(scored: DataFrame, classCol: String, scoreCol: String,
      q: Int = 3, maxDistinctScores: Int = 1 << 22): DataFrame = {
    require(q >= 2, "need at least 2 buckets")
    require(maxDistinctScores >= q, "maxDistinctScores must be >= q")
    val cls = col(classCol)
    val s = col(scoreCol).cast("double")
    // cache: the input lineage (often a whole LM-scoring chain) is
    // consumed twice — the cutoff counts AND the final bucket join;
    // uncached it would evaluate end-to-end twice (the ntile it
    // replaces read its input once)
    val base = scored.cache().transform(StageCaches.track)
    val cnts = base.filter(s.isNotNull)
      .groupBy(cls.as("__cls"), s.as("__s"))
      .agg(count(lit(1)).as("__c"))
    // the distinct-score bound must fire BEFORE collect_list builds the
    // per-class array (an unrounded raw-double score would grow a task's
    // aggregation buffer toward corpus size before a post-hoc size()
    // check ever ran). The per-class row count of `cnts` IS the distinct
    // count; it broadcast-joins back (one row per class) and the guard
    // raises on the FIRST row of an oversized class — the broadcast
    // build completes before the probe side feeds the collect. Cost on
    // the happy path: one partial-merge count over cnts (re-aggregated
    // from the cached base).
    // null-SAFE guard join: a NULL class is a legal bucket class (the
    // final cutoff join below is <=> for the same reason) — a plain
    // equi-join here would silently drop its rows from the cutoff
    // computation AND bypass the distinct-score guard
    val nd = cnts.groupBy(col("__cls").as("__ndcls"))
      .agg(count(lit(1)).as("__nd"))
    val guarded = cnts.join(broadcast(nd), col("__cls") <=> col("__ndcls"))
      .select(col("__cls"),
        when(col("__nd") > maxDistinctScores,
          raise_error(concat(
            lit("quantileBuckets: class '"),
            // a NULL class is legal — don't let concat null the message
            coalesce(col("__cls").cast("string"), lit("NULL")),
            lit(s"' has more than $maxDistinctScores distinct scores — " +
              "round the score column first (cutoffs are bounded by " +
              "score RESOLUTION, not corpus size)")))
            .cast("double"))
          .otherwise(col("__s")).as("__s"),
        col("__c"))
    val thrs = transform(sequence(lit(1), lit(q - 1)), qi =>
      aggregate(col("__arr"),
        struct(lit(0L).as("cum"), lit(null).cast("double").as("t")),
        (acc, x) => struct(
          (acc("cum") + x("c")).as("cum"),
          coalesce(acc("t"),
            when((acc("cum") + x("c")) * q >= qi * col("__n"), x("s")))
            .as("t")),
        acc => acc("t")))
    val cuts = guarded
      .groupBy(col("__cls"))
      .agg(sum(col("__c")).as("__n"),
        sort_array(collect_list(struct(col("__s").as("s"), col("__c").as("c"))))
          .as("__arr"))
      .select(col("__cls"), thrs.as("__thr"))
    base
      .join(broadcast(cuts), cls <=> col("__cls"), "left")
      .withColumn("bucket",
        when(s.isNull || col("__thr").isNull, lit(null).cast("int"))
          .otherwise(lit(q) - size(filter(col("__thr"), t => s <= t))
            .cast("int")))
      .drop("__cls", "__thr")
  }

  /** The CCNet keep/sample/drop mix over [[quantileBuckets]] output:
    * keep the head bucket, keep a deterministic hash-sample of the
    * middle (`midKeepPermille`/1000 — the same content-hash sampler as
    * [[stratifiedSample]]: reproducible, shuffle-free), drop the tail.
    * Assumes q = 3 buckets upstream. */
  def ccnetMix(bucketed: DataFrame, idCol: String,
      midKeepPermille: Int = 500): DataFrame = {
    require(midKeepPermille >= 0 && midKeepPermille <= 1000,
      "midKeepPermille must be in [0, 1000]")
    bucketed.filter(col("bucket") === 1 || (col("bucket") === 2 &&
      pmod(graft.functions.hash60(col(idCol).cast("string")),
        lit(1000L)) < midKeepPermille))
  }

  /** The COMPOSED CCNet pipeline (Wenzek et al. 2019, public method) as
    * a library operator: fastText-style language ID -> each document
    * scored by ITS OWN language's reference LM (`lmFor`, usually
    * [[TextAnalysis.BigramLmByClass.load]] of per-language
    * [[TextAnalysis.bigramLmFit]] models fitted on clean reference
    * text) -> per-language perplexity terciles by broadcast value
    * cutoffs ([[quantileBuckets]] — no skewed window)
    * -> keep head / hash-sample middle / drop tail ([[ccnetMix]]).
    * Returns (idCol, pred_class, bucket) for the kept rows.
    *
    * Scale shape: langID is map-only (hash-indexed codegen kernel); the
    * per-class scoring joins each class partition against its own
    * model's keys (the model side is the fitted table, so a 100 TB
    * crawl shuffles only its compressed bigrams); classes are bounded,
    * so the per-class union grows the PLAN linearly, not the data. */
  def ccnet(docs: DataFrame, textCol: String, idCol: String,
      classes: Seq[String], weights: Map[String, Seq[Double]],
      biases: Seq[Double], lmFor: String => TextAnalysis.BigramLmByClass,
      midKeepPermille: Int = 500): DataFrame = {
    // cache: every class's apply chain filters this frame (classify is
    // the expensive column) — uncached, the classifier would re-run
    // once per class per consuming job
    val pred = docs.select(col(idCol), col(textCol),
        TextAnalysis.linearClassifyLabel(col(textCol), classes, weights,
          biases).as("pred_class"))
      .cache().transform(StageCaches.track)
    val scored = classes.map { c =>
      TextAnalysis.bigramLmApply(lmFor(c),
          pred.filter(col("pred_class") === c), textCol, idCol)
        .withColumn("pred_class", lit(c))
    }.reduce(_.unionByName(_)).filter(col("lm_nll").isNotNull)
    ccnetMix(quantileBuckets(scored, "pred_class", "lm_nll", 3), idCol,
        midKeepPermille)
      .select(col(idCol), col("pred_class"), col("bucket"))
  }

  /** [[ccnet]] with the langID model as a (token, class, weight)
    * DATAFRAME ([[TextAnalysis.linearClassifyLabelJoined]]) — the form
    * a production fastText language identifier needs: real langID
    * models carry millions of hashed n-gram buckets × ~100 languages,
    * which must stay distributed, not ride every executor as a
    * reference object. Same flow downstream (per-language LM scoring,
    * cutoff terciles, keep/sample/drop). TIE-BREAK CONTRACT: the joined
    * argmax breaks z-ties to the lexicographically FIRST class —
    * independent of `classBiases` order (the biases ride a class-keyed
    * broadcast) — while the kernel overload breaks to the first-LISTED
    * class; the two overloads therefore agree on tied predictions
    * exactly when the kernel's `classes` are passed sorted (PipelineSpec
    * pins the composed equality under that convention). */
  def ccnet(docs: DataFrame, textCol: String, idCol: String,
      weightsDf: DataFrame, classBiases: Seq[(String, Double)],
      lmFor: String => TextAnalysis.BigramLmByClass,
      midKeepPermille: Int): DataFrame = {
    val classes = classBiases.map(_._1)
    // LabelJoined projects the text away; join it back on the unique id
    // and cache — each class's apply chain filters this frame
    val pred = TextAnalysis.linearClassifyLabelJoined(docs, textCol, idCol,
        weightsDf, classBiases)
      .select(col(idCol), col("pred_class"))
      .join(docs.select(col(idCol), col(textCol)), Seq(idCol))
      .cache().transform(StageCaches.track)
    val scored = classes.map { c =>
      TextAnalysis.bigramLmApply(lmFor(c),
          pred.filter(col("pred_class") === c), textCol, idCol)
        .withColumn("pred_class", lit(c))
    }.reduce(_.unionByName(_)).filter(col("lm_nll").isNotNull)
    ccnetMix(quantileBuckets(scored, "pred_class", "lm_nll", 3), idCol,
        midKeepPermille)
      .select(col(idCol), col("pred_class"), col("bucket"))
  }

  /** [[ccnet]] on the LONG per-class model
    * ([[TextAnalysis.BigramLmByClass]]) — the many-language production
    * shape: langID is the same map-only kernel, but the per-language
    * scoring is ONE join against the (class, bg, w1, c_bg) model frame
    * ([[TextAnalysis.bigramLmApplyJoined]]) instead of one filtered
    * apply chain PER class — the prediction frame is scanned ONCE and
    * the plan size is independent of class count (at Wenzek et al.'s
    * ~100 languages the per-class union form re-reads a corpus-sized
    * cache 100 times; this reads it once). Same downstream flow
    * (broadcast cutoff terciles, keep/sample/drop) and the same output
    * contract as the per-class overload — PipelineSpec pins the
    * composed equality, the `pl_ccnet_joined` gate shares
    * `pl_ccnet_perlang`'s oracle verbatim. */
  def ccnet(docs: DataFrame, textCol: String, idCol: String,
      classes: Seq[String], weights: Map[String, Seq[Double]],
      biases: Seq[Double], lm: TextAnalysis.BigramLmByClass,
      midKeepPermille: Int): DataFrame = {
    // no cache here: bigramLmApplyJoined stages (id, class, tokens) once
    // and pins THAT — the classifier column evaluates exactly once
    val pred = docs.select(col(idCol), col(textCol),
      TextAnalysis.linearClassifyLabel(col(textCol), classes, weights,
        biases).as("pred_class"))
    ccnetPreClassified(pred, textCol, idCol, "pred_class", lm,
      midKeepPermille)
  }

  /** The FULLY-DISTRIBUTED production CCNet: langID model as a
    * (token, class, weight) DATAFRAME ([[TextAnalysis
    * .linearClassifyLabelJoined]] — a real fastText identifier is
    * millions of hashed buckets × ~100 languages) AND the per-language
    * LMs as the long model frame ([[TextAnalysis.bigramLmApplyJoined]])
    * — at crawl scale BOTH model sides stay distributed, the corpus is
    * scanned once, and neither the plan nor the job count grows with
    * the language set (same lex-first tie-break contract as the other
    * joined overload). This is the shape a ~100 language deployment
    * runs; composes [[ccnetPreClassified]] over the joined classifier
    * (Round16Spec pins the delegation equality). */
  def ccnet(docs: DataFrame, textCol: String, idCol: String,
      weightsDf: DataFrame, classBiases: Seq[(String, Double)],
      lm: TextAnalysis.BigramLmByClass, midKeepPermille: Int): DataFrame = {
    // LabelJoined projects the text away; join it back on the unique id
    // (bigramLmApplyJoined stages + pins the result once)
    val pred = TextAnalysis.linearClassifyLabelJoined(docs, textCol, idCol,
        weightsDf, classBiases)
      .select(col(idCol), col("pred_class"))
      .join(docs.select(col(idCol), col(textCol)), Seq(idCol))
    ccnetPreClassified(pred, textCol, idCol, "pred_class", lm,
      midKeepPermille)
  }

  /** CCNet's LM-scoring/bucketing/mixing tail on PRE-CLASSIFIED
    * documents — bring your own language ID (a stored label column, a
    * prior pipeline stage, or either classifier engine): one join
    * against the long per-class model ([[TextAnalysis
    * .bigramLmApplyJoined]]), broadcast cutoff terciles, keep/sample/
    * drop. The production use: a crawl whose language was identified
    * ONCE at ingest re-buckets against refreshed reference LMs without
    * re-running the classifier; the long-model `ccnet` overloads
    * compose their classifier with this tail. Returns
    * (idCol, classCol, bucket) for the kept rows. */
  def ccnetPreClassified(docs: DataFrame, textCol: String, idCol: String,
      classCol: String, lm: TextAnalysis.BigramLmByClass,
      midKeepPermille: Int): DataFrame =
    ccnetTail(TextAnalysis.bigramLmApplyJoined(lm, docs, textCol, idCol,
      classCol), idCol, classCol, midKeepPermille)

  /** [[ccnetPreClassified]] with per-language ORDER-N stupid-backoff
    * models ([[TextAnalysis.NgramLmByClass]]) — order 3 is the trigram
    * model; at order 5 on a pruned count set this is Wenzek et al.'s
    * actual configuration (per language, 5-gram KenLM, model pruned to
    * stay fixed-size); same window-free tercile/mix tail. */
  def ccnetPreClassified(docs: DataFrame, textCol: String, idCol: String,
      classCol: String, lm: TextAnalysis.NgramLmByClass,
      midKeepPermille: Int): DataFrame =
    ccnetTail(TextAnalysis.ngramLmApplyJoined(lm, docs, textCol, idCol,
      classCol), idCol, classCol, midKeepPermille)

  /** [[ccnetPreClassified]] with per-language interpolated MODIFIED
    * KNESER-NEY models ([[TextAnalysis.KnLmByClass]]) — the published
    * pipeline with the published SMOOTHING (per-language 5-gram KenLM
    * is modified KN): same one-pass joined scoring, same window-free
    * tercile/mix tail. */
  def ccnetPreClassified(docs: DataFrame, textCol: String, idCol: String,
      classCol: String, lm: TextAnalysis.KnLmByClass,
      midKeepPermille: Int): DataFrame =
    ccnetTail(TextAnalysis.knLmApplyJoined(lm, docs, textCol, idCol,
      classCol), idCol, classCol, midKeepPermille)

  /** The shared CCNet tail over an already-scored (idCol, classCol,
    * lm_nll) frame: drop unscorable rows, per-class broadcast-cutoff
    * terciles, keep/sample/drop — ONE copy so the per-smoothing flows
    * cannot silently diverge. */
  private def ccnetTail(scored: DataFrame, idCol: String, classCol: String,
      midKeepPermille: Int): DataFrame =
    ccnetMix(quantileBuckets(scored.filter(col("lm_nll").isNotNull),
        classCol, "lm_nll", 3), idCol, midKeepPermille)
      .select(col(idCol), col(classCol), col("bucket"))

  /** [[ccnet]] with ONE global reference LM instead of per-language
    * models — the single-model shortcut for corpora where one reference
    * model covers the mix; buckets still cut PER predicted language. */
  def ccnetGlobalLm(docs: DataFrame, textCol: String, idCol: String,
      classes: Seq[String], weights: Map[String, Seq[Double]],
      biases: Seq[Double], lm: TextAnalysis.BigramLmByClass,
      midKeepPermille: Int = 500): DataFrame = {
    val pred = docs.select(col(idCol),
      TextAnalysis.linearClassifyLabel(col(textCol), classes, weights,
        biases).as("pred_class"))
    val scored = TextAnalysis.bigramLmApply(lm, docs, textCol, idCol)
      .join(pred.select(col(idCol), col("pred_class")), Seq(idCol))
      .filter(col("lm_nll").isNotNull)
    ccnetMix(quantileBuckets(scored, "pred_class", "lm_nll", 3), idCol,
        midKeepPermille)
      .select(col(idCol), col("pred_class"), col("bucket"))
  }
}

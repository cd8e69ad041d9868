package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{dot_product, cosine_distance}

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB regime:
  *
  *  - exact: hash-groupBy — one shuffle on a 16-byte digest, no text moves.
  *  - MinHash + LSH: shingle -> k minhashes -> b bands; candidate pairs come
  *    from an equi-join on (band, bandKey) buckets, NEVER an O(n^2) cross
  *    join. Shuffle volume = b rows per doc of (bandKey, id).
  *  - SimHash: 60-bit fingerprint; near-dup candidates from prefix-bucket
  *    join, verified by hamming distance.
  *  - n-gram Jaccard: exact verify step over candidate pairs only.
  *  - embedding cosine: exact over a bucketed self-join (or brute pairs for
  *    small n); at scale the IVF index provides the bucketing.
  */
object Dedup {

  import TextAnalysis.{hash60, shingles, tokens}

  private val P = 2147483647L // 2^31-1, Mersenne prime for affine minhash

  /** Deterministic affine hash family: seeds derived from a fixed LCG so
    * Spark and any oracle can reproduce them. */
  def hashFamily(k: Int): Seq[(Long, Long)] = {
    var state = 88172645463325252L
    def next(): Long = { // xorshift64, public-domain PRNG
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      state
    }
    (0 until k).map { _ =>
      val a = math.floorMod(next(), P - 1) + 1
      val b = math.floorMod(next(), P)
      (a, b)
    }
  }

  /** Exact duplicate groups by content digest.
    * Returns (digest, n_docs, min_doc_id) for groups with n > 1. */
  def exactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("min_id"))
      .filter(col("n") > 1)

  /** Encode an ORDER-BY priority list (Columns, possibly carrying
    * `.asc`/`.desc`/nulls-ordering SortOrder wrappers) plus the id
    * tie-break into ONE struct whose natural (all-ascending,
    * field-by-field) ordering matches `orderBy(priority :+ id.asc)` —
    * so `min(struct)` picks exactly the row `row_number() = 1` would,
    * but through a PARTIAL-MERGE aggregate instead of a skewed window.
    * Per priority column two fields are emitted: a null flag (so
    * nulls-first/last survives the encoding — a null struct FIELD would
    * otherwise always sort first) and the value, order-REVERSED for
    * descending. Reversal is type-checked at plan time against `df`
    * (plain analysis, no job): integral/date/timestamp types reverse by
    * bitwise NOT (`~x = -x-1` — exact for every value, including
    * Long.MinValue, where negate would silently overflow), fractional
    * types by negation, and anything else — a string priority, say —
    * FAILS with a clear message instead of the silent cast-to-NULL a
    * bare negate would produce under non-ANSI casts. NaN priorities
    * rank last under desc (the window ranked them first) — pre-clean
    * NaNs if they can occur. */
  private def winnerKey(df: DataFrame, priority: Seq[Column],
      tieBreak: Column): Column = {
    import org.apache.spark.sql.types._
    val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
    val parts = priority.zipWithIndex.flatMap { case (p, i) =>
      val (child, asc, nullsFirst) = bridge.unwrapSortOrder(p)
        .getOrElse((p, true, true)) // plain column = orderBy default: asc nulls first
      val flag = when(child.isNull, lit(if (nullsFirst) 0 else 1))
        .otherwise(lit(if (nullsFirst) 1 else 0))
      val v =
        if (asc) child
        else df.select(child).schema.head.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            bitwise_not(child.cast("long"))
          case FloatType | DoubleType | _: DecimalType => negate(child)
          case BooleanType => !child
          case DateType => bitwise_not(unix_date(child))
          case TimestampType => bitwise_not(unix_micros(child))
          case other => throw new IllegalArgumentException(
            "descending survivor priority must be numeric, boolean, date, " +
              s"or timestamp (got $other) — map it to a sortable numeric " +
              "first; a silent cast would corrupt the winner pick")
        }
      Seq(flag.as(s"__f$i"), v.as(s"__v$i"))
    }
    struct(parts :+ tieBreak.as("__tb"): _*)
  }

  /** First-occurrence exact dedup: keep the lowest id per digest.
    * Skew-proof SINGLE-PASS shape:
    * `groupBy(digest).agg(min_by(struct(row), id))` — a partial-merge
    * aggregate whose buffer is one row per digest per task, so a
    * duplicate FLOOD (10⁹ identical docs) collapses map-side before the
    * shuffle. A digest-partitioned window would shuffle every full-text
    * copy of a heavy digest into ONE task and sort it there; a
    * winners-plus-join-back would evaluate the input lineage twice.
    * `idCol` must be unique (it is the document key everywhere this is
    * called). */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(md5(col(textCol)).as("__digest"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__win"))
      .select(cols.map(c => col("__win")(c).as(c)): _*)
  }

  /** Survivorship-policy exact dedup: keep ONE row per identical text,
    * picked by the caller's priority (e.g. `Seq(col("quality").desc)` —
    * a training pipeline usually wants the best-annotated copy, not the
    * earliest); the id ascending tie-break is appended so the winner is
    * deterministic. Same skew-proof single-pass min_by shape as
    * [[dropExactDuplicates]], ordered by the priority encoded into a
    * min(struct)-comparable key (see [[winnerKey]] for the desc/nulls
    * encoding). */
  def dropExactDuplicatesBy(df: DataFrame, textCol: String, idCol: String,
      priority: Seq[Column]): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(md5(col(textCol)).as("__digest"))
      .agg(min_by(struct(cols.map(col): _*),
        winnerKey(df, priority, col(idCol))).as("__win"))
      .select(cols.map(c => col("__win")(c).as(c)): _*)
  }

  /** Survivorship over NEAR-dup clusters: given the (id, cluster) labels
    * [[duplicateClusters]] derives from an LSH pair list, keep the best
    * member of every duplicate cluster under the caller's priority;
    * unclustered docs (never in any pair) survive untouched. One
    * equi-join on the unique id + a groupBy(cluster)
    * `min_by(struct(row), priority key)` winner pick — a partial-merge
    * aggregate, skew-proof under any cluster size (a star-capped flood
    * cluster is ONE group collapsed map-side). The label list covers
    * only docs that appeared in a pair, so the label join side is the
    * duplicate subset, never the corpus squared. */
  def keepClusterSurvivors(docs: DataFrame, idCol: String,
      clusters: DataFrame, priority: Seq[Column]): DataFrame = {
    val lab = clusters.select(col("id").cast("long").as("__did"),
      col("cluster").cast("long").as("__cl"))
    val cols = docs.columns.toSeq
    docs.join(lab, docs(idCol).cast("long") === lab("__did"), "left")
      .groupBy(coalesce(col("__cl"), docs(idCol).cast("long")).as("__grp"))
      .agg(min_by(struct(cols.map(docs(_)): _*),
        winnerKey(docs, priority, docs(idCol))).as("__win"))
      .select(cols.map(c => col("__win")(c).as(c)): _*)
  }

  /** MinHash signature column over a PRE-MATERIALIZED shingle-hash array
    * column. The md5 hashing must live in its own projection stage (see
    * `minhashSignatures`): inlining it here would re-evaluate the md5s once
    * per signature entry — k times. */
  def minhashSignatureFromHashes(hs: Column, k: Int): Column = {
    val family = hashFamily(k)
    graft.functions.minhash_signature(hs,
      family.map(_._1).toArray, family.map(_._2).toArray, P)
  }

  /** Shingle-hash array for a text column: one md5 per token, polynomial
    * combine per shingle (TextAnalysis.shingleHashesFromTokenHashes). */
  def shingleHashes(text: Column, shingleLen: Int = 3): Column =
    TextAnalysis.shingleHashesFromTokenHashes(TextAnalysis.tokenHashesMod(text), shingleLen)

  /** (id, sig) DataFrame with each expensive array in its own projection
    * stage: token md5s once, shingle combines once, then the k minimums.
    * (Inlining the token-hash array into the shingle lambda makes Catalyst
    * re-evaluate ALL token md5s per shingle index — O(tokens^2).) */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, shingleLen: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), TextAnalysis.tokenHashesMod(col(textCol)).as("th"))
      .select(col("id"), TextAnalysis.shingleHashesFromTokenHashes(col("th"), shingleLen).as("hs"))
      .select(col("id"), minhashSignatureFromHashes(col("hs"), k).as("sig"))

  /** LSH candidate pairs from banded minhash signatures.
    * bands * rowsPerBand must equal the signature length.
    * Output: (id_a, id_b) with id_a < id_b, distinct.
    *
    * `maxBucket` (opt-in; default = unbounded, today's exact behavior)
    * bounds the inherent within-bucket quadratic blow-up: a band bucket
    * holding n co-hashing docs yields n·(n−1)/2 pairs — template spam
    * (10⁵ identical docs) turns one bucket into 5·10⁹ pairs. Buckets
    * over the cap emit STAR pairs instead: every member paired with the
    * bucket's min-id representative (n−1 pairs, linear). The star keeps
    * every over-cap bucket CONNECTED, so [[duplicateClusters]] resolves
    * identical-doc floods to the same single component the full
    * pairing would; the trade is that a near-dup member whose star
    * edge fails the Jaccard verify loses its other potential partners —
    * acceptable for the adversarial buckets the cap exists for (an
    * over-cap bucket is near-certainly an exact-duplicate flood, which
    * [[exactDuplicates]] upstream should have removed anyway). */
  def lshCandidatePairs(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket >= 2, "maxBucket must allow at least one pair")
    val r = numHashes / bands
    // cache: the self-join below would otherwise recompute the whole
    // tokenize->hash->signature pipeline for BOTH join sides
    val banded = minhashSignatures(df, textCol, idCol, numHashes)
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws(",", slice(col("sig"), b * r + 1, lit(r))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
      .cache().transform(StageCaches.track)
    if (maxBucket == Int.MaxValue) {
      // bucket self-join: same band index + identical band key
      val a = banded.alias("a"); val b = banded.alias("b")
      a.join(b, col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
    } else {
      // bucket sizes + representatives via partial agg (skew-proof), then
      // full pairing below the cap, star pairing above it
      val stats = banded.groupBy(col("band"), col("band_key"))
        .agg(count(lit(1)).as("__n"), min(col("id")).as("__rep"))
      val tagged = banded.join(stats, Seq("band", "band_key"))
      val a = tagged.filter(col("__n") <= maxBucket).alias("a")
      val b = tagged.filter(col("__n") <= maxBucket).alias("b")
      val full = a.join(b, col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      val star = tagged
        .filter(col("__n") > maxBucket && col("id") =!= col("__rep"))
        .select(col("__rep").as("id_a"), col("id").as("id_b"))
      full.union(star).distinct()
    }
  }

  /** Exact token-set Jaccard for a pair DataFrame (verify step after LSH). */
  def withJaccard(pairs: DataFrame, docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = docs.select(col(idCol).as("id"), array_distinct(tokens(col(textCol))).as("toks"))
    pairs
      .join(t.withColumnRenamed("id", "id_a").withColumnRenamed("toks", "toks_a"), "id_a")
      .join(t.withColumnRenamed("id", "id_b").withColumnRenamed("toks", "toks_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("uni", size(col("toks_a")) + size(col("toks_b")) - col("inter"))
      .withColumn("jaccard", when(col("uni") > 0,
        col("inter").cast("double") / col("uni")).otherwise(lit(1.0)))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash near-dup pipeline: LSH candidates verified by exact Jaccard.
    * `maxBucket` bounds adversarial band buckets — see [[lshCandidatePairs]]. */
  def minhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val cands = lshCandidatePairs(df, textCol, idCol, numHashes, bands, maxBucket)
    withJaccard(cands, df, textCol, idCol).filter(col("jaccard") >= threshold)
  }

  /** 60-bit SimHash from a PRE-MATERIALIZED token-hash array column (see
    * minhashSignatureFromHashes for why the md5 stage is separate). */
  def simhashFromHashes(hs: Column): Column = graft.functions.simhash_bits(hs)

  /** (id, sim) DataFrame with the token-md5 stage separated from the 60
    * per-bit votes. */
  def simhashes(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), transform(tokens(col(textCol)), hash60(_)).as("hs"))
      .select(col("id"), simhashFromHashes(col("hs")).as("sim"))

  /** 60-bit SimHash fingerprint: sign of per-bit vote over token hashes
    * (term frequency weighted — duplicate tokens vote again), assembled
    * into a long. Single-column convenience; prefer `simhashes`. */
  def simhashBits(text: Column): Column =
    simhashFromHashes(transform(tokens(text), hash60(_)))

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dups: bucket by the top `prefixBits` bits (near-dups agree
    * on most bits, so a few prefix rotations catch nearly all), verify by
    * full hamming distance <= maxDist. */
  def simhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3, prefixBits: Int = 12): DataFrame = {
    val withSim = simhashes(df, textCol, idCol)
    // 4 rotations of the 60-bit word => 4 bucket keys per doc; duplicates
    // differing in <= 3 bits share at least one 12-bit aligned block with
    // high probability (block-permutation LSH for hamming space)
    val rotated = withSim.select(col("id"), col("sim"),
      posexplode(array((0 until 5).map(blk =>
        shiftrightunsigned(col("sim"), blk * 12).bitwiseAND(lit(0xFFFL))): _*)))
      .withColumnRenamed("pos", "blk").withColumnRenamed("col", "key")
    val a = rotated.alias("a"); val b = rotated.alias("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDistance(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Embedding cosine near-dup pairs by exhaustive comparison — the
    * correctness baseline. The `id_a < id_b` theta-join is O(n²); bound the
    * input (a verification subset, or one bucket of
    * `embeddingNearDuplicatesBucketed`). */
  def embeddingNearDuplicates(df: DataFrame, vecCol: String, idCol: String,
      minCosine: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", lit(1.0) - cosine_distance(col("va"), col("vb")))
      .filter(col("cos_sim") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Assign each row to its `probes` nearest centroids by L2² over
    * l2-NORMALIZED vectors (unit sphere: l2² = 2 − 2·cos, so cosine-near ⇒
    * bucket-near). One output row per (row, probed cluster). Distances are
    * computed in double with a (dist, cid) struct-sort tie-break so an SQL
    * oracle can reproduce the assignment bit-for-bit. */
  def assignClusters(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]], probes: Int = 1): DataFrame = {
    // one codegen'd pass per row (normalize + k sequential-double L2²
    // distances + top-probes selection) — the equivalent formulation with
    // aggregate(zip_with(...)) higher-order functions pays interpreted
    // lambda cost per element per centroid (~11 s for 2k rows at sf0.1)
    val nearCol = org.apache.spark.sql.graftbridge.CatalystBridge.column(
      graft.functions.NearestCentroidsExact(
        org.apache.spark.sql.graftbridge.CatalystBridge.expression(col(vecCol)),
        centroids, probes))
    df.select(col(idCol).as("id"), col(vecCol).as("v"), nearCol.as("near"))
      .select(col("id"), col("v"), explode(col("near")).as("cluster"))
  }

  /** Train/test contamination check: fraction of a document's distinct
    * shingles that appear anywhere in a benchmark corpus. The benchmark's
    * distinct shingle-hash set is corpus-wide tiny relative to the
    * training set (it's an eval suite), so the overlap join broadcasts;
    * the training side is one explode + one groupBy — no pairwise doc
    * comparison anywhere. */
  def contamination(docs: DataFrame, benchmark: DataFrame, textCol: String,
      idCol: String, shingleLen: Int = 3): DataFrame = {
    // materialize the shingle arrays BEFORE each explode: a Generate over
    // a (non-codegen, HOF-built) array expression re-evaluates it per
    // OUTPUT row — the uncached benchmark side alone was 15.9 s vs 0.9 s
    // at sf0.1; same reason lshCandidatePairs caches its banded frame
    val benchHs = contaminationShingled(benchmark, textCol, idCol, shingleLen)
      .cache().transform(StageCaches.track)
    val benchSet = benchHs
      .select(explode(col("hs")).as("h")).distinct()
    val docShingles = contaminationDocShingles(docs, textCol, idCol, shingleLen)
    contaminationOverlap(
      docShingles.join(broadcast(benchSet), Seq("h"), "left_semi"))
  }

  /** Distinct shingle-hash arrays per doc — the shared head of both
    * contamination forms. */
  private def contaminationShingled(df: DataFrame, textCol: String,
      idCol: String, shingleLen: Int): DataFrame = df
    .select(col(idCol).as("id"), TextAnalysis.tokenHashesMod(col(textCol)).as("th"))
    .select(col("id"),
      array_distinct(TextAnalysis.shingleHashesFromTokenHashes(col("th"), shingleLen)).as("hs"))

  private def contaminationDocShingles(docs: DataFrame, textCol: String,
      idCol: String, shingleLen: Int): DataFrame =
    contaminationShingled(docs, textCol, idCol, shingleLen)
      .cache().transform(StageCaches.track)
      .select(col("id"), size(col("hs")).as("n_shingles"), explode(col("hs")).as("h"))

  private def contaminationOverlap(shared: DataFrame): DataFrame = shared
    .groupBy(col("id"), col("n_shingles"))
    .agg(count(lit(1)).as("n_shared"))
    .withColumn("overlap",
      round(col("n_shared").cast("double") / col("n_shingles"), 6))
    .select(col("id"), col("n_shingles"), col("n_shared"), col("overlap"))

  /** [[contamination]] for benchmark suites whose distinct shingle set is
    * too large to broadcast (a full eval-union at 10⁸–10⁹ shingles is
    * 1–8 GB as an exact set): the benchmark set stays DISTRIBUTED, a
    * bloom filter built over it (one distributed `stat.bloomFilter`
    * aggregate; ~0.9 GB for 10⁹ entries at fpp 0.03 — an order of
    * magnitude under the exact set + hash overhead) rides the doc-side
    * explode as a map-only codegen probe, and only the survivors — true
    * matches plus the fpp sliver — pay the shuffle into the exact
    * semi-join. No false negatives, and the exact re-check removes the
    * false positives, so the output is IDENTICAL to [[contamination]]
    * (the gate shares its oracle verbatim); what changes is the shuffle:
    * ~fpp·|doc shingles| instead of all of them, and no broadcast of
    * the benchmark side at all. */
  def contaminationBloom(docs: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, shingleLen: Int = 3,
      fpp: Double = 0.03): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val benchHs = contaminationShingled(benchmark, textCol, idCol, shingleLen)
      .cache().transform(StageCaches.track)
    // read twice (bloom build + exact join) — cache the distinct set too
    val benchSet = benchHs.select(explode(col("hs")).as("h")).distinct()
      .cache().transform(StageCaches.track)
    // one driver scalar to size the filter (topTermsTfIdf's doc-count
    // class); the filter itself is built by a distributed aggregate
    val expected = math.max(benchSet.count(), 1L)
    val bloom = benchSet.stat.bloomFilter("h", expected, fpp)
    val docShingles = contaminationDocShingles(docs, textCol, idCol, shingleLen)
    val survivors = docShingles
      .filter(graft.functions.bloom_might_contain_long(col("h"), bloom))
    // deliberately NOT broadcast(): at scale AQE picks a shuffle join of
    // the bloom-thinned stream against the distributed exact set
    contaminationOverlap(survivors.join(benchSet, Seq("h"), "left_semi"))
  }

  /** Benchmark DECONTAMINATION — the end-use of the contamination check:
    * drop every training document whose distinct-shingle overlap with
    * the benchmark exceeds `maxOverlap`, keep everything else (including
    * docs with ZERO overlap, which the contamination frame omits — the
    * anti-join semantics handle them for free). `useBloom` selects the
    * [[contaminationBloom]] engine for unbroadcastable benchmark sets;
    * both engines flag the identical id set, so the choice is purely a
    * shuffle-shape decision. The flagged-id side is benchmark-overlap
    * bounded (a tiny fraction of training docs), so the anti-join
    * broadcasts in practice; output preserves the input schema. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, textCol: String,
      idCol: String, shingleLen: Int = 3, maxOverlap: Double = 0.1,
      useBloom: Boolean = false, fpp: Double = 0.03): DataFrame = {
    require(maxOverlap >= 0 && maxOverlap < 1, "maxOverlap must be in [0, 1)")
    val cont = if (useBloom)
      contaminationBloom(docs, benchmark, textCol, idCol, shingleLen, fpp)
    else contamination(docs, benchmark, textCol, idCol, shingleLen)
    val flagged = cont.filter(col("overlap") > maxOverlap)
      .select(col("id").as("__flagged_id"))
    docs.join(flagged, docs(idCol) === col("__flagged_id"), "left_anti")
  }

  /** Duplicate clusters from a near-dup pair list: every id that appears
    * in a pair gets a canonical id = the MIN id of its connected
    * component (the doc a dedup pipeline keeps). Iterative min-label
    * propagation — per round one equi-join (neighbor labels) + one
    * groupBy-min, rounds = component diameter. Near-dup components are
    * shallow (stars/short chains), so this converges in a handful of
    * rounds even when the pair list is billions of edges; there is no
    * all-pairs step anywhere. */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20,
      driverThreshold: Long = 100000): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val norm = pairs.select(col("id_a").cast("long").as("id_a"),
      col("id_b").cast("long").as("id_b")).cache().transform(StageCaches.track)
    // size-adaptive cutover (same idea as broadcast joins): a small edge
    // set resolves in one collect + union-find instead of paying several
    // rounds of join/shuffle overhead; the distributed loop below is the
    // 100 TB path
    if (norm.count() <= driverThreshold) {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      norm.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by min id => the root IS the canonical id
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
        parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
      }
      val labels = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      norm.unpersist()
      return labels.toDF("id", "cluster")
    }
    val edges = norm
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(norm
        .select(col("id_b").as("src"), col("id_a").as("dst")))
      .cache().transform(StageCaches.track)
    // each round: (1) take the min label over the neighborhood, then
    // (2) pointer-jump — follow the label to ITS label (labels are node
    // ids, so a self-join resolves one hop). Jumping halves the distance
    // to the component root each round: rounds = O(log diameter), not
    // O(diameter) as plain propagation would be — a 1M-node chain resolves
    // in ~20 rounds instead of 1M. localCheckpoint truncates the plan
    // lineage per round; without it the logical plan doubles every
    // iteration and planning itself becomes the bottleneck.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbor = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), labels("cluster")).toDF("id", "cluster")
      val afterNbr = labels.select(col("id"), col("cluster")).union(viaNeighbor)
        .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
      val hop = afterNbr.toDF("cid", "cc")
      val next = afterNbr
        .join(hop, afterNbr("cluster") === hop("cid"), "left")
        .select(afterNbr("id"),
          coalesce(least(hop("cc"), afterNbr("cluster")), afterNbr("cluster")).as("cluster"))
        .localCheckpoint(true)
      val changed = next
        .join(labels.withColumnRenamed("cluster", "prev"), "id")
        .filter(col("cluster") =!= col("prev"))
        .limit(1).count() // existence probe, not a full count
      labels.unpersist()
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIter rounds (rounds needed " +
          "= log2 of the largest component's diameter); returning partial " +
          "labels would silently split clusters. Raise maxIter.")
    labels
  }

  /** Blank-line paragraph splitter (the unit of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): blocks
    * separated by one-or-more blank lines, whitespace-only blocks dropped. */
  def blankLineParagraphs(text: Column): Column =
    filter(split(text, "\n[ \t]*\n+"), p => length(trim(p)) > 0)

  /** Fixed k-token windows — the span-dedup approximation for corpora
    * without paragraph structure (Lee et al. 2022 dedups repeated SPANS;
    * fixed windows are the alignment-free, one-pass form of that). `toks`
    * MUST be a staged attribute (e.g. `split(text, " ").as("__toks")`
    * in its own projection): it is read inside a per-window lambda, and an
    * attribute read is O(1) while an inline split would re-tokenize once
    * per window. */
  def tokenWindows(toks: Column, k: Int): Column = {
    require(k >= 1, "window must be >= 1 token")
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), ceil(size(toks).cast("double") / k).cast("int")),
        i => array_join(slice(toks, (i - 1) * k + 1, lit(k)), " ")))
  }

  /** Paragraph-level dedup (Lee et al. 2022): doc-level passes leave
    * boilerplate headers/footers shared across millions of pages intact —
    * this removes repeated paragraphs ACROSS documents, keeping only the
    * first occurrence by (doc id, paragraph position) and re-assembling
    * the scrubbed text. `paras` is any array<string> paragraph column
    * ([[blankLineParagraphs]] or [[tokenWindows]]).
    *
    * Scale shape — SKEW-PROOF by construction (boilerplate is by
    * definition a heavy hitter; a footer repeated 10⁹ times must never
    * become one task's problem):
    *
    *  1. winners: `groupBy(digest).agg(min(struct(id, idx)))` over the
    *     occurrence COORDINATES only (no text). Partial aggregation
    *     collapses every heavy-hitter digest map-side to ONE row per
    *     task before the shuffle — per-digest reduce input is #tasks,
    *     never #occurrences. (The former window formulation shuffled
    *     every occurrence of a digest into one task and sorted it
    *     there — correct, but a single-task sort of 10⁹ rows at scale.)
    *  2. survivor mark: left-join the exploded occurrences to the winner
    *     coordinates on the UNIQUE (id, idx) key — both sides are
    *     key-unique, so this shuffle is perfectly balanced no matter how
    *     skewed the digests are. An occurrence matches iff it IS its own
    *     digest's first occurrence (the winner coordinate of a digest is
    *     itself one of that digest's occurrences).
    *  3. one groupBy(id) to re-assemble, as before.
    *
    * Text bytes move once per occurrence (the (id, idx) join shuffle) +
    * once for reassembly — the same volume the window paid, minus the
    * skew. Winner semantics are IDENTICAL: min(struct(id, idx)) is the
    * lexicographic (id, idx) minimum = row_number()=1 under
    * orderBy(id, idx).
    *
    * Returns (idCol, clean_text, n_paras, n_dropped); a doc whose every
    * paragraph is a repeat comes back with clean_text = "". */
  def dropDuplicateParagraphs(df: DataFrame, idCol: String, paras: Column,
      sep: String = " "): DataFrame = {
    val id = col(idCol)
    // stage the paragraph ARRAY behind a cache before exploding: callers
    // pass `paras` as an expression (blankLineParagraphs / tokenWindows),
    // and a Generate over an inline HOF-built array re-evaluates the
    // whole array per OUTPUT row — O(paras) array builds × O(text) each,
    // quadratic for long documents (the contamination/maskRepeatedSpans
    // trap). The cache also covers the frame's two consumptions below.
    val staged = df.select(id, paras.as("__paras")).cache().transform(StageCaches.track)
    val exploded = staged
      .select(id, posexplode_outer(col("__paras")).as(Seq("idx", "para")))
    val winners = exploded
      .filter(col("idx").isNotNull)
      .select(md5(col("para")).as("__digest"), struct(id, col("idx")).as("__occ"))
      .groupBy(col("__digest"))
      .agg(min(col("__occ")).as("__win"))
      .select(col("__win")(idCol).as("__wid"), col("__win")("idx").as("__widx"))
    // Decide with small rows, never shuffle the payload (guide §8): the
    // former tail joined the exploded PARAGRAPH TEXT rows against the
    // winner coordinates and reassembled each doc with a collect_list +
    // array_sort — two shuffles of every paragraph's bytes. The survivor
    // decision only needs coordinates: join the SKINNY (id, idx, digest)
    // occurrences on the unique (id, idx) winner key (balanced under any
    // digest skew, as before), partial-merge the few DROPPED indices
    // into one per-doc array, and filter the staged paragraph array in
    // place — paragraph bytes never leave their row. Same winner rule,
    // same order (an indexed filter preserves array order = the old
    // array_sort by idx), same (n_paras, n_dropped, clean_text) values.
    val dropped = exploded
      .filter(col("idx").isNotNull)
      .select(id, col("idx"))
      .join(winners, id === col("__wid") && col("idx") === col("__widx"), "left")
      .filter(col("__wid").isNull)
      .groupBy(id).agg(collect_set(col("idx")).as("__drop"))
    staged
      .join(dropped, Seq(idCol), "left")
      .select(id,
        // when(isNull) instead of coalesce(size, 0): size(NULL) is NULL
        // only under ANSI/sizeOfNull defaults — a legacy-config
        // deployment returns -1, which coalesce would pass through
        when(col("__paras").isNull, lit(0)).otherwise(size(col("__paras")))
          .cast("long").as("n_paras"),
        when(col("__drop").isNull, lit(0)).otherwise(size(col("__drop")))
          .cast("long").as("n_dropped"),
        coalesce(array_join(
          when(col("__drop").isNull, col("__paras"))
            .otherwise(filter(col("__paras"),
              (p, i) => not(array_contains(col("__drop"), i)))),
          sep), lit("")).as("clean_text"))
  }

  /** Arbitrary-alignment repeated-SPAN masking — the Spark-native form of
    * Lee et al. 2022's suffix-array substring dedup. [[dropDuplicateParagraphs]]
    * over [[blankLineParagraphs]] or [[tokenWindows]] is alignment-locked:
    * a 50-token span duplicated at a DIFFERENT offset in another document
    * straddles paragraph/window boundaries and evades both. This pass
    * works at single-token alignment:
    *
    *  1. a 60-bit substring hash (hash60) at EVERY token position (one
    *     per start; docs shorter than k get one whole-doc shingle, so
    *     exact short duplicates are covered too — see the key-width note
    *     in the body).
    *  2. winner per shingle value = min(struct(id, pos)) via
    *     groupBy(hash) — partial aggregation collapses heavy-hitter
    *     shingles (boilerplate!) map-side, same skew-proof shape as
    *     [[dropDuplicateParagraphs]].
    *  3. an occurrence is MASK-ELIGIBLE iff it is not its shingle's
    *     winner — a left_anti join on the unique (id, pos) coordinate
    *     (a unique shingle's only occurrence IS its winner, so unique
    *     text is never eligible: no repeated-set filter needed).
    *  4. a token is masked iff SOME eligible shingle occurrence covers
    *     it; covered positions explode (≤ k per occurrence), dedup on
    *     the near-unique (id, p) key, and mark token rows by a left
    *     join on (id, p) — key-unique both sides, balanced under any
    *     shingle skew.
    *  5. one groupBy(id) reassembles the survivors in token order.
    *
    * A repeated span of length ≥ k is masked IN FULL in every non-first
    * occurrence (every one of its interior shingles is repeated and
    * non-winning; their covers tile the span), while the first
    * occurrence — and all unique text, including the k-1 tokens flanking
    * a repeated span — survives untouched. Spans shorter than k are
    * below the dedup resolution by design (Lee et al. use 50 tokens).
    *
    * Returns (idCol, clean_text, n_tokens, n_masked); a doc that is one
    * big repeat comes back with clean_text = "". */
  def maskRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, sep: String = " "): DataFrame = {
    require(k >= 1, "span shingle length must be >= 1")
    val id = col(idCol)
    // Shingle key = 60-bit md5 of the k-token SUBSTRING (hash60 — the
    // same family the paragraph digest uses), NOT the 31-bit
    // minhash-domain polynomial: span masking DELETES text on key
    // equality, so birthday collisions are false masks of real unique
    // text — at 2^31 that is ~2e-3 of occurrences by 10M shingles
    // (measured: 51,681 docs masked vs 39,999 true on a 200k-doc
    // PerfProbe corpus); at 2^60 it is negligible until ~10^9 distinct
    // shingles and ~5e-7 at a trillion. (MinHash keeps the 31-bit domain:
    // signature collisions only perturb similarity estimates, they never
    // delete text directly.)
    //
    // Plan shape: explode the POSITIONS first (a cheap int sequence), then
    // hash the slice once per exploded row — hashing inside the array fed
    // to the explode would re-evaluate the whole array per output row
    // (the Generate trap `contamination` documents; measured 106 s for
    // 5000 docs at sf0.1). The staged (id, toks) frame is cached: the
    // occurrence side is consumed twice (winner pick + eligibility
    // anti-join) and .cache().transform(StageCaches.track) spills to disk at corpus scale.
    val staged = df
      .select(id, TextAnalysis.tokens(col(textCol)).as("__toks"))
      .cache().transform(StageCaches.track)
    val occ = staged
      .select(id, size(col("__toks")).as("__n"), col("__toks"),
        explode(when(size(col("__toks")) === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), greatest(size(col("__toks")) - k, lit(0)))))
          .as("pos"))
      .select(id, col("__n"), col("pos"),
        TextAnalysis.hash60(
          concat_ws(" ", slice(col("__toks"), col("pos") + 1, lit(k)))).as("h"))
    val winners = occ
      .select(col("h"), struct(id, col("pos")).as("__occ"))
      .groupBy(col("h")).agg(min(col("__occ")).as("__win"))
      .select(col("__win")(idCol).as("__wid"), col("__win")("pos").as("__wpos"))
    val eligible = occ.join(winners,
      id === col("__wid") && col("pos") === col("__wpos"), "left_anti")
    maskEligible(staged, idCol, eligible, k, sep)
  }

  /** Span masking against an EXTERNALLY-supplied first-seen winner set —
    * the batch CONSUMER of the streaming span state
    * ([[graft.streaming.DocStream.incrementalSpanWinners]]): `winners`
    * is the emitted (id, pos, h) set (one row per distinct shingle, its
    * corpus-wide first occurrence); each document's own occurrences are
    * recomputed from its text, an occurrence is MASK-ELIGIBLE iff it is
    * not ITS shingle's emitted winner, and the k-wide covers tile the
    * repeated spans — exactly [[maskRepeatedSpans]] with the winner pick
    * replaced by the stream's checkpointed state, so a span first seen
    * in an EARLIER crawl snapshot masks its copies in this one. The
    * winner side joins on the shingle hash — one row per distinct h, so
    * the join is balanced under any duplication skew and never fans out.
    * FAIL-OPEN on unseen text, structurally: an occurrence is
    * mask-eligible only when its hash IS in `winners` AND it is not the
    * emitted winner occurrence — a shingle the stream never saw (e.g.
    * `cleanConsume` run on a snapshot whose emit pass hasn't happened)
    * masks NOTHING, so partial state can only under-mask, never destroy
    * unique text. Same return shape as [[maskRepeatedSpans]]. */
  def maskSpansAgainstWinners(df: DataFrame, idCol: String, textCol: String,
      winners: DataFrame, k: Int = 8, sep: String = " "): DataFrame = {
    require(k >= 1, "span shingle length must be >= 1")
    val id = col(idCol)
    val staged = df
      .select(id, TextAnalysis.tokens(col(textCol)).as("__toks"))
      .cache().transform(StageCaches.track)
    val occ = staged
      .select(id, size(col("__toks")).as("__n"), col("__toks"),
        explode(when(size(col("__toks")) === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), greatest(size(col("__toks")) - k, lit(0)))))
          .as("pos"))
      .select(id, col("__n"), col("pos"),
        TextAnalysis.hash60(
          concat_ws(" ", slice(col("__toks"), col("pos") + 1, lit(k)))).as("h"))
    // canonicalize the winner set to ONE row per hash (min (id, pos) —
    // the batch rule) BEFORE the join: the emitted set is normally
    // unique per h, but a duplicated winner row (e.g. an emit
    // checkpoint wiped while its output dir was kept, so a restarted
    // stream re-emitted hashes already present) would otherwise fan the
    // join out and match the true winner against the OTHER row's
    // coordinate — masking every copy including the winner. A
    // partial-merge min over the (small) winner side makes duplicates
    // harmless instead of text-destroying. TTL interplay
    // (incrementalSpanWinnersTtl): an expired hash re-emits under its
    // NEXT occurrence's (id, pos), so a consumer fed the accumulated
    // emission log sees two winner rows for the hash and this min picks
    // the (id, pos)-smaller one — possibly the LATER emission. That
    // shift only changes WHICH single occurrence stays unmasked (still
    // exactly one text survivor per hash; only under-masking is at
    // stake, never text loss). Consumers needing the emission-order
    // winner should feed the trailing window's emissions, not the
    // all-time log — the TTL contract already says older output is
    // outside the dedup window.
    val w = winners
      .select(col("h").as("__wh"),
        struct(col("id").cast("long").as("id"), col("pos").as("pos"))
          .as("__wocc"))
      .groupBy(col("__wh")).agg(min(col("__wocc")).as("__w"))
      .select(col("__wh"), col("__w")("id").as("__wid"),
        col("__w")("pos").as("__wpos"))
    // one equi-join on h (w is unique per h — no fan-out): a LEFT join
    // plus the known/not-winner filter is the fail-open shape — an
    // anti-join alone would mark every UNSEEN shingle eligible
    val eligible = occ.join(w, col("h") === col("__wh"), "left")
      .filter(col("__wh").isNotNull &&
        !(id.cast("long") === col("__wid") && col("pos") === col("__wpos")))
      .select(id, col("__n"), col("pos"), col("h"))
    maskEligible(staged, idCol, eligible, k, sep)
  }

  /** Shared masking tail: explode each eligible occurrence's k-wide
    * cover, aggregate the DISTINCT covered positions per doc into one
    * small array, and drop those token indices map-side with an indexed
    * array filter over the CACHED staged frame (re-tokenizing the input
    * would re-execute its whole upstream lineage a third time — in
    * cleanCorpusFull that re-runs the gopher stage).
    *
    * Decide with small rows, never shuffle the payload (guide §8): the
    * former shape posexploded EVERY token of EVERY doc, shuffle-joined
    * the token rows against the masked positions on (id, p), and
    * reassembled each doc with a collect_list + array_sort — two full
    * shuffles of the token payload plus a per-doc sort, when the
    * decision (which positions to drop) is a per-doc set usually far
    * smaller than the doc. Now only the masked POSITIONS shuffle (the
    * cover explode's partial-merge collect_set), the per-doc mask array
    * joins back on id (broadcastable whenever few docs are masked), and
    * the surviving tokens are re-joined in place without ever leaving
    * their row. Output is identical: same distinct-position mask, same
    * token order, same (n_tokens, n_masked, clean_text) values. */
  private def maskEligible(staged: DataFrame, idCol: String,
      eligible: DataFrame, k: Int, sep: String): DataFrame = {
    val id = col(idCol)
    val maskedPos = eligible
      .select(id, explode(sequence(col("pos"),
        col("pos") + least(lit(k), col("__n")) - 1)).as("p"))
      .groupBy(id).agg(collect_set(col("p")).as("__mask"))
    staged
      .join(maskedPos, Seq(idCol), "left")
      .select(id,
        // when(isNull) instead of coalesce(size, 0): config-independent
        // (legacy sizeOfNull returns -1, which coalesce passes through)
        when(col("__toks").isNull, lit(0)).otherwise(size(col("__toks")))
          .cast("long").as("n_tokens"),
        when(col("__mask").isNull, lit(0)).otherwise(size(col("__mask")))
          .cast("long").as("n_masked"),
        // a NULL token array behaves like the empty one (the former
        // posexplode_outer emitted a single null row for it: zero
        // counts, empty clean_text)
        coalesce(array_join(
          when(col("__mask").isNull, col("__toks"))
            .otherwise(filter(col("__toks"),
              (t, i) => not(array_contains(col("__mask"), i)))),
          sep), lit("")).as("clean_text"))
  }

  /** Embedding near-dup at scale: pairs are formed ONLY within shared
    * buckets (equi-join on cluster id — never the all-pairs theta-join).
    * `probes` > 1 multi-assigns each row to its nearest clusters so pairs
    * straddling a boundary still co-bucket (IVF-style multi-probe);
    * candidate pairs are deduped before the cosine verify. Centroids come
    * from a k-means fit (IvfIndex.build) or any deterministic sample. */
  def embeddingNearDuplicatesBucketed(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]], minCosine: Double, probes: Int = 1,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxBucket >= 2, "maxBucket must allow at least one pair")
    // cache: both self-join sides would otherwise recompute the assignment
    val assigned = assignClusters(df, vecCol, idCol, centroids, probes).cache().transform(StageCaches.track)
    val joined = if (maxBucket == Int.MaxValue) {
      val a = assigned.select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
      val b = assigned.select(col("cluster"), col("id").as("id_b"), col("v").as("vb"))
      a.join(b, Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("va"), col("vb"))
    } else {
      // same cap policy as lshCandidatePairs: a cluster over the cap is a
      // near-certain duplicate flood — pair members with the min-id
      // representative (linear, keeps the cluster connected) instead of
      // quadratically with each other
      val stats = assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("__n"), min(col("id")).as("__rep"))
      val tagged = assigned.join(stats, Seq("cluster"))
      val small = tagged.filter(col("__n") <= maxBucket)
      val a = small.select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
      val b = small.select(col("cluster"), col("id").as("id_b"), col("v").as("vb"))
      val full = a.join(b, Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("va"), col("vb"))
      val bigMembers = tagged
        .filter(col("__n") > maxBucket && col("id") =!= col("__rep"))
        .select(col("cluster"), col("__rep").as("id_a"),
          col("id").as("id_b"), col("v").as("vb"))
      val repVecs = assigned
        .select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
      val star = bigMembers.join(repVecs, Seq("cluster", "id_a"))
        .select(col("id_a"), col("id_b"), col("va"), col("vb"))
      full.unionByName(star)
    }
    // multi-probe can co-bucket a pair more than once; probes=1 cannot, so
    // skip the (array-keyed, shuffle-heavy) distinct there
    val cand = if (probes == 1) joined else joined.distinct()
    cand
      .withColumn("cos_sim", lit(1.0) - cosine_distance(col("va"), col("vb")))
      .filter(col("cos_sim") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
  }
}

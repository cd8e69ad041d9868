package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import graft.types.{FieldSchema, MetricType}

/** IVF (inverted-file) ANN index: the Spark-native replacement for the
  * reference's NSG graph index (reference: engine/db/ann_graph_segment.cpp,
  * engine/db/index/nsg; batch rebuild semantics table_mvp.cpp:94-203).
  * The NSG refinement + single-node graph serve themselves are ALSO
  * implemented ([[graft.index.NsgIndex]], r18) — IVF remains the
  * DISTRIBUTED search path for the reasons below; NSG covers the
  * reference's graph semantics in its own regime (driver-resident
  * serving).
  *
  * Why IVF instead of a graph at Spark scale: a best-first graph walk is
  * pointer-chasing over the whole dataset — the one access pattern a
  * shared-nothing engine cannot do cheaply. IVF turns ANN into exactly the
  * two things Spark is good at: a partition-pruned scan (only nProbe
  * clusters are read; cluster id is a partition column, so pruning happens
  * at the parquet-footer level) and a local top-K merge
  * (TakeOrderedAndProject).
  *
  * The clustered layout carries ALL columns of the indexed table (a
  * cluster-partitioned materialized copy, the Spark analog of a clustering
  * key). That costs one extra copy of the data on disk — the standard IVF
  * trade — and buys the property that matters at 100 TB: an attribute
  * filter is evaluated INSIDE the pruned scan (predicate pushdown into the
  * parquet read), before the top-K cut, with no join back to the base
  * table. The reference evaluates filters during its graph walk for the
  * same reason (vec_search_executor.cpp:905-928); a post-cut filter can
  * under-fill K under selective predicates.
  *
  * Index metadata (`ivf_meta.json`) records two numbers:
  *   - `watermark`: the max row id covered by the index. Search unions an
  *     exact scan of rows with id > watermark (the reference's
  *     graph-over-prefix + brute-force-tail, vec_search_executor.cpp:885-904).
  *     This is an ID, not a count — row ids are never reclaimed on
  *     delete/upsert, so a count would drift and the tail would overlap
  *     already-indexed rows.
  *   - `count`: live rows at build time, for the rebuild-skip heuristic.
  *
  * Build = k-means fitted on a bounded SAMPLE (Lloyd over ~max(128·k, 8192)
  * rows — centroid quality does not improve with the full pass, and a full
  * Lloyd iteration at 100 TB is a job per iteration), then a single
  * assign-only pass over the full data writing the clustered layout.
  * Rebuild semantics mirror the reference: skip when the table is
  * unchanged (count AND watermark) or below MinimalIndexSize
  * (table_mvp.cpp:121-127).
  */
class IvfIndex(
    val spark: SparkSession,
    val path: String,
    val idCol: String,
    val metric: MetricType.Value) {

  def centroidsPath = s"$path/centroids"
  def dataPath = s"$path/clustered"
  def statsPath = s"$path/cluster_stats"
  def radiiPath = s"$path/cluster_radii"
  def metaPath = s"$path/ivf_meta.json"
  def pqPath = s"$path/pq_codebook"

  /** Caches are keyed on the meta content (watermark, count, purge): a
    * rebuild or append — in THIS process or another JVM sharing the store —
    * rewrites ivf_meta.json, so a cheap re-read of that tiny file per
    * access detects cross-process index changes (the reference's follower
    * replica reloads the saved index on rebuild, table_mvp.cpp:143-170).
    * Without this a second JVM would serve a stale clustered layout until
    * it reopened the index. */
  // the freshness stamp INCLUDES the build generation: a rebuild of
  // byte-identical data (count/watermark/purge unchanged, gen bumped)
  // still replaces the layout files, so a live instance must re-list —
  // a gen-less stamp left caches pointing at deleted parquet paths
  @transient private var cachedStamp: (Long, Long, Long, Long, Long) = null
  @transient private var centroidKey: (Long, Long) = null
  @transient private var centroidCache: Array[(Int, Array[Float])] = null
  @transient private var clusteredCache: DataFrame = null
  @transient private var clusterStatsCache: Option[Map[Int, Long]] = null
  @transient private var clusterRadiiCache: Option[Map[Int, Double]] = null
  // per centroid key (gen, purge): whether some cluster held no rows
  @transient private var emptyClustersAt: ((Long, Long), Boolean) = null
  @transient private var pqCbKey: (Long, Long) = null
  @transient private var pqCbCache: Option[PqCodebook] = null
  @transient private var pqResCache: java.lang.Boolean = null

  /** One file read covering all five stamp fields (meta() + readGen +
    * readNulls would read the file three times per access on the serving
    * hot path — universeComplete() in particular runs per borrowed-verdict
    * serve, so its nulls count rides this cache too). */
  private def stamp(): (Long, Long, Long, Long, Long) = {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(metaPath)))
    (MetaJson.longField(raw, "watermark", 0L),
      MetaJson.longField(raw, "count", 0L),
      MetaJson.longField(raw, "purge", 0L),
      MetaJson.longField(raw, "gen", 0L),
      MetaJson.longField(raw, "nulls", 0L))
  }

  private def refreshIfStale(): Unit = {
    val s = stamp()
    if (s != cachedStamp) {
      cachedStamp = s
      // the clustered relation gains files on APPEND -> re-list on any
      // stamp move; centroids only change on a FULL build (gen) or purge —
      // flushing them per append would run listing+collect jobs on the
      // warm serving path for data that did not change
      clusteredCache = null
      clusterStatsCache = null // appends change per-cluster counts
      clusterRadiiCache = null // appends can widen per-cluster radii
      val key = (s._4, s._3) // (gen, purge)
      if (key != centroidKey) { centroidKey = key; centroidCache = null }
      if (key != pqCbKey) { pqCbKey = key; pqCbCache = null; pqResCache = null }
    }
  }

  /** Centroids on the driver (nClusters × dim floats — tiny; reloaded only
    * when the index meta changes). */
  def centroids(): Array[(Int, Array[Float])] = synchronized {
    refreshIfStale()
    if (centroidCache == null)
      centroidCache = spark.read.parquet(centroidsPath)
        .collect()
        .map(r => (r.getAs[Int]("cluster"),
          r.getAs[scala.collection.Seq[Float]]("centroid").toArray))
    centroidCache
  }

  /** Clustered table, cached per meta stamp: re-reading per query would
    * re-list every cluster directory (256 FS listings per search). Partition
    * pruning on the cached relation is plan-time only. */
  def clustered(): DataFrame = synchronized {
    refreshIfStale()
    if (clusteredCache == null) clusteredCache = spark.read.parquet(dataPath)
    clusteredCache
  }

  private def meta(): (Long, Long, Long) = IvfIndex.readMeta(metaPath)

  /** Per-cluster row counts persisted at build/append time
    * (`cluster_stats/`, append-mode deltas summed at read), driver-resident
    * per meta stamp. The serving cardinality guard checks the probe set
    * against these BEFORE collecting a cold cluster — a degenerate k-means
    * cluster holding most of the corpus must decline to the job path, not
    * collect itself onto the driver. None = layout predates the stats file
    * (or a rebuild races the read); callers fall back to a count probe. */
  def clusterStats(): Option[Map[Int, Long]] = {
    var stampAt: (Long, Long, Long, Long, Long) = null
    synchronized {
      refreshIfStale()
      if (clusterStatsCache != null) return clusterStatsCache
      stampAt = cachedStamp
    }
    // the stats read is a (small) Spark job — run it OUTSIDE the lock so
    // one cold stats load never convoys concurrent warm serves
    val loaded: Option[Map[Int, Long]] =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(statsPath))) None
      else scala.util.Try {
        spark.read.parquet(statsPath)
          .groupBy(col("cluster")).agg(sum(col("cnt")).as("cnt"))
          .collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
      }.toOption
    synchronized {
      refreshIfStale()
      if (cachedStamp == stampAt && clusterStatsCache == null) clusterStatsCache = loaded
      if (clusterStatsCache != null) clusterStatsCache else loaded
    }
  }

  /** Per-cluster ball radii (max TRUE L2 distance of any member to its
    * centroid), persisted at build/append as append-mode rows maxed at
    * read — the geometric half of the recall-targeted probe selection
    * (`probeSetForRecall`). None = layout predates radii (or a rebuild
    * races the read); callers fall back to probing everything. */
  def clusterRadii(): Option[Map[Int, Double]] = {
    var stampAt: (Long, Long, Long, Long, Long) = null
    synchronized {
      refreshIfStale()
      if (clusterRadiiCache != null) return clusterRadiiCache
      stampAt = cachedStamp
    }
    val loaded: Option[Map[Int, Double]] =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(radiiPath))) None
      else scala.util.Try {
        spark.read.parquet(radiiPath)
          .groupBy(col("cluster")).agg(max(col("r")).as("r"))
          .collect()
          .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      }.toOption
    synchronized {
      refreshIfStale()
      if (cachedStamp == stampAt && clusterRadiiCache == null) clusterRadiiCache = loaded
      if (clusterRadiiCache != null) clusterRadiiCache else loaded
    }
  }

  /** Probe set PROVING recall ≥ `target` at cut `k`, from centroid
    * distances + persisted ball radii + row counts — the recall knob the
    * reference exposes as a fixed nProbe, made geometric: the ball cover
    * (`coverFromCounts`) over the per-cluster row counts of
    * `clusterStats()`, for the metric-normalized query. Without counts
    * (layout predates the stats file) it probes everything. */
  def probeSetForRecall(query: Array[Float], k: Int, target: Double = 1.0,
      slack: Long = 0L): Array[Int] =
    resolveProbes(
      Array(if (metric == MetricType.Cosine) IvfIndex.normalize(query) else query),
      k, ServeProbe.Recall(target, slack)).head

  /** Old-layout fallback for the serving cardinality guard: one pruned
    * COUNT over the probed clusters (reads only footers of the probed
    * partition directories; output is |clusters| rows). */
  private def probeClusterCounts(clusters: Array[Int]): Map[Int, Long] =
    clustered()
      .filter(col("cluster").isin(clusters.toSeq: _*))
      .filter(col(idCol).cast("long") <= serveWatermark)
      .groupBy(col("cluster")).agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Max row id covered by the index (rows with id > this are the fresh
    * tail, searched exactly). */
  def indexedWatermark(): Long = meta()._1

  /** Row count at build time (rebuild-skip heuristic only — NOT an id). */
  def indexedCount(): Long = meta()._2

  /** Store purge generation at build time: when the store's current
    * generation is higher, a compact() has folded tombstones away since
    * this build — the tombstone anti-join no longer masks every removed
    * row and callers must restrict candidates to live ids until the next
    * rebuild (see TableStore.Snapshot.purge). */
  def indexedPurgeGen(): Long = meta()._3

  /** Incremental maintenance: assign NEW rows to the existing centroids and
    * append them to the clustered layout (no full rebuild — the micro-batch
    * path; centroid drift is bounded until the next scheduled rebuild).
    * `newRows` carries the full row (all columns incl. idCol + vecCol). */
  // once-per-instance crash-redo probe (see needsOrphanHeal)
  @transient private var orphanChecked = false

  /** One-time (per instance) crash-redo probe: a writer that died between
    * appending clustered rows and committing the meta left orphan rows
    * ABOVE the meta watermark — a watermark-driven catch-up would append
    * them again (duplicate candidates). True = the caller must full-
    * rebuild instead of appending. One limit-1 job per JVM per index. */
  def needsOrphanHeal(): Boolean = {
    synchronized {
      if (orphanChecked) return false
      orphanChecked = true
    }
    val wm = indexedWatermark()
    !clustered().filter(col(idCol).cast("long") > wm).isEmpty
  }

  def append(newRows: DataFrame, vecCol: String): Long = {
    import org.apache.spark.sql.functions.{col => c}
    // cache the INPUT plan: the raw-stats pass below and the staged write
    // both consume it — uncached, every append batch's lineage (store
    // read + filter, or worse) would run twice (round-11 ADVICE). If the
    // CALLER already persisted the frame, leave its cache alone: the
    // unconditional unpersist in finally would evict the caller's own
    // cache as a side effect (round-12 ADVICE).
    val callerCached =
      newRows.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val input = if (callerCached) newRows else newRows.cache()
    try appendCached(input, vecCol)
    finally if (!callerCached) input.unpersist()
  }

  private def appendCached(newRows: DataFrame, vecCol: String): Long = {
    import org.apache.spark.sql.functions.{col => c}
    // NULL-vector rows can't be clustered (no distance): drop them from
    // the staged batch but ADVANCE the watermark past them (or appendIndexes
    // re-reads them forever) and accrue the persisted null count so
    // universeComplete() reports the incomplete id universe
    val rawStats = newRows.agg(count(lit(1)),
      max(c(idCol).cast("long")), count(c(vecCol))).head()
    val nRaw = rawStats.getLong(0)
    if (nRaw == 0) return 0L
    val rawMaxId = rawStats.getLong(1)
    val nullsDelta = nRaw - rawStats.getLong(2)
    val nonNull =
      if (nullsDelta == 0L) newRows else newRows.filter(c(vecCol).isNotNull)
    val centPairs = centroids().sortBy(_._1)
    val cents = centPairs.map(_._2)
    val centIdByIdx = centPairs.map(_._1)
    val prepared =
      if (metric == MetricType.Cosine)
        nonNull.withColumn(vecCol, graft.functions.l2_normalize(c(vecCol)))
      else nonNull
    // cluster is assigned FIRST: residual PQ codes are relative to the
    // assigned centroid, so the encode expressions need the cluster
    // column. NearestCentroid yields the ARRAY INDEX — map it to the real
    // cluster id (they diverge once splitOversized has retired/minted
    // ids; writing the raw index would land rows in the wrong partition
    // dirs and silently corrupt every subsequent pruned read).
    val clustered0 = prepared
      .withColumn("__ci",
        org.apache.spark.sql.graftbridge.CatalystBridge.column(
          graft.functions.NearestCentroid(
            org.apache.spark.sql.graftbridge.CatalystBridge.expression(c(vecCol)),
            cents, metric.toString)))
      .withColumn("cluster", element_at(lit(centIdByIdx), c("__ci") + 1))
      .drop("__ci")
    // match the existing layout's schema: a pre-quantization layout keeps
    // appending without the code columns (mixed file schemas would break
    // the non-merged parquet read)
    val staged0 =
      if (clustered().columns.contains("__qcode")) IvfIndex.withQuantized(clustered0, vecCol)
      else clustered0
    // a PQ-tier layout keeps its code column consistent across appends
    // (codebook AND coding scheme are FROZEN between rebuilds — appended
    // rows are coded against the build-time centroids + residual flag,
    // standard IVF-PQ practice)
    val layoutCols = clustered().columns
    val residual = pqResidualCoding()
    val centIds = centroids().map(_._1).sorted
    lazy val centFlat = {
      val byId = centroids().toMap
      val d = byId(centIds(0)).length
      val f = new Array[Float](centIds.length * d)
      var i = 0
      while (i < centIds.length) {
        System.arraycopy(byId(centIds(i)), 0, f, i * d, d); i += 1
      }
      f
    }
    val staged1 =
      if (layoutCols.contains("__pqcode"))
        pqCodebook() match {
          case Some(cb) if residual => staged0.withColumn("__pqcode",
            graft.functions.pq_encode_res(c(vecCol), c("cluster"), cb,
              centIds, centFlat))
          case Some(cb) => staged0.withColumn("__pqcode",
            graft.functions.pq_encode(c(vecCol), cb))
          // codebook lost (broken layout): keep the SCHEMA consistent with
          // empty codes — the Pq job path falls back to Quantized when the
          // codebook is absent, so these bytes are never scored
          case None => staged0.withColumn("__pqcode", lit(Array.emptyByteArray))
        }
      else staged0
    val staged =
      if (layoutCols.contains("__pqerr"))
        pqCodebook() match {
          case Some(cb) if residual => staged1.withColumn("__pqerr",
            graft.functions.pq_rec_err_res(c(vecCol), c("__pqcode"),
              c("cluster"), cb, centIds, centFlat))
          case Some(cb) => staged1.withColumn("__pqerr",
            graft.functions.pq_rec_err(c(vecCol), c("__pqcode"), cb))
          // no codebook → codes are empty → reconstruction is all-zero
          // subspaces; a huge sentinel error keeps any (impossible) scorer
          // honest rather than silently certifying garbage
          case None => staged1.withColumn("__pqerr", lit(Double.MaxValue))
        }
      else staged1
    val assigned = staged.cache()
    val n = rawStats.getLong(2) // non-null rows = rows actually staged
    if (n > 0) {
      assigned.repartition(c("cluster"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("cluster").parquet(dataPath)
      // per-cluster count delta for the serving cardinality guard
      // (append-only; the next full build compacts the deltas away)
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(statsPath)))
        assigned.groupBy(c("cluster").cast("int").as("cluster"))
          .agg(count(lit(1)).as("cnt"))
          .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(statsPath)
      // radius delta: appended rows can sit farther from the (frozen)
      // centroid than any build row — the probe bound must widen with
      // them. Only on layouts whose build wrote radii (see writeRadii).
      if (metric != MetricType.DotProduct &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(radiiPath)))
        IvfIndex.writeRadii(spark, path, vecCol,
          org.apache.spark.sql.SaveMode.Append, Some(assigned))
    }
    // meta advances even for an all-null batch (n == 0, nRaw > 0): the
    // watermark must pass the nulls or every maintenance tick re-reads them
    val (wm, cnt, purge) = meta()
    IvfIndex.writeMeta(metaPath, math.max(wm, rawMaxId), cnt + nRaw, purge,
      base = IvfIndex.readBase(metaPath), gen = IvfIndex.readGen(metaPath),
      nulls = IvfIndex.readNulls(metaPath) + nullsDelta)
    // the meta stamp changed — refreshIfStale() re-lists on next access,
    // here and in any other JVM sharing this index path
    assigned.unpersist()
    n
  }

  /** True iff this layout's id universe covers EVERY store row at or below
    * the indexed watermark — i.e. no NULL-vector row was ever skipped by a
    * build/append pass. Borrowed-verdict consumers (densePassVerdict: the
    * hybrid keyword mask, sparse-field filtered serving) require a complete
    * universe: an incomplete donor must DECLINE, never silently judge a
    * row it has never seen as non-passing. Reads the THROTTLED serve stamp
    * (ServeFreshnessMs, amortized zero file reads — round-11 ADVICE: the
    * per-serve readNulls was a file read on the hot driver path), which is
    * safe: the stamp's nulls count and the serving pin move together in
    * one meta write, so a stale "0 nulls" comes with an equally stale pin
    * and the gap rows are tail rows — judged by the tail's OWN
    * nullVecRows check at the borrow site. */
  def universeComplete(): Boolean =
    synchronized { ensureServeFresh(); serveStamp._5 == 0L }

  /** (universe complete, serving pin) read ATOMICALLY from one stamp
    * snapshot under the instance lock. Reading them through two separate
    * calls lets a throttled stamp refresh (or a rebase) land between
    * them: the pin advances past freshly-appended NULL-vector rows, the
    * borrower's tail nullVecRows check never sees those rows, and the
    * borrowed verdict silently judges live rows non-passing (round-12
    * ADVICE, medium). One lock, one `ensureServeFresh()`, one stamp —
    * a pin that covers skipped nulls always arrives with complete=false. */
  def universeCompletePin(): (Boolean, Long) =
    synchronized { ensureServeFresh(); (serveStamp._5 == 0L, serveWatermark) }

  /** ANN top-K as one Spark job plan (the job path; [[serve]] is its
    * driver-resident twin and takes the same `probe` and `tier`):
    *
    *  - `probe`: the clusters scanned. `Nearest(n)` takes the `n` nearest
    *    centroids of clusters that hold rows; `Recall(target, slack)` the
    *    ball cover PROVING recall@k ≥ target ([[probeSetForRecall]]; 1.0
    *    is exact) — pass the tombstone count as `slack` when masking via
    *    `excludeIds`.
    *  - `tier`: the candidate cut before the exact float rerank. `Float`
    *    scores every probed row on the float column. `Quantized` first
    *    cuts to `max(8k, 64)` rows by dequantized int8 L2 for every
    *    metric (that scan reads only codes + scales). `Pq` first cuts by
    *    ADC over the m-byte PQ codes: PROVEN on a layout carrying
    *    `__pqerr` (per-row intervals [adc − e, adc + e] against the k-th
    *    smallest upper bound cover the true top-k however coarse the
    *    codes; one extra tiny job), else the fixed `max(16k, 128)`. `Pq`
    *    falls back to `Quantized`, and `Quantized` to `Float`, on a layout
    *    without the tier's columns. The job path reads neither code tier's
    *    `certify`: every cut is reranked on floats, and the PQ cut is
    *    always proven when it can be.
    *  - `freshTail`: rows not yet indexed (id > watermark); scored exactly
    *    and unioned BEFORE the cut.
    *  - `preFilter`: attribute predicate evaluated inside the pruned scan,
    *    before the top-K cut (may also reference `@distance` — the
    *    reference's post-filter mode). Without this, a selective filter
    *    applied after the cut can return fewer than k rows despite
    *    matches. A code tier pushes it below its candidate cut too (a
    *    predicate on `@distance` stays post-distance), so the cut covers
    *    the FILTERED top-k.
    *  - `excludeIds`: tombstoned row ids (tiny; broadcast anti-join) — the
    *    clustered layout is a build-time copy and does not see later deletes.
    *  - `restrictIds`: live row ids (semi-join) — the correct-but-heavier
    *    mask for when the tombstone set is no longer complete (a compact()
    *    purged it since this index was built). Used instead of `excludeIds`.
    */
  def search(vecCol: String, query: Array[Float], k: Int, probe: ServeProbe,
      tier: ServeTier = ServeTier.Float,
      freshTail: Option[DataFrame] = None,
      preFilter: Option[Column] = None,
      excludeIds: Option[DataFrame] = None,
      restrictIds: Option[DataFrame] = None): DataFrame = {
    val q = if (metric == MetricType.Cosine) IvfIndex.normalize(query) else query
    val full = clustered()
    val probed = resolveProbes(Array(q), k, probe).head
    // cluster IN (...) prunes parquet row groups via the partition column
    val masked = SparseIndex.mask(full.filter(col("cluster").isin(probed.toSeq: _*)),
      idCol, excludeIds, restrictIds)
    // a code tier's cut runs over the filtered rows: a selective filter
    // whose matches rank far by raw distance must not lose them before
    // the rerank sees them
    def candBase = preFilter.filterNot(IvfIndex.refsDistance)
      .map(masked.filter).getOrElse(masked)
    val cut: Option[DataFrame] = tier match {
      case ServeTier.Pq(_) if full.columns.contains("__pqcode") && pqCodebook().isDefined =>
        Some(pqCut(candBase, pqCodebook().get, probed, q, k,
          proven = full.columns.contains("__pqerr")))
      case ServeTier.Float => None
      case _ if full.columns.contains("__qcode") =>
        // candidate scan: id + codes + scales only -> parquet reads no floats
        Some(candBase
          .select(col(idCol), col("__qcode"), col("__qmin"), col("__qmax"))
          .withColumn("@qdist", quantized_l2(col("__qcode"), col("__qmin"),
            col("__qmax"), q.map(_.toDouble)))
          .orderBy(col("@qdist").asc, col(idCol).asc)
          .limit(math.max(8 * k, 64))
          .select(col(idCol)))
      case _ => None
    }
    // rerank the candidate ids (a bounded set — broadcast join) on the
    // full vectors
    val reranked = cut.fold(masked)(c => masked.join(broadcast(c), Seq(idCol), "left_semi"))
    val withDist = withTail(reranked, freshTail)
      .withColumn("@distance", IvfIndex.distColumn(metric, col(vecCol), q))
    preFilter.map(withDist.filter).getOrElse(withDist)
      .orderBy(col("@distance").asc, col(idCol).asc)
      .limit(k)
  }

  /** `df` unioned with the fresh-tail rows (cluster −1). */
  private def withTail(df: DataFrame, freshTail: Option[DataFrame]): DataFrame =
    freshTail.fold(df)(tail =>
      df.unionByName(tail.withColumn("cluster", lit(-1)), allowMissingColumns = true))

  /** The centroids whose clusters hold rows. A degenerate build (many
    * identical rows) leaves duplicate centroids whose clusters stay empty;
    * a probe spent on one finds nothing while the rows sit in its twin.
    * Counts come from `clusterStats()` (the serving cardinality guard's
    * source); without them (a layout that predates the stats file) every
    * centroid stays. Within one centroid key clusters only gain rows
    * (appends add, deletes tombstone, a build, split or purge starts a new
    * key), so when every cluster held rows at the key's first read, the
    * counts are not read again — a warm serve after an append stays
    * job-free. */
  private def heldCentroids(): Array[(Int, Array[Float])] = {
    val (cents, key, known) = synchronized {
      val cs = centroids()
      (cs, centroidKey, emptyClustersAt)
    }
    if (known != null && known._1 == key && !known._2) return cents
    val held = clusterStats().map(n =>
      cents.filter(c => n.getOrElse(c._1, 0L) > 0L))
    if (known == null || known._1 != key)
      synchronized { emptyClustersAt = (key, held.exists(_.length < cents.length)) }
    held.getOrElse(cents)
  }

  /** The `nProbe` centroids of `cents` nearest the (normalized) query. */
  private def nearestClusters(cents: Array[(Int, Array[Float])],
      q: Array[Float], nProbe: Int): Array[Int] =
    cents.map { case (cid, c) => (cid, IvfIndex.dist(metric, c, q)) }
      .sortBy { case (_, d) => d }
      .take(nProbe)
      .map(_._1)

  /** The one probe resolver of the job path and the serve tier: the
    * clusters each metric-normalized query scans at cut `k`.
    *  - `Nearest(n)`: the `n` nearest centroids of clusters that hold rows
    *    (`heldCentroids`).
    *  - `Recall(target, slack)`: the ball cover (`coverFromCounts`) over
    *    `counts` — `clusterStats()` unless a filtered serve passes its
    *    passing counts. Reads radii and counts (Spark jobs when cold):
    *    never call it with `Recall` under the instance lock.
    *  - `Sets`: the explicit sets, with ids a racing rebuild retired
    *    dropped (the caller's pin re-check catches the race).
    * The serve's sweep calls it under the instance lock inside an
    * acquisition (probeUnion contract), with `Nearest` or `Sets` only. */
  private def resolveProbes(qs: Array[Array[Float]], k: Int, probe: ServeProbe,
      counts: => Option[Map[Int, Long]] = clusterStats()): Array[Array[Int]] =
    probe match {
      case ServeProbe.Nearest(nProbe) =>
        val held = heldCentroids()
        qs.map(nearestClusters(held, _, nProbe))
      case ServeProbe.Recall(target, slack) =>
        lazy val cs = counts
        qs.map(coverFromCounts(_, k, target, slack, cs))
      case ServeProbe.Sets(ps) =>
        val live = centroids().map(_._1).toSet
        ps.map(_.filter(live))
    }

  /** Batch ANN: Q queries against the layout in ONE pruned pass.
    *
    * Per-query results are IDENTICAL to `search(...)` at the same `probe`
    * (same probe resolver, same distance, same (d, id) tie-break) —
    * proven by BatchIvfSpec. The scan reads only the UNION
    * of all queries' probed cluster dirs, each row is scored only against
    * the queries that probed its cluster (array_contains on the exploded
    * query struct — stays inside codegen), and per-(query, task) bounded
    * heaps partial-aggregate so the shuffle carries Q·k·tasks pairs.
    * Fresh-tail rows (cluster = −1) are scored by every query, exactly as
    * the single-query union does.
    *
    * At 100 TB this is the offline retrieval path: probing c of C
    * clusters per query costs ~Q·c/C of one corpus scan amortized across
    * the batch, vs Q full jobs of the sequential formulation. Returns
    * (qid, rank, id, d) with rank 1..k by (d asc, id asc).
    */
  def searchBatch(vecCol: String, queries: Seq[(Long, Array[Float])], k: Int,
      probe: ServeProbe,
      freshTail: Option[DataFrame] = None,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    require(queries.nonEmpty, "batch search needs at least one query")
    val qvs = queries.map { case (_, raw) =>
      if (metric == MetricType.Cosine) IvfIndex.normalize(raw) else raw
    }.toArray
    val qs = queries.map(_._1).zip(qvs).zip(resolveProbes(qvs, k, probe))
      .map { case ((qid, q), probes) => (qid, q, probes) }
    val union = qs.flatMap { case (_, _, p) => p }.distinct
    val masked = SparseIndex.mask(clustered().filter(col("cluster").isin(union: _*)),
      idCol, excludeIds, None)
    val qarr = array(qs.map { case (qid, q, probes) =>
      struct(lit(qid).as("qid"), lit(q).as("qv"), lit(probes).as("probes"))
    }: _*)
    withTail(masked, freshTail)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        col("cluster"))
      .select(col("id"), col("v"), col("cluster"), explode(qarr).as("q"))
      .filter(col("cluster") === lit(-1) ||
        array_contains(col("q.probes"), col("cluster")))
      .withColumn("d", IvfIndex.distColumns(metric, col("v"), col("q.qv")))
      .groupBy(col("q.qid").as("qid"))
      .agg(graft.functions.topk_min(k, col("d"), col("id")).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("hit.id").as("id"), col("hit.d").as("d"))
  }

  /** PQ codebook for this layout, cached per (gen, purge) like the
    * centroids (a few hundred KB; None = layout predates the PQ tier). */
  def pqCodebook(): Option[PqCodebook] = synchronized {
    refreshIfStale()
    if (pqCbCache == null) pqCbCache = PqCodebook.load(spark, pqPath)
    pqCbCache
  }

  /** Whether this layout's PQ codes are RESIDUAL-coded (x − centroid,
    * IVFADC) — marked by the `pq_residual` file written at build. Layouts
    * built before residual coding read absolute. */
  def pqResidualCoding(): Boolean = synchronized {
    refreshIfStale()
    if (pqResCache == null)
      pqResCache = java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$path/pq_residual"))
    pqResCache.booleanValue()
  }

  /** Per-probed-cluster ADC tables for the layout's coding scheme:
    * (sorted cluster ids, luts, per-cluster consts, sharedLut).
    * Residual L2 scores against (q − centroid_c) — one table per probed
    * cluster; residual dot/cosine share ONE lut with constant
    * −q·centroid_c; absolute layouts share one lut with constant 0.
    * sharedLut tells callers the luts array holds a single span. */
  private def pqLutsFor(cb: PqCodebook, probed: Array[Int],
      q: Array[Float]): (Array[Int], Array[Double], Array[Double], Boolean) = {
    val sorted = probed.sorted
    val span = cb.m * cb.ksub
    val consts = new Array[Double](sorted.length)
    if (!pqResidualCoding()) {
      val lut = if (metric == MetricType.Euclidean) cb.lutL2(q) else cb.lutNegDot(q)
      return (sorted, lut, consts, true)
    }
    val centMap = centroids().toMap
    if (metric == MetricType.Euclidean) {
      val luts = new Array[Double](sorted.length * span)
      var i = 0
      while (i < sorted.length) {
        val c = centMap(sorted(i))
        val qr = new Array[Float](q.length)
        var j = 0
        while (j < q.length) { qr(j) = q(j) - c(j); j += 1 }
        System.arraycopy(cb.lutL2(qr), 0, luts, i * span, span)
        i += 1
      }
      (sorted, luts, consts, false)
    } else {
      val lut = cb.lutNegDot(q)
      var i = 0
      while (i < sorted.length) {
        val c = centMap(sorted(i))
        var dot = 0.0
        var j = 0
        while (j < q.length) { dot += q(j).toDouble * c(j); j += 1 }
        consts(i) = -dot
        i += 1
      }
      (sorted, lut, consts, true)
    }
  }

  /** The PQ tier's job-path candidate ids: ADC over the m-byte PQ codes of
    * the probed rows (~1/32 of the vector bytes at dim 960 — neither
    * floats nor int8 codes are read from parquet).
    *
    * `proven` (the layout carries `__pqerr`): per-row true-distance
    * intervals [adc − e, adc + e] (the serving tier's certification bound
    * math) against the k-th smallest upper bound keep a candidate set that
    * provably covers the true top-k of `candBase`, however coarse the ADC
    * geometry is — a fixed multiplier cut silently loses recall exactly
    * when within-cluster spacing falls below quantization resolution
    * (tight clusters at high dim), which is the one regime a compressed
    * candidate scan gets used in anger. Costs one extra tiny job (the
    * bound). Otherwise (a pre-`__pqerr` layout) the fixed
    * `max(16k, 128)` cut. */
  private def pqCut(candBase: DataFrame, codebook: PqCodebook,
      probed: Array[Int], q: Array[Float], k: Int, proven: Boolean): DataFrame = {
    val (lutIds, luts, consts, sharedLut) = pqLutsFor(codebook, probed, q)
    def adcCol: Column = pq_adc_res(col("__pqcode"),
      col("cluster").cast("int"), codebook, lutIds, luts, consts, sharedLut)
    if (proven) {
      var qss = 0.0
      var qi = 0
      while (qi < q.length) { qss += q(qi).toDouble * q(qi); qi += 1 }
      val scored = candBase
        .select(col(idCol), col("cluster"), col("__pqcode"), col("__pqerr"))
        .withColumn("@pqdist", adcCol)
      val errHalf = metric match {
        case MetricType.Euclidean =>
          lit(2.0) * sqrt(greatest(col("@pqdist"), lit(0.0))) * col("__pqerr") +
            col("__pqerr") * col("__pqerr")
        case _ => lit(math.sqrt(qss)) * col("__pqerr") // ‖q‖₂ (1 for cosine)
      }
      val withUb = scored.withColumn("@pqub", col("@pqdist") + errHalf)
      val boundRow = withUb.orderBy(col("@pqub").asc).limit(k)
        .agg(max(col("@pqub"))).head()
      if (boundRow.isNullAt(0)) withUb.select(col(idCol)) // empty probe set
      else withUb
        .filter(col("@pqdist") - errHalf <= lit(boundRow.getDouble(0)))
        .select(col(idCol))
    } else
      candBase
        .select(col(idCol), col("cluster"), col("__pqcode"))
        .withColumn("@pqdist", adcCol)
        .orderBy(col("@pqdist").asc, col(idCol).asc)
        .limit(math.max(16 * k, 128))
        .select(col(idCol))
  }

  // ---- driver-side serving (no Spark job on the hot path) ----

  /** Per-cluster driver-resident vectors: (ids, row-major floats). The
    * reference serves every query from vectors held in process RAM
    * (table_segment_mvp.cpp:106-111, vec_search_executor.cpp:833-935);
    * this is the same model scoped to the PROBED clusters — each cluster
    * is loaded once (one pruned Spark job), then every subsequent
    * serve over it is pure JVM compute, microseconds not a job.
    * Invalidated when the index meta changes (rebuild/append). */
  /** (ids, row-major doubles, per-row |x|^2): doubles avoid a float->double
    * conversion per element in the hot loop, and the precomputed norms turn
    * Euclidean scoring into `|x|^2 - 2 x.q` — one multiply-add per element.
    * LinkedHashMap in access order = LRU, bounded by `maxServeRows`
    * (vectors resident cost dim x 8 bytes each; an unbounded cache on a
    * 100 TB index would OOM the driver the first time a scatter of cold
    * probes lands). */
  @transient private var serveCache =
    new java.util.LinkedHashMap[Int, (Array[Long], Array[Double], Array[Double])](
      64, 0.75f, true)
  @transient private var serveRowsResident = 0L
  @transient private var serveStamp: (Long, Long, Long, Long, Long) = null
  @transient private var serveStampCheckedAt = 0L
  // serving is pinned to a SNAPSHOT: resident clusters hold rows with
  // id <= serveWatermark, and the caller unions rows above it as the fresh
  // tail. Ingest-time appends move the meta watermark but NOT (gen, purge)
  // — the resident clusters stay warm and stay correct, because the
  // appended rows are above the pin and ride in on the tail. Only a full
  // rebuild (gen bump) or a purge invalidates residency; when the tail
  // outgrows its cap the caller rebases (clear + re-pin at the current
  // watermark) instead of falling cold on every batch.
  @transient private var serveKey: (Long, Long) = null
  @volatile protected var serveWatermark = 0L

  /** Must be called under the instance lock: refresh the serving snapshot
    * key, clearing residency ONLY on a build-generation or purge change. */
  private def ensureServeFresh(): Unit = {
    val now = System.currentTimeMillis
    if (now - serveStampCheckedAt > ServeFreshnessMs || serveStamp == null) {
      serveStampCheckedAt = now
      val s = stamp()
      if (s != serveStamp) {
        serveStamp = s
        val key = (s._4, s._3) // (gen, purge)
        if (key != serveKey) {
          serveKey = key
          serveCache.clear(); serveRowsResident = 0L
          quantCache.clear(); quantRowsResident = 0L
          pqCache.clear(); pqRowsResident = 0L
          scalarCache.clear(); scalarRowsResident = 0L
          passCache.clear(); passCountCache.clear()
          serveWatermark = s._1
        }
      }
    }
  }

  /** The serving snapshot pin: callers collect rows ABOVE this as the
    * fresh tail (NOT `indexedWatermark`, which appends keep moving). */
  def servingWatermark(): Long = synchronized { ensureServeFresh(); serveWatermark }

  /** The full freshness stamp (watermark, count, purge, gen) as an opaque
    * cache key: one tiny file read, no Spark job — callers key their own
    * derived caches (e.g. statistics() summaries) on it. */
  private[graft] def freshnessStamp(): Any = stamp()

  /** Drop residency and re-pin at the current watermark — the caller's
    * move when the fresh tail outgrows its cap. */
  def rebaseServing(): Unit = synchronized {
    serveStamp = null; serveKey = null; serveStampCheckedAt = 0L
  }

  /** Serving cache budget in resident vectors (default 4M: ~2 GiB at
    * dim=64). Settable before serving starts. */
  @volatile var maxServeRows: Long = 4L * 1024 * 1024

  /** Serving cache budget in resident BYTES: a row costs 8*dim + 24
    * (doubles + id + norm), so a dimension-blind row cap under-guards
    * high-dim indexes — 4M rows at dim=960 is ~30 GiB of driver heap,
    * exactly the OOM the guard exists to prevent. The effective row cap
    * is min(maxServeRows, maxServeBytes / rowBytes(dim)). Default 2 GiB
    * (= the 4M-row default at dim 64). */
  @volatile var maxServeBytes: Long = 2L * 1024 * 1024 * 1024

  private def effectiveMaxRows(dim: Int): Long =
    math.min(maxServeRows, maxServeBytes / (8L * dim + 24L))

  /** How stale the serving cache may be before re-reading ivf_meta.json:
    * parsing the meta file per query would dominate serving latency
    * (~ms), so freshness is re-checked at most every 250 ms. */
  val ServeFreshnessMs = 250L

  /** Resident vector count (cache sizing: rows x dim x 8 bytes). */
  def servingResidentRows(): Long = synchronized { serveRowsResident }

  // serve declines (budget or thrash) — the operational signal that
  // queries are falling off the serve path onto the job path
  private val declines = new java.util.concurrent.atomic.AtomicLong(0L)
  def serveDeclineCount(): Long = declines.get()
  /** Maintenance resets the counter after acting on it (heal/rebuild):
    * declines are a per-generation signal, not a lifetime total. */
  private[graft] def resetServeDeclineCount(): Unit = declines.set(0L)
  private def decline: Option[Nothing] = { declines.incrementAndGet(); None }

  /** Serving residency budget in ROWS at the given dimensionality (the
    * binding of the row cap and the byte cap) — the skew-split threshold
    * Maintenance passes to `IvfIndex.splitOversized` when declines rise. */
  def serveBudgetRows(dim: Int): Long = effectiveMaxRows(dim)

  /** One pruned job collecting + packing the rows of `missing` clusters —
    * runs OUTSIDE the instance lock (see acquireResident); overridable so tests
    * can model a slow cold load. */
  protected def loadClusters(vecCol: String, missing: Array[Int])
      : Map[Int, (Array[Long], Array[Double], Array[Double])] = {
    // wide cold loads (recallTarget covers can span most of the index)
    // collect in CHUNKS: one all-cluster collect at dim 960 is ~3.7 GiB
    // of serialized task results — past any sane
    // spark.driver.maxResultSize — while per-chunk collects stay bounded
    // regardless of cover width; the budget guard has already sized the
    // TOTAL against driver heap
    if (missing.length > IvfIndex.ColdLoadChunkClusters)
      return missing.grouped(IvfIndex.ColdLoadChunkClusters)
        .map(g => loadClusters(vecCol, g)).reduce(_ ++ _)
    // pack EXECUTOR-SIDE into primitive arrays: collecting Rows of boxed
    // float sequences pays ~10x in serialization + driver GC at high dims
    // (a 960-dim cold load was ~240 MB of Row objects); primitive arrays
    // also carry the norms, computed where the data already is
    val chunks = clustered()
      .filter(col("cluster").isin(missing.toSeq: _*))
      // pin to the serving snapshot: rows appended after the pin are the
      // caller's fresh tail, never double-counted from the layout
      .filter(col(idCol).cast("long") <= serveWatermark)
      .select(col("cluster"), col(idCol).cast("long"), col(vecCol))
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map[Int,
          (scala.collection.mutable.ArrayBuffer[Long],
            scala.collection.mutable.ArrayBuffer[Double],
            scala.collection.mutable.ArrayBuffer[Double])]()
        it.foreach { r =>
          val (ids, flat, norms) = acc.getOrElseUpdate(r.getInt(0),
            (scala.collection.mutable.ArrayBuffer[Long](),
              scala.collection.mutable.ArrayBuffer[Double](),
              scala.collection.mutable.ArrayBuffer[Double]()))
          ids += r.getLong(1)
          val v = r.getAs[scala.collection.Seq[Float]](2)
          var j = 0
          var nrm = 0.0
          while (j < v.length) {
            val x = v(j).toDouble
            flat += x; nrm += x * x; j += 1
          }
          norms += nrm
        }
        acc.iterator.map { case (cid, (ids, flat, norms)) =>
          (cid, ids.toArray, flat.toArray, norms.toArray)
        }
      }.collect()
    // merge per-partition chunks per cluster (row order is irrelevant:
    // scoring visits every resident row; ties break on value, not order)
    missing.map { cid =>
      val cs = chunks.filter(_._1 == cid)
      val n = cs.map(_._2.length).sum
      val fl = cs.map(_._3.length).sum
      val ids = new Array[Long](n)
      val flat = new Array[Double](fl)
      val norms = new Array[Double](n)
      var io = 0
      var fo = 0
      cs.foreach { case (_, cids, cflat, cnorms) =>
        System.arraycopy(cids, 0, ids, io, cids.length)
        System.arraycopy(cnorms, 0, norms, io, cnorms.length)
        System.arraycopy(cflat, 0, flat, fo, cflat.length)
        io += cids.length; fo += cflat.length
      }
      cid -> ((ids, flat, norms))
    }.toMap
  }

  // ---- quantized serving residency (16-bit codes packed at load) ----

  /** One resident cluster in QUANTIZED form: per-row 16-bit codes
    * (x̂_i = b + a·c_i), the per-row scale (a, b), the EXACT float row
    * norm (norm2 = Σx_i², packed once — the L2 score's norm term carries
    * ZERO quantization error), and the exact residual norm
    * (rerr2 = ‖x − x̂‖₂). Every metric reduces to ONE fused pass over the
    * short[] codes:
    *   dot = b·Σq + a·Σc_i q_i
    *   L2  = norm2 − 2·dot + |q|²
    * Residency is 2·dim + 48 bytes per row vs 8·dim + 24 for the exact
    * double-packed cache — ~4× more rows per byte at high dims, and the
    * scoring loop reads a quarter of the memory per row (serving is RAM-
    * bandwidth-bound at dim 960, so density is throughput).
    *
    * The only quantized quantity in ANY score is the dot term, and its
    * error is boundable per row from stored state, two ways:
    *   |dot − dôt| ≤ min( (a/2)·‖q‖₁ , ‖q‖₂·rerr2 )   (Cauchy–Schwarz)
    * The CERTIFIED serve mode uses those intervals to prove the exact
    * top-k id set, float-reranking only a boundary-ambiguous band (one
    * pruned job) when an interval overlaps the k-th boundary. The default
    * quantized mode skips certification for throughput — empirically
    * exact, approximate in principle. The float tier remains the
    * all-float exact tier. */
  protected final case class QuantCluster(ids: Array[Long], codes: Array[Short],
      scaleA: Array[Double], scaleB: Array[Double],
      norm2: Array[Double], rerr2: Array[Double])

  @transient private var quantCache =
    new java.util.LinkedHashMap[Int, QuantCluster](64, 0.75f, true)
  @transient private var quantRowsResident = 0L

  private def effectiveMaxQuantRows(dim: Int): Long =
    math.min(maxServeRows, maxServeBytes / (2L * dim + 48L))

  /** Rows resident in the quantized serving cache. */
  def servingResidentQuantRows(): Long = synchronized { quantRowsResident }

  /** One pruned job collecting `missing` clusters and packing them to
    * 16-bit codes EXECUTOR-SIDE (the load reads the same float bytes a
    * float-resident load would — the 4× win is in driver RAM and in every
    * subsequent scoring pass, not in load IO). */
  protected def loadQuantClusters(vecCol: String, missing: Array[Int])
      : Map[Int, QuantCluster] = {
    if (missing.length > IvfIndex.ColdLoadChunkClusters)
      return missing.grouped(IvfIndex.ColdLoadChunkClusters)
        .map(g => loadQuantClusters(vecCol, g)).reduce(_ ++ _)
    val chunks = clustered()
      .filter(col("cluster").isin(missing.toSeq: _*))
      .filter(col(idCol).cast("long") <= serveWatermark)
      .select(col("cluster"), col(idCol).cast("long"), col(vecCol))
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map[Int,
          (scala.collection.mutable.ArrayBuffer[Long],   // ids
            scala.collection.mutable.ArrayBuffer[Short], // codes
            scala.collection.mutable.ArrayBuffer[Double], // a
            scala.collection.mutable.ArrayBuffer[Double], // b
            scala.collection.mutable.ArrayBuffer[Double], // norm2
            scala.collection.mutable.ArrayBuffer[Double])]() // rerr2
        it.foreach { r =>
          val cell = acc.getOrElseUpdate(r.getInt(0),
            (scala.collection.mutable.ArrayBuffer[Long](),
              scala.collection.mutable.ArrayBuffer[Short](),
              scala.collection.mutable.ArrayBuffer[Double](),
              scala.collection.mutable.ArrayBuffer[Double](),
              scala.collection.mutable.ArrayBuffer[Double](),
              scala.collection.mutable.ArrayBuffer[Double]()))
          cell._1 += r.getLong(1)
          val v = r.getAs[scala.collection.Seq[Float]](2)
          var mn = Double.MaxValue
          var mx = -Double.MaxValue
          var j = 0
          while (j < v.length) {
            val x = v(j).toDouble
            if (x < mn) mn = x
            if (x > mx) mx = x
            j += 1
          }
          val a = if (mx > mn) (mx - mn) / 65535.0 else 0.0
          val inv = if (a > 0) 1.0 / a else 0.0
          var n2 = 0.0
          var re2 = 0.0
          j = 0
          while (j < v.length) {
            val x = v(j).toDouble
            val c0 = math.round((x - mn) * inv)
            val c = if (c0 < 0L) 0L else if (c0 > 65535L) 65535L else c0
            cell._2 += (c - 32768L).toShort // stored biased into Short range
            n2 += x * x
            val r0 = x - (mn + a * c) // dequantization residual
            re2 += r0 * r0
            j += 1
          }
          cell._3 += a; cell._4 += mn; cell._5 += n2
          cell._6 += math.sqrt(re2)
        }
        acc.iterator.map { case (cid, (ids, codes, as, bs, n2s, re2s)) =>
          (cid, ids.toArray, codes.toArray, as.toArray, bs.toArray,
            n2s.toArray, re2s.toArray)
        }
      }.collect()
    missing.map { cid =>
      val cs = chunks.filter(_._1 == cid)
      val n = cs.map(_._2.length).sum
      val fl = cs.map(_._3.length).sum
      val ids = new Array[Long](n)
      val codes = new Array[Short](fl)
      val as = new Array[Double](n)
      val bs = new Array[Double](n)
      val n2 = new Array[Double](n)
      val re2 = new Array[Double](n)
      var io = 0
      var fo = 0
      cs.foreach { case (_, cids, ccodes, cas, cbs, cn2, cre2) =>
        System.arraycopy(cids, 0, ids, io, cids.length)
        System.arraycopy(cas, 0, as, io, cas.length)
        System.arraycopy(cbs, 0, bs, io, cbs.length)
        System.arraycopy(cn2, 0, n2, io, cn2.length)
        System.arraycopy(cre2, 0, re2, io, cre2.length)
        System.arraycopy(ccodes, 0, codes, fo, ccodes.length)
        io += cids.length
        fo += ccodes.length
      }
      cid -> QuantCluster(ids, codes, as, bs, n2, re2)
    }.toMap
  }

  @transient private val quantReranks =
    new java.util.concurrent.atomic.AtomicLong()

  /** Quantized serves that needed a float rerank of the top-k boundary's
    * ambiguous band (one pruned job each; every other quantized serve is
    * certified exact with zero jobs warm). */
  def quantRerankCount(): Long = quantReranks.get()

  /** Run `tasks` concurrently when there is more than one — the
    * in-process analog of the reference's executor pool
    * (executor_pool.hpp:10-46); the serve sweeps' tasks read immutable
    * captured arrays. */
  private def par[A](tasks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    if (tasks.length <= 1) tasks.map(_())
    else Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
  }

  /** One cluster's bounded candidates (id, score, error bound) plus the
    * minimum score lower bound over the rows its heap discarded. */
  private type Cands = (Array[(Long, Double, Double)], Double)

  /** The shared cut for every serving tier: the proof logic is
    * tier-independent — only the scoring kernel behind `scoreAll(kPad)`
    * differs (it returns per-cluster Cands). The float tier's scores are
    * exact (error bound 0) and it never certifies.
    *
    * `certify = false`: rank by the tier's scores as-is, zero jobs.
    *
    * `certify = true`: true score ∈ [s−e, s+e] per candidate. With
    * `bound` = k-th smallest upper bound, at least k true scores are ≤
    * bound, so any row whose lower bound exceeds it is certainly out —
    * including every row a per-cluster heap discarded (minDisc > bound).
    * If exactly k candidates remain possible they ARE the exact set;
    * otherwise the possible band gets float-reranked in one pruned job. A
    * heap-discard violation widens the per-cluster band (in-RAM rescores —
    * the rows are resident; the heap only bounds candidate memory) up to
    * keeping every probed row, so certification itself never declines:
    * only an absurd rerank band (the job path is the better plan there)
    * does. */
  private def proofCut(
      scoreAll: Int => Array[Cands],
      tailLocal: Array[(Long, Double, Double)], k: Int, certify: Boolean,
      vecCol: String, probed: Array[Int], qd: Array[Double], qss: Double,
      reranks: java.util.concurrent.atomic.AtomicLong)
      : Option[(Array[(Long, Double)], Int)] = {
    // one bounded (score, id) heap merge: never sorts the candidates
    def topK(cands: Iterator[(Long, Double, Double)]): Array[(Long, Double)] = {
      val heap = new graft.functions.TopKHeap(k)
      cands.foreach(c => heap.offer(c._2, c._1))
      heap.sortedPairs.map { case (d, id) => (id, d) }
    }
    if (!certify)
      return Some((topK(scoreAll(k).iterator.flatMap(_._1) ++ tailLocal), 0))
    for (pad <- Seq(16, 256, Int.MaxValue - k)) {
      val kPad = k + pad
      val perCluster = scoreAll(kPad)
      val all = perCluster.flatMap(_._1) ++ tailLocal
      if (all.length <= k) return Some((topK(all.iterator), 0))
      val ubs = all.map(c => c._2 + c._3).sorted
      val bound = ubs(k - 1)
      val minDisc = perCluster.foldLeft(Double.PositiveInfinity)(
        (m, c) => math.min(m, c._2))
      if (minDisc > bound) {
        val possible = all.filter(c => c._2 - c._3 <= bound)
        if (possible.length == k) return Some((topK(possible.iterator), 0))
        val need = possible.collect { case (id, _, e) if e > 0.0 => id }
        // a pathological band (near-tie mass) would push-down thousands
        // of ids into one filter — the job path is the better plan there
        if (need.length > 10000) return None
        return rerankExact(vecCol, need, probed, qd, qss) match {
          case Some(m) =>
            reranks.incrementAndGet()
            val fixed = possible.map(c =>
              (c._1, if (c._3 == 0.0) c._2 else m(c._1), 0.0))
            Some((topK(fixed.iterator), need.length))
          case None => None // racing rebuild relocated a band id
        }
      }
    }
    None // unreachable: the final all-rows pass discards nothing
  }

  // ---- PQ serving residency (m-byte ADC codes resident) ----

  /** One resident cluster in PRODUCT-QUANTIZED form: row-major m-byte
    * codes plus the persisted per-row reconstruction error ‖x − x̂‖₂
    * (`__pqerr`, written at build/append). Residency is m + 24 bytes per
    * row — at dim 960 (m = 120) that is ~14× the rows per byte of the
    * 16-bit tier and ~66× the float tier, and a cold load moves m + 8
    * payload bytes per row instead of 4·dim (the float column never
    * leaves parquet). Scoring is m table lookups per row (ADC — see
    * PqCodebook). Certification bounds from the stored error e:
    *   L2:  adc = d(q,x̂)² exactly → |d(q,x)² − adc| ≤ 2·√adc·e + e²
    *        (triangle inequality |d(q,x) − d(q,x̂)| ≤ e, squared)
    *   dot: |q·x − q·x̂| ≤ ‖q‖₂·e (Cauchy–Schwarz; cosine: q unit). */
  /** `rowConst` is the query-independent residual-L2 term
    * 2·centroid·r̂ + ‖r̂‖², precomputed once at load so EVERY query scores
    * with ONE shared lut (−2q·cent) + per-cluster ‖q−centroid‖² + this
    * per-row scalar — a per-cluster lut (the naive residual-L2 shape)
    * thrashes the cache at dim 960 and halved throughput when measured.
    * Zeros for absolute layouts and dot/cosine. */
  protected final case class PqServeCluster(ids: Array[Long],
      codes: Array[Byte], err: Array[Double], rowConst: Array[Double])

  @transient private var pqCache =
    new java.util.LinkedHashMap[Int, PqServeCluster](64, 0.75f, true)
  @transient private var pqRowsResident = 0L

  private def effectiveMaxPqRows(m: Int): Long =
    math.min(maxServeRows, maxServeBytes / (m + 24L))

  /** Rows resident in the PQ serving cache. */
  def servingResidentPqRows(): Long = synchronized { pqRowsResident }

  /** PQ serves that needed a float rerank of the boundary-ambiguous band. */
  @transient private val pqReranks =
    new java.util.concurrent.atomic.AtomicLong()
  def pqRerankCount(): Long = pqReranks.get()

  /** One pruned job collecting `missing` clusters' code + error columns. */
  protected def loadPqClusters(missing: Array[Int], m: Int)
      : Map[Int, PqServeCluster] = {
    if (missing.length > IvfIndex.ColdLoadChunkClusters)
      return missing.grouped(IvfIndex.ColdLoadChunkClusters)
        .map(g => loadPqClusters(g, m)).reduce(_ ++ _)
    val chunks = clustered()
      .filter(col("cluster").isin(missing.toSeq: _*))
      .filter(col(idCol).cast("long") <= serveWatermark)
      .select(col("cluster"), col(idCol).cast("long"), col("__pqcode"),
        col("__pqerr"))
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map[Int,
          (scala.collection.mutable.ArrayBuffer[Long],
            scala.collection.mutable.ArrayBuffer[Byte],
            scala.collection.mutable.ArrayBuffer[Double])]()
        var broken = false
        it.foreach { r =>
          val codes = r.getAs[Array[Byte]](2)
          if (codes.length != m) broken = true
          else {
            val cell = acc.getOrElseUpdate(r.getInt(0),
              (scala.collection.mutable.ArrayBuffer[Long](),
                scala.collection.mutable.ArrayBuffer[Byte](),
                scala.collection.mutable.ArrayBuffer[Double]()))
            cell._1 += r.getLong(1)
            cell._2 ++= codes
            cell._3 += r.getDouble(3)
          }
        }
        if (broken)
          Iterator.single((-1, Array.empty[Long], Array.empty[Byte],
            Array.empty[Double]))
        else acc.iterator.map { case (cid, (ids, codes, errs)) =>
          (cid, ids.toArray, codes.toArray, errs.toArray)
        }
      }.collect()
    // code length disagreeing with the codebook = broken layout (codebook
    // lost, then restored): refuse to rank garbage — the thrown error is a
    // failed attempt in the serve skeleton, which declines to the job path
    if (chunks.exists(_._1 == -1)) throw new IllegalStateException(
      "PQ layout holds codes inconsistent with the codebook")
    // residual L2: per-row query-independent constant 2c·r̂ + ‖r̂‖², via a
    // per-cluster lut over the codebook (built once per cold load; m
    // lookups per row) — the price of a SHARED per-query scoring lut
    val residL2 = pqResidualCoding() && metric == MetricType.Euclidean
    val cb = if (residL2) pqCodebook() else None
    val centById = if (residL2) centroids().toMap else Map.empty[Int, Array[Float]]
    missing.map { cid =>
      val cs = chunks.filter(_._1 == cid)
      val n = cs.map(_._2.length).sum
      val ids = new Array[Long](n)
      val codes = new Array[Byte](n * m)
      val errs = new Array[Double](n)
      var io = 0
      cs.foreach { case (_, cids, ccodes, cerrs) =>
        System.arraycopy(cids, 0, ids, io, cids.length)
        System.arraycopy(cerrs, 0, errs, io, cerrs.length)
        System.arraycopy(ccodes, 0, codes, io * m, ccodes.length)
        io += cids.length
      }
      val rowConst = new Array[Double](n)
      cb.foreach { b =>
        val c = centById(cid)
        val span = b.m * b.ksub
        // lut2[sub,code] = 2·c_sub·cent + ‖cent‖²
        val lut2 = new Array[Double](span)
        var sub = 0
        while (sub < b.m) {
          var cc = 0
          while (cc < b.ksub) {
            val off = b.centOffset(sub, cc)
            var acc = 0.0
            var j = 0
            while (j < b.dsub) {
              val e = b.cents(off + j).toDouble
              val cv = if (sub * b.dsub + j < c.length) c(sub * b.dsub + j).toDouble else 0.0
              acc += 2.0 * cv * e + e * e
              j += 1
            }
            lut2(sub * b.ksub + cc) = acc
            cc += 1
          }
          sub += 1
        }
        var i = 0
        while (i < n) {
          var acc = 0.0
          var s = 0
          while (s < m) { acc += lut2(s * b.ksub + (codes(i * m + s) & 0xff)); s += 1 }
          rowConst(i) = acc
          i += 1
        }
      }
      cid -> PqServeCluster(ids, codes, errs, rowConst)
    }.toMap
  }

  /** Serve-side ADC tables: (sorted probed ids, ONE shared lut,
    * per-cluster consts) for the layout's coding scheme — see the
    * decomposition note at the call site; rowConst carries the per-row
    * remainder for residual L2. */
  private def pqServeLuts(cb: PqCodebook, probed: Array[Int],
      q: Array[Float]): (Array[Int], Array[Double], Array[Double]) = {
    val sorted = probed.sorted
    val consts = new Array[Double](sorted.length)
    if (!pqResidualCoding()) {
      val lut = if (metric == MetricType.Euclidean) cb.lutL2(q) else cb.lutNegDot(q)
      return (sorted, lut, consts)
    }
    val centMap = centroids().toMap
    if (metric == MetricType.Euclidean) {
      val lut = cb.lutNegDot(q)
      var t = 0
      while (t < lut.length) { lut(t) = 2.0 * lut(t); t += 1 } // −2q·cent
      var i = 0
      while (i < sorted.length) {
        val c = centMap(sorted(i))
        var acc = 0.0
        var j = 0
        while (j < q.length) {
          val d = q(j).toDouble - (if (j < c.length) c(j) else 0f)
          acc += d * d
          j += 1
        }
        consts(i) = acc // ‖q − centroid‖²
        i += 1
      }
      (sorted, lut, consts)
    } else {
      val lut = cb.lutNegDot(q)
      var i = 0
      while (i < sorted.length) {
        val c = centMap(sorted(i))
        var dot = 0.0
        var j = 0
        while (j < q.length) { dot += q(j).toDouble * c(j); j += 1 }
        consts(i) = -dot
        i += 1
      }
      (sorted, lut, consts)
    }
  }

  /** Exact float scores for the boundary-ambiguous ids: ONE job, pruned
    * to the probed cluster dirs with the id list pushed down. Scores use
    * the same norm-form kernel as the float serve tier so merged
    * orderings are consistent. None (→ decline) when a racing rebuild
    * relocated any requested id out of the probed clusters. */
  private def rerankExact(vecCol: String, ids: Array[Long],
      probed: Array[Int], qd: Array[Double], qss: Double)
      : Option[Map[Long, Double]] =
    try {
      if (ids.isEmpty) return Some(Map.empty)
      val l2Metric = metric == MetricType.Euclidean
      val cosMetric = metric == MetricType.Cosine
      val rows = clustered()
        .filter(col("cluster").isin(probed.toSeq: _*))
        .filter(col(idCol).cast("long").isin(ids.toSeq: _*))
        .select(col(idCol).cast("long"), col(vecCol))
        .collect()
      val m = rows.iterator.map { r =>
        val v = r.getAs[scala.collection.Seq[Float]](1)
        var dot = 0.0
        var nrm = 0.0
        var j = 0
        while (j < v.length) {
          val x = v(j).toDouble
          dot += x * qd(j); nrm += x * x; j += 1
        }
        val d =
          if (l2Metric) nrm - 2.0 * dot + qss
          else if (cosMetric) 1.0 - dot
          else -dot
        r.getLong(0) -> d
      }.toMap
      if (ids.forall(m.contains)) Some(m) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Low-latency top-K answered on the DRIVER from the resident serving
    * caches, for a batch of queries (a single query is a batch of one) —
    * the reference's in-process search (vec_search_executor.cpp:833-935),
    * one entry point for every serving cell:
    *   - `tier`: the resident form swept. `Float` is the all-float exact
    *     tier; `Quantized` (16-bit codes) and `Pq` (ADC codes) rank by
    *     code scores, or with `certify` return a PROVEN-exact id set
    *     (boundary-ambiguous rows float-reranked in one pruned job — see
    *     proofCut; `reranked` counts them). PQ is a lossy ~32× compression:
    *     uncertified, expect real rank flips on close pairs.
    *   - `probe`: the `nProbe` nearest clusters, or (`Recall`) the ball
    *     cover PROVING recall ≥ target (`coverFromCounts`; 1.0 = exact).
    *     On the code tiers a cover forces certification — the proof is the
    *     composition cover × certified top-k of the cover's candidates.
    *   - `conds`: a conjunction over the declared resident columns (empty
    *     = unfiltered), evaluated EXACTLY over scalar residency into a
    *     passing-id mask (`withPassingMask`) — the job path's
    *     filter-then-topk over the same probe set (the reference evaluates
    *     the filter during the walk, vec_search_executor.cpp:905-928).
    *     Under a cover, per-cluster PASSING counts make it a filtered
    *     cover (recall ≥ target over the filtered rows).
    *
    * Serving answers FROM THE INDEX plus an optional caller-supplied
    * `freshTail` (rows above the serving pin, packed via
    * `IvfIndex.packRows`, scored exactly) — the in-process analog of the
    * reference's graph-over-prefix + brute-force-tail merge
    * (vec_search_executor.cpp:885-904). With `conds` the tail must be
    * PRE-FILTERED by the caller (the resident mask does not cover it).
    * `exclude` masks known-dead ids.
    *
    * The batch shares ONE snapshot handshake, ONE union cold load and
    * ONE row sweep (each resident row is read from RAM once and scored
    * for every query probing its cluster — dense serving at high dim is
    * RAM-bandwidth-bound); each query's answer equals the query served
    * alone: same probes, scores, (distance, id) tie-break and proof.
    * Returns per query, in input order, the hits best first, the rows
    * reranked and the probe set swept; None = that query declines to the
    * job path (over budget, thrash, a pathological rerank band, an
    * undeclared filter column, a wrong dimension, a pre-PQ layout). A
    * batch-wide failure (union over budget, churn, mixed dimensions)
    * degrades to per-query serves — batch membership never changes a
    * query's outcome; a batch of one declines. Each None counts one
    * serve decline; degrading counts nothing. */
  def serve(vecCol: String, queries: Array[Array[Float]], k: Int,
      tier: ServeTier, probe: ServeProbe,
      conds: Seq[graft.filter.SimpleConjuncts.Cond],
      exclude: Long => Boolean,
      freshTail: Option[(Array[Long], Array[Double], Array[Double])])
      : Array[Option[Served]] = {
    def attempt(qs: Array[Array[Float]]) =
      serveBatch(vecCol, qs, k, tier, probe, conds, exclude, freshTail)
    val out: Array[Option[Served]] =
      if (queries.isEmpty) Array.empty
      else attempt(queries).getOrElse(
        if (queries.length == 1) Array(None)
        else queries.map(q => attempt(Array(q)).flatMap(_.head)))
    declines.addAndGet(out.count(_.isEmpty).toLong)
    out
  }

  /** One attempt at the whole batch; None = a batch-wide failure. Takes
    * the RAW queries: a degraded per-query serve re-normalizes a cosine
    * query from its raw vector (re-normalizing a normalized one can move
    * the last ulp). */
  private def serveBatch(vecCol: String, raw: Array[Array[Float]], k: Int,
      tier: ServeTier, probe: ServeProbe,
      conds: Seq[graft.filter.SimpleConjuncts.Cond],
      exclude: Long => Boolean,
      freshTail: Option[(Array[Long], Array[Double], Array[Double])])
      : Option[Array[Option[Served]]] = {
    val qs = if (metric == MetricType.Cosine) raw.map(IvfIndex.normalize) else raw
    val dim = qs(0).length
    if (qs.exists(_.length != dim)) return None // mixed dims: per-query guards
    // stored-dim guard: resident rows are packed at the stored dim — a
    // wrong-length query declines, never misreads or throws
    val fits = tier match {
      case ServeTier.Pq(_) => pqCodebook().exists(_.dim == dim) &&
        clustered().columns.contains("__pqerr") // else a pre-PQ layout
      case _ => !centroids().headOption.exists(_._2.length != dim)
    }
    if (!fits || !conds.forall(c => filterColsDecl.contains(c.col)))
      return Some(Array.fill(qs.length)(None))
    val certify = tier match {
      case ServeTier.Float => false
      case ServeTier.Quantized(c) => c || probe.isInstanceOf[ServeProbe.Recall]
      case ServeTier.Pq(c) => c || probe.isInstanceOf[ServeProbe.Recall]
    }
    val tailIds = freshTail.map(_._1).getOrElse(Array.empty[Long])
    def sweepOver(p: ServeProbe, ex: Long => Boolean) =
      sweep(vecCol, qs, k, tier, certify, () => resolveProbes(qs, k, p), ex,
        freshTail)
    probe match {
      case ServeProbe.Recall(_, _) =>
        // covers are DERIVED STATE: computed and swept under one pin (a
        // same-watermark rebuild in between would serve the new generation
        // under a stale cover with no recall proof) — withPassingMask
        // re-verifies it, over ALL clusters when filtered (every indexed
        // row lives in exactly one, so the union is the id universe)
        withPassingMask(conds, exclude, tailIds, () => centroids().map(_._1)) {
          (ex, counts) =>
            sweepOver(ServeProbe.Sets(resolveProbes(qs, k, probe, counts())), ex)
        }
      case _ =>
        // the sweep resolves a nearest-cluster probe under the instance
        // lock, ranking only clusters holding rows: read any counts that
        // takes (a Spark job when cold) outside it
        if (probe.isInstanceOf[ServeProbe.Nearest]) heldCentroids()
        // fixed probe sets: the mask (if any) covers their union — a
        // superset mask stays exact for a query probing any subset
        if (conds.isEmpty) sweepOver(probe, exclude)
        else withPassingMask(conds, exclude, tailIds,
          () => resolveProbes(qs, k, probe).flatten.distinct)(
          (ex, _) => sweepOver(probe, ex))
    }
  }

  // ---- adapters kept for perfbench/: the benchmark harness replays
  // these calls and is versioned with its recorded metrics, so it keeps
  // its call sites; each adapter is one `serve` call ----

  def servePointRecall(vecCol: String, query: Array[Float], k: Int,
      target: Double, exclude: Long => Boolean = _ => false,
      freshTail: Option[(Array[Long], Array[Double], Array[Double])] = None,
      slack: Long = 0L): Option[Array[(Long, Double)]] =
    serve(vecCol, Array(query), k, ServeTier.Float,
      ServeProbe.Recall(target, slack), Nil, exclude, freshTail).head.map(_.hits)

  def servePointFilteredRecall(vecCol: String, query: Array[Float], k: Int,
      target: Double, conds: Seq[graft.filter.SimpleConjuncts.Cond],
      exclude: Long => Boolean = _ => false,
      freshTail: Option[(Array[Long], Array[Double], Array[Double])] = None,
      slack: Long = 0L): Option[Array[(Long, Double)]] =
    serve(vecCol, Array(query), k, ServeTier.Float,
      ServeProbe.Recall(target, slack), conds, exclude, freshTail).head.map(_.hits)

  def servePointQuantizedRecallDetail(vecCol: String, query: Array[Float],
      k: Int, target: Double, exclude: Long => Boolean = _ => false,
      freshTail: Option[(Array[Long], Array[Double], Array[Double])] = None,
      slack: Long = 0L): Option[(Array[(Long, Double)], Int)] =
    serve(vecCol, Array(query), k, ServeTier.Quantized(certify = true),
      ServeProbe.Recall(target, slack), Nil, exclude, freshTail)
      .head.map(s => (s.hits, s.reranked))

  /** `probeSets` (aligned with `queries`) replaces the nearest-nProbe
    * selection per query. */
  def servePointBatch(vecCol: String,
      queries: Array[(Long, Array[Float])], k: Int, nProbe: Int,
      exclude: Long => Boolean = _ => false,
      freshTail: Option[(Array[Long], Array[Double], Array[Double])] = None,
      probeSets: Option[Array[Array[Int]]] = None)
      : Array[(Long, Option[Array[(Long, Double)]])] =
    queries.map(_._1).zip(serve(vecCol, queries.map(_._2), k, ServeTier.Float,
      probeSets.fold[ServeProbe](ServeProbe.Nearest(nProbe))(ServeProbe.Sets),
      Nil, exclude, freshTail).map(_.map(_.hits)))

  // ---- attribute-filtered serving: declared scalar columns resident ----

  /** One resident cluster of DECLARED filter-column values. Row order is
    * internal to this cluster (NOT aligned with the vector cache — the two
    * load in separate jobs); evaluation produces an id SET, which the
    * sweep masks by id, so alignment is never needed. Nulls fail every
    * comparison (SQL three-valued logic collapses to false under a
    * filter). */
  protected sealed trait ScalarVals { def length: Int }
  protected final case class LongVals(vs: Array[Long], nulls: Array[Boolean])
    extends ScalarVals { def length: Int = vs.length }
  protected final case class DblVals(vs: Array[Double], nulls: Array[Boolean])
    extends ScalarVals { def length: Int = vs.length }
  protected final case class StrVals(vs: Array[String])
    extends ScalarVals { def length: Int = vs.length }
  protected final case class BoolVals(vs: Array[Boolean], nulls: Array[Boolean])
    extends ScalarVals { def length: Int = vs.length }
  protected final case class ScalarCluster(ids: Array[Long],
      cols: Map[String, ScalarVals])

  // declared filter columns are PERSISTED next to the layout
  // (serve_cols.json) so follower processes opening the same root serve
  // filtered queries without an out-of-band re-declaration — read once
  // at construction; setServeFilterColumns rewrites atomically
  def serveColsPath = s"$path/serve_cols.json"
  @volatile private var filterColsDecl: Seq[String] =
    IvfIndex.readServeCols(serveColsPath)
  @transient private var scalarCache =
    new java.util.LinkedHashMap[Int, ScalarCluster](64, 0.75f, true)
  @transient private var scalarRowsResident = 0L
  // evaluated passing-id sets, keyed by (conjunction, pin, probe set): the
  // per-query cost of a REPEATED filter is one hash-set lookup per row in
  // the sweep, not a re-evaluation over every resident scalar
  @transient private val passCache =
    new java.util.LinkedHashMap[(String, Long, Seq[Int]), java.util.HashSet[java.lang.Long]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Seq[Int]), java.util.HashSet[java.lang.Long]])
          : Boolean = size() > 32
    }
  // per-cluster PASSING counts for the recall covers, same key discipline
  @transient private val passCountCache =
    new java.util.LinkedHashMap[(String, Long, Seq[Int]), Map[Int, Long]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Seq[Int]), Map[Int, Long]])
          : Boolean = size() > 32
    }

  /** Scalar-residency row cap: a scalar row costs ~id + a few primitive
    * columns (estimated 48 B per declared column incl. boxing/slack —
    * STRING columns can exceed the estimate; declare short keys, not
    * documents), so gating scalar acquisitions by the VECTOR tier's row
    * cap was wrong in both directions — at dim 960 it declined a 12 MB
    * all-cluster pass-set build because the FLOAT budget says 278k rows.
    * Vector feasibility is still enforced by the sweeps' own guards; this
    * cap only bounds the scalar bytes themselves. */
  private def effectiveMaxScalarRows: Long =
    math.min(maxServeRows,
      maxServeBytes / (48L * math.max(1, filterColsDecl.size)))

  /** Declare the scalar columns held resident for attribute-filtered
    * serving (flushes scalar residency; vector residency stays warm).
    * Empty = filtered requests always decline to the job path. The
    * declaration is persisted next to the layout, so follower processes
    * opening the root later inherit it (instances already open keep
    * their construction-time view until they re-declare). */
  def setServeFilterColumns(cols: Seq[String]): Unit = synchronized {
    filterColsDecl = cols.distinct
    scalarCache.clear(); scalarRowsResident = 0L
    passCache.clear(); passCountCache.clear()
    IvfIndex.writeServeCols(serveColsPath, filterColsDecl)
  }
  def serveFilterColumns(): Seq[String] = filterColsDecl

  /** One pruned job collecting `missing` clusters' declared filter columns.
    * Scalar rows are a few dozen bytes each, so a driver-side pack of the
    * collected Rows is fine (the executor-side packing the VECTOR loads
    * need exists to avoid boxed float seqs — two orders of magnitude
    * larger per row). */
  protected def loadScalarClusters(missing: Array[Int]): Map[Int, ScalarCluster] = {
    // scalar rows are light, but the all-cluster pass-set build still
    // collects the whole id universe — chunk like the vector loads
    if (missing.length > IvfIndex.ColdLoadChunkClusters)
      return missing.grouped(IvfIndex.ColdLoadChunkClusters)
        .map(loadScalarClusters).reduce(_ ++ _)
    val colsDecl = filterColsDecl
    val proj = Seq(col("cluster"), col(idCol).cast("long").as(idCol)) ++
      colsDecl.map(col)
    val df = clustered()
      .filter(col("cluster").isin(missing.toSeq: _*))
      .filter(col(idCol).cast("long") <= serveWatermark)
      .select(proj: _*)
    val types = df.schema.fields.drop(2).map(_.dataType)
    val rows = df.collect()
    missing.map { cid =>
      val mine = rows.filter(_.getInt(0) == cid)
      val n = mine.length
      val ids = Array.tabulate(n)(j => mine(j).getLong(1))
      val packed: Map[String, ScalarVals] = colsDecl.zipWithIndex.map {
        case (c, ci) =>
          val fi = 2 + ci
          val vals: ScalarVals = types(ci) match {
            case ByteType | ShortType | IntegerType | LongType =>
              val vs = new Array[Long](n); val nl = new Array[Boolean](n)
              var j = 0
              while (j < n) {
                if (mine(j).isNullAt(fi)) nl(j) = true
                else vs(j) = mine(j).get(fi).asInstanceOf[Number].longValue
                j += 1
              }
              LongVals(vs, nl)
            case FloatType | DoubleType =>
              val vs = new Array[Double](n); val nl = new Array[Boolean](n)
              var j = 0
              while (j < n) {
                if (mine(j).isNullAt(fi)) nl(j) = true
                else vs(j) = mine(j).get(fi).asInstanceOf[Number].doubleValue
                j += 1
              }
              DblVals(vs, nl)
            case StringType =>
              StrVals(Array.tabulate(n)(j =>
                if (mine(j).isNullAt(fi)) null else mine(j).getString(fi)))
            case BooleanType =>
              val vs = new Array[Boolean](n); val nl = new Array[Boolean](n)
              var j = 0
              while (j < n) {
                if (mine(j).isNullAt(fi)) nl(j) = true
                else vs(j) = mine(j).getBoolean(fi)
                j += 1
              }
              BoolVals(vs, nl)
            case other => throw new IllegalStateException(
              s"serve filter column $c has non-scalar type $other")
          }
          c -> vals
      }.toMap
      cid -> ScalarCluster(ids, packed)
    }.toMap
  }

  /** Pin re-verify: true iff the serving snapshot still matches the one
    * a pass set was built at. */
  private def pinStable(key: (Long, Long), wm: Long): Boolean =
    synchronized { ensureServeFresh(); serveKey == key && serveWatermark == wm }

  /** COMPLETE passing-id verdict for ids ≤ the serving pin: the
    * conjunction evaluated over scalar residency covering ALL clusters
    * (every indexed row lives in exactly one, so the union IS the
    * indexed id universe). This is the mask OTHER serving tiers borrow —
    * the hybrid keyword side's sparse candidate walk masks by it to
    * serve filter-then-rank without a scalar residency of its own.
    * Returns (set, pin key, pin watermark); the caller pairs it with its
    * own verdict for ids ABOVE the pin (the pre-filtered tail sidecar)
    * and re-verifies via [[pinStableFor]] after its sweep. None =
    * undeclared column or over-budget residency. */
  def passingIdSet(conds: Seq[graft.filter.SimpleConjuncts.Cond])
      : Option[(java.util.HashSet[java.lang.Long], (Long, Long), Long)] = {
    if (conds.isEmpty || !conds.forall(c => filterColsDecl.contains(c.col)))
      return decline
    val dim = centroids().headOption.map(_._2.length).getOrElse(return decline)
    var union: Array[Int] = null
    acquireResident[ScalarCluster](
      scalarCache, _.ids.length.toLong,
      () => scalarRowsResident, v => scalarRowsResident = v,
      effectiveMaxScalarRows,
      () => { union = centroids().map(_._1); union },
      loadScalarClusters) match {
      case None => decline
      case Some((scalars, pinKey, pinWm)) =>
        Some((passingIds(conds, union.map(scalars), union, pinWm),
          pinKey, pinWm))
    }
  }

  /** Public pin re-verify for derived state built from [[passingIdSet]]. */
  def pinStableFor(key: (Long, Long), wm: Long): Boolean = pinStable(key, wm)

  /** Declared-column values for the given ids from scalar residency over
    * the query's probe set — the serve-path FACET source (facets
    * aggregate the post-limit result, ≤ k driver-resident rows, so the
    * lookup is the only data the aggregation needs). Values align with
    * serveFilterColumns(); integral types are widened to Long and floats
    * to Double (both exact — the caller casts back by schema). None =
    * nothing declared, over budget, or an id not found in the probed
    * residency (a racing rebuild relocated it) — the caller declines. */
  def scalarRowsFor(ids: Array[Long], query: Array[Float], nProbe: Int,
      probeSet: Option[Array[Int]] = None)
      : Option[Map[Long, Array[AnyRef]]] = {
    val cols = filterColsDecl
    if (cols.isEmpty) return decline
    if (ids.isEmpty) return Some(Map.empty)
    val q = if (metric == MetricType.Cosine) IvfIndex.normalize(query) else query
    if (centroids().headOption.exists(_._2.length != q.length)) return decline
    acquireResident[ScalarCluster](
      scalarCache, _.ids.length.toLong,
      () => scalarRowsResident, v => scalarRowsResident = v,
      effectiveMaxScalarRows,
      // the lookup must cover the clusters the HITS came from — an
      // explicit probe set (recallTarget covers) overrides nearest-nProbe
      () => resolveProbes(Array(q), 0, probeSet.fold[ServeProbe](
        ServeProbe.Nearest(nProbe))(p => ServeProbe.Sets(Array(p)))).head,
      loadScalarClusters) match {
      case None => decline
      case Some((scalars, _, _)) =>
        val want = new java.util.HashSet[java.lang.Long]()
        ids.foreach(id => want.add(id))
        val out = Map.newBuilder[Long, Array[AnyRef]]
        scalars.values.foreach { sc =>
          var j = 0
          while (j < sc.ids.length) {
            if (want.contains(sc.ids(j)))
              out += sc.ids(j) -> cols.map(c => scalarValueAt(sc.cols(c), j)).toArray
            j += 1
          }
        }
        val m = out.result()
        if (ids.forall(m.contains)) Some(m) else None
    }
  }

  private def scalarValueAt(vs: ScalarVals, j: Int): AnyRef = vs match {
    case LongVals(v, nl) => if (nl(j)) null else java.lang.Long.valueOf(v(j))
    case DblVals(v, nl) => if (nl(j)) null else java.lang.Double.valueOf(v(j))
    case StrVals(v) => v(j)
    case BoolVals(v, nl) => if (nl(j)) null else java.lang.Boolean.valueOf(v(j))
  }

  /** The ball cover: the probe set PROVING recall ≥ `target` at cut `k`
    * over the rows `counts` counts per cluster — every row for
    * `probeSetForRecall`, the rows PASSING a conjunction for a filtered
    * cover (an unfiltered cover bounds the UNFILTERED top-k; filtered
    * matches may rank past it, and passing counts restore the bound).
    *
    * With d_c = ‖q − centroid_c‖₂ and radius r_c, every row of c has true
    * distance within [d_c − r_c, d_c + r_c] (triangle inequality). Take
    * clusters by ascending UPPER bound until their counts cover
    * ⌈target·k⌉ rows — the worst of those upper bounds, U, bounds the
    * true ⌈target·k⌉-th best distance. Any cluster with d_c − r_c > U
    * provably holds none of the top ⌈target·k⌉ (d_c − r_c lower-bounds
    * every member, passing ones included), so probing the rest returns
    * AT LEAST the exact top-⌈target·k⌉ ⇒ recall@k ≥ target; target 1.0
    * is fully exact (the brute-force-threshold spirit of
    * vec_search_executor.hpp:28, without the fixed threshold).
    *
    * Euclidean bounds directly; cosine rides the same L2 geometry (rows
    * are stored normalized, and cosine top-k of unit vectors == L2
    * top-k). Dot product has no triangle inequality → probe everything;
    * so do missing radii or counts (`counts` is read only when needed).
    * Clusters with unknown radius/count are always probed and never
    * tighten U (partial radii stay conservative). `slack` widens the
    * cover target (callers add their tombstone count: masked rows might
    * occupy the cover, pushing true answers past U otherwise). `q` is
    * already metric-normalized. */
  private def coverFromCounts(q: Array[Float], k: Int, target: Double,
      slack: Long, counts: => Option[Map[Int, Long]]): Array[Int] = {
    val cents = centroids()
    val all = cents.map(_._1)
    if (metric == MetricType.DotProduct) return all
    val radii = clusterRadii().getOrElse(return all)
    val cnt = counts.getOrElse(return all)
    val kGoal = math.max(1L, math.ceil(target * k).toLong) + slack
    val ds = cents.map { case (cid, c) =>
      (cid, math.sqrt(IvfIndex.dist(MetricType.Euclidean, c, q)))
    }
    val known = ds.filter { case (cid, _) =>
      radii.contains(cid) && cnt.contains(cid)
    }
    if (known.isEmpty) return all
    val byUb = known.map { case (cid, d) => (cid, d + radii(cid), cnt(cid)) }
      .sortBy(_._2)
    var cum = 0L
    var u = Double.PositiveInfinity
    var i = 0
    while (i < byUb.length && cum < kGoal) {
      cum += byUb(i)._3; u = byUb(i)._2; i += 1
    }
    if (cum < kGoal) return all // fewer certain rows than the cover needs
    ds.filter { case (cid, d) =>
      !radii.contains(cid) || !cnt.contains(cid) || d - radii(cid) <= u
    }.map(_._1)
  }

  /** The pin skeleton of every serve that builds DERIVED state (a
    * passing-id set, a recall cover) outside the sweep's own handshake:
    * with `conds`, acquire scalar residency over `probeUnion`'s clusters
    * and evaluate the conjunction to a passing-id set; run `inner` with
    * the composed exclusion mask and the per-cluster counts a cover needs
    * (PASSING counts filtered, `clusterStats()` unfiltered); then
    * RE-VERIFY the serving pin. `inner` (the sweep) does its own snapshot
    * handshake, so a full rebuild landing in between that changes
    * cluster MEMBERSHIP but not the watermark would otherwise let the
    * sweep serve a generation the pass set or cover does not describe
    * (passing rows relocated into newly-probed clusters silently
    * excluded, or a cover with no recall proof, from a response still
    * marked served). On pin mismatch the whole attempt retries from
    * scratch; persistent churn gives up (None). `tailIds0`
    * (caller-pre-filtered fresh-tail rows) bypass the resident mask —
    * the pass set doesn't cover them. The scalar acquisition is gated by
    * its OWN cap (effectiveMaxScalarRows — scalar rows are far lighter
    * than any vector/code row); the sweep's residency guards still gate
    * the vector/code bytes. */
  private def withPassingMask[R](
      conds: Seq[graft.filter.SimpleConjuncts.Cond],
      exclude: Long => Boolean,
      tailIds0: Array[Long],
      probeUnion: () => Array[Int])(
      inner: (Long => Boolean, () => Option[Map[Int, Long]]) => Option[R])
      : Option[R] = {
    lazy val tailIds = {
      val s = new java.util.HashSet[java.lang.Long]()
      tailIds0.foreach(id => s.add(id))
      s
    }
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      val (mask, counts, pinKey, pinWm): (Long => Boolean,
          () => Option[Map[Int, Long]], (Long, Long), Long) =
        if (conds.isEmpty) {
          val (key, wm) = synchronized { ensureServeFresh(); (serveKey, serveWatermark) }
          (exclude, () => clusterStats(), key, wm)
        } else {
          var union: Array[Int] = null
          val (scalars, key, wm) = acquireResident[ScalarCluster](
            scalarCache, _.ids.length.toLong,
            () => scalarRowsResident, v => scalarRowsResident = v,
            effectiveMaxScalarRows,
            () => { union = probeUnion(); union },
            loadScalarClusters).getOrElse(return None)
          val pass = passingIds(conds, union.map(scalars), union, wm)
          (id => exclude(id) || (!pass.contains(id) && !tailIds.contains(id)),
            () => Some(passingCounts(conds, scalars, union, pass, wm)), key, wm)
        }
      inner(mask, counts) match {
        case None => return None // inner declined on its own terms
        case some =>
          if (pinStable(pinKey, pinWm)) return some
        // else: a rebuild raced the pass set / cover — retry from scratch
      }
    }
    None
  }

  /** Per-cluster PASSING counts (a filtered cover's count input), cached
    * next to the pass set under the same key discipline — recomputing
    * them is an O(corpus) hash walk per serve, a visible tax at 500k
    * rows. */
  private def passingCounts(conds: Seq[graft.filter.SimpleConjuncts.Cond],
      scalars: Map[Int, ScalarCluster], clusters: Array[Int],
      pass: java.util.HashSet[java.lang.Long], pinWm: Long): Map[Int, Long] = {
    val countKey = (graft.filter.SimpleConjuncts.key(conds), pinWm,
      clusters.sorted.toSeq)
    val cached = synchronized { passCountCache.get(countKey) }
    if (cached != null) return cached
    val m = clusters.map { cid =>
      val sc = scalars(cid)
      var n = 0L
      var j = 0
      while (j < sc.ids.length) {
        if (pass.contains(sc.ids(j))) n += 1
        j += 1
      }
      cid -> n
    }.toMap
    synchronized { passCountCache.put(countKey, m) }
    m
  }

  /** Ids passing the conjunction among the given scalar clusters, cached
    * per (conjunction, pin, cluster set). */
  private def passingIds(conds: Seq[graft.filter.SimpleConjuncts.Cond],
      scalars: Array[ScalarCluster], clusters: Array[Int], pinWm: Long)
      : java.util.HashSet[java.lang.Long] = {
    import graft.filter.SimpleConjuncts._
    val cacheKey = (key(conds), pinWm, clusters.sorted.toSeq)
    val hit = synchronized { passCache.get(cacheKey) }
    if (hit != null) return hit
    val s = new java.util.HashSet[java.lang.Long](1 << 16)
    scalars.foreach { sc =>
      val n = sc.ids.length
      var j = 0
      while (j < n) {
        var ok = true
        var ci = 0
        while (ok && ci < conds.length) {
          val c = conds(ci)
          ok = (sc.cols.getOrElse(c.col, null), c.value) match {
            case (LongVals(vs, nl), l: NumLit) => !nl(j) && evalLong(c.op, vs(j), l)
            case (DblVals(vs, nl), l: NumLit) => !nl(j) && evalDouble(c.op, vs(j), l)
            case (StrVals(vs), l: StrLit) => evalString(c.op, vs(j), l)
            case (BoolVals(vs, nl), l: BoolLit) => !nl(j) && evalBool(c.op, vs(j), l)
            case _ => false // declared/typed drift: row fails, never throws
          }
          ci += 1
        }
        if (ok) s.add(sc.ids(j))
        j += 1
      }
    }
    synchronized { passCache.put(cacheKey, s) }
    s
  }

  // ---- the shared sweep: acquisition, batch kernels, cut ----

  /** Probe/budget/retry residency acquisition — the ONE skeleton every
    * tier (float, 16-bit, PQ, scalar) acquires through. `probeUnion`
    * runs under the instance lock and returns the union of the batch's
    * probe sets; `load` (a Spark job, hundreds of ms) runs OUTSIDE the
    * lock — holding it across the load would convoy every concurrent
    * warm query behind one cold one (the reference serializes nothing
    * across queries: 16-way executor pool, executor_pool.hpp:10-46).
    * Duplicate concurrent loads of the same cluster are allowed; last
    * writer wins. The cardinality pre-check runs BEFORE the collect
    * against persisted per-cluster counts: a degenerate cluster larger
    * than the budget never reaches the driver. A load failure (a rebuild
    * overwrote clustered/ between the stamp read and the collect) is one
    * failed attempt: the retry re-reads the stamp past its rate limit.
    * Loads that a rebase or rebuild invalidated between the lock windows
    * are dropped; eviction is least-recently-probed, never the clusters
    * of this union. None = over budget or thrash.
    *
    * Returns the map PLUS the serving pin (key, watermark) the acquired
    * entries belong to — captured under the lock in the success branch,
    * so a caller building derived state (a passing-id set) can re-verify
    * the pin after a downstream sweep re-handshakes. */
  private def acquireResident[C](
      cache: java.util.LinkedHashMap[Int, C],
      rowsOf: C => Long,
      getResident: () => Long, setResident: Long => Unit,
      rowCap: Long,
      probeUnion: () => Array[Int],
      load: Array[Int] => Map[Int, C])
      : Option[(Map[Int, C], (Long, Long), Long)] = {
    var out: Map[Int, C] = null
    var pinKey: (Long, Long) = null
    var pinWm = 0L
    var attempts = 0
    while (out == null) {
      attempts += 1
      if (attempts > 8) return None
      var w0AtProbe = 0L
      var keyAtProbe: (Long, Long) = null
      var union: Array[Int] = null
      val missing: Array[Int] = synchronized {
        ensureServeFresh()
        w0AtProbe = serveWatermark
        keyAtProbe = serveKey
        union = probeUnion()
        union.filterNot(cache.containsKey(_))
      }
      var loaded: Map[Int, C] = null
      try {
        if (missing.nonEmpty) {
          val counts = clusterStats().getOrElse(probeClusterCounts(missing))
          val projected = missing.map(counts.getOrElse(_, 0L)).sum
          val retained = synchronized {
            union.filter(cache.containsKey(_))
              .map(c => rowsOf(cache.get(c))).sum
          }
          if (projected + retained > rowCap) return None
        }
        loaded = if (missing.isEmpty) Map.empty else load(missing)
      } catch { case scala.util.control.NonFatal(_) => }
      if (loaded == null) {
        synchronized { serveStampCheckedAt = 0L; ensureServeFresh() }
      } else synchronized {
        ensureServeFresh()
        if (serveKey == keyAtProbe && serveWatermark == w0AtProbe)
          loaded.foreach { case (cid, cluster) =>
            val prev = cache.put(cid, cluster)
            if (prev != null) setResident(getResident() - rowsOf(prev))
            setResident(getResident() + rowsOf(cluster))
          }
        if (getResident() > rowCap) {
          val it = cache.entrySet().iterator()
          while (getResident() > rowCap && it.hasNext) {
            val e = it.next()
            if (!union.contains(e.getKey)) {
              setResident(getResident() - rowsOf(e.getValue))
              it.remove()
            }
          }
        }
        val got = union.map(cid => cid -> cache.get(cid))
        if (!got.exists(_._2 == null)) {
          out = got.toMap
          // under the lock, cache entries always belong to the CURRENT
          // serving snapshot (ensureServeFresh clears on key change)
          pinKey = serveKey
          pinWm = serveWatermark
        }
      }
    }
    Some((out, pinKey, pinWm))
  }

  /** Bounded top-kPad of ONE quantized resident cluster for every query
    * in `qIdxs`: each row's 2·dim code bytes are read from RAM once per
    * batch (the tier is RAM-bandwidth-bound at high dims, same rationale
    * as the float `scoreClusterBatch`). Scores dequantized rows WITHOUT
    * materializing them — one fused Σ c_j·q_j over the short[] codes per
    * row and query, then:
    *   dot = b·Σq + a·(Σ c_j q_j)
    *   L2  = norm2 − 2·dot + |q|²      (norm2 packed EXACT)
    * Codes are stored biased into Short range (c − 32768), so the short
    * dot is corrected by +32768·Σq once per row, not per element.
    *
    * Returns per query (id, score, errorBound) candidates plus the
    * minimum score LOWER bound over every row the heap discarded — the
    * caller proves discarded rows can't reach the global top-k
    * (QuantCluster doc has the bound derivations; the dot bound is the
    * tighter of the L1 form and Cauchy–Schwarz against the packed
    * residual norm). */
  private def scoreQuantClusterBatch(cluster: QuantCluster,
      qds: Array[Array[Double]], qs: Array[Double], qss: Array[Double],
      qabs: Array[Double], qIdxs: Array[Int], kPad: Int,
      exclude: Long => Boolean)
      : Array[(Int, (Array[(Long, Double, Double)], Double))] = {
    val dim = qds(qIdxs(0)).length
    val l2Metric = metric == MetricType.Euclidean
    val cosMetric = metric == MetricType.Cosine
    val nq = qIdxs.length
    val heaps = Array.fill(nq)(new java.util.PriorityQueue[(Long, Double, Double)](
      math.min(math.max(1, kPad), 1024),
      (a: (Long, Double, Double), b: (Long, Double, Double)) => {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(b._1, a._1)
      }))
    val minDisc = Array.fill(nq)(Double.PositiveInfinity)
    val ids = cluster.ids
    val codes = cluster.codes
    var i = 0
    var off = 0
    while (i < ids.length) {
      if (!exclude(ids(i))) {
        val a = cluster.scaleA(i)
        val b = cluster.scaleB(i)
        var t = 0
        while (t < nq) {
          val qi = qIdxs(t)
          val qd = qds(qi)
          var sdot = 0.0
          var j = 0
          while (j < dim) { sdot += codes(off + j) * qd(j); j += 1 }
          val cdot = sdot + 32768.0 * qs(qi)
          val dot = b * qs(qi) + a * cdot
          val d =
            if (l2Metric) cluster.norm2(i) - 2.0 * dot + qss(qi)
            else if (cosMetric) 1.0 - dot
            else -dot
          val eDot = math.min(0.5 * a * qabs(qi),
            math.sqrt(qss(qi)) * cluster.rerr2(i))
          val e = if (l2Metric) 2.0 * eDot else eDot
          val heap = heaps(t)
          if (heap.size < kPad) heap.add((ids(i), d, e))
          else {
            val worst = heap.peek()
            if (d < worst._2 || (d == worst._2 && ids(i) < worst._1)) {
              val ev = heap.poll()
              if (ev._2 - ev._3 < minDisc(t)) minDisc(t) = ev._2 - ev._3
              heap.add((ids(i), d, e))
            } else if (d - e < minDisc(t)) minDisc(t) = d - e
          }
          t += 1
        }
      }
      i += 1
      off += dim
    }
    qIdxs.zipWithIndex.map { case (qi, t) =>
      val heap = heaps(t)
      val out = new Array[(Long, Double, Double)](heap.size)
      var n = out.length - 1
      while (n >= 0) { out(n) = heap.poll(); n -= 1 }
      (qi, (out, minDisc(t)))
    }
  }

  /** Bounded top-kPad of ONE PQ-resident cluster for every query in
    * `qIdxs`: each row's m code bytes are read once per batch; each query
    * pays its own m lookups into its SHARED lut (`luts(qi)`) plus this
    * cluster's constant `consts(qi)` (residual L2: ‖q−centroid‖²;
    * residual dot/cos: −q·centroid) plus the per-row load-time constant
    * (see PqServeCluster). Same contract as scoreQuantClusterBatch —
    * candidates plus min discarded lower bound per query. */
  private def scorePqClusterBatch(cluster: PqServeCluster,
      luts: Array[Array[Double]], consts: Array[Double],
      errScales: Array[Double], m: Int, ksub: Int,
      qIdxs: Array[Int], kPad: Int, exclude: Long => Boolean)
      : Array[(Int, (Array[(Long, Double, Double)], Double))] = {
    val l2Metric = metric == MetricType.Euclidean
    val cosMetric = metric == MetricType.Cosine
    val nq = qIdxs.length
    val heaps = Array.fill(nq)(new java.util.PriorityQueue[(Long, Double, Double)](
      math.min(math.max(1, kPad), 1024),
      (a: (Long, Double, Double), b: (Long, Double, Double)) => {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(b._1, a._1)
      }))
    val minDisc = Array.fill(nq)(Double.PositiveInfinity)
    val ids = cluster.ids
    val codes = cluster.codes
    var i = 0
    var off = 0
    while (i < ids.length) {
      if (!exclude(ids(i))) {
        val rowC = cluster.rowConst(i)
        val er = cluster.err(i)
        var t = 0
        while (t < nq) {
          val qi = qIdxs(t)
          val lut = luts(qi)
          var adc = consts(qi) + rowC
          var sub = 0
          while (sub < m) {
            adc += lut(sub * ksub + (codes(off + sub) & 0xff)); sub += 1
          }
          val d =
            if (l2Metric) adc
            else if (cosMetric) 1.0 + adc
            else adc
          val e =
            if (l2Metric) 2.0 * math.sqrt(math.max(adc, 0.0)) * er + er * er
            else errScales(qi) * er
          val heap = heaps(t)
          if (heap.size < kPad) heap.add((ids(i), d, e))
          else {
            val worst = heap.peek()
            if (d < worst._2 || (d == worst._2 && ids(i) < worst._1)) {
              val ev = heap.poll()
              if (ev._2 - ev._3 < minDisc(t)) minDisc(t) = ev._2 - ev._3
              heap.add((ids(i), d, e))
            } else if (d - e < minDisc(t)) minDisc(t) = d - e
          }
          t += 1
        }
      }
      i += 1
      off += m
    }
    qIdxs.zipWithIndex.map { case (qi, t) =>
      val heap = heaps(t)
      val out = new Array[(Long, Double, Double)](heap.size)
      var n = out.length - 1
      while (n >= 0) { out(n) = heap.poll(); n -= 1 }
      (qi, (out, minDisc(t)))
    }
  }

  /** One tier's shared sweep for a batch — every tier is just its cache,
    * row cap, loader and batch kernel: acquire the union of the queries'
    * probe sets through `acquireResident` (`probeSets` runs under the
    * instance lock), score each resident row once for every query
    * probing its cluster (clusters in parallel, the exact-scored fresh
    * tail as one more task), then cut each query through `proofCut`. The
    * sweep runs at the proof's FIRST pad; a wider retry pad (rare —
    * heap-discard violations only) re-sweeps that query alone. None =
    * the acquisition failed (over budget or thrash). */
  private def sweep(vecCol: String, qs: Array[Array[Float]], k: Int,
      tier: ServeTier, certify: Boolean, probeSets: () => Array[Array[Int]],
      exclude: Long => Boolean,
      freshTail: Option[(Array[Long], Array[Double], Array[Double])])
      : Option[Array[Option[Served]]] = {
    val dim = qs(0).length
    val qds = qs.map { q =>
      val a = new Array[Double](dim); var i = 0
      while (i < dim) { a(i) = q(i).toDouble; i += 1 }; a
    }
    val qss = qds.map { a =>
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * a(i); i += 1 }; s
    }
    var probes: Array[Array[Int]] = null
    val union = () => { probes = probeSets(); probes.flatten.distinct }
    // exact float scores carry error bound 0 and discard nothing provable
    def exact(c: (Array[Long], Array[Double], Array[Double]), qIdxs: Array[Int],
        kPad: Int): Array[(Int, Cands)] =
      IvfIndex.scoreClusterBatch(c, qds, qss, qIdxs, kPad, metric, exclude)
        .map { case (qi, cs) =>
          (qi, (cs.map(x => (x._1, x._2, 0.0)), Double.PositiveInfinity))
        }
    // kernel(cluster, queries, heap bound) and the tier's rerank counter
    val (kernel, reranks): ((Int, Array[Int], Int) => Array[(Int, Cands)],
        java.util.concurrent.atomic.AtomicLong) = tier match {
      case ServeTier.Float =>
        val cl = acquireResident[(Array[Long], Array[Double], Array[Double])](
          serveCache, _._1.length.toLong,
          () => serveRowsResident, v => serveRowsResident = v,
          effectiveMaxRows(dim), union,
          loadClusters(vecCol, _)).getOrElse(return None)._1
        // never certified: the counter is never touched
        ((cid, qIdxs, kPad) => exact(cl(cid), qIdxs, kPad), null)
      case ServeTier.Quantized(_) =>
        val cl = acquireResident[QuantCluster](
          quantCache, _.ids.length.toLong,
          () => quantRowsResident, v => quantRowsResident = v,
          effectiveMaxQuantRows(dim), union,
          loadQuantClusters(vecCol, _)).getOrElse(return None)._1
        val qSum = new Array[Double](qds.length)
        val qAbs = new Array[Double](qds.length)
        for (qi <- qds.indices) {
          var s = 0.0; var ab = 0.0; var i = 0
          while (i < dim) { s += qds(qi)(i); ab += math.abs(qds(qi)(i)); i += 1 }
          qSum(qi) = s; qAbs(qi) = ab
        }
        ((cid, qIdxs, kPad) => scoreQuantClusterBatch(cl(cid), qds, qSum, qss,
          qAbs, qIdxs, kPad, exclude), quantReranks)
      case ServeTier.Pq(_) =>
        val cb = pqCodebook().getOrElse(return None)
        val cl = acquireResident[PqServeCluster](
          pqCache, _.ids.length.toLong,
          () => pqRowsResident, v => pqRowsResident = v,
          effectiveMaxPqRows(cb.m), union,
          loadPqClusters(_, cb.m)).getOrElse(return None)._1
        val errScales = qss.map(math.sqrt) // ‖q‖₂ (1.0 for cosine)
        // ONE shared scoring lut per query over ITS probe set — residual
        // L2 decomposes as ‖q−c‖² + Σ(−2q·cent)[codes] + rowConst
        // (load-time); residual dot/cos as −q·c + Σ(−q·cent)[codes]
        val lutsPer = qs.indices.map(qi => pqServeLuts(cb, probes(qi), qs(qi))).toArray
        ((cid, qIdxs, kPad) => {
          val luts = new Array[Array[Double]](qds.length)
          val consts = new Array[Double](qds.length)
          qIdxs.foreach { qi =>
            val (lutIds, lut, cs) = lutsPer(qi)
            luts(qi) = lut
            consts(qi) = cs(java.util.Arrays.binarySearch(lutIds, cid))
          }
          scorePqClusterBatch(cl(cid), luts, consts, errScales, cb.m, cb.ksub,
            qIdxs, kPad, exclude)
        }, pqReranks)
    }
    val pad0 = if (certify) k + 16 else k
    val byCluster: Array[(Int, Array[Int])] = probes.zipWithIndex
      .flatMap { case (ps, qi) => ps.map(c => (c, qi)) }
      .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2)) }.toArray
    // keyed (Some(cluster), query); the fresh tail is (None, query)
    val swept: Map[(Option[Int], Int), Cands] = par(
      byCluster.toSeq.map { case (cid, qIdxs) => () =>
        kernel(cid, qIdxs, pad0).map { case (qi, r) => ((Option(cid), qi), r) }
      } ++ freshTail.map(t => () => exact(t, qds.indices.toArray, k)
        .map { case (qi, r) => ((Option.empty[Int], qi), r) }).toSeq
    ).flatten.toMap
    Some(qs.indices.toArray.map { qi =>
      val ps = probes(qi)
      proofCut(kPad =>
          if (kPad == pad0) ps.map(cid => swept((Some(cid), qi)))
          else par(ps.toSeq.map(cid => () => kernel(cid, Array(qi), kPad).head._2)).toArray,
        swept.get((None, qi)).fold(Array.empty[(Long, Double, Double)])(_._1),
        k, certify, vecCol, ps, qds(qi), qss(qi), reranks)
        .map { case (hits, reranked) => Served(hits, reranked, ps) }
    })
  }
}

object IvfIndex {

  /** Whether a filter Column references the `@distance` virtual column
    * (resolved or not). Such predicates can only run AFTER scoring — the
    * candidate relations the quantized/PQ cuts filter carry no @distance
    * column, so pushing one below the cut fails analysis. */
  private[index] def refsDistance(c: Column): Boolean =
    org.apache.spark.sql.graftbridge.CatalystBridge
      .referencesAttribute(c, "@distance")

  /** Persisted filtered-serving declaration (`serve_cols.json`): a JSON
    * string array written atomically next to the layout, so follower
    * processes opening the same root inherit it at construction.
    * Unreadable/absent → Nil (filtered requests decline, never guess). */
  private[index] def readServeCols(p: String): Seq[String] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p))) Nil
    else scala.util.Try {
      org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8)) match {
        case org.json4s.JArray(a) =>
          a.collect { case org.json4s.JString(s) => s }
        case _ => Seq.empty[String]
      }
    }.getOrElse(Seq.empty[String])

  private[index] def writeServeCols(p: String, cols: Seq[String]): Unit = {
    // the declaration can precede the first build — create the layout dir
    val parent = java.nio.file.Paths.get(p).getParent
    if (parent != null) java.nio.file.Files.createDirectories(parent)
    MetaJson.writeAtomic(p, org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        org.json4s.JArray(cols.map(org.json4s.JString(_)).toList))))
  }

  /** Max clusters per cold-load collect: wide loads (recallTarget
    * covers) chunk so one collect's serialized results stay bounded
    * (~16 × cluster_rows × row_bytes) regardless of cover width — one
    * 256-cluster dim-960 collect is ~3.7 GiB, past any sane
    * spark.driver.maxResultSize, while the chunked peak is ~250 MB. */
  val ColdLoadChunkClusters = 16

  /** Below this row count no index is built — search brute-forces
    * (reference: MinimalGraphSize config.hpp:22 + BruteforceThreshold
    * vec_search_executor.hpp:28; one cost rule covers both at Spark scale). */
  val MinimalIndexSize = 512

  /** PQ codebook training sample cap (driver-resident floats: 8192 rows at
    * dim 960 is ~31 MB — bounded regardless of table size). */
  val PqFitSampleRows = 8192

  /** Drift bound for ingest-time appends: once appended rows exceed this
    * fraction of the last full build's count, the scheduler rebuilds even
    * though count/watermark track the table (appends never re-fit
    * centroids and land one small file batch each — both must be undone
    * eventually). */
  val MaxAppendFraction = 0.5

  /** Per-cluster max true L2 distance to the centroid, written to
    * `cluster_radii` — `onlyRows` = an append batch's delta rows (Append
    * mode; the reader maxes per cluster), None = the whole layout.
    * Radii are only valid when EVERY row of a cluster is covered, so
    * appends must skip layouts built before radii existed (a delta-only
    * radius would UNDER-estimate and break the probe bound). */
  private[index] def writeRadii(spark: SparkSession, path: String,
      vecCol: String, mode: SaveMode, onlyRows: Option[DataFrame]): Unit = {
    val centsDf = spark.read.parquet(s"$path/centroids")
    val rows = onlyRows.getOrElse(spark.read.parquet(s"$path/clustered"))
    rows.select(col("cluster").cast("int").as("cluster"), col(vecCol))
      .join(broadcast(centsDf), Seq("cluster"))
      .select(col("cluster"),
        sqrt(graft.functions.l2sqr_distance(col(vecCol), col("centroid"))).as("r"))
      .groupBy(col("cluster")).agg(max(col("r")).as("r"))
      .coalesce(1).write.mode(mode).parquet(s"$path/cluster_radii")
  }

  /** Hand-parsed (the file is `{"watermark":N,"count":N,"purge":N}`):
    * meta() runs on EVERY index access as the freshness stamp, including
    * the driver-side serving path, so it must cost microseconds — a JSON
    * library parse here was the dominant term of serve latency. */
  private[index] def readMeta(metaPath: String): (Long, Long, Long) = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(metaPath)))
    (MetaJson.longField(s, "watermark", 0L), MetaJson.longField(s, "count", 0L),
      MetaJson.longField(s, "purge", 0L))
  }

  /** Row count at the last FULL build (appends preserve it): the rebuild
    * scheduler bounds drift with `count - base`. Metas written before the
    * stamp existed report base == count (drift 0 until the next build). */
  private[index] def readBase(metaPath: String): Long =
    MetaJson.readLongField(metaPath, "base", readMeta(metaPath)._2)

  /** Build generation: bumped by every FULL build, preserved by appends —
    * the serving tier keys residency on it (appends must not flush warm
    * clusters; rebuilds must). Metas without the stamp read 0. */
  private[graft] def readGen(metaPath: String): Long =
    MetaJson.readLongField(metaPath, "gen", 0L)

  /** NULL-vector rows seen by build/append passes: they are not in the
    * layout (no distance) but the watermark covers them. Nonzero means the
    * index universe is INCOMPLETE vs the store — borrowed-verdict paths
    * must decline. Metas written before the stamp existed read 0 (those
    * builds would have failed outright on a null vector). */
  private[graft] def readNulls(metaPath: String): Long =
    MetaJson.readLongField(metaPath, "nulls", 0L)

  private[index] def writeMeta(metaPath: String, watermark: Long, count: Long,
      purge: Long, base: Long = -1L, gen: Long = 0L, nulls: Long = 0L): Unit =
    MetaJson.writeAtomic(metaPath,
      s"""{"watermark":$watermark,"count":$count,"purge":$purge,"base":${if (base < 0) count else base},"gen":$gen,"nulls":$nulls}""")

  /** Rebuild-scheduler semantics (reference: table_mvp.cpp:94-203, invoked
    * every 60s): skip when the table is too small or unchanged since the
    * last build — unchanged means BOTH row count and max row id match (a
    * delete+insert can leave the count equal while the content moved).
    * Returns the fresh-or-existing index, or None when the table should
    * brute-force. */
  def rebuildIfNeeded(spark: SparkSession, df: DataFrame, vecCol: String,
      idCol: String, path: String, metric: MetricType.Value,
      nClusters: Int = 64, purgeGen: Long = 0L): Option[IvfIndex] =
    rebuildVerbose(spark, df, vecCol, idCol, path, metric, nClusters, purgeGen)._1

  /** Like `rebuildIfNeeded`, but also reports whether a build actually ran
    * (false = skipped-as-unchanged or too small) — the rebuild scheduler
    * counts real rebuilds. `purgeGen` is the store's current purge
    * generation: a mismatch with the build-time generation forces a
    * rebuild even when count+watermark look unchanged (the clustered copy
    * may carry rows a compact() has since removed without a tombstone). */
  def rebuildVerbose(spark: SparkSession, df: DataFrame, vecCol: String,
      idCol: String, path: String, metric: MetricType.Value,
      nClusters: Int = 64, purgeGen: Long = 0L,
      maxAppendFraction: Double = MaxAppendFraction): (Option[IvfIndex], Boolean) = {
    val stats = df.agg(count(lit(1)), max(col(idCol).cast("long"))).head()
    val n = stats.getLong(0)
    if (n < MinimalIndexSize) return (None, false)
    val maxId = stats.getLong(1)
    val metaPath = java.nio.file.Paths.get(s"$path/ivf_meta.json")
    if (java.nio.file.Files.exists(metaPath)) {
      val (wm, cnt, pg) = readMeta(s"$path/ivf_meta.json")
      // unchanged -> skip, UNLESS ingest-time appends have grown the layout
      // past the drift bound since the last full build: appended rows join
      // existing centroids (never re-fit) and each append lands small
      // files, so a rebuild must eventually re-cluster + compact even
      // though count/watermark track the table perfectly
      val base = readBase(s"$path/ivf_meta.json")
      val withinDrift = cnt - base <= maxAppendFraction * base
      if (cnt == n && wm == maxId && pg == purgeGen && withinDrift)
        return (Some(new IvfIndex(spark, path, idCol, metric)), false)
    }
    // maxIter 5: recall comes from probing multiple clusters, not from a
    // fully converged Lloyd run; extra iterations at rebuild cadence are
    // per-job overhead, not quality
    (Some(build(spark, df, vecCol, idCol, path, metric,
      nClusters = math.min(nClusters, math.max(2, (n / 64).toInt)), maxIter = 5,
      purgeGen = purgeGen)), true)
  }

  /** Rows Lloyd iterates over: beyond ~128 rows per centroid the update
    * step is averaging noise, and every extra row is a full-data pass per
    * iteration at build time. */
  private def sampleTarget(nClusters: Int): Long =
    math.max(128L * nClusters, 8192L)

  /** K-means over an array<float> column: centroids fitted with Lloyd on a
    * bounded deterministic sample, then ONE assign-only pass over the full
    * data writes the clustered layout (all input columns are carried — see
    * class doc). Assignment is a broadcast argmin (map-side, no shuffle);
    * the layout write shuffles once on the cluster id.
    * Deterministic init: first k rows by id-hash (spread across the data).
    */
  def build(spark: SparkSession, df: DataFrame, vecCol: String, idCol: String,
      path: String, metric: MetricType.Value, nClusters: Int = 64,
      maxIter: Int = 10, purgeGen: Long = 0L): IvfIndex = {
    import spark.implicits._
    val __dbg = sys.env.contains("SPARK_GRAFT_IVF_TIMINGS")
    var __t = System.nanoTime()
    def __lap(l: String): Unit = if (__dbg) {
      val now = System.nanoTime()
      println(f"[ivf] $l%-28s ${(now - __t) / 1e9}%.2f s"); __t = now
    }

    val prepared = (if (metric == MetricType.Cosine)
      df.withColumn(vecCol, l2_normalize(col(vecCol)))
    else df).cache()
    // NULL vectors are not indexable (no distance): they are dropped from
    // the layout but COUNTED in the meta — the watermark still advances
    // past them (appends must not re-see them) and the persisted null
    // count lets universeComplete() tell borrowers (densePassVerdict)
    // that this index does NOT cover every store row
    val stats = prepared.agg(count(lit(1)), max(col(idCol).cast("long")),
      count(col(vecCol))).head()
    val n = stats.getLong(0)
    val maxId = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val nNulls = n - stats.getLong(2)
    val indexed =
      if (nNulls == 0L) prepared else prepared.filter(col(vecCol).isNotNull)
    __lap("stats agg")

    // bounded fit sample (deterministic seed); Lloyd runs distributed over
    // the sample only — the full data is touched once more, at assignment
    val target = sampleTarget(nClusters)
    val fitDf = (if (n <= target) indexed.select(col(idCol), col(vecCol))
      else indexed.select(col(idCol), col(vecCol))
        .sample(withReplacement = false, math.min(1.0, target.toDouble * 1.2 / n), seed = 42L))
      .cache()

    // deterministic seed centroids, spread across the data: order by a hash
    // of the id so seeds sample the whole distribution (lowest-id rows can be
    // spatially clustered, which collapses Lloyd iterations)
    var cents: Array[Array[Float]] = fitDf
      .orderBy(md5(col(idCol).cast("string")).asc).limit(nClusters)
      .select(col(vecCol)).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    __lap("seed centroids collect")

    val dim = cents(0).length
    val vecIdx = fitDf.schema.fieldIndex(vecCol)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // assignment: single-pass argmin expression; update: per-partition
      // (sum, count) accumulation reduced by cluster id — one narrow pass +
      // one tiny shuffle of nClusters rows per iteration, over the sample
      val centsNow = cents
      val updated = fitDf
        .withColumn("cluster", nearestClusterCol(metric, col(vecCol), centsNow))
        .rdd.mapPartitions { it =>
          val acc = scala.collection.mutable.Map[Int, (Array[Double], Long)]()
          it.foreach { r =>
            val cid = r.getAs[Int]("cluster")
            val v = r.getAs[scala.collection.Seq[Float]](vecIdx)
            val (sums, _) = acc.getOrElseUpdate(cid, (new Array[Double](dim), 0L))
            var i = 0
            while (i < dim) { sums(i) += v(i); i += 1 }
            acc(cid) = (sums, acc(cid)._2 + 1)
          }
          acc.iterator
        }
        .reduceByKey { (x: (Array[Double], Long), y: (Array[Double], Long)) =>
          var i = 0
          while (i < dim) { x._1(i) += y._1(i); i += 1 }
          (x._1, x._2 + y._2)
        }
        .collect()
        .map { case (cid, (sums, n)) => cid -> sums.map(s => (s / n).toFloat) }
        .toMap
      val next = cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
      converged = cents.zip(next).forall { case (a, b) =>
        dist(MetricType.Euclidean, a, b) < 1e-8
      }
      cents = next
      iter += 1
      __lap(s"lloyd iter $iter")
    }
    // PQ codebook on RESIDUALS (x − assigned centroid — classic IVFADC):
    // per-subspace k-means on a hash-ordered (deterministic) slice of the
    // SAME fit sample. On clustered data the residual lives at the noise
    // scale, so the same m bytes resolve neighbors a full-vector codebook
    // blurs together (measured: 0.1 vs ~1.0 ADC recall@10 at 500k×960
    // tight clusters). The `pq_residual` marker tells readers which
    // scheme the codes use; pre-marker layouts decode absolutely.
    val cIds = Array.tabulate(cents.length)(identity)
    val centsFlat = {
      val f = new Array[Float](cents.length * dim)
      var i = 0
      while (i < cents.length) {
        System.arraycopy(cents(i), 0, f, i * dim, dim); i += 1
      }
      f
    }
    val pqSample = fitDf
      .orderBy(md5(col(idCol).cast("string")).asc).limit(PqFitSampleRows)
      .withColumn("cluster", nearestClusterCol(metric, col(vecCol), cents))
      .select(col(vecCol), col("cluster")).collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Float]](0).toArray
        val c = cents(r.getInt(1))
        Array.tabulate(v.length)(j => if (j < c.length) v(j) - c(j) else v(j))
      }
    __lap("pq sample collect")
    val pqCb = PqCodebook.fit(pqSample, dim, PqCodebook.chooseM(dim))
    __lap("pq codebook fit")
    pqCb.save(spark, s"$path/pq_codebook")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/pq_residual"), Array.emptyByteArray)
    fitDf.unpersist()

    // assign-only full pass; write partitioned by cluster for scan pruning.
    // repartition ON the partition column first: otherwise every write task
    // keeps up to nClusters parquet writers open (tasks x clusters small
    // files + writer churn was 70s of a 73s build at 500k rows)
    val bc = spark.sparkContext.broadcast(cents)
    withQuantized(indexed, vecCol)
      .withColumn("cluster", nearestClusterCol(metric, col(vecCol), bc.value))
      .withColumn("__pqcode",
        pq_encode_res(col(vecCol), col("cluster"), pqCb, cIds, centsFlat))
      // ‖x − x̂‖₂ per row: the certification constant for the PQ serving
      // tier (subexpression elimination shares the PqEncodeRes result
      // between the stored codes and this pass — O(dim), not a second
      // argmin)
      .withColumn("__pqerr", pq_rec_err_res(col(vecCol), col("__pqcode"),
        col("cluster"), pqCb, cIds, centsFlat))
      .repartition(col("cluster"))
      .write.mode(SaveMode.Overwrite).partitionBy("cluster").parquet(s"$path/clustered")
    __lap("clustered write")
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    // per-cluster row counts (serving cardinality guard) + ball radii
    // (recall-targeted probe bound, probeSetForRecall) from ONE read-back
    // of the committed layout (codegen'd scan + hash aggregate): it
    // counts only the rows the write committed, so a retried or
    // speculative write task cannot double-count. Dot product has no
    // triangle inequality — no radii, auto-probe declines — so it
    // counts rows only. Empty clusters get no row.
    val withRadii = metric != MetricType.DotProduct
    val clustered = spark.read.parquet(s"$path/clustered")
      .select(col("cluster").cast("int").as("cluster"), col(vecCol))
    // each row's centroid is looked up in the in-memory array the
    // assignment used (parquet round-trips floats exactly, so this equals
    // a join against the written centroids bit for bit)
    val layoutStats = (if (withRadii) clustered
        .select(col("cluster"),
          sqrt(graft.functions.l2sqr_distance(col(vecCol),
            element_at(typedlit(cents.map(_.toSeq).toSeq), col("cluster") + 1)))
            .as("r"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("cnt"), max(col("r")).as("r"))
      else clustered.groupBy(col("cluster")).agg(count(lit(1)).as("cnt")))
      .collect()
    val counts = layoutStats.map(r => (r.getInt(0), r.getLong(1))).toSeq
    counts.toDF("cluster", "cnt")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/cluster_stats")
    if (withRadii) {
      layoutStats.map(r => (r.getInt(0), r.getDouble(2))).toSeq
        .toDF("cluster", "r")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/cluster_radii")
    }
    __lap("stats+radii fan-out")
    // a FULL build bumps the generation: serving residency must flush
    // (cluster membership changed), unlike appends which preserve it
    val prevGen =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/ivf_meta.json")))
        readGen(s"$path/ivf_meta.json")
      else 0L
    writeMeta(s"$path/ivf_meta.json", maxId, n, purgeGen, gen = prevGen + 1,
      nulls = nNulls)
    prepared.unpersist()
    // organic-skew guard at build time: a cluster past 4x the mean row
    // count (k-means collapsed a dense region into one cell) is re-split
    // locally before anyone serves from it
    splitOversized(spark, path, vecCol, idCol, metric,
      maxRows = math.max(4L * n / math.max(1, nClusters), MinimalIndexSize.toLong),
      knownCounts = Some(counts.toMap))
    __lap("splitOversized")
    new IvfIndex(spark, path, idCol, metric)
  }

  /** Split every cluster whose row count exceeds `maxRows` into locally
    * re-fitted sub-clusters (the Spark analog of the reference's periodic
    * neighborhood redistribution at rebuild, table_mvp.cpp:94-203): the
    * serving cardinality guard declines any probe whose resident rows
    * exceed the budget, so a degenerate k-means cluster holding most of
    * the corpus permanently falls off the serve path onto the ~1 qps job
    * path. The fix is LOCAL — re-fit k-means over just the oversized
    * cluster's rows (bounded sample, driver-local Lloyd: the fit needs no
    * distributed iteration at cluster scale), assign only those rows to
    * fresh sub-cluster ids, and retire the old id. One pruned read + one
    * partition-scoped write per oversized cluster; the rest of the layout
    * is untouched. Bumps the build generation so serving residency and
    * cross-process caches flush (cluster membership changed). A cluster
    * whose sample holds fewer than 2 distinct vectors is left as it is: no
    * split can shrink a group of identical rows.
    *
    * Crash window: a writer dying between the staged write and the old-dir
    * delete leaves rows duplicated across old+new partitions until the
    * next split/rebuild redoes the (idempotent) pass — same redo contract
    * as needsOrphanHeal. Returns the number of clusters split. */
  def splitOversized(spark: SparkSession, path: String, vecCol: String,
      idCol: String, metric: MetricType.Value, maxRows: Long,
      maxIter: Int = 5, knownCounts: Option[Map[Int, Long]] = None): Int = {
    import spark.implicits._
    val metaFile = s"$path/ivf_meta.json"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(metaFile))) return 0
    val dataPath = s"$path/clustered"
    val statsPath = s"$path/cluster_stats"
    val centsPath = s"$path/centroids"
    // counts from the caller when it just computed them (build's observed
    // stats — skips a read-back job), else from the persisted stats when
    // present (appends land deltas: sum), else one footer-count pass
    val counts: Map[Int, Long] = knownCounts.getOrElse(
      (if (java.nio.file.Files.exists(java.nio.file.Paths.get(statsPath)))
        spark.read.parquet(statsPath)
          .groupBy(col("cluster")).agg(sum(col("cnt")).as("cnt"))
      else spark.read.parquet(dataPath)
        .groupBy(col("cluster").cast("int").as("cluster"))
        .agg(count(lit(1)).as("cnt")))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    val oversized = counts.filter(_._2 > maxRows).toSeq.sortBy(_._1)
    if (oversized.isEmpty) return 0
    val cents = scala.collection.mutable.LinkedHashMap[Int, Array[Float]]()
    spark.read.parquet(centsPath).collect()
      .map(r => r.getAs[Int]("cluster") ->
        r.getAs[scala.collection.Seq[Float]]("centroid").toArray)
      .sortBy(_._1).foreach { case (id, c) => cents(id) = c }
    var nextId = cents.keys.max + 1
    var split = 0
    // residual-coded layouts must RE-ENCODE moved rows: their codes are
    // relative to the retiring centroid, and the sub-clusters get new ones
    val resCb =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/pq_residual")))
        PqCodebook.load(spark, s"$path/pq_codebook")
      else None
    oversized.foreach { case (cid, cnt) =>
      // target HALF the bound per sub-cluster: headroom for later appends
      // before the same cluster trips the guard again
      val subK = math.min(256L,
        math.max(2L, (2 * cnt + maxRows - 1) / math.max(1L, maxRows))).toInt
      // the oversized cluster is ONE partition directory: read it alone
      // (no partition column in the frame), fit on a bounded deterministic
      // sample, assign with the shared argmin expression
      val clusterDir = s"$dataPath/cluster=$cid"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(clusterDir))) {
        val rows = spark.read.parquet(clusterDir)
        val sampleN = math.min(16384L, math.max(128L * subK, 4096L))
        val frac = math.min(1.0, sampleN.toDouble * 1.2 / math.max(1L, cnt))
        val sampled = (if (frac >= 1.0) rows else rows.sample(withReplacement = false, frac, seed = 42L))
          .select(col(vecCol)).limit(sampleN.toInt).collect()
          .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
        // identical rows all land in one sub-cluster: re-fitting,
        // shuffling and rewriting them would shrink nothing
        if (sampled.exists(v => !java.util.Arrays.equals(v, sampled(0)))) {
          val subCents = localLloyd(sampled, subK, metric, maxIter)
          val ids = Array.tabulate(subCents.length)(nextId + _)
          nextId += subCents.length
          // stage the reassigned rows OUTSIDE the layout (writing into a
          // path while reading it is illegal), then move the partition
          // dirs into place and retire the old one — dir renames, no copy
          val staged = s"$path/split_stage"
          deleteRecursively(staged)
          val reassigned = rows
            .withColumn("__sub", nearestClusterCol(metric, col(vecCol), subCents))
            .withColumn("cluster", element_at(lit(ids), col("__sub") + 1))
            .drop("__sub")
          val recoded = resCb match {
            case Some(cb) if rows.columns.contains("__pqcode") =>
              // ids are minted ascending, so they are already sorted — the
              // id→centroid arrays line up positionally
              val subFlat = {
                val d = subCents(0).length
                val f = new Array[Float](subCents.length * d)
                var i = 0
                while (i < subCents.length) {
                  System.arraycopy(subCents(i), 0, f, i * d, d); i += 1
                }
                f
              }
              val withCode = reassigned.withColumn("__pqcode",
                pq_encode_res(col(vecCol), col("cluster"), cb, ids, subFlat))
              if (rows.columns.contains("__pqerr"))
                withCode.withColumn("__pqerr", pq_rec_err_res(col(vecCol),
                  col("__pqcode"), col("cluster"), cb, ids, subFlat))
              else withCode
            case _ => reassigned
          }
          recoded
            .repartition(col("cluster"))
            .write.mode(SaveMode.Overwrite).partitionBy("cluster").parquet(staged)
          ids.foreach { id =>
            val src = java.nio.file.Paths.get(s"$staged/cluster=$id")
            if (java.nio.file.Files.exists(src)) {
              deleteRecursively(s"$dataPath/cluster=$id") // crashed-redo leftovers
              java.nio.file.Files.move(src,
                java.nio.file.Paths.get(s"$dataPath/cluster=$id"))
            }
          }
          deleteRecursively(clusterDir)
          deleteRecursively(staged)
          cents.remove(cid)
          subCents.zip(ids).foreach { case (c, id) => cents(id) = c }
          split += 1
        }
      }
    }
    if (split == 0) return 0
    // rewrite the (tiny) centroid table, recount stats off the new layout
    // footers, then bump the generation: every live instance — this
    // process or another JVM — must flush residency and re-list
    cents.toSeq.map { case (id, c) => (id, c.toSeq) }.toDF("cluster", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(centsPath)
    spark.read.parquet(dataPath)
      .groupBy(col("cluster").cast("int").as("cluster"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(statsPath)
    // radii recount against the NEW centroid set (splits are rare
    // maintenance events — one full narrow pass keeps every cluster's
    // bound tight instead of tracking the moved rows incrementally)
    if (metric != MetricType.DotProduct &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/cluster_radii")))
      writeRadii(spark, path, vecCol, SaveMode.Overwrite, None)
    val (wm, cnt0, purge) = readMeta(metaFile)
    writeMeta(metaFile, wm, cnt0, purge, base = readBase(metaFile),
      gen = readGen(metaFile) + 1, nulls = readNulls(metaFile))
    split
  }

  private def deleteRecursively(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(p)
      try w.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      finally w.close()
    }
  }

  /** Driver-local Lloyd over a bounded sample: the split fit runs at
    * single-cluster scale, where a distributed iteration per Lloyd step
    * would be all overhead. Deterministic stride-spread seeds. */
  /** Driver-local Lloyd over whole vectors (splitOversized's sub-fit).
    * Deliberately separate from build()'s distributed Lloyd (a Spark job
    * per iteration over a DataFrame sample) and PqCodebook.fit's strided
    * per-subspace loop over flat arrays with tail-padding — the three
    * differ in data layout and in pinned deterministic numerics
    * (seeding, convergence epsilon), each covered by its own
    * determinism test; a shared kernel would have to abstract all three
    * layouts and re-pin the numerics for no algorithmic gain. */
  private def localLloyd(sample: Array[Array[Float]], k: Int,
      metric: MetricType.Value, maxIter: Int): Array[Array[Float]] = {
    val n = sample.length
    val kk = math.min(k, n)
    val dim = sample(0).length
    var cents = Array.tabulate(kk)(i => sample(((i.toLong * n) / kk).toInt).clone())
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      var i = 0
      while (i < n) {
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          val d = dist(metric, sample(i), cents(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](dim))
      val cnts = new Array[Long](kk)
      i = 0
      while (i < n) {
        val s = sums(assign(i))
        val v = sample(i)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        cnts(assign(i)) += 1
        i += 1
      }
      moved = false
      val next = new Array[Array[Float]](kk)
      var c = 0
      while (c < kk) {
        if (cnts(c) == 0) next(c) = cents(c)
        else {
          val a = new Array[Float](dim)
          var j = 0
          while (j < dim) { a(j) = (sums(c)(j) / cnts(c)).toFloat; j += 1 }
          next(c) = a
        }
        if (dist(MetricType.Euclidean, next(c), cents(c)) > 1e-12) moved = true
        c += 1
      }
      cents = next
      iter += 1
    }
    cents
  }

  /** Int8 codes stored NEXT TO the float vectors in the clustered layout
    * (columns `__qcode` binary, `__qmin`/`__qmax` double): the quantized
    * scan path reads a quarter of the vector bytes, then reranks its
    * candidates on the float column (see `search` at
    * `ServeTier.Quantized`). One pass, computed during the same
    * assign-and-write job. */
  private[index] def withQuantized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__qv", quantize_vec(col(vecCol)))
      .withColumn("__qmin", col("__qv.qmin"))
      .withColumn("__qmax", col("__qv.qmax"))
      .withColumn("__qcode", col("__qv.codes"))
      .drop("__qv")

  /** argmin over broadcast centroids: one pass over the vector per row
    * (custom expression — a least()/when() chain evaluates every distance
    * twice and defeats reuse). */
  private def nearestClusterCol(metric: MetricType.Value, vec: Column,
      cents: Array[Array[Float]]): Column =
    org.apache.spark.sql.graftbridge.CatalystBridge.column(
      graft.functions.NearestCentroid(
        org.apache.spark.sql.graftbridge.CatalystBridge.expression(vec),
        cents, metric.toString))

  def distColumn(metric: MetricType.Value, vec: Column, q: Array[Float]): Column =
    distColumns(metric, vec, lit(q))

  /** Column-vs-column variant (batch search scores against an exploded
    * query struct, not a literal). */
  def distColumns(metric: MetricType.Value, vec: Column, q: Column): Column =
    metric match {
      case MetricType.Euclidean => l2sqr_distance(vec, q)
      case MetricType.Cosine => lit(1.0) - dot_product(vec, q)
      case MetricType.DotProduct => negative_dot(vec, q)
    }

  /** Pack (id, vector) rows into the resident scoring layout
    * (ids, row-major doubles, per-row |x|^2) used by `serve` — for
    * caller-supplied fresh tails. */
  def packRows(rows: Array[(Long, Array[Float])], dim: Int)
      : (Array[Long], Array[Double], Array[Double]) = {
    val ids = new Array[Long](rows.length)
    val flat = new Array[Double](rows.length * dim)
    val norms = new Array[Double](rows.length)
    var i = 0
    while (i < rows.length) {
      ids(i) = rows(i)._1
      val v = rows(i)._2
      var j = 0
      var nrm = 0.0
      val m = if (v.length < dim) v.length else dim
      while (j < m) {
        val x = v(j).toDouble
        flat(i * dim + j) = x; nrm += x * x; j += 1
      }
      norms(i) = nrm
      i += 1
    }
    (ids, flat, norms)
  }

  /** Bounded top-k of one float-resident cluster for every query in
    * `qIdxs`: each row is read once and scored against every query,
    * amortizing the row bytes over the batch (dense serving at high dim
    * is RAM-bandwidth-bound). Every metric reduces to one fused dot per
    * row and query (Euclidean via |x|^2 - 2 x.q + |q|^2). Returns
    * (queryIdx, local top-k best-first by (distance, id)) per query. */
  private[index] def scoreClusterBatch(
      cluster: (Array[Long], Array[Double], Array[Double]),
      qds: Array[Array[Double]], qNorms: Array[Double], qIdxs: Array[Int],
      k: Int, metric: MetricType.Value,
      exclude: Long => Boolean): Array[(Int, Array[(Long, Double)])] = {
    val (ids, flat, norms) = cluster
    val dim = if (qds.isEmpty) 0 else qds(0).length
    val l2Metric = metric == MetricType.Euclidean
    val cosMetric = metric == MetricType.Cosine
    val heaps = qIdxs.map(_ => new graft.functions.TopKHeap(k))
    var i = 0
    var off = 0
    while (i < ids.length) {
      if (!exclude(ids(i))) {
        var qn = 0
        while (qn < qIdxs.length) {
          val qd = qds(qIdxs(qn))
          var dot = 0.0
          var j = 0
          while (j < dim) { dot += flat(off + j) * qd(j); j += 1 }
          val d =
            if (l2Metric) norms(i) - 2.0 * dot + qNorms(qIdxs(qn))
            else if (cosMetric) 1.0 - dot
            else -dot
          heaps(qn).offer(d, ids(i))
          qn += 1
        }
      }
      i += 1
      off += dim
    }
    qIdxs.zip(heaps.map(_.sortedPairs.map { case (d, id) => (id, d) }))
  }

  def dist(metric: MetricType.Value, a: Array[Float], b: Array[Float]): Double = {
    var l2 = 0.0; var dot = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      l2 += d * d; dot += a(i).toDouble * b(i).toDouble; i += 1
    }
    metric match {
      case MetricType.Euclidean => l2
      case MetricType.Cosine => 1.0 - dot
      case MetricType.DotProduct => -dot
    }
  }

  def normalize(v: Array[Float]): Array[Float] = {
    var acc = 0.0; var i = 0
    while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
    if (acc == 0.0) v else { val inv = 1.0 / math.sqrt(acc); v.map(x => (x * inv).toFloat) }
  }
}

/** The resident form a dense serve sweeps (see [[IvfIndex.serve]]), and
  * the candidate cut of the job path ([[IvfIndex.search]]). */
sealed trait ServeTier
object ServeTier {
  /** Float vectors: exact scores. */
  case object Float extends ServeTier
  /** 16-bit resident codes (the job path scans the int8 `__qcode`);
    * `certify` (serve only) proves the exact id set. */
  final case class Quantized(certify: Boolean) extends ServeTier
  /** PQ (ADC) codes; `certify` (serve only) proves the exact id set. */
  final case class Pq(certify: Boolean) extends ServeTier
}

/** Which clusters a dense serve or job-path search probes (see
  * [[IvfIndex.serve]], [[IvfIndex.search]]). */
sealed trait ServeProbe
object ServeProbe {
  /** The `nProbe` nearest centroids. */
  final case class Nearest(nProbe: Int) extends ServeProbe
  /** The ball cover proving recall ≥ `target` (1.0 = exact); `slack`
    * widens it by rows the mask may hide (tombstones). */
  final case class Recall(target: Double, slack: Long) extends ServeProbe
  /** Explicit per-query probe sets — only for the kept
    * `servePointBatch(…, probeSets)` adapter. */
  private[index] final case class Sets(sets: Array[Array[Int]])
    extends ServeProbe
}

/** One query's serve answer: hits best first by (distance, id), the rows
  * float-reranked by certification (0 = none), and the probe set swept
  * (facet lookups probe the clusters the hits came from). */
final case class Served(hits: Array[(Long, Double)], reranked: Int,
    probed: Array[Int])

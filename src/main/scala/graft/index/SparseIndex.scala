package graft.index

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.types.MetricType

/** Persisted sparse inverted index: the batch-scale lifecycle for sparse
  * vector fields (reference: sparse fields are first-class indexable fields
  * with rebuild-while-querying semantics — engine/test/engine/db/
  * db_server.cpp `RebuildSparseVector`, `InsertAndQuerySparseVectorDuring
  * Rebuild`; scoring kernels engine/db/vector.cpp:7-100).
  *
  * The reference scores a sparse query by merging every row's
  * (indices, values) pairs — O(n · nnz) per query. The shared-nothing
  * analog of its index is the MATERIALIZED posting table: one (id, dim, v)
  * row per nonzero, persisted under `path/postings` partitioned by
  * `dim_bkt = dim % buckets` and sorted by `dim` within each bucket. A
  * query touching d dims prunes the scan to d partition directories at the
  * parquet-footer level, and the dim sort lets row-group stats skip
  * everything but the queried dims inside them — per-query cost is
  * |postings of the query's dims|, independent of corpus size; without it
  * every search would re-explode the full corpus, a full scan at 100 TB.
  *
  * The query surface is two methods, as on IvfIndex: `search`, the one
  * job path, and `serve`, the one batch-native serve from resident postings.
  *
  * Lifecycle mirrors IvfIndex exactly:
  *  - `sp_meta.json` stamps (watermark, count, purge, buckets); every
  *    access re-reads the tiny stamp, so a rebuild or append in ANY
  *    process invalidates this one's caches;
  *  - rows above the watermark are the fresh tail: callers union their
  *    postings (exploded per query — the tail is bounded by rebuild
  *    cadence) so searches see writes between rebuilds;
  *  - `rebuildVerbose` skips when count AND watermark AND purge match the
  *    stamp (same skip rule as the dense index, table_mvp.cpp:94-203).
  *
  * A side table `norms/` holds one (id, norm2) row per indexed row. It
  * serves two jobs: (a) exact L2 — `|x - q|^2 = norm2 - 2·dot + |q|^2`
  * needs each row's norm; (b) exact parity with the reference's
  * brute-force for ALL metrics — a row sharing no dim with the query has
  * dot 0 but still a finite distance, so the distance-mode search left-
  * joins candidates against the norms universe rather than returning
  * overlap-only rows. Retrieval mode (`search(…, overlapOnly = true)`,
  * and `serve` for dot and cosine) keeps the classic overlap-only
  * inverted-index contract.
  */
class SparseIndex(
    val spark: SparkSession,
    val path: String,
    val idCol: String) {

  def postingsPath = s"$path/postings"
  def normsPath = s"$path/norms"
  def statsPath = s"$path/dim_stats"
  def metaPath = s"$path/sp_meta.json"

  // the freshness stamp INCLUDES the build generation: a rebuild of
  // byte-identical data (count/watermark/purge unchanged, gen bumped)
  // still replaces the layout files, so a live instance must re-list —
  // a gen-less stamp left caches pointing at deleted parquet paths
  @transient private var cachedStamp: (Long, Long, Long, Long, Long) = null
  @transient private var postingsCache: DataFrame = null
  @transient private var normsCache: DataFrame = null
  @transient private var dimStatsCache: Option[(Map[Int, Long], Long)] = null
  // per-dim max |v| loaded in the SAME job as the counts (WAND bounds):
  // (heaviest-dims map, bound for dims outside the map). Layouts whose
  // stats predate the maxv column report Double.MaxValue — the WAND proof
  // then never succeeds and hot dims decline exactly as before.
  @transient private var dimMaxAbsCache: Option[(Map[Int, Double], Double)] = null

  private def meta(): (Long, Long, Long, Long) = SparseIndex.readMeta(metaPath)

  /** One file read covering all five stamp fields (meta() + readGen would
    * read the file twice per access on the serving hot path). */
  private def stamp(): (Long, Long, Long, Long, Long) = {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(metaPath)))
    (MetaJson.longField(raw, "watermark", 0L),
      MetaJson.longField(raw, "count", 0L),
      MetaJson.longField(raw, "purge", 0L),
      MetaJson.longField(raw, "buckets", 0L),
      MetaJson.longField(raw, "gen", 0L))
  }

  // serving snapshot pin (see IvfIndex: resident posting lists hold rows
  // with id <= serveWatermark; appends move the meta watermark but not
  // (gen, purge), so residency survives ingest — appended rows ride in on
  // the caller's fresh tail. Only a rebuild/purge flushes; the caller
  // rebases when the tail outgrows its cap.)
  @transient private var serveKey: (Long, Long) = null
  @volatile protected var serveWatermark = 0L

  /** Callers must hold the instance lock (all current call sites do). */
  private def refreshIfStale(): Unit = {
    val s = stamp()
    if (s != cachedStamp) {
      cachedStamp = s; postingsCache = null; normsCache = null
      dimStatsCache = null; dimMaxAbsCache = null
      val key = (s._5, s._3) // (gen, purge) — the serving residency key
      if (key != serveKey) {
        serveKey = key
        serveCache.clear(); servePostingsResident = 0L; minNormCache = null
        hotCache.clear()
        serveWatermark = s._1
      }
    }
  }

  /** The serving snapshot pin: callers collect rows ABOVE this as the
    * fresh tail (NOT `indexedWatermark`, which appends keep moving). */
  def servingWatermark(): Long = synchronized { refreshIfStale(); serveWatermark }

  /** The full freshness stamp (watermark, count, purge, buckets, gen) as an
    * opaque cache key: one tiny file read, no Spark job — callers key their
    * own derived caches (e.g. statistics() summaries) on it. */
  private[graft] def freshnessStamp(): Any = stamp()

  /** Drop residency and re-pin at the current watermark — the caller's
    * move when the fresh tail outgrows its cap. */
  def rebaseServing(): Unit = synchronized { cachedStamp = null; serveKey = null }

  /** Max row id covered by the index (rows above it are the fresh tail). */
  def indexedWatermark(): Long = meta()._1

  /** Indexed row count at build time (rebuild-skip heuristic only). */
  def indexedCount(): Long = meta()._2

  /** Store purge generation at build time (see IvfIndex.indexedPurgeGen). */
  def indexedPurgeGen(): Long = meta()._3

  /** Partition-bucket count fixed at build time (query-side pruning must
    * hash dims with the same modulus the layout was written with). */
  def buckets(): Int = meta()._4.toInt

  /** Posting table (id, dim, v), cached per meta stamp — re-reading per
    * query would re-list every bucket directory. */
  def postings(): DataFrame = synchronized {
    refreshIfStale()
    if (postingsCache == null) postingsCache = spark.read.parquet(postingsPath)
    postingsCache
  }

  /** (id, norm2) universe of indexed rows, cached per meta stamp. */
  def norms(): DataFrame = synchronized {
    refreshIfStale()
    if (normsCache == null) normsCache = spark.read.parquet(normsPath)
    normsCache
  }

  /** Resident stats budget: only the heaviest `maxResidentDimStats` dims
    * are held exactly on the driver — at open-vocab scale (tens of
    * millions of distinct dims) the stats map itself must stay bounded or
    * the guard would recreate the OOM it exists to prevent. Any ABSENT
    * dim's count is bounded above by the returned cutoff (the smallest
    * retained count): exact for the hot dims that matter, conservative
    * for the light tail. */
  @volatile var maxResidentDimStats: Int = 1 << 20

  /** Per-dim posting counts persisted at build/append time (`dim_stats/`,
    * append-mode deltas summed at read), driver-resident per meta stamp:
    * (heaviest-dims map, absent-dim upper bound). This is the cardinality
    * pre-check that gates serving cold loads: a stop-word-grade hot dim
    * must DECLINE to the job path BEFORE its full posting list is
    * collected to the driver — at 100 TB an unguarded collect of one hot
    * dim is a driver OOM. None = the layout predates the stats file (or a
    * rebuild is racing the read); callers fall back to a pruned count
    * probe. */
  def dimStatsResident(): Option[(Map[Int, Long], Long)] = {
    var stampAt: (Long, Long, Long, Long, Long) = null
    synchronized {
      refreshIfStale()
      if (dimStatsCache != null) return dimStatsCache
      stampAt = cachedStamp
    }
    // the stats read is a (small) Spark job — run it OUTSIDE the lock so
    // one cold stats load never convoys concurrent warm serves. The same
    // pass also loads the per-dim max |v| bounds (WAND serving).
    val cap = maxResidentDimStats
    val loaded: Option[((Map[Int, Long], Long), (Map[Int, Double], Double))] =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(statsPath))) None
      else scala.util.Try {
        val df = spark.read.parquet(statsPath)
        val hasMax = df.columns.contains("maxv")
        val rows = df
          .groupBy(col("dim"))
          .agg(sum(col("cnt")).as("cnt"),
            (if (hasMax) max(col("maxv")) else lit(Double.MaxValue)).as("maxv"))
          .orderBy(col("cnt").desc, col("dim").asc)
          .limit(cap)
          .collect()
        // truncated -> every absent dim holds at most the smallest
        // retained count; untruncated -> absent means zero postings
        val cutoff = if (rows.length >= cap && rows.nonEmpty) rows.last.getLong(1) else 0L
        val counts = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
        val maxes = rows.map(r => r.getInt(0) -> r.getDouble(2)).toMap
        // magnitude bound for dims outside the retained map: counts order
        // says nothing about magnitudes, so a truncated map needs the
        // GLOBAL max (one extra slim agg over the dims-sized stats file)
        val globalMax: Double =
          if (!hasMax) Double.MaxValue
          else if (rows.length >= cap) {
            val r = df.agg(max(col("maxv"))).head()
            if (r.isNullAt(0)) 0.0 else r.getDouble(0)
          } else if (maxes.isEmpty) 0.0
          else maxes.values.max
        ((counts, cutoff), (maxes, globalMax))
      }.toOption
    synchronized {
      refreshIfStale()
      if (cachedStamp == stampAt && dimStatsCache == null) {
        dimStatsCache = loaded.map(_._1)
        dimMaxAbsCache = loaded.map(_._2)
      }
      if (dimStatsCache != null) dimStatsCache else loaded.map(_._1)
    }
  }

  /** Per-dim max |v| bounds backing the WAND exactness proof (loaded by
    * the same job as `dimStatsResident`): (per-dim map, bound for absent
    * dims). None = no stats layout (or racing rebuild) — the WAND path
    * then has no bound and declines hot dims. */
  private def dimMaxAbsResident(): Option[(Map[Int, Double], Double)] = {
    dimStatsResident()
    synchronized { if (dimMaxAbsCache != null) dimMaxAbsCache else None }
  }

  /** Aggregate view of the persisted stats for observability
    * (`statistics()` / HTTP): (distinct dims, total postings, max per-dim
    * postings) — one slim agg job, nothing vocab-sized on the driver. */
  def dimStatsSummary(): Option[(Long, Long, Long)] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(statsPath))) None
    else scala.util.Try {
      val r = spark.read.parquet(statsPath)
        .groupBy(col("dim")).agg(sum(col("cnt")).as("cnt"))
        .agg(count(lit(1)), sum(col("cnt")), max(col("cnt"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }.toOption

  /** Old-layout fallback for the serving cardinality guard: one pruned
    * COUNT job over the probe set (output is |dims| rows — tiny), pinned
    * to the serving snapshot. Costs one extra job per cold load, which
    * layouts carrying `dim_stats/` never pay. */
  private def probeDimCounts(dims: Array[Int]): Map[Int, Long] =
    prunedPostings(dims)
      .filter(col(idCol).cast("long") <= serveWatermark)
      .groupBy(col("dim")).agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Pruned postings of the query's dims: partition pruning on `dim_bkt`
    * (directory level) + a pushed `dim` filter (row-group level). */
  private def prunedPostings(qIdx: Array[Int]): DataFrame = {
    val b = buckets()
    val qBuckets = qIdx.map(d => math.floorMod(d, b)).distinct.toSeq
    postings()
      .filter(col("dim_bkt").isin(qBuckets: _*))
      .filter(col("dim").isin(qIdx.toSeq: _*))
  }

  /** Incremental maintenance (the micro-batch path): explode postings of
    * rows ABOVE the current watermark and append them to the layout —
    * no rebuild, same contract as IvfIndex.append. `newPostings` is
    * (idCol, dim, v) for the new rows only; `newRows`/`newMaxId` come from
    * the caller's batch stats. */
  // once-per-instance crash-redo probe (see needsOrphanHeal)
  @transient private var orphanChecked = false

  /** One-time (per instance) crash-redo probe: a writer that died between
    * appending postings and committing the meta left orphan rows ABOVE
    * the meta watermark — the watermark-driven catch-up would re-append
    * them, permanently double-counting dots. True = the caller must full-
    * rebuild instead of appending (the rebuild overwrites the layout).
    * One pruned limit-1 job per JVM per index; clean layouts pay it once. */
  def needsOrphanHeal(): Boolean = {
    synchronized {
      if (orphanChecked) return false
      orphanChecked = true
    }
    val wm = indexedWatermark()
    !postings().filter(col(idCol).cast("long") > wm).isEmpty
  }

  def append(newPostings: DataFrame, newRows: Long, newMaxId: Long,
      norms: Option[DataFrame] = None): Unit = {
    if (newRows <= 0) return
    val b = buckets()
    SparseIndex.writePostings(newPostings, idCol, b, postingsPath, SaveMode.Append)
    // per-dim count delta for the serving cardinality guard (append-only:
    // readers sum the deltas; the next full build compacts them away).
    // Deltas must match the existing files' schema: a pre-maxv layout
    // keeps appending two columns until the next full build upgrades it.
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(statsPath))) {
      val hasMax = scala.util.Try(
        spark.read.parquet(statsPath).columns.contains("maxv")).getOrElse(false)
      SparseIndex.writeDimStats(newPostings, statsPath, SaveMode.Append,
        withMax = hasMax)
    }
    // posting-derived norms miss zero-nnz rows; callers with the source
    // rows pass normsOfColumn for the complete universe
    norms.getOrElse(SparseIndex.normsOf(newPostings, idCol))
      .select(col(idCol), col("norm2").cast("double").as("norm2"))
      .write.mode(SaveMode.Append).parquet(normsPath)
    val (wm, cnt, purge, _) = meta()
    SparseIndex.writeMeta(metaPath, math.max(wm, newMaxId), cnt + newRows, purge, b,
      base = SparseIndex.readBase(metaPath), gen = SparseIndex.readGen(metaPath))
  }

  /** The one job path: top-`k` as `(idCol, @distance)` ascending, ties by
    * id, with `@distance` in the metric's form (dot product `-dot`,
    * cosine `1 - dot` against the normalized query, Euclidean squared
    * L2). One pruned scan of the query's dims, a broadcast dim join and a
    * partial-aggregated groupBy(id), then TakeOrderedAndProject.
    *
    *  - `overlapOnly` = retrieval mode, the classic inverted-index
    *    contract: only rows sharing a dim with the query are candidates
    *    (BM25 and dot retrieval). Otherwise distance mode, exact against
    *    the reference's brute force: the overlap aggregate is LEFT-joined
    *    from the norms universe, so a row sharing no dim scores dot 0 at
    *    its finite distance. Euclidean needs that universe, so it never
    *    runs in retrieval mode;
    *  - `tailPostings` / `tailNorms`: (idCol, dim, v) and (idCol, norm2)
    *    of rows above the watermark, unioned before scoring
    *    (rebuild-while-querying freshness);
    *  - `excludeIds`: tombstoned ids, broadcast anti-join;
    *  - `restrictIds`: live ids semi-join (post-compact correctness, same
    *    contract as IvfIndex.search). */
  def search(metric: MetricType.Value, overlapOnly: Boolean,
      qIdx: Array[Int], qVal: Array[Float], k: Int,
      tailPostings: Option[DataFrame] = None,
      tailNorms: Option[DataFrame] = None,
      excludeIds: Option[DataFrame] = None,
      restrictIds: Option[DataFrame] = None): DataFrame = {
    require(!(overlapOnly && metric == MetricType.Euclidean),
      "Euclidean sparse search ranks every row: it has no overlap-only mode")
    import spark.implicits._
    val qv = SparseIndex.queryValues(metric, qVal)
    val q = qIdx.zip(qv).toSeq.toDF("dim", "qval")
    val base = prunedPostings(qIdx).select(col(idCol), col("dim"), col("v"))
    val withTail = tailPostings.fold(base)(t =>
      base.unionByName(t.select(col(idCol), col("dim"), col("v"))))
    // retrieval masks the postings; distance mode masks the universe
    val postings =
      if (overlapOnly) SparseIndex.mask(withTail, idCol, excludeIds, restrictIds)
      else withTail
    // double-cast BEFORE the multiply: a float x float product rounds to
    // float, while the row-major merge scan (SparseVec.merge) multiplies
    // in double — near-tied rows would order differently between paths
    val dots = postings
      .join(broadcast(q), "dim")
      .groupBy(col(idCol))
      .agg(sum(col("v").cast("double") * col("qval").cast("double")).as("__dot"))
    val scored =
      if (overlapOnly) dots
      else {
        val universe = tailNorms.fold(norms())(t =>
          norms().unionByName(t.select(col(idCol), col("norm2"))))
        SparseIndex.mask(universe, idCol, excludeIds, restrictIds)
          .join(dots, Seq(idCol), "left")
          .withColumn("__dot", coalesce(col("__dot"), lit(0.0)))
      }
    var qNorm = 0.0
    qv.foreach(v => qNorm += v.toDouble * v.toDouble)
    val dist = metric match {
      case MetricType.Euclidean => col("norm2") - lit(2.0) * col("__dot") + lit(qNorm)
      case MetricType.Cosine => lit(1.0) - col("__dot")
      case MetricType.DotProduct => -col("__dot")
    }
    scored
      .select(col(idCol), dist.as("@distance"))
      .orderBy(col("@distance").asc, col(idCol).asc)
      .limit(k)
  }

  // ---- driver-side serving (no Spark job on the warm path) ----

  /** Per-dim driver-resident posting lists (ids, values, row norms): the
    * sparse sibling of IvfIndex's per-cluster serving cache. A dim is
    * loaded once (one pruned job), then every query probing it is pure JVM
    * compute. LRU in access order, bounded by `maxServePostings` resident
    * entries. The Spark job for cold dims runs OUTSIDE the instance lock —
    * last-writer-wins on duplicate loads — so a cold query never stalls
    * concurrent warm queries. The norm array rides along so Euclidean
    * serving can score overlap candidates without a second lookup. */
  @transient private var serveCache =
    new java.util.LinkedHashMap[Int, SparseIndex.Postings](64, 0.75f, true)
  @transient private var servePostingsResident = 0L

  /** Serving cache budget in resident postings (id+value+norm = 24 bytes
    * each; default 16M ≈ 384 MiB). */
  @volatile var maxServePostings: Long = 16L * 1024 * 1024

  def servingResidentPostings(): Long = synchronized { servePostingsResident }

  // serve declines (budget, thrash, or unprovable exactness) — the
  // operational signal that queries are falling off the serve path onto
  // the job path (time to raise budgets, rebuild, or shard)
  private val declines = new java.util.concurrent.atomic.AtomicLong(0L)
  def serveDeclineCount(): Long = declines.get()
  /** Maintenance resets the counter after acting on it (rebuild): declines
    * are a per-generation signal, not a lifetime total. */
  private[graft] def resetServeDeclineCount(): Unit = declines.set(0L)
  private def decline: Option[Nothing] = { declines.incrementAndGet(); None }

  // ---- declared-column filtered serving (sparse-ONLY tables) ----

  /** Declared scalar filter columns, persisted next to the layout
    * (serve_cols.json — the same artifact the dense index writes, so
    * follower processes inherit the declaration). Unlike the dense index,
    * the sparse layout is per-dim postings with no row-wise scalar
    * storage, so the declaration does not pin VALUES resident: the
    * filtered-serving verdict is a PASSING-ID SET per (conjunction, pin),
    * computed by one pruned store job (the caller supplies the loader)
    * when cold and pure JVM compute warm. Entries never go stale — row
    * content is id-keyed and IMMUTABLE (an upsert tombstones the old row
    * and inserts under a NEW id), so a set keyed by (conjunction, pinWm)
    * answers for that pin forever; the LRU bound is a memory budget, not
    * a freshness mechanism. Completeness: the verdict is only ever
    * consulted for ids the sparse candidate walk surfaces, and every such
    * id at or below the pin is a store row at or below the pin — exactly
    * the loader's universe. */
  def serveColsPath = s"$path/serve_cols.json"
  @volatile private var filterColsDecl: Seq[String] =
    IvfIndex.readServeCols(serveColsPath)
  def setServeFilterColumns(cols: Seq[String]): Unit = synchronized {
    filterColsDecl = cols.distinct
    passSetCache.clear()
    scalarRowsCache = null // the values block is per-declaration
    IvfIndex.writeServeCols(serveColsPath, filterColsDecl)
  }
  def serveFilterColumns(): Seq[String] = filterColsDecl

  /** Scalar-residency unit budget: ~48 B per resident value (boxing +
    * slack, the dense estimate), so the default (4M units ≈ 192 MiB)
    * matches the dense scalar residency's scale. The VALUES load is
    * row-capped at `maxServePassIds / max(1, declared columns)`; a pass
    * set is always within budget because it holds a subset of the loaded
    * rows' ids. Over-budget tables decline to the job path (which masks
    * by a distributed semi-join instead). */
  @volatile var maxServePassIds: Long = 4L * 1024 * 1024

  /** Effective row cap for the values residency. */
  def effectiveMaxScalarRows: Long =
    maxServePassIds / math.max(1, filterColsDecl.size)

  // ONE values entry per (pin, declaration) (id-keyed row content is
  // immutable — an upsert tombstones + re-inserts under a new id — so an
  // entry is valid for its pin forever; a new pin or a re-declaration
  // simply replaces it; the declaration in the key closes the race where
  // a cold load started under the OLD declaration lands after a
  // re-declaration cleared the cache — a stale block keyed by pin alone
  // would decline every new-column filter until the pin moved)
  @transient private var scalarRowsCache:
    ((Long, Seq[String]), SparseIndex.SparseScalarRows) = null

  @transient private val passSetCache =
    new java.util.LinkedHashMap[(String, Long), java.util.HashSet[java.lang.Long]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), java.util.HashSet[java.lang.Long]])
          : Boolean = size() > 16
    }

  /** The values residency at pin `pinWm`: warm = pure cache hit; cold =
    * `loader` runs ONE pruned job over the store's rows at or below the
    * pin (None from it = over the row-cap pre-check → decline). Runs
    * OUTSIDE the instance lock — last-writer-wins on a duplicate load of
    * the same immutable block. Every conjunction and every facet lookup
    * at this pin reads this one block; no per-conjunction jobs. */
  def scalarRowsAt(pinWm: Long,
      loader: () => Option[SparseIndex.SparseScalarRows])
      : Option[SparseIndex.SparseScalarRows] = {
    val key = (pinWm, filterColsDecl)
    synchronized {
      val c = scalarRowsCache
      if (c != null && c._1 == key) return Some(c._2)
    }
    loader() match {
      case None => decline
      case Some(rows) =>
        if (rows.ids.length > effectiveMaxScalarRows) return decline
        synchronized { scalarRowsCache = (key, rows) }
        Some(rows)
    }
  }

  /** The resident pass set for a conjunction (keyed by its canonical
    * string) at pin `pinWm` — a DRIVER-SIDE evaluation over the values
    * residency (the `eval` closure), cached so a repeated filter costs
    * one hash lookup per candidate in the walk, not a re-evaluation. */
  def passingIdSet(condsKey: String, pinWm: Long,
      eval: () => Option[Array[Long]])
      : Option[java.util.HashSet[java.lang.Long]] = {
    val key = (condsKey, pinWm)
    synchronized {
      val c = passSetCache.get(key)
      if (c != null) return Some(c)
    }
    eval() match {
      case None => decline
      case Some(ids) =>
        val s = new java.util.HashSet[java.lang.Long](
          math.max(16, ids.length * 4 / 3))
        ids.foreach(id => s.add(id))
        synchronized { passSetCache.put(key, s) }
        Some(s)
    }
  }

  // ---- WAND / max-score hot-dim serving state ----

  /** Impact-ordered resident PREFIX of a hot dim's posting list: the top
    * `maxServeHotPrefix` postings by |v| (ties by smaller id), plus the
    * magnitude bound on every EXCLUDED posting (0 when the prefix is in
    * fact the whole list). `sortedIds` backs the per-row certainty test
    * (binary search: is this row's posting for the hot dim resident?). */
  private final case class HotPrefix(ids: Array[Long], vs: Array[Double],
      sortedIds: Array[Long], tailBound: Double)

  // LRU over hot-dim prefixes, bounded by maxResidentHotDims entries of
  // at most maxServeHotPrefix postings each (24 B/posting: ~25 MiB at the
  // defaults) — deliberately OUTSIDE the maxServePostings budget, which
  // gates FULL lists; flushed with the rest of serving residency on any
  // (gen, purge) change
  @transient private var hotCache =
    new java.util.LinkedHashMap[Int, HotPrefix](16, 0.75f, true)

  /** Resident prefix length for a budget-exceeding dim: the top-P postings
    * by |v|. Bigger = more queries prove exactness; the cost is one
    * ordered pruned scan per cold hot-dim load and P×24 bytes resident. */
  @volatile var maxServeHotPrefix: Int = 4096

  /** How many distinct hot dims may hold prefixes at once (LRU beyond). */
  @volatile var maxResidentHotDims: Int = 256

  /** One impact-ordered pruned job for a cold hot dim: top `cap` postings
    * by |v| plus the bound on the first excluded one. None = the load
    * raced a rebuild (caller retries, then declines). */
  private def loadHotPrefix(d: Int, prefixCap: Int): Option[HotPrefix] = {
    val cap = math.max(1, prefixCap)
    scala.util.Try {
      val rows = prunedPostings(Array(d))
        .filter(col(idCol).cast("long") <= serveWatermark)
        .select(col(idCol).cast("long"), col("v").cast("double"))
        .orderBy(abs(col("v")).desc, col(idCol).asc)
        .limit(cap + 1)
        .collect()
      val take = math.min(rows.length, cap)
      val ids = new Array[Long](take)
      val vs = new Array[Double](take)
      var i = 0
      while (i < take) { ids(i) = rows(i).getLong(0); vs(i) = rows(i).getDouble(1); i += 1 }
      val tail = if (rows.length <= cap) 0.0 else math.abs(rows(cap).getDouble(1))
      val sorted = ids.clone()
      java.util.Arrays.sort(sorted)
      HotPrefix(ids, vs, sorted, tail)
    }.toOption
  }

  /** Resolve prefixes for the query's hot dims from the LRU (loading cold
    * ones outside the lock, same stamp-revalidated install discipline as
    * residentLists). None = rebuild churn raced every attempt. */
  private def resolveHotPrefixes(hotDims: Array[Int],
      prefixCap: Int): Option[Map[Int, HotPrefix]] = {
    if (hotDims.isEmpty) return Some(Map.empty)
    var attempts = 0
    while (attempts < 8) {
      attempts += 1
      var keyAtProbe: (Long, Long) = null
      var w0 = 0L
      val missing = synchronized {
        refreshIfStale()
        keyAtProbe = serveKey
        w0 = serveWatermark
        hotDims.filterNot(hotCache.containsKey(_))
      }
      val loaded: Array[(Int, HotPrefix)] =
        if (missing.isEmpty) Array.empty
        else {
          val ps = missing.map(d => d -> loadHotPrefix(d, prefixCap)) // jobs, no lock
          if (ps.exists(_._2.isEmpty)) null // racing rebuild: retry
          else ps.map { case (d, p) => d -> p.get }
        }
      if (loaded != null) synchronized {
        refreshIfStale()
        if (serveKey == keyAtProbe && serveWatermark == w0) {
          loaded.foreach { case (d, p) => hotCache.put(d, p) }
          val it = hotCache.entrySet().iterator()
          while (hotCache.size > maxResidentHotDims && it.hasNext) {
            if (!hotDims.contains(it.next().getKey)) it.remove()
          }
          val got = hotDims.map(hotCache.get(_))
          if (!got.contains(null)) return Some(hotDims.zip(got).toMap)
        }
      } else synchronized { refreshIfStale() }
    }
    None
  }

  /** One pruned job collecting the posting lists of `missing` dims —
    * overridable so tests can model a slow cold load. Rows from layouts
    * (or mixed files) written before norms rode in the postings carry the
    * sentinel norm -1: dot serving ignores norms entirely, and Euclidean
    * serving DECLINES to the job path when it meets one — never a null
    * crash, never a silently wrong distance. */
  protected def loadDimPostings(missing: Array[Int]): Map[Int, SparseIndex.Postings] = {
    val hasNorm = postings().columns.contains("norm2")
    // pack EXECUTOR-SIDE into primitive arrays: a posting Row is ~100 B of
    // object overhead around 28 B of data, so collecting Rows pays ~4x in
    // serialization + driver GC on big posting lists
    val chunks = prunedPostings(missing)
      // pin to the serving snapshot: postings appended after the pin are
      // the caller's fresh tail, never double-counted from the layout
      .filter(col(idCol).cast("long") <= serveWatermark)
      .select(col("dim"), col(idCol).cast("long"), col("v").cast("double"),
        (if (hasNorm) coalesce(col("norm2"), lit(-1.0)) else lit(-1.0)).cast("double"))
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map[Int,
          (scala.collection.mutable.ArrayBuffer[Long],
            scala.collection.mutable.ArrayBuffer[Double],
            scala.collection.mutable.ArrayBuffer[Double])]()
        it.foreach { r =>
          val (ids, vs, ns) = acc.getOrElseUpdate(r.getInt(0),
            (scala.collection.mutable.ArrayBuffer[Long](),
              scala.collection.mutable.ArrayBuffer[Double](),
              scala.collection.mutable.ArrayBuffer[Double]()))
          ids += r.getLong(1); vs += r.getDouble(2); ns += r.getDouble(3)
        }
        acc.iterator.map { case (d, (ids, vs, ns)) =>
          (d, ids.toArray, vs.toArray, ns.toArray)
        }
      }.collect()
    missing.map { d =>
      val cs = chunks.filter(_._1 == d)
      val n = cs.map(_._2.length).sum
      val ids = new Array[Long](n)
      val vs = new Array[Double](n)
      val ns = new Array[Double](n)
      var off = 0
      cs.foreach { case (_, cids, cvs, cns) =>
        System.arraycopy(cids, 0, ids, off, cids.length)
        System.arraycopy(cvs, 0, vs, off, cvs.length)
        System.arraycopy(cns, 0, ns, off, cns.length)
        off += cids.length
      }
      d -> ((ids, vs, ns))
    }.toMap
  }

  /** Resolve the query dims' posting lists from the resident cache, loading
    * cold dims with one pruned job OUTSIDE the lock (shared by the dot and
    * Euclidean serve paths). None = the probe set cannot fit the resident
    * budget (or the cache is thrashing under racing rebuilds) — the caller
    * DECLINES to the job path, per the exact-or-decline serving contract.
    * The capacity check runs BEFORE the collect, against persisted per-dim
    * counts (or a pruned count probe on pre-stats layouts): a hot dim's
    * posting list larger than `maxServePostings` never reaches the driver. */
  private def residentLists(qIdx: Array[Int]): Option[Array[SparseIndex.Postings]] = {
    var attempts = 0
    var lists: Array[SparseIndex.Postings] = null
    while (lists == null) {
      attempts += 1
      if (attempts > 8) return decline // thrash: degrade to the job path
      var w0AtProbe = 0L
      var keyAtProbe: (Long, Long) = null
      val missing = synchronized {
        refreshIfStale()
        w0AtProbe = serveWatermark
        keyAtProbe = serveKey
        qIdx.filterNot(serveCache.containsKey(_))
      }
      // probe + load are guarded: a full rebuild overwriting postings/
      // between the stamp read and the collect surfaces as a
      // FileNotFoundException from the job — that is one failed attempt
      // (the next pass re-reads the stamp and re-lists), NOT an exception
      // out of serve; persistent churn declines via the attempt
      // bound, honoring the decline-instead-of-throw serving contract
      var loaded: Map[Int, SparseIndex.Postings] = null
      try {
        if (missing.nonEmpty) {
          // cardinality pre-check: what would THIS query need resident? The
          // eviction pass can drop everything except the query's own dims, so
          // the feasibility bound is the query's dims alone. Persisted stats
          // count the whole layout (>= the pinned subset: conservative);
          // dims absent from the bounded resident map are charged the
          // truncation cutoff (an upper bound on their true count).
          val (counts, cutoff) = dimStatsResident()
            .getOrElse((probeDimCounts(missing), 0L))
          val projected = missing.map(counts.getOrElse(_, cutoff)).sum
          val retained = synchronized {
            qIdx.filter(serveCache.containsKey(_))
              .map(serveCache.get(_)._1.length.toLong).sum
          }
          if (projected + retained > maxServePostings) return decline
        }
        loaded =
          if (missing.isEmpty) Map.empty[Int, SparseIndex.Postings]
          else loadDimPostings(missing) // outside the lock: a real Spark job
      } catch { case scala.util.control.NonFatal(_) => }
      if (loaded == null) {
        // the racing rebuild that broke the load also moved the stamp;
        // invalidate cached relations so the retry re-lists fresh paths
        synchronized { refreshIfStale() }
      } else synchronized {
        refreshIfStale()
        // a rebase OR a rebuild/purge between the lock windows invalidated
        // what we loaded (a purge rebuild can leave the watermark
        // unchanged, so the key check is load-bearing): drop and retry
        if (serveKey == keyAtProbe && serveWatermark == w0AtProbe)
          loaded.foreach { case (d, lst) =>
            val prev = serveCache.put(d, lst)
            if (prev != null) servePostingsResident -= prev._1.length
            servePostingsResident += lst._1.length
          }
        if (servePostingsResident > maxServePostings) {
          val keep = qIdx.toSet
          val it = serveCache.entrySet().iterator()
          while (servePostingsResident > maxServePostings && it.hasNext) {
            val e = it.next()
            if (!keep.contains(e.getKey)) {
              servePostingsResident -= e.getValue._1.length
              it.remove()
            }
          }
        }
        val got = qIdx.map(serveCache.get(_))
        if (!got.contains(null)) lists = got
        // else: the stamp moved between load and install — loop reloads
      }
    }
    Some(lists)
  }

  /** The one resident serve: top-`k` for a batch of sparse queries
    * from the resident per-dim posting cache, with no Spark job on the
    * warm path. A single query is a batch of one. Each query gets
    * `(id, @distance)` ascending, ties by smaller id, in the metric's form
    * (dot product `-dot`, cosine `1 - dot` against the normalized query,
    * Euclidean squared L2), or None: that query's decline, counted once,
    * which the caller's job path answers.
    *
    *  - Dot product and cosine serve in RETRIEVAL mode, the classic
    *    inverted-index contract and the order of `search(…, overlapOnly =
    *    true)`: only rows sharing a dim with the query are candidates. A
    *    dim whose full posting list does not fit the residency budget
    *    serves from an impact-ordered prefix under the WAND proof
    *    ([[retrievalCut]]).
    *  - Euclidean is EXACT or declines ([[euclidCut]]): overlap rows score
    *    off their posting-resident norms, rows sharing no dim fill from the
    *    resident min-norm list. A query touching a dim over the budget
    *    declines.
    *
    * `exclude` masks dead (or filtered-out) ids. `tail` holds the fresh
    * rows' postings per dim as (ids, values, norms) and `tailNorms` the
    * (id, norm2) of every fresh row, both above the serving pin. */
  def serve(queries: Array[(Array[Int], Array[Float])], k: Int,
      metric: MetricType.Value, exclude: Long => Boolean = _ => false,
      tail: Map[Int, SparseIndex.Postings] = Map.empty,
      tailNorms: Array[(Long, Double)] = Array.empty)
      : Array[Option[Array[(Long, Double)]]] =
    queries.map { case (qIdx, qVal) =>
      if (k <= 0) Some(Array.empty[(Long, Double)])
      else serveOne(qIdx, SparseIndex.queryValues(metric, qVal), k, metric,
        exclude, tail, tailNorms)
    }

  private def serveOne(qIdx: Array[Int], qVal: Array[Float], k: Int,
      metric: MetricType.Value, exclude: Long => Boolean,
      tail: Map[Int, SparseIndex.Postings], tailNorms: Array[(Long, Double)])
      : Option[Array[(Long, Double)]] = {
    val euclid = metric == MetricType.Euclidean
    // dims over the budget serve from a prefix; Euclidean has no prefix
    // proof, so residentLists' own pre-check declines them
    val (hotDims, prefixCap) =
      if (euclid) (Array.empty[Int], 0)
      else planWand(qIdx).getOrElse(return decline) // stats unreadable under churn
    // the WAND proof needs PERSISTED magnitude bounds: a layout whose
    // dim_stats predate the maxv column (or has none at all) has no
    // certified ceiling on unseen postings and declines. The maintenance
    // heal loop's forced rebuild upgrades such layouts.
    val hotBounds: Array[Double] =
      if (hotDims.isEmpty) Array.empty
      else dimMaxAbsResident() match {
        case Some((persisted, absent)) =>
          val b = hotDims.map(d => persisted.getOrElse(d, absent))
          if (b.contains(Double.MaxValue)) return decline
          b
        case None => return decline
      }
    val fullDims = qIdx.filterNot(hotDims.contains)
    val lists =
      if (fullDims.isEmpty && hotDims.nonEmpty) Array.empty[SparseIndex.Postings]
      else residentLists(fullDims).getOrElse(return None) // counted there
    // each hot dim's prefix, its tail bound tightened with the persisted
    // per-dim max |v| (both ceil the excluded postings; take the smaller)
    val prefixes: Map[Int, HotPrefix] =
      if (hotDims.isEmpty) Map.empty
      else {
        val loaded = resolveHotPrefixes(hotDims, prefixCap)
          .getOrElse(return decline) // churn raced every prefix load
        hotDims.zip(hotBounds).map { case (d, b) =>
          val p = loaded(d)
          d -> (if (b < p.tailBound) p.copy(tailBound = b) else p)
        }.toMap
      }
    // per-id (dot, norm2) over the full lists, the prefixes and the tail
    val acc = new java.util.HashMap[java.lang.Long, Array[Double]](1024)
    var missingNorms = false
    def add(ids: Array[Long], vs: Array[Double], ns: Array[Double], w: Double): Unit = {
      var i = 0
      while (i < ids.length) {
        if (!exclude(ids(i))) {
          val key = java.lang.Long.valueOf(ids(i))
          var cell = acc.get(key)
          if (cell == null) {
            cell = Array(0.0, if (ns == null) 0.0 else ns(i))
            acc.put(key, cell)
          }
          if (euclid && ns(i) < 0) missingNorms = true // pre-norm2 layout row
          cell(0) += vs(i) * w
        }
        i += 1
      }
    }
    var li = 0
    var di = 0
    while (di < qIdx.length) {
      val d = qIdx(di)
      val w = qVal(di).toDouble
      prefixes.get(d) match {
        case Some(p) => add(p.ids, p.vs, null, w)
        case None => val l = lists(li); li += 1; add(l._1, l._2, l._3, w)
      }
      tail.get(d).foreach { case (ids, vs, ns) => add(ids, vs, ns, w) }
      di += 1
    }
    if (!euclid) retrievalCut(acc, k, metric, qIdx, qVal, hotDims, prefixes)
    // rows written before norms rode in the postings cannot be scored
    // exactly from resident state: decline until the next full rebuild
    else if (missingNorms) decline
    else euclidCut(acc, k, qVal, exclude, tailNorms)
  }

  /** Partition the query's dims: which must serve from an impact-ordered
    * PREFIX because their full posting list cannot fit the remaining
    * residency budget? Cheapest-first greedy, so light dims never lose
    * their full residency to a stop-word dim. Returns (hot dims, prefix
    * cap) — the cap splits whatever budget the full lists left across the
    * hot dims, bounded by `maxServeHotPrefix`, so the TOTAL resident
    * postings stay inside `maxServePostings` even on the WAND path. Empty
    * hot = the classic full-residency path applies. None = the
    * stats/probe read itself failed under rebuild churn. */
  private def planWand(qIdx: Array[Int]): Option[(Array[Int], Int)] = {
    val missing = synchronized {
      refreshIfStale()
      qIdx.filterNot(serveCache.containsKey(_))
    }
    if (missing.isEmpty) return Some((Array.empty, 0))
    scala.util.Try(dimStatsResident().getOrElse((probeDimCounts(missing), 0L)))
      .toOption.map { case (counts, cutoff) =>
        val retained = synchronized {
          qIdx.filter(serveCache.containsKey(_))
            .map(serveCache.get(_)._1.length.toLong).sum
        }
        var budget = maxServePostings - retained
        val hot = scala.collection.mutable.ArrayBuffer[Int]()
        missing.map(d => d -> counts.getOrElse(d, cutoff))
          .sortBy { case (d, c) => (c, d) }
          .foreach { case (d, c) =>
            if (c <= budget) budget -= c else hot += d
          }
        val cap =
          if (hot.isEmpty) 0
          else math.min(maxServeHotPrefix.toLong,
            math.max(1L, budget / hot.length)).toInt
        (hot.toArray, cap)
      }
  }

  /** Retrieval-mode cut over the accumulated dots: the k largest, as
    * distances. A query with hot dims must first pass the WAND proof
    * (the max-score/WAND family, public knowledge, re-expressed for
    * prefix-residency serving) that no posting left out of a prefix
    * could change the top-k:
    *
    *  - a row with NO resident posting scores at most
    *    `B_out = Σ_hot |q_d|·tailBound_d`;
    *  - a scored row absent from some hot prefix may gain at most
    *    `Σ |q_d|·tailBound_d` over those dims (its `slack`) — rows with
    *    slack 0 have EXACT dots;
    *  - fresh rows (id > serving pin) are complete via the caller's tail.
    *
    * It serves iff the k-th certain dot STRICTLY beats both ceilings (a
    * tie is unresolvable without the excluded postings); otherwise it
    * declines to the job path. */
  private def retrievalCut(acc: java.util.HashMap[java.lang.Long, Array[Double]],
      k: Int, metric: MetricType.Value, qIdx: Array[Int], qVal: Array[Float],
      hotDims: Array[Int], prefixes: Map[Int, HotPrefix])
      : Option[Array[(Long, Double)]] = {
    val pin = serveWatermark
    // per-hot-dim |q| aligned with hotDims, and the no-resident-posting
    // score ceiling
    val hotAbsW = new Array[Double](hotDims.length)
    var bOut = 0.0
    var qi = 0
    while (qi < qIdx.length) {
      val hi = hotDims.indexOf(qIdx(qi))
      if (hi >= 0) {
        hotAbsW(hi) = math.abs(qVal(qi).toDouble)
        bOut += hotAbsW(hi) * prefixes(qIdx(qi)).tailBound
      }
      qi += 1
    }
    val hot = hotDims.map(prefixes)
    // the heap holds CERTAIN rows (slack 0: every hot dim either holds the
    // row in its prefix or has no excluded tail) keyed by -dot; uncertain
    // rows contribute only their ceiling
    val heap = new graft.functions.TopKHeap(k)
    var maxUncertainUpper = Double.NegativeInfinity
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val id = e.getKey.longValue
      val dot = e.getValue()(0)
      var slack = 0.0
      if (id <= pin) {
        var hi = 0
        while (hi < hot.length) {
          val p = hot(hi)
          if (p.tailBound > 0.0 &&
              java.util.Arrays.binarySearch(p.sortedIds, id) < 0)
            slack += hotAbsW(hi) * p.tailBound
          hi += 1
        }
      }
      if (slack == 0.0) heap.offer(-dot, id)
      else {
        val up = dot + slack
        if (up > maxUncertainUpper) maxUncertainUpper = up
      }
    }
    // fewer than k certain rows is exact ONLY when nothing was uncertain
    // at all (then the candidate set truly is this small)
    val proven = hotDims.isEmpty || (
      if (!heap.full) maxUncertainUpper == Double.NegativeInfinity && bOut == 0.0
      else {
        val theta = -heap.worst // k-th best certain dot
        theta > maxUncertainUpper && theta > bOut
      })
    if (!proven) decline
    else Some(heap.sortedPairs.map { case (negDot, id) =>
      (id, if (metric == MetricType.Cosine) 1.0 - (-negDot) else negDot)
    })
  }

  // smallest-norm rows of the indexed universe, resident per meta stamp:
  // for Euclidean a non-overlap row's distance is EXACTLY norm2 + |q|²,
  // so the globally smallest-norm rows are the only non-overlap rows that
  // can enter a top-k — keeping the first `maxServeMinNorm` of them
  // resident makes driver-side Euclidean serving EXACT whenever the k-th
  // result beats the truncation bound (checked per query; over the bound
  // the caller falls back to the job path)
  // (list, truncated?) — truncated is judged against the cap AT LOAD TIME,
  // so raising maxServeMinNorm later doesn't mislabel a short list complete
  @transient private var minNormCache: (Array[(Long, Double)], Boolean) = null

  /** Resident min-norm list size (16 bytes/entry; also the effective upper
    * bound on k for exact Euclidean serving of non-overlap fills). */
  @volatile var maxServeMinNorm: Int = 4096

  /** None = rebuilds are racing every load attempt — caller declines to
    * the job path instead of throwing mid-serve. */
  private def residentMinNorms(): Option[(Array[(Long, Double)], Boolean)] = {
    var attempts = 0
    while (attempts < 8) {
      attempts += 1
      var w0 = 0L
      var key: (Long, Long) = null
      synchronized {
        refreshIfStale()
        if (minNormCache != null) return Some(minNormCache)
        w0 = serveWatermark
        key = serveKey
      }
      // one slim job outside the lock (same discipline as the posting
      // load); pinned to the serving snapshot captured above — fresh rows'
      // norms arrive as tailNorms. Try-guarded: a rebuild overwriting
      // norms/ mid-collect is one failed attempt, not a thrown serve.
      val cap = maxServeMinNorm
      val loaded = scala.util.Try {
        norms()
          .filter(col(idCol).cast("long") <= w0)
          .orderBy(col("norm2").asc, col(idCol).asc)
          .limit(cap)
          .select(col(idCol).cast("long"), col("norm2").cast("double"))
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
      }.getOrElse(null)
      if (loaded == null) synchronized { refreshIfStale() }
      else synchronized {
        refreshIfStale()
        // same revalidation as residentLists: a rebuild/rebase between the
        // windows makes this list cover the wrong snapshot — retry, do not
        // install (an installed stale list would back "exact" answers)
        if (serveKey == key && serveWatermark == w0) {
          if (minNormCache == null) minNormCache = (loaded, loaded.length >= cap)
          return Some(minNormCache)
        }
      }
    }
    None // churn: rebuilds raced every attempt
  }

  /** Euclidean cut: the overlap rows accumulated in `acc` score
    * `|x-q|² = norm2 − 2·dot + |q|²`; a row sharing no dim (dot 0) can
    * only beat them with a small norm, so the non-overlap candidates fill
    * from the resident min-norm list in (norm2, id) order with early exit,
    * then from the fresh rows' norms. The answer is exact iff the list
    * was not truncated, or the k-th distance strictly beats
    * `maxListedNorm + |q|²` (any unlisted row is at least that far);
    * otherwise it declines. */
  private def euclidCut(acc: java.util.HashMap[java.lang.Long, Array[Double]],
      k: Int, qVal: Array[Float], exclude: Long => Boolean,
      tailNorms: Array[(Long, Double)]): Option[Array[(Long, Double)]] = {
    var qNorm = 0.0
    qVal.foreach(v => qNorm += v.toDouble * v.toDouble)
    val heap = new graft.functions.TopKHeap(k)
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cell = e.getValue
      heap.offer(cell(1) - 2.0 * cell(0) + qNorm, e.getKey.longValue)
    }
    val (mins, truncated) = residentMinNorms() match {
      case Some(mn) => mn
      case None => return decline // rebuild churn: job path answers exactly
    }
    var mi = 0
    var done = false
    while (mi < mins.length && !done) {
      val (id, n2) = mins(mi)
      val dist = n2 + qNorm
      // sorted by norm: once the full heap rejects one, it rejects the rest
      if (heap.full && !heap.admits(dist, id)) done = true
      else if (!exclude(id) && !acc.containsKey(java.lang.Long.valueOf(id)))
        heap.offer(dist, id)
      mi += 1
    }
    tailNorms.foreach { case (id, n2) =>
      if (!exclude(id) && !acc.containsKey(java.lang.Long.valueOf(id)))
        heap.offer(n2 + qNorm, id)
    }
    val out = heap.sortedPairs.map { case (d, id) => (id, d) }
    // truncated: a row absent from both acc and the min-norm list has
    // norm2 >= the largest listed norm, hence dist >= that bound.
    // Untruncated: the list IS the norms universe at the pin and
    // tailNorms covers everything above it, and the early exit only fires
    // with a full heap — an under-filled heap means fewer than k live
    // candidates, which is exact
    if (truncated && (out.length < k || out.last._2 >= mins.last._2 + qNorm))
      decline
    else Some(out)
  }
}

object SparseIndex {

  /** Declared-column VALUES for every indexed row at or below a pin —
    * the sparse twin of the dense index's scalar clusters, loaded as ONE
    * block (the sparse layout has no clusters to chunk by; the row cap
    * bounds the collect). `indexOf` materializes lazily for the facet
    * value lookup and lives with the cache entry. */
  final case class SparseScalarRows(ids: Array[Long],
      cols: Map[String, Array[AnyRef]]) {
    lazy val indexOf: java.util.HashMap[java.lang.Long, java.lang.Integer] = {
      val m = new java.util.HashMap[java.lang.Long, java.lang.Integer](
        math.max(16, ids.length * 4 / 3))
      var j = 0
      while (j < ids.length) { m.put(ids(j), j); j += 1 }
      m
    }
  }

  /** Default dim-bucket count: enough directories that a query's dims
    * prune most of the layout, few enough that small corpora don't
    * shatter into tiny files. */
  val DefaultBuckets = 64

  /** One dim's posting slice as the serve tier holds it: (ids, values,
    * row norms), aligned. */
  type Postings = (Array[Long], Array[Double], Array[Double])

  /** The query values a metric scores with: cosine normalizes the query
    * (stored rows are unit at ingest), the way the exact path's
    * `QueryEngine.distanceColumn` does; the other metrics use it as sent. */
  private[index] def queryValues(metric: MetricType.Value,
      qVal: Array[Float]): Array[Float] =
    if (metric == MetricType.Cosine) graft.query.QueryEngine.normalizeF(qVal)
    else qVal

  /** Drift bound for ingest-time appends (see IvfIndex.MaxAppendFraction —
    * here buckets never drift, but each append lands one small file per
    * touched bucket; the rebuild compacts them). */
  val MaxAppendFraction = 0.5

  /** Same hand-parsed stamp discipline as IvfIndex.readMeta (the stamp is
    * re-read on every access). Fields: watermark, count, purge, buckets. */
  private[index] def readMeta(metaPath: String): (Long, Long, Long, Long) = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(metaPath)))
    (MetaJson.longField(s, "watermark", 0L), MetaJson.longField(s, "count", 0L),
      MetaJson.longField(s, "purge", 0L), MetaJson.longField(s, "buckets", 0L))
  }

  /** Row count at the last FULL build (appends preserve it); metas written
    * before the stamp existed report base == count. */
  private[index] def readBase(metaPath: String): Long =
    MetaJson.readLongField(metaPath, "base", readMeta(metaPath)._2)

  /** Build generation: bumped by full builds, preserved by appends (the
    * serving-residency key — see IvfIndex.readGen). */
  private[graft] def readGen(metaPath: String): Long =
    MetaJson.readLongField(metaPath, "gen", 0L)

  private[index] def writeMeta(metaPath: String, watermark: Long, count: Long,
      purge: Long, buckets: Long, base: Long = -1L, gen: Long = 0L): Unit =
    MetaJson.writeAtomic(metaPath,
      s"""{"watermark":$watermark,"count":$count,"purge":$purge,"buckets":$buckets,"base":${if (base < 0) count else base},"gen":$gen}""")

  /** The id mask of every index job path: semi-join to the live ids when
    * given (the tombstone set is no longer complete), else a broadcast
    * anti-join against the tombstones. */
  private[index] def mask(df: DataFrame, idCol: String,
      excludeIds: Option[DataFrame], restrictIds: Option[DataFrame]): DataFrame =
    restrictIds match {
      case Some(live) => df.join(live, Seq(idCol), "left_semi")
      case None => excludeIds match {
        case Some(tombs) => df.join(broadcast(tombs), Seq(idCol), "left_anti")
        case None => df
      }
    }

  /** (dim, cnt, maxv) posting stats — one slim groupBy; the file is
    * dims-sized (a few MB even at vocab scale), so one writer keeps it
    * compact. `maxv` (max |v| per dim) is the WAND serving bound; appends
    * into a pre-maxv layout keep the old two-column shape so the
    * non-merged parquet read stays schema-consistent (`withMax = false`). */
  private[index] def writeDimStats(postings: DataFrame, dest: String,
      mode: SaveMode, withMax: Boolean = true): Unit = {
    val grouped = postings.groupBy(col("dim").cast("int").as("dim"))
    (if (withMax)
      grouped.agg(count(lit(1)).as("cnt"),
        max(abs(col("v").cast("double"))).as("maxv"))
    else grouped.agg(count(lit(1)).as("cnt")))
      .coalesce(1).write.mode(mode).parquet(dest)
  }

  /** (id, norm2) from a posting relation — one groupBy, computed in the
    * same build job. */
  private[index] def normsOf(postings: DataFrame, idCol: String): DataFrame =
    postings.groupBy(col(idCol))
      .agg(sum(col("v").cast("double") * col("v").cast("double")).as("norm2"))

  /** Write the bucketed layout: repartition ON the partition column (one
    * writer per bucket — same small-files rule as IvfIndex.build), sorted
    * by dim inside each bucket so parquet row-group stats prune the
    * non-queried dims of a probed bucket. Each posting carries its row's
    * norm2 (a window over id — one extra build-time shuffle) so Euclidean
    * SERVING scores overlap candidates straight off the pruned read;
    * dot/distance queries never select the column, so column pruning keeps
    * it off their scans. */
  private[index] def writePostings(postings: DataFrame, idCol: String,
      buckets: Int, dest: String, mode: SaveMode): Unit = {
    val byId = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    postings
      .select(col(idCol), col("dim").cast("int").as("dim"),
        col("v").cast("float").as("v"))
      .withColumn("norm2",
        sum(col("v").cast("double") * col("v").cast("double")).over(byId))
      .withColumn("dim_bkt", pmod(col("dim"), lit(buckets)))
      .repartition(col("dim_bkt"))
      .sortWithinPartitions(col("dim"), col(idCol))
      .write.mode(mode).partitionBy("dim_bkt").parquet(dest)
  }

  /** Explode a sparse struct column into its (idCol, dim, v) postings —
    * a narrow explode, no shuffle. Build, append and the per-query fresh
    * tails share this one definition. */
  def postingsOf(df: DataFrame, sparseCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
        explode(arrays_zip(
          col(sparseCol).getField("indices").as("dim"),
          col(sparseCol).getField("values").as("v"))).as("p"))
      .select(col(idCol), col("p.dim").as("dim"), col("p.v").as("v"))

  /** Build from a posting relation (idCol, dim, v). One pass writes the
    * bucketed postings, one groupBy writes the norms universe. When
    * `norms` is not supplied it is derived from the postings — rows with
    * ZERO nonzeros are then absent from the universe; table-based `build`
    * passes the complete universe instead. */
  def buildFromPostings(spark: SparkSession, postings: DataFrame, idCol: String,
      path: String, buckets: Int = DefaultBuckets,
      watermark: Option[Long] = None, rowCount: Option[Long] = None,
      purgeGen: Long = 0L, norms: Option[DataFrame] = None): SparseIndex = {
    val cached = postings.cache()
    try {
      val (wm, cnt) = (watermark, rowCount) match {
        case (Some(w), Some(c)) => (w, c)
        case _ =>
          val r = cached.agg(max(col(idCol).cast("long")),
            countDistinct(col(idCol))).head()
          (watermark.getOrElse(if (r.isNullAt(0)) 0L else r.getLong(0)),
            rowCount.getOrElse(r.getLong(1)))
      }
      writePostings(cached, idCol, buckets, s"$path/postings", SaveMode.Overwrite)
      // per-dim posting counts: the serving cardinality guard reads these
      // BEFORE collecting a cold dim (one extra groupBy in the build job)
      writeDimStats(cached, s"$path/dim_stats", SaveMode.Overwrite)
      norms.getOrElse(normsOf(cached, idCol))
        .select(col(idCol), col("norm2").cast("double").as("norm2"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/norms")
      // a FULL build bumps the generation (serving residency flushes);
      // appends preserve it
      val metaFile = s"$path/sp_meta.json"
      val prevGen =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(metaFile)))
          readGen(metaFile)
        else 0L
      writeMeta(metaFile, wm, cnt, purgeGen, buckets, gen = prevGen + 1)
      new SparseIndex(spark, path, idCol)
    } finally { cached.unpersist(); () }
  }

  /** Skip-aware build from a posting relation: the caller supplies the
    * TABLE's (count, maxId) stats so unchanged data skips the rebuild —
    * same stamp rule as the table variant. Returns (index, built?). */
  def rebuildFromPostingsVerbose(spark: SparkSession, postings: => DataFrame,
      idCol: String, path: String, rowCount: Long, maxId: Long,
      buckets: Int = DefaultBuckets, purgeGen: Long = 0L,
      norms: Option[DataFrame] = None,
      maxAppendFraction: Double = MaxAppendFraction): (SparseIndex, Boolean) = {
    val metaPath = java.nio.file.Paths.get(s"$path/sp_meta.json")
    if (java.nio.file.Files.exists(metaPath)) {
      val (wm, cnt, pg, _) = readMeta(s"$path/sp_meta.json")
      // skip-as-unchanged, unless ingest-time appends have accumulated
      // past the drift bound since the last full build (each append lands
      // one small file per touched bucket — the rebuild compacts them)
      val base = readBase(s"$path/sp_meta.json")
      val withinDrift = cnt - base <= maxAppendFraction * base
      if (cnt == rowCount && wm == maxId && pg == purgeGen && withinDrift)
        return (new SparseIndex(spark, path, idCol), false)
    }
    (buildFromPostings(spark, postings, idCol, path, buckets,
      watermark = Some(maxId), rowCount = Some(rowCount),
      purgeGen = purgeGen, norms = norms), true)
  }

  /** (id, norm2) straight from the sparse struct column — includes rows
    * with zero nonzeros (norm 0), which postings-derived norms cannot. */
  def normsOfColumn(df: DataFrame, sparseCol: String, idCol: String): DataFrame =
    df.filter(col(sparseCol).isNotNull)
      .select(col(idCol),
        aggregate(col(sparseCol).getField("values"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double")).as("norm2"))

  /** Build from a table with a sparse struct column. */
  def build(spark: SparkSession, df: DataFrame, sparseCol: String,
      idCol: String, path: String, buckets: Int = DefaultBuckets,
      purgeGen: Long = 0L): SparseIndex = {
    val stats = df.agg(count(lit(1)), max(col(idCol).cast("long"))).head()
    buildFromPostings(spark, postingsOf(df, sparseCol, idCol), idCol, path,
      buckets, watermark = Some(if (stats.isNullAt(1)) 0L else stats.getLong(1)),
      rowCount = Some(stats.getLong(0)), purgeGen = purgeGen,
      norms = Some(normsOfColumn(df, sparseCol, idCol)))
  }

  /** Rebuild-scheduler semantics, identical to IvfIndex.rebuildVerbose:
    * skip when count AND watermark AND purge generation all match the
    * stamp. Returns (index, built?). */
  def rebuildVerbose(spark: SparkSession, df: DataFrame, sparseCol: String,
      idCol: String, path: String, buckets: Int = DefaultBuckets,
      purgeGen: Long = 0L): (SparseIndex, Boolean) = {
    val stats = df.agg(count(lit(1)), max(col(idCol).cast("long"))).head()
    val n = stats.getLong(0)
    val maxId = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    rebuildFromPostingsVerbose(spark, postingsOf(df, sparseCol, idCol), idCol,
      path, rowCount = n, maxId = maxId, buckets = buckets, purgeGen = purgeGen,
      norms = Some(normsOfColumn(df, sparseCol, idCol)))
  }
}

package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.types._
import graft.functions.{l2_normalize, sparse_l2_normalize}

/** Result counters mirroring the reference's insert/delete responses
  * (reference: table_segment_mvp.cpp:800 `{inserted, skipped}`,
  * :321-405 `{deleted}`). */
case class InsertResult(inserted: Long, skipped: Long)
case class DeleteResult(deleted: Long)

/** Parquet-backed table with the reference's ingest semantics
  * (reference: engine/db/table_segment_mvp.cpp):
  *
  *  - stable monotonic `__row_id` = insertion order (the reference's internal
  *    row id, table_segment_mvp.hpp:65-89); `/data/get` pagination and
  *    top-K tie-breaks depend on it.
  *  - PK duplicate on INSERT => row skipped, first writer wins (in-batch and
  *    against the table, :652-737).
  *  - UPSERT => last wins; old row tombstoned (:652-795).
  *  - DELETE by PK list and/or filter => tombstones (:321-405); deleted rows
  *    keep their positions, later reads anti-join them away — same model as
  *    the reference's tombstone bitset, and as Delta's deletion vectors.
  *  - COSINE vector fields are l2-normalized at ingest (dense :580-587,
  *    sparse :555-562) so query-time cosine degenerates to a dot product.
  *  - invalid sparse vectors (len mismatch / negative / non-increasing /
  *    index >= dims) are *skipped rows*, not errors (:511-553).
  *
  * Storage layout under `path/`:
  *   schema.json              — TableSchema (catalog entry)
  *   data/b<nano>-<uuid>/     — one parquet dir per committed batch
  *   tombstones/b.../         — one parquet dir per tombstone batch
  *   _versions/v%08d.json     — snapshot manifests: the committed batch
  *                              dirs + the row-id watermark
  *
  * Commit protocol (Delta-style): write the new batch dirs, then publish a
  * new manifest via an ATOMIC_MOVE — readers resolve the latest manifest
  * and see either the old or the new snapshot, never a partial write.
  * Old manifests remain readable (`readVersion`) = time travel.
  *
  * Scale notes: appends are pure file additions (no shuffle); PK dedup is a
  * broadcast-or-shuffle left-anti join on the PK (what Delta MERGE does);
  * tombstones are applied as a driver-cached mask shipped once per
  * tombstone version (a broadcast membership filter, no join) up to
  * `maskCap` ids and as a broadcast anti-join above it, with periodic
  * `compact()` folding them into the base files.
  */
class TableStore(val spark: SparkSession, val path: String, val schema: TableSchema) {
  import TableStore._

  private val dataPath = s"$path/data"
  private val tombPath = s"$path/tombstones"
  private val versionsPath = Paths.get(s"$path/_versions")

  def pkField: Option[FieldSchema] = schema.primaryKey

  /** Snapshot manifest: committed batch dirs + row-id watermark + purge
    * generation (bumped whenever `compact()` folds tombstones away — ANN
    * indexes built before a purge can no longer rely on the tombstone set
    * to mask removed rows, so they compare this against their build-time
    * generation). */
  case class Snapshot(version: Long, data: Seq[String], tombs: Seq[String],
      watermark: Long, purge: Long = 0L)

  /** Latest committed snapshot (None before the first commit). */
  def snapshot(): Option[Snapshot] = {
    if (!Files.exists(versionsPath)) return None
    // the Files.list STREAM must be closed explicitly: this runs once per
    // serve-path query (tail probe + tombstone check), and an unclosed
    // stream holds a directory fd until GC — at serving qps that was a
    // measured EMFILE crash after ~20k queries (round-12 bench find)
    val stream = Files.list(versionsPath)
    val latest =
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(n => n.substring(1, n.length - 5).toLong)
        .foldLeft(-1L)(math.max)
      finally stream.close()
    if (latest < 0) None else Some(readManifest(latest))
  }

  def readManifest(version: Long): Snapshot = {
    import org.json4s._
    val o = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(versionsPath.resolve(f"v$version%08d.json"))))
    def dirs(k: String): Seq[String] = (o \ k) match {
      case JArray(a) => a.collect { case JString(s) => s }
      case _ => Nil
    }
    def long(k: String): Long = (o \ k) match {
      case JInt(i) => i.toLong; case JLong(l) => l; case _ => 0L
    }
    Snapshot(version, dirs("data"), dirs("tombs"), long("watermark"), long("purge"))
  }

  /** Publish a new snapshot: write a temp file, then hard-link it to the
    * version name. createLink is atomic AND fails with
    * FileAlreadyExistsException when the target exists — unlike
    * ATOMIC_MOVE, whose POSIX rename() silently REPLACES an existing
    * target. A losing concurrent committer therefore throws (its batch
    * dirs stay unreferenced — garbage, not corruption) instead of silently
    * dropping the winner's committed batches. The caller must not retry
    * with the same manifest: its base-snapshot lists are stale. */
  private def commit(data: Seq[String], tombs: Seq[String], wm: Long,
      purge: Long): Snapshot = {
    Files.createDirectories(versionsPath)
    val next = snapshot().map(_.version + 1).getOrElse(0L)
    def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    val json =
      s"""{"data":${arr(data)},"tombs":${arr(tombs)},"watermark":$wm,"purge":$purge}"""
    val tmp = Files.createTempFile(versionsPath, ".commit", ".tmp")
    Files.write(tmp, json.getBytes)
    try Files.createLink(versionsPath.resolve(f"v$next%08d.json"), tmp)
    finally Files.deleteIfExists(tmp)
    Snapshot(next, data, tombs, wm, purge)
  }

  private def newBatchDir(base: String): String = {
    val d = s"$base/b${System.nanoTime()}-${java.util.UUID.randomUUID().toString.take(8)}"
    d
  }

  private def watermark: Long = snapshot().map(_.watermark).getOrElse(0L)
  private def hasData: Boolean = snapshot().exists(_.data.nonEmpty)

  /** Purge generation of the latest snapshot (see `Snapshot.purge`). */
  def purgeGen(): Long = snapshot().map(_.purge).getOrElse(0L)

  private def emptyDf: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(StructField(RowId, LongType, nullable = false) +: schema.structType.fields))

  /** Raw rows of a snapshot incl. tombstoned (positions preserved). */
  def rawRead(s: Option[Snapshot] = None): DataFrame = {
    val snap = s.orElse(snapshot())
    snap match {
      case Some(sn) if sn.data.nonEmpty =>
        spark.read.schema(
          StructType(StructField(RowId, LongType, nullable = false) +: schema.structType.fields))
          .parquet(sn.data: _*)
      case _ => emptyDf
    }
  }

  /** Live rows of the latest snapshot (tombstones applied), in a plan that
    * keeps the anti-join broadcastable: tombstones are tiny vs data. */
  def read(): DataFrame = readSnapshot(snapshot())

  /** Time travel: live rows as of a past version. */
  def readVersion(version: Long): DataFrame = readSnapshot(Some(readManifest(version)))

  // tombstone batches are written as a single __row_id column (delete and
  // upsert paths both select(RowId)); reading them with the schema stated
  // skips the per-read parquet footer-inference job
  private val tombSchema = StructType(Seq(StructField(RowId, LongType)))

  private[graft] def tombstoneDf(sn: Snapshot): DataFrame =
    spark.read.schema(tombSchema).parquet(sn.tombs: _*)

  /** Most tombstone ids the driver holds as a mask. Above it a read
    * anti-joins the tombstone files instead (GraftDb routes its
    * `maxServeTombstones` here). */
  @volatile private[graft] var maskCap: Int = DefaultMaskCap

  // the mask of ONE tombstone version, keyed by the snapshot's tomb-dir
  // list: tomb dirs are immutable and only ever appended (compact() resets
  // the list to Nil), so an equal list means equal ids. `cap` is the cap
  // the entry was judged under; None = more ids than that cap.
  private final case class MaskEntry(tombs: Seq[String], cap: Int,
      mask: Option[TombstoneMask])
  @volatile private var maskEntry: Option[MaskEntry] = None
  private val maskLock = new Object

  private def maskHit(sn: Snapshot, cap: Int): Option[Option[TombstoneMask]] =
    if (sn.tombs.isEmpty) Some(Some(TombstoneMask.empty(spark)))
    else maskEntry.filter(_.tombs == sn.tombs).flatMap {
      // the cap applies to cached masks too (it can be lowered live)
      case MaskEntry(_, _, Some(m)) => Some(if (m.size > cap) None else Some(m))
      case MaskEntry(_, c, None) => if (cap <= c) Some(None) else None
    }

  /** True when `tombstoneMask(sn, cap)` answers without a Spark job. */
  private[graft] def tombstoneMaskCached(sn: Snapshot, cap: Int): Boolean =
    maskHit(sn, cap).isDefined

  /** The tombstoned row ids of `sn` as a driver-side mask, collected once
    * per tombstone version (one job) and cached; None when there are more
    * than `cap` of them — the caller then anti-joins `tombstoneDf(sn)`. */
  private[graft] def tombstoneMask(sn: Snapshot, cap: Int = maskCap)
      : Option[TombstoneMask] =
    maskHit(sn, cap).getOrElse(maskLock.synchronized {
      maskHit(sn, cap).getOrElse {
        // per-partition take: one job, and the total is re-checked below
        val ids = tombstoneDf(sn).rdd.mapPartitions(_.take(cap + 1).map(_.getLong(0)))
          .collect()
        offerTombstoneIds(sn, ids, cap)
      }
    })

  /** Record ids collected elsewhere for `sn` (the serving probe's union
    * leg, which holds at most `cap + 1` per partition) as its mask. */
  private[graft] def offerTombstoneIds(sn: Snapshot, ids: Array[Long],
      cap: Int): Option[TombstoneMask] = {
    val mask = if (ids.length > cap) None else Some(TombstoneMask(spark, ids))
    maskEntry = Some(MaskEntry(sn.tombs, cap, mask))
    mask
  }

  /** Live rows: tombstoned ids masked by a broadcast membership filter
    * (no job, no exchange) while the mask fits `maskCap`; above it, a
    * broadcast anti-join against the tombstone files. */
  private def readSnapshot(s: Option[Snapshot]): DataFrame = s match {
    case Some(sn) if sn.data.nonEmpty =>
      val raw = rawRead(s)
      if (sn.tombs.isEmpty) raw
      else tombstoneMask(sn) match {
        case Some(m) => if (m.size == 0) raw else raw.filter(m.live(col(RowId)))
        case None => raw.join(broadcast(tombstoneDf(sn)), Seq(RowId), "left_anti")
      }
    case _ => emptyDf
  }

  /** Validate + normalize an incoming batch; returns (validDf, skippedInvalid).
    * Adds `__valid` handling for sparse fields; normalizes COSINE fields. */
  private def prepare(batch: DataFrame): (DataFrame, Long) = {
    // presence check for all fields (vector index targets excepted in the
    // reference; we require all declared fields, matching insert validation
    // table_segment_mvp.cpp:465-473)
    val missing = schema.fields.map(_.name).filterNot(batch.columns.contains)
    require(missing.isEmpty, s"missing fields in insert batch: ${missing.mkString(",")}")

    // cast via catalogString: Spark refuses casts TO containsNull=false
    // array/struct types, and catalogString parses as the nullable variant
    var df = batch.select(schema.fields.map { f =>
      if (batch.schema(f.name).dataType.catalogString == f.sparkType.catalogString)
        col(f.name)
      else col(f.name).cast(f.sparkType.catalogString).as(f.name)
    }: _*)

    // sparse-vector validity (table_segment_mvp.cpp:511-553)
    val sparseChecks = schema.fields.filter(f => FieldType.isSparse(f.fieldType)).map { f =>
      val c = col(f.name)
      val idx = c.getField("indices")
      val sameLen = size(idx) === size(c.getField("values"))
      val nonNeg = size(filter_exprs(idx, x => x < 0)) === 0
      val increasing = size(idx) <= 1 ||
        size(filter_exprs(zip_with(idx, slice(idx, lit(2), greatest(size(idx) - 1, lit(0))),
          (a, b) => b.isNotNull && b <= a), x => x)) === 0
      val inRange = size(filter_exprs(idx, x => x >= f.dimensions)) === 0
      c.isNull || (sameLen && nonNeg && increasing && inRange)
    }
    var skipped = 0L
    if (sparseChecks.nonEmpty) {
      val valid = sparseChecks.reduce(_ && _)
      // one job for (total, valid) — two count() calls would be two full
      // passes over the cached batch
      val r = df.agg(
        org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.count(when(valid, lit(1)))).head()
      skipped = r.getLong(0) - r.getLong(1)
      df = df.filter(valid)
    }

    // cosine normalize-at-ingest (dense + sparse)
    schema.fields.filter(f => FieldType.isVector(f.fieldType) && f.metric == MetricType.Cosine)
      .foreach { f =>
        df =
          if (FieldType.isSparse(f.fieldType))
            df.withColumn(f.name, sparse_l2_normalize(col(f.name)))
          else df.withColumn(f.name, l2_normalize(col(f.name)))
      }
    (df, skipped)
  }

  /** INSERT (first-wins) or UPSERT (last-wins). Embedding-index target
    * vectors are auto-filled from their src text fields first
    * (reference: table_segment_mvp.cpp:746-762 — embeds at insert). */
  /** In-process writer lock mirroring the reference's single-writer mutex
    * (table_segment_mvp.cpp:456 data_update_mutex_). Cross-process writers
    * are serialized by the ATOMIC_MOVE commit (a losing committer throws
    * FileAlreadyExistsException rather than corrupting the table). */
  private val writeLock = new Object

  def insert(batch: DataFrame, upsert: Boolean = false): InsertResult = writeLock.synchronized {
    val embedded0 = schema.indices.foldLeft(batch) { (df, ix) =>
      val dim = schema.field(ix.tgt).dimensions
      graft.embed.AutoEmbed.embedStage(df, ix.src, ix.tgt,
        new graft.embed.RetryingEmbeddingService(
          graft.embed.AutoEmbed.serviceFor(ix.model, dim)))
    }
    // cache BEFORE any action: insert runs several counts (validation,
    // dedup, id assignment) and each would otherwise recompute the whole
    // lineage — including the embedding stage's external REST calls
    // (4-6 re-embeddings per batch without this, and embedding calls are
    // neither free nor idempotent at scale)
    val embedded = embedded0.cache()
    try insertPrepared(embedded, upsert)
    finally embedded.unpersist()
  }

  private def insertPrepared(embedded: DataFrame, upsert: Boolean): InsertResult = {
    val (prepared, invalidSkipped) = prepare(embedded)
    val wm = watermark

    // batch order: input row order within the batch (the reference's cursor).
    val ordered = prepared.withColumn(BatchOrd, monotonically_increasing_id())

    // scale-aware partitioning: a 5k-row control-plane batch must not pay
    // a 32-way shuffle per stage, and a 100 TB bulk load must not be
    // capped at the session's shuffle.partitions — partition count tracks
    // batch size (row ids stay identical for any partition count: ranges
    // are ordered by BatchOrd and zipWithIndex numbers them in order).
    // One cheap narrow count over the cached batch buys it.
    val nBatch = ordered.count()
    val parts = partitionsFor(nBatch)

    val (toWrite, dupSkipped, tombstoneOld) = pkField match {
      case None => (ordered, 0L, None)
      case Some(pk) =>
        val pkCol = col(pk.name)
        // in-batch dedup: first-wins for insert, last-wins for upsert
        // (table_segment_mvp.cpp:652-737). Pre-partitioning on the PK at
        // the scale-aware width satisfies the window's required
        // distribution, so the window adds no second shuffle.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pkCol)
          .orderBy(if (upsert) col(BatchOrd).desc else col(BatchOrd).asc)
        val flagged = ordered.repartition(parts, pkCol)
          .withColumn("__rn", row_number().over(w))
        val deduped = flagged.filter(col("__rn") === 1).drop("__rn")
        // one job for (batch total, in-batch survivors) — two counts would
        // be two full passes over the cached batch
        def batchCounts(): (Long, Long) = {
          val r = flagged.agg(
            org.apache.spark.sql.functions.count(lit(1)),
            org.apache.spark.sql.functions.count(when(col("__rn") === 1, lit(1)))).head()
          (r.getLong(0), r.getLong(1))
        }
        if (!hasData) {
          val (n, kept) = batchCounts()
          (deduped, n - kept, None)
        } else {
          val existing = read().select(col(pk.name), col(RowId))
          if (upsert) {
            // old versions of upserted PKs get tombstoned (last wins)
            val olds = existing.join(deduped.select(pkCol), Seq(pk.name), "left_semi")
              .select(col(RowId))
            val (n, kept) = batchCounts()
            (deduped, n - kept, Some(olds))
          } else {
            val fresh = deduped.join(existing.select(pkCol), Seq(pk.name), "left_anti")
            val n = batchCounts()._1; val kept = fresh.count()
            (fresh, n - kept, None)
          }
        }
    }

    // assign __row_id continuing the watermark, in batch order.
    // NOT row_number() over a global window (that collapses to one
    // partition): range-partition by batch order so partitions cover
    // disjoint ordered ranges, then zipWithIndex hands out contiguous ids
    // distributedly.
    val sorted = toWrite
      .repartitionByRange(parts, col(BatchOrd))
      .sortWithinPartitions(col(BatchOrd))
    val innerSchema = sorted.schema
    val indexed = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq((wm + i + 1) +: r.toSeq)
    }
    val withId = spark.createDataFrame(indexed,
      StructType(StructField(RowId, LongType, nullable = false) +: innerSchema.fields))
      .drop(BatchOrd)
      .select(col(RowId) +: schema.fields.map(f => col(f.name)): _*)

    val written = withId.cache()
    val nWritten = written.count()
    val prev = snapshot()
    val newData =
      if (nWritten > 0) {
        val dir = newBatchDir(dataPath)
        written.write.mode(SaveMode.ErrorIfExists).parquet(dir)
        Seq(dir)
      } else Nil
    val newTombs = tombstoneOld.toSeq.flatMap { olds =>
      val materialized = olds.cache()
      val dir =
        if (materialized.count() > 0) {
          val d = newBatchDir(tombPath)
          materialized.write.mode(SaveMode.ErrorIfExists).parquet(d)
          Seq(d)
        } else Nil
      materialized.unpersist()
      dir
    }
    written.unpersist()
    commit(prev.map(_.data).getOrElse(Nil) ++ newData,
      prev.map(_.tombs).getOrElse(Nil) ++ newTombs, wm + nWritten,
      prev.map(_.purge).getOrElse(0L))
    InsertResult(nWritten, invalidSkipped + dupSkipped)
  }

  /** DELETE by PK list and/or filter (both optional; PKs are each checked
    * against the filter when both given — db_server.cpp:297-360). */
  def delete(pks: Seq[Any] = Nil, filter: String = ""): DeleteResult = writeLock.synchronized {
    if (!hasData) return DeleteResult(0)
    var victims = read()
    if (pks.nonEmpty) {
      val pk = pkField.getOrElse(
        throw new IllegalArgumentException("delete by primary key requires a primary key"))
      victims = victims.filter(col(pk.name).isin(pks: _*))
    }
    if (filter.nonEmpty)
      victims = victims.filter(graft.filter.FilterTranslator.translate(filter, schema.structType))
    val ids = victims.select(col(RowId)).cache()
    val n = ids.count()
    if (n > 0) {
      val prev = snapshot()
      val dir = newBatchDir(tombPath)
      ids.write.mode(SaveMode.ErrorIfExists).parquet(dir)
      commit(prev.map(_.data).getOrElse(Nil),
        prev.map(_.tombs).getOrElse(Nil) :+ dir,
        prev.map(_.watermark).getOrElse(0L),
        prev.map(_.purge).getOrElse(0L))
    }
    ids.unpersist()
    DeleteResult(n)
  }

  /** InsertPrepare (D4): 32-bit-packed existence bitmask over a PK list —
    * bit CLEARED iff the pk exists (table_segment_mvp.cpp:816-876). */
  def insertPrepare(pks: Seq[Any]): (Long, Array[Int]) = {
    val pk = pkField.getOrElse(
      throw new IllegalArgumentException("insertPrepare requires a primary key"))
    // ONE job serves both outputs: total live count + the subset of the
    // probed PKs that exist (collect_set over a guarded projection —
    // bounded by |pks|, never by table size)
    val (total, existing: Set[Any]) =
      if (!hasData) (0L, Set.empty[Any])
      else {
        val r = read().agg(
          org.apache.spark.sql.functions.count(lit(1)),
          collect_set(when(col(pk.name).isin(pks: _*), col(pk.name)))).head()
        (r.getLong(0), r.getSeq[Any](1).toSet)
      }
    val words = new Array[Int]((pks.size + 31) / 32)
    java.util.Arrays.fill(words, -1)
    pks.zipWithIndex.foreach { case (p, i) =>
      if (existing.contains(p)) words(i / 32) &= ~(1 << (i % 32))
    }
    (total, words)
  }

  /** Fold tombstones into a single compacted batch (Delta OPTIMIZE
    * analog): write the live rows as one new dir, commit a manifest that
    * references only it. Old batch dirs stay on disk for time travel until
    * vacuumed. */
  def compact(): Unit = writeLock.synchronized {
    val prev = snapshot().getOrElse(return)
    val live = read().cache()
    live.count()
    val dir = newBatchDir(dataPath)
    live.write.mode(SaveMode.ErrorIfExists).parquet(dir)
    live.unpersist()
    // folding tombstones away bumps the purge generation: removed rows are
    // no longer discoverable via tombstoneIds(), so any ANN index built
    // before this point must stop trusting its tombstone anti-join
    val purge = prev.purge + (if (prev.tombs.nonEmpty) 1 else 0)
    commit(Seq(dir), Nil, prev.watermark, purge)
  }

  /** All manifest versions currently on disk (ascending). */
  def versions(): Seq[Long] =
    if (!Files.exists(versionsPath)) Nil
    else {
      val stream = Files.list(versionsPath)
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(n => n.substring(1, n.length - 5).toLong)
        .toSeq.sorted
      finally stream.close()
    }

  /** Retention: drop manifests older than `retainMs` (by file mtime),
    * never the latest — bounds time travel the way the reference bounds
    * WAL replay history (write_ahead_log.hpp:86-89, 7-day retention).
    * Returns the number of manifests removed. `vacuum()` afterwards
    * reclaims the batch dirs only they referenced. */
  def expireVersions(retainMs: Long,
      now: Long = System.currentTimeMillis): Int = writeLock.synchronized {
    val vs = versions()
    if (vs.size <= 1) return 0
    val latest = vs.max
    var removed = 0
    vs.filter(_ != latest).foreach { v =>
      val p = versionsPath.resolve(f"v$v%08d.json")
      if (Files.getLastModifiedTime(p).toMillis < now - retainMs) {
        Files.delete(p); removed += 1
      }
    }
    removed
  }

  /** Delete batch dirs referenced by NO remaining manifest (all retained
    * versions stay readable — time travel is bounded by `expireVersions`,
    * not silently broken here).
    *
    * Writers create batch dirs BEFORE committing the manifest that
    * references them, so vacuum must (a) hold the writeLock — an in-process
    * writer mid-insert otherwise races it — and (b) spare dirs younger than
    * `graceMs`, which protects a cross-process writer whose commit hasn't
    * landed yet (same uncommitted-file grace Delta VACUUM uses). */
  def vacuum(graceMs: Long = DefaultVacuumGraceMs): Unit = writeLock.synchronized {
    val vs = versions()
    if (vs.isEmpty) return
    val keep = vs.map(readManifest).flatMap(m => m.data ++ m.tombs)
      .map(Paths.get(_).getFileName.toString).toSet
    val cutoff = System.currentTimeMillis - graceMs
    Seq(dataPath, tombPath).foreach { base =>
      val p = Paths.get(base)
      if (Files.exists(p)) {
        val stream = Files.list(p)
        val stale =
          try stream.iterator().asScala.toSeq
            .filterNot(d => keep.contains(d.getFileName.toString))
            .filter(d => Files.getLastModifiedTime(d).toMillis < cutoff)
          finally stream.close()
        stale.foreach { d =>
          val w = Files.walk(d)
          try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
          finally w.close()
        }
      }
    }
  }

  def count(): Long = if (hasData) read().count() else 0L

  /** Tombstoned row ids of the latest snapshot (None when there are none).
    * Tiny relative to data — callers broadcast it in anti-joins. */
  def tombstoneIds(): Option[DataFrame] = snapshot() match {
    case Some(sn) if sn.tombs.nonEmpty => Some(tombstoneDf(sn))
    case _ => None
  }
}

/** The tombstoned row ids of one snapshot, sorted and distinct, on the
  * driver. Serving tests membership directly; reads filter with
  * `live`, whose broadcast is created on first use and then shared by
  * every read of this tombstone version. */
final class TombstoneMask private (spark: SparkSession, ids: Array[Long]) {
  def size: Int = ids.length
  def contains(id: Long): Boolean = java.util.Arrays.binarySearch(ids, id) >= 0
  private lazy val shipped = spark.sparkContext.broadcast(ids)
  /** Predicate: the row id column is not tombstoned. */
  def live(rowId: Column): Column = graft.functions.not_tombstoned(rowId, shipped, size)
}

object TombstoneMask {
  def apply(spark: SparkSession, ids: Array[Long]): TombstoneMask =
    new TombstoneMask(spark, ids.distinct.sorted)
  def empty(spark: SparkSession): TombstoneMask = new TombstoneMask(spark, Array.emptyLongArray)
}

object TableStore {
  val RowId = "__row_id"
  private val BatchOrd = "__batch_ord"

  /** vacuum() spares unreferenced batch dirs younger than this: a
    * cross-process writer creates its dirs before committing the manifest
    * that references them. */
  val DefaultVacuumGraceMs: Long = 15L * 60 * 1000

  /** Default `maskCap`: tombstone ids a driver-side mask may hold. */
  val DefaultMaskCap: Int = 1000000

  /** Target rows per partition for ingest shuffles/writes. */
  val IngestRowsPerPartition: Long = 500000L

  /** Partition count tracking batch size: 1 partition per
    * IngestRowsPerPartition rows, clamped to [1, 20000]. */
  def partitionsFor(nRows: Long): Int =
    math.max(1L, math.min(20000L,
      (nRows + IngestRowsPerPartition - 1) / IngestRowsPerPartition)).toInt

  /** `filter(arr, fn)` built-in wrapper (named to avoid DataFrame.filter clash). */
  private[store] def filter_exprs(arr: Column, f: Column => Column): Column =
    org.apache.spark.sql.functions.filter(arr, f)

  def create(spark: SparkSession, path: String, schema: TableSchema): TableStore = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    Files.write(Paths.get(s"$path/schema.json"), SchemaJson.write(schema).getBytes)
    new TableStore(spark, path, schema)
  }

  def open(spark: SparkSession, path: String): TableStore = {
    val json = new String(Files.readAllBytes(Paths.get(s"$path/schema.json")))
    new TableStore(spark, path, SchemaJson.read(json))
  }
}

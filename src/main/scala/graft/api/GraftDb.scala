package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.types._
import graft.store.{SchemaJson, TableStore}
import graft.query.QueryEngine
import graft.query.QueryEngine._
import graft.index.{ServeProbe, ServeTier}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The reference's REST surface re-expressed as library calls over JSON
  * request/response shapes (reference: engine/server/web_server/
  * web_controller.hpp — create/drop table, insert/upsert, query, get,
  * delete, statistics). A database is a directory of tables; the catalog is
  * a JSON file per table (basic_meta_impl.cpp analog).
  */
class GraftDb(val spark: SparkSession, val root: String,
    val maxRenderRows: Int = 100000,
    /** Launch-time export/import confinement for the path-taking APIs
      * (`dump`/`loadCsv`) — see [[setIoRoot]]. Passing it HERE (not via
      * config) is the deployment shape for a server fronting untrusted
      * HTTP clients: the confinement exists before the first request and
      * no request can widen it. */
    ioRootInit: Option[String] = None) {

  /** Per-database admission quotas (our extension — the reference's
    * multi-DB catalog has none, but a multi-tenant deployment needs them):
    * table count is enforced at createTable, the rows-per-table bound at
    * the JSON insert surface (checked against live count + batch size, an
    * UPPER bound — in-batch dedup may admit fewer). Set via
    * GraftCatalog.setQuota, which persists them with the catalog. */
  @volatile var quotaMaxTables: Int = Int.MaxValue
  @volatile var quotaMaxRowsPerTable: Long = Long.MaxValue

  private def tablePath(name: String) = s"$root/$name"
  private val stores = scala.collection.concurrent.TrieMap[String, TableStore]()
  // one IvfIndex instance per (table, field): the instance owns the
  // centroid/clustered/serving caches (all meta-stamp-invalidated), so
  // re-creating it per query would re-list and re-load per query
  private val indexes =
    scala.collection.concurrent.TrieMap[(String, String), graft.index.IvfIndex]()
  /** Db-level serving-cap defaults (set via updateConfig): applied to every
    * index instance AT CONSTRUCTION, so they survive release() and govern
    * lazily-opened indexes too — config must not silently revert to
    * library defaults on the next cold open. None = library default. */
  @volatile private var defaultMaxServeRows: Option[Long] = None
  @volatile private var defaultMaxServeBytes: Option[Long] = None
  // declared filtered-serving columns, db-level: re-applied when an index
  // instance is (re)constructed after release()/lazy open
  private val declaredServeFilterCols =
    scala.collection.concurrent.TrieMap[(String, String), Seq[String]]()
  private def index(st: TableStore, field: String): graft.index.IvfIndex =
    indexes.getOrElseUpdate((st.schema.name, field), {
      val ix = new graft.index.IvfIndex(spark,
        s"$root/${st.schema.name}/ivf_$field",
        graft.store.TableStore.RowId, st.schema.field(field).metric)
      defaultMaxServeRows.foreach(v => ix.maxServeRows = v)
      defaultMaxServeBytes.foreach(v => ix.maxServeBytes = v)
      declaredServeFilterCols.get((st.schema.name, field))
        .foreach(ix.setServeFilterColumns)
      ix
    })
  // sparse fields get the inverted-posting index instead (same
  // one-instance-per-(table, field) rule: the instance owns the meta-
  // stamped posting/norms/serving caches)
  private val sparseIndexes =
    scala.collection.concurrent.TrieMap[(String, String), graft.index.SparseIndex]()
  private def sparseIndex(st: TableStore, field: String): graft.index.SparseIndex =
    sparseIndexes.getOrElseUpdate((st.schema.name, field), {
      val ix = new graft.index.SparseIndex(spark,
        s"$root/${st.schema.name}/spidx_$field", graft.store.TableStore.RowId)
      declaredServeFilterCols.get((st.schema.name, field))
        .foreach(ix.setServeFilterColumns)
      ix
    })
  /** Serving fresh-tail cap: rows above the indexed watermark held
    * resident on the driver for serving. A bigger tail means the
    * maintenance rebuild is overdue — serving then falls back to the job
    * path rather than pin unbounded fresh data. */
  @volatile var maxServeTailRows: Int = 100000

  /** Fresh-tail BYTE cap (dense fields): a packed tail row costs
    * 8*dim + 24 bytes, so the row cap alone over-collects at high dims
    * (100k rows at dim=960 is ~770 MB of driver heap). The effective cap
    * is min(maxServeTailRows, maxServeTailBytes / rowBytes(dim)) —
    * 256 MiB keeps the row cap binding up to dim ~330. */
  @volatile var maxServeTailBytes: Long = 256L * 1024 * 1024

  private def tailRowCap(dim: Int): Int =
    math.min(maxServeTailRows.toLong, maxServeTailBytes / (8L * dim + 24L)).toInt

  /** Packed dense tail + a row-aligned scalar sidecar of the DECLARED
    * serve-filter columns (empty when none are declared): filtered
    * serving evaluates its conjunction on the sidecar driver-side, so the
    * tail never forces a filtered request onto the job path. */
  private final case class DenseTail(
      packed: (Array[Long], Array[Double], Array[Double]),
      scalars: Map[String, Array[AnyRef]],
      // NULL-vector rows seen above the pin: not packable (no distance) —
      // dense serves simply skip them, but a COMPLETE-verdict borrower
      // (densePassVerdict) must decline while any exist in the tail
      nullVecRows: Int = 0)

  // fresh-tail rows in the serve tier's resident layout, re-collected only
  // when the snapshot version or serving pin moves (one pruned job per
  // commit, then every serve is pure JVM compute). Left(()) — the
  // over-cap verdict — is cached too: in the rebuild-overdue regime every
  // query would otherwise re-run the 100k-row probe collect. The key
  // carries the declared filter columns: a re-declaration invalidates
  // the sidecar.
  private val tailCache = scala.collection.concurrent.TrieMap[
    (String, String),
    (Long, Long, Seq[String], Either[Unit, Option[DenseTail]])]()

  /** ONE driver probe per snapshot move: the fresh-tail rows (above the
    * serving pin) and the tombstone ids used to travel in two separate
    * per-commit jobs — under continuous ingest that doubled the serving
    * floor's job count. Row ids are append-sequential, so the tail
    * cardinality is bounded by `storeWm - wm` and the over-cap verdict
    * costs NO job at all (the same before-any-collect discipline as the
    * index cardinality guards). In the in-cap case both stale legs ride
    * one kind-tagged, shuffle-free RDD union collect — a plan `limit`
    * here would re-split the action into several jobs under AQE. A
    * tombstone mask already cached by the store skips its leg; otherwise
    * the probe fills the store's mask cache for this snapshot, so the
    * serve paths' tombstoneSet read right after, and every job-path read
    * of the same tombstone version, is a pure cache hit. Returns Left(())
    * when the tail is over `tailCap`; tail rows come back as
    * (kind=0, id, fieldValue). */
  private def servingProbe(st: TableStore, field: String, wm: Long,
      tailCap: Int, scalarCols: Seq[String] = Nil)
      : Either[Unit, Array[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    // ONE snapshot for both legs: the tail rows and the tombstone ids
    // come from the same manifest
    val sn = st.snapshot()
    val storeWm = sn.map(_.watermark).getOrElse(0L)
    if (storeWm - wm > tailCap) return Left(()) // over cap, zero jobs
    // rawRead, NOT read(): the serve kernels mask tombstoned ids via
    // `exclude` (tail rows included), and the live-rows mask would cost
    // a tombstone collect of its own on a version move
    val read = st.rawRead(sn)
    // declared filter columns ride as a 4th struct column (null on the
    // tombstone leg; a null INT placeholder when none are declared, so
    // both legs always share one schema)
    val psType: org.apache.spark.sql.types.DataType =
      if (scalarCols.isEmpty) org.apache.spark.sql.types.IntegerType
      else org.apache.spark.sql.types.StructType(
        scalarCols.map(c => read.schema(read.schema.fieldIndex(c))))
    val psCol =
      if (scalarCols.isEmpty) lit(null).cast(psType).as("__ps")
      else struct(scalarCols.map(col): _*).as("__ps")
    val tailLeg =
      if (storeWm <= wm) None
      else Some(read
        .filter(col(TableStore.RowId) > wm)
        .select(lit(0).as("__pk"), col(TableStore.RowId).as("__pid"),
          col(field).as("__pv"), psCol)
        .rdd)
    val tombCap = maxServeTombstones
    val tombLeg = sn.filterNot(st.tombstoneMaskCached(_, tombCap)).map { s =>
      // per-partition cap: tombstone files are control-plane sized, and
      // the total cap is re-checked on the collected rows
      val df = st.tombstoneDf(s)
      df.select(lit(1).as("__pk"),
        col(df.columns.head).cast("long").as("__pid"),
        lit(null).cast(read.schema(field).dataType).as("__pv"),
        lit(null).cast(psType).as("__ps"))
        .rdd.mapPartitions(_.take(tombCap + 1))
    }
    val rows: Array[org.apache.spark.sql.Row] = (tailLeg, tombLeg) match {
      case (None, None) => Array.empty
      case (Some(a), None) => a.collect()
      case (None, Some(b)) => b.collect()
      case (Some(a), Some(b)) => a.union(b).collect()
    }
    // fills the store's mask cache, so the serve paths' tombstoneMask
    // read right after — and the job-path reads — cost no job
    if (tombLeg.isDefined)
      st.offerTombstoneIds(sn.get,
        rows.filter(_.getInt(0) == 1).map(_.getLong(1)), tombCap)
    val tailRows = rows.filter(_.getInt(0) == 0)
    if (tailRows.length > tailCap) Left(()) else Right(tailRows)
  }

  /** Left(()) = tail over cap (caller falls back to the job path);
    * Right(None) = no fresh rows; Right(Some(tail)) = packed tail + the
    * declared filter columns' scalar sidecar. */
  private def freshTailCluster(st: TableStore, idx: graft.index.IvfIndex,
      field: String)
      : Either[Unit, Option[DenseTail]] = {
    val ver = st.snapshot().map(_.version).getOrElse(-1L)
    // the SERVING pin, not the index watermark: ingest-time appends move
    // the index watermark without flushing warm resident clusters, so the
    // tail must cover everything above the snapshot those clusters hold
    val wm = idx.servingWatermark()
    val cap = tailRowCap(st.schema.field(field).dimensions)
    val cols = idx.serveFilterColumns()
    tailCache.get((st.schema.name, field)) match {
      case Some((v, w, c, t)) if v == ver && w == wm && c == cols =>
        // the cap applies to resident entries too (it can be lowered live)
        if (t.exists(_.exists(_.packed._1.length > cap))) Left(()) else t
      case _ =>
        val result: Either[Unit, Option[DenseTail]] =
          servingProbe(st, field, wm, cap, cols) match {
            case Left(_) => Left(())
            case Right(rows) if rows.isEmpty => Right(None)
            case Right(allRows) =>
              // NULL-vector rows can't be packed (no distance to score):
              // they leave the serve universe, counted so verdict
              // borrowers know the tail is incomplete
              val (nullRows, rows) = allRows.partition(_.isNullAt(2))
              val packed = graft.index.IvfIndex.packRows(
                rows.map(r => (r.getLong(1),
                  r.getAs[scala.collection.Seq[Float]](2).toArray)),
                st.schema.field(field).dimensions)
              val scalars: Map[String, Array[AnyRef]] =
                cols.zipWithIndex.map { case (c, ci) =>
                  c -> rows.map { r =>
                    if (r.isNullAt(3)) null
                    else {
                      val ps = r.getStruct(3)
                      if (ps.isNullAt(ci)) null
                      else ps.get(ci).asInstanceOf[AnyRef]
                    }
                  }
                }.toMap
              Right(Some(DenseTail(packed, scalars, nullRows.length)))
          }
        tailCache((st.schema.name, field)) = (ver, wm, cols, result)
        result
    }
  }

  /** The cached tail's rows passing the conjunction, evaluated on the
    * scalar sidecar with the SAME comparison kernels the resident sweep
    * uses. None = a condition references a column the sidecar lacks (a
    * re-declaration raced the cache) → the caller declines to the job
    * path. */
  private def filterTail(dt: DenseTail,
      conds: Seq[graft.filter.SimpleConjuncts.Cond], dim: Int)
      : Option[(Array[Long], Array[Double], Array[Double])] = {
    import graft.filter.SimpleConjuncts._
    val (ids, flat, norms) = dt.packed
    val n = ids.length
    val keep = new Array[Boolean](n)
    var kept = 0
    var j = 0
    while (j < n) {
      var ok = true
      var ci = 0
      while (ok && ci < conds.length) {
        val c = conds(ci)
        val arr = dt.scalars.getOrElse(c.col, null)
        if (arr == null) return None
        ok = (arr(j), c.value) match {
          case (null, _) => false // SQL: NULL fails every comparison
          case (x: java.lang.Double, l: NumLit) => evalDouble(c.op, x.doubleValue, l)
          case (x: java.lang.Float, l: NumLit) => evalDouble(c.op, x.doubleValue, l)
          case (x: java.lang.Number, l: NumLit) => evalLong(c.op, x.longValue, l)
          case (x: String, l: StrLit) => evalString(c.op, x, l)
          case (x: java.lang.Boolean, l: BoolLit) => evalBool(c.op, x.booleanValue, l)
          case _ => return None // type drift: job path answers
        }
        ci += 1
      }
      keep(j) = ok
      if (ok) kept += 1
      j += 1
    }
    if (kept == n) return Some(dt.packed)
    val oIds = new Array[Long](kept)
    val oFlat = new Array[Double](kept * dim)
    val oNorms = new Array[Double](kept)
    var o = 0
    j = 0
    while (j < n) {
      if (keep(j)) {
        oIds(o) = ids(j)
        oNorms(o) = norms(j)
        System.arraycopy(flat, j * dim, oFlat, o * dim, dim)
        o += 1
      }
      j += 1
    }
    Some((oIds, oFlat, oNorms))
  }

  // sparse fresh-tail rows exploded into per-dim posting slices (ids,
  // values, norms) for servePointDot/Euclid, plus the (id, norm2) of every
  // tail row for Euclidean non-overlap fills; re-collected only when the
  // snapshot version or index watermark moves — the sparse twin of
  // `tailCache`
  /** Sparse fresh tail: per-dim posting slices + per-row norms of rows
    * above the serving pin, PLUS a row-aligned scalar sidecar of the
    * sparse index's declared filter columns (empty when none are
    * declared) — sparse-only filtered serving judges tail rows on it the
    * way the dense tiers judge theirs on DenseTail.scalars. */
  private final case class SparseTail(
      byDim: Map[Int, (Array[Long], Array[Double], Array[Double])],
      rowNorms: Array[(Long, Double)],
      scalarIds: Array[Long],
      scalars: Map[String, Array[AnyRef]])
  // key carries the declared columns: a re-declaration invalidates the
  // sidecar (same discipline as the dense tailCache)
  private val sparseTailCache = scala.collection.concurrent.TrieMap[
    (String, String), (Long, Long, Seq[String], Option[SparseTail])]()
  private val emptySparseTail: SparseTail =
    SparseTail(Map.empty, Array.empty, Array.empty, Map.empty)

  /** Left(()) = tail over cap (job path); Right(tail) = per-dim
    * postings + per-row norms (+ scalar sidecar) of rows above the sparse
    * index watermark (empty = no fresh rows). */
  private def sparseFreshTail(st: TableStore, idx: graft.index.SparseIndex,
      field: String): Either[Unit, SparseTail] = {
    val ver = st.snapshot().map(_.version).getOrElse(-1L)
    // the SERVING pin, not the index watermark (see freshTailCluster)
    val wm = idx.servingWatermark()
    val cols = idx.serveFilterColumns()
    sparseTailCache.get((st.schema.name, field)) match {
      case Some((v, w, c, t)) if v == ver && w == wm && c == cols =>
        t.toRight(())
      case _ =>
        // one kind-tagged union job refreshes the tombstone cache too
        servingProbe(st, field, wm, maxServeTailRows, cols) match {
          case Left(_) =>
            sparseTailCache((st.schema.name, field)) = (ver, wm, cols, None)
            Left(())
          case Right(rows) if rows.isEmpty =>
            sparseTailCache((st.schema.name, field)) =
              (ver, wm, cols, Some(emptySparseTail))
            Right(emptySparseTail)
          case Right(rows) => {
            val byDim = scala.collection.mutable.Map[
              Int, (scala.collection.mutable.ArrayBuffer[Long],
                scala.collection.mutable.ArrayBuffer[Double],
                scala.collection.mutable.ArrayBuffer[Double])]()
            val rowNorms = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
            // scalar sidecar, row-aligned with the KEPT (non-null-sparse)
            // rows — the only rows the candidate walk can ever surface
            val sideIds = scala.collection.mutable.ArrayBuffer[Long]()
            val sideVals = cols.map(_ =>
              scala.collection.mutable.ArrayBuffer[AnyRef]())
            rows.foreach { r =>
              if (!r.isNullAt(2)) {
                val id = r.getLong(1)
                sideIds += id
                if (cols.nonEmpty) {
                  val ps = if (r.isNullAt(3)) null else r.getStruct(3)
                  var ci = 0
                  while (ci < cols.length) {
                    sideVals(ci) += (if (ps == null || ps.isNullAt(ci)) null
                      else ps.get(ci).asInstanceOf[AnyRef])
                    ci += 1
                  }
                }
                val sv = r.getStruct(2)
                val dims = sv.getSeq[Int](0)
                val vals = sv.getSeq[Float](1)
                var n2 = 0.0
                var i = 0
                while (i < vals.length) {
                  n2 += vals(i).toDouble * vals(i).toDouble; i += 1
                }
                rowNorms += ((id, n2))
                i = 0
                while (i < dims.length) {
                  val (ids, vs, ns) = byDim.getOrElseUpdate(dims(i),
                    (scala.collection.mutable.ArrayBuffer[Long](),
                      scala.collection.mutable.ArrayBuffer[Double](),
                      scala.collection.mutable.ArrayBuffer[Double]()))
                  ids += id; vs += vals(i).toDouble; ns += n2
                  i += 1
                }
              }
            }
            val packed: SparseTail = SparseTail(
              byDim.map { case (d, (ids, vs, ns)) =>
                d -> ((ids.toArray, vs.toArray, ns.toArray))
              }.toMap,
              rowNorms.toArray,
              sideIds.toArray,
              cols.zipWithIndex.map { case (c, ci) =>
                c -> sideVals(ci).toArray
              }.toMap)
            sparseTailCache((st.schema.name, field)) = (ver, wm, cols, Some(packed))
            Right(packed)
          }
        }
    }
  }

  /** Tombstone mask cap, the symmetric twin of `maxServeTailRows`: the
    * driver-resident delete mask is bounded. Above it a delete-heavy table
    * serves from the job path, and every read anti-joins the tombstone
    * files (see TableStore.maskCap) instead of pinning millions of ids on
    * the driver. A mask this large also means the purge-compaction is
    * overdue. Setting it applies to every open table. */
  @volatile private var tombCap: Int = TableStore.DefaultMaskCap
  def maxServeTombstones: Int = tombCap
  def maxServeTombstones_=(n: Int): Unit = {
    tombCap = n
    stores.values.foreach(_.maskCap = n)
  }

  /** The latest snapshot's tombstone mask, from the store's per-version
    * cache (serving must not run a Spark job per query to learn it).
    * None = over the cap. */
  private def tombstoneSet(st: TableStore): Option[graft.store.TombstoneMask] =
    st.snapshot() match {
      case Some(sn) => st.tombstoneMask(sn, maxServeTombstones)
      case None => Some(graft.store.TombstoneMask.empty(spark))
    }

  def createTable(schemaJson: String): TableSchema = {
    val schema = SchemaJson.read(schemaJson)
    require(!Files.exists(Paths.get(tablePath(schema.name))),
      s"table ${schema.name} already exists")
    if (listTables().size >= quotaMaxTables)
      throw new IllegalStateException(
        s"table quota exceeded: database allows $quotaMaxTables tables")
    stores(schema.name) = withMaskCap(TableStore.create(spark, tablePath(schema.name), schema))
    schema
  }

  def dropTable(name: String): Unit = {
    stores.remove(name)
    // evict every per-table cache: a re-created same-name table must not
    // see a stale index instance pointing at the deleted path
    indexes.keySet.filter(_._1 == name).foreach(indexes.remove)
    sparseIndexes.keySet.filter(_._1 == name).foreach(sparseIndexes.remove)
    tailCache.keySet.filter(_._1 == name).foreach(tailCache.remove)
    sparseTailCache.keySet.filter(_._1 == name).foreach(sparseTailCache.remove)
    declaredServeFilterCols.keySet.filter(_._1 == name)
      .foreach(declaredServeFilterCols.remove)
    statsFragCache.keySet.filter(_._1 == name).foreach(statsFragCache.remove)
    healAttemptGen.keySet.filter(_._1 == name).foreach(healAttemptGen.remove)
    appendLocks.remove(name)
    val p = Paths.get(tablePath(name))
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
  }

  def listTables(): Seq[String] =
    if (!Files.exists(Paths.get(root))) Nil
    else {
      val stream = Files.list(Paths.get(root))
      try stream.iterator().asScala
        .filter(p => Files.exists(p.resolve("schema.json")))
        .map(_.getFileName.toString).toSeq.sorted
      finally stream.close()
    }

  def store(name: String): TableStore =
    stores.getOrElseUpdate(name, withMaskCap(TableStore.open(spark, tablePath(name))))

  private def withMaskCap(st: TableStore): TableStore = { st.maskCap = tombCap; st }

  /** POST /data/insert analog: `{"table": t, "data": [...], "upsert": bool}`.
    * Returns `{"inserted": n, "skipped": m}`. */
  def insert(requestJson: String): String = {
    val req = JsonMethods.parse(requestJson)
    val table = str(req \ "table")
    val upsert = (req \ "upsert") match { case JBool(b) => b; case _ => false }
    val recs = (req \ "data") match {
      case a: JArray => a.arr
      case _ => throw new IllegalArgumentException("data must be an array")
    }
    val st = store(table)
    // reference parity (table_segment_mvp.cpp:465-473): every non-index
    // field must be PRESENT in every record, or the WHOLE batch is
    // rejected — a silently-nulled field would otherwise poison every
    // downstream distance (NULL sorts first) and leave the index universe
    // incomplete. Auto-embed target fields are generated, hence exempt.
    // Stricter than the reference on one point: an explicit JSON null for
    // a VECTOR field is rejected too (the reference's parser would choke
    // on it undefined-ly; scalar nulls stay allowed — SQL semantics
    // throughout). Validated BEFORE the WAL/store see anything.
    val embedTargets = st.schema.indices.map(_.tgt).toSet
    recs.zipWithIndex.foreach { case (r, i) =>
      st.schema.fields.foreach { f =>
        if (!embedTargets.contains(f.name)) (r \ f.name) match {
          case JNothing =>
            throw new IllegalArgumentException(
              s"Record $i missing field: ${f.name}")
          case JNull if FieldType.isVector(f.fieldType) =>
            throw new IllegalArgumentException(
              s"Record $i null vector field: ${f.name}")
          case _ => ()
        }
      }
    }
    val data = recs.map(r => JsonMethods.compact(JsonMethods.render(r)))
    if (quotaMaxRowsPerTable != Long.MaxValue &&
        st.count() + data.size > quotaMaxRowsPerTable)
      throw new IllegalStateException(
        s"row quota exceeded: table $table allows $quotaMaxRowsPerTable rows")
    val ds = spark.createDataset(data.asJava)(org.apache.spark.sql.Encoders.STRING)
    val df = spark.read.schema(st.schema.structType).json(ds)
    val res = st.insert(df, upsert)
    if (autoAppendIndexes && res.inserted > 0) appendIndexes(st)
    s"""{"inserted":${res.inserted},"skipped":${res.skipped}}"""
  }

  /** Incremental index maintenance at ingest (the micro-batch path): after
    * a committed insert, bring every EXISTING index of the table up to the
    * store watermark by appending ALL rows above its indexed watermark —
    * not just this batch, so batches written while no append ran (direct
    * TableStore writers, WAL replay) are healed too. The reference updates
    * its in-memory indexes inside every insert (table_mvp.cpp insert →
    * index add); here appended rows leave the serving fresh tail and enter
    * the persisted layout, keeping the tail bounded by ingest cadence
    * instead of rebuild cadence. Scheduled rebuilds still re-cluster /
    * re-bucket to undo drift. Set false to batch drift into rebuilds. */
  @volatile var autoAppendIndexes: Boolean = true

  /** Catch up the table's existing indexes by name (the maintenance /
    * WAL-replay entry; JSON inserts call the TableStore variant inline).
    * Returns how many indexes actually appended rows. */
  def appendIndexes(table: String): Int = appendIndexes(store(table))

  // per-table append serialization: index appends are read-watermark-then-
  // write, so two concurrent inserts (or an insert racing a maintenance
  // tick) could both see the old watermark and append the same rows TWICE
  // — duplicated postings double-count dots. The store's own writes are
  // serialized by its writeLock; this is the index-side twin.
  private val appendLocks =
    scala.collection.concurrent.TrieMap[String, Object]()

  private def appendIndexes(st: TableStore): Int =
    appendLocks.getOrElseUpdate(st.schema.name, new Object).synchronized {
      appendIndexesLocked(st)
    }

  private def appendIndexesLocked(st: TableStore): Int = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val rowId = graft.store.TableStore.RowId
    val storeWm = st.snapshot().map(_.watermark).getOrElse(0L)
    var appended = 0
    st.schema.vectorFields.foreach { f =>
      if (graft.types.FieldType.isSparse(f.fieldType)) {
        if (Files.exists(Paths.get(
            s"$root/${st.schema.name}/spidx_${f.name}/sp_meta.json"))) {
          val idx = sparseIndex(st, f.name)
          val wm = idx.indexedWatermark()
          if (storeWm > wm) {
            if (idx.needsOrphanHeal()) {
              // a crashed append left rows above the meta watermark:
              // re-appending them would double-count — rebuild instead
              // (the overwrite heals the layout)
              rebuildIndex(st.schema.name, f.name); ()
            } else {
              val newRows = st.read().filter(col(rowId) > wm).cache()
              try {
                val stats = newRows.agg(count(lit(1)), max(col(rowId))).head()
                val n = stats.getLong(0)
                if (n > 0) {
                  idx.append(
                    graft.index.SparseIndex.postingsOf(newRows, f.name, rowId),
                    n, stats.getLong(1),
                    norms = Some(graft.index.SparseIndex.normsOfColumn(
                      newRows, f.name, rowId)))
                  appended += 1
                }
              } finally { newRows.unpersist(); () }
            }
          }
        }
      } else {
        if (Files.exists(Paths.get(
            s"$root/${st.schema.name}/ivf_${f.name}/ivf_meta.json"))) {
          val idx = index(st, f.name)
          val wm = idx.indexedWatermark()
          if (storeWm > wm) {
            if (idx.needsOrphanHeal()) { rebuildIndex(st.schema.name, f.name); () }
            else if (idx.append(st.read().filter(col(rowId) > wm), f.name) > 0)
              appended += 1
          }
        }
      }
    }
    appended
  }

  /** POST /data/query analog: vector top-K with filter/projection/facets.
    * JSON in, JSON out (rendering is capped — see `render`); use
    * `queryDataFrame` as the primary surface for large results. */
  def query(requestJson: String): String = {
    val req = JsonMethods.parse(requestJson)
    (req \ "keywords") match {
      case JArray(ks) if ks.nonEmpty =>
        return hybridQuery(req, ks.map(str))
      case _ => ()
    }
    (req \ "queryVectors") match {
      case JArray(vs) if vs.nonEmpty => return batchQuery(req, vs)
      case _ => ()
    }
    val serve = (req \ "serve") match { case JBool(b) => b; case _ => false }
    if (serve) serveQuery(req) match {
      case Some(resp) => return resp
      case None => // no index / stale index: fall through to the job path
    }
    val (out, facetDfs, facets, unbounded, cleanup) = queryPlan(requestJson)
    try render(out, facetDfs, facets, unbounded)
    finally cleanup()
  }

  /** `"queryVectors": [[..],[..],...]` — batch retrieval (beyond-reference:
    * the reference's batch story is "send N requests"). Response is
    * `{"results":[<single-query response>, ...]}` in input order, each
    * entry exactly what the single-query endpoint would have returned.
    *
    * With `"serve":true` the batch rides the tier's shared sweep — float
    * ([[graft.index.IvfIndex.serve]] on the float, 16-bit or PQ tier):
    * one snapshot handshake, one union cold load, one shared row sweep;
    * certification (and its rare wider-pad retries) runs per query.
    * Queries the serve tier declines fall back to the job path
    * INDIVIDUALLY — batch membership never changes any query's
    * serve-or-decline outcome. Sparse queries run per query. */
  private def batchQuery(req: JValue, vs: List[JValue]): String = {
    val serve = (req \ "serve") match { case JBool(b) => b; case _ => false }
    val quantized = (req \ "quantized") match { case JBool(b) => b; case _ => false }
    val pq = (req \ "pq") match { case JBool(b) => b; case _ => false }
    val denseOk = vs.forall {
      case JArray(xs) => xs.nonEmpty && xs.forall {
        case JInt(_) | JDouble(_) | JDecimal(_) | JLong(_) => true; case _ => false
      }
      case _ => false
    }
    val servedUp: Array[Option[String]] =
      if (serve && denseOk)
        serveBatch(req, vs.map { case JArray(xs) => xs.map(num(_).toFloat).toArray
          case _ => Array.empty[Float] }.toArray, quantized, pq)
      else Array.fill(vs.length)(None)
    val fields = req match { case JObject(fs) => fs; case _ => Nil }
    val out = vs.zipWithIndex.map { case (v, i) =>
      servedUp(i).getOrElse {
        val single = JObject(
          fields.filterNot { case (k, _) => k == "queryVectors" } :+
            ("queryVector" -> v))
        query(JsonMethods.compact(JsonMethods.render(single)))
      }
    }
    s"""{"results":[${out.mkString(",")}]}"""
  }

  // ---- hybrid retrieval: dense vector + BM25 keywords, RRF-fused ----

  private val bm25Indexes =
    scala.collection.concurrent.TrieMap[(String, String), graft.index.SparseIndex]()
  private def bm25Index(st: TableStore, textField: String): graft.index.SparseIndex =
    bm25Indexes.getOrElseUpdate((st.schema.name, textField),
      new graft.index.SparseIndex(spark,
        s"$root/${st.schema.name}/bm25_$textField", TableStore.RowId))

  /** Build (or skip-refresh) the BM25 impact index over a STRING field:
    * doc-side Okapi impacts feature-hashed into sparse postings
    * ([[graft.pipeline.Bm25.impactPostings]]), persisted through the SAME
    * SparseIndex layout/lifecycle the sparse vector fields use — bucketed
    * dim dirs, dim_stats + maxv (WAND serving), skip-as-unchanged stamps.
    * Keyword retrieval is then exactly a sparse dot top-K with a one-hot
    * query over the terms' dims. Impacts bake in build-time global stats
    * (df/avgdl/N) — the standard frozen-index caveat; the rebuild cadence
    * refreshes them. Returns whether a build actually ran. */
  def rebuildBm25Index(table: String, textField: String): Boolean = {
    val st = store(table)
    require(st.schema.field(textField).fieldType == FieldType.Str,
      s"$textField is not a STRING field")
    val read = st.read()
    val stats = read.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col(TableStore.RowId).cast("long"))).head()
    val rebuilt = graft.index.SparseIndex.rebuildFromPostingsVerbose(spark,
      graft.pipeline.Bm25.impactPostings(read, textField, TableStore.RowId)
        .withColumnRenamed("id", TableStore.RowId),
      TableStore.RowId, s"$root/$table/bm25_$textField",
      rowCount = stats.getLong(0),
      maxId = if (stats.isNullAt(1)) 0L else stats.getLong(1),
      purgeGen = st.purgeGen())._2
    if (rebuilt)
      bm25Indexes.get((table, textField)).foreach(_.resetServeDeclineCount())
    rebuilt
  }

  /** Text fields with an on-disk BM25 impact index (discovered from the
    * layout dirs, so maintenance finds indexes built by other processes
    * or earlier sessions too). */
  private[api] def bm25Fields(table: String): Seq[String] = {
    val dir = Paths.get(s"$root/$table")
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("bm25_"))
        .map(_.stripPrefix("bm25_")).toSeq.sorted
      finally s.close()
    }
  }

  /** `"keywords": [...]` — hybrid retrieval (beyond-reference: the
    * text half of a RAG curation query). Reciprocal-rank fusion (k=60)
    * of the dense ranking over `queryField` and the BM25 keyword ranking
    * over `textField`, both cut to `rrfCut` (default 50) before ranking.
    * With `"serve":true` both sides try their driver-resident tiers
    * (dense IvfIndex.serve incl. fresh tail; BM25 sparse servePointDot over
    * the impact index — WAND prefixes apply to stop-word terms) and fall
    * back to their job paths individually. Keyword-side freshness is the
    * impact index's snapshot (frozen-stats caveat above); tombstones are
    * masked on both sides. Response rows are (__row_id, rrf). */
  private def hybridQuery(req: JValue, terms: List[String]): String = {
    val table = str(req \ "table")
    val st = store(table)
    val textField = str(req \ "textField")
    val queryField = (req \ "queryField") match {
      case JString(s) => s
      case _ =>
        val vfs = st.schema.vectorFields
        require(vfs.size == 1, "queryField required when table has multiple vector fields")
        vfs.head.name
    }
    val dense: Array[Float] = (req \ "queryVector") match {
      case JArray(vals) => vals.map(num(_).toFloat).toArray
      case _ => throw new IllegalArgumentException(
        "hybrid query needs a dense queryVector alongside keywords")
    }
    val limit = (req \ "limit") match { case JInt(i) => i.toInt; case _ => 10 }
    val cut = (req \ "rrfCut") match { case JInt(i) => i.toInt; case _ => 50 }
    val nProbe = (req \ "nProbe") match { case JInt(i) => i.toInt; case _ => 8 }
    // a declared recall floor: the DENSE side serves under its PROVEN
    // cover (geometric ball cover unfiltered, passing-count cover
    // filtered — the same proofs the single dispatch uses; 1.0 = the
    // exact dense cut), while the KEYWORD side rides the job path (its
    // exact cut trivially satisfies any floor; the WAND serve tier is
    // retrieval-mode and proves none). The uniform recallTarget contract
    // holds: every served side carries its floor's proof, and the
    // envelope says which side served.
    val recallTarget: Option[Double] = (req \ "recallTarget") match {
      case JDouble(d) => Some(d)
      case JDecimal(d) => Some(d.toDouble)
      case JInt(i) => Some(i.toDouble)
      case _ => None
    }
    val serve = (req \ "serve") match { case JBool(b) => b; case _ => false }
    require(!facetsPresent(req), "hybrid queries do not support facets")
    // `filter` applies to BOTH sides: each ranks over the FILTERED
    // universe before fusion (filter-then-rank — the same semantics the
    // single-query path has, queryPlan's preFilter). When the filter is a
    // resident-evaluable conjunction BOTH sides can serve: the dense side
    // through a filtered IvfIndex.serve, the keyword side by borrowing the
    // dense index's complete passing-id verdict (passingIdSet + the
    // pre-filtered tail sidecar) as a mask on the sparse candidate walk.
    val filterStr = filterStringOf(req)
    val filterCol: Option[org.apache.spark.sql.Column] =
      if (filterStr.isEmpty) None
      else Some(graft.filter.FilterTranslator.translate(filterStr,
        st.read().schema))
    // over-cap tombstone mask: serving (which needs the driver-side set)
    // declines to the job paths, which mask via the store (read() /
    // excludeIds) instead
    val tombsOpt: Option[Long => Boolean] = tombstoneSet(st).map(_.contains)

    // dense side: (row_id asc-rank list), serve tier first when asked.
    // A filtered hybrid can still serve its dense side when the filter is
    // a resident-evaluable conjunction (same sub-grammar the single-query
    // serve path takes); anything else keeps both sides on the job paths.
    val serveConds: Option[Seq[graft.filter.SimpleConjuncts.Cond]] =
      if (filterStr.isEmpty) Some(Nil)
      else graft.filter.SimpleConjuncts.parse(filterStr, st.schema)
    val denseServed: Option[Array[Long]] =
      if (!serve || serveConds.isEmpty) None
      else serveDenseHits(st, queryField, dense, cut, nProbe,
        serveConds.get, recallTarget).map(_.map(_._1))
    val denseIds: Array[Long] = denseServed.getOrElse {
      val f = st.schema.field(queryField)
      val d = QueryEngine.distanceColumn(f, QueryEngine.DenseQuery(dense))
      val live = filterCol.map(st.read().filter).getOrElse(st.read())
      live.withColumn(QueryEngine.DistanceCol, d)
        .orderBy(org.apache.spark.sql.functions.col(QueryEngine.DistanceCol).asc,
          org.apache.spark.sql.functions.col(TableStore.RowId).asc)
        .limit(cut)
        .select(TableStore.RowId)
        .collect().map(_.getLong(0))
    }

    // keyword side off the impact index (serve tier, then pruned job)
    require(Files.exists(Paths.get(s"$root/$table/bm25_$textField/sp_meta.json")),
      s"no BM25 index for $table.$textField — call rebuildBm25Index first")
    val qd = graft.pipeline.Bm25.queryDims(terms)
    val ones = qd.map(_ => 1.0f)
    val bmIdx = bm25Index(st, textField)
    // impact postings frozen before a compact() still contain the purged
    // rows while tombstoneIds() no longer lists them — the anti-join mask
    // can't cover removals any more. Skip the serve tier and restrict the
    // job path's candidates to live ids (the same restrictIds contract
    // annQuery uses) until the rebuild refreshes the index.
    val bmStale = bmIdx.indexedPurgeGen() < st.purgeGen()
    val kwServed: Option[Array[Long]] =
      if (!serve || bmStale || tombsOpt.isEmpty ||
          recallTarget.isDefined) None // floor: exact job cut (see above)
      else if (filterStr.isEmpty)
        scala.util.Try(bmIdx.servePointDot(qd, ones, cut,
            exclude = tombsOpt.get))
          .toOption.flatten.map(_.map(_._1))
      else serveConds match {
        // filtered keyword serving: mask the candidate walk with the
        // dense index's complete pass verdict (decline → job path)
        case Some(cs) if cs.nonEmpty =>
          serveKeywordFiltered(st, queryField, bmIdx, qd, ones, cut, cs,
            tombsOpt.get)
        case _ => None
      }
    val kwIds: Array[Long] = kwServed.getOrElse {
      // filter → rank over the filtered live ids (st.read() already
      // excludes tombstones, so the semi-join covers stale-purge masking
      // too); stale alone → all live ids
      val restrict: Option[DataFrame] =
        if (filterCol.isDefined) Some(st.read().filter(filterCol.get).select(
          org.apache.spark.sql.functions.col(TableStore.RowId)))
        else if (bmStale) Some(st.read().select(
          org.apache.spark.sql.functions.col(TableStore.RowId)))
        else None
      bmIdx.topKDot(qd, ones, cut,
          excludeIds = if (restrict.isDefined) None else st.tombstoneIds(),
          restrictIds = restrict)
        .collect().map(_.getLong(0))
    }

    // RRF k=60: ranks are positions in each side's cut
    val rrf = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    def fold(ids: Array[Long]): Unit = {
      var i = 0
      while (i < ids.length) {
        val key = java.lang.Long.valueOf(ids(i))
        val cur = rrf.get(key)
        rrf.put(key, (if (cur == null) 0.0 else cur.doubleValue) +
          1.0 / (60.0 + (i + 1)))
        i += 1
      }
    }
    fold(denseIds); fold(kwIds)
    val fused = {
      import scala.jdk.CollectionConverters._
      rrf.entrySet().asScala.toArray
        .map(e => (e.getKey.longValue, e.getValue.doubleValue))
        .sortBy { case (id, s) => (-s, id) }
        .take(math.min(limit, maxRenderRows))
    }
    val sb = new java.lang.StringBuilder("{\"result\":[")
    var i = 0
    while (i < fused.length) {
      if (i > 0) sb.append(',')
      sb.append("{\"__row_id\":").append(fused(i)._1)
        .append(",\"rrf\":").append(math.rint(fused(i)._2 * 1e6) / 1e6)
        .append('}')
      i += 1
    }
    sb.append("],\"hybrid\":true")
    if (denseServed.isDefined || kwServed.isDefined) {
      sb.append(",\"served\":{\"dense\":").append(denseServed.isDefined)
        .append(",\"keyword\":").append(kwServed.isDefined).append('}')
    }
    sb.append('}')
    sb.toString
  }

  /** One dense serving handshake (pin + fresh tail + tombstones +
    * `IvfIndex.serve` + pin re-check) returning raw hits — the id-level
    * core the hybrid path shares with `serveQuery`'s rendered envelope.
    * `conds` non-empty = attribute-filtered serving (over declared
    * resident columns; tail pre-filtered on the sidecar). */
  private def serveDenseHits(st: TableStore, queryField: String,
      dense: Array[Float], k: Int, nProbe: Int,
      conds: Seq[graft.filter.SimpleConjuncts.Cond] = Nil,
      recallTarget: Option[Double] = None)
      : Option[Array[(Long, Double)]] = {
    val f = st.schema.field(queryField)
    if (!FieldType.isVector(f.fieldType) || FieldType.isSparse(f.fieldType))
      return None
    if (!Files.exists(Paths.get(
        s"$root/${st.schema.name}/ivf_$queryField/ivf_meta.json"))) return None
    val idx = index(st, queryField)
    if (idx.indexedPurgeGen() < st.purgeGen()) return None
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      val pin = idx.servingWatermark()
      freshTailCluster(st, idx, queryField) match {
        case Left(_) =>
          if (idx.indexedWatermark() > pin) idx.rebaseServing()
          else return None
        case Right(tail) =>
          val tombs = tombstoneSet(st) match {
            case Some(t) => t
            case None => return None
          }
          val ft = serveTail(tail, conds, f.dimensions).getOrElse(return None)
          // a declared floor: the ball cover proves it (1.0 = exact) — the
          // passing-count cover under a filter — as in the single dispatch
          val probe = serveProbe(recallTarget,
            math.min(nProbe, idx.centroids().length), tombs.size.toLong)
          idx.serve(queryField, Array(dense), math.min(k, maxRenderRows),
            ServeTier.Float, probe, conds, tombs.contains, ft).head match {
            case Some(s) =>
              if (idx.servingWatermark() == pin) return Some(s.hits)
            // else: pin moved mid-serve — retry
            case None => return None
          }
      }
    }
    None
  }

  /** The fresh tail a dense serve takes: the packed tail, pre-filtered on
    * its scalar sidecar when `conds` is non-empty (the conjunction applies
    * to tail rows too; an empty filtered tail rides as none). None = the
    * sidecar raced a re-declaration → decline. */
  private def serveTail(tail: Option[DenseTail],
      conds: Seq[graft.filter.SimpleConjuncts.Cond], dim: Int)
      : Option[Option[(Array[Long], Array[Double], Array[Double])]] =
    if (conds.isEmpty) Some(tail.map(_.packed))
    else tail match {
      case None => Some(None)
      case Some(dt) =>
        filterTail(dt, conds, dim).map(p => if (p._1.isEmpty) None else Some(p))
    }

  /** The probe mode of a dense serve: the proven cover of a declared
    * recall floor (`slack` = the tombstone count the mask may hide), else
    * the `np` nearest clusters. */
  private def serveProbe(recallTarget: Option[Double], np: Int, slack: Long)
      : ServeProbe =
    recallTarget.fold[ServeProbe](ServeProbe.Nearest(np))(
      t => ServeProbe.Recall(t, slack))

  /** The dense tier a request asks for (`serve` forces certification
    * on the code tiers under a declared floor — cover × certified is the
    * floor's proof). */
  private def serveTier(quantized: Boolean, pq: Boolean, certified: Boolean)
      : ServeTier =
    if (pq) ServeTier.Pq(certified)
    else if (quantized) ServeTier.Quantized(certified)
    else ServeTier.Float

  /** A dense serve's response: the hits as (`__row_id`, `@distance`)
    * rows, the tier/filter/proof flags and the facets fragment. */
  private def servedEnvelope(served: graft.index.Served, filtered: Boolean,
      quantized: Boolean, pq: Boolean, certified: Boolean,
      facetJson: String): String = {
    val hits = served.hits
    val sb = new java.lang.StringBuilder("{\"result\":[")
    var i = 0
    while (i < hits.length) {
      if (i > 0) sb.append(',')
      sb.append("{\"__row_id\":").append(hits(i)._1)
        .append(",\"@distance\":").append(hits(i)._2).append('}')
      i += 1
    }
    sb.append("],\"served\":true")
    if (filtered) sb.append(",\"filtered\":true")
    if (pq || quantized) {
      sb.append(if (pq) ",\"pq\":true" else ",\"quantized\":true")
      if (certified) sb.append(",\"certified\":true")
      if (served.reranked > 0) sb.append(",\"reranked\":").append(served.reranked)
    }
    sb.append(facetJson)
    sb.append('}')
    sb.toString
  }

  /** Serve-path FACETS: aggregate the POST-LIMIT served result (≤ k rows
    * — facets are post-limit by contract, table_mvp.cpp:377-400) from
    * driver-resident values: declared scalar columns via scalarRowsFor,
    * tail rows via the sidecar. The k rows are reconstructed as a LOCAL
    * DataFrame (original schema types restored — the widening to
    * Long/Double was exact, so the cast back is too) and fed through the
    * SAME QueryEngine.facet the job path uses: grouping/aggregation
    * semantics AND JSON number formatting are identical by construction.
    * The aggregation is a tiny local job over k rows — no table scan; the
    * serve sweep itself stays job-free. A facet referencing an
    * undeclared column (or any facet parse failure) returns None and the
    * whole request declines to the job path's full surface. */
  private def serveFacetsJson(st: TableStore, idx: graft.index.IvfIndex,
      dense: Array[Float], served: graft.index.Served,
      tail: Option[DenseTail], facets: Seq[Facet]): Option[String] = {
    import org.apache.spark.sql.types._
    val cols = idx.serveFilterColumns()
    if (cols.isEmpty) return None
    val tailValueById: Map[Long, Array[AnyRef]] = tail match {
      case None => Map.empty
      case Some(dt) =>
        dt.packed._1.zipWithIndex.map { case (id, j) =>
          id -> cols.map(c => dt.scalars(c)(j)).toArray
        }.toMap
    }
    val hits = served.hits
    val needResident = hits.map(_._1).filterNot(tailValueById.contains)
    // the lookup probes the clusters the hits were swept from
    val resident = idx.scalarRowsFor(needResident, dense, served.probed.length,
        Some(served.probed)) match {
      case Some(m) => m
      case None => return None
    }
    facetsJsonFromValues(st, cols, hits,
      id => tailValueById.getOrElse(id, resident(id)), facets)
  }

  /** The shared facet-envelope tail: reconstruct the ≤ k served rows as a
    * LOCAL DataFrame (original schema types restored — the widening to
    * Long/Double was exact, so the cast back is too) and feed them
    * through the SAME QueryEngine.facet executor the job path uses, so
    * grouping semantics AND JSON number formatting are identical by
    * construction. `valueOf` is the residency's id → declared-col values
    * lookup (any tier's: dense scalar clusters, sparse scalar rows, tail
    * sidecars) — a missing id throws, caught here as a decline. */
  private def facetsJsonFromValues(st: TableStore, cols: Seq[String],
      hits: Array[(Long, Double)], valueOf: Long => Array[AnyRef],
      facets: Seq[Facet]): Option[String] = {
    import org.apache.spark.sql.types._
    def castTo(v: AnyRef, dt: DataType): Any =
      if (v == null) null
      else dt match {
        case ByteType => v.asInstanceOf[Number].byteValue
        case ShortType => v.asInstanceOf[Number].shortValue
        case IntegerType => v.asInstanceOf[Number].intValue
        case LongType => v.asInstanceOf[Number].longValue
        case FloatType => v.asInstanceOf[Number].floatValue
        case DoubleType => v.asInstanceOf[Number].doubleValue
        case _ => v
      }
    val colTypes = cols.map(c => st.schema.field(c).sparkType)
    val schema = org.apache.spark.sql.types.StructType(
      StructField(TableStore.RowId, LongType, nullable = false) +:
        StructField(QueryEngine.DistanceCol, DoubleType, nullable = false) +:
        cols.zip(colTypes).map { case (c, t) => StructField(c, t) })
    val rows: java.util.List[org.apache.spark.sql.Row] =
      try hits.map { case (id, d) =>
        val vals = valueOf(id)
        org.apache.spark.sql.Row.fromSeq(
          id +: d +: vals.toSeq.zip(colTypes).map { case (v, t) => castTo(v, t) })
      }.toSeq.asJava
      catch { case scala.util.control.NonFatal(_) => return None }
    val df = spark.createDataFrame(rows, schema)
    val sb = new java.lang.StringBuilder(",\"facets\":[")
    try {
      val dfs = facets.map(QueryEngine.facet(df, _))
      dfs.zipWithIndex.foreach { case (f, i) =>
        if (i > 0) sb.append(',')
        sb.append(f.toJSON.collect().mkString("[", ",", "]"))
      }
    } catch { case scala.util.control.NonFatal(_) => return None }
    sb.append(']')
    Some(sb.toString)
  }

  /** Keyword-side FILTERED serving for hybrid queries: the sparse impact
    * index holds no attribute columns, so the mask comes from the DENSE
    * index's scalar residency — [[graft.index.IvfIndex.passingIdSet]]
    * gives a complete verdict for ids at or below its serving pin, the
    * pre-filtered tail sidecar covers ids above it, and together they
    * mask the sparse candidate walk exactly (filter-then-rank over the
    * frozen impacts, the same semantics the job path's restrictIds
    * semi-join computes). The dense pin is re-verified after the sparse
    * sweep; any inconsistency declines to the job path. */
  private def serveKeywordFiltered(st: TableStore, queryField: String,
      bmIdx: graft.index.SparseIndex, qd: Array[Int], ones: Array[Float],
      cut: Int, conds: Seq[graft.filter.SimpleConjuncts.Cond],
      excl: Long => Boolean): Option[Array[Long]] = {
    val f = st.schema.field(queryField)
    if (!FieldType.isVector(f.fieldType) || FieldType.isSparse(f.fieldType))
      return None
    var attempts = 0
    while (attempts < 3) {
      attempts += 1
      densePassVerdict(st, queryField, conds) match {
        case None => return None
        case Some((passes, verify)) =>
          val hits = scala.util.Try(bmIdx.servePointDot(qd, ones, cut,
            exclude = id => excl(id) || !passes(id))).toOption.flatten
          hits match {
            case Some(h) =>
              if (verify()) return Some(h.map(_._1))
            // else: a rebuild raced the verdict — rebuild it and retry
            case None => return None // sparse tier declined
          }
      }
    }
    None
  }

  /** Complete pass verdict BORROWED from a dense index's scalar
    * residency: `passes` judges EVERY live id — the resident pass set
    * covers ids at or below the dense serving pin, the pre-filtered tail
    * sidecar covers ids above it — and `verify()` re-checks the dense
    * pin after the borrowing sweep (the ADVICE-medium race discipline).
    * This is the mask the non-dense serving tiers (hybrid keyword walk,
    * sparse-field retrieval) compose into their own candidate walks.
    * None = no usable donor (missing/stale index, undeclared columns,
    * over-budget residency, tail over cap, pin churn). */
  private def densePassVerdict(st: TableStore, denseField: String,
      conds: Seq[graft.filter.SimpleConjuncts.Cond])
      : Option[(Long => Boolean, () => Boolean)] = {
    val f = st.schema.field(denseField)
    if (!Files.exists(Paths.get(
        s"$root/${st.schema.name}/ivf_$denseField/ivf_meta.json"))) return None
    val idx = index(st, denseField)
    if (idx.indexedPurgeGen() < st.purgeGen()) return None
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      // a donor that skipped NULL-vector rows at build/append has an
      // INCOMPLETE id universe: rows it never saw (null dense, live
      // sparse) would be judged non-passing — decline the borrow. The
      // completeness bit and the pin come from ONE synchronized stamp
      // read (and re-read per retry, since a rebase in the Left branch
      // moves the pin): two separate reads let a throttled refresh slide
      // the pin past new null rows the tail check then never sees
      // (round-12 ADVICE, medium).
      val (complete0, wm0) = idx.universeCompletePin()
      if (!complete0) return None
      freshTailCluster(st, idx, denseField) match {
        case Left(_) =>
          if (idx.indexedWatermark() > wm0) idx.rebaseServing()
          else return None // tail over cap: rebuild overdue
        case Right(tail) =>
          // same completeness rule for the gap rows: a null-dense row
          // above the pin has no sidecar judgment
          if (tail.exists(_.nullVecRows > 0)) return None
          // passing ids ABOVE the pin, from the tail's scalar sidecar
          val tailPass = new java.util.HashSet[java.lang.Long]()
          tail match {
            case None => ()
            case Some(dt) => filterTail(dt, conds, f.dimensions) match {
              case Some(p) => p._1.foreach(id => tailPass.add(id))
              case None => return None // sidecar raced a re-declaration
            }
          }
          idx.passingIdSet(conds) match {
            case None => return None // undeclared column / over budget
            case Some((pass, pinKey, pinWm)) =>
              // the tail was collected against wm0: a pass set pinned
              // elsewhere would leave the gap rows unjudged — retry
              if (pinWm == wm0)
                return Some((
                  (id: Long) =>
                    if (id <= pinWm) pass.contains(id)
                    else tailPass.contains(id),
                  // post-sweep re-verify ALSO re-checks completeness at
                  // the same pin from one stamp: nulls appended during
                  // the borrower's sweep invalidate the verdict instead
                  // of silently aging the tailPass set
                  () => {
                    val (c, w) = idx.universeCompletePin()
                    c && w == pinWm && idx.pinStableFor(pinKey, pinWm)
                  }))
          }
      }
    }
    None
  }

  /** The serve-tier fast path for [[batchQuery]]: one pin/tail/tombstone
    * handshake for the whole batch, then one `IvfIndex.serve`. Per-query
    * `None` = that query falls to its single-query path (same outcome it
    * would have had alone); all-`None` = the shared handshake itself
    * declined (no index, over-cap tail, tombstone mask over cap). */
  private def serveBatch(req: JValue, dense: Array[Array[Float]],
      quantized: Boolean = false, pq: Boolean = false)
      : Array[Option[String]] = {
    val allNone: Array[Option[String]] = Array.fill(dense.length)(None)
    // FACETED batches ride the shared sweep too: facets aggregate each
    // query's post-limit top-k (≤ k driver-resident rows) through the
    // same serveFacetsJson the single dispatch uses — the sweep is
    // batched, the per-query facet aggregation is tiny by contract. An
    // entry whose facet source is unavailable degrades to ITS per-query
    // fallback (which re-enters query() and serves or declines there) —
    // never partial facets, never a batch-wide decline. A FILTERED
    // batch rides the sweep when the filter is a resident-evaluable
    // conjunction (the conjunction is shared, so one passing-id set
    // masks the whole batch); anything else declines per query.
    val facets = parseFacets(req \ "facets")
    // the uniform floor contract, batch form: ALL THREE dense tiers
    // serve a declared recallTarget with PER-QUERY proven covers on the
    // shared sweep — the code tiers compose forced certification on top
    // (cover × certified = the floor's proof, as in the single dispatch).
    // The FILTER combination rides the shared sweep too: one all-cluster
    // pass set + passing-count map serves per-query passing-count covers
    // (recall >= target over the FILTERED universe, 1.0 = exact per query)
    val recallTarget: Option[Double] = (req \ "recallTarget") match {
      case JDouble(d) => Some(d)
      case JDecimal(d) => Some(d.toDouble)
      case JInt(i) => Some(i.toDouble)
      case _ => None
    }
    val table = str(req \ "table")
    val st = store(table)
    val filterStr = filterStringOf(req)
    val conds: Seq[graft.filter.SimpleConjuncts.Cond] =
      if (filterStr.isEmpty) Nil
      else {
        graft.filter.SimpleConjuncts.parse(filterStr, st.schema) match {
          case Some(cs) if cs.nonEmpty => cs
          case _ => return allNone
        }
      }
    val queryField = (req \ "queryField") match {
      case JString(s) => s
      case _ =>
        val vfs = st.schema.vectorFields
        require(vfs.size == 1, "queryField required when table has multiple vector fields")
        vfs.head.name
    }
    if (!FieldType.isVector(st.schema.field(queryField).fieldType) ||
        FieldType.isSparse(st.schema.field(queryField).fieldType)) return allNone
    val limit = (req \ "limit") match { case JInt(i) => i.toInt; case _ => 10 }
    val nProbe = (req \ "nProbe") match { case JInt(i) => i.toInt; case _ => 8 }
    if (!Files.exists(Paths.get(s"$root/$table/ivf_$queryField/ivf_meta.json")))
      return allNone
    val idx = index(st, queryField)
    if (idx.indexedPurgeGen() < st.purgeGen()) return allNone
    // facets need the declared scalar residency as their value source —
    // nothing declared means per-query dispatch decides (cheap early out)
    if (facets.nonEmpty && idx.serveFilterColumns().isEmpty) return allNone
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      val pin = idx.servingWatermark()
      freshTailCluster(st, idx, queryField) match {
        case Left(_) =>
          if (idx.indexedWatermark() > pin) idx.rebaseServing()
          else return allNone
        case Right(tail) =>
          val tombs = tombstoneSet(st) match {
            case Some(t) => t
            case None => return allNone
          }
          val k = math.min(limit, maxRenderRows)
          val np = math.min(nProbe, idx.centroids().length)
          val certified = (req \ "certified") match {
            case JBool(b) => b; case _ => false
          }
          // a declared floor forces certification on the code tiers —
          // cover × certified is the floor's proof (see serveQuery)
          val certEff = certified || recallTarget.isDefined
          // shared conjunction: tail pre-filtered once on the scalar
          // sidecar, one passing-id set masks the whole batch; a declared
          // floor gives each query ITS proven cover (passing-count cover
          // when filtered), pinned inside `serve`
          val ft = serveTail(tail, conds,
            st.schema.field(queryField).dimensions).getOrElse(return allNone)
          val got = idx.serve(queryField, dense, k,
            serveTier(quantized, pq, certEff),
            serveProbe(recallTarget, np, tombs.size.toLong), conds,
            tombs.contains, ft)
          if (idx.servingWatermark() == pin) {
            return got.zipWithIndex.map { case (res, qi) =>
              res.flatMap { served =>
                // per-entry facets over ITS served top-k (≤ k rows, the
                // single dispatch's serveFacetsJson, probing the clusters
                // swept); an unavailable source degrades this entry to its
                // per-query fallback
                val facetJson: Option[String] =
                  if (facets.isEmpty) Some("")
                  else serveFacetsJson(st, idx, dense(qi), served, tail, facets)
                facetJson.map(servedEnvelope(served, conds.nonEmpty, quantized,
                  pq, certEff, _))
              }
            }
          } // pin moved mid-serve: retry
      }
    }
    allNone
  }

  private def filterStringOf(req: JValue): String =
    (req \ "filter") match { case JString(s) => s.trim; case _ => "" }
  private def facetsPresent(req: JValue): Boolean =
    (req \ "facets") match { case JArray(a) => a.nonEmpty; case _ => false }

  /** `"serve":true` — the reference's in-process low-latency search
    * (vec_search_executor.cpp:833-935): answered from the driver-resident
    * IVF serving cache, NO Spark job on the warm path. Contract differs
    * from the job path deliberately:
    *  - returns `(__row_id, @distance)` pairs only (bodies are a /data/get
    *    by id away — the standard serving-tier split);
    *  - rows above the indexed watermark are served from a driver-resident
    *    fresh-tail cache, scored exactly and merged with the probed
    *    clusters (the reference's graph-over-prefix + brute-force-tail,
    *    vec_search_executor.cpp:885-904); the tail is re-collected when
    *    the snapshot version moves (one pruned job per commit, then warm)
    *    and capped at `maxServeTailRows` — a bigger tail means the
    *    maintenance rebuild is overdue and the query falls back to the
    *    job path rather than pinning unbounded fresh data on the driver;
    *  - tombstoned rows are masked via a snapshot-version-keyed
    *    driver-side set.
    * Returns None (-> job path) when there is no index, the index predates
    * a purge, the fresh tail exceeds the cap, or the query is not a dense
    * vector. */
  private def serveQuery(req: JValue): Option[String] = {
    // filtered/faceted requests decline to the job path, which applies
    // them exactly (the reference's single search path always evaluates
    // the filter, vec_search_executor.cpp:905-928 — a serve tier that
    // ignored it would return the UNFILTERED top-k unmarked). Two
    // exceptions: a simple attribute conjunction over serve-resident
    // scalar columns is evaluated exactly inside the sweep, and FACETS
    // over declared resident columns aggregate the served top-k from the
    // same residency (serveFacetsJson — facets are post-limit by
    // contract, so ≤ k driver-resident rows are the whole input);
    // anything else declines.
    val facets = parseFacets(req \ "facets")
    val table = str(req \ "table")
    val st = store(table)
    val queryField = (req \ "queryField") match {
      case JString(s) => s
      case _ =>
        val vfs = st.schema.vectorFields
        require(vfs.size == 1, "queryField required when table has multiple vector fields")
        vfs.head.name
    }
    val limit = (req \ "limit") match { case JInt(i) => i.toInt; case _ => 10 }
    val nProbe = (req \ "nProbe") match { case JInt(i) => i.toInt; case _ => 8 }
    // "quantized":true = OPT-IN serving off the 16-bit resident tier
    // (~4x the rows per residency byte; empirically exact ranking, the
    // L2 norm term is packed exact, but no proof). Adding
    // "certified":true upgrades it to a PROVEN-exact id set:
    // interval-certified against per-row quantization error bounds, with
    // a boundary-ambiguous band float-reranked in one pruned job
    // (surfaced as "reranked":n). Never a silent fallback: quantized
    // answers are marked in the envelope and the default serve tier
    // stays the all-float one.
    val quantized = (req \ "quantized") match { case JBool(b) => b; case _ => false }
    val certified = (req \ "certified") match { case JBool(b) => b; case _ => false }
    // "pq":true = OPT-IN serving off the PQ resident tier (m-byte ADC
    // codes; ~14x the rows per residency byte of the 16-bit tier at high
    // dims, ~30x lighter cold loads — but a lossy ~32x compression, so
    // rank flips on close pairs are expected). "certified":true combines:
    // the id set is interval-proven exact off the persisted per-row
    // reconstruction error, with the ambiguous band float-reranked.
    // Pre-PQ layouts decline to the job path, never silently downgrade.
    val pq = (req \ "pq") match { case JBool(b) => b; case _ => false }
    val filterStr = filterStringOf(req)
    // parsed BEFORE any tier dispatch: a declared recall floor must gate
    // every serve branch (sparse included), never be read after one
    // already answered
    val recallTarget: Option[Double] = (req \ "recallTarget") match {
      case JDouble(d) => Some(d)
      case JDecimal(d) => Some(d.toDouble)
      case JInt(i) => Some(i.toDouble)
      case _ => None
    }
    (req \ "queryVector") match {
      case o: JObject =>
        // sparse postings carry no attribute columns, but a resident
        // conjunction can still serve by borrowing a dense sibling
        // index's pass verdict (densePassVerdict — the hybrid keyword
        // side's mechanism): dot/cosine keep their retrieval-mode
        // contract under the mask, and Euclidean stays EXACT-or-decline
        // — its proof bounds unseen rows by DISTANCE (norm order), which
        // holds for masked rows identically. FACETS borrow a donor the
        // same way (values by id from its scalar residency + tail
        // sidecar — sparseFacetsJson). A declared recall floor:
        // EUCLIDEAN sparse serving is exact-or-decline (servePointEuclid's
        // norm-order truncation proof), so a served answer trivially
        // honors any floor; DOT/COSINE serve it with the ZERO-GAP proof
        // (round 12): every row outside the candidate walk shares no
        // query dim, so its dot is EXACTLY 0 (cosine distance exactly 1)
        // — if the k-th served score clears that constant by an fp
        // margin, the candidates provably contain the true top-k and the
        // answer is exact (any floor holds); otherwise decline
        // (serveSparse checks per answer).
        def denseDonor(cols: Set[String]): Option[String] =
          st.schema.vectorFields.find { df =>
            !FieldType.isSparse(df.fieldType) &&
              Files.exists(Paths.get(
                s"$root/${st.schema.name}/ivf_${df.name}/ivf_meta.json")) &&
              cols.subsetOf(index(st, df.name).serveFilterColumns().toSet)
          }.map(_.name)
        val facetDonor: Option[(Option[String], Seq[Facet])] =
          if (facets.isEmpty) None
          else {
            // columns a facet touches: plain group names + the argument
            // of each aggregate ("SUM(ID)" → ID; "*" and @distance are
            // always available on the ≤ k facet input)
            val fcols = facets.flatMap(f => f.group ++ f.aggregate.flatMap(
              a => "\\(([^)]*)\\)".r.findFirstMatchIn(a).map(_.group(1).trim)))
              .filterNot(c => c == "*" || c.startsWith("@")).toSet
            denseDonor(fcols) match {
              case Some(dn) => Some((Some(dn), facets))
              case None =>
                // sparse-ONLY: values from the sparse index's OWN scalar
                // residency + tail sidecar (round 12); undeclared → job
                if (fcols.subsetOf(
                    sparseIndex(st, queryField).serveFilterColumns().toSet))
                  Some((None, facets))
                else return None
            }
          }
        if (filterStr.isEmpty)
          return serveSparse(st, queryField, o, limit,
            facetDonor = facetDonor, recallTarget = recallTarget)
        val cs = graft.filter.SimpleConjuncts.parse(filterStr, st.schema) match {
          case Some(cs0) if cs0.nonEmpty => cs0
          case _ => return None // outside the serve sub-grammar
        }
        // verdict source, in preference order: a dense sibling whose
        // DECLARED residency covers the conjunction's columns (values
        // already resident, zero extra jobs), else — the sparse-ONLY
        // case — the sparse index's OWN declaration (one cached pruned
        // pass-set job, then warm); neither ⇒ job path
        return denseDonor(cs.map(_.col).toSet) match {
          case Some(dn) => serveSparse(st, queryField, o, limit,
            filtered = Some((Some(dn), cs)), facetDonor = facetDonor,
            recallTarget = recallTarget)
          case None =>
            if (cs.map(_.col).toSet.subsetOf(
                sparseIndex(st, queryField).serveFilterColumns().toSet))
              serveSparse(st, queryField, o, limit,
                filtered = Some((None, cs)), facetDonor = facetDonor,
                recallTarget = recallTarget)
            else None
        }
      case _ => ()
    }
    val dense: Array[Float] = (req \ "queryVector") match {
      case JArray(vals) => vals.map(num(_).toFloat).toArray
      case _ => (req \ "query") match {
        case JString(text) =>
          val ix = st.schema.indices.find(_.tgt == queryField).getOrElse(
            return None)
          graft.embed.AutoEmbed.serviceFor(ix.model,
            st.schema.field(queryField).dimensions).embedBatch(Seq(text)).head
        case _ => return None
      }
    }
    if (!Files.exists(Paths.get(s"$root/$table/ivf_$queryField/ivf_meta.json")))
      return None
    val idx = index(st, queryField)
    if (idx.indexedPurgeGen() < st.purgeGen()) return None // stale vs compact
    // facets need the declared scalar residency as their value source —
    // nothing declared means the job path answers (cheap early decline
    // instead of sweeping first and declining late)
    if (facets.nonEmpty && idx.serveFilterColumns().isEmpty) return None
    // filtered requests serve ONLY when the filter is a simple conjunction
    // over declared resident scalar columns — evaluated exactly in the
    // sweep (every tier composes the same passing-id mask into its
    // sweep); anything else
    // declines so the job path answers with the full grammar, exactly.
    val conds: Seq[graft.filter.SimpleConjuncts.Cond] =
      if (filterStr.isEmpty) Nil
      else {
        graft.filter.SimpleConjuncts.parse(filterStr, st.schema) match {
          case Some(cs) if cs.nonEmpty => cs
          case _ => return None // outside the serve sub-grammar → job path
        }
      }
    // "recallTarget" + serve: the float tier's probe set becomes the
    // geometric cover PROVING recall >= target (probeSetForRecall; 1.0 =
    // exact) instead of the fixed nearest-nProbe cut; an over-wide cover
    // simply declines on the residency budget and the job path answers.
    // UNIFORM CONTRACT: a request carrying a declared floor is answered
    // with the floor proven or declines — never an unmarked fixed-probe
    // cut. On the code-resident tiers the proof is a COMPOSITION: the
    // cover bounds the true top-k's clusters and the interval
    // certification — FORCED on when a floor is declared, a floor
    // demands a proof — returns the exact top-k of the cover's
    // candidates, so the floor holds at code-tier bandwidth (the
    // envelope says certified:true, truthfully).
    val certEff = certified || recallTarget.isDefined
    // recallTarget + FILTER: the unfiltered cover proves nothing (it
    // bounds the UNFILTERED top-k; filtered matches may rank past it),
    // but per-cluster PASSING counts restore the bound — every dense
    // tier answers via its passing-count-cover form (dispatched below).
    // the tail and the resident clusters must cover DISJOINT id ranges
    // around one pin: re-check the pin after scoring (a rebuild landing
    // mid-query re-pins residency while the collected tail still covers
    // rows above the OLD pin — rows in between would be double-counted)
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      val pin = idx.servingWatermark()
      freshTailCluster(st, idx, queryField) match {
        case Left(_) =>
          // over-cap tail: a rebase only helps when appends moved the
          // index past the pin (re-pinning shrinks the tail); otherwise
          // the INDEX is behind the store (rebuild overdue) -> job path
          if (idx.indexedWatermark() > pin) idx.rebaseServing()
          else return None
        case Right(tail) =>
          // pure cache hit: the tail probe above refreshed the tombstone
          // cache for this version inside its own (single) job
          val tombs = tombstoneSet(st) match {
            case Some(t) => t
            case None => return None // tombstone mask over cap -> job path
          }
          val k = math.min(limit, maxRenderRows)
          val np = math.min(nProbe, idx.centroids().length)
          // the conjunction applies to tail rows too: evaluated on the
          // tail's scalar sidecar (one driver pass over the bounded tail),
          // so filtered serving stays live under continuous ingest; a
          // sidecar raced by a re-declaration declines to the job path.
          // The sweep runs on the REQUESTED tier: the code tiers compose
          // the same passing-id mask into their code sweeps, with
          // certification proven over the masked (= filtered) candidates
          val ft = serveTail(tail, conds,
            st.schema.field(queryField).dimensions).getOrElse(return None)
          val served = idx.serve(queryField, Array(dense), k,
            serveTier(quantized, pq, certEff),
            serveProbe(recallTarget, np, tombs.size.toLong), conds,
            tombs.contains, ft).head match {
            case Some(s) => s
            // probed clusters exceed the resident budget (cardinality
            // pre-check declined before any collect) -> job path
            case None => return None
          }
          if (idx.servingWatermark() == pin) {
            // facets aggregate the served top-k from the scalar residency
            // (over the clusters swept) + tail sidecar — an unavailable
            // source declines the WHOLE request (a response must never
            // carry partial facets)
            val facetJson: String =
              if (facets.isEmpty) ""
              else serveFacetsJson(st, idx, dense, served, tail, facets) match {
                case Some(fj) => fj
                case None => return None
              }
            return Some(servedEnvelope(served, conds.nonEmpty, quantized, pq,
              certEff, facetJson))
          } // pin moved mid-serve (rebuild/rebase landed): retry
      }
    }
    None // pin churn (rebuilds racing every attempt): job path answers exactly
  }

  /** `"serve":true` for a SPARSE query: answered from the driver-resident
    * per-dim posting cache. Cosine/DotProduct serve in RETRIEVAL mode
    * (SparseIndex.servePointDot) — only rows sharing >= 1 dim with the
    * query are candidates, ranked by dot product (the classic inverted-
    * index serving contract); distances are the metric form of the dot
    * (cosine: 1 - dot; dot-product: -dot). Euclidean serves EXACTLY
    * (SparseIndex.servePointEuclid): overlap candidates score off posting-
    * resident norms, non-overlap candidates fill from the resident
    * min-norm list, and when exactness cannot be proven the query falls
    * back to the job path. Fresh tail + tombstone masks mirror the dense
    * serve path. */
  /** Passing ids from a row-aligned scalar sidecar (fresh-tail rows),
    * evaluated with the SAME comparison kernels the resident sweeps use.
    * None = a condition references a column the sidecar lacks (a
    * re-declaration raced the cache) → the caller declines. */
  private def sidecarPassingIds(ids: Array[Long],
      scalars: Map[String, Array[AnyRef]],
      conds: Seq[graft.filter.SimpleConjuncts.Cond]): Option[Array[Long]] = {
    import graft.filter.SimpleConjuncts._
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var j = 0
    while (j < ids.length) {
      var ok = true
      var ci = 0
      while (ok && ci < conds.length) {
        val c = conds(ci)
        val arr = scalars.getOrElse(c.col, null)
        if (arr == null) return None
        ok = (arr(j), c.value) match {
          case (null, _) => false // SQL: NULL fails every comparison
          case (x: java.lang.Double, l: NumLit) => evalDouble(c.op, x.doubleValue, l)
          case (x: java.lang.Float, l: NumLit) => evalDouble(c.op, x.doubleValue, l)
          case (x: java.lang.Number, l: NumLit) => evalLong(c.op, x.longValue, l)
          case (x: String, l: StrLit) => evalString(c.op, x, l)
          case (x: java.lang.Boolean, l: BoolLit) => evalBool(c.op, x.booleanValue, l)
          case _ => return None // type drift: job path answers
        }
        ci += 1
      }
      if (ok) out += ids(j)
      j += 1
    }
    Some(out.toArray)
  }

  /** The sparse index's scalar VALUES residency at a pin: ONE cached
    * store job, pruned to the DECLARED COLUMNS and to rows at or below
    * the pin (row content is id-keyed and IMMUTABLE — upserts tombstone +
    * insert under a new id — so the block is valid for its pin forever).
    * No per-conjunction predicate is pushed into this load ON PURPOSE:
    * the block is shared by EVERY conjunction and every facet lookup at
    * this pin, so filtering it to one query's predicate would make it
    * unusable for the next. Every conjunction evaluates DRIVER-SIDE
    * against this block; cardinality is pre-checked BEFORE the collect
    * so an over-cap table costs a codegen'd count, never an unbounded
    * collect. */
  private def sparseScalarRows(st: TableStore, idx: graft.index.SparseIndex,
      pin: Long): Option[graft.index.SparseIndex.SparseScalarRows] = {
    import org.apache.spark.sql.functions.col
    val cols = idx.serveFilterColumns()
    if (cols.isEmpty) return None
    idx.scalarRowsAt(pin, () => {
      val df = st.rawRead()
        .filter(col(TableStore.RowId).cast("long") <= pin)
        .select(col(TableStore.RowId).cast("long") +: cols.map(col): _*)
      if (df.count() > idx.effectiveMaxScalarRows) None
      else {
        val rows = df.collect()
        val ids = rows.map(_.getLong(0))
        val vals: Map[String, Array[AnyRef]] =
          cols.zipWithIndex.map { case (c, ci) =>
            c -> rows.map(r =>
              if (r.isNullAt(ci + 1)) null
              else r.get(ci + 1).asInstanceOf[AnyRef])
          }.toMap
        Some(graft.index.SparseIndex.SparseScalarRows(ids, vals))
      }
    })
  }

  /** Complete pass verdict from the sparse index's OWN declared columns
    * (sparse-ONLY tables — no dense donor exists to borrow from): the
    * conjunction is evaluated driver-side over the cached values
    * residency (no per-conjunction jobs — one block load per pin serves
    * every filter, and no donor pin exists to re-verify); rows above the
    * pin are judged on the sparse tail's scalar sidecar, collected
    * against the same pin — the caller's post-sweep pin re-check closes
    * the tail race. Completeness holds structurally: the walk only
    * surfaces ids the postings (≤ pin, a subset of store rows ≤ pin) or
    * the tail hold. */
  private def sparseSelfVerdict(st: TableStore,
      idx: graft.index.SparseIndex, pin: Long,
      conds: Seq[graft.filter.SimpleConjuncts.Cond], tail: SparseTail)
      : Option[Long => Boolean] = {
    if (!conds.forall(c => idx.serveFilterColumns().contains(c.col)))
      return None
    val tailPass = new java.util.HashSet[java.lang.Long]()
    sidecarPassingIds(tail.scalarIds, tail.scalars, conds) match {
      case None => return None // a re-declaration raced the sidecar
      case Some(ids) => ids.foreach(id => tailPass.add(id))
    }
    val rows = sparseScalarRows(st, idx, pin) match {
      case Some(r) => r
      case None => return None
    }
    idx.passingIdSet(graft.filter.SimpleConjuncts.key(conds), pin,
      () => sidecarPassingIds(rows.ids, rows.cols, conds)).map { pass =>
      (id: Long) => if (id <= pin) pass.contains(id) else tailPass.contains(id)
    }
  }

  private def serveSparse(st: TableStore, queryField: String,
      o: JObject, limit: Int,
      filtered: Option[(Option[String], Seq[graft.filter.SimpleConjuncts.Cond])] = None,
      facetDonor: Option[(Option[String], Seq[Facet])] = None,
      recallTarget: Option[Double] = None)
      : Option[String] = {
    val f = st.schema.field(queryField)
    if (!Files.exists(Paths.get(
        s"$root/${st.schema.name}/spidx_$queryField/sp_meta.json")))
      return None
    val idx = sparseIndex(st, queryField)
    if (idx.indexedPurgeGen() < st.purgeGen()) return None // stale vs compact
    val qIdx = (o \ "indices").asInstanceOf[JArray].arr.map(num(_).toInt).toArray
    val qVal = (o \ "values").asInstanceOf[JArray].arr.map(num(_).toFloat).toArray
    val k = math.min(limit, maxRenderRows)
    // pin-coherence loop: tail and resident postings must share one pin
    // (see serveQuery for the double-count hazard this closes)
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      val pin = idx.servingWatermark()
      sparseFreshTail(st, idx, queryField) match {
        case Left(_) =>
          if (idx.indexedWatermark() > pin) idx.rebaseServing()
          else return None // index behind the store: rebuild overdue
        case Right(tailData) =>
          val tail = tailData.byDim
          val tailNorms = tailData.rowNorms
          // pure cache hit: the tail probe above refreshed the tombstone
          // cache for this version inside its own (single) job
          val tombs = tombstoneSet(st) match {
            case Some(t) => t
            case None => return None // tombstone mask over cap -> job path
          }
          // filtered retrieval: a complete pass verdict composes into the
          // candidate walk — from a dense donor's scalar residency when
          // one exists (pin re-verified next to the sparse pin below), or
          // from the sparse index's OWN declared columns on sparse-only
          // tables (id-keyed immutable content: nothing to re-verify)
          val (passes, verifyDonor): (Long => Boolean, () => Boolean) =
            filtered match {
              case None => ((_: Long) => true, () => true)
              case Some((Some(df), cs)) => densePassVerdict(st, df, cs) match {
                case Some(v) => v
                case None => return None
              }
              case Some((None, cs)) =>
                sparseSelfVerdict(st, idx, pin, cs, tailData) match {
                  case Some(p) => (p, () => true)
                  case None => return None
                }
            }
          val ex: Long => Boolean = id => tombs.contains(id) || !passes(id)
          val hits: Array[(Long, Double)] =
            if (f.metric == MetricType.Euclidean)
              idx.servePointEuclid(qIdx, qVal, k, exclude = ex,
                tail = tail, tailNorms = tailNorms) match {
                case Some(h) => h
                case None => return None // exactness unprovable -> job path
              }
            else idx.servePointDot(qIdx, qVal, k, exclude = ex,
              tail = tail) match {
                case Some(h) => h.map { case (id, dot) =>
                  (id, if (f.metric == MetricType.Cosine) 1.0 - dot else -dot)
                }
                // probe set over the resident budget (cardinality
                // pre-check declined before any collect) -> job path
                case None => return None
              }
          // declared floor on DOT/COSINE: the ZERO-GAP proof. Every row
          // the candidate walk never saw shares no query dim, so its raw
          // dot is EXACTLY 0 — distance exactly 0.0 (dot) / 1.0 (cosine).
          // If k hits came back and the k-th strictly clears that
          // constant by an fp margin (the two engines may not sum the
          // overlap products in the same order), no unseen row can enter
          // the true top-k: the served answer IS exact and any floor
          // holds. Fewer than k overlap candidates, or a k-th at/past
          // the constant, proves nothing → decline to the exact job cut.
          // (Euclidean's own serve path is already exact-or-decline.)
          if (recallTarget.isDefined && f.metric != MetricType.Euclidean) {
            val unseen = if (f.metric == MetricType.Cosine) 1.0 else 0.0
            // fp margin scaled to the k-th hit's own magnitude: an
            // absolute 1e-9 floor is blind to value scale — a raw dot
            // accumulated from large sparse values carries absolute
            // rounding error far above 1e-9, which would let a
            // non-positive-dot candidate outrank an unseen exact-zero
            // row (round-12 ADVICE). Cosine dots are normalized (|d|
            // ≤ ~2) so the relative term is tiny there; raw dot
            // distances grow with the data and the margin grows with
            // them. Strictly larger margin than before → can only turn
            // a serve into a decline, never the reverse.
            // hits can legitimately be EMPTY (every candidate excluded
            // by tombstones/filter, or no query dim has postings) —
            // guard before touching hits.last or the margin computation
            // itself throws and escapes query() instead of declining.
            if (hits.isEmpty || hits.length < k) return None
            val margin = 1e-9 * (1.0 + math.abs(hits.last._2))
            if (hits.last._2 >= unseen - margin)
              return None // k = 0 requests included: nothing provable
          }
          if (idx.servingWatermark() == pin && verifyDonor()) {
            // facets aggregate the served top-k; values come from a dense
            // donor's scalar residency + tail sidecar when one declares
            // the columns, else from the sparse index's OWN values
            // residency (id-keyed either way — a miss declines, never
            // miscounts), same executor as the dense path
            val facetJson: String = facetDonor match {
              case None => ""
              case Some((Some(dn), fs)) => sparseFacetsJson(st, dn, hits, fs) match {
                case Some(fj) => fj
                case None => return None
              }
              case Some((None, fs)) =>
                sparseSelfFacetsJson(st, idx, pin, hits, tailData, fs) match {
                  case Some(fj) => fj
                  case None => return None
                }
            }
            val sb = new java.lang.StringBuilder("{\"result\":[")
            var i = 0
            while (i < hits.length) {
              if (i > 0) sb.append(',')
              sb.append("{\"__row_id\":").append(hits(i)._1)
                .append(",\"@distance\":").append(hits(i)._2).append('}')
              i += 1
            }
            sb.append("],\"served\":true")
            if (filtered.isDefined) sb.append(",\"filtered\":true")
            sb.append(facetJson)
            sb.append('}')
            return Some(sb.toString)
          } // sparse pin or donor pin moved mid-serve: retry
      }
    }
    None // pin churn: job path answers exactly
  }

  /** Facet source for SPARSE serves: the sparse postings carry no
    * attribute columns, so values for the served top-k come from a dense
    * sibling's declared scalar residency over ALL clusters (every indexed
    * row lives in exactly one) plus its fresh-tail scalar sidecar for
    * rows above the donor's pin. Scalar values are row content, keyed by
    * id — generation-INDEPENDENT, so no donor-pin coherence is needed
    * here: a racing rebuild can only make a lookup miss (→ decline),
    * never return another row's value. The zeros query is a placeholder:
    * with an explicit all-clusters probe set it feeds only the dim
    * guard. */
  /** Facet source for SPARSE-ONLY serves (no dense donor declares the
    * facet's columns): values by id from the sparse index's own scalar
    * VALUES residency (rows ≤ pin) plus the sparse tail's scalar sidecar
    * (rows above it) — the same facet executor as every other tier. A
    * hit id missing from both (racing re-declaration shrank the sidecar,
    * purge) throws inside the lookup and declines, never miscounts. */
  private def sparseSelfFacetsJson(st: TableStore,
      idx: graft.index.SparseIndex, pin: Long,
      hits: Array[(Long, Double)], tail: SparseTail, facets: Seq[Facet])
      : Option[String] = {
    val cols = idx.serveFilterColumns()
    if (cols.isEmpty) return None
    val rows = sparseScalarRows(st, idx, pin) match {
      case Some(r) => r
      case None => return None
    }
    val tailIdx = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
    tail.scalarIds.zipWithIndex.foreach { case (id, j) => tailIdx.put(id, j) }
    facetsJsonFromValues(st, cols, hits, { id =>
      val tj = tailIdx.get(id)
      if (tj != null) cols.map(c => tail.scalars(c)(tj)).toArray
      else {
        val j = rows.indexOf.get(id) // null → NPE → decline upstream
        cols.map(c => rows.cols(c)(j)).toArray
      }
    }, facets)
  }

  private def sparseFacetsJson(st: TableStore, donorField: String,
      hits: Array[(Long, Double)], facets: Seq[Facet]): Option[String] = {
    val didx = index(st, donorField)
    if (didx.indexedPurgeGen() < st.purgeGen()) return None
    freshTailCluster(st, didx, donorField) match {
      case Left(_) => None
      case Right(dtail) =>
        val all = didx.centroids().map(_._1)
        if (all.isEmpty) return None
        val dim = st.schema.field(donorField).dimensions
        // values by id over every donor cluster
        serveFacetsJson(st, didx, new Array[Float](dim),
          graft.index.Served(hits, 0, all), dtail, facets)
    }
  }

  /** DataFrame-returning query: the result stays distributed (nothing is
    * collected to the driver until the caller acts on it). Facets are
    * ignored on this surface — computing them would cache the cut with no
    * render step to release it. */
  def queryDataFrame(requestJson: String): DataFrame =
    queryPlan(requestJson, skipFacets = true)._1

  private def queryPlan(requestJson: String, skipFacets: Boolean = false)
      : (DataFrame, Seq[DataFrame], Seq[Facet], Boolean, () => Unit) = {
    val req = JsonMethods.parse(requestJson)
    val table = str(req \ "table")
    val st = store(table)
    val queryField = (req \ "queryField") match {
      case JString(s) => s
      case _ =>
        val vfs = st.schema.vectorFields
        require(vfs.size == 1, "queryField required when table has multiple vector fields")
        vfs.head.name
    }
    val limit = (req \ "limit") match { case JInt(i) => i.toInt; case _ => 10 }
    val filter = (req \ "filter") match { case JString(s) => s; case _ => "" }
    val withDistance = (req \ "withDistance") match { case JBool(b) => b; case _ => false }
    val response = (req \ "response") match {
      case JArray(a) => a.collect { case JString(s) => s }
      case _ => Nil
    }
    val qv: QueryVector = (req \ "queryVector") match {
      case JArray(vals) => DenseQuery(vals.map(num(_).toFloat).toArray)
      case o: JObject =>
        SparseQuery(
          (o \ "indices").asInstanceOf[JArray].arr.map(num(_).toInt).toArray,
          (o \ "values").asInstanceOf[JArray].arr.map(num(_).toFloat).toArray)
      case _ => (req \ "query") match {
        // search-by-content (db_server.cpp:512-600): embed the query text
        // with the model of the queried field's embedding index
        case JString(text) =>
          val ix = st.schema.indices.find(_.tgt == queryField).getOrElse(
            throw new IllegalArgumentException(s"no embedding index targets $queryField"))
          val svc = graft.embed.AutoEmbed.serviceFor(
            ix.model, st.schema.field(queryField).dimensions)
          DenseQuery(svc.embedBatch(Seq(text)).head)
        case _ => throw new IllegalArgumentException("queryVector or query required")
      }
    }
    val useAnn = (req \ "ann") match { case JBool(b) => b; case _ => false }
    // "recallTarget": recall-targeted auto-probe (probeSetForRecall) —
    // 1.0 = proven exact, t < 1 = proven recall@k >= t; only meaningful
    // with "ann":true on a dense field
    val recallTarget = (req \ "recallTarget") match {
      case JDouble(d) => Some(d)
      case JDecimal(d) => Some(d.toDouble)
      case JInt(i) => Some(i.toDouble)
      case _ => None
    }
    val unbounded = (req \ "unbounded") match { case JBool(b) => b; case _ => false }
    val facets = if (skipFacets) Nil else parseFacets(req \ "facets")
    if (useAnn) {
      val cut0 = queryAnnCut(st, queryField, qv, limit, filter, recallTarget)
      // facets aggregate the post-limit result, same as the exact path;
      // cache so each facet doesn't redo the pruned scan (small: <= limit
      // rows) — released by the cleanup thunk after rendering
      val cut = if (facets.nonEmpty) cut0.cache() else cut0
      val cleanup = if (facets.nonEmpty) () => { cut.unpersist(); () } else () => ()
      (QueryEngine.project(cut, st.schema, response, withDistance),
        facets.map(QueryEngine.facet(cut, _)), facets, unbounded, cleanup)
    } else {
      val (out, facetDfs, cleanup) = QueryEngine.searchWithFacets(st.read(), st.schema,
        SearchRequest(queryField, qv, limit, filter, response, withDistance, facets))
      (out, facetDfs, facets, unbounded, cleanup)
    }
  }

  /** Build (or refresh) the index for a vector field
    * (reference: /api/rebuild, db_server.hpp:133-142; sparse fields are
    * rebuilt through the same entry — db_server.cpp `RebuildSparseVector`).
    * Dense fields get the IVF clustered layout, sparse fields the
    * inverted-posting index. Returns true iff a build actually ran —
    * false when the table is below the brute-force threshold OR the index
    * is already current (skip-as-unchanged). */
  def rebuildIndex(table: String, field: String): Boolean = {
    val st = store(table)
    val f = st.schema.field(field)
    val rebuilt =
      if (graft.types.FieldType.isSparse(f.fieldType))
        graft.index.SparseIndex.rebuildVerbose(spark, st.read(), field,
          graft.store.TableStore.RowId, s"$root/$table/spidx_$field",
          purgeGen = st.purgeGen())._2
      else
        graft.index.IvfIndex.rebuildVerbose(spark, st.read(), field,
          graft.store.TableStore.RowId, s"$root/$table/ivf_$field", f.metric,
          purgeGen = st.purgeGen())._2
    // declines are a per-generation signal: a full rebuild starts a new
    // generation, so counters accrued against the old layout are stale —
    // without this, Maintenance.tick's heal pass would schedule a second
    // redundant build right after the routine rebuild it just ran
    if (rebuilt) {
      if (graft.types.FieldType.isSparse(f.fieldType))
        sparseIndexes.get((table, field)).foreach(_.resetServeDeclineCount())
      else indexes.get((table, field)).foreach(_.resetServeDeclineCount())
    }
    rebuilt
  }

  /** Declare the scalar columns held resident for ATTRIBUTE-FILTERED
    * serving of `table.field` (`"serve":true` + a simple conjunction over
    * these columns answers driver-side, exactly; filters touching any
    * other column decline to the job path). Columns must be scalar —
    * vectors and geo points never ride the scalar residency. */
  def setServeFilterColumns(table: String, field: String,
      cols: Seq[String]): Unit = {
    val st = store(table)
    cols.foreach { c =>
      val f = st.schema.field(c) // throws on unknown column
      require(!graft.types.FieldType.isVector(f.fieldType) &&
        f.fieldType != graft.types.FieldType.GeoPoint,
        s"$c is not a scalar column")
    }
    // recorded db-level too: a release()/lazy re-open re-applies the
    // declaration to the fresh instance instead of silently losing it
    declaredServeFilterCols((table, field)) = cols
    // sparse fields declare on THEIR index (pass-set residency for
    // sparse-only filtered serving); dense fields on the IVF residency
    if (graft.types.FieldType.isSparse(st.schema.field(field).fieldType))
      sparseIndex(st, field).setServeFilterColumns(cols)
    else index(st, field).setServeFilterColumns(cols)
  }

  private def jsonStr(s: String): String =
    JsonMethods.compact(JsonMethods.render(JString(s)))

  /** GET .../schema/tables/{t}/describe analog (web_controller.hpp:395-410
    * — the reference's endpoint returns a stubbed SchemaInfoDto whose
    * `result` field is commented out; ours fills it): the table's schema
    * in the catalog's JSON shape (SchemaJson — the same field keys the
    * reference's DumpDatabaseSchemaToJson writes) plus the on-disk index
    * inventory with freshness stamps. */
  def describeTable(table: String): String = {
    val st = store(table)
    val idxs = scala.collection.mutable.ArrayBuffer[String]()
    st.schema.vectorFields.foreach { f =>
      if (FieldType.isSparse(f.fieldType)) {
        if (Files.exists(Paths.get(s"$root/$table/spidx_${f.name}/sp_meta.json"))) {
          val ix = sparseIndex(st, f.name)
          idxs += s"""{"field":${jsonStr(f.name)},"type":"sparse",""" +
            s""""rows":${ix.indexedCount()},"watermark":${ix.indexedWatermark()}}"""
        }
      } else if (Files.exists(Paths.get(s"$root/$table/ivf_${f.name}/ivf_meta.json"))) {
        val ix = index(st, f.name)
        val fcols = ix.serveFilterColumns().map(jsonStr).mkString("[", ",", "]")
        idxs += s"""{"field":${jsonStr(f.name)},"type":"ivf",""" +
          s""""rows":${ix.indexedCount()},"watermark":${ix.indexedWatermark()},""" +
          s""""clusters":${ix.centroids().length},""" +
          s""""radii":${ix.clusterRadii().isDefined},""" +
          s""""serveFilterColumns":$fcols}"""
      }
    }
    bm25Fields(table).foreach { f =>
      val ix = bm25Index(st, f)
      idxs += s"""{"field":${jsonStr(f)},"type":"bm25",""" +
        s""""rows":${ix.indexedCount()},"watermark":${ix.indexedWatermark()}}"""
    }
    s"""{"schema":${SchemaJson.write(st.schema)},""" +
      s""""indexes":[${idxs.mkString(",")}]}"""
  }

  /** POST .../release analog (web_controller.hpp:166-181 → db_server.cpp
    * ReleaseDB → table Release): drop every driver-resident cache — store
    * handles, index instances (their serving residency goes with them),
    * fresh-tail/tombstone caches — while the on-disk state stays. The next
    * query reopens cold from the persisted layouts, exactly like the
    * reference's release-then-reload. */
  def release(): Unit = {
    stores.clear()
    indexes.clear()
    sparseIndexes.clear()
    bm25Indexes.clear()
    tailCache.clear()
    sparseTailCache.clear()
  }

  /** POST /api/dump analog (web_controller.hpp:202-234 → db_server.cpp:82
    * DumpDB → per-table Dump): export the CURRENT snapshot of every table
    * to `path` — schema.json in the catalog shape plus one parquet copy of
    * the live rows (tombstones folded, the same visible state a reader
    * gets). One columnar write job per table; the export is a plain
    * GraftDb root, so `new GraftDb(spark, path)` opens it. */
  /** Export/import confinement root for the filesystem-path-taking APIs
    * (`dump` / `loadCsv`): when set, requested paths must resolve INSIDE
    * it after normalization — absolute paths outside and `..` traversal
    * are rejected. None (default) = unconfined, for library callers that
    * own their paths; a server deployment passes it AT CONSTRUCTION
    * (`ioRootInit`). */
  @volatile private var ioRootV: Option[String] =
    ioRootInit.map(p => Paths.get(p).toAbsolutePath.normalize.toString)
  def ioRoot: Option[String] = ioRootV

  /** NARROW-ONLY setter (also reachable via updateConfig `IoRoot`): once
    * a confinement root exists it can only move to a subdirectory of
    * itself, never widen or clear — otherwise the unauthenticated config
    * endpoint would let the very HTTP client the confinement defends
    * against re-point it at "/" and regain arbitrary-path dump/CSV-ingest
    * (round-11 ADVICE). First set from an unconfined state is allowed
    * (it only ADDS restriction relative to none). */
  def setIoRoot(p: String): Unit = synchronized {
    val np = Paths.get(p).toAbsolutePath.normalize
    ioRootV match {
      case Some(cur) if !np.startsWith(Paths.get(cur)) =>
        throw new IllegalArgumentException(
          s"IoRoot can only be narrowed to a subdirectory of $cur")
      case _ => ioRootV = Some(np.toString)
    }
  }

  private def confinedPath(p: String): String = ioRoot match {
    case None => p
    case Some(root) =>
      val rootP = Paths.get(root).toAbsolutePath.normalize
      val reqP = Paths.get(p)
      val resolved = (if (reqP.isAbsolute) reqP else rootP.resolve(reqP))
        .toAbsolutePath.normalize
      require(resolved.startsWith(rootP),
        s"path $p escapes the configured IO root")
      resolved.toString
  }

  def dump(path0: String): Unit = {
    val path = confinedPath(path0)
    Files.createDirectories(Paths.get(path))
    listTables().foreach { t =>
      val st = store(t)
      Files.createDirectories(Paths.get(s"$path/$t"))
      Files.write(Paths.get(s"$path/$t/schema.json"),
        SchemaJson.write(st.schema).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      st.read().write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/$t/dump")
    }
  }

  /** POST .../data/load analog (web_controller.hpp:615-622 — the
    * reference's own endpoint is a stub that only echoes; ours loads): CSV
    * with a header row, parsed against the table's SCALAR columns (vector
    * and geo columns cannot ride CSV) and inserted through the normal DML
    * path (PK dedup, WAL-ordering, quotas all apply). Returns the insert
    * response JSON. */
  def loadCsv(table: String, path0: String, upsert: Boolean = false): String = {
    val path = confinedPath(path0)
    val st = store(table)
    val scalarFields = st.schema.fields.filterNot(f =>
      FieldType.isVector(f.fieldType) || f.fieldType == FieldType.GeoPoint)
    val ddl = scalarFields.map(f =>
      s"${f.name} ${f.sparkType.sql}").mkString(", ")
    val df = spark.read.option("header", "true").schema(ddl).csv(path)
    val res = st.insert(df, upsert = upsert)
    s"""{"result":{"inserted":${res.inserted},"skipped":${res.skipped}}}"""
  }

  // ---- runtime config (web_controller.hpp:1004-1031 /api/config) ----

  /** Recorded reference knobs: Spark owns intra-query parallelism and the
    * rebuild pool, so these are validated + recorded for API parity (the
    * ranges and error text mirror config.hpp:28-64) but do not reschedule
    * anything. The knobs that DO act are the graft-native serving caps. */
  @volatile var cfgIntraQueryThreads: Int = 4
  @volatile var cfgConcurrentWorkersPerIndex: Int = 16
  @volatile var cfgRebuildThreads: Int = 1
  @volatile var cfgSearchQueueSize: Int = 500
  @volatile var cfgPreFilter: Boolean = false

  /** POST /api/config analog (config.hpp:66-88 updateConfig): reference
    * keys validate against the reference's ranges; graft-native keys remap
    * the live serving budgets — `MaxServeRows`/`MaxServeBytes` (per-index
    * residency caps, applied to every open index and future ones via the
    * next access), `MaxServeTailRows` (fresh-tail cap), and
    * `ServeFilterColumns` `{table, field, columns}` (declares the
    * attribute-filtered-serving residency over HTTP). Out-of-range values
    * throw with the reference's message shape. */
  def updateConfig(json: String): Unit = {
    val o = JsonMethods.parse(json)
    def intIn(key: String, lo: Int, hi: Int)(set: Int => Unit): Unit =
      (o \ key) match {
        case JInt(v) =>
          if (v >= lo && v <= hi) set(v.toInt)
          else throw new IllegalArgumentException(
            s"Invalid value for $key, valid range: [$lo, $hi]")
        case JNothing => ()
        case other => throw new IllegalArgumentException(
          s"Invalid value for $key: $other")
      }
    intIn("IntraQueryThreads", 1, 128)(cfgIntraQueryThreads = _)
    intIn("ConcurrentWorkersPerIndex", 1, 128)(cfgConcurrentWorkersPerIndex = _)
    intIn("RebuildThreads", 1, 128)(cfgRebuildThreads = _)
    intIn("SearchQueueSize", 500, 10000000)(cfgSearchQueueSize = _)
    (o \ "PreFilter") match {
      case JBool(b) => cfgPreFilter = b
      case JNothing => ()
      case other => throw new IllegalArgumentException(s"Invalid value for PreFilter: $other")
    }
    intIn("MaxServeTailRows", 1, Int.MaxValue)(maxServeTailRows = _)
    // serving caps become the DB DEFAULT (applied at index construction,
    // surviving release()/lazy opens) AND are pushed to live instances
    (o \ "MaxServeRows") match {
      case JInt(v) =>
        defaultMaxServeRows = Some(v.toLong)
        indexes.values.foreach(_.maxServeRows = v.toLong)
      case _ => ()
    }
    (o \ "MaxServeBytes") match {
      case JInt(v) =>
        defaultMaxServeBytes = Some(v.toLong)
        indexes.values.foreach(_.maxServeBytes = v.toLong)
      case _ => ()
    }
    (o \ "IoRoot") match {
      case JString(p) => setIoRoot(p) // narrow-only (throws on widening)
      case _ => ()
    }
    (o \ "ServeFilterColumns") match {
      case JObject(_) =>
        val t = str(o \ "ServeFilterColumns" \ "table")
        val f = str(o \ "ServeFilterColumns" \ "field")
        val cols = (o \ "ServeFilterColumns" \ "columns") match {
          case JArray(a) => a.collect { case JString(s) => s }
          case _ => Nil
        }
        setServeFilterColumns(t, f, cols)
      case _ => ()
    }
  }

  /** ANN query path: IVF-pruned scan over the cluster-partitioned layout
    * (the index carries full rows, so the filter pushes into the pruned
    * scan BEFORE the top-K cut — the reference evaluates filter nodes
    * during search for the same reason), unioned with an exact tail of rows
    * newer than the index watermark; tombstones are anti-joined away
    * (vec_search_executor.cpp:885-928 analog). */
  private def queryAnnCut(st: graft.store.TableStore, queryField: String,
      qv: QueryVector, limit: Int, filter: String,
      recallTarget: Option[Double] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val rowId = graft.store.TableStore.RowId
    val path = s"$root/${st.schema.name}/ivf_$queryField"
    lazy val dense = qv match {
      case DenseQuery(v) => v
      case _ => throw new IllegalArgumentException("ANN supports dense queries")
    }
    val live = st.read()
    def exact(): org.apache.spark.sql.DataFrame = {
      val field = st.schema.field(queryField)
      val withDist = live.withColumn("@distance",
        QueryEngine.distanceColumn(field, qv))
      val filtered =
        if (filter.nonEmpty)
          withDist.filter(graft.filter.FilterTranslator.translate(filter, withDist.schema))
        else withDist
      filtered.orderBy(col("@distance").asc, col(rowId).asc).limit(limit)
    }
    // sparse fields search the persisted inverted-posting index when one
    // exists: a partition-pruned read of the query's dims + a norms-
    // universe join for exact distance parity, unioned with the fresh
    // tail's postings (rebuild-while-querying, db_server.cpp
    // `InsertAndQuerySparseVectorDuringRebuild`). Attribute filters fall
    // back to the exact scan: the posting candidates carry no attribute
    // columns, and a post-cut filter could under-fill the limit.
    qv match {
      case SparseQuery(qIdx, qVal) =>
        val spMeta = s"$root/${st.schema.name}/spidx_$queryField/sp_meta.json"
        if (filter.nonEmpty ||
            !java.nio.file.Files.exists(java.nio.file.Paths.get(spMeta)))
          return exact()
        val idx = sparseIndex(st, queryField)
        val stale = idx.indexedPurgeGen() < st.purgeGen()
        val tombs = if (stale) None else st.tombstoneIds()
        val liveIds = if (stale) Some(live.select(col(rowId))) else None
        val tailRows = live.filter(col(rowId) > idx.indexedWatermark())
        val cut = idx.topKDistance(st.schema.field(queryField).metric,
          qIdx, qVal, limit,
          tailPostings = Some(graft.index.SparseIndex.postingsOf(
            tailRows, queryField, rowId)),
          tailNorms = Some(graft.index.SparseIndex.normsOfColumn(
            tailRows, queryField, rowId)),
          excludeIds = tombs, restrictIds = liveIds)
        // join the k winners back for their full rows (broadcast: <= limit)
        return live.join(
            org.apache.spark.sql.functions.broadcast(cut), Seq(rowId))
          .orderBy(col("@distance").asc, col(rowId).asc)
      case _ => ()
    }
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/ivf_meta.json"))) {
      // no index: exact search (brute-force-below-threshold semantics)
      return exact()
    }
    val idx = index(st, queryField)
    val tail = live.filter(col(rowId) > idx.indexedWatermark())
    // filter may reference any table column and @distance (post-filter mode)
    val searchedSchema = org.apache.spark.sql.types.StructType(
      live.schema.fields :+ org.apache.spark.sql.types.StructField(
        "@distance", org.apache.spark.sql.types.DoubleType))
    val pre =
      if (filter.nonEmpty)
        Some(graft.filter.FilterTranslator.translate(filter, searchedSchema))
      else None
    // a compact() since the build purged tombstones the clustered copy
    // still contains — the cheap tombstone anti-join can no longer mask
    // every removed row, so restrict candidates to live ids (heavier but
    // correct) until the purge-mismatch rebuild lands (rebuildVerbose
    // forces one on generation mismatch)
    val stale = idx.indexedPurgeGen() < st.purgeGen()
    val tombs = if (stale) None else st.tombstoneIds()
    val liveIds = if (stale) Some(live.select(col(rowId))) else None
    // recall-targeted auto-probe: geometric probe selection with the
    // declared floor (target 1.0 proven exact). Needs the tombstone
    // CARDINALITY for the cover slack (the driver-side capped set); an
    // over-cap set, a purge-stale index, or an attribute filter (whose
    // per-cluster selectivity the bound can't see) fall back to the
    // fixed-probe widening path below.
    if (recallTarget.isDefined && filter.isEmpty && !stale) {
      tombstoneSet(st) match {
        case Some(ts) =>
          return idx.searchAuto(queryField, dense, limit,
            recallTarget.get, freshTail = Some(tail), preFilter = None,
            excludeIds = tombs, restrictIds = None, slack = ts.size.toLong)
            .drop("cluster")
        case None => ()
      }
    }
    // UNIFORM CONTRACT: when the cover is unavailable (attribute filter —
    // whose per-cluster selectivity the bound can't see; purge-stale
    // index; tombstone mask over cap) a declared floor is answered
    // EXACTLY — full probe makes the pruned scan exhaustive, satisfying
    // any floor at bounded cost — never by the fixed-probe cut below,
    // which proves nothing and used to drop the floor unmarked.
    if (recallTarget.isDefined)
      return idx.search(queryField, dense, limit, idx.centroids().length,
        freshTail = Some(tail), preFilter = pre, excludeIds = tombs,
        restrictIds = liveIds).drop("cluster")
    val nClusters = idx.centroids().length
    var nProbe = math.min(8, nClusters)
    var cut = idx.search(queryField, dense, limit, nProbe,
      freshTail = Some(tail), preFilter = pre, excludeIds = tombs,
      restrictIds = liveIds)
    // a selective filter can leave fewer than `limit` survivors inside the
    // probed clusters even though matches exist elsewhere — widen the
    // probe until the cut fills or the scan is exhaustive (the reference
    // under-fills instead: bounded pool, vec_search_executor.cpp:905-928)
    if (pre.isDefined) {
      while (nProbe < nClusters && cut.count() < limit) {
        nProbe = math.min(nClusters, nProbe * 4)
        cut = idx.search(queryField, dense, limit, nProbe,
          freshTail = Some(tail), preFilter = pre, excludeIds = tombs,
          restrictIds = liveIds)
      }
    }
    cut.drop("cluster")
  }

  /** POST /data/get analog: filtered scan / PK lookup with pagination.
    * The reference's default limit is effectively unbounded (`1<<30`,
    * web_controller.hpp:902-907); we keep that plan semantics but the JSON
    * renderer is capped (see `render`) — whole-table dumps belong on the
    * `getDataFrame` surface. */
  def get(requestJson: String): String = {
    val (out, facetDfs, facets, unbounded, cleanup) = getPlan(requestJson)
    try render(out, facetDfs, facets, unbounded)
    finally cleanup()
  }

  /** DataFrame-returning scan: the primary surface for large results.
    * Facets are ignored here (no render step to release their cache). */
  def getDataFrame(requestJson: String): DataFrame =
    getPlan(requestJson, skipFacets = true)._1

  private def getPlan(requestJson: String, skipFacets: Boolean = false)
      : (DataFrame, Seq[DataFrame], Seq[Facet], Boolean, () => Unit) = {
    val req = JsonMethods.parse(requestJson)
    val st = store(str(req \ "table"))
    val filter = (req \ "filter") match { case JString(s) => s; case _ => "" }
    val skip = (req \ "skip") match { case JInt(i) => i.toInt; case _ => 0 }
    val limit = (req \ "limit") match { case JInt(i) => i.toInt; case _ => Int.MaxValue }
    val unbounded = (req \ "unbounded") match { case JBool(b) => b; case _ => false }
    val response = (req \ "response") match {
      case JArray(a) => a.collect { case JString(s) => s }
      case _ => Nil
    }
    val pks: Seq[Any] = (req \ "primaryKeys") match {
      case JArray(a) => a.map {
        case JInt(i) => pkTyped(st, i)
        case JString(s) => s
        case other => throw new IllegalArgumentException(s"bad pk $other")
      }
      case _ => Nil
    }
    val facets = if (skipFacets) Nil else parseFacets(req \ "facets")
    val (out, facetDfs, cleanup) = QueryEngine.getWithFacets(st.read(), st.schema,
      GetRequest(filter, skip, limit, pks, response, facets))
    (out, facetDfs, facets, unbounded, cleanup)
  }

  /** POST /data/delete analog. Returns `{"deleted": n}`. */
  def delete(requestJson: String): String = {
    val req = JsonMethods.parse(requestJson)
    val st = store(str(req \ "table"))
    val filter = (req \ "filter") match { case JString(s) => s; case _ => "" }
    val pks: Seq[Any] = (req \ "primaryKeys") match {
      case JArray(a) => a.map {
        case JInt(i) => pkTyped(st, i)
        case JString(s) => s
        case other => throw new IllegalArgumentException(s"bad pk $other")
      }
      case _ => Nil
    }
    val res = st.delete(pks, filter)
    s"""{"deleted":${res.deleted}}"""
  }

  /** GET /statistics analog. Tables with built indexes also report the
    * index cardinality stats backing the serving guard (per-cluster rows /
    * per-dim postings, summarized): the observability face of the numbers
    * `IvfIndex.serve`/`servePointDot` check before any cold collect. */
  // per-index cardinality fragment for statistics(), keyed on the index
  // freshness stamp: a polling monitor must read pure JVM state on repeat
  // calls, not run a Spark aggregation job per indexed field per call.
  // serveDeclines is deliberately NOT in the fragment — it moves without
  // the stamp moving, so it is appended live on every call.
  private val statsFragCache =
    scala.collection.concurrent.TrieMap[(String, String), (Any, String)]()

  def statistics(table: String): String = {
    val st = store(table)
    val idxStats = st.schema.vectorFields.flatMap { f =>
      if (graft.types.FieldType.isSparse(f.fieldType)) {
        if (!Files.exists(Paths.get(s"$root/$table/spidx_${f.name}/sp_meta.json"))) None
        else {
          val idx = sparseIndex(st, f.name)
          val stamp = idx.freshnessStamp()
          val card = statsFragCache.get((table, f.name)) match {
            case Some((s, c)) if s == stamp => c
            case _ =>
              // pre-stats layouts (summary None) still report the index —
              // they are exactly the ones paying cold-load count probes and
              // most likely to decline, so hiding them would blind the
              // operator to the serving tier that needs attention most
              val c = idx.dimStatsSummary().map { case (dims, total, mx) =>
                s""""dims":$dims,"postings":$total,"maxDimPostings":$mx,"""
              }.getOrElse("")
              statsFragCache((table, f.name)) = (stamp, c)
              c
          }
          Some(s"""{"field":"${f.name}","type":"sparse",$card""" +
            s""""serveDeclines":${idx.serveDeclineCount()}}""")
        }
      } else {
        if (!Files.exists(Paths.get(s"$root/$table/ivf_${f.name}/ivf_meta.json"))) None
        else {
          val idx = index(st, f.name)
          // clusterStats() is already stamp-cached on the instance: warm
          // calls are map reads, no job
          val card = idx.clusterStats().map { m =>
            val total = m.values.sum
            val mx = if (m.isEmpty) 0L else m.values.max
            s""""clusters":${m.size},"rows":$total,"maxClusterRows":$mx,"""
          }.getOrElse("")
          Some(s"""{"field":"${f.name}","type":"ivf",$card""" +
            s""""residentRows":${idx.servingResidentRows()},""" +
            s""""residentQuantRows":${idx.servingResidentQuantRows()},""" +
            s""""residentPqRows":${idx.servingResidentPqRows()},""" +
            s""""quantReranks":${idx.quantRerankCount()},""" +
            s""""pqReranks":${idx.pqRerankCount()},""" +
            s""""serveDeclines":${idx.serveDeclineCount()}}""")
        }
      }
    }
    val suffix =
      if (idxStats.isEmpty) "" else s""","indexes":[${idxStats.mkString(",")}]"""
    s"""{"table":"$table","totalRecords":${st.count()}$suffix}"""
  }

  /** Generation at which a decline-heal was last ATTEMPTED, per
    * (table, field). Declines that persist at an already-healed
    * generation are un-healable by another rebuild (stop-word dims the
    * WAND proof cannot certify, probes past the hard budget) — without
    * this stamp one such probe per tick would schedule a full
    * shuffle-heavy rebuild every minute, forever. */
  private val healAttemptGen =
    scala.collection.concurrent.TrieMap[(String, String), Long]()

  /** Decline-feedback heal (called from Maintenance.tick): serve declines
    * are the operational signal that queries are falling off the serve
    * path onto the ~1 qps job path. For a DENSE index the usual cause is
    * a degenerate k-means cluster bigger than the serving budget — split
    * it locally (IvfIndex.splitOversized) against a budget-derived bound.
    * For a SPARSE index a decline burst usually means appended small
    * files, a pre-stats/pre-norms layout, or probe-guarded cold loads — a
    * FORCED full rebuild (bypassing skip-as-unchanged) refreshes layout,
    * stats and norms in one pass.
    *
    * Heals run AT MOST ONCE PER BUILD GENERATION: the attempt stamps the
    * post-heal generation, and declines still accumulating at a stamped
    * generation mean the heal did not fix them — they stay visible in
    * `statistics()` (the counter is deliberately NOT reset) and no
    * further rebuild is scheduled until something else bumps the
    * generation. Returns how many indexes were healed. */
  private[graft] def healServingDeclines(table: String,
      minDeclines: Long = 1L): Int = {
    val st = store(table)
    var healed = 0
    st.schema.vectorFields.foreach { f =>
      if (graft.types.FieldType.isSparse(f.fieldType)) {
        val metaFile = s"$root/$table/spidx_${f.name}/sp_meta.json"
        if (Files.exists(Paths.get(metaFile))) {
          val idx = sparseIndex(st, f.name)
          if (idx.serveDeclineCount() >= minDeclines &&
              !healAttemptGen.get((table, f.name))
                .contains(graft.index.SparseIndex.readGen(metaFile))) {
            graft.index.SparseIndex.build(spark, st.read(), f.name,
              graft.store.TableStore.RowId, s"$root/$table/spidx_${f.name}",
              buckets = math.max(1, idx.buckets()), purgeGen = st.purgeGen())
            healAttemptGen((table, f.name)) =
              graft.index.SparseIndex.readGen(metaFile)
            idx.resetServeDeclineCount()
            healed += 1
          }
        }
      } else {
        val metaFile = s"$root/$table/ivf_${f.name}/ivf_meta.json"
        if (Files.exists(Paths.get(metaFile))) {
          val idx = index(st, f.name)
          if (idx.serveDeclineCount() >= minDeclines &&
              !healAttemptGen.get((table, f.name))
                .contains(graft.index.IvfIndex.readGen(metaFile))) {
            // half the probe-set budget per cluster (and splitOversized
            // itself targets half ITS bound per sub-cluster): a healed
            // layout serves multi-probe queries, not just single-probe
            val bound = math.max(1L, idx.serveBudgetRows(f.dimensions) / 2)
            if (graft.index.IvfIndex.splitOversized(spark,
                s"$root/$table/ivf_${f.name}", f.name,
                graft.store.TableStore.RowId, f.metric, maxRows = bound) > 0)
              healed += 1
            healAttemptGen((table, f.name)) =
              graft.index.IvfIndex.readGen(metaFile)
            idx.resetServeDeclineCount()
          }
        }
      }
    }
    healed
  }

  /** Index handles for tests and operational tooling (serving budgets are
    * live-settable fields on the instances). */
  private[graft] def denseIndexFor(table: String, field: String): graft.index.IvfIndex =
    index(store(table), field)
  private[graft] def sparseIndexFor(table: String, field: String): graft.index.SparseIndex =
    sparseIndex(store(table), field)

  // ---- helpers ----
  private def pkTyped(st: TableStore, i: BigInt): Any = st.pkField.map(_.sparkType) match {
    case Some(org.apache.spark.sql.types.IntegerType) => i.toInt
    case Some(org.apache.spark.sql.types.ShortType) => i.toShort
    case Some(org.apache.spark.sql.types.ByteType) => i.toByte
    case _ => i.toLong
  }
  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"expected string, got $other")
  }
  private def num(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDecimal(d) => d.toDouble
    case other => throw new IllegalArgumentException(s"expected number, got $other")
  }
  private def parseFacets(v: JValue): Seq[Facet] = v match {
    case JArray(fs) => fs.map { f =>
      Facet(
        (f \ "group") match {
          case JArray(g) => g.collect { case JString(s) => s }
          case _ => Nil
        },
        (f \ "aggregate") match {
          case JArray(a) => a.collect { case JString(s) => s }
          case _ => Nil
        })
    }
    case _ => Nil
  }

  /** Bounded JSON rendering. A capped request takes at most
    * `maxRenderRows + 1` rows, each projected to one `to_json(struct(*))`
    * string (byte-identical to `toJSON`), in ONE collect: over a sorted
    * result that plans as a single-stage TakeOrderedAndProject, so a read
    * is one Spark job. Seeing the extra row means the result exceeds the
    * cap. `"unbounded": true` streams through `toLocalIterator` instead
    * (one partition on the driver at a time, never the whole result). The
    * reference happily serializes the whole table through one response
    * (limit default 1<<30); at 100 TB that is a driver OOM, so the cap
    * makes the caller choose the DataFrame surface deliberately. */
  private def render(out: DataFrame, facetDfs: Seq[DataFrame], facets: Seq[Facet],
      unbounded: Boolean = false): String = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val rows: Iterator[String] =
      if (unbounded) out.toJSON.toLocalIterator().asScala
      else {
        val take = math.min(maxRenderRows.toLong + 1, Int.MaxValue).toInt
        val capped = out.limit(take).select(to_json(struct(col("*")))).collect()
        if (capped.length > maxRenderRows)
          throw new IllegalStateException(
            s"result exceeds maxRenderRows=$maxRenderRows; pass \"unbounded\":true " +
              "or use the DataFrame API (queryDataFrame/getDataFrame)")
        capped.iterator.map(_.getString(0))
      }
    val sb = new java.lang.StringBuilder("{\"result\":[")
    var first = true
    rows.foreach { r =>
      if (!first) sb.append(',')
      sb.append(r); first = false
    }
    sb.append(']')
    if (facets.nonEmpty) {
      // facet outputs are one row per group — driver-sized by construction
      sb.append(",\"facets\":[")
      facetDfs.zipWithIndex.foreach { case (df, i) =>
        if (i > 0) sb.append(',')
        sb.append(df.toJSON.collect().mkString("[", ",", "]"))
      }
      sb.append(']')
    }
    sb.append('}')
    sb.toString
  }
}

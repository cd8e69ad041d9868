package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.{functions => F}

/** Column-level façade over the engine's custom Catalyst expressions plus the
  * composed-from-built-ins scalar functions. Everything here is deterministic
  * and codegen-friendly (no Scala UDFs on the hot path).
  */
package object functions {
  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    CatalystBridge.column(e)
  private def ex(c: Column) = CatalystBridge.expression(c)

  /** Squared Euclidean distance between two array<float> columns. */
  def l2sqr_distance(a: Column, b: Column): Column = col(L2SqrDistance(ex(a), ex(b)))

  /** Euclidean distance (sqrt of l2sqr). */
  def l2_distance(a: Column, b: Column): Column = F.sqrt(l2sqr_distance(a, b))

  /** dot(a,b). */
  def dot_product(a: Column, b: Column): Column = col(DotProduct(ex(a), ex(b)))

  /** Dot-product *distance* = -dot (reference: space_ip.hpp:8-20). */
  def negative_dot(a: Column, b: Column): Column = F.negate(dot_product(a, b))

  /** Cosine distance 1 - cos_sim. */
  def cosine_distance(a: Column, b: Column): Column = col(CosineDistance(ex(a), ex(b)))

  /** l2-normalize array<float> (ingest-side for COSINE fields). */
  def l2_normalize(a: Column): Column = col(L2Normalize(ex(a)))

  /** Bounded top-k aggregate: the k smallest (dist, id) pairs as
    * array<struct<d,id>> sorted (d asc, id asc) — partial-aggregating, so
    * a groupBy over query ids batches many top-k searches into one pass. */
  def topk_min(k: Int, dist: Column, id: Column): Column =
    col(TopKMin(ex(dist.cast("double")), ex(id.cast("long")),
      org.apache.spark.sql.catalyst.expressions.Literal(k)).toAggregateExpression())

  def sparse_dot(a: Column, b: Column): Column = col(SparseDot(ex(a), ex(b)))
  def sparse_negative_dot(a: Column, b: Column): Column = F.negate(sparse_dot(a, b))
  def sparse_cosine_distance(a: Column, b: Column): Column = col(SparseCosineDistance(ex(a), ex(b)))
  def sparse_l2sqr_distance(a: Column, b: Column): Column = col(SparseL2Sqr(ex(a), ex(b)))
  def sparse_l2_distance(a: Column, b: Column): Column = F.sqrt(sparse_l2sqr_distance(a, b))
  def sparse_l2_normalize(a: Column): Column = col(SparseL2Normalize(ex(a)))

  /** 60-bit md5-prefix hash (== conv(substr(md5(s),1,15),16,10)). */
  def hash60(c: Column): Column = col(Hash60(ex(c)))

  /** Map-only membership probe against a pre-built bloom filter (no
    * false negatives; see BloomMightContainLong). */
  def bloom_might_contain_long(c: Column,
      bf: org.apache.spark.util.sketch.BloomFilter): Column =
    col(BloomMightContainLong(ex(c), bf))

  /** True iff the row id is not among the broadcast's sorted tombstone ids
    * (see NotTombstoned); `count` is the array's length, for explain. */
  def not_tombstoned(rowId: Column,
      ids: org.apache.spark.broadcast.Broadcast[Array[Long]], count: Int): Column =
    col(NotTombstoned(ex(rowId), ids, count))

  /** k affine minhash minimums in one pass over an array<long> column. */
  def minhash_signature(c: Column, a: Array[Long], b: Array[Long], p: Long): Column =
    col(MinHashSignature(ex(c), a, b, p))

  /** 60-bit simhash from an array<long> of token hashes. */
  def simhash_bits(c: Column): Column = col(SimHashBits(ex(c)))

  /** Tokenize + hash60 + mod-p in one codegen'd pass (see TokenHashesMod). */
  def token_hashes_mod(c: Column, p: Long): Column = col(TokenHashesMod(ex(c), p))

  /** Int8-quantize array<float> -> struct<qmin,qmax,codes:binary>. */
  def quantize_vec(c: Column): Column = col(QuantizeVec(ex(c)))

  /** PQ encode/score over a graft.index.PqCodebook (see PqExpressions). */
  def pq_encode(c: Column, cb: graft.index.PqCodebook): Column =
    col(PqEncode(ex(c), cb.dim, cb.m, cb.ksub, cb.cents))
  def pq_adc(c: Column, cb: graft.index.PqCodebook, lut: Array[Double]): Column =
    col(PqAdc(ex(c), cb.m, cb.ksub, lut))
  def pq_rec_err(vec: Column, codes: Column, cb: graft.index.PqCodebook): Column =
    col(PqRecErr(ex(vec), ex(codes), cb.dim, cb.m, cb.ksub, cb.cents))
  /** Residual-coded variants (IVFADC): centroids ride in as (sorted ids,
    * row-major floats); see PqEncodeRes. */
  def pq_encode_res(vec: Column, cluster: Column, cb: graft.index.PqCodebook,
      cIds: Array[Int], cFlat: Array[Float]): Column =
    col(PqEncodeRes(ex(vec), ex(cluster), cb.dim, cb.m, cb.ksub, cb.cents,
      cIds, cFlat))
  def pq_rec_err_res(vec: Column, codes: Column, cluster: Column,
      cb: graft.index.PqCodebook, cIds: Array[Int], cFlat: Array[Float]): Column =
    col(PqRecErrRes(ex(vec), ex(codes), ex(cluster), cb.dim, cb.m, cb.ksub,
      cb.cents, cIds, cFlat))
  def pq_adc_res(codes: Column, cluster: Column, cb: graft.index.PqCodebook,
      cIds: Array[Int], luts: Array[Double], consts: Array[Double],
      sharedLut: Boolean): Column =
    col(PqAdcRes(ex(codes), ex(cluster), cb.m, cb.ksub, cIds, luts, consts,
      sharedLut))

  /** Squared L2 of dequantized codes vs a full-precision query. */
  def quantized_l2(codes: Column, qmin: Column, qmax: Column, q: Array[Double]): Column =
    col(QuantizedL2(ex(codes), ex(qmin), ex(qmax), q))

  /** Great-circle distance in km on the reference's 6371-km sphere
    * (reference: engine/db/index/spatial/geoindex.cpp:41-59 haversine).
    * Composed from built-ins so the whole predicate stays inside
    * whole-stage codegen and an ANSI-SQL oracle can mirror it exactly. */
  def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val rad = math.Pi / 180.0
    val dLat = (lat2 - lat1) * rad / 2.0
    val dLon = (lon2 - lon1) * rad / 2.0
    val h = F.pow(F.sin(dLat), 2) +
      F.cos(lat1 * rad) * F.cos(lat2 * rad) * F.pow(F.sin(dLon), 2)
    F.asin(F.sqrt(h)) * (2.0 * 6371.0)
  }

  /** NEARBY(geo, lat, lon, km) boolean predicate (reference: expr.cpp:532-608). */
  def nearby(lat: Column, lon: Column, centerLat: Double, centerLon: Double, radiusKm: Double): Column =
    haversine_km(lat, lon, F.lit(centerLat), F.lit(centerLon)) <= F.lit(radiusKm)

  /** Grid cell id for geo bucketing (the scale replacement for the
    * reference's per-table R-tree, geoindex.hpp:20-40): partition or
    * cluster by cell so radius queries prune to the cells intersecting the
    * query circle. `cellDeg` = cell edge in degrees. */
  def geo_cell(lat: Column, lon: Column, cellDeg: Double): Column =
    (F.floor((lat + 90.0) / cellDeg) * F.lit((360.0 / cellDeg).toLong + 1) +
      F.floor((lon + 180.0) / cellDeg)).cast("long")

  /** Cell ids a radius query must probe: every cell intersecting the
    * bounding box of the circle (driver-side; the list is small). */
  def geoCellsForRadius(centerLat: Double, centerLon: Double, radiusKm: Double,
      cellDeg: Double): Seq[Long] = {
    val dLat = radiusKm / 111.0 // ~km per degree latitude
    val latMin = math.max(-90.0, centerLat - dLat)
    val latMax = math.min(90.0, centerLat + dLat)
    val cosLat = math.max(0.01, math.cos(centerLat * math.Pi / 180.0))
    val dLon = radiusKm / (111.0 * cosLat)
    val lonMin = math.max(-180.0, centerLon - dLon)
    val lonMax = math.min(180.0, centerLon + dLon)
    val lonCells = (360.0 / cellDeg).toLong + 1
    val out = for {
      li <- math.floor((latMin + 90.0) / cellDeg).toLong to math.floor((latMax + 90.0) / cellDeg).toLong
      lo <- math.floor((lonMin + 180.0) / cellDeg).toLong to math.floor((lonMax + 180.0) / cellDeg).toLong
    } yield li * lonCells + lo
    out.distinct
  }
}

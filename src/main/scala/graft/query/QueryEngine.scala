package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.types._
import graft.filter.FilterTranslator
import graft.functions._
import graft.store.TableStore

/** The reference's four query shapes re-expressed as Catalyst plans
  * (reference: engine/server/web_server/web_controller.hpp:644-963;
  * engine/db/table_mvp.cpp:295-460).
  *
  * Search plan shape:
  *   filter -> distance projection -> orderBy(distance asc, row_id asc)
  *   -> limit(k) -> project
  * Catalyst compiles the orderBy+limit to TakeOrderedAndProject: each
  * partition keeps a local top-K heap, the driver merges K*numPartitions
  * candidates — the distributed analog of the reference's per-worker bounded
  * candidate queues merged by a master queue
  * (vec_search_executor.cpp:518-715). No full sort, no full shuffle; scales
  * linearly with executors.
  *
  * The `(distance asc, id asc)` tie-break mirrors candidate.hpp:16-22 and
  * makes results deterministic.
  */
object QueryEngine {

  val DistanceCol = "@distance"

  /** Query-side vector: dense or sparse. */
  sealed trait QueryVector
  case class DenseQuery(values: Array[Float]) extends QueryVector
  case class SparseQuery(indices: Array[Int], values: Array[Float]) extends QueryVector

  case class Facet(group: Seq[String], aggregate: Seq[String])

  case class SearchRequest(
      queryField: String,
      queryVector: QueryVector,
      limit: Int,
      filter: String = "",
      outputFields: Seq[String] = Nil,
      withDistance: Boolean = false,
      facets: Seq[Facet] = Nil)

  case class GetRequest(
      filter: String = "",
      skip: Int = 0,
      limit: Int = Int.MaxValue,
      primaryKeys: Seq[Any] = Nil,
      outputFields: Seq[String] = Nil,
      facets: Seq[Facet] = Nil)

  /** Distance column for a (field, query) pair under the field's metric
    * (reference: GetDistFunc index.cpp:10-35; cosine queries are normalized at
    * search time, table_mvp.cpp:333-349). */
  def distanceColumn(field: FieldSchema, q: QueryVector): Column = {
    require(FieldType.isVector(field.fieldType), s"${field.name} is not a vector field")
    (q, FieldType.isSparse(field.fieldType)) match {
      case (DenseQuery(v), false) =>
        val qv = field.metric match {
          case MetricType.Cosine => normalizeF(v)
          case _ => v
        }
        val qc = lit(qv)
        field.metric match {
          case MetricType.Euclidean => l2sqr_distance(col(field.name), qc)
          // stored vectors are unit; cosine distance = 1 - dot(stored, q̂)
          case MetricType.Cosine => lit(1.0) - dot_product(col(field.name), qc)
          case MetricType.DotProduct => negative_dot(col(field.name), qc)
        }
      case (SparseQuery(idx, v), true) =>
        val qv = field.metric match {
          case MetricType.Cosine => normalizeF(v)
          case _ => v
        }
        val qc = struct(lit(idx).as("indices"), lit(qv).as("values"))
        field.metric match {
          case MetricType.Euclidean => sparse_l2sqr_distance(col(field.name), qc)
          case MetricType.Cosine => lit(1.0) - sparse_dot(col(field.name), qc)
          case MetricType.DotProduct => sparse_negative_dot(col(field.name), qc)
        }
      case _ =>
        // cross-type queries must error (db_server.cpp:315-316, 508-509)
        throw new IllegalArgumentException(
          s"query vector type does not match field ${field.name}")
    }
  }

  private[graft] def normalizeF(v: Array[Float]): Array[Float] = {
    var acc = 0.0; var i = 0
    while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
    if (acc == 0.0) v
    else {
      val inv = 1.0 / math.sqrt(acc)
      v.map(x => (x * inv).toFloat)
    }
  }

  /** Exact top-K vector search (V3/V4/V6). Returns the projected result; when
    * facets are present use `searchWithFacets`. */
  def search(table: DataFrame, schema: TableSchema, req: SearchRequest): DataFrame = {
    val field = schema.field(req.queryField)
    val dist = distanceColumn(field, req.queryVector)
    // NULL vectors have NULL distance, and Spark's asc ordering is
    // NULLS FIRST — without this pushdown-friendly guard a null-vector
    // row would head every top-k. Null vectors are simply not in the
    // search universe (the reference cannot ingest them at all).
    val withDist = table.filter(col(req.queryField).isNotNull)
      .withColumn(DistanceCol, dist)
    // filter may reference @distance (post-filter mode, expr.cpp:134-139);
    // Catalyst pushes @distance-free conjuncts below the projection on its own.
    val filtered =
      if (req.filter.nonEmpty)
        withDist.filter(FilterTranslator.translate(req.filter,
          withDist.schema))
      else withDist
    val topK = filtered
      .orderBy(col(DistanceCol).asc, col(TableStore.RowId).asc)
      .limit(req.limit)
    project(topK, schema, req.outputFields, req.withDistance)
  }

  /** Search + facets; facets aggregate the POST-LIMIT result set, not the
    * base table (load-bearing semantic — table_mvp.cpp:377-400).
    *
    * The top-K is cache()d only when facets are present (each facet would
    * otherwise redo the scan; the cut is <= limit rows, driver-small) and
    * the returned cleanup thunk unpersists it — call it after consuming
    * the result or the block manager accumulates pinned cuts across
    * queries in a long-lived serving process. */
  def searchWithFacets(table: DataFrame, schema: TableSchema, req: SearchRequest)
      : (DataFrame, Seq[DataFrame], () => Unit) = {
    val field = schema.field(req.queryField)
    val dist = distanceColumn(field, req.queryVector)
    val withDist = table.filter(col(req.queryField).isNotNull)
      .withColumn(DistanceCol, dist)
    val filtered =
      if (req.filter.nonEmpty)
        withDist.filter(FilterTranslator.translate(req.filter, withDist.schema))
      else withDist
    val topK0 = filtered
      .orderBy(col(DistanceCol).asc, col(TableStore.RowId).asc)
      .limit(req.limit)
    val topK = if (req.facets.nonEmpty) topK0.cache() else topK0
    val cleanup = if (req.facets.nonEmpty) () => { topK.unpersist(); () } else () => ()
    val out = project(topK, schema, req.outputFields, req.withDistance)
    (out, req.facets.map(facet(topK, _)), cleanup)
  }

  /** PK-list predicate: literal isin for API-sized lists, broadcast
    * semi-join beyond that (a 100k-key isin literal bloats the plan and
    * isn't pushed down; a semi-join broadcasts the key set). */
  private def pkLookup(df: DataFrame, schema: TableSchema, pks: Seq[Any]): DataFrame = {
    val pk = schema.primaryKey.getOrElse(
      throw new IllegalArgumentException("primaryKeys lookup requires a primary key"))
    if (pks.size <= 1000) df.filter(col(pk.name).isin(pks: _*))
    else {
      val spark = df.sparkSession
      val keyDf = spark.createDataFrame(
        spark.sparkContext.parallelize(pks.map(org.apache.spark.sql.Row(_))),
        StructType(Seq(StructField(pk.name, schema.field(pk.name).sparkType))))
      df.join(broadcast(keyDf), Seq(pk.name), "left_semi")
    }
  }

  /** Attribute scan / PK lookup with insertion-order skip/limit pagination
    * (reference: vec_search_executor.cpp:937-1032). */
  def get(table: DataFrame, schema: TableSchema, req: GetRequest): DataFrame = {
    var df = table
    if (req.primaryKeys.nonEmpty) df = pkLookup(df, schema, req.primaryKeys)
    if (req.filter.nonEmpty)
      df = df.filter(FilterTranslator.translate(req.filter, schema.structType))
    // insertion order = __row_id order (A1)
    df = df.orderBy(col(TableStore.RowId).asc)
    if (req.skip > 0) df = df.offset(req.skip)
    if (req.limit != Int.MaxValue) df = df.limit(req.limit)
    project(df, schema, req.outputFields, withDistance = false)
  }

  /** Get + facets; same caching contract as `searchWithFacets` — and the
    * page is cached only when it is bounded (a facetted no-limit get over
    * a big table would otherwise pin the whole table in the block
    * manager; the facets then simply recompute from the scan). */
  def getWithFacets(table: DataFrame, schema: TableSchema, req: GetRequest)
      : (DataFrame, Seq[DataFrame], () => Unit) = {
    var df = table
    if (req.primaryKeys.nonEmpty) df = pkLookup(df, schema, req.primaryKeys)
    if (req.filter.nonEmpty)
      df = df.filter(FilterTranslator.translate(req.filter, schema.structType))
    df = df.orderBy(col(TableStore.RowId).asc)
    if (req.skip > 0) df = df.offset(req.skip)
    if (req.limit != Int.MaxValue) df = df.limit(req.limit)
    val doCache = req.facets.nonEmpty && req.limit != Int.MaxValue
    val page = if (doCache) df.cache() else df
    val cleanup = if (doCache) () => { page.unpersist(); () } else () => ()
    (project(page, schema, req.outputFields, withDistance = false),
      req.facets.map(facet(page, _)), cleanup)
  }

  /** Default projection = all non-vector fields; `@distance` appended when
    * requested (reference: table_mvp.cpp:462-594). */
  def project(df: DataFrame, schema: TableSchema, outputFields: Seq[String],
      withDistance: Boolean): DataFrame = {
    val defaults = schema.fields.filterNot(f => FieldType.isVector(f.fieldType)).map(_.name)
    val base = if (outputFields.nonEmpty) outputFields else defaults
    val cols = base.map(col) ++ (if (withDistance && !base.contains(DistanceCol))
      Seq(col(DistanceCol)) else Nil)
    df.select(cols: _*)
  }

  /** One facet: groupBy(singleExpr).agg(...) over the result set
    * (reference: aggregation.hpp:124-378). Exactly 0 or 1 group expressions
    * (db_server.cpp:398-399); empty group = global aggregate (:395-397). */
  def facet(result: DataFrame, f: Facet): DataFrame = {
    require(f.group.size <= 1, "facet supports at most one group expression")
    require(f.aggregate.nonEmpty, "facet requires aggregate expressions")
    val aggs = f.aggregate.map(parseAggregate(_, result))
    if (f.group.isEmpty) result.agg(aggs.head, aggs.tail: _*)
    else {
      val g = FilterTranslator.translateScalar(f.group.head, result.schema)
      result.groupBy(g.as(f.group.head)).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** `SUM(expr) | MIN(expr) | MAX(expr) | COUNT(*) | AVG(expr)` — COUNT(x)
    * rewrites to COUNT(1) (db_server.cpp:362-382); AVG is our extension (G7,
    * absent in the reference). */
  def parseAggregate(s: String, df: DataFrame): Column = {
    val t = s.trim
    val open = t.indexOf('(')
    require(open > 0 && t.endsWith(")"), s"malformed aggregate: $s")
    val fn = t.substring(0, open).trim.toUpperCase
    val argStr = t.substring(open + 1, t.length - 1).trim
    fn match {
      case "COUNT" => count(lit(1)).as(s)
      case _ =>
        val arg = FilterTranslator.translateScalar(argStr, df.schema)
        (fn match {
          case "SUM" => sum(arg)
          case "MIN" => min(arg)
          case "MAX" => max(arg)
          case "AVG" => avg(arg)
          case other => throw new IllegalArgumentException(s"unknown aggregate $other")
        }).as(s)
    }
  }
}

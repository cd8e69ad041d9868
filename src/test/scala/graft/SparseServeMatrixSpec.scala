package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.store.TableStore
import graft.types.MetricType

/** Every sparse serving cell through GraftDb's one sparse handshake (and
  * so through `SparseIndex.serve`), on one table built once: metric (dot,
  * cosine, Euclidean: one sparse field each) × filter (none, a column a
  * dense donor declares, a column only the sparse indexes declare) ×
  * residency (full posting lists, a budget that puts the stop-word dim on
  * its WAND prefix) × shape (one query, a `queryVectors` batch), before
  * and after a fresh tail lands and a row is deleted. Each served answer
  * must equal a brute-force top-k over the stored rows, ids and
  * `@distance` alike. Euclidean has no prefix proof, so its stop-word
  * queries run under full residency only; the batch test pins their
  * decline under the WAND budget. */
class SparseServeMatrixSpec extends SparkSpec {

  private val k = 5
  private val fields = Seq("SD" -> MetricType.DotProduct,
    "SC" -> MetricType.Cosine, "SE" -> MetricType.Euclidean)
  private val filters = Seq("", "LABEL >= 4", "TAG < 6")
  private def passes(filter: String, label: Long, tag: Long): Boolean =
    filter match {
      case "LABEL >= 4" => label >= 4
      case "TAG < 6" => tag < 6
      case _ => true
    }
  // dim 0 is in every row: a few rows carry 5.0, the rest 0.1, so an
  // impact prefix can prove the top-k. Dims 1..20 are light.
  private def sparseOf(i: Int): Row =
    Row(Seq(0, 1 + i % 20), Seq(if (i % 40 == 7) 5.0f else 0.1f,
      (i % 7) * 0.25f + 0.5f))
  private val queries: Array[(Array[Int], Array[Float])] = Array(
    (Array(0, 8), Array(2.0f, 1.0f)), // stop-word + light dim
    (Array(5, 7), Array(1.0f, 0.5f))) // light dims only
  private def touchesHot(q: (Array[Int], Array[Float])): Boolean = q._1.contains(0)

  private val rowSchema = StructType(Seq(
    StructField("ID", LongType, nullable = false),
    StructField("LABEL", LongType, nullable = false),
    StructField("TAG", LongType, nullable = false),
    StructField("DV", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("SD", graft.functions.SparseVec.sqlType, nullable = false),
    StructField("SC", graft.functions.SparseVec.sqlType, nullable = false),
    StructField("SE", graft.functions.SparseVec.sqlType, nullable = false)))
  private def row(id: Long, label: Long, tag: Long, sv: Row): Row =
    Row(id, label, tag, Seq((id % 83) / 83.0f, (id % 47) / 47.0f,
      (id % 29) / 29.0f, (id % 13) / 13.0f), sv, sv, sv)

  private lazy val db: graft.api.GraftDb = {
    val db = new graft.api.GraftDb(spark, tmpDir("sparse_matrix"))
    val sparse = fields.map { case (f, m) =>
      s"""{"name":"$f","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,""" +
        s""""metricType":"${m match {
          case MetricType.DotProduct => "DOT_PRODUCT"
          case MetricType.Cosine => "COSINE"
          case MetricType.Euclidean => "EUCLIDEAN"
        }}"}"""
    }
    db.createTable(
      s"""{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"LABEL","dataType":"BIGINT"},{"name":"TAG","dataType":"BIGINT"},
        |{"name":"DV","dataType":"VECTOR_FLOAT","dimensions":4,"metricType":"EUCLIDEAN"},
        |${sparse.mkString(",")}]}""".stripMargin)
    db.store("T").insert(spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 600).map(i => row(i.toLong, i % 10, i % 9, sparseOf(i))), 2),
      rowSchema))
    assert(db.rebuildIndex("T", "DV"))
    db.setServeFilterColumns("T", "DV", Seq("LABEL"))
    fields.foreach { case (f, _) =>
      assert(db.rebuildIndex("T", f))
      db.setServeFilterColumns("T", f, Seq("TAG"))
    }
    db
  }

  /** (row id, LABEL, TAG, field -> (indices, values)) of the live rows. */
  private def liveRows(): Seq[(Long, Long, Long, Map[String, (Array[Int], Array[Float])])] =
    db.store("T").read().collect().toSeq.map { r =>
      (r.getAs[Long](TableStore.RowId), r.getAs[Long]("LABEL"), r.getAs[Long]("TAG"),
        fields.map { case (f, _) =>
          val sv = r.getAs[Row](f)
          f -> (sv.getSeq[Int](0).toArray, sv.getSeq[Float](1).toArray)
        }.toMap)
    }

  /** The serve tier's arithmetic, row by row: per-id dot over the query
    * dims in query order; dot and cosine rank the rows sharing a dim,
    * Euclidean ranks every row by `norm2 - 2·dot + |q|²`. */
  private def bruteForce(rows: Seq[(Long, Long, Long, Map[String, (Array[Int], Array[Float])])],
      field: String, metric: MetricType.Value, filter: String,
      q: (Array[Int], Array[Float])): Seq[(Long, Double)] = {
    val qv = if (metric == MetricType.Cosine) graft.query.QueryEngine.normalizeF(q._2) else q._2
    var qNorm = 0.0
    qv.foreach(v => qNorm += v.toDouble * v.toDouble)
    rows.filter { case (_, label, tag, _) => passes(filter, label, tag) }
      .flatMap { case (rid, _, _, svs) =>
        val (idx, vals) = svs(field)
        var dot = 0.0
        var shares = false
        q._1.indices.foreach { j =>
          val p = idx.indexOf(q._1(j))
          if (p >= 0) { dot += vals(p).toDouble * qv(j).toDouble; shares = true }
        }
        metric match {
          case MetricType.Euclidean =>
            var n2 = 0.0
            vals.foreach(v => n2 += v.toDouble * v.toDouble)
            Some((rid, n2 - 2.0 * dot + qNorm))
          case MetricType.Cosine => if (shares) Some((rid, 1.0 - dot)) else None
          case MetricType.DotProduct => if (shares) Some((rid, -dot)) else None
        }
      }
      .sortWith { case ((i1, d1), (i2, d2)) => d1 < d2 || (d1 == d2 && i1 < i2) }
      .take(k)
  }

  private def sparseJson(q: (Array[Int], Array[Float])): String =
    s"""{"indices":[${q._1.mkString(",")}],"values":[${q._2.mkString(",")}]}"""

  /** (served?, (row id, @distance) hits) of one response entry; a job-path
    * entry carries no hits here. */
  private def hitsOf(entry: JValue): (Boolean, Seq[(Long, Double)]) =
    if ((entry \ "served") != JBool(true)) (false, Nil)
    else (true, (entry \ "result") match {
      case JArray(rs) => rs.map { r =>
        ((r \ "__row_id") match { case JInt(i) => i.toLong; case o => fail(s"$o") },
          (r \ "@distance") match { case JDouble(d) => d; case o => fail(s"$o") })
      }
      case o => fail(s"no result in $o")
    })

  private def residency(wand: Boolean): Unit = fields.foreach { case (f, _) =>
    val idx = db.sparseIndexFor("T", f)
    idx.maxServePostings = if (wand) 100L else 16L * 1024 * 1024
    idx.rebaseServing() // flush residency so the budget decides again
  }

  test("every metric × filter × residency × shape cell, with and without tail and tombstone") {
    def runCells(state: String): Unit = {
      for (wand <- Seq(false, true)) {
        residency(wand)
        val rows = liveRows()
        for ((field, metric) <- fields; filter <- filters) {
          // Euclidean has no prefix proof: under the WAND budget only its
          // light-dim query serves (the declining batch test covers the rest)
          val qs = if (wand && metric == MetricType.Euclidean)
            queries.filterNot(touchesHot) else queries
          val filterJson = if (filter.isEmpty) "" else s""","filter":"$filter""""
          val expected = qs.map(bruteForce(rows, field, metric, filter, _))
          // the single shape is a batch of one through the same handshake:
          // one single per cell keeps the suite short
          val single = hitsOf(JsonMethods.parse(db.query(
            s"""{"table":"T","queryField":"$field","limit":$k,"serve":true,""" +
              s""""queryVector":${sparseJson(qs.head)}$filterJson}""")))
          val batch = (JsonMethods.parse(db.query(
            s"""{"table":"T","queryField":"$field","limit":$k,"serve":true,""" +
              s""""queryVectors":[${qs.map(sparseJson).mkString(",")}]$filterJson}""")) \
            "results") match {
            case JArray(es) => es.map(hitsOf)
            case o => fail(s"no results in $o")
          }
          val cell = s"$state wand=$wand $field filter='$filter'"
          for ((shape, (served, hits), want) <- ("single", single, expected.head) +:
              qs.indices.map(qi => (s"batch entry $qi", batch(qi), expected(qi)))) {
            assert(served, s"$cell $shape declined")
            assert(hits == want, s"$cell $shape")
          }
          // the stop-word dim's full list never became resident
          if (wand) assert(db.sparseIndexFor("T", field).servingResidentPostings() <= 100L, cell)
        }
      }
    }
    runCells("fresh build")
    // a fresh tail above the serving pin (stored without an index append):
    // stop-word hits that pass both filters, one that fails both, a light
    // row and a row sharing no query dim; then the best indexed row dies
    val tail = Seq(
      row(1000L, 7, 1, Row(Seq(0, 8), Seq(5.0f, 2.0f))),
      row(1001L, 1, 8, Row(Seq(0, 8), Seq(5.0f, 2.0f))),
      row(1002L, 5, 2, Row(Seq(5, 7), Seq(1.0f, 1.0f))),
      row(1003L, 4, 3, Row(Seq(30, 31), Seq(0.1f, 0.1f))),
      row(1004L, 5, 2, Row(Seq(0), Seq(5.0f))))
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(tail, 1), rowSchema))
    db.delete("""{"table":"T","primaryKeys":[7]}""")
    assert(db.sparseIndexFor("T", "SD").indexedWatermark() <
      db.store("T").read().agg(org.apache.spark.sql.functions.max(
        col(TableStore.RowId))).head().getLong(0), "tail rows must be above the index")
    runCells("tail + tombstone")
    residency(wand = false)
  }

  test("an all-sparse queryVectors batch serves once and counts one decline per declined entry") {
    residency(wand = true)
    val idx = db.sparseIndexFor("T", "SE")
    val two = queries // the stop-word query (first) declines
    val before = idx.serveDeclineCount()
    val resp = db.query(
      s"""{"table":"T","queryField":"SE","limit":$k,"serve":true,""" +
        s""""queryVectors":[${two.map(sparseJson).mkString(",")}]}""")
    assert(idx.serveDeclineCount() - before == 1L, resp)
    val entries = (JsonMethods.parse(resp) \ "results") match {
      case JArray(es) => es
      case o => fail(s"no results in $o")
    }
    // the declined entry is the job path's answer; the other is served and
    // equal to its single-query response
    assert(JsonMethods.compact(JsonMethods.render(entries.head)) ==
      JsonMethods.compact(JsonMethods.render(JsonMethods.parse(db.query(
        s"""{"table":"T","queryField":"SE","limit":$k,""" +
          s""""queryVector":${sparseJson(two(0))}}""")))))
    assert(hitsOf(entries(1))._1, resp)
    assert(JsonMethods.compact(JsonMethods.render(entries(1))) ==
      JsonMethods.compact(JsonMethods.render(JsonMethods.parse(db.query(
        s"""{"table":"T","queryField":"SE","limit":$k,"serve":true,""" +
          s""""queryVector":${sparseJson(two(1))}}""")))))
    residency(wand = false)
  }

  test("a non-unit cosine query: serve, ann and exact paths agree on rows and @distance") {
    val qv = """{"indices":[3,10],"values":[2.0,2.0]}"""
    val served = hitsOf(JsonMethods.parse(db.query(
      s"""{"table":"T","queryField":"SC","limit":4,"serve":true,"queryVector":$qv}""")))
    assert(served._1)
    def viaJob(ann: Boolean): Seq[(Long, Double)] = db.queryDataFrame(
      s"""{"table":"T","queryField":"SC","limit":4,"ann":$ann,"queryVector":$qv,
         |"response":["${TableStore.RowId}","@distance"]}""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served._2 == viaJob(ann = true))
    assert(served._2 == viaJob(ann = false))
    // a unit query's distance: the stored rows are unit too
    served._2.foreach { case (_, d) => assert(d > -1e-9 && d < 2.0 + 1e-9, served) }
  }

  private def rejectedEverywhere(qv: String): Unit =
    for (mode <- Seq(""""serve":true""", """"ann":true""", """"ann":false""")) {
      intercept[IllegalArgumentException] {
        db.query(s"""{"table":"T","queryField":"SC","limit":4,$mode,"queryVector":$qv}""")
      }
    }

  test("a sparse query with unsorted indices is rejected on the serve, ann and exact paths") {
    rejectedEverywhere("""{"indices":[10,3],"values":[1.0,0.2]}""")
  }

  test("a sparse query with fewer values than indices is rejected on every path") {
    rejectedEverywhere("""{"indices":[3,10],"values":[1.0]}""")
  }

  test("a sparse query with a duplicate index is rejected on every path") {
    rejectedEverywhere("""{"indices":[3,3],"values":[1.0,1.0]}""")
  }
}

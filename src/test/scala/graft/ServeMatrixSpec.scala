package graft

import graft.filter.SimpleConjuncts.{Cond, NumLit}
import graft.index.{IvfIndex, ServeProbe, ServeTier, Served}
import graft.types.MetricType

/** Every serving cell through the one entry point, `IvfIndex.serve`, on
  * one small fixture built once: tier (float, 16-bit, PQ; the code tiers
  * with and without certification) × probe (all clusters, recall 1.0) ×
  * filter (none, a declared-column conjunction) × shape (one query, a
  * batch of 4), each with a tombstone masked via `exclude` and a 2-row
  * fresh tail. Float, certified and recall cells must equal a
  * brute-force exact top-k over the live passing rows; uncertified
  * code-tier cells must equal their batch-of-4 entry. */
class ServeMatrixSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val k = 5
  private val rng = new scala.util.Random(7)
  private val rows: Seq[(Long, Int, Array[Float])] = (0L until 400L).map { i =>
    val c = (i % 8).toInt
    (i, (i % 10).toInt,
      Array.tabulate(dim)(j => c * 2.0f + rng.nextFloat() + (if (j == c) 3f else 0f)))
  }
  private lazy val idx: IvfIndex = {
    val built = IvfIndex.build(spark, rows.toDF("id", "label", "vec"), "vec",
      "id", tmpDir("serve_matrix"), MetricType.Euclidean, nClusters = 8,
      maxIter = 4)
    built.setServeFilterColumns(Seq("label"))
    built
  }
  private val queries: Array[Array[Float]] = Array(3, 101, 202, 350).map { i =>
    rows(i)._3.map(_ + 0.05f)
  }
  // rows above the serving pin: one passing (label 7) next to query 0, one
  // failing (label 1) next to query 1
  private val tailRows = Seq((10000L, 7, queries(0).map(_ + 0.01f)),
    (10001L, 1, queries(1).map(_ + 0.01f)))
  private val conds = Seq(Cond("label", ">=", NumLit(4.0, isInt = true)))
  private def passes(label: Int): Boolean = label >= 4

  private def exactTopK(q: Array[Float], dead: Long, filtered: Boolean,
      withTail: Boolean = true): Seq[Long] =
    (rows ++ (if (withTail) tailRows else Nil))
      .filter { case (id, label, _) => id != dead && (!filtered || passes(label)) }
      .map { case (id, _, v) =>
        (id, v.indices.map(j => math.pow(v(j).toDouble - q(j), 2)).sum)
      }
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)

  test("every tier × probe × filter × shape cell: exact, or equal to its batch entry") {
    // the tombstone: query 0's nearest indexed row
    val dead = exactTopK(queries(0), -1L, filtered = false).find(_ < 10000L).get
    val nAll = idx.centroids().length
    for (filtered <- Seq(false, true)) {
      val cs = if (filtered) conds else Nil
      // a filtered serve takes its tail pre-filtered by the caller
      val tail = Some(IvfIndex.packRows(tailRows
        .filter { case (_, label, _) => !filtered || passes(label) }
        .map { case (id, _, v) => (id, v) }.toArray, dim))
      for (tier <- Seq(ServeTier.Float, ServeTier.Quantized(certify = false),
          ServeTier.Quantized(certify = true), ServeTier.Pq(certify = false),
          ServeTier.Pq(certify = true));
          probe <- Seq(ServeProbe.Nearest(nAll), ServeProbe.Recall(1.0, 1L))) {
        val cell = s"$tier $probe filtered=$filtered"
        def serve(qs: Array[Array[Float]]): Array[Option[Served]] =
          idx.serve("vec", qs, k, tier, probe, cs, _ == dead, tail)
        val batch = serve(queries)
        val singles = queries.map(q => serve(Array(q)).head)
        assert(batch.forall(_.isDefined) && singles.forall(_.isDefined),
          s"$cell declined")
        val proven = tier match {
          case ServeTier.Float => true
          case ServeTier.Quantized(c) => c || probe.isInstanceOf[ServeProbe.Recall]
          case ServeTier.Pq(c) => c || probe.isInstanceOf[ServeProbe.Recall]
        }
        queries.indices.foreach { qi =>
          val (one, inBatch) = (singles(qi).get, batch(qi).get)
          if (probe == ServeProbe.Nearest(nAll))
            assert(one.probed.sorted.toSeq == (0 until nAll), s"$cell probes")
          if (proven) {
            val exact = exactTopK(queries(qi), dead, filtered)
            for (got <- Seq(one, inBatch)) {
              val ids = got.hits.map(_._1).toSeq
              // a certified code tier proves the id SET; float ranks exactly
              if (tier == ServeTier.Float) assert(ids == exact, s"$cell q$qi")
              else assert(ids.toSet == exact.toSet, s"$cell q$qi")
            }
          } else
            assert(one.hits.toSeq == inBatch.hits.toSeq, s"$cell q$qi batch != single")
          assert(!one.hits.exists(_._1 == dead), s"$cell q$qi served the tombstone")
        }
        if (filtered) batch.foreach(b => assert(!b.get.hits.exists(_._1 == 10001L),
          s"$cell served the failing tail row"))
      }
    }
  }

  test("every job-path cell: tier × probe × preFilter × tail × tombstone equals brute force") {
    import org.apache.spark.sql.functions.col
    val nAll = idx.centroids().length
    val tailDf = tailRows.toDF("id", "label", "vec")
    for (tier <- Seq(ServeTier.Float, ServeTier.Quantized(certify = false),
        ServeTier.Pq(certify = false));
        probe <- Seq(ServeProbe.Nearest(nAll), ServeProbe.Recall(1.0, 1L));
        filtered <- Seq(false, true); withTail <- Seq(false, true);
        tombstoned <- Seq(false, true); qi <- Seq(0, 1)) {
      val q = queries(qi)
      // the tombstone: the query's nearest indexed row
      val dead = if (tombstoned) exactTopK(q, -1L, filtered = false).find(_ < 10000L).get
        else -1L
      val cell = s"$tier $probe filtered=$filtered tail=$withTail " +
        s"tombstoned=$tombstoned q$qi"
      val got = idx.search("vec", q, k, probe, tier,
          freshTail = if (withTail) Some(tailDf) else None,
          preFilter = if (filtered) Some(col("label") >= 4) else None,
          excludeIds = if (tombstoned) Some(Seq(dead).toDF("id")) else None)
        .select(col("id")).as[Long].collect().toSeq
      assert(got == exactTopK(q, dead, filtered, withTail), cell)
    }
  }

  test("a nearest-cluster probe never lands on an empty cluster: degenerate data serves its exact top-k") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // 1,800 identical rows leave duplicate centroids at the origin, all
    // but one of them holding no rows
    val db = new graft.api.GraftDb(spark, tmpDir("serve_empty_cluster"))
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val data = (0 until 2000).map { i =>
      Row(i.toLong, if (i < 1800) Seq(0f, 0f, 0f, 0f) else Seq(10f, 10f, 10f, 10f))
    }
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(data, 4), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    assert(db.rebuildIndex("T", "V"))
    // the exact top-10 by (distance, row id): the 10 lowest row ids at 0
    val top = db.store("T").read()
      .filter(org.apache.spark.sql.functions.col("ID") < 1800)
      .select(graft.store.TableStore.RowId, "ID").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).take(10)
    val served = db.query(
      """{"table":"T","queryVector":[0,0,0,0],"limit":10,"serve":true,"nProbe":1}""")
    assert(served == top.map { case (rid, _) => s"""{"__row_id":$rid,"@distance":0.0}""" }
      .mkString("""{"result":[""", ",", """],"served":true}"""))
    // the "ann":true job path ranks its probes by the same rule
    val ann = db.query(
      """{"table":"T","queryVector":[0,0,0,0],"limit":10,"ann":true,
        |"response":["ID"]}""".stripMargin)
    assert(ann == top.map { case (_, id) => s"""{"ID":$id}""" }
      .mkString("""{"result":[""", ",", "]}"))
    // and so do the code-tier job paths and the batch job path
    val idx = db.denseIndexFor("T", "V")
    val rowId = graft.store.TableStore.RowId
    val q = Array(0f, 0f, 0f, 0f)
    for (tier <- Seq(ServeTier.Quantized(certify = false), ServeTier.Pq(certify = false))) {
      val got = idx.search("V", q, 10, ServeProbe.Nearest(1), tier)
        .select(rowId).collect().map(_.getLong(0)).toSeq
      assert(got == top.map(_._1).toSeq, s"$tier job path")
    }
    val batch = idx.searchBatch("V", Seq((0L, q)), 10, ServeProbe.Nearest(1))
      .orderBy("rank").select("id").collect().map(_.getLong(0)).toSeq
    assert(batch == top.map(_._1).toSeq, "batch job path")
  }
}

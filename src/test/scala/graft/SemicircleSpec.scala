package graft

import org.apache.spark.sql.Row
import graft.types._
import graft.store.TableStore
import graft.query.QueryEngine
import graft.query.QueryEngine._
import graft.index.{IvfIndex, ServeProbe}
import org.apache.spark.sql.functions.col

/** F3/F4: semicircle fixture — 10k unit vectors on a half circle, inserted
  * shuffled; exact top-500 must be ids 0..499 in ascending id order
  * (reference: db_server.cpp:807-1245). Also the IVF recall gate. */
class SemicircleSpec extends SparkSpec {

  val N = 10000

  def schema = TableSchema("PartialRebuild", Seq(
    FieldSchema("ID", FieldType.Int4, primaryKey = true),
    FieldSchema("Theta", FieldType.Str),
    FieldSchema("Vec", FieldType.VectorFloat, dimensions = 2, metric = MetricType.Cosine)))

  lazy val store: TableStore = {
    val s = TableStore.create(spark, tmpDir("semicircle"), schema)
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((0 until N).toVector).map { i =>
      val theta = math.Pi * i / N
      Row(i, theta.toString, Seq(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), schema.structType)
    val r = s.insert(df)
    assert(r.inserted == N && r.skipped == 0)
    s
  }

  test("exact top-500 = ids 0..499 ascending (QueryDenseVectorDuringRebuild)") {
    val out = QueryEngine.search(store.read(), schema,
      SearchRequest("Vec", DenseQuery(Array(1.0f, 0.0f)), 500, "", Seq("ID")))
    val ids = out.collect().map(_.getInt(0)).toSeq
    assert(ids == (0 until 500))
  }

  test("large-batch shape: top-100 ids all <= 110 (InsertDenseVectorLargeBatch)") {
    val out = QueryEngine.search(store.read(), schema,
      SearchRequest("Vec", DenseQuery(Array(1.0f, 0.0f)), 100, "", Seq("ID")))
    assert(out.collect().map(_.getInt(0)).forall(_ <= 110))
  }

  test("IVF ANN search: recall@100 >= 0.95 vs exact, with partition pruning") {
    val dir = tmpDir("ivf_semi")
    val idx = IvfIndex.build(spark, store.read(), "Vec", "ID", dir,
      MetricType.Cosine, nClusters = 32, maxIter = 5)
    val ann = idx.search("Vec", Array(1.0f, 0.0f), 100, ServeProbe.Nearest(4))
      .select(col("ID")).collect().map(_.getInt(0)).toSet
    val exact = (0 until 100).toSet
    val recall = (ann intersect exact).size / 100.0
    assert(recall >= 0.95, s"recall=$recall")
  }

  test("GraftDb ANN path: rebuild index, ann query matches exact top-20") {
    val root = tmpDir("graftdb_ann")
    val db = new graft.api.GraftDb(spark, root)
    db.createTable(
      """{"name":"Semi","fields":[
        |{"name":"ID","dataType":"INT","primaryKey":true},
        |{"name":"Theta","dataType":"STRING"},
        |{"name":"Vec","dataType":"VECTOR_FLOAT","dimensions":2,"metricType":"COSINE"}]}""".stripMargin)
    val rows = (0 until N).map { i =>
      val theta = math.Pi * i / N
      org.apache.spark.sql.Row(i, theta.toString,
        Seq(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }
    db.store("Semi").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), schema.structType))
    assert(db.rebuildIndex("Semi", "Vec"))
    val resp = db.query(
      """{"table":"Semi","queryField":"Vec","queryVector":[1.0,0.0],
        |"limit":20,"ann":true,"response":["ID"]}""".stripMargin)
    val ids = org.json4s.jackson.JsonMethods.parse(resp) \ "result" match {
      case org.json4s.JArray(a) => a.map(r => (r \ "ID") match {
        case org.json4s.JInt(i) => i.toInt
        case other => fail(s"bad ID $other")
      })
      case _ => fail("no result")
    }
    assert(ids == (0 until 20).toList, s"got $ids")
  }

  test("GraftDb ANN path: selective filter widens the probe instead of under-filling") {
    val root = tmpDir("graftdb_ann_widen")
    val db = new graft.api.GraftDb(spark, root)
    db.createTable(
      """{"name":"Semi","fields":[
        |{"name":"ID","dataType":"INT","primaryKey":true},
        |{"name":"Theta","dataType":"STRING"},
        |{"name":"Vec","dataType":"VECTOR_FLOAT","dimensions":2,"metricType":"COSINE"}]}""".stripMargin)
    val rows = (0 until N).map { i =>
      val theta = math.Pi * i / N
      org.apache.spark.sql.Row(i, theta.toString,
        Seq(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }
    db.store("Semi").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), schema.structType))
    assert(db.rebuildIndex("Semi", "Vec"))
    // query near theta=0, but the filter only admits the FAR end of the
    // semicircle — those rows live in clusters the initial 8 probes of 64
    // never touch; without widening the result under-fills
    val resp = db.query(
      s"""{"table":"Semi","queryField":"Vec","queryVector":[1.0,0.0],
         |"limit":15,"ann":true,"filter":"ID >= ${N - 200}","response":["ID"]}""".stripMargin)
    val ids = org.json4s.jackson.JsonMethods.parse(resp) \ "result" match {
      case org.json4s.JArray(a) => a.map(r => (r \ "ID") match {
        case org.json4s.JInt(i) => i.toInt
        case other => fail(s"bad ID $other")
      })
      case _ => fail("no result")
    }
    // nearest 15 admitted rows = the lowest admitted ids (closest to the query)
    assert(ids == (N - 200 until N - 185).toList, s"got $ids")
  }

  test("incremental append: new rows searchable without full rebuild") {
    val dir = tmpDir("ivf_append")
    val even = store.read().filter(col("ID") % 2 === 0)
    val odd = store.read().filter(col("ID") % 2 === 1)
    val idx = IvfIndex.build(spark, even, "Vec", "ID", dir,
      MetricType.Cosine, nClusters = 16, maxIter = 3)
    val appended = idx.append(odd.select(col("ID"), col("Vec")), "Vec")
    assert(appended == N / 2)
    val ids = idx.search("Vec", Array(1.0f, 0.0f), 100, ServeProbe.Nearest(4))
      .select("ID").collect().map(_.getInt(0)).toSet
    val exact = (0 until 100).toSet
    assert((ids intersect exact).size >= 95, s"recall ${(ids intersect exact).size}/100")
    assert(ids.exists(_ % 2 == 1), "appended odd rows missing")
  }

  test("rebuildIfNeeded skips when the row count is unchanged (R3)") {
    val dir = tmpDir("ivf_skip")
    val df = store.read()
    assert(IvfIndex.rebuildIfNeeded(spark, df, "Vec", "ID", dir, MetricType.Cosine).isDefined)
    val meta = java.nio.file.Paths.get(s"$dir/ivf_meta.json")
    val mtime = java.nio.file.Files.getLastModifiedTime(meta)
    Thread.sleep(20)
    // unchanged count -> existing index returned, nothing rewritten
    assert(IvfIndex.rebuildIfNeeded(spark, df, "Vec", "ID", dir, MetricType.Cosine).isDefined)
    assert(java.nio.file.Files.getLastModifiedTime(meta) == mtime)
  }

  test("IVF fresh-tail union finds unindexed rows") {
    val dir = tmpDir("ivf_tail")
    // index only even ids; odd ids arrive "after the rebuild"
    val base = store.read().filter(col("ID") % 2 === 0)
    val tail = store.read().filter(col("ID") % 2 === 1)
    val idx = IvfIndex.build(spark, base, "Vec", "ID", dir,
      MetricType.Cosine, nClusters = 16, maxIter = 3)
    val ids = idx.search("Vec", Array(1.0f, 0.0f), 50, ServeProbe.Nearest(3),
      freshTail = Some(tail))
      .select(col("ID")).collect().map(_.getInt(0)).toSet
    // the true top-50 (0..49) includes odd ids that only the tail can supply
    assert((ids.count(_ % 2 == 1)) > 0, "tail rows missing from ANN result")
    assert((ids intersect (0 until 50).toSet).size >= 45)
  }
}

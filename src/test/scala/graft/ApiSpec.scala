package graft

import graft.api.GraftDb
import org.json4s._
import org.json4s.jackson.JsonMethods

/** End-to-end JSON API flow mirroring the reference's python-binding e2e
  * test (reference: engine/test/bindings/python/test.py — create, insert
  * with dup-PK skip, query 3 metrics, delete, re-query). */
class ApiSpec extends SparkSpec {

  lazy val db = new GraftDb(spark, tmpDir("graftdb"))

  val schemaJson =
    """{"name":"MyTable","fields":[
      |{"name":"ID","dataType":"INT","primaryKey":true},
      |{"name":"Doc","dataType":"STRING","primaryKey":false},
      |{"name":"Embedding","dataType":"VECTOR_FLOAT","primaryKey":false,
      | "dimensions":4,"metricType":"EUCLIDEAN"}]}""".stripMargin

  def docsOf(resp: String): Seq[String] = {
    val j = JsonMethods.parse(resp)
    (j \ "result").asInstanceOf[JArray].arr.map(r => (r \ "Doc") match {
      case JString(s) => s
      case _ => fail("no Doc")
    })
  }

  test("full API flow: create -> insert(dup skip) -> query -> delete -> re-query") {
    db.createTable(schemaJson)
    assert(db.listTables() == Seq("MyTable"))

    val ins = db.insert(
      """{"table":"MyTable","data":[
        |{"ID":1,"Doc":"Berlin","Embedding":[0.05,0.61,0.76,0.74]},
        |{"ID":2,"Doc":"London","Embedding":[0.19,0.81,0.75,0.11]},
        |{"ID":3,"Doc":"Moscow","Embedding":[0.36,0.55,0.47,0.94]},
        |{"ID":4,"Doc":"San Francisco","Embedding":[0.18,0.01,0.85,0.80]},
        |{"ID":5,"Doc":"Shanghai","Embedding":[0.24,0.18,0.22,0.44]},
        |{"ID":1,"Doc":"Berlin","Embedding":[0.05,0.61,0.76,0.74]}]}""".stripMargin)
    assert(ins == """{"inserted":5,"skipped":1}""")

    val q = db.query(
      """{"table":"MyTable","queryVector":[0.35,0.55,0.47,0.94],
        |"limit":6,"withDistance":true}""".stripMargin)
    assert(docsOf(q) == Seq("Moscow", "Berlin", "Shanghai", "San Francisco", "London"))

    val qf = db.query(
      """{"table":"MyTable","queryVector":[0.35,0.55,0.47,0.94],
        |"limit":6,"filter":"ID <= 2"}""".stripMargin)
    assert(docsOf(qf) == Seq("Berlin", "London"))

    val del = db.delete("""{"table":"MyTable","primaryKeys":[1,2,3,4]}""")
    assert(del == """{"deleted":4}""")
    assert(docsOf(db.query(
      """{"table":"MyTable","queryVector":[0.35,0.55,0.47,0.94],"limit":6}"""))
      == Seq("Shanghai"))

    assert(db.statistics("MyTable") == """{"table":"MyTable","totalRecords":1}""")
  }

  test("auto-embedding index: insert without vectors, query by text, ANN path") {
    val dbe = new GraftDb(spark, tmpDir("graftdb_embed"))
    dbe.createTable(
      """{"name":"Docs","fields":[
        |{"name":"ID","dataType":"INT","primaryKey":true},
        |{"name":"Body","dataType":"STRING"},
        |{"name":"Emb","dataType":"VECTOR_FLOAT","dimensions":16,"metricType":"COSINE"}],
        |"indices":[{"name":"ix","src":"Body","tgt":"Emb","model":"fake/api"}]}""".stripMargin)
    // no Emb in the payload — auto-filled from Body at insert
    val ins = dbe.insert(
      """{"table":"Docs","data":[
        |{"ID":1,"Body":"spark shuffles and joins"},
        |{"ID":2,"Body":"cats and dogs at home"},
        |{"ID":3,"Body":"parquet column pruning"}]}""".stripMargin)
    assert(ins == """{"inserted":3,"skipped":0}""")
    // search-by-content: exact text of doc 2 ranks doc 2 first
    val q = dbe.query(
      """{"table":"Docs","queryField":"Emb","query":"cats and dogs at home","limit":1}""")
    assert(q.contains("cats and dogs at home"), q)
    // ANN path over a small table falls back to exact search
    val annQ = dbe.query(
      """{"table":"Docs","queryField":"Emb","query":"parquet column pruning",
        |"limit":1,"ann":true}""".stripMargin)
    assert(annQ.contains("parquet column pruning"))
    assert(!dbe.rebuildIndex("Docs", "Emb")) // below brute-force threshold
  }

  test("ann:true with a sparse query falls back to exact sparse search") {
    val dbs = new GraftDb(spark, tmpDir("graftdb_sparse"))
    dbs.createTable(
      """{"name":"Sp","fields":[
        |{"name":"ID","dataType":"INT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":8,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    dbs.insert(
      """{"table":"Sp","data":[
        |{"ID":1,"SV":{"indices":[0,3],"values":[1.0,2.0]}},
        |{"ID":2,"SV":{"indices":[1,2],"values":[3.0,1.0]}},
        |{"ID":3,"SV":{"indices":[0,3],"values":[1.1,2.1]}}]}""".stripMargin)
    val resp = dbs.query(
      """{"table":"Sp","queryField":"SV","limit":1,"ann":true,
        |"queryVector":{"indices":[0,3],"values":[1.0,2.0]}}""".stripMargin)
    val ids = (JsonMethods.parse(resp) \ "result").asInstanceOf[JArray].arr
      .map(r => (r \ "ID") match { case JInt(i) => i.toInt; case _ => fail("no ID") })
    assert(ids == List(1), resp)
  }

  test("render cap: big results refuse JSON unless unbounded; DataFrame surface stays lazy") {
    import spark.implicits._
    val capped = new GraftDb(spark, tmpDir("graftdb_cap"), maxRenderRows = 50)
    capped.createTable(
      """{"name":"Big","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Doc","dataType":"STRING","primaryKey":false}]}""".stripMargin)
    capped.store("Big").insert((1L to 500L).map(i => (i, s"doc$i")).toDF("ID", "Doc"))
    val capMessage = "result exceeds maxRenderRows=50; pass \"unbounded\":true " +
      "or use the DataFrame API (queryDataFrame/getDataFrame)"
    val e = intercept[IllegalStateException] {
      capped.get("""{"table":"Big"}""")
    }
    assert(e.getMessage == capMessage)
    // the cap is exact: maxRenderRows rows render, one more refuses
    assert(JsonMethods.parse(capped.get("""{"table":"Big","limit":50}"""))
      .\("result").asInstanceOf[JArray].arr.size == 50)
    val over = intercept[IllegalStateException] {
      capped.get("""{"table":"Big","limit":51}""")
    }
    assert(over.getMessage == capMessage)
    // explicit opt-out matches the reference's unbounded default
    val all = JsonMethods.parse(capped.get("""{"table":"Big","unbounded":true}"""))
    assert((all \ "result").asInstanceOf[JArray].arr.size == 500)
    // within-cap requests and the DataFrame surface are unaffected
    assert(JsonMethods.parse(capped.get("""{"table":"Big","limit":10}"""))
      .\("result").asInstanceOf[JArray].arr.size == 10)
    assert(capped.getDataFrame("""{"table":"Big"}""").count() == 500)
  }

  test("get with pagination and facets through the JSON API") {
    val dbg = new GraftDb(spark, tmpDir("graftdb2"))
    dbg.createTable(schemaJson.replace("MyTable", "T2"))
    dbg.insert(
      """{"table":"T2","data":[
        |{"ID":1,"Doc":"a","Embedding":[1,0,0,0]},
        |{"ID":2,"Doc":"b","Embedding":[0,1,0,0]},
        |{"ID":3,"Doc":"c","Embedding":[0,0,1,0]},
        |{"ID":4,"Doc":"d","Embedding":[0,0,0,1]}]}""".stripMargin)
    val page = dbg.get("""{"table":"T2","filter":"ID > 1","skip":1,"limit":2}""")
    assert(docsOf(page) == Seq("c", "d"))
    val fac = dbg.get(
      """{"table":"T2","facets":[{"group":[],"aggregate":["SUM(ID)","COUNT(*)"]}]}""")
    val j = JsonMethods.parse(fac)
    val f0 = (j \ "facets").asInstanceOf[JArray].arr.head.asInstanceOf[JArray].arr.head
    assert((f0 \ "SUM(ID)") == JInt(10) || (f0 \ "SUM(ID)") == JLong(10))
    // upsert through the API is last-wins
    val up = dbg.insert(
      """{"table":"T2","upsert":true,"data":[
        |{"ID":4,"Doc":"d2","Embedding":[0,0,0,2]}]}""".stripMargin)
    assert(up == """{"inserted":1,"skipped":0}""")
    assert(docsOf(dbg.get("""{"table":"T2","primaryKeys":[4]}""")) == Seq("d2"))
  }
}

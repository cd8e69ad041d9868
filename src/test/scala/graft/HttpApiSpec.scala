package graft

import graft.api.{GraftDb, GraftHttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** End-to-end HTTP flow against the reference's endpoint shapes
  * (reference: engine/server/web_server/web_controller.hpp; golden flow
  * mirrors engine/test/bindings/python/test.py — create, insert with
  * dup-PK skip, query, filtered query, delete, statistics). */
class HttpApiSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val server =
    new GraftHttpServer(new GraftDb(spark, tmpDir("graft_http"))).start()
  private lazy val base = s"http://127.0.0.1:${server.actualPort}"
  private val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = server.stop()

  private def get(path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def post(path: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def delete(path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def docsOf(resp: String): Seq[String] =
    (JsonMethods.parse(resp) \ "result").asInstanceOf[JArray].arr.map(r =>
      (r \ "Doc") match { case JString(s) => s; case other => fail(s"no Doc: $other") })

  test("state and welcome endpoints") {
    assert(get("/")._2.contains("Welcome"))
    val (code, body) = get("/state")
    assert(code == 200)
    assert((JsonMethods.parse(body) \ "message") == JString("Server is online!"))
  }

  test("small responses are not held back by Nagle: median GET /state round trip < 30 ms") {
    get("/state") // connection + handler warm-up
    // with Nagle on, the body segment waits for the client's delayed ACK
    // of the header segment, so every round trip took >= 40 ms
    val ms = (1 to 21).map { _ =>
      val t0 = System.nanoTime()
      assert(get("/state")._1 == 200)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    assert(ms(10) < 30.0, s"median ${ms(10)} ms over ${ms.mkString(", ")}")
  }

  test("five-city golden flow over HTTP: create, insert(dup), query, filter, delete, stats") {
    val (cc, cb) = post("/api/default/schema/tables",
      """{"name":"MyTable","fields":[
        |{"name":"ID","dataType":"INT","primaryKey":true},
        |{"name":"Doc","dataType":"STRING"},
        |{"name":"Embedding","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    assert(cc == 200, cb)

    val (sc, sb) = get("/api/default/schema/tables/show")
    assert(sc == 200)
    assert((JsonMethods.parse(sb) \ "result") == JArray(List(JString("MyTable"))))

    val (ic, ib) = post("/api/default/data/insert",
      """{"table":"MyTable","data":[
        |{"ID":1,"Doc":"Berlin","Embedding":[0.05,0.61,0.76,0.74]},
        |{"ID":2,"Doc":"London","Embedding":[0.19,0.81,0.75,0.11]},
        |{"ID":3,"Doc":"Moscow","Embedding":[0.36,0.55,0.47,0.94]},
        |{"ID":4,"Doc":"San Francisco","Embedding":[0.18,0.01,0.85,0.80]},
        |{"ID":5,"Doc":"Shanghai","Embedding":[0.24,0.18,0.22,0.44]},
        |{"ID":1,"Doc":"Berlin","Embedding":[0.05,0.61,0.76,0.74]}]}""".stripMargin)
    assert(ic == 200, ib)
    val insJson = JsonMethods.parse(ib)
    assert((insJson \ "result" \ "inserted") == JInt(5), ib)
    assert((insJson \ "result" \ "skipped") == JInt(1), ib)

    val (qc, qb) = post("/api/default/data/query",
      """{"table":"MyTable","queryVector":[0.35,0.55,0.47,0.94],
        |"limit":6,"withDistance":true}""".stripMargin)
    assert(qc == 200, qb)
    assert(docsOf(qb) == Seq("Moscow", "Berlin", "Shanghai", "San Francisco", "London"))

    val (fc, fb) = post("/api/default/data/query",
      """{"table":"MyTable","queryVector":[0.35,0.55,0.47,0.94],
        |"limit":6,"filter":"ID <= 2"}""".stripMargin)
    assert(fc == 200)
    assert(docsOf(fb) == Seq("Berlin", "London"))

    // serve:true over HTTP: table is below the index threshold here, so
    // the server transparently falls back to the job path (full rows)
    val (vc, vb) = post("/api/default/data/query",
      """{"table":"MyTable","queryVector":[0.35,0.55,0.47,0.94],
        |"limit":2,"serve":true}""".stripMargin)
    assert(vc == 200, vb)
    assert(docsOf(vb) == Seq("Moscow", "Berlin"))

    val (pc, pb) = post("/api/default/data/insertprepare",
      """{"table":"MyTable","primaryKeys":[1,2,3,9,10]}""")
    assert(pc == 200, pb)
    // bits 0-2 cleared (pks exist), bits 3-4 set, rest of the word set
    assert((JsonMethods.parse(pb) \ "result" \ "bitmask") == JArray(List(JInt(-8))), pb)

    val (gc, gb) = post("/api/default/data/get",
      """{"table":"MyTable","filter":"ID > 2","response":["ID","Doc"]}""")
    assert(gc == 200)
    assert(docsOf(gb) == Seq("Moscow", "San Francisco", "Shanghai"))

    val (dc, db2) = post("/api/default/data/delete",
      """{"table":"MyTable","primaryKeys":[1,2,3,4]}""")
    assert(dc == 200)
    assert((JsonMethods.parse(db2) \ "result" \ "deleted") == JInt(4), db2)

    val (qc2, qb2) = post("/api/default/data/query",
      """{"table":"MyTable","queryVector":[0.35,0.55,0.47,0.94],"limit":6}""")
    assert(qc2 == 200)
    assert(docsOf(qb2) == Seq("Shanghai"))

    val (stc, stb) = get("/api/default/statistics")
    assert(stc == 200)
    val stats = (JsonMethods.parse(stb) \ "result").asInstanceOf[JArray].arr
    assert(stats.exists(s => (s \ "table") == JString("MyTable") &&
      (s \ "totalRecords") == JInt(1)), stb)

    val (rc, rb) = post("/api/rebuild", "{}")
    assert(rc == 200, rb) // below index threshold: finishes with 0 rebuilds

    val (delc, _) = delete("/api/default/schema/tables/MyTable")
    assert(delc == 200)
    assert((JsonMethods.parse(get("/api/default/schema/tables/show")._2) \ "result")
      == JArray(Nil))
  }

  test("statistics exposes index cardinality stats (per-dim posting counts) over HTTP") {
    val (cc, cb) = post("/api/default/schema/tables",
      """{"name":"SpStats","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    assert(cc == 200, cb)
    // every row carries dim 0 (the hot dim the serving guard watches)
    val data = (1 to 20).map(i =>
      s"""{"ID":$i,"SV":{"indices":[0,${10 + i % 5}],"values":[1.0,0.5]}}""")
      .mkString("[", ",", "]")
    val (ic, ib) = post("/api/default/data/insert",
      s"""{"table":"SpStats","data":$data}""")
    assert(ic == 200, ib)
    val (rc, rb) = post("/api/rebuild", "{}")
    assert(rc == 200, rb)
    val (stc, stb) = get("/api/default/statistics")
    assert(stc == 200)
    val stats = (JsonMethods.parse(stb) \ "result").asInstanceOf[JArray].arr
    val spStats = stats.find(s => (s \ "table") == JString("SpStats"))
      .getOrElse(fail(s"no SpStats entry: $stb"))
    val idxStats = (spStats \ "indexes").asInstanceOf[JArray].arr
    assert(idxStats.exists(s => (s \ "field") == JString("SV") &&
      (s \ "type") == JString("sparse") &&
      (s \ "dims") == JInt(6) &&             // dim 0 + dims 10..14
      (s \ "postings") == JInt(40) &&        // 2 nonzeros x 20 rows
      (s \ "maxDimPostings") == JInt(20)),   // the hot dim
      stb)
    delete("/api/default/schema/tables/SpStats")
  }

  test("multi-database endpoints: load, isolated tables, unload, drop") {
    val (lc, lb) = post("/api/load", """{"name":"second"}""")
    assert(lc == 200, lb)
    val (cc, _) = post("/api/second/schema/tables",
      """{"name":"Only","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true}]}""".stripMargin)
    assert(cc == 200)
    // the table exists in `second`, not in `default`
    assert((JsonMethods.parse(get("/api/second/schema/tables/show")._2) \ "result")
      == JArray(List(JString("Only"))))
    assert(!((JsonMethods.parse(get("/api/default/schema/tables/show")._2) \ "result")
      .asInstanceOf[JArray].arr.contains(JString("Only"))))
    // unloaded databases 404 on access; unknown db errors cleanly
    assert(post("/api/second/unload", "")._1 == 200)
    assert(post("/api/second/unload", "")._1 == 404)
    assert(post("/api/second/data/get", """{"table":"Only"}""")._1 >= 400)
    // reload finds the files again; drop removes them
    assert(post("/api/load", """{"name":"second"}""")._1 == 200)
    assert((JsonMethods.parse(get("/api/second/schema/tables/show")._2) \ "result")
      == JArray(List(JString("Only"))))
    assert(delete("/api/second/drop")._1 == 200)
    assert(post("/api/load", """{"name":"second"}""")._1 == 200)
    assert((JsonMethods.parse(get("/api/second/schema/tables/show")._2) \ "result")
      == JArray(Nil))
    delete("/api/second/drop")
  }

  test("error shapes: bad payload 400/500, unknown route 404") {
    assert(post("/api/default/data/insert", """{"data":[]}""")._1 >= 400)
    assert(get("/api/nope")._1 == 404)
    val (_, body) = get("/api/nope")
    assert((JsonMethods.parse(body) \ "statusCode") == JInt(404))
  }

  test("describe route: schema in catalog shape + index inventory (web_controller.hpp:395-410)") {
    val (cc, cb) = post("/api/default/schema/tables",
      """{"name":"Desc","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Tag","dataType":"STRING"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"COSINE"}]}""".stripMargin)
    assert(cc == 200, cb)
    val (dc, db2) = get("/api/default/schema/tables/Desc/describe")
    assert(dc == 200, db2)
    val j = JsonMethods.parse(db2)
    assert((j \ "message") == JString("Get information of Desc from default successfully."), db2)
    assert((j \ "result" \ "schema" \ "name") == JString("Desc"), db2)
    val fields = (j \ "result" \ "schema" \ "fields").asInstanceOf[JArray].arr
    assert(fields.exists(f => (f \ "name") == JString("V") &&
      (f \ "dataType") == JString("VECTOR_FLOAT") &&
      (f \ "dimensions") == JInt(4) &&
      (f \ "metricType") == JString("COSINE")), db2)
    // no index yet: empty inventory
    assert((j \ "result" \ "indexes") == JArray(Nil), db2)
    delete("/api/default/schema/tables/Desc")
  }

  test("dump + release + setleader + config routes (web_controller.hpp:166-234, 984-1031)") {
    val (cc, _) = post("/api/default/schema/tables",
      """{"name":"Dmp","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"N","dataType":"BIGINT"}]}""".stripMargin)
    assert(cc == 200)
    val data = (1 to 8).map(i => s"""{"ID":$i,"N":${i * 10}}""").mkString("[", ",", "]")
    assert(post("/api/default/data/insert", s"""{"table":"Dmp","data":$data}""")._1 == 200)
    post("/api/default/data/delete", """{"table":"Dmp","primaryKeys":[3]}""")
    // dump: exports the LIVE snapshot (deleted row folded away)
    val out = tmpDir("graft_dump_out")
    val (duc, dub) = post("/api/dump", s"""{"name":"default","path":"$out"}""")
    assert(duc == 200, dub)
    val dumped = spark.read.parquet(s"$out/Dmp/dump")
    assert(dumped.count() == 7)
    assert(!dumped.select("ID").collect().map(_.getLong(0)).contains(3L))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/Dmp/schema.json")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/catalog")))
    // unknown db → 404 (db_server.cpp:85-88 DB_NOT_FOUND)
    assert(post("/api/dump", s"""{"name":"ghost","path":"$out"}""")._1 == 404)
    // release drops residency; data still answers afterwards (cold reopen)
    assert(post("/api/default/release", "")._1 == 200)
    val (gc, gb) = post("/api/default/data/get",
      """{"table":"Dmp","filter":"N >= 50","response":["ID"]}""")
    assert(gc == 200, gb)
    assert((JsonMethods.parse(gb) \ "result").asInstanceOf[JArray].arr.length == 4, gb)
    // setleader: follower dumps skip the catalog file, data still exports
    assert(post("/api/setleader", """{"leader":false}""")._1 == 200)
    val out2 = tmpDir("graft_dump_follower")
    assert(post("/api/dump", s"""{"name":"default","path":"$out2"}""")._1 == 200)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out2/Dmp/dump")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out2/catalog")))
    assert(post("/api/setleader", """{"leader":true}""")._1 == 200)
    // config: valid keys apply, out-of-range is a 500 with the reference's
    // message shape (config.hpp:28-64 ranges)
    assert(post("/api/config", """{"IntraQueryThreads":8,"PreFilter":true}""")._1 == 200)
    val (bc, bb) = post("/api/config", """{"IntraQueryThreads":1000}""")
    assert(bc == 500, bb)
    assert(bb.contains("valid range: [1, 128]"), bb)
    delete("/api/default/schema/tables/Dmp")
  }

  test("CSV load route inserts through the normal DML path (dup-PK skip applies)") {
    val (cc, _) = post("/api/default/schema/tables",
      """{"name":"Csv","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Lang","dataType":"STRING"},
        |{"name":"N","dataType":"BIGINT"}]}""".stripMargin)
    assert(cc == 200)
    val dir = tmpDir("graft_csv_http")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/rows.csv"),
      "ID,Lang,N\n1,en,10\n2,de,20\n3,fr,30\n2,xx,99\n".getBytes)
    val (lc, lb) = post("/api/default/data/load",
      s"""{"table":"Csv","path":"$dir/rows.csv"}""")
    assert(lc == 200, lb)
    assert((JsonMethods.parse(lb) \ "result" \ "inserted") == JInt(3), lb)
    assert((JsonMethods.parse(lb) \ "result" \ "skipped") == JInt(1), lb)
    val (gc, gb) = post("/api/default/data/get",
      """{"table":"Csv","filter":"Lang = 'de'","response":["ID","N"]}""")
    assert(gc == 200)
    val rows = (JsonMethods.parse(gb) \ "result").asInstanceOf[JArray].arr
    assert(rows.length == 1 && (rows.head \ "N") == JInt(20), gb)
    delete("/api/default/schema/tables/Csv")
  }

  test("hybrid retrieval round-trips over HTTP, filter applied to both sides") {
    val (cc, cb) = post("/api/default/schema/tables",
      """{"name":"Hy","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Doc","dataType":"STRING"},
        |{"name":"Grp","dataType":"BIGINT"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    assert(cc == 200, cb)
    // ID 7: top doc on BOTH sides (query terms repeated, vector == query);
    // its Grp=1 lets the filter knock it out
    val rows = (1 to 30).map { i =>
      val doc =
        if (i == 7) "spark vector spark vector spark vector"
        else s"scan plan state w$i"
      val v = if (i == 7) "[0.9,0.1,0.9,0.1]"
        else s"[0.${i % 10},0.${(i * 3) % 10},0.${(i * 7) % 10},0.${(i * 9) % 10}]"
      s"""{"ID":$i,"Doc":"$doc","Grp":${i % 2},"V":$v}"""
    }.mkString("[", ",", "]")
    assert(post("/api/default/data/insert", s"""{"table":"Hy","data":$rows}""")._1 == 200)
    assert(post("/api/default/bm25/rebuild", """{"table":"Hy","field":"Doc"}""")._1 == 200)
    // row-id -> ID map straight off the server's store (in-process handle)
    val m = {
      import org.apache.spark.sql.functions.col
      server.catalog.db("default").store("Hy").read()
        .select(col(graft.store.TableStore.RowId), col("ID"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def fusedIds(resp: String): Seq[Long] =
      (JsonMethods.parse(resp) \ "result").asInstanceOf[JArray].arr
        .map(r => (r \ "__row_id") match {
          case JInt(i) => m(i.toLong)
          case JLong(l) => m(l)
          case other => fail(s"bad __row_id: $other")
        })
    val (hc, hb) = post("/api/default/data/query",
      """{"table":"Hy","keywords":["spark","vector"],"textField":"Doc",
        |"queryField":"V","queryVector":[0.9,0.1,0.9,0.1],"limit":5}""".stripMargin)
    assert(hc == 200, hb)
    assert(fusedIds(hb).head == 7L, hb) // top on both sides fuses first
    // filter Grp = 0 excludes ID 7 (Grp 1) from BOTH sides
    val (fc2, fb2) = post("/api/default/data/query",
      """{"table":"Hy","keywords":["spark","vector"],"textField":"Doc",
        |"queryField":"V","queryVector":[0.9,0.1,0.9,0.1],"limit":5,
        |"filter":"Grp = 0"}""".stripMargin)
    assert(fc2 == 200, fb2)
    val ids = fusedIds(fb2)
    assert(ids.nonEmpty && !ids.contains(7L) && ids.forall(_ % 2 == 0), fb2)
    delete("/api/default/schema/tables/Hy")
  }

  test("served filter + facets round-trip over HTTP (round-11 envelope)") {
    assert(post("/api/default/schema/tables",
      """{"name":"SF","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Label","dataType":"BIGINT"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)._1 == 200)
    val rows = (0 until 600).map { i =>
      s"""{"ID":$i,"Label":${i % 10},"V":[0.${i % 10},0.${(i * 3) % 10},0.${(i * 7) % 10},0.${(i * 9) % 10}]}"""
    }.mkString("[", ",", "]")
    assert(post("/api/default/data/insert",
      s"""{"table":"SF","data":$rows}""")._1 == 200)
    assert(post("/api/rebuild", "")._1 == 200)
    // declare the filtered-serving residency over the config route
    assert(post("/api/config",
      """{"ServeFilterColumns":{"table":"SF","field":"V",
        |"columns":["Label","ID"]}}""".stripMargin)._1 == 200)
    val req =
      """{"table":"SF","queryVector":[0.5,0.4,0.3,0.2],"limit":9,
        |"nProbe":9999,"filter":"Label >= 5",
        |"facets":[{"group":["Label"],"aggregate":["COUNT(*)","MAX(ID)"]}]""".stripMargin
    val (sc, sb) = post("/api/default/data/query", req + ""","serve":true}""")
    assert(sc == 200, sb)
    assert(sb.contains("\"served\":true") && sb.contains("\"filtered\":true") &&
      sb.contains("\"facets\""), sb)
    val (jc, jb) = post("/api/default/data/query", req + "}")
    assert(jc == 200 && !jb.contains("\"served\""), jb)
    def facetSets(resp: String): Seq[Set[String]] =
      (JsonMethods.parse(resp) \ "facets") match {
        case JArray(fs) => fs.map {
          case JArray(rs) =>
            rs.map(r => JsonMethods.compact(JsonMethods.render(r))).toSet
          case other => fail(s"bad facet: $other")
        }
        case other => fail(s"no facets: $other")
      }
    assert(facetSets(sb) == facetSets(jb), s"$sb\n$jb")
    delete("/api/default/schema/tables/SF")
  }

  test("batch facets and code-tier recall floors round-trip over HTTP") {
    assert(post("/api/default/schema/tables",
      """{"name":"BF","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Label","dataType":"BIGINT"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)._1 == 200)
    val rows = (0 until 600).map { i =>
      s"""{"ID":$i,"Label":${i % 10},"V":[0.${i % 10},0.${(i * 3) % 10},0.${(i * 7) % 10},0.${(i * 9) % 10}]}"""
    }.mkString("[", ",", "]")
    assert(post("/api/default/data/insert",
      s"""{"table":"BF","data":$rows}""")._1 == 200)
    assert(post("/api/rebuild", "")._1 == 200)
    assert(post("/api/config",
      """{"ServeFilterColumns":{"table":"BF","field":"V",
        |"columns":["Label","ID"]}}""".stripMargin)._1 == 200)
    def resultIds(resp: String): Set[BigInt] =
      (JsonMethods.parse(resp) \ "result") match {
        case JArray(rs) => rs.map(r => (r \ "__row_id") match {
          case JInt(i) => i
          case other => fail(s"bad __row_id: $other")
        }).toSet
        case other => fail(s"no result: $other")
      }
    // a declared floor on the 16-bit tier over HTTP: the envelope must
    // carry the proof marks, and target 1.0 makes the id set equal the
    // float tier's proven cover serve (both exact by proof)
    val base =
      """{"table":"BF","queryVector":[0.5,0.4,0.3,0.2],"limit":9,
        |"serve":true,"recallTarget":1.0""".stripMargin
    val (fc, fb) = post("/api/default/data/query", base + "}")
    assert(fc == 200 && fb.contains("\"served\":true"), fb)
    val (qc, qb) = post("/api/default/data/query",
      base + ""","quantized":true}""")
    assert(qc == 200 && qb.contains("\"served\":true") &&
      qb.contains("\"quantized\":true") && qb.contains("\"certified\":true"), qb)
    assert(resultIds(qb) == resultIds(fb), s"$qb\n$fb")
    // batch + facets: one POST, every entry served with ITS facets equal
    // to the per-query job path's
    val vs = Seq("[0.5,0.4,0.3,0.2]", "[0.1,0.9,0.2,0.8]")
    val facetsReq =
      """"facets":[{"group":["Label"],"aggregate":["COUNT(*)","MAX(ID)"]}]"""
    val (bc, bb) = post("/api/default/data/query",
      s"""{"table":"BF","queryVectors":[${vs.mkString(",")}],"limit":9,
         |"nProbe":9999,"serve":true,$facetsReq}""".stripMargin)
    assert(bc == 200, bb)
    def facetSets(resp: String): Seq[Set[String]] =
      (JsonMethods.parse(resp) \ "facets") match {
        case JArray(fs) => fs.map {
          case JArray(rs) =>
            rs.map(r => JsonMethods.compact(JsonMethods.render(r))).toSet
          case other => fail(s"bad facet: $other")
        }
        case other => fail(s"no facets: $other")
      }
    val entries = (JsonMethods.parse(bb) \ "results") match {
      case JArray(rs) => rs.map(r => JsonMethods.compact(JsonMethods.render(r)))
      case other => fail(s"bad batch envelope: $other")
    }
    entries.zip(vs).foreach { case (e, v) =>
      assert(e.contains("\"served\":true") && e.contains("\"facets\""), e)
      val (jc2, jb2) = post("/api/default/data/query",
        s"""{"table":"BF","queryVector":$v,"limit":9,"nProbe":9999,
           |$facetsReq}""".stripMargin)
      assert(jc2 == 200 && !jb2.contains("\"served\""), jb2)
      assert(facetSets(e) == facetSets(jb2), s"$e\n$jb2")
    }
    delete("/api/default/schema/tables/BF")
  }
}

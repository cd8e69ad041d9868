package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Thin HTTP front door over GraftDb, mirroring the reference's endpoint
  * shapes (reference: engine/server/web_server/web_controller.hpp:40-1036 —
  * oatpp controller; here the JDK's built-in HttpServer, since the engine
  * is a library and the server is a ~200-line adapter):
  *
  *   GET  /                                    → welcome text
  *   GET  /state                               → {"statusCode","message"}
  *   POST /api/{db}/schema/tables              → create table
  *   DELETE /api/{db}/schema/tables/{table}    → drop table
  *   GET  /api/{db}/schema/tables/show         → list tables
  *   POST /api/{db}/data/insert                → insert/upsert
  *   POST /api/{db}/data/insertprepare         → existence bitmask
  *   POST /api/{db}/data/query                 → vector top-K (+facets)
  *   POST /api/{db}/data/get                   → scan/PK lookup (+facets)
  *   POST /api/{db}/data/delete                → delete by PK/filter
  *   GET  /api/{db}/statistics                 → per-table totalRecords
  *   POST /api/rebuild                         → rebuild ANN indexes
  *
  *   POST /api/load                            → load/create a database
  *   POST /api/{db}/unload                     → forget, keep files
  *   DELETE /api/{db}/drop                     → unload + delete files
  *
  * Every response is `{"statusCode": n, "message": "...", ...}` like the
  * reference's StatusDto; data-plane payloads carry `"result"` too. The
  * `{db}` path segment resolves through a GraftCatalog (reference
  * DatabaseSchema namespace); the single-db constructor registers its
  * database as `default`.
  */
class GraftHttpServer(val catalog: GraftCatalog, port: Int) {

  def this(db: GraftDb, port: Int = 0) = {
    this({
      val c = new GraftCatalog(db.spark, db.root)
      c.register("default", db)
      c
    }, port)
  }

  GraftHttpServer.noDelay()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))

  def actualPort: Int = server.getAddress.getPort

  def start(): GraftHttpServer = { server.createContext("/", handler _); server.start(); this }
  def stop(): Unit = server.stop(0)

  private def status(code: Int, message: String): String =
    s"""{"statusCode":$code,"message":${jstr(message)}}"""

  /** Wrap a GraftDb `{"result":...}` payload with statusCode/message. */
  private def withStatus(payloadJson: String, message: String): String =
    s"""{"statusCode":200,"message":${jstr(message)},${payloadJson.substring(1)}"""

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def handler(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val (code, resp) =
      try route(method, path, body)
      catch {
        case e: IllegalArgumentException => (400, status(400, Option(e.getMessage).getOrElse("bad request")))
        case e: Throwable => (500, status(500, Option(e.getMessage).getOrElse(e.toString)))
      }
    val bytes = resp.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type",
      if (path.isEmpty) "text/plain" else "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def route(method: String, path: String, body: String): (Int, String) = {
    val seg = path.split("/").filter(_.nonEmpty)
    (method, seg.toList) match {
      case ("GET", Nil) =>
        (200, "Welcome to graft, a Spark-native vector analytics engine.")
      case ("GET", List("state")) =>
        (200, status(200, "Server is online!"))
      case ("POST", List("api", "load")) =>
        val req = org.json4s.jackson.JsonMethods.parse(body)
        val name = (req \ "name") match {
          case org.json4s.JString(s) => s
          case _ => throw new IllegalArgumentException("missing database name")
        }
        val p = (req \ "path") match {
          case org.json4s.JString(s) => s; case _ => null
        }
        catalog.load(name, p)
        (200, status(200, s"Load/Create $name successfully."))
      case ("POST", List("api", d, "unload")) =>
        if (catalog.unload(d)) (200, status(200, s"Unload $d successfully."))
        else (404, status(404, s"database $d not loaded"))
      case ("DELETE", List("api", d, "drop")) =>
        catalog.drop(d)
        (200, status(200, s"Drop $d successfully."))
      case ("POST", List("api", d, "schema", "tables")) =>
        val schema = catalog.db(d).createTable(body)
        (200, status(200, s"Create table ${schema.name} successfully."))
      case ("DELETE", List("api", d, "schema", "tables", table)) =>
        catalog.db(d).dropTable(table)
        (200, status(200, s"Drop table $table successfully."))
      case ("GET", List("api", d, "schema", "tables", "show")) =>
        val names = catalog.db(d).listTables().map(jstr).mkString("[", ",", "]")
        (200, s"""{"statusCode":200,"message":"Get all tables successfully.","result":$names}""")
      case ("GET", List("api", d, "schema", "tables", t, "describe")) =>
        // web_controller.hpp:395-410 DescribeSchema (the reference returns
        // a stubbed SchemaInfoDto; ours carries the schema + index state)
        (200, withStatus(s"""{"result":${catalog.db(d).describeTable(t)}}""",
          s"Get information of $t from $d successfully."))
      case ("POST", List("api", d, "release")) =>
        // web_controller.hpp:166-181 ReleaseDB: drop in-memory residency,
        // keep the database loaded and its files intact
        catalog.db(d).release()
        (200, status(200, s"Release $d successfully."))
      case ("POST", List("api", "dump")) =>
        // web_controller.hpp:202-234 DumpDB: {"name","path"} → export the
        // snapshot; unknown name → 404 (db_server.cpp:85-88 DB_NOT_FOUND)
        val req = org.json4s.jackson.JsonMethods.parse(body)
        val name = (req \ "name") match {
          case org.json4s.JString(s) => s
          case _ => throw new IllegalArgumentException("missing database name")
        }
        val p = (req \ "path") match {
          case org.json4s.JString(s) => s
          case _ => throw new IllegalArgumentException("missing dump path")
        }
        if (!catalog.has(name)) (404, status(404, s"DB not found: $name"))
        else { catalog.dump(name, p); (200, status(200, s"Dump $name successfully.")) }
      case ("POST", List("api", "setleader")) =>
        // web_controller.hpp:984-1002 SetLeader
        val req = org.json4s.jackson.JsonMethods.parse(body)
        val leader = (req \ "leader") match {
          case org.json4s.JBool(b) => b
          case _ => throw new IllegalArgumentException("Invalid payload.")
        }
        catalog.setLeader(leader)
        (200, status(200, s"Set leader as $leader successfully."))
      case ("POST", List("api", "config")) =>
        // web_controller.hpp:1004-1031 UpdateConfig: applied to every
        // loaded database (the reference's config is global); validation
        // errors are 500 like the reference's catch-all
        try {
          catalog.list().foreach(d => catalog.db(d).updateConfig(body))
          (200, status(200, "Config updated successfully."))
        } catch {
          case e: Exception =>
            (500, status(500, Option(e.getMessage).getOrElse(e.toString)))
        }
      case ("POST", List("api", d, "data", "load")) =>
        // web_controller.hpp:615-622 LoadCSV (the reference's endpoint is
        // an echo stub; ours loads through the normal DML path)
        val req = org.json4s.jackson.JsonMethods.parse(body)
        val table = tableOf(body)
        val p = (req \ "path") match {
          case org.json4s.JString(s) => s
          case _ => throw new IllegalArgumentException("missing csv path")
        }
        val upsert = (req \ "upsert") match {
          case org.json4s.JBool(b) => b; case _ => false
        }
        (200, withStatus(catalog.db(d).loadCsv(table, p, upsert),
          s"Loading csv to $d."))
      case ("POST", List("api", d, "data", "insert")) =>
        val table = tableOf(body)
        (200, withStatus(s"""{"result":${catalog.db(d).insert(body)}}""",
          s"Insert data to $table successfully."))
      case ("POST", List("api", d, "data", "insertprepare")) =>
        val req = org.json4s.jackson.JsonMethods.parse(body)
        val table = tableOf(body)
        val pks: Seq[Any] = (req \ "primaryKeys") match {
          case org.json4s.JArray(a) => a.map {
            case org.json4s.JInt(i) => i.toLong
            case org.json4s.JString(s) => s
            case other => throw new IllegalArgumentException(s"bad pk $other")
          }
          case _ => Nil
        }
        val (n, words) = catalog.db(d).store(table).insertPrepare(pks)
        (200, withStatus(
          s"""{"result":{"recordNumber":$n,"bitmask":${words.mkString("[", ",", "]")}}}""",
          s"Insert prepare on $table successfully."))
      case ("POST", List("api", d, "data", "query")) =>
        (200, withStatus(catalog.db(d).query(body), "Query search successfully."))
      case ("POST", List("api", d, "data", "get")) =>
        (200, withStatus(catalog.db(d).get(body), "Query get successfully."))
      case ("POST", List("api", d, "data", "delete")) =>
        val table = tableOf(body)
        (200, withStatus(s"""{"result":${catalog.db(d).delete(body)}}""",
          s"Delete data from $table successfully."))
      case ("GET", List("api", d, "statistics")) =>
        val db = catalog.db(d)
        val stats = db.listTables().map(db.statistics).mkString("[", ",", "]")
        (200, s"""{"statusCode":200,"message":"","result":$stats}""")
      case ("POST", List("api", d, "bm25", "rebuild")) =>
        // create-or-refresh the BM25 impact index over a STRING field;
        // once it exists, /api/rebuild and the maintenance loop keep it
        // fresh (discovered from its layout dir)
        val req = org.json4s.jackson.JsonMethods.parse(body)
        val table = tableOf(body)
        val field = (req \ "field") match {
          case org.json4s.JString(s) => s
          case _ => throw new IllegalArgumentException("missing field")
        }
        val built = catalog.db(d).rebuildBm25Index(table, field)
        (200, status(200,
          s"BM25 index on $table.$field ${if (built) "rebuilt" else "up to date"}."))
      case ("POST", List("api", "rebuild")) =>
        var rebuilt = 0
        catalog.list().foreach { d =>
          val db = catalog.db(d)
          db.listTables().foreach { t =>
            // rebuildIndex dispatches on the field type: dense fields get
            // the IVF layout, sparse fields the inverted-posting index;
            // discovered BM25 impact indexes refresh on the same call
            db.store(t).schema.vectorFields
              .foreach { f => if (db.rebuildIndex(t, f.name)) rebuilt += 1 }
            db.bm25Fields(t)
              .foreach { f => if (db.rebuildBm25Index(t, f)) rebuilt += 1 }
          }
        }
        (200, status(200, s"Rebuild finished ($rebuilt indexes)."))
      case _ =>
        (404, status(404, s"no route for $method $path"))
    }
  }

  private def tableOf(body: String): String =
    org.json4s.jackson.JsonMethods.parse(body) \ "table" match {
      case org.json4s.JString(s) => s
      case _ => throw new IllegalArgumentException("missing table")
    }
}

object GraftHttpServer {
  // The JDK server flushes a response's headers, then writes its body as
  // a second small segment; under Nagle that segment waits for the
  // client's delayed ACK (up to 40 ms a request). The server reads this
  // property once per JVM, when it creates its first server, so it is set
  // here — before any GraftHttpServer creates one — unless the user
  // already chose a value.
  private lazy val setNoDelay: Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")

  private def noDelay(): Unit = setNoDelay
}

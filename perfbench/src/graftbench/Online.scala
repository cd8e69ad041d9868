package graftbench

import graft.api.GraftHttpServer
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.jdk.CollectionConverters._

/** online_mixed: one seeded low-rank clustered table served by
  * GraftHttpServer on loopback in this JVM, under live ingest.
  *
  * Closed-loop readers (all load threads but one) cycle through seven
  * request shapes: four `POST /data/query` with `"serve":true` (unfiltered
  * float top-10, a filter on the declared `label` column, quantized +
  * certified, an 8-vector `queryVectors` batch; all with
  * `"recallTarget":1.0`, so every answer is exact) and three job-path reads
  * (a PK get, a get with a filter, skip/limit and a facet, and a query whose
  * OR filter the serve grammar declines). One open-loop writer sends
  * inserts on a fixed schedule, with an upsert and a PK delete among them. */
final class Online(ctx: Ctx) {
  import Online._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val rep = ctx.report

  private val base = Inputs.vectors(ctx.seed, Rows, Dim)
  private val pool = Inputs.queries(ctx.seed, Pool, Dim)
  private val fresh = Inputs.freshRows(ctx.seed, FreshRows, Dim)

  // ---- request shapes ----

  private def vecJson(q: Array[Float]) = q.map(java.lang.Float.toString).mkString("[", ",", "]")
  private def serveReq(q: Int, extra: String) =
    s"""{"table":"$Table","queryVector":${vecJson(pool(q))},"limit":$K,"serve":true,"recallTarget":1.0,""" +
      s""""withDistance":true$extra}"""
  private def batchIdx(q: Int) = (0 until BatchSize).map(j => (q + j) % Pool)
  private def request(shape: Int, q: Int): (String, String) = shape match {
    case ShapeFloat => ("query", serveReq(q, ""))
    case ShapeFiltered => ("query", serveReq(q, s""","filter":"$Filter""""))
    case ShapeQuant => ("query", serveReq(q, ""","quantized":true,"certified":true"""))
    case ShapeBatch => ("query", s"""{"table":"$Table","queryVectors":""" +
      batchIdx(q).map(i => vecJson(pool(i))).mkString("[", ",", "]") +
      s""","limit":$K,"serve":true,"recallTarget":1.0,"withDistance":true}""")
    case ShapePkGet => ("get", s"""{"table":"$Table","primaryKeys":[${pkOf(q)}],"response":["ID","label"]}""")
    case ShapePage =>
      val (label, below, skip) = pageOf(q)
      ("get", s"""{"table":"$Table","filter":"label = $label AND ID < $below","skip":$skip,""" +
        s""""limit":$PageRows,"response":["ID"],"facets":[{"group":["label"],"aggregate":["COUNT(*)"]}]}""")
    case ShapeOr => ("query", s"""{"table":"$Table","queryVector":${vecJson(pool(q))},"limit":$K,""" +
      s""""serve":true,"filter":"$OrFilter","withDistance":true,"response":["ID","label"]}""")
  }
  // job-path gets read only the lower half of the base rows, which no write
  // touches, so their answers are fixed
  private def pkOf(q: Int): Long = q.toLong * 97 % (Rows / 2)
  private def pageOf(q: Int): (Int, Long, Int) = (q % 10, Rows / 2L - q, q % 7)

  // ---- set-up ----

  private val rowSchema = StructType(Seq(
    StructField("ID", LongType, nullable = false),
    StructField("label", LongType, nullable = false),
    StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))

  private final class Live(val root: String, val db: TracedDb, val server: GraftHttpServer) {
    val url = s"http://127.0.0.1:${server.actualPort}/api/default/data/"
    def close(): Unit = { server.stop(); db.release(); Jvm.deleteDir(root) }
  }

  /** Table load, index build, filter-column declaration and warm-up, all
    * through graft's public API; then the HTTP server. */
  private def setUp(root: String): Live = {
    val db = new TracedDb(spark, root, tracer)
    db.createTable(SchemaJson)
    val rows = (0 until base.n).map(i => Row(i.toLong, base.labels(i).toLong, base.row(i).toSeq))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.threads), rowSchema)
    tracer.span("store.load")(db.store(Table).insert(df))
    ctx.log("set-up: table loaded")
    tracer.span("index.build")(require(db.rebuildIndex(Table, "V"), "index build did not run"))
    ctx.log("set-up: index built")
    db.setServeFilterColumns(Table, "V", Seq("label"))
    // one exhaustive request per residency the shapes use (float, scalar
    // filter columns, 16-bit codes) loads every cluster into it; then every
    // shape once, so the window starts with compiled code and plans
    tracer.span("setup.warm") {
      for (extra <- Seq("", s""","filter":"$Filter"""", ""","quantized":true"""))
        db.query(s"""{"table":"$Table","queryVector":${vecJson(pool(0))},"limit":$K,""" +
          s""""serve":true,"nProbe":$WarmProbe$extra}""")
      for (shape <- Cycle) {
        val (path, body) = request(shape, 0)
        if (path == "get") db.get(body) else db.query(body)
      }
    }
    new Live(root, db, new GraftHttpServer(db, 0).start())
  }

  // ---- responses ----

  private def parse(s: String): JValue = JsonMethods.parse(s)
  private def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong; case JLong(l) => l
    case other => throw new IllegalStateException(s"not an integer: $other")
  }
  private def dbl(v: JValue): Double = v match {
    case JDouble(d) => d; case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
    case JDecimal(d) => d.toDouble
    case other => throw new IllegalStateException(s"not a number: $other")
  }
  private def entries(v: JValue): List[JValue] = (v \ "result") match {
    case JArray(a) => a
    case _ => throw new IllegalStateException(s"no result array: ${JsonMethods.compact(v).take(300)}")
  }
  private def answers(shape: Int, v: JValue): List[JValue] =
    if (shape != ShapeBatch) List(v)
    else (v \ "results") match { case JArray(a) => a; case _ => Nil }
  private def served(v: JValue): Boolean = (v \ "served") == JBool(true)

  /** PKs of one answer: served answers carry `__row_id`, job-path answers
    * the projected `ID`. */
  private def pksOf(v: JValue, rowPk: Long => Long): List[Long] = entries(v).map { e =>
    (e \ "__row_id") match {
      case JNothing => long(e \ "ID")
      case r => rowPk(long(r))
    }
  }

  /** Row id -> PK of the live rows, or (`raw`) of every row the table
    * ever held: deleted and upserted-over rows stay in its data files. */
  private def rowPks(live: Live, raw: Boolean): java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val st = live.db.store(Table)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    (if (raw) st.rawRead() else st.read()).select(graft.store.TableStore.RowId, "ID").collect()
      .foreach(r => m.put(r.getLong(0), r.getLong(1)))
    m
  }

  /** Every row of every served answer of the window was live when the
    * request was sent: a known row whose PK's delete had not been
    * acknowledged by then. A bad answer counts as a failed operation. */
  private def checkServedRows(live: Live): Unit = {
    val pkOf = rowPks(live, raw = true)
    servedRows.asScala.foreach { a =>
      Checks.servedLive(a.rowIds.toSeq, r => Option(pkOf.get(r)).map(_.longValue),
        pk => Option(deletedAt.get(pk)).exists(_ < a.sentNs))
        .foreach(b => rep.fail(s"${ShapeNames(a.shape)} ${a.q}: $b"))
    }
  }

  // ---- the writer's state ----

  /** PK -> (label, fresh row index) of every acknowledged insert/upsert. */
  private val inserted = new ConcurrentHashMap[Long, (Int, Int)]()
  /** PK -> nanoTime its delete was acknowledged. */
  private val deletedAt = new ConcurrentHashMap[Long, java.lang.Long]()
  /** The row ids of every served answer, with when it was sent. */
  private val servedRows = new java.util.concurrent.ConcurrentLinkedQueue[ServedRows]()
  private var nextPk = Rows.toLong
  private var nextFresh = 0
  private var writes = 0L
  private var userBytes = 0.0
  // base PKs the writer deletes: the upper half, in a seeded order
  private val deletable = Inputs.permutation(Rows / 2, new Inputs.Rng(Inputs.streamSeed(ctx.seed, "deletes")))
    .map(i => (Rows / 2 + i).toLong)
  private var nextDelete = 0

  private final class Window {
    val serve, job, write, lag = new Samples
    val reads, serveReqs, servedReqs, resultRows = new AtomicLong
    /** Completed reads by shape, then writes by kind (see [[MixNames]]). */
    val mix = new java.util.concurrent.atomic.AtomicLongArray(MixNames.length)
    /** Until the last reader stopped (the writer may finish later). */
    var readSeconds = 0.0
    var seconds = 0.0
    var gcMs = 0L
  }

  private def client(live: Live): (String, String) => (Int, String) = {
    val c = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    (path: String, body: String) => {
      val r = c.send(HttpRequest.newBuilder(URI.create(live.url + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    }
  }

  /** One measured window: the readers until `seconds` have passed, the
    * writer until its last write (due a period before then) completes. */
  private def window(live: Live, seconds: Double, traced: Boolean): Window = {
    val w = new Window
    val readers = ctx.threads - 1
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val readerThreads = (0 until readers).map(t =>
      new Thread(() => reader(live, t, readers, deadline, w), s"bench-reader-$t"))
    val writerThread = new Thread(() => writer(live, t0, deadline, traced, w), "bench-writer")
    (readerThreads :+ writerThread).foreach(_.start())
    readerThreads.foreach(_.join())
    w.readSeconds = (System.nanoTime() - t0) / 1e9
    writerThread.join()
    w.seconds = (System.nanoTime() - t0) / 1e9
    w.gcMs = Jvm.gcMs - gc0
    w
  }

  private def reader(live: Live, t: Int, readers: Int, deadline: Long, w: Window): Unit = {
    val post = client(live)
    val slots = Pool / readers
    var c = 0L
    while (System.nanoTime() < deadline) {
      // thread t only ever uses pool entries q = t (mod readers), so no two
      // requests in flight share a body
      val q = t + readers * (c % slots).toInt
      val shape = Cycle((c % Cycle.length).toInt)
      c += 1
      val (path, body) = request(shape, q)
      val job = JobShapes.contains(shape)
      val kind = if (job) (if (shape == ShapeOr) "exact" else "get") else "serve"
      val sent = System.nanoTime()
      rep.guard(s"${ShapeNames(shape)} $q") {
        val (code, resp) = tracer.client(s"http.$kind", body)(post(path, body))
        val ms = (System.nanoTime() - sent) / 1e6
        if (code != 200) Some(s"${ShapeNames(shape)}: HTTP $code: ${resp.take(300)}")
        else {
          val v = parse(resp)
          w.reads.incrementAndGet()
          w.mix.incrementAndGet(shape)
          if (job) {
            w.job.add(ms)
            w.resultRows.addAndGet(entries(v).size)
            checkJobRead(shape, q, v, sent)
          } else {
            w.serve.add(ms)
            val as = answers(shape, v)
            w.serveReqs.incrementAndGet()
            if (as.nonEmpty && as.forall(served)) w.servedReqs.incrementAndGet()
            servedRows.add(ServedRows(shape, q, sent,
              as.flatMap(a => entries(a).flatMap(e => (e \ "__row_id") match {
                case JNothing => None
                case r => Some(long(r))
              })).toArray))
            checkServeShape(shape, as)
          }
        }
      }
    }
  }

  /** Serve answers under ingest: the exact answer moves with every commit,
    * so each is checked for shape here, for rows deleted before it was sent
    * once the window ends ([[checkServedRows]]), and exactly once the writer
    * has stopped ([[finalChecks]]). */
  private def checkServeShape(shape: Int, as: List[JValue]): Option[String] =
    if (shape == ShapeBatch && as.size != BatchSize) Some(s"batch of $BatchSize answered ${as.size}")
    else as.flatMap { a =>
      val ds = entries(a).map(e => dbl(e \ "@distance"))
      if (ds.size != K) Some(s"${ShapeNames(shape)}: ${ds.size} rows, expected $K")
      else if (!Checks.ascending(ds)) Some(s"${ShapeNames(shape)}: distances out of order: $ds")
      else None
    }.headOption

  private def checkJobRead(shape: Int, q: Int, v: JValue, sentNs: Long): Option[String] = {
    val es = entries(v)
    shape match {
      case ShapePkGet =>
        val pk = pkOf(q)
        Checks.pkGet(es.map(e => (long(e \ "ID"), long(e \ "label"))), pk, base.labels(pk.toInt))
      case ShapePage =>
        val (label, below, skip) = pageOf(q)
        val expect = (0L until below).filter(pk => base.labels(pk.toInt) == label).slice(skip, skip + PageRows)
        val facet = (v \ "facets") match {
          case JArray(List(JArray(List(g)))) => Some((long(g \ "label"), long(g \ "COUNT(*)")))
          case _ => None
        }
        Checks.page(es.map(e => long(e \ "ID")), expect, facet, label)
      case ShapeOr =>
        Checks.liveTopK(es.map(e => (long(e \ "ID"), long(e \ "label"), dbl(e \ "@distance"))), K,
          l => inOr(l.toInt), pk => Option(deletedAt.get(pk)).exists(_ < sentNs))
          .map("OR query: " + _)
    }
  }

  /** The open-loop writer: write i is due at t0 + i / rate and timed from
    * then. Writes cycle through an insert of [[InsertRows]] new rows, an
    * upsert of an earlier insert, and a PK delete (alternately of a base
    * row and of an earlier insert). Traced windows run the index append as
    * its own call after each write. */
  private def writer(live: Live, t0: Long, deadline: Long, traced: Boolean, w: Window): Unit = {
    val post = client(live)
    val periodNs = (1e9 / WritesPerSecond).toLong
    var i = 0L
    // the last write is due a period before the deadline, so the window
    // does not wait long for it
    while (t0 + (i + 1) * periodNs <= deadline) {
      val due = t0 + i * periodNs
      i += 1
      var now = System.nanoTime()
      while (now < due) { Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt); now = System.nanoTime() }
      w.lag.add((now - due) / 1e6)
      writes += 1
      rep.guard(s"write $writes") {
        val kind = (writes % 3, inserted.isEmpty) match {
          case (2, false) => WriteUpsert
          case (0, _) => WriteDelete
          case _ => WriteInsert
        }
        w.mix.incrementAndGet(kind)
        val problem = kind match {
          case WriteUpsert => upsert(post)
          case WriteDelete => delete(post)
          case _ => insert(post)
        }
        if (traced) tracer.span("index.append")(live.db.appendIndexes(Table))
        w.write.add((System.nanoTime() - due) / 1e6)
        problem
      }
    }
  }

  private def freshRow(pk: Long): (String, Int, Int) = {
    val f = nextFresh % FreshRows
    nextFresh += 1
    (s"""{"ID":$pk,"label":${fresh.labels(f)},"V":${vecJson(fresh.row(f))}}""", fresh.labels(f), f)
  }

  private def send(post: (String, String) => (Int, String), path: String, body: String,
      field: String, expect: Long): Option[String] = {
    val (code, resp) = tracer.client("http.write", body)(post(path, body))
    val n = if (code == 200) long(parse(resp) \ "result" \ field) else -1L
    if (n == expect) None else Some(s"$path: HTTP $code, $field $n, expected $expect: ${resp.take(200)}")
  }

  private def insert(post: (String, String) => (Int, String)): Option[String] = {
    val rows = (0 until InsertRows).map { _ => val pk = nextPk; nextPk += 1; (pk, freshRow(pk)) }
    val body = s"""{"table":"$Table","data":${rows.map(_._2._1).mkString("[", ",", "]")}}"""
    val problem = send(post, "insert", body, "inserted", InsertRows)
    if (problem.isEmpty) {
      rows.foreach { case (pk, (_, label, f)) => inserted.put(pk, (label, f)) }
      userBytes += InsertRows * RowBytes
    }
    problem
  }

  private def anInsertedPk(salt: Long): Long = {
    val live = inserted.keySet.asScala.toSeq.sorted
    live((salt % live.size).toInt)
  }

  private def upsert(post: (String, String) => (Int, String)): Option[String] = {
    val pk = anInsertedPk(writes * 7919L)
    val (json, label, f) = freshRow(pk)
    val problem = send(post, "insert", s"""{"table":"$Table","upsert":true,"data":[$json]}""", "inserted", 1)
    if (problem.isEmpty) { inserted.put(pk, (label, f)); userBytes += RowBytes }
    problem
  }

  private def delete(post: (String, String) => (Int, String)): Option[String] = {
    val pk =
      if ((writes / 3) % 2 == 0 && !inserted.isEmpty) anInsertedPk(writes * 4099L)
      else { nextDelete += 1; deletable(nextDelete - 1) }
    val problem = send(post, "delete", s"""{"table":"$Table","primaryKeys":[$pk]}""", "deleted", 1)
    if (problem.isEmpty) { inserted.remove(pk); deletedAt.put(pk, System.nanoTime()) }
    problem
  }

  /** After the writer stops: every acknowledged insert reads back by PK
    * with its last label, deleted PKs never come back, the count adds up,
    * and a sample of every query shape answers exactly over the final
    * rows. */
  private def finalChecks(live: Live): Unit = {
    val db = live.db
    val ins = inserted.keySet.asScala.toSeq.sorted
    if (ins.nonEmpty) rep.guard("read back inserts") {
      val got = entries(parse(db.get(
        s"""{"table":"$Table","primaryKeys":${ins.mkString("[", ",", "]")},"response":["ID","label"]}""")))
        .map(e => (long(e \ "ID"), long(e \ "label"))).toMap
      Checks.readBack(ins.map(pk => pk -> inserted.get(pk)._1.toLong).toMap, got)
    }
    val dels = deletedAt.keySet.asScala.toSeq.sorted
    if (dels.nonEmpty) rep.guard("deletes stay deleted") {
      Checks.stayDeleted(entries(parse(db.get(
        s"""{"table":"$Table","primaryKeys":${dels.mkString("[", ",", "]")},"response":["ID"]}""")))
        .map(e => long(e \ "ID")))
    }
    val deletedBase = dels.count(_ < Rows)
    rep.guard("final count") {
      Checks.count(long(parse(db.statistics(Table)) \ "totalRecords"), Rows, ins.size, deletedBase)
    }
    // the final rows, exactly
    val keepBase = (0 until Rows).filterNot(i => deletedAt.containsKey(i.toLong))
    val pks = keepBase.map(_.toLong).toArray ++ ins
    val labels = keepBase.map(base.labels(_)).toArray ++ ins.map(pk => inserted.get(pk)._1)
    val flat = new Array[Float](pks.length * Dim)
    keepBase.zipWithIndex.foreach { case (i, j) => System.arraycopy(base.flat, i * Dim, flat, j * Dim, Dim) }
    ins.zipWithIndex.foreach { case (pk, j) =>
      System.arraycopy(fresh.flat, inserted.get(pk)._2 * Dim, flat, (keepBase.size + j) * Dim, Dim) }
    val ex = new Exact(pks, labels, flat, Dim)
    val livePk = rowPks(live, raw = false)
    val rowPk = (rid: Long) => {
      val pk = livePk.get(rid); require(pk != null, s"row id $rid is not live"); pk.longValue
    }
    val all = (_: Int) => true
    val exact = pool.map(ex.topK(_, K, all))
    def expect(i: Int, keep: Int => Boolean) = if (keep eq all) exact(i) else ex.topK(pool(i), K, keep)
    // every pool query of every serve shape; the OR query (a Spark job of
    // about half a second) on a sample. Sent from `threads` threads, as the
    // readers send them.
    val checks = (0 until Pool).flatMap(q => ServeShapes.map(_ -> q)) ++
      (0 until Pool by OrCheckStride).map(ShapeOr -> _)
    def checkQuery(shape: Int, q: Int): Unit =
      rep.guard(s"final ${ShapeNames(shape)} $q") {
        val v = parse(db.query(request(shape, q)._2))
        val (qs, keep, ordered) = shape match {
          case ShapeBatch => (batchIdx(q), all, true)
          case ShapeFiltered => (Seq(q), inFilter _, true)
          case ShapeOr => (Seq(q), inOr _, true)
          case ShapeQuant => (Seq(q), all, false) // a certified id set
          case _ => (Seq(q), all, true)
        }
        val as = answers(shape, v)
        if (as.size != qs.size) Some(s"final ${ShapeNames(shape)}: ${as.size} answers for ${qs.size} queries")
        else as.zip(qs).flatMap { case (a, i) =>
          ex.check(pksOf(a, rowPk), expect(i, keep), pool(i), keep, ordered)
        }.headOption.map(s"final ${ShapeNames(shape)}: " + _)
      }
    val exec = java.util.concurrent.Executors.newFixedThreadPool(ctx.threads)
    try checks.map { case (shape, q) => exec.submit((() => checkQuery(shape, q)): Runnable) }.foreach(_.get())
    finally exec.shutdown()
  }

  /** Completed operations of a window by shape and write kind: the count
    * and the share of all. */
  private def mixJson(w: Window): JValue = {
    val n = MixNames.indices.map(w.mix.get)
    val total = math.max(1L, n.sum)
    JObject(MixNames.indices.map(i =>
      MixNames(i) -> JObject("n" -> JInt(n(i)), "share" -> Json.num(n(i).toDouble / total))).toList)
  }

  // ---- the run ----

  def run(): Unit = {
    val t = ctx.tracer
    if (ctx.traced) t.enable()
    val t0 = System.nanoTime()
    val live = setUp(ctx.dir("db"))
    val setupS = (System.nanoTime() - t0) / 1e9
    ctx.log(f"set-up: $setupS%.2f s")
    if (ctx.traced) {
      t.disable()
      val build = t.named("index.build").last
      val bw = t.work.of(Seq(build.id))
      rep.metric("index.build_s", build.ms / 1000, "s")
      rep.metric("index.build.jobs", bw.jobs, "count")
      rep.metric("index.build.shuffle_mb", bw.shuffleWrite / 1048576.0, "MB")
      t.clear()
    }
    val w = window(live, ctx.seconds, traced = false)
    ctx.log(s"measured ${w.seconds} s: ${w.reads.get} reads, $writes writes")

    rep.metric("setup_s", setupS, "s")
    val opsPerS = w.reads.get / w.readSeconds
    rep.metric("ops_per_s", opsPerS, "1/s")
    rep.metric("latency_ms", Pct.median(w.job.sorted.toSeq), "ms")
    Seq("serve" -> w.serve, "job" -> w.job, "write" -> w.write, "writer_lag" -> w.lag).foreach {
      case (k, s) => rep.note(s"${k}_ms", Pct.summary(s.sorted)) }
    rep.note("mix", mixJson(w))
    if (ctx.traced) traced(live, w, opsPerS)
    checkServedRows(live)
    finalChecks(live)
    ctx.log("final checks done")
    rep.metric("heap_live_mb", Jvm.liveHeapMb(), "MB")
    val liveRows = Rows - deletedAt.keySet.asScala.count(_ < Rows) + inserted.size
    rep.metric("space_amp", Jvm.dirBytes(s"${live.root}/$Table") / (liveRows * RowBytes), "ratio")
    live.close()
  }

  /** The traced window and the per-layer metrics it yields. */
  private def traced(live: Live, untraced: Window, untracedOps: Double): Unit = {
    val t = ctx.tracer
    Pct.at(untraced.serve.sorted, 0.5).foreach(v => rep.metric("client.serve_p50_ms", v, "ms"))
    Pct.at(untraced.job.sorted, 0.5).foreach(v => rep.metric("client.job_p50_ms", v, "ms"))
    // a run has a handful of writes: too few for a percentile
    rep.metric("client.write_ms", Pct.mean(untraced.write.sorted.toSeq), "ms")
    rep.metric("jvm.gc_ms_per_s", untraced.gcMs / untraced.seconds, "ms/s")
    rep.metric("bench.writer_lag_ms", Pct.mean(untraced.lag.sorted.toSeq), "ms")

    live.db.autoAppendIndexes = false
    t.enable()
    val w = window(live, ctx.seconds, traced = true)
    live.db.autoAppendIndexes = true
    t.work.drain()
    rep.metric("bench.trace_overhead", (w.reads.get / w.readSeconds) / untracedOps, "ratio")

    val spans = t.all
    val byId = spans.map(s => s.id -> s).toMap
    // GraftDb calls made for a client request
    val dbTop = spans.filter(s => s.name.startsWith("db.") && byId.get(s.parent).exists(_.name.startsWith("http.")))
    def dbOf(kind: String) = dbTop.filter(s => byId(s.parent).name == s"http.$kind")
    def perOp(x: Double, n: Int) = if (n == 0) 0.0 else x / n
    val clients = dbTop.map(d => byId(d.parent))
    val self = t.selfMs(clients ++ dbTop)
    rep.metric("api.http_self_ms", Pct.mean(clients.map(c => self(c.id))), "ms")
    rep.metric("api.db_call_ms", Pct.mean(dbTop.map(_.ms)), "ms")
    val serveDb = dbOf("serve")
    rep.metric("index.served_ratio", perOp(w.servedReqs.get, w.serveReqs.get.toInt), "ratio")
    rep.metric("index.serve_jobs_per_op", perOp(t.work.of(serveDb.map(_.id)).jobs, serveDb.size), "jobs/op")
    rep.metric("index.append_ms", Pct.mean(t.named("index.append").map(_.ms)), "ms")

    val gets = dbOf("get")
    val exacts = dbOf("exact")
    val jw = t.work.of((gets ++ exacts).map(_.id))
    rep.metric("query.get_ms", Pct.mean(gets.map(_.ms)), "ms")
    rep.metric("query.exact_ms", Pct.mean(exacts.map(_.ms)), "ms")
    rep.metric("query.jobs_per_op", perOp(jw.jobs, gets.size + exacts.size), "jobs/op")
    rep.metric("query.tasks_per_op", perOp(jw.tasks, gets.size + exacts.size), "tasks/op")
    rep.metric("query.records_read_per_result", perOp(jw.recordsRead, w.resultRows.get.toInt), "rows/row")

    val ins = dbOf("write").filter(_.name == "db.insert")
    val dels = dbOf("write").filter(_.name == "db.delete")
    val sw = t.work.of((ins ++ dels).map(_.id))
    val aw = t.work.of(t.named("index.append").map(_.id))
    rep.metric("store.insert_ms", Pct.mean(ins.map(_.ms)), "ms")
    rep.metric("store.delete_ms", Pct.mean(dels.map(_.ms)), "ms")
    rep.metric("store.jobs_per_write", perOp(sw.jobs, ins.size + dels.size), "jobs/op")
    rep.metric("store.shuffle_mb_per_write", perOp(sw.shuffleWrite / 1048576.0, ins.size + dels.size), "MB/op")
    rep.metric("store.bytes_written_per_user_byte",
      if (userBytes == 0) 0.0 else (sw.bytesWritten + aw.bytesWritten) / userBytes, "B/B")
    rep.metric("store.live_files", liveFiles(live), "count")
    val all = t.work.all
    rep.metric("spark.task_wait_ms", perOp(all.waitMs, all.tasks.toInt), "ms")
    rep.metric("spark.task_overhead_ms", perOp(all.overheadMs, all.tasks.toInt), "ms")
    rep.metric("spark.task_retries", all.retries, "count")
    t.disable()

    replayIndex(live)
    t.writeJson(ctx.workDir.resolve("spans.json"))
    rep.metric("index.resident_rows", (parse(live.db.statistics(Table)) \ "indexes") match {
      case JArray(ix) => ix.map(i => long(i \ "residentRows")).sum.toDouble
      case _ => 0.0
    }, "rows")
  }

  /** The pool's vectors replayed straight into IvfIndex.servePoint*, the
    * calls the serve tier makes for each shape, on an index instance of the
    * benchmark's own (warmed first, then timed). */
  private def replayIndex(live: Live): Unit = {
    val idx = new graft.index.IvfIndex(spark, s"${live.root}/$Table/ivf_V",
      graft.store.TableStore.RowId, graft.types.MetricType.Euclidean)
    idx.setServeFilterColumns(Seq("label"))
    val conds = graft.filter.SimpleConjuncts.parse(Filter, live.db.store(Table).schema).get
    val calls: Seq[() => Any] = (0 until Pool).flatMap { q =>
      val v = pool(q)
      Seq(() => idx.servePointRecall("V", v, K, 1.0),
        () => idx.servePointFilteredRecall("V", v, K, 1.0, conds),
        () => idx.servePointQuantizedRecallDetail("V", v, K, 1.0))
    } ++ (0 until Pool by BatchSize).map { q =>
      val qs = batchIdx(q).map(i => (i.toLong, pool(i))).toArray
      () => idx.servePointBatch("V", qs, K, idx.centroids().length,
        probeSets = Some(qs.map { case (_, v) => idx.probeSetForRecall(v, K, 1.0) }))
    }
    calls.foreach(_()) // warm
    val ms = new Samples
    for (_ <- 1 to ReplayRounds; c <- calls) {
      val t0 = System.nanoTime(); c(); ms.add((System.nanoTime() - t0) / 1e6)
    }
    rep.metric("index.serve_ms", Pct.mean(ms.sorted.toSeq), "ms")
    Pct.at(ms.sorted, 0.99).foreach(v => rep.metric("index.serve_p99_ms", v, "ms"))
  }

  private def liveFiles(live: Live): Double = {
    val snap = live.db.store(Table).snapshot().get
    (snap.data ++ snap.tombs).map { d =>
      val p = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.isDirectory(p)) 0L
      else {
        val s = java.nio.file.Files.list(p)
        try s.filter(_.getFileName.toString.endsWith(".parquet")).count() finally s.close()
      }
    }.sum.toDouble
  }
}

object Online {
  val Table = "vecs"
  val Rows = 20000
  val Dim = 64
  /** Raw bytes of one row: ID and label (8 bytes each) and the vector. */
  val RowBytes: Double = 16.0 + 4.0 * Dim
  val Pool = 128
  val K = 10
  val BatchSize = 8
  val PageRows = 20
  /** An assumption, like the read mix ([[Cycle]]): one write of each kind
    * in a 12 s window. On 4 cores under this read load a write takes
    * longer than the period, so writes queue (see bench.writer_lag_ms). */
  val WritesPerSecond = 0.25
  val InsertRows = 16
  val FreshRows = 4000
  /** Every how many pool queries the final check sends the OR query. */
  val OrCheckStride = 16
  /** nProbe above the cluster count: the serve tier caps it at all
    * clusters. */
  val WarmProbe = 9999
  val ReplayRounds = 3
  val Filter = "label < 3"
  def inFilter(label: Int): Boolean = label < 3
  val OrFilter = "label = 1 OR label = 7"
  def inOr(label: Int): Boolean = label == 1 || label == 7

  val SchemaJson: String =
    s"""{"name":"$Table","fields":[{"name":"ID","dataType":"BIGINT","primaryKey":true},""" +
      s"""{"name":"label","dataType":"BIGINT"},""" +
      s"""{"name":"V","dataType":"VECTOR_FLOAT","dimensions":$Dim,"metricType":"EUCLIDEAN"}]}"""

  final val ShapeFloat = 0
  final val ShapeFiltered = 1
  final val ShapeQuant = 2
  final val ShapeBatch = 3
  final val ShapePkGet = 4
  final val ShapePage = 5
  final val ShapeOr = 6
  val ShapeNames = Array("float", "filtered", "quantized", "batch", "pk-get", "paged-get", "or-query")
  val ServeShapes = Seq(ShapeFloat, ShapeFiltered, ShapeQuant, ShapeBatch)
  val JobShapes = Set(ShapePkGet, ShapePage, ShapeOr)
  /** Each reader's request cycle: four serve shapes, three job-path reads.
    * This 4:3 mix, like the writer's rate, is an assumption: neither the
    * paper nor the reference records a traffic mix. The shares a run
    * completed are in its detail line (`mix`). */
  val Cycle = Array(ShapeFloat, ShapePkGet, ShapeFiltered, ShapePage, ShapeQuant, ShapeOr, ShapeBatch)
  final val WriteInsert = 7
  final val WriteUpsert = 8
  final val WriteDelete = 9
  val MixNames: Array[String] = ShapeNames ++ Array("insert", "upsert", "delete")

  /** The row ids of one served answer (all answers of a batch). */
  final case class ServedRows(shape: Int, q: Int, sentNs: Long, rowIds: Array[Long])
}

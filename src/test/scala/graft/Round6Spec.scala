package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index.IvfIndex
import graft.types.MetricType
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Round-6 serving/maintenance fixes: cold-load off the serving lock,
  * bounded tombstone mask with job-path fallback, per-table cache eviction
  * on dropTable, single-job insertPrepare. */
class Round6Spec extends SparkSpec {

  /** 4 well-separated blobs so nProbe=1 deterministically probes one
    * cluster per blob center. */
  private def blobDf(n: Int) = {
    val centers = Seq(
      Array(0f, 0f, 0f, 0f), Array(10f, 0f, 0f, 0f),
      Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    val rows = (1 to n).map { i =>
      val c = centers(i % 4)
      Row(i.toLong, c.zipWithIndex.map { case (x, j) =>
        x + ((i * 31 + j * 7) % 100) / 1000.0f }.toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
  }

  test("warm servePoint is NOT blocked by a concurrent cold-cluster load") {
    val path = tmpDir("ivf_conc")
    IvfIndex.build(spark, blobDf(800), "vec", "id", path,
      MetricType.Euclidean, nClusters = 4, maxIter = 5)
    val slow = new java.util.concurrent.atomic.AtomicBoolean(false)
    val inLoad = new java.util.concurrent.CountDownLatch(1)
    val slowMs = 2500L
    val idx = new IvfIndex(spark, path, "id", MetricType.Euclidean) {
      override protected def loadClusters(vecCol: String, missing: Array[Int]) = {
        if (slow.get()) { inLoad.countDown(); Thread.sleep(slowMs) }
        super.loadClusters(vecCol, missing)
      }
    }
    val qWarm = Array(0f, 0f, 0f, 0f)
    val qCold = Array(0f, 0f, 10f, 0f)
    val warmExpected = idx.servePoint("vec", qWarm, 5, 1).get.toSeq // warms blob-0 cluster
    assert(warmExpected.nonEmpty)
    slow.set(true)
    val cold = Future(idx.servePoint("vec", qCold, 5, 1).get)
    assert(inLoad.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "cold load never started")
    // the cold thread is now sleeping INSIDE loadClusters; before the fix
    // it held the instance lock there and this warm call would stall ~2.5s
    val t0 = System.nanoTime()
    val warm = idx.servePoint("vec", qWarm, 5, 1).get.toSeq
    val warmMs = (System.nanoTime() - t0) / 1e6
    assert(warm == warmExpected)
    assert(warmMs < slowMs / 2,
      f"warm serve took $warmMs%.0f ms — blocked behind the cold load")
    assert(Await.result(cold, 30.seconds).nonEmpty)
  }

  private def denseDbFixture(dir: String, shift: Float = 0f): graft.api.GraftDb = {
    val db = new graft.api.GraftDb(spark, tmpDir(dir))
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val rows = (1 to 600).map { i =>
      Row(i.toLong, Seq(shift + (i % 83) / 83.0f, (i % 47) / 47.0f,
        (i % 29) / 29.0f, (i % 13) / 13.0f))
    }
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    assert(db.rebuildIndex("T", "V"))
    db
  }

  private val qJson = """[0.5,0.5,0.5,0.5]"""

  test("serving tombstone mask over the cap falls back to the job path, results identical") {
    val db = denseDbFixture("tombcap")
    def serveResp(): String = db.query(
      s"""{"table":"T","queryVector":$qJson,"limit":5,"serve":true}""")
    val before = serveResp()
    assert(before.contains("\"served\":true"), before)
    val victims = "\"__row_id\":(\\d+)".r.findAllMatchIn(before)
      .map(_.group(1).toLong).toSeq.take(3)
    db.delete(s"""{"table":"T","primaryKeys":[${victims.mkString(",")}]}""")
    // within the cap: still served, deletes masked
    val served = serveResp()
    assert(served.contains("\"served\":true"))
    assert(victims.forall(v => !served.contains(s""""__row_id":$v""")))
    // cap below the tombstone count: serve declines, the job path answers
    db.maxServeTombstones = 2
    val fallback = serveResp()
    assert(!fallback.contains("\"served\""),
      s"over-cap tombstones must fall back to the job path: $fallback")
    val jobIds = "\"ID\":(\\d+)".r.findAllMatchIn(fallback).map(_.group(1).toLong).toSeq
    assert(jobIds.size == 5 && victims.forall(v => !jobIds.contains(v)))
  }

  test("dropTable evicts per-table caches: a re-created table serves fresh data") {
    val db = denseDbFixture("dropev")
    val ids1 = db.queryDataFrame(
      s"""{"table":"T","queryVector":$qJson,"limit":5,"ann":true}""")
      .select("ID").collect().map(_.getLong(0)).toSeq
    assert(ids1.nonEmpty)
    // also warm the serving caches so stale state would be visible
    db.query(s"""{"table":"T","queryVector":$qJson,"limit":5,"serve":true}""")
    db.dropTable("T")
    assert(db.listTables().isEmpty)
    // recreate under the same name with SHIFTED vectors: without cache
    // eviction the stale IvfIndex would point at the deleted path
    val root = db.root
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val rows = (1 to 600).map { i =>
      Row((1000 + i).toLong, Seq(5f + (i % 83) / 83.0f, (i % 47) / 47.0f,
        (i % 29) / 29.0f, (i % 13) / 13.0f))
    }
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    assert(db.rebuildIndex("T", "V"))
    val ids2 = db.queryDataFrame(
      s"""{"table":"T","queryVector":$qJson,"limit":5,"ann":true}""")
      .select("ID").collect().map(_.getLong(0)).toSeq
    assert(ids2.forall(_ > 1000), s"stale index served old rows: $ids2")
    val serve2 = db.query(
      s"""{"table":"T","queryVector":$qJson,"limit":5,"serve":true}""")
    assert(serve2.contains("\"served\":true"))
    assert("\"__row_id\":(\\d+)".r.findAllMatchIn(serve2)
      .map(_.group(1).toLong).forall(_ <= 600)) // fresh row ids restart at 1
  }

  test("JSON insert auto-appends to an existing dense index (fresh tail stays empty)") {
    val db = denseDbFixture("autoapp")
    val st = db.store("T")
    val idx = graft.index.IvfIndex // type only for clarity; instance via meta below
    val metaPath = s"${db.root}/T/ivf_V/ivf_meta.json"
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(metaPath)))
    def idxWm(): Long = {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(metaPath)))
      "\"watermark\":(\\d+)".r.findFirstMatchIn(s).get.group(1).toLong
    }
    val wmBefore = idxWm()
    assert(wmBefore == 600L)
    // JSON-surface insert of rows ADJACENT to the query point: they land in
    // the store AND the index layout, and must dominate the probed top-k
    val data = (601 to 650).map(i =>
      s"""{"ID":$i,"V":[${0.5 + (i - 600) * 1e-4},0.5,0.5,0.5]}""")
      .mkString("[", ",", "]")
    db.insert(s"""{"table":"T","data":$data}""")
    assert(idxWm() == 650L,
      "insert must append rows above the watermark to the existing index")
    assert(st.snapshot().get.watermark == 650L)
    // appended rows are searchable through the index path (no fresh tail)
    val ids = db.queryDataFrame(
      s"""{"table":"T","queryVector":$qJson,"limit":10,"ann":true}""")
      .select("ID").collect().map(_.getLong(0)).toSeq
    assert(ids.forall(_ > 600L),
      s"appended near-query rows must win the ANN top-k, got $ids")
    // disabled: the next insert leaves the index watermark put
    db.autoAppendIndexes = false
    db.insert(s"""{"table":"T","data":[{"ID":651,"V":[0.1,0.2,0.3,0.4]}]}""")
    assert(idxWm() == 650L && st.snapshot().get.watermark == 651L)
  }

  test("serving stays WARM across ingest-time appends (snapshot-pinned residency)") {
    val db = denseDbFixture("warmserve")
    val q = """{"table":"T","queryVector":[0.5,0.5,0.5,0.5],"limit":3,"serve":true}"""
    // warm the probed clusters
    assert(db.query(q).contains("\"served\":true"))
    // ingest a row AT the query point: auto-append moves the index
    // watermark; the serve cache must NOT flush (gen unchanged) — the new
    // row arrives via the fresh tail above the serving pin
    db.insert("""{"table":"T","data":[{"ID":9000,"V":[0.5,0.5,0.5,0.5]}]}""")
    val (served, jobs) = countJobs(db.query(q))
    assert(served.contains("\"served\":true"), served)
    // the fresh row is the exact query point: distance 0, rank 1
    val top = "\"__row_id\":(\\d+)".r.findFirstMatchIn(served).get.group(1).toLong
    assert(top == 601L, s"appended row must serve from the tail: $served")
    // ONLY the tail re-collect may run (CollectLimit scale-up can split
    // it into a few jobs) — no cluster reload, no centroid re-read (the
    // regression this test pins: append used to flush all residency)
    val offenders = jobs.stageDetails
      .filter(d => d.contains("loadClusters") || d.contains("centroids"))
    assert(offenders.isEmpty,
      s"append flushed serving residency:\n${offenders.mkString("\n").take(800)}")
    val (again, warm) = countJobs(db.query(q))
    assert(again.contains("\"served\":true"))
    assert(warm.n == 0, s"fully warm serve ran ${warm.n} job(s)")
    // a FULL rebuild (gen bump) must flush and re-pin: force via drift
    val data = (9001 to 9500).map(i =>
      s"""{"ID":$i,"V":[${(i % 83) / 83.0f},0.1,0.1,0.1]}""").mkString("[", ",", "]")
    db.insert(s"""{"table":"T","data":$data}""")
    assert(db.rebuildIndex("T", "V"), "drift bound must force the rebuild")
    val after = db.query(q)
    assert(after.contains("\"served\":true"))
    assert("\"__row_id\":(\\d+)".r.findFirstMatchIn(after).get.group(1).toLong == 601L,
      s"post-rebuild serve lost the row: $after")
  }

  test("dense appends past the drift bound force the scheduled rebuild") {
    val db = denseDbFixture("drift")
    val st = db.store("T")
    def insertBatch(from: Int, until: Int): Unit = {
      val data = (from until until).map(i =>
        s"""{"ID":$i,"V":[${(i % 83) / 83.0f},0.5,0.5,0.5]}""").mkString("[", ",", "]")
      db.insert(s"""{"table":"T","data":$data}""")
    }
    // +10%: auto-append keeps meta in sync, the scheduler skips
    insertBatch(601, 661)
    assert(!db.rebuildIndex("T", "V"), "10% appended drift must skip")
    // +60% total since the full build: the drift bound forces a rebuild
    insertBatch(661, 961)
    assert(db.rebuildIndex("T", "V"), "60% appended drift must rebuild")
    assert(!db.rebuildIndex("T", "V"), "fresh build -> skip again")
  }

  test("WAL replay -> maintenance append -> serving continuity (end-to-end)") {
    val db = denseDbFixture("walserve")
    val st = db.store("T")
    val q = """{"table":"T","queryVector":[0.5,0.5,0.5,0.5],"limit":3,"serve":true}"""
    assert(db.query(q).contains("\"served\":true")) // warm residency
    // rows arrive through the WAL, replayed by structured streaming into
    // the TableStore DIRECTLY (no GraftDb.insert, so no inline append)
    val walDir = tmpDir("walserve_wal")
    graft.streaming.WalStream.append(walDir, 1, "INSERT",
      payload = """{"ID":9000,"V":[0.5,0.5,0.5,0.5]}""")
    val sq = graft.streaming.WalStream.start(spark, walDir, st, tmpDir("walserve_ckpt"))
    try sq.processAllAvailable() finally sq.stop()
    assert(st.count() == 601)
    // the replayed row reaches serving immediately via the fresh tail...
    val viaTail = db.query(q)
    assert("\"__row_id\":(\\d+)".r.findFirstMatchIn(viaTail).get.group(1).toLong == 601L,
      s"replayed row must serve from the tail: $viaTail")
    // ...and the next maintenance tick APPENDS it into the index layout
    // (no full rebuild) — the reference's WAL-then-index-add ordering
    val r = new graft.api.Maintenance(db, retentionMs = Long.MaxValue).tick()
    assert(r.indexesAppended == 1 && r.indexesRebuilt == 0, r)
    val metaPath = s"${db.root}/T/ivf_V/ivf_meta.json"
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(metaPath))).contains("\"watermark\":601"))
    // serving stays correct after the append moved the watermark
    val after = db.query(q)
    assert(after.contains("\"served\":true"))
    assert("\"__row_id\":(\\d+)".r.findFirstMatchIn(after).get.group(1).toLong == 601L,
      s"post-append serve lost the replayed row: $after")
  }

  test("insertPrepare runs exactly ONE job/action") {
    import spark.implicits._
    val schema = graft.types.TableSchema("Prep", Seq(
      graft.types.FieldSchema("ID", graft.types.FieldType.BigInt, primaryKey = true),
      graft.types.FieldSchema("Doc", graft.types.FieldType.Str)))
    val store = graft.store.TableStore.create(spark, tmpDir("prep"), schema)
    store.insert((1L to 50L).map(i => (i, s"d$i")).toDF("ID", "Doc"))
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        execs.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (total, words) = store.insertPrepare(Seq(1L, 2L, 999L))
      assert(total == 50L)
      assert((words(0) & 1) == 0 && (words(0) & 2) == 0, "existing pks -> bit cleared")
      assert((words(0) & 4) != 0, "absent pk -> bit stays set")
      val deadline = System.currentTimeMillis + 5000
      while (execs.get() < 1 && System.currentTimeMillis < deadline) Thread.sleep(50)
      Thread.sleep(500) // allow any unexpected second action to surface
      assert(execs.get() == 1, s"insertPrepare ran ${execs.get()} actions, want 1")
    } finally spark.listenerManager.unregister(listener)
  }
}

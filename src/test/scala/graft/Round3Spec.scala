package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.types._
import graft.store.TableStore
import graft.index.IvfIndex
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.index.{ServeProbe, ServeTier}
import ServeCalls._

/** Round-3 regression coverage: ANN consistency across compact(),
  * cross-process index freshness, vacuum grace, facet-cache release,
  * WAL payload cap, catalog path guard, dedup convergence guard. */
class Round3Spec extends SparkSpec {

  private def annIds(resp: String): Seq[Int] =
    (JsonMethods.parse(resp) \ "result").asInstanceOf[JArray].arr
      .map(r => (r \ "ID") match { case JInt(i) => i.toInt; case _ => fail("no ID") })

  test("ANN excludes compacted-away deletes (purge generation)") {
    val db = new graft.api.GraftDb(spark, tmpDir("r3_ann_compact"))
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"INT","primaryKey":true},
        |{"name":"Vec","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("T")
    val rows = (0 until 600).map(i =>
      Row(i, Seq(i.toFloat, 0f, 0f, 0f)))
    st.insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), st.schema.structType))
    assert(db.rebuildIndex("T", "Vec"))
    val idxPath = s"${db.root}/T/ivf_Vec"
    val idx = new IvfIndex(spark, idxPath, TableStore.RowId, MetricType.Euclidean)
    assert(idx.indexedPurgeGen() == 0L && st.purgeGen() == 0L)

    // delete the 10 best matches for the query point, then compact: the
    // tombstones are folded away while the clustered copy still has them
    st.delete(pks = (0 until 10).map(Int.box))
    st.compact()
    assert(st.purgeGen() == 1L)
    assert(idx.indexedPurgeGen() == 0L) // index predates the purge

    val q = """{"table":"T","queryVector":[0,0,0,0],"limit":5,"ann":true}"""
    val got = annIds(db.query(q))
    assert(got == Seq(10, 11, 12, 13, 14), s"stale ANN rows leaked: $got")

    // the purge mismatch forces a rebuild even though it alone would look
    // count-changed anyway; after it the fast tombstone path is back
    assert(db.rebuildIndex("T", "Vec"))
    assert(idx.indexedPurgeGen() == 1L)
    assert(annIds(db.query(q)) == Seq(10, 11, 12, 13, 14))
  }

  test("second IvfIndex instance sees append made through the first (cross-process freshness)") {
    import spark.implicits._
    val dir = tmpDir("r3_fresh")
    val base = (0 until 600).map(i => (i.toLong, Seq(i.toFloat, 1f))).toDF("id", "v")
    val idx1 = IvfIndex.build(spark, base, "v", "id", dir, MetricType.Euclidean,
      nClusters = 4, maxIter = 3)
    val idx2 = new IvfIndex(spark, dir, "id", MetricType.Euclidean)
    assert(idx2.clustered().count() == 600)
    val extra = (600 until 650).map(i => (i.toLong, Seq(i.toFloat, 1f))).toDF("id", "v")
    assert(idx1.append(extra, "v") == 50)
    // idx2 was NOT reopened — the meta stamp re-read must invalidate its cache
    assert(idx2.clustered().count() == 650)
    assert(idx2.indexedWatermark() == 649L)
  }

  test("query/get with facets leave no cached RDD behind") {
    val db = new graft.api.GraftDb(spark, tmpDir("r3_facets"))
    db.createTable(
      """{"name":"F","fields":[
        |{"name":"ID","dataType":"INT","primaryKey":true},
        |{"name":"Grp","dataType":"STRING"},
        |{"name":"Vec","dataType":"VECTOR_FLOAT","dimensions":2,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    db.insert(
      """{"table":"F","data":[
        |{"ID":1,"Grp":"a","Vec":[0.0,0.0]},
        |{"ID":2,"Grp":"a","Vec":[1.0,0.0]},
        |{"ID":3,"Grp":"b","Vec":[2.0,0.0]}]}""".stripMargin)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val q = db.query(
      """{"table":"F","queryVector":[0.0,0.0],"limit":2,
        |"facets":[{"group":["Grp"],"aggregate":["COUNT(*)"]}]}""".stripMargin)
    assert(q.contains("facets"))
    val g = db.get(
      """{"table":"F","limit":2,
        |"facets":[{"group":["Grp"],"aggregate":["COUNT(*)"]}]}""".stripMargin)
    assert(g.contains("facets"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"facet caches leaked RDDs: $leaked")
  }

  test("searchQuantized: candidate scan reads codes not floats; result == exact top-k") {
    import spark.implicits._
    val dir = tmpDir("r3_quant")
    val rnd = new scala.util.Random(11)
    val data = (0 until 1000).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2f - 1f))
    }.toDF("id", "v")
    val idx = IvfIndex.build(spark, data, "v", "id", dir, MetricType.Euclidean,
      nClusters = 4, maxIter = 3)
    val q = Array.fill(16)(0.1f)
    // full probe + rerank must equal brute force exactly
    val got = idx.search("v", q, k = 10, ServeProbe.Nearest(4), ServeTier.Quantized(certify = false))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val exact = data
      .withColumn("d", graft.functions.l2sqr_distance(col("v"), org.apache.spark.sql.functions.lit(q)))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"quantized rerank diverged: $got vs $exact")
    // the candidate cut's parquet scan must NOT read the float column
    val plan = idx.search("v", q, k = 10, ServeProbe.Nearest(4), ServeTier.Quantized(certify = false)).queryExecution.sparkPlan
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.requiredSchema.fieldNames.toSet
    }
    assert(scans.exists(s => s.contains("__qcode") && !s.contains("v")),
      s"no float-free quantized scan found: $scans")
  }

  test("servePoint: driver-side serving matches the job path, zero jobs when warm") {
    import spark.implicits._
    val dir = tmpDir("r3_serve")
    val rnd = new scala.util.Random(23)
    val data = (0 until 2000).map { i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat()))
    }.toDF("id", "v")
    val idx = IvfIndex.build(spark, data, "v", "id", dir, MetricType.Euclidean,
      nClusters = 8, maxIter = 3)
    val q = Array.fill(8)(0.5f)
    val viaJob = idx.search("v", q, 10, ServeProbe.Nearest(8))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val served = idx.serveOne("v", q, 10, ServeProbe.Nearest(8)).map(_.hits).get
    assert(served.map(_._1).toSeq == viaJob)
    assert(served.map(_._2).toSeq == served.map(_._2).toSeq.sorted) // ascending distance
    // warm path runs no Spark job
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    idx.serveOne("v", q, 10, ServeProbe.Nearest(8)).map(_.hits)
    idx.serveOne("v", Array.fill(8)(0.1f), 10, ServeProbe.Nearest(8)).map(_.hits)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, s"warm servePoint ran ${after - before} Spark job(s)")
    // exclusion mask drops a served id
    val excluded = served.head._1
    val masked = idx.serveOne("v", q, 10, ServeProbe.Nearest(8),
      exclude = _ == excluded).map(_.hits).get
    assert(!masked.map(_._1).contains(excluded))
    // LRU budget: all 8 clusters are resident (2000 rows); shrinking the
    // budget evicts least-recently-probed clusters on the next query
    assert(idx.servingResidentRows() == 2000)
    idx.maxServeRows = 600
    val s2 = idx.serveOne("v", Array.fill(8)(0.9f), 5, ServeProbe.Nearest(1)).map(_.hits).get
    assert(s2.nonEmpty)
    assert(idx.servingResidentRows() < 2000,
      s"no eviction happened: resident ${idx.servingResidentRows()}")
  }

  test("serve:true JSON query answers from the index, masks deletes, survives 32 threads") {
    val db = new graft.api.GraftDb(spark, tmpDir("r3_serve_api"))
    db.createTable(
      """{"name":"S","fields":[
        |{"name":"ID","dataType":"INT","primaryKey":true},
        |{"name":"Vec","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("S")
    val rows = (0 until 600).map(i => Row(i, Seq(i.toFloat, 0f, 0f, 0f)))
    st.insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), st.schema.structType))
    // no index yet: serve falls back to the job path (full rows rendered)
    val q = """{"table":"S","queryVector":[0,0,0,0],"limit":3,"serve":true}"""
    assert(!db.query(q).contains("\"served\""))
    assert(db.rebuildIndex("S", "Vec"))
    val served = db.query(q)
    assert(served.contains("\"served\":true"), served)
    val ids = (JsonMethods.parse(served) \ "result").asInstanceOf[JArray].arr
      .map(r => (r \ "__row_id") match { case JInt(i) => i.toInt; case _ => fail("no id") })
    assert(ids == List(1, 2, 3)) // __row_id is 1-based insertion order
    // a delete is masked immediately (tombstone set, no rebuild needed)
    db.delete("""{"table":"S","primaryKeys":[0]}""")
    val afterDel = db.query(q)
    val ids2 = (JsonMethods.parse(afterDel) \ "result").asInstanceOf[JArray].arr
      .map(r => (r \ "__row_id") match { case JInt(i) => i.toInt; case _ => fail("no id") })
    assert(ids2 == List(2, 3, 4), afterDel)
    // the reference's 32-thread concurrency harness, against serving
    val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
    val errs = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = (0 until 32).map { t =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            var i = 0
            while (i < 50) {
              val r = db.query(
                s"""{"table":"S","queryVector":[${t % 7},0,0,0],"limit":5,"serve":true}""")
              if (!r.contains("\"served\":true")) errs.incrementAndGet()
              i += 1
            }
          } catch { case _: Throwable => errs.incrementAndGet() }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    assert(errs.get() == 0, s"${errs.get()} serving failures under concurrency")
  }

  test("oversized inline WAL payload is rejected with a payloadPath pointer") {
    val big = "x" * (graft.streaming.WalStream.MaxInlinePayloadBytes + 1)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.WalStream.append(tmpDir("r3_wal"), 1L, "INSERT", payload = big)
    }
    assert(e.getMessage.contains("payloadPath"))
  }

  test("catalog load with a conflicting path throws instead of returning the wrong db") {
    val cat = new graft.api.GraftCatalog(spark, tmpDir("r3_cat"))
    val db = cat.load("alpha")
    assert(cat.load("alpha").root == db.root) // idempotent without a path
    val other = tmpDir("r3_cat_other")
    val e = intercept[IllegalArgumentException](cat.load("alpha", other))
    assert(e.getMessage.contains("already loaded"))
  }

  test("duplicateClusters throws on non-convergence instead of splitting components") {
    import spark.implicits._
    // a 40-node chain: pointer-jumping resolves it in O(log 39) rounds,
    // but one round only reaches ~3 hops — must throw, not split
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      graft.pipeline.Dedup.duplicateClusters(chain, maxIter = 1, driverThreshold = 0)
    }
    assert(e.getMessage.contains("converge"))
    val ok = graft.pipeline.Dedup.duplicateClusters(chain, maxIter = 10, driverThreshold = 0)
    assert(ok.select(col("cluster")).distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("serve:true merges fresh rows above the indexed watermark; warm tail runs no jobs") {
    val db = new graft.api.GraftDb(spark, tmpDir("r3_serve_tail"))
    // ingest-time append would empty the fresh tail this test exercises;
    // keep rows above the watermark (the direct-TableStore-writer shape)
    db.autoAppendIndexes = false
    db.createTable(
      """{"name":"FT","fields":[
        |{"name":"ID","dataType":"INT","primaryKey":true},
        |{"name":"Vec","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("FT")
    val rows = (0 until 600).map(i => Row(i, Seq(i.toFloat + 10f, 0f, 0f, 0f)))
    st.insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), st.schema.structType))
    assert(db.rebuildIndex("FT", "Vec"))
    val q = """{"table":"FT","queryVector":[0,0,0,0],"limit":3,"serve":true}"""
    // nearest indexed rows are ids 0,1,2 (__row_id 1,2,3)
    val before = (JsonMethods.parse(db.query(q)) \ "result").asInstanceOf[JArray].arr
      .map(r => (r \ "__row_id") match { case JInt(i) => i.toInt; case _ => fail("no id") })
    assert(before == List(1, 2, 3))
    // insert fresh rows AT the query point — above the indexed watermark
    db.insert("""{"table":"FT","data":[
      {"ID":9000,"Vec":[0,0,0,0]},{"ID":9001,"Vec":[1,0,0,0]}]}""")
    val served = db.query(q)
    assert(served.contains("\"served\":true"), served)
    val after = (JsonMethods.parse(served) \ "result").asInstanceOf[JArray].arr
      .map(r => (r \ "__row_id") match { case JInt(i) => i.toInt; case _ => fail("no id") })
    assert(after == List(601, 602, 1), served) // fresh rows win, then id 0
    // warm path: the tail is resident — serving again runs zero Spark jobs
    val tracker = spark.sparkContext.statusTracker
    val jobsBefore = tracker.getJobIdsForGroup(null).length
    db.query(q)
    assert(tracker.getJobIdsForGroup(null).length == jobsBefore,
      "warm fresh-tail serve ran a Spark job")
    // an oversized tail falls back to the job path instead of pinning it
    db.maxServeTailRows = 1
    assert(!db.query(q).contains("\"served\""))
    db.maxServeTailRows = 100000
    assert(db.query(q).contains("\"served\":true"))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import graft.index.{IvfIndex, SparseIndex}
import graft.types.MetricType
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.index.ServeProbe
import ServeCalls._

/** Round 8: serving cold loads are gated by a CARDINALITY PRE-CHECK —
  * per-dim / per-cluster counts persisted at build time are consulted
  * BEFORE any posting list or cluster is collected to the driver, and an
  * over-budget probe set DECLINES to the job path (reference behavior
  * being preserved: serving answers exactly or not at all; the analog of
  * the brute-force fallback below MinimalGraphSize, config.hpp:22). A
  * stop-word-grade dim or a degenerate k-means cluster at 100 TB must
  * never OOM the driver through one unbounded collect. */
class Round8Spec extends SparkSpec {

  private def svSchema(idName: String) = StructType(Seq(
    StructField(idName, LongType, nullable = false),
    StructField("sv", SparseVec.sqlType, nullable = true)))

  /** Corpus with one STOP-WORD dim: dim 0 appears in EVERY row; dims
    * 10..59 are light (n/50 rows each). */
  private def hotCorpus(n: Int, idName: String = "id"): DataFrame = {
    val rows = (1 to n).map { i =>
      Row(i.toLong, Row(
        Seq(0, 10 + (i % 50)),
        Seq(1.0f + (i % 7), (i % 5 + 0.5).toFloat)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), svSchema(idName))
  }

  private def dotTopK(df: DataFrame, qIdx: Array[Int], qVal: Array[Float],
      k: Int): Seq[(Long, Double)] = {
    val qc = struct(lit(qIdx).as("indices"), lit(qVal).as("values"))
    df.withColumn("dot", sparse_dot(col("sv"), qc))
      .filter(col("dot") > 0)
      .orderBy(col("dot").desc, col("id").asc)
      .limit(k).select("id", "dot").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("sparse serving declines a hot dim BEFORE collecting it; job path answers identically") {
    val df = hotCorpus(600)
    val path = tmpDir("sp_guard")
    SparseIndex.build(spark, df, "sv", "id", path, buckets = 8)
    val loadedDims = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val idx = new SparseIndex(spark, path, "id") {
      override protected def loadDimPostings(missing: Array[Int]) = {
        missing.foreach(loadedDims.add(_))
        super.loadDimPostings(missing)
      }
    }
    idx.maxServePostings = 100 // dim 0 alone holds 600 postings
    // round 9: dot serving now answers the hot dim EXACTLY via the WAND
    // prefix path — the FULL hot list is still never collected (the
    // impact-ordered prefix fits the remaining budget, and the persisted
    // magnitude bound proves the excluded tail cannot reach the top-k)
    val servedHot = idx.servePointDot(Array(0, 15), Array(1f, 1f), 10)
    assert(servedHot.isDefined, "WAND-capable layout must serve the hot dim")
    assert(!loadedDims.contains(0),
      s"dim 0's full list was collected despite the guard: $loadedDims")
    assert(servedHot.get.toSeq == dotTopK(df, Array(0, 15), Array(1f, 1f), 10))
    // Euclidean serving has no WAND analog: still declines, still never
    // collects the hot dim
    assert(idx.servePointEuclid(Array(0, 15), Array(1f, 1f), 10).isEmpty)
    assert(!loadedDims.contains(0))
    // the job path answers the same query exactly (this is where the
    // declined Euclidean query lands)
    val viaJob = idx.topKDot(Array(0, 15), Array(1f, 1f), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaJob == dotTopK(df, Array(0, 15), Array(1f, 1f), 10))
    // a light-dim query still serves off full residency, exactly
    val served = idx.servePointDot(Array(15, 20), Array(1f, 1f), 10)
    assert(served.isDefined, "light dims fit the budget and must serve")
    assert(served.get.toSeq == dotTopK(df, Array(15, 20), Array(1f, 1f), 10))
  }

  test("sparse guard works without dim_stats (pre-stats layout): count probe declines, never collects") {
    val df = hotCorpus(600)
    val path = tmpDir("sp_guard_old")
    SparseIndex.build(spark, df, "sv", "id", path, buckets = 8)
    // emulate a layout written before the stats file existed
    val statsDir = java.nio.file.Paths.get(s"$path/dim_stats")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(statsDir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    val loadedDims = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val idx = new SparseIndex(spark, path, "id") {
      override protected def loadDimPostings(missing: Array[Int]) = {
        missing.foreach(loadedDims.add(_))
        super.loadDimPostings(missing)
      }
    }
    assert(idx.dimStatsResident().isEmpty, "stats file deleted: dimStats must be None")
    idx.maxServePostings = 100
    assert(idx.servePointDot(Array(0, 15), Array(1f, 1f), 10).isEmpty,
      "pre-stats layout must still decline via the count probe")
    assert(!loadedDims.contains(0),
      s"dim 0 was collected despite the probe guard: $loadedDims")
    // light dims still serve off the probe-guarded path
    assert(idx.servePointDot(Array(15, 20), Array(1f, 1f), 10).get.toSeq ==
      dotTopK(df, Array(15, 20), Array(1f, 1f), 10))
  }

  test("dim_stats track appends: counts match the layout after incremental maintenance") {
    val df = hotCorpus(200)
    val path = tmpDir("sp_stats_append")
    val idx = SparseIndex.build(spark, df, "sv", "id", path, buckets = 8)
    val more = hotCorpus(260).filter(col("id") > 200)
    idx.append(SparseIndex.postingsOf(more, "sv", "id"), newRows = 60,
      newMaxId = 260, norms = Some(SparseIndex.normsOfColumn(more, "sv", "id")))
    val (stats, cutoff) = idx.dimStatsResident().get
    val actual = idx.postings().groupBy(col("dim")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stats == actual && cutoff == 0L,
      s"stats drifted from the layout after append: $stats vs $actual")
    assert(stats(0) == 260L) // the hot dim counts every row, old + appended
  }

  test("bounded resident stats: absent dims are charged the truncation cutoff, hot dims exact") {
    val df = hotCorpus(600)
    val path = tmpDir("sp_stats_bounded")
    SparseIndex.build(spark, df, "sv", "id", path, buckets = 8)
    val idx = new SparseIndex(spark, path, "id")
    idx.maxResidentDimStats = 2 // way below the 51 distinct dims
    val (m, cutoff) = idx.dimStatsResident().get
    assert(m.size == 2 && m(0) == 600L, m.toString) // the hot dim is retained exactly
    assert(cutoff == 12L, s"cutoff must be the smallest retained count: $cutoff")
    idx.maxServePostings = 100
    // absent light dims are charged the cutoff (2 x 12 = 24 <= 100): serves
    assert(idx.servePointDot(Array(15, 20), Array(1f, 1f), 10).get.toSeq ==
      dotTopK(df, Array(15, 20), Array(1f, 1f), 10))
    // the retained hot dim still declines once the WAND prefix is too
    // short to prove anything (tail bound ties the k-th certain score)
    idx.maxServeHotPrefix = 2
    assert(idx.servePointDot(Array(0, 15), Array(1f, 1f), 10).isEmpty)
  }

  /** Two blobs, one heavy (all rows but `light`) and one light — k-means
    * with 2 clusters separates them, leaving a degenerate hot cluster. */
  private def skewedVectors(n: Int, light: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val base = if (i < light) 10f else 0f
      Row(i.toLong, Seq(base + (i % 13) * 0.01f, base, base, base))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
  }

  test("IVF serving declines a degenerate hot cluster BEFORE collecting it") {
    val df = skewedVectors(2000, light = 200)
    val path = tmpDir("ivf_guard")
    IvfIndex.build(spark, df, "vec", "id", path, MetricType.Euclidean,
      nClusters = 2, maxIter = 5)
    val loadedClusters = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val idx = new IvfIndex(spark, path, "id", MetricType.Euclidean) {
      override protected def loadClusters(vecCol: String, missing: Array[Int]) = {
        missing.foreach(loadedClusters.add(_))
        super.loadClusters(vecCol, missing)
      }
    }
    idx.maxServeRows = 500 // hot cluster holds 1800 rows
    // probing near the heavy blob must decline, and the decline happens
    // BEFORE the 1800-row cluster is collected
    val declined = idx.serveOne("vec", Array(0f, 0f, 0f, 0f), 10, ServeProbe.Nearest(1)).map(_.hits)
    assert(declined.isEmpty, "degenerate-cluster probe must decline to the job path")
    assert(loadedClusters.isEmpty,
      s"hot cluster was collected despite the guard: $loadedClusters")
    // the light blob's cluster fits and serves, matching the job path
    val served = idx.serveOne("vec", Array(10f, 10f, 10f, 10f), 10, ServeProbe.Nearest(1)).map(_.hits)
    assert(served.isDefined, "light cluster fits the budget and must serve")
    val viaJob = idx.search("vec", Array(10f, 10f, 10f, 10f), 10, nProbe = 1)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(served.get.map(_._1).toSeq == viaJob)
    // stats agree with the layout
    val stats = idx.clusterStats().get
    assert(stats.values.sum == 2000L && stats.values.max >= 1800L, stats.toString)
  }

  test("serve:true falls back to the job path on an over-budget probe, result identical") {
    val db = new graft.api.GraftDb(spark, tmpDir("r8_db"))
    db.createTable(
      """{"name":"Hot","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    val st = db.store("Hot")
    st.insert(hotCorpus(600, "ID").withColumnRenamed("sv", "SV"))
    assert(db.rebuildIndex("Hot", "SV"))
    db.sparseIndexFor("Hot", "SV").maxServePostings = 100
    // force the decline regime (a WAND prefix this short proves nothing):
    // this test exercises the serve->job fallback plumbing, not WAND
    db.sparseIndexFor("Hot", "SV").maxServeHotPrefix = 2
    val hotQ =
      """{"table":"Hot","queryVector":{"indices":[0,15],"values":[1,1]},
        |"limit":5,"serve":true}""".stripMargin
    val resp = db.query(hotQ)
    assert(!resp.contains("\"served\""),
      s"over-budget probe must NOT serve: $resp")
    // identical to the explicit job path (same query, serve off)
    assert(resp == db.query(hotQ.replace("\"serve\":true", "\"serve\":false")), resp)
    // a light query on the same table still serves
    val lightQ =
      """{"table":"Hot","queryVector":{"indices":[15,20],"values":[1,1]},
        |"limit":5,"serve":true}""".stripMargin
    assert(db.query(lightQ).contains("\"served\":true"))
    // the decline is visible operationally
    assert(db.sparseIndexFor("Hot", "SV").serveDeclineCount() >= 1L)
    assert(db.statistics("Hot").contains("\"serveDeclines\":"), db.statistics("Hot"))
  }

  /** Bump the "gen" stamp in a meta JSON file — what a full rebuild in
    * another process looks like to this one. */
  private def bumpGen(metaFile: String): Unit = {
    val p = java.nio.file.Paths.get(metaFile)
    val s0 = new String(java.nio.file.Files.readAllBytes(p))
    val gen = """"gen":(\d+)""".r.findFirstMatchIn(s0).get.group(1).toLong
    java.nio.file.Files.write(p,
      s0.replaceAll(""""gen":\d+""", s""""gen":${gen + 1}""").getBytes)
  }

  test("sparse serving under perpetual rebuild churn declines instead of throwing") {
    val df = hotCorpus(200)
    val path = tmpDir("sp_thrash")
    SparseIndex.build(spark, df, "sv", "id", path, buckets = 8)
    val churn = new java.util.concurrent.atomic.AtomicBoolean(true)
    val idx = new SparseIndex(spark, path, "id") {
      override protected def loadDimPostings(missing: Array[Int]) = {
        // a full rebuild lands between the lock windows, EVERY attempt
        if (churn.get()) bumpGen(s"$path/sp_meta.json")
        super.loadDimPostings(missing)
      }
    }
    assert(idx.servePointDot(Array(15, 20), Array(1f, 1f), 10).isEmpty,
      "perpetual churn must degrade to the job path, not throw")
    churn.set(false) // rebuilds stop: the same query serves again
    assert(idx.servePointDot(Array(15, 20), Array(1f, 1f), 10).get.toSeq ==
      dotTopK(df, Array(15, 20), Array(1f, 1f), 10))
  }

  test("IVF serving under perpetual rebuild churn declines instead of throwing") {
    val df = skewedVectors(1000, light = 500)
    val path = tmpDir("ivf_thrash")
    IvfIndex.build(spark, df, "vec", "id", path, MetricType.Euclidean,
      nClusters = 2, maxIter = 3)
    val churn = new java.util.concurrent.atomic.AtomicBoolean(true)
    val idx = new IvfIndex(spark, path, "id", MetricType.Euclidean) {
      override protected def loadClusters(vecCol: String, missing: Array[Int]) = {
        if (churn.get()) {
          bumpGen(s"$path/ivf_meta.json")
          // dense serving re-reads the stamp at most every 250 ms
          // (ServeFreshnessMs): outlast the gate so the install window
          // SEES the rebuild, every attempt
          Thread.sleep(ServeFreshnessMs + 60)
        }
        super.loadClusters(vecCol, missing)
      }
    }
    assert(idx.serveOne("vec", Array(0f, 0f, 0f, 0f), 5, ServeProbe.Nearest(1)).map(_.hits).isEmpty,
      "perpetual churn must degrade to the job path, not throw")
    churn.set(false)
    val served = idx.serveOne("vec", Array(0f, 0f, 0f, 0f), 5, ServeProbe.Nearest(1)).map(_.hits)
    assert(served.isDefined && served.get.nonEmpty)
  }

  test("fresh-tail byte cap: an over-byte tail falls back to the job path, result identical") {
    val db = new graft.api.GraftDb(spark, tmpDir("r8_tail_db"))
    db.autoAppendIndexes = false // keep fresh rows in the tail
    db.createTable(
      """{"name":"Tl","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Vec","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("Tl")
    val schema = StructType(Seq(
      StructField("ID", LongType, nullable = false),
      StructField("Vec", ArrayType(FloatType, containsNull = false), nullable = false)))
    st.insert(spark.createDataFrame(spark.sparkContext.parallelize(
      (1 to 600).map(i => Row(i.toLong, Seq(1f + (i % 50) * 0.1f, 0f, 0f, 0f))), 4), schema))
    assert(db.rebuildIndex("Tl", "Vec"))
    // 40 fresh rows above the watermark, the best one at the origin
    st.insert(spark.createDataFrame(spark.sparkContext.parallelize(
      (601 to 640).map(i => Row(i.toLong, Seq(0f, 0f, 0f, 0f))), 2), schema))
    val q = """{"table":"Tl","queryVector":[0,0,0,0],"limit":3,"serve":true}"""
    assert(db.query(q).contains("\"served\":true")) // tail fits: serves
    // byte cap below the 40-row tail (56 bytes/row at dim=4): job path
    db.maxServeTailBytes = 56L * 10
    val resp = db.query(q)
    assert(!resp.contains("\"served\""), s"over-byte tail must NOT serve: $resp")
    assert(resp == db.query(q.replace("\"serve\":true", "\"serve\":false")), resp)
  }

  test("byte budget guards high-dim serving even when the row cap would admit the probe") {
    val df = skewedVectors(2000, light = 200)
    val path = tmpDir("ivf_bytes")
    IvfIndex.build(spark, df, "vec", "id", path, MetricType.Euclidean,
      nClusters = 2, maxIter = 5)
    val idx = new IvfIndex(spark, path, "id", MetricType.Euclidean)
    // row cap stays huge; byte cap admits only ~20 rows at dim=4
    // (8*4 + 24 = 56 bytes/row) — the 1800-row cluster must decline
    idx.maxServeBytes = 56L * 20
    assert(idx.serveOne("vec", Array(0f, 0f, 0f, 0f), 5, ServeProbe.Nearest(1)).map(_.hits).isEmpty,
      "a dimension-blind row cap must not admit an over-byte probe")
    // raising the byte budget serves again
    idx.maxServeBytes = 2L * 1024 * 1024 * 1024
    assert(idx.serveOne("vec", Array(0f, 0f, 0f, 0f), 5, ServeProbe.Nearest(1)).map(_.hits).isDefined)
  }

  test("dense serve:true falls back to the job path on an over-budget probe, result identical") {
    val db = new graft.api.GraftDb(spark, tmpDir("r8_dense_db"))
    db.createTable(
      """{"name":"DHot","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Vec","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("DHot")
    val schema = StructType(Seq(
      StructField("ID", LongType, nullable = false),
      StructField("Vec", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows = (1 to 600).map(i => Row(i.toLong, Seq(i * 0.01f, 0f, 0f, 0f)))
    st.insert(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema))
    assert(db.rebuildIndex("DHot", "Vec"))
    val q = """{"table":"DHot","queryVector":[0,0,0,0],"limit":5,"serve":true}"""
    assert(db.query(q).contains("\"served\":true")) // budget default: serves
    // budget below any cluster: the next COLD probe declines -> job path
    // (the guard gates cold loads; rebase flushes the warm residency the
    // first serve installed)
    val idx = db.denseIndexFor("DHot", "Vec")
    idx.maxServeRows = 10
    idx.rebaseServing()
    val resp = db.query(q)
    assert(!resp.contains("\"served\""), s"over-budget probe must NOT serve: $resp")
    assert(resp == db.query(q.replace("\"serve\":true", "\"serve\":false")), resp)
  }

  test("statistics() exposes the index cardinality stats behind the guard") {
    val db = new graft.api.GraftDb(spark, tmpDir("r8_stats_db"))
    db.createTable(
      """{"name":"St","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    val st = db.store("St")
    st.insert(hotCorpus(120, "ID").withColumnRenamed("sv", "SV"))
    // before any index: the legacy shape, no indexes key
    assert(db.statistics("St") == """{"table":"St","totalRecords":120}""")
    assert(db.rebuildIndex("St", "SV"))
    val parsed = JsonMethods.parse(db.statistics("St"))
    assert((parsed \ "totalRecords") == JInt(120))
    val idxStats = (parsed \ "indexes").asInstanceOf[JArray].arr
    assert(idxStats.exists(s => (s \ "field") == JString("SV") &&
      (s \ "type") == JString("sparse") &&
      (s \ "maxDimPostings") == JInt(120) && // the hot dim
      (s \ "postings") == JInt(240)), db.statistics("St"))
  }
}

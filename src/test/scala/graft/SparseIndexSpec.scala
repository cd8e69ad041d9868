package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import graft.index.SparseIndex
import graft.types.MetricType
import ServeCalls._

/** Persisted sparse inverted index: lifecycle + parity vs the exact sparse
  * distance scan (reference behaviors: sparse fields rebuilt and queryable
  * mid-stream — engine/test/engine/db/db_server.cpp `RebuildSparseVector`,
  * `InsertAndQuerySparseVectorDuringRebuild`). */
class SparseIndexSpec extends SparkSpec {

  private def svSchema(idName: String) = StructType(Seq(
    StructField(idName, LongType, nullable = false),
    StructField("sv", SparseVec.sqlType, nullable = true)))

  /** Deterministic corpus: row i holds 3 nonzeros at strictly increasing
    * dims; several rows share no dim with the test query. */
  private def corpus(n: Int, idName: String = "id"): DataFrame = {
    val rows = (1 to n).map { i =>
      Row(i.toLong, Row(
        Seq(i % 11, 11 + (i % 13), 30 + (i % 17)),
        Seq((i % 5 + 1).toFloat, (i % 3 + 0.5).toFloat, 1.0f)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), svSchema(idName))
  }

  private val qIdx = Array(3, 15, 33)
  private val qVal = Array(1.0f, 2.0f, 0.5f)
  private def qc = struct(lit(qIdx).as("indices"), lit(qVal).as("values"))

  private def exactTopKDot(df: DataFrame, k: Int): Seq[(Long, Double)] =
    df.withColumn("dot", sparse_dot(col("sv"), qc))
      .filter(col("dot") > 0) // overlap-only contract of the inverted index
      .orderBy(col("dot").desc, col("id").asc)
      .limit(k).select("id", "dot").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("topKDot from the persisted layout matches the exact overlap scan") {
    val df = corpus(200)
    val idx = SparseIndex.build(spark, df, "sv", "id", tmpDir("spidx"), buckets = 8)
    val got = idx.searchDot(qIdx, qVal, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exactTopKDot(df, 10))
    // the pruned plan reads only the query's bucket partitions
    assert(idx.buckets() == 8 && idx.indexedWatermark() == 200L
      && idx.indexedCount() == 200L)
  }

  test("topKDistance matches the exact scan for all metrics incl. zero-overlap rows") {
    val df = corpus(120)
    val idx = SparseIndex.build(spark, df, "sv", "id", tmpDir("spidx_d"), buckets = 8)
    for ((metric, distCol) <- Seq(
        MetricType.Euclidean -> sparse_l2sqr_distance(col("sv"), qc),
        MetricType.Cosine -> (lit(1.0) - sparse_dot(col("sv"), qc)),
        MetricType.DotProduct -> sparse_negative_dot(col("sv"), qc))) {
      val exact = df.withColumn("@distance", distCol)
        .orderBy(col("@distance").asc, col("id").asc)
        .limit(15).select("id").collect().map(_.getLong(0)).toSeq
      val got = idx.search(metric, overlapOnly = false, qIdx, qVal, 15).collect()
        .map(_.getLong(0)).toSeq
      assert(got == exact, s"metric $metric")
    }
  }

  test("cosine topKDistance on ingest-normalized vectors matches the merge-join scan") {
    // cosine tables normalize at ingest; emulate that and check the
    // norms-universe path reproduces 1 - dot exactly
    val df = corpus(80).withColumn("sv", sparse_l2_normalize(col("sv")))
    val idx = SparseIndex.build(spark, df, "sv", "id", tmpDir("spidx_c"), buckets = 4)
    val exact = df.withColumn("d", lit(1.0) - sparse_dot(col("sv"), qc))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").collect().map(_.getLong(0)).toSeq
    val got = idx.search(MetricType.Cosine, overlapOnly = false, qIdx, qVal, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact)
  }

  test("rebuild skips when count+watermark+purge unchanged, rebuilds on append") {
    val path = tmpDir("spidx_skip")
    val df = corpus(100)
    val (_, built1) = SparseIndex.rebuildVerbose(spark, df, "sv", "id", path, buckets = 8)
    assert(built1)
    val (_, built2) = SparseIndex.rebuildVerbose(spark, df, "sv", "id", path, buckets = 8)
    assert(!built2, "unchanged table must skip the rebuild")
    val grown = corpus(130)
    val (_, built3) = SparseIndex.rebuildVerbose(spark, grown, "sv", "id", path, buckets = 8)
    assert(built3, "watermark moved -> rebuild")
    val (_, built4) = SparseIndex.rebuildVerbose(spark, grown, "sv", "id", path,
      buckets = 8, purgeGen = 1L)
    assert(built4, "purge generation moved -> rebuild")
  }

  test("appends past the drift bound force the scheduled rebuild (small-file compaction)") {
    val path = tmpDir("spidx_drift")
    val full = corpus(160)
    val base = full.filter(col("id") <= 100)
    val idx = SparseIndex.build(spark, base, "sv", "id", path, buckets = 8)
    // 10% append: meta tracks the table, scheduler skips
    idx.append(SparseIndex.postingsOf(
      full.filter(col("id") > 100 && col("id") <= 110), "sv", "id"), 10, 110L)
    val (_, built1) = SparseIndex.rebuildVerbose(spark,
      full.filter(col("id") <= 110), "sv", "id", path, buckets = 8)
    assert(!built1, "10% appended drift must still skip")
    // 60% appended since the last FULL build: drift bound trips
    idx.append(SparseIndex.postingsOf(
      full.filter(col("id") > 110), "sv", "id"), 50, 160L)
    val (_, built2) = SparseIndex.rebuildVerbose(spark, full, "sv", "id", path, buckets = 8)
    assert(built2, "60% appended drift must force the rebuild")
    // the rebuild reset the base: unchanged table skips again
    val (_, built3) = SparseIndex.rebuildVerbose(spark, full, "sv", "id", path, buckets = 8)
    assert(!built3)
  }

  test("append above the watermark is searchable without a rebuild") {
    val path = tmpDir("spidx_app")
    val base = corpus(150).filter(col("id") <= 100)
    val idx = SparseIndex.build(spark, base, "sv", "id", path, buckets = 8)
    assert(idx.indexedWatermark() == 100L)
    val tail = corpus(150).filter(col("id") > 100)
    idx.append(SparseIndex.postingsOf(tail, "sv", "id"), newRows = 50, newMaxId = 150L)
    assert(idx.indexedWatermark() == 150L && idx.indexedCount() == 150L)
    val got = idx.searchDot(qIdx, qVal, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exactTopKDot(corpus(150), 10))
  }

  test("fresh tail postings union (rebuild-while-querying) sees un-appended rows") {
    val full = corpus(150)
    val base = full.filter(col("id") <= 100)
    val idx = SparseIndex.build(spark, base, "sv", "id", tmpDir("spidx_tail"), buckets = 8)
    val tailRows = full.filter(col("id") > idx.indexedWatermark())
    val got = idx.searchDot(qIdx, qVal, 10,
        tailPostings = Some(SparseIndex.postingsOf(tailRows, "sv", "id")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exactTopKDot(full, 10))
    // distance mode takes the tail's norms too
    val exact = full.withColumn("d", sparse_l2sqr_distance(col("sv"), qc))
      .orderBy(col("d").asc, col("id").asc).limit(12)
      .select("id").collect().map(_.getLong(0)).toSeq
    val gotD = idx.search(MetricType.Euclidean, overlapOnly = false, qIdx, qVal, 12,
        tailPostings = Some(SparseIndex.postingsOf(tailRows, "sv", "id")),
        tailNorms = Some(SparseIndex.normsOfColumn(tailRows, "sv", "id")))
      .collect().map(_.getLong(0)).toSeq
    assert(gotD == exact)
  }

  test("tombstone exclude and live-id restrict masks") {
    val df = corpus(100)
    val idx = SparseIndex.build(spark, df, "sv", "id", tmpDir("spidx_mask"), buckets = 8)
    val full = exactTopKDot(df, 5)
    val dead = full.head._1
    import spark.implicits._
    val masked = idx.searchDot(qIdx, qVal, 5,
        excludeIds = Some(Seq(dead).toDF("id")))
      .collect().map(_.getLong(0)).toSeq
    assert(!masked.contains(dead))
    assert(masked == exactTopKDot(df.filter(col("id") =!= dead), 5).map(_._1))
    val live = df.filter(col("id") % 2 === 0).select("id")
    val restricted = idx.searchDot(qIdx, qVal, 5, restrictIds = Some(live))
      .collect().map(_.getLong(0)).toSeq
    assert(restricted == exactTopKDot(df.filter(col("id") % 2 === 0), 5).map(_._1))
  }

  test("servePointDot matches topKDot; warm path runs no Spark job") {
    val df = corpus(200)
    val idx = SparseIndex.build(spark, df, "sv", "id", tmpDir("spidx_serve"), buckets = 8)
    val expected = exactTopKDot(df, 10)
    val served = idx.serveDot(qIdx, qVal, 10).get.toSeq
    assert(served == expected)
    // warm re-serve: no job may start
    val (warm, jobs) = countJobs(idx.serveDot(qIdx, qVal, 10).get.toSeq)
    assert(warm == expected)
    assert(jobs.n == 0, s"warm sparse serve ran ${jobs.n} Spark job(s)")
    // exclusion mask + fresh tail merge on the serve path
    val dead = expected.head._1
    val servedMasked = idx.serveDot(qIdx, qVal, 10, exclude = _ == dead).get.toSeq
    assert(servedMasked == exactTopKDot(df.filter(col("id") =!= dead), 10))
  }

  test("serving cache budget evicts LRU dims but answers stay exact") {
    val df = corpus(200)
    val idx = SparseIndex.build(spark, df, "sv", "id", tmpDir("spidx_lru"), buckets = 8)
    // fits ONE query's probe set (~46 postings) but not two: alternating
    // queries must evict each other's dims, answers staying exact
    idx.maxServePostings = 64
    val expected = exactTopKDot(df, 10)
    (1 to 3).foreach { _ =>
      assert(idx.serveDot(qIdx, qVal, 10).get.toSeq == expected)
      assert(idx.servingResidentPostings() <= 64)
    }
    val q2Idx = Array(5, 20, 40)
    val q2Val = Array(1.0f, 1.0f, 1.0f)
    val expected2 = df
      .withColumn("dot", sparse_dot(col("sv"),
        struct(lit(q2Idx).as("indices"), lit(q2Val).as("values"))))
      .filter(col("dot") > 0)
      .orderBy(col("dot").desc, col("id").asc)
      .limit(10).select("id", "dot").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(idx.serveDot(q2Idx, q2Val, 10).get.toSeq == expected2)
    assert(idx.servingResidentPostings() <= 64,
      s"eviction must hold the budget: ${idx.servingResidentPostings()}")
    // the evicted first query reloads cold and still answers exactly
    assert(idx.serveDot(qIdx, qVal, 10).get.toSeq == expected)
  }

  test("servePointEuclid is exact incl. zero-overlap rows; warm path runs no Spark job") {
    val df = corpus(200)
    val idx = SparseIndex.build(spark, df, "sv", "id", tmpDir("spidx_seuclid"), buckets = 8)
    def exact(k: Int, pred: Column = lit(true)): Seq[Long] =
      df.filter(pred).withColumn("d", sparse_l2sqr_distance(col("sv"), qc))
        .orderBy(col("d").asc, col("id").asc)
        .limit(k).select("id").collect().map(_.getLong(0)).toSeq
    // k large enough that zero-overlap rows (dot 0, small norm) must fill in
    val served = idx.serveEuclid(qIdx, qVal, 60)
    assert(served.isDefined, "untruncated min-norm list must serve exactly")
    assert(served.get.map(_._1).toSeq == exact(60))
    // distances match the expression-computed squared L2
    val exactDist = df.withColumn("d", sparse_l2sqr_distance(col("sv"), qc))
      .orderBy(col("d").asc, col("id").asc).limit(60)
      .select("d").collect().map(_.getDouble(0)).toSeq
    served.get.map(_._2).toSeq.zip(exactDist).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$a vs $b")
    }
    // warm re-serve: no job may start
    val expectedWarm = exact(60)
    val (warm, jobs) = countJobs(idx.serveEuclid(qIdx, qVal, 60).get.map(_._1).toSeq)
    assert(warm == expectedWarm)
    assert(jobs.n == 0, s"warm sparse Euclid serve ran ${jobs.n} Spark job(s)")
    // tombstone mask
    val dead = exact(5).head
    val masked = idx.serveEuclid(qIdx, qVal, 20, exclude = _ == dead)
    assert(masked.get.map(_._1).toSeq == exact(20, col("id") =!= dead))
  }

  test("servePointEuclid declines when the truncated min-norm list cannot prove exactness") {
    val df = corpus(200)
    val idx = SparseIndex.build(spark, df, "sv", "id", tmpDir("spidx_strunc"), buckets = 8)
    idx.maxServeMinNorm = 2 // truncated far below the non-overlap fills k needs
    assert(idx.serveEuclid(qIdx, qVal, 100).isEmpty,
      "k beyond the provable bound must fall back to the job path")
    idx.maxServeMinNorm = 4096
    // the stale-stamp refresh does not apply (stamp unchanged), so clear by
    // re-instantiating: a fresh instance re-reads the full list and serves
    val idx2 = new SparseIndex(spark, idx.path, "id")
    val served = idx2.serveEuclid(qIdx, qVal, 100)
    assert(served.isDefined && served.get.length == 100)
  }

  test("servePointEuclid with k beyond the live universe returns the complete exact ordering") {
    val df = corpus(50)
    val idx = SparseIndex.build(spark, df, "sv", "id", tmpDir("spidx_kbig"), buckets = 4)
    val served = idx.serveEuclid(qIdx, qVal, 100)
    assert(served.isDefined, "untruncated universe + under-filled heap IS exact")
    val exact = df.withColumn("d", sparse_l2sqr_distance(col("sv"), qc))
      .orderBy(col("d").asc, col("id").asc)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(served.get.map(_._1).toSeq == exact && served.get.length == 50)
  }

  test("pre-norm2 posting layouts: dot serves, Euclidean declines (never wrong)") {
    val df = corpus(120)
    val path = tmpDir("spidx_newfmt")
    SparseIndex.build(spark, df, "sv", "id", path, buckets = 4)
    // emulate a layout written before norms rode in the postings
    val old = tmpDir("spidx_oldfmt")
    spark.read.parquet(s"$path/postings").drop("norm2")
      .write.partitionBy("dim_bkt").parquet(s"$old/postings")
    spark.read.parquet(s"$path/norms").write.parquet(s"$old/norms")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$path/sp_meta.json"),
      java.nio.file.Paths.get(s"$old/sp_meta.json"))
    val idxOld = new SparseIndex(spark, old, "id")
    assert(idxOld.serveDot(qIdx, qVal, 10).get.toSeq == exactTopKDot(df, 10),
      "dot serving never needed norms")
    assert(idxOld.serveEuclid(qIdx, qVal, 10).isEmpty,
      "missing norms must DECLINE, not serve wrong distances")
    // the job path still answers exactly off the norms side table
    val exact = df.withColumn("d", sparse_l2sqr_distance(col("sv"), qc))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(idxOld.search(MetricType.Euclidean, overlapOnly = false, qIdx, qVal, 10)
      .collect().map(_.getLong(0)).toSeq == exact)
  }

  test("a crashed append (postings without meta) heals via rebuild, not re-append") {
    val db = new graft.api.GraftDb(spark, tmpDir("graftdb_spheal"))
    db.createTable(
      """{"name":"SpHeal","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("SpHeal")
    st.insert(corpus(100, "ID").withColumnRenamed("sv", "SV"))
    assert(db.rebuildIndex("SpHeal", "SV"))
    val metaPath = java.nio.file.Paths.get(s"${db.root}/SpHeal/spidx_SV/sp_meta.json")
    val metaBefore = java.nio.file.Files.readAllBytes(metaPath)
    // a real insert appends postings AND commits the meta...
    val batch = (101 to 110).map { i =>
      val dims = Seq(i % 11, 11 + (i % 13), 30 + (i % 17))
      s"""{"ID":$i,"SV":{"indices":[${dims.mkString(",")}],"values":[1.0,1.0,1.0]}}"""
    }.mkString("[", ",", "]")
    db.insert(s"""{"table":"SpHeal","data":$batch}""")
    // ...then "crash before the meta commit": restore the old stamp, so
    // the appended postings are orphans above the meta watermark
    java.nio.file.Files.write(metaPath, metaBefore)
    // a NEW process (fresh GraftDb -> fresh index instance) catches up:
    // the orphan probe must trigger a REBUILD, not a duplicate re-append
    val db2 = new graft.api.GraftDb(spark, db.root)
    db2.insert("""{"table":"SpHeal","data":[
      {"ID":111,"SV":{"indices":[1,12,31],"values":[1.0,1.0,1.0]}}]}""")
    val idx = new SparseIndex(spark, s"${db.root}/SpHeal/spidx_SV",
      graft.store.TableStore.RowId)
    val p = idx.postings()
    assert(p.count() ==
      p.select(graft.store.TableStore.RowId, "dim").distinct().count(),
      "crashed-append redo duplicated postings")
    assert(idx.indexedWatermark() == 111L && idx.indexedCount() == 111L)
    // answers equal the exact scan
    val ann = db2.queryDataFrame(
      s"""{"table":"SpHeal","queryField":"SV","limit":12,"ann":true,
        |"queryVector":{"indices":[${qIdx.mkString(",")}],
        |"values":[${qVal.mkString(",")}]}}""".stripMargin)
      .select("ID").collect().map(_.getLong(0)).toSeq
    val exact = db2.queryDataFrame(
      s"""{"table":"SpHeal","queryField":"SV","limit":12,
        |"queryVector":{"indices":[${qIdx.mkString(",")}],
        |"values":[${qVal.mkString(",")}]}}""".stripMargin)
      .select("ID").collect().map(_.getLong(0)).toSeq
    assert(ann == exact)
  }

  test("GraftDb end-to-end: sparse rebuild + ANN query + mid-stream insert + delete") {
    val db = new graft.api.GraftDb(spark, tmpDir("graftdb_spidx"))
    db.createTable(
      """{"name":"SpIdx","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("SpIdx")
    st.insert(corpus(200, "ID").withColumnRenamed("sv", "SV"))
    assert(db.rebuildIndex("SpIdx", "SV"), "first build must run")
    assert(!db.rebuildIndex("SpIdx", "SV"), "unchanged -> skip")
    def annIds(): Seq[Long] = {
      val req = s"""{"table":"SpIdx","queryField":"SV","limit":8,"ann":true,
        |"queryVector":{"indices":[${qIdx.mkString(",")}],
        |"values":[${qVal.mkString(",")}]}}""".stripMargin
      db.queryDataFrame(req).select("ID").collect().map(_.getLong(0)).toSeq
    }
    def exactIds(): Seq[Long] = {
      val req = s"""{"table":"SpIdx","queryField":"SV","limit":8,
        |"queryVector":{"indices":[${qIdx.mkString(",")}],
        |"values":[${qVal.mkString(",")}]}}""".stripMargin
      db.queryDataFrame(req).select("ID").collect().map(_.getLong(0)).toSeq
    }
    assert(annIds() == exactIds())
    // mid-stream insert ABOVE the watermark: queryable without a rebuild
    // (InsertAndQuerySparseVectorDuringRebuild semantics)
    st.insert(corpus(230, "ID").filter(col("ID") > 200)
      .withColumnRenamed("sv", "SV"))
    assert(annIds() == exactIds())
    // delete: tombstones masked on the index path without a rebuild
    val victim = annIds().head
    db.delete(s"""{"table":"SpIdx","primaryKeys":[$victim]}""")
    val after = annIds()
    assert(!after.contains(victim) && after == exactIds())
  }

  test("GraftDb sparse serve: driver-resident postings, fresh tail, delete mask") {
    val db = new graft.api.GraftDb(spark, tmpDir("graftdb_spserve"))
    db.createTable(
      """{"name":"SpServe","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"COSINE"}]}""".stripMargin)
    val st = db.store("SpServe")
    st.insert(corpus(200, "ID").withColumnRenamed("sv", "SV"))
    assert(db.rebuildIndex("SpServe", "SV"))
    def idOf(): Map[Long, Long] = st.read()
      .select(graft.store.TableStore.RowId, "ID").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def serveIds(): Seq[Long] = {
      val resp = db.query(
        s"""{"table":"SpServe","queryField":"SV","limit":5,"serve":true,
          |"queryVector":{"indices":[${qIdx.mkString(",")}],
          |"values":[${qVal.mkString(",")}]}}""".stripMargin)
      assert(resp.contains("\"served\":true"), resp)
      val m = idOf()
      "\"__row_id\":(\\d+)".r.findAllMatchIn(resp).map(r => m(r.group(1).toLong)).toSeq
    }
    def jobIds(): Seq[Long] = db.queryDataFrame(
      s"""{"table":"SpServe","queryField":"SV","limit":5,"ann":true,
        |"queryVector":{"indices":[${qIdx.mkString(",")}],
        |"values":[${qVal.mkString(",")}]}}""".stripMargin)
      .select("ID").collect().map(_.getLong(0)).toSeq
    assert(serveIds() == jobIds())
    // mid-stream insert above the watermark: served from the fresh tail
    st.insert(corpus(230, "ID").filter(col("ID") > 200).withColumnRenamed("sv", "SV"))
    assert(serveIds() == jobIds())
    // delete: the serving mask drops the row without a rebuild
    val victim = serveIds().head
    db.delete(s"""{"table":"SpServe","primaryKeys":[$victim]}""")
    val after = serveIds()
    assert(!after.contains(victim) && after == jobIds())
  }

  test("JSON insert auto-appends to an existing sparse index, searches stay exact") {
    val db = new graft.api.GraftDb(spark, tmpDir("graftdb_spautoapp"))
    db.createTable(
      """{"name":"SpApp","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("SpApp")
    st.insert(corpus(200, "ID").withColumnRenamed("sv", "SV"))
    assert(db.rebuildIndex("SpApp", "SV"))
    val idx = new SparseIndex(spark, s"${db.root}/SpApp/spidx_SV", graft.store.TableStore.RowId)
    assert(idx.indexedWatermark() == 200L)
    // JSON insert with sparse structs: appended to the persisted layout
    val data = (201 to 230).map { i =>
      val dims = Seq(i % 11, 11 + (i % 13), 30 + (i % 17))
      val vals = Seq(i % 5 + 1.0, i % 3 + 0.5, 1.0)
      s"""{"ID":$i,"SV":{"indices":[${dims.mkString(",")}],"values":[${vals.mkString(",")}]}}"""
    }.mkString("[", ",", "]")
    db.insert(s"""{"table":"SpApp","data":$data}""")
    assert(idx.indexedWatermark() == 230L && idx.indexedCount() == 230L,
      "sparse postings above the watermark must be appended at insert")
    // index-path search over appended rows == exact scan (no tail involved)
    val ann = db.queryDataFrame(
      s"""{"table":"SpApp","queryField":"SV","limit":12,"ann":true,
        |"queryVector":{"indices":[${qIdx.mkString(",")}],
        |"values":[${qVal.mkString(",")}]}}""".stripMargin)
      .select("ID").collect().map(_.getLong(0)).toSeq
    val exact = db.queryDataFrame(
      s"""{"table":"SpApp","queryField":"SV","limit":12,
        |"queryVector":{"indices":[${qIdx.mkString(",")}],
        |"values":[${qVal.mkString(",")}]}}""".stripMargin)
      .select("ID").collect().map(_.getLong(0)).toSeq
    assert(ann == exact)
  }

  test("sparse serving stays WARM across ingest-time appends (snapshot-pinned residency)") {
    val db = new graft.api.GraftDb(spark, tmpDir("graftdb_spwarm"))
    db.createTable(
      """{"name":"SpWarm","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("SpWarm")
    st.insert(corpus(200, "ID").withColumnRenamed("sv", "SV"))
    assert(db.rebuildIndex("SpWarm", "SV"))
    val q = s"""{"table":"SpWarm","queryField":"SV","limit":10,"serve":true,
      |"queryVector":{"indices":[${qIdx.mkString(",")}],
      |"values":[${qVal.mkString(",")}]}}""".stripMargin
    assert(db.query(q).contains("\"served\":true")) // warm the probed dims
    // JSON insert (auto-append): posting residency must survive — the new
    // rows ride in on the fresh tail above the serving pin
    val fresh = (201 to 205).map { i =>
      // exact overlap with the query dims, huge values -> smallest L2 dist
      s"""{"ID":$i,"SV":{"indices":[${qIdx.mkString(",")}],"values":[${qVal.mkString(",")}]}}"""
    }.mkString("[", ",", "]")
    db.insert(s"""{"table":"SpWarm","data":$fresh}""")
    val (served, jobs) = countJobs(db.query(q))
    assert(served.contains("\"served\":true"), served)
    // the 5 fresh rows equal the query vector: distance 0, top ranks
    val ids = "\"__row_id\":(\\d+)".r.findAllMatchIn(served)
      .map(_.group(1).toLong).toSeq
    assert(ids.take(5) == Seq(201L, 202L, 203L, 204L, 205L),
      s"fresh rows must serve from the tail: $served")
    // ONLY the tail re-collect may run (CollectLimit scale-up can split
    // it) — no posting-list reload, no min-norm re-read
    val offenders = jobs.stageDetails
      .filter(d => d.contains("loadDimPostings") || d.contains("residentMinNorms"))
    assert(offenders.isEmpty,
      s"append flushed sparse serving residency:\n${offenders.mkString("\n").take(800)}")
    val (again, warm) = countJobs(db.query(q))
    assert(again.contains("\"served\":true"))
    assert(warm.n == 0, s"fully warm sparse serve ran ${warm.n} job(s)")
  }

  test("concurrent JSON inserts never double-append postings") {
    val db = new graft.api.GraftDb(spark, tmpDir("graftdb_spconc"))
    db.createTable(
      """{"name":"SpConc","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("SpConc")
    st.insert(corpus(100, "ID").withColumnRenamed("sv", "SV"))
    assert(db.rebuildIndex("SpConc", "SV"))
    // 4 writers x 3 batches of 10 rows each, disjoint ID ranges — every
    // insert triggers an appendIndexes catch-up; without per-table append
    // serialization two of them can see the same watermark and append the
    // same rows twice
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        (0 until 3).foreach { b =>
          val base = 100 + w * 30 + b * 10
          val data = (base + 1 to base + 10).map { i =>
            val dims = Seq(i % 11, 11 + (i % 13), 30 + (i % 17))
            val vals = Seq(i % 5 + 1.0, i % 3 + 0.5, 1.0)
            s"""{"ID":$i,"SV":{"indices":[${dims.mkString(",")}],"values":[${vals.mkString(",")}]}}"""
          }.mkString("[", ",", "]")
          db.insert(s"""{"table":"SpConc","data":$data}""")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val idx = new SparseIndex(spark, s"${db.root}/SpConc/spidx_SV",
      graft.store.TableStore.RowId)
    assert(idx.indexedWatermark() == 220L && idx.indexedCount() == 220L)
    // layout-level: every (id, dim) posting appears exactly once
    val p = idx.postings()
    assert(p.count() ==
      p.select(graft.store.TableStore.RowId, "dim").distinct().count(),
      "duplicated postings: concurrent appends raced")
    // answer-level: index path == exact scan after the concurrent writes
    val ann = db.queryDataFrame(
      s"""{"table":"SpConc","queryField":"SV","limit":15,"ann":true,
        |"queryVector":{"indices":[${qIdx.mkString(",")}],
        |"values":[${qVal.mkString(",")}]}}""".stripMargin)
      .select("ID").collect().map(_.getLong(0)).toSeq
    val exact = db.queryDataFrame(
      s"""{"table":"SpConc","queryField":"SV","limit":15,
        |"queryVector":{"indices":[${qIdx.mkString(",")}],
        |"values":[${qVal.mkString(",")}]}}""".stripMargin)
      .select("ID").collect().map(_.getLong(0)).toSeq
    assert(ann == exact)
  }

  test("GraftDb sparse serve EUCLIDEAN: exact driver-side answers with tail + delete mask") {
    val db = new graft.api.GraftDb(spark, tmpDir("graftdb_speuclid"))
    db.createTable(
      """{"name":"SpEuclid","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("SpEuclid")
    st.insert(corpus(200, "ID").withColumnRenamed("sv", "SV"))
    assert(db.rebuildIndex("SpEuclid", "SV"))
    def idOf(): Map[Long, Long] = st.read()
      .select(graft.store.TableStore.RowId, "ID").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k past the overlap set so zero-overlap rows must fill from the
    // resident min-norm list
    def serveIds(): Seq[Long] = {
      val resp = db.query(
        s"""{"table":"SpEuclid","queryField":"SV","limit":60,"serve":true,
          |"queryVector":{"indices":[${qIdx.mkString(",")}],
          |"values":[${qVal.mkString(",")}]}}""".stripMargin)
      assert(resp.contains("\"served\":true"), resp)
      val m = idOf()
      "\"__row_id\":(\\d+)".r.findAllMatchIn(resp).map(r => m(r.group(1).toLong)).toSeq
    }
    def jobIds(): Seq[Long] = db.queryDataFrame(
      s"""{"table":"SpEuclid","queryField":"SV","limit":60,"ann":true,
        |"queryVector":{"indices":[${qIdx.mkString(",")}],
        |"values":[${qVal.mkString(",")}]}}""".stripMargin)
      .select("ID").collect().map(_.getLong(0)).toSeq
    assert(serveIds() == jobIds())
    // mid-stream insert above the watermark: non-overlap tail rows must be
    // candidates via the tail-norms path, overlap tail rows via postings
    st.insert(corpus(230, "ID").filter(col("ID") > 200).withColumnRenamed("sv", "SV"))
    assert(serveIds() == jobIds())
    // delete: serving mask drops the row, fills stay exact
    val victim = serveIds().head
    db.delete(s"""{"table":"SpEuclid","primaryKeys":[$victim]}""")
    val after = serveIds()
    assert(!after.contains(victim) && after == jobIds())
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index.{IvfIndex, SparseIndex}
import graft.types.MetricType
import graft.index.{ServeProbe, ServeTier}
import ServeCalls._

/** Round 9: the serving tier's remaining ceilings. A degenerate k-means
  * cluster used to DECLINE forever (safe, but a permanent ~1 qps job-path
  * floor for those probes); now maintenance SPLITS it locally against the
  * serving budget (IvfIndex.splitOversized) and the declined probes serve.
  * Decline counters feed that loop (Maintenance.tick -> healServingDeclines)
  * and reset per generation. */
class Round9Spec extends SparkSpec {
  private val q16 = ServeTier.Quantized(certify = false)

  /** Two blobs, one heavy (all rows but `light`) and one light — k-means
    * with 2 clusters separates them, leaving a degenerate hot cluster
    * (same fixture as Round8Spec). */
  private def skewedVectors(n: Int, light: Int, idName: String = "id"): DataFrame = {
    val rows = (0 until n).map { i =>
      val base = if (i < light) 10f else 0f
      Row(i.toLong, Seq(base + (i % 13) * 0.01f, base, base, base))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField(idName, LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
  }

  private def fullProbeIds(idx: IvfIndex, q: Array[Float], k: Int): Seq[Long] =
    idx.search("vec", q, k, nProbe = idx.centroids().length)
      .select(col("id")).collect().map(_.getLong(0)).toSeq

  test("splitOversized preserves layout contents exactly: full-probe search unchanged, no row lost or duplicated") {
    val df = skewedVectors(2000, light = 200)
    val path = tmpDir("r9_split_layout")
    IvfIndex.build(spark, df, "vec", "id", path, MetricType.Euclidean,
      nClusters = 2, maxIter = 5)
    val idx0 = new IvfIndex(spark, path, "id", MetricType.Euclidean)
    val before = fullProbeIds(idx0, Array(0f, 0f, 0f, 0f), 20)
    val genBefore = idx0.freshnessStamp().asInstanceOf[(Long, Long, Long, Long, Long)]._4
    // 1800-row hot cluster vs bound 300: one cluster must split
    assert(IvfIndex.splitOversized(spark, path, "vec", "id",
      MetricType.Euclidean, maxRows = 300) == 1)
    val idx = new IvfIndex(spark, path, "id", MetricType.Euclidean)
    assert(idx.centroids().length > 2, s"split must add centroids: ${idx.centroids().length}")
    val stats = idx.clusterStats().get
    assert(stats.values.sum == 2000L, s"rows lost/duplicated by the split: $stats")
    // the generation bumped: live instances (any process) flush residency
    val genAfter = idx.freshnessStamp().asInstanceOf[(Long, Long, Long, Long, Long)]._4
    assert(genAfter == genBefore + 1)
    // full-probe search is EXACT search: byte-identical before/after
    assert(fullProbeIds(idx, Array(0f, 0f, 0f, 0f), 20) == before)
    // repeated passes converge: every cluster ends under the bound (the
    // fixture has ~138 rows per distinct value, so cells can get there)
    var guard = 0
    while (IvfIndex.splitOversized(spark, path, "vec", "id",
        MetricType.Euclidean, maxRows = 300) > 0 && guard < 5) guard += 1
    val idx2 = new IvfIndex(spark, path, "id", MetricType.Euclidean)
    val stats2 = idx2.clusterStats().get
    assert(stats2.values.sum == 2000L, stats2.toString)
    assert(stats2.values.max <= 300L, s"split did not converge: $stats2")
    assert(fullProbeIds(idx2, Array(0f, 0f, 0f, 0f), 20) == before)
  }

  test("maintenance heals a declined degenerate cluster: the probe serves after the tick, job-path-equal") {
    val db = new graft.api.GraftDb(spark, tmpDir("r9_heal_db"))
    db.createTable(
      """{"name":"Skew","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Vec","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val st = db.store("Skew")
    st.insert(skewedVectors(2000, light = 200, idName = "ID")
      .withColumnRenamed("vec", "Vec"))
    assert(db.rebuildIndex("Skew", "Vec"))
    val idx = db.denseIndexFor("Skew", "Vec")
    // build-time auto-split already capped clusters at ~4x the mean, so
    // push the serving budget BELOW the surviving cluster sizes to
    // manufacture the decline regime maintenance must heal from
    idx.maxServeRows = 50
    idx.rebaseServing()
    val q = Array(0f, 0f, 0f, 0f)
    // the degenerate cluster declines (cardinality guard, before any load)
    assert(idx.serveOne("Vec", q, 10, ServeProbe.Nearest(1)).map(_.hits).isEmpty,
      "degenerate-cluster probe must decline before the heal")
    assert(idx.serveDeclineCount() >= 1L)
    // the maintenance tick sees the decline burst and splits the cluster
    // against the serving budget; the counter resets (per-generation)
    val report = new graft.api.Maintenance(db).tick()
    assert(report.indexesHealed == 1, report.toString)
    assert(idx.serveDeclineCount() == 0L)
    // the SAME probe now serves — and matches the job path over the same
    // probe set exactly (the healed layout's nearest cluster fits)
    val served = idx.serveOne("Vec", q, 10, ServeProbe.Nearest(1)).map(_.hits)
    assert(served.isDefined, "healed layout must serve without declining")
    val viaJob = idx.search("Vec", q, 10, nProbe = 1)
      .select(col(graft.store.TableStore.RowId)).collect().map(_.getLong(0)).toSeq
    assert(served.get.map(_._1).toSeq == viaJob)
    // a second tick with no declines is a no-op (no thrash-healing)
    assert(new graft.api.Maintenance(db).tick().indexesHealed == 0)
  }

  // ---- WAND / max-score hot-dim serving ----

  private def svSchema(idName: String) = StructType(Seq(
    StructField(idName, LongType, nullable = false),
    StructField("sv", graft.functions.SparseVec.sqlType, nullable = true)))

  /** Corpus with one STOP-WORD dim: dim 0 appears in EVERY row (the
    * Round8Spec fixture); dims 10..59 are light. */
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
    df.withColumn("dot", graft.functions.sparse_dot(col("sv"), qc))
      .filter(col("dot") > 0)
      .orderBy(col("dot").desc, col("id").asc)
      .limit(k).select("id", "dot").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("WAND: a stop-word dim serves EXACTLY from an impact-ordered prefix, hash-equal to topKDot") {
    val df = hotCorpus(600)
    val path = tmpDir("r9_wand")
    SparseIndex.build(spark, df, "sv", "id", path, buckets = 8)
    val loadedDims = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val idx = new SparseIndex(spark, path, "id") {
      override protected def loadDimPostings(missing: Array[Int]) = {
        missing.foreach(loadedDims.add(_))
        super.loadDimPostings(missing)
      }
    }
    idx.maxServePostings = 300 // dim 0 holds 600 postings: hot
    idx.maxServeHotPrefix = 200
    // mixed light+hot query: prefix (200 of 600, |v| desc) + tail bound 5
    // vs k-th certain score 7 -> provably exact, FULL list never collected
    val served = idx.servePointDot(Array(0, 15), Array(1f, 1f), 10)
    assert(served.isDefined, "prefix + magnitude bound must prove exactness here")
    assert(!loadedDims.contains(0),
      s"the hot dim's full list must never be collected: $loadedDims")
    assert(served.get.toSeq == dotTopK(df, Array(0, 15), Array(1f, 1f), 10))
    // single-hot-dim retrieval (the classic stop-word lookup)
    assert(idx.servePointDot(Array(0), Array(1f), 10).get.toSeq ==
      dotTopK(df, Array(0), Array(1f), 10))
    // the job path agrees (the contract WAND must match)
    assert(idx.topKDot(Array(0, 15), Array(1f, 1f), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      dotTopK(df, Array(0, 15), Array(1f, 1f), 10))
    // an UNPROVABLE case declines: a prefix this short leaves the tail
    // bound tying the k-th certain score — exact-or-decline holds
    val declinesBefore = idx.serveDeclineCount()
    idx.maxServeHotPrefix = 20
    idx.rebaseServing() // flush the cached 200-posting prefix
    assert(idx.servePointDot(Array(0, 15), Array(1f, 1f), 10).isEmpty)
    assert(idx.serveDeclineCount() > declinesBefore)
  }

  test("WAND requires the persisted magnitude stats: a pre-maxv layout declines") {
    val df = hotCorpus(400)
    val path = tmpDir("r9_wand_premax")
    val built = SparseIndex.build(spark, df, "sv", "id", path, buckets = 8)
    // rewrite dim_stats WITHOUT the maxv column (a layout from before the
    // column existed)
    val stats = spark.read.parquet(s"$path/dim_stats").select("dim", "cnt").collect()
    val statsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(stats.toSeq, 1),
      StructType(Seq(StructField("dim", IntegerType, nullable = false),
        StructField("cnt", LongType, nullable = false))))
    statsDf.coalesce(1).write.mode("overwrite").parquet(s"$path/dim_stats")
    val idx = new SparseIndex(spark, path, "id")
    idx.maxServePostings = 100
    assert(idx.servePointDot(Array(0, 15), Array(1f, 1f), 10).isEmpty,
      "no certified magnitude bound -> no WAND proof -> decline")
    // light dims still serve off full residency
    assert(idx.servePointDot(Array(15, 20), Array(1f, 1f), 10).isDefined)
    assert(built.indexedCount() == 400L)
  }

  test("dim_stats persists per-dim max |v| and appends keep it consistent") {
    val df = hotCorpus(200)
    val path = tmpDir("r9_maxv")
    val idx = SparseIndex.build(spark, df, "sv", "id", path, buckets = 8)
    val more = hotCorpus(260).filter(col("id") > 200)
    idx.append(SparseIndex.postingsOf(more, "sv", "id"), newRows = 60,
      newMaxId = 260, norms = Some(SparseIndex.normsOfColumn(more, "sv", "id")))
    val fromStats = spark.read.parquet(s"$path/dim_stats")
      .groupBy(col("dim")).agg(max(col("maxv")).as("mx"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val actual = idx.postings()
      .groupBy(col("dim")).agg(max(abs(col("v").cast("double"))).as("mx"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(fromStats == actual,
      s"persisted magnitude bounds drifted from the layout: $fromStats vs $actual")
    assert(fromStats(0) == 7.0)
  }

  // ---- quantized serving residency ----

  /** Two well-separated blobs with per-row varied components at `dim`
    * dims — wide enough that the 16-bit row cost (2·dim+48) is a fraction
    * of the float row cost (8·dim+24). */
  private def wideVectors(n: Int, dim: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      Row(i.toLong, Seq.tabulate(dim)(j => base + ((i * 31 + j) % 17) * 0.1f))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
  }

  test("servePointQuantized matches the exact float tier's top-k (L2 + dot), tail merged exactly") {
    val dim = 64
    val df = wideVectors(900, dim)
    for (metric <- Seq(MetricType.Euclidean, MetricType.DotProduct)) {
      val path = tmpDir(s"r9_quant_$metric")
      IvfIndex.build(spark, df, "vec", "id", path, metric, nClusters = 2, maxIter = 5)
      val idx = new IvfIndex(spark, path, "id", metric)
      val q = Array.tabulate(dim)(j => 0.05f * (j % 3))
      val np = idx.centroids().length
      val exact = idx.serveOne("vec", q, 15, ServeProbe.Nearest(np)).map(_.hits).get
      val quant = idx.serveOne("vec", q, 15, ServeProbe.Nearest(np), q16).map(_.hits).get
      assert(quant.map(_._1).toSeq == exact.map(_._1).toSeq,
        s"$metric: quantized ranking diverged from exact")
      assert(idx.servingResidentQuantRows() == 900L)
      // 16-bit reconstruction error stays orders below the score scale
      exact.zip(quant).foreach { case ((_, de), (_, dq)) =>
        assert(math.abs(de - dq) < 1e-3, s"$metric: |$de - $dq|")
      }
      // exclusions apply to the quantized pass too
      val excluded = exact.head._1
      val q2 = idx.serveOne("vec", q, 15, ServeProbe.Nearest(np), q16,
        exclude = _ == excluded).get.hits
      assert(!q2.map(_._1).contains(excluded))
      // a fresh tail rides in through the EXACT float kernel and merges
      // (per metric: L2 wants a vector AT the query, dot wants a big one)
      val tailVec =
        if (metric == MetricType.DotProduct) Array.fill(dim)(100f) else q.clone()
      val tailRows = Array((100000L, tailVec))
      val tail = Some(IvfIndex.packRows(tailRows, dim))
      val withTail = idx.serveOne("vec", q, 5, ServeProbe.Nearest(np), q16,
        tail = tail).get.hits
      assert(withTail.map(_._1).contains(100000L),
        s"$metric: near-query tail row must surface: ${withTail.toSeq}")
    }
  }

  test("quantized residency serves inside a byte budget that makes the float tier decline") {
    val dim = 64
    val df = wideVectors(900, dim)
    val path = tmpDir("r9_quant_budget")
    IvfIndex.build(spark, df, "vec", "id", path, MetricType.Euclidean,
      nClusters = 2, maxIter = 5)
    val idx = new IvfIndex(spark, path, "id", MetricType.Euclidean)
    // 900 rows cost 900·(8·64+24) = 482 KB as floats, 900·(2·64+48) =
    // 158 KB as 16-bit codes. A budget of exactly the quantized footprint
    // must decline the float tier (cardinality guard, before any collect)
    // and fully serve the quantized tier.
    idx.maxServeBytes = 900L * (2 * dim + 48)
    val q = Array.tabulate(dim)(j => 0.05f * (j % 3))
    val np = idx.centroids().length
    assert(idx.serveOne("vec", q, 10, ServeProbe.Nearest(np)).map(_.hits).isEmpty,
      "float tier must decline: probed rows exceed the byte budget")
    val quant = idx.serveOne("vec", q, 10, ServeProbe.Nearest(np), q16).map(_.hits)
    assert(quant.isDefined, "quantized tier must serve at ~4x the density")
    // and the answer is the true top-k (full-probe == exact search)
    val viaJob = idx.search("vec", q, 10, nProbe = np)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(quant.get.map(_._1).toSeq == viaJob)
  }

  test("a generation bump flushes the quantized residency with the float cache") {
    val df = skewedVectors(2000, light = 200)
    val path = tmpDir("r9_quant_flush")
    IvfIndex.build(spark, df, "vec", "id", path, MetricType.Euclidean,
      nClusters = 2, maxIter = 5)
    val idx = new IvfIndex(spark, path, "id", MetricType.Euclidean)
    val q = Array(0f, 0f, 0f, 0f)
    val np0 = idx.centroids().length
    val before = idx.serveOne("vec", q, 10, ServeProbe.Nearest(np0), q16).map(_.hits).get
    assert(idx.servingResidentQuantRows() == 2000L)
    // splitOversized bumps the generation: residency must fall cold and
    // reload the NEW layout (same rows, more clusters), same answer
    assert(IvfIndex.splitOversized(spark, path, "vec", "id",
      MetricType.Euclidean, maxRows = 300) == 1)
    idx.rebaseServing()
    val after = idx.serveOne("vec", q, 10,
      ServeProbe.Nearest(idx.centroids().length), q16).get.hits
    assert(after.map(_._1).toSeq == before.map(_._1).toSeq)
  }

  test("\"quantized\":true serves off the 16-bit tier through the query API, marked in the envelope") {
    val db = new graft.api.GraftDb(spark, tmpDir("r9_quant_api"))
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val rows = (1 to 600).map { i =>
      Row(i.toLong, Seq((i % 83) / 83.0f, (i % 47) / 47.0f,
        (i % 29) / 29.0f, (i % 13) / 13.0f))
    }
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    assert(db.rebuildIndex("T", "V"))
    val exact = db.query(
      """{"table":"T","queryVector":[0.5,0.5,0.5,0.5],"limit":5,"serve":true}""")
    assert(exact.contains("\"served\":true") && !exact.contains("\"quantized\""))
    val quant = db.query(
      """{"table":"T","queryVector":[0.5,0.5,0.5,0.5],"limit":5,"serve":true,"quantized":true}""")
    assert(quant.contains("\"served\":true") && quant.contains("\"quantized\":true"), quant)
    // 16-bit ranking error is far below this fixture's distance gaps:
    // the id sets must agree (the opt-in buys residency, not wrong answers)
    def ids(s: String) = "\"__row_id\":(\\d+)".r.findAllMatchIn(s).map(_.group(1)).toSeq
    assert(ids(quant) == ids(exact))
    // "certified":true upgrades to the interval-proven exact id set
    val cert = db.query(
      """{"table":"T","queryVector":[0.5,0.5,0.5,0.5],"limit":5,"serve":true,"quantized":true,"certified":true}""")
    assert(cert.contains("\"quantized\":true") && cert.contains("\"certified\":true"), cert)
    assert(ids(cert) == ids(exact))
    // the appended fresh row still rides the exact tail into a quantized serve
    db.insert("""{"table":"T","data":[{"ID":9000,"V":[0.5,0.5,0.5,0.5]}]}""")
    val afterAppend = db.query(
      """{"table":"T","queryVector":[0.5,0.5,0.5,0.5],"limit":5,"serve":true,"quantized":true}""")
    assert(afterAppend.contains("\"quantized\":true"))
    assert(ids(afterAppend).head == "601",
      s"appended row must lead the quantized serve: $afterAppend")
  }

  test("near-tie quantized boundary float-reranks in ONE pruned job: exact set and exact distances") {
    // per-row range 120000 makes the 16-bit step a ≈ 1.8 — three orders
    // above the 0.001 score gaps, so quantized ranking alone is garbage
    // here and certification MUST refuse to answer without the rerank
    val n = 400
    val rows = (1 to n).map { i =>
      Row(i.toLong, Seq(i * 0.001f, 60000f, -60000f, 0f))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
    val path = tmpDir("r9_quant_tie")
    IvfIndex.build(spark, df, "vec", "id", path, MetricType.DotProduct,
      nClusters = 2, maxIter = 5)
    val idx = new IvfIndex(spark, path, "id", MetricType.DotProduct)
    val np = idx.centroids().length
    val q = Array(1f, 0f, 0f, 0f)
    val exact = idx.serveOne("vec", q, 10, ServeProbe.Nearest(np)).map(_.hits).get
    val before = idx.quantRerankCount()
    idx.serveOne("vec", q, 10, ServeProbe.Nearest(np),
      ServeTier.Quantized(certify = true)) // warm residency (this one reranks too)
    val ((hits, reranked), jobs) = countJobs(
      idx.serveOne("vec", q, 10, ServeProbe.Nearest(np),
        ServeTier.Quantized(certify = true)).map(s => (s.hits, s.reranked)).get)
    assert(jobs.n == 1,
      s"warm near-tie serve must cost exactly ONE rerank job, ran ${jobs.n}")
    assert(reranked > 0, "near-tie boundary must trigger the float rerank")
    assert(idx.quantRerankCount() >= before + 2) // warm call reranked too
    assert(hits.map(_._1).toSeq == exact.map(_._1).toSeq,
      "reranked quantized serve must return the exact top-k ids")
    // reranked distances come off floats through the same norm-form
    // kernel as the exact tier — identical, not merely close
    assert(hits.map(_._2).toSeq == exact.map(_._2).toSeq)
  }

  test("well-separated data certifies the quantized set without a rerank: zero jobs warm") {
    // distinct rows on a line: score gaps at the k-boundary (~5e-2) dwarf
    // the certified error bounds (~4e-6 there), so the interval proof
    // closes without touching floats. (wideVectors has DUPLICATE rows —
    // exact boundary ties legitimately require the rerank.)
    val rows = (0 until 900).map(i => Row(i.toLong, Seq(i * 0.05f, 0f, 0f, 0f)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
    val path = tmpDir("r9_quant_cert")
    IvfIndex.build(spark, df, "vec", "id", path, MetricType.Euclidean,
      nClusters = 2, maxIter = 5)
    val idx = new IvfIndex(spark, path, "id", MetricType.Euclidean)
    val np = idx.centroids().length
    val q = Array(0.01f, 0f, 0f, 0f)
    idx.serveOne("vec", q, 10, ServeProbe.Nearest(np), q16).map(_.hits) // warm residency
    val before = idx.quantRerankCount()
    val ((hits, reranked), jobs) = countJobs(
      idx.serveOne("vec", q, 10, ServeProbe.Nearest(np),
        ServeTier.Quantized(certify = true)).map(s => (s.hits, s.reranked)).get)
    assert(jobs.n == 0, s"certified warm serve ran ${jobs.n} job(s)")
    assert(reranked == 0, "separated data must certify without a rerank")
    assert(hits.map(_._1).toSeq ==
      idx.serveOne("vec", q, 10, ServeProbe.Nearest(np)).map(_.hits).get.map(_._1).toSeq)
    assert(idx.quantRerankCount() == before)
  }

  test("quantized serve id set equals the exact tier across metrics and random queries") {
    val dim = 32
    val df = wideVectors(600, dim)
    for (metric <- Seq(MetricType.Euclidean, MetricType.DotProduct, MetricType.Cosine)) {
      val path = tmpDir(s"r9_quant_prop_$metric")
      IvfIndex.build(spark, df, "vec", "id", path, metric, nClusters = 3, maxIter = 5)
      val idx = new IvfIndex(spark, path, "id", metric)
      val np = idx.centroids().length
      val rnd = new scala.util.Random(42)
      (0 until 25).foreach { _ =>
        val q = Array.fill(dim)((rnd.nextFloat() - 0.3f) * 8f)
        val e = idx.serveOne("vec", q, 12, ServeProbe.Nearest(np)).map(_.hits).get.map(_._1).toSet
        val qq = idx.serveOne("vec", q, 12, ServeProbe.Nearest(np),
          ServeTier.Quantized(certify = true)).get.hits.map(_._1).toSet
        assert(qq == e, s"$metric: certified quantized id set diverged from exact")
      }
    }
  }

  // ---- coalesced per-commit serving probes ----

  test("one snapshot move costs ONE serving probe job (fresh tail + tombstones coalesced)") {
    val db = new graft.api.GraftDb(spark, tmpDir("r9_probe_db"))
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val rows = (1 to 600).map { i =>
      Row(i.toLong, Seq((i % 83) / 83.0f, (i % 47) / 47.0f,
        (i % 29) / 29.0f, (i % 13) / 13.0f))
    }
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    assert(db.rebuildIndex("T", "V"))
    // live tombstones so the probe's tombstone leg carries real rows
    db.delete("""{"table":"T","primaryKeys":[5,6]}""")
    val q = """{"table":"T","queryVector":[0.5,0.5,0.5,0.5],"limit":3,"serve":true}"""
    assert(db.query(q).contains("\"served\":true")) // warm residency+tail+tombs
    // ONE snapshot move: an insert (auto-appended above the serving pin)
    db.insert("""{"table":"T","data":[{"ID":9000,"V":[0.5,0.5,0.5,0.5]}]}""")
    val (served, jobs) = countJobs(db.query(q))
    assert(served.contains("\"served\":true"), served)
    // the appended exact-match row serves from the tail of that one probe
    val top = "\"__row_id\":(\\d+)".r.findFirstMatchIn(served).get.group(1).toLong
    assert(top == 601L, s"appended row must serve from the tail: $served")
    assert(jobs.n == 1,
      s"a version move must cost exactly ONE probe job (tail+tombs), ran ${jobs.n}:\n" +
        jobs.stageDetails.map(_.linesIterator.take(3).mkString(" | "))
          .mkString("\n").take(2000))
    // fully warm serve stays job-free
    val (again, warm) = countJobs(db.query(q))
    assert(again.contains("\"served\":true"))
    assert(warm.n == 0, s"fully warm serve ran ${warm.n} job(s)")
    // the tombstone mask refreshed through the coalesced probe still bites:
    // deleted pks never serve
    val nearDeleted = db.query(
      """{"table":"T","queryVector":[0.06,0.1,0.17,0.38],"limit":600,"serve":true}""")
    assert(nearDeleted.contains("\"served\":true"))
    val servedIds = "\"__row_id\":(\\d+)".r.findAllMatchIn(nearDeleted)
      .map(_.group(1).toLong).toSet
    assert(!servedIds.contains(5L) && !servedIds.contains(6L),
      "tombstoned rows leaked through the coalesced probe")
  }

  test("sparse decline burst forces a layout refresh through the same loop") {
    val db = new graft.api.GraftDb(spark, tmpDir("r9_sp_heal_db"))
    db.createTable(
      """{"name":"SpH","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    val st = db.store("SpH")
    val rows = (1 to 300).map { i =>
      Row(i.toLong, Row(Seq(10 + (i % 50)), Seq((i % 5 + 0.5).toFloat)))
    }
    st.insert(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("SV", graft.functions.SparseVec.sqlType, nullable = true)))))
    assert(db.rebuildIndex("SpH", "SV"))
    val idx = db.sparseIndexFor("SpH", "SV")
    def gen(): Long =
      idx.freshnessStamp().asInstanceOf[(Long, Long, Long, Long, Long)]._5
    val genBefore = gen()
    // manufacture a decline burst (budget below any posting list)
    idx.maxServePostings = 0
    assert(idx.servePointDot(Array(15), Array(1f), 5).isEmpty)
    assert(idx.serveDeclineCount() >= 1L)
    idx.maxServePostings = 16L * 1024 * 1024
    val report = new graft.api.Maintenance(db).tick()
    assert(report.indexesHealed == 1, report.toString)
    assert(idx.serveDeclineCount() == 0L)
    // the forced rebuild bumped the generation (fresh layout, fresh stats)
    assert(gen() == genBefore + 1)
    // and the index still answers exactly
    val served = idx.servePointDot(Array(15), Array(1f), 5)
    assert(served.isDefined && served.get.nonEmpty)
  }

  test("un-healable declines rebuild AT MOST ONCE per generation (no perpetual heal loop)") {
    val db = new graft.api.GraftDb(spark, tmpDir("r9_heal_loop_db"))
    db.createTable(
      """{"name":"SpL","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":64,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    val st = db.store("SpL")
    val rows = (1 to 200).map { i =>
      Row(i.toLong, Row(Seq(10 + (i % 40)), Seq((i % 5 + 0.5).toFloat)))
    }
    st.insert(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("SV", graft.functions.SparseVec.sqlType, nullable = true)))))
    assert(db.rebuildIndex("SpL", "SV"))
    val idx = db.sparseIndexFor("SpL", "SV")
    def gen(): Long =
      idx.freshnessStamp().asInstanceOf[(Long, Long, Long, Long, Long)]._5
    val maint = new graft.api.Maintenance(db)
    // a decline regime NO rebuild can fix: budget pinned to zero
    idx.maxServePostings = 0
    assert(idx.servePointDot(Array(15), Array(1f), 5).isEmpty)
    assert(maint.tick().indexesHealed == 1, "first burst heals once")
    val genAfterHeal = gen()
    // declines persist at the healed generation -> ticks must STOP
    // scheduling full rebuilds and leave the counter visible
    assert(idx.servePointDot(Array(15), Array(1f), 5).isEmpty)
    val declinesVisible = idx.serveDeclineCount()
    assert(declinesVisible >= 1L)
    (1 to 3).foreach { _ =>
      assert(maint.tick().indexesHealed == 0, "no heal-loop at a healed gen")
    }
    assert(gen() == genAfterHeal, "no further gen churn from un-healable declines")
    assert(idx.serveDeclineCount() >= declinesVisible,
      "un-healed declines stay visible in statistics()")
    // something ELSE bumping the generation re-arms exactly one heal
    graft.index.SparseIndex.build(spark, st.read(), "SV",
      graft.store.TableStore.RowId, s"${db.root}/SpL/spidx_SV",
      buckets = math.max(1, idx.buckets()), purgeGen = st.purgeGen())
    assert(maint.tick().indexesHealed == 1, "a new generation re-arms the heal")
  }
}

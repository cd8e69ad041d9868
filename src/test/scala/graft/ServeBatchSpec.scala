package graft

import org.apache.spark.sql.functions._
import graft.index.IvfIndex
import graft.types.MetricType

/** servePointBatch: per-query equality with servePoint, shared cold load,
  * and the degrade-not-decline contract when the union exceeds budget. */
class ServeBatchSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(23)
  private lazy val corpus = (0L until 800L).map { i =>
    val c = (i % 8).toInt
    (i, Array.tabulate(16)(j => c * 3.0f + rng.nextFloat() * 0.4f + j * 0.01f))
  }

  private def freshIndex(name: String): IvfIndex =
    IvfIndex.build(spark, corpus.toDF("vec_id", "embedding"), "embedding",
      "vec_id", tmpDir(name), MetricType.Euclidean, nClusters = 8, maxIter = 4)

  test("batch results equal per-query servePoint, warm and cold") {
    val idx = freshIndex("sb_eq")
    val queries = Seq(5, 150, 333, 512, 789).map(i => (i.toLong, corpus(i)._2)).toArray
    // COLD: the batch acquires the union in one pass
    val batch = idx.servePointBatch("embedding", queries, k = 7, nProbe = 3)
    // then per-query (cache warm, same snapshot)
    queries.zip(batch).foreach { case ((qid, q), (gotQid, got)) =>
      assert(gotQid == qid)
      val single = idx.servePoint("embedding", q, 7, nProbe = 3)
      assert(single.isDefined && got.isDefined)
      assert(got.get.toSeq == single.get.toSeq, s"query $qid batch != single")
    }
    // WARM batch again — still equal
    val batch2 = idx.servePointBatch("embedding", queries, k = 7, nProbe = 3)
    assert(batch2.map(_._2.get.toSeq).toSeq == batch.map(_._2.get.toSeq).toSeq)
  }

  test("exclude mask and fresh tail flow through the shared sweep") {
    val idx = freshIndex("sb_tail")
    val q = corpus(10)._2
    val single = idx.servePoint("embedding", q, 5, nProbe = 8).get
    val dead = single.head._1
    val tail = IvfIndex.packRows(Array((9000L, q)), 16)
    val batch = idx.servePointBatch("embedding", Array((0L, q)), 5, nProbe = 8,
      exclude = _ == dead, freshTail = Some(tail))
    val expected = idx.servePoint("embedding", q, 5, nProbe = 8,
      exclude = _ == dead, freshTail = Some(tail)).get
    assert(batch.head._2.get.toSeq == expected.toSeq)
    assert(batch.head._2.get.map(_._1).contains(9000L), "tail row must surface")
    assert(!batch.head._2.get.map(_._1).contains(dead), "excluded id returned")
  }

  test("union over budget degrades to per-query serves, not a batch decline") {
    val idx = freshIndex("sb_budget")
    // each cluster ~100 rows; budget fits ~1.5 clusters -> the 8-cluster
    // union cannot be resident, single-cluster probes can
    idx.maxServeRows = 150
    val queries = (0 until 8).map(i => (i.toLong, corpus(i * 100 + 3)._2)).toArray
    val batch = idx.servePointBatch("embedding", queries, k = 3, nProbe = 1)
    queries.zip(batch).foreach { case ((qid, q), (_, got)) =>
      val single = idx.servePoint("embedding", q, 3, nProbe = 1)
      assert(got.isDefined == single.isDefined, s"query $qid serve/decline parity")
      if (single.isDefined)
        assert(got.get.toSeq == single.get.toSeq, s"query $qid diverged")
    }
  }

  test("cold-batch job count does not scale with batch width; warm batch is job-free") {
    // the batch contract: Q queries cost the SAME cold jobs as one query
    // (centroid/stat construction + ONE union load), not Q loads
    def jobsOf(f: => Unit): Int = countJobs(f)._2.n
    val queries = Seq(5, 150, 333, 512).map(i => (i.toLong, corpus(i)._2)).toArray
    val idxSingle = freshIndex("sb_jobs1")
    val jSingle = jobsOf {
      assert(idxSingle.servePointBatch("embedding", queries.take(1),
        k = 5, nProbe = 2).head._2.isDefined)
    }
    val idxBatch = freshIndex("sb_jobs4")
    val jBatch = jobsOf {
      assert(idxBatch.servePointBatch("embedding", queries,
        k = 5, nProbe = 2).forall(_._2.isDefined))
    }
    assert(jBatch <= jSingle + 1, // +1: the wider union may split its stats read
      s"4-query cold batch ran $jBatch jobs vs $jSingle for 1 query — loads scale with Q")
    val jWarm = jobsOf {
      idxBatch.servePointBatch("embedding", queries, k = 5, nProbe = 2)
    }
    assert(jWarm == 0, s"warm batch ran $jWarm jobs")
  }

  // ---- the JSON API batch endpoint ----

  private def apiDb(dir: String): graft.api.GraftDb = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val db = new graft.api.GraftDb(spark, tmpDir(dir))
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
    db
  }

  // ---- code-resident tiers: the batch equals the single-query path ----

  test("quantized batch equals per-query servePointQuantizedDetail (throughput + certified)") {
    val idx = freshIndex("sb_q_eq")
    val queries = Seq(5, 150, 333, 512, 789).map(i => (i.toLong, corpus(i)._2)).toArray
    for (certify <- Seq(false, true)) {
      val batch = idx.servePointQuantizedBatchDetail("embedding", queries,
        k = 7, nProbe = 3, certify = certify)
      queries.zip(batch).foreach { case ((qid, q), (gotQid, got)) =>
        assert(gotQid == qid)
        val single = idx.servePointQuantizedDetail("embedding", q, 7,
          nProbe = 3, certify = certify)
        assert(single.isDefined && got.isDefined, s"certify=$certify qid=$qid")
        assert(got.get._1.toSeq == single.get._1.toSeq,
          s"certify=$certify query $qid batch != single")
      }
    }
    // certified mode returns the proven exact id set: equals the float tier
    val certified = idx.servePointQuantizedBatchDetail("embedding", queries,
      k = 7, nProbe = 8, certify = true)
    queries.zip(certified).foreach { case ((_, q), (_, got)) =>
      val exact = idx.servePoint("embedding", q, 7, nProbe = 8).get
      assert(got.get._1.map(_._1).toSeq == exact.map(_._1).toSeq)
    }
  }

  test("pq batch equals per-query servePointPqDetail; exclude + tail flow through") {
    val idx = freshIndex("sb_pq_eq")
    val queries = Seq(10, 200, 400, 700).map(i => (i.toLong, corpus(i)._2)).toArray
    for (certify <- Seq(false, true)) {
      val batch = idx.servePointPqBatchDetail("embedding", queries,
        k = 5, nProbe = 4, certify = certify)
      queries.zip(batch).foreach { case ((qid, q), (_, got)) =>
        val single = idx.servePointPqDetail("embedding", q, 5,
          nProbe = 4, certify = certify)
        assert(single.isDefined && got.isDefined, s"certify=$certify qid=$qid")
        assert(got.get._1.toSeq == single.get._1.toSeq,
          s"certify=$certify query $qid batch != single")
      }
    }
    // exclude + fresh tail, batch vs single
    val q = corpus(10)._2
    val dead = idx.servePointPqDetail("embedding", q, 5, nProbe = 8).get._1.head._1
    val tail = IvfIndex.packRows(Array((9000L, q)), 16)
    val batch = idx.servePointPqBatchDetail("embedding", Array((0L, q)), 5,
      nProbe = 8, exclude = _ == dead, freshTail = Some(tail))
    val single = idx.servePointPqDetail("embedding", q, 5, nProbe = 8,
      exclude = _ == dead, freshTail = Some(tail)).get
    assert(batch.head._2.get._1.toSeq == single._1.toSeq)
    assert(batch.head._2.get._1.map(_._1).contains(9000L), "tail row must surface")
  }

  test("quantized/pq batch over-budget degrades to per-query serves") {
    val idx = freshIndex("sb_q_budget")
    idx.maxServeRows = 150
    val queries = (0 until 8).map(i => (i.toLong, corpus(i * 100 + 3)._2)).toArray
    val qb = idx.servePointQuantizedBatchDetail("embedding", queries, k = 3, nProbe = 1)
    queries.zip(qb).foreach { case ((qid, q), (_, got)) =>
      val single = idx.servePointQuantizedDetail("embedding", q, 3, nProbe = 1)
      assert(got.isDefined == single.isDefined, s"qid $qid parity")
      if (single.isDefined) assert(got.get._1.toSeq == single.get._1.toSeq)
    }
    val pb = idx.servePointPqBatchDetail("embedding", queries, k = 3, nProbe = 1)
    queries.zip(pb).foreach { case ((qid, q), (_, got)) =>
      val single = idx.servePointPqDetail("embedding", q, 3, nProbe = 1)
      assert(got.isDefined == single.isDefined, s"qid $qid parity")
      if (single.isDefined) assert(got.get._1.toSeq == single.get._1.toSeq)
    }
  }

  test("queryVectors + quantized/pq over the JSON API equal the single-query envelopes") {
    val db = apiDb("sb_api_q")
    val vecs = Seq("[0.5,0.5,0.5,0.5]", "[0.1,0.9,0.2,0.8]", "[0.9,0.1,0.9,0.1]")
    for (tier <- Seq("\"quantized\":true", "\"pq\":true")) {
      val batch = db.query(
        s"""{"table":"T","queryVectors":[${vecs.mkString(",")}],
           |"limit":5,"serve":true,$tier}""".stripMargin)
      val singles = vecs.map(v => db.query(
        s"""{"table":"T","queryVector":$v,
           |"limit":5,"serve":true,$tier}""".stripMargin))
      singles.foreach(s0 => assert(s0.contains("\"served\":true"), s"$tier: $s0"))
      assert(batch == s"""{"results":[${singles.mkString(",")}]}""", tier)
    }
  }

  test("queryVectors batch endpoint: served entries equal single-query responses") {
    val db = apiDb("sb_api")
    val vecs = Seq("[0.5,0.5,0.5,0.5]", "[0.1,0.9,0.2,0.8]", "[0.9,0.1,0.9,0.1]")
    val batch = db.query(
      s"""{"table":"T","queryVectors":[${vecs.mkString(",")}],"limit":5,"serve":true}""")
    assert(batch.startsWith("""{"results":["""), batch)
    val singles = vecs.map(v => db.query(
      s"""{"table":"T","queryVector":$v,"limit":5,"serve":true}"""))
    singles.foreach(s0 => assert(s0.contains("\"served\":true"), s0))
    assert(batch == s"""{"results":[${singles.mkString(",")}]}""")
    // job path (no serve): entries equal the single-query job responses
    val jb = db.query(
      s"""{"table":"T","queryVectors":[${vecs.mkString(",")}],"limit":3}""")
    val js = vecs.map(v => db.query(s"""{"table":"T","queryVector":$v,"limit":3}"""))
    assert(jb == s"""{"results":[${js.mkString(",")}]}""")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.index.{IvfIndex, ServeProbe, ServeTier}
import graft.types.MetricType
import ServeCalls._

/** Batch serves (`IvfIndex.serve` over several queries): per-query
  * equality with the query served alone, shared cold load, and the
  * degrade-not-decline contract when the union exceeds budget. (Test
  * names keep the method names of the earlier per-cell serve API.) */
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
    val batch = idx.serveAll("embedding", queries.map(_._2), 7, ServeProbe.Nearest(3))
    // then per-query (cache warm, same snapshot)
    queries.zip(batch).foreach { case ((qid, q), got) =>
      val single = idx.serveOne("embedding", q, 7, ServeProbe.Nearest(3))
      assert(single.isDefined && got.isDefined)
      assert(got.get.hits.toSeq == single.get.hits.toSeq, s"query $qid batch != single")
      assert(got.get.probed.toSeq == single.get.probed.toSeq)
    }
    // WARM batch again — still equal
    val batch2 = idx.serveAll("embedding", queries.map(_._2), 7, ServeProbe.Nearest(3))
    assert(batch2.map(_.get.hits.toSeq).toSeq == batch.map(_.get.hits.toSeq).toSeq)
  }

  test("exclude mask and fresh tail flow through the shared sweep") {
    val idx = freshIndex("sb_tail")
    val q = corpus(10)._2
    val single = idx.serveOne("embedding", q, 5, ServeProbe.Nearest(8)).get.hits
    val dead = single.head._1
    val tail = IvfIndex.packRows(Array((9000L, q)), 16)
    val batch = idx.serveAll("embedding", Array(q, corpus(500)._2), 5,
      ServeProbe.Nearest(8), exclude = _ == dead, tail = Some(tail))
    val expected = idx.serveOne("embedding", q, 5, ServeProbe.Nearest(8),
      exclude = _ == dead, tail = Some(tail)).get.hits
    assert(batch.head.get.hits.toSeq == expected.toSeq)
    assert(batch.head.get.hits.map(_._1).contains(9000L), "tail row must surface")
    assert(!batch.head.get.hits.map(_._1).contains(dead), "excluded id returned")
  }

  test("union over budget degrades to per-query serves, not a batch decline") {
    val idx = freshIndex("sb_budget")
    // each cluster ~100 rows; budget fits ~1.5 clusters -> the 8-cluster
    // union cannot be resident, single-cluster probes can
    idx.maxServeRows = 150
    val queries = (0 until 8).map(i => (i.toLong, corpus(i * 100 + 3)._2)).toArray
    val batch = idx.serveAll("embedding", queries.map(_._2), 3, ServeProbe.Nearest(1))
    queries.zip(batch).foreach { case ((qid, q), got) =>
      val single = idx.serveOne("embedding", q, 3, ServeProbe.Nearest(1))
      assert(got.isDefined == single.isDefined, s"query $qid serve/decline parity")
      if (single.isDefined)
        assert(got.get.hits.toSeq == single.get.hits.toSeq, s"query $qid diverged")
    }
    // FILTERED: the batch's pass set spans the union of its probe sets —
    // over the scalar budget, the batch degrades to per-query serves, and
    // degrading declines nothing: when every entry serves, the decline
    // counter (the split-on-declines maintenance signal) stays put. One
    // query per corpus group, kept when its own probe fits the budget.
    idx.setServeFilterColumns(Seq("vec_id"))
    val conds = Seq(graft.filter.SimpleConjuncts.Cond("vec_id", ">=",
      graft.filter.SimpleConjuncts.NumLit(50.0, isInt = true)))
    val fqs = (0 until 8).map(i => corpus(i)._2).filter(q =>
      idx.serveOne("embedding", q, 3, ServeProbe.Nearest(1)).isDefined).toArray
    assert(fqs.length >= 4 && fqs.map(q => idx.serveOne("embedding", q, 3,
      ServeProbe.Nearest(1)).get.probed.head).distinct.length >= 2,
      "fixture: the union must span several fitting clusters")
    val before = idx.serveDeclineCount()
    val fb = idx.serveAll("embedding", fqs, 3, ServeProbe.Nearest(1), conds = conds)
    assert(fb.forall(_.isDefined), "every filtered entry serves on its own")
    assert(idx.serveDeclineCount() == before,
      s"degrading the batch counted ${idx.serveDeclineCount() - before} declines")
    fqs.zip(fb).foreach { case (q, got) =>
      val single = idx.serveOne("embedding", q, 3, ServeProbe.Nearest(1),
        conds = conds)
      assert(got.get.hits.toSeq == single.get.hits.toSeq, "filtered entry diverged")
      assert(got.get.hits.forall(_._1 >= 50L))
    }
  }

  test("cold-batch job count does not scale with batch width; warm batch is job-free") {
    // the batch contract: Q queries cost the SAME cold jobs as one query
    // (centroid/stat construction + ONE union load), not Q loads
    def jobsOf(f: => Unit): Int = countJobs(f)._2.n
    val queries = Seq(5, 150, 333, 512).map(i => corpus(i)._2).toArray
    val idxSingle = freshIndex("sb_jobs1")
    val jSingle = jobsOf {
      assert(idxSingle.serveAll("embedding", queries.take(1), 5,
        ServeProbe.Nearest(2)).head.isDefined)
    }
    val idxBatch = freshIndex("sb_jobs4")
    val jBatch = jobsOf {
      assert(idxBatch.serveAll("embedding", queries, 5,
        ServeProbe.Nearest(2)).forall(_.isDefined))
    }
    assert(jBatch <= jSingle + 1, // +1: the wider union may split its stats read
      s"4-query cold batch ran $jBatch jobs vs $jSingle for 1 query — loads scale with Q")
    val jWarm = jobsOf {
      idxBatch.serveAll("embedding", queries, 5, ServeProbe.Nearest(2))
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
      val tier = ServeTier.Quantized(certify)
      val batch = idx.serveAll("embedding", queries.map(_._2), 7,
        ServeProbe.Nearest(3), tier)
      queries.zip(batch).foreach { case ((qid, q), got) =>
        val single = idx.serveOne("embedding", q, 7, ServeProbe.Nearest(3), tier)
        assert(single.isDefined && got.isDefined, s"certify=$certify qid=$qid")
        assert(got.get.hits.toSeq == single.get.hits.toSeq,
          s"certify=$certify query $qid batch != single")
      }
    }
    // certified mode returns the proven exact id set: equals the float tier
    val certified = idx.serveAll("embedding", queries.map(_._2), 7,
      ServeProbe.Nearest(8), ServeTier.Quantized(certify = true))
    queries.zip(certified).foreach { case ((_, q), got) =>
      val exact = idx.serveOne("embedding", q, 7, ServeProbe.Nearest(8)).get.hits
      assert(got.get.hits.map(_._1).toSeq == exact.map(_._1).toSeq)
    }
  }

  test("pq batch equals per-query servePointPqDetail; exclude + tail flow through") {
    val idx = freshIndex("sb_pq_eq")
    val queries = Seq(10, 200, 400, 700).map(i => (i.toLong, corpus(i)._2)).toArray
    for (certify <- Seq(false, true)) {
      val tier = ServeTier.Pq(certify)
      val batch = idx.serveAll("embedding", queries.map(_._2), 5,
        ServeProbe.Nearest(4), tier)
      queries.zip(batch).foreach { case ((qid, q), got) =>
        val single = idx.serveOne("embedding", q, 5, ServeProbe.Nearest(4), tier)
        assert(single.isDefined && got.isDefined, s"certify=$certify qid=$qid")
        assert(got.get.hits.toSeq == single.get.hits.toSeq,
          s"certify=$certify query $qid batch != single")
      }
    }
    // exclude + fresh tail, batch vs single
    val pq = ServeTier.Pq(certify = false)
    val q = corpus(10)._2
    val dead = idx.serveOne("embedding", q, 5, ServeProbe.Nearest(8), pq)
      .get.hits.head._1
    val tail = IvfIndex.packRows(Array((9000L, q)), 16)
    val batch = idx.serveAll("embedding", Array(q, corpus(300)._2), 5,
      ServeProbe.Nearest(8), pq, exclude = _ == dead, tail = Some(tail))
    val single = idx.serveOne("embedding", q, 5, ServeProbe.Nearest(8), pq,
      exclude = _ == dead, tail = Some(tail)).get
    assert(batch.head.get.hits.toSeq == single.hits.toSeq)
    assert(batch.head.get.hits.map(_._1).contains(9000L), "tail row must surface")
  }

  test("quantized/pq batch over-budget degrades to per-query serves") {
    val idx = freshIndex("sb_q_budget")
    idx.maxServeRows = 150
    val queries = (0 until 8).map(i => (i.toLong, corpus(i * 100 + 3)._2)).toArray
    for (tier <- Seq(ServeTier.Quantized(certify = false), ServeTier.Pq(certify = false))) {
      val batch = idx.serveAll("embedding", queries.map(_._2), 3,
        ServeProbe.Nearest(1), tier)
      queries.zip(batch).foreach { case ((qid, q), got) =>
        val single = idx.serveOne("embedding", q, 3, ServeProbe.Nearest(1), tier)
        assert(got.isDefined == single.isDefined, s"$tier qid $qid parity")
        if (single.isDefined) assert(got.get.hits.toSeq == single.get.hits.toSeq)
      }
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

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.index.{ServeProbe, ServeTier}
import ServeCalls._

/** Round 10: the serve dispatch must never answer a filtered/faceted
  * request with UNFILTERED rows (the round-9 judge's one wrong-answer
  * finding) — filtered requests either serve EXACTLY through the new
  * resident-scalar path (a filtered IvfIndex.serve over declared columns) or
  * decline to the job path, which evaluates the full grammar. Plus the
  * four round-9 ADVICE fixes (hybrid purge-gen staleness, @distance
  * filters on the quantized/PQ search, TopKMin SQL-surface casts,
  * mixtureSample null strata). */
class Round10Spec extends SparkSpec {

  // ---- shared fixture: 600 rows with scalar attributes + text + vec ----

  private val vocab = Array("spark", "vector", "join", "scan", "stream",
    "filter", "hash", "probe", "window", "state", "plan", "fusion")
  private val langs = Array("en", "de", "fr")

  private def vecOf(i: Int): Seq[Float] =
    Seq((i % 83) / 83.0f, (i % 47) / 47.0f, (i % 29) / 29.0f, (i % 13) / 13.0f)

  /** 600-row table: ID pk, Label = i%10, Lang cycles en/de/fr, Doc mixed
    * vocab, V a deterministic dim-4 vector. IVF built; Label declared as
    * the serve filter column (Lang deliberately NOT declared). */
  private def fixtureDb(tag: String): graft.api.GraftDb = {
    val db = new graft.api.GraftDb(spark, tmpDir(tag))
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Label","dataType":"BIGINT"},
        |{"name":"Lang","dataType":"STRING"},
        |{"name":"Doc","dataType":"STRING"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val rows = (0 until 600).map { i =>
      val len = 4 + (i * 7) % 9
      val doc = (0 until len).map(j => vocab((i * 5 + j * j) % vocab.length))
        .mkString(" ")
      Row(i.toLong, (i % 10).toLong, langs(i % 3), doc, vecOf(i))
    }
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("Label", LongType, nullable = false),
        StructField("Lang", StringType, nullable = false),
        StructField("Doc", StringType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    assert(db.rebuildIndex("T", "V"))
    db.setServeFilterColumns("T", "V", Seq("Label"))
    db
  }

  private def resultIds(resp: String, key: String = "__row_id"): Seq[Long] =
    (JsonMethods.parse(resp) \ "result") match {
      case JArray(rows) => rows.map(r => (r \ key) match {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case JDouble(d) => d.toLong
        case other => fail(s"bad $key in $resp: $other")
      })
      case other => fail(s"no result array in $resp: $other")
    }

  private def rowIdToId(db: graft.api.GraftDb): Map[Long, Long] =
    db.store("T").read()
      .select(col(graft.store.TableStore.RowId), col("ID"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val qVec = "[0.5,0.4,0.3,0.2]"

  test("filtered serve answers EXACTLY through the resident-scalar path, marked in the envelope") {
    val db = fixtureDb("r10_fserve")
    val serveResp = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":7,"nProbe":9999,
         |"filter":"Label >= 5","serve":true}""".stripMargin)
    assert(serveResp.contains("\"served\":true"), serveResp)
    assert(serveResp.contains("\"filtered\":true"), serveResp)
    val m = rowIdToId(db)
    val servedIds = resultIds(serveResp).map(m)
    // job path, same request without serve: ordered (distance, id) cut
    val jobResp = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":7,
         |"filter":"Label >= 5","response":["ID"]}""".stripMargin)
    val jobIds = resultIds(jobResp, "ID")
    assert(servedIds == jobIds,
      s"filtered serve diverged from the job path: $servedIds vs $jobIds")
    // every returned row really passes the filter
    assert(servedIds.forall(id => id % 10 >= 5), servedIds.toString)
  }

  test("filtered serving stays live under ingest: tail rows evaluated on the scalar sidecar") {
    val db = fixtureDb("r10_fserve_tail")
    // fresh rows ABOVE the index watermark (raw store insert — no index
    // append): both sit at distance 0 from the query; only Label 7 passes
    val extra = Seq(
      Row(1000L, 7L, "en", "fresh pass", Seq(0.5f, 0.4f, 0.3f, 0.2f)),
      Row(1001L, 2L, "en", "fresh fail", Seq(0.5f, 0.4f, 0.3f, 0.2f)))
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(extra, 1), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("Label", LongType, nullable = false),
        StructField("Lang", StringType, nullable = false),
        StructField("Doc", StringType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    val resp = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":5,"nProbe":9999,
         |"filter":"Label >= 5","serve":true}""".stripMargin)
    assert(resp.contains("\"served\":true") && resp.contains("\"filtered\":true"),
      s"tail must not force a filtered serve onto the job path: $resp")
    val m = rowIdToId(db)
    val servedIds = resultIds(resp).map(m)
    assert(servedIds.head == 1000L, s"passing tail row must rank first: $servedIds")
    assert(!servedIds.contains(1001L), s"failing tail row leaked: $servedIds")
    val job = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":5,
         |"filter":"Label >= 5","response":["ID"]}""".stripMargin)
    assert(servedIds == resultIds(job, "ID"), s"$resp vs $job")
  }

  test("a filter OUTSIDE the serve sub-grammar declines: no served flag, job-path answer") {
    val db = fixtureDb("r10_decline_grammar")
    val resp = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":5,
         |"filter":"Label >= 8 OR Label < 1","serve":true,"response":["ID"]}""".stripMargin)
    assert(!resp.contains("\"served\""), resp)
    val ids = resultIds(resp, "ID")
    assert(ids.nonEmpty && ids.forall(id => id % 10 >= 8 || id % 10 < 1), resp)
  }

  test("a filter on an UNDECLARED column declines to the job path (still exact)") {
    val db = fixtureDb("r10_decline_undeclared")
    val resp = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":5,
         |"filter":"Lang = 'en'","serve":true,"response":["ID","Lang"]}""".stripMargin)
    assert(!resp.contains("\"served\""), resp)
    assert(resultIds(resp, "ID").forall(_ % 3 == 0), resp) // en = i%3==0
  }

  test("facets over UNDECLARED columns decline the serve tier; declared ones serve (round 11)") {
    val db = fixtureDb("r10_decline_facets")
    // Lang is NOT declared: the facet has no resident value source →
    // the whole request answers on the job path (facets included)
    val resp = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":5,"serve":true,
         |"response":["ID"],
         |"facets":[{"group":["Lang"],"aggregate":["COUNT(*)"]}]}""".stripMargin)
    assert(!resp.contains("\"served\""), resp)
    assert(resultIds(resp, "ID").nonEmpty, resp)
    assert(resp.contains("\"facets\""), resp)
    // a facet over the DECLARED column serves (Round11Spec proves the
    // envelope equality; this pins the dispatch change)
    val served = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":5,"serve":true,
         |"facets":[{"group":["Label"],"aggregate":["COUNT(*)"]}]}""".stripMargin)
    assert(served.contains("\"served\":true"), served)
    assert(served.contains("\"facets\""), served)
  }

  test("an unfiltered serve stays served (the guard must not over-decline)") {
    val db = fixtureDb("r10_still_serves")
    val resp = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":5,"serve":true}""")
    assert(resp.contains("\"served\":true"), resp)
    assert(!resp.contains("\"filtered\""), resp)
  }

  test("filtered serve equals the job path across labels and limits (sweep)") {
    val db = fixtureDb("r10_fserve_sweep")
    val m = rowIdToId(db)
    for (lbl <- Seq(0, 3, 7, 9); k <- Seq(1, 5, 20)) {
      val s = db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":$k,"nProbe":9999,
           |"filter":"Label = $lbl","serve":true}""".stripMargin)
      assert(s.contains("\"served\":true"), s)
      val j = db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":$k,
           |"filter":"Label = $lbl","response":["ID"]}""".stripMargin)
      assert(resultIds(s).map(m) == resultIds(j, "ID"), s"label $lbl k $k")
    }
    // conjunction + string-typed condition on a DECLARED string column
    db.setServeFilterColumns("T", "V", Seq("Label", "Lang"))
    val s2 = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":9,"nProbe":9999,
         |"filter":"Label >= 2 AND Lang = 'de'","serve":true}""".stripMargin)
    assert(s2.contains("\"served\":true"), s2)
    val j2 = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":9,
         |"filter":"Label >= 2 AND Lang = 'de'","response":["ID"]}""".stripMargin)
    assert(resultIds(s2).map(rowIdToId(db)) == resultIds(j2, "ID"))
  }

  test("quantized/pq serve tiers answer filtered requests through the shared passing-id mask (round 11)") {
    // round 10 declined these; round 11 wires the scalar residency's
    // passing-id mask into the code-tier sweeps — filtered requests now
    // SERVE on the requested tier, marked in the envelope, and certified
    // mode proves the exact FILTERED id set (Round11Spec has the full
    // equality matrix; this pins the dispatch)
    val db = fixtureDb("r10_qtier_decline")
    val m = rowIdToId(db)
    val jobIds = resultIds(db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":5,
         |"filter":"Label >= 5","response":["ID"]}""".stripMargin), "ID")
    for (tier <- Seq("quantized", "pq")) {
      val resp = db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":5,"serve":true,
           |"$tier":true,"certified":true,"nProbe":9999,
           |"filter":"Label >= 5"}""".stripMargin)
      assert(resp.contains("\"served\":true") &&
        resp.contains("\"filtered\":true") &&
        resp.contains(s""""$tier":true"""), s"$tier: $resp")
      // certified => the id SET is proven exact over the FILTERED rows
      assert(resultIds(resp).map(m).toSet == jobIds.toSet, s"$tier: $resp")
    }
  }

  test("batch serve with a filter: every per-query result is the filtered job answer") {
    val db = fixtureDb("r10_batch_filter")
    val m = rowIdToId(db)
    val batch = db.query(
      s"""{"table":"T","queryVectors":[$qVec,[0.1,0.9,0.2,0.8],[0.0,0.0,0.0,0.0]],
         |"limit":4,"nProbe":9999,"filter":"Label >= 5","serve":true}""".stripMargin)
    val results = (JsonMethods.parse(batch) \ "results") match {
      case JArray(rs) => rs
      case other => fail(s"bad batch envelope: $other")
    }
    assert(results.length == 3)
    val singles = Seq(qVec, "[0.1,0.9,0.2,0.8]", "[0.0,0.0,0.0,0.0]").map { v =>
      resultIds(db.query(
        s"""{"table":"T","queryVector":$v,"limit":4,
           |"filter":"Label >= 5","response":["ID"]}""".stripMargin), "ID")
    }
    results.zip(singles).foreach { case (r, expect) =>
      val s = JsonMethods.compact(JsonMethods.render(r))
      // the shared conjunction rides the batch serve path (one passing-id
      // set masks the whole batch), marked in each entry's envelope
      assert(s.contains("\"served\":true") && s.contains("\"filtered\":true"), s)
      val got = resultIds(s).map(m)
      assert(got == expect, s"batch entry diverged: $got vs $expect")
      assert(got.forall(_ % 10 >= 5), s)
    }
    // a filter OUTSIDE the sub-grammar still declines the whole batch to
    // per-query job answers
    val declined = db.query(
      s"""{"table":"T","queryVectors":[$qVec],"limit":4,
         |"filter":"Label >= 8 OR Label < 1","serve":true,
         |"response":["ID"]}""".stripMargin)
    assert(!declined.contains("\"served\""), declined)
  }

  // ---- hybrid: filter routed through BOTH job sides ----

  test("hybrid filter: an excluded top doc vanishes and every fused id passes the filter") {
    val db = fixtureDb("r10_hybrid_filter")
    db.rebuildBm25Index("T", "Doc")
    // unfiltered fusion: baseline
    val unf = db.query(
      s"""{"table":"T","keywords":["spark","vector","join"],
         |"textField":"Doc","queryField":"V",
         |"queryVector":$qVec,"limit":10}""".stripMargin)
    val m = rowIdToId(db)
    val unfIds = resultIds(unf).map(m)
    assert(unfIds.exists(_ % 3 != 0), s"fixture too weak: $unfIds")
    // filter to Lang='en' (ids % 3 == 0): every fused id passes; the
    // non-en ids from the baseline are gone; serve flags never appear
    val fil = db.query(
      s"""{"table":"T","keywords":["spark","vector","join"],
         |"textField":"Doc","queryField":"V","queryVector":$qVec,
         |"limit":10,"filter":"Lang = 'en'","serve":true}""".stripMargin)
    assert(!fil.contains("\"served\""), fil)
    val filIds = resultIds(fil).map(m)
    assert(filIds.nonEmpty && filIds.forall(_ % 3 == 0), s"unfiltered ids leaked: $filIds")
  }

  test("filtered hybrid serves its dense side when the conjunction is resident-evaluable") {
    val db = fixtureDb("r10_hybrid_fserve")
    db.rebuildBm25Index("T", "Doc")
    val req =
      s"""{"table":"T","keywords":["spark","vector","join"],
         |"textField":"Doc","queryField":"V","queryVector":$qVec,
         |"limit":10,"nProbe":9999,"filter":"Label >= 5"""".stripMargin
    val served = db.query(req + ""","serve":true}""")
    // Label IS declared: the dense side rides a filtered serve and the
    // keyword side (round 11) borrows the dense index's passing-id
    // verdict to mask its candidate walk — BOTH sides serve
    assert(served.contains("\"served\":{\"dense\":true,\"keyword\":true}"), served)
    val job = db.query(req + "}")
    val m = rowIdToId(db)
    // full probe => the dense serve is exact over the filtered corpus =>
    // the fusion must equal the all-job answer
    assert(resultIds(served).map(m) == resultIds(job).map(m),
      s"$served vs $job")
    assert(resultIds(served).map(m).forall(_ % 10 >= 5), served)
  }

  test("hybrid keyword side masks rows purged AFTER the impact index froze (ADVICE: purge-gen guard)") {
    val db = fixtureDb("r10_hybrid_purge")
    db.rebuildBm25Index("T", "Doc")
    val before = resultIds(db.query(
      s"""{"table":"T","keywords":["spark","vector","join"],
         |"textField":"Doc","queryField":"V",
         |"queryVector":$qVec,"limit":10}""".stripMargin)).map(rowIdToId(db))
    val victim = before.head
    val st = db.store("T")
    st.delete(pks = Seq(victim))
    st.compact() // purges tombstones: tombstoneIds() no longer lists victim
    assert(st.tombstoneIds().isEmpty ||
      st.tombstoneIds().get.count() == 0, "compact must fold tombstones")
    val after = resultIds(db.query(
      s"""{"table":"T","keywords":["spark","vector","join"],
         |"textField":"Doc","queryField":"V",
         |"queryVector":$qVec,"limit":10,"serve":true}""".stripMargin))
      .map(rowIdToId(db))
    assert(!after.contains(victim),
      s"stale BM25 index leaked a purged row: $victim in $after")
  }

  // ---- ADVICE: @distance filters on the quantized/PQ search paths ----

  test("searchQuantized/searchPq accept @distance-referencing filters (post-filter mode)") {
    val emb = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 600).map(i => Row(i.toLong, vecOf(i))), 2),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
    val path = tmpDir("r10_distfilter")
    val idx = graft.index.IvfIndex.build(spark, emb, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 4, maxIter = 3)
    val q = Array(0.5f, 0.4f, 0.3f, 0.2f)
    val searchedSchema = StructType(emb.schema.fields :+
      StructField("@distance", DoubleType))
    val pre = Some(graft.filter.FilterTranslator.translate(
      "@distance <= 0.08 AND id >= 10", searchedSchema))
    val full = idx.centroids().length
    val exact = idx.search("vec", q, 10, ServeProbe.Nearest(full), preFilter = pre)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    // pre-fix these two threw unresolved-column analysis errors
    val viaQuant = idx.search("vec", q, 10, ServeProbe.Nearest(full),
        ServeTier.Quantized(certify = false), preFilter = pre)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val viaPq = idx.search("vec", q, 10, ServeProbe.Nearest(full), ServeTier.Pq(certify = false),
        preFilter = pre)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(exact.nonEmpty, "fixture too weak: distance band empty")
    assert(viaQuant == exact, s"$viaQuant vs $exact")
    assert(viaPq == exact, s"$viaPq vs $exact")
  }

  // ---- ADVICE: TopKMin SQL surface casts ----

  test("topk_min via SQL casts FLOAT distance / INT id instead of crashing (ImplicitCastInputTypes)") {
    GraftFunctions.register(spark)
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1.5f, 3, "a"), Row(0.5f, 1, "a"), Row(1.0f, 2, "a"), Row(0.5f, 0, "a")), 2),
      StructType(Seq(
        StructField("d", FloatType, nullable = false),
        StructField("id", IntegerType, nullable = false),
        StructField("g", StringType, nullable = false))))
      .createOrReplaceTempView("r10_topk")
    val out = spark.sql(
      "SELECT topk_min(d, id, 3) AS t FROM r10_topk GROUP BY g")
      .head().getSeq[Row](0)
    assert(out.map(r => (r.getDouble(0), r.getLong(1))) ==
      Seq((0.5, 0L), (0.5, 1L), (1.0, 2L)))
  }

  // ---- ADVICE: mixtureSample NULL strata ----

  test("mixtureSample excludes NULL sources from the normalizer (rates no longer deflate)") {
    import spark.implicits._
    val docs = ((0 until 100).map(i => (i.toLong, "a")) ++
      (100 until 500).map(i => (i.toLong, "b")) ++
      (500 until 1000).map(i => (i.toLong, null: String)))
      .toDF("id", "src")
    val got = graft.pipeline.Pipelines.mixtureSample(docs, "src", "id",
      alpha = 0.5, targetFraction = 0.2)
    // no NULL-source row can ever be selected
    assert(got.filter(col("src").isNull).count() == 0)
    // expected rates from the NULL-free corpus (mirror of the fixed math)
    val z = math.sqrt(100.0) + math.sqrt(400.0)
    def rate(n: Long): Double =
      BigDecimal(math.min(1.0, 0.2 * 500.0 * math.sqrt(n.toDouble) / z / n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = graft.pipeline.Pipelines.stratifiedSample(
      docs.filter(col("src").isNotNull), "src", "id",
      Map("a" -> rate(100), "b" -> rate(400)), 0.0).count()
    assert(got.count() == expect)
    // sanity: the realized fraction is in the target's neighborhood (the
    // old math deflated it by sqrt(500)/z ~ 42%)
    val frac = got.count().toDouble / 500.0
    assert(frac > 0.15 && frac < 0.25, s"realized fraction $frac")
  }

  test("filtered serving under racing rebuilds: exact-or-decline, never wrong") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val df = blobs(800)
    val path = tmpDir("r10_fserve_race")
    val idx = graft.index.IvfIndex.build(spark, df, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 5)
    idx.setServeFilterColumns(Seq("id")) // any scalar works; id % semantics below
    val conds = Seq(graft.filter.SimpleConjuncts.Cond("id", ">=",
      graft.filter.SimpleConjuncts.NumLit(100.0, isInt = true)))
    val q = Array(0.03f, 0.0f, 0.0f, 0.02f)
    val nAll = idx.centroids().length
    val expect = idx.search("vec", q, 10, ServeProbe.Nearest(nAll),
        preFilter = Some(org.apache.spark.sql.functions.col("id") >= 100))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val rebuilder = Future {
      while (!stop.get()) {
        graft.index.IvfIndex.build(spark, df, "vec", "id", path,
          graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 2)
        Thread.sleep(50)
      }
    }
    var served = 0
    var declined = 0
    var wrong = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 8L * 1000 * 1000 * 1000) {
      idx.serveOne("vec", q, 10, ServeProbe.Nearest(nAll), conds = conds)
        .map(_.hits) match {
        case Some(hits) =>
          served += 1
          if (hits.map(_._1).toSeq != expect) wrong += 1
        case None => declined += 1
      }
    }
    stop.set(true)
    Await.ready(rebuilder, 120.seconds)
    assert(wrong == 0, s"filtered serving returned WRONG answers under rebuild churn ($wrong)")
    assert(served > 0, s"never served under churn (declined $declined) — thrash handling too pessimistic")
  }

  // ---- recall-targeted auto-probe (probeSetForRecall / searchAuto) ----

  /** Clustered fixture where pruning genuinely bites: 8 well-separated
    * blobs of 100 rows each (the probe bound should select ~1 blob). */
  private def blobs(n: Int, idName: String = "id") = {
    val rows = (0 until n).map { i =>
      val c = i % 8
      Row(i.toLong, Seq(c * 10.0f + (i % 13) * 0.01f, c * 10.0f,
        (c % 3) * 10.0f, (i % 7) * 0.01f))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField(idName, LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
  }

  test("auto-probe target 1.0 is exact AND prunes (radii bound), across queries and appends") {
    val df = blobs(800)
    val path = tmpDir("r10_autoprobe")
    val idx = graft.index.IvfIndex.build(spark, df, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 5)
    val nAll = idx.centroids().length
    assert(idx.clusterRadii().isDefined, "build must persist radii")
    def exactIds(q: Array[Float]): Seq[Long] =
      idx.search("vec", q, 10, ServeProbe.Nearest(nAll))
        .select(col("id")).collect().map(_.getLong(0)).toSeq
    var prunedOnce = false
    for (ci <- 0 until 8) {
      val q = Array(ci * 10.0f + 0.03f, ci * 10.0f, (ci % 3) * 10.0f, 0.02f)
      val probes = idx.probeSetForRecall(q, 10, 1.0)
      if (probes.length < nAll) prunedOnce = true
      val auto = idx.search("vec", q, 10, ServeProbe.Recall(1.0, 0L))
        .select(col("id")).collect().map(_.getLong(0)).toSeq
      assert(auto == exactIds(q), s"blob $ci: auto-probe lost exactness")
    }
    assert(prunedOnce, "target 1.0 never pruned — the bound is vacuous on this fixture")
    // appends widen radii: a far-out row joins cluster near blob 0; the
    // bound must now probe enough to still find it exactly
    val far = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(9000L, Seq(5.0f, 5.0f, 5.0f, 0.0f))), 1),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
    assert(idx.append(far, "vec") == 1L)
    val q2 = Array(5.0f, 5.0f, 5.0f, 0.0f)
    val auto2 = idx.search("vec", q2, 10, ServeProbe.Recall(1.0, 0L))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(auto2 == exactIds(q2), "post-append auto-probe lost exactness")
    assert(auto2.contains(9000L))
  }

  test("pre-radii layouts stay conservative: appends skip deltas, auto-probe degenerates to full probe") {
    val df = blobs(800)
    val path = tmpDir("r10_autoprobe_preradii")
    val idx = graft.index.IvfIndex.build(spark, df, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 5)
    // simulate a layout built before radii existed
    val rp = java.nio.file.Paths.get(idx.radiiPath)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(rp).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    val far = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(9100L, Seq(5.0f, 5.0f, 5.0f, 0.0f))), 1),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
    assert(idx.append(far, "vec") == 1L)
    // the append must NOT have written a delta-only radius (it would
    // UNDER-estimate and break the probe bound)
    assert(!java.nio.file.Files.exists(rp), "delta radius on a pre-radii layout")
    assert(idx.clusterRadii().isEmpty)
    val q = Array(5.0f, 5.0f, 5.0f, 0.0f)
    // no radii -> probe everything -> still exact
    assert(idx.probeSetForRecall(q, 10, 1.0).length == idx.centroids().length)
    val auto = idx.search("vec", q, 10, ServeProbe.Recall(1.0, 0L))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val exact = idx.search("vec", q, 10, ServeProbe.Nearest(idx.centroids().length))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(auto == exact)
  }

  test("auto-probe target < 1 proves the recall floor and probes fewer clusters") {
    val df = blobs(800)
    val path = tmpDir("r10_autoprobe_t")
    val idx = graft.index.IvfIndex.build(spark, df, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 5)
    val nAll = idx.centroids().length
    // a query BETWEEN blobs so the true top-10 spans >= 2 clusters
    val q = Array(5.0f, 5.0f, 5.0f, 0.0f)
    val exact = idx.search("vec", q, 10, ServeProbe.Nearest(nAll))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val pFull = idx.probeSetForRecall(q, 10, 1.0)
    val pHalf = idx.probeSetForRecall(q, 10, 0.5)
    assert(pHalf.length <= pFull.length)
    val half = idx.search("vec", q, 10, ServeProbe.Recall(0.5, 0L))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val recall = exact.toSet.intersect(half.toSet).size / 10.0
    assert(recall >= 0.5, s"declared floor violated: $recall")
    // dot product: no triangle bound — auto-probe degenerates to all
    val dotIdx = graft.index.IvfIndex.build(spark, df, "vec", "id",
      tmpDir("r10_autoprobe_dot"), graft.types.MetricType.DotProduct,
      nClusters = 8, maxIter = 3)
    assert(dotIdx.probeSetForRecall(q, 10, 1.0).length ==
      dotIdx.centroids().length)
  }

  test("recallTarget drives the SERVE tier's probe set: proven-exact at serving latency") {
    val db = fixtureDb("r10_serve_recall")
    val m = rowIdToId(db)
    // default nProbe (8) with recallTarget 1.0: the probe set is the
    // geometric cover, not the nearest-8 cut — the answer must equal the
    // exact job path even where nearest-8 would have missed
    val served = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":8,"serve":true,
         |"recallTarget":1.0}""".stripMargin)
    assert(served.contains("\"served\":true"), served)
    val exact = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":8,"response":["ID"]}""")
    assert(resultIds(served).map(m) == resultIds(exact, "ID"),
      s"$served vs $exact")
    // recallTarget + filter (round 11): the UNFILTERED cover proves
    // nothing here, but the passing-count cover does — the request now
    // SERVES with the floor proven over the FILTERED universe (1.0 =
    // exact), equal to the job path's filtered answer
    val both = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":8,"serve":true,
         |"recallTarget":1.0,"filter":"Label >= 5"}""".stripMargin)
    assert(both.contains("\"served\":true") &&
      both.contains("\"filtered\":true"), both)
    val jobF = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":8,
         |"filter":"Label >= 5","response":["ID"]}""".stripMargin)
    assert(resultIds(both).map(m) == resultIds(jobF, "ID"), s"$both vs $jobF")
  }

  test("a batch with recallTarget never silently drops the floor: per-query covers apply") {
    val db = fixtureDb("r10_batch_recall")
    val m = rowIdToId(db)
    val batch = db.query(
      s"""{"table":"T","queryVectors":[$qVec,[0.1,0.9,0.2,0.8]],
         |"limit":6,"serve":true,"recallTarget":1.0}""".stripMargin)
    val entries = (JsonMethods.parse(batch) \ "results") match {
      case JArray(rs) => rs.map(r =>
        JsonMethods.compact(JsonMethods.render(r)))
      case other => fail(s"bad envelope: $other")
    }
    val singles = Seq(qVec, "[0.1,0.9,0.2,0.8]").map(v => db.query(
      s"""{"table":"T","queryVector":$v,"limit":6,"response":["ID"]}"""))
    entries.zip(singles).foreach { case (e, exact) =>
      // each entry either served with the cover or fell to the job path —
      // in BOTH cases the ids must equal the exact answer (target 1.0)
      val got =
        if (e.contains("\"served\":true")) resultIds(e).map(m)
        else resultIds(e, "ID")
      assert(got == resultIds(exact, "ID"), s"$e vs $exact")
    }
  }

  test("recallTarget rides the query API's ann path (hash-equal to exact)") {
    val db = fixtureDb("r10_autoprobe_api")
    val m = rowIdToId(db)
    val auto = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":8,"ann":true,
         |"recallTarget":1.0,"response":["ID"]}""".stripMargin)
    val exact = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":8,"response":["ID"]}""")
    assert(resultIds(auto, "ID") == resultIds(exact, "ID"),
      s"$auto vs $exact")
  }

  // ---- dedup survivorship policies ----

  test("dropExactDuplicatesBy keeps the best-priority copy, not the earliest") {
    import spark.implicits._
    val docs = Seq(
      (1L, "same text", 0.2), (2L, "same text", 0.9), (3L, "same text", 0.9),
      (4L, "other", 0.1)).toDF("id", "text", "quality")
    val kept = graft.pipeline.Dedup.dropExactDuplicatesBy(
        docs, "text", "id", Seq(col("quality").desc))
      .select("id").collect().map(_.getLong(0)).toSet
    // quality 0.9 wins; the id tie-break picks 2 over 3; singleton 4 stays
    assert(kept == Set(2L, 4L), kept.toString)
  }

  test("keepClusterSurvivors keeps the best member per near-dup cluster") {
    import spark.implicits._
    val docs = Seq(
      (10L, 100L), (11L, 300L), (12L, 300L), // cluster A: 11 wins (tie -> lower id)
      (20L, 50L),                            // cluster B alone after pairs? no pair -> untouched
      (30L, 10L)).toDF("id", "len")
    val clusters = Seq((10L, 10L), (11L, 10L), (12L, 10L)).toDF("id", "cluster")
    val kept = graft.pipeline.Dedup.keepClusterSurvivors(
        docs, "id", clusters, Seq(col("len").desc))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 20L, 30L), kept.toString)
  }

  // ---- sparse serve guard ----

  test("sparse serve declines filtered requests but serves unfiltered ones") {
    val db = new graft.api.GraftDb(spark, tmpDir("r10_sparse_guard"))
    db.createTable(
      """{"name":"S","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Label","dataType":"BIGINT"},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":16,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    val rows = (0 until 600).map { i =>
      Row(i.toLong, (i % 10).toLong,
        Row(Seq(i % 16, (i + 7) % 16), Seq(1.0f + (i % 5) * 0.25f, 0.5f)))
    }
    db.store("S").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("Label", LongType, nullable = false),
        StructField("SV", graft.functions.SparseVec.sqlType, nullable = false)))))
    db.rebuildIndex("S", "SV")
    val qv = """{"indices":[3,10],"values":[1.0,1.0]}"""
    val servedResp = db.query(
      s"""{"table":"S","queryVector":$qv,"limit":5,"serve":true}""")
    assert(servedResp.contains("\"served\":true"), servedResp)
    val filteredResp = db.query(
      s"""{"table":"S","queryVector":$qv,"limit":5,"serve":true,
         |"filter":"Label >= 5","response":["ID","Label"]}""".stripMargin)
    assert(!filteredResp.contains("\"served\""), filteredResp)
    val ids = resultIds(filteredResp, "ID")
    assert(ids.nonEmpty && ids.forall(_ % 10 >= 5), filteredResp)
  }
}

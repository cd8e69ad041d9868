package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.index.ServeProbe
import ServeCalls._

/** Round 11: the recallTarget contract made uniform (no knob combination
  * may silently drop a declared floor — the round-10 judge's one found
  * defect), attribute-filtered serving extended to the 16-bit and PQ code
  * tiers (single + batch, certification over the masked candidate set),
  * PROVEN-recall filtered serving (passing-count ball covers), the
  * pass-set/rebuild pin race closed (round-10 ADVICE medium), and config
  * durability across release() (ADVICE low). */
class Round11Spec extends SparkSpec {

  // ---- shared fixture (Round10Spec's shape): 600 rows, Label declared ----

  private val langs = Array("en", "de", "fr")

  private def vecOf(i: Int): Seq[Float] =
    Seq((i % 83) / 83.0f, (i % 47) / 47.0f, (i % 29) / 29.0f, (i % 13) / 13.0f)

  private def fixtureDb(tag: String): graft.api.GraftDb = {
    val db = new graft.api.GraftDb(spark, tmpDir(tag))
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Label","dataType":"BIGINT"},
        |{"name":"Lang","dataType":"STRING"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val rows = (0 until 600).map { i =>
      Row(i.toLong, (i % 10).toLong, langs(i % 3), vecOf(i))
    }
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("Label", LongType, nullable = false),
        StructField("Lang", StringType, nullable = false),
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

  // ---- filtered serving on the CODE tiers (16-bit + PQ) ----

  test("code-tier filtered serving: certified id set equals the filtered job path (both tiers)") {
    val db = fixtureDb("r11_code_filter")
    val m = rowIdToId(db)
    for (filter <- Seq("Label >= 5", "Label = 3"); k <- Seq(3, 10)) {
      val jobIds = resultIds(db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":$k,
           |"filter":"$filter","response":["ID"]}""".stripMargin), "ID")
      for (tier <- Seq("quantized", "pq")) {
        val resp = db.query(
          s"""{"table":"T","queryVector":$qVec,"limit":$k,"serve":true,
             |"$tier":true,"certified":true,"nProbe":9999,
             |"filter":"$filter"}""".stripMargin)
        assert(resp.contains("\"served\":true") &&
          resp.contains("\"filtered\":true") &&
          resp.contains(s""""$tier":true""") &&
          resp.contains("\"certified\":true"), s"$tier/$filter/$k: $resp")
        assert(resultIds(resp).map(m).toSet == jobIds.toSet,
          s"$tier/$filter/$k: certified filtered set diverged: $resp")
      }
    }
  }

  test("code-tier filtered serving: throughput mode serves, marks the tier, and never leaks a non-passing row") {
    val db = fixtureDb("r11_code_filter_tp")
    val m = rowIdToId(db)
    for (tier <- Seq("quantized", "pq")) {
      val resp = db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":7,"serve":true,
           |"$tier":true,"nProbe":9999,"filter":"Label >= 5"}""".stripMargin)
      assert(resp.contains("\"served\":true") &&
        resp.contains("\"filtered\":true") &&
        resp.contains(s""""$tier":true"""), s"$tier: $resp")
      assert(!resp.contains("\"certified\""), s"$tier: $resp")
      val ids = resultIds(resp).map(m)
      assert(ids.nonEmpty && ids.forall(_ % 10 >= 5), s"$tier leaked: $ids")
    }
  }

  test("code-tier filtered serving evaluates the conjunction on tail rows (scalar sidecar)") {
    val db = fixtureDb("r11_code_filter_tail")
    // fresh rows ABOVE the index watermark, both at distance 0 from the
    // query; only Label 7 passes
    val extra = Seq(
      Row(1000L, 7L, "en", Seq(0.5f, 0.4f, 0.3f, 0.2f)),
      Row(1001L, 2L, "en", Seq(0.5f, 0.4f, 0.3f, 0.2f)))
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(extra, 1), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("Label", LongType, nullable = false),
        StructField("Lang", StringType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    val m = rowIdToId(db)
    for (tier <- Seq("quantized", "pq")) {
      val resp = db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":5,"serve":true,
           |"$tier":true,"certified":true,"nProbe":9999,
           |"filter":"Label >= 5"}""".stripMargin)
      assert(resp.contains("\"served\":true") &&
        resp.contains("\"filtered\":true"), s"$tier: $resp")
      val ids = resultIds(resp).map(m)
      assert(ids.head == 1000L, s"$tier: passing tail row must rank first: $ids")
      assert(!ids.contains(1001L), s"$tier: failing tail row leaked: $ids")
    }
  }

  test("batch filtered serving on the code tiers: every entry served+filtered, certified set-equal to job") {
    val db = fixtureDb("r11_code_filter_batch")
    val m = rowIdToId(db)
    val vs = Seq(qVec, "[0.1,0.9,0.2,0.8]", "[0.0,0.0,0.0,0.0]")
    val singles = vs.map { v =>
      resultIds(db.query(
        s"""{"table":"T","queryVector":$v,"limit":4,
           |"filter":"Label >= 5","response":["ID"]}""".stripMargin), "ID")
    }
    for (tier <- Seq("quantized", "pq")) {
      val batch = db.query(
        s"""{"table":"T","queryVectors":[${vs.mkString(",")}],
           |"limit":4,"nProbe":9999,"filter":"Label >= 5",
           |"serve":true,"$tier":true,"certified":true}""".stripMargin)
      val results = (JsonMethods.parse(batch) \ "results") match {
        case JArray(rs) => rs
        case other => fail(s"bad batch envelope: $other")
      }
      assert(results.length == 3)
      results.zip(singles).foreach { case (r, expect) =>
        val s = JsonMethods.compact(JsonMethods.render(r))
        assert(s.contains("\"served\":true") && s.contains("\"filtered\":true") &&
          s.contains(s""""$tier":true"""), s"$tier: $s")
        assert(resultIds(s).map(m).toSet == expect.toSet,
          s"$tier batch entry diverged: $s vs $expect")
      }
    }
  }

  // ---- the uniform recallTarget contract ----

  test("recallTarget + quantized/pq SERVES with the cover × certification proof (floor proven, never dropped)") {
    val db = fixtureDb("r11_rt_code_serve")
    val m = rowIdToId(db)
    val exact = resultIds(db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":6,"response":["ID"]}"""), "ID")
    for (tier <- Seq("quantized", "pq")) {
      val resp = db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":6,"serve":true,
           |"$tier":true,"recallTarget":1.0}""".stripMargin)
      // the envelope must say served + certified (certification is FORCED
      // by the floor — it is the proof); a decline would still produce
      // exact ids via the job path and prove nothing about the tier
      assert(resp.contains("\"served\":true") &&
        resp.contains(s""""$tier":true""") &&
        resp.contains("\"certified\":true"), s"$tier: $resp")
      // certified id SET is exact; order may differ on quantized ties
      assert(resultIds(resp).map(m).toSet == exact.toSet, s"$tier: $resp")
    }
  }

  test("recallTarget + filter on the code tiers SERVES via the passing-count cover (exact filtered set)") {
    val db = fixtureDb("r11_rt_code_filter")
    val m = rowIdToId(db)
    for (tier <- Seq("quantized", "pq"); filter <- Seq("Label >= 5", "Label = 7")) {
      val served = db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":8,"serve":true,
           |"$tier":true,"recallTarget":1.0,"filter":"$filter"}""".stripMargin)
      assert(served.contains("\"served\":true") &&
        served.contains("\"filtered\":true") &&
        served.contains("\"certified\":true"), s"$tier/$filter: $served")
      val job = db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":8,
           |"filter":"$filter","response":["ID"]}""".stripMargin)
      assert(resultIds(served).map(m).toSet == resultIds(job, "ID").toSet,
        s"$tier/$filter: $served vs $job")
    }
  }

  test("a 0.5 floor on a code tier is honored (recall vs exact >= 0.5, envelope still certified)") {
    val db = fixtureDb("r11_rt_code_half")
    val m = rowIdToId(db)
    val exact = resultIds(db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":10,"response":["ID"]}"""), "ID").toSet
    val resp = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":10,"serve":true,
         |"quantized":true,"recallTarget":0.5}""".stripMargin)
    assert(resp.contains("\"served\":true") && resp.contains("\"certified\":true"), resp)
    val got = resultIds(resp).map(m).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"floor violated: $recall ($got vs $exact)")
  }

  test("recallTarget + sparse dot serves with the ZERO-GAP proof; an unprovable floor declines (round 12 upgrade)") {
    val db = new graft.api.GraftDb(spark, tmpDir("r11_rt_sparse"))
    db.createTable(
      """{"name":"S","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":16,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    val rows = (0 until 600).map { i =>
      Row(i.toLong, Row(Seq(i % 16, (i + 7) % 16), Seq(1.0f + (i % 5) * 0.25f, 0.5f)))
    }
    db.store("S").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("SV", graft.functions.SparseVec.sqlType, nullable = false)))))
    db.rebuildIndex("S", "SV")
    val qv = """{"indices":[3,10],"values":[1.0,1.0]}"""
    // sanity: without the floor the sparse tier serves
    assert(db.query(s"""{"table":"S","queryVector":$qv,"limit":5,"serve":true}""")
      .contains("\"served\":true"))
    // round 12: the floor SERVES under the zero-gap proof — k candidates
    // all with dot > 0 provably beat every zero-overlap row, so the
    // answer is exact and equals the job path's cut
    val m = db.store("S").read()
      .select(col(graft.store.TableStore.RowId), col("ID"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val resp = db.query(
      s"""{"table":"S","queryVector":$qv,"limit":5,"serve":true,
         |"recallTarget":1.0}""".stripMargin)
    assert(resp.contains("\"served\":true"), resp)
    val job = db.query(
      s"""{"table":"S","queryVector":$qv,"limit":5,"response":["ID"]}""")
    assert(resultIds(resp).map(m) == resultIds(job, "ID"), s"$resp vs $job")
    // UNPROVABLE floor: fewer than k overlap candidates — the true top-k
    // must include zero-dot rows the walk never sees → decline, the job
    // path answers (and fills with zero-dot rows)
    val db2 = new graft.api.GraftDb(spark, tmpDir("r11_rt_sparse_decline"))
    db2.createTable(
      """{"name":"S","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":16,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    // only rows 0..2 carry dim 3; everything else lives in dims 8..15
    val rows2 = (0 until 600).map { i =>
      val dims = if (i < 3) Seq(3, 8 + i % 8) else Seq(8 + i % 4, 12 + i % 4)
      Row(i.toLong, Row(dims.distinct.sorted, dims.distinct.map(_ => 1.0f)))
    }
    db2.store("S").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows2, 2), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("SV", graft.functions.SparseVec.sqlType, nullable = false)))))
    db2.rebuildIndex("S", "SV")
    val declined = db2.query(
      """{"table":"S","queryVector":{"indices":[3],"values":[1.0]},
        |"limit":5,"serve":true,"recallTarget":1.0,"response":["ID"]}""".stripMargin)
    assert(!declined.contains("\"served\""), declined)
    assert(resultIds(declined, "ID").size == 5, declined)
  }

  test("recallTarget + sparse EUCLIDEAN serves (exact-or-decline honors any floor); dot serves under the zero-gap proof") {
    val db = new graft.api.GraftDb(spark, tmpDir("r11_rt_sparse_euclid"))
    db.createTable(
      """{"name":"S","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":16,
        | "metricType":"DOT_PRODUCT"},
        |{"name":"SE","dataType":"SPARSE_VECTOR_FLOAT","dimensions":16,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val rows = (0 until 600).map { i =>
      val (a, b) = (i % 16, (i + 7) % 16)
      val sv = Row(Seq(math.min(a, b), math.max(a, b)),
        Seq(1.0f + (i % 5) * 0.25f, 0.5f))
      Row(i.toLong, sv, sv)
    }
    val res = db.store("S").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("SV", graft.functions.SparseVec.sqlType, nullable = false),
        StructField("SE", graft.functions.SparseVec.sqlType, nullable = false)))))
    assert(res.inserted == 600, res.toString)
    assert(db.rebuildIndex("S", "SV"))
    assert(db.rebuildIndex("S", "SE"))
    val qv = """{"indices":[3,10],"values":[1.0,1.0]}"""
    // Euclidean: servePointEuclid is exact-or-decline, so a served
    // answer trivially honors any declared floor — the envelope must
    // say served and the ids must equal the job path's exact cut
    val served = db.query(
      s"""{"table":"S","queryField":"SE","queryVector":$qv,"limit":5,
         |"serve":true,"recallTarget":1.0}""".stripMargin)
    assert(served.contains("\"served\":true"), served)
    val m = db.store("S").read()
      .select(col(graft.store.TableStore.RowId), col("ID"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val job = db.query(
      s"""{"table":"S","queryField":"SE","queryVector":$qv,"limit":5,
         |"response":["ID"]}""".stripMargin)
    assert(resultIds(served).map(m) == resultIds(job, "ID"),
      s"$served vs $job")
    // dot: the zero-gap proof serves the floor on this all-positive
    // fixture, hash-equal to the job path's exact cut
    val dot = db.query(
      s"""{"table":"S","queryField":"SV","queryVector":$qv,"limit":5,
         |"serve":true,"recallTarget":1.0}""".stripMargin)
    assert(dot.contains("\"served\":true"), dot)
    val dotJob = db.query(
      s"""{"table":"S","queryField":"SV","queryVector":$qv,"limit":5,
         |"response":["ID"]}""".stripMargin)
    assert(resultIds(dot).map(m) == resultIds(dotJob, "ID"), s"$dot vs $dotJob")
  }

  test("recallTarget + hybrid: the dense side serves under its PROVEN cover, keyword rides the job path (round 12 upgrade)") {
    // round 11 forced BOTH sides onto job paths; the dense side now
    // serves under the same geometric-cover proof the single dispatch
    // uses (1.0 = the exact dense cut), so the fused answer is unchanged
    // and the envelope says which side served
    val db = fixtureDbWithDoc("r11_rt_hybrid")
    db.rebuildBm25Index("T", "Doc")
    val req =
      s"""{"table":"T","keywords":["spark","vector","join"],
         |"textField":"Doc","queryField":"V","queryVector":$qVec,
         |"limit":10""".stripMargin
    val plain = db.query(req + "}")
    val floored = db.query(req + ""","serve":true,"recallTarget":1.0}""")
    assert(floored.contains("\"served\":{\"dense\":true,\"keyword\":false}"),
      floored)
    assert(resultIds(floored) == resultIds(plain), s"$floored vs $plain")
  }

  test("ann + filter + recallTarget answers EXACTLY (full probe, never the unproven fixed-probe cut)") {
    val db = fixtureDb("r11_rt_ann_filter")
    val exact = resultIds(db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":8,
         |"filter":"Label >= 5","response":["ID"]}""".stripMargin), "ID")
    val ann = resultIds(db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":8,"ann":true,
         |"recallTarget":1.0,"filter":"Label >= 5","response":["ID"]}""".stripMargin), "ID")
    assert(ann == exact, s"$ann vs $exact")
    // a filter on an undeclared column too (serve would decline; ann path
    // must still prove the floor)
    val exact2 = resultIds(db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":8,
         |"filter":"Lang = 'en'","response":["ID"]}""".stripMargin), "ID")
    val ann2 = resultIds(db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":8,"ann":true,
         |"recallTarget":1.0,"filter":"Lang = 'en'","response":["ID"]}""".stripMargin), "ID")
    assert(ann2 == exact2, s"$ann2 vs $exact2")
  }

  // ---- proven-recall FILTERED serving (passing-count covers) ----

  test("recallTarget + filter SERVES with the passing-count cover, target 1.0 equals the filtered job path") {
    val db = fixtureDb("r11_rt_filter_serve")
    val m = rowIdToId(db)
    for (filter <- Seq("Label >= 5", "Label = 7")) {
      val served = db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":8,"serve":true,
           |"recallTarget":1.0,"filter":"$filter"}""".stripMargin)
      assert(served.contains("\"served\":true") &&
        served.contains("\"filtered\":true"), served)
      val job = db.query(
        s"""{"table":"T","queryVector":$qVec,"limit":8,
           |"filter":"$filter","response":["ID"]}""".stripMargin)
      assert(resultIds(served).map(m) == resultIds(job, "ID"),
        s"$filter: $served vs $job")
    }
  }

  /** Clustered fixture where pruning genuinely bites (Round10Spec's blobs):
    * 8 well-separated blobs of n/8 rows each. */
  private def blobs(n: Int) = {
    val rows = (0 until n).map { i =>
      val c = i % 8
      Row(i.toLong, Seq(c * 10.0f + (i % 13) * 0.01f, c * 10.0f,
        (c % 3) * 10.0f, (i % 7) * 0.01f))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))))
  }

  test("passing-count cover prunes when the filter's matches are local, widens when they are far") {
    val df = blobs(800)
    val path = tmpDir("r11_fr_cover")
    val idx = graft.index.IvfIndex.build(spark, df, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 5)
    idx.setServeFilterColumns(Seq("id"))
    val q = Array(0.03f, 0.0f, 0.0f, 0.02f) // at blob 0's center
    def filteredExact(cond: org.apache.spark.sql.Column): Seq[Long] =
      idx.search("vec", q, 10, idx.centroids().length, preFilter = Some(cond))
        .select(col("id")).collect().map(_.getLong(0)).toSeq
    // LOCAL matches: id < 100 spans every blob (~12 each), so blob 0's
    // passing count covers k=10 — the cover should stay narrow
    val local = Seq(graft.filter.SimpleConjuncts.Cond("id", "<",
      graft.filter.SimpleConjuncts.NumLit(100.0, isInt = true)))
    val gotLocal = idx.serveOne("vec", q, 10, ServeProbe.Recall(1.0, 0L), conds = local)
      .map(_.hits)
    assert(gotLocal.isDefined, "local filtered-recall serve declined")
    assert(gotLocal.get.map(_._1).toSeq == filteredExact(col("id") < 100))
    val residentAfterLocal = idx.servingResidentRows()
    assert(residentAfterLocal < 800,
      s"cover never pruned on separated blobs: $residentAfterLocal resident")
    // FAR matches: id >= 792 passes exactly one row PER blob — the true
    // filtered top-8 spans all 8 blobs, so the UNFILTERED cover (which
    // stops at blob 0) would be wrong; the passing-count cover must widen
    // and still return the exact filtered answer
    val far = Seq(graft.filter.SimpleConjuncts.Cond("id", ">=",
      graft.filter.SimpleConjuncts.NumLit(792.0, isInt = true)))
    val gotFar = idx.serveOne("vec", q, 8, ServeProbe.Recall(1.0, 0L), conds = far)
      .map(_.hits)
    assert(gotFar.isDefined, "far filtered-recall serve declined")
    val expectFar = filteredExact(col("id") >= 792).take(8)
    assert(gotFar.get.map(_._1).toSeq == expectFar,
      s"far matches lost: ${gotFar.get.map(_._1).toSeq} vs $expectFar")
    // the filtered-recall path reports a declared floor < 1 honestly too
    val half = idx.serveOne("vec", q, 10, ServeProbe.Recall(0.5, 0L), conds = local)
      .map(_.hits)
    assert(half.isDefined)
    val exactLocal = filteredExact(col("id") < 100).toSet
    val recall = half.get.map(_._1).count(exactLocal.contains) / 10.0
    assert(recall >= 0.5, s"declared floor violated: $recall")
  }

  test("batch recallTarget SERVES on the shared sweep with per-query proven covers") {
    val db = fixtureDb("r11_batch_rt_serve")
    val m = rowIdToId(db)
    val vs = Seq(qVec, "[0.1,0.9,0.2,0.8]")
    val batch = db.query(
      s"""{"table":"T","queryVectors":[${vs.mkString(",")}],
         |"limit":6,"serve":true,"recallTarget":1.0}""".stripMargin)
    val entries = (JsonMethods.parse(batch) \ "results") match {
      case JArray(rs) => rs.map(r => JsonMethods.compact(JsonMethods.render(r)))
      case other => fail(s"bad envelope: $other")
    }
    val singles = vs.map(v => resultIds(db.query(
      s"""{"table":"T","queryVector":$v,"limit":6,"response":["ID"]}"""), "ID"))
    entries.zip(singles).foreach { case (e, exact) =>
      // round 10 declined the batch to per-query dispatch; now the batch
      // itself serves — each entry marked AND exact (target 1.0)
      assert(e.contains("\"served\":true"), e)
      assert(resultIds(e).map(m) == exact, s"$e vs $exact")
    }
  }

  test("batch recallTarget on the CODE tiers serves on the shared sweep (cover × forced certification)") {
    val db = fixtureDb("r11_batch_rt_code")
    val m = rowIdToId(db)
    val vs = Seq(qVec, "[0.1,0.9,0.2,0.8]", "[0.7,0.1,0.6,0.3]")
    val singles = vs.map(v => resultIds(db.query(
      s"""{"table":"T","queryVector":$v,"limit":6,"response":["ID"]}"""), "ID"))
    for (tier <- Seq("quantized", "pq")) {
      val batch = db.query(
        s"""{"table":"T","queryVectors":[${vs.mkString(",")}],
           |"limit":6,"serve":true,"$tier":true,"recallTarget":1.0}""".stripMargin)
      val entries = (JsonMethods.parse(batch) \ "results") match {
        case JArray(rs) => rs.map(r => JsonMethods.compact(JsonMethods.render(r)))
        case other => fail(s"bad envelope: $other")
      }
      entries.zip(singles).foreach { case (e, exact) =>
        // each entry must be marked served + tier + certified (the floor
        // forces certification — cover × certified is the proof) and the
        // id SET must be the exact top-6 (target 1.0)
        assert(e.contains("\"served\":true") &&
          e.contains(s""""$tier":true""") &&
          e.contains("\"certified\":true"), s"$tier: $e")
        assert(resultIds(e).map(m).toSet == exact.toSet, s"$tier: $e vs $exact")
      }
    }
  }

  test("batch recallTarget + FILTER serves on the shared sweep (per-query passing-count covers, all three tiers)") {
    val db = fixtureDb("r11_batch_rt_filter")
    val m = rowIdToId(db)
    val vs = Seq(qVec, "[0.1,0.9,0.2,0.8]", "[0.7,0.1,0.6,0.3]")
    val jobF = vs.map(v => resultIds(db.query(
      s"""{"table":"T","queryVector":$v,"limit":6,
         |"filter":"Label >= 5","response":["ID"]}""".stripMargin), "ID"))
    for (tier <- Seq("", "\"quantized\":true,", "\"pq\":true,")) {
      val batch = db.query(
        s"""{"table":"T","queryVectors":[${vs.mkString(",")}],
           |"limit":6,"serve":true,$tier"recallTarget":1.0,
           |"filter":"Label >= 5"}""".stripMargin)
      val entries = (JsonMethods.parse(batch) \ "results") match {
        case JArray(rs) => rs.map(r => JsonMethods.compact(JsonMethods.render(r)))
        case other => fail(s"bad envelope: $other")
      }
      entries.zip(jobF).foreach { case (e, exact) =>
        // every entry marked served+filtered (+certified on a code tier —
        // the floor forces certification there) and SET-equal to the
        // filtered job path at target 1.0
        assert(e.contains("\"served\":true") &&
          e.contains("\"filtered\":true"), s"[$tier] $e")
        if (tier.nonEmpty) assert(e.contains("\"certified\":true"), s"[$tier] $e")
        assert(resultIds(e).map(m).toSet == exact.toSet,
          s"[$tier] $e vs $exact")
        assert(resultIds(e).map(m).forall(_ % 10 >= 5), s"[$tier] $e")
      }
    }
    // a 0.5 floor + filter stays honored batch-wide (recall vs filtered
    // exact >= 0.5 per entry, still marked filtered)
    val half = db.query(
      s"""{"table":"T","queryVectors":[${vs.mkString(",")}],
         |"limit":6,"serve":true,"recallTarget":0.5,
         |"filter":"Label >= 5"}""".stripMargin)
    val hEntries = (JsonMethods.parse(half) \ "results") match {
      case JArray(rs) => rs.map(r => JsonMethods.compact(JsonMethods.render(r)))
      case other => fail(s"bad envelope: $other")
    }
    hEntries.zip(jobF).foreach { case (e, exact) =>
      assert(e.contains("\"filtered\":true") || !e.contains("\"served\""), e)
      val got =
        if (e.contains("\"served\":true")) resultIds(e).map(m) else resultIds(e, "ID")
      val recall = got.toSet.intersect(exact.toSet).size.toDouble / exact.size
      assert(recall >= 0.5, s"floor violated: $e vs $exact")
    }
  }

  test("servePointBatch with explicit probe sets equals per-query servePoint covers") {
    val df = blobs(800)
    val path = tmpDir("r11_batch_covers")
    val idx = graft.index.IvfIndex.build(spark, df, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 5)
    val queries = (0 until 8).map { ci =>
      (ci.toLong, Array(ci * 10.0f + 0.03f, ci * 10.0f, (ci % 3) * 10.0f, 0.02f))
    }.toArray
    val covers = queries.map { case (_, q) => idx.probeSetForRecall(q, 10, 1.0) }
    // the batch serves each query under ITS proven cover (the kept
    // explicit-probe-set adapter and the Recall probe mode agree)
    val batch = idx.servePointBatch("vec", queries, 10, nProbe = 2,
      probeSets = Some(covers))
    val recallBatch = idx.serveAll("vec", queries.map(_._2), 10,
      ServeProbe.Recall(1.0, 0L))
    queries.zipWithIndex.foreach { case ((qid, q), i) =>
      val single = idx.serveOne("vec", q, 10, ServeProbe.Recall(1.0, 0L))
      assert(single.get.probed.toSeq == covers(i).toSeq, s"query $qid cover")
      assert(batch(i)._1 == qid)
      assert(batch(i)._2.map(_.toSeq) == single.map(_.hits.toSeq),
        s"query $qid diverged")
      assert(recallBatch(i).map(_.hits.toSeq) == single.map(_.hits.toSeq))
      // the cover is proven exact — equal to the full probe
      val exact = idx.serveOne("vec", q, 10,
        ServeProbe.Nearest(idx.centroids().length)).map(_.hits)
      assert(batch(i)._2.map(_.map(_._1).toSeq) == exact.map(_.map(_._1).toSeq))
    }
  }

  // ---- filtered hybrid: BOTH sides served under a resident conjunction ----

  test("filtered hybrid serves BOTH sides (keyword side borrows the dense pass verdict), equal to the job path") {
    val db = fixtureDbWithDoc("r11_hybrid_both")
    db.rebuildBm25Index("T", "Doc")
    val req =
      s"""{"table":"T","keywords":["spark","vector","join"],
         |"textField":"Doc","queryField":"V","queryVector":$qVec,
         |"limit":10,"nProbe":9999,"filter":"Label >= 5"""".stripMargin
    val served = db.query(req + ""","serve":true}""")
    assert(served.contains("\"served\":{\"dense\":true,\"keyword\":true}"),
      served)
    val job = db.query(req + "}")
    assert(resultIds(served) == resultIds(job), s"$served vs $job")
    val m = rowIdToId(db)
    assert(resultIds(served).map(m).forall(_ % 10 >= 5), served)
    // a filter OUTSIDE the sub-grammar keeps both sides on the job paths
    val declined = db.query(
      s"""{"table":"T","keywords":["spark","vector","join"],
         |"textField":"Doc","queryField":"V","queryVector":$qVec,
         |"limit":10,"filter":"Label >= 8 OR Label < 1","serve":true}""".stripMargin)
    assert(!declined.contains("\"served\""), declined)
  }

  test("filtered hybrid keyword serving judges tail rows by the sidecar (fresh doc passes, fresh non-match is masked)") {
    val db = fixtureDbWithDoc("r11_hybrid_both_tail")
    db.rebuildBm25Index("T", "Doc")
    // fresh rows above the DENSE index watermark; BM25 impacts are frozen
    // so these docs don't enter the keyword ranking — but the dense side
    // must judge them by the sidecar, and the keyword mask must stay
    // complete (ids above the pin → tail verdict)
    val extra = Seq(
      Row(1000L, 7L, "spark vector join", Seq(0.5f, 0.4f, 0.3f, 0.2f)),
      Row(1001L, 2L, "spark vector join", Seq(0.5f, 0.4f, 0.3f, 0.2f)))
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(extra, 1), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("Label", LongType, nullable = false),
        StructField("Doc", StringType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    val req =
      s"""{"table":"T","keywords":["spark","vector","join"],
         |"textField":"Doc","queryField":"V","queryVector":$qVec,
         |"limit":10,"nProbe":9999,"filter":"Label >= 5"""".stripMargin
    val served = db.query(req + ""","serve":true}""")
    assert(served.contains("\"served\":{\"dense\":true,\"keyword\":true}"),
      served)
    val job = db.query(req + "}")
    assert(resultIds(served) == resultIds(job), s"$served vs $job")
    val m = rowIdToId(db)
    val ids = resultIds(served).map(m)
    assert(ids.contains(1000L), s"passing fresh row lost: $ids")
    assert(!ids.contains(1001L), s"failing fresh row leaked: $ids")
  }

  test("sparse-field filtered serving borrows a dense sibling's pass verdict (dot + Euclid); undeclared columns decline") {
    val db = new graft.api.GraftDb(spark, tmpDir("r11_sparse_filter"))
    db.createTable(
      """{"name":"S","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Label","dataType":"BIGINT"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":16,
        | "metricType":"DOT_PRODUCT"},
        |{"name":"SE","dataType":"SPARSE_VECTOR_FLOAT","dimensions":16,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val rows = (0 until 600).map { i =>
      // sparse indices must be STRICTLY increasing or validation skips
      // the row (table_segment_mvp.cpp:511-553)
      val (a, b) = (i % 16, (i + 7) % 16)
      val sv = Row(Seq(math.min(a, b), math.max(a, b)),
        Seq(1.0f + (i % 5) * 0.25f, 0.5f))
      Row(i.toLong, (i % 10).toLong, vecOf(i), sv, sv)
    }
    val res = db.store("S").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("Label", LongType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false),
        StructField("SV", graft.functions.SparseVec.sqlType, nullable = false),
        StructField("SE", graft.functions.SparseVec.sqlType, nullable = false)))))
    assert(res.inserted == 600, res.toString)
    assert(db.rebuildIndex("S", "V"))
    assert(db.rebuildIndex("S", "SV"))
    assert(db.rebuildIndex("S", "SE"))
    db.setServeFilterColumns("S", "V", Seq("Label"))
    val qv = """{"indices":[3,10],"values":[1.0,1.0]}"""
    val m = db.store("S").read()
      .select(col(graft.store.TableStore.RowId), col("ID"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // dot: retrieval-mode contract, masked — equal to the filtered job
    // path on this all-overlap, positive-valued fixture
    for (fld <- Seq("SV", "SE")) {
      val served = db.query(
        s"""{"table":"S","queryField":"$fld","queryVector":$qv,"limit":5,
           |"serve":true,"filter":"Label >= 5"}""".stripMargin)
      assert(served.contains("\"served\":true") &&
        served.contains("\"filtered\":true"), s"$fld: $served")
      val job = db.query(
        s"""{"table":"S","queryField":"$fld","queryVector":$qv,"limit":5,
           |"filter":"Label >= 5","response":["ID"]}""".stripMargin)
      assert(resultIds(served).map(m) == resultIds(job, "ID"),
        s"$fld: $served vs $job")
      assert(resultIds(served).map(m).forall(_ % 10 >= 5), s"$fld: $served")
    }
    // a filter on an UNDECLARED column still declines (no usable donor)
    val undeclared = db.query(
      s"""{"table":"S","queryField":"SV","queryVector":$qv,"limit":5,
         |"serve":true,"filter":"ID >= 100","response":["ID"]}""".stripMargin)
    assert(!undeclared.contains("\"served\""), undeclared)
  }

  test("a rebuild racing a recall COVER retries to a consistent generation (covers are derived state too)") {
    // the cover twin of the pass-set race: probeSetForRecall reads gen-G
    // radii/counts, the sweep re-handshakes — a same-watermark rebuild
    // in between reuses cluster ids 0..N-1, so a stale cover would serve
    // the new generation with no recall proof. A Recall serve pins the
    // cover; target 1.0's answer is generation-INDEPENDENT (exact over
    // the same rows), so the assertion is deterministic.
    val df = blobs(800)
    val path = tmpDir("r11_coverrace")
    graft.index.IvfIndex.build(spark, df, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val raced = new graft.index.IvfIndex(spark, path, "id",
      graft.types.MetricType.Euclidean) {
      override protected def loadClusters(vecCol: String, missing: Array[Int])
          : Map[Int, (Array[Long], Array[Double], Array[Double])] = {
        if (fired.compareAndSet(false, true)) {
          graft.index.IvfIndex.build(spark, df, "vec", "id", path,
            graft.types.MetricType.Euclidean, nClusters = 5, maxIter = 2)
        }
        super.loadClusters(vecCol, missing)
      }
    }
    val q = Array(5.0f, 5.0f, 5.0f, 0.0f) // between blobs: partial covers
    var got: Option[Array[(Long, Double)]] = None
    var tries = 0
    while (got.isEmpty && tries < 6) {
      got = raced.serveOne("vec", q, 10, ServeProbe.Recall(1.0, 0L)).map(_.hits)
      tries += 1
    }
    assert(fired.get, "fixture never raced")
    assert(got.isDefined, "recall serve never recovered after the race")
    val fresh = new graft.index.IvfIndex(spark, path, "id",
      graft.types.MetricType.Euclidean)
    val exact = fresh.serveOne("vec", q, 10,
      ServeProbe.Nearest(fresh.centroids().length)).map(_.hits)
    assert(exact.isDefined)
    assert(got.get.map(_._1).toSeq == exact.get.map(_._1).toSeq,
      "raced recall cover lost exactness")
  }

  // ---- ADVICE medium: pass-set pin race across a same-watermark rebuild ----

  test("a rebuild racing the pass set retries to a consistent generation (never a stale mask)") {
    val df = blobs(800)
    val path = tmpDir("r11_passrace")
    graft.index.IvfIndex.build(spark, df, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the raced instance: the FIRST vector cold load triggers a full
    // rebuild with a DIFFERENT clustering (same rows, same watermark —
    // only the generation moves), the exact window the ADVICE flagged
    val raced = new graft.index.IvfIndex(spark, path, "id",
      graft.types.MetricType.Euclidean) {
      override protected def loadClusters(vecCol: String, missing: Array[Int])
          : Map[Int, (Array[Long], Array[Double], Array[Double])] = {
        if (fired.compareAndSet(false, true)) {
          graft.index.IvfIndex.build(spark, df, "vec", "id", path,
            graft.types.MetricType.Euclidean, nClusters = 5, maxIter = 2)
        }
        super.loadClusters(vecCol, missing)
      }
    }
    raced.setServeFilterColumns(Seq("id"))
    val conds = Seq(graft.filter.SimpleConjuncts.Cond("id", ">=",
      graft.filter.SimpleConjuncts.NumLit(100.0, isInt = true)))
    val q = Array(0.03f, 0.0f, 0.0f, 0.02f)
    // partial probe: the gen-0 pass set does NOT cover gen-1 memberships,
    // so serving gen 1 under the stale mask would drop passing rows
    var got: Option[Array[(Long, Double)]] = None
    var tries = 0
    while (got.isEmpty && tries < 6) {
      got = raced.serveOne("vec", q, 10, ServeProbe.Nearest(3), conds = conds)
        .map(_.hits)
      tries += 1
    }
    assert(fired.get, "fixture never raced")
    assert(got.isDefined, "filtered serve never recovered after the race")
    // expectation from a FRESH instance at the final generation
    val fresh = new graft.index.IvfIndex(spark, path, "id",
      graft.types.MetricType.Euclidean)
    fresh.setServeFilterColumns(Seq("id"))
    val expect = fresh.serveOne("vec", q, 10, ServeProbe.Nearest(3), conds = conds)
      .map(_.hits)
    assert(expect.isDefined)
    assert(got.get.map(_._1).toSeq == expect.get.map(_._1).toSeq,
      "raced filtered serve diverged from the consistent answer")
  }

  // ---- serve-path facets over the served top-k ----

  test("serve-path facets equal the job path's facet envelope byte-for-byte") {
    val db = fixtureDb("r11_serve_facets")
    db.setServeFilterColumns("T", "V", Seq("Label", "ID"))
    val req =
      s"""{"table":"T","queryVector":$qVec,"limit":50,"nProbe":9999,
         |"facets":[{"group":["Label"],"aggregate":["COUNT(*)","SUM(ID)"]},
         |          {"group":[],"aggregate":["COUNT(*)","AVG(Label)","MIN(ID)","MAX(ID)"]}]""".stripMargin
    val served = db.query(req + ""","serve":true}""")
    assert(served.contains("\"served\":true"), served)
    val job = db.query(req + "}")
    assert(!job.contains("\"served\""), job)
    assert(facetRowSets(served) == facetRowSets(job),
      s"facet envelopes diverged:\n$served\n$job")
  }

  /** Per-facet GROUP ROWS as rendered-JSON sets: hash-agg emission order
    * is nondeterministic on both paths, so equality is per-facet
    * set-of-rows (each row's rendered text still compares byte-for-byte —
    * number formatting divergence would fail). */
  private def facetRowSets(resp: String): Seq[Set[String]] =
    (JsonMethods.parse(resp) \ "facets") match {
      case JArray(fs) => fs.map {
        case JArray(rows) =>
          rows.map(r => JsonMethods.compact(JsonMethods.render(r))).toSet
        case other => fail(s"bad facet entry in $resp: $other")
      }
      case other => fail(s"no facets in $resp: $other")
    }

  test("serve-path facets include tail rows and compose with a filter") {
    val db = fixtureDb("r11_serve_facets_tail")
    db.setServeFilterColumns("T", "V", Seq("Label", "ID"))
    val extra = Seq(
      Row(1000L, 7L, "en", Seq(0.5f, 0.4f, 0.3f, 0.2f)),
      Row(1001L, 2L, "en", Seq(0.5f, 0.4f, 0.3f, 0.2f)))
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(extra, 1), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("Label", LongType, nullable = false),
        StructField("Lang", StringType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    val req =
      s"""{"table":"T","queryVector":$qVec,"limit":10,"nProbe":9999,
         |"filter":"Label >= 5",
         |"facets":[{"group":["Label"],"aggregate":["COUNT(*)","MAX(ID)"]}]""".stripMargin
    val served = db.query(req + ""","serve":true}""")
    assert(served.contains("\"served\":true") &&
      served.contains("\"filtered\":true"), served)
    val job = db.query(req + "}")
    assert(facetRowSets(served) == facetRowSets(job), s"$served\n$job")
    // the passing tail row (ID 1000, Label 7, distance 0) must be inside
    // the faceted top-k: MAX(ID) for the Label-7 group proves it
    assert(served.contains("1000"), served)
  }

  test("facets compose with a recallTarget cover (lookup follows the cover's probe set)") {
    val db = fixtureDb("r11_facets_cover")
    db.setServeFilterColumns("T", "V", Seq("Label", "ID"))
    val req =
      s"""{"table":"T","queryVector":$qVec,"limit":20,"recallTarget":1.0,
         |"facets":[{"group":["Label"],"aggregate":["COUNT(*)","SUM(ID)"]}]""".stripMargin
    val served = db.query(req + ""","serve":true}""")
    val job = db.query(req.replace(""","recallTarget":1.0""", "") + "}")
    // target 1.0 => the served ids ARE the exact top-20, so the facet
    // rows must equal the plain job path's
    if (served.contains("\"served\":true"))
      assert(facetRowSets(served) == facetRowSets(job), s"$served\n$job")
    else // cover over budget is a legitimate decline — still exact
      assert(facetRowSets(served) == facetRowSets(job), s"$served\n$job")
  }

  test("serve-path facets ride the code tiers too (same residency source)") {
    val db = fixtureDb("r11_serve_facets_code")
    db.setServeFilterColumns("T", "V", Seq("Label", "ID"))
    val req =
      s"""{"table":"T","queryVector":$qVec,"limit":20,"nProbe":9999,
         |"facets":[{"group":["Label"],"aggregate":["COUNT(*)","SUM(ID)"]}]""".stripMargin
    val job = db.query(req + "}")
    for (tier <- Seq("quantized", "pq")) {
      // certified => the id set (hence the facet input) is proven equal
      // to the exact top-k, so facet rows must match the job path's
      val served = db.query(req + s""","serve":true,"$tier":true,"certified":true}""")
      assert(served.contains("\"served\":true") &&
        served.contains(s""""$tier":true"""), s"$tier: $served")
      assert(facetRowSets(served) == facetRowSets(job), s"$tier:\n$served\n$job")
    }
  }

  test("batch facets ride the shared sweep: every entry served with ITS facet envelope, set-equal to the job path") {
    val db = fixtureDb("r11_batch_facets")
    db.setServeFilterColumns("T", "V", Seq("Label", "ID"))
    val vs = Seq(qVec, "[0.1,0.9,0.2,0.8]", "[0.7,0.1,0.6,0.3]")
    val facetsReq =
      """"facets":[{"group":["Label"],"aggregate":["COUNT(*)","SUM(ID)"]},
        |          {"group":[],"aggregate":["COUNT(*)","MIN(ID)","MAX(ID)"]}]""".stripMargin
    val batch = db.query(
      s"""{"table":"T","queryVectors":[${vs.mkString(",")}],"limit":20,
         |"nProbe":9999,"serve":true,$facetsReq}""".stripMargin)
    val entries = (JsonMethods.parse(batch) \ "results") match {
      case JArray(rs) => rs.map(r => JsonMethods.compact(JsonMethods.render(r)))
      case other => fail(s"bad envelope: $other")
    }
    assert(entries.length == vs.length)
    entries.zip(vs).foreach { case (e, v) =>
      assert(e.contains("\"served\":true"), e)
      val job = db.query(
        s"""{"table":"T","queryVector":$v,"limit":20,"nProbe":9999,
           |$facetsReq}""".stripMargin)
      assert(!job.contains("\"served\""), job)
      assert(facetRowSets(e) == facetRowSets(job), s"$e\n$job")
    }
    // the facet input is tier- and cover-independent once the id set is
    // exact: code tiers (certified) and a recallTarget cover must yield
    // the same facet rows on the batch path
    for (extra <- Seq(""","quantized":true,"certified":true""",
        ""","pq":true,"certified":true""", ""","recallTarget":1.0""")) {
      val b2 = db.query(
        s"""{"table":"T","queryVectors":[${vs.mkString(",")}],"limit":20,
           |"nProbe":9999,"serve":true$extra,$facetsReq}""".stripMargin)
      (JsonMethods.parse(b2) \ "results") match {
        case JArray(rs) => rs.map(r => JsonMethods.compact(JsonMethods.render(r)))
          .zip(vs).foreach { case (e, v) =>
            assert(e.contains("\"served\":true"), s"$extra: $e")
            val job = db.query(
              s"""{"table":"T","queryVector":$v,"limit":20,"nProbe":9999,
                 |$facetsReq}""".stripMargin)
            assert(facetRowSets(e) == facetRowSets(job), s"$extra:\n$e\n$job")
          }
        case other => fail(s"$extra: bad envelope: $other")
      }
    }
    // facets compose with a shared FILTER on the batch sweep: each
    // entry's facet rows aggregate its FILTERED top-k
    val filtered = db.query(
      s"""{"table":"T","queryVectors":[${vs.mkString(",")}],"limit":20,
         |"nProbe":9999,"serve":true,"filter":"Label >= 5",$facetsReq}""".stripMargin)
    (JsonMethods.parse(filtered) \ "results") match {
      case JArray(rs) => rs.map(r => JsonMethods.compact(JsonMethods.render(r)))
        .zip(vs).foreach { case (e, v) =>
          assert(e.contains("\"served\":true") &&
            e.contains("\"filtered\":true"), e)
          val job = db.query(
            s"""{"table":"T","queryVector":$v,"limit":20,"nProbe":9999,
               |"filter":"Label >= 5",$facetsReq}""".stripMargin)
          assert(facetRowSets(e) == facetRowSets(job), s"$e\n$job")
        }
      case other => fail(s"bad envelope: $other")
    }
    // a facet over an UNDECLARED column degrades each entry to its
    // per-query fallback (job path — correct facets, no served mark)
    val undeclared = db.query(
      s"""{"table":"T","queryVectors":[${vs.mkString(",")}],"limit":20,
         |"serve":true,
         |"facets":[{"group":["Lang"],"aggregate":["COUNT(*)"]}]}""".stripMargin)
    (JsonMethods.parse(undeclared) \ "results") match {
      case JArray(rs) => rs.foreach { r =>
        val s = JsonMethods.compact(JsonMethods.render(r))
        assert(!s.contains("\"served\""), s)
        assert(s.contains("\"facets\""), s)
      }
      case other => fail(s"bad envelope: $other")
    }
  }

  test("sparse serve facets borrow the dense donor's residency; fresh rows ride its tail sidecar; no donor declines") {
    val db = new graft.api.GraftDb(spark, tmpDir("r11_sparse_facets"))
    db.createTable(
      """{"name":"S","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Label","dataType":"BIGINT"},
        |{"name":"Lang","dataType":"STRING"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"},
        |{"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":16,
        | "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    val schema = StructType(Seq(
      StructField("ID", LongType, nullable = false),
      StructField("Label", LongType, nullable = false),
      StructField("Lang", StringType, nullable = false),
      StructField("V", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("SV", graft.functions.SparseVec.sqlType, nullable = false)))
    def svOf(i: Int): Row = {
      val (a, b) = (i % 16, (i + 7) % 16)
      Row(Seq(math.min(a, b), math.max(a, b)),
        Seq(1.0f + (i % 5) * 0.25f, 0.5f))
    }
    val rows = (0 until 600).map(i =>
      Row(i.toLong, (i % 10).toLong, langs(i % 3), vecOf(i), svOf(i)))
    val res = db.store("S").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema))
    assert(res.inserted == 600, res.toString)
    assert(db.rebuildIndex("S", "V"))
    assert(db.rebuildIndex("S", "SV"))
    db.setServeFilterColumns("S", "V", Seq("Label", "ID"))
    // a FRESH row above both pins that lands in the sparse top-k: its
    // facet values must come from the donor's tail scalar sidecar
    val extra = db.store("S").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1000L, 7L, "en", Seq(9f, 9f, 9f, 9f),
          Row(Seq(3, 10), Seq(9.0f, 9.0f)))), 1), schema))
    assert(extra.inserted == 1, extra.toString)
    val qv = """{"indices":[3,10],"values":[1.0,1.0]}"""
    val req =
      s"""{"table":"S","queryField":"SV","queryVector":$qv,"limit":10,
         |"facets":[{"group":["Label"],"aggregate":["COUNT(*)","SUM(ID)"]},
         |          {"group":[],"aggregate":["COUNT(*)","MAX(ID)"]}]""".stripMargin
    val served = db.query(req + ""","serve":true}""")
    assert(served.contains("\"served\":true"), served)
    val job = db.query(req + "}")
    assert(!job.contains("\"served\""), job)
    assert(facetRowSets(served) == facetRowSets(job), s"$served\n$job")
    // the fresh row tops the overlap ranking: MAX(ID) proves it's inside
    assert(served.contains("1000"), served)
    // a facet touching an UNDECLARED column has no donor: decline (the
    // job path answers with correct facets, unmarked)
    val und = db.query(
      s"""{"table":"S","queryField":"SV","queryVector":$qv,"limit":10,
         |"serve":true,
         |"facets":[{"group":["Lang"],"aggregate":["COUNT(*)"]}]}""".stripMargin)
    assert(!und.contains("\"served\""), und)
    assert(und.contains("\"facets\""), und)
  }

  test("serve-filter declarations persist on disk: follower instances and fresh GraftDbs inherit them") {
    val df = blobs(800)
    val path = tmpDir("r11_declpersist")
    graft.index.IvfIndex.build(spark, df, "vec", "id", path,
      graft.types.MetricType.Euclidean, nClusters = 8, maxIter = 3)
    val leader = new graft.index.IvfIndex(spark, path, "id",
      graft.types.MetricType.Euclidean)
    leader.setServeFilterColumns(Seq("id"))
    // a FOLLOWER process opening the same root (fresh instance, no
    // out-of-band declaration) inherits and serves filtered
    val follower = new graft.index.IvfIndex(spark, path, "id",
      graft.types.MetricType.Euclidean)
    assert(follower.serveFilterColumns() == Seq("id"))
    val conds = Seq(graft.filter.SimpleConjuncts.Cond("id", ">=",
      graft.filter.SimpleConjuncts.NumLit(100.0, isInt = true)))
    val q = Array(0.03f, 0.0f, 0.0f, 0.02f)
    val nAll = follower.centroids().length
    val got = follower.serveOne("vec", q, 10, ServeProbe.Nearest(nAll),
      conds = conds).map(_.hits)
    val expect = leader.search("vec", q, 10, nAll,
        preFilter = Some(col("id") >= 100))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(got.isDefined && got.get.map(_._1).toSeq == expect)
    // and at the GraftDb level: a fresh db over the same root (process
    // restart) serves filtered without re-declaration
    val root = tmpDir("r11_declpersist_db")
    val db = new graft.api.GraftDb(spark, root)
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Label","dataType":"BIGINT"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 600).map(i =>
        Row(i.toLong, (i % 10).toLong, vecOf(i))), 2), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("Label", LongType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    assert(db.rebuildIndex("T", "V"))
    db.setServeFilterColumns("T", "V", Seq("Label"))
    val db2 = new graft.api.GraftDb(spark, root) // "restarted process"
    val resp = db2.query(
      s"""{"table":"T","queryVector":$qVec,"limit":5,"nProbe":9999,
         |"filter":"Label >= 5","serve":true}""".stripMargin)
    assert(resp.contains("\"served\":true") && resp.contains("\"filtered\":true"),
      resp)
  }

  // ---- ADVICE low: config durability across release()/lazy opens ----

  test("MaxServeRows/MaxServeBytes/ServeFilterColumns survive release() (db-level defaults)") {
    val db = fixtureDb("r11_cfg_survive")
    db.updateConfig("""{"MaxServeRows":123456,"MaxServeBytes":77777777}""")
    db.release() // drops every instance — the next access must re-apply
    val ix = db.denseIndexFor("T", "V")
    assert(ix.maxServeRows == 123456L, s"MaxServeRows reverted: ${ix.maxServeRows}")
    assert(ix.maxServeBytes == 77777777L, s"MaxServeBytes reverted: ${ix.maxServeBytes}")
    assert(ix.serveFilterColumns() == Seq("Label"),
      s"filter declaration lost: ${ix.serveFilterColumns()}")
    // and filtered serving still works on the fresh instance
    val resp = db.query(
      s"""{"table":"T","queryVector":$qVec,"limit":5,"nProbe":9999,
         |"filter":"Label >= 5","serve":true}""".stripMargin)
    assert(resp.contains("\"served\":true") && resp.contains("\"filtered\":true"), resp)
  }

  // ---- ADVICE low: dump/load path confinement ----

  test("dump/loadCsv respect the configured IO root (absolute escapes and .. rejected)") {
    val db = fixtureDb("r11_ioroot")
    val root = tmpDir("r11_ioroot_exports")
    db.updateConfig(s"""{"IoRoot":"$root"}""")
    db.dump(s"$root/ok") // inside: fine
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/ok/T/schema.json")))
    db.dump("relative_ok") // relative resolves INSIDE the root
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/relative_ok/T/schema.json")))
    intercept[IllegalArgumentException](db.dump("/tmp/definitely_outside_r11"))
    intercept[IllegalArgumentException](db.dump(s"$root/../escape"))
    intercept[IllegalArgumentException](db.loadCsv("T", "../escape.csv"))
  }

  // ---- helper: fixture with a Doc column for the hybrid test ----

  private val vocab = Array("spark", "vector", "join", "scan", "stream",
    "filter", "hash", "probe", "window", "state", "plan", "fusion")

  private def fixtureDbWithDoc(tag: String): graft.api.GraftDb = {
    val db = new graft.api.GraftDb(spark, tmpDir(tag))
    db.createTable(
      """{"name":"T","fields":[
        |{"name":"ID","dataType":"BIGINT","primaryKey":true},
        |{"name":"Label","dataType":"BIGINT"},
        |{"name":"Doc","dataType":"STRING"},
        |{"name":"V","dataType":"VECTOR_FLOAT","dimensions":4,
        | "metricType":"EUCLIDEAN"}]}""".stripMargin)
    val rows = (0 until 600).map { i =>
      val len = 4 + (i * 7) % 9
      val doc = (0 until len).map(j => vocab((i * 5 + j * j) % vocab.length))
        .mkString(" ")
      Row(i.toLong, (i % 10).toLong, doc, vecOf(i))
    }
    db.store("T").insert(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("Label", LongType, nullable = false),
        StructField("Doc", StringType, nullable = false),
        StructField("V", ArrayType(FloatType, containsNull = false), nullable = false)))))
    assert(db.rebuildIndex("T", "V"))
    db.setServeFilterColumns("T", "V", Seq("Label"))
    db
  }
}

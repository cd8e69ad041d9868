package graft

import org.apache.spark.sql.functions._
import graft.index.{IvfIndex, PqCodebook}
import graft.types.MetricType
import graft.index.{ServeProbe, ServeTier}
import ServeCalls._

/** Product-quantization tier: codebook fit determinism, encode/ADC math,
  * save/load round-trip, layout integration (build + append), and the
  * search contract (full-probe searchPq == brute-force exact). */
class PqSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("fit is deterministic and encode round-trips through save/load") {
    val sample = emb.orderBy("vec_id").limit(200)
      .select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val dim = sample(0).length
    val m = PqCodebook.chooseM(dim)
    assert(dim % m == 0 && dim / m <= 8)
    val cb1 = PqCodebook.fit(sample, dim, m)
    val cb2 = PqCodebook.fit(sample, dim, m)
    assert(cb1.cents.sameElements(cb2.cents), "fit must be deterministic")

    val path = tmpDir("pqcb")
    cb1.save(spark, s"$path/cb")
    val loaded = PqCodebook.load(spark, s"$path/cb").get
    assert(loaded.dim == cb1.dim && loaded.m == cb1.m && loaded.ksub == cb1.ksub)
    assert(loaded.cents.sameElements(cb1.cents))
    val v = sample(17)
    assert(loaded.encode(v).sameElements(cb1.encode(v)))
  }

  test("ADC lookup equals explicit reconstruction distance") {
    val sample = emb.orderBy("vec_id").limit(100)
      .select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val dim = sample(0).length
    val cb = PqCodebook.fit(sample, dim, PqCodebook.chooseM(dim))
    val q = sample(3)
    sample.take(20).foreach { v =>
      val codes = cb.encode(v)
      // reconstruct explicitly and compare against the lut sum
      var expl = 0.0
      var sub = 0
      while (sub < cb.m) {
        val cOff = cb.centOffset(sub, codes(sub) & 0xff)
        var j = 0
        while (j < cb.dsub) {
          val d = q(sub * cb.dsub + j).toDouble - cb.cents(cOff + j)
          expl += d * d
          j += 1
        }
        sub += 1
      }
      assert(math.abs(cb.adcL2(codes, q) - expl) < 1e-9)
    }
    // encoding a vector equal to a centroid-aligned reconstruction has
    // monotonically smaller ADC distance to itself than to a far query
    val codes0 = cb.encode(sample(0))
    assert(cb.adcL2(codes0, sample(0)) <= cb.adcL2(codes0, sample(50)) + 1e-9)
  }

  test("build writes the PQ tier; full-probe searchPq is exact; append keeps codes") {
    val path = tmpDir("pqivf") + "/idx"
    val base = emb.filter(col("vec_id") < 400)
    val idx = IvfIndex.build(spark, base, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 4, maxIter = 3)
    assert(idx.pqCodebook().isDefined, "build must persist the codebook")
    assert(idx.clustered().columns.contains("__pqcode"))

    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val exact = base
      .withColumn("d", graft.functions.l2sqr_distance(col("embedding"), lit(q)))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val pq = idx.search("embedding", q, k = 10, ServeProbe.Nearest(idx.centroids().length),
        ServeTier.Pq(certify = false))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(pq == exact, s"searchPq full probe must be exact: $pq vs $exact")

    // candidate scan reads only (id, __pqcode): the float column must not
    // appear in the candidate leg's scan schema
    val plan = idx.search("embedding", q, 10, ServeProbe.Nearest(idx.centroids().length),
        ServeTier.Pq(certify = false))
      .queryExecution.executedPlan.toString
    assert(plan.contains("__pqcode"))

    // append: new rows ride in with codes from the FROZEN codebook
    val cbBefore = idx.pqCodebook().get
    idx.append(emb.filter(col("vec_id") >= 400), "embedding")
    val after = spark.read.parquet(s"$path/clustered")
    assert(after.filter(col("__pqcode").isNull).count() == 0)
    assert(after.count() == emb.count())
    assert(idx.pqCodebook().get.cents.sameElements(cbBefore.cents),
      "append must not refit the codebook")
    // appended rows' persisted codes match driver-side RESIDUAL encode
    // (codes are relative to the assigned centroid — IVFADC)
    val row = after.filter(col("vec_id") === 450)
      .select("embedding", "__pqcode", "cluster").head()
    val vec = row.getAs[scala.collection.Seq[Float]](0).toArray
    val persisted = row.getAs[Array[Byte]](1)
    val cent = idx.centroids().toMap.apply(row.getAs[Int](2))
    val residual = Array.tabulate(vec.length)(j => vec(j) - cent(j))
    assert(persisted.sameElements(cbBefore.encode(residual)))

    // post-append full-probe search stays exact over the whole table
    val exactAll = emb
      .withColumn("d", graft.functions.l2sqr_distance(col("embedding"), lit(q)))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val pqAll = idx.search("embedding", q, 10, ServeProbe.Nearest(idx.centroids().length),
        ServeTier.Pq(certify = false))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(pqAll == exactAll)
  }

  test("searchPq falls back to searchQuantized on a pre-PQ layout") {
    val path = tmpDir("pqfall") + "/idx"
    val base = emb.filter(col("vec_id") < 300)
    val idx = IvfIndex.build(spark, base, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 4, maxIter = 3)
    // simulate a pre-PQ layout: drop the codebook dir, reopen
    def deleteRec(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(deleteRec(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    deleteRec(java.nio.file.Paths.get(s"$path/pq_codebook"))
    val reopened = new IvfIndex(spark, path, "vec_id", MetricType.Euclidean)
    assert(reopened.pqCodebook().isEmpty)
    val q = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val exact = base
      .withColumn("d", graft.functions.l2sqr_distance(col("embedding"), lit(q)))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val got = reopened.search("embedding", q, 10,
        ServeProbe.Nearest(reopened.centroids().length), ServeTier.Pq(certify = false))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == exact)
  }

  test("cosine metric: full-probe searchPq matches exact cosine top-k") {
    val path = tmpDir("pqcos") + "/idx"
    val idx = IvfIndex.build(spark, emb, "embedding", "vec_id", path,
      MetricType.Cosine, nClusters = 4, maxIter = 3)
    val q = emb.filter(col("vec_id") === 11).select("embedding")
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val exact = emb
      .withColumn("d", lit(1.0) - graft.functions.dot_product(
        graft.functions.l2_normalize(col("embedding")),
        lit(IvfIndex.normalize(q))))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val got = idx.search("embedding", q, 10, ServeProbe.Nearest(idx.centroids().length),
        ServeTier.Pq(certify = false))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == exact)
  }

  test("preFilter lands below the proven cut: filtered top-k is exact") {
    // regression: the __pqerr interval proof must run over the FILTERED
    // relation — proving against the unfiltered top-k and filtering at
    // rerank cuts away selective-filter matches that rank far by raw
    // distance (same contract for the int8 candidate cut)
    val path = tmpDir("pqfilter") + "/idx"
    val idx = IvfIndex.build(spark, emb, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 4, maxIter = 3)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val filt = col("label") === 7
    val exact = emb.filter(filt)
      .withColumn("d", graft.functions.l2sqr_distance(col("embedding"), lit(q)))
      .orderBy(col("d").asc, col("vec_id").asc).limit(5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(exact.size == 5)
    val gotPq = idx.search("embedding", q, 5, ServeProbe.Nearest(idx.centroids().length),
        ServeTier.Pq(certify = false), preFilter = Some(filt))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(gotPq == exact, "searchPq filtered top-k must equal brute force")
    val gotQuant = idx.search("embedding", q, 5, ServeProbe.Nearest(idx.centroids().length),
        ServeTier.Quantized(certify = false), preFilter = Some(filt))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(gotQuant == exact, "searchQuantized filtered top-k must equal brute force")
  }

  test("wrong-dimension queries decline on every serving tier, never throw") {
    val path = tmpDir("pqdim") + "/idx"
    val idx = IvfIndex.build(spark, emb, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 4, maxIter = 3)
    val dim = idx.centroids().head._2.length
    val declinesBefore = idx.serveDeclineCount()
    for (badLen <- Seq(dim - 3, dim + 5)) {
      val bad = Array.fill(badLen)(0.5f)
      for (tier <- Seq(ServeTier.Float, ServeTier.Quantized(certify = false),
          ServeTier.Pq(certify = false)))
        assert(idx.serveOne("embedding", bad, 5, ServeProbe.Nearest(2), tier).isEmpty)
    }
    assert(idx.serveDeclineCount() > declinesBefore)
  }
}

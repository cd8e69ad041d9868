package graft

import org.apache.spark.sql.functions._
import graft.index.{IvfIndex, PqCodebook}
import graft.types.MetricType
import graft.index.{ServeProbe, ServeTier}
import ServeCalls._

/** PQ serving residency tier: persisted reconstruction errors, ADC
  * throughput-mode scoring (exactly the documented ADC ranking), the
  * certified-exact id set, budget/pre-PQ declines, fresh-tail merge, and
  * generation flush. */
class PqServeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  private def queryVec(id: Long): Array[Float] =
    emb.filter(col("vec_id") === id).select("embedding")
      .head().getAs[scala.collection.Seq[Float]](0).toArray

  private def exactTopL2(base: org.apache.spark.sql.DataFrame,
      q: Array[Float], k: Int): Seq[Long] =
    base.withColumn("d", graft.functions.l2sqr_distance(col("embedding"), lit(q)))
      .orderBy(col("d").asc, col("vec_id").asc).limit(k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  test("build persists __pqerr equal to the driver-side reconstruction error") {
    val path = tmpDir("pqerr") + "/idx"
    val base = emb.filter(col("vec_id") < 300)
    val idx = IvfIndex.build(spark, base, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 4, maxIter = 3)
    val cb = idx.pqCodebook().get
    assert(idx.clustered().columns.contains("__pqerr"))
    assert(idx.pqResidualCoding(), "fresh builds are residual-coded")
    val centById = idx.centroids().toMap
    val rows = idx.clustered()
      .select("embedding", "__pqcode", "__pqerr", "cluster")
      .limit(30).collect()
    rows.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]](0).toArray
      val codes = r.getAs[Array[Byte]](1)
      val err = r.getDouble(2)
      val cent = centById(r.getAs[Int](3))
      // ‖x − x̂‖₂ recomputed explicitly: residual coding, x̂ = cent + r̂
      var acc = 0.0
      var sub = 0
      while (sub < cb.m) {
        val cOff = cb.centOffset(sub, codes(sub) & 0xff)
        var j = 0
        while (j < cb.dsub) {
          val d = (v(sub * cb.dsub + j).toDouble - cent(sub * cb.dsub + j)) -
            cb.cents(cOff + j)
          acc += d * d
          j += 1
        }
        sub += 1
      }
      assert(math.abs(err - math.sqrt(acc)) < 1e-9,
        s"persisted __pqerr $err != recomputed ${math.sqrt(acc)}")
    }
  }

  test("certified PQ serve returns the exact id set (L2, full probe)") {
    val path = tmpDir("pqserve") + "/idx"
    val base = emb.filter(col("vec_id") < 500)
    val idx = IvfIndex.build(spark, base, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 4, maxIter = 3)
    for (qid <- Seq(3L, 7L, 11L)) {
      val q = queryVec(qid)
      val exact = exactTopL2(base, q, 10)
      val got = idx.serveOne("embedding", q, 10,
        ServeProbe.Nearest(idx.centroids().length), ServeTier.Pq(certify = true))
      assert(got.isDefined, "certified serve must not decline here")
      assert(got.get.hits.map(_._1).toSeq == exact,
        s"certified id set must be exact for q=$qid")
    }
  }

  test("throughput-mode serve ranks exactly by (ADC score, id)") {
    val path = tmpDir("pqadc") + "/idx"
    val base = emb.filter(col("vec_id") < 400)
    val idx = IvfIndex.build(spark, base, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 2, maxIter = 3)
    val cb = idx.pqCodebook().get
    val q = queryVec(5L)
    // driver-side ADC oracle over every row, same lut-sum arithmetic —
    // residual coding scores against (q − centroid(cluster))
    val centById = idx.centroids().toMap
    val oracle = idx.clustered().select("vec_id", "__pqcode", "cluster").collect()
      .map { r =>
        val cent = centById(r.getAs[Int](2))
        val qr = Array.tabulate(q.length)(j => q(j) - cent(j))
        (r.getLong(0), cb.adcL2(r.getAs[Array[Byte]](1), qr))
      }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
    val got = idx.serveOne("embedding", q, 10,
      ServeProbe.Nearest(idx.centroids().length), ServeTier.Pq(certify = false))
    assert(got.isDefined)
    assert(got.get.hits.map(_._1).toSeq == oracle,
      "throughput mode must rank by ADC exactly")
  }

  test("cosine: certified serve matches exact cosine top-k") {
    val path = tmpDir("pqservecos") + "/idx"
    val idx = IvfIndex.build(spark, emb, "embedding", "vec_id", path,
      MetricType.Cosine, nClusters = 4, maxIter = 3)
    val q = queryVec(11L)
    val exact = emb
      .withColumn("d", lit(1.0) - graft.functions.dot_product(
        graft.functions.l2_normalize(col("embedding")),
        lit(IvfIndex.normalize(q))))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val got = idx.serveOne("embedding", q, 10,
      ServeProbe.Nearest(idx.centroids().length), ServeTier.Pq(certify = true))
    assert(got.isDefined)
    assert(got.get.hits.map(_._1).toSeq == exact)
  }

  test("fresh tail is scored exactly and merges into the certified set") {
    val path = tmpDir("pqtail") + "/idx"
    val base = emb.filter(col("vec_id") < 400)
    val idx = IvfIndex.build(spark, base, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 4, maxIter = 3)
    val tailRows = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toArray))
    val dim = tailRows(0)._2.length
    val tail = IvfIndex.packRows(tailRows, dim)
    val q = queryVec(402L) // the query IS a tail row: must surface itself
    val exact = exactTopL2(emb.filter(col("vec_id") < 450), q, 10)
    val got = idx.serveOne("embedding", q, 10,
      ServeProbe.Nearest(idx.centroids().length), ServeTier.Pq(certify = true),
      tail = Some(tail))
    assert(got.isDefined)
    assert(got.get.hits.map(_._1).toSeq == exact)
    assert(got.get.hits.map(_._1).contains(402L))
  }

  test("budget and pre-PQ declines; decline counter moves; no exceptions") {
    val path = tmpDir("pqdecl") + "/idx"
    val base = emb.filter(col("vec_id") < 300)
    val idx = IvfIndex.build(spark, base, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 2, maxIter = 3)
    val q = queryVec(3L)
    // over-budget: the cardinality pre-check must decline BEFORE loading
    idx.maxServeRows = 10
    val d0 = idx.serveDeclineCount()
    assert(idx.serveOne("embedding", q, 10, ServeProbe.Nearest(2),
      ServeTier.Pq(certify = false)).isEmpty)
    assert(idx.serveDeclineCount() == d0 + 1)
    idx.maxServeRows = 4L * 1024 * 1024
    // pre-PQ layout (codebook gone): decline, not exception
    def deleteRec(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(deleteRec(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    deleteRec(java.nio.file.Paths.get(s"$path/pq_codebook"))
    val reopened = new IvfIndex(spark, path, "vec_id", MetricType.Euclidean)
    assert(reopened.serveOne("embedding", q, 10, ServeProbe.Nearest(2),
      ServeTier.Pq(certify = false)).isEmpty)
  }

  test("tight-cluster geometry: proven candidate cut keeps searchPq exact") {
    // 3000 rows in ONE latent cluster with noise far below PQ resolution:
    // ADC scores are near-identical across the cluster, so any fixed
    // top-candK ADC cut selects near-randomly and loses the true top-10;
    // the interval-proven cut must still return the exact answer.
    import spark.implicits._
    val dim = 64
    val rows = (0 until 3000).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Array.tabulate(dim)(j =>
        (math.sin(j * 0.7) * 10.0 + rnd.nextGaussian() * 0.001).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val path = tmpDir("pqtight") + "/idx"
    val idx = IvfIndex.build(spark, df, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 2, maxIter = 3)
    val q = rows(42)._2.map(_.toFloat).toArray
    val exact = df
      .withColumn("d", graft.functions.l2sqr_distance(col("embedding"), lit(q)))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val got = idx.search("embedding", q, 10, ServeProbe.Nearest(idx.centroids().length),
        ServeTier.Pq(certify = false))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == exact,
      s"proven cut must survive sub-resolution spacing: $got vs $exact")
    // and the certified serve tier agrees
    val served = idx.serveOne("embedding", q, 10,
      ServeProbe.Nearest(idx.centroids().length), ServeTier.Pq(certify = true))
    assert(served.isDefined && served.get.hits.map(_._1).toSeq == exact)
  }

  test("append after a split lands rows in the RIGHT cluster dirs; residual codes re-encode") {
    val path = tmpDir("pqsplitapp") + "/idx"
    val base = emb.filter(col("vec_id") < 400)
    val idx = IvfIndex.build(spark, base, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 3, maxIter = 3)
    // force a split: after it, cluster ids are no longer 0..n-1, so a raw
    // NearestCentroid INDEX written as the cluster id would corrupt every
    // pruned read (the regression this test pins)
    val n0 = base.count()
    val splits = IvfIndex.splitOversized(spark, path, "embedding", "vec_id",
      MetricType.Euclidean, maxRows = n0 / 3)
    assert(splits > 0, "fixture must actually split")
    val centPairs = idx.centroids()
    assert(centPairs.map(_._1).max >= 3, "split must mint fresh ids")
    idx.append(emb.filter(col("vec_id") >= 400 && col("vec_id") < 500), "embedding")
    // every appended row must sit in the partition dir of its NEAREST
    // live centroid (by id, not by array index)
    val appended = idx.clustered()
      .filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("cluster"), col("embedding")).collect()
    assert(appended.length == 100)
    appended.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]](2).toArray
      val best = centPairs.minBy { case (_, c) =>
        IvfIndex.dist(MetricType.Euclidean, c, v)
      }._1
      assert(r.getAs[Int](1) == best,
        s"row ${r.getLong(0)} in cluster ${r.getAs[Int](1)}, nearest is $best")
    }
    // split-moved rows and appended rows alike carry codes consistent
    // with their CURRENT centroid: certified serve and the proven job cut
    // stay exact over the whole table
    val q = queryVec(42L)
    val all = emb.filter(col("vec_id") < 500)
    val exact = exactTopL2(all, q, 10)
    val viaJob = idx.search("embedding", q, 10, ServeProbe.Nearest(idx.centroids().length),
        ServeTier.Pq(certify = false))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(viaJob == exact, s"post-split+append searchPq: $viaJob vs $exact")
    val served = idx.serveOne("embedding", q, 10,
      ServeProbe.Nearest(idx.centroids().length), ServeTier.Pq(certify = true))
    assert(served.isDefined && served.get.hits.map(_._1).toSeq == exact)
  }

  test("a rebuild (generation bump) flushes PQ residency; serving stays exact") {
    val path = tmpDir("pqgen") + "/idx"
    val base = emb.filter(col("vec_id") < 300)
    val idx = IvfIndex.build(spark, base, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 2, maxIter = 3)
    val q = queryVec(3L)
    assert(idx.serveOne("embedding", q, 10, ServeProbe.Nearest(2),
      ServeTier.Pq(certify = true)).isDefined)
    assert(idx.servingResidentPqRows() > 0)
    // full rebuild over a DIFFERENT subset: stale residency would serve
    // rows that no longer exist
    val rebuilt = emb.filter(col("vec_id") >= 100 && col("vec_id") < 500)
    IvfIndex.build(spark, rebuilt, "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 2, maxIter = 3)
    val exact = exactTopL2(rebuilt, q, 10)
    val got = idx.serveOne("embedding", q, 10,
      ServeProbe.Nearest(idx.centroids().length), ServeTier.Pq(certify = true))
    assert(got.isDefined)
    assert(got.get.hits.map(_._1).toSeq == exact,
      "post-rebuild certified serve must reflect the new layout only")
  }
}

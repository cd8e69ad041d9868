package graft

import org.apache.spark.sql.functions._

import graft.index.IvfIndex
import graft.types.MetricType

/** IvfIndex.build's per-cluster stats/radii: every build derives them
  * from one codegen'd read-back of the committed layout, at any
  * cluster count. These tests pin the contract: the persisted
  * artifacts are value-identical to a read-back of the written layout,
  * at small and large cluster counts and for dot product. */
class Round19Spec extends SparkSpec {
  import spark.implicits._

  private def vecOf(i: Int): Seq[Float] =
    Seq((i % 83) / 83.0f, (i % 47) / 47.0f, (i % 29) / 29.0f,
      (i % 13) / 13.0f)

  private def emb(n: Int) =
    (0 until n).map(i => (i.toLong, vecOf(i))).toDF("vec_id", "embedding")

  /** A test-side read-back: counts + max ‖x − c‖₂ per
    * cluster from the WRITTEN layout joined to the WRITTEN centroids. */
  private def readBack(path: String): Map[Int, (Long, Double)] =
    spark.read.parquet(s"$path/clustered")
      .select(col("cluster").cast("int").as("cluster"), col("embedding"))
      .join(broadcast(spark.read.parquet(s"$path/centroids")), Seq("cluster"))
      .select(col("cluster"),
        sqrt(graft.functions.l2sqr_distance(col("embedding"), col("centroid")))
          .as("r"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cnt"), max(col("r")).as("r"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("build stats/radii equal a layout read-back (nClusters <= 64)") {
    val path = tmpDir("r19_obs_stats")
    IvfIndex.build(spark, emb(600), "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 8, maxIter = 3)
    val expected = readBack(path)
    val stats = spark.read.parquet(s"$path/cluster_stats")
      .collect().map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("cnt")).toMap
    val radii = spark.read.parquet(s"$path/cluster_radii")
      .collect().map(r => r.getAs[Int]("cluster") -> r.getAs[Double]("r")).toMap
    assert(stats.keySet == expected.keySet && radii.keySet == expected.keySet,
      s"cluster id sets drifted: stats=${stats.keySet} radii=${radii.keySet} " +
        s"expected=${expected.keySet}")
    expected.foreach { case (cid, (cnt, r)) =>
      assert(stats(cid) == cnt, s"count drifted for cluster $cid")
      // bit-exact: the build computes the same double formula over the
      // same float inputs the read-back decodes from parquet
      assert(radii(cid) == r, s"radius drifted for cluster $cid: " +
        s"persisted=${radii(cid)} read-back=$r")
    }
    assert(stats.values.sum == 600L, "counts must cover every written row")
  }

  test("large-nClusters fallback path persists the same artifacts") {
    val path = tmpDir("r19_fallback_stats")
    IvfIndex.build(spark, emb(800), "embedding", "vec_id", path,
      MetricType.Euclidean, nClusters = 66, maxIter = 2)
    val expected = readBack(path)
    val stats = spark.read.parquet(s"$path/cluster_stats")
      .collect().map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("cnt")).toMap
    val radii = spark.read.parquet(s"$path/cluster_radii")
      .collect().map(r => r.getAs[Int]("cluster") -> r.getAs[Double]("r")).toMap
    assert(stats == expected.map { case (k, v) => k -> v._1 },
      "fallback counts drifted from the layout")
    assert(radii == expected.map { case (k, v) => k -> v._2 },
      "fallback radii drifted from the layout")
    assert(stats.values.sum == 800L, "counts must cover every written row")
  }

  test("dot-product build persists counts only (no radii)") {
    val path = tmpDir("r19_dot_stats")
    IvfIndex.build(spark, emb(300), "embedding", "vec_id", path,
      MetricType.DotProduct, nClusters = 4, maxIter = 2)
    val stats = spark.read.parquet(s"$path/cluster_stats")
      .agg(sum(col("cnt"))).head().getLong(0)
    assert(stats == 300L, "dot-product counts must cover every written row")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/cluster_radii")),
      "dot product has no triangle inequality: no radii artifact")
  }
}

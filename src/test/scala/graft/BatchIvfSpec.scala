package graft

import org.apache.spark.sql.functions._
import graft.index.{IvfIndex, ServeProbe}
import graft.types.MetricType

/** IvfIndex.searchBatch must be pointwise identical to the single-query
  * job path at the same nProbe — the batch formulation changes the COST
  * (one pruned pass, union of probed dirs, per-query heaps), never the
  * answer. */
class BatchIvfSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(31)
  private lazy val corpus = (0L until 600L).map { i =>
    val center = (i % 4).toInt
    (i, Array.tabulate(8)(j => center * 2.0f + rng.nextFloat() * 0.3f + j * 0.01f))
  }
  private lazy val df = corpus.toDF("vec_id", "embedding")

  private def freshIndex(name: String): IvfIndex =
    IvfIndex.build(spark, df, "embedding", "vec_id", tmpDir(name),
      MetricType.Euclidean, nClusters = 4, maxIter = 4)

  private def single(idx: IvfIndex, q: Array[Float], k: Int, nProbe: Int,
      tail: Option[org.apache.spark.sql.DataFrame] = None,
      tombs: Option[org.apache.spark.sql.DataFrame] = None): Seq[Long] =
    idx.search("embedding", q, k, ServeProbe.Nearest(nProbe), freshTail = tail,
      excludeIds = tombs)
      .select("vec_id").as[Long].collect().toSeq

  test("batch equals per-query search at partial and full probes") {
    val idx = freshIndex("batchivf")
    val queries = Seq(0, 150, 301, 452, 599).map(i => (i.toLong, corpus(i)._2))
    for (nProbe <- Seq(2, 4)) {
      val batch = idx.searchBatch("embedding", queries, k = 7, ServeProbe.Nearest(nProbe))
        .orderBy($"qid", $"rank").select($"qid", $"id").as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      queries.foreach { case (qid, q) =>
        assert(batch(qid) == single(idx, q, 7, nProbe),
          s"nProbe=$nProbe query $qid diverged from the single-query path")
      }
    }
  }

  test("fresh-tail rows are scored by every query; tombstones excluded") {
    val idx = freshIndex("batchivf_tail")
    // tail vectors sit exactly on two corpus points -> must surface for
    // the queries probing those regions
    val tail = Seq((1000L, corpus(10)._2), (1001L, corpus(400)._2))
      .toDF("vec_id", "embedding")
    val tombs = Seq(10L, 400L).toDF("vec_id")
    val queries = Seq((0L, corpus(10)._2), (1L, corpus(400)._2))
    val batch = idx.searchBatch("embedding", queries, k = 5, ServeProbe.Nearest(2),
        freshTail = Some(tail), excludeIds = Some(tombs))
      .orderBy($"qid", $"rank").select($"qid", $"id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    queries.foreach { case (qid, q) =>
      val expect = single(idx, q, 5, 2, tail = Some(tail), tombs = Some(tombs))
      assert(batch(qid) == expect, s"query $qid diverged with tail+tombstones")
      assert(batch(qid).contains(1000L + qid), s"query $qid missed its tail twin")
      assert(!batch(qid).contains(if (qid == 0L) 10L else 400L),
        s"query $qid returned a tombstoned id")
    }
  }

  test("batch plan prunes to the union of probed clusters and keeps the heap agg") {
    val idx = freshIndex("batchivf_plan")
    val queries = Seq((0L, corpus(0)._2), (1L, corpus(3)._2)) // same region
    val plan = idx.searchBatch("embedding", queries, k = 3, ServeProbe.Nearest(1))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("topk_min"), plan)
    assert(!plan.contains("Window"), plan)
    // partition-column pruning reaches the scan
    assert(plan.contains("cluster"), plan)
  }
}

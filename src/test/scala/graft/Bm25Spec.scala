package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.Bm25
import graft.index.SparseIndex
import ServeCalls._

/** BM25 retrieval: scoring parity with a driver-side reference
  * implementation, and the impact-postings formulation's parity through
  * the persisted sparse inverted index (job path AND the driver serving
  * tier) — keyword retrieval rides the same guarded infrastructure as
  * sparse-vector search. */
class Bm25Spec extends SparkSpec {

  private val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  /** Deterministic corpus with varied lengths and term mixes. */
  private def docs(n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val len = 5 + (i * 13) % 40
      val words = (0 until len).map(j => vocab((i * 7 + j * j) % vocab.length))
      Row(i.toLong, words.mkString(" "))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
  }

  private val qTerms = Seq("alpha", "theta", "mu")

  /** Plain-Scala reference BM25 (same +1 idf), independent of any Spark
    * code path. */
  private def refScores(corpus: Seq[(Long, String)], terms: Seq[String],
      k1: Double = Bm25.DefaultK1, b: Double = Bm25.DefaultB): Map[Long, Double] = {
    val toks = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val n = corpus.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    terms.distinct.flatMap { term =>
      val df = toks.count(_._2.contains(term)).toDouble
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      toks.toSeq.flatMap { case (id, ts) =>
        val tf = ts.count(_ == term).toDouble
        if (tf == 0) None
        else Some(id -> idf * (tf * (k1 + 1.0)) /
          (tf + k1 * (1.0 - b + b * ts.size / avgdl)))
      }
    }.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sum }
  }

  test("scoreTopK matches the driver-side reference implementation") {
    val d = docs(120)
    val expected = refScores(d.collect().map(r => (r.getLong(0), r.getString(1))).toSeq, qTerms)
      .toSeq.map { case (id, s) => (id, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Bm25.scoreTopK(d, "text", "doc_id", qTerms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == expected.map(_._1))
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-3, s"score drift: $g vs $e") }
  }

  test("impact postings through the persisted inverted index match the ad-hoc scorer") {
    val d = docs(150)
    val postings = Bm25.impactPostings(d, "text", "doc_id")
    val idx = SparseIndex.buildFromPostings(spark, postings.withColumnRenamed("id", "doc_id"),
      "doc_id", tmpDir("bm25idx"), buckets = 8)
    val qd = Bm25.queryDims(qTerms)
    val fromIndex = idx.searchDot(qd, qd.map(_ => 1.0f), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val adHoc = Bm25.scoreTopK(d, "text", "doc_id", qTerms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIndex.map(_._1) == adHoc.map(_._1))
    fromIndex.zip(adHoc).foreach { case ((_, g), (_, e)) =>
      // index path scores in double off float32 impacts; ad-hoc is all-double
      assert(math.abs(g - e) < 1e-3, s"index-vs-adhoc drift: $g vs $e") }
  }

  test("driver serving tier answers BM25 queries exactly (vs the job path)") {
    val d = docs(150)
    val postings = Bm25.impactPostings(d, "text", "doc_id")
    val idx = SparseIndex.buildFromPostings(spark, postings.withColumnRenamed("id", "doc_id"),
      "doc_id", tmpDir("bm25serve"), buckets = 8)
    val qd = Bm25.queryDims(qTerms)
    val job = idx.searchDot(qd, qd.map(_ => 1.0f), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = idx.serveDot(qd, qd.map(_ => 1.0f), 10)
    assert(served.isDefined, "in-budget BM25 probe must serve, not decline")
    assert(served.get.map(_._1).toSeq == job.map(_._1))
    served.get.toSeq.zip(job).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-9, s"serve-vs-job drift: $g vs $e") }
  }

  test("scoreTopKBatch equals per-query scoreTopK for every query") {
    val d = docs(140).cache()
    val queries: Seq[(Long, Seq[String])] = Seq(
      0L -> qTerms,
      1L -> Seq("beta", "kappa"),
      2L -> Seq("alpha", "beta", "nosuchterm"), // unseen term contributes 0
      3L -> Seq("nosuchterm")) // fully unseen -> no rows
    val batch = Bm25.scoreTopKBatch(d, "text", "doc_id", queries, k = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    queries.foreach { case (qid, ts) =>
      val expected = Bm25.scoreTopK(d, "text", "doc_id", ts, 8).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = batch.getOrElse(qid, Array.empty).sortBy(_._2)
        .map(t => (t._3, t._4)).toSeq
      assert(got == expected, s"query $qid batch != single")
    }
    assert(!batch.contains(3L), "all-unseen query must return no rows")
    d.unpersist()
  }

  test("colliding terms merge one posting list; ids never go missing") {
    val d = docs(100)
    // dims=2 forces every term into one of two posting lists
    val postings = Bm25.impactPostings(d, "text", "doc_id", dims = 2).cache()
    val idx = SparseIndex.buildFromPostings(spark, postings.withColumnRenamed("id", "doc_id"),
      "doc_id", tmpDir("bm25coll"), buckets = 2)
    val qd = Bm25.queryDims(qTerms, dims = 2)
    assert(qd.length <= 2 && qd.distinct.length == qd.length)
    // expected under collisions: sum of the merged dims' impacts per doc
    val expected = postings.filter(col("dim").isin(qd.map(Integer.valueOf): _*))
      .groupBy(col("id")).agg(sum(col("v").cast("double")).as("s"))
      .orderBy(col("s").desc, col("id").asc).limit(10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = idx.searchDot(qd, qd.map(_ => 1.0f), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == expected.map(_._1))
    postings.unpersist()
  }
}

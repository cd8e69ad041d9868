package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions._
import graft.index.{IvfIndex, ServeProbe, ServeTier, Served}
import graft.types.MetricType

/** ANN-vs-exact benchmark (the BASELINE.md contract: ANN measured
  * separately with recall reported against the exact oracle).
  * Prints one JSON line:
  *   {"exact_qps":..,"ann_qps":..,"recall_at_10":..,"n":..,"sf":".."}
  */
object AnnBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_SPARSE_N > 0: sparse inverted-index bench instead (job
    // and serve mode vs the raw explode-scan plan)
    val sparseN = sys.env.getOrElse("SPARK_GRAFT_SPARSE_N", "0").toLong
    if (sparseN > 0) {
      // the filtered section runs in its OWN invocation (fresh JVM): the
      // combined run's accumulated file handles (postings buckets, wand
      // index, ingest appends) starve the store-insert's writer
      if (sys.env.getOrElse("SPARK_GRAFT_SPARSE_FILTERED", "0") == "1")
        sparseFilteredBench(spark, sparseN)
      else sparseBench(spark, sparseN)
      spark.stop()
      return
    }

    // SPARK_GRAFT_ANN_N > 0: benchmark on a deterministic synthetic table of
    // that many 64-dim vectors (written to parquet, read UNCACHED by both
    // paths) — shows the exact/ANN crossover beyond the tiny testdata sizes.
    val synthN = sys.env.getOrElse("SPARK_GRAFT_ANN_N", "0").toLong
    val synthDim = sys.env.getOrElse("SPARK_GRAFT_ANN_DIM", "64").toInt
    // SPARK_GRAFT_ANN_GEOM:
    //  - "clustered" (default): 256 TIGHT latent centers — deliberately
    //    adversarial for sub-resolution code tiers (within-cluster
    //    spacing below PQ quantization resolution);
    //  - "spread": the same 256 centers with ~5x wider within-cluster
    //    noise — still adversarial for PQ (isotropic full-dim noise
    //    carries no structure ANY 120-byte code can keep: the r9
    //    information-limit argument, measured 0.30 recall);
    //  - "lowrank": 256 centers + residuals confined to an 8-dim latent
    //    subspace (x = c + B·z, B a fixed random 960×8 map) — the
    //    realistic-embedding shape (real encoders have low intrinsic
    //    dimensionality), and the calibration row for the lossy PQ
    //    tier's published recall;
    //  - "shell": isotropic points near the unit sphere — at high dim
    //    every pair is near-equidistant (no local structure), the regime
    //    where ANY pruning/compression index degrades and certified
    //    serving correctly DECLINES to the job path (the bench tolerates
    //    and counts those declines).
    val geom = sys.env.getOrElse("SPARK_GRAFT_ANN_GEOM", "clustered")
    val geomTag =
      if (geom == "lowrank")
        s"lowrank${sys.env.getOrElse("SPARK_GRAFT_ANN_RANK", "8")}"
      else geom
    val emb =
      if (synthN > 0) {
        // _v2: carries a scalar `label` column for the filtered-serving row
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_ann_synth_v2_${geomTag}_${synthN}_$synthDim"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
          val base = spark.range(synthN)
            .withColumn("c", pmod(xxhash64(col("id")), lit(256)))
          val vec =
            if (geom == "shell")
              // uniform-cube direction normalized to the sphere, radius
              // jittered ±2.5% — no sub-resolution clustering anywhere
              transform(graft.functions.l2_normalize(
                transform(sequence(lit(1), lit(synthDim)), i =>
                  (pmod(xxhash64(col("id") * synthDim + i), lit(2000)) / 1000.0 - 1.0)
                    .cast("float"))),
                x => (x * (lit(1.0) + pmod(xxhash64(col("id") + 13), lit(100)) / 2000.0))
                  .cast("float"))
            else if (geom == "spread")
              // centers as "clustered", noise ±0.5 instead of ±0.1 —
              // neighborhoods stay local without being sub-resolution
              transform(sequence(lit(1), lit(synthDim)), i =>
                ((pmod(xxhash64(col("c") * synthDim + i), lit(2000)) / 1000.0 - 1.0) +
                  (pmod(xxhash64(col("id") * synthDim + i), lit(2000)) / 2000.0 - 0.5))
                  .cast("float"))
            else if (geom == "lowrank") {
              // x = center_c + B·z: z a rank-dim per-row latent (±0.5), B
              // a fixed pseudo-random 960×rank map — residual variance
              // lives in a low-dim subspace like real encoder output, not
              // isotropically across 960 dims. SPARK_GRAFT_ANN_RANK sets
              // the intrinsic dimensionality (default 8).
              val rank = sys.env.getOrElse("SPARK_GRAFT_ANN_RANK", "8").toInt
              val zCols = (0 until rank).map(r =>
                pmod(xxhash64(col("id") * 31 + r), lit(2000)) / 2000.0 - 0.5)
              transform(sequence(lit(1), lit(synthDim)), i =>
                ((pmod(xxhash64(col("c") * synthDim + i), lit(2000)) / 1000.0 - 1.0) +
                  (0 until rank).map(r => zCols(r) *
                    (pmod(xxhash64(i * 8191 + r), lit(2000)) / 1000.0 - 1.0) /
                    math.sqrt(rank.toDouble)).reduce(_ + _))
                  .cast("float"))
            }
            else
              transform(sequence(lit(1), lit(synthDim)), i =>
                ((pmod(xxhash64(col("c") * synthDim + i), lit(2000)) / 1000.0 - 1.0) +
                  (pmod(xxhash64(col("id") * synthDim + i), lit(2000)) / 10000.0 - 0.1))
                  .cast("float"))
          base.select(col("id").as("vec_id"),
              pmod(xxhash64(col("id") + 7), lit(10)).as("label"),
              vec.as("embedding"))
            .repartition(32).write.mode("overwrite").parquet(path)
        }
        spark.read.parquet(path)
      } else spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 20)
      .orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[scala.collection.Seq[Float]]("embedding").toArray)

    def exactTopK(q: Array[Float], k: Int): Seq[Long] =
      emb.withColumn("d", l2sqr_distance(col("embedding"), lit(q)))
        .orderBy(col("d").asc, col("vec_id").asc).limit(k)
        .select("vec_id").collect().map(_.getLong(0)).toSeq

    // warm up
    exactTopK(queries.head, 10)

    val t0 = System.nanoTime()
    val exact = queries.map(q => exactTopK(q, 10))
    val exactSec = (System.nanoTime() - t0) / 1e9

    // batch exact: ALL queries in ONE pass (TopKMin partial aggregation) —
    // the offline fan-out path; qps here is amortized corpus scans, so it
    // grows with the batch width while exact_qps stays one-scan-per-query
    val batchQs = queries.zipWithIndex.map { case (q, i) =>
      graft.query.BatchSearch.BatchQuery(i.toLong, q) }
    graft.query.BatchSearch.topK(emb, "embedding", "vec_id",
      batchQs.take(2).toSeq, 10).collect() // warm
    val tbt = System.nanoTime()
    val batchGot = graft.query.BatchSearch.topK(
        emb, "embedding", "vec_id", batchQs.toSeq, 10)
      .orderBy(col("qid"), col("rank")).select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val batchSec = (System.nanoTime() - tbt) / 1e9
    val batchRecall = exact.zipWithIndex.map { case (e, i) =>
      e.toSet.intersect(batchGot(i.toLong).toSet).size.toDouble / e.size
    }.sum / exact.length

    val idxPath = s"${System.getProperty("java.io.tmpdir")}/graft_annbench_${math.abs(sfDir.hashCode)}"
    val tb = System.nanoTime()
    val nClusters = sys.env.get("SPARK_GRAFT_ANN_CLUSTERS").map(_.toInt)
      .getOrElse(math.min(256, math.max(8, (n / 256).toInt)))
    val maxIter = sys.env.getOrElse("SPARK_GRAFT_ANN_ITERS", "5").toInt
    val idx = IvfIndex.build(spark, emb, "embedding", "vec_id", idxPath,
      MetricType.Euclidean, nClusters = nClusters, maxIter = maxIter)
    val buildSec = (System.nanoTime() - tb) / 1e9

    def annTopK(q: Array[Float], k: Int): Seq[Long] =
      idx.search("embedding", q, k, ServeProbe.Nearest(8))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    annTopK(queries.head, 10)

    val t1 = System.nanoTime()
    val ann = queries.map(q => annTopK(q, 10))
    val annSec = (System.nanoTime() - t1) / 1e9

    val recall = exact.zip(ann).map { case (e, a) =>
      e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length

    // IVF batch: same probe cut as ann_qps but ALL queries in one pruned
    // pass — the union of probed dirs is scanned once, each row scored
    // only against queries that probed its cluster
    idx.searchBatch("embedding", batchQs.take(2).map(q => (q.qid, q.vector)).toSeq,
      10, ServeProbe.Nearest(8)).collect() // warm
    val tba = System.nanoTime()
    val batchAnnGot = idx.searchBatch("embedding",
        batchQs.map(q => (q.qid, q.vector)).toSeq, 10, ServeProbe.Nearest(8))
      .orderBy(col("qid"), col("rank")).select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val batchAnnSec = (System.nanoTime() - tba) / 1e9
    val batchAnnRecall = exact.zipWithIndex.map { case (e, i) =>
      e.toSet.intersect(batchAnnGot(i.toLong).toSet).size.toDouble / e.size
    }.sum / exact.length

    // recall-targeted auto-probe (probeSetForRecall): the geometric probe
    // bound at declared targets — 1.0 is proven exact (usually far fewer
    // probes than a full scan), t < 1 proves recall >= t. qps is the job
    // path; avg_probes shows how hard the bound prunes on this geometry.
    val autoRows = Seq(1.0, 0.9, 0.5).map { t =>
      val probesAvg = queries.map(q =>
        idx.probeSetForRecall(q, 10, t).length).sum.toDouble / queries.length
      idx.search("embedding", queries.head, 10, ServeProbe.Recall(t, 0L))
        .collect() // warm
      val ta = System.nanoTime()
      val got = queries.map(q => idx.search("embedding", q, 10,
          ServeProbe.Recall(t, 0L))
        .select("vec_id").collect().map(_.getLong(0)).toSeq)
      val sec = (System.nanoTime() - ta) / 1e9
      val rec = exact.zip(got).map { case (e, a) =>
        e.toSet.intersect(a.toSet).size.toDouble / e.size
      }.sum / exact.length
      f"""{"target":$t%.2f,"avg_probes":$probesAvg%.1f,""" +
        f""""qps":${queries.length / sec}%.2f,"recall_at_10":$rec%.4f}"""
    }

    // int8-rerank JOB mode: the candidate cut reads ONLY the persisted
    // codes+scales of the probed clusters (a quarter of the vector bytes;
    // the float column never reaches that scan), then reranks candK rows
    // on the floats — at memory-exceeding scale this is the job path that
    // must beat the exact scan (the float IVF scan pays full vector bytes
    // for the probed clusters and loses its pruning edge to the page
    // cache at in-memory sizes).
    def quantTopK(q: Array[Float], k: Int): Seq[Long] =
      idx.search("embedding", q, k, ServeProbe.Nearest(8),
          ServeTier.Quantized(certify = false))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    quantTopK(queries.head, 10)
    val tq = System.nanoTime()
    val quant = queries.map(q => quantTopK(q, 10))
    val quantSec = (System.nanoTime() - tq) / 1e9
    val quantRecall = exact.zip(quant).map { case (e, a) =>
      e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length

    // PQ-rerank JOB mode: the candidate cut reads only the m-byte PQ codes
    // (~1/32 of the vector bytes at dim 960 — 8x less than the int8 scan),
    // then reranks candK rows on the floats. The scan-byte floor for the
    // job path at 100 TB.
    def pqTopK(q: Array[Float], k: Int): Seq[Long] =
      idx.search("embedding", q, k, ServeProbe.Nearest(8),
          ServeTier.Pq(certify = false))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    pqTopK(queries.head, 10)
    val tp = System.nanoTime()
    val pq = queries.map(q => pqTopK(q, 10))
    val pqSec = (System.nanoTime() - tp) / 1e9
    val pqRecall = exact.zip(pq).map { case (e, a) =>
      e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length

    // driver-side serving path: same probes, no Spark job per query (the
    // probed clusters are resident after the first touch). Loop the query
    // set enough times to measure past timer resolution.
    // bench corpora are chosen to fit residency: declines here are a bug
    idx.maxServeRows = Long.MaxValue
    idx.maxServeBytes = Long.MaxValue // 500k x 960 doubles ~ 3.7 GiB resident
    // warm EVERY query's probed clusters (matches the sparse bench): the
    // timed loop measures the warm serving tier — at 1M x 960 a single
    // cold load collects ~240 MB, and leaving 19 of them inside the timed
    // window reports cold-load latency as if it were serve throughput
    // every serve row is one IvfIndex.serve shape: a single query, or the
    // whole query set as one batch
    def serveOne(q: Array[Float], tier: ServeTier, probe: ServeProbe,
        conds: Seq[graft.filter.SimpleConjuncts.Cond]): Option[Served] =
      idx.serve("embedding", Array(q), 10, tier, probe, conds, _ => false, None).head
    def serveAll(tier: ServeTier, probe: ServeProbe,
        conds: Seq[graft.filter.SimpleConjuncts.Cond]): Array[Option[Served]] =
      idx.serve("embedding", queries, 10, tier, probe, conds, _ => false, None)
    val near8 = ServeProbe.Nearest(8)
    val exact1 = ServeProbe.Recall(1.0, 0L)
    val tw = System.nanoTime()
    queries.foreach(q => serveOne(q, ServeTier.Float, near8, Nil))
    val coldSec = (System.nanoTime() - tw) / 1e9
    // time-boxed: whole passes over the query set until ~10 s elapsed
    // (fixed iteration counts are wildly off across dims/sizes)
    val t2 = System.nanoTime()
    val serveDeadline = t2 + 10L * 1000 * 1000 * 1000
    var serveQueries = 0L
    var served: Array[(Long, Double)] = null
    while (serveQueries == 0L || System.nanoTime() < serveDeadline) {
      var qi = 0
      while (qi < queries.length) {
        served = serveOne(queries(qi), ServeTier.Float, near8, Nil).get.hits
        qi += 1
      }
      serveQueries += queries.length
    }
    val serveSec = (System.nanoTime() - t2) / 1e9
    val serveRecall = exact.zip(queries.map(q =>
      serveOne(q, ServeTier.Float, near8, Nil).get.hits.map(_._1).toSeq)).map {
      case (e, a) => e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length

    // BATCH serving: same resident tier, all queries per call — each
    // resident row is read from RAM once per batch and scored against
    // every query probing its cluster (dense serving at high dim is
    // bandwidth-bound, so the shared sweep is the serving-side analog of
    // the job-mode batch scan)
    val t2b = System.nanoTime()
    val bserveDeadline = t2b + 10L * 1000 * 1000 * 1000
    var bserveQueries = 0L
    var bserveGot: Array[Option[Served]] = null
    while (bserveQueries == 0L || System.nanoTime() < bserveDeadline) {
      bserveGot = serveAll(ServeTier.Float, near8, Nil)
      bserveQueries += queries.length
    }
    val bserveSec = (System.nanoTime() - t2b) / 1e9
    val bserveRecall = exact.zipWithIndex.map { case (e, i) =>
      val a = bserveGot(i).map(_.hits.map(_._1).toSeq).getOrElse(Nil)
      e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length

    // QUANTIZED serving residency: same probe skeleton, resident tier
    // holds 16-bit codes + per-row scales + exact norms (2·dim+48 B/row
    // vs 8·dim+24 — ~4x more rows per byte, and each scoring pass reads
    // a quarter of the memory per row; dense serving at dim 960 is RAM-
    // bandwidth-bound, so density IS throughput). Two windows: the
    // default throughput mode (empirically exact ranking, measured
    // recall), then the CERTIFIED mode whose recall is 1.0 by
    // construction — interval-certified id sets, boundary-ambiguous
    // queries float-rerank one pruned job (qserve_reranks counts them).
    val quant16 = ServeTier.Quantized(certify = false)
    queries.foreach(q => serveOne(q, quant16, near8, Nil))
    val t2q = System.nanoTime()
    val qserveDeadline = t2q + 10L * 1000 * 1000 * 1000
    var qserveQueries = 0L
    while (qserveQueries == 0L || System.nanoTime() < qserveDeadline) {
      var qi = 0
      while (qi < queries.length) {
        serveOne(queries(qi), quant16, near8, Nil).get
        qi += 1
      }
      qserveQueries += queries.length
    }
    val qserveSec = (System.nanoTime() - t2q) / 1e9
    val qserveRecall = exact.zip(queries.map(q =>
      serveOne(q, quant16, near8, Nil).get.hits.map(_._1).toSeq)).map {
      case (e, a) => e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length

    // certified window: proven-exact id sets (recall 1.0 by construction).
    // DECLINES are legitimate here (a pathological ambiguity band means
    // the job path is the better plan — isotropic high-dim geometry):
    // counted, recall measured over the answered queries (-1 = none).
    val t2c = System.nanoTime()
    val qcertDeadline = t2c + 10L * 1000 * 1000 * 1000
    var qcertQueries = 0L
    var qcertDeclines = 0L
    while (qcertQueries == 0L || System.nanoTime() < qcertDeadline) {
      var qi = 0
      while (qi < queries.length) {
        if (serveOne(queries(qi), ServeTier.Quantized(certify = true), near8,
          Nil).isEmpty) qcertDeclines += 1
        qi += 1
      }
      qcertQueries += queries.length
    }
    val qcertSec = (System.nanoTime() - t2c) / 1e9
    val qcertRecall = {
      val per = exact.zip(queries.map(q =>
        serveOne(q, ServeTier.Quantized(certify = true), near8, Nil)
          .map(_.hits.map(_._1).toSeq))).collect {
        case (e, Some(a)) => e.toSet.intersect(a.toSet).size.toDouble / e.size
      }
      if (per.isEmpty) -1.0 else per.sum / per.length
    }

    // PQ serving residency: m-byte ADC codes resident (~14x the rows per
    // byte of the 16-bit tier at dim 960; cold loads move m+8 payload
    // bytes per row instead of 4*dim). Throughput mode ranks by raw ADC
    // (lossy ~32x compression — recall is MEASURED, rank flips on close
    // pairs are expected and documented); the certified window returns
    // proven-exact id sets off the persisted reconstruction-error bounds
    // (recall 1.0 by construction, reranks counted).
    val tpq0 = System.nanoTime()
    val pqRaw = ServeTier.Pq(certify = false)
    queries.foreach(q => serveOne(q, pqRaw, near8, Nil))
    val pqColdSec = (System.nanoTime() - tpq0) / 1e9
    val t2p = System.nanoTime()
    val pqServeDeadline = t2p + 10L * 1000 * 1000 * 1000
    var pqServeQueries = 0L
    while (pqServeQueries == 0L || System.nanoTime() < pqServeDeadline) {
      var qi = 0
      while (qi < queries.length) {
        serveOne(queries(qi), pqRaw, near8, Nil)
        qi += 1
      }
      pqServeQueries += queries.length
    }
    val pqServeSec = (System.nanoTime() - t2p) / 1e9
    val pqServeRecall = {
      val per = exact.zip(queries.map(q =>
        serveOne(q, pqRaw, near8, Nil)
          .map(_.hits.map(_._1).toSeq))).collect {
        case (e, Some(a)) => e.toSet.intersect(a.toSet).size.toDouble / e.size
      }
      if (per.isEmpty) -1.0 else per.sum / per.length
    }
    val t2pc = System.nanoTime()
    val pqCertDeadline = t2pc + 10L * 1000 * 1000 * 1000
    var pqCertQueries = 0L
    var pqCertDeclines = 0L
    while (pqCertQueries == 0L || System.nanoTime() < pqCertDeadline) {
      var qi = 0
      while (qi < queries.length) {
        if (serveOne(queries(qi), ServeTier.Pq(certify = true), near8,
          Nil).isEmpty) pqCertDeclines += 1
        qi += 1
      }
      pqCertQueries += queries.length
    }
    val pqCertSec = (System.nanoTime() - t2pc) / 1e9
    val pqCertRecall = {
      val per = exact.zip(queries.map(q =>
        serveOne(q, ServeTier.Pq(certify = true), near8, Nil)
          .map(_.hits.map(_._1).toSeq))).collect {
        case (e, Some(a)) => e.toSet.intersect(a.toSet).size.toDouble / e.size
      }
      if (per.isEmpty) -1.0 else per.sum / per.length
    }

    // BATCH serving off the code-resident tiers: the same shared-sweep
    // amortization the float batch shows, on 16-bit and m-byte rows — the
    // sweep reads each row's codes once per batch, every query pays only
    // its own arithmetic (lut lookups / fused dots)
    val tqb = System.nanoTime()
    val bqserveDeadline = tqb + 10L * 1000 * 1000 * 1000
    var bqserveQueries = 0L
    var bqGot: Array[Option[Served]] = null
    while (bqserveQueries == 0L || System.nanoTime() < bqserveDeadline) {
      bqGot = serveAll(quant16, near8, Nil)
      bqserveQueries += queries.length
    }
    val bqserveSec = (System.nanoTime() - tqb) / 1e9
    val bqserveRecall = exact.zipWithIndex.map { case (e, i) =>
      val a = bqGot(i).map(_.hits.map(_._1).toSeq).getOrElse(Nil)
      e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length
    val tpb = System.nanoTime()
    val bpqserveDeadline = tpb + 10L * 1000 * 1000 * 1000
    var bpqserveQueries = 0L
    var bpqGot: Array[Option[Served]] = null
    while (bpqserveQueries == 0L || System.nanoTime() < bpqserveDeadline) {
      bpqGot = serveAll(pqRaw, near8, Nil)
      bpqserveQueries += queries.length
    }
    val bpqserveSec = (System.nanoTime() - tpb) / 1e9
    val bpqserveRecall = exact.zipWithIndex.map { case (e, i) =>
      val a = bpqGot(i).map(_.hits.map(_._1).toSeq).getOrElse(Nil)
      e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length

    // ATTRIBUTE-FILTERED serving: `label >= 5` evaluated exactly in the
    // sweep off the resident scalar column (a filtered serve); recall is
    // measured against the FILTERED exact top-10. The first serve pays the
    // scalar cold load + passing-set build; repeats hit the passing-set
    // cache — both inside the timed window, like the other serve rows.
    idx.setServeFilterColumns(Seq("label"))
    val fconds = Seq(graft.filter.SimpleConjuncts.Cond("label", ">=",
      graft.filter.SimpleConjuncts.NumLit(5.0, isInt = true)))
    val exactFiltered = queries.map(q =>
      emb.filter(col("label") >= 5)
        .withColumn("d", l2sqr_distance(col("embedding"), lit(q)))
        .orderBy(col("d").asc, col("vec_id").asc).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq)
    queries.foreach(q => serveOne(q, ServeTier.Float, near8, fconds))
    val tf = System.nanoTime()
    val fserveDeadline = tf + 10L * 1000 * 1000 * 1000
    var fserveQueries = 0L
    while (fserveQueries == 0L || System.nanoTime() < fserveDeadline) {
      var qi = 0
      while (qi < queries.length) {
        serveOne(queries(qi), ServeTier.Float, near8, fconds).get
        qi += 1
      }
      fserveQueries += queries.length
    }
    val fserveSec = (System.nanoTime() - tf) / 1e9
    val fserveRecall = exactFiltered.zip(queries.map(q =>
      serveOne(q, ServeTier.Float, near8, fconds)
        .get.hits.map(_._1).toSeq)).map {
      case (e, a) => e.toSet.intersect(a.toSet).size.toDouble / math.max(e.size, 1)
    }.sum / exactFiltered.length

    // BATCH filtered serving: one passing-id set for the shared
    // conjunction + the float tier's shared row sweep
    val tfb = System.nanoTime()
    val bfserveDeadline = tfb + 10L * 1000 * 1000 * 1000
    var bfserveQueries = 0L
    var bfGot: Array[Option[Served]] = null
    while (bfserveQueries == 0L || System.nanoTime() < bfserveDeadline) {
      bfGot = serveAll(ServeTier.Float, near8, fconds)
      bfserveQueries += queries.length
    }
    val bfserveSec = (System.nanoTime() - tfb) / 1e9
    val bfserveRecall = exactFiltered.zipWithIndex.map { case (e, i) =>
      val a = bfGot(i).map(_.hits.map(_._1).toSeq).getOrElse(Nil)
      e.toSet.intersect(a.toSet).size.toDouble / math.max(e.size, 1)
    }.sum / exactFiltered.length

    // FILTERED serving on the CODE tiers (round 11): the same passing-id
    // mask composed into the 16-bit / PQ sweeps — dense-residency users
    // no longer pay the job path for filtered queries. Recall vs the
    // FILTERED exact top-10 (PQ throughput is lossy by contract; the
    // certified sub-modes are proven on the unfiltered rows above and
    // prove the FILTERED set here identically).
    // declines are legitimate tier behavior (over-budget covers, hostile
    // geometry) — count them instead of crashing the run, like the
    // certified rows; recall is measured over the SERVED queries
    def codeRow(oracle: Seq[Seq[Long]],
        serve: Array[Float] => Option[Served])
        : (Double, Double, Long) = {
      queries.foreach(serve(_))
      val t0 = System.nanoTime()
      val deadline = t0 + 10L * 1000 * 1000 * 1000
      var attempts = 0L
      var declines = 0L
      while (attempts == 0L || System.nanoTime() < deadline) {
        var qi = 0
        while (qi < queries.length) {
          if (serve(queries(qi)).isEmpty) declines += 1
          qi += 1
        }
        attempts += queries.length
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val recalls = oracle.zip(queries.map(q =>
        serve(q).map(_.hits.map(_._1).toSeq))).collect {
        case (e, Some(a)) =>
          e.toSet.intersect(a.toSet).size.toDouble / math.max(e.size, 1)
      }
      val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length
      ((attempts - declines) / sec, recall, declines)
    }
    val (fqserveQps, fqserveRecall, fqserveDecl) = codeRow(exactFiltered, q =>
      serveOne(q, quant16, near8, fconds))
    val (fpqserveQps, fpqserveRecall, fpqserveDecl) = codeRow(exactFiltered,
      q => serveOne(q, pqRaw, near8, fconds))

    // PROVEN-recall filtered serving (passing-count ball cover, target
    // 1.0 ⇒ exact over the filtered universe): the cover re-derives per
    // serve from the resident radii/counts + the cached pass set
    val (frserveQps, frserveRecall, frserveDecl) = codeRow(exactFiltered,
      q => serveOne(q, ServeTier.Float, exact1, fconds))

    // PROVEN-recall serving on the CODE tiers (round 11): geometric cover
    // × FORCED certification — the floor is proven at code-tier memory
    // bandwidth (target 1.0 ⇒ exact id set) where the uniform contract
    // previously declined to the ~1 qps job path; recall vs the
    // UNFILTERED exact top-10 must read 1.0 (any deficit is a bug, not
    // tier lossiness — these rows carry a proof)
    val (rqserveQps, rqserveRecall, rqserveDecl) = codeRow(exact, q =>
      serveOne(q, ServeTier.Quantized(certify = true), exact1, Nil))
    val (rpqserveQps, rpqserveRecall, rpqserveDecl) = codeRow(exact, q =>
      serveOne(q, ServeTier.Pq(certify = true), exact1, Nil))
    // their FILTERED forms: passing-count cover × certification over the
    // masked (= filtered) candidates — proven-exact filtered answers off
    // 16-bit / PQ codes
    val (frqserveQps, frqserveRecall, frqserveDecl) = codeRow(exactFiltered,
      q => serveOne(q, ServeTier.Quantized(certify = true), exact1, fconds))
    val (frpqserveQps, frpqserveRecall, frpqserveDecl) = codeRow(exactFiltered,
      q => serveOne(q, ServeTier.Pq(certify = true), exact1, fconds))

    // BATCH proven-recall FILTERED serving: ONE all-cluster pass set +
    // passing-count map serve per-query covers on the shared masked
    // sweep — the batch twin of frserve (recall vs the filtered exact
    // must read 1.0 on every served entry; declined entries are counted,
    // not crashed)
    val tbfr = System.nanoTime()
    val bfrserveDeadline = tbfr + 10L * 1000 * 1000 * 1000
    var bfrserveQueries = 0L
    var bfrserveDecl = 0L
    var bfrGot: Array[Option[Served]] = null
    while (bfrserveQueries == 0L || System.nanoTime() < bfrserveDeadline) {
      bfrGot = serveAll(ServeTier.Float, exact1, fconds)
      bfrserveDecl += bfrGot.count(_.isEmpty)
      bfrserveQueries += queries.length
    }
    val bfrserveSec = (System.nanoTime() - tbfr) / 1e9
    val bfrserveRecall = exactFiltered.zipWithIndex.map { case (e, i) =>
      val a = bfrGot(i).map(_.hits.map(_._1).toSeq).getOrElse(Nil)
      e.toSet.intersect(a.toSet).size.toDouble / math.max(e.size, 1)
    }.sum / exactFiltered.length

    // BATCH proven-recall on the 16-bit tier: per-query covers on the
    // shared code sweep × forced per-query certification — the batch
    // twin of rqserve (recall vs exact must read 1.0; the shared sweep
    // amortizes the code reads across the cover like bqserve does)
    val tbr = System.nanoTime()
    val brqserveDeadline = tbr + 10L * 1000 * 1000 * 1000
    var brqserveQueries = 0L
    var brqGot: Array[Option[Served]] = null
    while (brqserveQueries == 0L || System.nanoTime() < brqserveDeadline) {
      brqGot = serveAll(ServeTier.Quantized(certify = true), exact1, Nil)
      brqserveQueries += queries.length
    }
    val brqserveSec = (System.nanoTime() - tbr) / 1e9
    val brqserveRecall = exact.zipWithIndex.map { case (e, i) =>
      val a = brqGot(i).map(_.hits.map(_._1).toSeq).getOrElse(Nil)
      e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length

    // serving under CONCURRENT INGEST (dense twin of the sparse row): a
    // writer thread appends 500-row batches (assigned to the existing
    // centroids) every ~700 ms. Appends land ABOVE the serving pin, so
    // the served answers must stay byte-identical to the quiescent ones —
    // and residency must stay warm (qps within ~20% of quiescent).
    val quiescent = queries.map(q =>
      serveOne(q, ServeTier.Float, near8, Nil).get.hits.map(_._1).toSeq)
    val dim = queries.head.length
    val stopIngest = new java.util.concurrent.atomic.AtomicBoolean(false)
    val appendsN = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() => {
      var nextId = n
      while (!stopIngest.get()) {
        val batch = spark.range(nextId, nextId + 500)
          .select(col("id").as("vec_id"),
            transform(sequence(lit(1), lit(dim)),
              i => (lit(50.0) + pmod(xxhash64(col("id") * dim + i), lit(100)) / 100.0)
                .cast("float")).as("embedding"))
        idx.append(batch, "embedding")
        nextId += 500
        appendsN.incrementAndGet()
        Thread.sleep(700)
      }
    })
    writer.setDaemon(true)
    writer.start()
    val t3 = System.nanoTime()
    val ingestDeadline = t3 + 10L * 1000 * 1000 * 1000
    var ingestQueries = 0L
    var ingestWrong = 0L
    while (ingestQueries == 0L || System.nanoTime() < ingestDeadline) {
      var qi = 0
      while (qi < queries.length) {
        val got = serveOne(queries(qi), ServeTier.Float, near8, Nil)
          .map(_.hits.map(_._1).toSeq).getOrElse(Nil)
        if (got != quiescent(qi)) ingestWrong += 1
        qi += 1
      }
      ingestQueries += queries.length
    }
    val ingestSec = (System.nanoTime() - t3) / 1e9
    stopIngest.set(true)
    writer.join(30000)

    println(f"""{"metric":"ann_vs_exact","n":$n,"queries":${queries.length},""" +
      f""""exact_qps":${queries.length / exactSec}%.2f,"ann_qps":${queries.length / annSec}%.2f,""" +
      f""""batch_qps":${queries.length / batchSec}%.2f,"batch_recall_at_10":$batchRecall%.4f,""" +
      f""""batch_ann_qps":${queries.length / batchAnnSec}%.2f,""" +
      f""""batch_ann_recall_at_10":$batchAnnRecall%.4f,""" +
      f""""quant_qps":${queries.length / quantSec}%.2f,"quant_recall_at_10":$quantRecall%.4f,""" +
      f""""pq_qps":${queries.length / pqSec}%.2f,"pq_recall_at_10":$pqRecall%.4f,""" +
      f""""serve_qps":${serveQueries / serveSec}%.2f,"serve_recall_at_10":$serveRecall%.4f,""" +
      f""""serve_coldload_sec":$coldSec%.2f,""" +
      f""""bserve_qps":${bserveQueries / bserveSec}%.2f,"bserve_recall_at_10":$bserveRecall%.4f,""" +
      f""""qserve_qps":${qserveQueries / qserveSec}%.2f,"qserve_recall_at_10":$qserveRecall%.4f,""" +
      f""""qserve_resident_rows":${idx.servingResidentQuantRows()},""" +
      f""""qserve_cert_qps":${qcertQueries / qcertSec}%.2f,""" +
      f""""qserve_cert_recall_at_10":$qcertRecall%.4f,""" +
      f""""qserve_cert_declines":$qcertDeclines,""" +
      f""""qserve_reranks":${idx.quantRerankCount()},""" +
      f""""pqserve_qps":${pqServeQueries / pqServeSec}%.2f,""" +
      f""""pqserve_recall_at_10":$pqServeRecall%.4f,""" +
      f""""pqserve_coldload_sec":$pqColdSec%.2f,""" +
      f""""pqserve_resident_rows":${idx.servingResidentPqRows()},""" +
      f""""pqserve_cert_qps":${pqCertQueries / pqCertSec}%.2f,""" +
      f""""pqserve_cert_recall_at_10":$pqCertRecall%.4f,""" +
      f""""pqserve_cert_declines":$pqCertDeclines,""" +
      f""""pqserve_reranks":${idx.pqRerankCount()},""" +
      f""""bqserve_qps":${bqserveQueries / bqserveSec}%.2f,""" +
      f""""bqserve_recall_at_10":$bqserveRecall%.4f,""" +
      f""""bpqserve_qps":${bpqserveQueries / bpqserveSec}%.2f,""" +
      f""""bpqserve_recall_at_10":$bpqserveRecall%.4f,""" +
      f""""fserve_qps":${fserveQueries / fserveSec}%.2f,""" +
      f""""fserve_recall_at_10":$fserveRecall%.4f,""" +
      f""""bfserve_qps":${bfserveQueries / bfserveSec}%.2f,""" +
      f""""bfserve_recall_at_10":$bfserveRecall%.4f,""" +
      f""""fqserve_qps":$fqserveQps%.2f,""" +
      f""""fqserve_recall_at_10":$fqserveRecall%.4f,""" +
      f""""fqserve_declines":$fqserveDecl,""" +
      f""""fpqserve_qps":$fpqserveQps%.2f,""" +
      f""""fpqserve_recall_at_10":$fpqserveRecall%.4f,""" +
      f""""fpqserve_declines":$fpqserveDecl,""" +
      f""""frserve_qps":$frserveQps%.2f,""" +
      f""""frserve_recall_at_10":$frserveRecall%.4f,""" +
      f""""frserve_declines":$frserveDecl,""" +
      f""""rqserve_qps":$rqserveQps%.2f,""" +
      f""""rqserve_recall_at_10":$rqserveRecall%.4f,""" +
      f""""rqserve_declines":$rqserveDecl,""" +
      f""""rpqserve_qps":$rpqserveQps%.2f,""" +
      f""""rpqserve_recall_at_10":$rpqserveRecall%.4f,""" +
      f""""rpqserve_declines":$rpqserveDecl,""" +
      f""""frqserve_qps":$frqserveQps%.2f,""" +
      f""""frqserve_recall_at_10":$frqserveRecall%.4f,""" +
      f""""frqserve_declines":$frqserveDecl,""" +
      f""""frpqserve_qps":$frpqserveQps%.2f,""" +
      f""""frpqserve_recall_at_10":$frpqserveRecall%.4f,""" +
      f""""frpqserve_declines":$frpqserveDecl,""" +
      f""""brqserve_qps":${brqserveQueries / brqserveSec}%.2f,""" +
      f""""brqserve_recall_at_10":$brqserveRecall%.4f,""" +
      f""""bfrserve_qps":${(bfrserveQueries - bfrserveDecl) / bfrserveSec}%.2f,""" +
      f""""bfrserve_recall_at_10":$bfrserveRecall%.4f,""" +
      f""""bfrserve_declines":$bfrserveDecl,""" +
      f""""ingest_serve_qps":${ingestQueries / ingestSec}%.2f,""" +
      f""""ingest_appends":${appendsN.get()},"ingest_wrong":$ingestWrong,""" +
      s""""autoprobe":[${autoRows.mkString(",")}],"geom":"$geomTag",""" +
      f""""ivf_build_sec":$buildSec%.2f,"recall_at_10":$recall%.4f,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Sparse inverted-index bench: synthetic corpus of `n` rows with 32
    * nonzeros over a 65536-dim hashed vocab. Compares the raw row scan
    * (the `sparse_negative_dot` merge-join GraftDb's exact path runs —
    * what every query paid before the persisted index), the index job
    * path (`SparseIndex.search`: a partition-pruned read of the query's
    * dims), and the serve tier (`SparseIndex.serve`: per-dim resident
    * posting cache, no Spark job warm). Recall measured vs the raw scan
    * (1.0 expected up to float-vs-double dot rounding). */
  private def sparseBench(spark: SparkSession, n: Long): Unit = {
    import graft.index.SparseIndex
    val vocab = 65536
    val nnz = 32
    val k = 10
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_sparse_synth_$n"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      spark.range(n)
        .select(col("id"),
          sort_array(array_distinct(transform(sequence(lit(0), lit(nnz - 1)),
            j => pmod(xxhash64(col("id") * nnz + j), lit(vocab)).cast("int"))))
            .as("dims"))
        .select(col("id"),
          struct(col("dims").as("indices"),
            transform(col("dims"),
              d => (pmod(xxhash64(d), lit(1000)) / lit(1000.0) + 0.5).cast("float"))
              .as("values")).as("sv"))
        .repartition(32).write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val queries = df.filter(col("id") < 20).orderBy("id").select("sv").collect()
      .map { r =>
        val sv = r.getStruct(0)
        (sv.getSeq[Int](0).toArray, sv.getSeq[Float](1).toArray)
      }

    def scanTopK(q: (Array[Int], Array[Float])): Seq[Long] =
      df.withColumn("@distance", graft.functions.sparse_negative_dot(col("sv"),
          struct(lit(q._1).as("indices"), lit(q._2).as("values"))))
        .orderBy(col("@distance").asc, col("id").asc).limit(k)
        .select("id").collect().map(_.getLong(0)).toSeq
    scanTopK(queries.head) // warm up
    val t0 = System.nanoTime()
    val exact = queries.map(scanTopK)
    val scanSec = (System.nanoTime() - t0) / 1e9

    val idxPath = s"${System.getProperty("java.io.tmpdir")}/graft_spbench_$n"
    val tb = System.nanoTime()
    val idx = SparseIndex.build(spark, df, "sv", "id", idxPath, buckets = 64)
    val buildSec = (System.nanoTime() - tb) / 1e9

    def jobTopK(q: (Array[Int], Array[Float])): Seq[Long] =
      idx.search(MetricType.DotProduct, overlapOnly = true, q._1, q._2, k)
        .select("id").collect().map(_.getLong(0)).toSeq
    jobTopK(queries.head)
    val t1 = System.nanoTime()
    val job = queries.map(jobTopK)
    val jobSec = (System.nanoTime() - t1) / 1e9
    val jobRecall = exact.zip(job).map { case (e, a) =>
      e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length

    idx.maxServePostings = Long.MaxValue // bench corpus is sized to fit
    val tws = System.nanoTime()
    def serveDot(q: (Array[Int], Array[Float])) =
      idx.serve(Array(q), k, MetricType.DotProduct).head
    queries.foreach(serveDot) // warm (loads dims)
    val sparseColdSec = (System.nanoTime() - tws) / 1e9
    val t2 = System.nanoTime()
    val serveDeadline = t2 + 10L * 1000 * 1000 * 1000
    var serveQueries = 0L
    while (serveQueries == 0L || System.nanoTime() < serveDeadline) {
      var qi = 0
      while (qi < queries.length) {
        serveDot(queries(qi))
        qi += 1
      }
      serveQueries += queries.length
    }
    val serveSec = (System.nanoTime() - t2) / 1e9
    val serveRecall = exact.zip(queries.map(q =>
      serveDot(q).get.map(_._1).toSeq)).map {
      case (e, a) => e.toSet.intersect(a.toSet).size.toDouble / e.size
    }.sum / exact.length

    // exact Euclidean serving: overlap candidates off posting-resident
    // norms + resident min-norm fills (recall vs the job-path distance
    // search must be 1.0 — the serve path proves exactness per query)
    def jobEuclid(q: (Array[Int], Array[Float])): Seq[Long] =
      idx.search(MetricType.Euclidean, overlapOnly = false, q._1, q._2, k)
        .select("id").collect().map(_.getLong(0)).toSeq
    val exactE = queries.map(jobEuclid)
    def serveEuclid(q: (Array[Int], Array[Float])) =
      idx.serve(Array(q), k, MetricType.Euclidean).head
    serveEuclid(queries.head) // warm
    val t3 = System.nanoTime()
    val euclidDeadline = t3 + 5L * 1000 * 1000 * 1000
    var euclidQueries = 0L
    while (euclidQueries == 0L || System.nanoTime() < euclidDeadline) {
      var qi = 0
      while (qi < queries.length) {
        serveEuclid(queries(qi))
        qi += 1
      }
      euclidQueries += queries.length
    }
    val euclidSec = (System.nanoTime() - t3) / 1e9
    // recall over SERVED queries only; a decline (None) honors the
    // exact-or-decline contract and is counted separately, not as recall 0
    val euclidServed = queries.map(serveEuclid)
    val euclidDeclined = euclidServed.count(_.isEmpty)
    val euclidPairs = exactE.zip(euclidServed).collect {
      case (e, Some(a)) => e.toSet.intersect(a.map(_._1).toSet).size.toDouble / e.size
    }
    val euclidRecall = if (euclidPairs.isEmpty) 0.0 else euclidPairs.sum / euclidPairs.length

    // serving under CONCURRENT INGEST: a writer thread appends a 500-row
    // batch roughly every 700 ms while the serve loop runs. Appended rows
    // use dims DISJOINT from every query's dims (vocab..vocab+nnz), so the
    // exact answers must not change — any drift is a wrong answer. The
    // snapshot pin keeps resident posting lists valid across appends
    // (appends move the watermark, not the (gen, purge) residency key), so
    // qps should hold within ~20% of the quiescent figure.
    val stopIngest = new java.util.concurrent.atomic.AtomicBoolean(false)
    val appendCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() => {
      var nextId = n
      while (!stopIngest.get()) {
        val batch = spark.range(nextId, nextId + 500)
          .select(col("id"),
            explode(transform(sequence(lit(0), lit(nnz - 1)),
              j => (lit(vocab) + pmod(xxhash64(col("id") * nnz + j), lit(nnz)))
                .cast("int"))).as("dim"))
          .withColumn("v", lit(1.0f))
        idx.append(batch, newRows = 500, newMaxId = nextId + 500 - 1)
        nextId += 500
        appendCount.incrementAndGet()
        Thread.sleep(700)
      }
    })
    writer.setDaemon(true)
    writer.start()
    val t4 = System.nanoTime()
    val ingestDeadline = t4 + 10L * 1000 * 1000 * 1000
    var ingestQueries = 0L
    var wrong = 0L
    while (ingestQueries == 0L || System.nanoTime() < ingestDeadline) {
      var qi = 0
      while (qi < queries.length) {
        val got = serveDot(queries(qi))
          .map(_.map(_._1).toSeq).getOrElse(Nil)
        if (got != exact(qi)) wrong += 1
        qi += 1
      }
      ingestQueries += queries.length
    }
    val ingestSec = (System.nanoTime() - t4) / 1e9
    stopIngest.set(true)
    writer.join(30000)

    // WAND hot-dim serving: add a STOP-WORD dim (present in every row)
    // with a two-level magnitude profile — 1000 rare high-impact postings
    // (2.0) over a uniform 0.05 floor — and serve queries touching it
    // EXACTLY from an impact-ordered prefix under a budget that makes
    // full residency impossible (the dim holds n postings, the budget
    // 1M). This is the classic max-score regime: the persisted magnitude
    // bound proves the 0.05 tail cannot reach a top-10 owned by 2.0s, so
    // the serve is provably exact without ever collecting the full list.
    import graft.index.SparseIndex
    val hotDim = vocab + nnz + 64 // disjoint from corpus and ingest dims
    val wandPath = s"${System.getProperty("java.io.tmpdir")}/graft_spwand_$n"
    val hotPostings = spark.range(n).select(col("id"), lit(hotDim).as("dim"),
      when(pmod(col("id"), lit(2000)) === 0, lit(2.0f))
        .otherwise(lit(0.05f)).as("v"))
    val tw0 = System.nanoTime()
    val widx = SparseIndex.buildFromPostings(spark,
      SparseIndex.postingsOf(df, "sv", "id").unionByName(hotPostings), "id",
      wandPath, buckets = 64, watermark = Some(n - 1), rowCount = Some(n))
    val wandBuildSec = (System.nanoTime() - tw0) / 1e9
    // budget strictly below the stop-word dim's n postings: the bench must
    // exercise the PREFIX regime at every corpus size, not full residency
    widx.maxServePostings = math.min(1L << 20, n / 2)
    val wandQueries = queries.map(q => Array(hotDim, q._1.head))
    def wandJob(q: Array[Int]): Seq[Long] =
      widx.search(MetricType.DotProduct, overlapOnly = true, q, q.map(_ => 1.0f), k)
        .select("id").collect()
        .map(_.getLong(0)).toSeq
    val wandExact = wandQueries.map(wandJob)
    def serveWand(q: Array[Int]) =
      widx.serve(Array((q, q.map(_ => 1.0f))), k, MetricType.DotProduct).head
    wandQueries.foreach(serveWand) // warm
    val declBefore = widx.serveDeclineCount()
    val tw1 = System.nanoTime()
    val wandDeadline = tw1 + 5L * 1000 * 1000 * 1000
    var wandServed = 0L
    while (wandServed == 0L || System.nanoTime() < wandDeadline) {
      var qi = 0
      while (qi < wandQueries.length) {
        serveWand(wandQueries(qi))
        qi += 1
      }
      wandServed += wandQueries.length
    }
    val wandSec = (System.nanoTime() - tw1) / 1e9
    val wandDeclined = widx.serveDeclineCount() - declBefore
    val wandAnswers = wandQueries.map(serveWand)
    val wandRecall = wandExact.zip(wandAnswers).collect {
      case (e, Some(a)) => e.toSet.intersect(a.map(_._1).toSet).size.toDouble / e.size
    }.sum / math.max(1, wandAnswers.count(_.isDefined))


    println(f"""{"metric":"sparse_vs_scan","n":$n,"queries":${queries.length},""" +
      f""""scan_qps":${queries.length / scanSec}%.2f,"job_qps":${queries.length / jobSec}%.2f,""" +
      f""""serve_qps":${serveQueries / serveSec}%.2f,"build_sec":$buildSec%.2f,""" +
      f""""job_recall_at_10":$jobRecall%.4f,"serve_recall_at_10":$serveRecall%.4f,""" +
      f""""euclid_serve_qps":${euclidQueries / euclidSec}%.2f,""" +
      f""""euclid_serve_recall_at_10":$euclidRecall%.4f,""" +
      f""""euclid_serve_declined":$euclidDeclined,""" +
      f""""serve_coldload_sec":$sparseColdSec%.2f,""" +
      f""""ingest_serve_qps":${ingestQueries / ingestSec}%.2f,""" +
      f""""ingest_appends":${appendCount.get()},"ingest_wrong":$wrong,""" +
      f""""wand_serve_qps":${wandServed / wandSec}%.2f,""" +
      f""""wand_recall_at_10":$wandRecall%.4f,"wand_declined":$wandDeclined,""" +
      f""""wand_build_sec":$wandBuildSec%.2f,""" +
      f""""resident_postings":${idx.servingResidentPostings()}}""")
  }

  /** Sparse-ONLY FILTERED serving (round 12) through the FULL GraftDb
    * dispatch: the table has NO dense field, so the mask comes from the
    * sparse index's own scalar values residency (one cached block load —
    * fserve_cold_sec — then pure JVM compute per query); the job path
    * (distributed semi-join mask) is the baseline. Equality is checked
    * per query (fserve_wrong must be 0). Same synthetic corpus as
    * [[sparseBench]]; SPARK_GRAFT_SPARSE_FILTERED=1 selects this mode. */
  private def sparseFilteredBench(spark: SparkSession, n: Long): Unit = {
    val vocab = 65536
    val nnz = 32
    val k = 10
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_sparse_synth_$n"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      spark.range(n)
        .select(col("id"),
          sort_array(array_distinct(transform(sequence(lit(0), lit(nnz - 1)),
            j => pmod(xxhash64(col("id") * nnz + j), lit(vocab)).cast("int"))))
            .as("dims"))
        .select(col("id"),
          struct(col("dims").as("indices"),
            transform(col("dims"),
              d => (pmod(xxhash64(d), lit(1000)) / lit(1000.0) + 0.5).cast("float"))
              .as("values")).as("sv"))
        .repartition(32).write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val queries = df.filter(col("id") < 20).orderBy("id").select("sv").collect()
      .map { r =>
        val sv = r.getStruct(0)
        (sv.getSeq[Int](0).toArray, sv.getSeq[Float](1).toArray)
      }
    // sparse-ONLY FILTERED serving (round 12) through the FULL GraftDb
    // dispatch: the table has NO dense field, so the mask comes from the
    // sparse index's own scalar values residency (one cached block load
    // — fserve_cold_sec — then pure JVM compute per query); the job path
    // (distributed semi-join mask) is the baseline. Equality is checked
    // per query (fserve_wrong must be 0: the retrieval-mode contract is
    // exact on this fixture only for the masked candidate RANKING — both
    // paths rank the same overlap candidates under the same mask).
    val dbRoot = s"${System.getProperty("java.io.tmpdir")}/graft_spdb_$n"
    val dbP = java.nio.file.Paths.get(dbRoot)
    if (java.nio.file.Files.exists(dbP)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(dbP)
      try w.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally w.close()
    }
    val db = new graft.api.GraftDb(spark, dbRoot)
    db.createTable(
      s"""{"name":"S","fields":[
         |  {"name":"ID","dataType":"BIGINT","primaryKey":true},
         |  {"name":"Label","dataType":"BIGINT"},
         |  {"name":"SV","dataType":"SPARSE_VECTOR_FLOAT","dimensions":$vocab,
         |   "metricType":"DOT_PRODUCT"}]}""".stripMargin)
    val ti0 = System.nanoTime()
    db.store("S").insert(df.select(col("id").as("ID"),
      pmod(col("id"), lit(10)).as("Label"), col("sv").as("SV")))
    val insertSec = (System.nanoTime() - ti0) / 1e9
    require(db.rebuildIndex("S", "SV"), "sparse index build skipped")
    db.setServeFilterColumns("S", "SV", Seq("Label"))
    val m = db.store("S").read()
      .select(col(graft.store.TableStore.RowId), col("ID"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def qJson(q: (Array[Int], Array[Float]), serve: Boolean): String =
      s"""{"table":"S","queryField":"SV","queryVector":{"indices":[${q._1.mkString(",")}],""" +
        s""""values":[${q._2.mkString(",")}]},"limit":$k,"filter":"Label >= 5"""" +
        (if (serve) ""","serve":true}""" else ""","response":["ID"]}""")
    val idRe = """"(?:__row_id|ID)":(-?\d+)""".r
    def ids(resp: String): Seq[Long] =
      idRe.findAllMatchIn(resp).map(_.group(1).toLong).toSeq
    val tfj = System.nanoTime()
    val fjobIds = queries.map(q => ids(db.query(qJson(q, serve = false))))
    val fjobSec = (System.nanoTime() - tfj) / 1e9
    val tfc = System.nanoTime()
    val firstServe = db.query(qJson(queries.head, serve = true))
    val fColdSec = (System.nanoTime() - tfc) / 1e9
    require(firstServe.contains("\"served\":true"),
      s"sparse-only filtered serve declined: $firstServe")
    var fWrong = 0L
    queries.zipWithIndex.foreach { case (q, qi) =>
      val r = db.query(qJson(q, serve = true))
      if (!r.contains("\"served\":true") || ids(r).map(m) != fjobIds(qi))
        fWrong += 1
    }
    val tf1 = System.nanoTime()
    val fDeadline = tf1 + 10L * 1000 * 1000 * 1000
    var fServed = 0L
    while (fServed == 0L || System.nanoTime() < fDeadline) {
      var qi = 0
      while (qi < queries.length) {
        db.query(qJson(queries(qi), serve = true))
        qi += 1
      }
      fServed += queries.length
    }
    val fSec = (System.nanoTime() - tf1) / 1e9

    println(f"""{"metric":"sparse_filtered_serve","n":$n,"queries":${queries.length},""" +
      f""""fserve_qps":${fServed / fSec}%.2f,"fjob_qps":${queries.length / fjobSec}%.2f,""" +
      f""""fserve_wrong":$fWrong,"fserve_cold_sec":$fColdSec%.2f,""" +
      f""""insert_sec":$insertSec%.2f}""")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.index.{IvfIndex, ServeProbe, ServeTier}
import graft.types.MetricType

/** Horizontal serving scale-out bench: N OS processes each open the SAME
  * on-disk IVF root (the reference's leader/follower file-sharing model,
  * table_mvp.cpp:143-170, db_server.hpp:104-110) and serve a disjoint
  * shard of the query set while THIS process (the leader) keeps
  * appending. One driver's residency budget is not the serving ceiling:
  * aggregate qps should scale ~linearly with process count, with zero
  * wrong answers (appends land above every follower's serving pin).
  *
  * Env: SPARK_GRAFT_SCALE_ROWS (200000), SPARK_GRAFT_SCALE_DIM (256),
  * SPARK_GRAFT_SCALE_PROCS ("1,2,4"), SPARK_GRAFT_SCALE_SEC (10).
  * Prints one JSON line {"metric":"serve_scaleout",...}.
  */
object ServeScaleBench {
  private[graft] val VecCol = "embedding"
  private[graft] val IdCol = "vec_id"
  /** The filtered tier's shared conjunction (label >= 5 — half the rows). */
  private[graft] val FilterConds = Seq(graft.filter.SimpleConjuncts.Cond(
    "label", ">=", graft.filter.SimpleConjuncts.NumLit(5.0, isInt = true)))

  /** One query's top-10 through `IvfIndex.serve` (no tail, no mask). */
  private[graft] def serveHits(idx: IvfIndex, q: Array[Float], tier: ServeTier,
      probe: ServeProbe, conds: Seq[graft.filter.SimpleConjuncts.Cond])
      : Option[Array[(Long, Double)]] =
    idx.serve(VecCol, Array(q), 10, tier, probe, conds, _ => false, None)
      .head.map(_.hits)

  private def javaBin = s"${System.getProperty("java.home")}/bin/java"

  // the worker JVMs need the same JDK-17 module opens sbt gave this one
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROWS", "200000").toLong
    val dim = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIM", "256").toInt
    val procCounts = sys.env.getOrElse("SPARK_GRAFT_SCALE_PROCS", "1,2,4")
      .split(",").map(_.trim.toInt).toSeq
    val durSec = sys.env.getOrElse("SPARK_GRAFT_SCALE_SEC", "10").toInt
    // "float" (default) serves the all-float exact tier; "pq" serves the
    // m-byte ADC-resident tier — the shard-residency story at its densest
    // (each worker's warm set is ~50x smaller in bytes, so process count
    // scales before RAM does); "filtered" serves the float tier through
    // a filtered serve (label >= 5 over the declared scalar residency)
    // — attribute-filtered serving scales out like the rest; "autoprobe"
    // serves with the RECALL-TARGETED cover (a Recall serve at
    // SPARK_GRAFT_SCALE_RT, default 1.0) — the radii/counts the cover
    // reads are per-worker stamp-cached off the shared layout, and the
    // leader's appends invalidate them (radius deltas widen the bound),
    // so this tier measures proven-recall serving under live ingest
    // "frecall" serves the PROVEN-recall FILTERED tier
    // (a filtered Recall serve at SPARK_GRAFT_SCALE_RT): the
    // passing-count ball cover re-derives per serve off each worker's
    // stamp-cached radii/counts + pass set, and the leader's appends
    // invalidate both — proven filtered answers under live ingest
    val tier = sys.env.getOrElse("SPARK_GRAFT_SCALE_TIER", "float")
    require(tier == "float" || tier == "pq" || tier == "filtered" ||
      tier == "autoprobe" || tier == "frecall", s"unknown tier $tier")
    val rtTarget = sys.env.getOrElse("SPARK_GRAFT_SCALE_RT", "1.0").toDouble
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // clustered synthetic corpus (same geometry as AnnBench: latent
    // centers + noise — uniform high-dim data defeats any pruning index)
    // _v2: carries the `label` scalar for the filtered tier
    val dataPath = s"${System.getProperty("java.io.tmpdir")}/graft_scale_synth_v2_${rows}_$dim"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dataPath)))
      spark.range(rows)
        .withColumn("c", pmod(xxhash64(col("id")), lit(128)))
        .select(col("id").as(IdCol),
          pmod(xxhash64(col("id") + 7), lit(10)).as("label"),
          transform(sequence(lit(1), lit(dim)), i =>
            ((pmod(xxhash64(col("c") * dim + i), lit(2000)) / 1000.0 - 1.0) +
              (pmod(xxhash64(col("id") * dim + i), lit(2000)) / 10000.0 - 0.1))
              .cast("float")).as(VecCol))
        .repartition(16).write.mode("overwrite").parquet(dataPath)
    val emb = spark.read.parquet(dataPath)

    val idxPath = s"${System.getProperty("java.io.tmpdir")}/graft_scale_idx_${rows}_$dim"
    // rebuild a cached layout that predates the columns this tier needs
    // (the pq tier serves off __pqcode/__pqerr)
    val stale = java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idxPath/ivf_meta.json")) && {
        val cols = spark.read.parquet(s"$idxPath/clustered").columns
        (tier == "pq" && !(cols.contains("__pqcode") && cols.contains("__pqerr"))) ||
          ((tier == "filtered" || tier == "frecall") && !cols.contains("label")) ||
          ((tier == "autoprobe" || tier == "frecall") && !java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$idxPath/cluster_radii")))
      }
    if (stale ||
        !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idxPath/ivf_meta.json")))
      IvfIndex.build(spark, emb, VecCol, IdCol, idxPath, MetricType.Euclidean,
        nClusters = 128, maxIter = 5)
    val idx = new IvfIndex(spark, idxPath, IdCol, MetricType.Euclidean)
    idx.maxServeRows = Long.MaxValue
    idx.maxServeBytes = Long.MaxValue
    if (tier == "filtered" || tier == "frecall")
      idx.setServeFilterColumns(Seq("label"))

    val queries = emb.filter(col(IdCol) < 20).orderBy(IdCol)
      .select(VecCol).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    // quiescent expected answers, served off the leader's own residency —
    // the workers' correctness oracle (appends land above every pin, far
    // from the queries, so answers must stay byte-identical)
    // autoprobe's oracle is the EXACT (full-probe) answer: workers check
    // the declared recall FLOOR against it — leader appends widen radii,
    // which may legitimately move a t<1 cover, but never below the floor
    // frecall's oracle is the EXACT FILTERED answer (full-probe filtered
    // sweep): workers check the declared floor against it
    val expected = queries.map(q =>
      (if (tier == "pq") serveHits(idx, q, ServeTier.Pq(certify = false),
         ServeProbe.Nearest(8), Nil)
       else if (tier == "filtered") serveHits(idx, q, ServeTier.Float,
         ServeProbe.Nearest(8), ServeScaleBench.FilterConds)
       else if (tier == "frecall") serveHits(idx, q, ServeTier.Float,
         ServeProbe.Nearest(idx.centroids().length), ServeScaleBench.FilterConds)
       else if (tier == "autoprobe") serveHits(idx, q, ServeTier.Float,
         ServeProbe.Nearest(idx.centroids().length), Nil)
       else serveHits(idx, q, ServeTier.Float, ServeProbe.Nearest(8), Nil))
        .get.map(_._1).toSeq)

    val benchDir = java.nio.file.Paths.get(idxPath, ".scalebench")
    def writeLines(name: String, lines: Seq[String]): Unit = {
      java.nio.file.Files.createDirectories(benchDir)
      java.nio.file.Files.write(benchDir.resolve(name),
        lines.mkString("\n").getBytes)
    }
    writeLines("queries.txt", queries.map(_.mkString(",")).toSeq)
    writeLines("expected.txt", expected.map(_.mkString(",")).toSeq)

    // append ids advance MONOTONICALLY across rounds: a per-round restart
    // at `rows` would re-append ids already in the layout — duplicates AT
    // OR BELOW the followers' serving pins, breaking the very invariant
    // this bench asserts (appends land above every pin)
    var nextId = rows

    val perProcs = procCounts.map { n =>
      // fresh signal files per round
      Seq("go") ++ (0 until n).flatMap(i => Seq(s"ready$i", s"result$i")) foreach { f =>
        java.nio.file.Files.deleteIfExists(benchDir.resolve(f))
      }
      // each worker's scoring pool gets its FAIR SHARE of the cores:
      // IvfIndex.serve fans clusters onto ExecutionContext.global, which
      // defaults to all machine cores per JVM — N workers would stack
      // N*cores scoring threads and thrash the box sublinear
      val share = math.max(2, Runtime.getRuntime.availableProcessors / n)
      val procs = (0 until n).map { wid =>
        val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx3g",
          s"-Dscala.concurrent.context.numThreads=$share",
          s"-Dscala.concurrent.context.maxThreads=$share",
          "-cp", System.getProperty("java.class.path"),
          "graft.ServeScaleWorker", idxPath, wid.toString, n.toString,
          durSec.toString, tier, rtTarget.toString)
        val pb = new ProcessBuilder(cmd: _*)
        pb.redirectErrorStream(true)
        pb.redirectOutput(java.io.File.createTempFile(s"scaleworker$wid", ".log"))
        pb.start()
      }
      def await(name: String, timeoutMs: Long = 180000): Unit = {
        val deadline = System.currentTimeMillis + timeoutMs
        while (!java.nio.file.Files.exists(benchDir.resolve(name))) {
          require(System.currentTimeMillis < deadline, s"timed out on $name")
          Thread.sleep(100)
        }
      }
      (0 until n).foreach(i => await(s"ready$i"))
      // leader ingests THROUGHOUT the timed window
      val stopIngest = new java.util.concurrent.atomic.AtomicBoolean(false)
      val appends = new java.util.concurrent.atomic.AtomicInteger(0)
      val writer = new Thread(() => {
        while (!stopIngest.get()) {
          val batch = spark.range(nextId, nextId + 500)
            .select(col("id").as(IdCol),
              pmod(xxhash64(col("id") + 7), lit(10)).as("label"),
              transform(sequence(lit(1), lit(dim)),
                i => (lit(50.0) + pmod(xxhash64(col("id") * dim + i), lit(100)) / 100.0)
                  .cast("float")).as(VecCol))
          idx.append(batch, VecCol)
          nextId += 500
          appends.incrementAndGet()
          Thread.sleep(700)
        }
      })
      writer.setDaemon(true)
      writer.start()
      java.nio.file.Files.write(benchDir.resolve("go"), Array.empty[Byte])
      procs.foreach(p => require(
        p.waitFor(durSec + 180, java.util.concurrent.TimeUnit.SECONDS),
        "worker never exited"))
      stopIngest.set(true)
      writer.join(30000)
      procs.zipWithIndex.foreach { case (p, i) =>
        require(p.exitValue == 0, s"worker $i failed (exit ${p.exitValue})")
      }
      val results = (0 until n).map { i =>
        val s = new String(java.nio.file.Files.readAllBytes(
          benchDir.resolve(s"result$i")))
        val kv = s.trim.split(" ").map { t =>
          val Array(k, v) = t.split("="); k -> v
        }.toMap
        (kv("served").toLong, kv("sec").toDouble, kv("wrong").toLong)
      }
      val qps = results.map { case (srv, sec, _) => srv / sec }.sum
      val wrong = results.map(_._3).sum
      n -> (qps, wrong, appends.get())
    }

    val body = perProcs.map { case (n, (qps, wrong, app)) =>
      f""""$n":{"agg_qps":$qps%.2f,"wrong":$wrong,"leader_appends":$app}"""
    }.mkString(",")
    val rtField =
      if (tier == "autoprobe" || tier == "frecall")
        f""""recall_target":$rtTarget%.2f,""" else ""
    println(f"""{"metric":"serve_scaleout","rows":$rows,"dim":$dim,""" +
      f""""tier":"$tier",$rtField"queries":${queries.length},"duration_sec":$durSec,""" +
      s""""per_procs":{$body}}""")
    spark.stop()
  }
}

/** One serving process of the scale-out bench: opens the shared root,
  * warms ONLY its query shard's probed clusters, then serves that shard
  * for the timed window, checking every answer against the quiescent
  * expected ids. */
object ServeScaleWorker {
  def main(args: Array[String]): Unit = {
    val Array(idxPath, widS, nS, durS, tier, rtS) = args
    val wid = widS.toInt
    val n = nS.toInt
    val durSec = durS.toInt
    val rtTarget = rtS.toDouble
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graft-scale-worker-$wid")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val benchDir = java.nio.file.Paths.get(idxPath, ".scalebench")
      val queries = new String(java.nio.file.Files.readAllBytes(
        benchDir.resolve("queries.txt"))).split("\n")
        .map(_.split(",").map(_.toFloat))
      val expected = new String(java.nio.file.Files.readAllBytes(
        benchDir.resolve("expected.txt"))).split("\n")
        .map(_.split(",").map(_.toLong).toSeq)
      val idx = new graft.index.IvfIndex(spark, idxPath,
        ServeScaleBench.IdCol, MetricType.Euclidean)
      idx.maxServeRows = Long.MaxValue
      idx.maxServeBytes = Long.MaxValue
      if (tier == "filtered" || tier == "frecall")
        idx.setServeFilterColumns(Seq("label"))
      val mine = queries.indices.filter(_ % n == wid).toArray
      // warm this shard's probed clusters BEFORE signaling ready: the
      // timed window measures the warm serving tier
      def serveOne(i: Int): Option[Array[(Long, Double)]] =
        if (tier == "pq") ServeScaleBench.serveHits(idx, queries(i),
          ServeTier.Pq(certify = false), ServeProbe.Nearest(8), Nil)
        else if (tier == "filtered") ServeScaleBench.serveHits(idx, queries(i),
          ServeTier.Float, ServeProbe.Nearest(8), ServeScaleBench.FilterConds)
        else if (tier == "frecall")
          // passing-count cover re-derived per serve; leader appends
          // invalidate the pass set + counts caches live
          ServeScaleBench.serveHits(idx, queries(i), ServeTier.Float,
            ServeProbe.Recall(rtTarget, 0L), ServeScaleBench.FilterConds)
        else if (tier == "autoprobe")
          // the cover is recomputed per serve off the stamp-cached
          // radii/counts — leader appends invalidate and widen it live
          ServeScaleBench.serveHits(idx, queries(i), ServeTier.Float,
            ServeProbe.Recall(rtTarget, 0L), Nil)
        else ServeScaleBench.serveHits(idx, queries(i), ServeTier.Float,
          ServeProbe.Nearest(8), Nil)
      mine.foreach(serveOne)
      java.nio.file.Files.write(benchDir.resolve(s"ready$wid"), Array.empty[Byte])
      val deadline0 = System.currentTimeMillis + 180000
      while (!java.nio.file.Files.exists(benchDir.resolve("go")) &&
          System.currentTimeMillis < deadline0)
        Thread.sleep(50)
      require(java.nio.file.Files.exists(benchDir.resolve("go")),
        "leader never signaled go")
      var served = 0L
      var wrong = 0L
      val t0 = System.nanoTime()
      val deadline = t0 + durSec * 1000L * 1000 * 1000
      while (served == 0L || System.nanoTime() < deadline) {
        var j = 0
        while (j < mine.length) {
          val i = mine(j)
          val got = serveOne(i).map(_.map(_._1).toSeq).getOrElse(Nil)
          // autoprobe's contract is the declared FLOOR vs the exact
          // answer (appends can legitimately move a t<1 cover); every
          // other tier must be byte-identical to its quiescent oracle
          if (tier == "autoprobe" || tier == "frecall") {
            val recall = expected(i).toSet.intersect(got.toSet).size.toDouble /
              math.max(expected(i).size, 1)
            if (recall < rtTarget - 1e-9) wrong += 1
          } else if (got != expected(i)) wrong += 1
          j += 1
        }
        served += mine.length
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // write-then-move so the leader never reads a half-written file
      val tmp = benchDir.resolve(s"result$wid.tmp")
      java.nio.file.Files.write(tmp,
        f"served=$served sec=$sec%.3f wrong=$wrong".getBytes)
      java.nio.file.Files.move(tmp, benchDir.resolve(s"result$wid"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally spark.stop()
  }
}

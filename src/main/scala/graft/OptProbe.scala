package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{StageCaches, TextAnalysis}

/** Round-18 optimization probe: sub-step wall-clock splits for the
  * bench's heaviest gates, so changes target the measured cost and not
  * a guess (optimization guide §1). One mode per arg; all timings print
  * as `[probe] <label> <sec>`. Not part of the driver contract. */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_PROBE_PARTS", cpus)
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // state-store provider under test (e.g. RocksDBStateStoreProvider);
    // default = Spark's default (HDFSBackedStateStoreProvider)
    sys.env.get("SPARK_GRAFT_PROBE_STATE_PROVIDER").foreach { p =>
      builder.config("spark.sql.streaming.stateStore.providerClass", p)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label%-44s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // warm-up: JIT + parquet footer caches, not measured
    try noop(SparkEntry.queries("q1_agg")(spark, sfDir))
    catch { case _: Throwable => }

    args.headOption.getOrElse("kn") match {
      case "kn" =>
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val pred = time("classify+cache+count") {
          val p = docs.select(col("doc_id"), col("text"),
            TextAnalysis.linearClassifyLabel(col("text"),
              QueriesPipeline.LangIdClasses, QueriesPipeline.LangIdWeights,
              QueriesPipeline.LangIdBiases).as("pred_class")).cache()
          p.count(); p
        }
        val lm = TextAnalysis.knLmFitByClass(pred, "text", "doc_id",
          "pred_class", order = 5, minCount = 2)
        time("fit: grams (adjusted counts)") {
          lm.grams.foreach(_.count())
        }
        time("fit: prefixStats") { lm.prefixStats.foreach(_.count()) }
        time("fit: classStats+discounts") {
          lm.classStats.count(); lm.discounts.count()
        }
        time("apply (noop, stats cached)") {
          noop(TextAnalysis.knLmApplyJoined(lm, pred, "text", "doc_id",
            "pred_class").orderBy(col("doc_id")))
        }
        time("apply again (noop)") {
          noop(TextAnalysis.knLmApplyJoined(lm, pred, "text", "doc_id",
            "pred_class").orderBy(col("doc_id")))
        }
        StageCaches.unpersistAll(blocking = true)
        time("gate full (cold caches)") {
          noop(SparkEntry.queries("tx_lm_kn5_perlang")(spark, sfDir))
        }
        StageCaches.unpersistAll(blocking = true)

      case "ngram5" =>
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val pred = time("classify+cache+count") {
          val p = docs.select(col("doc_id"), col("text"),
            TextAnalysis.linearClassifyLabel(col("text"),
              QueriesPipeline.LangIdClasses, QueriesPipeline.LangIdWeights,
              QueriesPipeline.LangIdBiases).as("pred_class")).cache()
          p.count(); p
        }
        val lm = TextAnalysis.ngramLmFitByClass(pred, "text", "doc_id",
          "pred_class", order = 5, minCount = 2)
        time("fit: gram tables") { lm.counts.foreach(_.count()) }
        time("fit: totals") { lm.totals.count() }
        time("apply (noop, stats cached)") {
          noop(TextAnalysis.ngramLmApplyJoined(lm, pred, "text", "doc_id",
            "pred_class").orderBy(col("doc_id")))
        }
        StageCaches.unpersistAll(blocking = true)

      case "stclean" =>
        // one timed pass of the st_clean_ttl gate body, split per
        // streaming lifecycle, at SPARK_GRAFT_PROBE_PARTS shuffle
        // partitions (state-store partition count is pinned at
        // checkpoint birth — the knob under test)
        val ttlMs = 3600L * 1000
        val base = java.nio.file.Files.createTempDirectory("opt_stclean")
        def p(s: String) = base.resolve(s).toString
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val schema = docs.schema
        def inject(df: DataFrame) = df.withColumn("t2",
          concat(col("text"),
            lit(".\nshort line\nanother good line with words here.\n" +
              "this good line has five words.\n" +
              "javascript line with five good words.\n"),
            when(col("doc_id") % 7 === 0, lit("lorem ipsum here\n"))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 0, lit("brace { line\n"))
              .otherwise(lit(""))))
        def snapshot(tag: String, pred: org.apache.spark.sql.Column): Unit = {
          time(s"snapshot $tag: src append") {
            docs.filter(pred).write.mode("append").parquet(p("src"))
          }
          time(s"snapshot $tag: emit lifecycle") {
            val src = inject(spark.readStream.schema(schema).parquet(p("src")))
            val q = graft.streaming.DocStream
              .cleanStreamEmitTtl(src, ttlMs, "t2", "doc_id", 8)
              .writeStream.format("parquet")
              .option("path", p("winners"))
              .option("checkpointLocation", p("ck_emit"))
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            q.recentProgress.foreach { pr =>
              println(s"[probe]   emit batch ${pr.batchId}: " +
                s"${pr.durationMs} rows=${pr.numInputRows}")
            }
          }
          time(s"snapshot $tag: mask+inbox append") {
            graft.streaming.DocStream.maskedSurvivors(
              inject(docs.filter(pred)), spark.read.parquet(p("winners")),
              "t2", "doc_id", 8)
              .select(col("doc_id").cast("long").as("id"),
                col("clean_text"), col("n_final").cast("long").as("n_final"))
              .write.mode("append").parquet(p("inbox"))
          }
          time(s"snapshot $tag: dedup stream lifecycle") {
            val inbox = spark.readStream.schema(
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("id",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("clean_text",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("n_final",
                  org.apache.spark.sql.types.LongType))))
              .option("maxFileAge", "36500d").parquet(p("inbox"))
            val q = graft.streaming.DocStream
              .incrementalCleanDedupTtl(inbox, ttlMs)
              .toDF()
              .writeStream.format("parquet")
              .option("path", p("out"))
              .option("checkpointLocation", p("ck_dedup"))
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            q.recentProgress.foreach { pr =>
              println(s"[probe]   dedup batch ${pr.batchId}: " +
                s"${pr.durationMs} rows=${pr.numInputRows}")
            }
          }
        }
        time("TOTAL gate body") {
          snapshot("1", col("doc_id") < 250)
          snapshot("2", col("doc_id") >= 250)
          val out = spark.read.parquet(p("out"))
            .select(col("id").as("doc_id"),
              md5(col("clean_text")).as("digest"), col("n_final"))
            .orderBy(col("doc_id"))
          spark.createDataFrame(out.collectAsList(), out.schema)
        }
        org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)

      case "emitparts" =>
        // split the emit micro-batch's BATCH-expressible prefix from the
        // stateful machinery: cleanStage (C4+Gopher), span explode+hash,
        // and the span groupBy, each as a plain batch job over the same
        // 250-doc snapshot the st_clean gates feed first
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") < 250)
        def inject(df: DataFrame) = df.withColumn("t2",
          concat(col("text"),
            lit(".\nshort line\nanother good line with words here.\n" +
              "this good line has five words.\n" +
              "javascript line with five good words.\n"),
            when(col("doc_id") % 7 === 0, lit("lorem ipsum here\n"))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 0, lit("brace { line\n"))
              .otherwise(lit(""))))
        val snap = inject(docs)
        time("cleanStage (batch)") {
          noop(graft.streaming.DocStream.cleanStage(snap, "t2", "doc_id"))
        }
        time("cleanStage again") {
          noop(graft.streaming.DocStream.cleanStage(snap, "t2", "doc_id"))
        }
        val cleaned = graft.streaming.DocStream.cleanStage(snap, "t2", "doc_id")
        time("span explode+hash+groupBy (batch)") {
          val nT = size(split(col("clean_text"), "\\s+"))
          noop(cleaned
            .select(col("doc_id"),
              graft.pipeline.TextAnalysis.tokens(col("clean_text")).as("__toks"))
            .select(col("doc_id"),
              explode(when(size(col("__toks")) === 0,
                array().cast("array<int>"))
                .otherwise(sequence(lit(0),
                  greatest(size(col("__toks")) - 8, lit(0))))).as("pos"),
              col("__toks"))
            .select(col("doc_id"), col("pos"),
              graft.functions.hash60(concat_ws(" ",
                slice(col("__toks"), col("pos") + 1, lit(8)))).as("h"))
            .groupBy(col("h")).agg(min(struct(col("doc_id"), col("pos")))))
        }
        val base = java.nio.file.Files.createTempDirectory("opt_emitparts")
        // source snapshot written BEFORE the timed region (ADVICE r18:
        // timing the batch write inflated the streaming lap)
        val srcDir = base.resolve("src").toString
        docs.write.parquet(srcDir)
        time("incrementalSpanWinnersTtl lifecycle (streaming)") {
          val q = graft.streaming.DocStream
            .cleanStreamEmitTtl(inject(spark.readStream
              .schema(docs.schema).parquet(srcDir)), 3600000L, "t2", "doc_id", 8)
            .writeStream.format("noop")
            .option("checkpointLocation", base.resolve("ck").toString)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.recentProgress.foreach { pr =>
            println(s"[probe]   batch ${pr.batchId}: ${pr.durationMs} " +
              s"rows=${pr.numInputRows}")
          }
        }
        org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)

      case "ivf" =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val path = s"${System.getProperty("java.io.tmpdir")}/opt_ivf_probe"
        val idx = time("IvfIndex.build total") {
          graft.index.IvfIndex.build(spark, emb, "embedding", "vec_id",
            path, graft.types.MetricType.Euclidean, nClusters = 8,
            maxIter = 3)
        }
        time("search fullprobe") {
          noop(idx.search("embedding",
            SparkEntry.queryVectorOf(spark, sfDir), k = 10,
            graft.index.ServeProbe.Nearest(idx.centroids().length))
            .select(col("vec_id")))
        }
        time("build again (overwrite)") {
          graft.index.IvfIndex.build(spark, emb, "embedding", "vec_id",
            path, graft.types.MetricType.Euclidean, nClusters = 8,
            maxIter = 3)
        }

      case "nsg" =>
        // v13_nsg_serve split per step: exact top-10, centroid collect,
        // NSG build (lazy — materialized by the serve load), serve load,
        // recall loop
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val q = SparkEntry.queryVectorOf(spark, sfDir)
        val exactIds = time("exact top-10") {
          emb.withColumn("@distance",
              graft.functions.l2sqr_distance(col("embedding"), lit(q)))
            .orderBy(col("@distance").asc, col("vec_id").asc)
            .limit(10).select(col("vec_id")).collect().map(_.getLong(0)).toSet
        }
        val cents = time("seed centroids collect") {
          emb.filter(col("vec_id") < 16).orderBy("vec_id")
            .select("embedding").collect()
            .map { r =>
              val v = r.getSeq[Float](0).map(_.toDouble).toArray
              val n = math.sqrt(v.map(x => x * x).sum)
              v.map(_ / n)
            }
        }
        // incremental materialization of the build chain (mirrors
        // NsgIndex.build stages 1-4) to locate the cost
        time("  [chain] knn bucketed count") {
          val knn = graft.pipeline.KnnGraph.bucketed(emb, "embedding",
            "vec_id", cents, 12, 2)
          knn.count()
        }
        StageCaches.unpersistAll(blocking = true)
        val g = time("NsgIndex.build (eager steps)") {
          graft.index.NsgIndex.build(emb, "embedding", "vec_id",
            cents, knnK = 12, poolSize = 48, outDegree = 12)
        }
        val srv = time("serve load (edges materialize)") {
          graft.index.NsgIndex.serve(g, emb, "embedding", "vec_id")
        }
        time("recall loop") {
          def recallAt(l: Int): Double =
            srv.search(q, 10, l).map(_._1).toSet.intersect(exactIds).size / 10.0
          var l = 45
          var recall = recallAt(l)
          while (recall < 0.9 && l < srv.size) {
            l = math.min(srv.size, l * 2)
            recall = recallAt(l)
          }
          println(s"[probe]   recall=$recall l=$l")
        }
        StageCaches.unpersistAll(blocking = true)

      case "aqe" =>
        // execute a gate through ONE QueryExecution and print the FINAL
        // adaptive plan (isFinalPlan=true) — evidence for which join
        // strategies AQE actually picked at runtime (e.g. the
        // staged⋈mask join of maskEligible)
        args.drop(1).foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val qe = df.queryExecution
          qe.executedPlan.execute().count()
          println(s"===== $name (final adaptive plan) =====")
          println(qe.executedPlan.toString)
          StageCaches.unpersistAll(blocking = true)
        }

      case "gate" =>
        args.drop(1).foreach { name =>
          time(s"gate $name (run 1)") {
            noop(SparkEntry.queries(name)(spark, sfDir))
          }
          StageCaches.unpersistAll(blocking = true)
          time(s"gate $name (run 2)") {
            noop(SparkEntry.queries(name)(spark, sfDir))
          }
          StageCaches.unpersistAll(blocking = true)
        }

      case other => System.err.println(s"unknown mode $other")
    }
    spark.stop()
  }
}

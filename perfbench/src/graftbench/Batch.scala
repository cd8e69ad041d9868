package graftbench

import graft.pipeline.{Pipelines, StageCaches, TextAnalysis}
import graft.streaming.DocStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.json4s._

/** batch_pipeline: seeded generated corpora loaded into graft tables (the
  * set-up), then one offline pass over them, repeated until the run's
  * seconds are used (at least once). A pass is:
  *   1. the batch clean chain, Pipelines.cleanCorpusFull;
  *   2. its streaming twin, DocStream.cleanStreamEmit +
  *      cleanConsumeIncremental over two AvailableNow snapshots;
  *   3. the KN 5-gram LM, TextAnalysis.knLmFitByClass + knLmApplyJoined.
  * The serve tier, the index and HTTP are not touched. */
final class Batch(ctx: Ctx) {
  import Batch._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val rep = ctx.report

  private val clean = Inputs.cleanCorpus(ctx.seed, CleanDocs)
  private val lm = Inputs.lmCorpus(ctx.seed, LmDocs, LmClasses)
  private val cleanBase = Inputs.cleanBase(ctx.seed)
  private val expected = Inputs.cleanExpected(CleanDocs)
  /** Raw bytes of the clean corpus: an 8-byte id and the UTF-8 text a doc. */
  private val cleanBytes = clean.texts.map(8.0 + _.getBytes("UTF-8").length).sum

  private final class Frames(val root: String, val docs: DataFrame, val lmDocs: DataFrame) {
    def release(): Unit = {
      Seq(docs, lmDocs).foreach(_.unpersist(blocking = true))
      Jvm.deleteDir(root)
    }
  }

  /** Set-up, through graft's public API: each corpus loaded into a graft
    * table (GraftDb.createTable + TableStore.insert) and read back into a
    * cached frame, the stages' input. */
  private def setUp(root: String): Frames = {
    val db = new graft.api.GraftDb(spark, root)
    def load(table: String, fields: String, rows: Seq[Row], schema: StructType): DataFrame = {
      db.createTable(s"""{"name":"$table","fields":[$fields]}""")
      val st = db.store(table)
      val n = st.insert(spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.threads), schema)).inserted
      require(n == rows.size, s"$table: $n of ${rows.size} rows inserted")
      val df = st.read().drop(graft.store.TableStore.RowId).cache()
      df.count()
      df
    }
    val docFields = """{"name":"doc_id","dataType":"BIGINT","primaryKey":true},{"name":"text","dataType":"STRING"}"""
    val docs = load("docs", docFields, (0 until clean.n).map(i => Row(clean.ids(i), clean.texts(i))),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
    val lmDocs = load("lm_docs", docFields + """,{"name":"class","dataType":"STRING"}""",
      (0 until lm.n).map(i => Row(lm.ids(i), lm.texts(i), lm.classes(i))),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false),
        StructField("class", StringType, nullable = false))))
    new Frames(root, docs, lmDocs)
  }

  private def survivorClasses(rows: Seq[(Long, Int)]) =
    Inputs.survivorClasses(rows.map { case (id, f) => (id - cleanBase, f) })

  /** One pass; its wall seconds and its streaming stage's seconds. Each
    * stage is one checked operation. */
  private def pass(f: Frames, root: String): (Double, Double) = {
    val t0 = System.nanoTime()
    ctx.log("pass: batch clean")
    rep.guard("batch clean") {
      val rows = tracer.span("pipeline.clean") {
        Pipelines.cleanCorpusFull(f.docs, "text", "doc_id")
          .select(col("doc_id"), col("n_final").cast("int")).collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSeq
      }
      StageCaches.unpersistAll(blocking = true)
      Checks.survivors("batch clean", survivorClasses(rows), expected)
    }
    ctx.log("streaming clean")
    val s0 = System.nanoTime()
    rep.guard("streaming clean") {
      val rows = tracer.span("streaming.clean")(streamClean(f.docs, s"$root/stream"))
      StageCaches.unpersistAll(blocking = true)
      Checks.survivors("streaming clean", survivorClasses(rows), expected)
    }
    val streamS = (System.nanoTime() - s0) / 1e9
    ctx.log("KN LM")
    rep.guard("KN LM") {
      val (n, scored, sample) = tracer.span("pipeline.lm") {
        val model = TextAnalysis.knLmFitByClass(f.lmDocs, "text", "doc_id", "class",
          order = LmOrder, minCount = LmMinCount)
        val scoredDf = TextAnalysis.knLmApplyJoined(model, f.lmDocs, "text", "doc_id", "class").cache()
        try {
          val r = scoredDf.agg(count(lit(1)), count(col("lm_nll"))).head()
          val s = scoredDf.filter(col("class") === Inputs.SampleClass)
            .select(col("doc_id"), col("lm_nll")).collect()
            .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
          (r.getLong(0), r.getLong(1), s)
        } finally scoredDf.unpersist()
      }
      StageCaches.unpersistAll(blocking = true)
      lmScores = sample
      Checks.lmCounts(n, scored, lm.n)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    ctx.log(f"pass done: $secs%.2f s")
    spaceAmp = Jvm.dirBytes(s"$root/stream") / cleanBytes
    Jvm.deleteDir(root)
    (secs, streamS)
  }

  /** The clean corpus through the always-on chain in two snapshots (ids
    * below the midpoint, then the rest), each an AvailableNow emit plus an
    * incremental consume on shared checkpoints; returns the survivors. */
  private def streamClean(docs: DataFrame, dir: String): Seq[(Long, Int)] = {
    val mid = cleanBase + CleanDocs / 2
    for (snap <- Seq(col("doc_id") < mid, col("doc_id") >= mid)) {
      docs.filter(snap).write.mode("append").parquet(s"$dir/src")
      DocStream.cleanStreamEmit(spark.readStream.schema(docs.schema).parquet(s"$dir/src"),
          "text", "doc_id", 8)
        .writeStream.format("parquet").option("path", s"$dir/wins")
        .option("checkpointLocation", s"$dir/ck_emit")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      DocStream.cleanConsumeIncremental(docs.filter(snap), spark.read.parquet(s"$dir/wins"),
        s"$dir/inbox", s"$dir/ck_dedup", s"$dir/out", "text", "doc_id", 8)
    }
    spark.read.parquet(s"$dir/out").select(col("id"), col("n_final").cast("int")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
  }

  private var lmScores: Array[(Long, Double)] = Array.empty
  private var spaceAmp = 0.0

  /** Passes until `seconds` have passed (at least one); their times. */
  private def passes(f: Frames, seconds: Double, tag: String): Seq[(Double, Double)] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      out += pass(f, ctx.dir(s"$tag${out.size}"))
    out.toSeq
  }

  def run(): Unit = {
    val setups = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val f = setUp(ctx.dir(s"tables$i"))
      ((System.nanoTime() - t0) / 1e9, f)
    }
    setups.init.foreach(_._2.release())
    val frames = setups.last._2
    val gc0 = Jvm.gcMs
    val w0 = System.nanoTime()
    val times = passes(frames, ctx.seconds, "pass")
    val gcPerS = (Jvm.gcMs - gc0) / ((System.nanoTime() - w0) / 1e9)
    val passS = Pct.median(times.map(_._1))
    rep.metric("setup_s", Pct.median(setups.map(_._1)), "s")
    rep.metric("ops_per_s", CleanDocs / Pct.median(times.map(_._2)), "1/s")
    rep.metric("latency_ms", passS * 1000, "ms")
    rep.note("setup_s_each", JArray(setups.map(s => Json.num(s._1)).toList))
    rep.note("pass_s", JArray(times.map(t => Json.num(t._1)).toList))
    rep.note("streaming_clean_s", JArray(times.map(t => Json.num(t._2)).toList))
    if (ctx.traced) traced(frames, passS, gcPerS)
    rep.metric("space_amp", spaceAmp, "ratio")
    frames.release()
    rep.metric("heap_live_mb", Jvm.liveHeapMb(), "MB")
  }

  /** Traced passes and the per-layer metrics they yield. */
  private def traced(f: Frames, untracedS: Double, gcPerS: Double): Unit = {
    val t = ctx.tracer
    rep.metric("client.batch_s", untracedS, "s")
    rep.metric("jvm.gc_ms_per_s", gcPerS, "ms/s")
    // no bench.trace_overhead here: the untraced pass is also the JVM's
    // cold one, and a warm untraced pass would not fit a run's time
    t.enable()
    passes(f, ctx.seconds, "traced")
    t.work.drain()
    def last(name: String) = t.named(name).last
    for ((stage, span) <- Seq("clean" -> "pipeline.clean", "lm" -> "pipeline.lm")) {
      val s = last(span)
      val w = t.work.of(Seq(s.id))
      rep.metric(s"pipeline.${stage}_s", s.ms / 1000, "s")
      rep.metric(s"pipeline.$stage.jobs", w.jobs, "count")
      rep.metric(s"pipeline.$stage.tasks", w.tasks, "count")
      rep.metric(s"pipeline.$stage.shuffle_write_mb", w.shuffleWrite / 1048576.0, "MB")
      rep.metric(s"pipeline.$stage.spill_mb", w.spill / 1048576.0, "MB")
      rep.metric(s"pipeline.$stage.cpu_s", w.cpuNs / 1e9, "s")
      rep.metric(s"pipeline.$stage.broadcast_exchanges", w.broadcasts, "count")
    }
    val nPasses = t.named("streaming.clean").size.toDouble
    rep.metric("streaming.clean_s", last("streaming.clean").ms / 1000, "s")
    rep.metric("streaming.micro_batches", t.work.microBatches / nPasses, "count")
    rep.metric("streaming.no_data_batches", t.work.noDataBatches / nPasses, "count")
    rep.metric("streaming.state_rows", t.work.streamingStateRows, "rows")
    rep.metric("streaming.commit_ms", t.work.commitMs / nPasses, "ms")
    val all = t.work.all
    rep.metric("spark.task_wait_ms", if (all.tasks == 0) 0.0 else all.waitMs.toDouble / all.tasks, "ms")
    rep.metric("spark.task_overhead_ms", if (all.tasks == 0) 0.0 else all.overheadMs.toDouble / all.tasks, "ms")
    rep.metric("spark.task_retries", all.retries, "count")
    t.disable()
    t.writeJson(ctx.workDir.resolve("spans.json"))
  }

  /** The sample class's texts and engine nll, for the KN reference check. */
  def lmSample: JValue = {
    val text = lm.ids.indices.filter(i => lm.classes(i) == Inputs.SampleClass)
      .map(i => lm.ids(i) -> lm.texts(i)).toMap
    JObject("order" -> JInt(LmOrder), "min_count" -> JInt(LmMinCount),
      "docs" -> JArray(lmScores.map { case (id, nll) =>
        JObject("id" -> JInt(id), "text" -> JString(text(id)), "nll" -> Json.num(nll))
      }.toList))
  }
}

object Batch {
  val Setups = 3
  val CleanDocs = 2000
  val LmDocs = 2000
  val LmClasses = 8
  val LmOrder = 5
  val LmMinCount = 2
}

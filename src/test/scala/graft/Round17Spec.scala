package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Round-17 additions: TTL-bounded digest state for the always-on clean
  * (the span-TTL pattern applied to exact dedup), inbox retention
  * ([[graft.streaming.DocStream.vacuumInbox]]), and n-gram count pruning
  * for the per-class LM trainers. */
class Round17Spec extends SparkSpec {
  import spark.implicits._

  private val inboxSchema = StructType(Seq(StructField("id", LongType),
    StructField("clean_text", StringType),
    StructField("n_final", LongType)))

  test("TTL digest state: hot duplicates suppressed+refreshed, expired digests re-admit across restarts") {
    val base = java.nio.file.Files.createTempDirectory("ttl_digest_spec")
    def p(s: String) = base.resolve(s).toString
    val text = "alpha bravo charlie delta"
    // separate AvailableNow queries on ONE checkpoint = the restart path
    def pass(rows: Seq[(Long, String, Long)]): Unit = {
      rows.toDF("id", "clean_text", "n_final").coalesce(1)
        .write.mode("append").parquet(p("inbox"))
      val q = graft.streaming.DocStream.incrementalCleanDedupTtl(
          spark.readStream.schema(inboxSchema).parquet(p("inbox")),
          ttlMs = 2000L)
        .toDF()
        .writeStream.format("parquet").option("path", p("out"))
        .option("checkpointLocation", p("ck"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def emittedIds: Set[Long] =
      spark.read.parquet(p("out")).select("id").as[Long].collect().toSet
    pass(Seq((1L, text, 4L)))
    assert(emittedIds == Set(1L))
    // within the TTL: the duplicate is suppressed (and refreshes the timer)
    pass(Seq((2L, text, 4L)))
    assert(!emittedIds.contains(2L), "within-TTL duplicate re-emitted")
    // wait out the TTL, then two unrelated batches: the FIRST advances the
    // watermark past the timer, the SECOND (the watermark lags one batch)
    // fires the lazy eviction for the now-idle group; the next occurrence
    // of the text must then be re-admitted under its own id
    Thread.sleep(3000)
    pass(Seq((3L, "totally different text one", 4L)))
    pass(Seq((4L, "yet another unrelated text", 4L)))
    pass(Seq((5L, text, 4L)))
    assert(emittedIds.contains(5L),
      s"expired digest was not re-admitted: $emittedIds")
    assert(emittedIds == Set(1L, 3L, 4L, 5L))
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("cleanConsumeIncremental ttlMs>0 routes through the TTL dedup; default keeps all-history semantics") {
    val base = java.nio.file.Files.createTempDirectory("ttl_route_spec")
    def p(s: String) = base.resolve(s).toString
    // a doc shape that survives C4 (>=5-word punctuated lines, >=3
    // sentences) and Gopher (word count, stopwords) — the st_clean
    // fixture's filler pattern
    def fillerLine(tag: String, i: Int) =
      s"the quiet$tag$i engine hums and the long river$tag$i bends with easy grace."
    def uniq(tag: String) = (0 to 4).map(i => fillerLine(tag, i)).mkString("\n")
    val docs = Seq((1L, uniq("tt")), (2L, uniq("tt"))).toDF("doc_id", "text")
    val noWinners = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType),
        StructField("pos", org.apache.spark.sql.types.IntegerType),
        StructField("h", LongType))))
    graft.streaming.DocStream.cleanConsumeIncremental(
      docs, noWinners, p("inbox"), p("ck"), p("out"), "text", "doc_id",
      k = 8, ttlMs = 60000L)
    val out = spark.read.parquet(p("out")).select("id").as[Long].collect().toSet
    assert(out == Set(1L), s"TTL-routed consume drifted: $out")
    graft.pipeline.StageCaches.unpersistAll()
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("TTL paragraph state: suppress within window, evict, re-admit; deterministic in-batch winner") {
    val base = java.nio.file.Files.createTempDirectory("ttl_para_spec")
    def p(s: String) = base.resolve(s).toString
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def pass(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(p("src"))
      val q = graft.streaming.DocStream.incrementalParagraphDedupTtl(
          spark.readStream.schema(docSchema).parquet(p("src")),
          "doc_id", split(col("text"), "\\n\\n"), ttlMs = 2000L)
        .toDF()
        .writeStream.format("parquet").option("path", p("out"))
        .option("checkpointLocation", p("ck"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def emitted: Seq[(Long, Int, String)] =
      spark.read.parquet(p("out")).select("doc_id", "para_idx", "para")
        .as[(Long, Int, String)].collect().toSeq.sortBy(r => (r._1, r._2))
    // one batch, duplicate paragraph across docs AND positions: the
    // min-(id, idx) occurrence must win, not arrival order
    pass(Seq((2L, "shared para\n\nunique two"), (1L, "lead one\n\nshared para")))
    val first = emitted
    assert(first.map(r => (r._1, r._2, r._3)).contains((1L, 1, "shared para")),
      s"in-batch winner not min-(id, idx): $first")
    assert(!first.exists(r => r._3 == "shared para" && r._1 == 2L))
    // within TTL: suppressed
    pass(Seq((5L, "shared para")))
    assert(!emitted.exists(_._1 == 5L), "within-TTL duplicate re-emitted")
    Thread.sleep(3000)
    pass(Seq((6L, "advance one")))
    pass(Seq((7L, "advance two")))
    pass(Seq((8L, "shared para")))
    assert(emitted.exists(_._1 == 8L),
      s"expired paragraph digest was not re-admitted: $emitted")
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("always-on digest dedup runs on the RocksDB state store (the 10^9-digest production provider)") {
    // HDFS-backed state lives in executor-heap maps — fine for gate
    // scale, memory-bound at the 10^9-digest budget SCALE.md documents;
    // RocksDB spills to local disk with incremental checkpointing. The
    // provider is a session conf read at QUERY start (a fresh checkpoint
    // — state formats are not switchable in place), so the same operator
    // code must run unchanged under it.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = java.nio.file.Files.createTempDirectory("rocksdb_digest_spec")
    def p(s: String) = base.resolve(s).toString
    try {
      def pass(rows: Seq[(Long, String, Long)]): Unit = {
        rows.toDF("id", "clean_text", "n_final").coalesce(1)
          .write.mode("append").parquet(p("inbox"))
        val q = graft.streaming.DocStream.incrementalCleanDedup(
            spark.readStream.schema(inboxSchema).parquet(p("inbox")))
          .toDF()
          .writeStream.format("parquet").option("path", p("out"))
          .option("checkpointLocation", p("ck"))
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      pass(Seq((1L, "rocks one", 2L), (2L, "rocks one", 2L)))
      pass(Seq((3L, "rocks one", 2L), (4L, "rocks two", 2L)))
      val out = spark.read.parquet(p("out")).select("id").as[Long]
        .collect().toSet
      assert(out == Set(1L, 4L),
        s"RocksDB-backed digest dedup drifted (cross-restart state): $out")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  // ---------- n-gram count pruning (minCount) ----------

  import graft.pipeline.TextAnalysis

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("trigram minCount=1 is bit-identical to the unpruned fit (joined engine)") {
    val docs = Seq(
      (0L, "x", "a b c a b c a b d"),
      (1L, "x", "b c a"),
      (2L, "x", "d a b"),
      (3L, "y", "p q r p q r"),
      (4L, "y", "q r p")).toDF("doc_id", "cls", "text")
    val lm0 = TextAnalysis.ngramLmFitByClass(docs, "text", "doc_id", "cls",
      order = 3)
    val lm1 = TextAnalysis.ngramLmFitByClass(docs, "text", "doc_id", "cls",
      order = 3, minCount = 1)
    val a = TextAnalysis.ngramLmApplyJoined(lm0, docs, "text", "doc_id", "cls")
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.ngramLmApplyJoined(lm1, docs, "text", "doc_id", "cls")
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "minCount=1 drifted from the unpruned fit")
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("pruned trigram backoff: hand-computed fixture through every branch") {
    // fit corpus (class x): tokens a b c a b c a b d
    //   trigrams: abc*2 bca*2 cab*2 abd*1; bigrams: ab*3 bc*2 ca*2 bd*1;
    //   unigrams: a*3 b*3 c*2 d*1; N=9 V=4
    // minCount=2 prunes: trigram abd, bigram bd, unigram d
    val fit = Seq((0L, "x", "a b c a b c a b d")).toDF("doc_id", "cls", "text")
    val lm = TextAnalysis.ngramLmFitByClass(fit, "text", "doc_id", "cls",
      order = 3, minCount = 2)
    val score = Seq(
      (10L, "x", "b c a"), // kept trigram: s = c3(bca)/c2(bc) = 2/2 = 1
      (11L, "x", "d a b"), // unseen trigram, kept bg23=ab: s = 0.4*3/3
      (12L, "x", "a b d")) // PRUNED trigram abd, PRUNED bg23=bd, PRUNED uni d
      .toDF("doc_id", "cls", "text") // -> floor: 0.4*0.4*(0+1)/(9+4)
    val got = TextAnalysis.ngramLmApplyJoined(lm, score, "text", "doc_id",
        "cls")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(10L) == round4(-math.log(1.0)))
    assert(got(11L) == round4(-math.log(0.4 * 3.0 / 3.0)))
    assert(got(12L) == round4(-math.log(0.4 * 0.4 * 1.0 / 13.0)),
      s"pruned trigram did not fall through to the smoothing floor: $got")
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("pruned bigram model: pruned bigrams fall through the OOV branch; V stays full vocab") {
    // fit (class x): a b a b c -> bigrams ab*2 ba*1 bc*1; V=3
    // minCount=2 prunes ba, bc; c_left derives from the PRUNED table:
    // c_left(a)=2, c_left(b)=0
    val fit = Seq((0L, "x", "a b a b c")).toDF("doc_id", "cls", "text")
    val lm = TextAnalysis.bigramLmFitByClass(fit, "text", "doc_id", "cls",
      minCount = 2)
    val got = TextAnalysis.bigramLmApplyJoined(lm,
        Seq((10L, "x", "a b c")).toDF("doc_id", "cls", "text"),
        "text", "doc_id", "cls")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val expected = round4(-(math.log((2 + 0.5) / (2 + 0.5 * 3)) +
      math.log(0.5 / (0 + 0.5 * 3))) / 2)
    assert(got(10L) == expected,
      s"pruned bigram scoring drifted: got ${got(10L)}, expected $expected")
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("pruned joined trigram engine equals per-class pruned chains (twin contract at minCount=2)") {
    val docs = Seq(
      (0L, "x", "a b c a b c a b d"),
      (1L, "x", "b c a d a b"),
      (2L, "x", "d a b"),
      (3L, "y", "p q r p q r s t"),
      (4L, "y", "q r p"),
      (5L, "y", "s t u")).toDF("doc_id", "cls", "text")
    val joined = TextAnalysis.ngramLmApplyJoined(
        TextAnalysis.ngramLmFitByClass(docs, "text", "doc_id", "cls",
          order = 3, minCount = 2),
        docs, "text", "doc_id", "cls")
      .orderBy("doc_id").collect().toSeq
    val perClass = Seq("x", "y").map { c =>
      val part = docs.filter(col("cls") === c)
      val lm = TextAnalysis.ngramLmFit(part, "text", "doc_id", order = 3,
        minCount = 2)
      TextAnalysis.ngramLmApply(lm, part, "text", "doc_id")
        .select(col("doc_id"), lit(c).as("cls"), col("lm_nll"))
    }.reduce(_ unionByName _).orderBy("doc_id").collect().toSeq
    assert(joined == perClass,
      s"pruned twins diverged:\n$joined\nvs\n$perClass")
    graft.pipeline.StageCaches.unpersistAll()
  }

  // ---------- order-n stupid backoff (ngramLm*) ----------

  test("5-gram backoff: hand-computed fixture through every branch incl. pruned fallthrough") {
    // fit (class x): a b c d e a b c d e a b c d f — counts:
    //   5g: abcde*2 ... abcdf*1; 4g: abcd*3 bcdf*1; 3g: abc*3 cdf*1;
    //   2g: ab*3 df*1; 1g: a*3 ... f*1; N=15 V=6
    // minCount=2 prunes the whole *f tail (abcdf, bcdf, cdf, df, f)
    val fit = Seq((0L, "x", "a b c d e a b c d e a b c d f"))
      .toDF("doc_id", "cls", "text")
    val lm = TextAnalysis.ngramLmFitByClass(fit, "text", "doc_id", "cls",
      order = 5, minCount = 2)
    val score = Seq(
      (10L, "x", "a b c d e"), // seen 5g: 2 / c4(abcd)=3
      (11L, "x", "x a b c d"), // backoff 4: a * c4(abcd)/c3(abc) = .4*3/3
      (12L, "x", "x y a b c"), // backoff 3: a^2 * 3/3
      (13L, "x", "x y z a b"), // backoff 2: a^3 * 3/3
      (14L, "x", "x y z w a"), // floor: a^4 * (3+1)/(15+6)
      (15L, "x", "a b c d f")) // PRUNED at every order -> a^4 * (0+1)/21
      .toDF("doc_id", "cls", "text")
    val got = TextAnalysis.ngramLmApplyJoined(lm, score, "text", "doc_id",
        "cls")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val a = 0.4
    assert(got(10L) == round4(-math.log(2.0 / 3)))
    assert(got(11L) == round4(-math.log(a)))
    assert(got(12L) == round4(-math.log(a * a)))
    assert(got(13L) == round4(-math.log(a * a * a)))
    assert(got(14L) == round4(-math.log(a * a * a * a * 4.0 / 21)))
    assert(got(15L) == round4(-math.log(a * a * a * a * 1.0 / 21)),
      s"pruned 5-gram did not fall through every backoff order: $got")
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("ngram model save/load roundtrip preserves scores") {
    val docs = Seq(
      (0L, "x", "a b c d e a b c d e"),
      (1L, "y", "p q r s t p q r s t")).toDF("doc_id", "cls", "text")
    val dir = java.nio.file.Files.createTempDirectory("ngram_lm").toString
    TextAnalysis.ngramLmFitByClass(docs, "text", "doc_id", "cls",
      order = 5, minCount = 2).save(dir)
    val lm = TextAnalysis.NgramLmByClass.load(spark, dir)
    assert(lm.order == 5)
    // single-5-gram probes: seen (c5=2 / c4(abcd)=2) in each class
    val score = Seq((10L, "x", "a b c d e"), (11L, "y", "p q r s t"))
      .toDF("doc_id", "cls", "text")
    val got = TextAnalysis.ngramLmApplyJoined(lm, score, "text", "doc_id",
        "cls")
      .orderBy("doc_id").collect().map(_.getDouble(2)).toSeq
    assert(got == Seq(0.0, 0.0), s"save/load roundtrip drifted: $got")
    graft.pipeline.StageCaches.unpersistAll()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("fully TTL-bounded always-on chain: TTL span emit + TTL digest consume match the unbounded chain in-window") {
    // one snapshot through (emit -> consume) twice: once with the
    // NoTimeout operators, once with both TTLs spanning the run — the
    // in-window semantics must be identical (the bound changes state
    // size, not behavior inside the window)
    import org.apache.spark.sql.types.{StructType, StructField}
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def fillerLine(tag: String, i: Int) =
      s"the quiet$tag$i engine hums and the long river$tag$i bends with easy grace."
    def doc(tag: String) = (0 to 4).map(i => fillerLine(tag, i)).mkString("\n")
    val snap = Seq((1L, doc("aa")), (2L, doc("aa")), (3L, doc("bb")))
    def run(ttl: Option[Long]): Set[Long] = {
      val base = java.nio.file.Files.createTempDirectory("ttl_chain_spec")
      def p(s: String) = base.resolve(s).toString
      import spark.implicits._
      snap.toDF("doc_id", "text").coalesce(1).write.mode("append")
        .parquet(p("src"))
      val src = spark.readStream.schema(docSchema).parquet(p("src"))
      val emitted = ttl match {
        case Some(t) => graft.streaming.DocStream.cleanStreamEmitTtl(
          src, t, "text", "doc_id", 8)
        case None => graft.streaming.DocStream.cleanStreamEmit(
          src, "text", "doc_id", 8)
      }
      val q = emitted.toDF()
        .writeStream.format("parquet").option("path", p("wins"))
        .option("checkpointLocation", p("ck_emit"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.DocStream.cleanConsumeIncremental(
        snap.toDF("doc_id", "text"), spark.read.parquet(p("wins")),
        p("inbox"), p("ck_dedup"), p("out"), "text", "doc_id", 8,
        ttlMs = ttl.getOrElse(0L))
      val out = spark.read.parquet(p("out")).select("id").as[Long]
        .collect().toSet
      graft.pipeline.StageCaches.unpersistAll()
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      out
    }
    val unbounded = run(None)
    val bounded = run(Some(3600000L))
    assert(unbounded == bounded && unbounded == Set(1L, 3L),
      s"TTL chain diverged in-window: unbounded=$unbounded bounded=$bounded")
  }

  test("vacuumInbox parses compacted source logs (11+ batches crosses the default compact interval)") {
    // the file-source log compacts every 10 batches by default
    // (spark.sql.streaming.fileSource.log.compactInterval): from then on
    // the newest log file is <n>.compact holding ALL entries — a vacuum
    // that mis-parsed it would stop deleting (or worse, delete by a
    // stale batch map). Drive 12 batches, vacuum, and check every
    // committed file is gone while dedup state still holds.
    val base = java.nio.file.Files.createTempDirectory("vacuum_compact_spec")
    def p(s: String) = base.resolve(s).toString
    def pass(rows: Seq[(Long, String, Long)]): Unit = {
      rows.toDF("id", "clean_text", "n_final").coalesce(1)
        .write.mode("append").parquet(p("inbox"))
      val q = graft.streaming.DocStream.incrementalCleanDedup(
          spark.readStream.schema(inboxSchema).parquet(p("inbox")))
        .toDF()
        .writeStream.format("parquet").option("path", p("out"))
        .option("checkpointLocation", p("ck"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    for (i <- 1 to 12) pass(Seq((i.toLong, s"compact text $i", 3L)))
    val logDir = new java.io.File(p("ck") + "/sources/0")
    assert(logDir.listFiles().exists(_.getName.endsWith(".compact")),
      "fixture drifted: no compacted source log after 12 batches")
    val n = graft.streaming.DocStream.vacuumInbox(spark, p("inbox"), p("ck"))
    assert(n == 12, s"expected all 12 committed files deleted, got $n")
    // the digest state (not the files) still suppresses every prior text
    pass(Seq((100L, "compact text 7", 3L), (101L, "compact fresh", 3L)))
    val out = spark.read.parquet(p("out")).select("id").as[Long]
      .collect().toSet
    assert(out == ((1 to 12).map(_.toLong).toSet + 101L),
      s"post-compact-vacuum dedup drifted: $out")
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("order-n apply: docs shorter than the order score NULL; unfitted class scores NULL") {
    val fit = Seq((0L, "x", "a b c d e a b c d e")).toDF("doc_id", "cls", "text")
    val lm = TextAnalysis.ngramLmFitByClass(fit, "text", "doc_id", "cls",
      order = 5)
    val score = Seq(
      (10L, "x", "a b c d"), // 4 tokens < order -> NULL
      (11L, "x", ""), // empty -> NULL
      (12L, "zz", "a b c d e")) // unfitted class -> NULL
      .toDF("doc_id", "cls", "text")
    val got = TextAnalysis.ngramLmApplyJoined(lm, score, "text", "doc_id",
        "cls")
      .orderBy("doc_id").collect()
    assert(got.length == 3 && got.forall(_.isNullAt(2)),
      s"short/empty/unfitted docs must carry NULL lm_nll: ${got.toSeq}")
    graft.pipeline.StageCaches.unpersistAll()
  }

  test("vacuumInbox deletes only committed files; state still dedups; re-appended copies are no-ops") {
    val base = java.nio.file.Files.createTempDirectory("vacuum_inbox_spec")
    def p(s: String) = base.resolve(s).toString
    def pass(rows: Seq[(Long, String, Long)]): Unit = {
      rows.toDF("id", "clean_text", "n_final").coalesce(1)
        .write.mode("append").parquet(p("inbox"))
      val q = graft.streaming.DocStream.incrementalCleanDedup(
          spark.readStream.schema(inboxSchema).parquet(p("inbox")))
        .toDF()
        .writeStream.format("parquet").option("path", p("out"))
        .option("checkpointLocation", p("ck"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def emittedIds: Set[Long] =
      spark.read.parquet(p("out")).select("id").as[Long].collect().toSet
    pass(Seq((1L, "snapshot one text", 3L)))
    assert(emittedIds == Set(1L))
    // an appended-but-unprocessed file must survive the vacuum (no batch
    // has read it, let alone committed it)
    Seq((9L, "pending text", 2L)).toDF("id", "clean_text", "n_final")
      .coalesce(1).write.mode("append").parquet(p("inbox"))
    def dataFiles: Set[String] = {
      val d = new java.io.File(p("inbox"))
      d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val beforeVacuum = dataFiles
    val n = graft.streaming.DocStream.vacuumInbox(spark, p("inbox"), p("ck"))
    assert(n == 1, s"expected exactly the snapshot-1 file deleted, got $n")
    val afterVacuum = dataFiles
    assert(afterVacuum.size == beforeVacuum.size - 1)
    // snapshot 2 re-sends snapshot-1's text: the dedup must still
    // suppress it — the digest lives in STATE, not in the vacuumed file —
    // and must pick up the pending file's row
    pass(Seq((21L, "snapshot one text", 3L), (22L, "snapshot two text", 3L)))
    assert(emittedIds == Set(1L, 9L, 22L),
      s"post-vacuum dedup drifted: $emittedIds")
    // a second vacuum after the second commit drops the now-committed
    // files; a re-run with no new data is a no-op end to end
    val n2 = graft.streaming.DocStream.vacuumInbox(spark, p("inbox"), p("ck"))
    assert(n2 >= 2, s"second vacuum should drop the committed files, got $n2")
    pass(Seq((31L, "final text", 2L)))
    assert(emittedIds == Set(1L, 9L, 22L, 31L))
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }
}

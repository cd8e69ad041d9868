package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.store.TableStore
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Write-ahead-log ingestion re-expressed as Structured Streaming
  * (reference: engine/db/wal/write_ahead_log.hpp:30-142 — text lines
  * `<gid> <type> <json>`, types INSERT(1)/DELETE(2)/UPSERT(3), replay skips
  * `gid <= consumed`).
  *
  * Here the log is a directory of JSON-lines files; `readStream` tails it,
  * `foreachBatch` applies each micro-batch to the TableStore in gid order.
  * foreachBatch side effects are at-least-once (a crash before the
  * checkpoint commits redelivers the batch), so exactly-once EFFECT comes
  * from the same mechanism as the reference: a consumed-gid watermark
  * persisted in the store directory after every applied entry — replay
  * skips `gid <= consumed` (write_ahead_log.hpp:93-142). The streaming
  * checkpoint only bounds how far redelivery reaches back.
  */
object WalStream {

  val entrySchema: StructType = StructType(Seq(
    StructField("gid", LongType, nullable = false),
    StructField("op", StringType, nullable = false), // INSERT | UPSERT | DELETE
    StructField("payload", StringType, nullable = true), // inline JSON records
    StructField("payloadPath", StringType, nullable = true), // by-reference bulk payload
    StructField("pks", ArrayType(StringType), nullable = true), // delete by pk
    StructField("filter", StringType, nullable = true))) // delete by filter

  /** Inline payloads above this size are rejected at append time: every
    * inline payload is one row collected to the DRIVER at apply time, so an
    * uncapped producer can OOM the replay process. Bulk batches go through
    * `payloadPath` instead (distributed read, control-plane-sized entry). */
  val MaxInlinePayloadBytes: Int = 16 * 1024 * 1024

  /** Append an entry to the log (test/ingest-side helper). Large insert
    * batches should pass `payloadPath` (a JSON-lines file/dir read
    * DISTRIBUTEDLY at apply time) instead of `payload` — an inline payload
    * is one row collected to the driver, which caps entry size at driver
    * memory; a path entry stays control-plane sized no matter how big the
    * batch behind it is. Inline payloads over `MaxInlinePayloadBytes` are
    * rejected. */
  def append(walDir: String, gid: Long, op: String, payload: String = null,
      pks: Seq[String] = null, filter: String = null,
      payloadPath: String = null): Unit = {
    if (payload != null && payload.length > MaxInlinePayloadBytes)
      throw new IllegalArgumentException(
        s"inline WAL payload is ${payload.length} bytes (cap $MaxInlinePayloadBytes); " +
          "write the batch to a file and pass payloadPath instead")
    Files.createDirectories(Paths.get(walDir))
    def q(s: String) = if (s == null) "null" else
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""
    val pksJson = if (pks == null) "null" else pks.map(q).mkString("[", ",", "]")
    val line = s"""{"gid":$gid,"op":${q(op)},"payload":${q(payload)},""" +
      s""""payloadPath":${q(payloadPath)},"pks":$pksJson,"filter":${q(filter)}}"""
    Files.write(Paths.get(s"$walDir/wal-$gid.json"), (line + "\n").getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Max gid already applied to the store (persisted across restarts —
    * the reference's `wal_global_id_` consumed watermark). */
  def consumedGid(store: TableStore): Long = {
    val p = Paths.get(s"${store.path}/_wal_consumed")
    if (Files.exists(p)) new String(Files.readAllBytes(p)).trim.toLong
    else Long.MinValue
  }

  private def setConsumedGid(store: TableStore, gid: Long): Unit = {
    val dir = Paths.get(store.path)
    val tmp = Files.createTempFile(dir, ".walwm", ".tmp")
    Files.write(tmp, gid.toString.getBytes)
    Files.move(tmp, dir.resolve("_wal_consumed"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Apply one micro-batch of WAL entries to the store, in gid order.
    * Entries are collected to the driver (WAL batches are control-plane
    * sized; the row payloads inside INSERT/UPSERT go through the normal
    * distributed insert path). Entries at or below the persisted consumed
    * gid are skipped, so a redelivered batch (crash between the store
    * mutation and the checkpoint commit) is a no-op — at-least-once
    * delivery, exactly-once effect. */
  def applyBatch(store: TableStore)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import scala.jdk.CollectionConverters._
    val consumed = consumedGid(store)
    val entries = batch.orderBy(col("gid")).collect()
      .filter(_.getAs[Long]("gid") > consumed)
    entries.foreach { r =>
      val op = r.getAs[String]("op")
      op match {
        case "INSERT" | "UPSERT" =>
          val rows = Option(r.getAs[String]("payloadPath")) match {
            case Some(path) =>
              // by-reference bulk payload: distributed read, never a
              // driver-side string
              spark.read.schema(store.schema.structType).json(path)
            case None =>
              // inline payload: one JSON record per line
              val payload = r.getAs[String]("payload")
              val ds = spark.createDataset(payload.split('\n').toList.asJava)(
                org.apache.spark.sql.Encoders.STRING)
              spark.read.schema(store.schema.structType).json(ds)
          }
          store.insert(rows, upsert = op == "UPSERT")
        case "DELETE" =>
          val pks = Option(r.getAs[scala.collection.Seq[String]]("pks"))
            .map(_.toSeq).getOrElse(Nil)
          val f = Option(r.getAs[String]("filter")).getOrElse("")
          val typedPks: Seq[Any] = store.pkField match {
            case Some(pk) => pk.sparkType match {
              case LongType => pks.map(_.toLong)
              case IntegerType => pks.map(_.toInt)
              case ShortType => pks.map(_.toShort)
              case ByteType => pks.map(_.toByte)
              case _ => pks
            }
            case None => pks
          }
          store.delete(typedPks, f)
        case other => throw new IllegalArgumentException(s"unknown WAL op $other")
      }
      // watermark advances per entry: a mid-batch crash resumes after the
      // last APPLIED entry, not the last committed micro-batch
      setConsumedGid(store, r.getAs[Long]("gid"))
    }
  }

  /** Retention (reference: write_ahead_log.hpp:27-28, 86-89 — rotation
    * 600 s, retention 7 d): delete log files that are BOTH fully consumed
    * (gid <= the store's watermark) and older than `retentionMs`. Unconsumed
    * files are never deleted regardless of age. Returns files removed. */
  def expire(walDir: String, store: TableStore, retentionMs: Long,
      now: Long = System.currentTimeMillis): Int = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(walDir)
    if (!Files.exists(dir)) return 0
    val consumed = consumedGid(store)
    var removed = 0
    val stream = Files.list(dir)
    val entries =
      try stream.iterator().asScala.toSeq
      finally stream.close()
    entries.foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("wal-") && n.endsWith(".json")) {
        val gid = scala.util.Try(n.stripPrefix("wal-").stripSuffix(".json").toLong)
        val old = Files.getLastModifiedTime(p).toMillis < now - retentionMs
        if (gid.isSuccess && gid.get <= consumed && old) {
          Files.delete(p); removed += 1
        }
      }
    }
    removed
  }

  /** Start the replay stream; `checkpointDir` carries the consumed-gid
    * watermark across restarts. */
  def start(spark: SparkSession, walDir: String, store: TableStore,
      checkpointDir: String): StreamingQuery =
    spark.readStream
      .schema(entrySchema)
      .option("maxFilesPerTrigger", "64")
      .json(walDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(applyBatch(store) _)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
}

/** Streaming analytics over an event stream: the windowed/watermarked and
  * stateful operators of a training-data ingest pipeline (Structured
  * Streaming versions of the batch `ev_*` queries). */
object EventStream {

  /** Tumbling-window counts/sums with a watermark for late data. */
  def hourlyAggregate(events: DataFrame): DataFrame =
    graft.EventTime.tsTimestamp(events)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  case class SessionState(count: Long, firstEvent: Long, lastTsNs: Long)
  case class SessionOut(user_id: Long, n_events: Long, first_event: Long)

  /** Stateful streaming sessionization via flatMapGroupsWithState: emits a
    * session row when a per-user gap exceeds `gapNs` (custom state — the
    * streaming twin of the batch `ev_sessions` query). */
  def sessionize(events: DataFrame, gapNs: Long = 30L * 60 * 1000000000L)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    graft.EventTime.tsNanos(events)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var st = state.getOption.getOrElse(SessionState(0, -1, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
          sorted.foreach { case (_, eventId, tsNs) =>
            if (st.count > 0 && tsNs - st.lastTsNs > gapNs) {
              out += SessionOut(userId, st.count, st.firstEvent)
              st = SessionState(0, -1, Long.MinValue)
            }
            st = SessionState(st.count + 1,
              if (st.count == 0) eventId else st.firstEvent, tsNs)
          }
          state.update(st)
          out.iterator
      }
  }
}

/** Streaming twin of the batch exact-dedup operator: INCREMENTAL corpus
  * dedup. `dropDuplicates` keeps one state-store row per distinct digest,
  * and that state lives in the CHECKPOINT — so across AvailableNow
  * restarts on one checkpoint, a document whose digest appeared in ANY
  * earlier batch is never re-emitted. That is exactly the crawl-snapshot
  * ingest shape at 100 TB: each new snapshot streams through and dedups
  * against everything already ingested without re-reading it; state is
  * digest-sized (16 bytes + overhead per DISTINCT doc), sharded across
  * executors by the state-store partitioning, and the emitted stream is
  * append-only (safe for a parquet sink). For event-time-bounded streams,
  * `dropDuplicatesWithinWatermark` caps state by time instead. */
object DocStream {

  /** One output row per first-seen digest; `keepCols` rides along from the
    * surviving (first-seen) row — e.g. the doc_id to keep. */
  def incrementalDedup(docs: DataFrame, textCol: String = "text",
      keepCols: Seq[String] = Seq.empty): DataFrame =
    docs.select((md5(col(textCol)).as("digest") +: keepCols.map(col)): _*)
      .dropDuplicates("digest")

  /** Streaming twin of [[graft.pipeline.Dedup.dropDuplicateParagraphs]]:
    * INCREMENTAL paragraph-level dedup. Paragraphs (`paras` — any
    * array<string> unit column: blankLineParagraphs, tokenWindows) are
    * exploded and deduped by content digest with the state in the
    * checkpoint, so a paragraph seen in ANY earlier crawl snapshot — or
    * earlier in this batch — is never re-emitted: boilerplate
    * headers/footers stream through once, corpus-wide, without re-reading
    * prior ingest. Emission is one row per FIRST-SEEN paragraph carrying
    * its (source id, position) — append-only and parquet-safe; the
    * consumer re-assembles documents downstream (a streaming per-doc
    * re-assembly would hold doc-keyed state forever; paragraph emission
    * keeps state digest-sized, one row per DISTINCT paragraph, sharded by
    * the state-store partitioning). Which duplicate occurrence survives
    * within one batch follows arrival order (same contract as
    * [[incrementalDedup]]); the digest SET is deterministic. */
  def incrementalParagraphDedup(docs: DataFrame, idCol: String,
      paras: Column): DataFrame =
    docs.select(col(idCol), posexplode(paras).as(Seq("para_idx", "para")))
      .withColumn("digest", md5(col("para")))
      .dropDuplicates("digest")

  /** [[incrementalParagraphDedup]] with TTL-BOUNDED state — the
    * paragraph member of the TTL family
    * ([[incrementalSpanWinnersTtl]] / [[incrementalCleanDedupTtl]]):
    * event-time timeout REFRESHED per sighting, watermark-driven
    * eviction, state bounded by the trailing TTL window's distinct
    * paragraph digests; an expired digest's next occurrence re-emits.
    * Emission gains the deterministic within-batch winner the NoTimeout
    * form's `dropDuplicates` lacks: min (id, para_idx) — the batch
    * operator's rule — since the `flatMapGroupsWithState` group sees
    * all of its batch occurrences together. Output shape is
    * (`id`, para_idx, para, digest): unlike the NoTimeout form, the id
    * column comes back NAMED `id` and cast to long (the state encoder's
    * key type) — consumers selecting by the original `idCol` name must
    * alias it back (ADVICE r17: this is NOT a name-preserving drop-in
    * swap, only a shape-compatible one). */
  def incrementalParagraphDedupTtl(docs: DataFrame, idCol: String,
      paras: Column, ttlMs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(ttlMs > 0, "ttlMs must be positive")
    val sq = docs.sparkSession
    import sq.implicits._
    docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(paras).as(Seq("para_idx", "para")))
      .select(col("id"), col("para_idx"), col("para"),
        md5(col("para")).as("digest"), current_timestamp().as("ts"))
      .withWatermark("ts", "0 seconds")
      .as[ParaOccTs]
      .groupByKey(_.digest)
      .flatMapGroupsWithState[Boolean, ParaOcc](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[ParaOccTs], state:
            org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var best: ParaOccTs = null
            var maxTs = Long.MinValue
            while (rows.hasNext) {
              val r = rows.next()
              val t = r.ts.getTime
              if (t > maxTs) maxTs = t
              if (best == null || r.id < best.id ||
                (r.id == best.id && r.para_idx < best.para_idx)) best = r
            }
            state.setTimeoutTimestamp(maxTs + ttlMs)
            if (state.exists) Iterator.empty
            else {
              state.update(true)
              Iterator(ParaOcc(best.id, best.para_idx, best.para,
                best.digest))
            }
          }
      }
      .withColumnRenamed("id", idCol)
  }

  /** Streaming twin of [[graft.pipeline.Dedup.maskRepeatedSpans]]:
    * INCREMENTAL arbitrary-alignment span dedup. Every k-token shingle
    * START (one per token position — the same hash chain as the batch
    * operator) is deduped by its hash with the state in the checkpoint:
    * emission is one row per FIRST-SEEN shingle carrying its (source id,
    * position). A consumer masks a document's tokens exactly as the batch
    * pass does — the doc's own shingle occurrences are recomputable from
    * its text, the occurrences NOT in the emitted set are the
    * mask-eligible ones, and their k-wide covers tile the repeated spans.
    * Which occurrence survives follows arrival order (the streaming
    * analogue of the batch min(id, pos) winner); the shingle-hash SET is
    * deterministic, which is the gate contract. State = one row per
    * DISTINCT shingle, sharded by the state store — never per occurrence.
    * Key and plan shape match the batch operator: hash60 of the k-token
    * substring (a state collision would falsely suppress an emission =
    * falsely mask real text downstream, so the 31-bit minhash domain is
    * not enough), positions exploded BEFORE hashing so each shingle is
    * hashed once per occurrence (the Generate re-evaluation trap — a
    * streaming plan cannot stage behind a cache). */
  def incrementalSpanDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    import graft.pipeline.TextAnalysis
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(when(size(col("__toks")) === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), greatest(size(col("__toks")) - k, lit(0)))))
          .as("pos"))
      .select(col(idCol), col("pos"),
        graft.functions.hash60(
          concat_ws(" ", slice(col("__toks"), col("pos") + 1, lit(k)))).as("h"))
      .dropDuplicates("h")
  }

  /** [[incrementalSpanDedup]] with a DETERMINISTIC winner: one emitted
    * row per distinct shingle hash, where the first BATCH containing the
    * shingle wins (checkpointed state — the crawl-snapshot contract:
    * snapshot 1's text beats snapshot 2's copies however ids compare)
    * and WITHIN a batch the (id, pos)-minimal occurrence wins (a
    * `flatMapGroupsWithState` group sees all of its batch occurrences
    * together, so the pick is arrival-order-free — `dropDuplicates`
    * keeps whichever row a partition raced in first). When everything
    * arrives in ONE batch this is exactly
    * [[graft.pipeline.Dedup.maskRepeatedSpans]]'s min(id, pos) winner,
    * which is what makes the streaming chain batch-equal and the gate
    * hashable. State stays one boolean per DISTINCT shingle, sharded by
    * the state store; ids must be castable to long (the document key
    * everywhere). */
  def incrementalSpanWinners(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 8)
      : org.apache.spark.sql.Dataset[SpanOcc] = {
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sq = docs.sparkSession
    import sq.implicits._
    docs
      .select(col(idCol).cast("long").as("id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("id"), col("__toks"),
        explode(when(size(col("__toks")) === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), greatest(size(col("__toks")) - k, lit(0)))))
          .as("pos"))
      .select(col("id"), col("pos"),
        graft.functions.hash60(
          concat_ws(" ", slice(col("__toks"), col("pos") + 1, lit(k)))).as("h"))
      .as[SpanOcc]
      .groupByKey(_.h)
      .flatMapGroupsWithState[Boolean, SpanOcc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[SpanOcc], state:
            org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            var best: SpanOcc = null
            while (rows.hasNext) {
              val r = rows.next()
              if (best == null || r.id < best.id ||
                (r.id == best.id && r.pos < best.pos)) best = r
            }
            Iterator(best)
          }
      }
  }

  /** [[incrementalSpanWinners]] with TTL-BOUNDED state -- the
    * operational form for ALWAYS-ON ingest: unbounded first-seen state
    * is one entry per DISTINCT shingle EVER seen (~10^12 at 100 TB of
    * crawl -- no state store holds that), while real boilerplate
    * repeats within a bounded window. Each occurrence is stamped with
    * its batch INGEST TIME (`current_timestamp()` -- constant per
    * micro-batch) and the state carries an EVENT-TIME timeout that
    * REFRESHES on every sighting: hot boilerplate stays suppressed
    * indefinitely, cold shingles age out once the WATERMARK (driven by
    * later ingest) passes their last sighting + ttl, and their state is
    * REMOVED -- state is bounded by the distinct shingles of the
    * trailing TTL window, i.e. the dedup semantics "mask repeats within
    * T". After expiry the NEXT occurrence wins again (re-emission:
    * downstream [[graft.pipeline.Dedup.maskSpansAgainstWinners]]
    * canonicalizes duplicate winner rows per hash to min (id, pos), so
    * consumers are already duplicate-winner-safe). Event-time timers
    * fire only when NEW DATA advances the watermark -- no wake-up
    * batches, so the query is `Trigger.AvailableNow`-compatible and
    * idle streams cost nothing (a processing-time timeout instead turns
    * the default trigger into a busy loop of empty batches: measured,
    * hence the watermark design). Eviction is lazy: a shingle re-seen
    * before a later batch evicted it refreshes and stays suppressed. */
  def incrementalSpanWinnersTtl(docs: DataFrame, idCol: String,
      textCol: String, k: Int, ttlMs: Long)
      : org.apache.spark.sql.Dataset[SpanOcc] = {
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(ttlMs > 0, "ttlMs must be positive")
    val sq = docs.sparkSession
    import sq.implicits._
    docs
      .select(col(idCol).cast("long").as("id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"),
        current_timestamp().as("ts"))
      .select(col("id"), col("ts"), col("__toks"),
        explode(when(size(col("__toks")) === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), greatest(size(col("__toks")) - k, lit(0)))))
          .as("pos"))
      .select(col("id"), col("pos"),
        graft.functions.hash60(
          concat_ws(" ", slice(col("__toks"), col("pos") + 1, lit(k)))).as("h"),
        col("ts"))
      .withWatermark("ts", "0 seconds")
      .as[SpanOccTs]
      .groupByKey(_.h)
      .flatMapGroupsWithState[Boolean, SpanOcc](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[SpanOccTs], state:
            org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var best: SpanOccTs = null
            var maxTs = Long.MinValue
            while (rows.hasNext) {
              val r = rows.next()
              val t = r.ts.getTime
              if (t > maxTs) maxTs = t
              if (best == null || r.id < best.id ||
                (r.id == best.id && r.pos < best.pos)) best = r
            }
            // refresh (or arm) the eviction timer off the newest sighting
            state.setTimeoutTimestamp(maxTs + ttlMs)
            if (state.exists) Iterator.empty
            else {
              state.update(true)
              Iterator(SpanOcc(best.id, best.pos, best.h))
            }
          }
      }
  }

  /** The shared upstream of the streaming clean chain: C4 line/document
    * rules -> Gopher document-quality rules, both map-only (the Gopher
    * verdict rides along via
    * [[graft.pipeline.TextAnalysis.gopherPassThrough]] — no id-join, so
    * the same plan runs in a microbatch or a batch). Returns
    * (idCol, clean_text) survivors. */
  def cleanStage(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    graft.pipeline.Pipelines.cleanStage(docs, textCol, idCol)

  /** STREAMING side of the cleanCorpusFull twin: C4 -> Gopher ->
    * deterministic incremental span winners ([[incrementalSpanWinners]]).
    * The emitted (id, pos, h) first-seen set is the corpus-wide span
    * state; a downstream consumer masks any document against it with
    * [[cleanConsume]] — including documents from LATER snapshots whose
    * spans were first seen earlier (the state lives in the checkpoint).
    * Append-only and parquet-safe. */
  def cleanStreamEmit(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 8)
      : org.apache.spark.sql.Dataset[SpanOcc] =
    incrementalSpanWinners(cleanStage(docs, textCol, idCol), idCol,
      "clean_text", k)

  /** [[cleanStreamEmit]] with TTL-bounded span state
    * ([[incrementalSpanWinnersTtl]]) — pair with
    * `cleanConsumeIncremental(ttlMs = ...)` for the fully-bounded
    * always-on chain: BOTH state stores (span winners AND clean-text
    * digests) then hold only the trailing window's distinct keys.
    * Downstream masking is already duplicate-winner-safe for the
    * re-emissions expiry produces ([[graft.pipeline.Dedup
    * .maskSpansAgainstWinners]] canonicalizes per hash); consumers
    * should feed the trailing window's emissions, not the all-time
    * log. */
  def cleanStreamEmitTtl(docs: DataFrame, ttlMs: Long,
      textCol: String = "text", idCol: String = "doc_id", k: Int = 8)
      : org.apache.spark.sql.Dataset[SpanOcc] =
    incrementalSpanWinnersTtl(cleanStage(docs, textCol, idCol), idCol,
      "clean_text", k, ttlMs)

  /** Batch CONSUMER of [[cleanStreamEmit]]'s state: re-derive the C4 +
    * Gopher survivors of `docs` (the same map-only [[cleanStage]], so
    * producer and consumer cannot drift), mask each document's spans
    * against the emitted first-seen set
    * ([[graft.pipeline.Dedup.maskSpansAgainstWinners]]), drop
    * fully-masked docs, exact-dedup the masked text (keep lowest id).
    * Run per snapshot after its emit pass — when one batch carried the
    * whole corpus this equals
    * [[graft.pipeline.Pipelines.cleanCorpusFull]] row for row; an
    * always-on deployment uses [[cleanConsumeIncremental]], which
    * replaces the batch exact dedup with the checkpointed digest state.
    * Returns (idCol, clean_text, n_final) — survivors only. */
  def cleanConsume(docs: DataFrame, emitted: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 8): DataFrame =
    graft.pipeline.Dedup.dropExactDuplicates(
      maskedSurvivors(docs, emitted, textCol, idCol, k), "clean_text", idCol)

  /** The shared mask head of both consumers: re-derive the C4 + Gopher
    * survivors, mask spans against the emitted first-seen set, drop
    * fully-masked docs. Returns (idCol, clean_text, n_final). */
  private[graft] def maskedSurvivors(docs: DataFrame, emitted: DataFrame,
      textCol: String, idCol: String, k: Int): DataFrame =
    graft.pipeline.Dedup.maskSpansAgainstWinners(
        cleanStage(docs, textCol, idCol), idCol, "clean_text", emitted, k)
      .filter(col("n_tokens") > col("n_masked"))
      .select(col(idCol), col("clean_text"),
        (col("n_tokens") - col("n_masked")).as("n_final"))

  /** Streaming exact dedup of masked clean text with a DETERMINISTIC
    * winner — the digest-keyed sibling of [[incrementalSpanWinners]]:
    * one emitted row per DISTINCT clean_text digest, first BATCH wins
    * (checkpointed state — a later snapshot's copy of earlier masked
    * text is never re-emitted), within a batch the min-id row wins (a
    * `flatMapGroupsWithState` group sees all of its batch rows, so the
    * pick is arrival-order-free, unlike `dropDuplicates`). When
    * snapshot ids arrive in increasing order this equals the batch
    * [[graft.pipeline.Dedup.dropExactDuplicates]] keep-lowest-id rule
    * on the union corpus. State = one boolean per DISTINCT digest.
    * `masked` carries (idCol, clean_text, n_final) — the
    * [[cleanConsume]]/mask-head shape; ids must cast to long. Output
    * columns are the [[CleanDoc]] names (id, clean_text, n_final). */
  def incrementalCleanDedup(masked: DataFrame, idCol: String = "id")
      : org.apache.spark.sql.Dataset[CleanDoc] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sq = masked.sparkSession
    import sq.implicits._
    masked.select(md5(col("clean_text")).as("digest"),
        col(idCol).cast("long").as("id"), col("clean_text"),
        col("n_final").cast("long").as("n_final"))
      .as[CleanDocKeyed]
      .groupByKey(_.digest)
      .flatMapGroupsWithState[Boolean, CleanDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[CleanDocKeyed], state:
            org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            var best: CleanDocKeyed = null
            while (rows.hasNext) {
              val r = rows.next()
              if (best == null || r.id < best.id) best = r
            }
            Iterator(CleanDoc(best.id, best.clean_text, best.n_final))
          }
      }
  }

  /** [[incrementalCleanDedup]] with TTL-BOUNDED state — the digest
    * sibling of [[incrementalSpanWinnersTtl]], closing the same
    * operational ceiling: `NoTimeout` state is one entry per DISTINCT
    * clean_text digest EVER ingested (~10^9–10^10 md5-string-keyed
    * entries at always-on crawl scale — no state store holds an
    * ever-growing set), while crawl duplicates overwhelmingly recur
    * within a bounded window (the same snapshot, or the next few). Each
    * row is stamped with its batch INGEST TIME (`current_timestamp()` —
    * constant per micro-batch) and the state carries an EVENT-TIME
    * timeout REFRESHED on every sighting: hot duplicates stay
    * suppressed indefinitely, cold digests age out once the WATERMARK
    * (driven by later ingest) passes their last sighting + ttl, and
    * their state is REMOVED — state is bounded by the distinct digests
    * of the trailing TTL window, i.e. "exact-dedup against the trailing
    * T window" semantics. After expiry the NEXT occurrence of the text
    * is re-admitted (re-emitted with its own id) — acceptable for crawl
    * dedup, where a re-admission is a rare duplicate row downstream,
    * never a lost document; callers needing dedup against ALL history
    * keep [[incrementalCleanDedup]] and budget its state explicitly
    * (SCALE.md). Event-time timers fire only when NEW DATA advances the
    * watermark — `Trigger.AvailableNow`-compatible, no wake-up batches
    * (the processing-time-timeout busy-loop trap measured for the span
    * twin applies identically here). Winner contract per emission is
    * unchanged: first batch wins, min-id within a batch. */
  def incrementalCleanDedupTtl(masked: DataFrame, ttlMs: Long,
      idCol: String = "id"): org.apache.spark.sql.Dataset[CleanDoc] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(ttlMs > 0, "ttlMs must be positive")
    val sq = masked.sparkSession
    import sq.implicits._
    masked.select(md5(col("clean_text")).as("digest"),
        col(idCol).cast("long").as("id"), col("clean_text"),
        col("n_final").cast("long").as("n_final"),
        current_timestamp().as("ts"))
      .withWatermark("ts", "0 seconds")
      .as[CleanDocKeyedTs]
      .groupByKey(_.digest)
      .flatMapGroupsWithState[Boolean, CleanDoc](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[CleanDocKeyedTs], state:
            org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var best: CleanDocKeyedTs = null
            var maxTs = Long.MinValue
            while (rows.hasNext) {
              val r = rows.next()
              val t = r.ts.getTime
              if (t > maxTs) maxTs = t
              if (best == null || r.id < best.id) best = r
            }
            // refresh (or arm) the eviction timer off the newest sighting
            state.setTimeoutTimestamp(maxTs + ttlMs)
            if (state.exists) Iterator.empty
            else {
              state.update(true)
              Iterator(CleanDoc(best.id, best.clean_text, best.n_final))
            }
          }
      }
  }

  /** ALWAYS-ON snapshot consumer — one call per crawl snapshot, after
    * its [[cleanStreamEmit]] pass has folded the snapshot into the span
    * state: masks the snapshot against the ACCUMULATED emitted winner
    * set (exactly [[cleanConsume]]'s head), appends the masked
    * survivors to `inboxDir`, and drives them through the checkpointed
    * [[incrementalCleanDedup]] stream — so snapshot N exact-dedups
    * against EVERY prior snapshot's masked ingest without re-reading
    * it (the state is digest-sized, never corpus-sized). Newly
    * surviving rows append to `outDir` (parquet — the accumulated
    * clean corpus); `checkpointDir` holds the dedup state and the
    * inbox file-source log. When snapshot ids arrive in increasing
    * order, the accumulated `outDir` equals
    * [[graft.pipeline.Pipelines.cleanCorpusFull]] on the union corpus
    * row for row — the st_clean_incr gate drives two snapshots through
    * two separate calls (separate streaming queries, shared
    * checkpoints: the restart path) against pl_clean_full's mirror.
    * RETRY-IDEMPOTENT: a snapshot call that failed between the inbox
    * append and stream completion can simply be re-run — the re-masked
    * rows re-append, but an already-emitted digest never re-emits
    * (checkpoint state), and the exactly-once parquet sink commit makes
    * duplicate output rows impossible. The inbox is a HAND-OFF buffer,
    * not the durable artifact: files whose batch has committed may be
    * vacuumed ([[vacuumInbox]] — the file-source log never re-reads a
    * processed file) — `outDir` + the checkpoint are what must survive.
    * `ttlMs` > 0 bounds the digest state to the trailing TTL window
    * ([[incrementalCleanDedupTtl]] — the always-on operational form);
    * the default 0 keeps dedup-against-all-history semantics
    * ([[incrementalCleanDedup]], state grows per distinct digest —
    * budget it, see SCALE.md). Changing ttlMs on an EXISTING checkpoint
    * is a state-schema-compatible switch of timeout mode; start a new
    * checkpoint when changing semantics. */
  def cleanConsumeIncremental(docs: DataFrame, emitted: DataFrame,
      inboxDir: String, checkpointDir: String, outDir: String,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 8, ttlMs: Long = 0L): Unit = {
    maskedSurvivors(docs, emitted, textCol, idCol, k)
      .select(col(idCol).cast("long").as("id"), col("clean_text"),
        col("n_final").cast("long").as("n_final"))
      .write.mode("append").parquet(inboxDir)
    driveInboxDedup(docs.sparkSession, inboxDir, checkpointDir, outDir,
      ttlMs)
  }

  /** HISTORY-COMPACTION HYBRID consumer — exact dedup beyond the
    * checkpoint's state budget: anti-join the masked snapshot against
    * the ACCUMULATED `outDir` digest set (the cold history, store-side)
    * BEFORE the TTL-bounded stream (the hot window, checkpoint-side).
    * SCALE.md's prescription for 10^10+ distinct digests made an
    * operator: the checkpoint holds only the trailing TTL window's
    * digests, while dedup against everything older rides a plain
    * shuffle anti-join on (digest) against the clean corpus the chain
    * has already written — O(window) state + O(history) store-side
    * join, no growth in the checkpoint, and the join input is one
    * 32-char digest per historical row (project before shuffle).
    *
    * EQUALITY CONTRACT (Round18Spec): output == the all-history
    * `ttlMs = 0` form row for row, for ANY positive ttlMs — every
    * previously-EMITTED digest is in `outDir` by the time the next
    * snapshot's anti-join reads it (awaitTermination + the exactly-once
    * sink commit), so an expired checkpoint entry can never re-admit:
    * the anti-join catches what the TTL evicted. Within a snapshot the
    * stream's min-id winner rule is unchanged. Retry-idempotence is
    * inherited: a re-run re-masks and re-anti-joins (now also against
    * whatever the failed run managed to commit) and the digest state
    * suppresses inbox double-appends. `ttlMs` must be positive — with
    * unbounded state this form is strictly worse than
    * [[cleanConsumeIncremental]] (same semantics, extra join). */
  def cleanConsumeHybrid(docs: DataFrame, emitted: DataFrame,
      inboxDir: String, checkpointDir: String, outDir: String,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 8, ttlMs: Long = 3600L * 1000): Unit = {
    require(ttlMs > 0, "hybrid form is TTL-bounded; use " +
      "cleanConsumeIncremental for all-history checkpoint state")
    val spark = docs.sparkSession
    val masked = maskedSurvivors(docs, emitted, textCol, idCol, k)
      .select(col(idCol).cast("long").as("id"), col("clean_text"),
        col("n_final").cast("long").as("n_final"))
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    // explicit schema: a streaming-sink outDir can exist with only its
    // _spark_metadata log (zero committed files) — inference would fail
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("clean_text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_final",
        org.apache.spark.sql.types.LongType)))
    val fresh = if (fs.exists(outPath))
      masked.withColumn("__digest", md5(col("clean_text")))
        .join(spark.read.schema(outSchema).parquet(outDir)
          .select(md5(col("clean_text")).as("__digest")),
          Seq("__digest"), "left_anti")
        .drop("__digest")
    else masked // first snapshot: no history yet
    fresh.write.mode("append").parquet(inboxDir)
    driveInboxDedup(spark, inboxDir, checkpointDir, outDir, ttlMs)
  }

  /** The shared stream tail of both consumers: drive the inbox through
    * the checkpointed digest dedup into the exactly-once parquet sink. */
  private def driveInboxDedup(spark: SparkSession, inboxDir: String,
      checkpointDir: String, outDir: String, ttlMs: Long): Unit = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("clean_text", StringType),
      StructField("n_final", LongType)))
    // maxFileAge pinned far past any deployment horizon: the file
    // source purges seenFiles entries older than maxFileAge (default
    // 7d) and would re-read a copy of a vacuumed file re-appended with
    // a fresh mtime after that window — pinning it makes vacuumInbox's
    // never-re-read invariant unconditional (cost: one in-memory
    // seenFiles entry per inbox file ever ingested, driver-side — at
    // snapshot cadence, thousands of entries per year)
    val inbox = spark.readStream.schema(schema)
      .option("maxFileAge", "36500d").parquet(inboxDir)
    val deduped = if (ttlMs > 0) incrementalCleanDedupTtl(inbox, ttlMs)
      else incrementalCleanDedup(inbox)
    val q = deduped
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Inbox retention for [[cleanConsumeIncremental]]: delete inbox files
    * whose micro-batch has COMMITTED, per the checkpoint's own logs —
    * the file-source offset log (`sources/0/<batch>[.compact]`) records
    * which files each batch read, and the commit log (`commits/<batch>`)
    * records which batches completed end-to-end (sink commit included).
    * Only files in a committed batch are deleted: an uncommitted batch's
    * files must survive so a restart can re-read them (the file source
    * replans an uncommitted batch from its logged file list — deleting
    * those would fail the recovery read). Committed files are safe to
    * drop because the source NEVER re-reads a path already in its log
    * (`seenFiles` dedup — a re-appended copy of a vacuumed file is also
    * ignored, which is what makes the retry-idempotence story hold after
    * vacuum; NOTE that seenFiles entries older than the source's
    * `maxFileAge` — default 7d — are purged, so the copy-ignored
    * guarantee is time-bounded unless the consumer pins a large
    * maxFileAge on its readStream, as [[cleanConsumeIncremental]]
    * does). Files under `inboxDir` not yet in the source log at all
    * (appended after the last batch) are untouched. Paths outside
    * `inboxDir` are never deleted, whatever the log says. Returns the
    * number of files deleted. The TableStore retention analogue:
    * vacuum drops what no live reader can need; `outDir` + the
    * checkpoint remain the durable artifacts. */
  def vacuumInbox(spark: SparkSession, inboxDir: String,
      checkpointDir: String): Int = {
    import org.apache.hadoop.fs.Path
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val conf = spark.sessionState.newHadoopConf()
    val commitsDir = new Path(checkpointDir, "commits")
    val sourceDir = new Path(new Path(checkpointDir, "sources"), "0")
    val cfs = commitsDir.getFileSystem(conf)
    if (!cfs.exists(commitsDir) || !cfs.exists(sourceDir)) return 0
    def digitName(name: String): Boolean = {
      val prefix = name.takeWhile(_ != '.')
      // nonEmpty guards hidden/temp siblings like ".9.compact.tmp",
      // whose empty digit-prefix would pass a bare forall vacuously
      prefix.nonEmpty && prefix.forall(_.isDigit)
    }
    val committed = cfs.listStatus(commitsDir).toSeq
      .map(_.getPath.getName).filter(digitName).map(_.toLong)
    if (committed.isEmpty) return 0
    val maxCommitted = committed.max
    // source-log entries: {"path":...,"timestamp":...,"batchId":n};
    // .compact files replay ALL prior entries — the file source's own
    // compaction invariant — so the newest .compact plus the deltas
    // after it carry the complete path history: reading only those
    // bounds each vacuum at O(since-last-compaction) instead of
    // O(all batches ever) (pre-compaction logs stay on disk for the
    // source's own cleanup policy; re-parsing them adds nothing). The
    // per-entry batchId filter below is unchanged — a replayed entry is
    // deletable only if its OWN batch committed.
    val allLogFiles = cfs.listStatus(sourceDir).toSeq.map(_.getPath)
      .filter(p => digitName(p.getName))
    val newestCompact = allLogFiles.filter(_.getName.endsWith(".compact"))
      .map(_.getName.takeWhile(_ != '.').toLong)
      .sorted.lastOption.getOrElse(-1L)
    val logFiles = allLogFiles
      .filter(_.getName.takeWhile(_ != '.').toLong >= newestCompact)
    val committedPaths = logFiles.flatMap { lf =>
      val in = cfs.open(lf)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      lines.filter(_.startsWith("{")).flatMap { line =>
        // a truncated line (log caught mid-write) SKIPS, never aborts:
        // skipping only under-deletes — the safe direction for a vacuum
        scala.util.Try(JsonMethods.parse(line)).toOption.flatMap { j =>
          (j \ "path", j \ "batchId") match {
            case (JString(p), JInt(b)) if b <= maxCommitted => Some(p)
            case _ => None
          }
        }
      }
    }.distinct
    val ifs = new Path(inboxDir).getFileSystem(conf)
    val inboxRoot = ifs.makeQualified(new Path(inboxDir)).toUri.getPath
    var n = 0
    committedPaths.foreach { p =>
      val hp = ifs.makeQualified(new Path(new java.net.URI(p).getPath))
      // containment check on the qualified path — the log is trusted for
      // WHICH batch a file belongs to, never for deleting outside the inbox
      if (hp.toUri.getPath.startsWith(inboxRoot + "/") &&
          ifs.exists(hp) && ifs.delete(hp, false)) n += 1
    }
    n
  }
}

/** One k-token shingle occurrence: the document (long key), the token
  * START position, and the 60-bit substring hash — the emitted unit of
  * [[DocStream.incrementalSpanWinners]]. */
case class SpanOcc(id: Long, pos: Int, h: Long)

/** A time-stamped shingle occurrence — the input unit of
  * [[DocStream.incrementalSpanWinnersTtl]] (ts = batch ingest time,
  * driving the eviction watermark). */
case class SpanOccTs(id: Long, pos: Int, h: Long, ts: java.sql.Timestamp)

/** One paragraph occurrence — the emitted unit of
  * [[DocStream.incrementalParagraphDedupTtl]]. */
case class ParaOcc(id: Long, para_idx: Int, para: String, digest: String)

/** A time-stamped paragraph occurrence — its input unit. */
case class ParaOccTs(id: Long, para_idx: Int, para: String, digest: String,
    ts: java.sql.Timestamp)

/** A masked clean-text row keyed by its content digest — the state unit
  * of [[DocStream.incrementalCleanDedup]]. */
case class CleanDocKeyed(digest: String, id: Long, clean_text: String,
    n_final: Long)

/** A time-stamped digest-keyed clean-text row — the input unit of
  * [[DocStream.incrementalCleanDedupTtl]] (ts = batch ingest time,
  * driving the eviction watermark). */
case class CleanDocKeyedTs(digest: String, id: Long, clean_text: String,
    n_final: Long, ts: java.sql.Timestamp)

/** A surviving clean document — the emitted unit of
  * [[DocStream.incrementalCleanDedup]]. */
case class CleanDoc(id: Long, clean_text: String, n_final: Long)

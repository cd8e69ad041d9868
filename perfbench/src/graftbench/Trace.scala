package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import scala.jdk.CollectionConverters._

/** One timed call at a layer boundary. `parent` is the span that caused it
  * (0 = none); spans of one request share `rid`. */
final case class Span(id: Long, name: String, parent: Long, rid: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work of one span (or of everything, for `SparkWork.all`). Times
  * in ms except `cpuNs`; `waitMs` sums task launch minus stage submit,
  * `overheadMs` task wall minus executor run time. */
final class Work {
  var jobs, stages, tasks, retries, broadcasts = 0L
  var recordsRead, shuffleWrite, spill, bytesWritten = 0L
  var cpuNs, gcMs, waitMs, overheadMs = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; retries += o.retries
    broadcasts += o.broadcasts; recordsRead += o.recordsRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; bytesWritten += o.bytesWritten; cpuNs += o.cpuNs; gcMs += o.gcMs
    waitMs += o.waitMs; overheadMs += o.overheadMs
  }
  def toJson: JValue = JObject(List(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "retries" -> retries,
    "broadcasts" -> broadcasts, "records_read" -> recordsRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "bytes_written" -> bytesWritten, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "task_wait_ms" -> waitMs, "task_overhead_ms" -> overheadMs).map { case (k, v) => k -> JInt(v) })
}

/** The Spark work collector: jobs, stages and tasks attributed to the span
  * whose job tag was set on the thread that ran them (the innermost such
  * span), the broadcast exchanges of successful queries' executed plans,
  * and streaming progress. Registered only in traced runs. */
final class SparkWork(spark: SparkSession) {
  private val byTag = new ConcurrentHashMap[String, Work]()
  val all = new Work
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  // a broadcast exchange runs its build-side job under the exchange's own
  // job tag: that tag links the exchange in an executed plan to the span
  private val broadcastSpan = new ConcurrentHashMap[String, String]()
  private val plannedBroadcasts = ConcurrentHashMap.newKeySet[String]()
  @volatile var microBatches, noDataBatches, commitMs = 0L
  private val stateRows = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  private def work(tag: String): Work =
    if (tag == null) null else byTag.computeIfAbsent(tag, _ => new Work)

  /** The innermost bench tag of a job: tags are `gb<spanId>`. */
  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.startsWith("gb")))
      .filter(_.nonEmpty).map(_.maxBy(_.drop(2).toLong)).orNull

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkWork.this.synchronized {
      val tag = tagOf(e.properties)
      all.jobs += 1
      if (tag != null) {
        work(tag).jobs += 1
        e.stageIds.foreach(s => stageTag.put(s, tag))
        Option(e.properties.getProperty("spark.job.tags")).toSeq.flatMap(_.split(","))
          .filter(_.startsWith("broadcast exchange")).foreach(b => broadcastSpan.put(b, tag))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId, e.stageInfo.submissionTime match {
        case Some(t) => t
        case None => System.currentTimeMillis()
      })
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = SparkWork.this.synchronized {
      val retry = if (e.stageInfo.attemptNumber() > 0) 1 else 0
      (Seq(all) ++ Option(work(stageTag.get(e.stageInfo.stageId)))).foreach { w =>
        w.stages += 1; w.retries += retry
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkWork.this.synchronized {
      val info = e.taskInfo
      val m = e.taskMetrics
      val submit = Option(stageSubmit.get(e.stageId)).map(_.longValue).getOrElse(info.launchTime)
      val retried = info.attemptNumber > 0 || info.speculative ||
        e.reason != org.apache.spark.Success
      val ws = Seq(all) ++ Option(work(stageTag.get(e.stageId)))
      ws.foreach { w =>
        w.tasks += 1
        if (retried) w.retries += 1
        w.waitMs += math.max(0L, info.launchTime - submit)
        if (m != null) {
          w.recordsRead += m.inputMetrics.recordsRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.bytesWritten += m.outputMetrics.bytesWritten
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.overheadMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime)
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      broadcastsIn(qe.executedPlan).foreach(plannedBroadcasts.add)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = SparkWork.this.synchronized {
      val p = e.progress
      if (p.numInputRows > 0) microBatches += 1 else noDataBatches += 1
      val d = p.durationMs
      commitMs += Seq("walCommit", "commitOffsets").map(k => Option(d.get(k)).map(_.longValue).getOrElse(0L)).sum
      stateRows.put(p.id, p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  /** Rows held in streaming state: the last report of each query, summed. */
  def streamingStateRows: Long = stateRows.values.asScala.map(_.longValue).sum

  /** Job tags of the broadcast exchanges in an executed plan. */
  private def broadcastsIn(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => broadcastsIn(a.executedPlan)
    case s: QueryStageExec => broadcastsIn(s.plan)
    case b: BroadcastExchangeExec => b.jobTag +: broadcastsIn(b.child)
    case m: InMemoryTableScanExec => broadcastsIn(m.relation.cachedPlan)
    case _ => p.children.flatMap(broadcastsIn) ++ p.subqueries.flatMap(broadcastsIn)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Work of the given spans, summed (call after [[drain]]). */
  def of(spanIds: Iterable[Long]): Work = synchronized {
    val w = new Work
    val ids = spanIds.toSet
    ids.foreach(id => Option(byTag.get(s"gb$id")).foreach(w.add))
    w.broadcasts = plannedBroadcasts.asScala.count(b =>
      Option(broadcastSpan.get(b)).exists(t => ids.contains(t.drop(2).toLong)))
    w
  }
}

/** The span recorder. Off (every call a plain call-through) in untraced
  * runs and windows. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  /** The collector of the current (or last) traced phase. */
  @volatile var work = new SparkWork(spark)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }
  // request body -> client span id (= request id) of an HTTP request in
  // flight: lets the server-side GraftDb span find the request it serves
  private val inFlight = new ConcurrentHashMap[String, java.lang.Long]()

  def enable(): Unit = { work = new SparkWork(spark); work.register(); on = true }
  def disable(): Unit = { on = false; work.unregister() }

  /** Time `f` as span `name`, a child of the thread's current span; Spark
    * jobs it starts carry the span's job tag. */
  def span[A](name: String)(f: => A): A =
    if (!on) f else {
      val (parent, rid) = current.get.headOption.getOrElse((0L, 0L))
      spanUnder(name, parent, rid)(f)
    }

  private def spanUnder[A](name: String, parent: Long, rid0: Long)(f: => A): A = {
    val id = ids.incrementAndGet()
    val rid = if (rid0 == 0) id else rid0
    val tag = s"gb$id"
    val sc = spark.sparkContext
    val saved = current.get
    current.set((id, rid) :: saved)
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      sc.removeJobTag(tag)
      current.set(saved)
      spans.add(Span(id, name, parent, rid, t0, t1))
    }
  }

  /** Client side of one HTTP request with body `body`. */
  def client[A](name: String, body: String)(f: => A): A =
    if (!on) f else {
      val id = ids.incrementAndGet()
      inFlight.put(body, id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        inFlight.remove(body)
        spans.add(Span(id, name, 0L, id, t0, t1))
      }
    }

  /** Server side: a GraftDb call, parented to the client span that sent
    * `body` when there is one. */
  def dbCall[A](name: String, body: String)(f: => A): A =
    if (!on) f else current.get.headOption match {
      case Some(_) => span(name)(f) // a nested call inside another span
      case None =>
        val req = Option(inFlight.get(body)).map(_.longValue).getOrElse(0L)
        spanUnder(name, req, req)(f)
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def clear(): Unit = spans.clear()

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfMs(ss: Seq[Span]): Map[Long, Double] = {
    val children = ss.filter(_.parent != 0).groupBy(_.parent)
    ss.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + (b - math.max(a, end)), b)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** The spans as a JSON array, each with the Spark work tagged to it. */
  def writeJson(path: java.nio.file.Path): Unit = {
    val js = all.map { s =>
      val w = work.of(Seq(s.id))
      JObject(List("id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
        "rid" -> JInt(s.rid), "start_ns" -> JInt(s.startNs), "end_ns" -> JInt(s.endNs)) ++
        (if (w.jobs > 0) List("work" -> w.toJson) else Nil))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (Json.compact(JArray(js.toList)) + "\n").getBytes("UTF-8"))
  }
}

/** GraftDb with its four data-plane calls timed as spans: the server side
  * of the api layer. Call-through when tracing is off. */
final class TracedDb(spark: SparkSession, root: String, tracer: Tracer)
    extends graft.api.GraftDb(spark, root) {
  override def query(req: String): String = tracer.dbCall("db.query", req)(super.query(req))
  override def get(req: String): String = tracer.dbCall("db.get", req)(super.get(req))
  override def insert(req: String): String = tracer.dbCall("db.insert", req)(super.insert(req))
  override def delete(req: String): String = tracer.dbCall("db.delete", req)(super.delete(req))
}

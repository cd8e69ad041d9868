package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.json4s._

/** What one run needs: the session, its tracer, and the run's arguments. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val threads: Int, val workDir: java.nio.file.Path) {
  val tracer = new Tracer(spark)
  val report = new Report
  private val t0 = System.nanoTime()
  /** A progress line on stderr. */
  def log(msg: String): Unit = System.err.println(f"[bench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")
  def dir(name: String): String = workDir.resolve(name).toString
}

/** Operations attempted and failed, the first few failure messages, and the
  * metrics of a run. */
final class Report {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  private val detail = scala.collection.mutable.LinkedHashMap[String, JValue]()

  /** Count one operation; `problem` (None = correct) counts it as failed. */
  def op(problem: Option[String]): Unit = {
    attempted.incrementAndGet()
    problem.foreach(fail)
  }

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (errors.size < 20) errors.add(msg)
  }

  /** Run `f` as one checked operation: an exception is a failure. */
  def guard(what: String)(f: => Option[String]): Unit =
    op(try f catch { case e: Throwable => Some(s"$what threw $e") })

  def metric(name: String, value: Double, unit: String): Unit =
    synchronized { metrics(name) = (value, unit) }

  /** Extra detail (sample counts, per-class latencies) for the log. */
  def note(key: String, v: JValue): Unit = synchronized { detail(key) = v }

  /** The run as JSON: `metrics` holds exactly `names` (a name nobody set is
    * an error, or 0 with `fillZero`); every other metric goes to `detail`. */
  def toJson(names: Seq[(String, String)], fillZero: Boolean,
      extra: Seq[(String, JValue)]): String = synchronized {
    val ms = names.map { case (k, u) =>
      val v = metrics.get(k).map(_._1).getOrElse {
        require(fillZero, s"metric $k was not measured"); 0.0
      }
      k -> JObject("value" -> Json.num(v), "unit" -> JString(u))
    }
    val rest = metrics.filter { case (k, _) => !names.exists(_._1 == k) }
      .map { case (k, (v, _)) => k -> Json.num(v) }
    Json.compact(JObject((Seq(
      "correct" -> JBool(failed.get == 0),
      "attempted" -> JInt(attempted.get), "failed" -> JInt(failed.get),
      "metrics" -> JObject(ms.toList),
      "errors" -> JArray(errors.toArray.map(e => JString(e.toString)).toList),
      "detail" -> JObject((detail ++ rest).toList)) ++ extra).toList))
  }
}

object Jvm {
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Live heap in MB, measured after a full collection. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteDir(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
}

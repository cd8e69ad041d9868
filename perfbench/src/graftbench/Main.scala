package graftbench

import org.apache.spark.sql.SparkSession
import org.json4s._

/** One benchmark run in its own JVM:
  *   graftbench.Main --workload <online_mixed|batch_pipeline>
  *     --seed <n> --seconds <s> --trace <0|1> --out <result.json> --work <dir>
  * writes the run's result (checks, counts, metrics, notes) to `--out`;
  * perfbench/run.py turns it into the benchmark's output line. */
object Main {
  /** End-to-end metrics (untraced runs), every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "latency_ms" -> "ms",
    "heap_live_mb" -> "MB", "space_amp" -> "ratio")

  /** Per-layer metrics (traced runs); 0 where a workload does not exercise
    * the layer. */
  val PerLayer: Seq[(String, String)] = Seq(
    "api.http_self_ms" -> "ms", "api.db_call_ms" -> "ms",
    "index.serve_ms" -> "ms", "index.serve_p99_ms" -> "ms", "index.served_ratio" -> "ratio",
    "index.serve_jobs_per_op" -> "jobs/op", "index.resident_rows" -> "rows",
    "index.append_ms" -> "ms", "index.build_s" -> "s", "index.build.jobs" -> "count",
    "index.build.shuffle_mb" -> "MB",
    "query.get_ms" -> "ms", "query.exact_ms" -> "ms", "query.jobs_per_op" -> "jobs/op",
    "query.tasks_per_op" -> "tasks/op", "query.records_read_per_result" -> "rows/row",
    "store.insert_ms" -> "ms", "store.delete_ms" -> "ms", "store.jobs_per_write" -> "jobs/op",
    "store.shuffle_mb_per_write" -> "MB/op", "store.bytes_written_per_user_byte" -> "B/B",
    "store.live_files" -> "count") ++
    Seq("clean", "lm").flatMap(s => Seq(
      s"pipeline.${s}_s" -> "s", s"pipeline.$s.jobs" -> "count", s"pipeline.$s.tasks" -> "count",
      s"pipeline.$s.shuffle_write_mb" -> "MB", s"pipeline.$s.spill_mb" -> "MB",
      s"pipeline.$s.cpu_s" -> "s", s"pipeline.$s.broadcast_exchanges" -> "count")) ++ Seq(
    "streaming.clean_s" -> "s", "streaming.micro_batches" -> "count",
    "streaming.no_data_batches" -> "count", "streaming.state_rows" -> "rows",
    "streaming.commit_ms" -> "ms",
    "spark.task_wait_ms" -> "ms", "spark.task_overhead_ms" -> "ms", "spark.task_retries" -> "count",
    "jvm.gc_ms_per_s" -> "ms/s",
    "bench.writer_lag_ms" -> "ms", "bench.trace_overhead" -> "ratio",
    "client.serve_p50_ms" -> "ms", "client.job_p50_ms" -> "ms", "client.write_ms" -> "ms",
    "client.batch_s" -> "s")

  val Workloads = Seq("online_mixed", "batch_pipeline")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val traced = arg("trace") == "1"
    val work = java.nio.file.Paths.get(arg("work")).toAbsolutePath
    val threads = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ctx = new Ctx(spark, arg("seed").toLong, arg("seconds").toDouble, traced, threads, work)
      ctx.log(s"$workload seed ${ctx.seed}, ${ctx.seconds} s, trace ${if (traced) 1 else 0}, $threads threads")
      val extra = workload match {
        case "online_mixed" => new Online(ctx).run(); Nil
        case "batch_pipeline" =>
          val b = new Batch(ctx)
          b.run()
          Seq("lm_sample" -> b.lmSample)
      }
      val names = if (traced) PerLayer else EndToEnd
      val json = ctx.report.toJson(names, fillZero = traced,
        Seq("threads" -> JInt(threads)) ++ extra)
      java.nio.file.Files.write(java.nio.file.Paths.get(arg("out")), json.getBytes("UTF-8"))
    } finally spark.stop()
    // GraftHttpServer's request pool is not daemon: end the JVM explicitly
    System.exit(0)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Plans execute through the noop sink so the full pipeline (scan ->
  * compute -> projection) is measured without collect() driver overhead.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()

    // JVM/codegen/file-listing warm-up on the smallest SF (not measured)
    try SparkEntry.queries.get("q1_agg").foreach(run) catch { case _: Throwable => }

    // optional single-query focus (comma-separated), e.g. for profiling:
    // SPARK_GRAFT_BENCH_ONLY=dd_contamination,tx_stats
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }

    // min-of-N mode: this machine's run-to-run variance is ~22% and a
    // contended window can inflate single queries 8-75x — per-query
    // MINIMA across N full passes in one JVM make the committed signal
    // contention-proof (the minimum of N runs of a fixed plan converges
    // on the true cost; a mean averages the contention in). DEFAULT is 2
    // so the committed artifact is contention-proof without env
    // cooperation from whoever invokes the harness; set
    // SPARK_GRAFT_BENCH_RUNS=1 for a quick single pass while iterating.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    def onePass(): Seq[(String, Double)] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { run(fn); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
        val secs = (System.nanoTime() - t0) / 1e9
        // drop the pipeline operators' staged cache pins between queries:
        // accumulated pins from earlier queries evict each other and turn
        // per-query timings into a function of run ORDER (blocking, so the
        // removal doesn't overlap the next query's measurement)
        graft.pipeline.StageCaches.unpersistAll(blocking = true)
        name -> (if (ok) secs else -1.0)
      }
    val passes = (1 to runs).map { i =>
      val p = onePass()
      if (runs > 1)
        System.err.println(f"[bench] pass $i/$runs total ${p.map(_._2).filter(_ >= 0).sum}%.1f s")
      p
    }
    // a query that failed in any pass stays failed (-1); otherwise min
    val results = passes.head.map(_._1).map { name =>
      val vs = passes.map(_.find(_._1 == name).get._2)
      name -> (if (vs.exists(_ < 0)) -1.0 else vs.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // self-diagnosis: per-pass totals and per-query (min, max) make a
    // CONTENDED invocation machine-detectable in the committed artifact —
    // min-of-N inside one contended window inflates both passes together
    // (BENCH_r17 shipped 3-5x inflated s*-rows that way), so the artifact
    // itself must carry the spread. Discipline: max_spread > 2 on any
    // material query => the window was contended; rerun before committing.
    val passTotals = passes
      .map(p => f"${p.map(_._2).filter(_ >= 0).sum}%.3f").mkString("[", ",", "]")
    val qmm = results.map { case (name, _) =>
      val vs = passes.map(_.find(_._1 == name).get._2)
      "\"" + name + "\":[" + f"${vs.min}%.3f" + "," + f"${vs.max}%.3f" + "]"
    }.mkString("{", ",", "}")
    val maxSpread = results.flatMap { case (name, v) =>
      val vs = passes.map(_.find(_._1 == name).get._2)
      // ratio only meaningful on queries big enough to rise above timer
      // jitter; 0.5 s floors out sub-second noise ratios
      if (v >= 0.5) Some(vs.max / vs.min) else None
    }.foldLeft(1.0)(math.max)
    // The contract line. Measurement-bug fix (r19, see OPTIMIZATION_r19.md):
    // the consumer of this line captures only a bounded TAIL of the process
    // output, and r15-r18 artifacts all show `parsed: null` because the
    // per-query diagnostics (query_min_max) bloated the line past any
    // capture window and sbt's own "[success] Total time" trailer displaced
    // it from the last line. So: (1) the full diagnostics now go to a
    // SIDECAR file ($SPARK_GRAFT_BENCH_OUT, default bench_out.json in the
    // project directory — see `projectDir`) and to
    // stderr, BEFORE the contract line; (2) stdout's final line is the
    // compact contract JSON only (metric/value/unit/queries/sf/runs, the
    // pre-r18 shape) with the scalar totals REPEATED at the end of the
    // object (distinct keys) so a head-truncated tail window still carries
    // them; (3) build.sbt suppresses sbt's success trailer so this line is
    // the last stdout line. Semantics of every pre-existing field are
    // unchanged; per-query values are the same min-of-N seconds as r16+.
    val fullJson = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"pass_totals":$passTotals,"query_min_max":$qmm,"max_spread":$maxSpread%.2f}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(projectDir, "bench_out.json").getPath)
    try {
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    System.err.println(fullJson)
    System.err.flush()
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"pass_totals":$passTotals,"max_spread":$maxSpread%.2f,"total_sec":$total%.3f,"n_queries":${results.size}}""")
    System.out.flush()
    spark.stop()
  }

  /** The project directory: the nearest ancestor of this class's code
    * location that holds `build.sbt` (the classes directory sits under
    * it), so the sidecar lands in the same gitignored place whatever
    * directory the JVM was started from. Falls back to the working
    * directory when the classes do not sit in a checkout. */
  private def projectDir: java.io.File = {
    val start = scala.util.Try(new java.io.File(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)).toOption
    Iterator.iterate(start.orNull)(_.getParentFile).takeWhile(_ != null)
      .find(d => new java.io.File(d, "build.sbt").isFile)
      .getOrElse(new java.io.File(System.getProperty("user.dir")))
  }
}

package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
 *
 * Generates the workload's input from the seed, sets up (session start
 * plus warm-up, several times, median reported), measures for the given
 * seconds, checks every result against the benchmark's own reference,
 * and prints one JSON line last: the end-to-end metrics with tracing
 * off, the per-layer metrics (plus the tracing overhead) with it on.
 * A run that fails a check or hits its wall cap prints no timing.
 */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File, config: File, capSeconds: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("out")), new File(need("config")),
      m.getOrElse("cap-seconds", "170").toInt)
  }

  /** A session with the `session` settings of `workloads.json`. */
  def session(conf: Params, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", conf.str("timezone"))
      .config("spark.ui.enabled", conf.bool("ui").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Counts of failed operations, kept for the final line even when a
    * later step throws. */
  private var attempted = 0L
  private var failed = 0L
  @volatile private var printed = false

  private def emit(correct: Boolean, metrics: Seq[Metric]): Unit = synchronized {
    if (!printed) {
      printed = true
      val ms = metrics.map(m => m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))
      println(Json.obj(Seq("correct" -> (if (correct) "true" else "false"),
        "attempted" -> Json.num(math.max(attempted, 1L).toDouble),
        "failed" -> Json.num((if (correct) failed else math.max(failed, 1L)).toDouble),
        "metrics" -> Json.obj(ms))))
      System.out.flush()
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val started = Clock.nowMs
    val deadline = started + args.capSeconds * 1000.0
    // the wall cap stops the run itself, not only the next one
    val watchdog = new Thread(() => {
      while (Clock.nowMs < deadline) Thread.sleep(200)
      System.err.println(s"perfbench: ${args.workload} hit its ${args.capSeconds} s wall cap")
      emit(correct = false, Nil)
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val code =
      try {
        val p = Params.load(args.config, args.workload)
        val conf = Params.session(args.config)
        val metrics = p.name match {
          case "stream_sessions" | "stream_join" => new StreamRun(args, p, conf, deadline).run()
          case "crawl_dedup" => new CrawlRun(args, p, conf).run()
        }
        val ok = failed == 0
        if (!ok) System.err.println(s"perfbench: $failed of $attempted operations failed their check")
        emit(ok, if (ok) metrics else Nil)
        if (ok) 0 else 1
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${args.workload} failed")
          e.printStackTrace()
          emit(correct = false, Nil)
          1
      }
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(code)
  }

  def addFailures(att: Long, fail: Long): Unit = synchronized { attempted += att; failed += fail }

  /** Start a session and warm it up `times` times, stopping all but the
    * last; returns the last session and the median set-up seconds. */
  def setup(conf: Params, threads: Int, times: Int)(warm: SparkSession => Unit): (SparkSession, Double) = {
    val secs = ArrayBuffer.empty[Double]
    var s: SparkSession = null
    (1 to times).foreach { i =>
      if (s != null) s.stop()
      val (ss, t) = Clock.timed { val ss = session(conf, threads); warm(ss); ss }
      s = ss; secs += t
    }
    System.err.println(f"perfbench: set-up ${secs.map(x => f"$x%.2f").mkString(" ")} s")
    (s, Stats.median(secs.toSeq))
  }

  /** The end-to-end metrics, in the order of BENCHMARK.json. */
  def endToEnd(setupS: Double, eventsPerS: Double, p50: Double, p99: Double, jobS: Double,
      recall: Double, heapMb: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("drain_events_per_s", eventsPerS, "events/s"),
    Metric("latency_ms_p50", p50, "ms"),
    Metric("latency_ms_p99", p99, "ms"),
    Metric("job_s", jobS, "s"),
    Metric("dedup_recall", recall, "ratio"),
    Metric("peak_live_heap_mb", heapMb, "MB"))

  def overhead(traced: Seq[Metric], untraced: Seq[Metric]): Seq[Metric] =
    traced.zip(untraced).map { case (t, u) => Metric(s"overhead.${t.name}", t.value - u.value, t.unit) }

  /** Per-layer metrics a workload does not exercise read 0. */
  def withZeros(ms: Seq[Metric]): Seq[Metric] = {
    val have = ms.map(_.name).toSet
    ms ++ LayerNames.all.filterNot { case (n, _) => have(n) }.map { case (n, u) => Metric(n, 0.0, u) }
  }
}

/** Every per-layer metric name and unit, so a run prints each one. */
object LayerNames {
  val all: Seq[(String, String)] = Seq(
    "streaming.state_update_ms" -> "ms", "streaming.state_remove_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows_total" -> "count",
    "streaming.state_memory_mb" -> "MB", "streaming.state_cache_hit_ratio" -> "ratio",
    "streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms", "streaming.batch_ms_p90" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.backlog_files_max" -> "count",
    "streaming.watermark_lag_s" -> "s", "streaming.late_rows_dropped" -> "count",
    "streaming.gen_late_ms_max" -> "ms",
    "api.build_ms" -> "ms", "api.facade_ratio" -> "ratio",
    "sources.parse_s" -> "s", "sources.records" -> "count", "sources.input_mb" -> "MB",
    "sources.mb_per_s" -> "MB/s", "functions.normalize_s" -> "s",
    "operators.exact_s" -> "s", "operators.lsh_s" -> "s", "operators.candidate_pairs" -> "count",
    "operators.verified_pairs" -> "count", "operators.pair_precision" -> "ratio",
    "operators.cc_s" -> "s", "operators.cc_jobs" -> "count", "operators.keep_best_s" -> "s",
    "operators.clusters" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_s" -> "s", "spark.exec_s" -> "s", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.busy_frac" -> "ratio", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_skew" -> "ratio", "spark.speedup_vs_1core" -> "ratio",
    "overhead.setup_s" -> "s", "overhead.drain_events_per_s" -> "events/s",
    "overhead.latency_ms_p50" -> "ms", "overhead.latency_ms_p99" -> "ms",
    "overhead.job_s" -> "s", "overhead.dedup_recall" -> "ratio",
    "overhead.peak_live_heap_mb" -> "MB")
}

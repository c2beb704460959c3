package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import Main.{Args, cores}

/** Empty the run's scratch directory. */
object Work {
  def fresh(dir: File): File = {
    def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
    rm(dir); dir.mkdirs(); dir
  }
}

/** A stream workload run: drain, then the open loop; with tracing, a
 * traced pass, the Spark-native twin, an untraced pass after them and the
 * one-core baseline. */
final class StreamRun(args: Args, p: Params, conf: Params, deadline: Double) {
  private val work = Work.fresh(args.work)
  private val repeats = conf.int("setup_repeats")
  private val perFile = p.int("events_per_file") * (if (p.name == "stream_sessions") 1 else 2)
  private val open = math.ceil(args.seconds * p.double("open_loop_share_of_run") *
    p.double("open_loop_events_per_s") / perFile).toInt
  private val bench = new StreamBench(p, args.seed, work, p.int("drain_files"), open)
  private var tags = 0
  private def tag(s: String): String = { tags += 1; s"$s-$tags" }

  private def measure(spark: SparkSession, input: StreamInput, setupS: Double,
      onBuilt: Double => Unit = _ => ()): (StreamOutcome, Seq[Metric]) = {
    HeapWatch.reset()
    val out = bench.run(spark, input, tag("measure"), bench.drainFiles, bench.openFiles, deadline,
      onBuilt = onBuilt)
    val heap = HeapWatch.peakMb
    val (att, fail) = bench.check(input, out)
    Main.addFailures(att, fail)
    System.err.println(f"perfbench: ${p.name} ${out.latenciesMs.length} open-loop results, " +
      f"generator ran up to ${out.genLateMsMax}%.1f ms late, backlog max ${out.backlogMax} files")
    val complete = input.expected.keySet.count(out.emitted.contains).toDouble / math.max(1, input.expected.size)
    (out, Main.endToEnd(setupS, out.drainEvents / out.drainS,
      Stats.quantile(out.latenciesMs, 0.5), Stats.quantile(out.latenciesMs, 0.99),
      out.drainBatchS, complete, heap))
  }

  def run(): Seq[Metric] = {
    HeapWatch.install()
    val (input, genS) = Clock.timed(bench.prepare())
    System.err.println(f"perfbench: input generated and checked in $genS%.1f s")
    val warmFiles = if (bench.sessions) 2 else 1
    val warmInput = bench.prefix(input, warmFiles)
    def warm(s: SparkSession): Unit = {
      val out = bench.run(s, warmInput, tag("warm"), warmFiles, 0, deadline)
      val (att, fail) = bench.check(warmInput, out)
      Main.addFailures(att, fail)
    }
    val (spark, setupS) = Main.setup(conf, cores, repeats)(warm)
    val (plainOut, plain) = measure(spark, input, setupS)
    if (plainOut.latenciesMs.length < 1000)
      System.err.println(s"perfbench: only ${plainOut.latenciesMs.length} open-loop results")
    // the first pass runs in a cold JVM; with tracing it only warms the JVM
    if (!args.trace) return plain

    spark.stop()
    val tr = new Tracer(s"${p.name}-${args.seed}")
    val (ts, tSetupS) = Main.setup(conf, cores, 1)(warm)
    tr.attach(ts.sparkContext)
    var buildMs = 0.0
    val (out, traced) = measure(ts, input, tSetupS, onBuilt = ms => buildMs = ms)
    // progress times are wall-clock; spans use the monotonic clock
    val shift = Clock.nowMs - System.currentTimeMillis()
    out.progress.foreach { pr =>
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli + shift
      tr.record("streaming.batch", pr.batchId.toString, start, start + pr.batchDuration,
        Map("input_rows" -> pr.numInputRows.toDouble) ++
          Seq("queryPlanning", "addBatch", "walCommit", "commitOffsets", "latestOffset")
            .flatMap(k => Option(pr.durationMs.get(k)).map(v => s"$k.ms" -> v.toDouble)))
    }
    tr.detach(ts.sparkContext)
    val engine = tr.engineMetrics(tr.total, cores) :+ Metric("spark.plan_s",
      out.progress.flatMap(pr => Option(pr.durationMs.get("queryPlanning")).map(_.toDouble)).sum / 1000.0, "s")
    val drainOnly = bench.prefix(input, bench.drainFiles)
    val api =
      if (!bench.sessions) Nil
      else {
        val (nat, _) = tr.span(ts.sparkContext, "api.native_twin") {
          bench.run(ts, drainOnly, tag("native"), bench.drainFiles, 0, deadline, native = true)
        }
        // Spark's session_window drops a late row only once its session end
        // (event time + gap) is behind the watermark, not its event time, so
        // the twin may keep planted late rows: its differences are reported,
        // not counted against the program
        val (_, diff) = bench.check(drainOnly, nat)
        if (diff > 0) System.err.println(s"perfbench: the native twin differs from the facade in $diff results")
        Seq(Metric("api.build_ms", buildMs, "ms"), Metric("api.facade_ratio", out.drainBatchS / nat.drainBatchS, "ratio"))
      }
    ts.stop()
    // the overhead compares the traced pass with an untraced one after it,
    // set up as often
    val (us, uSetupS) = Main.setup(conf, cores, 1)(warm)
    val (afterOut, after) = measure(us, input, uSetupS)
    us.stop()
    val (one, _) = Main.setup(conf, 1, 1)(warm)
    val base = bench.run(one, drainOnly, tag("one-core"), bench.drainFiles, 0, deadline)
    val (att, fail) = bench.check(drainOnly, base)
    Main.addFailures(att, fail)
    val speedup = base.drainBatchS / afterOut.drainBatchS
    tr.write(new File(args.out, s"trace-${p.name}-seed${args.seed}.json"))
    Main.withZeros(StreamBench.layerMetrics(out) ++ api ++ engine ++
      Seq(Metric("spark.speedup_vs_1core", speedup, "ratio")) ++ Main.overhead(traced, after))
  }
}

/** The crawl-dedup run: the job back to back for the run's seconds; with
  * tracing, a traced pass, the layer-by-layer job, an untraced pass after
  * them and the one-core baseline. */
final class CrawlRun(args: Args, p: Params, conf: Params) {
  private val work = Work.fresh(args.work)
  private val repeats = conf.int("setup_repeats")

  /** The job back to back for `seconds`, at least `minJobs` times. */
  private def reps(bench: CrawlBench, in: CrawlInput, setupS: Double, seconds: Double, minJobs: Int,
      wrap: (=> Set[Long]) => Set[Long] = b => b): Seq[Metric] = {
    val times = ArrayBuffer.empty[Double]
    val heaps = ArrayBuffer.empty[Double]
    var recall = 1.0
    val t0 = Clock.nowMs
    while (times.length < minJobs || Clock.nowMs - t0 < seconds * 1000.0) {
      HeapWatch.reset()
      val (kept, t) = Clock.timed(wrap(bench.job(in.dir)))
      heaps += HeapWatch.peakMb
      val (att, fail, r) = bench.check(in, kept)
      Main.addFailures(att, fail)
      recall = math.min(recall, r)
      times += t
    }
    // the peak of each job, median over the jobs
    val heap = Stats.median(heaps.toSeq)
    // every document's result arrives with its job's kept corpus, so the
    // median document latency and the document rate restate job_s
    val perDoc = times.toSeq.flatMap(t => Seq.fill(in.docs.length)(t * 1000.0))
    val jobS = Stats.median(times.toSeq)
    System.err.println(f"perfbench: crawl_dedup ${times.length} jobs, median $jobS%.3f s (" +
      times.map(t => f"$t%.2f").mkString(" ") + ")")
    Main.endToEnd(setupS, in.docs.length / jobS, Stats.quantile(perDoc, 0.5),
      Stats.quantile(perDoc, 0.99), jobS, recall, heap)
  }

  def run(): Seq[Metric] = {
    HeapWatch.install()
    val (in, genS) = Clock.timed(CrawlBench.prepare(p, args.seed, work))
    System.err.println(f"perfbench: input generated and checked in $genS%.1f s")
    val warmDir = CrawlBench.warmDir(p, work)
    def warm(s: SparkSession): Unit = new CrawlBench(s, p).job(warmDir)
    val (spark, setupS) = Main.setup(conf, cores, repeats)(warm)
    val plain = reps(new CrawlBench(spark, p), in, setupS, args.seconds, 3)
    // the first pass runs in a cold JVM; with tracing it only warms the JVM
    if (!args.trace) return plain

    spark.stop()
    val tr = new Tracer(s"${p.name}-${args.seed}")
    val (ts, tSetupS) = Main.setup(conf, cores, 1)(warm)
    tr.attach(ts.sparkContext)
    val bench = new CrawlBench(ts, p)
    // the traced pass and the untraced one after it set up once and run
    // half as long, so a traced run stays well inside its wall cap
    val traced = reps(bench, in, tSetupS, args.seconds / 2.0, 2, b => tr.span(ts.sparkContext, "job")(b)._1)
    val (kept, layers) = bench.tracedJob(in, tr)
    val (att, fail, _) = bench.check(in, kept)
    Main.addFailures(att, fail)
    tr.detach(ts.sparkContext)
    // engine counts per run of the job job_s times, not of the
    // layer-by-layer job, which runs LSH and connected components twice
    val runs = tr.spanCount("job")
    val engine = tr.engineMetrics(tr.countsOf("job"), cores, runs) :+
      Metric("spark.plan_s", tr.planS(_ == "job") / runs, "s")
    ts.stop()
    // the overhead compares the traced pass with an untraced one after it,
    // set up as often
    val (us, uSetupS) = Main.setup(conf, cores, 1)(warm)
    val after = reps(new CrawlBench(us, p), in, uSetupS, args.seconds / 2.0, 2)
    us.stop()
    val (one, _) = Main.setup(conf, 1, 1)(warm)
    val (kept1, t1) = Clock.timed(new CrawlBench(one, p).job(in.dir))
    val (att1, fail1, _) = bench.check(in, kept1)
    Main.addFailures(att1, fail1)
    val jobS = after.find(_.name == "job_s").get.value
    tr.write(new File(args.out, s"trace-${p.name}-seed${args.seed}.json"))
    Main.withZeros(layers ++ engine ++ Seq(Metric("spark.speedup_vs_1core", t1 / jobS, "ratio")) ++
      Main.overhead(traced, after))
  }
}

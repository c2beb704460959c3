package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `trace` is the run id, or the batch id
  * of a stream; times are ms on the monotonic clock. */
final case class Span(id: Int, name: String, trace: String, parent: Int,
    startMs: Double, endMs: Double, attrs: Map[String, Double])

/** Engine counts of the jobs attributed to one span (or to all spans). */
final class EngineCounts {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  /** (start, end) wall ms of each job, for the busy union. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  /** Per stage: task durations in ms, for skew. */
  val stageTaskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  def add(o: EngineCounts): Unit = o.synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    jobIntervals ++= o.jobIntervals
    stageTaskMs ++= o.stageTaskMs
  }

  def execS: Double = {
    val iv = jobIntervals.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** Worst stage's slowest task over its median task (stages of at least
    * four tasks), the straggler factor. */
  def taskSkew: Double = {
    val r = stageTaskMs.values.filter(_.length >= 4).map { d =>
      val med = Stats.median(d.map(_.toDouble).toSeq)
      d.max / math.max(med, 1.0)
    }
    if (r.isEmpty) 1.0 else r.max
  }
}

/**
 * The benchmark's tracer. Spans are recorded by the benchmark's own code
 * around each call into a layer and kept in memory until [[write]]. Each
 * span runs its Spark jobs under its own job group, so a `SparkListener`
 * attributes task, shuffle, spill and GC counts to it. Stream micro-batch
 * jobs carry their batch id instead and count toward the whole run.
 */
final class Tracer(runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List.empty[Int]
  val total = new EngineCounts
  private val bySpan = new ConcurrentHashMap[Int, EngineCounts]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** First job submission time per span, for plan time. */
  private val firstJobMs = new ConcurrentHashMap[Int, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => if (g.startsWith("span-")) Some(g.stripPrefix("span-").toInt) else None)
        .getOrElse(0)
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      firstJobMs.putIfAbsent(span, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      counts(span).foreach { c => c.synchronized { c.jobs += 1; c.stages += e.stageIds.size } }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = Option(jobStart.get(e.jobId)).getOrElse(e.time)
      counts(jobSpan.getOrDefault(e.jobId, 0)).foreach { c =>
        c.synchronized { c.jobIntervals += ((s, e.time)) } }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val span = jobSpan.getOrDefault(stageJob.getOrDefault(e.stageId, -1), 0)
        counts(span).foreach { c =>
          c.synchronized {
            c.tasks += 1
            c.taskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
          }
        }
      }
    }
  }

  private def counts(span: Int): Seq[EngineCounts] =
    if (span == 0) Seq(total)
    else Seq(total, bySpan.computeIfAbsent(span, _ => new EngineCounts))

  def attach(sc: SparkContext): Unit = sc.addSparkListener(listener)
  def detach(sc: SparkContext): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Time `body` as span `name`, its jobs in the span's job group.
    * Returns the result and the span's seconds. */
  def span[A](sc: SparkContext, name: String, trace: String = runId)(body: => A): (A, Double) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = Clock.nowMs
    val wall0 = System.currentTimeMillis()
    try {
      val a = body
      val t1 = Clock.nowMs
      val first = Option(firstJobMs.get(id)).map(j => math.max(0L, j - wall0).toDouble)
      spans += Span(id, name, trace, parent, t0, t1,
        first.map(f => Map("plan_ms" -> f)).getOrElse(Map.empty))
      (a, (t1 - t0) / 1000.0)
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Record an already-measured span (stream batches, from the query
    * listener). */
  def record(name: String, trace: String, startMs: Double, endMs: Double,
      attrs: Map[String, Double]): Unit = synchronized {
    spans += Span(nextId, name, trace, 0, startMs, endMs, attrs); nextId += 1
  }

  /** Number of spans called `name`. */
  def spanCount(name: String): Int = spans.count(_.name == name)

  /** Engine counts of every span called `name`, together. */
  def countsOf(name: String): EngineCounts = {
    val ids = spans.filter(_.name == name).map(_.id).toSet
    val out = new EngineCounts
    bySpan.asScala.foreach { case (id, c) => if (ids.contains(id)) out.add(c) }
    out
  }

  /** Sum of (first job start − span start) over the top-level spans
    * `include` names: build and plan time spent before a job ran. */
  def planS(include: String => Boolean): Double =
    spans.filter(s => s.parent == 0 && include(s.name)).flatMap(_.attrs.get("plan_ms")).sum / 1000.0

  /** The `spark.*` metrics of `c`, counts and times per run when `c`
    * covers `runs` runs of the same job. */
  def engineMetrics(c: EngineCounts, cores: Int, runs: Int = 1): Seq[Metric] = {
    val exec = c.execS
    val n = math.max(runs, 1).toDouble
    Seq(
      Metric("spark.jobs", c.jobs / n, "count"),
      Metric("spark.stages", c.stages / n, "count"),
      Metric("spark.tasks", c.tasks / n, "count"),
      Metric("spark.exec_s", exec / n, "s"),
      Metric("spark.task_run_s", c.taskRunMs / 1000.0 / n, "s"),
      Metric("spark.task_cpu_s", c.taskCpuNs / 1e9 / n, "s"),
      Metric("spark.busy_frac", if (exec > 0) c.taskRunMs / 1000.0 / (exec * cores) else 0.0, "ratio"),
      Metric("spark.gc_s", c.gcMs / 1000.0 / n, "s"),
      Metric("spark.shuffle_write_mb", c.shuffleWrite / 1048576.0 / n, "MB"),
      Metric("spark.shuffle_read_mb", c.shuffleRead / 1048576.0 / n, "MB"),
      Metric("spark.spill_mb", c.spill / 1048576.0 / n, "MB"),
      Metric("spark.task_skew", c.taskSkew, "ratio"))
  }

  /** Write every span, with its self time, as one JSON document. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try {
      w.println("[")
      val all = spans.toSeq
      all.zipWithIndex.foreach { case (s, i) =>
        val childMs = all.filter(_.parent == s.id).map(c => c.endMs - c.startMs).sum
        val fields = Seq(
          "id" -> Json.num(s.id), "name" -> Json.str(s.name), "trace" -> Json.str(s.trace),
          "parent" -> Json.num(s.parent), "start_ms" -> Json.num(s.startMs),
          "end_ms" -> Json.num(s.endMs),
          "self_ms" -> Json.num(s.endMs - s.startMs - childMs)) ++
          s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
        w.println("  " + Json.obj(fields) + (if (i + 1 < all.length) "," else ""))
      }
      w.println("]")
    } finally w.close()
  }
}

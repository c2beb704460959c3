package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.{Duration, Instant}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.api.{Event, GStream}
import graft.streaming.StreamJoins

/** Generated input of one stream workload: per input stream, its files
  * in order, and the reference results keyed as the sink keys them. */
final case class StreamInput(streams: Seq[IndexedSeq[IndexedSeq[Ev]]],
    expected: Map[Any, Any], trigger: Map[Any, Int], late: Long)

/** What one measured stream query gave: the drain phase's wall time and
  * input rows, and its median micro-batch time. */
final case class StreamOutcome(drainS: Double, drainBatchS: Double, drainEvents: Long,
    latenciesMs: Seq[Double],
    emitted: Map[Any, Any], duplicates: Int, dropped: Long, progress: Seq[StreamingQueryProgress],
    genLateMsMax: Double, backlogMax: Int)

/**
 * The two stream workloads. Each run drains a pre-written backlog, one
 * file per micro-batch, then renames pre-rendered files into the watched
 * directories one at a time on a fixed open-loop schedule, and times each
 * result from when the file holding its last needed row was due.
 */
final class StreamBench(p: Params, seed: Long, work: File, val drainFiles: Int, val openFiles: Int) {
  val sessions: Boolean = p.name == "stream_sessions"
  private val gen = new StreamGen(p, seed, drainFiles + openFiles)
  private val names = if (sessions) Seq("events") else Seq("clicks", "purchases")
  private val schema = "id BIGINT, user STRING, ts_us BIGINT"

  /** Generate the input and compute its reference results. */
  def prepare(): StreamInput = {
    val input =
      if (sessions) {
        val ev = gen.keyed(0)
        val ref = Reference.sessions(ev, p.long("session_gap_ms") * 1000L, gen.delay)
        StreamInput(Seq(ev), ref.rows.map { case (k, v) => (k: Any) -> (v: Any) },
          ref.trigger.map { case (k, v) => (k: Any) -> v }, ref.late)
      } else {
        val clicks = gen.keyed(0)
        val buys = gen.following(clicks, p.long("horizon_ms"))
        val ref = Reference.join(clicks, buys, p.long("horizon_ms") * 1000L, gen.delay)
        StreamInput(Seq(clicks, buys), ref.pairs.map(k => (k: Any) -> (true: Any)).toMap,
          ref.trigger.map { case (k, v) => (k: Any) -> v }, ref.late)
      }
    // without planted late rows the late-drop check would compare 0 with 0
    require(input.late > 0, s"${p.name}: the run is too short to plant late rows")
    val stage = new File(work, "stage")
    val base = System.currentTimeMillis() - 3600L * 1000L
    names.zip(input.streams).foreach { case (n, files) =>
      val d = new File(stage, n); d.mkdirs()
      files.zipWithIndex.foreach { case (rows, i) =>
        StreamGen.writeCsv(new File(d, f"part-$i%05d.csv"), rows, base + i * 1000L)
      }
    }
    input
  }

  private def read(spark: SparkSession, dir: File): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").csv(dir.getPath)
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** The query under test, built through the program's public layer
    * functions: the typed facade for sessions, StreamJoins for the join.
    * Output columns are the reference's key and value. */
  def build(spark: SparkSession, dirs: Seq[File], native: Boolean = false): DataFrame = {
    import spark.implicits._
    val delay = s"${gen.delay} milliseconds"
    if (sessions && native) {
      read(spark, dirs.head).withWatermark("ts", delay)
        .groupBy(col("user"), session_window(col("ts"), s"${p.long("session_gap_ms")} milliseconds"))
        .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("last_us"), count(lit(1)).as("n"))
        .select("user", "start_us", "last_us", "n")
    } else if (sessions) {
      val events = read(spark, dirs.head).select(col("ts").as("processingTime"), col("ts").as("eventTime"),
        struct(col("user").as("_1"), col("ts_us").as("_2")).as("value")).as[Event[(String, Long)]]
      new GStream(events).withWatermark(delay)
        .keyBy(_.value._1)
        .window(Duration.ofMillis(p.long("session_gap_ms")))
        .aggregate(v => (v._1, 1L, v._2, v._2)) { (a, b) =>
          (a._1, a._2 + b._2, math.min(a._3, b._3), math.max(a._4, b._4))
        }
        .ds.toDF()
        .select(col("value._1").as("user"), col("value._3").as("start_us"),
          col("value._4").as("last_us"), col("value._2").as("n"))
    } else {
      val Seq(c, b) = dirs.map(d => read(spark, d).withWatermark("ts", delay))
      StreamJoins.follows(c, b, "user", "ts", "id", s"${p.long("horizon_ms")} milliseconds")
        .select("a_id", "b_id")
    }
  }

  private def keyOf(r: Row): (Any, Any) =
    if (sessions) (r.getString(0), r.getLong(1)) -> SessionRow(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    else (r.getLong(0), r.getLong(1)) -> true

  /** Run one query over `input`: drain the first `drain` files, then feed
    * `open` more on the open-loop schedule (none when 0). Stops at
    * `deadlineMs` (monotonic) whatever state it is in. */
  def run(spark: SparkSession, input: StreamInput, tag: String, drain: Int, open: Int, deadlineMs: Double,
      native: Boolean = false, onBuilt: Double => Unit = _ => ()): StreamOutcome = {
    val root = new File(work, tag)
    val dirs = names.map(n => new File(root, s"in-$n"))
    dirs.foreach(_.mkdirs())
    val ns = names.length
    def move(i: Int, s: Int, copy: Boolean): Unit = {
      val (n, d) = (names(s), dirs(s))
      val src = new File(new File(work, s"stage/$n"), f"part-$i%05d.csv").toPath
      val dst = new File(d, f"part-$i%05d.csv").toPath
      if (copy) Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
      else {
        // copy the bytes aside first, then rename: the watched directory
        // only ever sees complete files
        val tmp = new File(root, f"tmp-$n-$i%05d.csv").toPath
        Files.copy(src, tmp, StandardCopyOption.COPY_ATTRIBUTES)
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    for (i <- 0 until drain; s <- 0 until ns) move(i, s, copy = true)
    // every stream's files hold the same number of rows
    val fileRows = input.streams.head.head.length.toLong
    val drainRows = fileRows * ns * drain

    val progress = new java.util.concurrent.CopyOnWriteArrayList[StreamingQueryProgress]()
    @volatile var rowsIn = 0L
    @volatile var drainEndWallMs = -1L
    val emitted = new ConcurrentHashMap[Any, (Any, Double)]()
    @volatile var duplicates = 0
    @volatile var queuedRows = drainRows
    @volatile var backlogMax = 0
    val (df, buildS) = Clock.timed(build(spark, dirs, native))
    onBuilt(buildS * 1000.0)
    val listenerId = java.util.UUID.randomUUID().toString
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val pr = e.progress
        if (pr.name == listenerId) {
          progress.add(pr)
          rowsIn += pr.numInputRows
          // files renamed in but not yet taken, during the open loop
          if (drainEndWallMs >= 0)
            backlogMax = math.max(backlogMax, ((queuedRows - rowsIn) / fileRows).toInt)
          if (drainEndWallMs < 0 && rowsIn >= drainRows)
            drainEndWallMs = Instant.parse(pr.timestamp).toEpochMilli + pr.batchDuration
        }
      }
    }
    spark.streams.addListener(listener)
    // a batch's results count as emitted once the sink has collected them
    val sink: (DataFrame, Long) => Unit = { (batch, _) =>
      val rows = batch.collect()
      val t = Clock.nowMs
      rows.foreach { r =>
        val (k, v) = keyOf(r)
        if (emitted.putIfAbsent(k, (v, t)) != null) duplicates += 1
      }
    }
    val startWallMs = System.currentTimeMillis()
    val q = df.writeStream.queryName(listenerId)
      .option("checkpointLocation", new File(root, "checkpoint").getPath)
      .outputMode("append")
      .foreachBatch(sink)
      .start()
    val genLate = ArrayBuffer.empty[Double]
    // due times by arrival slot: file index · streams + stream
    val due = new Array[Double]((drain + open) * ns)
    try {
      def waitFor(cond: => Boolean, until: Double): Unit =
        while (!cond && Clock.nowMs < until && q.exception.isEmpty) Thread.sleep(5)
      waitFor(drainEndWallMs >= 0, deadlineMs)
      q.exception.foreach(e => throw e)
      if (drainEndWallMs < 0) throw new IllegalStateException(s"$tag: drain phase hit the wall cap")
      val t0 = Clock.nowMs
      (0 until drain * ns).foreach(i => due(i) = t0)
      // open loop: one stream's file at a time, one every `intervalMs`
      // whatever the engine does, the streams taking turns; the first
      // is due one interval after the drain, clear of the batch that
      // follows it
      val intervalMs = fileRows * 1000.0 / p.double("open_loop_events_per_s")
      for (k <- 0 until open; s <- 0 until ns) {
        val slot = (drain + k) * ns + s
        due(slot) = t0 + (k * ns + s + 1) * intervalMs
        val wait = due(slot) - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (Clock.nowMs > deadlineMs) throw new IllegalStateException(s"$tag: open loop hit the wall cap")
        move(drain + k, s, copy = false)
        genLate += Clock.nowMs - due(slot)
        queuedRows += fileRows
      }
      // the tail: wait for every expected result; a result still missing
      // after the tail cap counts as failed
      val want = input.expected.keySet
      waitFor(want.forall(emitted.containsKey), math.min(deadlineMs, Clock.nowMs + 20000))
      q.exception.foreach(e => throw e)
    } finally {
      // let a batch in flight finish, so stopping interrupts no task
      val idleBy = Clock.nowMs + 2000
      while (q.status.isTriggerActive && Clock.nowMs < idleBy) Thread.sleep(5)
      q.stop()
      // every progress event of the query is delivered before it is read
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    val prog = progress.asScala.toSeq
    val dropped = prog.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    val em = emitted.asScala.toMap
    val byFile = em.toSeq.flatMap { case (k, (_, t)) =>
      input.trigger.get(k).filter(f => f >= drain * ns && f < (drain + open) * ns).map(f => f -> (t - due(f)))
    }
    val lat = byFile.map(_._2)
    if (open > 0)
      System.err.println(s"perfbench: $tag median latency ms per open-loop file: " +
        byFile.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, xs) => f"$f:${Stats.median(xs.map(_._2))}%.0f" }
          .mkString(" ") + "; batch ms: " + prog.map(pr => s"${pr.batchDuration}${if (pr.numInputRows > 0) "d" else ""}").mkString(" "))
    // the drain's data batches, each one file per stream
    val drainBatches = prog.filter(_.numInputRows > 0).take(drain).map(_.batchDuration / 1000.0)
    StreamOutcome((drainEndWallMs - startWallMs) / 1000.0, Stats.median(drainBatches), drainRows, lat,
      em.map { case (k, (v, _)) => k -> v }, duplicates, dropped, prog,
      if (genLate.isEmpty) 0.0 else genLate.max, backlogMax)
  }

  /** Results of a run over the first `files` files only (the reference
    * recomputed for that shorter input). */
  def prefix(input: StreamInput, files: Int): StreamInput = {
    val streams = input.streams.map(_.take(files))
    if (sessions) {
      val ref = Reference.sessions(streams.head, p.long("session_gap_ms") * 1000L, gen.delay)
      StreamInput(streams, ref.rows.map { case (k, v) => (k: Any) -> (v: Any) },
        ref.trigger.map { case (k, v) => (k: Any) -> v }, ref.late)
    } else {
      val ref = Reference.join(streams(0), streams(1), p.long("horizon_ms") * 1000L, gen.delay)
      StreamInput(streams, ref.pairs.map(k => (k: Any) -> (true: Any)).toMap,
        ref.trigger.map { case (k, v) => (k: Any) -> v }, ref.late)
    }
  }

  /** Failed operations of a run against the reference: missing, extra and
    * wrong results, duplicates, and any gap between the late rows the
    * engine dropped and the late rows planted. */
  def check(input: StreamInput, out: StreamOutcome): (Long, Long) = {
    val missing = input.expected.keySet.count(k => !out.emitted.contains(k))
    val extra = out.emitted.keySet.count(k => !input.expected.contains(k))
    val wrong = out.emitted.count { case (k, v) => input.expected.get(k).exists(_ != v) }
    val attempted = input.expected.size + extra + out.duplicates
    val failed = (missing + extra + wrong + out.duplicates).toLong + math.abs(out.dropped - input.late)
    if (failed > 0)
      System.err.println(s"perfbench: ${p.name} check: $missing missing, $extra extra, $wrong wrong, " +
        s"${out.duplicates} duplicated; ${out.dropped} late rows dropped, ${input.late} planted")
    (attempted.toLong, failed)
  }
}

object StreamBench {
  /** Per-layer metrics of the `streaming` layer from the query progress. */
  def layerMetrics(out: StreamOutcome): Seq[Metric] = {
    val prog = out.progress
    val data = prog.filter(_.numInputRows > 0)
    def dur(k: String): Double = Stats.median(prog.flatMap(pr => Option(pr.durationMs.get(k)).map(_.toDouble)))
    val ops = prog.flatMap(_.stateOperators)
    def custom(k: String): Double = ops.map(o => Option(o.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val hits = custom("loadedMapCacheHitCount")
    val misses = custom("loadedMapCacheMissCount")
    val lag = data.flatMap { pr =>
      val et = pr.eventTime
      for (mx <- Option(et.get("max")); wm <- Option(et.get("watermark")))
        yield (Instant.parse(mx).toEpochMilli - Instant.parse(wm).toEpochMilli) / 1000.0
    }
    Seq(
      Metric("streaming.state_update_ms", ops.map(_.allUpdatesTimeMs).sum.toDouble, "ms"),
      Metric("streaming.state_remove_ms", ops.map(_.allRemovalsTimeMs).sum.toDouble, "ms"),
      Metric("streaming.state_commit_ms", ops.map(_.commitTimeMs).sum.toDouble, "ms"),
      Metric("streaming.state_rows_total",
        if (prog.isEmpty) 0.0 else prog.map(_.stateOperators.map(_.numRowsTotal).sum).max.toDouble, "count"),
      Metric("streaming.state_memory_mb",
        if (prog.isEmpty) 0.0 else prog.map(_.stateOperators.map(_.memoryUsedBytes).sum).max / 1048576.0, "MB"),
      Metric("streaming.state_cache_hit_ratio", if (hits + misses > 0) hits / (hits + misses) else 0.0, "ratio"),
      Metric("streaming.batches", prog.length.toDouble, "count"),
      Metric("streaming.batch_ms_p50", Stats.quantile(prog.map(_.batchDuration.toDouble), 0.5), "ms"),
      Metric("streaming.batch_ms_p90", Stats.quantile(prog.map(_.batchDuration.toDouble), 0.9), "ms"),
      Metric("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      Metric("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      Metric("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
      Metric("streaming.latest_offset_ms", dur("latestOffset"), "ms"),
      Metric("streaming.add_batch_ms", dur("addBatch"), "ms"),
      Metric("streaming.backlog_files_max", out.backlogMax.toDouble, "count"),
      Metric("streaming.watermark_lag_s", Stats.median(lag), "s"),
      Metric("streaming.late_rows_dropped", out.dropped.toDouble, "count"),
      Metric("streaming.gen_late_ms_max", out.genLateMsMax, "ms"))
  }
}

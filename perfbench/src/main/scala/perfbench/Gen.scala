package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One generated stream row. `file` is the index of the file holding it;
  * `late` marks rows planted beyond the watermark delay. */
final case class Ev(id: Long, user: String, tsUs: Long, file: Int, late: Boolean)

/** Zipf-distributed key sampler over `n` keys. */
final class Zipf(n: Int, s: Double, rnd: Random) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/**
 * Seeded stream input on a logical clock. File `i` holds rows whose
 * on-time event times fall in `[t0 + i·span, t0 + (i+1)·span)`; a share
 * is pulled back out of order by at most `out_of_order_max_ms`, which is
 * kept below the watermark delay by more than one file span, and a
 * share is planted late, behind the watermark by `late_beyond_watermark_ms`,
 * more than two file spans beyond it. Those margins make every row's
 * drop decision the same whichever micro-batch's watermark the engine
 * applies, so the reference does not depend on batch timing.
 */
final class StreamGen(p: Params, seed: Long, val files: Int) {
  val span: Long = p.long("file_event_span_ms")
  val delay: Long = p.long("watermark_delay_ms")
  val perFile: Int = p.int("events_per_file")
  private val oooMax = p.long("out_of_order_max_ms")
  private val (lateLo, lateHi) = p.longRange("late_beyond_watermark_ms")
  require(oooMax + 2 * span <= delay, "out-of-order rows must stay clear of the watermark")
  require(lateLo >= 2 * span, "late rows must sit well beyond the watermark")
  /** A late row of file i is checked against the watermark after file
    * i − 3 (see [[Reference.checkLateness]]), so late rows start once that
    * watermark exists, one file later for margin. */
  private val firstLateFile = 4
  val t0Ms: Long = 1700000000000L

  /** Event time in µs: ms precision plus a µs offset that is never a
    * whole ms, so no session end ever lands exactly on a watermark. */
  private def us(ms: Long, rnd: Random): Long = ms * 1000L + 1 + rnd.nextInt(998)

  private def eventMs(i: Int, rnd: Random): (Long, Boolean) = {
    val base = t0Ms + i * span
    val r = rnd.nextDouble()
    if (i >= firstLateFile && r < p.double("late_frac"))
      (base - delay - (lateLo + (rnd.nextDouble() * (lateHi - lateLo)).toLong), true)
    else {
      val t = base + (rnd.nextDouble() * span).toLong
      if (rnd.nextDouble() < p.double("out_of_order_frac"))
        (t - (rnd.nextDouble() * oooMax).toLong, false)
      else (t, false)
    }
  }

  /** One stream of Zipf-keyed rows, `stream` salting the seed. */
  def keyed(stream: Int): IndexedSeq[IndexedSeq[Ev]] = {
    val rnd = new Random(seed * 7919 + stream)
    val zipf = new Zipf(p.int("keys"), p.double("key_zipf_exponent"), rnd)
    (0 until files).map { i =>
      (0 until perFile).map { j =>
        val (ms, late) = eventMs(i, rnd)
        Ev(i * 1000000L + j, s"u${zipf.next()}", us(ms, rnd), i, late)
      }
    }
  }

  /** Purchases following `clicks`: a share takes the user of a click made
    * at most `horizon` earlier, so the join has matches across files;
    * the rest pick a Zipf user. Event times follow the same rules as the
    * clicks. */
  def following(clicks: IndexedSeq[IndexedSeq[Ev]], horizonMs: Long): IndexedSeq[IndexedSeq[Ev]] = {
    val rnd = new Random(seed * 7919 + 101)
    val zipf = new Zipf(p.int("keys"), p.double("key_zipf_exponent"), rnd)
    val share = p.double("purchase_share_following_click")
    val recent = clicks.flatten.filterNot(_.late).sortBy(_.tsUs).toArray
    val times = recent.map(_.tsUs)
    (0 until files).map { i =>
      (0 until perFile).map { j =>
        val (ms, late) = eventMs(i, rnd)
        val tUs = us(ms, rnd)
        val user =
          if (!late && rnd.nextDouble() < share) {
            val lo = lowerBound(times, tUs - horizonMs * 1000L)
            val hi = lowerBound(times, tUs)
            if (hi > lo) recent(lo + rnd.nextInt(hi - lo)).user else s"u${zipf.next()}"
          } else s"u${zipf.next()}"
        Ev(500000L + i * 1000000L + j, user, tUs, i, late)
      }
    }
  }

  private def lowerBound(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }
}

object StreamGen {
  /** Write one CSV file (id,user,ts_us) with a fixed modification time, so
    * the file source takes files in generation order. */
  def writeCsv(f: File, rows: Seq[Ev], mtime: Long): Unit = {
    val sb = new java.lang.StringBuilder(rows.length * 32)
    rows.foreach(e => sb.append(e.id).append(',').append(e.user).append(',').append(e.tsUs).append('\n'))
    val out = new FileOutputStream(f)
    try out.write(sb.toString.getBytes(UTF_8)) finally out.close()
    f.setLastModified(mtime)
  }
}

/** One generated crawl document. `group` is its planted cluster (equal for
  * exact copies and near-duplicate variants); `canon` its text in the
  * canonical lower-case, single-spaced form. */
final case class Doc(id: Long, group: Int, canon: String, raw: String)

/**
 * Seeded crawl corpus with planted structure: random documents, exact
 * copies that differ only in case, punctuation and spacing, near-duplicate
 * chains (each member one word substitution from the previous) of every
 * length, and one hub cluster (many one-substitution variants of a single
 * document).
 */
final class CrawlGen(p: Params, seed: Long) {
  private val rnd = new Random(seed * 104729 + 3)
  private val vocab = p.int("vocabulary")
  private val (wLo, wHi) = p.intRange("doc_words")

  private def word(): String = {
    // letters then digits, all in [a-z0-9], so normalisation keeps them
    val k = rnd.nextInt(vocab)
    ('a' + k % 26).toChar.toString + ('a' + (k / 26) % 26).toChar + (k / 676)
  }
  private def fresh(): Array[String] = Array.fill(wLo + rnd.nextInt(wHi - wLo + 1))(word())
  private def mutate(w: Array[String]): Array[String] = {
    val c = w.clone(); c(rnd.nextInt(c.length)) = word(); c
  }
  /** A copy equal after normalisation: capitalised words, trailing
    * punctuation, doubled spaces. */
  private def noisy(w: Array[String]): String =
    w.map { t =>
      val r = rnd.nextInt(10)
      if (r == 0) t.capitalize else if (r == 1) t + "," else if (r == 2) t.toUpperCase + "." else t
    }.mkString(" ").replace(" a", if (rnd.nextBoolean()) "  a" else " a")

  def docs(): IndexedSeq[Doc] = {
    val n = p.int("documents")
    val (cLo, cHi) = p.intRange("chain_length")
    val nearBudget = (n * p.double("near_duplicate_frac")).toInt
    val exactBudget = (n * p.double("exact_duplicate_frac")).toInt
    val texts = ArrayBuffer.empty[(Int, Array[String])]
    var group = 0
    // hub: one base, every variant one substitution from it
    val hubBase = fresh()
    texts += ((group, hubBase))
    (1 until p.int("hub_cluster_size")).foreach(_ => texts += ((group, mutate(hubBase))))
    group += 1
    var near = p.int("hub_cluster_size") - 1
    // chain lengths cycle through the range, so every seed plants the same
    // chain shapes and the connected-components work does not vary with it
    var chain = 0
    while (near < nearBudget) {
      val len = math.min(cLo + chain % (cHi - cLo + 1), nearBudget - near + 1)
      chain += 1
      var cur = fresh()
      texts += ((group, cur))
      (1 until len).foreach { _ => cur = mutate(cur); texts += ((group, cur)) }
      near += len - 1
      group += 1
    }
    while (texts.length < n - exactBudget) { texts += ((group, fresh())); group += 1 }
    val rows = ArrayBuffer.empty[(Int, String, String)]
    texts.foreach { case (g, w) => val c = w.mkString(" "); rows += ((g, c, c)) }
    (0 until exactBudget).foreach { _ =>
      val (g, w) = texts(rnd.nextInt(texts.length))
      rows += ((g, w.mkString(" "), noisy(w)))
    }
    // ids in shuffled order, so the kept copy is not always the original
    rnd.shuffle(rows.toIndexedSeq).zipWithIndex.map { case ((g, c, r), i) =>
      Doc(i.toLong + 1, g, c, r)
    }
  }

  /** WET files of `docs_per_wet_file` conversion records; a share of the
    * files is gzip-wrapped per record, as `.warc.wet.gz` is. */
  def writeWet(dir: File, docs: IndexedSeq[Doc]): Long = {
    dir.mkdirs()
    val gzFrac = p.double("gzip_file_frac")
    var bytes = 0L
    docs.grouped(p.int("docs_per_wet_file")).zipWithIndex.foreach { case (chunk, fi) =>
      val gz = rnd.nextDouble() < gzFrac
      val out = new ByteArrayOutputStream()
      chunk.foreach { d =>
        val rec = CrawlGen.record(s"http://bench.example/doc/${d.id}", d.raw.getBytes(UTF_8))
        if (gz) {
          val z = new GZIPOutputStream(out); z.write(rec); z.finish()
        } else out.write(rec)
      }
      val f = new File(dir, f"wet-$fi%05d" + (if (gz) ".warc.wet.gz" else ".warc.wet"))
      val fo = new FileOutputStream(f)
      try out.writeTo(fo) finally fo.close()
      bytes += f.length()
    }
    bytes
  }
}

object CrawlGen {
  def record(uri: String, body: Array[Byte]): Array[Byte] = {
    val head = "WARC/1.0\r\nWARC-Type: conversion\r\n" +
      s"WARC-Target-URI: $uri\r\nContent-Type: text/plain\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    head.getBytes(UTF_8) ++ body ++ "\r\n\r\n".getBytes(UTF_8)
  }
}

package perfbench

import scala.collection.mutable

/** A closed session as the benchmark checks it. */
final case class SessionRow(user: String, startUs: Long, lastUs: Long, count: Long)

/**
 * Reference results computed by the benchmark alone, without calling the
 * program: a sort-and-sweep session window, a plain interval join and
 * the planted crawl truth. Each also gives, per result, the arrival slot
 * (file index times the number of input streams, plus the stream) of the
 * input file holding the last row the result needed, which is where its
 * latency is timed from.
 */
object Reference {

  /** Watermark in ms after the files up to `i` (all of them), −∞ before. */
  private def watermarks(files: IndexedSeq[IndexedSeq[Ev]], delayMs: Long): Array[Long] = {
    var max = Long.MinValue
    files.map { f =>
      f.foreach(e => max = math.max(max, e.tsUs))
      if (max == Long.MinValue) Long.MinValue else max / 1000L - delayMs
    }.toArray
  }

  /** Check the margins the generator promises: a row marked late is
    * behind any watermark the engine could apply to its file, an on-time
    * row ahead of all of them. `wms` are the watermarks of each stream
    * feeding the operator (the engine takes their minimum). */
  def checkLateness(files: IndexedSeq[IndexedSeq[Ev]], own: Array[Long], all: Seq[Array[Long]]): Unit =
    files.zipWithIndex.foreach { case (f, i) =>
      val lowest = if (i >= 3) all.map(_(i - 3)).min else Long.MinValue
      val highest = if (i >= 1) own(i - 1) else Long.MinValue
      f.foreach { e =>
        val ms = e.tsUs / 1000L
        if (e.late && !(ms <= lowest))
          throw new IllegalStateException(s"row ${e.id} planted late is not behind the watermark")
        if (!e.late && highest != Long.MinValue && !(ms > highest))
          throw new IllegalStateException(s"on-time row ${e.id} is not ahead of the watermark")
      }
    }

  final case class Sessions(rows: Map[(String, Long), SessionRow], trigger: Map[(String, Long), Int],
      late: Long)

  /** Session windows over the on-time rows: per key, sort by event time and
    * start a new session when the gap to the previous row reaches `gapUs`.
    * A session is emitted once the watermark passes its last row plus the
    * gap; `trigger` is the first file whose rows push the watermark there. */
  def sessions(files: IndexedSeq[IndexedSeq[Ev]], gapUs: Long, delayMs: Long): Sessions = {
    val wm = watermarks(files, delayMs)
    checkLateness(files, wm, Seq(wm))
    val rows = files.flatten
    val late = rows.count(_.late).toLong
    val out = mutable.Map.empty[(String, Long), SessionRow]
    val trig = mutable.Map.empty[(String, Long), Int]
    rows.filterNot(_.late).groupBy(_.user).foreach { case (user, evs) =>
      val ts = evs.map(_.tsUs).sorted
      var start = ts.head; var last = ts.head; var n = 1L
      def close(): Unit = {
        val end = last + gapUs
        val f = wm.indexWhere(w => w != Long.MinValue && end <= w * 1000L)
        if (f >= 0) { out((user, start)) = SessionRow(user, start, last, n); trig((user, start)) = f }
      }
      ts.tail.foreach { t =>
        if (t < last + gapUs) { last = t; n += 1 }
        else { close(); start = t; last = t; n = 1 }
      }
      close()
    }
    Sessions(out.toMap, trig.toMap, late)
  }

  final case class Joined(pairs: Set[(Long, Long)], trigger: Map[(Long, Long), Int], late: Long)

  /** Interval join: (a, b) with equal user and a.ts < b.ts <= a.ts + horizon,
    * over the on-time rows of both sides. The trigger is an arrival slot,
    * 2 · file for a clicks file and 2 · file + 1 for a purchases file. */
  def join(clicks: IndexedSeq[IndexedSeq[Ev]], buys: IndexedSeq[IndexedSeq[Ev]],
      horizonUs: Long, delayMs: Long): Joined = {
    val wc = watermarks(clicks, delayMs)
    val wb = watermarks(buys, delayMs)
    checkLateness(clicks, wc, Seq(wc, wb))
    checkLateness(buys, wb, Seq(wc, wb))
    val a = clicks.flatten.filterNot(_.late).groupBy(_.user).map { case (u, es) =>
      val sorted = es.sortBy(_.tsUs).toArray
      u -> (sorted, sorted.map(_.tsUs))
    }
    val pairs = mutable.Set.empty[(Long, Long)]
    val trig = mutable.Map.empty[(Long, Long), Int]
    buys.flatten.filterNot(_.late).foreach { b =>
      a.get(b.user).foreach { case (cs, ts) =>
        // clicks with b.ts - horizon <= c.ts < b.ts
        var k = lowerBound(ts, b.tsUs - horizonUs)
        while (k < ts.length && ts(k) < b.tsUs) {
          val c = cs(k)
          pairs += ((c.id, b.id))
          // the purchases file of an index arrives after the clicks file
          trig((c.id, b.id)) = if (c.file > b.file) 2 * c.file else 2 * b.file + 1
          k += 1
        }
      }
    }
    Joined(pairs.toSet, trig.toMap, (clicks.flatten ++ buys.flatten).count(_.late).toLong)
  }

  private def lowerBound(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }

  def shingles(canon: String, n: Int = 3): Set[String] =
    canon.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a & b).size.toDouble / (a | b).size

  final case class Crawl(kept: Set[Long], droppable: Set[Long])

  /** Planted crawl truth: exact dedup keeps the lowest id per canonical
    * text; each planted cluster then keeps its longest text (lowest id on
    * ties). Verified with exact shingle Jaccard: each cluster is connected
    * at `threshold`, and no two texts of different clusters reach `crossMax`. */
  def crawl(docs: IndexedSeq[Doc], threshold: Double, crossMax: Double): Crawl = {
    val reps = docs.groupBy(_.canon).map { case (_, ds) => ds.minBy(_.id) }.toIndexedSeq
    val sh = reps.map(d => d.id -> shingles(d.canon)).toMap
    val kept = reps.groupBy(_.group).values.map { members =>
      if (members.length > 1) {
        // connected at the threshold
        val seen = mutable.Set(members.head.id)
        var frontier = List(members.head)
        while (frontier.nonEmpty) {
          val cur = frontier.head; frontier = frontier.tail
          members.foreach { m =>
            if (!seen(m.id) && jaccard(sh(cur.id), sh(m.id)) >= threshold) { seen += m.id; frontier ::= m }
          }
        }
        if (seen.size != members.length)
          throw new IllegalStateException(s"planted cluster ${members.head.group} is not connected")
      }
      members.minBy(d => (-d.canon.length, d.id)).id
    }.toSet
    // no pair of different clusters may come near the threshold
    val byShingle = mutable.Map.empty[String, mutable.ArrayBuffer[Doc]]
    reps.foreach(d => sh(d.id).foreach(s => byShingle.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d))
    val shared = mutable.Map.empty[(Long, Long), Int]
    byShingle.values.foreach { ds =>
      for (x <- ds; y <- ds if x.id < y.id && x.group != y.group)
        shared((x.id, y.id)) = shared.getOrElse((x.id, y.id), 0) + 1
    }
    shared.foreach { case ((x, y), c) =>
      val j = c.toDouble / (sh(x).size + sh(y).size - c)
      if (j >= crossMax) throw new IllegalStateException(s"documents $x and $y of different clusters are similar")
    }
    Crawl(kept, docs.map(_.id).toSet -- kept)
  }
}

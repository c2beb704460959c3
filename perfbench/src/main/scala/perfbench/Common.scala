package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Settings of one workload, or the session settings, read from
  * `perfbench/workloads.json`. */
final class Params(val name: String, node: JsonNode) {
  private def get(k: String): JsonNode =
    Option(node.get(k)).getOrElse(throw new IllegalArgumentException(s"$name: missing setting $k"))
  def int(k: String): Int = get(k).asInt()
  def long(k: String): Long = get(k).asLong()
  def double(k: String): Double = get(k).asDouble()
  def str(k: String): String = get(k).asText()
  def bool(k: String): Boolean = get(k).asBoolean()
  def intRange(k: String): (Int, Int) = (get(k).get(0).asInt(), get(k).get(1).asInt())
  def longRange(k: String): (Long, Long) = (get(k).get(0).asLong(), get(k).get(1).asLong())
}

object Params {
  def load(file: File, workload: String): Params = {
    val root = new ObjectMapper().readTree(file)
    val w = root.get("workloads").get(workload)
    if (w == null) throw new IllegalArgumentException(s"unknown workload $workload")
    new Params(workload, w)
  }

  def session(file: File): Params = new Params("session", new ObjectMapper().readTree(file).get("session"))
}

/** One named metric value as printed in the result line. */
final case class Metric(name: String, value: Double, unit: String)

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Peak heap in use right after a collection, from the JVM's GC
  * notifications (each notification carries the pools' usage after that
  * collection). `reset()` starts a new window. */
object HeapWatch {
  @volatile private var peak = 0L
  private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      val listener = new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == "com.sun.management.gc.notification") {
            val info = n.getUserData.asInstanceOf[CompositeData]
            val after = info.get("gcInfo").asInstanceOf[CompositeData]
              .get("memoryUsageAfterGc").asInstanceOf[javax.management.openmbean.TabularData]
            val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
              .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
            var used = 0L
            after.values().asScala.foreach { row =>
              val r = row.asInstanceOf[CompositeData]
              if (heapPools.contains(r.get("key").asInstanceOf[String]))
                used += r.get("value").asInstanceOf[CompositeData].get("used").asInstanceOf[Long]
            }
            if (used > peak) peak = used
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ => ()
      }
      installed = true
    }
  }

  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
}

object Clock {
  def nowMs: Double = System.nanoTime() / 1e6
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

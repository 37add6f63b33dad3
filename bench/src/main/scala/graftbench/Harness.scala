package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One closed-loop client's record: per-kind latencies, how many
  * operations were attempted, and which failed or returned a wrong
  * result. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  /** Time `body` as one sample of `kind`, in milliseconds. */
  def time[A](kind: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    add(kind, (System.nanoTime() - t0) / 1e6)
    r
  }

  def add(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, ArrayBuffer.empty) += ms

  def of(kind: String): Seq[Double] = samples.getOrElse(kind, ArrayBuffer.empty).toSeq

  /** Work done, in the workload's own items (rows, documents). */
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def count(kind: String, n: Double): Unit = counts(kind) += n

  /** One operation: it fails if it throws or its check returns false. */
  def attempt(kind: String)(body: => Boolean): Unit = {
    attempted += 1
    val noted = failures.size
    val ok = try body catch {
      case NonFatal(e) =>
        failures += s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
    if (!ok) {
      failed += 1
      if (failures.size == noted) failures += s"$kind: wrong result"
    }
  }

  /** Record why a check rejected a result (kept short for the log). */
  def why(msg: String): Boolean = { failures += msg.take(300); false }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** The highest whole percentile with at least ten of `n` samples
    * beyond it, for the printed notes. */
  def supported(n: Int): String =
    if (n < 20) s"no percentile has ten samples beyond it at n=$n"
    else s"highest supported percentile p${math.min(99, ((1.0 - 10.0 / n) * 100).floor.toInt)}"
}

/** A named metric as printed. `slot` names the end-to-end metric of
  * BENCHMARK.json that carries it (value times `scale`), if any: every
  * workload fills every slot, each with its own headline number. */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 0,
                        note: String = "", slot: String = "", scale: Double = 1.0) {
  def gate(s: String, sc: Double = 1.0): Metric = copy(slot = s, scale = sc)
}

object Heap {
  /** Live heap at the end of the window, the workload's state at its
    * largest: what a full collection leaves. (What survives a young
    * collection depends on when it happens, so those are left out.) */
  def liveMb: Double = {
    System.gc()
    System.runFinalization()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)
}

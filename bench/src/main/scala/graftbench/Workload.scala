package graftbench

import org.apache.spark.sql.SparkSession

import java.security.MessageDigest

/** What every workload shares: the session, the tracer, the seed, and a
  * digest of the inputs it generated (same seed, same digest). */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long) {
  private val md = MessageDigest.getInstance("SHA-256")
  def digest(bytes: Array[Byte]): Unit = md.update(bytes)
  def digest(s: String): Unit = md.update(s.getBytes("UTF-8"))
  def inputDigest: String = md.clone().asInstanceOf[MessageDigest].digest()
    .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** A generator for item `i` of stream `stream`: independent of how many
    * items a run gets through, so the k-th input is the same in every run
    * with this seed. */
  def rng(stream: String, i: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L ^ stream.hashCode.toLong * 7919L ^ i * 104729L)

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
}

/** A closed loop with one client: each operation starts when the previous
  * one has returned, as for a nightly job, a report or a retrieval stage
  * that waits for its reply. */
trait Workload {
  /** Input sizes and varied properties, printed with every run. */
  def describe: String

  /** Build a fresh initial state under `dir` from the seed: generate the
    * inputs and load them. */
  def build(dir: String): Unit

  /** Run each timed path once on the built state, so code generation and
    * caches are warm before the measured window. */
  def warmUp(): Unit

  /** Feed the inputs every run with this seed sees into the context's
    * digest. */
  def digestInputs(): Unit

  /** One measured window: the whole cycles of the workload's operations
    * that nominally fill `seconds` (see [[Workload.cycles]]). Each
    * operation is checked against the benchmark's own model and recorded
    * in `rec`. */
  def run(rec: Recorder, seconds: Double): Unit

  /** This workload's end-to-end metrics from a run's record. */
  def endToEnd(rec: Recorder): Seq[Metric]

  /** The workload's main versioned table, described at the end of a
    * traced run. */
  def tableRoot: String

  /** Hand the workload's checker a deliberately corrupted copy of a real
    * result; true when the checker rejects it. */
  def selfTest(): Boolean
}

object Workload {
  /** How many whole cycles of nominal length `cycleS` fill a window of
    * `seconds` (at least one). The count depends on the requested window
    * only, not on how fast this run goes: a window that ran until a
    * deadline would hold one operation more or less depending on the
    * speed of the ones before it, and its medians would jump between
    * runs. */
  def cycles(seconds: Double, cycleS: Double): Int = math.max(1, math.round(seconds / cycleS).toInt)
}

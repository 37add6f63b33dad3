package graftbench

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into each layer, and the Spark jobs
  * each span caused. Disabled, a span is a plain call: the untraced run
  * pays nothing. Enabled, every job is tagged with the innermost open span
  * through a local property of its own (the program's `JobDesc` owns
  * `spark.job.description`, which is recorded per job as its label).
  * Spans and jobs stay in memory; [[summary]] derives the counters once
  * the run has ended. */
final class Tracer(spark: SparkSession, listen: Boolean) {
  import Tracer._

  @volatile var enabled = false

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageCost]()
  // span clock (nanoTime) -> the listener events' wall clock (ms)
  private val clockNs = System.nanoTime()
  private val clockMs = System.currentTimeMillis().toDouble
  private def wallMs(ns: Long): Double = clockMs + (ns - clockNs) / 1e6

  if (listen) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      val label = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, span, label, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stages.put(e.stageInfo.stageId, StageCost(
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  })

  /** Run `body` as span `name`, a child of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (r0, w0) = fsBytes()
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, System.nanoTime())
      spans += s
      stack.push(s)
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        val (r1, w1) = fsBytes()
        s.fsRead = r1 - r0
        s.fsWrite = w1 - w0
        sc.setLocalProperty(SpanKey, prev)
        stack.pop()
      }
    }

  /** Attach a named value to the innermost open span. Untraced, `value`
    * is not evaluated. */
  def note(key: String, value: => Double): Unit =
    if (enabled) stack.headOption.foreach(add(_, key, value))

  /** Attach a named value to the latest closed span called `name`, for
    * values measured after the span so they cost it nothing. */
  def noteLast(name: String, key: String, value: => Double): Unit =
    if (enabled) spans.reverseIterator.find(s => s.name == name && s.endNs != 0L)
      .foreach(add(_, key, value))

  private def add(s: Span, key: String, value: Double): Unit =
    s.notes(key) = s.notes.getOrElse(key, 0.0) + value

  /** Files the file scans of an executed frame opened, from the scan
    * nodes' own `numFiles` metric. */
  def filesRead(df: DataFrame): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec => f.metrics.get("numFiles").fold(0L)(_.value)
      case other => (other.children ++ other.subqueries).map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Every listener event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerDrain.drain(spark, 60000)

  /** Per-name aggregates over every recorded span: call count, self
    * time, and the jobs tagged to the span itself (innermost wins). */
  def summary(): Map[String, SpanStats] = {
    drain()
    val cost = jobCosts()
    val jobsOf = jobs.values.asScala.toSeq.groupBy(_.span)
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val st = new SpanStats(name)
      ss.foreach { s =>
        val lo = wallMs(s.startNs); val hi = wallMs(s.endNs)
        val childIv = kids.getOrElse(s.id, Nil).toSeq.map(c => (wallMs(c.startNs), wallMs(c.endNs)))
        val selfIv = Intervals.minus((lo, hi), childIv)
        val own = jobsOf.getOrElse(s.id, Nil)
        val jobIv = own.map(j => (j.startMs, if (j.endMs < 0) hi else j.endMs))
        val covered = Intervals.overlap(selfIv, Intervals.union(jobIv))
        val selfMs = Intervals.length(selfIv)
        // file bytes moved inside the span minus what its tasks (and its
        // children's tasks) read and wrote: the driver-side remainder
        val subtree = subtreeIds(s.id, kids)
        val taskIo = subtree.flatMap(jobsOf.getOrElse(_, Nil)).map(cost).foldLeft(StageCost.Zero)(_ + _)
        st.calls += 1
        st.selfMs += selfMs
        st.gapMs += selfMs - covered
        st.jobs += own.size
        st.labels ++= own.map(_.label)
        own.map(cost).foreach { c => st.taskMs += c.taskMs; st.shuffleBytes += c.shuffleBytes }
        st.fsWrite += s.fsWrite
        st.driverRead += math.max(0L, s.fsRead - taskIo.inputBytes)
        st.driverWrite += math.max(0L, s.fsWrite - taskIo.outputBytes)
        s.notes.foreach { case (k, v) => st.notes(k) = st.notes.getOrElse(k, 0.0) + v }
      }
      name -> st
    }
  }

  /** Each job's stages summed; a stage shared by several jobs counts
    * once, under the first job that listed it. */
  private def jobCosts(): Job => StageCost = {
    val byJob = stages.asScala.toSeq.groupBy { case (s, _) => stageJob.getOrDefault(s, -1) }
      .map { case (j, cs) => j -> cs.map(_._2).foldLeft(StageCost.Zero)(_ + _) }
    j => byJob.getOrElse(j.id, StageCost.Zero)
  }

  private def subtreeIds(id: Int, kids: collection.Map[Int, ArrayBuffer[Span]]): Seq[Int] =
    id +: kids.getOrElse(id, Nil).toSeq.flatMap(c => subtreeIds(c.id, kids))

  /** Every span, one JSON object per line, with the jobs tagged to it. */
  def write(path: String): Unit = {
    drain()
    val cost = jobCosts()
    val jobsOf = jobs.values.asScala.toSeq.groupBy(_.span)
    val lines = spans.map { s =>
      val js = jobsOf.getOrElse(s.id, Nil).sortBy(_.id).map { j =>
        val c = cost(j)
        s"""{"job": ${j.id}, "label": ${Json.str(j.label)}, "start_ms": ${Json.num(j.startMs)}, """ +
          s""""end_ms": ${Json.num(j.endMs)}, "task_ms": ${c.taskMs}, "shuffle_bytes": ${c.shuffleBytes}}"""
      }
      s"""{"span": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${Json.num(wallMs(s.startNs))}, "end_ms": ${Json.num(wallMs(s.endNs))}, """ +
        s""""fs_read_bytes": ${s.fsRead}, "fs_write_bytes": ${s.fsWrite}, "jobs": [${js.mkString(", ")}]}"""
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, lines.asJava)
  }

  /** Jobs started inside [loNs, hiNs] of the span clock. */
  def jobsBetween(loNs: Long, hiNs: Long): Int = {
    drain()
    val lo = wallMs(loNs); val hi = wallMs(hiNs)
    jobs.values.asScala.count(j => j.startMs >= lo && j.startMs <= hi)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
    var endNs = 0L
    var fsRead = 0L
    var fsWrite = 0L
    val notes = mutable.Map.empty[String, Double]
  }

  final class Job(val id: Int, val span: Int, val label: String, val startMs: Double) {
    @volatile var endMs = -1.0
  }

  final case class StageCost(taskMs: Long, shuffleBytes: Long, inputBytes: Long,
                             outputBytes: Long) {
    def +(o: StageCost): StageCost = StageCost(taskMs + o.taskMs,
      shuffleBytes + o.shuffleBytes, inputBytes + o.inputBytes, outputBytes + o.outputBytes)
  }
  object StageCost { val Zero: StageCost = StageCost(0, 0, 0, 0) }

  final class SpanStats(val name: String) {
    var calls = 0L
    var selfMs, gapMs = 0.0
    var jobs, taskMs, shuffleBytes, fsWrite, driverRead, driverWrite = 0L
    val labels = ArrayBuffer.empty[String]
    val notes = mutable.Map.empty[String, Double]
    def perCall(x: Double): Double = if (calls == 0) 0.0 else x / calls
  }

  /** Bytes read and written through the local `file` scheme by the whole
    * JVM, driver and (local-mode) executor threads alike. */
  def fsBytes(): (Long, Long) = {
    @annotation.nowarn("cat=deprecation")
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** Closed intervals on one clock, as (start, end) pairs. */
object Intervals {
  type Iv = (Double, Double)

  def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def length(ivs: Seq[Iv]): Double = ivs.map(i => i._2 - i._1).sum

  /** `base` with every interval of `cut` removed. */
  def minus(base: Iv, cut: Seq[Iv]): Seq[Iv] = {
    val out = ArrayBuffer.empty[Iv]
    var at = base._1
    union(cut).foreach { case (s, e) =>
      if (s > at) out += ((at, math.min(s, base._2)))
      at = math.max(at, e)
    }
    if (at < base._2) out += ((at, base._2))
    out.filter(i => i._2 > i._1).toSeq
  }

  /** Length of the intersection of two unions of intervals. */
  def overlap(a: Seq[Iv], b: Seq[Iv]): Double =
    (for (x <- a; y <- b) yield math.max(0.0, math.min(x._2, y._2) - math.max(x._1, y._1))).sum
}

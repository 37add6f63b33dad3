package graftbench

import graft.io.Versioned

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

/** The repository benchmark. One run: start a session at local[cores],
  * build the workload's initial state from the seed, warm every timed
  * path up once, run one closed-loop client for a window of `--seconds`
  * (whole cycles of the workload's operations, see Workload.cycles),
  * check every result, and print the metrics, the last line being one
  * JSON object.
  * `setup_s` is the session start, the build and the warm-up.
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` runs a traced
  * window and another untraced one after the first, prints the per-layer
  * metrics of the traced window and writes its spans and jobs to
  * `--spans <file>` (one JSON object per span).
  *
  * Usage: Main --workload <sap_nightly|lake_serve|llm_corpus> --seed <n>
  *             --seconds <s> --trace <0|1> --work <dir> [--spans <file>] */
object Main {
  /** The end-to-end metrics of BENCHMARK.json, with units. Every
    * workload fills each from one of its own named metrics. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "ok_ratio" -> "ratio",
    "work_per_s" -> "1/s", "read_ms_p50" -> "ms", "write_ms_p50" -> "ms",
    "result_quality" -> "ratio")

  /** Every per-layer span; each gets the five counters below. */
  val SpanNames: Seq[String] = Seq(
    "io.versioned.mergeInto", "io.versioned.mergeIntoDv", "io.versioned.deleteWhereDv",
    "io.versioned.compactSmall", "io.versioned.dvMaterialize", "io.versioned.readPruned",
    "io.versioned.read", "io.versioned.commit",
    "pipelines.WeeklySales.report", "pipelines.StoreRp.report",
    "ops.TextAnalysis.gate", "ops.Dedup.nearDup", "ops.Dedup.removeDuplicateSpans",
    "ops.AnnIndex.trainAndRebuild", "ops.AnnIndex.prepare", "ops.PreparedAnnSearch.search")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark, listen = trace)
    val ctx = new Ctx(spark, tracer, seed)
    val wl: Workload = workload match {
      case "sap_nightly" => new SapNightly(ctx)
      case "lake_serve" => new LakeServe(ctx)
      case "llm_corpus" => new LlmCorpus(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println(s"workload $workload seed $seed seconds $seconds trace ${if (trace) 1 else 0} " +
      s"local[$cores] one closed-loop client")
    println(s"inputs: ${wl.describe}")

    def secs(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val buildS = secs(wl.build(s"$work/state"))
    val warmS = secs(wl.warmUp())
    wl.digestInputs()
    println(s"input digest: ${ctx.inputDigest}")
    val setupS = sessionS + buildS + warmS
    println(f"setup: session $sessionS%.3f s, build $buildS%.3f s, warm-up $warmS%.3f s")

    val metrics = ArrayBuffer.empty[Metric]
    val recs = ArrayBuffer.empty[Recorder]
    val untraced = new Recorder
    recs += untraced
    wl.run(untraced, seconds)
    if (!trace) {
      metrics += Metric("setup_s", setupS, "s").gate("setup_s")
      metrics ++= wl.endToEnd(untraced)
      metrics += Metric("ok_ratio", 1.0 - untraced.failed.toDouble / untraced.attempted, "ratio",
        untraced.attempted.toInt, s"fail_ratio ${untraced.failed}/${untraced.attempted}").gate("ok_ratio")
      // printed only: at these sizes the live heap is mostly Spark's own
      // caches and varies by a quarter between runs
      metrics += Metric("peak_heap_mb", Heap.liveMb, "MiB")
    } else {
      // a traced window between two untraced ones of the same length: the
      // traced window gives the per-layer numbers, and its latencies
      // against the untraced windows' (before and after, so a still-
      // warming JVM does not pass for tracing cost) give the overhead
      val traced = new Recorder
      recs += traced
      tracer.enabled = true
      val t0 = System.nanoTime()
      val gc0 = Heap.gcMs()
      wl.run(traced, seconds)
      val t1 = System.nanoTime()
      val gcMs = Heap.gcMs() - gc0
      tracer.enabled = false
      val after = new Recorder
      recs += after
      wl.run(after, seconds)
      metrics ++= layerMetrics(tracer, wl, spark, Seq(untraced, after), traced,
        tracer.jobsBetween(t0, t1), gcMs)
      args.get("spans").foreach { path =>
        tracer.write(path)
        println(s"spans and jobs written to $path")
      }
    }
    val selfTestOk = wl.selfTest()
    println(s"self-test: a corrupted result was ${if (selfTestOk) "counted as failed" else "NOT caught"}")
    val attempted = recs.map(_.attempted).sum
    val failed = recs.map(_.failed).sum
    recs.flatMap(_.failures).take(10).foreach(f => println(s"failure: $f"))
    println(f"fail_ratio: $failed/$attempted = ${failed.toDouble / math.max(1L, attempted)}%.4f")
    for ((r, window) <- recs.zip(Seq("", "traced ", "after ")); (kind, xs) <- r.samples)
      println(s"samples $window$kind n=${xs.size} ms: ${xs.map(x => f"$x%.1f").mkString(" ")}")
    metrics.foreach { m =>
      val n = if (m.samples > 0) s" (n=${m.samples})" else ""
      val note = if (m.note.nonEmpty) s" [${m.note}]" else ""
      println(s"metric ${m.name} = ${m.value} ${m.unit}$n$note")
    }
    val reported =
      if (trace) metrics.toSeq.map(m => (m.name, m.value, m.unit))
      else {
        val bySlot = metrics.filter(_.slot.nonEmpty).map(m => m.slot -> m).toMap
        val missing = EndToEnd.map(_._1).filterNot(bySlot.contains)
        require(missing.isEmpty, s"$workload fills no end-to-end metric ${missing.mkString(", ")}")
        EndToEnd.map { case (slot, unit) =>
          val m = bySlot(slot)
          println(s"end-to-end $slot = ${m.value * m.scale} $unit (from ${m.name})")
          (slot, m.value * m.scale, unit)
        }
      }
    val correct = selfTestOk && failed == 0 && attempted > 0
    val body = reported.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }.mkString(", ")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  /** The traced window's per-layer numbers. Span counters are per call of
    * the span; workload counters are per operation. */
  private def layerMetrics(tracer: Tracer, wl: Workload, spark: org.apache.spark.sql.SparkSession,
                           untraced: Seq[Recorder], traced: Recorder, jobs: Int,
                           gcMs: Long): Seq[Metric] = {
    val sum = tracer.summary()
    def st(n: String) = sum.getOrElse(n, new Tracer.SpanStats(n))
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val out = ArrayBuffer.empty[Metric]
    SpanNames.foreach { n =>
      val s = st(n)
      out += Metric(s"$n.self_ms", s.perCall(s.selfMs), "ms", s.calls.toInt)
      out += Metric(s"$n.jobs", s.perCall(s.jobs.toDouble), "count", s.calls.toInt)
      out += Metric(s"$n.gap_ms", s.perCall(s.gapMs), "ms", s.calls.toInt)
      out += Metric(s"$n.task_ms", s.perCall(s.taskMs.toDouble), "ms", s.calls.toInt)
      out += Metric(s"$n.shuffle_bytes", s.perCall(s.shuffleBytes.toDouble), "bytes", s.calls.toInt)
      if (s.calls > 0) println(s"job labels of $n: " +
        s.labels.groupBy(identity).map { case (l, ls) => s"${ls.size}x '${if (l.isEmpty) "(none)" else l}'" }
          .mkString(", "))
    }
    Seq("io.versioned.mergeInto", "io.versioned.mergeIntoDv").foreach { n =>
      val s = st(n)
      out += Metric(s"$n.write_amp", ratio(s.fsWrite.toDouble, s.notes.getOrElse("merged_bytes", 0.0)),
        "ratio", s.calls.toInt)
    }
    Seq("io.versioned.read", "io.versioned.readPruned").foreach { n =>
      val s = st(n)
      out += Metric(s"$n.files_read_frac",
        ratio(s.notes.getOrElse("files_read", 0.0), s.notes.getOrElse("live_files", 0.0)),
        "ratio", s.calls.toInt)
    }
    val versioned = sum.values.filter(_.name.startsWith("io.versioned."))
    val vCalls = versioned.map(_.calls).sum.toDouble
    out += Metric("io.versioned.driver_read_bytes", ratio(versioned.map(_.driverRead).sum, vCalls),
      "bytes", vCalls.toInt)
    out += Metric("io.versioned.driver_write_bytes", ratio(versioned.map(_.driverWrite).sum, vCalls),
      "bytes", vCalls.toInt)
    val root = wl.tableRoot
    val detail = Versioned.describeDetail(spark, root)
    val live = Versioned.countRows(spark, root)
    out += Metric("io.versioned.versions", Versioned.versions(spark, root).size.toDouble, "count")
    out += Metric("io.versioned.live_files", detail.numFiles.toDouble, "count")
    out += Metric("io.versioned.dv_files", detail.numDeletionVectors.toDouble, "count")
    out += Metric("io.versioned.dead_row_frac",
      ratio(detail.dvDeletedRows.toDouble, (live + detail.dvDeletedRows).toDouble), "ratio")
    // the weekly report is planned inside Versioned.mergeInto's own
    // queries, so only the store RP report's planning is separable
    val reports = st("pipelines.StoreRp.report")
    out += Metric("plans.report.plan_ms", ratio(reports.notes.getOrElse("plan_ms", 0.0),
      reports.calls.toDouble), "ms", reports.calls.toInt, "store RP report only")
    val ops = traced.attempted.toDouble
    out += Metric("spark.jobs_per_op", ratio(jobs, ops), "count", ops.toInt)
    out += Metric("spark.gc_ms", ratio(gcMs.toDouble, ops), "ms", ops.toInt)
    val opSpans = sum.values.filter(_.name.startsWith("op."))
    out += Metric("trace.unattributed_ms", ratio(opSpans.map(_.selfMs).sum, opSpans.map(_.calls).sum.toDouble),
      "ms", opSpans.map(_.calls).sum.toInt)
    // latency-weighted traced/untraced ratio over the kinds both halves ran
    def plain(k: String) = untraced.flatMap(_.of(k))
    val kinds = traced.samples.keys.filter(k => plain(k).nonEmpty).toSeq
    val t = kinds.map(k => traced.of(k).size * Stats.median(traced.of(k))).sum
    val u = kinds.map(k => traced.of(k).size * Stats.median(plain(k))).sum
    out += Metric("trace.overhead_frac", ratio(t, u) - (if (u == 0) 0 else 1), "ratio", kinds.size)
    out.toSeq
  }
}

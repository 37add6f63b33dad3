package graft

import graft.io.Versioned
import graft.io.Versioned._
import org.apache.spark.graftx.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Both sides of the MERGE source selection: a source within
  * `spark.sql.autoBroadcastJoinThreshold` is pinned on the driver (key
  * filter, per-key-column file pruning, one-file batch with driver-built
  * blooms), a larger one keeps the persisted join path. The pin is
  * decided by the plan's size estimate, else by the measured size: a
  * join whose estimate is far above the threshold but whose rows fit is
  * pinned, and a source estimated within but measuring above falls back.
  * Every case runs the same merges on two identical tables — one at the
  * default (or a given) threshold, one with the threshold at -1, which
  * forces the join path — and requires identical snapshots, versions and
  * errors. The job-count and label pins hold the cost and observability
  * of the writers; declines are logged, a measured source is evaluated
  * once, and the bounded collect ships the driver at most the threshold's
  * bytes however its rows spread over partitions. */
class MergePinSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpRoot(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows of the newest snapshot, rendered and sorted (NaN and -0.0
    * render distinctly, so a normalization difference shows). */
  private def snapshot(root: String): Seq[String] =
    Versioned.read(spark, root).collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.toString(d)
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def outcome[A](body: => A): Either[String, A] =
    try Right(body) catch { case e: IllegalArgumentException => Left(e.getMessage) }

  /** Build the same table twice, run `ops` on each — pinned at the
    * default threshold, joined at -1 — and require the same versions,
    * errors and snapshots. Returns the pinned side's snapshot. */
  private def bothPaths(prefix: String, threshold: Option[String] = None)(build: String => Unit)
                       (ops: String => Seq[Either[String, Long]]): Seq[String] = {
    val pinned = tmpRoot(prefix)
    val joined = tmpRoot(prefix)
    build(pinned)
    build(joined)
    val a = threshold.fold(ops(pinned))(t =>
      withConf("spark.sql.autoBroadcastJoinThreshold" -> t)(ops(pinned)))
    val b = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(ops(joined))
    assert(a == b, "the two paths must return the same versions and messages")
    assert(snapshot(pinned) == snapshot(joined))
    snapshot(pinned)
  }

  private val both: Seq[(String, (String, DataFrame, Seq[String]) => Long)] = Seq(
    "mergeInto" -> ((r, s, k) => Versioned.mergeInto(spark, r, s, k)),
    "mergeIntoDv" -> ((r, s, k) => Versioned.mergeIntoDv(spark, r, s, k)))

  private val pairSchema = StructType(Seq(StructField("a", LongType), StructField("b", StringType),
    StructField("v", StringType)))

  private def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).localCheckpoint()

  private def local(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val factSchema = StructType(Seq(StructField("Date", DateType),
    StructField("Article", StringType), StructField("Site", StringType),
    StructField("Quantity", LongType), StructField("Cost", DecimalType(12, 2))))
  private val promoSchema = StructType(Seq(StructField("Date", DateType),
    StructField("Article", StringType), StructField("Site", StringType),
    StructField("Amt", DecimalType(12, 2))))

  /** The weekly sales report (two calendar-joined aggregates, full-outer
    * merged) over seeded facts for 4 weeks, weeks `lo..hi`: a join whose
    * plan estimate is far above any threshold, with few result rows. */
  private def weekly(seed: Int, lo: Int, hi: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def day(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    def dec() = new java.math.BigDecimal(rnd.nextInt(10000)).movePointLeft(2)
    def site() = (1000 + rnd.nextInt(7) * 1000).toString
    val zmb = df(factSchema, (0 until 300).map(_ =>
      Row(day(rnd.nextInt(28)), s"A${rnd.nextInt(12)}", site(), rnd.nextInt(50).toLong, dec())): _*)
    val zst = df(promoSchema, (0 until 150).map(_ =>
      Row(day(rnd.nextInt(28)), s"A${rnd.nextInt(12)}", site(), dec())): _*)
    val calendar = local(StructType(Seq(StructField("Date", DateType),
      StructField("AcctWk", IntegerType))), (0 until 28).map(i => Row(day(i), 1 + i / 7)): _*)
    graft.pipelines.WeeklySalesPipeline.report(zmb, zst, calendar, lo, hi)
  }

  private def weeklyTable(r: String): Unit =
    Versioned.commit(spark, weekly(1, 1, 2).coalesce(1), r, statsCols = Seq("AcctWk"),
      bloomCols = Seq("Article"))

  test("KeyIn: generated and interpreted evaluation agree; a null component never matches") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GeneratePredicate
    import org.apache.spark.unsafe.types.UTF8String
    def u(x: String) = UTF8String.fromString(x)
    val types = Seq(LongType, StringType, DateType)
    val keys = graft.io.KeyIn.keysOf(Seq(InternalRow(1L, u("a"), 19000),
      InternalRow(2L, u("b"), 19001), InternalRow(3L, null, 19002)), Seq(0, 1, 2), types)
    assert(keys.size == 2, "a key with a null component is left out")
    val e = graft.io.KeyIn(
      types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) },
      spark.sparkContext.broadcast(graft.io.KeyIn.pack(keys)))
    val generated = GeneratePredicate.generate(e)
    Seq(InternalRow(1L, u("a"), 19000) -> true, InternalRow(2L, u("b"), 19001) -> true,
      InternalRow(1L, u("b"), 19000) -> false, InternalRow(1L, u("a"), 19001) -> false,
      InternalRow(1L, null, 19000) -> false, InternalRow(null, u("a"), 19000) -> false,
      InternalRow(3L, null, 19002) -> false,
      InternalRow(null, null, null) -> false).foreach { case (row, want) =>
      assert(e.eval(row) == want && generated.eval(row) == want, s"$row")
    }
  }

  test("null key components never match and insert, on both paths") {
    both.foreach { case (name, merge) =>
      val out = bothPaths(s"graft_pin_null_$name") { r =>
        Versioned.commit(spark, local(pairSchema,
          Row(1L, "x", "t1"), Row(2L, null, "t2"), Row(null, "y", "t3"), Row(3L, "z", "t4"))
          .coalesce(1), r, statsCols = Seq("a"), bloomCols = Seq("a", "b"))
      } { r =>
        Seq(outcome(merge(r, local(pairSchema,
          Row(1L, "x", "s1"), Row(2L, null, "s2"), Row(null, "y", "s3"),
          Row(null, null, "s4"), Row(2L, null, "s5"), Row(4L, "w", "s6")), Seq("a", "b"))))
      }
      assert(out == Seq("1|x|s1", "2|null|s2", "2|null|s5", "2|null|t2", "3|z|t4",
        "4|w|s6", "null|null|s4", "null|y|s3", "null|y|t3"), name)
    }
  }

  test("float and double keys follow join equality for -0.0 and NaN") {
    Seq(DoubleType, FloatType).foreach { t =>
      val schema = StructType(Seq(StructField("k", t), StructField("v", StringType)))
      def num(d: Double): Any = if (t == DoubleType) d else d.toFloat
      both.foreach { case (name, merge) =>
        val out = bothPaths(s"graft_pin_float_$name") { r =>
          Versioned.commit(spark, local(schema, Row(num(0.0), "zero"), Row(num(Double.NaN), "nan"),
            Row(num(1.5), "keep")).coalesce(1), r, statsCols = Seq("k"))
        } { r =>
          Seq(outcome(merge(r, local(schema, Row(num(-0.0), "negzero"),
            Row(num(Double.NaN), "nan2")), Seq("k"))))
        }
        // -0.0 replaced the 0.0 row and NaN the NaN row, as a join does
        assert(out.map(_.split('|')(1)).sorted == Seq("keep", "nan2", "negzero"), s"$name $t: $out")
      }
    }
  }

  test("multi-column keys over long, date and string, with pruning stats and blooms") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("day", DateType),
      StructField("site", StringType), StructField("q", IntegerType)))
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    both.foreach { case (name, merge) =>
      val out = bothPaths(s"graft_pin_multi_$name") { r =>
        (0 until 3).foreach { b =>
          Versioned.commit(spark, local(schema, (0 until 20).map(i =>
            Row((b * 20 + i).toLong, d(b), s"s${i % 3}", i)): _*).coalesce(1), r,
            statsCols = Seq("id", "day"), bloomCols = Seq("id", "site"))
        }
      } { r =>
        Seq(
          outcome(merge(r, local(schema, Row(5L, d(0), "s2", -1), Row(5L, d(1), "s2", -2),
            Row(45L, d(2), "s2", -3), Row(99L, d(9), "s1", -4),
            // matches (7, day 0, s1) on id and site only: an insert
            Row(7L, d(1), "s1", -7)), Seq("id", "day", "site"))),
          // the second merge probes the first one's batch (and its blooms)
          outcome(merge(r, local(schema, Row(99L, d(9), "s1", -5), Row(6L, d(0), "s0", -6)),
            Seq("id", "day", "site"))))
      }
      assert(out.size == 63, name)
      assert(out.contains("5|2024-01-01|s2|-1") && out.contains("45|2024-01-03|s2|-3") &&
        out.contains("99|2024-01-10|s1|-5") && out.contains("6|2024-01-01|s0|-6") &&
        !out.exists(_.startsWith("5|2024-01-01|s2|5")) && out.contains("5|2024-01-02|s2|-2") &&
        out.contains("7|2024-01-01|s1|7") && out.contains("7|2024-01-02|s1|-7"),
        s"$name: $out")
    }
  }

  test("an empty source changes nothing and returns the current version") {
    both.foreach { case (name, merge) =>
      bothPaths(s"graft_pin_empty_$name") { r =>
        Versioned.commit(spark, local(pairSchema, Row(1L, "x", "t")), r)
      } { r =>
        val v = outcome(merge(r, local(pairSchema), Seq("a")))
        assert(v == Right(1L), name)
        Seq(v, outcome(merge(r, df(pairSchema), Seq("a", "b"))))
      }
    }
  }

  test("duplicate keys fail with the same message on both paths; shape errors come first") {
    both.foreach { case (name, merge) =>
      bothPaths(s"graft_pin_dup_$name") { r =>
        Versioned.commit(spark, local(pairSchema, Row(1L, "x", "t")), r)
      } { r =>
        val dup = outcome(merge(r, local(pairSchema, Row(1L, "x", "a"), Row(1L, "x", "b")),
          Seq("a", "b")))
        assert(dup.left.exists(_.contains("multiple rows per key")), s"$name: $dup")
        // a dup-keyed source that also misses a table column reports the shape
        val shape = outcome(merge(r, local(pairSchema, Row(1L, "x", "a"), Row(1L, "x", "b"))
          .drop("v"), Seq("a", "b")))
        assert(shape.left.exists(_.contains("missing table column")), s"$name: $shape")
        // null-keyed duplicates are legal: they never match
        Seq(dup, shape, outcome(merge(r, local(pairSchema, Row(null, "x", "n1"),
          Row(null, "x", "n2")), Seq("a", "b"))))
      }
    }
  }

  test("schemaEvolution = true evolves the table the same way on both paths") {
    val narrow = StructType(Seq(StructField("id", IntegerType), StructField("v", StringType)))
    val wide = StructType(Seq(StructField("id", LongType), StructField("v", StringType),
      StructField("extra", StringType)))
    val out = bothPaths("graft_pin_evolve") { r =>
      Versioned.commit(spark, local(narrow, (1 to 6).map(i => Row(i, s"old$i")): _*)
        .coalesce(1), r, statsCols = Seq("id"), bloomCols = Seq("id"))
    } { r =>
      Seq(outcome(Versioned.mergeInto(spark, r, local(wide, Row(2L, "new2", "e2"),
        Row(9L, "new9", "e9")), Seq("id"), schemaEvolution = true)))
    }
    assert(out.contains("2|new2|e2") && out.contains("9|new9|e9") && out.contains("1|old1|null") &&
      out.size == 7, out)
  }

  test("a replayed tag is a no-op on both paths") {
    both.foreach { case (name, _) =>
      bothPaths(s"graft_pin_tag_$name") { r =>
        Versioned.commit(spark, local(pairSchema, Row(1L, "x", "t")), r)
      } { r =>
        def run(v: String) = {
          val s = local(pairSchema, Row(1L, "x", v), Row(2L, "y", v))
          if (name == "mergeInto") Versioned.mergeInto(spark, r, s, Seq("a"), tag = Some("b7"))
          else Versioned.mergeIntoDv(spark, r, s, Seq("a"), tag = Some("b7"))
        }
        val first = outcome(run("first"))
        Seq(first, outcome(run("replay")))
      }
    }
  }

  test("a small source merges in at most 3 jobs (merge-on-read) and 5 (copy-on-write)") {
    def table(): String = {
      val root = tmpRoot("graft_pin_jobs")
      (0 until 4).foreach { b =>
        Versioned.commit(spark, (0L until 200L).map(i => (b * 1000L + i, s"v$i")).toDF("id", "v")
          .coalesce(1), root, statsCols = Seq("id"), bloomCols = Seq("id"))
      }
      root
    }
    def src = (Seq(5L, 1007L, 3150L) ++ (9000L until 9020L)).map(i => (i, "new")).toDF("id", "v")
    val dv = table()
    Versioned.mergeIntoDv(spark, dv, Seq((1L, "warm")).toDF("id", "v"), Seq("id"))
    val (_, dvJobs) = JobCount(spark)(Versioned.mergeIntoDv(spark, dv, src, Seq("id")))
    assert(dvJobs <= 3, s"mergeIntoDv ran $dvJobs jobs")
    val cow = table()
    Versioned.mergeInto(spark, cow, Seq((1L, "warm")).toDF("id", "v"), Seq("id"))
    val (_, cowJobs) = JobCount(spark)(Versioned.mergeInto(spark, cow, src, Seq("id")))
    assert(cowJobs <= 5, s"mergeInto ran $cowJobs jobs")
    Seq(dv, cow).foreach { r =>
      val rows = Versioned.read(spark, r).as[(Long, String)].collect()
      val got = rows.toMap
      assert(rows.length == 820 && got.size == 820, s"$r: every key once")
      assert(got(5L) == "new" && got(1007L) == "new" && got(3150L) == "new" &&
        got(9019L) == "new" && got(1L) == "warm" && got(6L) == "v6", r)
    }
    // the merge-on-read batch is one file with a bloom the lookups prune on
    val batch = s"/b${Versioned.versions(spark, dv).last}/"
    assert(Versioned.snapshotFiles(spark, dv).count(_.contains(batch)) == 1)
    assert(Versioned.read(spark, dv).filter($"id" === 9005L).as[(Long, String)].collect().toSeq ==
      Seq((9005L, "new")))
  }

  test("every job of the row-level writers carries a versioned label") {
    val root = tmpRoot("graft_pin_labels")
    Versioned.commit(spark, (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(2),
      root, statsCols = Seq("id"), bloomCols = Seq("id"))
    val ops: Seq[(String, () => Long)] = Seq(
      "updateWhereDv" -> (() => Versioned.updateWhereDv(spark, root, $"id" === 3L,
        Map("v" -> lit("u")))),
      "deleteWhere" -> (() => Versioned.deleteWhere(spark, root, $"id" % 10 === 1L)),
      "updateWhere" -> (() => Versioned.updateWhere(spark, root, $"id" === 4L,
        Map("v" -> lit("u")))),
      "mergeIntoConditional" -> (() => Versioned.mergeIntoConditional(spark, root,
        Seq((5L, "m"), (500L, "i")).toDF("id", "v"), Seq("id"),
        Seq(WhenMatchedUpdateAll(), WhenNotMatchedInsertAll()))),
      "mergeInto" -> (() => Versioned.mergeInto(spark, root, Seq((6L, "m")).toDF("id", "v"),
        Seq("id"))),
      "mergeIntoDv" -> (() => Versioned.mergeIntoDv(spark, root, Seq((7L, "m")).toDF("id", "v"),
        Seq("id"))))
    ops.foreach { case (name, op) =>
      val (_, labels) = JobCount.labels(spark)(op())
      assert(labels.nonEmpty, s"$name ran no job")
      assert(labels.forall(l => l != null && l.startsWith("versioned ") && l.endsWith(root)),
        s"$name ran unlabelled jobs: $labels")
    }
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(got(3L) == "u" && !got.contains(11L) && got(4L) == "u" && got(5L) == "m" &&
      got(500L) == "i" && got(6L) == "m" && got(7L) == "m")
  }
  test("a join source (the weekly sales report) estimated above the threshold is pinned by size") {
    val keys = graft.pipelines.WeeklySalesPipeline.upsertKeys
    assert(weekly(2, 2, 4).queryExecution.optimizedPlan.stats.sizeInBytes >
      spark.sessionState.conf.autoBroadcastJoinThreshold, "the report must estimate above")
    both.foreach { case (name, merge) =>
      Versioned.lastPinDecline.set(null)
      val out = bothPaths(s"graft_pin_weekly_$name")(weeklyTable) { r =>
        Seq(outcome(merge(r, weekly(2, 2, 4), keys)), outcome(merge(r, weekly(3, 3, 4), keys)))
      }
      assert(Versioned.lastPinDecline.get == null, s"$name: ${Versioned.lastPinDecline.get}")
      val weeks = out.map(_.split('|')(0).toInt).toSet
      assert(weeks == Set(1, 2, 3, 4) && out.size > 40, s"$name: $out")
    }
  }

  test("the weekly sales report merges in at most 9 jobs (copy-on-write), fewer than joined") {
    val keys = graft.pipelines.WeeklySalesPipeline.upsertKeys
    def jobs(): Int = {
      val root = tmpRoot("graft_pin_weekly_jobs")
      weeklyTable(root)
      Versioned.mergeInto(spark, root, weekly(2, 2, 3), keys)
      // the facts are checkpointed before the count starts
      val src = weekly(3, 3, 4)
      JobCount(spark)(Versioned.mergeInto(spark, root, src, keys))._2
    }
    val pinned = jobs()
    val joined = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(jobs())
    // the source's own stages (calendar broadcast, two aggregations, a
    // broadcast side of the full-outer join, its collect), the probe,
    // the write and the bloom harvest's two
    assert(pinned <= 9, s"mergeInto of the weekly report ran $pinned jobs")
    assert(pinned < joined, s"pinned $pinned jobs vs joined $joined")
  }

  test("a source estimated within the threshold but measuring above takes the join path") {
    // explode's estimate is its child's size: one row of a range
    def exploded = spark.range(1).select(explode(sequence(lit(0L), lit(299L))).as("a"))
      .select(col("a"), concat(lit("k"), col("a").cast(StringType)).as("b"), lit("s").as("v"))
    assert(exploded.queryExecution.optimizedPlan.stats.sizeInBytes <= 1024)
    both.foreach { case (name, merge) =>
      Versioned.lastPinDecline.set(null)
      val out = bothPaths(s"graft_pin_explode_$name", threshold = Some("1024")) { r =>
        Versioned.commit(spark, local(pairSchema, Row(5L, "k5", "t"), Row(1000L, "z", "t"))
          .coalesce(1), r, statsCols = Seq("a"), bloomCols = Seq("a"))
      } { r => Seq(outcome(merge(r, exploded, Seq("a", "b")))) }
      val why = Versioned.lastPinDecline.get
      assert(why != null && why.matches("measured \\d+ bytes > threshold 1024 bytes"), s"$name: $why")
      assert(out.size == 301 && out.contains("5|k5|s") && out.contains("1000|z|t"), name)
    }
  }

  test("a source measuring above the threshold is evaluated once, its decline logged") {
    val calls = spark.sparkContext.longAccumulator("graft_pin_evaluations")
    val tick = udf((v: String) => { calls.add(1L); v })
    both.foreach { case (name, merge) =>
      val root = tmpRoot(s"graft_pin_once_$name")
      Versioned.commit(spark, local(pairSchema, Row(1L, "x", "t1"), Row(60L, "y", "t2"))
        .coalesce(1), root, statsCols = Seq("a"))
      val src = df(pairSchema, (1 to 50).map(i => Row(i.toLong, s"k$i", s"s$i")): _*)
        .withColumn("v", tick(col("v")))
      Versioned.lastPinDecline.set(null)
      calls.reset()
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "100")(merge(root, src, Seq("a")))
      assert(calls.value == 50L, s"$name evaluated the source's rows ${calls.value} times")
      val why = Versioned.lastPinDecline.get
      assert(why != null && why.matches("measured \\d+ bytes > threshold 100 bytes"), s"$name: $why")
      val got = Versioned.read(spark, root).as[(Long, String, String)].collect()
      assert(got.length == 51 && got.contains((1L, "k1", "s1")) && got.contains((60L, "y", "t2")),
        name)
    }
  }

  /** The serialized task-result bytes the driver receives during `body`. */
  private def resultBytes[A](body: => A): (A, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val got = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => got.addAndGet(m.resultSize))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graftx.Bridge.drainListeners(spark, 60000)
      (out, got.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the bounded collect ships at most its limit to the driver, however the rows spread") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    import org.apache.spark.sql.graftx.Bridge
    val limit = 400L * 1024
    // 20 partitions of about 80 KB: each within the limit, together four
    // times over it
    val wide = spark.range(0, 16000, 1, 20).select(col("id").as("a"),
      concat(lit("k"), col("id").cast(StringType)).as("b"), lit("x" * 64).as("v"))
    val all = Bridge.collectBounded(wide, Long.MaxValue).toOption.get
    val bytes = all.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
    assert(all.size == 16000 && bytes > 4 * limit)
    val (over, shipped) = resultBytes(Bridge.collectBounded(wide, limit))
    assert(over == Left(bytes), "the measured total is exact")
    assert(shipped < limit, s"the driver received $shipped bytes for a limit of $limit")
    // within the limit, but every full partition over its twentieth:
    // those are fetched by a second job, in partition order
    val skewed = wide.filter(col("a") < 3000L)
    val (rows, jobs) = JobCount(spark)(Bridge.collectBounded(skewed, limit).toOption.get)
    assert(rows.map(_.getLong(0)) == (0L until 3000L) && jobs == 2, s"$jobs jobs")
    // both writers: the skewed source is pinned by size, the wide one
    // falls back to the join path; the snapshots match the -1 run
    assert(skewed.queryExecution.optimizedPlan.stats.sizeInBytes > limit)
    both.foreach { case (name, merge) =>
      val declines = scala.collection.mutable.Buffer[String]()
      val out = bothPaths(s"graft_pin_spread_$name", threshold = Some(limit.toString)) { r =>
        Versioned.commit(spark, local(pairSchema, Row(5L, "k5", "t"), Row(-1L, "z", "t"))
          .coalesce(1), r, statsCols = Seq("a"), bloomCols = Seq("a"))
      } { r =>
        Seq(skewed, wide).map { src =>
          Versioned.lastPinDecline.set(null)
          val got = outcome(merge(r, src, Seq("a", "b")))
          declines += Versioned.lastPinDecline.get
          got
        }
      }
      assert(declines == Seq(null, s"measured $bytes bytes > threshold $limit bytes", null, null),
        s"$name: $declines")
      assert(out.size == 16001 && out.contains("5|k5|" + "x" * 64) && out.contains("-1|z|t"), name)
    }
  }

  test("a key type without exact comparison declines with its type; -1 records nothing") {
    val schema = StructType(Seq(StructField("k", DoubleType), StructField("v", StringType)))
    both.foreach { case (name, merge) =>
      val root = tmpRoot(s"graft_pin_decline_$name")
      Versioned.commit(spark, local(schema, Row(1.0, "t")), root)
      Versioned.lastPinDecline.set(null)
      merge(root, local(schema, Row(1.0, "s")), Seq("k"))
      val why = Versioned.lastPinDecline.get
      assert(why != null && why.contains("double") && why.contains("compare exactly"),
        s"$name: $why")
      Versioned.lastPinDecline.set(null)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
        merge(root, local(schema, Row(2.0, "s")), Seq("k")))
      assert(Versioned.lastPinDecline.get == null, s"$name: the -1 threshold must record nothing")
      assert(snapshot(root) == Seq("1.0|s", "2.0|s"), name)
    }
  }
}

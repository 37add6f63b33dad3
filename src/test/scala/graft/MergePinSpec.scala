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
  * blooms), a larger one keeps the persisted join path. Every case runs
  * the same merges on two identical tables — one at the default
  * threshold, one with the threshold at -1, which forces the join path —
  * and requires identical snapshots, versions and errors. The job-count
  * and label pins hold the cost and observability of the writers. */
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
  private def bothPaths(prefix: String)(build: String => Unit)
                       (ops: String => Seq[Either[String, Long]]): Seq[String] = {
    val pinned = tmpRoot(prefix)
    val joined = tmpRoot(prefix)
    build(pinned)
    build(joined)
    val a = ops(pinned)
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
}

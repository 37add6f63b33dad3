package graft

import graft.io.Versioned
import org.apache.spark.graftx.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** The library read path ([[Versioned.read]] and everything built on it):
  * one V1 parquet scan over the stats/bloom file index, so pushed
  * equality/IN/range filters skip file opens exactly like the
  * `graft-versioned` format does, with deletion vectors applied as a row
  * filter inside that same scan — no join, no extra job. Pruning and the
  * in-scan vectors must never change a result: every assertion compares
  * against an unpruned read, a model, or the shuffle anti-join fallback. */
class VersionedReadSpec extends SparkSpecBase {
  import spark.implicits._

  private def plan(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Files the executed scans opened (the scan nodes' `numFiles`); `df`
    * must have been executed itself (not through a derived Dataset). */
  private def filesRead(df: DataFrame): Long =
    plan(df).collect { case f: FileSourceScanExec => f.metrics("numFiles").value }.sum

  /** (id, v) rows of `df`, collected from `df` itself so its scan metrics
    * are populated, and the number of files the scan opened. */
  private def lookup(df: DataFrame): (Seq[(Long, String)], Long) = {
    val rows = df.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
    (rows.sorted, filesRead(df))
  }

  private def joins(df: DataFrame): Int = plan(df).count(_.isInstanceOf[BaseJoinExec])

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a point lookup opens only the files the bloom keeps; results equal the unpruned read") {
    val pruned = interleavedTable(bloom = true)
    val plain = interleavedTable(bloom = false)
    assert(lookup(Versioned.read(spark, pruned).filter($"id" === 42L)) ==
      (Seq((42L, "v42")), 1L), "the bloom must prune the three files without id 42")
    assert(lookup(Versioned.read(spark, plain).filter($"id" === 42L)) ==
      (Seq((42L, "v42")), 4L), "without blooms every file is opened")
    // equality, IN, range and a miss: pruned and unpruned reads agree
    Seq($"id" === 399L, $"id".isin(41L, 42L, 1000L), $"id".between(100L, 120L),
      $"id" === 7777L, $"v" === "v13").foreach { p =>
      def rows(root: String) = Versioned.read(spark, root).filter(p)
        .as[(Long, String)].collect().sorted.toSeq
      assert(rows(pruned) == rows(plain), s"pruning changed the result of $p")
    }
    assert(lookup(Versioned.read(spark, pruned).filter($"id".isin(41L, 42L)))._2 == 2L)
  }

  test("a vectored read has no join in its executed plan and runs one job") {
    val root = interleavedTable(bloom = true)
    Versioned.deleteWhereDv(spark, root, $"id".isin(42L, 43L, 300L))
    assert(Versioned.dvEntries(spark, root).size == 3)
    val all = Versioned.read(spark, root)
    val (rows, jobs) = JobCount(spark)(all.select("id").as[Long].collect())
    assert(rows.sorted.toSeq == (0L until 400L).filterNot(Set(42L, 43L, 300L)))
    assert(jobs == 1, s"a vectored read must run as one job, ran $jobs")
    assert(joins(all) == 0, "vectors must apply in the scan, not through a join")
    // a lookup on a vectored file still prunes, and still drops dead rows
    val dead = Versioned.read(spark, root).filter($"id" === 42L)
    val (hit, lookupJobs) = JobCount(spark)(lookup(dead))
    assert(hit == ((Nil, 1L)) && lookupJobs == 1 && joins(dead) == 0)
    assert(lookup(Versioned.read(spark, root).filter($"id" === 46L)) ==
      (Seq((46L, "v46")), 1L))
  }

  test("vectors stay exact across splits and row groups under a pushed filter") {
    val root = java.nio.file.Files.createTempDirectory("graft_read_rg").toFile
    root.deleteOnExit()
    val r = root.getAbsolutePath
    // one sorted file of many small row groups, so the pushed range skips
    // whole row groups and every split starts mid-file
    withConf("parquet.block.size" -> "8192", "parquet.page.size" -> "1024") {
      Versioned.commit(spark, spark.range(0L, 20000L).toDF("id")
        .withColumn("v", concat(lit("r"), $"id".cast("string"))).coalesce(1),
        r, statsCols = Seq("id"))
    }
    val file = new org.apache.hadoop.fs.Path(Versioned.snapshotFiles(spark, r).head)
    val groups = {
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
          spark.sparkContext.hadoopConfiguration))
      try in.getRowGroups.size finally in.close()
    }
    assert(groups >= 4, s"fixture must span several row groups, has $groups")
    val v1 = Versioned.versions(spark, r).last
    Versioned.deleteWhereDv(spark, r, $"id" % 7 === 0L || $"id".between(9000L, 9100L))
    def dead(i: Long) = i % 7 == 0 || (i >= 9000L && i <= 9100L)
    val lo = 4321L
    val hi = 15555L
    val want = (lo to hi).filterNot(dead)
    def ids(df: DataFrame) = df.filter($"id".between(lo, hi)).select("id").as[Long]
      .collect().sorted.toSeq
    withConf("spark.sql.files.maxPartitionBytes" -> "16384",
      "spark.sql.files.openCostInBytes" -> "0") {
      val read = Versioned.read(spark, r)
      assert(read.rdd.getNumPartitions >= 3, "fixture must split the vectored file")
      assert(ids(read) == want)
      // the shuffle anti-join fallback gives the same answer
      withConf("spark.graft.dv.broadcastRows" -> "0") {
        val viaJoin = Versioned.read(spark, r)
        assert(ids(viaJoin) == want)
        assert(joins(viaJoin.filter($"id".between(lo, hi))) == 1,
          "past the broadcast limit the anti-join applies the vectors")
      }
      // time travel to before the delete still shows every row
      assert(ids(Versioned.read(spark, r, asOf = Some(v1))) == (lo to hi))
      // the merge-on-read writers' probe sees the same live rows: a second
      // delete over the pushed range vectors exactly the rows still live
      Versioned.deleteWhereDv(spark, r, $"id".between(lo, hi) && $"id" % 2 === 1L)
      assert(ids(Versioned.read(spark, r)) == want.filter(_ % 2 == 0))
    }
  }

  test("asOf a version before the delete still shows the deleted rows") {
    val root = interleavedTable(bloom = true)
    val before = Versioned.versions(spark, root).last
    Versioned.deleteWhereDv(spark, root, $"id" === 42L)
    assert(Versioned.read(spark, root).filter($"id" === 42L).isEmpty)
    val old = Versioned.read(spark, root, asOf = Some(before)).filter($"id" === 42L)
    assert(old.as[(Long, String)].collect().toSeq == Seq((42L, "v42")))
    assert(Versioned.read(spark, root, asOf = Some(before)).count() == 400L)
  }

  test("broadcastRows=0 falls back to the shuffle anti-join with the same answer") {
    val root = interleavedTable(bloom = true)
    Versioned.deleteWhereDv(spark, root, $"id" % 5 === 0L)
    val want = (0L until 400L).filterNot(_ % 5 == 0)
    val inScan = Versioned.read(spark, root)
    assert(inScan.select("id").as[Long].collect().sorted.toSeq == want)
    withConf("spark.graft.dv.broadcastRows" -> "0") {
      val viaJoin = Versioned.read(spark, root)
      assert(viaJoin.select("id").as[Long].collect().sorted.toSeq == want)
      assert(joins(viaJoin) == 1)
      // the merge-on-read writers apply the same fallback
      Versioned.mergeIntoDv(spark, root, Seq((5L, "new5"), (6L, "new6")).toDF("id", "v"),
        Seq("id"))
    }
    val after = Versioned.read(spark, root).filter($"id".isin(5L, 6L))
      .as[(Long, String)].collect().sorted.toSeq
    assert(after == Seq((5L, "new5"), (6L, "new6")))
    assert(Versioned.read(spark, root).count() == want.size + 1L)
  }
}

package graft

import graft.io.{FileStats, Versioned}
import org.apache.spark.sql.functions._

/** Bloom-sidecar point-lookup pruning on [[Versioned]] tables: commits
  * may harvest per-file bloom filters over high-cardinality UNCLUSTERED
  * columns (where every file's [min,max] spans the domain and range
  * stats prune nothing), and equality / IN predicates pushed into the
  * `graft-versioned` scan then skip file OPENS from one driver-side
  * bloom probe per file. Pruning is advisory: results must be identical
  * with and without blooms, missing blooms keep the file, float/double
  * columns are refused at build (SQL's -0.0 == 0.0 vs the hash of raw
  * bits), and copy-on-write rewrites re-harvest blooms so point-lookup
  * skipping survives maintenance.
  */
class BloomPruneSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_bloom").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def keptFiles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table
    }.collectFirst {
      case t: graft.io.VersionedReadTable => t.prunedIndex.lastKeptFiles
    }.getOrElse(fail("no VersionedReadTable in plan"))
  }

  test("point lookup opens one file via the bloom where min/max prunes nothing") {
    val root = interleavedTable(bloom = true)
    val q = spark.read.format("graft-versioned").load(root).filter($"id" === 42L)
    assert(q.as[(Long, String)].collect().toSeq == Seq((42L, "v42")))
    // id = 42 lives in batch 2 only; min/max spans [2..398] in every file
    assert(keptFiles(q) == 1, "bloom must prune the three non-matching files")
    // string column equality prunes too (separate commit to check strings)
    val sroot = tmpRoot()
    (0 until 3).foreach { m =>
      Versioned.commit(spark,
        (0L until 300L).filter(_ % 3 == m).map(i => (i, s"k$i")).toDF("id", "v")
          .coalesce(1), sroot, bloomCols = Seq("v"))
    }
    val sq = spark.read.format("graft-versioned").load(sroot).filter($"v" === "k100")
    assert(sq.count() == 1)
    assert(keptFiles(sq) == 1)
  }

  test("IN lists keep exactly the files holding any candidate") {
    val root = interleavedTable(bloom = true)
    // 41 and 42 live in batches 1 and 2
    val q = spark.read.format("graft-versioned").load(root)
      .filter($"id".isin(41L, 42L))
    assert(q.select("id").as[Long].collect().toSet == Set(41L, 42L))
    assert(keptFiles(q) == 2)
    // a large IN list becomes InSet past the conversion threshold and
    // must keep pruning (values are INTERNAL there)
    val many = (400L to 440L) :+ 42L // only 42 exists, in batch 2
    val q2 = spark.read.format("graft-versioned").load(root)
      .filter($"id".isin(many: _*))
    assert(q2.select("id").as[Long].collect().toSet == Set(42L))
    assert(keptFiles(q2) == 1)
  }

  test("no bloom sidecar: nothing pruned, same results (conservative)") {
    val root = interleavedTable(bloom = false)
    val q = spark.read.format("graft-versioned").load(root).filter($"id" === 42L)
    assert(q.count() == 1)
    assert(keptFiles(q) == 4, "without blooms every file must be kept")
  }

  test("float/double bloom columns are refused at commit") {
    val root = tmpRoot()
    val e = intercept[IllegalArgumentException] {
      Versioned.commit(spark, Seq((1L, 1.5)).toDF("id", "x"), root,
        bloomCols = Seq("x"))
    }
    assert(e.getMessage.contains("float/double"))
    val e2 = intercept[IllegalArgumentException] {
      Versioned.commit(spark, Seq((1L, 1.5)).toDF("id", "x"), root,
        bloomCols = Seq("nope"))
    }
    assert(e2.getMessage.contains("bloomCols not in"))
  }

  test("copy-on-write rewrites re-harvest blooms; pruning survives a DELETE") {
    val root = interleavedTable(bloom = true)
    // delete one row from batch 2's file: that file is rewritten
    Versioned.deleteWhere(spark, root, col("id") === 46L)
    val q = spark.read.format("graft-versioned").load(root).filter($"id" === 42L)
    assert(q.count() == 1)
    assert(keptFiles(q) == 1, "the rewritten batch must carry fresh blooms")
    // the deleted key now matches nothing anywhere; bloom may or may not
    // contain stale bits, but results stay correct
    assert(spark.read.format("graft-versioned").load(root)
      .filter($"id" === 46L).count() == 0)
  }

  test("buildBlooms retrofits pruning onto a bloom-less table") {
    val root = interleavedTable(bloom = false)
    assert(keptFiles(spark.read.format("graft-versioned").load(root)
      .filter($"id" === 42L)) == 4) // nothing to prune with yet
    val n = Versioned.buildBlooms(spark, root, Seq("id"))
    assert(n == 4L)
    val q = spark.read.format("graft-versioned").load(root).filter($"id" === 42L)
    assert(q.as[(Long, String)].collect().toSeq == Seq((42L, "v42")))
    assert(keptFiles(q) == 1, "retrofitted blooms must prune like commit-time ones")
  }

  test("join-driven runtime filter prunes by bloom where min/max cannot") {
    val root = interleavedTable(bloom = true)
    // file-backed dim: a local Seq would constant-fold the filter away and
    // leave the runtime filter nothing to latch onto
    val dimPath = tmpRoot()
    Seq((41L, "hot"), (42L, "hot"), (399L, "cold"))
      .toDF("k", "grp").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val fact = spark.read.format("graft-versioned").load(root)
    val joined = fact.join(broadcast(dim.filter($"grp" === "hot")),
      fact("id") === dim("k"))
    assert(joined.select("id").as[Long].collect().sorted.toSeq == Seq(41L, 42L))
    // every file's [min,max] contains both keys (interleaved layout), so
    // range stats keep all 4 — the blooms cut to the 2 files that hold
    // the build side's keys
    val kept = joined.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table
    }.collectFirst {
      case t: graft.io.VersionedReadTable => t.prunedIndex.lastRuntimeKept
    }.get
    assert(kept == 2, s"bloom-DPP should keep 2 of 4 files, kept $kept")
  }

  test("bloom probe hashes match the build side for every supported type") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val root = tmpRoot()
    val df = Seq(
      (1L, 7, "alpha", java.sql.Date.valueOf("2024-03-01"),
        java.sql.Timestamp.valueOf("2024-03-01 10:00:00")),
      (2L, 8, "beta", java.sql.Date.valueOf("2024-03-02"),
        java.sql.Timestamp.valueOf("2024-03-02 10:00:00")))
      .toDF("l", "i", "s", "d", "t")
    Versioned.commit(spark, df.coalesce(1), root,
      bloomCols = Seq("l", "i", "s", "d", "t"))
    val f = new org.apache.hadoop.fs.Path(root, "data/b1")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val blooms = FileStats.readBloomSidecar(f,
      new org.apache.hadoop.fs.Path(root, "data/b1")).values.head
    def h(l: Literal): Long = new XxHash64(Seq(l)).eval(null).asInstanceOf[Long]
    assert(FileStats.bloomMayContain(blooms("l"), h(Literal(1L))))
    // integral columns hash AS LONG on both sides (widening-stable)
    assert(FileStats.bloomMayContain(blooms("i"), h(Literal(7L))))
    assert(FileStats.bloomMayContain(blooms("s"), h(Literal("alpha"))))
    assert(FileStats.bloomMayContain(blooms("d"),
      h(Literal(java.time.LocalDate.of(2024, 3, 1).toEpochDay.toInt,
        org.apache.spark.sql.types.DateType))))
    // absent values: overwhelmingly likely to miss (1% fpp)
    val misses = (1000L to 1099L).count(v =>
      FileStats.bloomMayContain(blooms("l"), h(Literal(v))))
    assert(misses <= 5, s"fpp far above spec: $misses/100")
  }

  test("compaction re-harvests tracked blooms; point lookups keep pruning") {
    // full rewrite WITHOUT sort columns: the rewritten files carry no
    // min/max stats at all, so only a re-harvested bloom can prune the
    // point lookup — a compaction that dropped blooms would quietly
    // degrade exactly the high-churn tables that need compacting
    val root = interleavedTable(bloom = true)
    Versioned.compactLatest(spark, root, nFiles = 4)
    val q = spark.read.format("graft-versioned").load(root)
      .filter($"id" === 42L)
    assert(q.as[(Long, String)].collect().toSeq == Seq((42L, "v42")))
    assert(keptFiles(q) == 1,
      "blooms must survive compactLatest and prune to the one holder")
    // incremental bin-pack: the packed outputs carry blooms too
    val root2 = interleavedTable(bloom = true)
    Versioned.compactSmall(spark, root2, targetBytes = 2048)
    val q2 = spark.read.format("graft-versioned").load(root2)
      .filter($"id" === 42L)
    assert(q2.as[(Long, String)].collect().toSeq == Seq((42L, "v42")))
    val total = Versioned.read(spark, root2).inputFiles.length
    assert(total >= 2, s"fixture must bin-pack into 2+ files, got $total")
    assert(keptFiles(q2) < total,
      s"packed-file blooms must prune: kept ${keptFiles(q2)} of $total")
    // OCC form: same guarantee under the optimistic protocol
    val root3 = interleavedTable(bloom = true)
    Versioned.compactSmallOcc(spark, root3, targetBytes = 2048)
    val q3 = spark.read.format("graft-versioned").load(root3)
      .filter($"id" === 42L)
    assert(q3.as[(Long, String)].collect().toSeq == Seq((42L, "v42")))
    val total3 = Versioned.read(spark, root3).inputFiles.length
    assert(total3 >= 2 && keptFiles(q3) < total3,
      s"OCC-packed blooms must prune: kept ${keptFiles(q3)} of $total3")
  }
  test("an all-null bloom column gets no bloom but stays tracked; later values prune") {
    val root = tmpRoot()
    Versioned.commit(spark, (0L until 100L).map(i => (i, Option.empty[String])).toDF("id", "tag")
      .coalesce(1), root, bloomCols = Seq("id", "tag"))
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dir(b: Int) = new org.apache.hadoop.fs.Path(root, s"data/b$b")
    assert(FileStats.readBloomSidecar(f, dir(1)).values.head.keySet == Set("id"),
      "a column with no values gets no bloom")
    assert(FileStats.readBloomColumns(f, dir(1)) == Set("id", "tag"))
    // the merges' batches harvest the still-tracked column
    Versioned.mergeInto(spark, root, Seq((200L, "t200"), (201L, "t201")).toDF("id", "tag"),
      Seq("id"))
    Versioned.mergeInto(spark, root, Seq((300L, "t300")).toDF("id", "tag"), Seq("id"))
    assert(FileStats.readBloomSidecar(f, dir(2)).values.head.keySet == Set("id", "tag"))
    val q = spark.read.format("graft-versioned").load(root).filter($"tag" === "t200")
    assert(q.as[(Long, String)].collect().toSeq == Seq((200L, "t200")))
    assert(keptFiles(q) == 2, "the bloom-less all-null file is kept, the t300 file pruned")
    assert(spark.read.format("graft-versioned").load(root).filter($"tag".isNull).count() == 100)
  }
}

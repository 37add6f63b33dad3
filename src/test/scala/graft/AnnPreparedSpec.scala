package graft

import graft.ops.{AnnIndex, Similarity}
import org.apache.spark.sql.functions._

/** The round-15 search-path surface: the prepared handle
  * ([[graft.ops.AnnIndex.prepare]]) must be HASH-INVISIBLE against the
  * direct [[graft.ops.AnnIndex.search]] — including the driver-side
  * assignment's tie-breaks and degenerate-vector ordering, which are the
  * exact places a re-implementation silently diverges — the jumbo-query
  * fallback must keep FILE pruning (the r14 verdict gap: past the 10k cap
  * the probed-cell IN was dropped entirely), and the binary re-rank's
  * versioned-corpus fetch must skip files while returning the
  * byte-identical result of the ad-hoc-corpus form.
  */
class AnnPreparedSpec extends SparkSpecBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** lastKeptFiles of the (single) versioned DSv2 scan in `df`'s plan —
    * read AFTER an action so the scan has planned. */
  private def keptFilesOf(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table
    }.collectFirst {
      case t: graft.io.VersionedReadTable => t.prunedIndex.lastKeptFiles
    }.getOrElse(fail("no VersionedReadTable in the plan"))

  private def parquetFilesUnder(root: String): Int = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
  }

  test("prepared handle equals direct search at every probe width, " +
    "including degenerate queries") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val modelRoot = tmp("annm_prep")
    val codesRoot = tmp("annc_prep")
    AnnIndex.trainAndRebuild(spark, emb, m = 16, dsub = 4, modelRoot, codesRoot)
    val cells = AnnIndex.model(spark, modelRoot)._1.count().toInt

    // queries: 20 real vectors PLUS a zero vector (cosine = NaN against
    // every centroid — Double.compare ranks NaN above all, and both
    // paths must agree) and a NULL embedding (scored -Inf everywhere,
    // assigned to the lowest cell ids)
    val degenerate = Seq(
      (900001L, Seq.fill(64)(0f)),
      (900002L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
      .unionByName(degenerate)

    val handle = AnnIndex.prepare(spark, modelRoot, codesRoot)
    for (np <- Seq(1, 2, cells)) {
      val direct = AnnIndex.search(spark, queries, modelRoot, codesRoot,
        k = 3, nprobe = np).collect().toSet
      val prepared = handle.search(queries, k = 3, nprobe = np).collect().toSet
      assert(prepared == direct && direct.nonEmpty, s"diverged at nprobe=$np")
    }

    // the handle's codes read prunes FILES for a narrow probe exactly
    // like direct search (the codes table is cell-range-partitioned)
    val narrow = handle.search(emb.filter(col("vec_id") < 3), k = 3, nprobe = 1)
    narrow.queryExecution.toRdd.count()
    val kept = keptFilesOf(narrow)
    val total = parquetFilesUnder(codesRoot)
    assert(kept < total,
      s"narrow prepared search kept $kept of $total codes files — no pruning")

    // a query batch past the (query, probed-cell)-row cap refuses loudly
    // with the distributed alternative named
    val jumbo = spark.range(10001).select(col("id").as("vec_id"))
      .crossJoin(broadcast(emb.filter(col("vec_id") === 0L).select(col("embedding"))))
    val e = intercept[IllegalArgumentException] {
      handle.search(jumbo, k = 3, nprobe = 1)
    }
    assert(e.getMessage.contains("AnnIndex.search"))

    // ... but the cap prices DISTINCT queries (what the direct path's
    // assignClusters groupBy prices): a duplicate-heavy raw batch over
    // the cap with few unique qids is served, not refused — equal to
    // the direct path on the same frame
    val dupHeavy = spark.range(10001)
      .select((col("id") % 50L).as("vec_id"))
      .crossJoin(broadcast(emb.filter(col("vec_id") === 0L).select(col("embedding"))))
    val viaHandle = handle.search(dupHeavy, k = 3, nprobe = 1).collect().toSet
    val viaDirect = AnnIndex.search(spark, dupHeavy, modelRoot, codesRoot,
      k = 3, nprobe = 1).collect().toSet
    assert(viaHandle == viaDirect && viaHandle.nonEmpty)
  }

  /** True when `df` resolved as a driver-local relation (the local
    * serve dial's output) rather than a scan-bearing plan. */
  private def isDriverLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r
    }.isEmpty

  test("driver-local serve dial: row-identical to the distributed handle " +
    "and the direct search at every probe width; falls back past the " +
    "kept-bytes gate and on null query embeddings") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val modelRoot = tmp("annm_locl")
    val codesRoot = tmp("annc_locl")
    AnnIndex.trainAndRebuild(spark, emb, m = 16, dsub = 4, modelRoot, codesRoot)
    val cells = AnnIndex.model(spark, modelRoot)._1.count().toInt
    // real vectors plus the NaN-scoring zero vector (Double.compare
    // ranks NaN above all in BOTH the heap and the local sort) — no
    // null embeddings in the local-eligible batch
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
      .unionByName(Seq((900001L, Seq.fill(64)(0f)))
        .toDF("vec_id", "embedding"))
    val handle = AnnIndex.prepare(spark, modelRoot, codesRoot)

    for (np <- Seq(1, 2, cells)) {
      val dist = handle.search(queries, k = 3, nprobe = np)
      val local = handle.search(queries, k = 3, nprobe = np,
        localBytesCap = Long.MaxValue / 8)
      assert(isDriverLocal(local),
        s"dial did not take the local path at nprobe=$np")
      assert(!isDriverLocal(dist))
      val d = dist.collect().toSet
      assert(local.collect().toSet == d && d.nonEmpty,
        s"local dial diverged from the distributed handle at nprobe=$np")
      val direct = AnnIndex.search(spark, queries, modelRoot, codesRoot,
        k = 3, nprobe = np).collect().toSet
      assert(d == direct, s"handle diverged from direct at nprobe=$np")
      // same column names and types (the hash-identity contract's
      // schema half)
      assert(local.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        dist.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    }

    // a 1-byte cap can never admit a kept file: the dial falls back to
    // the distributed join, rows identical
    val fb = handle.search(queries, k = 3, nprobe = 1, localBytesCap = 1L)
    assert(!isDriverLocal(fb))
    assert(fb.collect().toSet ==
      handle.search(queries, k = 3, nprobe = 1).collect().toSet)

    // a batch with a NULL embedding rides the distributed kernel's null
    // semantics: the dial declines (falls back), rows identical
    val withNull = queries.unionByName(
      Seq((900002L, null.asInstanceOf[Seq[Float]]))
        .toDF("vec_id", "embedding"))
    val fbNull = handle.search(withNull, k = 3, nprobe = 2,
      localBytesCap = Long.MaxValue / 8)
    assert(!isDriverLocal(fbNull))
    assert(fbNull.collect().toSet ==
      handle.search(withNull, k = 3, nprobe = 2).collect().toSet)
  }

  test("local dial composes with the layout loop: exact on an eroded " +
    "layout, declines under a kept-bytes cap the erosion blew, and a " +
    "recell + re-prepare restores eligibility") {
    def vec(i: Int): Seq[Float] = (0 until 16).map { j =>
      (if (j / 4 == i % 4) 1.0f else 0.1f) + 0.01f * ((i * 31 + j * 7) % 5)
    }
    val emb = (0 until 200).map(i => (i.toLong, (i % 4).toLong, vec(i)))
      .toDF("vec_id", "label", "embedding")
    val modelRoot = tmp("annm_lcer")
    val codesRoot = tmp("annc_lcer")
    AnnIndex.trainAndRebuild(spark, emb, m = 4, dsub = 4, modelRoot, codesRoot)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))

    // erode: three all-cells waves, freshly encoded (the maintenance
    // sink's accretion shape), each bigger than a build cell file
    val (cent, book, m, dsub) = AnnIndex.model(spark, modelRoot)
    (0 until 3).foreach { w =>
      val late = emb.select((col("vec_id") + 10000L + w * 1000L).as("vec_id"),
        col("embedding"))
      graft.io.Versioned.commit(spark,
        AnnIndex.encodeCodes(late, cent, book, m, dsub).coalesce(1),
        codesRoot, statsCols = Seq("vec_id", "cluster"))
      ()
    }

    // a handle prepared OVER the eroded snapshot: the dial stays exact
    // (kept files holding other cells contribute nothing, same as the
    // distributed join) when the cap admits the eroded kept volume
    val eroded = AnnIndex.prepare(spark, modelRoot, codesRoot)
    val direct = AnnIndex.search(spark, queries, modelRoot, codesRoot,
      k = 3, nprobe = 2).collect().toSet
    val localBig = eroded.search(queries, k = 3, nprobe = 2,
      localBytesCap = Long.MaxValue / 8)
    assert(isDriverLocal(localBig))
    assert(localBig.collect().toSet == direct && direct.nonEmpty)

    // under a cap sized to one wave file, the eroded probe (build files
    // + every wave) declines into the distributed join — rows equal
    val waveBytes = graft.io.Versioned.snapshotFiles(spark, codesRoot)
      .map(p => java.nio.file.Files.size(
        java.nio.file.Paths.get(p.stripPrefix("file:")))).min
    val fb = eroded.search(queries, k = 3, nprobe = 2,
      localBytesCap = waveBytes)
    assert(!isDriverLocal(fb))
    assert(fb.collect().toSet == direct)

    // the layout loop's remedy restores dial eligibility: recell (the
    // volume-aware trigger fires with the small-table gate lifted),
    // re-prepare, and a cap derived from the repaired layout serves
    // locally again with identical rows
    assert(AnnIndex.recellIfNeeded(spark, codesRoot, minCellBytes = 0L)
      .isDefined)
    val repaired = AnnIndex.prepare(spark, modelRoot, codesRoot)
    // the keep-set is the BATCH's union of probed cells (5 queries x 2
    // probes can touch every cell), so size the cap to the repaired
    // snapshot's total — after the repair that total is back to the
    // order of the build (the waves' rows re-packed cell-ranged),
    // where the eroded snapshot blew past the same order
    val repairedCap = AnnIndex.layoutStats(spark, codesRoot)
      .select("bytes").as[Long].collect().sum + 1
    val localRep = repaired.search(queries, k = 3, nprobe = 2,
      localBytesCap = repairedCap)
    assert(isDriverLocal(localRep))
    assert(localRep.collect().toSet ==
      AnnIndex.search(spark, queries, modelRoot, codesRoot,
        k = 3, nprobe = 2).collect().toSet)
  }

  test("autoCapBytes prices the dial's measured win region: floor for " +
    "packed-small tables, safety-scaled ideal in band, ceiling against " +
    "the probes the dial loses") {
    import graft.ops.PreparedAnnSearch.autoCapBytes
    val KB = 1024L
    val MB = 1024L * KB
    // floor: tiny snapshots price the floor — sub-half-MB collects win
    // regardless of layout shape (measured)
    assert(autoCapBytes(100L * KB, 128) == 512 * KB)
    assert(autoCapBytes(0L, 4) == 512 * KB)
    // in band: safety × ceil(total/cells) — the single-cell-probe ideal
    assert(autoCapBytes(24L * MB, 128) == 768 * KB)
    // ceiling: the measured crossover — a ~3 MB collect LOSES 2× to the
    // distributed join (r18 probe), so neither a big-cell layout nor a
    // 100 TB snapshot may talk the dial into a driver-sized collect
    assert(autoCapBytes(96L * MB, 128) == 2 * MB)
    assert(autoCapBytes(100L * MB * MB, 4096) == 2 * MB)
    // deliberately NO nprobe term: the first cut scaled the cap with
    // probe width and admitted exactly the mid probes the dial loses
    // (kept=2.94 MB served locally at 1.38 s vs 0.62 s distributed) —
    // the signature no longer even accepts one
    // refusals: degenerate geometry is a caller bug, not a floor cap
    intercept[IllegalArgumentException](autoCapBytes(1L, 0))
    intercept[IllegalArgumentException](autoCapBytes(-1L, 4))
  }

  test("the auto band is session-conf overridable at prepare: measured " +
    "defaults, prepare-time pinning, loud refusals on malformed or " +
    "inverted overrides") {
    import graft.ops.PreparedAnnSearch
    val emb = Tables.table(spark, sfDir, "embeddings")
    val modelRoot = tmp("annm_band")
    val codesRoot = tmp("annc_band")
    AnnIndex.trainAndRebuild(spark, emb, m = 16, dsub = 4, modelRoot, codesRoot)
    val MB = 1024L * 1024
    // defaults: the measured band
    val dflt = AnnIndex.prepare(spark, modelRoot, codesRoot).autoLocalBytesCap
    assert(dflt >= 512L * 1024 && dflt <= 2 * MB)
    try {
      // a deployment that re-measured its crossover sets the band
      // session-wide — still zero per-table tuning
      spark.conf.set(PreparedAnnSearch.AutoFloorKey, (8 * MB).toString)
      spark.conf.set(PreparedAnnSearch.AutoCeilKey, (16 * MB).toString)
      val h = AnnIndex.prepare(spark, modelRoot, codesRoot)
      assert(h.autoLocalBytesCap == 8 * MB) // tiny snapshot -> new floor
      // prepare-time snapshot semantics: a live conf change applies
      // from the NEXT prepare, never to a held handle
      spark.conf.set(PreparedAnnSearch.AutoFloorKey, "1024")
      spark.conf.set(PreparedAnnSearch.AutoCeilKey, "2048")
      assert(h.autoLocalBytesCap == 8 * MB)
      // with a microscopic band even this table's per-cell ideal
      // exceeds the ceiling: the next prepare adopts the new band and
      // clamps to ITS ceil — the band really was re-read
      assert(AnnIndex.prepare(spark, modelRoot, codesRoot)
        .autoLocalBytesCap == 2048L)
      // malformed refuses AT PREPARE, naming the key — a typo must not
      // silently re-size the serving path
      spark.conf.set(PreparedAnnSearch.AutoFloorKey, "lots")
      val e1 = intercept[IllegalArgumentException](
        AnnIndex.prepare(spark, modelRoot, codesRoot))
      assert(e1.getMessage.contains(PreparedAnnSearch.AutoFloorKey))
      // an inverted band refuses too
      spark.conf.set(PreparedAnnSearch.AutoFloorKey, (4 * MB).toString)
      spark.conf.set(PreparedAnnSearch.AutoCeilKey, (1 * MB).toString)
      val e2 = intercept[IllegalArgumentException](
        AnnIndex.prepare(spark, modelRoot, codesRoot))
      assert(e2.getMessage.contains("floor <= ceil"))
    } finally {
      spark.conf.unset(PreparedAnnSearch.AutoFloorKey)
      spark.conf.unset(PreparedAnnSearch.AutoCeilKey)
    }
    // the explicit-band pure function pins the same contract
    assert(PreparedAnnSearch.autoCapBytes(0L, 4, 1024L, 2048L) == 1024L)
    intercept[IllegalArgumentException](
      PreparedAnnSearch.autoCapBytes(1L, 4, 2048L, 1024L))
  }

  test("AUTO serve dial end-to-end with NO explicit cap: serves locally " +
    "on the pristine layout, declines on the eroded one, re-qualifies " +
    "after recell + re-prepare; other negatives refuse loudly") {
    import graft.ops.PreparedAnnSearch
    // high-entropy deterministic vectors so the codes parquet cannot
    // compress away: the eroded kept volume must genuinely blow past
    // the auto cap's floor
    def bigVecs(nRows: Long, offset: Long) =
      spark.range(nRows).select(
        (col("id") + offset).as("vec_id"),
        pmod(col("id"), lit(16L)).as("label"),
        expr("transform(sequence(0, 63), j -> " +
          "cast(1.0 + pmod(id * 2654435761 + j * 40503, 997) / 249.0 " +
          "as float))").as("embedding"))
    val emb = bigVecs(2000L, 0L)
    val modelRoot = tmp("annm_auto")
    val codesRoot = tmp("annc_auto")
    AnnIndex.trainAndRebuild(spark, emb, m = 16, dsub = 4,
      modelRoot, codesRoot)
    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id"), col("embedding"))

    def totalBytes: Long = graft.io.Versioned.snapshotFiles(spark, codesRoot)
      .map(p => java.nio.file.Files.size(
        java.nio.file.Paths.get(p.stripPrefix("file:")))).sum

    // pristine: AUTO prices the floor (tiny build) and serves locally
    val pristine = AnnIndex.prepare(spark, modelRoot, codesRoot)
    assert(pristine.autoLocalBytesCap ==
      PreparedAnnSearch.autoCapBytes(totalBytes, 16))
    val direct0 = AnnIndex.search(spark, queries, modelRoot, codesRoot,
      k = 3, nprobe = 1).collect().toSet
    val auto0 = pristine.search(queries, k = 3, nprobe = 1,
      localBytesCap = PreparedAnnSearch.LocalBytesAuto)
    assert(isDriverLocal(auto0), "AUTO did not serve the pristine layout locally")
    assert(auto0.collect().toSet == direct0 && direct0.nonEmpty)

    // ambiguous negatives refuse loudly BEFORE any work
    val eNeg = intercept[IllegalArgumentException] {
      pristine.search(queries, k = 3, nprobe = 1, localBytesCap = -2L)
    }
    assert(eNeg.getMessage.contains("LocalBytesAuto"))

    // erode: all-cells maintenance waves until the snapshot dwarfs the
    // auto cap (adaptive — parquet compression varies; the loop bound
    // keeps the spec finite and the explicit assert below keeps its
    // failure mode honest)
    val (cent, book, m, dsub) = AnnIndex.model(spark, modelRoot)
    var w = 0
    while (w < 12 && totalBytes < 9L * 1024 * 1024) {
      val late = bigVecs(50000L, 1000000L + w * 100000L)
        .select(col("vec_id"), col("embedding"))
      graft.io.Versioned.commit(spark,
        AnnIndex.encodeCodes(late, cent, book, m, dsub).coalesce(1),
        codesRoot, statsCols = Seq("vec_id", "cluster"))
      w += 1
    }
    val eroded = AnnIndex.prepare(spark, modelRoot, codesRoot)
    val erodedCap = eroded.autoLocalBytesCap
    assert(totalBytes > 2 * erodedCap,
      s"fixture too small to blow the auto cap: total=$totalBytes cap=$erodedCap")
    val directE = AnnIndex.search(spark, queries, modelRoot, codesRoot,
      k = 3, nprobe = 1).collect().toSet
    val autoE = eroded.search(queries, k = 3, nprobe = 1,
      localBytesCap = PreparedAnnSearch.LocalBytesAuto)
    assert(!isDriverLocal(autoE),
      "AUTO took a local collect of an eroded kept volume")
    assert(autoE.collect().toSet == directE && directE.nonEmpty)

    // repair: recell re-packs cell-ranged; a RE-PREPARE re-prices the
    // cap from the repaired listing and the dial re-qualifies — the
    // layout loop's composition with zero hand-tuned constants
    assert(AnnIndex.recellIfNeeded(spark, codesRoot, minCellBytes = 0L)
      .isDefined)
    val repaired = AnnIndex.prepare(spark, modelRoot, codesRoot)
    val directR = AnnIndex.search(spark, queries, modelRoot, codesRoot,
      k = 3, nprobe = 1).collect().toSet
    val autoR = repaired.search(queries, k = 3, nprobe = 1,
      localBytesCap = PreparedAnnSearch.LocalBytesAuto)
    assert(isDriverLocal(autoR),
      "AUTO did not re-qualify after recell + re-prepare")
    assert(autoR.collect().toSet == directR && directR.nonEmpty)
    // the STALE handle keeps its prepare-time pricing (snapshot
    // semantics): the eroded handle still declines even though the
    // table on disk is healed
    assert(eroded.autoLocalBytesCap == erodedCap)
  }

  test("prepared search plans carry no probed-cell literal and are " +
    "structurally identical across probed sets (runtime keep-set pruning)") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val modelRoot = tmp("annm_stab")
    val codesRoot = tmp("annc_stab")
    AnnIndex.trainAndRebuild(spark, emb, m = 16, dsub = 4, modelRoot, codesRoot)
    val handle = AnnIndex.prepare(spark, modelRoot, codesRoot)

    // two single-vector queries assigned to DIFFERENT home cells (found
    // by probing, so the test can't rot if the layout changes)
    def oneQuery(id: Long) = emb.filter(col("vec_id") === id)
      .select(col("vec_id"), col("embedding"))
    val cellOf = (id: Long) =>
      handle.search(oneQuery(id), k = 1, nprobe = 1)
        .select("cluster").collect().head.get(0)
    val c0 = cellOf(0L)
    val otherId = (1L to 40L).find(cellOf(_) != c0).getOrElse(
      fail("no query landing in a different cell among vec_id 1..40"))

    val a = handle.search(oneQuery(0L), k = 3, nprobe = 1)
    val b = handle.search(oneQuery(otherId), k = 3, nprobe = 1)
    // literal-free: the probed set never appears as an IN/INSET in the
    // optimized plan (the r15 floor was Catalyst re-planning + codegen
    // recompilation forced by exactly that changing literal)
    val planA = a.queryExecution.optimizedPlan.canonicalized.toString
    val planB = b.queryExecution.optimizedPlan.canonicalized.toString
    assert(!planA.contains("INSET") && !planA.contains(" IN ("),
      s"probed-cell literal survives in the prepared plan:\n$planA")
    // structurally identical across probed sets: plans differ only in
    // leaf DATA (local relations) and the keep-set held by the table
    // object — the property that makes generated code cache-stable
    assert(planA == planB,
      s"prepared plans diverged across probed sets:\n$planA\nvs\n$planB")

    // ... while pruning still differs per probed set: each narrow call
    // keeps only its own cell's files
    a.queryExecution.toRdd.count()
    val keptA = keptFilesOf(a)
    val total = parquetFilesUnder(codesRoot)
    assert(keptA < total, s"narrow search kept $keptA of $total files")
    // and the two probes return their own (correct) rows — equality to
    // the direct path at every width is pinned by the first test
    assert(a.collect().toSet != b.collect().toSet)
  }

  test("prepared handle serves CONCURRENT searches: stateless per call, " +
    "each caller gets exactly the direct path's rows") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val modelRoot = tmp("annm_conc")
    val codesRoot = tmp("annc_conc")
    AnnIndex.trainAndRebuild(spark, emb, m = 16, dsub = 4, modelRoot, codesRoot)
    val handle = AnnIndex.prepare(spark, modelRoot, codesRoot)

    // 8 distinct single-vector queries, searched concurrently through
    // ONE handle (the serving shape): per-call state is all local —
    // assignment arrays, keep-set, derived table — so calls must not
    // interfere; each result must equal its own direct search
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val ids = (0L until 8L).toSeq
    def oneQuery(id: Long) = emb.filter(col("vec_id") === id)
      .select(col("vec_id"), col("embedding"))
    val direct = ids.map(id => id ->
      AnnIndex.search(spark, oneQuery(id), modelRoot, codesRoot,
        k = 3, nprobe = 2).collect().toSet).toMap
    val concurrent = Await.result(
      Future.sequence(ids.map(id => Future {
        id -> handle.search(oneQuery(id), k = 3, nprobe = 2).collect().toSet
      })), 5.minutes).toMap
    ids.foreach { id =>
      assert(concurrent(id) == direct(id) && direct(id).nonEmpty,
        s"concurrent handle search diverged for qid $id")
    }
  }

  test("prepared handle replicates exact assignment tie-breaks on string cells") {
    // two string cells with IDENTICAL member vectors: their quantized
    // centroids are equal component for component, so EVERY query ties
    // "a" vs "b" exactly and assignment is decided purely by the id
    // tie-break (UTF8 binary asc) — the place a driver-side
    // re-implementation would silently diverge from the heap
    // labels are NUMERIC STRINGS: the model table unions cell labels and
    // PQ-book labels into one rlabel column, so the two label columns
    // must share a type (and the PQ kernels take book labels as longs)
    def vec(i: Int): Seq[Float] =
      (0 until 16).map(j => 0.5f + 0.01f * ((i * 13 + j * 7) % 11))
    val rows =
      (0 until 40).map(i => (i.toLong, (i % 4).toString, "a", vec(i))) ++
      (0 until 40).map(i => (100L + i, (i % 4).toString, "b", vec(i))) ++
      (0 until 40).map(i => (200L + i, (i % 4).toString, "c", vec(i + 7)))
    val emb = rows.toDF("vec_id", "label", "cell", "embedding")
    val modelRoot = tmp("annm_ties")
    val codesRoot = tmp("annc_ties")
    AnnIndex.trainAndRebuild(spark, emb, m = 4, dsub = 4, modelRoot, codesRoot,
      cellLabelCol = "cell")
    val handle = AnnIndex.prepare(spark, modelRoot, codesRoot)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    for (np <- Seq(1, 2, 3)) {
      val direct = AnnIndex.search(spark, queries, modelRoot, codesRoot,
        k = 3, nprobe = np).collect().toSet
      val prepared = handle.search(queries, k = 3, nprobe = np).collect().toSet
      assert(prepared == direct && direct.nonEmpty,
        s"string-cell tie-break diverged at nprobe=$np")
      // the driver-local dial replicates the UTF8-binary id orderings
      // (string nids AND string cells) exactly too
      val local = handle.search(queries, k = 3, nprobe = np,
        localBytesCap = Long.MaxValue / 8).collect().toSet
      assert(local == direct, s"local dial diverged on string cells at nprobe=$np")
      // the tie really exists and really resolves to "a": every row of
      // a 1-probe search over the tied fixture meets in cell "a" or "c",
      // never "b"
      if (np == 1)
        assert(direct.forall(r => r.getAs[String]("cluster") != "b"))
    }
  }

  test("jumbo query sets (past the 10k cap) keep probed-cell file pruning " +
    "and return exactly the small-path rows") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val modelRoot = tmp("annm_jmb")
    val codesRoot = tmp("annc_jmb")
    AnnIndex.trainAndRebuild(spark, emb, m = 16, dsub = 4, modelRoot, codesRoot)

    // 10001 distinct qids sharing ONE vector (ids offset far above the
    // corpus so the self-exclusion filter bites for none of them): one
    // probed cell, but 10001 assigned rows — the fallback arm
    val one = emb.filter(col("vec_id") === 0L).select(col("embedding"))
    val jumbo = spark.range(10001)
      .select((col("id") + 100000L).as("vec_id"))
      .crossJoin(broadcast(one))
    val res = AnnIndex.search(spark, jumbo, modelRoot, codesRoot, k = 3)
    val rows = res.collect()
    assert(rows.length == 3 * 10001, s"got ${rows.length} rows")

    // every qid's answer equals the single-query direct search's
    val single = AnnIndex.search(spark,
      spark.range(1).select(lit(100000L).as("vec_id"))
        .crossJoin(broadcast(one)),
      modelRoot, codesRoot, k = 3)
      .select("nid", "cluster", "cos_pq", "rank").collect().toSet
    val byQid = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQid.size == 10001)
    byQid.foreach { case (qid, rs) =>
      val got = rs.map(r => org.apache.spark.sql.Row(
        r.getAs[Any]("nid"), r.getAs[Any]("cluster"),
        r.getAs[Any]("cos_pq"), r.getAs[Any]("rank"))).toSet
      assert(got == single, s"qid $qid diverged from the small path")
    }

    // the r14 gap: the fallback used to drop the IN pushdown — the codes
    // scan must keep only the probed cell's files
    val kept = keptFilesOf(res)
    val total = parquetFilesUnder(codesRoot)
    assert(kept < total,
      s"jumbo fallback kept $kept of $total codes files — file pruning lost")
  }

  test("binary re-rank fetch against a versioned corpus prunes files and " +
    "equals the ad-hoc corpus form exactly") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val corpusDf = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val fpRoot = tmp("annfp_fetch")
    val corpusRoot = tmp("anncorp_fetch")
    AnnIndex.buildBinaryIndex(spark, emb, dim = 64, fpRoot)
    // corpus committed in 8 id-ranged files with vec_id stats + blooms —
    // the layout whose per-file sidecars the pushed shortlist IN prunes
    graft.io.Versioned.commit(spark,
      emb.select(col("vec_id"), col("embedding"))
        .repartitionByRange(8, col("vec_id")),
      corpusRoot, statsCols = Seq("vec_id"), bloomCols = Seq("vec_id"))
    assert(parquetFilesUnder(corpusRoot) == 8)

    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val direct = AnnIndex.binarySearch(spark, queries, fpRoot, corpusDf,
      dim = 64, k = 5, shortlist = 50).collect().toSet
    val fetched = AnnIndex.binarySearch(spark, queries, fpRoot, corpusRoot,
      dim = 64, k = 5, shortlist = 50)
    assert(fetched.collect().toSet == direct && direct.nonEmpty)

    // a 1-query/5-candidate shortlist touches a handful of ids: the
    // corpus scan must open fewer than the 8 committed files (row
    // pruning is not file pruning — the r14 lens, applied to the re-rank)
    val narrow = AnnIndex.binarySearch(spark,
      queries.filter(col("qid") === 0L), fpRoot, corpusRoot,
      dim = 64, k = 3, shortlist = 5)
    narrow.queryExecution.toRdd.count()
    val kept = keptFilesOf(narrow)
    assert(kept < 8,
      s"narrow re-rank fetch kept $kept of 8 corpus files — no pruning")

    // the fully-pruned form (celled Hamming stage + bloom-pruned fetch)
    // equals the celled ad-hoc form at full probe width
    val cent = Similarity.quantizedCentroids(emb)
    val cells = cent.count().toInt
    val cellRoot = tmp("annfp_fetch_cell")
    AnnIndex.buildBinaryIndex(spark, emb, dim = 64, cellRoot, cent)
    val celledDirect = AnnIndex.binarySearch(spark, queries, cellRoot, corpusDf,
      dim = 64, k = 5, shortlist = 50, cent, nprobe = cells).collect().toSet
    val celledFetched = AnnIndex.binarySearch(spark, queries, cellRoot, corpusRoot,
      dim = 64, k = 5, shortlist = 50, cent, nprobe = cells).collect().toSet
    assert(celledFetched == celledDirect && celledDirect == direct)
  }

  test("prepared binary handle equals the direct forms exactly; flat handle " +
    "refuses the pruned dial; flat index refuses a celled prepare") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val modelRoot = tmp("annm_pbin")
    val flatRoot = tmp("annfp_pbin_flat")
    val cellRoot = tmp("annfp_pbin_cell")
    val corpusRoot = tmp("anncorp_pbin")
    AnnIndex.train(spark, emb, m = 16, dsub = 4, modelRoot)
    AnnIndex.buildBinaryIndex(spark, emb, dim = 64, flatRoot)
    AnnIndex.buildBinaryIndex(spark, emb, dim = 64, cellRoot, modelRoot)
    graft.io.Versioned.commit(spark,
      emb.select(col("vec_id"), col("embedding"))
        .repartitionByRange(8, col("vec_id")),
      corpusRoot, statsCols = Seq("vec_id"), bloomCols = Seq("vec_id"))
    val cells = AnnIndex.model(spark, modelRoot)._1.count().toInt

    // exhaustive: handle == direct corpusRoot form (and works over the
    // CELLED index too — the extra cluster column is simply unused)
    val directEx = AnnIndex.binarySearch(spark, queries, flatRoot, corpusRoot,
      dim = 64, k = 5, shortlist = 50).collect().toSet
    val hFlat = AnnIndex.prepareBinary(spark, flatRoot, corpusRoot, dim = 64)
    assert(hFlat.search(queries, k = 5, shortlist = 50).collect().toSet
      == directEx && directEx.nonEmpty)
    val hCellNoModel = AnnIndex.prepareBinary(spark, cellRoot, corpusRoot, dim = 64)
    assert(hCellNoModel.search(queries, k = 5, shortlist = 50).collect().toSet
      == directEx)

    // pruned: handle == direct celled corpusRoot form at 1 / 2 / all cells
    val hCell = AnnIndex.prepareBinary(spark, cellRoot, corpusRoot, dim = 64,
      modelRoot)
    for (np <- Seq(1, 2, cells)) {
      val direct = AnnIndex.binarySearch(spark, queries, cellRoot, corpusRoot,
        dim = 64, k = 5, shortlist = 50, modelRoot, nprobe = np)
        .collect().toSet
      assert(hCell.search(queries, k = 5, shortlist = 50, nprobe = np)
        .collect().toSet == direct && direct.nonEmpty,
        s"binary handle diverged at nprobe=$np")
    }
    // at full probe the pruned handle equals the exhaustive result
    assert(hCell.search(queries, k = 5, shortlist = 50, nprobe = cells)
      .collect().toSet == directEx)

    // refusal matrix: flat handle has no pruned dial; a celled prepare
    // over a flat index refuses at prepare time; wrong dim refuses
    val e1 = intercept[IllegalArgumentException] {
      hFlat.search(queries, k = 5, shortlist = 50, nprobe = 1)
    }
    assert(e1.getMessage.contains("prepared without a modelRoot"))
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.prepareBinary(spark, flatRoot, corpusRoot, dim = 64, modelRoot)
    }
    assert(e2.getMessage.contains("no cluster column"))
    val e3 = intercept[IllegalArgumentException] {
      AnnIndex.prepareBinary(spark, cellRoot, corpusRoot, dim = 32)
    }
    assert(e3.getMessage.contains("fingerprint"))
  }

  test("maintenance sink refuses a batch whose column TYPES differ from the index") {
    // same column NAMES as the binary index (vec_id, fp) but vec_id is
    // INT — the shape the r14 name-set guard could not see; appending it
    // would surface only at read time
    val intIndexRoot = tmp("annfp_int")
    graft.io.Versioned.commit(spark,
      Seq((1, Seq(0L, 0L))).toDF("vec_id", "fp"), intIndexRoot)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val src = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.versionedBinaryIndexSink(
      src.toDF().toDF("vec_id", "embedding"), dim = 64, intIndexRoot,
      tmp("fpckpt_dtype"))
    try {
      src.addData(Seq((7L, Seq.fill(64)(0.5f))))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .take(8).exists(t => Option(t.getMessage)
          .exists(_.contains("exact index row shape"))))
    } finally q.stop()
    // nothing appended past the seed commit
    assert(graft.io.Versioned.versions(spark, intIndexRoot) == Seq(1L))
  }
}

package graft

import graft.ops.Similarity
import graft.queries.{CoverageQueries, LlmQueries}
import org.apache.spark.sql.functions._

/** Quality (not just correctness) of the approximate similarity paths:
  * recall against the exact brute-force top-k on the real sf0.001
  * fixture. The oracle gate proves each variant computes exactly what it
  * claims; this proves what it claims is a USEFUL approximation, and
  * that the recall dials move in the right direction.
  */
class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def truthTop3: Set[(Long, Long)] = {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    Similarity.bruteForceTopK(queries, corpus, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
  }

  private def recall(pairs: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    pairs.intersect(truth).size.toDouble / truth.size

  test("IVF recall is useful and improves with nprobe") {
    val truth = truthTop3
    val p1 = CoverageQueries.annIvfKmeans(spark, sfDir)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val p2 = CoverageQueries.annIvfProbe2(spark, sfDir)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val (r1, r2) = (recall(p1, truth), recall(p2, truth))
    assert(r2 >= r1, s"probe2 recall $r2 < probe1 recall $r1")
    assert(r2 > 0.3, s"probe2 recall $r2 too low to be a useful index")
  }

  test("multi-probe sign-LSH recall dominates the plain 8-bit bucket join") {
    // Probing every 1-bit-flip neighbor makes the candidate set a strict
    // superset of the plain bucket join's, and approximate-top-k recall is
    // monotone in candidate inclusion — so this inequality must hold on
    // any data. (Absolute recall on ISOTROPIC random embeddings is low by
    // nature — ~0.1 here; sign-LSH earns its keep on real, anisotropic
    // embedding distributions. The oracle gate pins the exact semantics.)
    val truth = truthTop3
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val plain = Similarity.signLshTopK(queries, corpus, 8, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val mp = Similarity.signLshMultiProbeTopK(queries, corpus, 8, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(recall(mp, truth) >= recall(plain, truth),
      s"multi-probe ${recall(mp, truth)} < plain ${recall(plain, truth)}")
    assert(mp.nonEmpty)
  }

  test("recall report: every approximate path vs brute-force truth, floors asserted") {
    // One table per round so a bits/probes/cap regression is visible in the
    // test log, with a floor per path pinned ~20% under the measured value
    // on this fixture (isotropic random embeddings — absolute recall is
    // structurally low for sign-LSH; the floors catch REGRESSIONS, they
    // are not quality targets).
    val truth = truthTop3
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    def top3(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").as[(Long, Long)].collect().toSet
    val paths: Seq[(String, Set[(Long, Long)], Double)] = Seq(
      ("sign_lsh_4bit", top3(Similarity.signLshTopK(queries, corpus, 4, 3)), 0.0),
      ("multiprobe_4bit", top3(Similarity.signLshMultiProbeTopK(queries, corpus, 4, 3)), 0.0),
      ("multiprobe_8bit", top3(Similarity.signLshMultiProbeTopK(queries, corpus, 8, 3)), 0.0),
      ("ivf_kmeans_p1", top3(CoverageQueries.annIvfKmeans(spark, sfDir)
        .filter(col("qid") < 30)), 0.0),
      ("ivf_kmeans_p2", top3(CoverageQueries.annIvfProbe2(spark, sfDir)
        .filter(col("qid") < 30)), 0.0))
    val report = paths.map { case (name, pairs, _) => (name, recall(pairs, truth)) }
    report.foreach { case (name, r) => info(f"recall $name%-16s $r%.3f") }
    // measured on this fixture 2026-08-12: 0.167 / 0.478 / 0.111 / 0.244 / 0.389
    val floors = Map("sign_lsh_4bit" -> 0.10, "multiprobe_4bit" -> 0.35,
      "multiprobe_8bit" -> 0.08, "ivf_kmeans_p1" -> 0.18, "ivf_kmeans_p2" -> 0.30)
    report.foreach { case (name, r) =>
      assert(r >= floors(name), f"recall regression: $name $r%.3f < floor ${floors(name)}")
    }
  }

  test("Lloyd iterations monotonically improve within-cluster cosine") {
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    def meanCos(labeled: org.apache.spark.sql.DataFrame): Double = {
      val cent = Similarity.quantizedCentroids(
        labeled.select(col("label"), col("embedding")))
      labeled.join(broadcast(cent), labeled("label") === cent("rlabel"))
        .select(avg(Similarity.cosineGeneric(col("embedding"), col("cvec"))).as("m"))
        .as[Double].head()
    }
    val q0 = meanCos(emb)
    val q1 = meanCos(Similarity.lloydIterate(emb, 1))
    val q3 = meanCos(Similarity.lloydIterate(emb, 3))
    info(f"mean within-cluster cosine: seed $q0%.4f -> iter1 $q1%.4f -> iter3 $q3%.4f")
    assert(q1 >= q0 - 1e-6, s"one Lloyd step degraded quality: $q0 -> $q1")
    assert(q3 >= q1 - 1e-6, s"more Lloyd steps degraded quality: $q1 -> $q3")
    assert(q3 > q0, "three Lloyd steps should strictly improve the seed labeling")
  }

  test("per-bucket corpus cap: default cap is result-identical, tiny cap still bounded") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val capped = Similarity.signLshTopK(queries, corpus, 4, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val uncapped = Similarity.signLshTopK(queries, corpus, 4, 3, capPerBucket = Int.MaxValue)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(capped == uncapped, "default cap changed results at test scale")
    // a tiny cap must bound candidates per bucket (≤ cap per query probe)
    // while still producing rows — the degenerate-bucket safety property
    val tiny = Similarity.signLshTopK(queries, corpus, 4, 3, capPerBucket = 5)
    assert(tiny.groupBy("qid").count().filter(col("count") > 5).count() == 0)
    assert(tiny.count() > 0)
  }

  test("semDedupKeep: lowest-id-wins within threshold, cluster-blocked, cap enforced") {
    // two clusters of hand-built vectors: in c1, ids 1/2/3 are near-dups
    // of each other (same direction, tiny perturbations) and id 4 is
    // orthogonal; c2's id 5 is identical in DIRECTION to id 1 but blocked
    // into another cluster, so it must survive (blocking semantics)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray ++
      Array.fill(61)(0f)
    val assigned = Seq(
      (1L, v(1, 0, 0), "c1"),
      (2L, v(0.999, 0.04, 0), "c1"), // cos vs 1 ≈ 0.999 -> dropped by 1
      (3L, v(0.998, 0.06, 0), "c1"), // near both 1 and 2 -> dropped
      (4L, v(0, 1, 0), "c1"),        // orthogonal -> kept
      (5L, v(1, 0, 0), "c2")         // near-dup of 1 but other cluster -> kept
    ).toDF("vec_id", "embedding", "cluster")
    val kept = Similarity.semDedupKeep(assigned, tau = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
    // deduping is idempotent: the kept set has no intra-threshold pair left
    val keptRows = assigned.join(
      Similarity.semDedupKeep(assigned, tau = 0.9), Seq("vec_id"), "left_semi")
    assert(Similarity.semDedupKeep(keptRows, tau = 0.9).count() == kept.size)
    // quadratic-block guard fails loud instead of detonating a task
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedupKeep(assigned, tau = 0.9, maxClusterSize = 3)
    }
    assert(e.getMessage.contains("maxClusterSize"))
  }

  test("semDedup keeps exactly the non-near-dup representatives on the fixture") {
    val kept = CoverageQueries.semDedup(spark, sfDir)
    val total = Tables.table(spark, sfDir, "embeddings").count()
    val k = kept.count()
    info(s"semdedup kept $k of $total")
    assert(k > 0 && k <= total)
    // keep rule guarantees each cluster retains at least its lowest id
    val emb = Tables.table(spark, sfDir, "embeddings")
    val cent = Similarity.quantizedCentroids(emb)
    val assigned = Similarity.assignClusters(emb, cent, nprobe = 1)
    val minPerCluster = assigned.groupBy("cluster")
      .agg(min(col("vec_id")).as("vec_id"))
    assert(minPerCluster.join(kept, Seq("vec_id"), "left_anti").count() == 0)
  }

  test("semDedupAuto: corpus-derived centroids, deterministic and partition-invariant") {
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    // the auto default must derive k from the corpus: with
    // targetClusterSize covering the whole corpus the floor (16) rules,
    // and the mean cluster size stays ~n/k
    val kept = Similarity.semDedupAuto(emb, tau = 0.2)
    val clusters = kept.select("cluster").distinct().count()
    assert(clusters > 1, "seeding collapsed to one cluster")
    assert(clusters <= math.max(16L, n / 200L + 1) * 2,
      s"cluster count $clusters not corpus-proportional for n=$n")
    // determinism: same input, same result, run-to-run
    val again = Similarity.semDedupAuto(emb, tau = 0.2)
    assert(kept.collect().toSet == again.collect().toSet)
    // partition-invariance: a reshuffled input must not move the answer
    // (seed choice is a scan predicate, centroids are quantized integer
    // sums — nothing order-dependent anywhere)
    val reparted = Similarity.semDedupAuto(emb.repartition(7), tau = 0.2)
    assert(reparted.collect().toSet == kept.collect().toSet)
    // a SMALLER target cluster size means MORE centroids
    val fine = Similarity.semDedupAuto(emb, tau = 0.2, targetClusterSize = 20L)
    assert(fine.select("cluster").distinct().count() > clusters)
  }

  test("semDedupAuto pays exactly one corpus action for planning") {
    // r11 ADVICE: the auto form ran count() and then agg(min) — two
    // full-corpus scans for two scalar facts before any clustering
    // work. Pinned here: building the plan costs exactly TWO eager
    // actions total — ONE fused agg(count, min) planning pass plus
    // semDedupKeep's maxClusterSize loud-guard collect — and nothing
    // else touches the driver until the caller acts on the result.
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        actions.incrementAndGet(); ()
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val kept =
      try {
        val k = Similarity.semDedupAuto(emb, tau = 0.2)
        // listener events post async on the bus: poll until quiescent
        val deadline = System.currentTimeMillis() + 15000
        var last = -1
        while (System.currentTimeMillis() < deadline && actions.get() != last) {
          last = actions.get()
          Thread.sleep(300)
        }
        assert(actions.get() == 2,
          s"semDedupAuto ran ${actions.get()} eager actions while planning; " +
            "budget is 2 (one fused count+min pass, one cluster-size guard)")
        k
      } finally spark.listenerManager.unregister(listener)
    // the fold must not have changed the answer
    assert(kept.count() > 0)
  }

  test("semDedupAuto third quantizer level: forced activation, deterministic, loses nothing") {
    // force level 3 with a tiny broadcast budget: targetClusterSize=20
    // gives k = n/20 (csf = √k well above maxBroadcastSeeds = 2), so
    // the k^(1/3) top + k^(2/3) mid route runs — the same branch that
    // activates at 100 TB when √k outgrows the broadcast budget
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    def run(e: org.apache.spark.sql.DataFrame) =
      Similarity.semDedupAuto(e, tau = 0.2, targetClusterSize = 20L,
        maxBroadcastSeeds = 2L)
    val kept3 = run(emb)
    val got = kept3.collect().toSet
    assert(got.nonEmpty && got.size <= n)
    // determinism: same input, same result, run to run
    assert(run(emb).collect().toSet == got)
    // partition invariance: stride seeds + quantized routing only
    assert(run(emb.repartition(7)).collect().toSet == got)
    // corpus-proportional clustering survived the deeper tree
    assert(kept3.select("cluster").distinct().count() > 1)
    // sparse id spaces survive level 3 (congruent residues at 3 strides)
    val odd = emb.select((col("vec_id") * 2 + 1).as("vec_id"), col("embedding"))
    assert(run(odd).count() > 0,
      "sparse id space produced zero seeds at some level — corpus dropped")
  }

  test("semDedupAuto survives id spaces with no stride multiples") {
    // all-odd ids share no multiple of an even stride; seeds anchor on
    // the MIN id's residue, so the corpus must never silently vanish
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select((col("vec_id") * 2 + 1).as("vec_id"), col("embedding"))
    val n = emb.count()
    val kept = Similarity.semDedupAuto(emb, tau = 0.2)
    assert(kept.count() > 0, "sparse id space produced zero seeds — corpus dropped")
    assert(kept.count() <= n)
    // determinism holds on the shifted id space too
    assert(kept.collect().toSet ==
      Similarity.semDedupAuto(emb, tau = 0.2).collect().toSet)
  }

  test("assignClusters keeps string labels and null-embedding vectors") {
    import spark.implicits._
    val cent = Seq(("c1", Seq(1.0f, 0.0f)), ("c2", Seq(0.0f, 1.0f)))
      .toDF("rlabel", "cvec")
    val emb = Seq(
      (1L, Option(Seq(0.9f, 0.1f))),
      (2L, Option(Seq(0.1f, 0.9f))),
      (3L, None: Option[Seq[Float]]) // null embedding: score null everywhere
    ).toDF("vec_id", "embedding")
    val assigned = Similarity.assignClusters(emb, cent, 1)
      .select("vec_id", "cluster").as[(Long, String)].collect().toMap
    // string labels ride the heap natively (no lossy cast), and the
    // null-scored vector is still assigned (lowest label, like the
    // window form's NULLS LAST), never silently dropped
    assert(assigned == Map(1L -> "c1", 2L -> "c2", 3L -> "c1"), s"got $assigned")
  }

  // ----- IVF-PQ (product quantization) -----

  test("pqEncode emits exactly m codes per vector from the label domain") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val book = Similarity.pqCodebook(emb)
    val labels = book.select("rlabel").as[Int].collect().toSet
    val codes = Similarity.pqEncode(emb, book, m = 8, dsub = 8)
    val perVec = codes.groupBy("vec_id").count().select("count").as[Long].collect()
    assert(perVec.nonEmpty && perVec.forall(_ == 8L))
    assert(codes.select("code").as[Int].collect().forall(labels))
    // the compression claim: 8 small codes stand in for 64 floats
    assert(codes.count() == emb.count() * 8)
  }

  test("pqReconstructK concatenates the chosen codewords in subspace order") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val book = Similarity.pqCodebook(emb)
    val codes = Similarity.pqEncodePacked(emb, book, m = 8, dsub = 8)
    val (labels, books) = Similarity.pqKernelBook(book)
    val xhat = codes.select(col("vec_id"),
      graft.functions.GraftExpressions.pqReconstructK(
        col("codes").cast("array<long>"), books, labels, 8).as("xhat"))
    val cvecs = book.select(col("rlabel"), col("cvec"))
      .as[(Int, Seq[Double])].collect().toMap
    val codeMap = codes.as[(Long, Seq[Int])].collect().toMap
    val got = xhat.as[(Long, Seq[Double])].collect().toMap
    assert(got.keySet == codeMap.keySet)
    for ((v, cs) <- codeMap) {
      val want = cs.zipWithIndex.flatMap { case (c, s) =>
        cvecs(c).slice(s * 8, s * 8 + 8) }
      assert(got(v).toList == want.toList, s"vec $v reconstruction mismatch")
    }
  }

  test("IVF-PQ: refinement helps, recall beats chance, partition-invariant") {
    // Absolute recall is structurally low here for the same reason as
    // sign-LSH (see the recall-report comment): ISOTROPIC random
    // embeddings leave ~10 codewords per subspace ranking near-noise
    // cosines. The floors catch regressions; the structural asserts —
    // far-above-chance and Lloyd-refinement-monotone — are the quality
    // properties PQ must keep on any data.
    val truth = truthTop3
    val pq = CoverageQueries.annIvfPq(spark, sfDir)
    val pairs = pq.select("qid", "nid").as[(Long, Long)].collect().toSet
    val r = recall(pairs, truth)
    info(f"IVF-PQ recall (m=16, refined) $r%.3f")
    // measured 2026-08-15: 0.133 refined / 0.122 seed book; chance ≈ 3/n
    assert(r >= 0.10, s"IVF-PQ recall regression: $r")
    val n = Tables.table(spark, sfDir, "embeddings").count()
    assert(r > 10.0 * 3.0 / n, s"recall $r not above chance level")
    val emb = Tables.table(spark, sfDir, "embeddings")
    val cent = Similarity.quantizedCentroids(emb)
    val corpus = Similarity.assignClusters(emb, cent, 1)
    val queries = corpus.filter(col("vec_id") < 30)
    val seedBook = Similarity.pqCodebook(emb)
    val rSeed = recall(Similarity.ivfPqTopK(corpus, queries, seedBook,
      m = 16, dsub = 4, k = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet, truth)
    assert(r >= rSeed,
      s"per-subspace Lloyd refinement degraded recall: $rSeed -> $r")
    // partition layout must not change a single row
    val corpus7 = Similarity.assignClusters(emb.repartition(7), cent, 1)
    val again = Similarity.ivfPqTopK(corpus7,
      corpus7.filter(col("vec_id") < 30),
      Similarity.pqRefineBook(emb.repartition(5), seedBook, m = 16, dsub = 4),
      m = 16, dsub = 4, k = 3).collect().toSet
    assert(again == pq.collect().toSet)
  }

  test("streamed ANN index equals the batch encode; indexed search equals ivfPqTopK") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val emb = Tables.table(spark, sfDir, "embeddings")
    val cent = Similarity.quantizedCentroids(emb)
    val book = Similarity.pqCodebook(emb)
    val codesRoot = java.nio.file.Files.createTempDirectory("anncodes").toString

    // stream the corpus in two arrival waves (odd ids, then even):
    // assignment and encode are per-row map-side against the frozen
    // book, so arrival order must not change a single code
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val src = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.versionedAnnIndexSink(
      src.toDF().toDF("vec_id", "embedding"), cent, book,
      m = 8, dsub = 8, codesRoot,
      java.nio.file.Files.createTempDirectory("annckpt").toString)
    try {
      src.addData(rows.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
      src.addData(rows.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      // a source re-delivering already-indexed vectors (NOT a batch
      // replay: a genuinely new batch with old ids) must not append
      // duplicate codes — first write wins
      src.addData(rows.take(5).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = graft.io.Versioned.read(spark, codesRoot)
    // exact row count, not just set equality: a duplicate vec_id row
    // from the re-delivered wave would vanish in a set compare but
    // double the reconstruction's candidate rows (PACKED shape: one
    // (vec_id, cluster, codes) row per vector)
    assert(streamed.count() == rows.length.toLong)
    val batchCodes = graft.ops.AnnIndex.encodeCodes(emb, cent, book,
      m = 8, dsub = 8)
    assert(streamed.select("vec_id", "cluster", "codes")
      .as[(Long, Int, Seq[Int])].collect().toSet ==
      batchCodes.select("vec_id", "cluster", "codes")
        .as[(Long, Int, Seq[Int])].collect().toSet)

    // searching the persisted index returns exactly the from-raw result
    val corpus = Similarity.assignClusters(emb, cent, 1)
    val queries = corpus.filter(col("vec_id") < 20)
    val fromIndex = Similarity.ivfPqTopKIndexed(streamed, queries, book,
      dsub = 8, k = 3).collect().toSet
    val fromRaw = Similarity.ivfPqTopK(corpus, queries, book,
      m = 8, dsub = 8, k = 3).collect().toSet
    assert(fromIndex == fromRaw && fromRaw.nonEmpty)

    // the re-delivery guard is BOUNDED: each commit harvested a vec_id
    // bloom sidecar, so the guard-shaped probe for the even-id wave's ids
    // must skip the odd-id wave's files — per-trigger work tracks the
    // batch's file overlap, not the index size
    import scala.jdk.CollectionConverters._
    val evenIds = rows.filter(_._1 % 2 == 0).map(_._1).toIndexedSeq
    val g = spark.read.format("graft-versioned").load(codesRoot)
      .filter(col("vec_id").isin(evenIds: _*)).select("vec_id").distinct()
    assert(g.count() == evenIds.size)
    val kept = g.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table
    }.collectFirst {
      case t: graft.io.VersionedReadTable => t.prunedIndex.lastKeptFiles
    }.getOrElse(fail("no VersionedReadTable in the guard plan"))
    val total = java.nio.file.Files.walk(java.nio.file.Paths.get(codesRoot))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    assert(kept < total,
      s"guard probe kept $kept of $total files — blooms pruned nothing")
  }

  test("AnnIndex lifecycle: train, rebuild, search over persisted tables only") {
    import graft.ops.AnnIndex
    val emb = Tables.table(spark, sfDir, "embeddings")
    val modelRoot = java.nio.file.Files.createTempDirectory("annmodel").toString
    val codesRoot = java.nio.file.Files.createTempDirectory("anncodes2").toString

    AnnIndex.train(spark, emb, m = 8, dsub = 8, modelRoot)
    val (cent, book, m, dsub) = AnnIndex.model(spark, modelRoot)
    assert(m == 8 && dsub == 8)
    // the persisted model IS the in-memory training output
    assert(cent.collect().toSet ==
      Similarity.quantizedCentroids(emb).collect().toSet)
    assert(book.collect().toSet ==
      Similarity.pqRefineBook(emb, Similarity.pqCodebook(emb), 8, 8)
        .collect().toSet)

    AnnIndex.rebuild(spark, emb, modelRoot, codesRoot)
    val got = AnnIndex.search(spark,
      emb.filter(col("vec_id") < 20), modelRoot, codesRoot, k = 3)
      .collect().toSet
    val corpus = Similarity.assignClusters(emb,
      Similarity.quantizedCentroids(emb), 1)
    val want = Similarity.ivfPqTopK(corpus, corpus.filter(col("vec_id") < 20),
      Similarity.pqRefineBook(emb, Similarity.pqCodebook(emb), 8, 8),
      m = 8, dsub = 8, k = 3).collect().toSet
    assert(got == want && want.nonEmpty)

    // retrain under new geometry is ONE atomic replace: the re-read model
    // reports the new m/dsub and search still works after a rebuild
    AnnIndex.train(spark, emb, m = 16, dsub = 4, modelRoot)
    val (_, _, m2, dsub2) = AnnIndex.model(spark, modelRoot)
    assert(m2 == 16 && dsub2 == 4)
    AnnIndex.rebuild(spark, emb, modelRoot, codesRoot)
    assert(AnnIndex.search(spark, emb.filter(col("vec_id") < 20),
      modelRoot, codesRoot, k = 3).count() > 0)
  }

  test("ivfPqTopKIndexed prunes reconstruction to the probed cells") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val emb = Tables.table(spark, sfDir, "embeddings")
    val cent = Similarity.quantizedCentroids(emb)
    val book = Similarity.pqCodebook(emb)
    val codes = graft.ops.AnnIndex.encodeCodes(emb, cent, book, m = 8, dsub = 8)
    // a handful of queries probing a strict subset of cells — the fixture
    // must leave something TO prune, or the assertions prove nothing
    val queries = Similarity.assignClusters(
      emb.filter(col("vec_id") < 3), cent, 1)
    val probed = queries.select("cluster").distinct().count()
    val cells = codes.select("cluster").distinct().count()
    assert(probed < cells, "fixture: queries must not probe every cell")
    val df = Similarity.ivfPqTopKIndexed(codes, queries, book, dsub = 8, k = 3)
    // structural: the reconstruction's INPUT carries the LeftSemi
    // cluster prune — Catalyst cannot inject this itself, so its presence
    // in the optimized plan is exactly the candidate-pruned search shape
    val recons = df.queryExecution.optimizedPlan.collect {
      case p if p.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.GraftExpressions.PqReconstructKExpr])) => p
    }
    assert(recons.nonEmpty, "no reconstruction in the plan")
    assert(recons.forall(p =>
      p.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty),
      "reconstruction input is not semi-pruned to the probed clusters")
    // result-invisible: identical to the from-raw scoring path
    val corpus = Similarity.assignClusters(emb, cent, 1)
    val want = Similarity.ivfPqTopK(corpus,
      corpus.filter(col("vec_id") < 3), book, m = 8, dsub = 8, k = 3)
      .collect().toSet
    assert(df.collect().toSet == want && want.nonEmpty)
  }

  test("binaryTopK: full shortlist equals exact brute force; small shortlist useful") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    // structural invariant: a shortlist covering the whole corpus makes
    // the hamming stage a no-op filter, so the result IS the exact one
    val full = Similarity.binaryTopK(queries, corpus, dim = 64, k = 3,
      shortlist = n).collect().toSet
    val exact = Similarity.bruteForceTopKAgg(queries, corpus, 3)
      .select("qid", "nid", "cos", "rank").collect().toSet
    assert(full == exact && exact.nonEmpty)
    // a 10%-of-corpus shortlist keeps recall far above chance (sign bits
    // preserve cosine neighborhoods; floor from the measured value)
    val truth = truthTop3
    val short = Similarity.binaryTopK(queries, corpus, dim = 64, k = 3,
      shortlist = 50)
    val r = recall(short.select("qid", "nid").as[(Long, Long)]
      .collect().toSet, truth)
    info(f"binary-rerank recall (L=50, n=$n) $r%.3f")
    // measured 2026-08-15: 0.711 — the exact re-rank lifts this far above
    // every pure-approximate path on the same isotropic fixture
    assert(r >= 0.5, s"binary-rerank recall regression: $r")
    assert(r > 10.0 * 3.0 / n, s"recall $r not above chance")
  }

  test("streamed binary index equals the batch build; re-delivery dropped") {
    import graft.ops.AnnIndex
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val emb = Tables.table(spark, sfDir, "embeddings")
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val fpRoot = java.nio.file.Files.createTempDirectory("annfp_stream").toString
    val src = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.versionedBinaryIndexSink(
      src.toDF().toDF("vec_id", "embedding"), dim = 64, fpRoot,
      java.nio.file.Files.createTempDirectory("annfpckpt").toString)
    try {
      src.addData(rows.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
      src.addData(rows.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      // re-delivered old ids in a genuinely new batch: first write wins
      src.addData(rows.take(5).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = graft.io.Versioned.read(spark, fpRoot)
    assert(streamed.count() == rows.length.toLong, "exact one row per vector")
    // the streamed table IS the batch build, fingerprint for fingerprint
    val batchRoot = java.nio.file.Files.createTempDirectory("annfp_batch").toString
    AnnIndex.buildBinaryIndex(spark, emb, dim = 64, batchRoot)
    assert(streamed.select("vec_id", "fp").as[(Long, Seq[Long])].collect().toSet
      == graft.io.Versioned.read(spark, batchRoot)
        .select("vec_id", "fp").as[(Long, Seq[Long])].collect().toSet)
    // and searching the streamed index equals the in-memory path
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    assert(AnnIndex.binarySearch(spark, queries, fpRoot, corpus,
      dim = 64, k = 3, shortlist = 50).collect().toSet ==
      Similarity.binaryTopK(queries, corpus, dim = 64, k = 3, shortlist = 50)
        .collect().toSet)
  }

  test("persisted binary index: search equals in-memory, dim mismatch refused") {
    import graft.ops.AnnIndex
    val emb = Tables.table(spark, sfDir, "embeddings")
    val fpRoot = java.nio.file.Files.createTempDirectory("annfp").toString
    AnnIndex.buildBinaryIndex(spark, emb, dim = 64, fpRoot)
    // 8 B of fingerprint per vector, one row each
    val fp = graft.io.Versioned.read(spark, fpRoot)
    assert(fp.count() == emb.count())
    assert(fp.select(size(col("fp"))).distinct().as[Int].collect().toSeq == Seq(2))
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val got = AnnIndex.binarySearch(spark, queries, fpRoot, corpus,
      dim = 64, k = 3, shortlist = 50).collect().toSet
    val want = Similarity.binaryTopK(queries, corpus, dim = 64, k = 3,
      shortlist = 50).collect().toSet
    assert(got == want && want.nonEmpty)
    // searching with the wrong dim is a loud error, not silent garbage
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.binarySearch(spark, queries, fpRoot, corpus,
        dim = 128, k = 3, shortlist = 50)
    }
    assert(ex.getMessage.contains("fingerprint"))
  }

  test("trainAndRebuild's one-encode-pass tables equal separate train + rebuild") {
    import graft.ops.AnnIndex
    val emb = Tables.table(spark, sfDir, "embeddings")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (m1, c1) = (tmp("annm_sep"), tmp("annc_sep"))
    AnnIndex.train(spark, emb, m = 8, dsub = 8, m1)
    AnnIndex.rebuild(spark, emb, m1, c1)
    val (m2, c2) = (tmp("annm_fus"), tmp("annc_fus"))
    AnnIndex.trainAndRebuild(spark, emb, m = 8, dsub = 8, m2, c2)
    // the whole model — centroids, book, geometry AND the drift
    // baseline — and the codes table are byte-identical: the fused
    // path saves a pass, it must not move a single value
    assert(graft.io.Versioned.read(spark, m2).collect().toSet ==
      graft.io.Versioned.read(spark, m1).collect().toSet)
    assert(graft.io.Versioned.read(spark, c2).collect().toSet ==
      graft.io.Versioned.read(spark, c1).collect().toSet)
    // and the fused pair measures zero drift on its training corpus
    assert(AnnIndex.driftStats(spark, emb, m2)
      .select("drift_q").as[Long].collect().toSeq == Seq(0L, 0L, 0L))
  }

  test("persisted search with nprobe=2 equals the in-memory multiprobe path") {
    import graft.ops.AnnIndex
    val emb = Tables.table(spark, sfDir, "embeddings")
    val modelRoot = java.nio.file.Files.createTempDirectory("annmodel_p2").toString
    val codesRoot = java.nio.file.Files.createTempDirectory("anncodes_p2").toString
    AnnIndex.train(spark, emb, m = 8, dsub = 8, modelRoot)
    AnnIndex.rebuild(spark, emb, modelRoot, codesRoot)
    val got = AnnIndex.search(spark, emb.filter(col("vec_id") < 20),
      modelRoot, codesRoot, k = 3, nprobe = 2).collect().toSet
    val cent = Similarity.quantizedCentroids(emb)
    val corpus = Similarity.assignClusters(emb, cent, 1)
    val queries = Similarity.assignClusters(
      emb.filter(col("vec_id") < 20), cent, 2)
    val book = Similarity.pqRefineBook(emb, Similarity.pqCodebook(emb), 8, 8)
    val want = Similarity.ivfPqTopK(corpus, queries, book,
      m = 8, dsub = 8, k = 3).collect().toSet
    assert(got == want && want.nonEmpty)
    // the recall dial widens the candidate pool: nprobe=2 returns at least
    // as many (qid, nid) pairs as nprobe=1 on the same persisted pair
    val got1 = AnnIndex.search(spark, emb.filter(col("vec_id") < 20),
      modelRoot, codesRoot, k = 3, nprobe = 1).count()
    assert(got.size >= got1)
  }

  test("driftStats: zero on the training corpus, positive after drift") {
    import graft.ops.AnnIndex
    // clustered corpus in the positive orthant: one strong block of four
    // components per label plus a small deterministic ripple, so every
    // trained codeword points "positive" and negating the corpus later is
    // guaranteed to reconstruct WORSE (cos flips sign against a positive
    // codebook) — a drift the metric must catch
    val dim = 16
    def vec(i: Int): Seq[Float] = (0 until dim).map { j =>
      val base = if (j / 4 == i % 4) 1.0f else 0.1f
      base + 0.01f * ((i * 31 + j * 7) % 5)
    }
    val emb = (0 until 200).map(i => (i.toLong, (i % 4).toLong, vec(i)))
      .toDF("vec_id", "label", "embedding")
    val modelRoot = java.nio.file.Files.createTempDirectory("annmodel_dr").toString
    AnnIndex.train(spark, emb, m = 4, dsub = 4, modelRoot)
    // same corpus => same codes => same order statistics: drift EXACTLY 0
    val fresh = AnnIndex.driftStats(spark, emb, modelRoot)
    assert(fresh.select("drift_q").as[Long].collect().toSeq == Seq(0L, 0L, 0L))
    assert(!AnnIndex.needsRebuild(spark, emb, modelRoot))
    val drifted = emb.select(col("vec_id"), col("label"),
      transform(col("embedding"), x => -x).as("embedding"))
    val stats = AnnIndex.driftStats(spark, drifted, modelRoot)
      .select("pct", "drift_q").as[(Int, Long)].collect().toMap
    assert(stats.keySet == Set(50, 90, 99))
    assert(stats.values.forall(_ > 10486L),
      s"negated corpus must drift past 0.01 cosine at every probe: $stats")
    assert(AnnIndex.needsRebuild(spark, drifted, modelRoot))
  }

  test("drift monitor sink: per-batch time series, exactly-once, flags the drifted batch") {
    import graft.ops.AnnIndex
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dim = 16
    def vec(i: Int): Seq[Float] = (0 until dim).map { j =>
      val base = if (j / 4 == i % 4) 1.0f else 0.1f
      base + 0.01f * ((i * 31 + j * 7) % 5)
    }
    val rows = (0 until 200).map(i => (i.toLong, (i % 4).toLong, vec(i)))
    val emb = rows.toDF("vec_id", "label", "embedding")
    val modelRoot = java.nio.file.Files.createTempDirectory("annmodel_mon").toString
    val monRoot = java.nio.file.Files.createTempDirectory("annmon").toString
    AnnIndex.train(spark, emb, m = 4, dsub = 4, modelRoot)

    val src = MemoryStream[(Long, Long, Seq[Float])]
    val q = graft.streaming.Streams.versionedAnnDriftMonitorSink(
      src.toDF().toDF("vec_id", "label", "embedding"), modelRoot, monRoot,
      java.nio.file.Files.createTempDirectory("annmonckpt").toString)
    try {
      // batch 0 = the training corpus itself: drift exactly 0
      src.addData(rows)
      q.processAllAvailable()
      // batch 1 = negated arrivals: reconstruction collapses, drift > 0
      src.addData(rows.map { case (i, l, v) => (i + 1000L, l, v.map(-_)) })
      q.processAllAvailable()
    } finally q.stop()

    val mon = graft.io.Versioned.read(spark, monRoot)
      .select("batch_id", "pct", "drift_q")
      .as[(Long, Int, Long)].collect()
    assert(mon.length == 6, s"two batches x three probes, got ${mon.length}")
    assert(mon.filter(_._1 == 0L).forall(_._3 == 0L),
      "the training-distribution batch must measure zero drift")
    assert(mon.filter(_._1 == 1L).forall(_._3 > 10486L),
      s"the negated batch must drift past 0.01 cosine at every probe: ${mon.toSeq}")
    // the time series is versioned: one commit per batch, replay-tagged
    assert(graft.io.Versioned.versions(spark, monRoot) == Seq(1L, 2L))
  }

  test("ANN sink: exact in-batch duplicates collapse, conflicts are rejected") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val emb = Tables.table(spark, sfDir, "embeddings")
    val cent = Similarity.quantizedCentroids(emb)
    val book = Similarity.pqCodebook(emb)
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()

    // exact duplicate rows inside one batch collapse silently
    val okRoot = java.nio.file.Files.createTempDirectory("anncodes_dup").toString
    val src = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.versionedAnnIndexSink(
      src.toDF().toDF("vec_id", "embedding"), cent, book,
      m = 8, dsub = 8, okRoot,
      java.nio.file.Files.createTempDirectory("annckpt_dup").toString)
    try {
      src.addData(Seq(rows(0), rows(0), rows(1)))
      q.processAllAvailable()
    } finally q.stop()
    // PACKED shape: one (vec_id, cluster, codes) row per distinct vector
    assert(graft.io.Versioned.read(spark, okRoot).count() == 2L)

    // the same vec_id with DIFFERING embeddings in one batch fails loudly
    val badRoot = java.nio.file.Files.createTempDirectory("anncodes_bad").toString
    val src2 = MemoryStream[(Long, Seq[Float])]
    val q2 = graft.streaming.Streams.versionedAnnIndexSink(
      src2.toDF().toDF("vec_id", "embedding"), cent, book,
      m = 8, dsub = 8, badRoot,
      java.nio.file.Files.createTempDirectory("annckpt_bad").toString)
    try {
      src2.addData(Seq((rows(0)._1, rows(0)._2), (rows(0)._1, rows(1)._2)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .take(8).exists(t => Option(t.getMessage)
          .exists(_.contains("differing embeddings"))))
    } finally q2.stop()
    // and nothing was committed for the poisoned batch
    assert(graft.io.Versioned.versions(spark, badRoot).isEmpty)

    // a null vec_id is its own loud error, not a misleading duplicate one
    val nullRoot = java.nio.file.Files.createTempDirectory("anncodes_null").toString
    val src3 = MemoryStream[(java.lang.Long, Seq[Float])]
    val q3 = graft.streaming.Streams.versionedAnnIndexSink(
      src3.toDF().toDF("vec_id", "embedding"), cent, book,
      m = 8, dsub = 8, nullRoot,
      java.nio.file.Files.createTempDirectory("annckpt_null").toString)
    try {
      src3.addData(Seq((null: java.lang.Long, rows(0)._2),
        (java.lang.Long.valueOf(rows(1)._1), rows(1)._2)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .take(8).exists(t => Option(t.getMessage)
          .exists(_.contains("null vec_ids"))))
    } finally q3.stop()
    assert(graft.io.Versioned.versions(spark, nullRoot).isEmpty)
  }
}

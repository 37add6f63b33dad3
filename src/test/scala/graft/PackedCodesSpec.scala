package graft

import graft.io.Versioned
import graft.ops.{AnnIndex, Similarity, UnpackedCodesException}
import org.apache.spark.graftx.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The PACKED codes shape (one (vec_id, cluster, codes) row per vector —
  * the only persisted index layout) across every seam that writes,
  * reconstructs or scores it, against the scalar [[PqReference]]:
  *   - pqEncodePacked (nulls and zero vectors included) and its explode;
  *   - encodeCodes (the shared writer) = assignment + codes, no join;
  *   - ivfPqTopKIndexed in both query-side shapes;
  *   - the lookup edge: a code label ABSENT from the book drops that
  *     subspace's piece — and a vector with no surviving piece
  *     disappears;
  * plus the loud edges: an exploded table refused until
  * `CALL graft.system.ann_rebuild` migrates it, a book the kernels cannot
  * serve refused with its reason, and a fused-assignment decline logged
  * after a bounded collect. */
class PackedCodesSpec extends SparkSpecBase {
  import spark.implicits._

  private val dim = 8

  private def embFixture(): DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Long, Seq[Float], Int)] =
      (0L until 120L).map { i =>
        (i, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f), (i % 4).toInt)
      } ++ Seq(
        (120L, null, 0),                    // null embedding
        (121L, Seq.fill(dim)(0f).toSeq, 1)) // zero vector -> NaN cosine
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"),
        col("label"))
  }

  private def book(emb: DataFrame): DataFrame = Similarity.pqCodebook(
    emb.select(col("label"), col("embedding")))

  /** vec_id -> its reference codes under `b`. */
  private def refCodes(emb: DataFrame, b: DataFrame, m: Int, dsub: Int): Map[Long, Seq[Long]] = {
    val ref = PqReference.book(b)
    emb.collect().map(r =>
      r.getLong(0) -> PqReference.codes(PqReference.emb(r, 1), ref, m, dsub)).toMap
  }

  /** WARN messages logged under `logger` while `body` runs. */
  private def warnings[A](logger: String)(body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("spec-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    val log = LogManager.getLogger(logger).asInstanceOf[Logger]
    val level = log.getLevel
    app.start(); log.addAppender(app); log.setLevel(Level.WARN)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally { log.removeAppender(app); log.setLevel(level); app.stop() }
  }

  test("pqEncodePacked matches the scalar reference; pqEncode is its explode") {
    val emb = embFixture()
    val b = book(emb)
    val m = 4; val dsub = 2
    val packed = Similarity.pqEncodePacked(
      emb.select(col("vec_id"), col("embedding")), b, m, dsub)
    val got = packed.collect().map(r => r.getLong(0) -> r.getSeq[Int](1).map(_.toLong)).toMap
    assert(got == refCodes(emb, b, m, dsub) && got.size == 122)
    val exploded = packed.select(col("vec_id"),
      posexplode(col("codes")).as(Seq("sub", "code")))
    assert(exploded.collect().toSet == Similarity.pqEncode(
      emb.select(col("vec_id"), col("embedding")), b, m, dsub).collect().toSet)
  }

  test("encodeCodes is the assignment plus the reference codes, with no join") {
    val emb = embFixture()
    val cent = Similarity.quantizedCentroids(
      emb.select(col("label"), col("embedding")))
    val b = book(emb)
    val m = 4; val dsub = 2
    val encoded = AnnIndex.encodeCodes(emb, cent, b, m, dsub)
    assert(encoded.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty)
    val cells = Similarity.assignClusters(
      emb.select(col("vec_id"), col("embedding")), cent, 1)
      .collect().map(r => r.getLong(0) -> r.get(2)).toMap
    val codes = refCodes(emb, b, m, dsub)
    val got = encoded.collect()
      .map(r => r.getLong(0) -> ((r.get(1), r.getSeq[Int](2).map(_.toLong)))).toMap
    assert(got == cells.map { case (v, c) => v -> ((c, codes(v))) } && got.size == 122)
  }

  test("ivfPqTopKIndexed ranks packed codes as the scalar reference does, in both query shapes") {
    val emb = embFixture()
    val cent = Similarity.quantizedCentroids(
      emb.select(col("label"), col("embedding")))
    val b = book(emb)
    val dsub = 2
    val packed = AnnIndex.encodeCodes(emb, cent, b, 4, dsub)
    val queries = Similarity.assignClusters(
      emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
      cent, 2)
    val ref = PqReference.book(b)
    val cand = packed.collect()
    val want = queries.collect().groupBy(_.getLong(0)).toSeq.flatMap { case (qid, rs) =>
      val q = PqReference.emb(rs.head, 1)
      val cells = rs.map(_.get(2)).toSet
      cand.filter(c => cells(c.get(1)) && c.getLong(0) != qid).flatMap { c =>
        PqReference.reconstruct(PqReference.codesOf(c, 2), ref, dsub)
          .map(x => (c.getLong(0), c.get(1), PqReference.cosine(q, x)))
      }.sortWith((x, y) => java.lang.Double.compare(x._3, y._3) > 0 ||
        (x._3 == y._3 && x._1 < y._1))
        .take(3).zipWithIndex.map { case ((nid, cl, cos), i) => (qid, nid, cl, cos, i + 1) }
    }.toSet
    val held = spark.createDataFrame(
      java.util.Arrays.asList(queries.collect(): _*), queries.schema)
    for (qa <- Seq(queries, held)) {
      val got = Similarity.ivfPqTopKIndexed(packed, qa, b, dsub, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.get(2), r.getDouble(3), r.getInt(4))).toSet
      assert(got == want && want.size == 30)
    }
  }

  test("a code absent from the book drops its piece — and a pieceless vector — like the inner join") {
    // hand-built frames: vector 1 has one unknown code (one piece
    // drops — the reconstruction shortens), vector 2 has ONLY unknown
    // codes (vanishes), vector 3 is fully known. Book: labels 0 and 1
    // over dim 4, dsub 2.
    val b = Seq(
      (0L, Seq(1.0, 0.0, 0.5, 0.25)),
      (1L, Seq(0.0, 1.0, 0.25, 0.5))).toDF("rlabel", "cvec")
    val packed = Seq(
      (1L, 0L, Seq(0L, 9L)),   // sub1's code 9 unknown
      (2L, 0L, Seq(8L, 9L)),   // no known code at all
      (3L, 0L, Seq(1L, 0L))
    ).toDF("vec_id", "cluster", "codes")
    val (labels, books) = Similarity.pqKernelBook(b)
    val viaKernel = packed.select(col("vec_id"),
      graft.functions.GraftExpressions.pqReconstructK(
        col("codes").cast("array<long>"), books, labels, 2).as("xhat"))
      .filter(col("xhat").isNotNull)
      .as[(Long, Seq[Double])].collect().toMap
    val ref = PqReference.book(b)
    val want = packed.collect().flatMap(r =>
      PqReference.reconstruct(PqReference.codesOf(r, 2), ref, 2).map(r.getLong(0) -> _)).toMap
    assert(viaKernel == want)
    assert(viaKernel.keySet == Set(1L, 3L)) // vector 2 vanished
    assert(viaKernel(1L) == Seq(1.0, 0.0))  // sub1's piece dropped
    assert(viaKernel(3L) == Seq(0.0, 1.0, 0.5, 0.25))
  }

  test("a fused-assignment decline over a 1M-row frame is logged after a bounded collect") {
    // 2^20 centroids: past the 4096-row kernel cap, so the assignment
    // declines to the heap plan — after fetching at most 4097 rows (a
    // full collect would ship ~50 MB of results)
    val big = spark.range(0, 1L << 20)
      .select(col("id").as("rlabel"), array(col("id").cast("double")).as("cvec"))
    val emb = Seq((1L, Seq(1f))).toDF("vec_id", "embedding")
    Similarity.lastFusedDecline.set(null)
    val ((plan, warns), bytes) = JobCount.resultBytes(spark)(
      warnings("graft.ops.Similarity")(Similarity.assignClusters(emb, big, 1)))
    val reason = Similarity.lastFusedDecline.get
    assert(reason != null && reason.contains("4096"), s"got: $reason")
    assert(warns.exists(w => w.contains("declined") && w.contains("4096")), s"got: $warns")
    assert(bytes < (4L << 20), s"the decline fetched $bytes result bytes")
    assert(plan.columns.toSeq == Seq("vec_id", "embedding", "cluster"))
    // an in-shape frame serves the fused kernel without a decline
    Similarity.lastFusedDecline.set(null)
    assert(Similarity.assignClusters(emb, big.limit(4), 1).count() == 1)
    assert(Similarity.lastFusedDecline.get == null)
  }

  test("a PQ codebook the kernels cannot serve is refused with the reason") {
    val emb = embFixture().filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    def refusal(b: DataFrame): String = intercept[IllegalArgumentException](
      Similarity.pqEncodePacked(emb, b, 4, 2)).getMessage
    val cv = Seq.fill(dim)(0.5)
    assert(refusal(Seq(("c1", cv), ("c2", cv)).toDF("rlabel", "cvec"))
      .contains("round-trip through long"))
    assert(refusal(Seq((1L, cv), (1L, cv)).toDF("rlabel", "cvec")).contains("collide"))
    assert(refusal(spark.range(0, 4097).select(col("id").as("rlabel"),
      array_repeat(lit(0.5), dim).as("cvec"))).contains("4096"))
    // numeric-string labels round-trip: served, codes in the book's own type
    val strBook = Seq(("0", cv), ("1", cv.map(-_))).toDF("rlabel", "cvec")
    val codes = Similarity.pqEncodePacked(emb, strBook, 4, 2)
      .select(explode(col("codes"))).as[String].collect().toSet
    assert(codes.nonEmpty && codes.subsetOf(Set("0", "1")))
  }

  test("an exploded codes table is refused, naming ann_rebuild, and serves after CALL ann_rebuild") {
    val wh = java.nio.file.Files.createTempDirectory("graft_packspec_wh").toString
    spark.conf.set("spark.sql.catalog.graft_pack", classOf[graft.io.VersionedCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_pack.warehouse", wh)
    def rootOf(name: String): String = s"$wh/ns/$name"
    val emb = embFixture()
    Versioned.commit(spark, emb, rootOf("corpus"))
    AnnIndex.train(spark, emb, m = 4, dsub = 2, rootOf("model"))
    val (cent, b, m, dsub) = AnnIndex.model(spark, rootOf("model"))
    Versioned.commit(spark, AnnIndex.encodeCodes(emb, cent, b, m, dsub)
      .select(col("vec_id"), col("cluster"),
        posexplode(col("codes")).as(Seq("sub", "code"))), rootOf("codes"))
    val queries = emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    def refused(body: => Any): String = intercept[UnpackedCodesException](body).getMessage
    for (msg <- Seq(
        refused(AnnIndex.prepare(spark, rootOf("model"), rootOf("codes"))),
        refused(AnnIndex.search(spark, queries, rootOf("model"), rootOf("codes"), k = 3)),
        refused(AnnIndex.cellStats(spark, rootOf("codes"), rootOf("model"))),
        refused(Similarity.ivfPqTopKIndexed(Versioned.read(spark, rootOf("codes")),
          Similarity.assignClusters(queries, cent, 1), b, dsub, k = 3))))
      assert(msg.contains("exploded") &&
        msg.contains("CALL graft.system.ann_rebuild"), msg)
    spark.sql("CALL graft_pack.system.ann_rebuild('ns.corpus', 'ns.model', 'ns.codes')")
      .collect()
    val handle = AnnIndex.prepare(spark, rootOf("model"), rootOf("codes"))
    val direct = AnnIndex.search(spark, queries, rootOf("model"), rootOf("codes"),
      k = 3, nprobe = 2).collect().toSet
    assert(direct.size == 30 &&
      handle.search(queries, k = 3, nprobe = 2).collect().toSet == direct)
  }

  test("breachRuns warns on a series estimated past the monitor bound") {
    val series = (0L until 64L).flatMap(b => Seq((b, 90, 20000L)))
      .toDF("batch_id", "pct", "drift_q")
    AnnIndex.lastSeriesWarn.set(null)
    spark.conf.set("spark.graft.monitorSeriesWarnBytes", "1")
    try {
      val runs = AnnIndex.driftAlerts(series, pct = 90, tolQ = 10486L,
        minRun = 2).collect()
      assert(runs.nonEmpty)
      val warn = AnnIndex.lastSeriesWarn.get
      assert(warn != null && warn.contains("monitor series"), s"got: $warn")
    } finally spark.conf.unset("spark.graft.monitorSeriesWarnBytes")
    // at the default bound a series-sized frame stays quiet
    AnnIndex.lastSeriesWarn.set(null)
    AnnIndex.driftAlerts(series, pct = 90, tolQ = 10486L, minRun = 2).collect()
    assert(AnnIndex.lastSeriesWarn.get == null)
  }
}

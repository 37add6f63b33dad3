package graft

import graft.ops.{AnnIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused whole-codebook kernels (nearestKLabels / pqCodesAll /
  * pqReconCosQ — one map-side projection per vector) on randomized
  * embeddings plus the edge rows the selection semantics pin — a NULL
  * embedding (must still assign/encode, to the smallest labels), a zero
  * vector (NaN cosine ranks GREATEST under Double.compare), and
  * duplicated centroids (equal scores break to the smallest label).
  * Assignment keeps two forms, so the fused one is checked against the
  * heap plan (reached through zero-padded string labels, whose UTF8
  * order is the numeric order); every PQ step has one implementation,
  * checked against the scalar [[PqReference]]. */
class FusedAnnSpec extends SparkSpecBase {
  import spark.implicits._

  private val dim = 8

  private def embFixture(): DataFrame = {
    val rnd = new scala.util.Random(42)
    val rows: Seq[(Long, Seq[Float], Int)] =
      (0L until 200L).map { i =>
        (i, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f), (i % 5).toInt)
      } ++ Seq(
        (200L, null, 0),                        // null embedding
        (201L, Seq.fill(dim)(0f).toSeq, 1))     // zero vector → NaN cosine
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"),
        col("label"))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The same centroids under zero-padded string labels: the heap plan. */
  private def heapLabels(cent: DataFrame): DataFrame =
    cent.select(lpad(col("rlabel").cast("string"), 5, "0").as("rlabel"), col("cvec"))

  private def book(emb: DataFrame): DataFrame = Similarity.pqCodebook(
    emb.select(col("label"), col("embedding"))
      .withColumn("vec_id", monotonically_increasing_id()))

  test("fused assignClusters matches the heap plan at nprobe 1 and 2") {
    val emb = embFixture()
    val cent = Similarity.quantizedCentroids(
      emb.select(col("label"), col("embedding")))
    for (nprobe <- Seq(1, 2)) {
      val fused = sortedRows(Similarity.assignClusters(
        emb.select(col("vec_id"), col("embedding")), cent, nprobe))
      val heap = sortedRows(Similarity.assignClusters(
        emb.select(col("vec_id"), col("embedding")), heapLabels(cent), nprobe)
        .select(col("vec_id"), col("embedding"), col("cluster").cast("int")))
      assert(fused == heap, s"assignClusters diverged at nprobe=$nprobe")
      assert(fused.nonEmpty)
    }
  }

  test("fused assignClusters keeps null-embedding rows (smallest label)") {
    val emb = embFixture()
    val cent = Similarity.quantizedCentroids(
      emb.select(col("label"), col("embedding")))
    val minLabel = cent.agg(min(col("rlabel"))).head().get(0)
    val assigned = Similarity.assignClusters(
      emb.select(col("vec_id"), col("embedding")), cent, 1)
      .filter(col("vec_id") === 200L).collect()
    assert(assigned.length == 1)
    assert(assigned.head.get(2) == minLabel)
  }

  test("fused assignClusters breaks duplicate-centroid ties to the smallest label") {
    val emb = embFixture().filter(col("vec_id") < 50)
    // two identical centroids under different labels: every vector
    // scores them equally, so label 7 must never win over label 3 — in
    // the fused form and in the heap plan
    val v = Seq.fill(dim)(1.0)
    val cent = Seq((3L, v), (7L, v)).toDF("rlabel", "cvec")
    for (c <- Seq(cent, heapLabels(cent))) {
      val got = Similarity.assignClusters(
        emb.select(col("vec_id"), col("embedding")), c, 1).collect()
      assert(got.length == 50 && got.forall(_.get(2).toString.toLong == 3L),
        c.schema.simpleString)
    }
  }

  test("pqEncode matches the scalar reference (nulls and zero vectors included)") {
    val emb = embFixture()
    val b = book(emb)
    val m = 4; val dsub = 2
    val ref = PqReference.book(b)
    val want = emb.collect().flatMap { r =>
      PqReference.codes(PqReference.emb(r, 1), ref, m, dsub).zipWithIndex
        .map { case (c, s) => (r.getLong(0), s, c) }
    }.toSet
    val got = Similarity.pqEncode(emb.select(col("vec_id"), col("embedding")), b, m, dsub)
      .select(col("vec_id"), col("sub"), col("code").cast("long"))
      .as[(Long, Int, Long)].collect()
    assert(got.length == 202 * m && got.toSet == want)
  }

  test("pqRefineBook matches the scalar reference") {
    val emb = embFixture()
    val book0 = book(emb)
    val m = 4; val dsub = 2
    val want = PqReference.refine(emb.collect().map(PqReference.emb(_, 1)).toSeq,
      PqReference.book(book0), m, dsub).toMap
    val got = Similarity.pqRefineBook(emb, book0, m, dsub).collect()
      .map(r => r.getInt(0).toLong -> r.getSeq[Any](1)).toMap
    assert(got == want && got.size == 5)
  }

  test("train + driftStats match the scalar reference bit for bit") {
    val emb = embFixture()
    val root = java.nio.file.Files.createTempDirectory("fusedann_model").toString
    AnnIndex.train(spark, emb, m = 4, dsub = 2, root)
    val (_, modelBook, _, _) = AnnIndex.model(spark, root)
    val ref = PqReference.book(modelBook)
    val qcos = emb.collect().toSeq.flatMap(r =>
      PqReference.reconCosQ(PqReference.emb(r, 1), ref, 4, 2))
    val want = PqReference.positionQuantiles(qcos, Seq(50, 90, 99))
    val got = AnnIndex.driftStats(spark, emb, root).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want.map { case (p, q) => p -> ((q, q, 0L)) })
  }
}

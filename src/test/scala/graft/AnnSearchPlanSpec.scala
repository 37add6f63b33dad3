package graft

import graft.ops.{AnnIndex, Similarity}
import org.apache.spark.graftx.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The IVF-PQ search plan itself: a query side held on the driver (the
  * prepared handle's, and the direct search's below its 10k-row cap)
  * travels with the plan instead of being broadcast, so a search is one
  * narrow map-side pipeline plus the final top-k exchange; every shape
  * reconstructs each candidate once; and the index build labels every
  * job it runs. The fixture is the benchmark's llm_corpus index shape:
  * 5,000 unit vectors of dimension 32 around 32 centres, m = 8, dsub = 4,
  * 16 queries, nprobe 4, k 10. */
class AnnSearchPlanSpec extends SparkSpecBase {
  import spark.implicits._

  private val nVec = 5000
  private val dim = 32
  private val cells = 32

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private lazy val vecs: Array[Array[Float]] = {
    val r = new scala.util.Random(11)
    val centres = Array.fill(cells)(unit(Array.fill(dim)(r.nextGaussian().toFloat)))
    Array.tabulate(nVec)(i =>
      unit(centres(i % cells).map(c => c + (r.nextGaussian() * 0.12).toFloat)))
  }

  private def embFrame(rows: Seq[(Long, Array[Float], Int)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v, l) => Row(i, v.toSeq, l) }: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))

  private lazy val emb: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("ann_plan_emb").toString + "/emb"
    embFrame(vecs.indices.map(i => (i.toLong, vecs(i), i % cells)))
      .repartition(4).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** (modelRoot, codesRoot) of one index over the fixture, and the job
    * labels its build ran. */
  private lazy val (modelRoot, codesRoot, buildLabels) = {
    val m = tmp("ann_plan_m"); val c = tmp("ann_plan_c")
    emb.count()
    val (_, labels) = JobCount.labels(spark)(
      AnnIndex.trainAndRebuild(spark, emb, m = 8, dsub = 4, m, c))
    (m, c, labels)
  }

  private def queries(seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    embFrame((0 until 16).map { j =>
      val base = vecs(r.nextInt(nVec))
      (1000000000L + j, unit(base.map(x => x + (r.nextGaussian() * 0.05).toFloat)), 0)
    }).select(col("vec_id"), col("embedding"))
  }

  /** Occurrences of the reconstruction kernel in `df`'s executed plan,
    * read after `df` ran so adaptive execution has its final plan. */
  private def reconstructs(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).flatMap(_.expressions.flatMap(_.collect {
      case e: graft.functions.GraftExpressions.PqReconstructKExpr => e
    })).size
  }

  private def joins(df: DataFrame): Int = df.queryExecution.optimizedPlan.collect {
    case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
  }.size

  test("every job of trainAndRebuild carries an ann or versioned label") {
    assert(buildLabels.nonEmpty)
    assert(buildLabels.forall(l => l != null && (l.startsWith("ann ") || l.startsWith("versioned "))),
      s"unlabelled or foreign jobs: ${buildLabels.map(Option(_).getOrElse("(none)"))}")
  }

  test("prepared search at the benchmark shape runs at most 2 Spark jobs; direct search 5") {
    val handle = AnnIndex.prepare(spark, modelRoot, codesRoot)
    handle.search(queries(1), k = 10, nprobe = 4).collect() // warm
    (2 to 4).foreach { s =>
      val (rows, jobs) = JobCount(spark)(handle.search(queries(s), k = 10, nprobe = 4).collect())
      assert(rows.length == 160, s"seed $s: ${rows.length} rows")
      assert(jobs <= 2, s"seed $s: prepared search ran $jobs jobs")
    }
    val (rows, jobs) = JobCount(spark)(
      AnnIndex.search(spark, queries(2), modelRoot, codesRoot, k = 10, nprobe = 4).collect())
    assert(rows.toSet == handle.search(queries(2), k = 10, nprobe = 4).collect().toSet)
    assert(jobs <= 5, s"direct search ran $jobs jobs")
  }

  test("a held query side travels with the plan: no join, and the rows of the broadcast form") {
    val (cent, book, _, dsub) = AnnIndex.model(spark, modelRoot)
    val codes = spark.read.format("graft-versioned").load(codesRoot)
    for (np <- Seq(1, 4, cells)) {
      val qa = Similarity.assignClusters(queries(5), cent, nprobe = np).repartition(2)
      val rows = qa.collect()
      val held = spark.createDataFrame(java.util.Arrays.asList(rows: _*), qa.schema)
      val viaHeld = Similarity.ivfPqTopKIndexed(codes, held, book, dsub, k = 10)
      val viaBroadcast = Similarity.ivfPqTopKIndexed(codes, qa, book, dsub, k = 10)
      assert(joins(viaHeld) == 0, viaHeld.queryExecution.optimizedPlan.toString)
      assert(joins(viaBroadcast) == 2) // the semi-join prune and the query join
      val got = viaHeld.collect()
      assert(got.length == 160 && got.toSet == viaBroadcast.collect().toSet, s"nprobe=$np")
    }
  }

  test("pqReconstructK runs once per candidate in the prepared, direct and broadcast plans") {
    val handle = AnnIndex.prepare(spark, modelRoot, codesRoot)
    assert(reconstructs(handle.search(queries(6), k = 10, nprobe = 4)) == 1)
    assert(reconstructs(AnnIndex.search(spark, queries(6), modelRoot, codesRoot,
      k = 10, nprobe = 4)) == 1)
    val (cent, book, _, dsub) = AnnIndex.model(spark, modelRoot)
    val qa = Similarity.assignClusters(queries(6), cent, nprobe = 4).repartition(2)
    assert(reconstructs(Similarity.ivfPqTopKIndexed(
      spark.read.format("graft-versioned").load(codesRoot), qa, book, dsub, k = 10)) == 1)
  }

  test("a vector none of whose codes hit the book yields no candidate, in both query shapes") {
    val book = Seq(
      (0L, Seq(1.0, 0.0, 0.5, 0.25)),
      (1L, Seq(0.0, 1.0, 0.25, 0.5))).toDF("rlabel", "cvec")
    val codes = Seq(
      (2L, 0L, Seq(8L, 9L)), // no known code: no reconstruction
      (3L, 0L, Seq(1L, 0L)),
      (4L, 0L, Seq(0L, 1L)),
      (5L, 1L, Seq(0L, 0L))  // another cell: not probed
    ).toDF("vec_id", "cluster", "codes")
    val qa = Seq((100L, Seq(0.5f, 0.5f, 0.25f, 0.75f), 0L))
      .toDF("vec_id", "embedding", "cluster")
    val viaHeld = Similarity.ivfPqTopKIndexed(codes, qa, book, dsub = 2, k = 10)
    val viaBroadcast = Similarity.ivfPqTopKIndexed(codes, qa.repartition(2), book, dsub = 2, k = 10)
    assert(joins(viaHeld) == 0 && joins(viaBroadcast) == 2)
    val got = viaHeld.collect()
    assert(got.map(_.getLong(1)).toSet == Set(3L, 4L))
    assert(got.toSet == viaBroadcast.collect().toSet)
  }

  test("the codebook resolves at prepare: a handle keeps serving its book after a retrain") {
    val m = tmp("ann_plan_rm"); val c = tmp("ann_plan_rc")
    AnnIndex.trainAndRebuild(spark, emb.filter(col("vec_id") < 2000), m = 8, dsub = 4, m, c)
    val handle = AnnIndex.prepare(spark, m, c)
    val before = handle.search(queries(7), k = 10, nprobe = 2)
    assert(reconstructs(before) == 1)
    val want = before.collect().toSet
    // a new model over other vectors replaces centroids and book; the
    // packed codes table is untouched
    AnnIndex.train(spark, emb.filter(col("vec_id") >= 2000), m = 8, dsub = 4, m)
    val after = handle.search(queries(7), k = 10, nprobe = 2)
    assert(reconstructs(after) == 1 && after.collect().toSet == want && want.size == 160)
    assert(AnnIndex.prepare(spark, m, c).search(queries(7), k = 10, nprobe = 2)
      .collect().toSet != want)
  }
}

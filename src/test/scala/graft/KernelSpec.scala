package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** The native kernel expressions must be bit-identical to the built-in
  * higher-order-function compositions they replaced (which in turn match
  * the DuckDB oracles). Checked over the real sf0.001 documents corpus
  * plus synthetic edge cases (empty text, short text, punctuation-only).
  */
class KernelSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val edges = Seq((9001L, ""), (9002L, "one"), (9003L, "two words"),
      (9004L, "!!! ??? ..."), (9005L, "a b c d e f g"))
      .toDF("doc_id", "text")
    docs.unionByName(edges)
  }

  test("shingles kernel == composed") {
    val t = tokens(col("text"))
    val bad = corpus.filter(!(shingles(t, 3) <=> shinglesComposed(t, 3)))
    assert(bad.count() == 0)
  }

  test("hash32 kernel == composed") {
    val t = tokens(col("text"))
    val bad = corpus.filter(
      !(transform(t, hash32 _) <=> transform(t, hash32Composed _)))
    assert(bad.count() == 0)
  }

  test("shingleHashes kernel == transform(shingles, hash32composed)") {
    val t = tokens(col("text"))
    val bad = corpus.filter(
      !(shingleHashes(t, 3) <=> transform(shinglesComposed(t, 3), hash32Composed _)))
    assert(bad.count() == 0)
  }

  test("minhash signature kernel == composed (including empty -> nulls)") {
    val t = tokens(col("text"))
    val h = shingleHashes(t, 3)
    val bad = corpus.filter(
      !(minhashSignature(h, 16) <=> minhashSignatureComposed(h, 16)))
    assert(bad.count() == 0)
  }

  test("simhash kernel == composed (including empty -> 0)") {
    val t = tokens(col("text"))
    val h = transform(t, hash32 _)
    val bad = corpus.filter(!(simhash32(h) <=> simhash32Composed(h)))
    assert(bad.count() == 0)
  }

  test("kmin aggregate == window-based k-smallest, across partitions and duplicates") {
    import graft.functions.GraftExpressions.kminLongs
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // duplicates + multiple groups + forced multi-partition input so the
    // partial-buffer merge path actually runs
    val rows = (1 to 5000).map(_ => (rnd.nextInt(3), rnd.nextInt(800).toLong))
    val df = rows.toDF("g", "v").repartition(16)
    val viaAgg = df.groupBy("g").agg(kminLongs(col("v"), 10).as("ks"))
      .as[(Int, Seq[Long])].collect().toMap
    val w = Window.partitionBy("g").orderBy("v")
    val viaWindow = df.select(col("g"), col("v")).distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .groupBy("g").agg(sort_array(collect_list(col("v"))).as("ks"))
      .as[(Int, Seq[Long])].collect().toMap
    assert(viaAgg == viaWindow)
    // k larger than the distinct count: returns all, ascending
    val small = Seq((1, 5L), (1, 3L), (1, 5L)).toDF("g", "v")
    assert(small.groupBy("g").agg(kminLongs(col("v"), 100).as("ks"))
      .as[(Int, Seq[Long])].head()._2 == Seq(3L, 5L))
  }

  test("graft_kmin SQL registration matches the Column API") {
    GraftExtensions.register(spark)
    Seq((1, 9L), (1, 2L), (1, 7L), (2, 4L)).toDF("g", "v")
      .createOrReplaceTempView("kmin_t")
    val viaSql = spark.sql(
      "SELECT g, graft_kmin(v, 2) AS ks FROM kmin_t GROUP BY g")
      .as[(Int, Seq[Long])].collect().toMap
    assert(viaSql == Map(1 -> Seq(2L, 7L), 2 -> Seq(4L)))
  }

  test("fused cosine kernel == composed dot/norm form over real embeddings") {
    import graft.functions.GraftExpressions.cosineD
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.select(col("vec_id").as("i"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("j"), col("embedding").as("eb"))
    val pairs = a.join(b, col("i") % 5 === col("j") % 5)
    val bad = pairs.filter(!(cosineD(col("ea"), col("eb")) <=>
      cosine(dotD(col("ea"), col("eb")), normSqD(col("ea")), normSqD(col("eb")))))
    assert(bad.count() == 0)
  }

  test("fused float×double cosine == interpreted generic fold (centroid shape)") {
    import graft.functions.GraftExpressions.cosineFD
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // double side built exactly like Lloyd centroids: quantized integer
    // sums cast to double (plus a plain cast pair as a second shape)
    val cents = graft.ops.Similarity.quantizedCentroids(
      emb.select(col("label"), col("embedding")))
    val pairs = emb.crossJoin(cents)
    val bad = pairs.filter(!(cosineFD(col("embedding"), col("cvec")) <=>
      graft.ops.Similarity.cosineGeneric(col("embedding"), col("cvec"))))
    assert(bad.count() == 0)
  }

  test("fused subspace cosine == composed slice/zip_with/aggregate form (PQ encode shape)") {
    // the subspace cosine runs inside the pqCodesAll encode kernel; its
    // codes must be the argmax (ties to the smallest label, null -> -Inf)
    // of the composed slice/zip_with/aggregate cosine, the heap selection
    import graft.functions.GraftExpressions.{pqCodesAll, topKBy}
    val dsub = 4
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val book = graft.ops.Similarity.pqCodebook(
      emb.select(col("label"), col("embedding")))
    // edge shapes the kernel must clamp/null exactly like the composed
    // form: short vectors (clamped windows — equal-short folds, unequal
    // lengths null), a null element inside one window, empty windows
    // (off past both ends -> 0/0 = NaN on both sides)
    val edges = Seq(
      (9001L, Seq.fill(62)(0.5f).map(Option(_)), 0),        // emb shorter than book in sub 15
      (9002L, Seq.fill(64)(0.25f).map(Option(_)), 0),       // full width
      (9003L, (Seq.fill(10)(Some(1.0f)) ++ Seq(None) ++ Seq.fill(53)(Some(2.0f))), 0), // null element in sub 2
      (9004L, Seq.empty[Option[Float]], 0),                  // empty vector: every window empty on the emb side
      (9005L, Seq.fill(3)(1.5f).map(Option(_)), 0))          // sub 0 unequal-length window
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
    val shapes = emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(edges)
    val off = col("sub") * dsub + 1
    val sa = slice(col("embedding"), off, lit(dsub))
    val sb = slice(col("cvec"), off, lit(dsub))
    val composed = coalesce(
      cosine(dotDComposed(sa, sb), dotDComposed(sa, sa), dotDComposed(sb, sb)),
      lit(Double.NegativeInfinity))
    val viaComposed = shapes.crossJoin(book)
      .select(col("vec_id"), col("rlabel").cast("long").as("rl"), col("embedding"),
        col("cvec"), explode(sequence(lit(0), lit(15))).as("sub"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(topKBy(composed, col("rl"), 1).getItem(0).getField("id").as("code"))
    val (labels, books) = graft.ops.Similarity.pqKernelBook(book)
    val viaKernel = shapes.select(col("vec_id"),
      posexplode(pqCodesAll(col("embedding"), books, labels, 16, dsub)).as(Seq("sub", "code")))
    assert(viaKernel.count() == shapes.count() * 16)
    assert(viaKernel.exceptAll(viaComposed).count() == 0 &&
      viaComposed.exceptAll(viaKernel).count() == 0)
  }

  test("dot-product kernel == composed fold over real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.select(col("vec_id").as("i"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("j"), col("embedding").as("eb"))
    val pairs = a.join(b, col("i") % 7 === col("j") % 7)
    val bad = pairs.filter(
      !(dotD(col("ea"), col("eb")) <=> dotDComposed(col("ea"), col("eb"))))
    assert(bad.count() == 0)
  }

  test("signWords/wordHamming kernels == composed CaseWhen/bit_count forms") {
    import graft.ops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val badFp = emb.filter(!(Similarity.signWords(col("embedding"), 64) <=>
      Similarity.signWordsComposed(col("embedding"), 64)))
    assert(badFp.count() == 0)
    // a non-multiple-of-32 dim exercises the partial last word
    val badFp33 = emb.filter(!(Similarity.signWords(col("embedding"), 33) <=>
      Similarity.signWordsComposed(col("embedding"), 33)))
    assert(badFp33.count() == 0)
    val fp = emb.select(col("vec_id"),
      Similarity.signWords(col("embedding"), 64).as("f"))
    val pairs = fp.select(col("vec_id").as("i"), col("f").as("fa"))
      .join(fp.select(col("vec_id").as("j"), col("f").as("fb")),
        col("i") % 7 === col("j") % 7)
    val badH = pairs.filter(
      !(Similarity.wordHamming(col("fa"), col("fb")) <=>
        Similarity.wordHammingComposed(col("fa"), col("fb"), 64)))
    assert(badH.count() == 0)
  }
}

package graft.ops

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`) — the
  * beyond-reference ANN surface (BASELINE.json north star).
  *
  * Two paths:
  *   - `bruteForceTopK`: exact cosine top-k of a (small, broadcast) query
  *     set against the full corpus. O(|Q|·N·dim) map work + one shuffle on
  *     query id for the per-query top-k. The baseline and the verifier for
  *     any approximate path.
  *   - `signLshTopK`: the scale path — candidates are restricted to the
  *     query's sign-LSH bucket (random-hyperplane LSH degenerates to
  *     coordinate signs for already-random embedding bases; a production
  *     deployment would rotate by a fixed seed matrix first). Bucket join is
  *     an equi-join -> hash-partitioned both sides, prunes N down by
  *     ~2^bits per query.
  *
  * Numeric discipline: dot/norm are sequential left folds in double
  * precision (aggregate over zip_with), bit-reproducible across engines —
  * DuckDB's list_reduce does the same left fold, so the oracle matches
  * without rounding tricks.
  */
object Similarity {

  /** Fan a SMALL single-file scan out across the cluster before an
    * n·k(·m) expansion pass (centroid assignment, PQ encode): a corpus
    * that fits one scan split runs those passes in ONE task, serializing
    * the only compute-bound stages of index training (guide §2.5 "input
    * skew: one huge unsplittable file … repartition immediately after
    * the read"). Scale-adaptive, not a local-mode constant: the
    * repartition fires only when the plan-stats estimate of the input is
    * at most `spark.graft.fanoutSmallBytes` (default one scan split,
    * 128 MB — i.e. the scan would yield ~1 task), so a production-scale
    * corpus with thousands of splits never pays the extra exchange,
    * while a small one buys full parallelism for ~one tiny shuffle.
    * The width is WORK-proportional, not a blanket defaultParallelism:
    * ceil(estBytes / spark.graft.fanoutTaskBytes) capped at
    * defaultParallelism, so a truly tiny corpus (one task's worth of
    * encode work — where 32 near-empty tasks cost more in launch
    * overhead than they recover, measured +2-5 s/query at sf0.1) skips
    * the repartition entirely, and only genuinely task-starved inputs
    * fan out. `spark.graft.fanoutWidth` overrides the computed width
    * for measurement runs. Row-identical: every consumer aggregates
    * with order-independent combiners (exact integer sums, bounded
    * heaps with total tie-breaks), so partitioning cannot change
    * results. */
  private[graft] def fanOutSmall(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val cap = spark.conf.getOption("spark.graft.fanoutSmallBytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    if (par <= 1 || cap <= 0L) return df
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > BigInt(cap)) return df
    val taskBytes = spark.conf.getOption("spark.graft.fanoutTaskBytes")
      .map(_.toLong).getOrElse(2L * 1024 * 1024).max(1L)
    val width = spark.conf.getOption("spark.graft.fanoutWidth").map(_.toInt)
      .getOrElse(((est + taskBytes - 1) / taskBytes).min(BigInt(par)).toInt)
    if (width > 1) df.repartition(width) else df
  }

  /** Sign-LSH bucket from the first `bits` coordinate signs. */
  def signBucket(emb: Column, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(emb, i + 1) > 0f, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Attach cosine similarity between two embedding columns — the fused
    * single-pass kernel (dot + both norms in one array walk; the composed
    * form traverses each pair three times). Bit-identical to
    * cosine(dotD, normSqD, normSqD) and the oracle (KernelSpec). */
  def cosineSim(a: Column, b: Column): Column =
    graft.functions.GraftExpressions.cosineD(a, b)

  /** Exact top-k: each row of `queries` (columns qid, qvec) against each
    * row of `corpus` (columns nid, nvec), excluding self-pairs.
    * `queries` must be small: it is broadcast, so the corpus is scanned
    * exactly once with no shuffle before the top-k. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", cosineSim(col("qvec"), col("nvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "cos", "rank")
  }

  /** Exact top-k via the bounded-heap `graft_topk` aggregate — same result
    * set and ordering as [[bruteForceTopK]] but the scale-path plan: the
    * window form exchanges EVERY scored candidate row and sorts whole
    * partitions to keep k; here partial aggregation keeps k pairs per
    * (query, task) map-side, so the single exchange carries at most
    * k×|queries|×tasks structs and there is no sort at all. */
  def bruteForceTopKAgg(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosineSim(col("qvec"), col("nvec")).as("cos"))
    topkPerQuery(scored, k)
  }

  /** Per-query bounded-heap top-k over a scored (qid, nid, cos) frame —
    * the shared final stage of the aggregate-path rankers: one
    * partial+final hash agg, k pairs per (query, task) on the wire,
    * rank = heap position. Tie-break (cos desc, nid asc) matches the
    * window form it replaces. */
  private def topkPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.GraftExpressions.topKBy
    scored.groupBy(col("qid"))
      .agg(topKBy(col("cos"), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("nid"), col("col.score").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Binary (1-bit/dim) sign fingerprint as an array of 32-bit words in
    * LONGs: word w's bit i is set iff component w·32+i+1 > 0. Words stay
    * in [0, 2^32) so every arithmetic step is exact and oracle-safe (a
    * single 64-bit word would set the sign bit for ~half of all vectors,
    * which DuckDB's integer tower cannot round-trip through list_sum).
    * Fused codegen kernel; [[signWordsComposed]] is the built-in-function
    * reference it must match bit for bit (KernelSpec). The composition is
    * NOT the production form: its per-dim CaseWhen tree evaluates at
    * interpreted speed (~40 µs/row measured) and poisons every stage
    * that embeds it. */
  def signWords(emb: Column, dim: Int): Column =
    graft.functions.GraftExpressions.signWordsK(emb, dim)

  /** Reference composition for [[signWords]] — KernelSpec equivalence
    * twin, mirroring the oracle SQL shape. */
  def signWordsComposed(emb: Column, dim: Int): Column =
    array((0 until (dim + 31) / 32).map { w =>
      (0 until math.min(32, dim - w * 32)).map { i =>
        when(element_at(emb, w * 32 + i + 1) > 0f, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** Hamming distance between two [[signWords]] fingerprints — fused
    * kernel (one primitive xor/popcount pass); runs once per candidate
    * pair in the shortlist stage, exactly the hot path that must stay
    * inside whole-stage codegen. [[wordHammingComposed]] is the
    * reference. */
  def wordHamming(a: Column, b: Column): Column =
    graft.functions.GraftExpressions.wordHammingK(a, b)

  /** Reference composition for [[wordHamming]] (KernelSpec twin). */
  def wordHammingComposed(a: Column, b: Column, dim: Int): Column =
    (0 until (dim + 31) / 32).map { w =>
      bit_count(element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1)))
        .cast("long")
    }.reduce(_ + _)

  /** Binary-quantization search with exact re-rank — the RAM-prefilter
    * pattern of production vector stores: stage 1 shortlists each
    * query's `shortlist` nearest corpus vectors by HAMMING distance over
    * the 1-bit/dim [[signWords]] fingerprints (dim/8 bytes per vector —
    * the whole billion-vector filter fits where raw floats cannot; the
    * raw corpus vectors are never touched and the bounded-heap keeps
    * `shortlist` ids per (query, task), so the single exchange carries
    * fingerprint-scale data only); stage 2 re-ranks ONLY the shortlist
    * with exact cosine against the raw vectors (shortlist ids broadcast
    * back to the corpus scan). Ties: hamming asc then nid asc at the
    * shortlist boundary; cos desc then nid asc at the final rank — both
    * deterministic, both matched by the oracle. Returns (qid, nid, cos,
    * rank), rank ≤ k. */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, dim: Int,
                 k: Int, shortlist: Int): DataFrame =
    binaryTopKIndexed(
      corpus.select(col("nid"), signWords(col("nvec"), dim).as("fp")),
      queries, corpus, dim, k, shortlist)

  /** [[binaryTopK]] against a PREBUILT fingerprint frame (nid, fp) — the
    * persisted-index search path: stage 1 reads dim/8 bytes per corpus
    * vector from the index table and never touches raw embeddings;
    * stage 2 fetches only the shortlist's raw vectors for the exact
    * re-rank (at scale, a bloom/stats-pruned point-lookup join into the
    * corpus table — the shortlist ids broadcast). The index is what
    * [[graft.ops.AnnIndex.buildBinaryIndex]] persists. An fp frame whose
    * word count does not match `dim` fails loudly at evaluation (the
    * hamming kernel refuses width-mismatched fingerprints — a silent
    * truncation would return a plausible but wrong shortlist);
    * `AnnIndex.binarySearch` additionally checks it up front with the
    * index root named in the error. */
  def binaryTopKIndexed(fp: DataFrame, queries: DataFrame, corpus: DataFrame,
                        dim: Int, k: Int, shortlist: Int): DataFrame =
    binaryRerank(binaryShortlist(fp, queries, dim, shortlist), queries, corpus, k)

  /** Stage 1 of [[binaryTopKIndexed]] alone — the Hamming shortlist as a
    * (qid, nid) frame, `shortlist` candidates per query in (hamming asc,
    * nid asc) order at the boundary. Exposed so callers that can prune
    * the re-rank FETCH (e.g. `AnnIndex.binarySearch` against a versioned
    * corpus root, whose per-file vec_id blooms skip files for a pushed
    * shortlist-id IN) can collect this bounded frame and build the fetch
    * themselves; [[binaryRerank]] is the matching stage 2. */
  def binaryShortlist(fp: DataFrame, queries: DataFrame, dim: Int,
                      shortlist: Int): DataFrame = {
    import graft.functions.GraftExpressions.topKBy
    val qf = queries.select(col("qid"), signWords(col("qvec"), dim).as("__qf"))
    fp
      .select(col("nid"), col("fp").as("__cf"))
      .crossJoin(broadcast(qf))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (-wordHamming(col("__qf"), col("__cf"))).cast("double").as("__s"))
      .groupBy(col("qid"))
      .agg(topKBy(col("__s"), col("nid"), shortlist).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__e"))
      .select(col("qid"), col("__e.id").as("nid"))
  }

  /** Stage 2 of the binary rankers: exact-cosine re-rank of a (qid, nid)
    * shortlist against `corpus`'s raw vectors — only the shortlist's rows
    * are kept (the shortlist broadcasts into the corpus join), ties
    * (cos desc, nid asc), rank ≤ k. Shared verbatim by the exhaustive and
    * the cell-pruned forms, so their re-rank semantics cannot drift. */
  def binaryRerank(short: DataFrame, queries: DataFrame, corpus: DataFrame,
                   k: Int): DataFrame = {
    import graft.functions.GraftExpressions.topKBy
    corpus.join(broadcast(short), Seq("nid"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("nid"),
        cosineSim(col("qvec"), col("nvec")).as("cos"))
      .groupBy(col("qid"))
      .agg(topKBy(col("cos"), col("nid"), k).as("__rk"))
      .select(col("qid"), posexplode(col("__rk")))
      .select(col("qid"), col("col.id").as("nid"), col("col.score").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** [[binaryTopKIndexed]] with the Hamming stage restricted to each
    * query's PROBED CELLS: `fp` is a CELLED fingerprint frame (nid,
    * cluster, fp — one home cell per corpus vector) and `queryAssigned`
    * an [[assignClusters]] result (vec_id, embedding, cluster — one row
    * per probed cell), so the candidate meeting is a cluster EQUI-JOIN
    * instead of the exhaustive crossJoin: a query scores only the
    * fingerprints homed where it probes, and a (query, candidate) pair
    * meets at most once under any nprobe (the corpus side keeps one home
    * cell — the same invariant as [[ivfTopK]]). With every cell probed
    * the candidate set, the shortlist tie-breaks ((hamming, nid) asc)
    * and the final (cos desc, nid) re-rank are all identical to the
    * exhaustive form, so results coincide exactly; with fewer, recall
    * trades against scanning proportionally fewer fingerprints.
    * `AnnIndex.binarySearch(nprobe)` layers file-level pruning on top by
    * filtering the celled index table before handing it here.
    *
    * Contract (both this and the exhaustive form): query ids are UNIQUE.
    * `queryAssigned` is expected to come from [[assignClusters]], which
    * already collapses a duplicated qid to ONE embedding (`first`) —
    * exactly as the exhaustive form's caller contract ("each row of
    * queries") makes duplicate qids out of contract there. A hand-built
    * frame carrying the same qid with DIFFERING embeddings is therefore
    * out of contract for both entry points: this form would score the
    * per-cell fingerprints of every copy but re-rank against one
    * arbitrary embedding, the exhaustive form would produce colliding
    * rank sequences under one qid — neither is a meaningful top-k. */
  def binaryTopKIndexedPruned(fp: DataFrame, queryAssigned: DataFrame,
                              corpus: DataFrame, dim: Int, k: Int,
                              shortlist: Int): DataFrame = {
    val short = binaryShortlistPruned(fp, queryAssigned, dim, shortlist)
    val queries = queryAssigned
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .dropDuplicates(Seq("qid"))
    binaryRerank(short, queries, corpus, k)
  }

  /** Stage 1 of [[binaryTopKIndexedPruned]] alone — the cell-restricted
    * Hamming shortlist as a (qid, nid) frame: the candidate meeting is a
    * cluster equi-join of the CELLED fingerprint frame against the
    * query's probed-cell rows, everything else as [[binaryShortlist]]. */
  def binaryShortlistPruned(fp: DataFrame, queryAssigned: DataFrame,
                            dim: Int, shortlist: Int): DataFrame = {
    import graft.functions.GraftExpressions.topKBy
    val qf = queryAssigned.select(col("vec_id").as("qid"), col("cluster"),
      signWords(col("embedding"), dim).as("__qf"))
    fp
      .select(col("nid"), col("cluster"), col("fp").as("__cf"))
      .join(broadcast(qf), Seq("cluster"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (-wordHamming(col("__qf"), col("__cf"))).cast("double").as("__s"))
      .groupBy(col("qid"))
      .agg(topKBy(col("__s"), col("nid"), shortlist).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__e"))
      .select(col("qid"), col("__e.id").as("nid"))
  }

  /** IVF centroid table from seed labels — one Lloyd step with integer-
    * quantized component sums (floor(v * 2^20)): exact, order-independent
    * and engine-identical, and since cosine is scale-invariant the
    * un-normalized sum vector IS the centroid direction (no mean
    * division, whose decimal rounding differs across engines).
    * Input columns (label, embedding) -> output (rlabel, cvec). */
  def quantizedCentroids(emb: DataFrame): DataFrame = {
    // float embeddings (every trained path): ONE partial+final hash
    // aggregate via the whole-vector quantized-sum accumulator — the
    // posexplode form materialized n·d component rows and shuffled them
    // twice. Same exact integer sums, same per-component null/presence
    // semantics (QuantVecSum scaladoc); a group whose every vector is
    // null/empty never produced a group in the exploded form, hence the
    // empty-array filter. Other element widths keep the exploded plan.
    emb.schema("embedding").dataType match {
      case ArrayType(FloatType, _) =>
        return fanOutSmall(emb.select(col("label"), col("embedding")))
          .groupBy(col("label"))
          .agg(graft.functions.GraftExpressions.quantVecSum(col("embedding"))
            .as("cvec"))
          .filter(size(col("cvec")) > 0)
          .select(col("label").as("rlabel"), col("cvec"))
      case _ => ()
    }
    val Q = 1048576L
    fanOutSmall(emb.select(col("label"), col("embedding")))
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("col").cast("double") * Q).cast("long")).as("s"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s").cast("double")).as("cvec"))
      .select(col("label").as("rlabel"), col("cvec"))
  }

  /** [[quantizedCentroids]] with each label's member COUNT riding along
    * — (rlabel, cvec, __cnt) out of the SAME single hash aggregation
    * (one extra count per group, no extra pass): the train path derives
    * the PQ codebook's mean division from the pinned centroid frame
    * with no second corpus aggregation and no join — the
    * groupBy-count + broadcast join `pqCodebook(emb, cent)` paid was
    * two cluster jobs per (re)train. Counts match pqCodebook's
    * groupBy-count exactly (every row of the label group, null/empty
    * embeddings included); the survivors are exactly
    * [[quantizedCentroids]]' (empty-sum groups filtered). Non-float
    * element widths keep the two-pass join shape. */
  def quantizedCentroidsWithCounts(emb: DataFrame): DataFrame = {
    emb.schema("embedding").dataType match {
      case ArrayType(FloatType, _) =>
        return fanOutSmall(emb.select(col("label"), col("embedding")))
          .groupBy(col("label"))
          .agg(graft.functions.GraftExpressions.quantVecSum(col("embedding"))
            .as("cvec"),
            count(lit(1)).as("__cnt"))
          .filter(size(col("cvec")) > 0)
          .select(col("label").as("rlabel"), col("cvec"), col("__cnt"))
      case _ => ()
    }
    val counts = emb.groupBy(col("label"))
      .agg(count(lit(1)).as("__cnt"))
      .select(col("label").as("rlabel"), col("__cnt"))
    quantizedCentroids(emb).join(broadcast(counts), "rlabel")
  }

  /** The codebook mean division over a [[quantizedCentroidsWithCounts]]
    * frame — [[pqCodebook]]'s one IEEE op per component, no join (the
    * counts already ride the frame). */
  def pqCodebookFromCounts(centWc: DataFrame): DataFrame =
    centWc.select(col("rlabel"),
      transform(col("cvec"), x => x / col("__cnt")).as("cvec"))

  /** Cosine via the generic interpreted fold — for mixed-width vectors
    * (float embeddings vs double centroids) where the float-array kernel
    * doesn't apply. Assignment-sized work only; probes use the kernel. */
  def cosineGeneric(a: Column, b: Column): Column =
    cosine(dotDComposed(a, b), dotDComposed(a, a), dotDComposed(b, b))

  /** Driver-collect a (rlabel, cvec) centroid/codebook frame into the
    * (ascending labels, codeword matrix) shape the fused whole-codebook
    * kernels take — the seam that turns the n·k(·m) crossJoin + explode
    * + bounded-heap ENCODE/ASSIGN plans into single narrow map-side
    * projections (no row expansion, no exchange: at scale the corpus is
    * never shuffled for an encode pass at all; the k-row artifact moves
    * to the tasks once, in the task binary, like a broadcast). None —
    * and the row plans keep serving — when the frame is outside the
    * fused kernels' shape: non-integral labels, non-double codewords,
    * empty, over the 4096-cell layout cap, or carrying nulls. The
    * collect is bounded by the same broadcast-small contract every
    * caller already imposed on these frames (they were broadcast before;
    * a LocalRelation-pinned frame collects driver-side with no job). */
  private[graft] def collectCodebook(cent: DataFrame)
      : Option[(Array[Long], Array[Array[Double]])] = {
    import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, IntegerType, LongType, ShortType}
    // kill-switch (default on): lets operators fall back to the row
    // plans wholesale, and lets the equivalence spec A/B the two paths.
    // A deliberate switch-off is NOT logged below — only shape declines
    // are, so a production layout that silently outgrew the fused
    // kernels (e.g. a > 4096-cell retrain) is visible in the logs
    // instead of quietly serving the slow row plans (r18 verdict #5).
    if (!cent.sparkSession.conf.getOption("spark.graft.fusedAnn")
      .forall(_.toBoolean)) return None
    cent.schema("rlabel").dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case t => return declineFused(
        s"codebook label type ${t.simpleString} is not integral")
    }
    cent.schema("cvec").dataType match {
      case ArrayType(DoubleType, _) => ()
      case t => return declineFused(
        s"codeword type ${t.simpleString} is not array<double>")
    }
    val rows = cent.select(col("rlabel").cast("long"), col("cvec")).collect()
    if (rows.isEmpty) return declineFused("codebook is empty")
    if (rows.length > 4096) return declineFused(
      s"codebook holds ${rows.length} rows (> 4096 fused-path cap)")
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      return declineFused("codebook carries null labels or codewords")
    val pairs = rows.map(r => (r.getLong(0), r.getSeq[Any](1)))
    if (pairs.exists(_._2.contains(null)))
      return declineFused("codebook carries null codeword components")
    val sorted = pairs.sortBy(_._1)
    Some((sorted.map(_._1),
      sorted.map(_._2.iterator.map(_.asInstanceOf[Double]).toArray)))
  }

  private val fusedLog = org.slf4j.LoggerFactory.getLogger(
    "graft.ops.Similarity")

  /** Most recent fused-path decline reason — the testable half of the
    * decline logging (the spec asserts the signal fires; production
    * reads the WARN). Never set by the deliberate kill-switch. */
  private[graft] val lastFusedDecline =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  private def declineFused(reason: String): Option[Nothing] = {
    lastFusedDecline.set(reason)
    fusedLog.warn(s"fused ANN kernels declined ($reason) — " +
      "serving the row plans for this call")
    None
  }

  /** Run `iters` full Lloyd iterations from the seed `label` column:
    * recompute quantized centroids from the current assignment, reassign
    * each vector to its nearest centroid (spherical k-means — the sum
    * direction maximizes within-cluster cosine, so mean cosine to the
    * assigned centroid is non-decreasing per iteration up to quantization
    * noise). Each iteration costs one centroid aggregation (two shuffles
    * over exploded components) plus a broadcast assignment scan;
    * per-iteration lineage is truncated (reliable `checkpoint()` when the
    * session has a checkpoint dir — survives executor loss mid-iteration
    * at cluster scale — else eager `localCheckpoint`) so iteration
    * i+1 doesn't re-derive iterations 1..i. Input (vec_id, embedding,
    * label) -> same shape with refined labels. */
  def lloydIterate(emb: DataFrame, iters: Int): DataFrame = {
    var labeled = emb.select(col("vec_id"), col("embedding"), col("label"))
    for (_ <- 1 to iters) {
      val cent = quantizedCentroids(labeled.select(col("label"), col("embedding")))
      labeled = Iterate.pin(assignClusters(labeled.select(col("vec_id"), col("embedding")), cent, 1)
        .select(col("vec_id"), col("embedding"), col("cluster").as("label")))
    }
    labeled
  }

  /** Assign each (vec_id, embedding) row to its `nprobe` nearest
    * centroids by cosine (deterministic tie-break on rlabel). nprobe=1
    * indexes the corpus; nprobe>1 widens a query's candidate lists —
    * the standard IVF recall dial.
    *
    * The scoring kernel is picked by the centroid element type: float
    * centroids (raw-vector seeds/representatives) use the fused
    * float×float kernel, double centroids (quantized Lloyd sums) the
    * fused float×double kernel — both codegen'd and bit-identical to
    * the interpreted [[cosineGeneric]] fold (KernelSpec), which remains
    * only as the fallback for exotic element types. n×k fused-kernel
    * evaluations are what keep corpus-proportional centroid counts
    * affordable: the interpreted fold's per-row lambda overhead made
    * assignment — not the pair join — the dominant cost past k≈100. */
  def assignClusters(emb: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType}
    // FUSED path (float embeddings × double quantized centroids — every
    // trained geometry): one narrow map-side projection per vector via
    // the whole-codebook kernel, no n·k crossJoin rows, no heap
    // exchange. Row-identical to the heap plan by the kernel's
    // replicated (Double.compare DESC, label ASC) selection with the
    // null-score → -Inf substitution (FusedAnnSpec pins it, null
    // embeddings included — they still assign to the smallest labels).
    (emb.schema("embedding").dataType, cent.schema("cvec").dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        collectCodebook(cent) match {
          case Some((labels, cents)) =>
            val rlabelType = cent.schema("rlabel").dataType
            return fanOutSmall(emb.select(col("vec_id"), col("embedding")))
              .select(col("vec_id"), col("embedding"),
                explode(graft.functions.GraftExpressions.nearestKLabels(
                  col("embedding"), cents, labels, nprobe)).as("__cl"))
              .select(col("vec_id"), col("embedding"),
                col("__cl").cast(rlabelType).as("cluster"))
          case None => ()
        }
      case _ => ()
    }
    // fused kernels where the shapes allow; the interpreted generic fold
    // keeps serving every other numeric width the old form accepted
    val rcos0 = (emb.schema("embedding").dataType, cent.schema("cvec").dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        cosineSim(col("embedding"), col("cvec"))
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        graft.functions.GraftExpressions.cosineFD(col("embedding"), col("cvec"))
      case _ => cosineGeneric(col("embedding"), col("cvec"))
    }
    // the window form ranked null scores LAST (desc NULLS LAST) but still
    // assigned the vector; the heap SKIPS null scores, which would make
    // such vectors vanish from the output — substitute -Inf (below every
    // real cosine, ties broken by label like before) so behavior matches
    val rcos = coalesce(rcos0, lit(Double.NegativeInfinity))
    // nearest-centroid selection via the bounded-heap aggregate, NOT a
    // window: the scored frame is n×k rows, and a window would SHUFFLE
    // AND SORT all of them on vec_id — measured super-linear on the
    // sf1→sf5 fixtures once k grows with the corpus (the whole point of
    // corpus-proportional centroid counts). The heap aggregate combines
    // map-side, so the exchange carries nprobe entries per (vec_id,
    // task) instead of k, and there is no sort. Tie-break (score desc,
    // id asc) is TopKPairs's contract — identical to the window form it
    // replaces and to the oracle SQL's ORDER BY. The id rides as LONG
    // through the heap and is cast back to the centroid label's own
    // type, so callers and oracles see unchanged cluster values.
    import graft.functions.GraftExpressions.topKBy
    val rlabelType = cent.schema("rlabel").dataType
    // the heap rides LONG or STRING ids natively; a lossy silent cast
    // (e.g. a string label nulling out) would drop rows — refuse other
    // label types loudly instead
    val heapId = rlabelType match {
      case StringType => col("rlabel")
      case ByteType | ShortType | IntegerType | LongType =>
        col("rlabel").cast("long")
      case t => throw new IllegalArgumentException(
        s"assignClusters: centroid label type ${t.simpleString} is not " +
          "supported (integral or string)")
    }
    fanOutSmall(emb).crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"),
        heapId.as("__rl"), rcos.as("rcos"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        topKBy(col("rcos"), col("__rl"), nprobe).as("__top"))
      .select(col("vec_id"), col("embedding"), explode(col("__top")).as("__e"))
      .select(col("vec_id"), col("embedding"),
        col("__e.id").cast(rlabelType).as("cluster"))
  }

  /** SemDeDup — semantic deduplication by cluster blocking (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication" — public): embeddings are k-means-clustered
    * ([[quantizedCentroids]]/[[lloydIterate]] + [[assignClusters]]), and
    * near-duplicate detection runs only WITHIN each cluster — the
    * clustering is the blocking step that makes semantic dedup tractable
    * at corpus scale (all-pairs cosine over 100 TB of embeddings is
    * impossible; per-cluster pairs are bounded).
    *
    * Keep rule (deterministic, engine-reproducible): a row is DROPPED iff
    * some cluster-mate with a smaller `vec_id` lies within the similarity
    * threshold (`cos >= tau`) — i.e. each near-dup group keeps its
    * lowest-id member that has no smaller near neighbor. Returns the kept
    * (vec_id, cluster) rows.
    *
    * Scale posture: the intra-cluster join is O(size²) per cluster, which
    * is SemDeDup's own cost model — at scale you raise the CLUSTER COUNT
    * so sizes stay bounded, you don't pay bigger quadratic blocks. A
    * cluster above `maxClusterSize` fails loudly (add centroids /
    * re-cluster) instead of detonating a task. */
  def semDedupKeep(assigned: DataFrame, tau: Double,
                   maxClusterSize: Int = 100000): DataFrame = {
    val over = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxClusterSize).limit(1).collect()
    require(over.isEmpty,
      s"semDedupKeep: cluster ${over.head.get(0)} has ${over.head.getLong(1)} " +
        s"members (> maxClusterSize=$maxClusterSize); increase the centroid " +
        "count (smaller clusters) — do not pay quadratic blocks this large")
    val b = assigned.select(col("vec_id").as("__bid"),
      col("embedding").as("__bvec"), col("cluster"))
    val dropped = assigned.join(b, Seq("cluster"))
      .filter(col("__bid") < col("vec_id"))
      .filter(cosineSim(col("embedding"), col("__bvec")) >= lit(tau))
      .select(col("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  /** [[semDedupKeep]] with a CORPUS-DERIVED centroid count — closes the
    * one documented 100 TB caveat of the fixed-seeding form: under a
    * FIXED centroid count the per-cluster O(size²) blocks grow
    * quadratically with the corpus, and the published remedy ("raise
    * centroids with the corpus", Abbas et al. 2023 §3) depended on
    * caller diligence. Here it IS the default:
    * k = max(minCentroids, ceil(n / targetClusterSize)) keeps the
    * EXPECTED cluster size constant, so total intra-cluster pair work
    * grows linearly with n instead of quadratically. The default
    * target (200) is deliberately small enough that k leaves the
    * minCentroids floor early — measured on the sf1→sf5 fixtures
    * (20k→100k vectors, 5× rows): target=2000 still sat near the floor
    * and cost 11.8× at the 5× step, target=200 scales k 100→500 and
    * holds the step at ~linear; a larger target buys per-cluster
    * recall only once the corpus dwarfs target × minCentroids.
    *
    * Deterministic and bit-reproducible (oracle-checked): seeds are the
    * vectors whose `vec_id` is a multiple of stride = max(1, n/k) — a
    * pure scan predicate, no global sort — routed through a coarse-to-
    * fine nearest-seed quantizer TREE (see the body), each level scored
    * by the engine-exact fused cosine with (cos desc, seed id)
    * tie-break. Dense ids give ~k seeds; sparse ids shift the seed
    * count but stay deterministic and corpus-proportional.
    *
    * The tree is TWO levels (√k broadcast top) until the top seed set
    * would exceed `maxBroadcastSeeds`, then THREE (k^(1/3) top, k^(2/3)
    * mid routed by equi-join) — the r11-stated broadcast ceiling
    * (√k ≈ 360 MB of floats at n = 2.5e10) closed by the same move that
    * built level two. Only the TOP level is ever broadcast.
    *
    * Measured on the sf fixtures (BenchSemDedup, target=20, local[32]):
    * the deeper tree costs a constant factor while per-job overheads
    * dominate (k=1000: 2.14 vs 2.76 s) and WINS outright once pair
    * evaluations do (k=5000: 16.0 vs 7.7 s — 3n·k^(1/3) vs 2n·√k pair
    * evals cross at k ≈ 729, with real crossover a few k past that);
    * its own scale curve is sublinear at both fixture steps (1.63 →
    * 2.76 → 7.72 s across 10× then 5× rows). The default still gates
    * on the broadcast BUDGET, not the analytic crossover — at budget-
    * triggering corpus sizes the deeper tree is strictly better on both
    * axes, while below it the two-level form keeps the smaller constant;
    * deployments past the local crossover can lower `maxBroadcastSeeds`.
    * Remaining stated ceiling: the depth is fixed at 3, so the top set
    * reaches `maxBroadcastSeeds` again near n ≈ target·maxTop³
    * (≈ 5.6e19 rows at the defaults — far past any real corpus; the
    * remedy, if it ever matters, is the same move a fourth time). */
  def semDedupAuto(emb: DataFrame, tau: Double,
                   targetClusterSize: Long = 200L,
                   minCentroids: Int = 16,
                   lloydIters: Int = 0,
                   maxClusterSize: Int = 100000,
                   maxBroadcastSeeds: Long = 1L << 16): DataFrame = {
    require(targetClusterSize > 0,
      s"targetClusterSize must be positive, got $targetClusterSize")
    require(minCentroids > 0, s"minCentroids must be positive, got $minCentroids")
    require(maxBroadcastSeeds > 0,
      s"maxBroadcastSeeds must be positive, got $maxBroadcastSeeds")
    // ONE planning pass for both scalar facts the seeding needs (count
    // and min id): each is a full-corpus action, and paying two scans
    // before any clustering work is one too many at 100 TB
    val plan0 = emb.agg(count(lit(1)), min(col("vec_id").cast("long"))).head()
    val n = plan0.getLong(0)
    if (n == 0L) // cluster is LONG on the assignment path; match it here
      return emb.select(col("vec_id"),
        col("vec_id").cast("long").as("cluster")).limit(0)
    val k = math.max(minCentroids.toLong,
      math.ceil(n.toDouble / targetClusterSize).toLong)
    val stride = math.max(1L, n / k)
    // TWO-LEVEL assignment (the IVF coarse-quantizer move): a flat
    // nearest-of-k scan is n×k = n²/target pair evaluations — the
    // corpus-proportional k that fixes the PAIR-JOIN quadratic would
    // quietly re-create it inside ASSIGNMENT (measured: the flat form's
    // sf1→sf5 step was dominated by the n×k crossJoin). Routing each
    // vector through ~√k coarse seeds first, then scoring only the fine
    // seeds of its coarse cell, costs n·(√k + k/√k) = 2n√k — the
    // standard accuracy-for-cost trade of every IVF index (a vector
    // whose true nearest fine seed lies in a neighboring coarse cell
    // lands one cell over; near-dup PAIRS still co-locate because both
    // ends take the same route). Both levels are deterministic stride
    // subsets of the corpus, so the whole clustering stays
    // bit-reproducible (oracle-checked).
    // seed residues anchor on the MINIMUM vec_id, not on zero: a corpus
    // whose ids share no multiple of the stride (all-odd ids, offset
    // ranges) would otherwise produce ZERO seeds and an empty keep set —
    // the whole corpus silently "deduplicated" away. The min id itself
    // is always a seed, and because each finer stride divides the next
    // coarser one the residues are congruent level to level, so every
    // coarser seed stays a finer seed (the no-empty-cell property).
    val minId = plan0.getLong(1)
    def seedsAt(s: Long): DataFrame = {
      val r = ((minId % s) + s) % s
      emb.filter(pmod(col("vec_id").cast("long"), lit(s)) === r)
        .select(col("vec_id"), col("embedding"))
    }
    def asCent(df: DataFrame): DataFrame =
      df.select(col("vec_id").as("rlabel"), col("embedding").as("cvec"))
    val csf = math.max(1L, math.floor(math.sqrt(k.toDouble) + 0.5).toLong)
    val fine = seedsAt(stride)
    val seeded =
      if (csf <= maxBroadcastSeeds) {
        // TWO levels: √k coarse seeds broadcast, fine seeds routed by
        // equi-join. Fine seed -> its coarse cell (k×√k, tiny); vector
        // -> coarse cell (n×√k through the map-side heap); vector ->
        // nearest fine seed WITHIN its cell (n×(k/√k) scored rows,
        // never a crossJoin over all k): 2n√k total.
        val coarse = asCent(seedsAt(stride * csf))
        val f2c = assignClusters(fine, coarse, 1)
          .select(col("vec_id").as("__sid"), col("embedding").as("__svec"),
            col("cluster").as("__cell"))
        val v2c = assignClusters(emb.select(col("vec_id"), col("embedding")), coarse, 1)
          .select(col("vec_id"), col("embedding"), col("cluster").as("__cell"))
        nearestWithin(v2c, f2c)
      } else {
        // THREE levels — the √k top set outgrew the broadcast budget:
        // k^(1/3) top seeds broadcast, k^(2/3) mid seeds and k fine
        // seeds each routed by equi-join on the cell above. Assignment
        // cost n·(k^(1/3) + k^(1/3) + k^(1/3)) = 3n·k^(1/3); the only
        // broadcast is the top set. Routing is the same at every hop
        // (engine-exact cosine, (cos desc, id asc) tie-break), and all
        // three seed sets are stride subsets with the congruent-residue
        // property, so determinism and partition-invariance carry.
        val f3 = math.max(2L, math.floor(math.cbrt(k.toDouble) + 0.5).toLong)
        val mid = seedsAt(stride * f3)
        val top = asCent(seedsAt(stride * f3 * f3))
        val m2t = assignClusters(mid, top, 1)
          .select(col("vec_id").as("__sid"), col("embedding").as("__svec"),
            col("cluster").as("__cell"))
        // fine seeds ride the SAME top->mid route the corpus takes
        val f2t = assignClusters(fine, top, 1)
          .select(col("vec_id"), col("embedding"), col("cluster").as("__cell"))
        val f2m = nearestWithin(f2t, m2t)
          .select(col("vec_id").as("__sid"), col("embedding").as("__svec"),
            col("label").as("__cell"))
        val v2t = assignClusters(emb.select(col("vec_id"), col("embedding")), top, 1)
          .select(col("vec_id"), col("embedding"), col("cluster").as("__cell"))
        val v2m = nearestWithin(v2t, m2t)
          .select(col("vec_id"), col("embedding"), col("label").as("__cell"))
        nearestWithin(v2m, f2m)
      }
    // lloydIters defaults to 0: one Lloyd pass re-pays a FLAT n×k
    // reassignment (lloydIterate scores every centroid), surrendering
    // exactly what the two-level route saved — opt in only where the
    // refinement is worth that cost at the corpus size in hand
    val refined = if (lloydIters <= 0) seeded else lloydIterate(seeded, lloydIters)
    semDedupKeep(refined.select(col("vec_id"), col("embedding"),
      col("label").as("cluster")), tau, maxClusterSize)
  }

  /** One quantizer-tree hop: each (vec_id, embedding, __cell) row meets
    * the seeds of ITS cell by equi-join (never a crossJoin) and takes
    * the nearest by the engine-exact fused cosine with the standard
    * (cos desc, seed id asc) tie-break through the map-side bounded
    * heap. Null-scored vectors substitute -Inf like [[assignClusters]]
    * — assigned to the cell's lowest seed, never silently dropped.
    * Output: (vec_id, embedding, label = nearest seed id). */
  private def nearestWithin(v: DataFrame, seeds: DataFrame): DataFrame = {
    import graft.functions.GraftExpressions.topKBy
    v.join(seeds, Seq("__cell"))
      .select(col("vec_id"), col("embedding"),
        col("__sid").cast("long").as("__rl"),
        coalesce(cosineSim(col("embedding"), col("__svec")),
          lit(Double.NegativeInfinity)).as("rcos"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        topKBy(col("rcos"), col("__rl"), 1).as("__top"))
      .select(col("vec_id"), col("embedding"), explode(col("__top")).as("__e"))
      .select(col("vec_id"), col("embedding"), col("__e.id").as("label"))
  }

  /** IVF probe: exact top-k of each query against the candidates in its
    * probed cluster lists. The corpus side carries ONE cluster per
    * vector, so a (query, candidate) pair meets at most once even with
    * nprobe > 1 — no dedup needed. */
  def ivfTopK(corpusAssigned: DataFrame, queryAssigned: DataFrame, k: Int): DataFrame = {
    import graft.functions.GraftExpressions.topKRowsSorted
    val q = queryAssigned.select(col("vec_id").as("qid"),
      col("embedding").as("qvec"), col("cluster"))
    val c = corpusAssigned.select(col("vec_id").as("nid"),
      col("embedding").as("nvec"), col("cluster"))
    // mixed-direction bounded heap instead of a window — same rewrite
    // (and the same row-identical contract) as [[ivfPqTopKIndexed]]
    c.join(broadcast(q), Seq("cluster"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("cluster"),
        cosineSim(col("qvec"), col("nvec")).as("cos"))
      .groupBy(col("qid"))
      .agg(topKRowsSorted(struct(col("cos"), col("nid")),
        struct(col("nid"), col("cluster"), col("cos")), k,
        ascending = Seq(false, true)).as("__rk"))
      .select(col("qid"), posexplode(col("__rk")))
      .select(col("qid"), col("col.nid").as("nid"),
        col("col.cluster").as("cluster"), col("col.cos").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Multi-probe sign-LSH top-k — the recall/fan-out dial the plain
    * bucket join lacks. More bits shrink buckets (candidate set ~N/2^bits
    * per probe, the 100 TB lever); probing the exact bucket PLUS every
    * 1-bit-flip neighbor recovers the recall the extra bits cost. The
    * query side explodes to bits+1 probe buckets (queries are the small
    * side), the corpus keeps one bucket per vector, and the probe join
    * stays a plain equi-join. A (query, candidate) pair matches at most
    * one probe (probe buckets are distinct), so no dedup is needed. */
  def signLshMultiProbeTopK(queries: DataFrame, corpus: DataFrame,
                            bits: Int, k: Int,
                            capPerBucket: Int = 4096): DataFrame = {
    // same deterministic per-bucket corpus cap as signLshTopK: bounds the
    // candidate set per probe even under a degenerate sign distribution
    val cRaw = corpus.withColumn("bucket", signBucket(col("nvec"), bits))
    val wcap = Window.partitionBy(col("bucket")).orderBy(col("nid"))
    val c = cRaw.withColumn("__rn", row_number().over(wcap))
      .filter(col("__rn") <= capPerBucket).drop("__rn")
    val flips = array((lit(0) +: (0 until bits).map(i => lit(1 << i))): _*)
    val q = queries
      .withColumn("__b0", signBucket(col("qvec"), bits))
      .withColumn("__flip", explode(flips))
      .withColumn("bucket", col("__b0").bitwiseXOR(col("__flip")))
      .drop("__b0", "__flip")
    val scored = c.join(q, Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosineSim(col("qvec"), col("nvec")).as("cos"))
    topkPerQuery(scored, k)
  }

  /** Approximate top-k: same contract, but candidates must share the
    * query's sign-LSH bucket. One equi-join on bucket instead of a cross
    * join. With few bits the per-bucket candidate set is ~N/2^bits and
    * grows linearly with the corpus, so the corpus side is capped at
    * `capPerBucket` members per bucket (deterministic keeper order by
    * nid; compiles to WindowGroupLimit with pre-shuffle partial limit) —
    * no candidate set is unbounded even when one sign pattern dominates.
    * The default cap is far above any test-scale bucket, so capped and
    * uncapped results coincide there. At 100 TB prefer
    * [[signLshMultiProbeTopK]] (more bits for the bound, probes for the
    * recall) rather than raising k or the cap here. */
  def signLshTopK(queries: DataFrame, corpus: DataFrame, bits: Int, k: Int,
                  capPerBucket: Int = 4096): DataFrame = {
    val q = queries.withColumn("bucket", signBucket(col("qvec"), bits))
    val cRaw = corpus.withColumn("bucket", signBucket(col("nvec"), bits))
    val wcap = Window.partitionBy(col("bucket")).orderBy(col("nid"))
    val c = cRaw.withColumn("__rn", row_number().over(wcap))
      .filter(col("__rn") <= capPerBucket).drop("__rn")
    val scored = c.join(q, Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosineSim(col("qvec"), col("nvec")).as("cos"))
    topkPerQuery(scored, k)
  }

  // -------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search", IEEE TPAMI — public): the
  // memory side of the IVF scale path. Each vector splits into m
  // subvectors of dsub components; a per-subspace codebook quantizes each
  // subvector to one codeword, so the stored representation shrinks from
  // dim floats to m small codes (dim=64 floats = 256 B -> m=8 bytes at
  // k<=256 codewords: 32x). Queries stay RAW and score candidates by
  // cosine against the codeword RECONSTRUCTION — asymmetric distance
  // computation (ADC). The reconstruction cosine used here is exactly
  // LUT-ADC arithmetic: its numerator is the sum of m per-subspace
  // query×codeword dots (the classic m table lookups) and its
  // denominator factors into |q| times a per-code-combination constant.
  //
  // Determinism (the oracle contract): codebooks are subspace SLICES of
  // the quantized k-means centroids ([[quantizedCentroids]] — integer
  // component sums, order-independent, engine-identical); encoding takes
  // the argmax-dot codeword per subspace with ties to the smallest
  // label; every dot is the sequential left fold. Encoding cost is
  // n·k·m subspace dots — same O(n·k) assignment shape as IVF itself —
  // all map-side under a broadcast codebook, reduced by the bounded-heap
  // aggregate (no n·k·m sort).
  // -------------------------------------------------------------------

  /** PQ codebook: the quantized centroid SUMS divided by each label's
    * member count — mean-scale codewords. The division is one exact
    * IEEE double op per component (sum and count are both
    * engine-identical integers), so determinism carries; the mean scale
    * is what makes concatenated codewords a faithful reconstruction
    * (a sum-scale codeword would let large clusters dominate the
    * full-vector cosine). */
  def pqCodebook(emb: DataFrame): DataFrame =
    // counts ride the centroid aggregation (one pass, no join) — same
    // sums, same counts, same one-IEEE-op division as the two-pass
    // groupBy-count + broadcast-join shape this replaces
    pqCodebookFromCounts(quantizedCentroidsWithCounts(emb))

  /** [[pqCodebook]] against ALREADY-COMPUTED quantized centroid sums for
    * the same `label` column — the train-path form: train pins
    * [[quantizedCentroids]] for the cell table anyway, and recomputing
    * the identical aggregation inside the codebook (as the one-arg form
    * must, since a pinned frame is a separate execution no exchange
    * reuse can see) pays a second full centroid pass per (re)train.
    * Byte-identical output: the sums are the same exact integers, the
    * mean division the same one IEEE op per component. */
  def pqCodebook(emb: DataFrame, cent: DataFrame): DataFrame = {
    val counts = emb.groupBy(col("label"))
      .agg(count(lit(1)).as("__cnt"))
      .select(col("label").as("rlabel"), col("__cnt"))
    cent.join(broadcast(counts), "rlabel")
      .select(col("rlabel"),
        transform(col("cvec"), x => x / col("__cnt")).as("cvec"))
  }

  /** One per-subspace Lloyd refinement of a PQ codebook — PQ's actual
    * training step (Jégou et al. §III: k-means per subspace, not one
    * k-means over full vectors). Each subvector is assigned to its
    * nearest current codeword ([[pqEncode]]), then every codeword moves
    * to the quantized MEAN of its assigned subvectors (integer component
    * sums / exact count — engine-identical, same discipline as
    * [[quantizedCentroids]]). A codeword that attracts no subvectors in
    * some subspace keeps its previous components there, so the codebook
    * never shrinks and ids stay stable. */
  def pqRefineBook(emb: DataFrame, book: DataFrame, m: Int, dsub: Int): DataFrame = {
    val Q = 1048576L
    // FUSED path (see assignClusters): the per-vector codes come from
    // the whole-codebook kernel IN the same projection that explodes
    // the subvectors, so the encode's crossJoin rows, its heap exchange
    // AND the codes-back-to-embedding join by vec_id (two more corpus
    // exchanges) all disappear; the (code, sub, j) aggregation below is
    // unchanged and sees identical input rows.
    // FUSED path: codes from the whole-codebook kernel in the same
    // projection, then ONE (code, sub) aggregation of the subvector
    // slices via the (sum, count)-struct accumulator — the exchange
    // carries k·m per-task buffers instead of n·m·dsub exploded
    // component rows, and the per-position sums/counts are the exploded
    // form's exactly (QuantVecSumCnt scaladoc: count = rows reaching
    // the position, null elements included; all-null positions carry a
    // null sum; unreached positions are absent).
    (emb.schema("embedding").dataType, book.schema("cvec").dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        collectCodebook(book) match {
          case Some((labels, books)) =>
            // ONE cluster action: the (code, sub) slice-sum aggregation
            // collects its k·m bounded buffers; the per-position mean
            // map and the left join back onto the k-row book assemble
            // DRIVER-side (the book is already collected) — replacing
            // the exploded-position re-aggregation + broadcast-join
            // subtree that cost 4-6 AQE stage-jobs per (re)train. The
            // arithmetic is the row plan's exactly: mean =
            // s.cast(double) / c per reached position with c > 0
            // (a null sum — all-null elements — falls back to the old
            // codeword component, as the null map entry did), absent
            // positions keep the old component, positions past the old
            // codeword's length stay null.
            return pqRefineBookDriver(emb, book, labels, books, m, dsub)
          case None => ()
        }
      case _ => ()
    }
    val refined = {
      val codes = pqEncode(emb, book, m, dsub)
      emb.select(col("vec_id"), col("embedding"))
        .join(codes, "vec_id")
        .select(col("sub"), col("code"),
          posexplode(slice(col("embedding"), col("sub") * dsub + 1, lit(dsub)))
            .as(Seq("j", "v")))
        .groupBy(col("code"), col("sub"), col("j"))
        .agg(sum(floor(col("v").cast("double") * Q).cast("long")).as("__s"),
          count(lit(1)).as("__c"))
        .groupBy(col("code"))
        .agg(map_from_entries(collect_list(struct(
          (col("sub") * dsub + col("j")).as("i"),
          (col("__s").cast("double") / col("__c")).as("v")))).as("__mv"))
    }
    book.join(broadcast(refined), book("rlabel") === refined("code"), "left")
      .select(col("rlabel"),
        transform(sequence(lit(0), lit(m * dsub - 1)), i =>
          coalesce(element_at(col("__mv"), i),
            element_at(col("cvec"), i + 1))).as("cvec"))
  }

  /** The fused [[pqRefineBook]] tail: one distributed slice-sum
    * aggregation, then driver-side assembly against the collected book.
    * Bit-identical to the join plan (PackedCodesSpec/FusedAnnSpec A/B):
    * same integer sums, same one-IEEE-op means, same fallback to the
    * old component for absent/all-null positions. */
  private def pqRefineBookDriver(emb: DataFrame, book: DataFrame,
                                 labels: Array[Long],
                                 books: Array[Array[Double]],
                                 m: Int, dsub: Int): DataFrame = {
    val aggRows = fanOutSmall(emb.select(col("vec_id"), col("embedding")))
      .select(col("embedding"),
        posexplode(graft.functions.GraftExpressions.pqCodesAll(
          col("embedding"), books, labels, m, dsub))
          .as(Seq("sub", "code")))
      .groupBy(col("code"), col("sub"))
      .agg(graft.functions.GraftExpressions.quantVecSumCnt(
        slice(col("embedding"), col("sub") * dsub + 1, lit(dsub)))
        .as("__sc"))
      .collect()
    // code -> (position -> mean); a position with count 0 never appears
    // (the filter), a reached position whose sum is null (all elements
    // null) maps to null — both land on the old component below,
    // exactly like the join plan's null map entries
    val means = new java.util.HashMap[Long, java.util.HashMap[Int, java.lang.Double]]()
    aggRows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(2)) {
        val code = r.getLong(0)
        val sub = r.getInt(1)
        var mp = means.get(code)
        if (mp == null) { mp = new java.util.HashMap(); means.put(code, mp) }
        val sc = r.getSeq[org.apache.spark.sql.Row](2)
        var j = 0
        sc.foreach { e =>
          if (e != null && !e.isNullAt(1) && e.getLong(1) > 0L) {
            val v: java.lang.Double =
              if (e.isNullAt(0)) null
              else Double.box(e.getLong(0).toDouble / e.getLong(1))
            mp.put(sub * dsub + j, v)
          }
          j += 1
        }
      }
    }
    val bookRows = book.select(col("rlabel"), col("cvec")).collect()
    val out = bookRows.map { r =>
      val rl = r.get(0)
      val cv = r.getSeq[Any](1)
      val mp = means.get(r.getAs[Number](0).longValue())
      val cvec: Seq[Any] = (0 until m * dsub).map { i =>
        val refinedV = if (mp != null && mp.containsKey(i)) mp.get(i) else null
        if (refinedV != null) refinedV
        else if (i < cv.length) cv(i)
        else null
      }
      org.apache.spark.sql.Row(rl, cvec)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      book.schema("rlabel"),
      org.apache.spark.sql.types.StructField("cvec",
        ArrayType(DoubleType, containsNull = true))))
    book.sparkSession.createDataFrame(
      java.util.Arrays.asList(out.toSeq: _*), schema)
  }

  /** Encode each vector as m codebook labels: (vec_id, sub, code) with
    * sub in [0, m). `cent` is the [[pqCodebook]] frame; the subspace
    * codebook for sub s is cvec[s*dsub ..< (s+1)*dsub]. Selection is by
    * subspace COSINE (not raw dot — dot would bias toward large-norm
    * codewords), argmax with ties to the smallest label. */
  def pqEncode(emb: DataFrame, cent: DataFrame, m: Int, dsub: Int): DataFrame = {
    import graft.functions.GraftExpressions.topKBy
    import graft.functions.TextFunctions.{cosine, dotDComposed}
    // FUSED path (see assignClusters): all m argmax-subspace-cosine
    // codes in one kernel call per vector — the n·k·m crossJoin rows
    // and the (vec_id, sub) heap exchange disappear; output rows are
    // identical (posexplode yields the same (sub, code) pairs).
    (emb.schema("embedding").dataType, cent.schema("cvec").dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        collectCodebook(cent) match {
          case Some((labels, books)) =>
            val rlt = cent.schema("rlabel").dataType
            return fanOutSmall(emb.select(col("vec_id"), col("embedding")))
              .select(col("vec_id"),
                posexplode(graft.functions.GraftExpressions.pqCodesAll(
                  col("embedding"), books, labels, m, dsub))
                  .as(Seq("sub", "code")))
              .select(col("vec_id"), col("sub"),
                col("code").cast(rlt).as("code"))
          case None => ()
        }
      case _ => ()
    }
    val rlabelType = cent.schema("rlabel").dataType
    // subspace scoring: the fused single-pass codegen kernel where the
    // shapes allow (float embeddings vs double codewords — every trained
    // book), the interpreted slice/zip_with/aggregate composition for any
    // other width. Bit-identical by SubCosineSpec, edge cases included —
    // the composed form walked 5 freshly allocated arrays through 3
    // interpreted folds per (vector, subspace, codeword) row and was the
    // dominant cost of every corpus encode pass.
    val score0 = (emb.schema("embedding").dataType, cent.schema("cvec").dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        graft.functions.GraftExpressions.subCosineFD(
          col("embedding"), col("cvec"), col("sub"), dsub)
      case _ =>
        val off = col("sub") * dsub + 1
        val sa = slice(col("embedding"), off, lit(dsub))
        val sb = slice(col("cvec"), off, lit(dsub))
        cosine(dotDComposed(sa, sb), dotDComposed(sa, sa), dotDComposed(sb, sb))
    }
    val score = coalesce(score0, lit(Double.NegativeInfinity))
    fanOutSmall(emb.select(col("vec_id"), col("embedding")))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("rlabel").cast("long").as("__rl"), col("embedding"), col("cvec"))
      .select(col("vec_id"), col("sub"), col("__rl"), score.as("__cos"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(topKBy(col("__cos"), col("__rl"), 1).as("__top"))
      .select(col("vec_id"), col("sub"),
        element_at(col("__top"), 1).getField("id").cast(rlabelType).as("code"))
  }

  /** [[pqEncode]] in the PACKED row shape: ONE (vec_id, codes) row per
    * vector, codes[i] = subquantizer i's label — the index row shape the
    * persisted codes table stores (m× fewer rows than the exploded
    * (vec_id, sub, code) form; guide §2.3 shuffle fewer bytes / §6 I/O).
    * Values are exactly [[pqEncode]]'s: the fused path drops the
    * posexplode the row form adds; the fallback groups the row form's
    * output back up ((sub, code) pairs sorted by sub — subs are unique
    * per vector, so the packing is a bijection). */
  def pqEncodePacked(emb: DataFrame, cent: DataFrame, m: Int, dsub: Int): DataFrame = {
    (emb.schema("embedding").dataType, cent.schema("cvec").dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        collectCodebook(cent) match {
          case Some((labels, books)) =>
            val rlt = cent.schema("rlabel").dataType
            return fanOutSmall(emb.select(col("vec_id"), col("embedding")))
              .select(col("vec_id"),
                graft.functions.GraftExpressions.pqCodesAll(
                  col("embedding"), books, labels, m, dsub)
                  .cast(ArrayType(rlt)).as("codes"))
          case None => ()
        }
      case _ => ()
    }
    packCodeRows(pqEncode(emb, cent, m, dsub))
  }

  /** Pack an exploded (vec_id, sub, code) frame into (vec_id, codes) —
    * the fallback seam of [[pqEncodePacked]] and the A/B twin the packed
    * spec pins: codes ride in ascending-sub order, so element i is
    * subquantizer i's code whenever subs are the dense 0..m−1 the
    * encoders emit. */
  private[graft] def packCodeRows(rows: DataFrame): DataFrame =
    rows.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code")).as("codes"))

  /** Reconstruct the quantized vector from its codes: (vec_id, xhat)
    * where xhat is the concatenation of the m chosen codewords. */
  def pqReconstruct(codes: DataFrame, cent: DataFrame, dsub: Int): DataFrame =
    codes.join(broadcast(cent), codes("code") === cent("rlabel"))
      .select(col("vec_id"), col("sub"),
        slice(col("cvec"), col("sub") * dsub + 1, lit(dsub)).as("__piece"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("__piece")))),
        x => x.getField("__piece"))).as("xhat"))

  /** IVF-PQ top-k: queries probe their IVF cluster (both sides from
    * [[assignClusters]]) but candidates are scored against their PQ
    * reconstruction instead of the raw corpus vector — the index that
    * fits in memory at 100 TB. `book` is the [[pqCodebook]] frame.
    * Returns (qid, nid, cluster, cos_pq, rank). Corpus side must be the
    * nprobe=1 assignment (one home cluster per stored vector — standard
    * IVF indexing); multiprobe belongs on the QUERY side, where a
    * multi-assigned query just probes more cells. */
  def ivfPqTopK(corpusAssigned: DataFrame, queryAssigned: DataFrame,
                book: DataFrame, m: Int, dsub: Int, k: Int): DataFrame = {
    // FUSED path: the codes column rides the assignment frame as ONE
    // map-side projection (the corpus already carries its home cell from
    // assignClusters) — the assign⋈encode equi-join by vec_id the row
    // shape paid disappears. Row-identical: both join sides held every
    // vec_id, and pqCodesAll replicates the heap selection bit-for-bit.
    (corpusAssigned.schema("embedding").dataType, book.schema("cvec").dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        collectCodebook(book) match {
          case fused @ Some((labels, books)) =>
            val rlt = book.schema("rlabel").dataType
            return ivfPqTopKIndexed(
              corpusAssigned.select(col("vec_id"), col("cluster"),
                graft.functions.GraftExpressions.pqCodesAll(
                  col("embedding"), books, labels, m, dsub)
                  .cast(ArrayType(rlt)).as("codes")),
              queryAssigned, book, fused, dsub, k)
          case None => ()
        }
      case _ => ()
    }
    ivfPqTopKIndexed(
      corpusAssigned.select(col("vec_id"), col("cluster")).join(
        pqEncode(corpusAssigned.select(col("vec_id"), col("embedding")),
          book, m, dsub), Seq("vec_id")),
      queryAssigned, book, dsub, k)
  }

  /** [[ivfPqTopK]] against a PREBUILT codes frame — the persisted-index
    * search path: raw corpus embeddings are never touched, only the
    * m-byte codes plus the codebook. This is what makes the index
    * maintainable incrementally (new vectors encode map-side against the
    * frozen book and append — see `Streams.versionedAnnIndexSink`) and
    * searchable at 100 TB where the raw vectors don't fit anywhere.
    *
    * TWO accepted codes shapes, detected by schema:
    *   - PACKED (vec_id, cluster, codes) — one row per vector, codes[i]
    *     = subquantizer i's label (what [[graft.ops.AnnIndex]] builds
    *     and the maintenance sink appends): reconstruction is a narrow
    *     MAP-SIDE projection per candidate (the fused
    *     [[graft.functions.Kernels.pqReconstructK]] lookup against the
    *     collected book), evaluated once per candidate.
    *   - exploded (vec_id, cluster, sub, code) — m rows per vector (the
    *     pre-packing table layout, still served for compatibility):
    *     codes⋈book join + (nid, cluster) groupBy, as before.
    * Rows out are identical across the shapes (PackedCodesSpec A/Bs
    * them, the oracle pins the packed path end to end).
    *
    * TWO query-side shapes, detected by plan:
    *   - HELD on the driver — `queryAssigned` optimizes to a local
    *     relation, as both ANN search entry points build it after
    *     assigning on the driver: the batch travels with the plan inside one
    *     [[graft.functions.CellQueries]] expression, and the search is
    *     one narrow map-side pipeline — candidates whose cell some query
    *     probes → reconstruct → emit the cell's queries → cosine →
    *     partial top-k — then one exchange and the final top-k: two
    *     Spark jobs, none of them for the query side.
    *   - distributed (any other frame; the jumbo fallback past the
    *     handles' 10k-row cap): the candidates are pruned by a broadcast
    *     LEFT SEMI join against the distinct probed clusters (≤
    *     |queries|·nprobe values — always broadcastable) and scored
    *     under a broadcast equi join with the query side.
    * Both keep exactly the probed cells' candidates and pair them with
    * the same queries, so rows out are identical (AnnSearchPlanSpec
    * A/Bs the two shapes). */
  def ivfPqTopKIndexed(codes: DataFrame, queryAssigned: DataFrame,
                       book: DataFrame, dsub: Int, k: Int): DataFrame =
    ivfPqTopKIndexed(codes, queryAssigned, book,
      if (codes.columns.contains("codes")) collectCodebook(book) else None,
      dsub, k)

  /** [[ivfPqTopKIndexed]] with `book`'s [[collectCodebook]] result
    * already resolved (`fused`; None serves the row-plan reconstruction)
    * — the prepared handle resolves it once, at prepare. */
  private[graft] def ivfPqTopKIndexed(
      codes: DataFrame, queryAssigned: DataFrame, book: DataFrame,
      fused: Option[(Array[Long], Array[Array[Double]])], dsub: Int,
      k: Int): DataFrame = {
    val pairs = heldQueries(queryAssigned, codes.schema("cluster").dataType) match {
      case Some(cellQueries) =>
        // the cell filter is the semi join's row-exact equivalent, and
        // runs before reconstruction so an unprobed row costs one lookup
        reconstructed(codes.filter(cellQueries.isNotNull), book, fused, dsub)
          .select(col("nid"), col("cluster"), col("xhat"), inline(cellQueries))
      case None =>
        val q = queryAssigned.select(col("vec_id").as("qid"),
          col("embedding").as("qvec"), col("cluster"))
        val probed = q.select(col("cluster")).distinct()
        reconstructed(codes.join(broadcast(probed), Seq("cluster"), "left_semi"),
          book, fused, dsub)
          .join(broadcast(q), Seq("cluster"))
    }
    // final rank via the MIXED-direction bounded heap, not a window: the
    // (cos_pq DESC, nid ASC) ordering made this the one ranker
    // RewriteKeepFirst/TopKPairs couldn't serve, so every search paid an
    // exchange + sort of ALL scored candidate pairs (probed volume ×
    // queries). The heap combines map-side — k rows per (query, task) on
    // the wire, no sort — and the ordering is total (nid unique per
    // query), so rows are identical to the window form's (oracle-pinned
    // across the whole ivf-pq family).
    import graft.functions.GraftExpressions.topKRowsSorted
    pairs.filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("cluster"),
        graft.functions.GraftExpressions.cosineFD(col("qvec"), col("xhat"))
          .as("cos_pq"))
      .groupBy(col("qid"))
      .agg(topKRowsSorted(struct(col("cos_pq"), col("nid")),
        struct(col("nid"), col("cluster"), col("cos_pq")), k,
        ascending = Seq(false, true)).as("__rk"))
      .select(col("qid"), posexplode(col("__rk")))
      .select(col("qid"), col("col.nid").as("nid"),
        col("col.cluster").as("cluster"), col("col.cos_pq").as("cos_pq"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** The [[graft.functions.CellQueries]] column over `cluster` for a
    * query side held on the driver (one that optimizes to a local
    * relation): None for any other frame, and when the candidates'
    * cluster type differs from the query side's or is not one
    * [[graft.io.KeyIn.supports]] compares exactly — the broadcast
    * join's type coercion is not replicated. */
  private def heldQueries(queryAssigned: DataFrame,
                          codesCluster: DataType): Option[Column] =
    queryAssigned.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if Seq("vec_id", "embedding", "cluster").forall(l.schema.fieldNames.contains) &&
            l.schema("cluster").dataType == codesCluster &&
            graft.io.KeyIn.supports(codesCluster) =>
        val at = l.schema.fieldIndex _
        Some(graft.functions.CellQueries.column(col("cluster"), l.data,
          l.schema.map(_.dataType), at("cluster"), at("vec_id"), at("embedding")))
      case _ => None
    }

  /** The candidates' reconstructions (nid, cluster, xhat). PACKED codes
    * reconstruct map-side when the book collected with distinct labels
    * (the join's duplicate-label row multiplication has no lookup
    * equivalent); otherwise they explode back to the row shape for the
    * join plan. A vector none of whose codes hit the book yields no row,
    * as in the inner join — dropped by a generator rather than a filter,
    * because Catalyst pushes a filter on the alias below this projection
    * and would evaluate the reconstruction a second time there. */
  private def reconstructed(cand: DataFrame, book: DataFrame,
                            fused: Option[(Array[Long], Array[Array[Double]])],
                            dsub: Int): DataFrame =
    if (cand.columns.contains("codes")) fused match {
      case Some((labels, books)) if labels.length == labels.distinct.length =>
        cand.select(col("vec_id").as("nid"), col("cluster"),
          graft.functions.GraftExpressions.pqReconstructK(
            col("codes").cast("array<long>"), books, labels, dsub).as("__x"))
          .select(col("nid"), col("cluster"),
            explode(when(col("__x").isNotNull, array(col("__x")))).as("xhat"))
      case _ =>
        reconstructRows(cand.select(col("vec_id"), col("cluster"),
          posexplode(col("codes")).as(Seq("sub", "code"))), book, dsub)
    } else reconstructRows(cand, book, dsub)

  /** The exploded-shape reconstruction: the home cell rides INSIDE the
    * reconstruction groupBy (a vector's cluster is constant across its m
    * code rows, so grouping by (nid, cluster) groups exactly by nid) —
    * one exchange on the candidate codes. Serves the compatibility row
    * shape and the packed shape's non-collectible-book fallback. */
  private def reconstructRows(cand: DataFrame, book: DataFrame,
                              dsub: Int): DataFrame =
    cand
      .join(broadcast(book), cand("code") === book("rlabel"))
      .select(col("vec_id").as("nid"), col("cluster"), col("sub"),
        slice(col("cvec"), col("sub") * dsub + 1, lit(dsub)).as("__piece"))
      .groupBy(col("nid"), col("cluster"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("__piece")))),
        x => x.getField("__piece"))).as("xhat"))
}

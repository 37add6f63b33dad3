package graft.ops

import graft.io.Versioned
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lifecycle management for the persisted IVF-PQ index: TRAIN a frozen
  * model (IVF centroids + PQ codebook + a reconstruction-quality
  * baseline), MAINTAIN the codes table incrementally
  * (`Streams.versionedAnnIndexSink`), MEASURE drift against the baseline
  * ([[driftStats]] / [[needsRebuild]] — the mechanical form of "the
  * corpus has drifted past what the frozen model represents"), REBUILD
  * when it has, and SEARCH the persisted pair end to end with the
  * standard IVF recall dial (`nprobe`).
  *
  * The model is ONE versioned table holding five row kinds under a
  * `part` discriminator — `cent` (IVF centroids), `book` (PQ codebook),
  * `meta` (the m/dsub geometry the book was trained with), `drift` (the
  * training-time reconstruction-cosine quantiles), `occ` (the
  * training-time per-cell occupancy counts) — so train and
  * retrain are a single atomic replace commit: readers can never observe
  * a new-centroids/old-book mix, the geometry can never drift from the
  * book it describes, and the drift/occupancy baselines always belong to
  * exactly the book it was measured under (rebuild and search read m/dsub
  * FROM the model, never from caller arguments). Old models stay readable
  * by version for audit/rollback, like every versioned table.
  *
  * The rebuild contract has TWO triggers, because an index can rot two
  * independent ways while the maintenance sink appends under FROZEN
  * centroids:
  *   - QUALITY: today's vectors reconstruct worse than the training
  *     distribution ([[driftStats]] vs the `drift` baseline) — the book
  *     no longer spans the corpus.
  *   - BALANCE: arrivals pile into few cells ([[cellStats]] vs the `occ`
  *     baseline) — probed-cell search degrades toward O(n) on the hot
  *     cell even while reconstruction quality stays fine (a shifted
  *     distribution can still land inside the book's span).
  * [[needsRebuild]]'s combined form checks BALANCE first (a codes-table
  * aggregation, no corpus encode) and only pays the quality encode when
  * the cheap trigger stays quiet.
  */
object AnnIndex {

  /** Baseline/current quantile probes: median, tail, far tail. */
  private val driftPcts = Seq(50, 90, 99)

  private val seriesLog = org.slf4j.LoggerFactory.getLogger(
    "graft.ops.AnnIndex")

  /** Most recent monitor-series size warning — the testable half of the
    * [[breachRuns]] bound (spec asserts it fires; production reads the
    * WARN). */
  private[graft] val lastSeriesWarn =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Quantized reconstruction cosine per corpus vector under `book`:
    * floor(cosine(raw, PQ reconstruction) · 2^20) as LONG — the same
    * integer-quantization discipline as [[Similarity.quantizedCentroids]]
    * (scaling by a power of two is exact in IEEE, so the quantized value
    * is engine-identical wherever the cosine is). Encode → reconstruct →
    * cosine → quantize run as ONE narrow map-side projection per vector
    * (the fused `pqReconCosQ` kernel): the raw vectors are read once and
    * never shuffled. Out: the `keep` columns, then `qcos`. */
  private def reconCosQ(emb: DataFrame, book: DataFrame, m: Int, dsub: Int,
                        keep: Seq[String] = Nil): DataFrame = {
    Similarity.requireFloatEmbeddings(emb)
    val (labels, books) = Similarity.pqKernelBook(book)
    Similarity.fanOutSmall(emb.select((keep :+ "embedding").map(col): _*))
      .select(keep.map(col) :+ graft.functions.GraftExpressions.pqReconCosQ(
        col("embedding"), books, labels, m, dsub).as("qcos"): _*)
  }

  /** ONE (vec_id, cluster, codes) row per corpus vector under the frozen
    * (centroids, book) pair — THE index row shape every codes-table
    * writer shares ([[trainAndRebuild]], [[rebuild]], the streaming
    * maintenance sink, fixture late-appends), so build and maintenance
    * rows can never drift apart. codes[i] is subquantizer i's label
    * (packed: m× fewer rows and no per-vector grouping anywhere
    * downstream — guide §2.3/§6). The codes column rides the
    * [[Similarity.assignClusters]] frame, so there is no join: with the
    * fused assignment, assignment AND encode are one narrow map-side
    * projection — no corpus shuffle at all. */
  private[graft] def encodeCodes(emb: DataFrame, cent: DataFrame,
                                 book: DataFrame, m: Int,
                                 dsub: Int): DataFrame = {
    val codes = Similarity.pqCodes(emb, book, m, dsub)
    Similarity.assignClusters(emb.select(col("vec_id"), col("embedding")),
      cent, nprobe = 1)
      .select(col("vec_id"), col("cluster"), codes.as("codes"))
  }

  /** Deterministic position quantiles of the quantized cosine column:
    * the value at ascending position ceil(p·n/100) — an exact order
    * statistic (no interpolation, so bit-identical across engines),
    * computed as min(value) with cumulative count ≥ the target position.
    * Scale posture: the windows run over the HISTOGRAM of distinct
    * quantized values, whose domain is bounded by the quantization
    * (≤ 2^21+1 entries however large the corpus), so the partition-less
    * window frames are bounded by construction. Returns (pct, q). */
  private def positionQuantiles(qcos: DataFrame): DataFrame = {
    val spark = qcos.sparkSession
    import spark.implicits._
    // nulls out (degenerate vectors: zero norm, null embedding) — they
    // carry no reconstruction-quality signal, and the oracle's histogram
    // excludes them identically (WHERE qcos IS NOT NULL); without the
    // filter a null group would sort FIRST in Spark and shift every
    // cumulative position
    //
    // The histogram is ONE bounded object by construction (the quantized
    // domain holds ≤ 2^21 + 1 distinct values however large the corpus),
    // so the order statistics run DRIVER-side off a single collect: the
    // previous shape's two partition-less window passes + probe join +
    // final aggregate cost 4-5 AQE stage-jobs per call on what is
    // arithmetically a cumulative scan over ≤ 2M integers. Same exact
    // integer arithmetic (position = ceil(p·n/100), value = smallest
    // qcos whose cumulative count reaches it), same rows out.
    val hist = graft.JobDesc(spark, "ann drift: quantile histogram")(
      qcos.filter(col("qcos").isNotNull)
        .groupBy(col("qcos")).agg(count(lit(1)).as("__c"))
        .collect())
    val sorted = hist.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var n = 0L
    sorted.foreach(n += _._2)
    val out = Seq.newBuilder[(Int, Long)]
    if (n > 0) driftPcts.foreach { pct =>
      val target = (pct.toLong * n + 99L) / 100L
      var cum = 0L
      var i = 0
      var done = false
      while (i < sorted.length && !done) {
        cum += sorted(i)._2
        if (cum >= target) { out += ((pct, sorted(i)._1)); done = true }
        i += 1
      }
    }
    out.result().toDF("pct", "q")
  }

  /** [[positionQuantiles]] per `batch_id` group — the windows partition
    * by batch, so each frame is bounded by that batch's ≤ 2^21+1
    * distinct quantized values exactly as the global form's is. Returns
    * (batch_id, pct, q). */
  private def positionQuantilesBy(qcos: DataFrame): DataFrame = {
    val spark = qcos.sparkSession
    import spark.implicits._
    val hist = qcos.filter(col("qcos").isNotNull)
      .groupBy(col("batch_id"), col("qcos")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(col("batch_id")).orderBy(col("qcos"))))
      .withColumn("__n", sum(col("__c")).over(
        Window.partitionBy(col("batch_id"))))
    hist.crossJoin(broadcast(driftPcts.toDF("pct")))
      .filter(col("__cum") >=
        floor((col("pct") * col("__n") + lit(99)) / lit(100)))
      .groupBy(col("batch_id"), col("pct")).agg(min(col("qcos")).as("q"))
  }

  /** The `occ` baseline rows: per-cell member counts of `assigned`
    * ((…, cluster) rows, one per corpus vector) in the model-table shape.
    * Counts ride as exact doubles (integers ≤ 2^53 — a corpus past that
    * has bigger problems than this baseline). */
  private def occRows(assigned: DataFrame, rlabelType: org.apache.spark.sql.types.DataType): DataFrame =
    assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).cast("double").as("__n"))
      .select(lit("occ").as("part"), col("cluster").cast(rlabelType).as("rlabel"),
        array(col("__n")).as("vec"))

  /** Train the frozen model from the current corpus and persist it as
    * one atomic replace commit — centroids, refined codebook, geometry,
    * the training-time reconstruction-cosine quantiles that
    * [[driftStats]] later compares against, and the training-time
    * per-cell occupancy counts that [[cellStats]] compares against. The
    * quality baseline costs one extra encode pass under the FINAL book
    * (linear, map-side — the same n·k·m shape as the refinement step
    * itself) and the occupancy baseline one assignment pass (n·k,
    * map-side under the broadcast centroids); both are paid once per
    * (re)train, which is exactly when the distribution snapshot must be
    * taken — a baseline measured under any other book/centroids would
    * compare apples to oranges forever after. ([[trainAndRebuild]] gets
    * the occupancy for free from the codes frame it builds anyway.)
    *
    * `cellLabelCol` decouples the COARSE quantizer from the codebook —
    * the standard IVF-PQ geometry (FAISS's nlist is independent of the
    * per-subspace codebook size): IVF centroids seed from
    * `cellLabelCol`'s groups while the PQ codebook keeps seeding from
    * `label`, so the cell count can track the corpus (it bounds probed-
    * cell search work) without inflating the n·k·m encode that the
    * codebook's k drives. The default keeps both on `label` — the
    * coupled geometry every existing model was trained with.
    * Returns the committed model version. */
  def train(spark: SparkSession, emb: DataFrame, m: Int, dsub: Int,
            modelRoot: String, cellLabelCol: String = "label"): Long = {
    // pin the trained artifacts (k rows each): the codebook's refinement
    // step contains a full corpus encode, and both the model's book rows
    // and the drift baseline consume it — without the pin each branch
    // would recompute that encode. Driver-LOCAL pin (Iterate.pinLocal):
    // these are bounded k-row frames, and every downstream broadcast /
    // commit-union / guard read then plans against a LocalRelation with
    // no per-consumer fetch job — the job-count floor that dominated
    // the train-sized lifecycle queries.
    // counts ride the SAME centroid aggregation ([[Similarity
    // .quantizedCentroidsWithCounts]]), so the codebook's mean division
    // below needs no second corpus aggregation and no join
    val centWc = graft.JobDesc(spark, "ann train: centroids")(
      Iterate.pinLocal(Similarity.quantizedCentroidsWithCounts(
        emb.select(col(cellLabelCol).as("label"), col("embedding")))))
    val centDf = Iterate.pinLocal(centWc.select(col("rlabel"), col("cvec")))
    val cent = centDf
      .select(lit("cent").as("part"), col("rlabel"), col("cvec").as("vec"))
    // seed the codebook from the pinned cell centroids when both derive
    // from the same label column (the default coupled geometry) — the
    // one-arg pqCodebook would re-run the identical centroid aggregation
    val book0 =
      if (cellLabelCol == "label") Similarity.pqCodebookFromCounts(centWc)
      else Similarity.pqCodebook(emb)
    val bookDf = graft.JobDesc(spark, "ann train: book refine")(
      Iterate.pinLocal(Similarity.pqRefineBook(emb, book0, m, dsub)))
    val book = bookDf
      .select(lit("book").as("part"), col("rlabel"), col("cvec").as("vec"))
    val rlabelType = cent.schema("rlabel").dataType
    val meta = spark.range(0, 1, 1, 1).select(lit("meta").as("part"),
      lit(m).cast(rlabelType).as("rlabel"),
      array(lit(dsub.toDouble)).as("vec"))
    val drift = positionQuantiles(reconCosQ(emb, bookDf, m, dsub))
      .select(lit("drift").as("part"),
        col("pct").cast(rlabelType).as("rlabel"),
        array(col("q").cast("double")).as("vec"))
    val occ = occRows(
      Similarity.assignClusters(emb.select(col("vec_id"), col("embedding")),
        centDf, nprobe = 1),
      rlabelType)
    // ONE file for the k-row artifact table: the union's branches each
    // contribute their own partitions (the occ aggregate alone ~10), so
    // the model landed as ~25 near-empty files and every model read
    // paid a 25-task scan — coalesce(1) is right at any scale (≤ 2·4096
    // rows by the layout cap)
    Versioned.commit(spark,
      cent.unionByName(book).unionByName(meta).unionByName(drift)
        .unionByName(occ).coalesce(1),
      modelRoot, replace = true, tag = Some(s"ann-train-m$m-dsub$dsub"))
  }

  /** [[train]] + [[rebuild]] fused into ONE encode pass — the common
    * "(re)train and re-index now" flow. Separately, train encodes the
    * corpus for the drift baseline and rebuild encodes it again for the
    * codes table; here the SAME codes frame (pinned with a local
    * checkpoint so the two consumers cannot recompute it) feeds both,
    * saving a full n·k·m pass. The pin trades executor block storage —
    * m small ints per vector, the index's own size — for that pass;
    * at train-scale corpora that is the cheap side. Commit order is
    * model first, then codes: a crash between the two leaves the same
    * new-model/stale-codes state a crash between separate train and
    * rebuild calls leaves, remedied the same way (re-run; both commits
    * are replace commits). Returns (modelVersion, codesVersion);
    * byte-identical tables to calling train then rebuild.
    * `cellLabelCol` decouples the coarse quantizer exactly as in
    * [[train]].
    *
    * SCALE-THE-CELLS recipe (the production answer to BOTH rebuild
    * triggers as the index GROWS, not just drifts): probed-cell search
    * work is O(n / nlist) per probe, so a corpus that has outgrown its
    * cell count pays fatter cells on every narrow search — visible as
    * [[cellStats]]' current counts rising uniformly above baseline (all
    * cells hot = the corpus grew; few cells hot = the distribution
    * skewed). The remedy is a retrain AT MORE CELLS: derive a finer
    * `cellLabelCol` (the FAISS sizing heuristic is nlist ≈ √n — e.g.
    * re-bucket ids, or k-means at larger k via [[Similarity
    * .lloydIterate]]) and call this again; the decoupled coarse
    * quantizer means the n·k·m ENCODE cost tracks the unchanged PQ
    * codebook, so doubling the cells roughly doubles only the k-row cell
    * frames and the n·nlist assignment, never the encode. Searches need
    * no code change — nprobe means "cells", so a fixed nprobe scans half
    * the volume at 2× cells (recall at equal scanned volume: double
    * nprobe with the cells; at nprobe = every cell the results are
    * layout-INVARIANT, the spec-pinned equivalence `AnnCellScaleupSpec`
    * uses to prove a 2×-cell retrain searches identically). */
  def trainAndRebuild(spark: SparkSession, emb: DataFrame, m: Int, dsub: Int,
                      modelRoot: String, codesRoot: String,
                      cellLabelCol: String = "label"): (Long, Long) = {
    // pin the k-row trained artifacts for the same reason as in [[train]]
    // — every consumer branch would otherwise re-pay the refinement's
    // embedded corpus encode. Driver-local pins (see [[train]]): the
    // k-row frames' many downstream consumers stop paying per-use
    // cluster jobs, and the codes-commit file count below comes free.
    val centWc = graft.JobDesc(spark, "ann train: centroids")(
      Iterate.pinLocal(Similarity.quantizedCentroidsWithCounts(
        emb.select(col(cellLabelCol).as("label"), col("embedding")))))
    val centDf = Iterate.pinLocal(centWc.select(col("rlabel"), col("cvec")))
    // same pinned-centroid codebook seeding as [[train]] — counts ride
    // the centroid aggregation, so the mean division is join-free
    val book0 =
      if (cellLabelCol == "label") Similarity.pqCodebookFromCounts(centWc)
      else Similarity.pqCodebook(emb)
    val bookDf = graft.JobDesc(spark, "ann train: book refine")(
      Iterate.pinLocal(Similarity.pqRefineBook(emb, book0, m, dsub)))
    // codes frame: assign AND encode in ONE map-side projection (see
    // [[encodeCodes]]) — PACKED: one (vec_id, cluster, codes) row per
    // vector
    val codes = graft.JobDesc(spark, "ann train: codes encode")(
      encodeCodes(emb, centDf, bookDf, m, dsub).localCheckpoint())
    val cent = centDf
      .select(lit("cent").as("part"), col("rlabel"), col("cvec").as("vec"))
    val book = bookDf
      .select(lit("book").as("part"), col("rlabel"), col("cvec").as("vec"))
    val rlabelType = cent.schema("rlabel").dataType
    val meta = spark.range(0, 1, 1, 1).select(lit("meta").as("part"),
      lit(m).cast(rlabelType).as("rlabel"),
      array(lit(dsub.toDouble)).as("vec"))
    // drift baseline: a map-side recompute under the same frozen book
    // (identical codes ⇒ bit-identical quantiles — see reconCosQ),
    // cheaper than joining the pinned codes back to the corpus by vec_id
    val drift = positionQuantiles(reconCosQ(emb, bookDf, m, dsub))
      .select(lit("drift").as("part"),
        col("pct").cast(rlabelType).as("rlabel"),
        array(col("q").cast("double")).as("vec"))
    // occupancy baseline from the SAME pinned codes frame (one packed
    // row per vector) — no extra assignment pass, byte-identical to the
    // counts [[train]] derives from its own assignment
    val occ = occRows(codes.select(col("cluster")), rlabelType)
    // one-file artifact commit — see [[train]]
    val mv = Versioned.commit(spark,
      cent.unionByName(book).unionByName(meta).unionByName(drift)
        .unionByName(occ).coalesce(1),
      modelRoot, replace = true, tag = Some(s"ann-train-m$m-dsub$dsub"))
    val cv = commitCodes(spark, codes, codesRoot, emb,
      math.min(Iterate.localRowCount(centDf).getOrElse(centDf.count()),
        4096L).toInt.max(1))
    (mv, cv)
  }

  /** The codes-table commit both rebuild paths share: rows
    * RANGE-partition by cell (one file per cell, capped at 4096 —
    * explicit, so AQE cannot coalesce the layout away) and per-file
    * `cluster` min/max stats harvest alongside the vec_id stats/blooms,
    * so [[search]]'s probed-cell IN filter skips every file holding no
    * probed cell — without this the inverted-list read is O(n) in FILES
    * SCANNED even though the search's cell filter prunes the rows, and the scan
    * itself becomes the floor of every narrow search. The tradeoff is
    * stated: cluster-sorted files scatter any given id range across
    * files, so the maintenance sink's bloom-guard probes prune less
    * after a rebuild than against the sink's own arrival-ordered files
    * (the guard stays correct — blooms are per-file regardless of
    * order). */
  private def commitCodes(spark: SparkSession, codes: DataFrame,
                          codesRoot: String, emb: DataFrame,
                          files: Int): Long =
    Versioned.commit(spark,
      codes.repartitionByRange(files, col("cluster")),
      codesRoot, replace = true, tag = Some("ann-rebuild"),
      statsCols = Seq("vec_id", "cluster"),
      bloomCols = Seq("vec_id").filter(c => graft.io.FileStats
        .bloomSupported(emb.schema(c).dataType)))

  /** Read the persisted model: (centroids, codebook, m, dsub).
    *
    * ONE bounded collect of the k-row artifact parts serves all four —
    * centroids and codebook come back as driver-LOCAL relations, so
    * every downstream broadcast/guard/count plans with no cluster jobs
    * (the per-consumer fetch-job floor that dominated the train-sized
    * lifecycle queries), and the geometry needs no extra head() job.
    * Same single-snapshot consistency as before (one Versioned.read).
    * NOTE the collect runs at CALL time — callers get materialized
    * artifacts, not lazy scans (the model is read eagerly either way;
    * only the timing moved from first downstream action to here).
    * A model outside the bounded build contract (> 2·65536 artifact
    * rows) keeps the old distributed shape. */
  def model(spark: SparkSession, modelRoot: String)
      : (DataFrame, DataFrame, Int, Int) = {
    val t = Versioned.read(spark, modelRoot)
    val cap = 2 * 65536 + 1
    val rows = graft.JobDesc(spark, s"ann model read: $modelRoot")(
      t.filter(col("part").isin("cent", "book", "meta"))
        .select(col("part"), col("rlabel"), col("vec"))
        .collect())
    if (rows.length > cap) {
      val metaRow = t.filter(col("part") === "meta")
        .select(col("rlabel").cast("int"), element_at(col("vec"), 1).cast("int"))
        .head()
      return (t.filter(col("part") === "cent")
          .select(col("rlabel"), col("vec").as("cvec")),
        t.filter(col("part") === "book")
          .select(col("rlabel"), col("vec").as("cvec")),
        metaRow.getInt(0), metaRow.getInt(1))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      t.schema("rlabel"), t.schema("vec").copy(name = "cvec")))
    def slice(part: String): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(
        rows.filter(_.getString(0) == part).map(r =>
          org.apache.spark.sql.Row(r.get(1), r.get(2))): _*), schema)
    val metaR = rows.find(_.getString(0) == "meta").getOrElse(
      throw new IllegalStateException(
        s"model at $modelRoot has no meta row (not a trained model table)"))
    (slice("cent"), slice("book"),
      asInt(metaR.get(1)),
      metaR.getSeq[Double](2).head.toInt)
  }

  /** The widening the model parts' `CAST(rlabel AS INT)` performed,
    * driver-side — for rows already collected by the bounded reads. */
  private def asInt(a: Any): Int = a match {
    case i: Int => i
    case l: Long => l.toInt
    case s: Short => s.toInt
    case b: Byte => b.toInt
    case d: Double => d.toInt
    case f: Float => f.toInt
    case s: String => s.trim.toDouble.toInt
    case d: java.math.BigDecimal => d.intValue
    case other => throw new IllegalStateException(
      s"model rlabel of unsupported type: $other")
  }

  /** Drift of the CURRENT corpus against the model's training-time
    * baseline: (pct, baseline_q, current_q, drift_q) — reconstruction
    * cosine quantiles at train time vs now, both on the quantized 2^20
    * scale, drift_q = baseline_q − current_q (positive = today's
    * vectors reconstruct WORSE than the training distribution; ~10486
    * ≈ 0.01 of cosine). A corpus matching the training distribution
    * measures drift_q = 0 exactly at every probe (same book ⇒ same
    * codes ⇒ same quantized cosines ⇒ same order statistics). This is
    * the metric behind the rebuild contract: the sink maintains under a
    * frozen book; when driftStats says the frozen book no longer
    * represents the corpus, [[train]] + [[rebuild]]. */
  def driftStats(spark: SparkSession, emb: DataFrame,
                 modelRoot: String): DataFrame = {
    import spark.implicits._
    // ONE snapshot read serves the book, the geometry AND the baseline:
    // a second Versioned.read could land after a concurrent retrain's
    // replace commit and pair the old book's current_q with the new
    // book's baseline_q — exactly the mixed-version read the
    // single-table model design exists to forbid (the monitor sink
    // calls this per trigger while a retrain may be running).
    val t = Versioned.read(spark, modelRoot)
    // ONE bounded collect serves geometry, codebook AND baseline (same
    // single-snapshot read as before, one job instead of three + the
    // downstream per-broadcast fetch jobs — the book comes back as a
    // driver-local relation). The baseline guard below still fails
    // loudly BEFORE the corpus-scale encode is paid.
    val parts = t.filter(col("part").isin("book", "meta", "drift"))
      .select(col("part"), col("rlabel"), col("vec"))
      .collect()
    require(parts.length <= 65536,
      s"driftStats: model at $modelRoot holds more than 65536 " +
        "book/meta/drift rows — not a table the build paths wrote")
    val metaR = parts.find(_.getString(0) == "meta").getOrElse(
      throw new IllegalStateException(
        s"driftStats: model at $modelRoot has no meta row"))
    val (m, dsub) = (asInt(metaR.get(1)), metaR.getSeq[Double](2).head.toInt)
    val bookSchema = org.apache.spark.sql.types.StructType(Seq(
      t.schema("rlabel"), t.schema("vec").copy(name = "cvec")))
    val book = spark.createDataFrame(java.util.Arrays.asList(
      parts.filter(_.getString(0) == "book").map(r =>
        org.apache.spark.sql.Row(r.get(1), r.get(2))): _*), bookSchema)
    val baselineRows = parts.filter(_.getString(0) == "drift")
    if (baselineRows.isEmpty) throw new IllegalStateException(
      s"driftStats: the model at $modelRoot has no drift baseline " +
        "(no part='drift' rows) — retrain with AnnIndex.train to " +
        "establish one before measuring drift against it")
    val baseline = baselineRows
      .map(r => (asInt(r.get(1)), r.getSeq[Double](2).head.toLong)).toSeq
      .toDF("pct", "baseline_q")
    val current = positionQuantiles(reconCosQ(emb, book, m, dsub))
      .select(col("pct"), col("q").as("current_q"))
    baseline.join(broadcast(current), Seq("pct"))
      .select(col("pct"), col("baseline_q"), col("current_q"),
        (col("baseline_q") - col("current_q")).as("drift_q"))
  }

  /** [[driftStats]] over a deterministic `sampleFraction` hash-mod
    * sample of the corpus — the periodic corpus-level health check at
    * scales where the exact form's full encode (O(n·k·m), the most
    * expensive query in the bench) is too much to pay per check.
    * Membership is `hash32(vec_id) % 10000 < round(f·10000)` — the same
    * md5-derived discipline as the stratified samplers: reproducible
    * across runs, engines and cluster sizes, and a FIXED subset, so two
    * checks against the same corpus differ only by what the corpus
    * changed, never by sampling churn. Noise bound: a quantile of an
    * s-row sample sits within O(√(p(1−p)/s)) of the true RANK — e.g.
    * ±0.3 percentile points around p90 at s = 10⁴ — so read sampled
    * drift against a tolerance, not as exact; on the training corpus
    * the spec pins full-vs-sampled agreement at the fixture scale. The
    * exact form remains the arbiter ([[needsRebuild]] uses it); the
    * streaming monitor sink covers ARRIVALS at O(batch) — this covers
    * the standing corpus at O(f·n). */
  def driftStats(spark: SparkSession, emb: DataFrame, modelRoot: String,
                 sampleFraction: Double): DataFrame = {
    val cut = math.round(sampleFraction * 10000).toInt
    require(cut > 0 && cut <= 10000,
      s"driftStats: sampleFraction=$sampleFraction must round into " +
        "(0, 1] at 1/10000 granularity")
    driftStats(spark,
      emb.filter(graft.functions.TextFunctions.hash32(
        col("vec_id").cast("string")) % 10000 < cut),
      modelRoot)
  }

  /** [[driftStats]] per batch in ONE pass: `emb` carries a `batch_id`
    * column (any grouping — arrival wave, time bucket, backfill shard)
    * and every batch's quantiles come out of a single corpus encode with
    * the quantile windows partitioned by batch, instead of one
    * driftStats call (and one full model read + encode job) per batch.
    * Returns (batch_id, pct, baseline_q, current_q, drift_q) — the same
    * shape the streaming monitor sink accretes, so [[driftAlerts]] reads
    * either. This is the BACKFILL form of the monitor: the sink measures
    * arrivals forward in time; this recomputes the whole series from a
    * corpus that kept its batch lineage. */
  def driftSeries(spark: SparkSession, emb: DataFrame,
                  modelRoot: String): DataFrame = {
    import spark.implicits._
    require(emb.columns.contains("batch_id"),
      "driftSeries: the corpus frame must carry a batch_id column " +
        "(the per-batch grouping the series is computed over)")
    val t = Versioned.read(spark, modelRoot)
    // same one-bounded-collect model read as [[driftStats]]
    val parts = t.filter(col("part").isin("book", "meta", "drift"))
      .select(col("part"), col("rlabel"), col("vec"))
      .collect()
    require(parts.length <= 65536,
      s"driftSeries: model at $modelRoot holds more than 65536 " +
        "book/meta/drift rows — not a table the build paths wrote")
    val metaR = parts.find(_.getString(0) == "meta").getOrElse(
      throw new IllegalStateException(
        s"driftSeries: model at $modelRoot has no meta row"))
    val (m, dsub) = (asInt(metaR.get(1)), metaR.getSeq[Double](2).head.toInt)
    val bookSchema = org.apache.spark.sql.types.StructType(Seq(
      t.schema("rlabel"), t.schema("vec").copy(name = "cvec")))
    val book = spark.createDataFrame(java.util.Arrays.asList(
      parts.filter(_.getString(0) == "book").map(r =>
        org.apache.spark.sql.Row(r.get(1), r.get(2))): _*), bookSchema)
    val baselineRows = parts.filter(_.getString(0) == "drift")
    if (baselineRows.isEmpty) throw new IllegalStateException(
      s"driftSeries: the model at $modelRoot has no drift baseline " +
        "(no part='drift' rows) — retrain with AnnIndex.train to " +
        "establish one before measuring drift against it")
    val baseline = baselineRows
      .map(r => (asInt(r.get(1)), r.getSeq[Double](2).head.toLong)).toSeq
      .toDF("pct", "baseline_q")
    positionQuantilesBy(reconCosQ(emb, book, m, dsub, keep = Seq("batch_id")))
      .select(col("batch_id"), col("pct"), col("q").as("current_q"))
      .join(broadcast(baseline), Seq("pct"))
      .select(col("batch_id"), col("pct"), col("baseline_q"), col("current_q"),
        (col("baseline_q") - col("current_q")).as("drift_q"))
  }

  /** Runs of consecutive drift breaches in a monitor series — the
    * mechanical form of the monitor sink's alerting contract ("a single
    * small batch's quantiles are noisy, so alert on a RUN of bad
    * batches, not one"). `series` is any (batch_id, pct, …, drift_q)
    * frame — the sink's accreted monitor table or a [[driftSeries]]
    * result. A batch BREACHES when its `pct`-probe drift_q exceeds
    * `tolQ`; maximal runs of breaches consecutive in batch_id ORDER
    * (positional adjacency in the series, so sparse or gappy batch ids
    * work) come back as (run_start, run_end, run_len, alert) with
    * alert = run_len ≥ minRun. Scale posture: the whole computation runs
    * over the monitor TIME SERIES — one row per batch per probe, O(#
    * batches) however big each batch was — so the partition-less
    * ordering windows are bounded by the series length by construction;
    * do not point this at a per-vector frame. */
  def driftAlerts(series: DataFrame, pct: Int, tolQ: Long,
                  minRun: Int): DataFrame = {
    require(minRun > 0, s"driftAlerts: minRun=$minRun must be positive")
    breachRuns(series.filter(col("pct") === pct), col("drift_q") > tolQ,
      minRun)
  }

  /** Maximal runs of consecutive breaches in a monitor series — the
    * gaps-and-islands core [[driftAlerts]] and [[layoutAlerts]] share:
    * global position minus position-among-breaches is constant exactly
    * along a run of batches consecutive in batch_id ORDER (positional
    * adjacency, so sparse or gappy batch ids work). Series-sized
    * windows only, like both callers. */
  private def breachRuns(series: DataFrame, breach: org.apache.spark.sql.Column,
                         minRun: Int): DataFrame = {
    // the partition-less windows below are bounded by the SERIES length
    // by contract (one row per batch per probe — the monitor time
    // series, not a per-vector frame). Nothing structural enforces
    // that, so warn — from the optimizer's size ESTIMATE, zero extra
    // jobs — when the input is far past any plausible monitor series:
    // a runaway caller's plan will serialize on one task, and the warn
    // names the cause instead of leaving a silent single-partition
    // stall (r18 verdict wrong #4). Conf-gated; 0 disables.
    val warnBytes = series.sparkSession.conf
      .getOption("spark.graft.monitorSeriesWarnBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    if (warnBytes > 0 &&
      series.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(warnBytes)) {
      val msg = s"breachRuns: the monitor series estimates over " +
        s"$warnBytes bytes — this is series-sized machinery (one row " +
        "per batch per probe); a per-vector frame here serializes on " +
        "one task. Check the caller; raise/disable " +
        "spark.graft.monitorSeriesWarnBytes if the series is real."
      lastSeriesWarn.set(msg)
      seriesLog.warn(msg)
    }
    val pos = series
      .withColumn("__rn", row_number().over(Window.orderBy(col("batch_id"))))
      .filter(breach)
      .withColumn("__rb", row_number().over(Window.orderBy(col("batch_id"))))
    pos.groupBy((col("__rn") - col("__rb")).as("__island"))
      .agg(min(col("batch_id")).as("run_start"),
        max(col("batch_id")).as("run_end"),
        count(lit(1)).cast("int").as("run_len"))
      .select(col("run_start"), col("run_end"), col("run_len"),
        (col("run_len") >= minRun).as("alert"))
  }

  /** One scalar layout-health row off [[layoutStats]] — the point the
    * layout monitor sink accretes per trigger: (files, cells,
    * kept_per_probe, kept_bytes_per_probe, total_bytes).
    * kept_per_probe = sum(cells_covered)/nlist — how many files an
    * average single-cell probe OPENS (1.0 at the one-file-per-cell
    * layout); kept_bytes_per_probe = sum(cells_covered·bytes)/nlist —
    * how many bytes it READS. Each catches what the other misses: open
    * counts are blind to a table packed into one all-cells file (reads
    * "perfect" 1.0 while every probe scans everything — the r16 bench
    * trap), volume is blind to many tiny accreted files (open cost,
    * listing pressure). total_bytes rides along so a breach rule can
    * normalize volume against the IDEAL layout's total/nlist bytes per
    * probe — the normalized form is what [[layoutAlerts]] and
    * [[erodedBeyond]] compare against the same tolKept. Cost is
    * [[layoutStats]]' own: sidecar reads plus the bounded
    * distinct-cells scan.
    *
    * Degradation is NULL, never a smaller number: if ANY live file's
    * byte length is unpriced (missing from its directory listing —
    * defensive; see [[graft.io.Versioned.fileStatsCoverage]]), BOTH
    * volume columns come back null — Spark's null-skipping `sum` would
    * otherwise under-count kept bytes AND total bytes toward
    * not-alerting, the inversion of the missing-stats
    * count-every-value rule the open-count leg follows. The per-file
    * product runs in the DOUBLE domain (the quotient is a double
    * anyway), so a multi-PB × 4096-cell snapshot cannot wrap int64. */
  def layoutPoint(spark: SparkSession, codesRoot: String): DataFrame =
    layoutPointOf(layoutStats(spark, codesRoot))

  /** The scalar-point aggregation over a [[layoutStats]]-shaped frame —
    * the seam the degradation spec drives alongside [[layoutStatsOf]]. */
  private[graft] def layoutPointOf(stats: DataFrame): DataFrame =
    stats
      .agg(count(lit(1)).as("files"),
        sum(col("cells_covered")).as("__covered"),
        first(col("cells")).as("__cells"),
        sum(col("cells_covered").cast("double") * col("bytes").cast("double"))
          .as("__keptb"),
        sum(col("bytes")).as("__total"),
        max(col("bytes").isNull).as("__unpriced"))
      .select(col("files"), col("__cells").cast("long").as("cells"),
        (col("__covered").cast("double") / col("__cells")).as("kept_per_probe"),
        when(!col("__unpriced"), col("__keptb") / col("__cells"))
          .as("kept_bytes_per_probe"),
        when(!col("__unpriced"), col("__total")).as("total_bytes"))

  /** Runs of consecutive LAYOUT breaches in a layout-monitor series —
    * the third erosion axis's run rule, completing its loop symmetry
    * with drift ([[driftAlerts]]): `series` is any (batch_id, …,
    * kept_per_probe) frame (the layout monitor sink's accreted table);
    * maximal batch_id-order runs come back as (run_start, run_end,
    * run_len, alert). A batch breaches when kept_per_probe > `tolKept`
    * — the same threshold [[needsRecell]] fires on — OR, when the
    * series carries the volume columns the sink accretes
    * (kept_bytes_per_probe, cells, total_bytes), when the READ VOLUME
    * amplification kept_bytes_per_probe / (total_bytes/cells) exceeds
    * the same `tolKept` (1.0 at the ideal one-file-per-cell layout,
    * nlist at a one-packed-file table). The volume leg is what catches
    * the pathology open counts are blind to: a table packed into ONE
    * all-cells file keeps 1.0 files per probe ("perfect") while every
    * probe reads everything. Series without the volume columns
    * (pre-upgrade monitor tables, hand-built frames) alert on the
    * file-count rule alone, as before. A series ROW whose volume
    * columns are null (a batch measured while some live file was
    * unpriced — [[layoutPoint]]'s degradation signal) contributes only
    * its file-count leg to the breach predicate: SQL three-valued
    * logic makes `kept > tol OR null` true when the open count
    * breaches and null (filtered out, no breach) otherwise — the same
    * skip-the-volume-leg posture [[erodedBeyond]] takes, with the
    * degradation itself visible as the nulls in the accreted table. */
  def layoutAlerts(series: DataFrame, tolKept: Double,
                   minRun: Int): DataFrame = {
    require(minRun > 0, s"layoutAlerts: minRun=$minRun must be positive")
    val hasVolume = Seq("kept_bytes_per_probe", "cells", "total_bytes")
      .forall(series.columns.contains)
    val breach =
      if (hasVolume)
        col("kept_per_probe") > tolKept ||
          col("kept_bytes_per_probe") * col("cells") >
            lit(tolKept) * col("total_bytes")
      else col("kept_per_probe") > tolKept
    breachRuns(series, breach, minRun)
  }

  /** The mechanical rebuild decision: true when reconstruction quality
    * at the `pct` probe has degraded by more than `tolQ` quantized
    * units (2^20 ≈ one unit of cosine; tolQ = 10486 ≈ 0.01 cosine).
    * One small scalar read off [[driftStats]] — a guard, not a data
    * path. */
  def needsRebuild(spark: SparkSession, emb: DataFrame, modelRoot: String,
                   pct: Int = 90, tolQ: Long = 10486L): Boolean = {
    // fail BEFORE the corpus-scale encode: the baseline only carries the
    // driftPcts probes, so any other pct would die as an opaque
    // empty-head after paying the whole measurement
    require(driftPcts.contains(pct),
      s"needsRebuild: pct=$pct is not a persisted probe " +
        s"(baselines exist at ${driftPcts.mkString("/")})")
    driftStats(spark, emb, modelRoot).filter(col("pct") === pct)
      .select(col("drift_q") > tolQ).head().getBoolean(0)
  }

  /** Per-cell occupancy of the CURRENT codes table against the model's
    * training-time baseline: (cluster, baseline_cnt, current_cnt,
    * baseline_share, current_share) — the BALANCE half of the rebuild
    * contract. The maintenance sink appends under frozen centroids, so
    * a drifted arrival distribution piles new vectors into few cells;
    * a hot cell degrades probed-cell search toward O(n) on that cell
    * even while [[driftStats]]'s quality probes stay quiet (a shifted
    * distribution can still reconstruct fine inside the book's span).
    * Cost: one codes-table aggregation (one packed row per vector,
    * grouped by cluster), NO corpus encode; the
    * shares divide by totals over the k-row cell frame, so the
    * partition-less windows are bounded by the centroid count however
    * large the index. A cell empty on one side reports count 0 there
    * (full outer join), so both "a trained cell went cold" and "a cell
    * appeared" are visible. */
  def cellStats(spark: SparkSession, codesRoot: String,
                modelRoot: String): DataFrame = {
    val t = Versioned.read(spark, modelRoot)
    // one bounded collect: the occupancy baseline is k-row-bounded like
    // every artifact part, and the driver-local relation saves the
    // separate guard probe plus the join side's fetch jobs
    val occRowsC = t.filter(col("part") === "occ")
      .select(col("rlabel").as("cluster"),
        element_at(col("vec"), 1).cast("long").as("baseline_cnt"))
      .collect()
    require(occRowsC.length <= 65536,
      s"cellStats: model at $modelRoot holds more than 65536 occ rows — " +
        "not a table the build paths wrote")
    // same fail-before-the-work probe as driftStats' baseline guard: a
    // model with no occupancy rows (pre-baseline or hand-built) must say
    // so, not silently report every trained cell as baseline 0
    if (occRowsC.isEmpty) throw new IllegalStateException(
      s"cellStats: the model at $modelRoot has no occupancy baseline " +
        "(no part='occ' rows) — retrain with AnnIndex.train to " +
        "establish one before measuring cell balance against it")
    val occ = spark.createDataFrame(
      java.util.Arrays.asList(occRowsC: _*),
      org.apache.spark.sql.types.StructType(Seq(
        t.schema("rlabel").copy(name = "cluster"),
        org.apache.spark.sql.types.StructField("baseline_cnt",
          org.apache.spark.sql.types.LongType))))
    // packed codes: one row per vector
    val curT = Versioned.read(spark, codesRoot)
    Similarity.requirePackedCodes(curT, "cellStats", codesRoot)
    val cur = curT.groupBy(col("cluster")).agg(count(lit(1)).as("current_cnt"))
    val wAll = Window.partitionBy(lit(1))
    occ.join(cur, Seq("cluster"), "full_outer")
      .na.fill(0L, Seq("baseline_cnt", "current_cnt"))
      .select(col("cluster"), col("baseline_cnt"), col("current_cnt"),
        (col("baseline_cnt") / sum(col("baseline_cnt")).over(wAll))
          .as("baseline_share"),
        (col("current_cnt") / sum(col("current_cnt")).over(wAll))
          .as("current_share"))
  }

  /** [[needsRebuild]] with BOTH triggers of the rebuild contract: true
    * when the index is skewed (some cell holds more than `tolShare` of
    * the CURRENT codes table — [[cellStats]]) OR reconstruction quality
    * at the `pct` probe has degraded past `tolQ` ([[driftStats]]). The
    * skew check runs FIRST — it is a codes-table aggregation, no corpus
    * encode — so a hot-cell index short-circuits before paying the
    * quality measurement's O(n·k·m). No defaults (Scala permits them on
    * only one overload): the canonical dials are pct=90, tolQ=10486
    * (≈0.01 cosine) and a tolShare a few multiples of the trained
    * baseline's max share (a balanced k-cell index sits near 1/k).
    * Snapshot semantics: each trigger reads its own single snapshot
    * (internally consistent — the torn-read hazard is within a metric,
    * not across them); a retrain landing BETWEEN the two checks can
    * only make the stale half report against the pre-retrain model,
    * i.e. recommend a rebuild that just happened — a wasted rebuild at
    * worst, never a missed one, because the check against the
    * surviving model is itself consistent. */
  def needsRebuild(spark: SparkSession, emb: DataFrame, modelRoot: String,
                   codesRoot: String, pct: Int, tolQ: Long,
                   tolShare: Double): Boolean = {
    val maxShareRow = cellStats(spark, codesRoot, modelRoot)
      .agg(max(col("current_share"))).head()
    val skewed = !maxShareRow.isNullAt(0) && maxShareRow.getDouble(0) > tolShare
    skewed || needsRebuild(spark, emb, modelRoot, pct, tolQ)
  }

  /** Re-encode the whole corpus under the CURRENT persisted model and
    * replace the codes table in one commit — the drift remedy
    * ([[needsRebuild]] is the trigger; retrain first if the book itself
    * is stale). Readers see the old complete index until the commit
    * publishes, then the new complete one; the maintenance sink must be
    * stopped first (single writer per root, as for every versioned
    * table). Returns the new codes version. */
  def rebuild(spark: SparkSession, emb: DataFrame, modelRoot: String,
              codesRoot: String): Long = {
    val (cent, book, m, dsub) = model(spark, modelRoot)
    // harvest the same vec_id stats/bloom sidecars the maintenance sink
    // writes, so its bounded re-delivery guard keeps pruning after a
    // rebuild replaces every file; the cell-range layout + cluster
    // stats come from [[commitCodes]]; rows are the shared PACKED
    // [[encodeCodes]] shape
    commitCodes(spark,
      encodeCodes(emb.select(col("vec_id"), col("embedding")),
        cent, book, m, dsub),
      codesRoot, emb, math.min(
        Iterate.localRowCount(cent).getOrElse(cent.count()),
        4096L).toInt.max(1))
  }

  /** LAYOUT-ONLY index maintenance — restore the one-file-per-cell
    * range layout (and the per-file `cluster` min/max tightness) that
    * streaming maintenance erodes, WITHOUT re-encoding anything:
    * [[graft.streaming.Streams.versionedAnnIndexSink]] appends each
    * micro-batch as its own file spanning whatever cells the batch
    * touched, so after many triggers the table accretes wide-cluster-
    * range files the probed-cell IN can never skip — pruned [[search]]
    * degrades toward reading every maintenance file even while its
    * row-level cell filter still prunes. [[rebuild]] fixes the layout as
    * a side effect but pays the full n·k·m corpus re-encode for codes
    * that ALREADY EXIST in the table; this is the cheap remedy when
    * only the LAYOUT eroded: one shuffle of the code rows (re-ranged
    * one file per cell, capped 4096, stats + tracked-bloom sidecars
    * re-harvested by [[graft.io.Versioned.compactLatest]]), the model
    * never read or touched, results bit-identical by construction —
    * only the file-skip ratio changes. The remedy ladder:
    * [[recellSmall]] when only the accreted maintenance tail eroded
    * (cost tracks the damage, not the table); `recell` when the whole
    * layout should be restored; [[rebuild]] when the INDEX eroded
    * (drift or balance tripped); retrain when the book itself is
    * stale. Works on any
    * celled index table (the PQ codes table; the celled
    * [[buildBinaryIndex]] table); a flat table refuses loudly — it has
    * no cell layout to restore. Stop the maintenance sink first
    * (single writer per root). Returns the new committed version;
    * older versions stay readable until vacuum, like any compaction. */
  def recell(spark: SparkSession, codesRoot: String): Long = {
    // shared with the trigger/measure surfaces, so the remedy refuses
    // exactly what they refuse (a >4096-distinct-cluster table cannot
    // have a one-file-per-cell layout under the 4096-file build cap —
    // the whole recell measure is ill-defined there; rebuild instead)
    recellAs(spark, codesRoot, liveCells(spark, codesRoot).length)
  }

  /** [[recell]] with the live-cell count already in hand — the shared
    * remedy core, so [[recellIfNeeded]] pays the bounded distinct-cells
    * scan once per maintenance-loop iteration instead of once in the
    * trigger and again in the remedy. */
  private def recellAs(spark: SparkSession, codesRoot: String,
                       cells: Int): Long =
    Versioned.compactLatest(spark, codesRoot,
      math.min(cells, 4096),
      sortCols = Seq("cluster"),
      statsCols = Some(Seq("vec_id", "cluster")))

  /** Check-and-repair in ONE pass: [[needsRecell]]'s trigger and — when
    * it fires — [[recell]]'s remedy off a single [[cellCoverage]]
    * derivation. A maintenance loop calling `needsRecell` then `recell`
    * runs the live-cell distinct scan twice (each entry point derives
    * the live cell set independently); this entry runs it once. Returns
    * the new committed version when the layout was repaired, None when
    * the layout is healthy (≤ `tolKept` kept files per average probe).
    * Refuses exactly what the separate surfaces refuse (flat table,
    * > 4096 distinct clusters), via the same [[liveCells]] guard. */
  def recellIfNeeded(spark: SparkSession, codesRoot: String,
                     tolKept: Double = 2.0,
                     minCellBytes: Long = 1L << 20): Option[Long] = {
    val (cells, cov) = cellCoverage(spark, codesRoot)
    if (erodedBeyond(cells, cov, tolKept, minCellBytes))
      Some(recellAs(spark, codesRoot, cells.length))
    else None
  }

  /** Incremental [[recell]] — the repair whose cost tracks the DAMAGE,
    * not the table: delegates to [[Versioned.compactSmall]] with the
    * cell sort, so only the accreted small maintenance-batch files
    * rewrite (into cell-RANGED outputs — equal cluster values land in
    * one partition, so each live cell appears in exactly one repaired
    * file) while every already-large file — the build's one-per-cell
    * layout at production sizes — carries by REFERENCE, untouched on
    * disk. After it an average probe keeps its build file plus at most
    * one repaired-tail file per probed cell (kept-files-per-probe ≈ 2,
    * down from 1 + batches); run the full [[recell]] when
    * [[layoutStats]] still reads high afterwards. No-op below
    * `minInputFiles` small files, exactly like compactSmall.
    * Layout-only like recell: no re-encode, no model read, results
    * bit-identical. SQL twin: the generic
    * `CALL graft.system.compact_small(codes_table, small_mb, target_mb,
    * 'cluster')`. */
  def recellSmall(spark: SparkSession, codesRoot: String,
                  smallBytes: Long = 32L * 1024 * 1024,
                  targetBytes: Long = 128L * 1024 * 1024,
                  minInputFiles: Int = 2): Long = {
    val codes = Versioned.read(spark, codesRoot)
    require(codes.columns.contains("cluster"),
      s"recellSmall: the index at $codesRoot carries no cluster column — " +
        "only a celled index has a cell layout to repair (build with " +
        "trainAndRebuild/rebuild or the celled buildBinaryIndex)")
    Versioned.compactSmall(spark, codesRoot, smallBytes, targetBytes,
      sortCols = Seq("cluster"), minInputFiles = minInputFiles)
  }

  /** The live cell values of a celled index (bounded: the build paths
    * cap the layout at 4096 cells; far more distinct clusters means the
    * table wasn't built by them — refuse before collecting unbounded). */
  private def liveCells(spark: SparkSession, codesRoot: String): IndexedSeq[Any] = {
    val codes = Versioned.read(spark, codesRoot)
    require(codes.columns.contains("cluster"),
      s"the index at $codesRoot carries no cluster column — only a " +
        "celled index has a cell layout (build with " +
        "trainAndRebuild/rebuild or the celled buildBinaryIndex)")
    val cells = codes.select(col("cluster")).distinct()
      .limit(4097).collect().map(_.get(0)).toIndexedSeq
    require(cells.nonEmpty, s"the index at $codesRoot holds no rows")
    require(cells.length <= 4096,
      s"the index at $codesRoot holds more than 4096 distinct clusters — " +
        "not a layout this module built; rebuild it first")
    cells
  }

  /** LAYOUT health of a celled index — the DECISION half of [[recell]],
    * mirroring how [[driftStats]] decides [[rebuild]]'s quality half
    * and [[cellStats]] its balance half: one row per live data file,
    * (file, cells_covered) = how many live cells that file's harvested
    * `cluster` [min,max] may contain, read from the stats SIDECARS
    * (metadata-only; the single data touch is the bounded distinct-cells
    * scan). The operational number is kept-files-per-probe =
    * sum(cells_covered) / nlist — what an average single-cell probe
    * reads: exactly 1.0 under the rebuilt/recelled one-file-per-cell
    * layout (every cell lives in exactly one file, however the range
    * boundaries fell), rising by ~1 for every accreted all-cells
    * maintenance file. Files without harvested cluster stats count
    * every cell — conservatively, exactly as the pruned scan keeps
    * them. */
  /** One implementation of the coverage rule, shared by the measure and
    * the trigger: (live cells, per-file (path, mayContain count,
    * bytes)). */
  private def cellCoverage(spark: SparkSession, codesRoot: String)
      : (IndexedSeq[Any], Seq[(String, Int, Option[Long])]) = {
    val cells = liveCells(spark, codesRoot)
    (cells, Versioned.fileStatsCoverage(spark, codesRoot, "cluster", cells))
  }

  /** Two metrics, because each has the other's blind spot:
    * kept-files-per-probe counts file OPENS — a table packed into ONE
    * all-cells file reads a "perfect" 1.0 while every probe scans the
    * whole table (the r16 bench hit exactly this after a recellSmall
    * that packed everything). The per-file `bytes` column closes that
    * with DATA: [[layoutPoint]] derives kept_bytes_per_probe from it,
    * and the breach rule ([[erodedBeyond]], [[layoutAlerts]]) fires
    * when EITHER the open count or the read volume (normalized by the
    * ideal layout's total/nlist per probe) exceeds tolerance. */
  def layoutStats(spark: SparkSession, codesRoot: String): DataFrame = {
    val (cells, cov) = cellCoverage(spark, codesRoot)
    layoutStatsOf(spark, cells.length, cov)
  }

  /** [[layoutStats]] over an already-derived coverage — the seam the
    * degradation spec drives with a synthetic unpriced file (the real
    * filesystem cannot produce one without also breaking the bounded
    * distinct-cells scan that precedes coverage). */
  private[graft] def layoutStatsOf(spark: SparkSession, nlist: Int,
      cov: Seq[(String, Int, Option[Long])]): DataFrame = {
    import spark.implicits._
    // nlist rides as a constant column so kept-files-per-probe is one
    // aggregation away: SUM(cells_covered) / ANY_VALUE(cells). An
    // unpriced file (missing from its directory listing — defensive)
    // carries bytes NULL, never 0: the volume metrics must read
    // "unknown", not "smaller".
    cov.toDF("file", "cells_covered", "bytes")
      .select(col("file"), col("cells_covered"),
        lit(nlist).as("cells"), col("bytes"))
  }

  /** The mechanical [[recell]] trigger: true when the average
    * single-cell probe keeps more than `tolKept` files
    * (sum(cells_covered)/nlist) OR reads more than `tolKept`× the ideal
    * layout's bytes (the volume leg — see [[erodedBeyond]]); both are
    * 1.0 at the one-file-per-cell layout. The default 2.0 fires once
    * accreted maintenance files cost an average probe about one extra
    * file read per cell — i.e. well before the scan floor doubles —
    * and, on the volume leg, once a compaction that ignored the cell
    * sort makes an average probe read twice the ideal bytes (the
    * one-packed-file regime reads nlist×, so it trips immediately —
    * provided the table is past the `minCellBytes` oscillation gate;
    * see [[layoutAlerts]] for the ungated human-facing rule and
    * [[erodedBeyond]]'s scaladoc for why the automatic trigger must
    * not fight compactSmall on small tables).
    * Layout is the THIRD erosion axis next to quality
    * ([[needsRebuild]]'s drift half) and balance (its skew half); its
    * remedy is the cheap one, so check it first in a maintenance
    * loop. */
  def needsRecell(spark: SparkSession, codesRoot: String,
                  tolKept: Double = 2.0,
                  minCellBytes: Long = 1L << 20): Boolean = {
    val (cells, cov) = cellCoverage(spark, codesRoot)
    erodedBeyond(cells, cov, tolKept, minCellBytes)
  }

  /** ONE definition of the layout-breach rule, shared by the trigger
    * ([[needsRecell]]) and the combined check-and-repair
    * ([[recellIfNeeded]]), so they can never drift apart. Two legs,
    * either fires: kept-files-per-probe > tol (open-count erosion:
    * accreted all-cells maintenance files), or read-volume
    * amplification kept-bytes-per-probe / (total/nlist) > tol (the
    * packed-file pathology open counts read as a "perfect" 1.0). Both
    * are 1.0 at the ideal one-file-per-cell layout and both are
    * repaired by the same remedy ([[recell]]'s cell-ranged rewrite), so
    * one tolerance governs both.
    *
    * ALERT LOUDLY, ACT CONSERVATIVELY: unlike [[layoutAlerts]] (human-
    * facing — reports the volume breach at any size), the AUTOMATIC
    * trigger's volume leg is additionally gated on the ideal per-cell
    * volume total/nlist ≥ `minCellBytes` (default 1 MB). Below it a
    * one-file layout is the DELIBERATE product of small-file
    * compaction ([[recellSmall]]/compactSmall pack sub-32MB files by
    * design), splitting it would mint nlist tiny files that the next
    * compactSmall re-packs — an infinite rewrite oscillation between
    * the two policies — and the absolute over-read is capped at
    * nlist·minCellBytes per probe anyway. At production scale the gate
    * is invisible (a 100 TB / 4096-cell table has ~24 GB ideal per
    * cell); it exists exactly for the tables where "pruning is moot
    * anyway". The cheap remedy ordering stands: run [[recellSmall]]
    * for accreted TAILS before this trigger's full rewrite.
    *
    * Convergence of the repair loop on the volume leg: a recelled
    * layout has each cell in exactly ONE file, but the range
    * partitioner may merge adjacent cells into one file (never split
    * one), and a merged file is read by each of its cells' probes — so
    * the post-repair amp is 1.0 only at the exact one-file-per-cell
    * landing and bounded by the bytes-weighted merge factor otherwise
    * (≤ 2.0 for pairwise merges — at or under the default tolerance,
    * so the trigger goes quiet). A ≥3-cell merge of hot cells could
    * leave the amp above tol; a re-fired recell RESAMPLES range
    * boundaries, so repeated repairs do not reproduce the same
    * pathological landing. */
  private[graft] def erodedBeyond(cells: IndexedSeq[Any],
                                  cov: Seq[(String, Int, Option[Long])],
                                  tolKept: Double,
                                  minCellBytes: Long): Boolean = {
    val keptFiles = cov.map(_._2.toLong).sum.toDouble / cells.length
    // the volume leg is skipped — as a WHOLE, never partially summed —
    // when ANY live file's length is unpriced (a missing listing must
    // not read as infinitely amplified, and a partial sum would
    // under-count amplification toward not-alerting; the degradation is
    // visible as nulls in layoutStats/layoutPoint and the monitor
    // series), when the snapshot is empty, or when the table is below
    // the oscillation gate (see scaladoc). The gate product is exact:
    // an absurd user-supplied minCellBytes that overflows int64 means
    // the TRUE gate exceeds any real total, so the gate engages — it
    // must never wrap into a value that re-arms (or mis-fires) the
    // automatic trigger.
    val anyUnpriced = cov.exists(_._3.isEmpty)
    val total = cov.flatMap(_._3).sum
    val gateBytes =
      try math.multiplyExact(minCellBytes, cells.length.toLong)
      catch { case _: ArithmeticException => Long.MaxValue }
    val volAmp =
      if (anyUnpriced || total <= 0L || total < gateBytes) 1.0
      else cov.map(f => f._2.toDouble * f._3.get).sum / total
    keptFiles > tolKept || volAmp > tolKept
  }

  /** Persist the binary (1-bit/dim) sign-fingerprint index for
    * [[binarySearch]]: one (vec_id, fp) row per corpus vector, dim/8
    * bytes of fingerprint each — the RAM-prefilter table that stands in
    * for 4-byte-per-dim raw floats in the shortlist stage. vec_id
    * stats + blooms harvest like the codes table, so point-lookup joins
    * into the index prune files. One replace commit; rebuild by calling
    * again (fingerprints have no trained state, so unlike IVF-PQ there
    * is no drift story — a fingerprint is a pure function of its
    * vector). Returns the committed version. */
  def buildBinaryIndex(spark: SparkSession, emb: DataFrame, dim: Int,
                       fpRoot: String): Long =
    Versioned.commit(spark,
      emb.select(col("vec_id"),
        Similarity.signWords(col("embedding"), dim).as("fp")),
      fpRoot, replace = true, tag = Some(s"binary-fp-dim$dim"),
      statsCols = Seq("vec_id"),
      bloomCols = Seq("vec_id").filter(c => graft.io.FileStats
        .bloomSupported(emb.schema(c).dataType)))

  /** [[buildBinaryIndex]] with a COARSE-CELL column: each fingerprint
    * row also carries its vector's IVF home cell under `cent` (the same
    * nprobe=1 assignment the codes table stores), rows are clustered by
    * cell on write and per-file `cluster` min/max stats harvest — so the
    * pruned [[binarySearch]] overload can skip every file holding no
    * probed cell. The exhaustive flat form stays the DEFAULT (the
    * documented RAM-prefilter design — linear, map-side, dim/8 bytes per
    * vector); this is the opt-in for 10⁹+-vector tables where even the
    * fingerprint scan per query batch is worth pruning. The cell column
    * costs one n·k assignment pass at build and nothing at search
    * recall when nprobe covers every cell. Rows RANGE-partition by cell
    * on write (disjoint cluster ranges per file, unlike a hash
    * repartition's interleaved values), so each file's harvested
    * cluster min/max is tight and a probed-cell IN filter skips every
    * file outside its range; the partition count is EXPLICIT (one file
    * per cell, capped at 4096) because an implicit range shuffle is
    * fair game for AQE coalescing, which would merge the small range
    * partitions back into few wide-range files and undo the pruning
    * the layout exists for. */
  def buildBinaryIndex(spark: SparkSession, emb: DataFrame, dim: Int,
                       fpRoot: String, cent: DataFrame): Long = {
    val files = math.min(
      Iterate.localRowCount(cent).getOrElse(cent.count()),
      4096L).toInt.max(1)
    Versioned.commit(spark,
      Similarity.assignClusters(emb.select(col("vec_id"), col("embedding")),
        cent, nprobe = 1)
        .select(col("vec_id"), col("cluster"),
          Similarity.signWords(col("embedding"), dim).as("fp"))
        .repartitionByRange(files, col("cluster")),
      fpRoot, replace = true, tag = Some(s"binary-fp-dim$dim-celled"),
      statsCols = Seq("vec_id", "cluster"),
      bloomCols = Seq("vec_id").filter(c => graft.io.FileStats
        .bloomSupported(emb.schema(c).dataType)))
  }

  /** [[buildBinaryIndex]] celled against the PERSISTED model's centroids
    * — the production form: the cells are exactly the codes table's, so
    * one trained model serves both indexes and one query-side assignment
    * could probe either. */
  def buildBinaryIndex(spark: SparkSession, emb: DataFrame, dim: Int,
                       fpRoot: String, modelRoot: String): Long = {
    val (cent, _, _, _) = model(spark, modelRoot)
    buildBinaryIndex(spark, emb, dim, fpRoot, cent)
  }

  /** Loud width check shared by the binarySearch forms: `dim` must be
    * the index's build dim. */
  private def checkFpWidth(fp: DataFrame, fpRoot: String, dim: Int): Unit = {
    val words = fp.select(size(col("fp"))).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"binarySearch: the fingerprint index at $fpRoot is empty — " +
          "build it from a non-empty corpus first"))
    require(words == (dim + 31) / 32,
      s"binarySearch: dim=$dim expects ${(dim + 31) / 32} fingerprint " +
        s"words, but the index at $fpRoot stores $words — search with the " +
        "dim the index was built with")
  }

  /** Search the persisted fingerprint index: Hamming-shortlist against
    * the index table, exact cosine re-rank against `corpus`'s raw
    * vectors (only the shortlist's rows are fetched). `dim` must be the
    * index's build dim — checked loudly against the stored word count
    * before any work runs. */
  def binarySearch(spark: SparkSession, queries: DataFrame, fpRoot: String,
                   corpus: DataFrame, dim: Int, k: Int,
                   shortlist: Int): DataFrame = {
    val fp = Versioned.read(spark, fpRoot)
    checkFpWidth(fp, fpRoot, dim)
    Similarity.binaryTopKIndexed(fp.select(col("vec_id").as("nid"), col("fp")),
      queries, corpus, dim, k, shortlist)
  }

  /** Cell-PRUNED fingerprint search: queries are IVF-assigned to their
    * `nprobe` nearest cells under `cent`, and the Hamming stage scans
    * ONLY fingerprints homed in a probed cell — the probed-cell set is
    * collected driver-side (bounded by |queries|·nprobe; queries are the
    * broadcast-small side by contract) and pushed into the versioned
    * scan as an IN filter, so the per-file `cluster` stats the celled
    * build harvested skip whole files. The shortlist therefore comes
    * from the probed cells, like IVF-PQ's candidate lists: at
    * nprobe = every cell the result equals the exhaustive form exactly
    * (spec-pinned — each corpus vector has ONE home cell, so a (query,
    * candidate) pair meets at most once under any nprobe); at small
    * nprobe recall trades against scanning k/nprobe-fold fewer
    * fingerprints. Requires an index built by the celled
    * [[buildBinaryIndex]] — a flat index refuses loudly. */
  def binarySearch(spark: SparkSession, queries: DataFrame, fpRoot: String,
                   corpus: DataFrame, dim: Int, k: Int, shortlist: Int,
                   cent: DataFrame, nprobe: Int): DataFrame = {
    // DSv2 scan for the same reason as [[search]]: only it consults the
    // cluster stats sidecars, so the probed-cell IN below skips files
    val fp = spark.read.format("graft-versioned").load(fpRoot)
    require(fp.columns.contains("cluster"),
      s"binarySearch(nprobe): the fingerprint index at $fpRoot carries " +
        "no cluster column — build it with the celled buildBinaryIndex " +
        "(cent/modelRoot form) to enable cell pruning")
    checkFpWidth(fp, fpRoot, dim)
    val qa = Similarity.assignClusters(
      queries.select(col("qid").as("vec_id"), col("qvec").as("embedding")),
      cent, nprobe)
    // materialize the assigned query set once, as in [[search]]: the
    // probed-cell list and the plan's broadcast query side must not
    // each re-run whatever scan backs `queries`. Unlike search there is
    // no semi-join fallback shape here (the query side is ALWAYS
    // broadcast in the shortlist join), so a query set past the cap is
    // out of contract either way — refuse loudly instead of cliffing
    // the driver
    val qaRows = qa.limit(100001).collect()
    require(qaRows.length <= 100000,
      "binarySearch(nprobe): more than 100k (query, probed-cell) rows — " +
        "queries are the broadcast-small side by contract; batch them")
    val qaLocal = spark.createDataFrame(
      java.util.Arrays.asList(qaRows: _*), qa.schema)
    val ci = qa.schema.fieldIndex("cluster")
    val probed = qaRows.map(_.get(ci)).distinct.toIndexedSeq
    Similarity.binaryTopKIndexedPruned(
      fp.filter(col("cluster").isin(probed: _*))
        .select(col("vec_id").as("nid"), col("cluster"), col("fp")),
      qaLocal, corpus, dim, k, shortlist)
  }

  /** The pruned [[binarySearch]] against the PERSISTED model's centroids
    * — pair of the celled modelRoot build. */
  def binarySearch(spark: SparkSession, queries: DataFrame, fpRoot: String,
                   corpus: DataFrame, dim: Int, k: Int, shortlist: Int,
                   modelRoot: String, nprobe: Int): DataFrame = {
    val (cent, _, _, _) = model(spark, modelRoot)
    binarySearch(spark, queries, fpRoot, corpus, dim, k, shortlist, cent, nprobe)
  }

  /** [[binarySearch]] whose RE-RANK stage fetches raw vectors from a
    * VERSIONED corpus table instead of an ad-hoc frame — the
    * corpus-at-scale form: the plain-DataFrame overloads re-rank via
    * `corpus.join(broadcast(short))`, which prunes ROWS but still reads
    * every corpus file (the exact row-vs-file distinction the codes
    * table's probed-cell pruning closed in r14). Here the shortlist —
    * bounded by |queries|·shortlist, queries being the broadcast-small
    * side by contract — collects driver-side and its vec_ids push into
    * the `graft-versioned` DSv2 scan as an IN, so the per-file vec_id
    * blooms/stats the corpus commit harvested skip every file holding
    * none of the shortlist (the same point-lookup prune as the
    * maintenance sink's re-delivery probe). The corpus table must carry
    * (vec_id, embedding); results are byte-identical to the DataFrame
    * form over the same snapshot (the IN keeps a superset of the rows
    * the broadcast join keeps). A shortlist past 100k rows refuses
    * loudly rather than cliffing the driver — at that scale, batch the
    * queries. The ad-hoc DataFrame overloads remain for corpora that are
    * not versioned tables. */
  def binarySearch(spark: SparkSession, queries: DataFrame, fpRoot: String,
                   corpusRoot: String, dim: Int, k: Int,
                   shortlist: Int): DataFrame = {
    val fp = Versioned.read(spark, fpRoot)
    checkFpWidth(fp, fpRoot, dim)
    prunedRerank(spark,
      Similarity.binaryShortlist(
        fp.select(col("vec_id").as("nid"), col("fp")), queries, dim, shortlist),
      queries.select(col("qid"), col("qvec")), corpusRoot, k)
  }

  /** Cell-pruned Hamming stage AND bloom-pruned re-rank fetch — both
    * scan stages skip files: the fingerprint read keeps only probed-cell
    * files (celled index), the corpus read only files whose vec_id
    * blooms may hold a shortlisted id. Requires the celled
    * [[buildBinaryIndex]]; same contracts as the two forms it fuses. */
  def binarySearch(spark: SparkSession, queries: DataFrame, fpRoot: String,
                   corpusRoot: String, dim: Int, k: Int, shortlist: Int,
                   cent: DataFrame, nprobe: Int): DataFrame = {
    val fp = spark.read.format("graft-versioned").load(fpRoot)
    require(fp.columns.contains("cluster"),
      s"binarySearch(nprobe): the fingerprint index at $fpRoot carries " +
        "no cluster column — build it with the celled buildBinaryIndex " +
        "(cent/modelRoot form) to enable cell pruning")
    checkFpWidth(fp, fpRoot, dim)
    val qa = Similarity.assignClusters(
      queries.select(col("qid").as("vec_id"), col("qvec").as("embedding")),
      cent, nprobe)
    val qaRows = qa.limit(100001).collect()
    require(qaRows.length <= 100000,
      "binarySearch(nprobe): more than 100k (query, probed-cell) rows — " +
        "queries are the broadcast-small side by contract; batch them")
    val qaLocal = spark.createDataFrame(
      java.util.Arrays.asList(qaRows: _*), qa.schema)
    val ci = qa.schema.fieldIndex("cluster")
    val probed = qaRows.map(_.get(ci)).distinct.toIndexedSeq
    val short = Similarity.binaryShortlistPruned(
      fp.filter(col("cluster").isin(probed: _*))
        .select(col("vec_id").as("nid"), col("cluster"), col("fp")),
      qaLocal, dim, shortlist)
    prunedRerank(spark, short,
      qaLocal.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .dropDuplicates(Seq("qid")),
      corpusRoot, k)
  }

  /** The fully-pruned [[binarySearch]] against the PERSISTED model's
    * centroids. */
  def binarySearch(spark: SparkSession, queries: DataFrame, fpRoot: String,
                   corpusRoot: String, dim: Int, k: Int, shortlist: Int,
                   modelRoot: String, nprobe: Int): DataFrame = {
    val (cent, _, _, _) = model(spark, modelRoot)
    binarySearch(spark, queries, fpRoot, corpusRoot, dim, k, shortlist,
      cent, nprobe)
  }

  /** The shared pruned re-rank: collect the bounded (qid, nid) shortlist,
    * push its distinct vec_ids into the versioned corpus scan as an IN
    * (bloom/stats file skipping), re-rank the fetched rows exactly as
    * [[Similarity.binaryRerank]] does for an ad-hoc corpus. */
  private def prunedRerank(spark: SparkSession, short: DataFrame,
                           queries: DataFrame, corpusRoot: String,
                           k: Int): DataFrame = {
    val corpus = spark.read.format("graft-versioned").load(corpusRoot)
    require(Seq("vec_id", "embedding").forall(corpus.columns.contains),
      s"binarySearch: the corpus table at $corpusRoot must carry " +
        s"(vec_id, embedding); has ${corpus.columns.mkString(",")}")
    prunedRerankOn(spark, short, queries, corpus, k)
  }

  /** [[prunedRerank]] over a PRE-LOADED versioned corpus frame — the
    * prepared-handle form, where the DSv2 scan resolves once at prepare
    * time instead of per call. */
  private[ops] def prunedRerankOn(spark: SparkSession, short: DataFrame,
                                  queries: DataFrame, corpus: DataFrame,
                                  k: Int): DataFrame = {
    val rows = short.limit(100001).collect()
    require(rows.length <= 100000,
      "binarySearch: shortlist exceeds 100k (query, candidate) rows — " +
        "the pruned re-rank fetch collects the shortlist driver-side; " +
        "batch the queries (or lower `shortlist`)")
    val shortLocal = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), short.schema)
    val ni = short.schema.fieldIndex("nid")
    val ids = rows.map(_.get(ni)).distinct.toIndexedSeq
    Similarity.binaryRerank(shortLocal, queries,
      corpus.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("nid"), col("embedding").as("nvec")), k)
  }

  /** End-to-end search over the PERSISTED pair: raw query vectors in,
    * (qid, nid, cluster, cos_pq, rank) out — queries are IVF-assigned
    * against the model's centroids, candidates come from the codes
    * table. The corpus's raw embeddings are not involved anywhere.
    * `nprobe` is the standard IVF recall dial: a query probes its
    * `nprobe` nearest cells (the stored side always keeps one home cell
    * per vector — multiprobe belongs on the query side, see
    * [[Similarity.ivfPqTopKIndexed]]), so recall rises at the cost of
    * scoring proportionally more candidate cells. */
  def search(spark: SparkSession, queries: DataFrame, modelRoot: String,
             codesRoot: String, k: Int, nprobe: Int = 1): DataFrame = {
    val (cent, book, _, dsub) = model(spark, modelRoot)
    // one result set per DISTINCT query id, however duplicate-heavy the
    // raw batch (the prepared handle's documented posture): the heap
    // aggregate inside the old assignClusters deduplicated implicitly
    // by grouping on vec_id; the fused map-side assignment preserves
    // input rows, so the dedup is explicit here — same rows out
    // (AnnPreparedSpec's dup-heavy case pins handle == direct).
    val qa = Similarity.assignClusters(
      queries.dropDuplicates(Seq("vec_id")), cent, nprobe = nprobe)
    // The assigned query set is MATERIALIZED once (bounded: queries are
    // the broadcast-small side by contract; a cap guards the collect
    // like the sink's id collect) into a local relation, which
    // ivfPqTopKIndexed carries inside the plan: the probed-cell list and
    // the scoring both read it on the driver, so whatever corpus-sized
    // scan backs `queries` is evaluated once.
    //
    // FILE-level pruning: the probed cells push into the versioned scan
    // as an IN filter, which the per-file cluster stats [[commitCodes]]
    // harvested turn into skipped files (and parquet into skipped row
    // groups). The IN is row-exact, so ivfPqTopKIndexed's own cell
    // filter drops nothing more. The scan must be the `graft-versioned`
    // DSv2 path — only it consults the stats sidecars; Versioned.read is
    // a plain parquet read of the manifest's files. (The DSv2 scan refuses
    // DV-carrying snapshots; the codes table is replace/append-only by
    // contract, so that can only trip a user who hand-deleted from the
    // index — loudly.)
    val codes = spark.read.format("graft-versioned").load(codesRoot)
    Similarity.requirePackedCodes(codes, "search", codesRoot)
    val qaRows = qa.limit(10001).collect()
    if (qaRows.length <= 10000) {
      val qaLocal = spark.createDataFrame(
        java.util.Arrays.asList(qaRows: _*), qa.schema)
      val ci = qa.schema.fieldIndex("cluster")
      val probed = qaRows.map(_.get(ci)).distinct.toIndexedSeq
      Similarity.ivfPqTopKIndexed(
        codes.filter(col("cluster").isin(probed: _*)), qaLocal, book, dsub, k)
    } else {
      // Jumbo query sets (> 10k (query, probed-cell) rows) keep FILE
      // pruning too: the probed-CELL set is bounded by nlist (≤ 4096 by
      // the rebuild layout) however many queries there are, so a
      // distributed distinct-clusters collect stays driver-safe at any
      // query volume and the IN keeps pushing into the scan. The
      // assignment is PINNED first — three consumers (the distinct
      // below, ivfPqTopKIndexed's broadcast query side and its semi-join
      // build) would otherwise each re-run the n·k assignment and
      // whatever corpus-sized scan backs `queries` (the over-cap
      // double-evaluation the r14 advice flagged; the cap probe above
      // still costs one evaluation — the price of not paying a
      // distributed pin on the common small path). Pinned via the house
      // helper: reliable checkpoint when a dir is configured (executor
      // loss mid-search recovers; blocks don't accrete in executor
      // storage), localCheckpoint otherwise.
      val qaPinned = Iterate.pin(qa)
      val probed = qaPinned.select(col("cluster")).distinct().collect()
        .map(_.get(0)).toIndexedSeq
      Similarity.ivfPqTopKIndexed(
        codes.filter(col("cluster").isin(probed: _*)), qaPinned, book, dsub, k)
    }
  }

  /** Measured recall@k of the persisted pruned index against the EXACT
    * cosine ground truth — the operator that closes the nprobe tuning
    * loop: [[search]]'s `nprobe` dial trades scanned volume for recall,
    * and without a measured recall the trade is folklore. One row per
    * query: (qid, hits, recall) where hits = |index top-k ∩ exact
    * top-k| and recall = hits / k (the recall@k convention keeps the
    * denominator at k even when the corpus holds fewer neighbors).
    * Both sides rank (cos desc, id asc) with the same engine kernels,
    * so score ties cannot skew the intersection; self-pairs are
    * excluded on both sides. What it measures is the index's WHOLE
    * loss — cell loss (the probed cells missed a true neighbor's home
    * cell) plus quantization loss (PQ reconstruction re-ordered the
    * ranking) — so at nprobe = every cell the residual below 1.0 is
    * pure quantization, a useful m/dsub sizing probe.
    *
    * The ground-truth side is the deliberate cost: one full corpus
    * scan under broadcast queries (the exact brute-force baseline,
    * bounded-heap aggregated — no window, no sort, single exchange).
    * At 100 TB run it over a SAMPLE of queries — recall is a
    * population statistic and the sample mean converges at O(1/√q) —
    * against the same corpus snapshot the index was built from.
    * `queries` in [[search]]'s (vec_id, embedding) shape; `corpus` the
    * raw-vector (vec_id, embedding) table. Duplicate query vec_ids are
    * OUT OF CONTRACT (as for every query-side entry point here): the
    * per-qid hit count would sum across the duplicates' result rows and
    * read as recall > 1. */
  def recallAt(spark: SparkSession, queries: DataFrame, modelRoot: String,
               codesRoot: String, corpus: DataFrame, k: Int,
               nprobe: Int): DataFrame = {
    // pin once: the approx search, the truth side's broadcast and the
    // report's qid frame would otherwise each re-run whatever scan
    // backs `queries` — the exact re-evaluation search's own
    // materialization note measured as the narrow search's floor
    val q = Iterate.pin(queries)
    val approx = search(spark, q, modelRoot, codesRoot, k, nprobe)
      .select(col("qid"), col("nid"))
    val truth = Similarity.bruteForceTopKAgg(
      q.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      corpus.select(col("vec_id").as("nid"), col("embedding").as("nvec")), k)
      .select(col("qid"), col("nid"))
    recallReport(q.select(col("vec_id").as("qid")).distinct(),
      approx, truth, k)
  }

  /** [[recallAt]] over a deterministic `sampleFraction` hash-mod sample
    * of the QUERIES — the built-in form of its own scaladoc's "at 100 TB
    * run it over a SAMPLE": recall is a population statistic whose
    * sample mean converges at O(1/√q), so the ground-truth corpus scan
    * (the deliberate cost) runs under q·f queries instead of q.
    * Membership is `hash32(vec_id) % 10000 < round(f·10000)` — the same
    * md5-derived discipline as [[driftStats]]'s sampled form and the
    * stratified samplers: reproducible across runs, engines and cluster
    * sizes, and a FIXED subset, so two measurements against the same
    * pair differ only by what the index/corpus changed, never by
    * sampling churn. Rows are EXACTLY the full form's rows for the
    * sampled qids (spec-pinned) — sampling selects queries, it never
    * perturbs a selected query's measurement. */
  def recallAt(spark: SparkSession, queries: DataFrame, modelRoot: String,
               codesRoot: String, corpus: DataFrame, k: Int, nprobe: Int,
               sampleFraction: Double): DataFrame = {
    val cut = math.round(sampleFraction * 10000).toInt
    require(cut > 0 && cut <= 10000,
      s"recallAt: sampleFraction=$sampleFraction must round into (0, 1] " +
        "at 1/10000 granularity")
    recallAt(spark,
      queries.filter(graft.functions.TextFunctions.hash32(
        col("vec_id").cast("string")) % 10000 < cut),
      modelRoot, codesRoot, corpus, k, nprobe)
  }

  /** [[recallAt]] for the BINARY fingerprint index: the
    * Hamming-shortlist + exact-re-rank search's top-k intersected per
    * query with the exact brute-force cosine top-k. The loss measured
    * here is SHORTLIST loss alone — the re-rank stage scores exact
    * cosine, so a true neighbor is missed only when the 1-bit Hamming
    * prefilter dropped it from the shortlist; recall vs `shortlist` is
    * therefore the sizing dial this number tunes (at shortlist ≥
    * corpus−1 recall is exactly 1.0 — spec-pinned). Same shapes and
    * contracts as the flat [[binarySearch]] it measures: queries
    * (qid, qvec), corpus (nid, nvec), unique qids. */
  def binaryRecallAt(spark: SparkSession, queries: DataFrame, fpRoot: String,
                     corpus: DataFrame, dim: Int, k: Int,
                     shortlist: Int): DataFrame = {
    // pinned for the same three-consumer reason as [[recallAt]]
    val q = Iterate.pin(queries)
    val approx = binarySearch(spark, q, fpRoot, corpus, dim, k,
      shortlist).select(col("qid"), col("nid"))
    val truth = Similarity.bruteForceTopKAgg(
      q.select(col("qid"), col("qvec")),
      corpus.select(col("nid"), col("nvec")), k)
      .select(col("qid"), col("nid"))
    recallReport(q.select(col("qid")).distinct(), approx, truth, k)
  }

  /** The recall-report stage [[recallAt]] and [[binaryRecallAt]] share:
    * per-query |approx ∩ truth| re-joined onto the full query-id frame —
    * both sides are k rows per query; a query whose index results miss
    * every true neighbor has NO row after the inner join, so the left
    * join makes zero-hit queries report recall 0.0 instead of
    * vanishing. */
  private def recallReport(qids: DataFrame, approx: DataFrame,
                           truth: DataFrame, k: Int): DataFrame = {
    val hits = approx.join(truth, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    qids.join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) / k.toDouble).as("recall"))
  }

  /** Prepare a REUSABLE search handle over the persisted (model, codes)
    * pair — the many-searches form of [[search]]. [[search]] re-reads the
    * model table and re-plans the same multi-join shape on EVERY call;
    * measured on the 10⁶-vector bench fixture that fixed cost
    * (~1.4–1.9 s: model read, query-assignment job, Catalyst planning,
    * stage scheduling) dominates a narrow probe. The handle pays the
    * model read ONCE — centroids and codebook are k-row frames, collected
    * to the driver here, and the codebook's fused-kernel arrays resolve
    * here too ([[Similarity.pqKernelBook]], which refuses a book the
    * kernels cannot serve) — resolves the codes scan (file listing +
    * stats/bloom sidecar load, a lazy per-table index) once, and runs query
    * assignment DRIVER-SIDE against the in-memory centroids: queries
    * are the broadcast-small side by contract, so |q|·k kernel-exact
    * cosines on the driver replace a whole Spark job. Per-call work is
    * therefore exactly the scoring of the probed cells' candidates, with
    * the assigned batch carried inside the plan (see
    * [[Similarity.ivfPqTopKIndexed]]): two Spark jobs.
    *
    * Snapshot semantics: the handle serves the snapshot CURRENT AT
    * PREPARE TIME of both tables (the model rows collect here; the codes
    * scan resolves its file list at load) — a consistent pair by
    * construction, immune to a concurrent retrain publishing between
    * calls. Appends from a running maintenance sink after prepare are
    * NOT visible; re-prepare to pick them up (cheap — the model read and
    * listing, no training).
    *
    * Result contract: [[PreparedAnnSearch.search]] returns byte-identical
    * rows to [[search]] on the same arguments (spec-pinned) — the
    * driver-side assignment replicates the fused cosine kernel's
    * sequential fold and the bounded heap's (score desc, id asc)
    * tie-break exactly. */
  def prepare(spark: SparkSession, modelRoot: String,
              codesRoot: String): PreparedAnnSearch = {
    // ONE snapshot read serves centroids, book, geometry — the same
    // mixed-version guard as driftStats
    val t = Versioned.read(spark, modelRoot)
    // driver-held frames: bounded by the model's own k-row contract, but
    // a degenerate cellLabelCol could mint millions of cells — cap the
    // collect loudly instead of cliffing the driver (the same guard
    // discipline as every other driver-side collect in this file)
    val rows = graft.JobDesc(spark, s"ann model read: $modelRoot")(
      t.filter(col("part").isin("cent", "book", "meta"))
        .select(col("part"), col("rlabel"), col("vec"))
        .limit(65538).collect())
    // the cap prices cent+book rows; the single mandatory meta row rides
    // along in the same snapshot read and must not count against it
    require(rows.count(_.getString(0) != "meta") <= 65536,
      s"prepare: the model at $modelRoot carries more than 65536 " +
        "cent/book rows — a cell count this large is past the prepared " +
        "handle's driver-side design point; use AnnIndex.search")
    val metaRow = rows.find(_.getString(0) == "meta").getOrElse(
      throw new IllegalStateException(
        s"prepare: the model at $modelRoot has no part='meta' row — " +
          "train with AnnIndex.train/trainAndRebuild first"))
    val rlabelType = t.schema("rlabel").dataType
    val dsub = metaRow.getSeq[Double](2).head.toInt
    val cent = rows.filter(_.getString(0) == "cent")
    require(cent.nonEmpty,
      s"prepare: the model at $modelRoot has no part='cent' rows")
    val bookRows = rows.filter(_.getString(0) == "book")
    require(bookRows.nonEmpty,
      s"prepare: the model at $modelRoot has no part='book' rows")
    val assignLocal = new DriverAssign(spark,
      cent.map(_.get(1)).toIndexedSeq,
      cent.map(_.getSeq[Double](2).toArray).toIndexedSeq, rlabelType)
    // book as a LOCAL k-row frame in model()'s (rlabel, cvec) shape,
    // resolved to the fused kernels' arrays below
    val bookSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rlabel", rlabelType),
      org.apache.spark.sql.types.StructField("cvec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val bookLocal = spark.createDataFrame(
      java.util.Arrays.asList(bookRows.map(r =>
        org.apache.spark.sql.Row(r.get(1), r.getSeq[Double](2))): _*),
      bookSchema)
    val codes = spark.read.format("graft-versioned").load(codesRoot)
    Similarity.requirePackedCodes(codes, "prepare", codesRoot)
    val (codesRel, codesTable) = versionedRelOf(codes, "prepare", codesRoot)
    // the local-serve dial's snapshot file lengths (hit-only against the
    // shared status cache — the listing already happened when the scan
    // resolved)
    val fileBytes: Map[(String, String), Long] =
      codesTable.prunedIndex.allFiles().map { f =>
        (f.getPath.getParent.getName, f.getPath.getName) -> f.getLen
      }.toMap
    new PreparedAnnSearch(spark, assignLocal, Similarity.pqKernelBook(bookLocal),
      dsub, codesRel, codesTable, codesTable.prunedIndex.keepProbe("cluster"),
      fileBytes)
  }

  /** The versioned DSv2 relation + table behind a freshly-loaded
    * `graft-versioned` frame — the handles' pruning surface: per call
    * they re-root the SAME resolved relation over a derived keep-set
    * table ([[graft.io.VersionedReadTable.withKeep]]) instead of
    * filtering with a probed-cell IN literal, so the per-call plan
    * carries no changing literals (leaf DATA only — generated code
    * stays cache-stable) and file pruning costs O(files · nprobe)
    * driver-side compares against bounds decoded once at prepare. */
  private def versionedRelOf(df: DataFrame, who: String, root: String)
      : (org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
         graft.io.VersionedReadTable) = {
    val rel = df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r
    }.getOrElse(throw new IllegalStateException(
      s"$who: the table at $root did not load as a DSv2 relation"))
    rel.table match {
      case t: graft.io.VersionedReadTable => (rel, t)
      case t => throw new IllegalStateException(
        s"$who: the table at $root is not a graft-versioned table " +
          s"(got ${t.getClass.getName})")
    }
  }

  /** The centroid rows of a persisted model as a [[DriverAssign]] —
    * shared by the binary handle (which needs no book/geometry). Same
    * cap and guards as [[prepare]]. */
  private def driverAssignOf(spark: SparkSession,
                             modelRoot: String): DriverAssign = {
    val t = Versioned.read(spark, modelRoot)
    val cent = t.filter(col("part") === "cent")
      .select(col("rlabel"), col("vec")).limit(65537).collect()
    require(cent.length <= 65536,
      s"prepareBinary: the model at $modelRoot carries more than 65536 " +
        "centroid rows — past the prepared handle's driver-side design " +
        "point; use the direct binarySearch")
    require(cent.nonEmpty,
      s"prepareBinary: the model at $modelRoot has no part='cent' rows — " +
        "train with AnnIndex.train/trainAndRebuild first")
    new DriverAssign(spark, cent.map(_.get(0)).toIndexedSeq,
      cent.map(_.getSeq[Double](1).toArray).toIndexedSeq,
      t.schema("rlabel").dataType)
  }

  /** Prepare a reusable handle over the persisted binary-fingerprint
    * index and its versioned corpus — the binary-index twin of
    * [[prepare]], with the same rationale: the direct [[binarySearch]]
    * pays a model read, a fingerprint-width probe JOB, a query-assignment
    * job and fresh scan resolution (file listing + sidecar load) on
    * EVERY call. The handle pays them once; per-call work is the
    * (possibly cell-pruned) Hamming shortlist plus the bloom-pruned
    * re-rank fetch. Snapshot semantics as [[prepare]]: both scans
    * resolve their file lists here — re-prepare to see appends.
    * This overload prepares the EXHAUSTIVE form (works on flat or
    * celled indexes — a celled table's extra cluster column is simply
    * unused); the modelRoot overload adds the cell-pruned dial. */
  def prepareBinary(spark: SparkSession, fpRoot: String, corpusRoot: String,
                    dim: Int): PreparedBinarySearch =
    prepareBinaryImpl(spark, fpRoot, corpusRoot, dim, None)

  /** [[prepareBinary]] with the persisted model's centroids collected
    * driver-side — enables `search(…, nprobe)` cell pruning against a
    * CELLED index (refused loudly at prepare if the index is flat). */
  def prepareBinary(spark: SparkSession, fpRoot: String, corpusRoot: String,
                    dim: Int, modelRoot: String): PreparedBinarySearch =
    prepareBinaryImpl(spark, fpRoot, corpusRoot, dim,
      Some(driverAssignOf(spark, modelRoot)))

  private def prepareBinaryImpl(spark: SparkSession, fpRoot: String,
                                corpusRoot: String, dim: Int,
                                assign: Option[DriverAssign])
      : PreparedBinarySearch = {
    val fp = spark.read.format("graft-versioned").load(fpRoot)
    checkFpWidth(fp, fpRoot, dim)
    require(assign.isEmpty || fp.columns.contains("cluster"),
      s"prepareBinary: the fingerprint index at $fpRoot carries no " +
        "cluster column — build it with the celled buildBinaryIndex " +
        "(cent/modelRoot form) to enable cell pruning")
    val corpus = spark.read.format("graft-versioned").load(corpusRoot)
    require(Seq("vec_id", "embedding").forall(corpus.columns.contains),
      s"prepareBinary: the corpus table at $corpusRoot must carry " +
        s"(vec_id, embedding); has ${corpus.columns.mkString(",")}")
    // the celled dial prunes fingerprint files via the same runtime
    // keep-set machinery as PreparedAnnSearch (no per-call IN literal);
    // bounds decode once here
    val fpKeep = assign.map { _ =>
      val (rel, table) = versionedRelOf(fp, "prepareBinary", fpRoot)
      (rel, table, table.prunedIndex.keepProbe("cluster"))
    }
    new PreparedBinarySearch(spark, fp, corpus, dim, assign, fpKeep)
  }
}

/** Driver-side replica of [[Similarity.assignClusters]] over a collected
  * centroid table — the machinery the prepared handles share. Scoring is
  * the kernel-exact fused float×double cosine (same sequential left
  * fold as `Kernels.cosineFD`; null embeddings score -Inf like the
  * coalesce, NaN orders above all via Double.compare like the heap) and
  * selection keeps the min(nprobe, cells) best by (score desc, id asc —
  * longs for integral labels, UTF8 binary order for strings), exactly
  * TopKPairs' contract. Parallel across queries on the JDK stream pool;
  * |q|·cells kernel evaluations on the driver replace a Spark job. */
private[ops] final class DriverAssign(
    spark: SparkSession,
    centLabels: IndexedSeq[Any],
    centVecs: IndexedSeq[Array[Double]],
    val rlabelType: org.apache.spark.sql.types.DataType) {
  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

  val cells: Int = centVecs.length

  private val centIdsLong: Array[Long] = rlabelType match {
    case ByteType | ShortType | IntegerType | LongType =>
      centLabels.map(_.asInstanceOf[Number].longValue()).toArray
    case StringType => null
    case t => throw new IllegalArgumentException(
      s"prepare: centroid label type ${t.simpleString} is not supported " +
        "(integral or string)")
  }
  private val centIdsUtf8: Array[org.apache.spark.unsafe.types.UTF8String] =
    if (centIdsLong != null) null
    else centLabels.map(l => org.apache.spark.unsafe.types.UTF8String
      .fromString(l.asInstanceOf[String])).toArray

  /** idLess(a, b): does centroid a's label order before b's in the heap's
    * ascending-id tie-break? */
  private def idLess(a: Int, b: Int): Boolean =
    if (centIdsLong != null) centIdsLong(a) < centIdsLong(b)
    else centIdsUtf8(a).compareTo(centIdsUtf8(b)) < 0

  /** Collect, dedup (first occurrence wins, mirroring assignClusters'
    * `first`) and assign `queries` — a (vec_id, embedding) projection —
    * to their min(nprobe, cells) nearest cells. `rowBudget` caps the
    * output (query, probed-cell) rows with a loud refusal naming
    * `alternative`. Returns the local assigned frame (vec_id, embedding,
    * cluster) — schema-compatible with assignClusters' output — plus the
    * distinct probed-cell values for IN pushdown. */
  def assign(queries: DataFrame, nprobe: Int, rowBudget: Int,
             alternative: String): (DataFrame, IndexedSeq[Any]) = {
    require(nprobe >= 1, s"nprobe=$nprobe must be >= 1")
    require(queries.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }, "prepared search: queries.embedding must be array<float> " +
      s"(got ${queries.schema("embedding").dataType.simpleString})")
    val qIn = queries.select(col("vec_id"), col("embedding"))
    val np = math.min(nprobe, cells)
    val cap = rowBudget / np
    // the cap applies to DEDUPED queries — the budget the direct path
    // prices after assignClusters' groupBy — so a duplicate-heavy batch
    // the direct path serves must not be refused here. The common path
    // stays job-free: collect raw, dedup driver-side; only a raw batch
    // past the cap pays one distributed dedup before the final verdict.
    val qRows0 = qIn.limit(cap + 1).collect()
    val qRows =
      if (qRows0.length <= cap) qRows0
      else qIn.dropDuplicates(Seq("vec_id")).limit(cap + 1).collect()
    require(qRows.length <= cap,
      s"prepared search: more than $cap distinct queries at nprobe=$np " +
        s"(> $rowBudget (query, probed-cell) rows) — batch the queries " +
        s"or use $alternative")
    val seen = new java.util.LinkedHashMap[Any, org.apache.spark.sql.Row]()
    qRows.foreach(r => seen.putIfAbsent(r.get(0), r))
    val uq = seen.values().toArray(new Array[org.apache.spark.sql.Row](0))
    val kCent = cells
    val assigned = new Array[Array[Int]](uq.length)
    java.util.stream.IntStream.range(0, uq.length).parallel().forEach { qi =>
      val row = uq(qi)
      val emb: Array[Float] =
        if (row.isNullAt(1)) null
        else {
          val s = row.getSeq[Any](1)
          val a = new Array[Float](s.length)
          var i = 0
          s.foreach { v =>
            a(i) = if (v == null) 0f else v.asInstanceOf[Float]; i += 1
          }
          a
        }
      val scores = new Array[Double](kCent)
      var c = 0
      while (c < kCent) {
        scores(c) =
          if (emb == null) Double.NegativeInfinity
          else {
            val cv = centVecs(c)
            val n = emb.length
            var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
            while (i < n) {
              val x = emb(i).toDouble
              val y = cv(i)
              dot += x * y; na += x * x; nb += y * y
              i += 1
            }
            dot / (math.sqrt(na) * math.sqrt(nb))
          }
        c += 1
      }
      // bounded top-np SELECTION, not a full sort (the same posture as
      // every ranker in this engine): one linear pass keeping the np
      // best indices in order — O(cells·np) primitive comparisons, no
      // boxing; the prior full comparator sort of all cells per query
      // was the handle's own scaladoc cost claim violated
      def before(a: Int, b: Int): Boolean = {
        val cN = java.lang.Double.compare(scores(b), scores(a))
        if (cN != 0) cN < 0 else idLess(a, b)
      }
      val best = new Array[Int](np)
      var size = 0
      var cc = 0
      while (cc < kCent) {
        if (size < np || before(cc, best(size - 1))) {
          var pos = if (size < np) size else np - 1
          while (pos > 0 && before(cc, best(pos - 1))) {
            best(pos) = best(pos - 1); pos -= 1
          }
          best(pos) = cc
          if (size < np) size += 1
        }
        cc += 1
      }
      assigned(qi) = best
    }
    val qaSchema = org.apache.spark.sql.types.StructType(
      qIn.schema.fields :+
        org.apache.spark.sql.types.StructField("cluster", rlabelType))
    val qaRows = new java.util.ArrayList[org.apache.spark.sql.Row](
      uq.length * np)
    var qi = 0
    while (qi < uq.length) {
      val row = uq(qi)
      assigned(qi).foreach { c =>
        qaRows.add(org.apache.spark.sql.Row(row.get(0), row.get(1),
          centLabels(c)))
      }
      qi += 1
    }
    val qaLocal = spark.createDataFrame(qaRows, qaSchema)
    val probed = qaRows.toArray(new Array[org.apache.spark.sql.Row](0))
      .map(_.get(2)).distinct.toIndexedSeq
    (qaLocal, probed)
  }
}

/** The reusable search handle [[AnnIndex.prepare]] returns: model
  * materialized once (driver-held centroids, codebook resolved to the
  * fused kernels' arrays), codes scan resolved once, per-call cost =
  * driver-side query assignment + one scan → reconstruct → score →
  * partial top-k stage and the final top-k. See [[AnnIndex.prepare]]
  * for the snapshot and equality contracts. THREAD-SAFE for concurrent
  * searches (the serving shape): all per-call state — assignment
  * arrays, keep-set, derived keep table, plan — is call-local; the
  * shared pieces (centroids, codebook, resolved relation, decoded
  * bounds) are read-only after prepare. Spec-pinned by the concurrent
  * spec. */
final class PreparedAnnSearch private[ops] (
    spark: SparkSession,
    assignLocal: DriverAssign,
    kernelBook: (Array[Long], Array[Array[Double]]),
    dsub: Int,
    codesRel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
    codesTable: graft.io.VersionedReadTable,
    keepFor: Seq[Any] => Set[(String, String)],
    // each snapshot file's byte length, resolved at prepare (the
    // driver-local serve dial's kept-volume eligibility gate)
    fileBytes: Map[(String, String), Long]) {

  /** [[AnnIndex.search]] against the prepared pair: byte-identical rows,
    * no model read, no assignment job, no fallback shape — a query batch
    * past the 10k (query, probed-cell)-row cap refuses loudly (use
    * [[AnnIndex.search]], whose distributed fallback handles jumbo sets).
    * Duplicate query ids collapse to their first-collected embedding,
    * mirroring assignClusters' `first` — unique qids are the contract.
    *
    * File pruning rides a RUNTIME keep-set, not an IN literal: the
    * probed cells resolve to surviving files driver-side (bounds decoded
    * once at prepare) and bake into a derived scan of the SAME resolved
    * snapshot, so per-call plans differ only in leaf data — whole-stage
    * codegen compiles once and is cache-hit on every later call, where
    * the literal form re-planned AND re-compiled per probed set. The
    * assigned query batch rides the same way: by reference inside one
    * expression ([[graft.functions.CellQueries]]), which prints and
    * compiles the same for every batch. Row exactness is untouched: its
    * cell filter keeps exactly the probed cells' rows, so kept files
    * holding other cells contribute nothing (result-invisible — the
    * handle-equals-direct spec pins it).
    *
    * The trade vs the literal form, stated: a pushed IN also let parquet
    * skip ROW GROUPS inside a multi-cell file, which the keep-set (file
    * granularity) cannot — so on an ERODED layout, where accreted
    * maintenance files span every cell and file pruning keeps them for
    * any probe, the handle reads those files whole and discards at the
    * cell filter. That regime is exactly what the layout loop exists to bound:
    * [[AnnIndex.needsRecell]]/the monitor sink detect it, [[AnnIndex.recell]]/
    * [[AnnIndex.recellSmall]] repair it (repaired tails are cell-RANGED, so
    * they prune at file granularity again), and under the recelled
    * one-file-per-cell contract file skipping IS row skipping. A
    * heavily-eroded table served without repair wants the direct
    * [[AnnIndex.search]], which re-plans per call and keeps the
    * row-group literal.
    *
    * `localBytesCap` — the driver-local serve dial: 0 (default) off;
    * a positive cap admits the one-job local path when the probe's
    * kept files total at most that many bytes (see [[localServe]]);
    * [[PreparedAnnSearch.LocalBytesAuto]] (-1) prices the cap from the
    * snapshot listing this handle resolved at prepare — the ideal
    * single-cell-probe bytes total/nlist with a safety multiple,
    * clamped to the dial's MEASURED win region and deliberately
    * independent of nprobe (see [[PreparedAnnSearch.autoCapBytes]]) —
    * so the serving path needs no hand-tuned constant and a re-prepare
    * after recell re-sizes it; wide probes decline because their kept
    * volume exceeds the single-probe-sized cap.
    * Other negatives refuse loudly (ambiguous). LAZINESS CAVEAT: when
    * the dial is ELIGIBLE the search materializes EAGERLY — the collect
    * job and the driver-side scoring run inside this call and a
    * LocalRelation-backed frame returns — whereas the distributed path
    * returns a lazy plan; a serving caller that constructs frames now
    * and executes later pays the local path's cost HERE, at call
    * time. */
  def search(queries: DataFrame, k: Int, nprobe: Int = 1,
             localBytesCap: Long = 0L): DataFrame = {
    require(localBytesCap >= 0L ||
      localBytesCap == PreparedAnnSearch.LocalBytesAuto,
      s"localBytesCap=$localBytesCap: 0 disables the driver-local dial, " +
        "a positive cap bounds the one-job collect in bytes, and " +
        s"${PreparedAnnSearch.LocalBytesAuto} (LocalBytesAuto) prices the " +
        "cap from the snapshot listing resolved at prepare — any other " +
        "negative is ambiguous, refused")
    val (qaLocal, probed) = assignLocal.assign(queries, nprobe,
      rowBudget = 10000, alternative =
        "AnnIndex.search, whose distributed fallback handles jumbo sets")
    val cap =
      if (localBytesCap == PreparedAnnSearch.LocalBytesAuto)
        autoLocalBytesCap
      else localBytesCap
    val keep = keepFor(probed)
    val local =
      if (cap > 0L && keptBytes(keep).exists(_ <= cap))
        localServe(qaLocal, keep, k)
      else None
    local.getOrElse {
      val pruned = org.apache.spark.sql.graftx.Bridge.ofRows(spark,
        codesRel.copy(table = codesTable.withKeep(keep)))
      Similarity.ivfPqTopKIndexed(pruned, qaLocal, kernelBook, dsub, k)
    }
  }

  /** The byte cap [[PreparedAnnSearch.LocalBytesAuto]] resolves to on
    * THIS handle — priced from the snapshot listing resolved at prepare
    * (total bytes, cell count), so a re-prepare after recell re-sizes
    * it with the repaired layout; probe-width-independent (the dial's
    * crossover is absolute — see [[PreparedAnnSearch.autoCapBytes]]).
    * Exposed so a serving deployment can SEE the cap the auto dial
    * would apply before opting in. */
  def autoLocalBytesCap: Long =
    PreparedAnnSearch.autoCapBytes(totalSnapshotBytes, assignLocal.cells,
      autoBand._1, autoBand._2)

  // the auto dial's prepare-time pricing inputs: the snapshot's total
  // live bytes (every manifest-live file is in the listing, so this is
  // exact — an empty table prices 0 and the floor keeps it eligible)
  // and the clamp band resolved from the session's conf AT PREPARE
  // (measured defaults unless a deployment overrode them — a live conf
  // change applies from the next prepare, like every snapshot input)
  private val totalSnapshotBytes: Long = fileBytes.valuesIterator.sum
  private val autoBand: (Long, Long) = PreparedAnnSearch.autoBandFor(spark)

  /** Kept volume of a probe's keep-set, from the snapshot listing
    * resolved at prepare. None — which disqualifies the local dial —
    * when any kept file is missing from the listing (cannot happen for
    * a manifest-live file; defensive): an unpriced file must never
    * under-count its way under the cap. */
  /** The kept bytes a query batch's probe would resolve to — the exact
    * number the dial's eligibility compares against the cap, exposed so
    * a serving deployment (and the bench) can SEE which side of the cap
    * a probe lands on instead of inferring it from timings. Runs the
    * driver-side assignment (no job). */
  def probedKeptBytes(queries: DataFrame, nprobe: Int = 1): Option[Long] = {
    val (_, probed) = assignLocal.assign(queries, nprobe,
      rowBudget = 10000, alternative =
        "AnnIndex.search, whose distributed fallback handles jumbo sets")
    keptBytes(keepFor(probed))
  }

  private def keptBytes(keep: Set[(String, String)]): Option[Long] =
    keep.foldLeft(Option(0L)) { (acc, k) =>
      for { a <- acc; b <- fileBytes.get(k) } yield a + b
    }

  /** The DRIVER-LOCAL serve path behind the `localBytesCap` dial — the
    * r16 verdict's "missing #4" posture decision, taken as the measured
    * path rather than a waiver. Rationale: at the narrow-serving floor
    * the distributed search's cost is local-mode SCHEDULING, not work —
    * even as two jobs (the scoring stage and the final top-k behind its
    * exchange), warm searches at 5k vectors, 16 queries, local[4]
    * measured 338 ms distributed against 223 ms under the auto dial at
    * nprobe 4, and 239 against 149 ms at nprobe 1; when the kept volume
    * is tiny the candidates fit on
    * the driver, where the centroids and codebook already live. This
    * path runs ONE job — collecting the kept files' code rows through
    * the SAME literal-free keep-set scan the distributed path plans
    * (same pruning, same DV refusals, stable cached codegen) — then
    * reconstructs, scores and ranks driver-side, row-identical to the
    * distributed form (dial-equality spec-pinned at every probe width):
    * reconstruction and scoring call the SAME `Kernels.pqReconstructK`
    * and `Kernels.cosineFD` the distributed plan codegens (over
    * driver-wrapped arrays — shared kernels, not replicas), ranking
    * replicates `topKRowsSorted`'s (cos_pq DESC, nid ASC) total order via Double.compare (NaN above all) with UTF8
    * binary order on string ids, candidate membership replicates the
    * probed-cluster semi join with its numeric widening
    * ([[PreparedAnnSearch.normId]]), and null ids drop exactly like
    * the SQL `=!=`/equi-join null semantics (a null-qid query yields
    * zero rows; null-nid/cluster candidates drop). Bounds: eligibility
    * is gated on kept BYTES ≤ the dial (the collect reads at most
    * that), and the query side is already capped by the handle's 10k
    * row budget. DECLINES — returns None, falling back to the
    * distributed join — rather than diverge or crash on: a batch with
    * a NULL query embedding (those ride the distributed kernel's null
    * semantics, not a replica of them), a candidate whose
    * reconstruction is not full-dim (unknown code — a codes table not
    * encoded with THIS book) or that repeats a (nid, cluster) row, a
    * query vector longer
    * than the book's dimension, non-integral non-string id types, and
    * id/cluster comparisons across KINDS (string vs numeric — Spark's
    * coercion there is not replicated). Declines that depend only on
    * schema or the query batch are checked BEFORE the collect job. */
  private def localServe(qaLocal: DataFrame, keep: Set[(String, String)],
                         k: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.ops.PreparedAnnSearch.normId
    val qa = qaLocal.collect() // LocalRelation: driver-side, no job
    if (qa.exists(_.isNullAt(1))) return None
    val fullDim = kernelBook._2.map(_.length).distinct match {
      case Array(one) => one
      case _ => return None // mixed-width book rows: malformed model
    }
    val prunedAll = org.apache.spark.sql.graftx.Bridge.ofRows(spark,
      codesRel.copy(table = codesTable.withKeep(keep)))
    // packed codes: one row per vector
    val prunedDf = prunedAll.select(col("vec_id"), col("cluster"), col("codes"))
    val nidType = prunedDf.schema("vec_id").dataType
    val clType = prunedDf.schema("cluster").dataType
    val qidType = qaLocal.schema("vec_id").dataType
    val qClType = qaLocal.schema("cluster").dataType
    // decline — BEFORE paying the collect job — every shape whose
    // distributed semantics this replica does not model: id/cluster
    // comparisons across KINDS (Spark's string<->numeric coercion in
    // `=!=`/equi-joins casts, sometimes to null — not replicated),
    // non-integral non-string id types (the heap's tie-break on a
    // double or binary nid is not idCmp's longValue collapse), and
    // query vectors longer than the book dimension (the distributed
    // kernel reads past xhat — undefined territory)
    def kind(t: DataType): Int = t match {
      case ByteType | ShortType | IntegerType | LongType => 0
      case StringType => 1
      case _ => -1
    }
    if (kind(nidType) < 0 || kind(qidType) < 0 ||
      kind(nidType) != kind(qidType)) return None
    // cluster types must match EXACTLY, not just in kind: a USING join
    // over mixed integral widths widens the output column type, which
    // this local schema (codes-side type) would not replicate. Equal in
    // every engine-built pair (codes clusters are written from the
    // model's own labels); decline hand-built mixes.
    if (clType != qClType || kind(clType) < 0) return None
    val fullDimOk = qa.forall(_.getSeq[Any](1).length <= fullDim)
    if (!fullDimOk) return None
    val candRows = prunedDf.collect() // the ONE job; <= localBytesCap bytes

    // ---- reconstruct per candidate with the SAME lookup kernel the
    // distributed plan codegens: candidates of the probed clusters
    // (numeric-widened keys, like the semi join's implicit cast); null
    // nid/cluster rows drop like the joins drop them
    val probedSet = qa.map(r => normId(r.get(2))).toSet
    val (labels, books) = kernelBook
    // cluster(normalized) -> [(nidOrig, nidNorm, clOrig, xhat)]
    val byCluster = new java.util.HashMap[Any,
      scala.collection.mutable.ArrayBuffer[
        (Any, Any, Any, org.apache.spark.sql.catalyst.util.ArrayData)]]()
    val seen = new java.util.HashSet[(Any, Any)]()
    var ci = 0
    while (ci < candRows.length) {
      val r = candRows(ci)
      if (!r.isNullAt(0) && !r.isNullAt(1) && probedSet.contains(normId(r.get(1)))) {
        val key = (normId(r.get(0)), normId(r.get(1)))
        // a repeated (nid, cluster) row, a null codes array or element,
        // or a code that is not a long — shapes this path does not
        // model — decline into the distributed path
        if (!seen.add(key) || r.isNullAt(2)) return None
        val cs = r.getSeq[Any](2)
        val codes = new Array[Any](cs.length)
        var si = 0
        while (si < codes.length) {
          codes(si) = cs(si) match {
            case n: Number => n.longValue()
            case t: String if t.toLongOption.isDefined => t.toLong
            case _ => return None
          }
          si += 1
        }
        val xhat = graft.functions.Kernels.pqReconstructK(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(codes),
          books, labels, dsub)
        // a short or missing reconstruction means the codes were not
        // encoded with THIS book — undefined territory; decline instead
        if (xhat == null || xhat.numElements() != fullDim) return None
        var lst = byCluster.get(key._2)
        if (lst == null) {
          lst = scala.collection.mutable.ArrayBuffer
            .empty[(Any, Any, Any, org.apache.spark.sql.catalyst.util.ArrayData)]
          byCluster.put(key._2, lst)
        }
        lst += ((r.get(0), key._1, r.get(1), xhat))
      }
      ci += 1
    }

    // ---- score and rank per query: the SAME kernel the distributed
    // plan codegens, the same total order as topKRowsSorted
    def idCmp(a: Any, b: Any): Int = nidType match {
      case StringType => UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(UTF8String.fromString(b.asInstanceOf[String]))
      case _ => java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
        b.asInstanceOf[Number].longValue())
    }
    // qaLocal rows are (vec_id, embedding, cluster) per probe; group a
    // query's probes (dedup already happened in assign); null-qid
    // queries yield zero rows, exactly like the qid =!= nid null filter
    val qProbes = new java.util.LinkedHashMap[Any,
      (Any, org.apache.spark.sql.catalyst.util.ArrayData,
       scala.collection.mutable.ArrayBuffer[Any])]()
    qa.foreach { r =>
      if (!r.isNullAt(0)) {
        val qidN = normId(r.get(0))
        var e = qProbes.get(qidN)
        if (e == null) {
          val s = r.getSeq[Any](1)
          val emb = new Array[Float](s.length)
          var i = 0
          s.foreach { v =>
            emb(i) = if (v == null) 0f else v.asInstanceOf[Float]; i += 1
          }
          e = (r.get(0),
            new org.apache.spark.sql.catalyst.util.GenericArrayData(emb),
            scala.collection.mutable.ArrayBuffer.empty[Any])
          qProbes.put(qidN, e)
        }
        e._3 += normId(r.get(2))
      }
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    val qIt = qProbes.entrySet().iterator()
    while (qIt.hasNext) {
      val qe = qIt.next()
      val qidN = qe.getKey
      val (qidOrig, qArr, clusters) = qe.getValue
      val scored = scala.collection.mutable.ArrayBuffer
        .empty[(Any, Any, Any, Double)] // (nidOrig, nidNorm, clOrig, cos)
      clusters.foreach { cl =>
        val lst = byCluster.get(cl)
        if (lst != null) lst.foreach { case (nidOrig, nidN, clOrig, xArr) =>
          if (qidN != nidN)
            scored += ((nidOrig, nidN, clOrig,
              graft.functions.Kernels.cosineFD(qArr, xArr)))
        }
      }
      val ranked = scored.sortWith { (a, b) =>
        val c = java.lang.Double.compare(b._4, a._4)
        if (c != 0) c < 0 else idCmp(a._1, b._1) < 0
      }.take(k)
      var rk = 1
      ranked.foreach { case (nidOrig, _, clOrig, cos) =>
        out.add(org.apache.spark.sql.Row(qidOrig, nidOrig, clOrig, cos, rk))
        rk += 1
      }
    }
    val schema = StructType(Seq(
      StructField("qid", qidType), StructField("nid", nidType),
      StructField("cluster", clType),
      StructField("cos_pq", DoubleType),
      StructField("rank", IntegerType, nullable = false)))
    Some(spark.createDataFrame(out, schema))
  }
}

object PreparedAnnSearch {
  /** Sentinel for `localBytesCap`: AUTO — price the dial's cap from the
    * snapshot listing the handle resolved at prepare instead of a
    * hand-tuned constant. SQL twin: `ann_search_prepared(...,
    * local_bytes_cap => -1)`. See [[autoCapBytes]] for the formula. */
  val LocalBytesAuto: Long = -1L

  // the AUTO formula's dials, all from measurement (BENCH_ANN_SEARCH
  // r17/r18, 10⁶-vector fixture): the safety multiple absorbs the
  // recelled layout's benign file merges (the range partitioner may
  // pack adjacent cells into one file — pairwise merges double a
  // probe's kept bytes, never more without re-firing the layout
  // trigger); the floor keeps small layouts eligible down to
  // sub-half-MB collects, which win regardless of layout shape
  // (measured: 0.17–0.35 MB collects at 0.2–0.3 s vs 0.4–0.7 s
  // distributed); the ceiling is the measured CROSSOVER — a ~3 MB
  // collect (2M code rows to one driver) already LOSES 2.2× to the
  // distributed join (r18 probe: 1.38 s vs 0.62 s at kept=2.94 MB),
  // while everything ≤ the r17 "right-sized 2 MB" recommendation wins.
  // Deliberately NO nprobe term: the crossover is ABSOLUTE driver-side
  // work (collect row materialization), not probe-relative — the first
  // cut scaled the cap with nprobe and admitted exactly the mid-width
  // probes the dial loses (measured before being fixed); wide probes
  // decline naturally because their kept bytes exceed the
  // single-probe-sized cap.
  private[ops] val AutoSafety = 4L
  private[ops] val AutoFloorBytes: Long = 512L * 1024
  private[ops] val AutoCeilBytes: Long = 2L * 1024 * 1024

  // the band is a HARDWARE crossover (collect+score throughput vs
  // distributed scheduling overhead), measured on the bench box — a
  // deployment on different hardware re-measures ONCE (BenchAnnSearch /
  // BenchAnnAutoProbe print both sides of the trade) and sets it
  // session-wide; still zero per-table tuning
  val AutoFloorKey = "spark.graft.ann.autoFloorBytes"
  val AutoCeilKey = "spark.graft.ann.autoCeilBytes"

  /** The [floor, ceil] clamp band [[autoCapBytes]] uses for `spark` —
    * the measured defaults unless overridden via [[AutoFloorKey]]/
    * [[AutoCeilKey]]; malformed or inverted overrides refuse loudly
    * naming the key (a typo must not silently re-size the serving
    * path). Read at PREPARE (the handle resolves everything at prepare;
    * a live conf change applies from the next prepare, like every other
    * snapshot input). */
  private[ops] def autoBandFor(spark: org.apache.spark.sql.SparkSession)
      : (Long, Long) = {
    def read(key: String, dflt: Long): Long =
      spark.conf.getOption(key).map { s =>
        try java.lang.Long.parseLong(s.trim)
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key='$s' is not a long byte count")
        }
      }.getOrElse(dflt)
    val floor = read(AutoFloorKey, AutoFloorBytes)
    val ceil = read(AutoCeilKey, AutoCeilBytes)
    require(floor > 0L && ceil >= floor,
      s"auto serve-dial band must satisfy 0 < floor <= ceil; got " +
        s"$AutoFloorKey=$floor, $AutoCeilKey=$ceil")
    (floor, ceil)
  }

  /** The cap [[LocalBytesAuto]] resolves to: the ideal SINGLE-CELL-probe
    * kept volume of the one-file-per-cell layout — ceil(totalBytes /
    * cells) — times [[AutoSafety]], clamped to [[[AutoFloorBytes]],
    * [[AutoCeilBytes]]] (the measured win region; see the dial notes
    * above for why the cap is probe-width-INDEPENDENT). Double-domain
    * arithmetic (wrap-proof at any snapshot size; the result is ≤ the
    * ceiling anyway). On a healthy layout a narrow probe's kept bytes
    * sit near the ideal and qualify; an eroded layout's blown kept
    * volume (accreted all-cells files) and any mid/wide probe's
    * multi-cell volume exceed the cap and the dial DECLINES into the
    * distributed join — the layout loop's erode → decline → recell →
    * re-qualify composition, with no magic number in the serving
    * path. */
  def autoCapBytes(totalBytes: Long, cells: Int): Long =
    autoCapBytes(totalBytes, cells, AutoFloorBytes, AutoCeilBytes)

  /** [[autoCapBytes]] with an explicit clamp band — what a prepared
    * handle calls with the band [[autoBandFor]] resolved from its
    * session at prepare (the measured defaults unless a deployment that
    * re-measured its own crossover overrode [[AutoFloorKey]]/
    * [[AutoCeilKey]]). */
  def autoCapBytes(totalBytes: Long, cells: Int, floorBytes: Long,
                   ceilBytes: Long): Long = {
    require(cells > 0, s"autoCapBytes: cells=$cells must be positive")
    require(totalBytes >= 0L,
      s"autoCapBytes: totalBytes=$totalBytes must be non-negative")
    require(floorBytes > 0L && ceilBytes >= floorBytes,
      s"autoCapBytes: band must satisfy 0 < floor <= ceil; got " +
        s"floor=$floorBytes, ceil=$ceilBytes")
    val raw = AutoSafety.toDouble * math.ceil(totalBytes.toDouble / cells)
    math.max(floorBytes.toDouble, math.min(ceilBytes.toDouble, raw)).toLong
  }

  /** Normalize an id/label for the local dial's driver-side map keys:
    * integral types widen to Long (mirroring the distributed
    * codes→book join's implicit numeric cast, so an int `code` column
    * still hits a long-labeled book); everything else rides as-is. */
  private[ops] def normId(v: Any): Any = v match {
    case n: java.lang.Byte => java.lang.Long.valueOf(n.longValue())
    case n: java.lang.Short => java.lang.Long.valueOf(n.longValue())
    case n: java.lang.Integer => java.lang.Long.valueOf(n.longValue())
    case other => other
  }
}

/** Session-scoped registry behind the SQL prepared-search surface
  * (`CALL graft.system.ann_prepare` / `ann_search_prepared`): a
  * [[PreparedAnnSearch]] cannot ride through a CALL's result rows, so
  * the prepare CALL caches it here keyed by (session UUID, model root,
  * codes root) together with the VERSION PAIR it serves, and the search
  * CALL consumes it — refusing when the pair has advanced (the handle
  * serves the snapshot current at prepare; version-pinned staleness is
  * the SQL twin of the Scala handle's re-prepare contract).
  *
  * Lifetime is EXPLICIT, not GC-driven: a handle transitively pins its
  * SparkSession (the resolved scan's delegate holds it — session state,
  * caches and listeners included, so the REAL retained set per stale
  * entry is the whole session, not just the frames), and weak-key maps
  * cannot reclaim entries whose value strongly references its own key —
  * the documented WeakHashMap trap. Entries therefore live until
  * (a) re-prepared for the same pair (the replace drops the old handle),
  * (b) `CALL graft.system.ann_prepare_release` / [[release]] drops them,
  * (c) [[releaseSession]] sweeps a session being retired, or (d) the
  * JVM-wide LRU cap (256) evicts the least-recently-USED entry — the
  * backstop that bounds a create-session-per-tenant service that never
  * releases: an evicted pair's next search refuses with the re-prepare
  * remedy (loud, cheap), instead of the registry pinning dead sessions
  * forever — and because eviction is by recency, the handles being
  * actively served are the LAST to go, while idle handles from dead
  * sessions go first. [[listFor]] / `CALL
  * graft.system.ann_prepared_list` show a session its own cache. Per-entry frames: centroids (≤ 65536 rows by prepare's own
  * cap, typically the cell count) + the local codebook. */
private[graft] object AnnPreparedRegistry {
  private def uuidOf(spark: SparkSession): String =
    org.apache.spark.sql.graftx.Bridge.sessionUUID(spark)

  private val MaxEntries = 256

  // ACCESS-ordered (true LRU) so the cap evicts the least-recently-USED
  // handle, not the first-ever-prepared one: under insertion order the
  // hottest handle in a session-per-tenant service could be evicted
  // while 255 idle ones survived (r16 verdict "missing" #3). get() and
  // put() both refresh recency; iteration (listFor) does NOT — the
  // observability CALL must not perturb what it observes. All access
  // synchronized (handles are prepared rarely — contention-free).
  private val entries = new java.util.LinkedHashMap[(String, String, String),
      (PreparedAnnSearch, Long, Long)](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, String, String),
                               (PreparedAnnSearch, Long, Long)]): Boolean =
      size() > MaxEntries
  }

  def put(spark: SparkSession, modelRoot: String, codesRoot: String,
          handle: PreparedAnnSearch, modelV: Long, codesV: Long): Unit =
    entries.synchronized {
      entries.put((uuidOf(spark), modelRoot, codesRoot),
        (handle, modelV, codesV))
      ()
    }

  def get(spark: SparkSession, modelRoot: String, codesRoot: String)
      : Option[(PreparedAnnSearch, Long, Long)] =
    entries.synchronized {
      Option(entries.get((uuidOf(spark), modelRoot, codesRoot)))
    }

  /** Drop this session's handle for the pair; true when one existed.
    * Never requires the TABLES to still exist — removal is always safe,
    * and a dropped table's handle must stay releasable. */
  def release(spark: SparkSession, modelRoot: String,
              codesRoot: String): Boolean =
    entries.synchronized {
      entries.remove((uuidOf(spark), modelRoot, codesRoot)) != null
    }

  /** Drop EVERY handle this session prepared — the sweep to call when
    * retiring a session in a session-per-tenant service. Returns how
    * many were dropped. */
  def releaseSession(spark: SparkSession): Int = entries.synchronized {
    val uuid = uuidOf(spark)
    val it = entries.keySet().iterator()
    var n = 0
    while (it.hasNext) {
      if (it.next()._1 == uuid) { it.remove(); n += 1 }
    }
    n
  }

  /** THIS SESSION's prepared handles: (modelRoot, codesRoot, modelV,
    * codesV), sorted by pair for a deterministic listing — the
    * observability half of the explicit lifecycle (a session-per-tenant
    * service can see its cache before deciding what to release).
    * Iterates WITHOUT touching recency: a LinkedHashMap's entrySet walk
    * is not an access, so listing never changes who the LRU cap evicts
    * next. */
  def listFor(spark: SparkSession): Seq[(String, String, Long, Long)] =
    entries.synchronized {
      val uuid = uuidOf(spark)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Long, Long)]
      entries.forEach { (k, v) =>
        if (k._1 == uuid) out += ((k._2, k._3, v._2, v._3))
      }
      out.sortBy(e => (e._1, e._2)).toSeq
    }
}

/** The reusable binary-search handle [[AnnIndex.prepareBinary]] returns:
  * fingerprint-index and corpus scans resolved once, width checked once,
  * centroids (celled form) driver-held. Per-call cost: the Hamming
  * shortlist over the (cell-pruned) index plus the bloom-pruned re-rank
  * fetch. Same contracts as the direct forms it mirrors: unique qids,
  * shortlist collect capped at 100k. */
final class PreparedBinarySearch private[ops] (
    spark: SparkSession,
    fp: DataFrame,
    corpus: DataFrame,
    dim: Int,
    assignLocal: Option[DriverAssign],
    fpKeep: Option[(org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
                    graft.io.VersionedReadTable,
                    Seq[Any] => Set[(String, String)])]) {

  /** Exhaustive Hamming shortlist + pruned re-rank fetch — byte-identical
    * to `AnnIndex.binarySearch(spark, queries, fpRoot, corpusRoot, dim,
    * k, shortlist)` over the same snapshots. Queries carry (qid, qvec). */
  def search(queries: DataFrame, k: Int, shortlist: Int): DataFrame =
    AnnIndex.prunedRerankOn(spark,
      Similarity.binaryShortlist(
        fp.select(col("vec_id").as("nid"), col("fp")), queries, dim, shortlist),
      queries.select(col("qid"), col("qvec")), corpus, k)

  /** Cell-pruned Hamming stage + pruned re-rank fetch — byte-identical to
    * the direct celled `binarySearch(…, corpusRoot, …, cent/modelRoot,
    * nprobe)`. Requires a handle prepared WITH a modelRoot (refused
    * loudly otherwise — the flat handle has no cells to probe). */
  def search(queries: DataFrame, k: Int, shortlist: Int,
             nprobe: Int): DataFrame = {
    val da = assignLocal.getOrElse(throw new IllegalArgumentException(
      "prepared binarySearch(nprobe): this handle was prepared without a " +
        "modelRoot — cell pruning needs the model's centroids; use " +
        "AnnIndex.prepareBinary(spark, fpRoot, corpusRoot, dim, modelRoot)"))
    val (qaLocal, probed) = da.assign(
      queries.select(col("qid").as("vec_id"), col("qvec").as("embedding")),
      nprobe, rowBudget = 100000,
      alternative = "the direct AnnIndex.binarySearch")
    // file pruning via the runtime keep-set (bounds decoded at prepare),
    // not a per-call IN literal — row exactness comes from
    // binaryShortlistPruned's cluster equi-join, as the PQ handle's
    // cell filter carries it
    val (rel, table, keepFor) = fpKeep.getOrElse(throw new IllegalStateException(
      "prepared binarySearch(nprobe): celled handle missing its keep probe"))
    val prunedFp = org.apache.spark.sql.graftx.Bridge.ofRows(spark,
      rel.copy(table = table.withKeep(keepFor(probed))))
    val short = Similarity.binaryShortlistPruned(
      prunedFp.select(col("vec_id").as("nid"), col("cluster"), col("fp")),
      qaLocal, dim, shortlist)
    AnnIndex.prunedRerankOn(spark, short,
      qaLocal.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .dropDuplicates(Seq("qid")),
      corpus, k)
  }
}

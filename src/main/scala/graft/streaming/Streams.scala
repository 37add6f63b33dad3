package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.9). The reference's
  * incrementality is hand-rolled batch (done-logs, week-window catch-up,
  * archive-on-consume); its idiomatic Spark restatement is a file-source
  * stream with watermarked windows and stateful sessionization.
  *
  * The batch twins of these transforms live in
  * `graft.queries.EventQueries` and are DuckDB-oracle-checked; the
  * streaming versions reuse the same expressions, so correctness carries
  * over and the unit tests only need to prove the streaming plumbing
  * (watermarks, state, output modes).
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * horizon x key cardinality; sessionization state is one small case
  * class per active (user) key, dropped on timeout — both shuffle once
  * on their grouping key, exactly like their batch twins.
  */
object Streams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source ingest of event JSON/CSV drops — the streaming analog of
    * the reference's glob-scan + done-log + archive loop
    * (sap_scripts/sap_utils.py:20-31, pipelines/etl_zmb51.py:107-115):
    * the source tracks processed files (exactly-once) and archives them. */
  def readEventFileStream(spark: SparkSession, dir: String,
                          archiveDir: String = ""): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", 32)
      .option("cleanSource", "archive")
      // must be a sibling, not inside the source glob
      .option("sourceArchiveDir", if (archiveDir.nonEmpty) archiveDir else s"${dir}_archive")
      .json(dir)

  /** Streaming drop-folder ingest of same-schema xlsx workbooks — the
    * reference's daily dimension-upload folder (S2 × §2.9:
    * pipelines/etl_upload_excel.py's per-workbook loop) as a Structured
    * Streaming flow: Spark's binaryFile file-stream source tracks
    * processed workbooks exactly-once in its own source log, archives
    * consumed inputs (the S10 processed/ move), and each workbook parses
    * on an executor (one file per task — the xlsx unit of work, same as
    * [[graft.io.XlsxReader.readDir]]).
    *
    * The header must be DECLARED by the caller: a streaming source needs
    * its schema before any file exists, so there is no first-file
    * inference here. Every arriving workbook's header row is validated
    * against the declaration and a mismatch fails loudly naming the file
    * — silently mis-mapping columns on a changed upload template is the
    * failure mode the reference's fixed dtype maps exist to prevent. */
  def xlsxStream(spark: SparkSession, dir: String, header: Seq[String],
                 glob: String = "*.xlsx", sheet: Option[String] = None,
                 archiveDir: String = "",
                 maxFilesPerTrigger: Int = 32): DataFrame = {
    import spark.implicits._
    require(header.nonEmpty, "declared header must be nonempty")
    val schema = StructType(header.map(h => StructField(h, StringType)))
    val n = header.size
    val expect = header.toVector
    val sheetName = sheet // serializable capture
    // binaryFile's schema is fixed but the STREAMING source still
    // requires it declared (no first-file inference on an empty folder)
    val binarySchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val files = spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("cleanSource", "archive")
      // must be a sibling, not inside the source glob
      .option("sourceArchiveDir", if (archiveDir.nonEmpty) archiveDir else s"${dir}_archive")
      .load(dir).select("path", "content")
    val parsed = files.as[(String, Array[Byte])].flatMap { case (path, bytes) =>
      val rows = graft.io.XlsxReader.parseSheet(bytes, sheetName)
      val fileHeader = rows.headOption.getOrElse(
        throw new IllegalArgumentException(s"$path: sheet has no rows"))
      if (fileHeader != expect)
        throw new IllegalArgumentException(
          s"$path: header ${fileHeader.mkString("|")} does not match the " +
            s"declared schema ${expect.mkString("|")}")
      rows.tail.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(
          graft.io.XlsxReader.pad(r, n, s"$path row ${i + 2}"))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    parsed.toDF(header: _*)
  }

  /** Watermarked tumbling-window counts — streaming twin of
    * EventQueries.eventWindowAgg. Late data beyond the watermark is
    * dropped; state for closed windows is purged. */
  def windowedEventCounts(events: DataFrame,
                          windowLen: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))

  /** Streaming exactly-once dedup by event id within the watermark
    * horizon (replay-safe ingest, the S11 done-log analog at row
    * granularity). */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming keyed-upsert sink: every micro-batch MERGEs into the
    * parquet target via UpsertWriter — the reference's incremental
    * load loop (extract batch -> staging -> MERGE, SURVEY §3.1 step 5)
    * as a streaming pipeline. Replay-idempotent by construction, so
    * at-least-once delivery from the source still yields exactly-once
    * table state. */
  def upsertSink(events: DataFrame, targetPath: String, keys: Seq[String],
                 checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.io.UpsertWriter.upsert(batch.sparkSession, batch.toDF(), targetPath, keys)
      }
      .start()

  /** Replay tags must be scoped to the CHECKPOINT, not just the batch id:
    * batch ids restart at 0 for a fresh checkpoint, so a bare `batch-0`
    * tag would make the first batch of a re-checkpointed (or second
    * concurrent) query into the same root look like a replay and silently
    * drop it. The md5 prefix of the checkpoint path is the stable
    * discriminator — identical across restarts FROM that checkpoint
    * (where skipping really is correct), distinct across checkpoints. */
  private[graft] def batchTag(checkpointDir: String, kind: String, id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    s"$kind-$d-batch-$id"
  }

  /** Whether batch `id` from this checkpoint already committed into `root`.
    * Checking only the NEWEST commit's tag has a false-negative hole: if
    * another writer (a second query into the same root, a manual commit)
    * lands between a crash and the replay, the replayed batch's tag is no
    * longer newest and the batch would commit twice. foreachBatch only
    * ever replays the LAST uncommitted batch, so the decider is the
    * newest same-checkpoint tag: scanning versions newest-to-oldest, the
    * first tag carrying this checkpoint's discriminator is a replay iff
    * its batch id EQUALS `id` (not >=: a wiped-and-recreated checkpoint at
    * the same path restarts ids at 0, and >= would silently drop all the
    * restarted batches up to the old high-water mark). The scan stops at
    * that first match, so its cost is O(interleaved foreign commits since
    * our last batch), not O(history) — the version list is read once and
    * each scanned version costs one tiny manifest read (tagOf). */
  private[graft] def alreadyCommitted(spark: org.apache.spark.sql.SparkSession, root: String,
                               checkpointDir: String, kind: String, id: Long): Boolean = {
    val prefix = batchTag(checkpointDir, kind, id).stripSuffix(id.toString)
    graft.io.Versioned.versions(spark, root).reverseIterator
      .map(v => graft.io.Versioned.tagOf(spark, root, v))
      .collectFirst { case Some(t) if t.startsWith(prefix) =>
        t.stripPrefix(prefix).toLongOption.contains(id)
      }.getOrElse(false)
  }

  /** Streaming append sink into a [[graft.io.Versioned]] table: each
    * micro-batch commits as one new snapshot version tagged with its
    * checkpoint-scoped batch id, so a batch replayed after a crash
    * (foreachBatch is at-least-once) is detected via the newest
    * same-checkpoint tag in the history — robust to other writers
    * interleaving commits into the root — and skipped: exactly-once
    * table state with NO data rewrite per
    * batch (unlike the MERGE sinks, appends only write the new files and
    * a manifest). Readers concurrently see whole snapshots, never a
    * half-written batch. */
  def versionedSink(events: DataFrame, root: String,
                    checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        if (!alreadyCommitted(spark, root, checkpointDir, "append", id)) {
          graft.io.Versioned.commit(spark, batch.toDF(), root,
            tag = Some(batchTag(checkpointDir, "append", id)))
          ()
        }
      }
      .start()

  /** Exactly-once streaming MERGE into a versioned table: each micro-batch
    * upserts by key through the copy-on-write [[graft.io.Versioned.mergeInto]]
    * — only the target files the batch's keys touch are rewritten, the rest
    * carried by reference — so a mostly-today key stream against a 100 TB
    * target costs O(touched files + batch) per trigger, not O(table). The
    * batch id becomes the commit tag: a crash-replayed batch (foreachBatch
    * only ever replays the last uncommitted one) is recognized via the
    * newest same-checkpoint tag in the history (robust to interleaved
    * foreign commits) and skipped, and readers of the target always see
    * whole post-batch snapshots. The streaming twin of the reference's
    * staging-table + MERGE load (common/loader.py:41-153). */
  def versionedMergeSink(events: DataFrame, root: String, keys: Seq[String],
                         checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!alreadyCommitted(batch.sparkSession, root, checkpointDir, "merge", id)) {
          graft.io.Versioned.mergeInto(batch.sparkSession, root, batch.toDF(), keys,
            tag = Some(batchTag(checkpointDir, "merge", id)))
          ()
        }
      }
      .start()

  /** [[versionedMergeSink]]'s MERGE-ON-READ twin
    * ([[graft.io.Versioned.mergeIntoDv]]): each micro-batch records its
    * matched target rows dead in deletion vectors and appends the whole
    * batch — NO target file is ever rewritten, so a high-frequency upsert
    * stream (the case where per-trigger copy-on-write rewrite churn is
    * worst: every trigger re-copies the same hot files) costs
    * O(batch + tiny vectors) per trigger at any target size. Same
    * checkpoint-scoped replay tags as the copy-on-write sink. Schedule
    * [[graft.io.Versioned.dvMaterialize]] (or compaction) to fold the
    * accreted vectors; the DSv2 scan and the versioned stream refuse the
    * target until then — readers use Versioned.read. */
  def versionedMergeSinkDv(events: DataFrame, root: String, keys: Seq[String],
                           checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!alreadyCommitted(batch.sparkSession, root, checkpointDir, "dvmerge", id)) {
          graft.io.Versioned.mergeIntoDv(batch.sparkSession, root, batch.toDF(), keys,
            tag = Some(batchTag(checkpointDir, "dvmerge", id)))
          ()
        }
      }
      .start()

  /** Streaming twin of the GENERAL merge clause family
    * ([[graft.io.Versioned.mergeIntoConditional]]): each micro-batch runs
    * the given clauses against the versioned target with the same
    * checkpoint-scoped replay tags as [[versionedMergeSink]]. The CDC
    * apply shape lives here — e.g. a change stream carrying an `op`
    * column upserts with `WhenMatchedDelete(Some(col("__s.op") ===
    * "D"))` + update + insert clauses, making tombstones first-class.
    * The same single-writer-per-root policy applies. */
  def versionedConditionalMergeSink(events: DataFrame, root: String,
                                    keys: Seq[String],
                                    clauses: Seq[graft.io.Versioned.MergeClause],
                                    checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!alreadyCommitted(batch.sparkSession, root, checkpointDir, "cmerge", id)) {
          graft.io.Versioned.mergeIntoConditional(batch.sparkSession, root,
            batch.toDF(), keys, clauses,
            tag = Some(batchTag(checkpointDir, "cmerge", id)))
          ()
        }
      }
      .start()

  /** Exactly-once streaming substring dedup into a versioned table PAIR —
    * the production loop the batch index forms
    * ([[graft.ops.Dedup.substringIndex]]) exist for: each micro-batch of
    * (id, text) documents is scrubbed against the INDEX table (the
    * distinct window hashes of everything published so far), its cleaned
    * text appended to the CLEAN table, and the clean text's own windows
    * appended to the index — so no w-token span any earlier batch
    * published can ever be re-published, across triggers, restarts and
    * crashes. Per trigger the corpus is never re-read: the batch joins a
    * hash index whose size is the corpus's distinct windows, not its
    * text.
    *
    * Crash protocol: the CLEAN commit lands first, then the INDEX commit,
    * each guarded by its own checkpoint-scoped replay tag. The scrub is
    * deterministic against the index SNAPSHOT read at batch start, which
    * never includes this batch's own windows on a replay (the index
    * commit is the LAST thing to land), so a replayed batch recomputes
    * byte-identical clean text — whichever of the two commits already
    * landed skips, the other completes. Single writer per root pair, as
    * for every versioned sink. A source RE-DELIVERING an old document id
    * in a new batch is scrubbed like any text — nearly all of it is cut,
    * since its published windows are indexed — but still appends a
    * (mostly-empty) row under the duplicate id; exact-dedup by id
    * upstream if your source can re-deliver.
    *
    * Maintenance (the 100 TB steady state): both tables accrete one
    * small commit per trigger forever, so their FILE counts — not their
    * row counts — are what needs a bound. [[graft.io.Versioned.compactSmall]]
    * applies to both as-is (the index is a plain one-column versioned
    * table; the clean table a plain document table): run it on each root
    * while the sink is STOPPED (single writer per root), and the next
    * deployment scrubs against the compacted snapshot unchanged —
    * compaction is a pure re-layout, the distinct `gh` set and the clean
    * rows are untouched, and replay tags live in the checkpoint, not in
    * file layout. The pair stays a unit only in the retention sense:
    * never `vacuum` the index root past a version a not-yet-restarted
    * deployment's scrub may still read. Pinned by VersionedStreamSpec's
    * compaction test. */
  def versionedSubstringDedupSink(docs: DataFrame, textCol: String,
                                  idCol: String, w: Int,
                                  cleanRoot: String, indexRoot: String,
                                  checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val index =
          if (graft.io.Versioned.versions(spark, indexRoot).isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("gh",
                  org.apache.spark.sql.types.StringType))))
          else graft.io.Versioned.read(spark, indexRoot)
        val cleaned = graft.ops.Dedup.removeDuplicateSpansAgainstIndex(
          batch.toDF(), index,
          org.apache.spark.sql.functions.col(textCol),
          org.apache.spark.sql.functions.col(idCol), w)
          // one deterministic computation feeds BOTH commits; without the
          // pin the two actions would recompute the scrub independently
          .localCheckpoint()
        if (!alreadyCommitted(spark, cleanRoot, checkpointDir, "subclean", id)) {
          graft.io.Versioned.commit(spark, cleaned, cleanRoot,
            tag = Some(batchTag(checkpointDir, "subclean", id)))
          ()
        }
        if (!alreadyCommitted(spark, indexRoot, checkpointDir, "subindex", id)) {
          // anti join: a window formed ACROSS a cut junction in the
          // rebuilt text can coincide with an already-indexed hash;
          // duplicate index rows are correctness-neutral (they just add
          // pseudo-occurrences that all rank first) but would accrete
          // forever, so only genuinely new hashes append
          graft.io.Versioned.commit(spark,
            graft.ops.Dedup.substringIndex(cleaned,
              org.apache.spark.sql.functions.col("clean_text"),
              org.apache.spark.sql.functions.col("doc_id"), w)
              .join(index, Seq("gh"), "leftanti"),
            indexRoot,
            tag = Some(batchTag(checkpointDir, "subindex", id)))
          ()
        }
      }
      .start()

  /** Exactly-once streaming ANN-index maintenance: each micro-batch of
    * (vec_id, embedding) rows is assigned to its IVF cell and PQ-encoded
    * against a FROZEN centroid/codebook pair (how production ANN indexes
    * absorb new vectors — FAISS `add` against a trained index), and the
    * resulting (vec_id, cluster, sub, code) rows append to a versioned
    * codes table under the usual checkpoint-scoped replay tag. Both the
    * assignment and the encode are map-side under broadcast
    * centroids/codebook — a batch never shuffles, and the raw embedding
    * is never stored: the table grows by m small codes per vector.
    * Search reads the table with
    * [[graft.ops.Similarity.ivfPqTopKIndexed]]. Appending under frozen
    * centroids erodes the index TWO ways, and the rebuild contract has a
    * mechanical trigger for each: re-train and rebuild when
    * [[graft.ops.AnnIndex.driftStats]] says the frozen book no longer
    * reconstructs the corpus (QUALITY), or when
    * [[graft.ops.AnnIndex.cellStats]] says arrivals have piled into few
    * cells past tolerance (BALANCE — a hot cell degrades probed-cell
    * search toward O(n) even while reconstruction stays fine; the
    * skew check is codes-table-only, no corpus encode). The combined
    * [[graft.ops.AnnIndex.needsRebuild]] overload checks both, balance
    * first; the sink maintains, it doesn't train. The sink also erodes
    * the codes table's LAYOUT independently of the index's quality:
    * each trigger appends one file spanning whatever cells its batch
    * touched, so probed-cell search skips fewer and fewer files as
    * batches accrete even while both rebuild triggers stay quiet —
    * [[graft.ops.AnnIndex.needsRecell]] is the mechanical trigger and
    * the cheap remedy is [[graft.ops.AnnIndex.recellSmall]] (repairs
    * only the accreted tail) or [[graft.ops.AnnIndex.recell]] (full
    * re-range) — layout-only, no re-encode, results bit-identical,
    * NOT a rebuild.
    * Already-indexed ids arriving again are dropped (first write wins —
    * see the guard below), and the guard's cost is BOUNDED: each commit
    * harvests a per-file bloom sidecar over `vec_id`, and the membership
    * probe pushes the batch's ids into the `graft-versioned` scan, so a
    * re-delivery check opens only the files whose bloom might hold one of
    * this batch's ids — per-trigger work scales with the batch, not with
    * the index (a full-index `distinct()` would be the sink's dominant
    * cost at a billion vectors). Within a batch, exact duplicate rows
    * (same vec_id AND same embedding) collapse silently; the same vec_id
    * with DIFFERING embeddings is rejected loudly — "first write wins"
    * has no deterministic "first" inside one unordered batch, and a
    * changed embedding under an old id is a rebuild event, not an
    * append. */
  def versionedAnnIndexSink(embs: DataFrame, cent: DataFrame, book: DataFrame,
                            m: Int, dsub: Int, codesRoot: String,
                            checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    guardedVectorIndexSink(embs, codesRoot, checkpointDir, "anncodes") { b =>
      // the shared PACKED encode ([[graft.ops.AnnIndex.encodeCodes]]):
      // one (vec_id, cluster, codes) row per arrival, assignment and
      // encode in a single map-side projection under the fused kernels —
      // the per-trigger assign⋈encode equi-join the row shape paid is
      // gone, and batch rows are byte-identical to what a rebuild writes
      graft.ops.AnnIndex.encodeCodes(b, cent, book, m, dsub)
    }
  }

  /** Streaming maintenance for the BINARY fingerprint index
    * ([[graft.ops.AnnIndex.buildBinaryIndex]]'s table): each micro-batch
    * of (vec_id, embedding) arrivals is sign-fingerprinted map-side (one
    * codegen'd kernel pass, dim/8 bytes out per vector) and appended
    * under the same duplicate/null/re-delivery guards as the PQ codes
    * sink — the fingerprint is a pure function of its vector, so there
    * is no frozen model and no drift story here; first write wins for
    * the same reason (a re-sent identical vector fingerprints
    * identically, a CHANGED vector under an old id is a rebuild event).
    * Search the table with [[graft.ops.AnnIndex.binarySearch]]. */
  def versionedBinaryIndexSink(embs: DataFrame, dim: Int, fpRoot: String,
                               checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.col
    guardedVectorIndexSink(embs, fpRoot, checkpointDir, "annfp") { b =>
      b.select(col("vec_id"),
        graft.ops.Similarity.signWords(col("embedding"), dim).as("fp"))
    }
  }

  /** Shared exactly-once loop of the vector-index maintenance sinks:
    * per-trigger duplicate/null guards, the bloom-bounded re-delivery
    * anti join, and the replay-tagged commit; `encode` maps the clean
    * batch (vec_id, embedding) to the rows appended to the index table.
    * Kept private — the public sinks define WHAT an index row is, this
    * defines what exactly-once index maintenance means.
    *
    * Maintenance: like the substring pair, the index accretes one small
    * commit per trigger forever — [[graft.io.Versioned.compactSmall]]
    * on the root (sink STOPPED, single writer) bounds the file count;
    * compaction re-harvests the vec_id stats AND bloom sidecars
    * (BloomPruneSpec's compaction test pins it), so the re-delivery
    * guard keeps pruning and search results are unchanged. */
  private def guardedVectorIndexSink(embs: DataFrame, root: String,
                                     checkpointDir: String, kind: String)
                                    (encode: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    embs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        if (!alreadyCommitted(spark, root, checkpointDir, kind, id)) {
          // exact duplicate rows collapse; conflicting rows under one id
          // would otherwise append duplicate index rows (for PQ codes,
          // two candidates under one vec_id) — refuse before writing
          // anything. Pinned: three consumers below (dup guard, id
          // collect, encode) would otherwise each re-shuffle the distinct
          val b0 = batch.toDF().distinct().localCheckpoint()
          val dup = b0.agg(count(lit(1)), countDistinct(col("vec_id")),
            count(col("vec_id"))).head()
          require(dup.getLong(0) == dup.getLong(2),
            s"vector index sink ($kind): batch $id carries null vec_ids — " +
              "an unaddressable vector can never be searched, guarded or " +
              "rebuilt; assign ids upstream")
          require(dup.getLong(2) == dup.getLong(1),
            s"vector index sink ($kind): batch $id carries the same vec_id " +
              "with differing embeddings — ambiguous under first-write-wins; " +
              "a changed embedding under an existing id is a rebuild event")
          // re-delivery guard (a true duplicate send, not a batch replay):
          // probe the persisted index for THIS batch's ids only — the IN
          // pushes into the scan and the per-file vec_id blooms skip
          // every file that cannot hold any of them. The driver-side id
          // collect is CAPPED: past ~100k ids the plan-size and driver-
          // memory cost of the literal list outgrows what the file prune
          // saves, so a jumbo trigger falls back to the distributed
          // full-index anti join (the pre-bloom shape) instead of
          // cliffing the driver.
          val b =
            if (graft.io.Versioned.versions(spark, root).isEmpty) b0
            else {
              val idRows = b0.select(col("vec_id")).limit(100001).collect()
              val seen =
                if (idRows.length <= 100000)
                  spark.read.format("graft-versioned").load(root)
                    .filter(col("vec_id").isin(
                      idRows.map(_.get(0)).toIndexedSeq: _*))
                    .select(col("vec_id")).distinct()
                else spark.read.format("graft-versioned").load(root)
                  .select(col("vec_id")).distinct()
              b0.join(seen, Seq("vec_id"), "leftanti")
            }
          // harvest cluster min/max too when the index rows carry a cell
          // (the PQ codes sink): an appended batch file's cluster range
          // lets the search-side probed-cell IN filter skip it when the
          // batch's arrivals happen to cluster — free (footer-only), and
          // the rebuild path's cell-range layout makes it tight
          val out = encode(b)
          // a maintenance sink must append the EXACT index row shape:
          // schema evolution would otherwise quietly null-fill the
          // mismatch — e.g. the flat fingerprint sink appending
          // cluster-less rows to a CELLED index, whose pruned search
          // would then silently MISS every streamed vector (null
          // cluster never matches a probed cell). Refuse loudly.
          if (graft.io.Versioned.versions(spark, root).nonEmpty) {
            // name -> dataType maps, not name sets: a batch with matching
            // names but different types (or a duplicated name) would pass
            // a set comparison and surface only at read time. Types
            // compare MODULO NULLABILITY (recursively): parquet reads
            // arrays back with nullable elements while the fingerprint
            // kernel declares them non-null — same data, different
            // DataType equality — and actual null hazards (null vec_ids,
            // null embeddings) are refused by the explicit guards above,
            // not by schema flags.
            def nn(dt: org.apache.spark.sql.types.DataType)
                : org.apache.spark.sql.types.DataType = dt match {
              case a: org.apache.spark.sql.types.ArrayType =>
                a.copy(elementType = nn(a.elementType), containsNull = true)
              case m: org.apache.spark.sql.types.MapType =>
                m.copy(keyType = nn(m.keyType), valueType = nn(m.valueType),
                  valueContainsNull = true)
              case s: org.apache.spark.sql.types.StructType =>
                org.apache.spark.sql.types.StructType(s.fields.map(f =>
                  f.copy(dataType = nn(f.dataType), nullable = true)))
              case other => other
            }
            def shape(cols: Array[org.apache.spark.sql.types.StructField])
                : Map[String, org.apache.spark.sql.types.DataType] = {
              val m = cols.map(f => f.name -> nn(f.dataType)).toMap
              require(m.size == cols.length,
                s"vector index sink ($kind): batch $id carries duplicate " +
                  s"column names (${cols.map(_.name).mkString(",")})")
              m
            }
            val have = shape(spark.read.format("graft-versioned").load(root)
              .schema.fields)
            val write = shape(out.schema.fields)
            require(have == write,
              s"vector index sink ($kind): batch $id writes columns " +
                s"${write.toSeq.sortBy(_._1).map(c => s"${c._1}:${c._2.simpleString}").mkString(",")} " +
                s"but the index at $root has " +
                s"${have.toSeq.sortBy(_._1).map(c => s"${c._1}:${c._2.simpleString}").mkString(",")} — " +
                "a maintenance sink must append the exact index row shape " +
                "(a celled index has no flat maintenance path; rebuild it instead)")
          }
          graft.io.Versioned.commit(spark, out, root,
            tag = Some(batchTag(checkpointDir, kind, id)),
            statsCols = Seq("vec_id") ++
              (if (out.columns.contains("cluster")) Seq("cluster") else Nil),
            bloomCols = Seq("vec_id").filter(c => graft.io.FileStats
              .bloomSupported(batch.schema(c).dataType)))
          ()
        }
      }
      .start()
  }

  /** Streaming drift monitor — the decision half of the ANN maintenance
    * loop ([[versionedAnnIndexSink]] maintains, this watches, `AnnIndex
    * .rebuild` fixes): each micro-batch of (vec_id, embedding) arrivals
    * is measured with [[graft.ops.AnnIndex.driftStats]] against the
    * persisted model's training-time baseline and the three quantile
    * rows append — stamped with the batch id — to a versioned monitor
    * table, giving a replay-safe time series of arrival reconstruction
    * quality. Work per trigger is O(batch) (encode + reconstruct of the
    * batch under the broadcast frozen book, never a corpus read) — at
    * 100 TB this is how retraining gets DECIDED without the full-corpus
    * scan `driftStats(corpus)` would cost, at the price of per-batch
    * sampling noise: a single small batch's quantiles are noisy, so
    * alert on a run of bad batches (the time series is the point), not
    * on one — `AnnIndex.driftAlerts` over this table is that contract's
    * mechanical form (K consecutive breaches at a chosen probe), and
    * `CALL graft.system.ann_alerts('monitor_tbl', pct, tol_q, min_run)`
    * its one-statement SQL surface. For a
    * periodic check of the STANDING corpus (this sink only sees
    * arrivals), use the sampled `AnnIndex.driftStats(…, sampleFraction)`
    * at O(f·n) rather than the exact full-corpus form; and remember
    * drift quality is only half the rebuild contract — `AnnIndex
    * .cellStats` watches the cell-balance half, which THIS sink slowly
    * erodes by appending under frozen centroids. Exactly-once under the
    * usual checkpoint-scoped replay tag. */
  def versionedAnnDriftMonitorSink(embs: DataFrame, modelRoot: String,
                                   monitorRoot: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.lit
    embs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        if (!alreadyCommitted(spark, monitorRoot, checkpointDir, "anndrift", id)) {
          graft.io.Versioned.commit(spark,
            graft.ops.AnnIndex.driftStats(spark, batch.toDF(), modelRoot)
              .withColumn("batch_id", lit(id)),
            monitorRoot,
            tag = Some(batchTag(checkpointDir, "anndrift", id)))
          ()
        }
      }
      .start()
  }

  /** Layout-health monitor sink — the LAYOUT twin of
    * [[versionedAnnDriftMonitorSink]], completing the third erosion
    * axis's loop symmetry: drift has measure + accreted series + run
    * rule; layout now accretes one (files, cells, kept_per_probe,
    * kept_bytes_per_probe, total_bytes, batch_id) row per trigger —
    * file OPENS and read VOLUME, each blind where the other sees
    * ([[graft.ops.AnnIndex.layoutPoint]]) — into a versioned monitor table
    * (exactly-once via the same committed-batch tags), and
    * [[graft.ops.AnnIndex.layoutAlerts]] / `CALL
    * graft.system.ann_layout_alerts` reduce the series to breach runs —
    * "recell on a RUN of eroded measurements, not one". The micro-batch
    * content is only a TRIGGER — but do NOT tail the same stream the
    * index maintenance sink consumes: two independent streaming queries
    * on one source have no cross-query ordering guarantee, so batch N's
    * measurement can run BEFORE the index sink's batch-N append lands,
    * skewing the accreted series by a wave. Drive this sink from its
    * own tick stream, ticked after each append wave completes (the
    * pattern the spec pins); if you must share the source, read the
    * series as "at or one wave behind"; the measurement itself reads
    * the CODES table's stats
    * sidecars — metadata-only apart from the bounded distinct-cells
    * scan, so per-trigger cost tracks the file count, never the corpus.
    * Single-writer-per-monitor-root, like every sink here. */
  def versionedAnnLayoutMonitorSink(trigger: DataFrame, codesRoot: String,
                                    monitorRoot: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.lit
    trigger.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        if (!alreadyCommitted(spark, monitorRoot, checkpointDir, "annlayout", id)) {
          graft.io.Versioned.commit(spark,
            graft.ops.AnnIndex.layoutPoint(spark, codesRoot)
              .withColumn("batch_id", lit(id)),
            monitorRoot,
            tag = Some(batchTag(checkpointDir, "annlayout", id)))
          ()
        }
      }
      .start()
  }

  /** Continuously-maintained materialized view: tails a [[graft.io.Versioned]]
    * source with the `graft-versioned` stream (offsets are version numbers)
    * and folds each newly-committed delta into the state table via
    * [[graft.ops.MaterializedAgg.refresh]]. The micro-batch Dataset is only
    * a TRIGGER and is never materialized — refresh reads the delta itself
    * through readChanges and carries its own exactly-once protocol (state
    * commits tagged `src-vN`, replayed refreshes no-op), so a crash at any
    * point leaves the old state visible and the next trigger converges.
    * Work per trigger is O(delta + |state|), never O(source). */
  def maintainViewSink(spark: SparkSession, sourceRoot: String, stateRoot: String,
                       keys: Seq[String], sumCols: Seq[String],
                       checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft-versioned").load(sourceRoot)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.ops.MaterializedAgg.refresh(spark, sourceRoot, stateRoot, keys, sumCols)
        ()
      }
      .start()

  /** Partition-pruned streaming MERGE sink: like [[upsertSink]] but each
    * micro-batch rewrites ONLY the target partitions its keys touch
    * (UpsertWriter.upsertPartitioned) instead of the whole table. For a
    * date-partitioned 100 TB target fed by a mostly-today stream this is
    * the difference between O(table) and O(today) per batch; the
    * partition column must be part of the merge keys (the writer enforces
    * it) so a key can never migrate partitions between batches. */
  def upsertPartitionedSink(events: DataFrame, targetPath: String, keys: Seq[String],
                            partitionCol: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.io.UpsertWriter.upsertPartitioned(
          batch.sparkSession, batch.toDF(), targetPath, keys, partitionCol)
      }
      .start()

  /** Stream-static enrichment — the streaming twin of the J1/J5 broadcast
    * dimension joins: each micro-batch joins against the (small, static)
    * dimension with no streaming state at all. The dim is re-resolved per
    * batch, so a dimension reload is picked up without restarting the
    * query. Left-outer keeps facts whose key has no dim row yet (late
    * dimension arrivals — the reference's new-article case). */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Watermarked stream-stream interval join — the streaming twin of
    * Relational.rangeJoin's attribution shape: each right-stream row
    * within [left.ts, left.ts + window) by the same user. The time-range
    * predicate plus both watermarks lets Spark bound the join state (the
    * left row is dropped once the watermark passes its window end; the
    * right row once it can no longer match any live left row) — without
    * them a stream-stream join buffers forever. */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
                         windowMinutes: Int, watermark: String): DataFrame =
    intervalJoin(left, right, windowMinutes, watermark, "inner")

  /** Left-outer twin of [[streamIntervalJoin]]: every left event emits —
    * matched rows as soon as both sides arrive, unmatched rows with null
    * right columns once the watermark passes the end of their match
    * window (Spark can then prove no future right row can join, the same
    * state-bound proof that lets it evict the buffered left row). This is
    * the "did a click follow the view?" shape where absence is itself the
    * signal; state stays bounded by watermark + interval exactly as in
    * the inner form. */
  def streamIntervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                                  windowMinutes: Int, watermark: String): DataFrame =
    intervalJoin(left, right, windowMinutes, watermark, "leftOuter")

  private def intervalJoin(left: DataFrame, right: DataFrame,
                           windowMinutes: Int, watermark: String,
                           joinType: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("event_id").as("l_id"), col("user_id"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") < col("l_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .drop("r_user")
  }

  /** Event-time variant: sessions flush when the WATERMARK passes
    * last-event + gap — deterministic w.r.t. data, no wall-clock
    * dependence, and timeouts are evaluated on ordinary data-driven
    * batches (no continuous empty triggers). This is the production
    * shape; prefer it over the processing-time flush. Input must carry
    * `withWatermark("ts", ...)` before the groupByKey. */
  def sessionizeStreamEventTime(events: Dataset[Event],
                                gapMinutes: Long = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000

    def emit(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, s.sessionId,
        new java.sql.Timestamp(s.startUs / 1000), new java.sql.Timestamp(s.lastUs / 1000),
        s.n, s.total)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(emit(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000
              cur match {
                case Some(s) if us - s.lastUs <= gapMinutes * 60L * 1000 * 1000 =>
                  cur = Some(s.copy(lastUs = us, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += emit(userId, s)
                  cur = Some(SessionState(s.sessionId + 1, us, us, 1, e.value))
                case None =>
                  cur = Some(SessionState(1, us, us, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // flush when the watermark passes the gap horizon
              state.setTimeoutTimestamp(s.lastUs / 1000 + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(sessionId: Long, lastUs: Long, startUs: Long,
                          n: Long, total: Double)
  case class SessionOut(user_id: Long, session_id: Long,
                        session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp,
                        n_events: Long, total_value: Double)

  /** Stateful gap sessionization (30-min inactivity) via
    * flatMapGroupsWithState — emits a session row when the gap closes it.
    * With `flushTimeout = true`, a processing-time timeout flushes the
    * last open session per idle user (note: timeout wake-ups make the
    * engine run continuous empty micro-batches, so leave it off when a
    * downstream caller relies on `processAllAvailable`).
    * Streaming twin of EventQueries.sessionize. */
  def sessionizeStream(events: Dataset[Event],
                       gapMinutes: Long = 30,
                       flushTimeout: Boolean = false): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000 * 1000
    val timeoutConf =
      if (flushTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()

    def emit(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, s.sessionId,
        new java.sql.Timestamp(s.startUs / 1000), new java.sql.Timestamp(s.lastUs / 1000),
        s.n, s.total)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeoutConf) {
        (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(emit(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000
              cur match {
                case Some(s) if us - s.lastUs <= gapUs =>
                  cur = Some(s.copy(lastUs = us, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += emit(userId, s)
                  cur = Some(SessionState(s.sessionId + 1, us, us, 1, e.value))
                case None =>
                  cur = Some(SessionState(1, us, us, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (flushTimeout) state.setTimeoutDuration(gapMinutes * 60 * 1000)
            }
            closed.result().iterator
          }
      }
  }

  case class FunnelState(t0: Option[Long], t1: Option[Long], t2: Option[Long])
  case class FunnelOut(user_id: Long, stage: String, ts: java.sql.Timestamp)

  /** Streaming conversion funnel — the stateful twin of the batch
    * `event_funnel` query: per user, emit each stage the FIRST time it is
    * reached (view, then click at-or-after the first view, then purchase
    * at-or-after the first click). State is three optional timestamps per
    * user — O(users) and constant per key, no watermark needed since the
    * stage anchors only move backward on late data (min semantics) and
    * within-batch events process in event-time order.
    *
    * Caveat shared with every unbuffered streaming funnel: an
    * out-of-order event arriving in a LATER batch than a stage it would
    * have re-anchored cannot retract an already-emitted stage row; the
    * batch query is the replayable truth, this is the low-latency path. */
  def funnelStream(events: Dataset[Event]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId, it, state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(None, None, None))
          val out = Seq.newBuilder[FunnelOut]
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val us = e.ts.getTime
            e.event_type match {
              case "view" if s.t0.isEmpty =>
                s = s.copy(t0 = Some(us))
                out += FunnelOut(userId, "1_view", e.ts)
              case "click" if s.t0.exists(_ <= us) && s.t1.isEmpty =>
                s = s.copy(t1 = Some(us))
                out += FunnelOut(userId, "2_click", e.ts)
              case "purchase" if s.t1.exists(_ <= us) && s.t2.isEmpty =>
                s = s.copy(t2 = Some(us))
                out += FunnelOut(userId, "3_purchase", e.ts)
              case _ => ()
            }
          }
          state.update(s)
          out.result().iterator
      }
  }

  case class KmvOut(key: String, n_kept: Int, est_distinct: Double)

  /** Streaming KMV distinct-count — the stateful twin of the
    * `graft_kmin`-based batch sketch (`kmv_distinct_agg`): per key, the
    * state is the k smallest distinct hashes seen so far (ascending,
    * capped — exactly the KMinLongs buffer), and each micro-batch emits
    * the refreshed estimate (k-1)·2^32/h_k, or the exact count below k.
    * State is O(keys × k) longs forever — the reason sketches, not exact
    * distinct sets, are what a streaming cardinality monitor keeps. */
  def kmvDistinctStream(hashes: Dataset[(String, Long)], k: Int = 256): Dataset[KmvOut] = {
    import hashes.sparkSession.implicits._
    hashes.groupByKey(_._1)
      .mapGroupsWithState[Seq[Long], KmvOut](GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[Seq[Long]]) =>
          val buf = new java.util.TreeSet[java.lang.Long]()
          state.getOption.foreach(_.foreach(h => buf.add(h)))
          it.foreach { case (_, h) =>
            if (buf.size < k) buf.add(h)
            else if (h < buf.last()) { if (buf.add(h)) buf.pollLast() }
          }
          val hs = buf.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq
          state.update(hs)
          val est =
            if (hs.size < k) hs.size.toDouble
            else (k - 1).toDouble * 4294967296.0 / hs.last
          KmvOut(key, hs.size, est)
      }
  }

  case class AsofLeft(key: Long, ts: java.sql.Timestamp, value: Double)
  case class AsofRight(key: Long, ts: java.sql.Timestamp, payload: Double)
  case class AsofOut(key: Long, ts: java.sql.Timestamp, value: Double,
                     asof_ts: Option[java.sql.Timestamp],
                     asof_payload: Option[Double])
  case class AsofHist(entries: List[(Long, Double)])
  case class AsofBuf(lefts: List[(Long, Double)], rights: List[(Long, Double)])

  /** Streaming as-of enrichment — the stateful twin of
    * [[graft.ops.Relational.asofJoin]]: each left fact is joined to the
    * LATEST right update with right.ts <= left.ts for its key. State per
    * key is a bounded, ascending (tsUs, payload) history (`maxHistory`
    * entries), so total state is O(keys x maxHistory) — the watermark-free
    * bound a rates/snapshot dimension stream needs.
    *
    * Semantics vs the batch op: within a micro-batch, events process in
    * event-time order (rights before lefts at equal ts — the inclusive
    * <= tie-break the batch op uses); ACROSS batches, a right update that
    * arrives in a later batch than a left fact it should have matched
    * cannot retro-enrich it. That is inherent to any unbuffered streaming
    * as-of; the oracle-checked batch `asof_join` is the replayable truth
    * for backfills, this operator is the low-latency path. */
  def asofEnrichStream(left: Dataset[AsofLeft], right: Dataset[AsofRight],
                       maxHistory: Int = 32): Dataset[AsofOut] = {
    import left.sparkSession.implicits._
    // side 0 = right (state writer), side 1 = left (reader): sorting by
    // (tsUs, side) applies updates before same-timestamp lookups
    val tagged = left.map(x => (1, x.key, x.ts.getTime * 1000L, x.value))
      .union(right.map(x => (0, x.key, x.ts.getTime * 1000L, x.payload)))
    tagged.groupByKey(_._2)
      .flatMapGroupsWithState[AsofHist, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state: GroupState[AsofHist]) =>
          var hist = state.getOption.map(_.entries).getOrElse(Nil) // ascending tsUs
          val out = Seq.newBuilder[AsofOut]
          it.toSeq.sortBy(e => (e._3, e._1)).foreach { case (side, _, tsUs, v) =>
            if (side == 0)
              // collapse equal timestamps to the max payload: stream input
              // carries no arrival order across partitions, so "last write
              // wins" would be nondeterministic — max is the deterministic
              // tie-break (== batch asofJoin with rightOrd = payload)
              hist = ((tsUs, v) :: hist).groupBy(_._1)
                .map { case (t, es) => (t, es.map(_._2).max) }
                .toList.sortBy(_._1).takeRight(maxHistory)
            else {
              val m = hist.reverseIterator.find(_._1 <= tsUs)
              out += AsofOut(key, new java.sql.Timestamp(tsUs / 1000), v,
                m.map(e => new java.sql.Timestamp(e._1 / 1000)), m.map(_._2))
            }
          }
          state.update(AsofHist(hist))
          out.result().iterator
      }
  }

  /** EVENT-TIME-correct streaming as-of: facts are buffered until the
    * watermark passes their timestamp, so a right update arriving late
    * (but inside the watermark) still enriches facts it precedes — the
    * retro-match [[asofEnrichStream]] cannot do. Emission therefore
    * carries the same guarantee as the batch asofJoin over the
    * watermark-complete prefix of both streams.
    *
    * State stays bounded without losing correctness: once a left emits
    * it leaves the buffer, and of the rights at-or-before the watermark
    * only the LATEST is retained — every future left has ts > watermark,
    * so older rights can never again be the latest-at-or-before match. */
  def asofEnrichStreamEventTime(left: Dataset[AsofLeft], right: Dataset[AsofRight],
                                watermarkDelay: String = "10 minutes"): Dataset[AsofOut] = {
    import left.sparkSession.implicits._
    val tagged = left.map(x => (1, x.key, x.ts, x.value))
      .union(right.map(x => (0, x.key, x.ts, x.payload)))
      .toDF("side", "key", "ts", "v")
      .withWatermark("ts", watermarkDelay)
      .as[(Int, Long, java.sql.Timestamp, Double)]
    tagged.groupByKey(_._2)
      .flatMapGroupsWithState[AsofBuf, AsofOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, it, state: GroupState[AsofBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var buf = state.getOption.getOrElse(AsofBuf(Nil, Nil))
          if (!state.hasTimedOut) {
            val incoming = it.toSeq
            val newLefts = incoming.filter(_._1 == 1).map(e => (e._3.getTime * 1000L, e._4))
            val newRights = incoming.filter(_._1 == 0).map(e => (e._3.getTime * 1000L, e._4))
            // equal-ts rights collapse to the max payload (deterministic
            // tie-break; see asofEnrichStream)
            val mergedRights = (buf.rights ++ newRights).groupBy(_._1)
              .map { case (t, es) => (t, es.map(_._2).max) }.toList.sortBy(_._1)
            buf = AsofBuf((buf.lefts ++ newLefts).sortBy(_._1), mergedRights)
          }
          // emit every left the watermark has passed: all of its eligible
          // rights (rts <= lts <= wm) are final now
          val (ripe, pending) = buf.lefts.partition(_._1 <= wmUs)
          val out = ripe.map { case (lts, v) =>
            val m = buf.rights.reverseIterator.find(_._1 <= lts)
            AsofOut(key, new java.sql.Timestamp(lts / 1000), v,
              m.map(e => new java.sql.Timestamp(e._1 / 1000)), m.map(_._2))
          }
          // right-history trim: rights above the watermark stay, plus only
          // the latest one at-or-before it
          val (below, above) = buf.rights.partition(_._1 <= wmUs)
          val kept = below.lastOption.toList ++ above
          if (pending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsofBuf(pending, kept))
            // wake when the watermark can next ripen a pending left
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(math.max(pending.head._1 / 1000, wmUs / 1000 + 1))
          }
          out.iterator
      }
  }
}

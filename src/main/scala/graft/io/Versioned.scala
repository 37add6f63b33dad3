package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal versioned table: parquet data files + a manifest log, the
  * core mechanism behind transactional lake formats (Delta/Iceberg),
  * restated in ~150 lines for the capabilities the reference's serial
  * pipelines actually need on an object store:
  *
  *  - **Atomic commit**: a write lands data under `data/`, then
  *    publishes by renaming a temp manifest to `_manifests/vN.txt`
  *    listing exactly the files of that snapshot. The single rename is
  *    the commit point — readers either see vN-1's list or vN's,
  *    never a half-written directory.
  *  - **Snapshot-isolated reads**: `read` resolves the highest vN once
  *    and reads only its files; a concurrent commit cannot make a
  *    running query see mixed versions (the failure mode of plain
  *    directory listing, where overwrite-in-place deletes files under
  *    a reader).
  *  - **Time travel**: `read(spark, path, asOf = Some(n))`.
  *  - **Retention**: `vacuum` deletes data files unreachable from the
  *    newest `keepVersions` manifests and drops older manifests — the
  *    GC that bounds storage after compaction/overwrite churn.
  *
  * At 100 TB the manifest also kills the O(files) eventually-consistent
  * LIST on every read: one small file names the snapshot. Concurrency
  * policy is single-writer (matching the reference's serial loads);
  * version numbers are dense integers so `vN.txt` rename collisions
  * would surface a second writer immediately.
  */
object Versioned {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_manifests")
  private def dataDir(root: String) = new Path(root, "data")

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("v") && n.endsWith(".txt"))
      n.stripPrefix("v").stripSuffix(".txt").toLongOption
    else None
  }

  /** All committed versions, ascending (empty for a fresh/absent table). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val dir = manifestDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(s => versionOf(s.getPath)).sorted
  }

  // Published manifests are immutable, but a root can be dropped and
  // recreated under the same path (same vN.txt name, new content) — so
  // the memo keys on (path, mtime, length) under the settle rule of
  // [[SettledMemo]], turning the several reads a single commit makes of
  // the SAME v<prev>.txt (checkLines, droppedLines, dvEntries,
  // manifestFiles — one open+readFully each) into one stat + one read.
  // Version-not-found stays loud: every explicit-asOf surface checks
  // versions() membership BEFORE reading, never relying on the open
  // failing.
  private val manifestMemo = new SettledMemo[Seq[String]](64L << 20)

  private def manifestLines(spark: SparkSession, root: String, v: Long): Seq[String] = {
    val p = new Path(manifestDir(root), s"v$v.txt")
    val f = fs(spark, p)
    manifestMemo(f, p, throw new java.io.FileNotFoundException(s"manifest $p does not exist")) { st =>
      val in = f.open(p)
      try {
        val bytes = new Array[Byte](st.getLen.toInt)
        in.readFully(bytes)
        new String(bytes, StandardCharsets.UTF_8).split("\n").toSeq
          .map(_.trim).filter(_.nonEmpty)
      } finally in.close()
    }
  }

  private def manifestFiles(spark: SparkSession, root: String, v: Long): Seq[String] =
    manifestLines(spark, root, v).filterNot(_.startsWith("#"))

  /** Tag of one ALREADY-KNOWN version — one manifest read, no directory
    * re-list. The building block for history scans (a caller holding the
    * version list must not pay an O(versions) LIST per version). */
  private[graft] def tagOf(spark: SparkSession, root: String, v: Long): Option[String] =
    manifestLines(spark, root, v)
      .find(_.startsWith("#tag=")).map(_.stripPrefix("#tag="))

  /** The `tag` the given (default: newest) version was committed with,
    * if any — the idempotence key for replay-safe writers. */
  def committedTag(spark: SparkSession, root: String,
                   asOf: Option[Long] = None): Option[String] = {
    val vs = versions(spark, root)
    requireKnownAsOf(vs, asOf, root)
    asOf.orElse(vs.lastOption).flatMap(tagOf(spark, root, _))
  }

  // explicit-asOf surfaces stay loud on an unknown version (matching
  // snapshotFiles/diffVersions) — a silent empty answer for a typo'd or
  // GC'd version is indistinguishable from "no tags/constraints/drops"
  private def requireKnownAsOf(vs: Seq[Long], asOf: Option[Long],
                               root: String): Unit =
    asOf.foreach(v => require(vs.contains(v),
      s"version $v not found at $root (have ${vs.mkString(", ")})"))

  /** Named CHECK constraints recorded in a snapshot's manifest
    * (`#check=name:expr` lines), newest version unless `asOf`. */
  def constraints(spark: SparkSession, root: String,
                  asOf: Option[Long] = None): Seq[(String, String)] = {
    val vs = versions(spark, root)
    requireKnownAsOf(vs, asOf, root)
    asOf.orElse(vs.lastOption).toSeq.flatMap { v =>
      manifestLines(spark, root, v).filter(_.startsWith("#check="))
        .map(_.stripPrefix("#check=")).map { s =>
          val i = s.indexOf(':')
          (s.take(i), s.drop(i + 1))
        }
    }
  }

  private def checkLines(spark: SparkSession, root: String,
                         prev: Option[Long]): Seq[String] =
    prev.toSeq.flatMap(v => manifestLines(spark, root, v)
      .filter(_.startsWith("#check=")))

  /** Carried column tombstones (`#dropped=` lines) — see [[dropColumns]]:
    * a dropped name must never be re-added while files physically holding
    * its old values are still referenced, or the "new" column would
    * silently resurrect them instead of reading null. */
  private def droppedLines(spark: SparkSession, root: String,
                           prev: Option[Long]): Seq[String] =
    prev.toSeq.flatMap(v => manifestLines(spark, root, v)
      .filter(_.startsWith("#dropped=")))

  /** `#statsdead=` lines: lower-cased column NAMES whose sidecar
    * stats/bloom entries are identity-unstable and must never power a
    * load-bearing proof. Sidecars key by the column's NAME AT WRITE
    * TIME; on a mapped table a DROP (re-add gets a fresh id, old files
    * read null) or a RENAME (the vacated name can be re-used) detaches
    * the name from the identity the sidecar described. Advisory pruning
    * stays safe either way (the re-attached column reads NULL from old
    * files, and null matches no range/equality — a skip is vacuously
    * correct), but [[StatsProofs.allRowsMatch]]'s nulls==0 claim would
    * be a LIE: a stats-proven whole-file DELETE would silently destroy
    * rows whose actual predicate value is null. These lines are carried
    * by every commit exactly like `#dropped=` tombstones, consulted by
    * [[statsByFile]] (the proofs' lookup), and shed by a replace/full
    * rewrite, which re-harvests every sidecar under current names.
    * Legacy tables never need them: their tombstones refuse the re-use
    * outright. */
  private def statsDeadLines(spark: SparkSession, root: String,
                             prev: Option[Long]): Seq[String] =
    prev.toSeq.flatMap(v => manifestLines(spark, root, v)
      .filter(_.startsWith("#statsdead=")))

  /** The tombstone + stats-dead guard lines every append-shaped commit
    * carries forward — ONE helper so a new publish path cannot carry
    * one and forget the other. */
  private def carriedGuardLines(spark: SparkSession, root: String,
                                prev: Option[Long]): Seq[String] =
    droppedLines(spark, root, prev) ++ statsDeadLines(spark, root, prev)

  /** Lower-cased identity-unstable stats names of a snapshot (newest
    * unless `asOf`) — see [[statsDeadLines]]. */
  def statsDeadColumns(spark: SparkSession, root: String,
                       asOf: Option[Long] = None): Set[String] = {
    val vs = versions(spark, root)
    requireKnownAsOf(vs, asOf, root)
    asOf.orElse(vs.lastOption).toSeq.flatMap { v =>
      statsDeadLines(spark, root, Some(v))
        .map(_.stripPrefix("#statsdead=").toLowerCase)
    }.toSet
  }

  /** Lower-cased tombstoned column names of a snapshot (newest unless
    * `asOf`). */
  def droppedColumns(spark: SparkSession, root: String,
                     asOf: Option[Long] = None): Set[String] = {
    val vs = versions(spark, root)
    requireKnownAsOf(vs, asOf, root)
    asOf.orElse(vs.lastOption).toSeq.flatMap { v =>
      droppedLines(spark, root, Some(v))
        .map(_.stripPrefix("#dropped=").toLowerCase)
    }.toSet
  }

  /** Refuse a batch that writes to a tombstoned column name — appending
    * data under a dropped name would let a later careless re-add pair new
    * and OLD values under one column. Enforced on every append-shaped
    * commit; replace commits shed tombstones instead (their manifest
    * stops referencing the files that held the old values). */
  private def requireNotDropped(spark: SparkSession, root: String,
                                prev: Option[Long], cols: Seq[String]): Unit = {
    if (prev.isEmpty) return
    val dropped = droppedLines(spark, root, prev)
      .map(_.stripPrefix("#dropped=")).toSet
    if (dropped.isEmpty) return
    val hit = cols.filter(c => dropped.contains(c.toLowerCase))
    require(hit.isEmpty,
      s"column(s) ${hit.mkString(", ")} were previously DROPPED from this " +
        "table and old files still hold their values — re-introducing the " +
        "name would resurrect them. Use a different name, or rewrite the " +
        "table with a replace commit (compactLatest qualifies — it " +
        "publishes a full-rewrite replace; incremental compactSmall does " +
        "NOT, it carries old files and their tombstones).")
  }

  /** Drop columns as a METADATA-ONLY commit: the recorded schema loses
    * the columns (readers project old files through it, so the data
    * never surfaces again) and no file is rewritten.
    *
    * Re-add safety depends on the table's era. MAPPED tables (field-id
    * column mapping, the default for tables created since the feature)
    * need no bookkeeping at all: a later column re-using the dropped
    * NAME gets a fresh field id, old files answer only to the retired
    * id, and the id high-water mark (`#colmaxid=`) guarantees retired
    * ids are never reassigned — resurrection is structurally impossible
    * and re-adding the name is allowed. LEGACY tables match by name, so
    * a `#dropped=` tombstone per name is carried by every later commit
    * and re-adding the name refuses until a replace commit rewrites the
    * files. Columns referenced by a CHECK constraint refuse either way
    * (drop the constraint first). */
  def dropColumns(spark: SparkSession, root: String,
                  cols: Seq[String]): Long = {
    require(cols.nonEmpty, "dropColumns needs at least one column")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val current = vs.last
    val prev = snapshotSchema(spark, root, Some(current)).getOrElse(
      ColumnIds.stripIds(
        readWithSchema(spark, root, None, snapshotFiles(spark, root, Some(current))).schema))
    val byLower = prev.fields.map(f => f.name.toLowerCase -> f.name).toMap
    val missing = cols.filterNot(c => byLower.contains(c.toLowerCase))
    // a missing DOTTED name is almost always an attempted nested-field
    // drop — name that explicitly. A dotted name that IS a top-level
    // column (dotted literals are a supported shape) drops normally.
    val nestedShaped = missing.filter(_.contains('.'))
    require(nestedShaped.isEmpty,
      s"nested-field drop (${nestedShaped.mkString(", ")}) is not " +
        "supported: dropColumns is metadata-only for TOP-LEVEL columns; " +
        "rewrite the table with the evolved struct shape (replace commit) " +
        "instead")
    require(missing.isEmpty,
      s"column(s) not in the table schema: ${missing.mkString(", ")} " +
        s"(have ${prev.fieldNames.mkString(", ")})")
    val doomedLower = cols.map(_.toLowerCase).toSet
    require(doomedLower.size < prev.fields.length,
      "cannot drop every column of the table")
    // conservative: refuse when any CHECK expression mentions a doomed
    // name as an identifier (a dangling constraint would NULL-pass
    // forever — silently vacuous is the pattern this project refuses)
    constraints(spark, root).foreach { case (name, expression) =>
      cols.foreach { c =>
        // backtick counts as a boundary on purpose: `x` > 0 must match
        // column x (quoting is how special-cased names are referenced);
        // a longer identifier like x2 or `ax` still does not match
        val used = java.util.regex.Pattern
          .compile("(?i)(^|[^A-Za-z0-9_])" + java.util.regex.Pattern.quote(c) +
            "($|[^A-Za-z0-9_])")
          .matcher(expression).find()
        require(!used,
          s"column $c is referenced by CHECK constraint `$name` " +
            s"($expression) — drop the constraint first")
      }
    }
    val remaining = StructType(prev.fields.filterNot(f =>
      doomedLower.contains(f.name.toLowerCase)))
    // mapped tables shed tombstones entirely: the retired field id is the
    // (stronger) guard — see the scaladoc. What they DO need is the
    // stats-dead marker: the dropped NAME may return with a fresh id,
    // and the old sidecar entries under it must never power a proof
    // (see statsDeadLines).
    val tombstones =
      if (ColumnIds.hasIds(prev)) Seq.empty
      else cols.map(c => s"#dropped=${c.toLowerCase}")
    val statsDead =
      if (ColumnIds.hasIds(prev)) cols.map(c => s"#statsdead=${c.toLowerCase}")
      else Seq.empty
    publish(spark, root, current + 1, op = "drop_columns",
      Seq(s"#schema=${remaining.json}") ++
        checkLines(spark, root, Some(current)) ++
        carriedGuardLines(spark, root, Some(current)) ++
        tombstones ++ statsDead ++
        dvEntries(spark, root, Some(current))
          .map { case (e, d) => dvLine(e, d) } ++
        manifestFiles(spark, root, current))
  }

  /** RENAME COLUMN as a METADATA-ONLY commit — the operation the
    * reference performs more than any other (its pipelines open with
    * 20-plus-column rename maps, e.g.
    * `/root/reference/pipelines/etl_zrssale.py:73-101`) made safe at
    * lake scale by field-id column mapping: only the LOGICAL name in the
    * recorded schema changes; the column's field id — what the parquet
    * readers actually match files by — stays, so every file written
    * before the rename serves the renamed column untouched, and files
    * written after it carry the new name with the same id. Time travel
    * to a pre-rename version sees the old name (each version reads
    * through its own recorded schema).
    *
    * Refuses on: legacy tables (files carry no ids — one replace commit,
    * e.g. [[compactLatest]], upgrades them), a target name already in
    * use or tombstoned, or a CHECK constraint referencing the old name
    * (its expression text would silently go vacuous — drop it first).
    *
    * Sidecar stats/blooms keyed under the old name stop matching the
    * renamed column for files written before the rename: pruning for
    * them degrades to conservative keep-the-file, never a wrong skip;
    * files written (or compacted) afterwards re-harvest under the new
    * name. */
  def renameColumn(spark: SparkSession, root: String,
                   oldName: String, newName: String): Long = {
    require(oldName.nonEmpty && newName.nonEmpty, "empty column name")
    require(!oldName.equalsIgnoreCase(newName),
      s"rename to the same name: $oldName")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val current = vs.last
    val schema = snapshotSchema(spark, root, Some(current)).getOrElse(
      throw new IllegalArgumentException(
        s"table at $root has no recorded schema (pre-schema-tracking) — " +
          "rewrite it once (replace commit, e.g. compactLatest) first"))
    require(ColumnIds.hasIds(schema),
      s"table at $root predates field-id column mapping: its files match " +
        "columns by NAME, so a metadata-only rename would read the renamed " +
        "column as null from every existing file — rewrite the table once " +
        "(replace commit, e.g. compactLatest) to stamp field ids, then rename")
    // a missing DOTTED old name is almost always an attempted
    // nested-field rename — name that explicitly (renaming INSIDE a
    // struct is out of scope for the metadata-only path: sidecar stats,
    // tombstones, and stats-dead guards all key by TOP-LEVEL name; the
    // remedy is a replace commit with the evolved struct shape). A
    // dotted name that IS a top-level column renames normally.
    require(schema.fieldNames.exists(_.equalsIgnoreCase(oldName)) ||
        !oldName.contains('.'),
      s"nested-field rename ($oldName -> $newName) is not supported: " +
        "renameColumn is metadata-only for TOP-LEVEL columns; rewrite " +
        "the table with the evolved struct shape (replace commit) instead")
    require(schema.fieldNames.exists(_.equalsIgnoreCase(oldName)),
      s"no column $oldName at $root (have ${schema.fieldNames.mkString(", ")})")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column $newName already exists at $root")
    val tombstoned = droppedColumns(spark, root)
    require(!tombstoned.contains(newName.toLowerCase),
      s"column name $newName is tombstoned by a previous DROP on this " +
        "table — choose another name")
    // a CHECK referencing the old name would keep evaluating the stale
    // identifier text — same conservative refusal as dropColumns
    constraints(spark, root).foreach { case (name, expression) =>
      val used = java.util.regex.Pattern
        .compile("(?i)(^|[^A-Za-z0-9_])" +
          java.util.regex.Pattern.quote(oldName) + "($|[^A-Za-z0-9_])")
        .matcher(expression).find()
      require(!used,
        s"column $oldName is referenced by CHECK constraint `$name` " +
          s"($expression) — drop the constraint first")
    }
    // stats/bloom sidecars key by COLUMN NAME at write time. If any
    // retained batch still carries sidecar entries under the TARGET
    // name (a column that once lived there), pruned reads after the
    // rename would consult the DEAD column's min/max/bloom for the
    // renamed column's real values — a wrong FILE SKIP, i.e. silently
    // missing rows. (Drop-then-re-add is immune: old files serve the
    // re-added column as null, so any skip is vacuously safe. Only
    // rename moves live values under a previously-used name.) Refuse
    // conservatively; rewriting (compactLatest) re-harvests sidecars
    // under current names and clears the collision.
    val dirs = snapshotFiles(spark, root, Some(current))
      .map(new Path(_).getParent).distinct
    val hconf = spark.sparkContext.hadoopConfiguration
    val collisions = MetaPar.parMap(dirs) { dir =>
      // per-dir filesystem: a shallow clone's entries may live on a
      // DIFFERENT filesystem than the clone root (the buildStats
      // pattern) — the root's FS would refuse them with "Wrong FS"
      val dfs = dir.getFileSystem(hconf)
      val keys = FileStats.readSidecar(dfs, dir).valuesIterator
        .flatMap(_.keysIterator).toSet ++ FileStats.readBloomColumns(dfs, dir)
      if (keys.exists(_.equalsIgnoreCase(newName))) Some(dir.getName) else None
    }.flatten
    require(collisions.isEmpty,
      s"cannot rename $oldName to $newName: batch(es) " +
        s"${collisions.take(3).mkString(", ")} still carry stats/bloom " +
        s"sidecars for a FORMER column named $newName, and pruned reads " +
        "would consult them for the renamed column's values (wrong file " +
        "skips). Pick another name, or rewrite the table first " +
        "(compactLatest re-harvests sidecars under current names).")
    val renamed = StructType(schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f))
    requireNoCaseDups(renamed)
    publish(spark, root, current + 1, op = "rename_column",
      Seq(s"#schema=${renamed.json}") ++
        // the VACATED name can be re-used later; sidecar entries under
        // it describe the renamed column's live values and must never
        // power a proof for a future occupant (see statsDeadLines)
        Seq(s"#statsdead=${oldName.toLowerCase}") ++
        checkLines(spark, root, Some(current)) ++
        carriedGuardLines(spark, root, Some(current)) ++
        dvEntries(spark, root, Some(current))
          .map { case (e, d) => dvLine(e, d) } ++
        manifestFiles(spark, root, current))
  }

  /** SQL CHECK semantics: a row violates only when the expression is
    * FALSE — NULL passes (unknown is not a violation). */
  private def violations(df: DataFrame, expression: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    df.filter(not(coalesce(expr(expression).cast("boolean"), lit(true))))
  }

  /** Enforce every recorded constraint against the WRITTEN batch — a
    * read-back of the just-written files under the RECORDED schema,
    * validated in ONE job (all constraints as parallel any-violation
    * flags), with the batch dir deleted before the abort so a violating
    * commit publishes nothing and leaves no debris. Validating the
    * written bytes (not the input plan) is load-bearing: a
    * non-deterministic source re-executed between a pre-write check and
    * the write could pass validation and still write violating rows —
    * the files ARE the one evaluation. Reading under the recorded schema
    * also gives batch-absent table columns their committed NULLs (SQL
    * CHECK: NULL passes) and resolves case differences the way the scan
    * will. */
  /** `dataPaths`: when the batch dir holds NON-parquet sidecars too (the
    * merge-on-read writers stage deletion vectors beside the batch), the
    * validation read must name the parquet files explicitly — a
    * directory-wide read would try to parse the vectors as parquet and
    * abort every constraint-bearing MoR write. None = read the dir (the
    * plain commit paths, where validation runs before any sidecar). */
  private def enforceConstraintsOnWritten(spark: SparkSession, root: String,
                                          batchDir: Path,
                                          recorded: StructType,
                                          prev: Option[Long],
                                          dataPaths: Option[Seq[Path]] = None): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, max, not, when}
    val all = constraints(spark, root, prev)
    if (all.isEmpty) return
    // A constraint referencing a column ABSENT from the recorded schema is
    // vacuously NULL-pass (the carry-across-replace rule documented at the
    // commit() call site): the scan would read that column as NULL and SQL
    // CHECK passes on unknown. Evaluating it anyway would fail resolution
    // and abort a legitimate column-dropping replace. Absence is detected
    // by parsing the expression and checking its leaf attribute roots
    // against `recorded` case-insensitively — the same resolver rule the
    // actual evaluation uses.
    val recordedNames = recorded.fieldNames.map(_.toLowerCase).toSet
    val cs = all.filter { case (_, e) =>
      try spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase
      }.forall(recordedNames)
      catch { // unparseable: keep it, so evaluation raises the real error
        case scala.util.control.NonFatal(_) => true
      }
    }
    if (cs.isEmpty) return
    val f = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val written = dataPaths match {
      case Some(ps) => spark.read.schema(recorded).parquet(ps.map(_.toString): _*)
      case None => spark.read.schema(recorded).parquet(batchDir.toString)
    }
    val flags = cs.map { case (name, e) =>
      max(when(not(coalesce(expr(e).cast("boolean"), lit(true))), 1)
        .otherwise(0)).as(name)
    }
    // ANY validation failure discards the batch, not just a violation: an
    // aborted commit must never leave an unpublished batch dir behind
    // (crash-debris reclaim would get it, but only on the NEXT attempt)
    val row =
      try written.agg(flags.head, flags.tail: _*).collect()(0)
      catch { case t: Throwable => f.delete(batchDir, true); throw t }
    val violated = cs.zipWithIndex.collect {
      case ((name, e), i) if !row.isNullAt(i) && row.getInt(i) == 1 => s"`$name` ($e)"
    }
    if (violated.nonEmpty) {
      f.delete(batchDir, true)
      throw new IllegalArgumentException(
        s"CHECK constraint ${violated.mkString(", ")} violated by rows in " +
          "this commit — the batch was discarded, nothing was published")
    }
  }

  /** Add nullable columns to the table schema as a METADATA-ONLY commit
    * (no data touched): existing files read the new columns as null,
    * exactly as an evolving append would have left them. The SQL
    * `ALTER TABLE ... ADD COLUMNS` backing. Tags are NOT carried into
    * the new manifest (a duplicated streaming tag could fool replay
    * detection); checks and the file list are. */
  def addColumns(spark: SparkSession, root: String,
                 fields: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(fields.nonEmpty, "addColumns needs at least one column")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val current = vs.last
    val prev = snapshotSchema(spark, root, Some(current)).getOrElse(
      ColumnIds.stripIds(
        readWithSchema(spark, root, None, snapshotFiles(spark, root, Some(current))).schema))
    val clash = fields.map(_.name.toLowerCase)
      .intersect(prev.fieldNames.map(_.toLowerCase).toSeq)
    require(clash.isEmpty, s"column(s) already exist: ${clash.mkString(", ")}")
    val dup = fields.map(_.name.toLowerCase).diff(fields.map(_.name.toLowerCase).distinct)
    require(dup.isEmpty, s"duplicate new column name(s): ${dup.mkString(", ")}")
    // a tombstoned name must not come back: old files still referenced by
    // this manifest physically hold its previous values, and the "new"
    // column would read them instead of null (see dropColumns)
    requireNotDropped(spark, root, Some(current), fields.map(_.name))
    val evolved0 = StructType(prev.fields ++
      fields.map(f => ColumnIds.stripIds(StructType(Seq(f))).head.copy(nullable = true)))
    // mapped tables: new columns get fresh ids past the high-water mark
    val evolved =
      if (ColumnIds.hasIds(prev))
        ColumnIds.completeIds(evolved0, colMaxIdOf(spark, root, current))
      else evolved0
    publish(spark, root, current + 1, op = "add_columns",
      Seq(s"#schema=${evolved.json}") ++
        checkLines(spark, root, Some(current)) ++
        carriedGuardLines(spark, root, Some(current)) ++
        dvEntries(spark, root, Some(current)) // vectors survive metadata commits
          .map { case (e, d) => dvLine(e, d) } ++
        manifestFiles(spark, root, current))
  }

  /** Record a named CHECK constraint as a metadata-only commit: every
    * FUTURE commit/merge/update batch must satisfy `expression` (SQL
    * CHECK semantics — NULL passes) or it aborts before writing data.
    * The current snapshot is validated first: a constraint existing rows
    * already violate is refused. Returns the new version. */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    expression: String): Long = {
    require(name.nonEmpty && !name.contains(':') && !name.contains('\n'),
      s"constraint name must be nonempty without ':' or newlines, got '$name'")
    require(!expression.contains('\n'), "constraint expression must be one line")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    require(!constraints(spark, root).exists(_._1 == name),
      s"constraint `$name` already exists (drop it first)")
    val snap = read(spark, root)
    require(violations(snap, expression).limit(1).isEmpty,
      s"existing rows violate CHECK `$name` ($expression) — constraint not added")
    // #tag lines are NOT carried (same rule as addColumns/restore: a
    // duplicated streaming tag in a metadata commit could fool replay
    // detection and misattribute the batch in history)
    publish(spark, root, vs.last + 1, op = "add_constraint",
      manifestLines(spark, root, vs.last).filterNot(_.startsWith("#tag="))
        :+ s"#check=$name:$expression")
  }

  /** Drop a named constraint as a metadata-only commit. */
  def dropConstraint(spark: SparkSession, root: String, name: String): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    require(constraints(spark, root).exists(_._1 == name),
      s"no constraint named `$name`")
    publish(spark, root, vs.last + 1, op = "drop_constraint",
      manifestLines(spark, root, vs.last)
        .filterNot(_.startsWith(s"#check=$name:"))
        .filterNot(_.startsWith("#tag="))) // same tag rule as addConstraint
  }

  /** The schema recorded in a snapshot's manifest (newest unless `asOf`);
    * None for manifests published before schema tracking. Recorded
    * all-nullable — the same shape parquet inference yields — so reading
    * through the recorded schema is behavior-identical for tables that
    * never evolved. */
  def snapshotSchema(spark: SparkSession, root: String,
                     asOf: Option[Long] = None): Option[StructType] = {
    val vs = versions(spark, root)
    asOf.orElse(vs.lastOption).filter(vs.contains).flatMap { v =>
      manifestLines(spark, root, v).find(_.startsWith("#schema="))
        .map(s => DataType.fromJson(s.stripPrefix("#schema=")).asInstanceOf[StructType])
    }
  }

  private def asNullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** The table's field-id high-water mark as of version `v` — the
    * `#colmaxid=` line the publish chokepoint maintains (falls back to
    * the ids visible in the version's schema for manifests written
    * before the line existed). Fresh ids are always assigned PAST this
    * mark, so an id retired by DROP is never reused. */
  private[graft] def colMaxIdOf(spark: SparkSession, root: String, v: Long): Long =
    manifestLines(spark, root, v).find(_.startsWith("#colmaxid="))
      .flatMap(_.stripPrefix("#colmaxid=").toLongOption)
      .orElse(manifestLines(spark, root, v).find(_.startsWith("#schema="))
        .map(s => ColumnIds.maxId(DataType.fromJson(s.stripPrefix("#schema="))
          .asInstanceOf[StructType])))
      .getOrElse(0L)

  /** Value-preserving type widenings the parquet VECTORIZED reader can
    * serve directly (probed on this Spark: INT32 files read as
    * long/double, FLOAT as double, DECIMAL re-scaled) — the lattice
    * Delta's type widening uses. byte/short/int may widen to any larger
    * integral or to double (every value exactly representable); long may
    * NOT widen to double (values past 2^53 would silently round); a
    * decimal may grow precision/scale as long as both the integer digits
    * (p-s) and the fraction digits (s) never shrink. */
  private[graft] def widens(from: org.apache.spark.sql.types.DataType,
                            to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.precision - b.scale >= a.precision - a.scale && b.scale >= a.scale
      case _ => false
    }
  }

  /** Schema evolution for append commits: existing columns keep their
    * order; a same-named column must keep its exact type OR move along
    * the [[widens]] lattice — in EITHER direction batch-vs-table (an int
    * batch appended to a long column reads widened; a long batch widens
    * the table's int column, old files read widened) — the recorded type
    * is the wider of the two. Anything off the lattice is rejected
    * loudly (old and new files would disagree about the same column).
    * New columns append after the existing ones (old files read them as
    * null); a batch missing an old column is allowed (ITS rows read as
    * null). A replace commit rewrites every file, so it may change
    * schema freely. */
  private def mergeSchemas(prev: StructType, next: StructType): StructType = {
    // match CASE-INSENSITIVELY, like Spark's default resolver: a batch
    // column differing only in case is the SAME column (it keeps the
    // table's recorded spelling) — a case-sensitive match would accept a
    // dual x/X schema that breaks every later case-insensitive read
    val nextByName = next.fields.map(f => f.name.toLowerCase -> f).toMap
    val prevNames = prev.fieldNames.map(_.toLowerCase).toSet
    val widened = prev.fields.map { pf =>
      nextByName.get(pf.name.toLowerCase) match {
        case None => pf
        // shape compare ignores field-id metadata riding the recorded
        // type's NESTED fields (the batch side arrives stripped)
        case Some(nf) if ColumnIds.sameShape(nf.dataType, pf.dataType) => pf
        case Some(nf) if widens(pf.dataType, nf.dataType) => pf.copy(dataType = nf.dataType)
        case Some(nf) if widens(nf.dataType, pf.dataType) => pf
        case Some(nf) => throw new IllegalArgumentException(
          s"column ${pf.name} changes type ${pf.dataType.simpleString} -> " +
            s"${nf.dataType.simpleString}, which is not a value-preserving " +
            "widening; append commits may only ADD columns or WIDEN types " +
            "(use replace = true to rewrite the table with a new type)")
      }
    }
    StructType(widened ++ next.fields.filterNot(f => prevNames(f.name.toLowerCase)))
  }

  /** Refuse a schema whose column names differ only in case — the table
    * matches columns case-insensitively (like Spark's default resolver),
    * so a dual x/X schema would be unreadable. mergeSchemas folds batch
    * columns onto EXISTING table columns, but two brand-new columns `x`
    * and `X` in one batch (or a first/replace commit carrying both) would
    * otherwise record exactly the schema the fold exists to prevent —
    * the same guard addColumns applies to its new fields. */
  private def requireNoCaseDups(s: StructType): Unit = {
    val dups = s.fieldNames.groupBy(_.toLowerCase).valuesIterator
      .filter(_.length > 1).map(_.mkString("/")).toSeq.sorted
    require(dups.isEmpty,
      s"schema has columns differing only in case: ${dups.mkString(", ")} — " +
        "versioned tables resolve columns case-insensitively; rename one side")
  }

  /** Plain (vector-blind) read of `files` (absolute paths) under `schema`
    * (footer-inferred when None): a V1 parquet relation over
    * [[StatsPrunedFileIndex]], so Catalyst-pushed equality, IN and range
    * filters skip file opens using the batch sidecars' min/max and bloom
    * filters — loaded only when a pushed filter can use them, never under
    * an identity-unstable (`#statsdead`) name. Every library read plans
    * through here; vectors are applied on top by [[liveWithKeys]]. */
  private def readWithSchema(spark: SparkSession, root: String,
                             schema: Option[StructType], files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    // a mapped (id-carrying) schema matches file columns BY ID, so files
    // written before a rename serve the renamed column correctly
    // (ensureReadConfs also turns nested pruning off when NESTED ids ride
    // the schema — pruned projections would null a renamed struct's
    // fields otherwise)
    schema.filter(ColumnIds.hasIds).foreach(ColumnIds.ensureReadConfs(spark, _))
    val index = StatsPrunedFileIndex.forFiles(spark, files,
      () => statsDeadColumns(spark, root))
    // the listing silently drops a missing root path; a snapshot file
    // that is gone must fail the read, as a path read would
    val listed = index.allFiles()
    if (listed.size < files.distinct.size) {
      val found = listed.map(_.getPath.toUri.getPath).toSet
      val missing = files.filterNot(u => found(new Path(u).toUri.getPath))
      throw new java.io.FileNotFoundException(
        s"snapshot file(s) missing at $root: ${missing.take(3).mkString(", ")}")
    }
    val format = new ParquetFileFormat
    // footer-inferred = legacy table: strip any ids inference may surface
    // (its files were not uniformly stamped by this module)
    val dataSchema = schema
      .orElse(format.inferSchema(spark, Map.empty, listed).map(ColumnIds.stripIds))
      .getOrElse(throw new IllegalArgumentException(
        s"cannot infer a schema for $root: no recorded schema and no data files"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      dataSchema.toNullable, None, format, Map.empty)(spark))
  }

  /** Commit `df` as the next version. `replace = true` makes the new
    * snapshot exactly `df`; `replace = false` appends: the snapshot is
    * the previous file list plus the new files (no data rewrite). The
    * rename of the temp manifest is the atomic commit point. Returns the
    * committed version number.
    *
    * `statsCols`: harvest per-file min/max for these columns from the
    * parquet footers (no data read) into the batch's sidecar, enabling
    * [[readPruned]] file skipping. The sidecar lands before the manifest
    * rename, so a published version always has its stats. */
  def commit(spark: SparkSession, df: DataFrame, root: String,
             replace: Boolean = false, tag: Option[String] = None,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             validateChecks: Boolean = true): Long =
      graft.JobDesc(spark, s"versioned commit: $root") {
    val mdir = manifestDir(root)
    val f = fs(spark, mdir)
    f.mkdirs(mdir)
    val prev = versions(spark, root)
    val next = prev.lastOption.getOrElse(0L) + 1
    val batchDir = new Path(dataDir(root), s"b$next")
    // reclaim debris from a writer that crashed before its rename commit
    // point: no committed manifest can reference b$next (v$next was never
    // published), so deleting it is safe under the single-writer policy.
    // RESIDUAL WINDOW (single-writer contract, stated not closed — see
    // placeBatchDir): this eager sweep could delete a RACING writer's
    // placed-but-unpublished b$next in the rename->publish sliver. The
    // merge-on-read writers refuse instead (requireBatchDirFree); this
    // path keeps the sweep because the restart-after-crash workflow
    // (VersionedSpec "a crash before the manifest rename is invisible")
    // depends on it. Racing same-version writers is out of contract
    // here — use the OCC surface.
    f.delete(batchDir, true)
    f.delete(new Path(mdir, s".v$next.txt.tmp"), false)
    // validate + record the snapshot schema BEFORE writing any data:
    // previous columns (validated additive) then new ones, all nullable.
    // A legacy table without a recorded schema pays one footer inference
    // here; every later commit reuses the manifest line.
    val carried =
      if (replace || prev.isEmpty) Seq.empty
      else manifestFiles(spark, root, prev.last)
    val prevSchema: Option[StructType] =
      if (replace || prev.isEmpty) None
      else snapshotSchema(spark, root, Some(prev.last)).orElse(Some(
        // footer-inferred = legacy table: strip any ids inference may
        // surface (its files were not uniformly stamped by this module)
        ColumnIds.stripIds(spark.read.parquet(
          carried.map(rel => resolveEntry(root, rel).toString): _*).schema)))
    // incoming batch ids are never trusted (see ColumnIds.stripIds);
    // carried fields keep theirs through mergeSchemas
    val batchSchema = ColumnIds.stripIds(asNullable(df.schema))
    val merged = prevSchema
      .map(p => mergeSchemas(p, batchSchema))
      .getOrElse(batchSchema)
    // field ids: a CREATE/REPLACE assigns them fresh (conf-gated, default
    // on); an append to a mapped table ids its new columns past the
    // high-water mark; an append to a legacy table stays legacy (the
    // upgrade path is one replace commit, which rewrites every file)
    val recorded =
      if (replace || prev.isEmpty) {
        if (ColumnIds.enabled(spark)) ColumnIds.completeIds(merged, 0L) else merged
      } else if (prevSchema.exists(ColumnIds.hasIds))
        ColumnIds.completeIds(merged, colMaxIdOf(spark, root, prev.last))
      else merged
    requireNoCaseDups(recorded) // fail BEFORE the data write, like statsCols
    // an append must not evolve a tombstoned column name back into the
    // schema (dropColumns resurrection hazard); replace sheds tombstones
    if (!replace) requireNotDropped(spark, root, prev.lastOption, df.columns.toSeq)
    // fail loudly on a misspelled stats column — BEFORE paying the data
    // write (a silent miss would permanently commit the batch without
    // stats, sidecars being immutable; an abort after the write wastes
    // the whole batch)
    val missingStats = statsCols.filterNot(df.columns.contains)
    require(missingStats.isEmpty,
      s"statsCols not in the committed schema: ${missingStats.mkString(", ")} " +
        s"(have ${df.columns.mkString(", ")})")
    // bloomCols get the same fail-BEFORE-the-write treatment: a typo'd or
    // float-typed bloom column must not cost a full batch write
    val missingBlooms = bloomCols.filterNot(df.columns.contains)
    require(missingBlooms.isEmpty,
      s"bloomCols not in the committed schema: ${missingBlooms.mkString(", ")}")
    val badBloomTypes = bloomCols.filter(c => df.columns.contains(c) &&
      !FileStats.bloomSupported(df.schema(c).dataType))
    require(badBloomTypes.isEmpty,
      s"bloomCols with unsupported types (float/double excluded by design): " +
        badBloomTypes.mkString(", "))
    // the batch lands in a writer-unique STAGING dir and moves to b$next
    // by one directory rename just before publish: two same-version
    // racers can then never interleave part files in one dir (the loser's
    // rename refuses the existing target and dies loud with its own data,
    // which the winner's manifest never saw). Orphaned staging debris is
    // referenced by nothing and vacuum's dead-dir sweep reclaims it.
    val staging = stagingDir(root, next)
    // stamp the recorded field ids into the written footers (no-op for
    // legacy tables) — the files must carry them for id-matched reads
    ColumnIds.stamp(df, recorded)
      .write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
    // CHECK constraints validate the WRITTEN files (one evaluation — a
    // non-deterministic source cannot slip violations past a pre-write
    // check) and discard the batch before anything publishes. They carry
    // across replace commits too (a replace dropping a checked column
    // makes the check vacuously NULL-pass, it is not silently removed).
    // validateChecks = false is reserved for pure re-layout maintenance
    // (compaction) whose rows are already-committed and valid by
    // induction.
    if (validateChecks)
      enforceConstraintsOnWritten(spark, root, staging, recorded, prev.lastOption)
    val newPaths = f.listStatus(staging).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
    if (statsCols.nonEmpty) {
      FileStats.writeSidecar(f, staging,
        FileStats.collect(spark.sparkContext.hadoopConfiguration, newPaths, statsCols))
    }
    harvestBlooms(spark, staging, newPaths, df, bloomCols)
    placeBatchDir(f, staging, batchDir, next)
    val newFiles = newPaths.map(p => s"data/b$next/${p.getName}")
    // deletion vectors follow their carried data files (an append must
    // never resurrect merge-on-read-deleted rows); a replace sheds them
    val prevDv =
      if (replace || prev.isEmpty) Map.empty[String, String]
      else dvEntries(spark, root, Some(prev.last))
    publish(spark, root, next, op = if (replace) "replace" else "append",
      tag.map(t => s"#tag=$t").toSeq ++ Seq(s"#schema=${recorded.json}")
        ++ checkLines(spark, root, prev.lastOption)
        // tombstones + stats-dead markers carry on appends; a replace
        // sheds both (its manifest stops referencing the files that held
        // the dropped values, and rewrites re-harvest every sidecar)
        ++ (if (replace) Seq.empty
            else carriedGuardLines(spark, root, prev.lastOption))
        ++ dvLinesForCarried(prevDv, carried)
        ++ carried ++ newFiles)
  }

  /** Compaction inputs whose deletion-vector state differs between the
    * prepare-time and publish-time snapshots — the merge-on-read arm of
    * [[compactSmallOcc]]'s conflict check. Both maps key by MANIFEST
    * entry string (the same derivation on both sides, so relative vs
    * absolute rendering can never mask a drift). */
  private[graft] def dvDrift(inputs: Set[String], base: Map[String, String],
                             cur: Map[String, String]): Set[String] =
    inputs.filter(r => cur.get(r) != base.get(r))

  /** Writer-unique staging dir for a single-writer batch targeting
    * version `next`. Unhidden on purpose: vacuum's dead-dir sweep
    * reclaims crash-orphaned staging (nothing live ever points here). */
  private def stagingDir(root: String, next: Long): Path =
    new Path(dataDir(root),
      s"bstage_${next}_${java.util.UUID.randomUUID.toString.take(8)}")

  /** Move a fully-written staging dir into its published name `b<next>`
    * — the single-writer batch "commit point" below the manifest rename.
    * A refused rename means a same-version second writer got there
    * first: die loud with OUR data deleted from staging, never
    * interleaved into the winner's directory.
    *
    * RESIDUAL WINDOW (single-writer contract, documented not closed): a
    * second same-version writer's crash-debris sweep can still delete a
    * first writer's PLACED-but-unpublished b<next> in the instants
    * between this rename and the manifest publish; the first writer's
    * publish would then reference deleted files. Staging shrinks the
    * vulnerable span from the whole batch write to that rename→publish
    * sliver; deployments that actually race writers must use the OCC
    * surface (unique dirs, no reclaim-by-name). */
  private def placeBatchDir(f: FileSystem, staging: Path, batchDir: Path,
                            next: Long): Unit = {
    if (!f.rename(staging, batchDir)) {
      f.delete(staging, true)
      throw new IllegalStateException(
        s"commit conflict: batch dir b$next already exists (second " +
          "same-version writer?) — nothing published; use commitOcc for " +
          "concurrent writers")
    }
  }

  /** The merge-on-read writers' pre-flight twin of [[placeBatchDir]]'s
    * conflict check: refuse a pre-existing `b<next>` loudly instead of
    * sweeping it as crash debris. An eager sweep here could delete a
    * RACING writer's placed-but-unpublished batch (re-widening the
    * residual window staging shrank to the rename→publish sliver);
    * genuine crash debris is referenced by no manifest and
    * [[vacuum]]'s dead-dir sweep reclaims it instead. */
  private def requireBatchDirFree(f: FileSystem, batchDir: Path,
                                  next: Long): Unit = {
    if (f.exists(batchDir))
      throw new IllegalStateException(
        s"commit conflict: batch dir b$next already exists (second " +
          "same-version writer?, or crash debris — run vacuum to reclaim " +
          "dead dirs) — nothing published; use commitOcc for concurrent " +
          "writers")
  }

  /** Per-root intra-JVM publish locks: on HDFS/object stores the
    * no-overwrite rename is itself atomic, but the local filesystem's
    * `File.renameTo` silently REPLACES an existing target, so the
    * exists-check + rename below is a TOCTOU window there. All of
    * Spark's local/driver-side writers share one JVM, so serializing the
    * check+rename per table root closes that window exactly where it
    * exists; cross-process local-FS racing remains out of contract
    * (deploy on a store with atomic no-overwrite rename).
    *
    * FILESYSTEM CONTRACT: the whole commit protocol assumes the
    * manifest publish is an atomic create-if-absent. Data files,
    * sidecars and staging dirs are write-once under unique names and
    * need nothing from the store; ONLY this step coordinates writers.
    * The step is pluggable — [[ManifestCommitter]], conf
    * `spark.graft.manifestCommitter` — so S3-class stores without
    * atomic rename supply a coordinating implementation (the Delta
    * LogStore / Iceberg catalog-swap pattern) instead of silently
    * corrupting under races. */
  private def publish(spark: SparkSession, root: String, next: Long,
                      op: String, lines: Seq[String]): Long = {
    val mdir = manifestDir(root)
    val f = fs(spark, mdir)
    f.mkdirs(mdir)
    // tmp name carries a uuid so two racing writers of the SAME version
    // never overwrite each other's staged body before the rename decides
    val tmp = new Path(mdir,
      s".v$next.${java.util.UUID.randomUUID.toString.take(8)}.txt.tmp")
    val out = f.create(tmp, true)
    // #op labels the commit for DESCRIBE HISTORY (append/replace/merge/
    // dv_delete/compact/restore/…) — every publisher names itself here,
    // so the label can never drift from the path that produced the
    // commit. Pre-labeling manifests read as null operation.
    // strip any carried-forward #op (metadata commits copy manifest lines
    // verbatim) so exactly one label — this commit's own — survives.
    // #colmaxid is recomputed HERE, at the one place every manifest passes
    // through: the monotone high-water mark of every field id the table
    // has ever assigned. It must never decrease — a DROP removes the id
    // from the schema while carried files still physically hold its
    // values, and reusing it for a later column would resurrect them
    // through the id-matched read.
    // every publish site targets exactly head+1 (or 1 into an empty
    // clone target), so the previous manifest always exists; a failure
    // reading it must be LOUD — silently falling back to a lower mark
    // would let a retired id be reassigned later (the resurrection this
    // line exists to prevent). Incoming #colmaxid lines participate in
    // the max (not just get stripped): restore republishes an old
    // manifest's line, and clone carries its SOURCE's high-water so ids
    // retired by the source's drops stay retired in the clone, whose
    // carried files still physically hold their values.
    val prevMaxId = if (next <= 1) 0L else colMaxIdOf(spark, root, next - 1)
    val schemaMaxId = lines.find(_.startsWith("#schema="))
      .map(s => ColumnIds.maxId(DataType.fromJson(s.stripPrefix("#schema="))
        .asInstanceOf[StructType])).getOrElse(0L)
    val incomingMaxId = lines.filter(_.startsWith("#colmaxid="))
      .flatMap(_.stripPrefix("#colmaxid=").toLongOption)
      .maxOption.getOrElse(0L)
    val maxId = math.max(math.max(prevMaxId, schemaMaxId), incomingMaxId)
    val idLine = if (maxId > 0) Seq(s"#colmaxid=$maxId") else Seq.empty
    val body = s"#op=$op" +: (idLine ++
      lines.filterNot(l => l.startsWith("#op=") || l.startsWith("#colmaxid=")))
    try out.write(body.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = new Path(mdir, s"v$next.txt")
    // second-writer detection delegated to the committer (default:
    // HDFS-style no-overwrite rename, per-root JVM lock for local FS —
    // the OCC retry path catches this exception and re-derives)
    val won = ManifestCommitter.resolve(spark).commit(f, tmp, target, root)
    if (!won) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"commit conflict: v$next already published at $root (second writer?)")
    }
    next
  }

  /** Absolute data-file paths of a snapshot (newest unless `asOf`) — the
    * resolution step shared by [[read]] and the DataSource V2 format
    * ([[VersionedDataSource]]): resolving the manifest ONCE here is what
    * makes every downstream consumer snapshot-isolated. */
  def snapshotFiles(spark: SparkSession, root: String,
                    asOf: Option[Long] = None): Seq[String] = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root " +
      "(bootstrap with Versioned.commit / mergeInto, or CREATE TABLE " +
      "through the catalog)")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not found at $root (have ${vs.mkString(",")})")
    manifestFiles(spark, root, v).map(rel => resolveEntry(root, rel).toString)
  }

  /** Absolute paths of the data files ADDED between `fromV` (exclusive)
    * and `toV` (inclusive, default newest) — may be empty. */
  def changedFiles(spark: SparkSession, root: String, fromV: Long,
                   toV: Option[Long] = None): Seq[String] = {
    val vs = versions(spark, root)
    require(vs.contains(fromV), s"version $fromV not found at $root")
    val to = toV.getOrElse(vs.last)
    require(vs.contains(to), s"version $to not found at $root")
    require(to >= fromV, s"to=$to earlier than from=$fromV")
    val before = manifestFiles(spark, root, fromV).toSet
    manifestFiles(spark, root, to).filterNot(before)
      .map(rel => resolveEntry(root, rel).toString)
  }

  /** Read the newest snapshot, or `asOf` a specific version. Reads through
    * the manifest-recorded schema, so after additive evolution old files
    * surface the added columns as null (and time travel to a pre-evolution
    * version shows that version's schema, not today's). Deletion vectors
    * ([[deleteWhereDv]]) are applied: logically-deleted rows never
    * surface. The version is resolved ONCE so schema, file list and
    * vectors always describe the same snapshot. */
  def read(spark: SparkSession, root: String, asOf: Option[Long] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root " +
      "(bootstrap with Versioned.commit / mergeInto, or CREATE TABLE " +
      "through the catalog)")
    val v = asOf.getOrElse(vs.last)
    readFilesDv(spark, root, snapshotSchema(spark, root, Some(v)),
      snapshotFiles(spark, root, Some(v)), dvEntries(spark, root, Some(v)))
  }

  // ------------------------------------------- deletion vectors (merge-on-read)
  //
  // The copy-on-write DELETE (deleteWhere) rewrites every file containing a
  // match — the right trade when deletes are clustered (retention) but a
  // disaster for scattered point-deletes: removing 1 row from each of
  // 10,000 files rewrites 10,000 files. deleteWhereDv instead records the
  // dead row ORDINALS in a per-file sidecar vector ([[Dv]]) and publishes a
  // metadata-sized commit; readers apply the vectors as a row filter on
  // (file, `_metadata.row_index`) inside the scan ([[liveWithKeys]],
  // [[DvLive]]; a shuffle anti-join past spark.graft.dv.broadcastRows),
  // and the rewrite cost is deferred to dvMaterialize/compaction where it
  // amortizes. This is Delta's deletion vectors / Iceberg's position
  // deletes, restated for the manifest protocol. Manifest directive per
  // affected file:
  //
  //   #dv=<data-file-entry>\t<vector-entry>
  //
  // Vectors are immutable once published (a second delete writes the UNION
  // as a new vector); vacuum GCs unreferenced ones. Consumers that cannot
  // apply vectors — the DSv2 scan (native parquet path) and the versioned
  // micro-batch stream — REFUSE a vectored snapshot loudly rather than
  // resurrect deleted rows; that is the same reader-feature gate lake
  // formats version their protocol with.

  private val DvPrefix = "#dv="

  /** Data-file entry -> deletion-vector entry recorded in a snapshot's
    * manifest (newest unless `asOf`); empty when the snapshot carries no
    * deletion vectors. Entries are manifest-relative (or absolute for
    * shallow clones), resolvable with the same rules as data files. */
  def dvEntries(spark: SparkSession, root: String,
                asOf: Option[Long] = None): Map[String, String] = {
    val vs = versions(spark, root)
    if (vs.isEmpty && asOf.isEmpty) return Map.empty // bootstrap: no table yet
    val v = asOf.getOrElse(vs.last)
    // an explicitly requested unknown version fails LOUD like
    // snapshotFiles — silently answering "no vectors" for a vacuumed
    // manifest would let a lagging consumer resurrect deleted rows
    require(vs.contains(v),
      s"version $v not found at $root (have ${vs.mkString(",")}) — " +
        "vacuumed past a consumer's offset?")
    manifestLines(spark, root, v).filter(_.startsWith(DvPrefix)).map { l =>
      val body = l.stripPrefix(DvPrefix)
      val i = body.indexOf('\t')
      require(i > 0, s"malformed #dv manifest line in v$v at $root")
      body.substring(0, i) -> body.substring(i + 1)
    }.toMap
  }

  private def dvLine(dataEntry: String, dvEntry: String): String =
    s"$DvPrefix$dataEntry\t$dvEntry"

  /** The #dv lines a commit carrying `carried` must republish: vectors
    * follow their data file; files rewritten or dropped shed theirs. */
  private def dvLinesForCarried(dv: Map[String, String],
                                carried: Seq[String]): Seq[String] =
    if (dv.isEmpty) Seq.empty
    else carried.flatMap(rel => dv.get(rel).map(d => dvLine(rel, d)))

  /** Last two path segments ("b3/part-...parquet") — the join key between
    * a vector's target file and `_metadata.file_path` (whose URI rendering
    * differs from Path.toString, so full-string equality would be
    * brittle). Batch dir names are unique per table and part-file names
    * carry UUIDs, so the suffix identifies a file within one read. */
  private def pathSuffix(abs: String): String = {
    val p = new Path(abs)
    s"${p.getParent.getName}/${p.getName}"
  }

  /** (file-suffix, ordinal) pairs of every deleted row across `vectors`
    * (suffix -> vector absolute path), parsed on executors — the build
    * side of the shuffle anti-join [[liveWithKeys]] falls back to past
    * `spark.graft.dv.broadcastRows`; only names cross the driver. */
  private def deletedPairs(spark: SparkSession,
                           vectors: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.createDataset(vectors)
      .flatMap { case (sfx, dvPath) =>
        val p = new Path(dvPath)
        Dv.read(p.getFileSystem(conf.value), p).iterator.map(o => (sfx, o))
      }.toDF("__graft_sfx", "__graft_ord")
  }

  /** Attach the vector join keys to a raw parquet read: the file suffix
    * and the row's ordinal within its file (`_metadata.row_index` — the
    * same ordinal the vectors record, by construction on both sides). */
  private def withDvKeys(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, substring_index}
    df.withColumn("__graft_sfx",
        substring_index(col("_metadata.file_path"), "/", -2))
      .withColumn("__graft_ord", col("_metadata.row_index"))
  }

  /** Read `files` (absolute paths) with any deletion vectors in `dv`
    * applied — the vector-applying twin of [[readWithSchema]] behind
    * [[read]], time travel, [[readChanges]] and every copy-on-write
    * rewrite. One scan over all of `files` (pushed filters still prune
    * through the shared file index); see [[liveWithKeys]] for how the
    * vectors are applied. */
  private def readFilesDv(spark: SparkSession, root: String,
                          schema: Option[StructType], files: Seq[String],
                          dv: Map[String, String]): DataFrame =
    if (oldDvBySfx(root, dv, files).isEmpty) readWithSchema(spark, root, schema, files)
    else liveWithKeys(spark, root, schema, files, dv).drop("__graft_sfx", "__graft_ord")

  /** Merge-on-read row-level DELETE: rows where `predicate` is TRUE are
    * recorded dead in per-file deletion vectors; FALSE and NULL stay (SQL
    * DELETE semantics, same as [[deleteWhere]]). NO data file is written
    * or rewritten — the commit is vectors + manifest — so a point-delete
    * scattered across 10,000 files of a 100 TB table costs 10,000 tiny
    * sidecars, not 10,000 file rewrites. The stats fast paths still
    * apply first: a file whose sidecar PROVES every row matches drops
    * from the manifest with zero I/O (no vector needed), and a file
    * proven match-free is never probed. A vector that grows to cover a
    * file's every row drops the FILE too (footer row-count check), so
    * fully-deleted files never linger as 100%-dead vectors.
    *
    * Readers: [[read]]/[[readPruned]]/copy-on-write ops apply vectors
    * transparently; the DSv2 scan and the versioned stream REFUSE a
    * vectored snapshot loudly (see the section comment) until
    * [[dvMaterialize]] folds the vectors in. Time travel to pre-delete
    * versions still shows the rows. Returns the new version, or the
    * current one untouched if nothing matched. */
  def deleteWhereDv(spark: SparkSession, root: String,
                    predicate: org.apache.spark.sql.Column): Long =
      graft.JobDesc(spark, s"versioned deleteWhereDv: $root") {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val current = vs.last
    val next = current + 1
    val schema = snapshotSchema(spark, root, Some(current))
    val files = snapshotFiles(spark, root, Some(current))
    val dvNow = dvEntries(spark, root, Some(current))
    val f = fs(spark, new Path(root))
    // same stats-proof split as the copy-on-write core: provable
    // all-match files drop whole (their live rows all match — stats cover
    // a superset of the live rows, so the proof carries over vectors),
    // provable no-match files are never probed
    val conjuncts = StatsProofs.parseColumn(predicate)
    // lazy: a non-provable predicate never opens a sidecar
    lazy val statsOf = statsByFile(spark, root, files)
    val (allMatch, rest) = conjuncts match {
      case Some(cs) => files.partition(p => StatsProofs.allRowsMatch(statsOf(p), cs))
      case None => (Seq.empty[String], files)
    }
    val (_, undecided) = conjuncts match {
      case Some(cs) => rest.partition(p => StatsProofs.noRowMatches(statsOf(p), cs))
      case None => (Seq.empty[String], rest)
    }
    // find the LIVE matching rows (already-dead ordinals excluded — a
    // vector must never double-count) and their ordinals, per file
    val written: Seq[(String, String, Long)] =
      if (undecided.isEmpty) Seq.empty
      else {
        val batchDir = new Path(dataDir(root), s"b$next")
        requireBatchDirFree(f, batchDir, next)
        // vectors land in staging and move to b$next by one rename —
        // same two-writer interleaving defense as commit()
        val staging = stagingDir(root, next)
        f.mkdirs(staging)
        val doomed = liveWithKeys(spark, root, schema, undecided, dvNow)
          .filter(predicate)
        val out = writeVectors(spark, root, staging, doomed,
          oldDvBySfx(root, dvNow, undecided), "DV delete")
        if (out.isEmpty) f.delete(staging, true)
        else placeBatchDir(f, staging, batchDir, next)
        out
      }
    if (written.isEmpty && allMatch.isEmpty) return current
    publishDvCommit(spark, root, next, schema, Some(current), files, dvNow,
      written, allMatch, newFiles = Seq.empty, tag = None, op = "dv_delete")
  }

  /** The existing-vector (suffix -> vector abs path) slice relevant to
    * `files` — what [[writeVectors]] must union into fresh vectors. */
  private def oldDvBySfx(root: String, dv: Map[String, String],
                         files: Seq[String]): Map[String, String] = {
    val dvAbs: Map[String, String] = dv.map { case (e, d) =>
      resolveEntry(root, e).toString -> resolveEntry(root, d).toString }
    files.collect { case u if dvAbs.contains(u) =>
      pathSuffix(u) -> dvAbs(u)
    }.toMap
  }

  /** Read `files` with existing vectors applied, KEEPING the vector join
    * keys (`__graft_sfx`, `__graft_ord`) — the probe frame every
    * merge-on-read writer filters to find its doomed rows, and (keys
    * dropped) [[readFilesDv]]. While the vectors' total cardinality (from
    * their fixed headers — priced before any parse) stays under
    * `spark.graft.dv.broadcastRows` (default 4M), the regime vectors exist
    * for, they are decoded once on the driver, shipped in ONE broadcast
    * variable and applied as a row filter inside the scan's stage
    * ([[DvLive]]) — no join, no build-side job, and the scan keeps its
    * file pruning. Past it, the executors parse the vectors and a
    * shuffle anti-join on (file, ordinal) drops the dead rows (past it,
    * materialize). */
  private def liveWithKeys(spark: SparkSession, root: String,
                           schema: Option[StructType], files: Seq[String],
                           dv: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = withDvKeys(readWithSchema(spark, root, schema, files))
    val vectors = oldDvBySfx(root, dv, files).toSeq
    if (vectors.isEmpty) return base
    val hconf = spark.sparkContext.hadoopConfiguration
    def vecFs(p: Path) = p.getFileSystem(hconf)
    val total = MetaPar.parMap(vectors) { case (_, d) =>
      val p = new Path(d); Dv.count(vecFs(p), p)
    }.sum
    val limit = spark.conf.get("spark.graft.dv.broadcastRows", "4000000").toLong
    if (total <= limit) {
      val dead = MetaPar.parMap(vectors) { case (sfx, d) =>
        val p = new Path(d); sfx -> Dv.read(vecFs(p), p)
      }.toMap
      base.filter(DvLive.column(col("__graft_sfx"), col("__graft_ord"),
        spark.sparkContext.broadcast(dead)))
    } else base.join(deletedPairs(spark, vectors), Seq("__graft_sfx", "__graft_ord"), "left_anti")
  }

  /** Write one merged deletion vector per file holding a `doomed` row
    * (frame must carry `__graft_sfx`/`__graft_ord`), into `batchDir`.
    * Vectors are written by the executors that hold each file's ordinals
    * — the driver sees one (suffix, vectorName, mergedCount) row per
    * touched file, bounded like every touched-file collect. The caller
    * owns batchDir cleanup on abort/no-op. */
  private def writeVectors(spark: SparkSession, root: String, batchDir: Path,
                           doomed: DataFrame, oldBySfx: Map[String, String],
                           what: String): Seq[(String, String, Long)] = {
    import org.apache.spark.sql.functions.{col, collect_list, sort_array}
    import spark.implicits._
    val hits = doomed
      .groupBy(col("__graft_sfx"))
      .agg(sort_array(collect_list(col("__graft_ord"))).as("__graft_ords"))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val batchDirStr = batchDir.toString
    val out = hits.as[(String, Seq[Long])].map { case (sfx, ords) =>
      val fsx = new Path(batchDirStr).getFileSystem(conf.value)
      val fresh = ords.toArray
      val merged = oldBySfx.get(sfx) match {
        case Some(old) => Dv.union(Dv.read(fsx, new Path(old)), fresh)
        case None => fresh
      }
      val name = sfx.replace('/', '_') + Dv.Suffix
      Dv.write(fsx, new Path(new Path(batchDirStr), name), merged)
      (sfx, name, merged.length.toLong)
    }.collect().toSeq
    val cap = spark.conf.get("spark.graft.maxTouchedFiles", "1000000").toInt
    if (out.length > cap) {
      fs(spark, batchDir).delete(batchDir, true)
      throw new IllegalArgumentException(
        s"$what touches ${out.length} files " +
          s"(> spark.graft.maxTouchedFiles=$cap); narrow the predicate / " +
          "source key range, or use the copy-on-write form in ranges")
    }
    out
  }

  /** Shared publish step of the merge-on-read writers: fold the freshly
    * written vectors (and provable whole-file drops) into the manifest,
    * carry everything else, append `newFiles` (the update/merge writers'
    * appended batch). A vector covering a file's EVERY row drops the
    * FILE instead (footer row-count check, keyed by suffix so the check
    * can never read another batch's footer). */
  private def publishDvCommit(spark: SparkSession, root: String, next: Long,
                              schema: Option[StructType], prev: Option[Long],
                              files: Seq[String], dvNow: Map[String, String],
                              written: Seq[(String, String, Long)],
                              allMatch: Seq[String], newFiles: Seq[String],
                              tag: Option[String], op: String): Long = {
    val relBySfx: Map[String, String] = files.map { abs =>
      pathSuffix(abs) -> relativize(spark, root, abs)
    }.toMap
    // BOUNDED: the check is an optimization (a 100%-dead vector is
    // correct, just wasteful — materialize reclaims it later), so past
    // the cap we skip the footer reads rather than pay driver-serial
    // opens for every touched file of a very wide delete
    val fullCheckMax =
      spark.conf.get("spark.graft.dv.fullFileCheckMax", "10000").toInt
    val rowsBySfx: Map[String, Long] =
      if (written.isEmpty || written.size > fullCheckMax) Map.empty
      else {
        // one batched footer pass per batch dir (names are unique within
        // a dir, so the per-dir keying cannot collide across batches)
        val bySfx = files.map(abs => pathSuffix(abs) -> abs).toMap
        written.map(w => new Path(bySfx(w._1))).groupBy(_.getParent)
          .flatMap { case (dir, ps) =>
            FileStats.rowCounts(spark.sparkContext.hadoopConfiguration, ps)
              .map { case (name, n) => s"${dir.getName}/$name" -> n }
          }
      }
    val fullyDead: Set[String] = written.collect {
      case (sfx, _, cnt) if rowsBySfx.get(sfx).contains(cnt) => sfx
    }.toSet
    val droppedRel: Set[String] =
      allMatch.map(relativize(spark, root, _)).toSet ++ fullyDead.map(relBySfx)
    val newDvByRel: Map[String, String] = written.collect {
      case (sfx, name, _) if !fullyDead.contains(sfx) =>
        relBySfx(sfx) -> s"data/b$next/$name"
    }.toMap
    val keptFiles = files.map(relativize(spark, root, _)).filterNot(droppedRel)
    val dvLines = keptFiles.flatMap { rel =>
      newDvByRel.get(rel).orElse(dvNow.get(rel)).map(d => dvLine(rel, d))
    }
    publish(spark, root, next, op,
      tag.map(t => s"#tag=$t").toSeq
        ++ schema.map(s => s"#schema=${s.json}").toSeq
        ++ checkLines(spark, root, prev)
        ++ carriedGuardLines(spark, root, prev)
        ++ dvLines ++ keptFiles ++ newFiles)
  }

  /** Merge-on-read row-level UPDATE: matching live rows are recorded dead
    * in deletion vectors and their UPDATED copies append as a new batch —
    * one atomic commit, NO existing file rewritten. Where the
    * copy-on-write [[updateWhere]] rewrites every file containing a match
    * (right when matches cluster), this touches vectors + the appended
    * batch only — right when a predicate grazes many files (at 100 TB,
    * updating one row in each of 10,000 files appends one small batch
    * and 10,000 tiny vectors instead of rewriting 10,000 files; Delta's
    * deletion-vector UPDATE path makes the same trade). Assignment
    * semantics are [[updateWhere]]'s: simultaneous assignment against the
    * OLD row. CHECK constraints validate the appended batch; stats/bloom
    * sidecars are re-harvested on it so pruning survives. The
    * DETERMINISM assumption of two traversals (vector write + batch
    * write read the matching rows twice) holds because the source is
    * committed parquet. Returns the new version (unchanged if nothing
    * matched). */
  def updateWhereDv(spark: SparkSession, root: String,
                    predicate: org.apache.spark.sql.Column,
                    assignments: Map[String, org.apache.spark.sql.Column]): Long =
      graft.JobDesc(spark, s"versioned updateWhereDv: $root") {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "updateWhereDv needs at least one assignment")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val current = vs.last
    val next = current + 1
    val schema = snapshotSchema(spark, root, Some(current))
    val files = snapshotFiles(spark, root, Some(current))
    val dvNow = dvEntries(spark, root, Some(current))
    val f = fs(spark, new Path(root))
    // an UPDATE needs the matching ROWS (to write their updated copies),
    // so only the provable no-match files skip the probe; all-match files
    // are probed like undecided ones — their every live row is doomed
    val conjuncts = StatsProofs.parseColumn(predicate)
    val probeFiles = conjuncts match {
      case Some(cs) =>
        val statsOf = statsByFile(spark, root, files)
        files.filterNot(p => StatsProofs.noRowMatches(statsOf(p), cs))
      case None => files
    }
    if (probeFiles.isEmpty) return current
    val live = liveWithKeys(spark, root, schema, probeFiles, dvNow)
    val missing = assignments.keySet.filterNot(live.columns.contains)
    require(missing.isEmpty,
      s"updateWhereDv assigns to absent column(s): ${missing.mkString(", ")}")
    val doomed = live.filter(coalesce(predicate, lit(false)))
    val batchDir = new Path(dataDir(root), s"b$next")
    requireBatchDirFree(f, batchDir, next)
    // staging + rename: same two-writer interleaving defense as commit()
    val staging = stagingDir(root, next)
    f.mkdirs(staging)
    val written = writeVectors(spark, root, staging, doomed,
      oldDvBySfx(root, dvNow, probeFiles), "DV update")
    if (written.isEmpty) { f.delete(staging, true); return current }
    // the updated copies: same simultaneous-assignment SELECT as
    // updateWhere (all assignments read the OLD row), data columns only
    val dataCols = live.columns.filterNot(_.startsWith("__graft_")).toSeq
    val updated = doomed.select(dataCols.map { c =>
      assignments.get(c) match {
        case Some(v) => v.as(c)
        case None => col(c)
      }
    }: _*)
    // the appended copies are read under the TABLE schema: an assignment
    // that retypes its column would misread later — refuse (cast the
    // value expression instead), unlike the copy-on-write path where
    // when/otherwise coercion surfaces at analysis
    val tableTypes = schema.getOrElse(
      StructType(live.schema.fields.filterNot(_.name.startsWith("__graft_"))))
    updated.schema.fields.foreach { fd =>
      require(fd.dataType == tableTypes(fd.name).dataType,
        s"assignment retypes column ${fd.name}: table " +
          s"${tableTypes(fd.name).dataType.simpleString} vs " +
          s"${fd.dataType.simpleString} — cast the assignment value")
    }
    appendDvBatch(spark, root, staging, updated, schema, current, files, next)
      .fold(abortT => { f.delete(staging, true); throw abortT },
        newFiles => {
          placeBatchDir(f, staging, batchDir, next)
          publishDvCommit(spark, root, next, schema, Some(current),
            files, dvNow, written, allMatch = Seq.empty, newFiles, tag = None,
            op = "dv_update")
        })
  }

  /** Merge-on-read keyed MERGE (upsert shape): matched target rows are
    * recorded dead in deletion vectors and the WHOLE source appends as
    * one batch — matched keys thereby replaced, unmatched keys inserted,
    * in one atomic commit with NO existing file rewritten. The
    * [[mergeInto]] semantics (duplicate source keys rejected, null keys
    * never match and insert, absent table bootstraps, newest-tag replay
    * guard) and its source handling ([[mergeSource]]: a small source —
    * by plan estimate, else by measured size — is pinned on the driver,
    * its key values prune the probe through stats and blooms, and its
    * batch lands as one file) carry over; what
    * changes is the write shape: a daily 1,000-row upsert into a 100 TB
    * table appends one small batch plus tiny vectors instead of
    * rewriting every touched file. Source columns must match
    * the table exactly (no schema evolution on this path — evolve with
    * an append commit or the copy-on-write merge first). */
  def mergeIntoDv(spark: SparkSession, root: String, source: DataFrame,
                  keys: Seq[String], tag: Option[String] = None): Long =
      graft.JobDesc(spark, s"versioned mergeIntoDv: $root") {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(keys.nonEmpty, "mergeIntoDv needs at least one key column")
    val missingKeys = keys.filterNot(source.columns.contains)
    require(missingKeys.isEmpty,
      s"source is missing key column(s): ${missingKeys.mkString(", ")}")
    val vs = versions(spark, root)
    if (tag.isDefined && vs.nonEmpty && committedTag(spark, root) == tag)
      return vs.last
    if (vs.isEmpty) {
      // CREATE path: standalone dup check, as in [[mergeInto]]
      val keyed = keys.map(col(_).isNotNull).reduce(_ && _)
      val dupKeys = source.filter(keyed).groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
      require(dupKeys == 0, dupKeyMsg(keys))
      return commit(spark, source, root, tag = tag)
    }
    val current = vs.last
    val next = current + 1
    val schema = snapshotSchema(spark, root, Some(current))
    val files = snapshotFiles(spark, root, Some(current))
    val dvNow = dvEntries(spark, root, Some(current))
    val tableSchema: StructType =
      schema.getOrElse(readWithSchema(spark, root, None, files).schema)
    val snapshotCols = tableSchema.fieldNames.toSeq
    val extra = source.columns.filterNot(snapshotCols.contains)
    require(extra.isEmpty,
      s"source has column(s) absent from the table: ${extra.mkString(", ")} " +
        "(no schema evolution on the merge-on-read path — evolve first)")
    val absent = snapshotCols.filterNot(source.columns.contains)
    require(absent.isEmpty,
      s"source is missing table column(s): ${absent.mkString(", ")} " +
        "(a matched row is replaced WHOLE — every column must be supplied)")
    // exact types: the appended batch is read under the TABLE schema, so
    // a drifted source type would misread or null out — refuse, like
    // mergeInto without evolution
    snapshotCols.foreach { c =>
      require(source.schema(c).dataType == tableSchema(c).dataType,
        s"column $c type mismatch: table ${tableSchema(c).dataType.simpleString} " +
          s"vs source ${source.schema(c).dataType.simpleString} (cast the source)")
    }
    val f = fs(spark, new Path(root))
    // the probe and the batch write must see ONE evaluation of the
    // source (same rationale as mergeInto)
    val src = mergeSource(spark, root, source.select(snapshotCols.map(col): _*), keys, files,
      trackedStatsCols(spark, root, files))
    try {
      if (src.isEmpty) return current
      val batchDir = new Path(dataDir(root), s"b$next")
      requireBatchDirFree(f, batchDir, next)
      // staging + rename: same two-writer interleaving defense as commit()
      val staging = stagingDir(root, next)
      f.mkdirs(staging)
      val written =
        if (src.probeFiles.isEmpty) Seq.empty[(String, String, Long)]
        else writeVectors(spark, root, staging,
          src.matched(liveWithKeys(spark, root, schema, src.probeFiles, dvNow)),
          oldDvBySfx(root, dvNow, src.probeFiles), "DV merge")
      appendDvBatch(spark, root, staging, src.df, schema, current, files, next, src.pinned)
        .fold(abortT => { f.delete(staging, true); throw abortT },
          newFiles => {
            placeBatchDir(f, staging, batchDir, next)
            publishDvCommit(spark, root, next, schema, Some(current),
              files, dvNow, written, allMatch = Seq.empty, newFiles, tag,
              op = "dv_merge")
          })
    } finally src.release()
  }

  /** Per-file sidecar stats of a snapshot, empty maps where absent — the
    * shared lookup behind the stats proofs. Entries under an
    * identity-unstable name (see [[statsDeadLines]]: a mapped DROP's or
    * RENAME's vacated name) are filtered OUT here, so the load-bearing
    * proofs ([[StatsProofs.allRowsMatch]]'s whole-file DELETE drop above
    * all) degrade to scanning those files instead of trusting min/max/
    * nulls that describe a column the name no longer denotes. */
  private def statsByFile(spark: SparkSession, root: String,
                          files: Seq[String],
                          preloaded: Option[Map[Path, Map[String, Map[String, FileStats.ColStats]]]] = None)
      : Map[String, Map[String, FileStats.ColStats]] = {
    val dead = statsDeadColumns(spark, root)
    val f = fs(spark, new Path(root))
    // `preloaded` lets a caller that already paid the per-dir sidecar
    // reads (rewriteTouched shares them with its tracked-column union)
    // reuse them — there must be exactly ONE implementation of
    // "sidecar stats minus the dead names": a second inline copy of
    // this filter is how the r11 guard missed the copy-on-write path
    val sideByDir = preloaded.getOrElse(
      files.map(new Path(_)).groupBy(_.getParent).map {
        case (dir, _) => dir -> FileStats.readSidecar(f, dir)
      })
    files.map { s =>
      val p = new Path(s)
      s -> sideByDir(p.getParent).getOrElse(p.getName, Map.empty)
        .filter { case (c, _) => !dead.contains(c.toLowerCase) }
    }.toMap
  }

  /** Write the merge-on-read writers' appended batch (updated copies /
    * merge source) as parquet files into the SAME batch dir that holds
    * the fresh vectors, validate CHECK constraints against the written
    * files, and re-harvest the table's tracked stats/bloom sidecars.
    * `pinned`: the batch's rows when they are already on the driver (a
    * pinned merge source, see [[mergeSource]]) — a batch written as one
    * file then gets its blooms built from those rows ([[driverBlooms]])
    * instead of a harvest pass over the written file.
    * Returns Left(cause) when validation fails (caller deletes the batch
    * dir and rethrows — nothing published), Right(relative entries)
    * otherwise. */
  private def appendDvBatch(spark: SparkSession, root: String, batchDir: Path,
                            batch: DataFrame, schema: Option[StructType],
                            current: Long, files: Seq[String],
                            next: Long,
                            pinned: Option[IndexedSeq[org.apache.spark.sql.catalyst.InternalRow]] = None)
      : Either[Throwable, Seq[String]] = {
    val f = fs(spark, batchDir)
    // the dir already exists (vectors landed first): write the parquet
    // files via a staging subdir + move, keeping ErrorIfExists semantics
    // per part file without clobbering the vectors
    val staging = new Path(batchDir, ".batch")
    try {
      // merge-on-read batches join a snapshot whose other files carry
      // ids — stamp from the snapshot schema so the new files agree
      val stamped = schema.filter(ColumnIds.hasIds)
        .map(s => ColumnIds.stamp(batch, s)).getOrElse(batch)
      stamped.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val parts = f.listStatus(staging).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      parts.foreach { p =>
        if (!f.rename(p, new Path(batchDir, p.getName)))
          throw new java.io.IOException(
            s"could not place ${p.getName} into ${batchDir.getName}")
      }
      f.delete(staging, true)
      val newPaths = f.listStatus(batchDir).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      // strip any ids riding in on the batch frame's lineage: on a
      // legacy (no-recorded-schema) table the staged files carry no
      // ids, and an id-bearing recorded schema would make the CHECK
      // read refuse them
      val recorded = schema.getOrElse(
        ColumnIds.stripIds(asNullable(batch.schema)))
      // explicit paths: the dir already holds the staged .dv sidecars,
      // which a directory-wide parquet read would choke on. An empty
      // write (0-row batch producing no part files) has nothing to
      // violate.
      if (newPaths.nonEmpty)
        enforceConstraintsOnWritten(spark, root, batchDir, recorded, Some(current),
          dataPaths = Some(newPaths))
      val statsCols = trackedStatsCols(spark, root, files)
        .filter(batch.columns.contains)
      if (statsCols.nonEmpty && newPaths.nonEmpty)
        FileStats.writeSidecar(f, batchDir,
          FileStats.collect(spark.sparkContext.hadoopConfiguration, newPaths, statsCols))
      val bloomCols = trackedBloomCols(spark, root, files).filter(c =>
        batch.columns.contains(c) && FileStats.bloomSupported(batch.schema(c).dataType))
      (pinned, newPaths) match {
        case (Some(rows), Seq(one)) if bloomCols.nonEmpty =>
          mergeBloomSidecar(f, batchDir, bloomCols,
            Map(one.getName -> driverBlooms(spark, rows, batch.schema, bloomCols)))
        case _ => harvestBlooms(spark, batchDir, newPaths, batch, bloomCols)
      }
      // entries name the PUBLISHED dir (b<next>), not the staging dir the
      // files currently sit in — the caller's rename makes them true
      Right(newPaths.map(p => s"data/b$next/${p.getName}"))
    } catch {
      case t: Throwable => Left(t)
    }
  }

  /** Fold deletion vectors into their data files: the selected vectored
    * files are rewritten without their dead rows (one job over exactly
    * those files), everything else carries by reference. The compaction
    * half of the merge-on-read bargain; schedule it when vectors
    * accumulate (describeDetail reports their count and cardinality).
    *
    * `minDeadRatio` is the 100 TB maintenance knob: only files whose
    * dead-row fraction (vector cardinality / footer row count — priced
    * from headers, zero data pages) reaches the threshold are rewritten;
    * lighter files KEEP their vectors. Rewriting a 1 GB file to drop 3
    * rows costs 1 GB of write amplification for nothing — the Delta/
    * Iceberg guidance is the same (rewrite at ~5–30% dead). The default
    * 0.0 rewrites every vectored file, producing a vector-free snapshot
    * that re-admits the table to the vector-free consumers (DSv2 scan,
    * versioned stream); with a higher threshold those consumers keep
    * refusing until a final full materialize. Returns the new version
    * (unchanged if there are no vectors, or none reach the threshold). */
  def dvMaterialize(spark: SparkSession, root: String,
                    minDeadRatio: Double = 0.0): Long =
      graft.JobDesc(spark, s"versioned dvMaterialize: $root") {
    require(minDeadRatio >= 0.0 && minDeadRatio <= 1.0,
      s"minDeadRatio must be in [0, 1], got $minDeadRatio")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val current = vs.last
    val dv = dvEntries(spark, root, Some(current))
    if (dv.isEmpty) return current
    val schema = snapshotSchema(spark, root, Some(current))
    val files = snapshotFiles(spark, root, Some(current))
    val conf = spark.sparkContext.hadoopConfiguration
    val dvAbs: Map[String, String] = dv.map { case (e, d) =>
      resolveEntry(root, e).toString -> resolveEntry(root, d).toString }
    val (dead, clean) = files.partition(dvAbs.contains)
    // price each vectored file from metadata alone (vector header +
    // parquet footer, bounded-parallel) and split at the threshold
    val rewrite =
      if (minDeadRatio == 0.0) dead // all vectored files, no pricing I/O
      else MetaPar.parMap(dead) { u =>
        val p = new Path(u)
        val vecP = new Path(dvAbs(u))
        val deadRows = Dv.count(vecP.getFileSystem(conf), vecP)
        val total = FileStats.rowCountTotal(conf, Seq(p))
        u -> (deadRows.toDouble / math.max(total, 1L))
      }.collect { case (u, ratio) if ratio >= minDeadRatio => u }
    if (rewrite.isEmpty) return current
    val rewriteSet = rewrite.toSet // |dead| x |rewrite| contains would be O(n^2)
    val carry = clean ++ dead.filterNot(rewriteSet)
    val survivors = readFilesDv(spark, root, schema, rewrite, dv)
    val statsCols = trackedStatsCols(spark, root, files)
      .filter(c => schema.forall(_.fieldNames.contains(c)))
    // already-committed rows minus already-validated deletes: valid by
    // induction, same CHECK-revalidation waiver as compaction.
    // commitMixed keeps carried files' vectors and sheds the rewritten
    // files' ones (dvLinesForCarried walks the CARRIED list only).
    commitMixed(spark, survivors, root, carry.map(relativize(spark, root, _)),
      statsCols = statsCols, bloomCols = trackedBloomCols(spark, root, files),
      validateChecks = false, op = "dv_materialize")
  }

  /** Range scan with file skipping: read only the snapshot files whose
    * footer-harvested min/max (see `commit(statsCols = ...)`) can overlap
    * `[lo, hi]` on `column` (either bound open via None), then re-apply
    * the predicate to the rows read. Stats are advisory: files without a
    * sidecar entry are always read, so the result is exactly
    * `read(...).filter(lo <= col <= hi)` regardless of stats coverage —
    * what stats change is how many files get OPENED, which on a
    * range-clustered layout (repartitionByRange before commit, or
    * compactLatest(sortCols)) drops from all to the overlapping few.
    * Bound types: numbers for int/double columns, String for string
    * columns, java.time.Instant or java.sql.Timestamp for timestamps. */
  def readPruned(spark: SparkSession, root: String, column: String,
                 lo: Option[Any], hi: Option[Any],
                 asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    require(lo.nonEmpty || hi.nonEmpty, "at least one bound required")
    val f = fs(spark, new Path(root))
    // resolve the version ONCE (like read): a commit landing mid-call
    // must not pair one snapshot's file list with another's schema or
    // deletion vectors
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val v = Some(asOf.getOrElse(vs.last))
    val kept = prunedByStats(f, snapshotFiles(spark, root, v), column, lo, hi)
    def litOf(x: Any): Column = x match {
      case i: java.time.Instant => lit(java.sql.Timestamp.from(i))
      case other => lit(other)
    }
    val base =
      if (kept.isEmpty) read(spark, root, v).limit(0)
      else readFilesDv(spark, root, snapshotSchema(spark, root, v), kept,
        dvEntries(spark, root, v))
    val c = col("`" + column.replace("`", "``") + "`")
    val preds = lo.map(v => c >= litOf(v)) ++ hi.map(v => c <= litOf(v))
    base.filter(preds.reduce(_ && _))
  }

  /** Commit `df` laid out on the Z-order (Morton) curve of two numeric
    * dimensions — the common case of [[commitZOrderedN]]; see there.
    * The dimensions must be DISTINCT (a duplicated dimension used to
    * produce a degenerate single-column layout; it is now refused
    * loudly — use a plain sorted commit for that). */
  def commitZOrdered(spark: SparkSession, df: DataFrame, root: String,
                     dimA: String, dimB: String, nFiles: Int,
                     replace: Boolean = false): Long =
    commitZOrderedN(spark, df, root, Seq(dimA, dimB), nFiles, replace)

  /** Commit `df` laid out on the Z-order (Morton) curve of d numeric
    * dimensions (2..8), with footer stats on all of them: each dimension
    * is scaled to a monotone rank of min(16, 63/d) bits (one tiny
    * min/max agg for all dims together), the ranks are bit-interleaved
    * round-robin (codegen'd Kernels.zorderN; d = 2 is bit-identical to
    * the original zorder2 layout), and files are range-partitioned +
    * sorted on the curve. Unlike a single-column sort — which gives
    * tight min/max on ITS column and useless full-range stats on every
    * other — the curve keeps rows close in every dimension, so
    * [[readPruned]] skips file opens for ranges on ANY of them
    * (ZOrderSpec measures each). The curve column itself is dropped
    * before write; layout is invisible to readers. Rank resolution
    * shrinks with d (min(16, 63/d) bits: 16/16/15/12/10 for d = 2..6) —
    * past ~4 dims the per-dimension clustering dilutes, which is
    * inherent to space-filling curves, not this encoding. */
  def commitZOrderedN(spark: SparkSession, df: DataFrame, root: String,
                      dims: Seq[String], nFiles: Int,
                      replace: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    require(dims.size >= 2 && dims.size <= 8,
      s"z-order needs 2..8 dimensions, got ${dims.size}")
    require(dims.distinct.size == dims.size,
      s"z-order dimensions must be distinct, got ${dims.mkString(", ")}")
    val maxRank = (1L << graft.functions.GraftExpressions.ZOrderNExpr
      .bitsFor(dims.size)) - 1
    // The input is evaluated twice: a bounds agg, then the write. The agg
    // traversal is column-pruned to the d dim columns (tiny I/O against a
    // columnar source), so at the design point re-scanning beats
    // materializing a full-width copy — self-persisting a 100 TB input to
    // save a d-column scan would write the whole table to executor disk.
    // DETERMINISM ASSUMPTION: if the source is non-deterministic, the
    // ranks may disagree with the rows actually written — pruning stays
    // CORRECT (stats come from the written files' footers) but clustering
    // silently degrades; such a caller should persist the input first
    // (an existing persist is honored by both traversals).
    val aggCols = dims.flatMap(d =>
      Seq(min(col(d).cast("double")), max(col(d).cast("double"))))
    val bounds = df.agg(aggCols.head, aggCols.tail: _*)
      .collect()(0).toSeq
      .map(v => Option(v).map(_.asInstanceOf[Double]).getOrElse(0.0))
    val ranks = dims.zipWithIndex.map { case (d, i) =>
      val (mn, mx) = (bounds(2 * i), bounds(2 * i + 1))
      if (mx <= mn) lit(0L)
      else ((col(d).cast("double") - lit(mn)) / lit(mx - mn) *
        lit(maxRank.toDouble)).cast("long")
    }
    val curve = graft.functions.GraftExpressions.zorderN(ranks)
    val shaped = df.withColumn("__z", curve)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    commit(spark, shaped, root, replace = replace, statsCols = dims)
  }

  /** Copy-on-write row-level DELETE, stats-proven where possible: files
    * whose sidecar stats PROVE every row matches are dropped from the
    * manifest without being read ([[StatsProofs]] — on a date-clustered
    * table `day < cutoff` retention is a pure metadata commit at any
    * size), files proven match-free are carried unprobed, and only the
    * undecided files are scanned (`input_file_name`) and — where they
    * contain matches — rewritten with the matches removed. At 100 TB,
    * deleting one day's rows rewrites at most that day's boundary files,
    * not the table. SQL
    * DELETE semantics: rows where the predicate is TRUE go; FALSE and
    * NULL stay. The publish is one atomic replace-style commit, so
    * readers see the pre-delete snapshot or the post-delete one, never a
    * mix, and time travel to earlier versions still sees the deleted
    * rows. Returns the new version, or the current one untouched if
    * nothing matched. Stats sidecars: carried files keep theirs; the
    * rewritten batch re-harvests the table's existing stats columns, so
    * file skipping survives the rewrite. */
  def deleteWhere(spark: SparkSession, root: String,
                  predicate: org.apache.spark.sql.Column): Long =
      graft.JobDesc(spark, s"versioned deleteWhere: $root") {
    rewriteTouched(spark, root, predicate,
      rewrite = df => {
        import org.apache.spark.sql.functions.{coalesce, lit, not}
        df.filter(not(coalesce(predicate, lit(false))))
      },
      // a file whose stats PROVE every row matches needs no rewrite at
      // all — dropping it from the manifest IS the delete (zero I/O)
      dropAllMatch = true, op = "delete")
  }

  /** Copy-on-write row-level UPDATE: same touched-file machinery as
    * [[deleteWhere]], but matching rows get `assignments` applied (each
    * value expression may reference the row's old columns) and
    * non-matching rows in touched files are rewritten unchanged. */
  def updateWhere(spark: SparkSession, root: String,
                  predicate: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column]): Long =
      graft.JobDesc(spark, s"versioned updateWhere: $root") {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    rewriteTouched(spark, root, predicate,
      rewrite = df => {
        val missing = assignments.keySet.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"updateWhere assigns to absent column(s): ${missing.mkString(", ")}")
        val hit = coalesce(predicate, lit(false))
        // ONE select so every assignment and the predicate evaluate
        // against the OLD row — SQL's simultaneous-assignment semantics.
        // A sequential withColumn fold would let a later assignment (or
        // the re-resolved predicate) see an earlier assignment's result:
        // `SET x = 0, src = CAST(x AS STRING) WHERE x > 5` must read the
        // pre-update x in all three places.
        df.select(df.columns.map { c =>
          assignments.get(c) match {
            case Some(v) => when(hit, v).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }.toSeq: _*)
      }, op = "update")
  }

  /** Copy-on-write keyed MERGE — the reference's staging-table + MERGE
    * upsert (/root/reference/common/loader.py:41-153) re-expressed against
    * the versioned table: every target row whose `keys` match a source row
    * is REPLACED by that source row, source rows with unmatched keys are
    * appended, and — the scale point — only the target files that actually
    * CONTAIN a matched key are rewritten; every other file is carried into
    * the new manifest by reference. On a 100 TB table a merge touching one
    * day rewrites that day's files, and the key probe is one scan of the
    * files that can hold a source key, filtered by the source key set
    * (see [[mergeSource]]: a source whose rows fit the broadcast
    * threshold — by plan estimate, else by measured size, so a small
    * join result estimated far above still qualifies — is pinned on the
    * driver and filtered by key, any other is persisted and joined).
    *
    * Semantics match SQL MERGE: duplicate keys in the source are rejected
    * loudly (the "cannot update the same target row twice" rule); source
    * rows with a null key never match (SQL join semantics) and insert;
    * merging into an absent table inserts everything. `tag` is the replay
    * guard for streaming sinks: if the NEWEST commit already carries it,
    * the merge is a no-op (foreachBatch only ever replays the last
    * uncommitted batch, so newest-tag is the right check). Time travel
    * still shows the pre-merge rows; stats sidecars are re-harvested on the
    * rewritten batch so file skipping survives. Returns the new version
    * (or the current one for a replayed tag / empty source).
    *
    * `schemaEvolution = true` lets the source EVOLVE the table mid-merge
    * the way an append commit would ([[mergeSchemas]]): extra source
    * columns are added (matched rows get their values, carried files
    * read them as null) and types may widen along the value-preserving
    * lattice in either direction; a narrower source column upcasts to
    * the table's wider type. The source must still supply every OLD
    * table column — a matched row is replaced whole. Off by default:
    * without the flag, a drifted source schema stays a loud error, not
    * a silent table mutation. */
  def mergeInto(spark: SparkSession, root: String, source: DataFrame,
                keys: Seq[String], tag: Option[String] = None,
                schemaEvolution: Boolean = false): Long =
      graft.JobDesc(spark, s"versioned mergeInto: $root") {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit}
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    val missingKeys = keys.filterNot(source.columns.contains)
    require(missingKeys.isEmpty,
      s"source is missing key column(s): ${missingKeys.mkString(", ")}")
    val vs = versions(spark, root)
    if (tag.isDefined && vs.nonEmpty && committedTag(spark, root) == tag)
      return vs.last
    if (vs.isEmpty) {
      // CREATE path: no table schema to align/probe against — the dup
      // check runs standalone here (a row with ANY null key component
      // never matches, SQL join semantics, so only fully-keyed rows can
      // collide; groupBy would wrongly pool null-keyed rows together)
      val keyed = keys.map(col(_).isNotNull).reduce(_ && _)
      val dupKeys = source.filter(keyed).groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
      require(dupKeys == 0, dupKeyMsg(keys))
      return commit(spark, source, root, tag = tag)
    }
    val current = vs.last
    val tableSchema = snapshotSchema(spark, root, Some(current))
    val files = snapshotFiles(spark, root, Some(current))
    // with evolution the WHOLE merge runs under the evolved schema: the
    // probe and survivors read old files widened/null-extended, and the
    // commit records the evolved shape
    val schema: Option[StructType] =
      if (!schemaEvolution) tableSchema
      else Some(mergeSchemas(
        tableSchema.getOrElse(
          ColumnIds.stripIds(readWithSchema(spark, root, None, files).schema)),
        // never trust ids riding in on the source frame's lineage
        ColumnIds.stripIds(asNullable(source.schema))))
    val snapshot = readWithSchema(spark, root, schema, files)
    val cols = snapshot.columns.toSeq
    val extra = source.columns.filterNot(cols.contains)
    require(extra.isEmpty,
      s"source has column(s) absent from the table: ${extra.mkString(", ")} " +
        "(evolve the schema with an append commit first, or pass " +
        "schemaEvolution = true)")
    val oldCols = tableSchema.map(_.fieldNames.toSeq).getOrElse(cols)
    val absent = oldCols.filterNot(source.columns.contains)
    require(absent.isEmpty,
      s"source is missing table column(s): ${absent.mkString(", ")} " +
        "(a matched row is replaced WHOLE — every column must be supplied)")
    cols.foreach { c =>
      if (source.columns.contains(c)) {
        val (st, tt) = (source.schema(c).dataType, snapshot.schema(c).dataType)
        require(st == tt || (schemaEvolution && widens(st, tt)),
          s"column $c type mismatch: table ${tt.simpleString} " +
            s"vs source ${st.simpleString}")
      }
    }
    val statsCols = trackedStatsCols(spark, root, files)
      .filter(c => schema.forall(_.fieldNames.contains(c)))
    // the source is evaluated ONCE (see [[mergeSource]]): the probe,
    // emptiness check, and final write must all see one evaluation — an
    // expensive or non-deterministic upstream re-executed per job could
    // otherwise write keys the probe never saw (leaving their old target
    // rows un-rewritten). Every evolved column is present in the source
    // by construction (old columns via the `absent` require, new ones BY
    // definition come from the source); the cast is the identity off the
    // evolution path. The dup check runs after the schema requires: a
    // source both mis-shaped and dup-keyed reports the shape first.
    val src = mergeSource(spark, root,
      source.select(cols.map(c => col(c).cast(snapshot.schema(c).dataType).as(c)): _*),
      keys, files, statsCols)
    try {
      // one scan finds the files holding matched keys; the file name must be
      // captured BELOW the join — input_file_name() above a join returns ""
      // whenever the planner breaks file context (shuffle join). A join
      // spreads each file's rows over its partitions: dedup those first.
      val touchedUris =
        if (src.probeFiles.isEmpty) Set.empty[String]
        else {
          val hits = src.matched(readWithSchema(spark, root, schema, src.probeFiles)
            .withColumn("__file", input_file_name())).select(col("__file"))
          collectTouched(spark, if (src.pinned.isDefined) hits else hits.distinct(), "MERGE")
        }
      if (touchedUris.isEmpty) {
        // pure insert (or empty source): no file rewritten, plain append —
        // which must still re-harvest tracked blooms, or merge-appended
        // batches silently lose point-lookup pruning
        if (src.isEmpty) return current
        return commit(spark, src.df, root, tag = tag, statsCols = statsCols,
          bloomCols = trackedBloomCols(spark, root, files)
            .filter(c => src.df.columns.contains(c) &&
              FileStats.bloomSupported(src.df.schema(c).dataType)))
      }
      val (touched, untouched) = files.partition(f =>
        touchedUris.contains(new Path(f).toUri.getPath))
      // vector-applied: a key matching only a merge-on-read-deleted row is
      // an INSERT (the probe may conservatively touch such files; their
      // rewrite here keeps only live rows)
      val survivors = src.unmatched(readFilesDv(spark, root, schema, touched,
        dvEntries(spark, root, Some(current))))
      commitMixed(spark, survivors.unionByName(src.df), root,
        untouched.map(relativize(spark, root, _)), statsCols = statsCols, tag = tag,
        bloomCols = trackedBloomCols(spark, root, files), op = "merge")
    } finally src.release()
  }

  /** Clause ADT for [[mergeIntoConditional]] — the general SQL MERGE
    * shapes beyond the plain upsert. Conditions are evaluated against a
    * frame where the target row's columns are qualified `__t` and the
    * source row's `__s` (e.g. `col("__t.qty") < col("__s.qty")`); a NULL
    * condition keeps SQL semantics (the clause does not fire). Clause
    * order is SQL order: the FIRST clause whose condition holds applies. */
  sealed trait MergeClause
  /** WHEN MATCHED [AND cond] THEN UPDATE SET * — the target row is
    * replaced by the source row (whole-row, like [[mergeInto]]). */
  final case class WhenMatchedUpdateAll(condition: Option[org.apache.spark.sql.Column] = None)
    extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class WhenMatchedDelete(condition: Option[org.apache.spark.sql.Column] = None)
    extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT * — cond may reference only
    * `__s` columns (there is no target row). */
  final case class WhenNotMatchedInsertAll(condition: Option[org.apache.spark.sql.Column] = None)
    extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET assignments —
    * cond and assignment values may reference only `__t` columns. */
  final case class WhenNotMatchedBySourceUpdate(
      condition: Option[org.apache.spark.sql.Column],
      assignments: Map[String, org.apache.spark.sql.Column]) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
  final case class WhenNotMatchedBySourceDelete(
      condition: Option[org.apache.spark.sql.Column] = None) extends MergeClause

  /** Generalized copy-on-write MERGE: the full SQL clause family —
    * conditional/multiple WHEN MATCHED UPDATE-ALL/DELETE clauses, a
    * conditional WHEN NOT MATCHED INSERT, and WHEN NOT MATCHED BY SOURCE
    * UPDATE/DELETE — against the versioned table, with [[mergeInto]]'s
    * scale shape kept intact: matched-clause work probes only the files
    * that can contain a source key (sidecar range pruning + one semi-join
    * scan), untouched files carry by reference, and one atomic manifest
    * publish makes the whole statement a single snapshot transition.
    *
    * NOT MATCHED BY SOURCE is the one inherently unprunable clause family
    * — "target rows with no source match" can live in ANY file — so its
    * probe is one full scan filtered to rows that actually fire a clause
    * (files where none does are still carried, not rewritten). That cost
    * is the semantics, not the implementation: every engine with NMBS
    * (Delta, Iceberg) scans the target for it.
    *
    * Semantics (SQL MERGE):
    *  - clause order within each family is first-match-wins; a matched
    *    pair where no matched clause fires leaves the target row unchanged
    *    and does NOT insert the source row;
    *  - duplicate fully-keyed source rows are rejected whenever a matched
    *    clause exists (the "cannot update the same target row twice"
    *    rule); null-keyed source rows never match and are insert
    *    candidates; null-keyed target rows never match and are NMBS
    *    candidates;
    *  - UPDATE SET * / INSERT * replace/insert the WHOLE row from the
    *    source's same-named columns (exact types required — cast the
    *    source first); a DELETE-only or NMBS-only merge needs only the
    *    key columns in the source.
    *
    * Returns the new version, or the current one if nothing changed. */
  def mergeIntoConditional(spark: SparkSession, root: String, source: DataFrame,
                           keys: Seq[String],
                           clauses: Seq[MergeClause],
                           tag: Option[String] = None): Long =
      graft.JobDesc(spark, s"versioned mergeIntoConditional: $root") {
    import org.apache.spark.sql.functions.{coalesce, col, count, input_file_name, lit, when}
    require(keys.nonEmpty, "mergeIntoConditional needs at least one key column")
    require(clauses.nonEmpty, "mergeIntoConditional needs at least one clause")
    // replay guard for streaming sinks, same shape as mergeInto's (one
    // manifest-dir listing serves the guard and the body below)
    val vsGuard = versions(spark, root)
    if (tag.isDefined && vsGuard.nonEmpty &&
        committedTag(spark, root) == tag)
      return vsGuard.last
    val missingKeys = keys.filterNot(source.columns.contains)
    require(missingKeys.isEmpty,
      s"source is missing key column(s): ${missingKeys.mkString(", ")}")
    val matched = clauses.collect {
      case c: WhenMatchedUpdateAll => (c.condition, false)
      case c: WhenMatchedDelete => (c.condition, true)
    }
    val inserts = clauses.collect { case c: WhenNotMatchedInsertAll => c.condition }
    val nmbs = clauses.collect {
      case c: WhenNotMatchedBySourceUpdate => (c.condition, Some(c.assignments))
      case c: WhenNotMatchedBySourceDelete => (c.condition, None)
    }
    val vs = vsGuard
    require(vs.nonEmpty,
      s"no committed versions at $root — bootstrap with commit/CREATE TABLE first")
    val current = vs.last
    val schema = snapshotSchema(spark, root, Some(current))
    val files = snapshotFiles(spark, root, Some(current))
    val snapshot =
      if (files.isEmpty)
        schema.map(s => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), s))
          .getOrElse(sys.error(s"empty table at $root has no recorded schema"))
      else readWithSchema(spark, root, schema, files)
    val cols = snapshot.columns.toSeq
    val needsWholeRow = matched.exists(!_._2) || inserts.nonEmpty
    if (needsWholeRow) {
      val absent = cols.filterNot(source.columns.contains)
      require(absent.isEmpty,
        s"source is missing table column(s): ${absent.mkString(", ")} " +
          "(UPDATE SET * / INSERT * replace whole rows — every column must " +
          "be supplied)")
      cols.foreach { c =>
        require(source.schema(c).dataType == snapshot.schema(c).dataType,
          s"column $c type mismatch: table ${snapshot.schema(c).dataType.simpleString} " +
            s"vs source ${source.schema(c).dataType.simpleString}")
      }
    }
    nmbs.foreach { case (_, asg) => asg.foreach { m =>
      val bad = m.keySet.filterNot(cols.contains)
      require(bad.isEmpty,
        s"NOT MATCHED BY SOURCE UPDATE assigns to absent column(s): ${bad.mkString(", ")}")
    }}
    // pin the source: probe, matched-key set, rewrite and insert must all
    // see ONE evaluation (same rationale as mergeInto)
    val pinned = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE aggregation serves the dup check and the probe bounds — see
      // [[sourceKeyProbe]] (previously two separate actions). The dup
      // rule only binds when a matched clause exists (duplicate source
      // keys are legal for insert-/NMBS-only merges).
      val (dupMax, _, minKey, maxKey) = sourceKeyProbe(pinned, keys)
      if (matched.nonEmpty) require(dupMax <= 1L, dupKeyMsg(keys))
      val srcKeys = pinned.select(keys.map(col): _*).distinct()
      val statsCols = trackedStatsCols(spark, root, files)
        .filter(c => schema.forall(_.fieldNames.contains(c)))
      // ---- probe 1: files holding key-matched rows (range-pruned, one
      // semi-join scan — identical shape to mergeInto's probe)
      val floatKey = keys.size == 1 &&
        (snapshot.schema(keys.head).dataType == org.apache.spark.sql.types.DoubleType ||
          snapshot.schema(keys.head).dataType == org.apache.spark.sql.types.FloatType)
      val probeFiles: Seq[String] =
        if (files.isEmpty) Seq.empty
        else if (keys.size != 1 || floatKey || !statsCols.contains(keys.head)) files
        else minKey match {
          case None => Seq.empty
          case Some(mn) => prunedByStats(fs(spark, new Path(root)), files,
            keys.head, Some(mn), maxKey)
        }
      val matchedTouched: Set[String] =
        if (matched.isEmpty || probeFiles.isEmpty) Set.empty
        else collectTouched(spark, readWithSchema(spark, root, schema, probeFiles)
          .withColumn("__file", input_file_name())
          .join(srcKeys, keys, "left_semi")
          .select(col("__file")).distinct(), "MERGE")
      // ---- probe 2: files holding rows that fire an NMBS clause (full
      // scan by necessity; condition-filtered so untouched files carry)
      val nmbsTouched: Set[String] =
        if (nmbs.isEmpty || files.isEmpty) Set.empty
        else {
          val orCond = nmbs.map(_._1.map(coalesce(_, lit(false))).getOrElse(lit(true)))
            .reduce(_ || _)
          collectTouched(spark, readWithSchema(spark, root, schema, files)
            .withColumn("__file", input_file_name())
            .join(srcKeys, keys, "left_anti")
            .alias("__t")
            .filter(orCond)
            .select(col("__file")).distinct(), "MERGE NOT MATCHED BY SOURCE")
        }
      val touchedUris = matchedTouched ++ nmbsTouched
      // ---- matched-key set decides inserts: source keys with a match
      // anywhere in the table (probeFiles is a conservative superset of
      // every file that can contain one)
      // vector-applied: a source key whose only table match is a
      // merge-on-read-deleted row is UNMATCHED and must insert
      val matchedKeys =
        if (inserts.isEmpty || probeFiles.isEmpty) null
        else readFilesDv(spark, root, schema, probeFiles,
            dvEntries(spark, root, Some(current)))
          .select(keys.map(col): _*)
          .join(srcKeys, keys, "left_semi").distinct()
      val insertCond = inserts
        .map(_.map(coalesce(_, lit(false))).getOrElse(lit(true)))
        .reduceOption(_ || _).getOrElse(lit(false))
      val insertRows: Option[DataFrame] =
        if (inserts.isEmpty) None
        else {
          val unmatchedSrc =
            if (matchedKeys == null) pinned
            else pinned.join(matchedKeys, keys, "left_anti")
          Some(unmatchedSrc.alias("__s").filter(insertCond)
            .select(cols.map(col): _*))
        }
      val (touched, untouched) = files.partition(f =>
        touchedUris.contains(new Path(f).toUri.getPath))
      // ---- rewrite the touched files: one left join against the source
      // decides each target row's fate by first-match-wins clause order
      val survivors: Option[DataFrame] =
        if (touched.isEmpty) None
        else {
          val t = readFilesDv(spark, root, schema, touched,
            dvEntries(spark, root, Some(current))).alias("__t")
          // with no matched clause the join only supplies the matched/
          // unmatched indicator — join the DISTINCT key set, not the full
          // source: duplicate source keys are legal then (no dup-key
          // check ran) and a full-source join would fan matched target
          // rows out into silent duplicates
          val sBase = if (matched.isEmpty) srcKeys else pinned
          val s = sBase.withColumn("__graft_m", lit(true)).alias("__s")
          val joinCond = keys.map(k => col(s"__t.$k") === col(s"__s.$k")).reduce(_ && _)
          val joined = t.join(s, joinCond, "left")
          val isMatched = col("__s.__graft_m").isNotNull
          // action: index into matched clauses (0-based), 1000+j for NMBS
          // clauses, -1 = keep the target row unchanged
          val actionBranches =
            matched.zipWithIndex.map { case ((c, _), i) =>
              (isMatched && c.map(coalesce(_, lit(false))).getOrElse(lit(true)), lit(i))
            } ++ nmbs.zipWithIndex.map { case ((c, _), j) =>
              (!isMatched && c.map(coalesce(_, lit(false))).getOrElse(lit(true)), lit(1000 + j))
            }
          val action = actionBranches.foldRight(lit(-1): org.apache.spark.sql.Column) {
            case ((cond, v), acc) => when(cond, v).otherwise(acc)
          }
          val deleteActions: Set[Int] =
            matched.zipWithIndex.collect { case ((_, true), i) => i }.toSet ++
              nmbs.zipWithIndex.collect { case ((_, None), j) => 1000 + j }
          val outCols = cols.map { c =>
            val updateAllBranches = matched.zipWithIndex.collect {
              case ((_, false), i) => (i, col(s"__s.$c"))
            }
            val nmbsBranches = nmbs.zipWithIndex.collect {
              case ((_, Some(asg)), j) if asg.contains(c) => (1000 + j, asg(c))
            }
            (updateAllBranches ++ nmbsBranches)
              .foldRight(col(s"__t.$c"): org.apache.spark.sql.Column) {
                case ((i, v), acc) => when(col("__graft_action") === i, v).otherwise(acc)
              }.as(c)
          }
          Some(joined.withColumn("__graft_action", action)
            .filter(deleteActions.foldLeft(lit(true): org.apache.spark.sql.Column) {
              (acc, i) => acc && col("__graft_action") =!= i
            })
            .select(outCols: _*))
        }
      val newBatch = (survivors, insertRows) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b))
        case (Some(a), None) => Some(a)
        case (None, Some(b)) => Some(b)
        case (None, None) => None
      }
      newBatch match {
        case None => current
        case Some(df) =>
          if (touched.isEmpty && df.isEmpty) current
          else commitMixed(spark, df, root,
            untouched.map(relativize(spark, root, _)), statsCols = statsCols,
            tag = tag, bloomCols = trackedBloomCols(spark, root, files),
            op = "merge")
      }
    } finally {
      pinned.unpersist(blocking = false)
      ()
    }
  }

  /** Roll the table back to `toVersion` by republishing that snapshot's
    * manifest as a NEW version: no data is copied or rewritten — restore is
    * O(manifest) at any table size — the bad versions stay time-travelable
    * until vacuum, and readers flip atomically at the rename. */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val vs = versions(spark, root)
    require(vs.contains(toVersion),
      s"version $toVersion not found at $root (have ${vs.mkString(",")})")
    val body = snapshotSchema(spark, root, Some(toVersion))
      .map(s => s"#schema=${s.json}").toSeq ++
      checkLines(spark, root, Some(toVersion)) ++ // that snapshot's checks
      // ... its tombstones AND its stats-dead set: the restored
      // snapshot's file list predates anything that made names unstable
      // afterwards, so version v's own guard lines are exactly right
      carriedGuardLines(spark, root, Some(toVersion)) ++
      dvEntries(spark, root, Some(toVersion)) // and its deletion vectors
        .map { case (e, d) => dvLine(e, d) } ++
      manifestFiles(spark, root, toVersion)
    publish(spark, root, vs.last + 1, op = "restore", body)
  }

  /** Shallow clone: publish `dstRoot`'s v1 referencing the SOURCE
    * snapshot's data files by ABSOLUTE manifest entry — no data copied or
    * rewritten, O(manifest) at any table size. The clone is a full table
    * from then on: reads prune through the source's own sidecars (stats
    * live next to the files), copy-on-write DELETE/UPDATE/MERGE rewrite
    * only touched files into the CLONE's data dir and carry the rest by
    * (absolute) reference, compaction gradually materializes it locally,
    * and the clone's vacuum only ever deletes files under its own root —
    * the source is never written through a clone.
    *
    * RETENTION CAVEAT (inherent to shallow clones): the source's vacuum
    * does not know about clones. Vacuuming the source past the cloned
    * snapshot deletes files the clone still references — source retention
    * must outlive every clone, or the clone must be fully materialized
    * (compactLatest) first. */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
                 asOf: Option[Long] = None): Long = {
    // fully qualify both roots (scheme + authority + absolutized path) so
    // (a) distinct tables sharing a path on different filesystems are not
    // falsely refused, and (b) a relative srcRoot cannot mint entries the
    // clone's readers would misresolve against the CLONE root
    require(qualify(spark, srcRoot) != qualify(spark, dstRoot),
      s"clone target must differ from the source ($srcRoot)")
    require(versions(spark, dstRoot).isEmpty,
      s"clone target $dstRoot already has committed versions")
    val srcVs = versions(spark, srcRoot)
    require(srcVs.nonEmpty, s"no committed versions at $srcRoot")
    val v = asOf.getOrElse(srcVs.last)
    require(srcVs.contains(v),
      s"version $v not found at $srcRoot (have ${srcVs.mkString(",")})")
    // absolutize every entry against the SOURCE root as a FULL URI — a
    // schemeless entry would resolve against the default filesystem, the
    // wrong table for an s3a:// source read from an hdfs-default cluster.
    // Entries already absolute (cloning a clone) pass through unchanged.
    val entries = manifestFiles(spark, srcRoot, v)
      .map(e => qualify(spark, resolveEntry(srcRoot, e).toString).toString)
    // deletion vectors absolutize EXACTLY like their data files, so the
    // clone's #dv keys match its (absolutized) file entries string-equal
    val dvAbs = dvEntries(spark, srcRoot, Some(v)).map { case (e, d) =>
      dvLine(qualify(spark, resolveEntry(srcRoot, e).toString).toString,
        qualify(spark, resolveEntry(srcRoot, d).toString).toString)
    }
    // the SOURCE's field-id high-water mark rides along (publish takes
    // the max of incoming lines): the clone's carried files physically
    // hold values under every id the source ever retired via DROP, so
    // the clone must never reassign them either
    val srcMaxId = colMaxIdOf(spark, srcRoot, v)
    val body = snapshotSchema(spark, srcRoot, Some(v))
      .map(s => s"#schema=${s.json}").toSeq ++
      (if (srcMaxId > 0) Seq(s"#colmaxid=$srcMaxId") else Seq.empty) ++
      checkLines(spark, srcRoot, Some(v)) ++ // the cloned snapshot's checks
      carriedGuardLines(spark, srcRoot, Some(v)) ++ // tombstones + stats-dead
      dvAbs ++ entries
    publish(spark, dstRoot, 1L, op = "clone", body)
  }

  /** Row-level diff between two versions: the snapshot's columns plus
    * `_change` ('insert' | 'delete'). Where [[readChanges]] is the
    * append-only fast path, this is the general one — correct across
    * copy-on-write deletes/updates/merges and compactions — and still
    * file-aware: files common to both manifests cannot contribute, so only
    * the differing files are read (a one-day delete diffs that day's old
    * and new files, not the table). Within those files the diff is an
    * exact multiset EXCEPT ALL both ways, so rewritten-but-unchanged rows
    * cancel and an update surfaces as delete(old) + insert(new). Both
    * sides read through the newer version's schema (additive evolution
    * makes old files surface added columns as null). */
  def diffVersions(spark: SparkSession, root: String, fromV: Long,
                   toV: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val vs = versions(spark, root)
    require(vs.contains(fromV), s"version $fromV not found at $root")
    val to = toV.getOrElse(vs.last)
    require(vs.contains(to), s"version $to not found at $root")
    require(to >= fromV, s"to=$to earlier than from=$fromV")
    val before = manifestFiles(spark, root, fromV)
    val after = manifestFiles(spark, root, to)
    val beforeSet = before.toSet
    val afterSet = after.toSet
    // a file present in BOTH manifests can still contribute when its
    // DELETION VECTOR changed between the versions (a merge-on-read delete
    // alters content without touching the file list): such files read on
    // both sides, each under its own side's vectors, and the EXCEPT ALL
    // cancels the surviving rows — surfacing exactly the newly-dead ones
    val dvFrom = dvEntries(spark, root, Some(fromV))
    val dvTo = dvEntries(spark, root, Some(to))
    val dvChanged = before.filter(afterSet)
      .filter(e => dvFrom.get(e) != dvTo.get(e))
    val gone = (before.filterNot(afterSet) ++ dvChanged)
      .map(rel => resolveEntry(root, rel).toString)
    val fresh = (after.filterNot(beforeSet) ++ dvChanged)
      .map(rel => resolveEntry(root, rel).toString)
    val resolved = snapshotSchema(spark, root, Some(to))
      .getOrElse(read(spark, root, Some(to)).schema)
    // a replace commit may retype columns arbitrarily; reading the FROM
    // side through the TO schema would then throw deep in the parquet
    // reader (or worse, misread). A type-WIDENING change is fine — the
    // vectorized reader serves old files widened, exactly as snapshot
    // reads do after an evolving append — so only off-lattice changes
    // refuse. Values compare in the TO (wider) domain, which widening
    // preserves.
    snapshotSchema(spark, root, Some(fromV)).foreach { fromSchema =>
      fromSchema.fields.foreach { ff =>
        resolved.fields.find(_.name == ff.name).foreach { tf =>
          require(tf.dataType == ff.dataType || widens(ff.dataType, tf.dataType),
            s"column ${ff.name} changed type between v$fromV " +
              s"(${ff.dataType.simpleString}) and v$to (${tf.dataType.simpleString}); " +
              "row-level diff across a retyping replace is not defined — " +
              "diff up to the replace and from it separately")
        }
      }
    }
    def side(paths: Seq[String], dv: Map[String, String]): DataFrame =
      if (paths.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], resolved)
      else readFilesDv(spark, root, Some(resolved), paths, dv)
    val freshDf = side(fresh, dvTo)
    val goneDf = side(gone, dvFrom)
    // BOTH exceptAll directions in ONE signed aggregation: tag fresh +1
    // and gone -1, group by every column, and re-emit each surviving row
    // |Σsign| times as insert (positive) or delete (negative). Exactly
    // the multiset semantics of freshDf.exceptAll(goneDf) ∪ gone.except
    // All(fresh) — max(0, cntFresh − cntGone) copies one way, the
    // mirror the other, nulls grouping as equal like exceptAll's own
    // aggregate rewrite — but each side's changed files are READ ONCE
    // instead of twice and the full-row hash is built once instead of
    // twice (the diff is file-bounded, so at scale this halves the
    // feed's I/O outright).
    import org.apache.spark.sql.functions.{abs, array_repeat, explode, sum, when}
    val cols = resolved.fieldNames.map(org.apache.spark.sql.functions.col)
    freshDf.withColumn("__sign", lit(1L))
      .unionByName(goneDf.withColumn("__sign", lit(-1L)))
      .groupBy(cols: _*)
      .agg(sum(org.apache.spark.sql.functions.col("__sign")).as("__d"))
      .filter(org.apache.spark.sql.functions.col("__d") =!= 0L)
      .withColumn("_change",
        when(org.apache.spark.sql.functions.col("__d") > 0L, lit("insert"))
          .otherwise(lit("delete")))
      .withColumn("__r", explode(array_repeat(lit(1),
        abs(org.apache.spark.sql.functions.col("__d")).cast("int"))))
      .drop("__d", "__r")
  }

  /** Keyed change-data-feed between two versions — [[diffVersions]] with
    * the Delta-CDF row classification: a version-from delete and a
    * version-to insert sharing a key are an UPDATE and surface as
    * `update_preimage` + `update_postimage`; unpaired rows stay
    * `insert` / `delete`. The column is `_change_type`; everything else
    * is the snapshot's columns. File-aware like the unkeyed diff (only
    * differing files — or files whose deletion vectors changed — are
    * read), so a one-day change feeds that day, not the table.
    *
    * Contract: among the CHANGED rows, `keys` must identify at most one
    * row per side — duplicate changed keys make the pre/post pairing
    * ambiguous and are refused loudly (pass better keys or use the
    * unkeyed [[diffVersions]]). Rows with any NULL key component never
    * pair (SQL join semantics): they stay plain inserts/deletes. */
  def diffVersionsKeyed(spark: SparkSession, root: String, fromV: Long,
                        toV: Option[Long] = None,
                        keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    import org.apache.spark.sql.expressions.Window
    require(keys.nonEmpty, "diffVersionsKeyed needs at least one key column")
    // pin the file-bounded diff once: the eager dup guard below and the
    // classification window are two consumers that would otherwise each
    // re-derive it (re-reading every changed file); the pin reads them
    // once and the guard runs off the materialized rows
    val d = graft.ops.Iterate.pin(diffVersions(spark, root, fromV, toV))
    val missing = keys.filterNot(d.columns.contains)
    require(missing.isEmpty,
      s"key column(s) not in the table: ${missing.mkString(", ")}")
    val fullyKeyed = keys.map(col(_).isNotNull).reduce(_ && _)
    // ambiguity guard: EAGER by design. An in-plan raise_error would sit
    // in the _change_type column, which a consumer that drops the column
    // prunes away — silently accepting ambiguous pairings. The eager
    // check pays one aggregation over the file-bounded diff, which is
    // the price of the documented call-time refusal.
    val dup = d.filter(fullyKeyed)
      .groupBy((col("_change") +: keys.map(col)): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
    require(dup == 0,
      s"changed rows have duplicate keys (${keys.mkString(", ")}): the " +
        "update pre/post pairing would be ambiguous — use different keys " +
        "or the unkeyed diffVersions")
    // ONE pass for the classification: a window per key counts its
    // inserts and deletes — exactly one of each = an update pair;
    // anything else keeps its plain label. (The self-join formulation
    // re-derived the file-bounded diff once per branch — six scans of
    // the changed files for four labels.) Null-keyed rows share a window
    // partition but the fullyKeyed guard routes them straight to their
    // plain label, so the lumped counts are never consulted.
    val w = Window.partitionBy(keys.map(col): _*)
    val ni = sum(when(col("_change") === "insert", 1).otherwise(0)).over(w)
    val nd = sum(when(col("_change") === "delete", 1).otherwise(0)).over(w)
    val label =
      when(fullyKeyed && ni === 1 && nd === 1,
        when(col("_change") === "insert", lit("update_postimage"))
          .otherwise(lit("update_preimage")))
      .otherwise(col("_change"))
    d.withColumn("_change_type", label).drop("_change")
  }

  /** A keyed MERGE source evaluated exactly once, with what both probes
    * need from it: the files that can hold a matched key (`probeFiles`)
    * and the target-row filters `matched` (a left-semi join against the
    * source keys) and `unmatched` (left-anti). `df` is the source to
    * write; `release` frees it. */
  private final class MergeSource(val df: DataFrame,
                                  val pinned: Option[IndexedSeq[org.apache.spark.sql.catalyst.InternalRow]],
                                  val isEmpty: Boolean,
                                  val probeFiles: Seq[String],
                                  val matched: DataFrame => DataFrame,
                                  val unmatched: DataFrame => DataFrame,
                                  persisted: Boolean) {
    def release(): Unit = if (persisted) { df.unpersist(blocking = false); () }
  }

  /** Evaluate a merge's `aligned` source once and rule out duplicate
    * fully-keyed rows ([[dupKeyMsg]]). A source whose key types compare
    * exactly ([[KeyIn.supports]]) and whose rows fit
    * `spark.sql.autoBroadcastJoinThreshold` — the rule that already made
    * its key set a broadcast join's build side — is PINNED: collected to
    * the driver once and written back from those rows as one file. The
    * pin is decided by the plan's size estimate, else by the measured
    * size: a source estimated within the threshold is collected directly;
    * one estimated above (the estimator multiplies sizes across every
    * join, so a small join result can estimate far above) is persisted
    * and collected from the cache. Either collect is bounded
    * ([[Bridge.collectBounded]]): the driver receives at most the
    * threshold's bytes of rows, and a source measuring above it takes
    * the persisted path — its cache already warm when estimated above;
    * re-evaluated once, into the cache, when its estimate was too low.
    * A pinned source's dup check, emptiness and key set come from its
    * rows; the probe keeps only the files whose stats and blooms can hold
    * one of its values on every key column
    * ([[StatsPrunedFileIndex.survivingFiles]]), and keys match
    * through a broadcast [[KeyIn]] row filter — no build-side job. Any
    * other source is persisted, probed by [[sourceKeyProbe]] (single
    * stats-tracked non-float key: range-pruned probe) and matched by
    * semi/anti joins against its key columns; the joins ignore
    * build-side multiplicity, so the key set needs no distinct. Every
    * decline but the deliberate negative threshold is logged
    * ([[declinePin]]). `aligned` must carry the table's column types
    * (recorded or footer-inferred; the callers cast or require them):
    * exact key matching and the float guard both read the key types from
    * it. */
  private def mergeSource(spark: SparkSession, root: String, aligned: DataFrame,
                          keys: Seq[String], files: Seq[String],
                          statsCols: => Seq[String]): MergeSource = {
    import org.apache.spark.sql.graftx.Bridge
    import org.apache.spark.storage.StorageLevel
    val keyTypes = keys.map(aligned.schema(_).dataType)
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    def declined(persisted: DataFrame, why: String): MergeSource = {
      declinePin(root, why)
      joinedSource(spark, root, persisted, keys, keyTypes, files, statsCols)
    }
    def measuredAbove(bytes: Long) = s"measured $bytes bytes > threshold $limit bytes"
    if (limit < 0)
      joinedSource(spark, root, aligned.persist(StorageLevel.MEMORY_AND_DISK), keys, keyTypes,
        files, statsCols)
    else if (!keyTypes.forall(KeyIn.supports))
      declined(aligned.persist(StorageLevel.MEMORY_AND_DISK),
        s"key type(s) ${keyTypes.map(_.simpleString).mkString(", ")} do not all compare exactly")
    else if (aligned.queryExecution.optimizedPlan.stats.sizeInBytes <= limit)
      Bridge.collectBounded(aligned, limit) match {
        case Right(rows) => pinnedSource(spark, root, aligned, rows, keys, keyTypes, files)
        case Left(bytes) => declined(aligned.persist(StorageLevel.MEMORY_AND_DISK),
          measuredAbove(bytes))
      }
    else {
      val persisted = aligned.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // a fresh frame over the analyzed plan: the cache manager swaps
        // the persisted relation in (`aligned`'s own optimized plan
        // predates the persist and would evaluate the upstream again)
        Bridge.collectBounded(Bridge.ofRows(spark, aligned.queryExecution.analyzed), limit) match {
          case Right(rows) =>
            persisted.unpersist(blocking = false)
            pinnedSource(spark, root, aligned, rows, keys, keyTypes, files)
          case Left(bytes) => declined(persisted, measuredAbove(bytes))
        }
      } catch {
        case t: Throwable => persisted.unpersist(blocking = false); throw t
      }
    }
  }

  /** [[mergeSource]]'s pinned path over the source's collected `rows`. */
  private def pinnedSource(spark: SparkSession, root: String, aligned: DataFrame,
                           rows: IndexedSeq[org.apache.spark.sql.catalyst.InternalRow],
                           keys: Seq[String], keyTypes: Seq[DataType],
                           files: Seq[String]): MergeSource = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftx.Bridge
    // a row with ANY null key component never matches (SQL join
    // semantics): only fully-keyed rows collide or probe
    val keyed = KeyIn.keysOf(rows, keys.map(aligned.schema.fieldIndex), keyTypes)
    require(keyed.distinct.size == keyed.size, dupKeyMsg(keys))
    // per key column, the values in the stats' domain; a column with a
    // value stats cannot compare prunes nothing
    val probeFiles =
      if (keyed.isEmpty || files.isEmpty) Seq.empty
      else StatsPrunedFileIndex.survivingFiles(spark, files, () => statsDeadColumns(spark, root),
        keys.indices.flatMap { i =>
          val t = keyTypes(i)
          val vs = keyed.map(k => StatsPrunedFileIndex.internalValue(t, k.get(i, t)))
          if (vs.forall(_.isDefined)) Some(keys(i) -> vs.flatten.distinct) else None
        })
    lazy val member = KeyIn.column(spark.sparkContext, keys.map(col), keyed)
    new MergeSource(Bridge.localFrame(spark, aligned.schema, rows).coalesce(1), Some(rows),
      rows.isEmpty, probeFiles, _.filter(member), _.filter(!member), persisted = false)
  }

  /** [[mergeSource]]'s persisted path: the already `persisted` source
    * (released here on failure) probed once and matched by joins. */
  private def joinedSource(spark: SparkSession, root: String, persisted: DataFrame,
                           keys: Seq[String], keyTypes: Seq[DataType], files: Seq[String],
                           statsCols: => Seq[String]): MergeSource = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    try {
      val (dupMax, totalRows, minKey, maxKey) = sourceKeyProbe(persisted, keys)
      require(dupMax <= 1L, dupKeyMsg(keys))
      // range pruning only on a single stats-tracked key, and never on
      // a float one: join equality normalizes -0.0 == 0.0 and NaN ==
      // NaN while the stats total order distinguishes them
      val floatKey = keyTypes.head == DoubleType || keyTypes.head == FloatType
      val probeFiles =
        if (keys.size != 1 || floatKey || !statsCols.contains(keys.head)) files
        else minKey match {
          case None => Seq.empty // every source key is null: no match possible
          case Some(mn) => prunedByStats(fs(spark, new Path(root)), files, keys.head,
            Some(mn), maxKey)
        }
      val srcKeys = persisted.select(keys.map(col): _*)
      // a USING join puts its keys first: keep the target's column order
      def by(kind: String)(target: DataFrame): DataFrame =
        target.join(srcKeys, keys, kind).select(target.columns.map(col): _*)
      new MergeSource(persisted, None, totalRows == 0L, probeFiles,
        by("left_semi"), by("left_anti"), persisted = true)
    } catch {
      case t: Throwable => persisted.unpersist(blocking = false); throw t
    }
  }

  private val pinLog = org.slf4j.LoggerFactory.getLogger("graft.io.Versioned")

  /** Most recent MERGE-source pin decline reason — the testable half of
    * the decline logging (a spec asserts the signal fires; production
    * reads the WARN). Never set by the deliberate negative threshold. */
  private[graft] val lastPinDecline =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  private def declinePin(root: String, reason: String): Unit = {
    lastPinDecline.set(reason)
    pinLog.warn(s"MERGE source not pinned on the driver ($reason) — " +
      s"the persisted join path serves this merge into $root")
  }

  /** ONE source-probe aggregation serving the three separate actions
    * every merge writer paid per call — the duplicate-fully-keyed-key
    * check, the source emptiness check and the single-key min/max
    * bounds for the stats-pruned file probe (guide §1.2: remove
    * passes; each action was its own 1-3 stage-job round trip).
    * Grouping by the key columns pools EVERY row into some group (a
    * null key groups too), so sum(n) is the total row count; max(n)
    * over fully-keyed groups is the dup check's maximum multiplicity
    * (null-keyed rows never match a target row, so their multiplicity
    * is legal — SQL join semantics); and min/max of the first key over
    * the groups equal the row-level bounds (min/max skip nulls either
    * way). Run on the PERSISTED source, so the probe also warms the
    * persist. Returns (dupMax, totalRows, minKey, maxKey); minKey None
    * = every key null (or empty source). */
  private def sourceKeyProbe(pinned: DataFrame, keys: Seq[String])
      : (Long, Long, Option[Any], Option[Any]) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    val keyed = keys.map(col(_).isNotNull).reduce(_ && _)
    val r = pinned.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(max(when(keyed, col("__n"))).as("__dup"),
        sum(col("__n")).as("__total"),
        min(col(keys.head)).as("__min"),
        max(col(keys.head)).as("__max"))
      .head()
    (if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.get(2)),
      if (r.isNullAt(3)) None else Some(r.get(3)))
  }

  /** The merge writers' shared duplicate-key message. */
  private def dupKeyMsg(keys: Seq[String]): String =
    s"source has multiple rows per key (${keys.mkString(", ")}): " +
      "MERGE would update the same target row twice"

  /** Collect the touched-file probe's distinct file URIs (`fileUris`: one
    * string column, either straight off the scan or already distinct) to
    * the driver, capped. Each task dedups its own rows, so a scan-side
    * probe is one job with no shuffle, and the collect carries at most
    * one name per file and scan split, never row data — bounded by file
    * count. But a predicate matching most of a
    * multi-million-file table would still build a driver set of millions
    * of paths: past `spark.graft.maxTouchedFiles` (default 1,000,000 —
    * ~100 MB of paths, the same class of driver-side metadata bound Delta
    * accepts) the operation fails LOUDLY with a rewrite-in-ranges hint
    * instead of silently stressing the driver. */
  private def collectTouched(spark: SparkSession,
                             fileUris: DataFrame, what: String): Set[String] = {
    import org.apache.spark.sql.Encoders
    val cap = spark.conf.get("spark.graft.maxTouchedFiles", "1000000").toInt
    val uris = fileUris.as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING).collect()
      .iterator.map(u => new Path(java.net.URI.create(u)).toUri.getPath).toSet
    require(uris.size <= cap,
      s"$what touches more than spark.graft.maxTouchedFiles=$cap files; " +
        "narrow the predicate / source key range, run the rewrite in " +
        "ranges (several commits over disjoint key ranges), or raise the cap")
    uris
  }

  /** Shared copy-on-write core: find files containing predicate matches,
    * rewrite exactly those with `rewrite`, carry the rest by reference.
    *
    * Sidecar stats are consulted BEFORE any scan ([[StatsProofs]], when
    * the predicate parses into the provable fragment):
    *  - files whose stats prove NO row matches are carried without being
    *    probed (the probe scan reads only the undecided files);
    *  - files whose stats prove EVERY row matches skip the probe too —
    *    with `dropAllMatch` (DELETE: the rewrite of an all-match file is
    *    empty by definition) they are REMOVED from the manifest with zero
    *    I/O, making retention deletes (`day < cutoff` on a date-clustered
    *    table) pure metadata operations at any table size; without it
    *    (UPDATE) they are rewritten as touched.
    * When no file needs rewriting, the new manifest is published without
    * writing a batch at all — a metadata-only commit like [[restore]]. */
  private def rewriteTouched(spark: SparkSession, root: String,
                             predicate: org.apache.spark.sql.Column,
                             rewrite: DataFrame => DataFrame,
                             dropAllMatch: Boolean = false,
                             op: String = "rewrite"): Long = {
    import org.apache.spark.sql.functions.input_file_name
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val current = vs.last
    val schema = snapshotSchema(spark, root, Some(current))
    val files = snapshotFiles(spark, root, Some(current))
    val dvNow = dvEntries(spark, root, Some(current))
    val conjuncts = StatsProofs.parseColumn(predicate)
    val f = fs(spark, new Path(root))
    // ONE sidecar read per batch dir, shared by both proofs and by the
    // tracked-stats-column union below; lazy so a no-op DELETE without a
    // provable predicate never opens a sidecar at all
    lazy val sideByDir: Map[Path, Map[String, Map[String, FileStats.ColStats]]] =
      files.map(new Path(_)).groupBy(_.getParent).map { case (dir, _) =>
        dir -> FileStats.readSidecar(f, dir)
      }
    // the PROOFS' lookup is statsByFile — THE one implementation of
    // "sidecar stats minus the identity-unstable names". An earlier
    // inline copy here skipped the dead-name filter: a re-added
    // column's stale nulls==0 + min/max under the vacated name could
    // "prove" a wrong whole-file drop — the copy-on-write twin of the
    // hazard the r11 guard closed for the DV paths (that round's spec
    // used a DoubleType column, which never proves, so this path's
    // exposure survived it; RenameColumnSpec pins the LONG case).
    val statsOf: Map[String, Map[String, FileStats.ColStats]] =
      if (conjuncts.isEmpty) Map.empty
      else statsByFile(spark, root, files, Some(sideByDir))
    val (allMatch, rest) = conjuncts match {
      case Some(cs) => files.partition(p => StatsProofs.allRowsMatch(statsOf(p), cs))
      case None => (Seq.empty[String], files)
    }
    val (noMatch, undecided) = conjuncts match {
      case Some(cs) => rest.partition(p => StatsProofs.noRowMatches(statsOf(p), cs))
      case None => (Seq.empty[String], rest)
    }
    // one scan over the undecided files finds the touched ones;
    // input_file_name is URI-shaped, the manifest root-relative — compare
    // canonical Path forms
    val touchedUris =
      if (undecided.isEmpty) Set.empty[String]
      else collectTouched(spark, readWithSchema(spark, root, schema, undecided)
        .filter(predicate)
        .select(input_file_name()), "row-level rewrite")
    val (scanTouched, scanCarried) = undecided.partition(p =>
      touchedUris.contains(new Path(p).toUri.getPath))
    val touched = (if (dropAllMatch) Seq.empty else allMatch) ++ scanTouched
    if (touched.isEmpty && (allMatch.isEmpty || !dropAllMatch)) return current
    val carried = (noMatch ++ scanCarried).map(relativize(spark, root, _))
    if (touched.isEmpty) {
      // every change is a whole-file drop: publish the shrunk manifest
      // directly, no data written or read — the retention fast path
      publish(spark, root, current + 1, op,
        schema.map(s => s"#schema=${s.json}").toSeq
          ++ checkLines(spark, root, Some(current))
          ++ carriedGuardLines(spark, root, Some(current))
          ++ dvLinesForCarried(dvNow, carried) ++ carried)
    } else {
      // stats columns the table already tracks (union over the sidecars
      // already read above): the rewritten files must keep pruning alive
      val statsCols = sideByDir.valuesIterator
        .flatMap(_.valuesIterator.flatMap(_.keysIterator))
        .toSeq.distinct.sorted
        .filter(c => schema.forall(_.fieldNames.contains(c)))
      // the rewrite reads VECTOR-APPLIED rows: a copy-on-write pass over a
      // vectored file must not resurrect its merge-on-read-deleted rows
      val rewritten = rewrite(readFilesDv(spark, root, schema, touched, dvNow))
      commitMixed(spark, rewritten, root, carried, statsCols = statsCols,
        bloomCols = trackedBloomCols(spark, root, files), op = op)
    }
  }

  /** Union of the stats columns any batch sidecar of `files` tracks — the
    * set a rewrite must re-harvest so file skipping survives it. */
  private def trackedStatsCols(spark: SparkSession, root: String,
                               files: Seq[String]): Seq[String] = {
    val f = fs(spark, new Path(root))
    files.map(new Path(_)).groupBy(_.getParent).keys
      .flatMap(dir => FileStats.readSidecar(f, dir).valuesIterator.flatMap(_.keysIterator))
      .toSeq.distinct.sorted
  }

  /** Union of the bloom columns any batch bloom-sidecar of `files` tracks
    * — the set a rewrite must re-harvest so point-lookup skipping
    * survives it. Names come from the sidecars' headers: no filter bytes
    * are read. */
  private def trackedBloomCols(spark: SparkSession, root: String,
                               files: Seq[String]): Seq[String] = {
    val f = fs(spark, new Path(root))
    files.map(new Path(_)).groupBy(_.getParent).keys
      .flatMap(dir => FileStats.readBloomColumns(f, dir))
      .toSeq.distinct.sorted
  }

  /** Build per-file bloom filters over `cols` for the just-written batch
    * and persist them as the batch's bloom sidecar. Unlike the min/max
    * sidecar (free from footers), a bloom NEEDS one pass over the data —
    * but the pass is column-pruned to `cols` against the freshly written
    * columnar files and runs once per commit, and it buys what min/max
    * cannot: point-lookup file skipping on a HIGH-CARDINALITY UNCLUSTERED
    * key, where every file's [min,max] spans the whole domain and range
    * stats prune nothing. Sized at 1% fpp for [[BloomHeadroom]] times
    * the batch's largest file (footer row counts), capped by
    * `spark.graft.bloom.expectedItems` (default 100k rows/file ≈ 120 KB
    * per file and column): every pruned lookup loads the blooms of every
    * batch it could skip, so a 40-row merge batch must not carry the
    * bitset a 100k-row file needs. Values are hashed with xxhash64 — the
    * same hash the probe side evaluates on the pushed literal. */
  /** Items a bloom is sized for per actual row: a file holding 1/64 of
    * its design load answers a probe falsely with p ≈ 1e-14 (vs 1% at
    * full load), so a pushed IN list of thousands of candidates — the
    * streaming re-delivery guard, the ANN re-rank fetch — still prunes
    * every file that holds none of them. */
  private val BloomHeadroom = 64L

  private def harvestBlooms(spark: SparkSession, batchDir: Path,
                            newPaths: Seq[Path], df: DataFrame,
                            cols: Seq[String]): Unit =
    harvestBloomsFor(spark, batchDir, newPaths, df.schema, cols)

  /** Core bloom harvest: build per-file blooms over `cols` for exactly
    * `paths` (read under `schema`'s types — integrals hash AS LONG, see
    * [[bloomAggregate]]) and MERGE them into the batch dir's bloom
    * sidecar (existing entries for other files/columns survive — a
    * retrofit over the current snapshot must not erase blooms of files
    * only older versions reference). */
  private[io] def harvestBloomsFor(spark: SparkSession, batchDir: Path,
                                   paths: Seq[Path],
                                   schema: StructType,
                                   cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    import org.apache.spark.sql.graftx.Bridge
    if (cols.isEmpty || paths.isEmpty) return
    val names = schema.fieldNames.toSet
    val bad = cols.filterNot(names.contains)
    require(bad.isEmpty, s"bloomCols not in the committed schema: ${bad.mkString(", ")}")
    val unsupported = cols.filterNot(c => FileStats.bloomSupported(schema(c).dataType))
    require(unsupported.isEmpty,
      s"bloomCols with unsupported types (float/double excluded by design): " +
        unsupported.mkString(", "))
    val (n, numBits) = bloomSizing(spark,
      FileStats.rowCounts(spark.sparkContext.hadoopConfiguration, paths).values.max)
    val batch = spark.read.schema(StructType(schema.filter(f => cols.contains(f.name))))
      .parquet(paths.map(_.toString): _*)
      .withColumn("__file", input_file_name())
    val aggs = cols.map { c =>
      Bridge.column(bloomAggregate(Bridge.expression(col(c)), schema(c).dataType, n, numBits)
        .toAggregateExpression()).as(s"__bloom_$c")
    }
    val rows = batch.groupBy(col("__file")).agg(aggs.head, aggs.tail: _*).collect()
    mergeBloomSidecar(batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration), batchDir,
      cols, rows.map { r =>
        new Path(java.net.URI.create(r.getString(0))).getName ->
          cols.zipWithIndex.flatMap { case (c, i) =>
            Option(r.get(i + 1)).map(b => c -> b.asInstanceOf[Array[Byte]])
          }.toMap
      }.toMap)
  }

  /** The blooms [[harvestBloomsFor]] would build over `cols` for ONE
    * file holding exactly `rows` (internal rows under `schema`), built on
    * the driver with the same aggregate, hash and sizing — the same
    * bytes, without the two-job harvest pass. A column with no entry in
    * the result gets none from the harvest either. */
  private[io] def driverBlooms(spark: SparkSession,
                               rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
                               schema: StructType, cols: Seq[String]): Map[String, Array[Byte]] = {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    val (n, numBits) = bloomSizing(spark, rows.size.toLong)
    cols.flatMap { c =>
      val dt = schema(c).dataType
      val agg = bloomAggregate(BoundReference(schema.fieldIndex(c), dt, nullable = true), dt,
        n, numBits)
      val buf = agg.createAggregationBuffer()
      rows.foreach(agg.update(buf, _))
      Option(agg.eval(buf)).map(b => c -> b.asInstanceOf[Array[Byte]])
    }.toMap
  }

  /** (items, bits) a batch's blooms are sized for: 1% fpp at
    * [[BloomHeadroom]] times its largest file's rows, capped by
    * `spark.graft.bloom.expectedItems`. */
  private def bloomSizing(spark: SparkSession, maxFileRows: Long): (Long, Long) = {
    val n = math.max(1L, math.min(
      spark.conf.get("spark.graft.bloom.expectedItems", "100000").toLong,
      BloomHeadroom * maxFileRows))
    // optimal bits for 1% fpp: -n ln(p) / ln(2)^2
    (n, math.max(64L, (-n * math.log(0.01) / (math.log(2) * math.log(2))).toLong))
  }

  /** The bloom aggregate over `value` (of type `dt`). Integral columns
    * hash their value AS LONG (both here and on the probe side):
    * xxhash64(int) != xxhash64(long) for the same value, so without the
    * normalization a type-widening evolution (int -> long) would flip
    * every old bloom into false negatives — and a false-negative bloom
    * WRONGLY PRUNES files that match. A null value is fed as null, which
    * the aggregate skips (xxhash64 of a null is its seed, which it would
    * insert): an equality probe never matches a null, and a column with
    * no values gets no bloom at all. */
  private def bloomAggregate(value: org.apache.spark.sql.catalyst.expressions.Expression,
                             dt: DataType, n: Long, numBits: Long)
      : org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, If, IsNull, Literal, XxHash64}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val hashed = dt match {
      case ByteType | ShortType | IntegerType | LongType => Cast(value, LongType)
      case _ => value
    }
    new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      If(IsNull(value), Literal(null, LongType), new XxHash64(Seq(hashed))),
      Literal(n), Literal(numBits))
  }

  /** Merge `fresh` (file -> column -> bloom bytes) over `cols` into the
    * batch dir's bloom sidecar; entries for other files and columns
    * survive, and every column stays tracked, also one with no entry (a
    * file with no values in it gets no bloom). */
  private def mergeBloomSidecar(f: FileSystem, batchDir: Path, cols: Seq[String],
                                fresh: Map[String, Map[String, Array[Byte]]]): Unit = {
    val existing = FileStats.readBloomSidecar(f, batchDir)
    FileStats.writeBloomSidecar(f, batchDir, (existing.keySet ++ fresh.keySet).map { file =>
      file -> (existing.getOrElse(file, Map.empty) ++ fresh.getOrElse(file, Map.empty))
    }.toMap, FileStats.readBloomColumns(f, batchDir) ++ cols)
  }

  /** Retrofit per-file min/max stats over `cols` onto the CURRENT
    * snapshot — pure FOOTER reads (no data pass at all, unlike
    * [[buildBlooms]]), merged into each batch dir's stats sidecar so
    * entries other versions' files already have are kept. The
    * maintenance path that arms range/file-skip pruning (and the MERGE
    * probe, and the stats PROOFS) on a table committed without
    * `statsCols`. Columns whose parquet type has no usable stat encoding
    * simply record nothing — conservative, like everywhere else.
    * Returns the number of files processed. */
  def buildStats(spark: SparkSession, root: String, cols: Seq[String]): Long = {
    require(cols.nonEmpty, "buildStats needs at least one column")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    requireOwnedFiles(spark, root, "buildStats")
    val schema = snapshotSchema(spark, root, Some(vs.last))
    schema.foreach { s =>
      val bad = cols.filterNot(s.fieldNames.contains)
      require(bad.isEmpty, s"statsCols not in the table schema: ${bad.mkString(", ")}")
    }
    val files = snapshotFiles(spark, root, Some(vs.last)).map(new Path(_))
    val conf = spark.sparkContext.hadoopConfiguration
    files.groupBy(_.getParent).foreach { case (dir, paths) =>
      val f = dir.getFileSystem(conf)
      val fresh = FileStats.collect(conf, paths, cols)
      val existing = FileStats.readSidecar(f, dir)
      val merged = (existing.keySet ++ fresh.keySet).map { file =>
        file -> (existing.getOrElse(file, Map.empty) ++ fresh.getOrElse(file, Map.empty))
      }.toMap
      FileStats.writeSidecar(f, dir, merged)
    }
    files.size.toLong
  }

  /** Retrofit per-file bloom filters over `cols` onto the CURRENT
    * snapshot without rewriting any data: one column-pruned pass per
    * batch directory over exactly the snapshot's files, merged into each
    * dir's bloom sidecar (blooms other versions' files already have are
    * kept). The one maintenance path that arms point-lookup pruning on a
    * table that was committed without `bloomCols`. Returns the number of
    * files bloomed. */
  /** One-row snapshot description for `CALL graft.system.detail` /
    * dashboards: everything is metadata-sized (manifest + sidecar key
    * reads + one LIST per batch dir for sizes — no data read). */
  final case class TableDetail(version: Long, numFiles: Long, totalBytes: Long,
                               numColumns: Int, statsColumns: String,
                               bloomColumns: String, numConstraints: Int,
                               numDeletionVectors: Long, dvDeletedRows: Long,
                               columnMapping: Boolean, maxFieldId: Long,
                               droppedNames: String, statsDeadNames: String)

  /** EXACT row count of a snapshot from metadata alone: parquet footers
    * record per-file row counts and deletion-vector headers their dead
    * cardinality, so `count(*)` needs zero data pages at any table size
    * — one footer read per file, one 12-byte header per vector. (The
    * subtraction is exact because a vector only ever holds ordinals of
    * rows in its file, strictly increasing — see [[Dv.encode]].) */
  def countRows(spark: SparkSession, root: String, asOf: Option[Long] = None): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val v = Some(asOf.getOrElse(vs.last))
    val conf = spark.sparkContext.hadoopConfiguration
    // one bounded-parallel footer sweep over the whole snapshot (MetaPar)
    // — at 10k files a serial per-dir loop would make this "metadata-only"
    // count ~10k sequential driver RPCs
    val total = FileStats.rowCountTotal(conf,
      snapshotFiles(spark, root, v).map(new Path(_)))
    total - dvDeadRows(spark, root, dvEntries(spark, root, v))
  }

  /** Total dead-row cardinality of a snapshot's deletion vectors — one
    * 12-byte header read per vector, shared by [[countRows]] and
    * [[describeDetail]] so the two metadata views can never diverge. */
  private def dvDeadRows(spark: SparkSession, root: String,
                         dv: Map[String, String]): Long =
    MetaPar.parMap(dv.values.toSeq) { d =>
      val p = resolveEntry(root, d)
      Dv.count(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }.sum

  def describeDetail(spark: SparkSession, root: String): TableDetail = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val current = vs.last
    val files = snapshotFiles(spark, root, Some(current))
    val schema = snapshotSchema(spark, root, Some(current))
    val f = fs(spark, new Path(root))
    val sizes = fileLengths(f, files.map(new Path(_)))
    val bytes = files.map(s => sizes.getOrElse(new Path(s).toUri.getPath, 0L)).sum
    val statsCols = trackedStatsCols(spark, root, files)
    val bloomCols = trackedBloomCols(spark, root, files)
    // vector cardinalities come from the 12-byte headers — the signal that
    // prices a dvMaterialize (still metadata-sized, like everything here)
    val dv = dvEntries(spark, root, Some(current))
    val dvRows = dvDeadRows(spark, root, dv)
    TableDetail(current, files.size.toLong, bytes,
      schema.map(_.fields.length).getOrElse(-1),
      statsCols.mkString(","), bloomCols.mkString(","),
      constraints(spark, root).size, dv.size.toLong, dvRows,
      // column-mapping state: the guards an operator needs to SEE —
      // whether renames are available (mapped), the id high-water mark,
      // legacy tombstones blocking re-adds, and names whose sidecar
      // stats are identity-dead until a rewrite
      columnMapping = schema.exists(ColumnIds.hasIds),
      maxFieldId = colMaxIdOf(spark, root, current),
      droppedNames = droppedColumns(spark, root).toSeq.sorted.mkString(","),
      statsDeadNames = statsDeadColumns(spark, root).toSeq.sorted.mkString(","))
  }

  /** Retrofits write sidecars INSIDE the snapshot's batch directories —
    * legal only for directories this root OWNS. A shallow clone's
    * manifest references the SOURCE table's dirs; a retrofit through the
    * clone would mutate a root another writer owns (racing the source's
    * own sidecar maintenance, last-rename-wins losing entries), so it is
    * refused with a pointer at the real owner. */
  private def requireOwnedFiles(spark: SparkSession, root: String,
                                what: String): Unit = {
    val foreign = snapshotFiles(spark, root, None)
      .map(relativize(spark, root, _))
      .filter(e => new Path(e).isAbsolute || new Path(e).toUri.getScheme != null)
    require(foreign.isEmpty,
      s"$what on a shallow clone would write sidecars into the SOURCE " +
        s"table's directories (${foreign.take(2).mkString(", ")}…) — run it " +
        "on the source table instead")
  }

  def buildBlooms(spark: SparkSession, root: String, cols: Seq[String]): Long = {
    require(cols.nonEmpty, "buildBlooms needs at least one column")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    requireOwnedFiles(spark, root, "buildBlooms")
    val schema = snapshotSchema(spark, root, Some(vs.last))
      .getOrElse(readWithSchema(spark, root, None,
        snapshotFiles(spark, root, Some(vs.last))).schema)
    val files = snapshotFiles(spark, root, Some(vs.last)).map(new Path(_))
    files.groupBy(_.getParent).foreach { case (dir, paths) =>
      harvestBloomsFor(spark, dir, paths, schema, cols)
    }
    files.size.toLong
  }

  /** What [[reharvestStats]] did (or, dry-run, would do). `version` is
    * the shed commit, -1 when nothing was committed (dry run / no
    * `#statsdead` guards to shed). */
  final case class ReharvestReport(version: Long, shedNames: Seq[String],
                                   restattedCols: Seq[String],
                                   rebloomedCols: Seq[String],
                                   cleanedDirs: Long, filesRestatted: Long)

  /** Shed the table's `#statsdead=` guards WITHOUT a data rewrite — the
    * rename-then-maintain lifecycle step (renames are the reference's
    * most common operation: reference/pipelines/etl_zrssale.py:73-101
    * renames 24 columns per load), priced at SCAN cost instead of the
    * full-table WRITE cost of the previous remedy (compactLatest).
    *
    * After a mapped RENAME or DROP+re-add, sidecar stats/bloom entries
    * keyed by the vacated NAME are identity-unstable and quarantined by
    * `#statsdead=` lines ([[statsDeadLines]]), which degrades the
    * stats-proven DELETE / metadata row-count / pruning paths to
    * scanning. This procedure restores them in three moves, none of
    * which touches a data file:
    *
    *  1. STRIP every stats/bloom sidecar entry under a dead name from
    *     the current snapshot's batch dirs (other entries survive).
    *  2. RE-HARVEST, keyed by CURRENT names, what the dead names used
    *     to cover: min/max/null stats via [[FileStats.collectById]] —
    *     each file's footer resolves the current column's FIELD ID to
    *     that file's own physical column, so pre-rename files land
    *     under the post-rename name (footer reads only); bloom columns
    *     get one column-pruned id-matched data pass per batch dir
    *     ([[harvestBloomsFor]] merge semantics).
    *  3. PUBLISH a metadata-only commit carrying the same schema, file
    *     list, vectors, checks and tombstones — minus the `#statsdead=`
    *     lines.
    *
    * Safety of the shed: step 1 removes every entry the guards
    * quarantined, and step 2 writes only entries whose identity is
    * id-proven against the current schema, so no name-keyed lookup can
    * reach a stale value afterwards. Time travel / restore to versions
    * BEFORE the shed stays sound on its own: each restored manifest
    * carries its own guard lines (see [[restore]]), and pre-rename
    * versions read the stripped names as absent — degraded pruning,
    * never a wrong skip. DROPPED names (retired ids) translate to no
    * current column: their entries are stripped and nothing is
    * re-harvested — a later re-add starts clean.
    *
    * `dryRun` reports the plan (names to shed, columns to re-harvest,
    * dirs to clean) without writing anything. No-op (version -1) when
    * the table carries no `#statsdead` guards. */
  def reharvestStats(spark: SparkSession, root: String,
                     dryRun: Boolean = false): ReharvestReport = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    requireOwnedFiles(spark, root, "reharvestStats")
    val dead = statsDeadColumns(spark, root).toSeq.sorted // lower-cased
    if (dead.isEmpty)
      return ReharvestReport(-1L, Seq.empty, Seq.empty, Seq.empty, 0L, 0L)
    val current = vs.last
    val schema = snapshotSchema(spark, root, Some(current)).getOrElse(
      throw new IllegalStateException(
        s"table at $root carries #statsdead guards but no recorded schema"))
    val curById: Map[Long, String] =
      schema.fields.flatMap(f => ColumnIds.idOf(f).map(_ -> f.name)).toMap
    // every column identity (field id) that EVER lived under a dead name
    // and still lives in the current schema — those are the columns whose
    // sidecar coverage the dead name's quarantine took away. A retired
    // (dropped) id maps to nothing. The schema history is materialized
    // ONCE (newest first): per-name walks over it are pure in-memory
    // scans, not O(deadNames × versions) manifest reads.
    val schemaHistory: Seq[StructType] =
      vs.reverse.flatMap(v => snapshotSchema(spark, root, Some(v)))
    def occupantsNow(d: String): Seq[String] =
      schemaHistory.iterator
        .flatMap(_.fields.find(_.name.equalsIgnoreCase(d)))
        .flatMap(f => ColumnIds.idOf(f))
        .flatMap(curById.get)
        .distinct.toSeq
    val deadSet = dead.toSet
    val hconf = spark.sparkContext.hadoopConfiguration
    val curByDir: Map[Path, Seq[Path]] =
      snapshotFiles(spark, root, Some(current)).map(new Path(_)).groupBy(_.getParent)
    // which dead names actually have sidecar entries, per kind — only
    // those buy a re-harvest; a dead name never tracked sheds for free
    val presence = MetaPar.parMap(curByDir.keys.toSeq) { dir =>
      val dfs = dir.getFileSystem(hconf)
      (dir,
        FileStats.readSidecar(dfs, dir).valuesIterator.flatMap(_.keysIterator).toSet,
        FileStats.readBloomColumns(dfs, dir))
    }
    val deadStatNames = dead.filter(d =>
      presence.exists(_._2.exists(_.toLowerCase == d)))
    val deadBloomNames = dead.filter(d =>
      presence.exists(_._3.exists(_.toLowerCase == d)))
    val statTargets = deadStatNames.flatMap(occupantsNow).distinct.sorted
    val bloomTargets = deadBloomNames.flatMap(occupantsNow).distinct.sorted
      .filter(c => FileStats.bloomSupported(schema(c).dataType))
    val wantedIds: Map[String, Long] = statTargets.flatMap(c =>
      ColumnIds.idOf(schema(c)).map(c -> _)).toMap
    var cleaned = 0L
    var restatted = 0L
    val bloomDirs = scala.collection.mutable.Buffer.empty[Path]
    presence.foreach { case (dir, statNames, bloomNames) =>
      val dfs = dir.getFileSystem(hconf)
      val hasDeadStats = statNames.exists(n => deadSet.contains(n.toLowerCase))
      val hasDeadBlooms = bloomNames.exists(n => deadSet.contains(n.toLowerCase))
      val here = curByDir.getOrElse(dir, Seq.empty)
      if (dryRun) {
        if (hasDeadStats || hasDeadBlooms) cleaned += 1
        // same accounting as the real run: probe the footers and count
        // only files that actually RESOLVE a wanted field id — collectById
        // emits an entry for every probed file (empty stats map when no id
        // matched), so the filter on non-empty maps is what excludes
        // pre-rename files of a column added later, foreign-id files, ...
        if (wantedIds.nonEmpty && hasDeadStats && here.nonEmpty)
          restatted += FileStats.collectById(hconf, here, wantedIds)
            .count(_._2.nonEmpty)
      } else {
        // footer re-reads are confined to QUARANTINE-AFFECTED dirs: a
        // dir without dead-name entries already keys its stats by
        // current names (written post-rename) — sweeping every footer
        // of a 100 TB table for one renamed column would betray the
        // scan-cost pricing this procedure exists for
        val fresh =
          if (wantedIds.nonEmpty && hasDeadStats && here.nonEmpty)
            FileStats.collectById(hconf, here, wantedIds)
          else Map.empty[String, Map[String, FileStats.ColStats]]
        // resolved-only, like the dry run: collectById emits an entry per
        // probed file even when nothing matched
        restatted += fresh.count(_._2.nonEmpty)
        if (hasDeadStats || fresh.exists(_._2.nonEmpty)) {
          val side = FileStats.readSidecar(dfs, dir)
          val stripped = side.map { case (f, byCol) =>
            f -> byCol.filter { case (c, _) => !deadSet.contains(c.toLowerCase) }
          }
          val merged = (stripped.keySet ++ fresh.keySet).map { f =>
            f -> (stripped.getOrElse(f, Map.empty) ++ fresh.getOrElse(f, Map.empty))
          }.toMap.filter(_._2.nonEmpty)
          FileStats.writeSidecar(dfs, dir, merged)
        }
        if (hasDeadBlooms) {
          val bside = FileStats.readBloomSidecar(dfs, dir)
          FileStats.writeBloomSidecar(dfs, dir, bside.map { case (f, byCol) =>
            f -> byCol.filter { case (c, _) => !deadSet.contains(c.toLowerCase) }
          }.filter(_._2.nonEmpty),
            bloomNames.filterNot(n => deadSet.contains(n.toLowerCase)))
          bloomDirs += dir
        }
        if (hasDeadStats || hasDeadBlooms) cleaned += 1
      }
    }
    // bloom re-harvest is the one non-metadata cost: a column-pruned
    // id-matched pass over the QUARANTINE-AFFECTED dirs' current files
    // (dirs written post-rename already bloom under current names) —
    // still no write to any data file
    if (!dryRun && bloomTargets.nonEmpty) {
      ColumnIds.ensureConfs(spark)
      bloomDirs.foreach { dir =>
        curByDir.get(dir).filter(_.nonEmpty).foreach(paths =>
          harvestBloomsFor(spark, dir, paths, schema, bloomTargets))
      }
    }
    val newV =
      if (dryRun) -1L
      else publish(spark, root, current + 1, op = "reharvest_stats",
        Seq(s"#schema=${schema.json}") ++
          checkLines(spark, root, Some(current)) ++
          droppedLines(spark, root, Some(current)) ++ // legacy tombstones carry
          dvEntries(spark, root, Some(current)).map { case (e, d) => dvLine(e, d) } ++
          manifestFiles(spark, root, current))
    ReharvestReport(newV, dead, statTargets, bloomTargets, cleaned, restatted)
  }

  /** Fully qualified form of `s`: scheme + authority from its filesystem,
    * relative paths absolutized against that filesystem's working dir. */
  private def qualify(spark: SparkSession, s: String): Path = {
    val p = new Path(s)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** Resolve a manifest entry to its data file. Entries are normally
    * root-relative (`data/<batch>/<file>`); a shallow clone
    * ([[cloneTable]]) writes ABSOLUTE entries (full `scheme://` URIs,
    * or a bare leading `/` from older clones) pointing into the source
    * table's root, which every reader resolves through here. */
  private[io] def resolveEntry(root: String, entry: String): Path = {
    val p = new Path(entry)
    if (p.isAbsolute || p.toUri.getScheme != null) p else new Path(root, entry)
  }

  /** Inverse of [[resolveEntry]] for carry-by-reference commits: files
    * under `root` become relative entries; foreign files (absolute
    * clone references) stay absolute — stripping their prefix would
    * fabricate a dangling local path. Both sides are compared FULLY
    * QUALIFIED so a same-path file on a different filesystem (e.g. an
    * s3a:// clone reference under a local root's path) is never
    * mistaken for a local one. */
  private def relativize(spark: SparkSession, root: String, abs: String): String = {
    val u = qualify(spark, abs).toString
    val r = qualify(spark, root).toString
    if (u.startsWith(r + "/")) u.stripPrefix(r + "/") else u
  }

  /** Byte lengths of `paths`, fetched with ONE listStatus per containing
    * directory (not one RPC per file — at object-store scale the per-file
    * round trips would dominate). Keyed by URI path. */
  private def fileLengths(f: FileSystem, paths: Seq[Path]): Map[String, Long] =
    paths.groupBy(_.getParent).keys.filter(f.exists).flatMap { dir =>
      f.listStatus(dir).map(s => s.getPath.toUri.getPath -> s.getLen)
    }.toMap

  /** The subset of `files` whose sidecar min/max may overlap `[lo, hi]` on
    * `column` — the single file-skipping loop shared by [[readPruned]] and
    * the MERGE probe. Conservative: files without stats are kept. */
  private def prunedByStats(f: FileSystem, files: Seq[String], column: String,
                            lo: Option[Any], hi: Option[Any]): Seq[String] =
    files.map(new Path(_)).groupBy(_.getParent).toSeq.flatMap {
      case (batchDir, paths) =>
        val side = FileStats.readSidecar(f, batchDir)
        paths.filter(p => FileStats.mayContain(
          side.get(p.getName).flatMap(_.get(column)), lo, hi))
    }.map(_.toString)

  /** Publish a snapshot that is `carriedRel` (root-relative existing
    * files, kept by reference) plus `df` written as the new batch — the
    * commit shape copy-on-write rewrites need. Same atomic rename
    * protocol as [[commit]]. */
  private def commitMixed(spark: SparkSession, df: DataFrame, root: String,
                          carriedRel: Seq[String],
                          statsCols: Seq[String],
                          tag: Option[String] = None,
                          bloomCols: Seq[String] = Nil,
                          validateChecks: Boolean = true,
                          op: String = "rewrite"): Long = {
    val mdir = manifestDir(root)
    val f = fs(spark, mdir)
    val prev = versions(spark, root)
    val next = prev.lastOption.getOrElse(0L) + 1
    val batchDir = new Path(dataDir(root), s"b$next")
    f.delete(batchDir, true)
    f.delete(new Path(mdir, s".v$next.txt.tmp"), false)
    // rewrites record the BATCH's own schema: on a mapped table each
    // column takes its id from the same-named previous field (rewritten
    // rows stay the same column), new names (merge evolution) get fresh
    // ids past the high-water mark
    val prevRecorded = prev.lastOption
      .flatMap(v => snapshotSchema(spark, root, Some(v)))
    val recorded = prevRecorded match {
      case Some(p) if ColumnIds.hasIds(p) =>
        ColumnIds.inheritIds(p, ColumnIds.stripIds(asNullable(df.schema)),
          colMaxIdOf(spark, root, prev.last))
      case _ => ColumnIds.stripIds(asNullable(df.schema))
    }
    requireNoCaseDups(recorded)
    // same resurrection guard as commit(): a rewrite/merge batch must not
    // reintroduce a tombstoned column name (mergeInto evolution passes
    // NEW source columns through here)
    requireNotDropped(spark, root, prev.lastOption, df.columns.toSeq)
    // staging + rename: same two-writer interleaving defense as commit()
    val staging = stagingDir(root, next)
    ColumnIds.stamp(df, recorded)
      .write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
    // same written-files CHECK validation as commit() — see there
    if (validateChecks)
      enforceConstraintsOnWritten(spark, root, staging, recorded, prev.lastOption)
    val newPaths = f.listStatus(staging).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val usable = statsCols.filter(df.columns.contains)
    if (usable.nonEmpty && newPaths.nonEmpty) {
      FileStats.writeSidecar(f, staging,
        FileStats.collect(spark.sparkContext.hadoopConfiguration, newPaths, usable))
    }
    // rewrites re-harvest only the bloom columns still present and
    // supported — conservative (a dropped column loses its bloom, never
    // fails the rewrite)
    harvestBlooms(spark, staging, newPaths, df,
      bloomCols.filter(c => df.columns.contains(c) &&
        FileStats.bloomSupported(df.schema(c).dataType)))
    placeBatchDir(f, staging, batchDir, next)
    val newFiles = newPaths.map(p => s"data/b$next/${p.getName}")
    // carried files keep their deletion vectors; rewritten/dropped files
    // shed theirs (their batch was read vector-applied by the caller)
    val prevDv = prev.lastOption
      .map(v => dvEntries(spark, root, Some(v)))
      .getOrElse(Map.empty[String, String])
    publish(spark, root, next, op,
      tag.map(t => s"#tag=$t").toSeq ++ Seq(s"#schema=${recorded.json}")
        ++ checkLines(spark, root, prev.lastOption)
        ++ carriedGuardLines(spark, root, prev.lastOption)
        ++ dvLinesForCarried(prevDv, carriedRel)
        ++ carriedRel ++ newFiles)
  }

  /** The newest version committed at or before `tsMillis` (manifest
    * publish time — the rename commit point's mtime), if any. Backs SQL
    * `TIMESTAMP AS OF` in [[VersionedCatalog]]. */
  def versionAt(spark: SparkSession, root: String, tsMillis: Long): Option[Long] = {
    val dir = manifestDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq
      .flatMap(s => versionOf(s.getPath).map(_ -> s.getModificationTime))
      .filter(_._2 <= tsMillis)
      .map(_._1).maxOption
  }

  /** Incremental (CDC-style) read: the rows ADDED between `fromV`
    * (exclusive) and `toV` (inclusive, default newest) — the file-list
    * difference of the two manifests, so a downstream consumer processes
    * each appended batch exactly once without replaying the table.
    * Meaningful for append commits; a replace commit's snapshot shows up
    * wholesale (its files are all new). */
  def readChanges(spark: SparkSession, root: String, fromV: Long,
                  toV: Option[Long] = None): DataFrame = {
    // resolve `to` ONCE (like read): schema, file diff and vectors must
    // all describe the same snapshot even if a commit lands mid-call
    val vsAll = versions(spark, root)
    require(vsAll.nonEmpty, s"no committed versions at $root")
    val to = Some(toV.getOrElse(vsAll.last))
    val added = changedFiles(spark, root, fromV, to)
    if (added.isEmpty) read(spark, root, to).limit(0)
    else readFilesDv(spark, root, snapshotSchema(spark, root, to), added,
      dvEntries(spark, root, to))
  }

  /** Per-file containment counts over the CURRENT snapshot's stats
    * sidecars — METADATA-ONLY (no data file is opened): for each live
    * data file, how many of `values` its harvested `column` [min,max]
    * may contain, and the file's byte length (one listStatus per batch
    * dir, not one RPC per file). Missing or unreadable stats count
    * EVERY value for that file — the same conservative rule the pruned
    * scan applies, so these counts are exactly the files a single-value
    * probe on each of `values` would keep. Returns (batchDir/fileName,
    * mayContainCount, bytes) per live file. This is the observability
    * primitive behind layout-health checks (e.g.
    * [[graft.ops.AnnIndex.layoutStats]]): pruning effectiveness is a
    * property of per-file ranges, which only the sidecars know — and
    * OPEN counts alone have a volume blind spot (a table packed into
    * one all-cells file keeps 1 file per probe while every probe reads
    * everything), which is why the byte lengths ride along. A live file
    * MISSING from its directory listing (cannot happen for a
    * manifest-live file; defensive) reports its length as None — never
    * 0: folding 0 into a volume sum would silently UNDER-count read
    * amplification toward not-alerting, the exact inversion of the
    * missing-stats count-every-value rule above. Consumers must treat
    * None as "volume unknown" (skip the volume leg, surface null), the
    * same posture the serve dial's eligibility gate takes. */
  def fileStatsCoverage(spark: SparkSession, root: String, column: String,
                        values: Seq[Any]): Seq[(String, Int, Option[Long])] = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val files = snapshotFiles(spark, root, Some(vs.last))
    val stats = statsByFile(spark, root, files)
    val lens = fileLengths(fs(spark, new Path(root)), files.map(new Path(_)))
    files.map { s =>
      val p = new Path(s)
      // decode each file's [min,max] ONCE (FileStats.containsProbe),
      // then count — up to |values| (≤ 4096 cells) point checks per
      // file would otherwise each re-parse the stat strings
      val probe = FileStats.containsProbe(
        stats.getOrElse(s, Map.empty).get(column))
      (s"${p.getParent.getName}/${p.getName}", values.count(probe),
        lens.get(p.toUri.getPath))
    }
  }

  /** Compact the current snapshot: read it, rewrite as `nFiles`
    * (optionally range-sorted on `sortCols` so parquet min/max stats
    * prune on them), and publish as a REPLACE commit. Unlike in-place
    * compaction (Compact.compactDir's rename dance), readers of older
    * versions are untouched — the small-file originals stay until
    * `vacuum` — so compaction is safe under concurrent reads by
    * construction. Returns the new version. */
  def compactLatest(spark: SparkSession, root: String, nFiles: Int,
                    sortCols: Seq[String] = Nil,
                    statsCols: Option[Seq[String]] = None): Long =
      graft.JobDesc(spark, s"versioned compactLatest: $root") {
    import org.apache.spark.sql.functions.col
    val curFiles = snapshotFiles(spark, root, None)
    val df = read(spark, root)
    val shaped =
      if (sortCols.isEmpty) df.repartition(nFiles)
      else df.repartitionByRange(nFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    // stats default to the sort layout's own columns, and tracked BLOOM
    // sidecars re-harvest too — compaction must REFRESH pruning
    // metadata, not silently destroy it (the rewritten files would
    // otherwise carry no sidecar and never prune again; a dropped bloom
    // is the quiet version: point lookups degrade to keep-every-file).
    // Pure re-layout of already-committed rows: valid by induction, so
    // CHECK re-validation is skipped (it would re-read the whole table)
    commit(spark, shaped, root, replace = true,
      statsCols = statsCols.getOrElse(sortCols),
      bloomCols = trackedBloomCols(spark, root, curFiles).filter(c =>
        shaped.columns.contains(c) &&
          FileStats.bloomSupported(shaped.schema(c).dataType)),
      validateChecks = false)
  }

  /** Incremental compaction — the OPTIMIZE between [[compactLatest]]
    * (full rewrite) and [[vacuum]] (GC): bin-pack only the files smaller
    * than `smallBytes` into ~`targetBytes` outputs and carry every
    * already-large file by reference. Streaming sinks and frequent small
    * merges accrete small files; on a 100 TB table a full rewrite to fix
    * them is absurd — this rewrites just the accreted tail, so its cost
    * tracks the DAMAGE, not the table. Optionally sorts the rewritten rows
    * on `sortCols` (stats re-harvested for the table's tracked columns +
    * sortCols, so pruning improves). No-op (current version returned)
    * unless at least `minInputFiles` small files exist — one small file
    * cannot be packed any better. Old versions stay readable until vacuum. */
  def compactSmall(spark: SparkSession, root: String,
                   smallBytes: Long = 32L * 1024 * 1024,
                   targetBytes: Long = 128L * 1024 * 1024,
                   sortCols: Seq[String] = Nil,
                   minInputFiles: Int = 2): Long =
      graft.JobDesc(spark, s"versioned compactSmall: $root") {
    import org.apache.spark.sql.functions.col
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val files = snapshotFiles(spark, root, Some(vs.last))
    val f = fs(spark, new Path(root))
    val lenByPath = fileLengths(f, files.map(new Path(_)))
    val sized = files.map(p =>
      p -> lenByPath.getOrElse(new Path(p).toUri.getPath, 0L))
    val (small, large) = sized.partition(_._2 < smallBytes)
    if (small.size < minInputFiles) return vs.last
    val totalSmall = small.map(_._2).sum
    val nOut = math.max(1, math.ceil(totalSmall.toDouble / targetBytes).toInt)
    val schema = snapshotSchema(spark, root, Some(vs.last))
    // vector-applied: compacting a vectored small file MATERIALIZES its
    // deletes (the rewritten rows are the live ones; commitMixed then
    // sheds the input's #dv line while carried files keep theirs)
    val df = readFilesDv(spark, root, schema, small.map(_._1),
      dvEntries(spark, root, Some(vs.last)))
    val shaped =
      if (sortCols.isEmpty) df.repartition(nOut)
      else df.repartitionByRange(nOut, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    val statsCols = (trackedStatsCols(spark, root, files) ++ sortCols)
      .distinct.sorted.filter(c => schema.forall(_.fieldNames.contains(c)))
    // bin-packed rows are already-committed and valid by induction;
    // tracked blooms re-harvest for the packed files (carried files keep
    // their sidecars) — else compaction would quietly strip point-lookup
    // pruning from exactly the high-churn tables that need compaction
    commitMixed(spark, shaped, root, large.map(p => relativize(spark, root, p._1)),
      statsCols = statsCols,
      bloomCols = trackedBloomCols(spark, root, files).filter(c =>
        schema.exists(s => s.fieldNames.contains(c) &&
          FileStats.bloomSupported(s(c).dataType))),
      validateChecks = false, op = "compact")
  }

  /** One row per committed version — the DESCRIBE HISTORY surface:
    * version, commit time (manifest publish mtime), optional tag, file
    * count, total bytes, and how many files the version added over its
    * predecessor (0 file-adds with fewer files = compaction/rewrite; for
    * v1 every file counts as added; null when the predecessor manifest
    * was vacuumed away, since the delta is then unknowable). All
    * metadata-only: one LIST of `_manifests`, one read per manifest (tag
    * and file list come from the same read), one LIST per batch
    * directory, no data reads. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val vs = versions(spark, root)
    val f = fs(spark, new Path(root))
    val mdir = manifestDir(root)
    val mtime: Map[Long, Long] =
      if (vs.isEmpty) Map.empty
      else f.listStatus(mdir).toSeq
        .flatMap(s => versionOf(s.getPath).map(_ -> s.getModificationTime)).toMap
    val lines = vs.map(v => v -> manifestLines(spark, root, v)).toMap
    val fileLists = lines.view.mapValues(_.filterNot(_.startsWith("#"))).toMap
    val tags = lines.view.mapValues(
      _.find(_.startsWith("#tag=")).map(_.stripPrefix("#tag="))).toMap
    // commit operation label (#op=, written by every publish path since
    // round 10); null for manifests published before labeling existed
    val ops = lines.view.mapValues(
      _.find(_.startsWith("#op=")).map(_.stripPrefix("#op="))).toMap
    val lenOf = fileLengths(f,
      fileLists.values.flatten.toSeq.distinct.map(rel => resolveEntry(root, rel)))
    val rows = vs.map { v =>
      val files = fileLists(v)
      val added: Option[Long] = fileLists.get(v - 1) match {
        case Some(prev) =>
          val p = prev.toSet
          Some(files.count(!p.contains(_)).toLong)
        case None if v == 1L => Some(files.size.toLong) // true first commit
        case None => None // predecessor vacuumed: delta unknowable
      }
      (v,
        new java.sql.Timestamp(mtime.getOrElse(v, 0L)),
        tags(v).orNull,
        files.size.toLong,
        files.map(rel => lenOf.getOrElse(resolveEntry(root, rel).toUri.getPath, 0L)).sum,
        added,
        ops(v).orNull)
    }
    import spark.implicits._
    rows.toDF("version", "committed_at", "tag", "num_files", "total_bytes",
      "files_added", "operation")
  }

  /** Time-based retention: drop every version whose manifest was published
    * before `tsMillis` — except the newest such version when it is still
    * the latest state an as-of-`tsMillis` reader would see — then GC
    * unreferenced files. Expressed entirely through [[vacuum]]'s
    * keep-newest-K so the two retention policies cannot diverge. Never
    * deletes a version published AFTER the cutoff even when manifest
    * mtimes are non-monotonic (clock skew, copied tables): the keep-point
    * is clamped to the first post-cutoff publish. */
  def vacuumOlderThan(spark: SparkSession, root: String, tsMillis: Long): Unit = {
    val vs = versions(spark, root)
    if (vs.isEmpty) return
    // newest version at or before the cutoff stays readable (it IS the
    // table as of the cutoff); everything older goes
    val cutoffV = versionAt(spark, root, tsMillis)
    val f = fs(spark, manifestDir(root))
    val mtime: Map[Long, Long] = f.listStatus(manifestDir(root)).toSeq
      .flatMap(s => versionOf(s.getPath).map(_ -> s.getModificationTime)).toMap
    val firstAfter = vs.find(v => mtime.get(v).exists(_ > tsMillis))
    val keepFrom = (cutoffV.toSeq ++ firstAfter.toSeq)
      .minOption.getOrElse(vs.head)
    vacuum(spark, root, keepVersions = vs.size - vs.indexOf(keepFrom))
  }

  /** Drop manifests older than the newest `keepVersions`, then delete
    * data files no surviving manifest references. Never touches files
    * of retained snapshots, so time travel within the retention window
    * keeps working.
    *
    * Concurrency caveat (same as Delta's VACUUM): an OCC writer's
    * PREPARED-but-unpublished batch dir is referenced by no manifest yet,
    * so a vacuum racing an in-flight [[commitOcc]]/[[compactSmallOcc]]
    * could delete it (the writer then fails loud at publish-read, never
    * silently). `graceMillis` is the guard for that race — files and
    * dirs modified within the window are NOT reclaimed, so a vacuum
    * scheduled alongside live writers set to anything comfortably above
    * the longest batch-write time (Delta's equivalent default is 7 days)
    * can never eat an in-flight batch. The default 0 keeps the
    * maintenance-window semantics: everything unreferenced goes now. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1,
             graceMillis: Long = 0L): Unit = {
    vacuumImpl(spark, root, keepVersions, graceMillis, dryRun = false)
    ()
  }

  /** What [[vacuum]] WOULD reclaim, without deleting anything — the
    * Delta `VACUUM ... DRY RUN` shape: absolute paths of the
    * unreferenced data files/vectors, the dead batch/staging dirs, and
    * the expiring manifests, under the same keep/grace rules. Run it
    * before a retention change to see the blast radius. */
  def vacuumDryRun(spark: SparkSession, root: String, keepVersions: Int = 1,
                   graceMillis: Long = 0L): Seq[String] =
    vacuumImpl(spark, root, keepVersions, graceMillis, dryRun = true)

  private def vacuumImpl(spark: SparkSession, root: String, keepVersions: Int,
                         graceMillis: Long, dryRun: Boolean): Seq[String] = {
    require(keepVersions >= 1, "must keep at least one version")
    require(graceMillis >= 0L, s"graceMillis must be >= 0, got $graceMillis")
    val vs = versions(spark, root)
    // no early return when every version is kept: the dead-dir sweep must
    // still run — it is the designated reclaim path for crash debris
    // (orphaned bstage_* staging dirs, un-published b<N> dirs the writers
    // now refuse loudly instead of sweeping themselves)
    val keep = vs.takeRight(keepVersions)
    val f = fs(spark, new Path(root))
    val cut = System.currentTimeMillis() - graceMillis
    def oldEnough(s: org.apache.hadoop.fs.FileStatus): Boolean =
      s.getModificationTime <= cut
    val planned = Seq.newBuilder[String]
    def reclaim(p: Path, recursive: Boolean): Unit =
      if (dryRun) planned += p.toString
      else { f.delete(p, recursive); () }
    // liveness covers deletion vectors too: a retained snapshot's vectors
    // are part of its correctness (GCing one would resurrect its rows)
    val live: Set[String] =
      keep.flatMap(v => manifestFiles(spark, root, v)).toSet ++
        keep.flatMap(v => dvEntries(spark, root, Some(v)).valuesIterator)
    // delete unreachable data files + vectors, then dead batch dirs (a dir
    // survives while ANY live file — parquet or vector — remains in it,
    // or while anything in it is younger than the grace window), then
    // manifests
    val ddir = dataDir(root)
    if (f.exists(ddir)) {
      f.listStatus(ddir).foreach { batch =>
        // dir-age gate evaluated BEFORE this run's own file deletes: on
        // filesystems where removing an entry bumps the parent dir's
        // mtime, a post-sweep stat would push a just-emptied dead dir
        // back inside the grace window and defer its reclaim a full
        // vacuum cycle — the pre-sweep mtime is the one the grace
        // contract (protect IN-FLIGHT writers) actually means
        val dirOldPreSweep = oldEnough(batch)
        f.listStatus(batch.getPath).foreach { df0 =>
          val name = df0.getPath.getName
          val rel = s"data/${batch.getPath.getName}/$name"
          if ((name.endsWith(".parquet") || name.endsWith(Dv.Suffix)) &&
              !live.contains(rel) && oldEnough(df0))
            reclaim(df0.getPath, recursive = false)
        }
        // dry-run must judge the dir on its CURRENT contents (nothing was
        // deleted above): a dir is dead when every entry is non-live and
        // old enough — the same predicate the real sweep re-lists for
        val entries = f.listStatus(batch.getPath)
        if (dirOldPreSweep && entries.forall { s =>
              !live.contains(s"data/${batch.getPath.getName}/${s.getPath.getName}") &&
                oldEnough(s)
            })
          reclaim(batch.getPath, recursive = true)
      }
    }
    vs.dropRight(keepVersions).foreach { v =>
      reclaim(new Path(manifestDir(root), s"v$v.txt"), recursive = false)
    }
    // crash debris in the manifest dir: publish stages `.v<N>.<uuid>.txt
    // .tmp` bodies and the jdbc committer `.claimpub-*.tmp` copies; a
    // writer dying before its rename orphans them and nothing else ever
    // names them again. Same grace rule as data files — a LIVE writer's
    // seconds-old staging must survive a concurrent vacuum.
    val mdir = manifestDir(root)
    if (f.exists(mdir)) {
      // When the JDBC claim committer is active, a crashed writer's
      // RECORDED tmp is the recovery payload: reclaiming it before the
      // claim TTL expires downgrades recovery from finish-the-dead-
      // writer's-commit (the documented fixDeltaLog semantics) to a claim
      // steal — and a default vacuum (graceMillis = 0) racing a LIVE
      // publish would eat a just-staged body. The .tmp age gate therefore
      // honors max(graceMillis, claimTtl) whenever that committer is
      // configured; other committers keep the plain grace rule.
      val tmpCut = {
        val cls = spark.conf.get(ManifestCommitter.ConfKey, "")
        if (cls == classOf[JdbcClaimManifestCommitter].getName) {
          val ttl = Option(spark.conf.get(JdbcClaimManifestCommitter.TtlKey, null))
            .map(_.toLong).getOrElse(15L * 60 * 1000)
          math.min(cut, System.currentTimeMillis() - ttl)
        } else cut
      }
      f.listStatus(mdir).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith(".") && n.endsWith(".tmp") && s.getModificationTime <= tmpCut)
          reclaim(s.getPath, recursive = false)
      }
    }
    planned.result()
  }

  // ----------------------------------------------- concurrent writers (OCC)
  //
  // The default commit path is SINGLE-WRITER: batch dirs are named by the
  // target version (b<next>), crash debris under that name is reclaimed
  // eagerly, and a second writer dies loud at the manifest rename. That
  // protocol cannot be retried (two writers would share a data dir), so
  // deployments that race a compactor against an appender — every real
  // streaming table eventually — get this optimistic-concurrency surface
  // instead, the Delta/Iceberg commit loop re-expressed for full-snapshot
  // manifests:
  //
  //   prepare    write the batch ONCE into a uniquely-named dir
  //              (bu<millis>_<rand> — no collision, no reclaim hazard)
  //   publish    derive the manifest against the CURRENT latest snapshot
  //              and attempt the atomic rename; on losing the race,
  //              re-derive against the winner's snapshot and try the next
  //              version number. Data is never rewritten on retry.
  //
  // Conflict matrix (what re-derivation allows):
  //   append    vs append      retry always (carried list re-read)
  //   append    vs compact     retry (the compactor replaced carried
  //                            files; the append's own files are new)
  //   append    vs schema evo  retry if still additive/widening, else die
  //   compact   vs append      retry: new files carry through untouched
  //   compact   vs compact/    die loud if ANY compaction input file left
  //             delete/update  the latest snapshot (rows were rewritten by
  //                            someone else — re-compacting stale inputs
  //                            would resurrect deleted/changed rows)
  //   replace   vs anything    die loud (a replace that didn't see a
  //                            concurrent commit would silently clobber
  //                            it — same reason Delta aborts)
  //
  // CHECK constraints are validated against the WRITTEN batch whenever the
  // constraint set in force differs from the last one validated, so a
  // constraint added mid-flight by another writer still gates this commit.

  private def uniqueBatchDir(root: String): Path =
    new Path(dataDir(root),
      s"bu${System.currentTimeMillis}_${java.util.UUID.randomUUID.toString.take(8)}")

  /** Append `df` under optimistic concurrency: safe to race against other
    * OCC appends and [[compactSmallOcc]]. Returns the published version.
    * Fails loud (batch dir removed) on a NON-retriable conflict: an
    * incompatible concurrent schema change, a mid-flight constraint the
    * batch violates, or `maxAttempts` lost races. */
  def commitOcc(spark: SparkSession, df: DataFrame, root: String,
                tag: Option[String] = None,
                statsCols: Seq[String] = Nil,
                bloomCols: Seq[String] = Nil,
                maxAttempts: Int = 10): Long = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val mdir = manifestDir(root)
    val f = fs(spark, mdir)
    f.mkdirs(mdir)
    val missingStats = statsCols.filterNot(df.columns.contains)
    require(missingStats.isEmpty,
      s"statsCols not in the committed schema: ${missingStats.mkString(", ")}")
    val missingBlooms = bloomCols.filterNot(df.columns.contains)
    require(missingBlooms.isEmpty,
      s"bloomCols not in the committed schema: ${missingBlooms.mkString(", ")}")
    val badBloomTypes = bloomCols.filter(c =>
      !FileStats.bloomSupported(df.schema(c).dataType))
    require(badBloomTypes.isEmpty,
      s"bloomCols with unsupported types (float/double excluded by design): " +
        badBloomTypes.mkString(", "))
    requireNoCaseDups(asNullable(df.schema))
    // field-id stamping at PREPARE time, against the snapshot visible
    // now: batch columns matching existing table columns take their
    // current ids (a concurrent RENAME keeps ids, so the already-written
    // footers stay correct across retries); genuinely new columns take
    // tentative ids past the current high-water mark. The publish loop
    // verifies the re-derived recorded schema agrees with these footers
    // and aborts on drift — data is never rewritten on retry, so a batch
    // whose embedded ids no longer match cannot be published.
    val vs0 = versions(spark, root)
    val prepSchema = vs0.lastOption
      .flatMap(v => snapshotSchema(spark, root, Some(v)))
    val stampSchema: Option[StructType] = prepSchema match {
      case Some(p) if ColumnIds.hasIds(p) =>
        Some(ColumnIds.inheritIds(p, ColumnIds.stripIds(asNullable(df.schema)),
          colMaxIdOf(spark, root, vs0.last)))
      case None if vs0.isEmpty && ColumnIds.enabled(spark) =>
        Some(ColumnIds.completeIds(ColumnIds.stripIds(asNullable(df.schema)), 0L))
      case _ => None
    }
    val stampedIds: Map[String, Long] = stampSchema
      .map(ColumnIds.idsByName).getOrElse(Map.empty)
    // prepare: the batch writes ONCE, to a dir no other writer can name
    val batchDir = uniqueBatchDir(root)
    stampSchema.map(s => ColumnIds.stamp(df, s)).getOrElse(df)
      .write.mode(SaveMode.ErrorIfExists).parquet(batchDir.toString)
    val newPaths = f.listStatus(batchDir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    if (statsCols.nonEmpty)
      FileStats.writeSidecar(f, batchDir,
        FileStats.collect(spark.sparkContext.hadoopConfiguration, newPaths, statsCols))
    harvestBlooms(spark, batchDir, newPaths, df, bloomCols)
    val newFiles = newPaths.map(p => s"data/${batchDir.getName}/${p.getName}")
    def abort(t: Throwable): Nothing = { f.delete(batchDir, true); throw t }
    var validatedChecks: Seq[(String, String)] = null
    var attempt = 0
    while (true) {
      attempt += 1
      val prev = versions(spark, root)
      val base = prev.lastOption
      val next = base.getOrElse(0L) + 1
      // re-derive against the CURRENT snapshot: carried files, schema
      // merge (throws on a non-widening concurrent type change -> abort),
      // and the constraint set now in force
      val carried = base.toSeq.flatMap(v => manifestFiles(spark, root, v))
      val prevSchema = base.flatMap(v => snapshotSchema(spark, root, Some(v)))
        .orElse(base.map(v => ColumnIds.stripIds(spark.read.parquet(
          carried.map(rel => resolveEntry(root, rel).toString): _*).schema)))
      val recorded =
        try {
          val batchSchema = ColumnIds.stripIds(asNullable(df.schema))
          val r0 = prevSchema.map(p => mergeSchemas(p, batchSchema))
            .getOrElse(batchSchema)
          val r =
            if (prevSchema.exists(ColumnIds.hasIds))
              ColumnIds.completeIds(r0, colMaxIdOf(spark, root, base.get))
            else if (base.isEmpty && ColumnIds.enabled(spark))
              ColumnIds.completeIds(r0, 0L)
            else r0
          requireNoCaseDups(r)
          // resurrection guard, re-derived per attempt like the schema:
          // a dropColumns landing mid-flight must still gate this append
          requireNotDropped(spark, root, base, df.columns.toSeq)
          // field-id/footer consistency: the batch's files were stamped
          // at prepare time; every batch column's recorded id must still
          // be the stamped one, else publishing would pair a schema with
          // footers that answer to different ids (concurrent evolution,
          // rename, or a mapping upgrade landed mid-flight) — abort, the
          // caller re-runs and re-stamps
          val recIds = ColumnIds.idsByName(r)
          df.columns.foreach { c =>
            val want = recIds.get(c.toLowerCase)
            val have = stampedIds.get(c.toLowerCase)
            require(want == have,
              s"concurrent schema change at $root: column $c is stamped " +
                s"field id ${have.getOrElse("<none>")} in the written batch " +
                s"but the current snapshot requires ${want.getOrElse("<none>")} " +
                "— append aborted (nothing published); re-run it")
          }
          r
        } catch { case e: IllegalArgumentException => abort(e) }
      val checks = constraints(spark, root, base)
      if (checks != validatedChecks) {
        try enforceConstraintsOnWritten(spark, root, batchDir, recorded, base)
        catch { case t: Throwable => throw t } // batch dir already deleted there
        validatedChecks = checks
      }
      // re-derived like the carried list: vectors published by a
      // concurrent merge-on-read delete carry through this append
      val dvPrev = base.map(v => dvEntries(spark, root, Some(v)))
        .getOrElse(Map.empty[String, String])
      try {
        return publish(spark, root, next, op = "append_occ",
          tag.map(t => s"#tag=$t").toSeq ++ Seq(s"#schema=${recorded.json}")
            ++ checkLines(spark, root, base)
            ++ carriedGuardLines(spark, root, base)
            ++ dvLinesForCarried(dvPrev, carried) ++ carried ++ newFiles)
      } catch {
        case e: IllegalStateException if e.getMessage.contains("commit conflict") =>
          if (attempt >= maxAttempts)
            abort(new IllegalStateException(
              s"append lost $maxAttempts publish races at $root — giving up " +
                "(raise maxAttempts or reduce writer contention)", e))
          Thread.sleep(scala.util.Random.nextInt(25 * attempt).toLong)
      }
    }
    sys.error("unreachable")
  }

  /** [[compactSmall]] under optimistic concurrency: safe to race against
    * OCC appends (their files carry through untouched on retry). Dies
    * loud — compacting NOTHING, publishing NOTHING — if a concurrent
    * writer rewrote or removed any of its input files (another
    * compaction, DELETE, UPDATE, MERGE or replace), because re-packing
    * stale inputs would resurrect rows the other writer changed. */
  def compactSmallOcc(spark: SparkSession, root: String,
                      smallBytes: Long = 32L * 1024 * 1024,
                      targetBytes: Long = 128L * 1024 * 1024,
                      sortCols: Seq[String] = Nil,
                      minInputFiles: Int = 2,
                      maxAttempts: Int = 10): Long = {
    import org.apache.spark.sql.functions.col
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val baseV = vs.last
    val files = snapshotFiles(spark, root, Some(baseV))
    val f = fs(spark, new Path(root))
    val lenByPath = fileLengths(f, files.map(new Path(_)))
    val sized = files.map(p =>
      p -> lenByPath.getOrElse(new Path(p).toUri.getPath, 0L))
    val (small, large) = sized.partition(_._2 < smallBytes)
    if (small.size < minInputFiles) return baseV
    val inputsRel = small.map(p => relativize(spark, root, p._1)).toSet
    val totalSmall = small.map(_._2).sum
    val nOut = math.max(1, math.ceil(totalSmall.toDouble / targetBytes).toInt)
    val schema = snapshotSchema(spark, root, Some(baseV))
    // vector-applied (materializes the inputs' deletes, like compactSmall);
    // the per-input vector state is remembered for the conflict check below
    val baseDv = dvEntries(spark, root, Some(baseV))
    val df = readFilesDv(spark, root, schema, small.map(_._1), baseDv)
    val shaped =
      if (sortCols.isEmpty) df.repartition(nOut)
      else df.repartitionByRange(nOut, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    val statsCols = (trackedStatsCols(spark, root, files) ++ sortCols)
      .distinct.sorted.filter(c => schema.forall(_.fieldNames.contains(c)))
    // prepare: rewrite the small files ONCE into a unique dir (rows are
    // already committed — valid by induction, no CHECK re-validation).
    // Mapped tables: re-stamp the inputs' field ids (same columns, same
    // ids — compaction never changes the schema)
    val occStampIds: Map[String, Long] = schema.filter(ColumnIds.hasIds)
      .map(ColumnIds.idsByName).getOrElse(Map.empty)
    val batchDir = uniqueBatchDir(root)
    schema.filter(ColumnIds.hasIds).map(s => ColumnIds.stamp(shaped, s))
      .getOrElse(shaped)
      .write.mode(SaveMode.ErrorIfExists).parquet(batchDir.toString)
    val newPaths = f.listStatus(batchDir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    if (statsCols.nonEmpty && newPaths.nonEmpty)
      FileStats.writeSidecar(f, batchDir,
        FileStats.collect(spark.sparkContext.hadoopConfiguration, newPaths, statsCols))
    // tracked blooms re-harvest for the packed files, like compactSmall —
    // the sidecar lands in the unique batch dir BEFORE any publish
    // attempt, so an aborted compaction leaves no stray sidecar behind
    val occBloomCols = trackedBloomCols(spark, root, files).filter(c =>
      schema.exists(s => s.fieldNames.contains(c) &&
        FileStats.bloomSupported(s(c).dataType)))
    if (occBloomCols.nonEmpty && newPaths.nonEmpty)
      harvestBloomsFor(spark, batchDir, newPaths,
        schema.getOrElse(asNullable(shaped.schema)), occBloomCols)
    val outFiles = newPaths.map(p => s"data/${batchDir.getName}/${p.getName}")
    def abort(t: Throwable): Nothing = { f.delete(batchDir, true); throw t }
    var attempt = 0
    while (true) {
      attempt += 1
      val cur = versions(spark, root).last
      val curFiles = manifestFiles(spark, root, cur)
      // conflict check: every compaction input must still be referenced
      // by the latest snapshot — otherwise someone rewrote those rows
      val gone = inputsRel.diff(curFiles.toSet)
      if (gone.nonEmpty)
        abort(new IllegalStateException(
          s"compaction conflict at $root: ${gone.size} input file(s) were " +
            s"rewritten or removed by a concurrent commit (e.g. ${gone.head}) " +
            "— compaction aborted, nothing published; re-run it"))
      // a concurrent merge-on-read delete that VECTORED an input file is
      // the same conflict in different clothes: the file list is intact
      // but rows this compaction already packed are now dead — publishing
      // would resurrect them. Die loud, like the rewritten-input case.
      val curDv = dvEntries(spark, root, Some(cur))
      val drifted = dvDrift(inputsRel, baseDv, curDv)
      if (drifted.nonEmpty)
        abort(new IllegalStateException(
          s"compaction conflict at $root: deletion vectors changed on " +
            s"${drifted.size} input file(s) (e.g. ${drifted.head}) since the " +
            "inputs were read — compaction aborted, nothing published; re-run it"))
      val carried = curFiles.filterNot(inputsRel)
      val curSchema = snapshotSchema(spark, root, Some(cur))
      val recorded =
        try {
          val batchSchema = ColumnIds.stripIds(asNullable(shaped.schema))
          val r0 = curSchema.map(s => mergeSchemas(s, batchSchema))
            .getOrElse(batchSchema)
          val r =
            if (curSchema.exists(ColumnIds.hasIds))
              ColumnIds.completeIds(r0, colMaxIdOf(spark, root, cur))
            else r0
          // same footer/id drift guard as commitOcc: the packed files
          // were stamped against the BASE snapshot — a concurrent rename
          // or mapping change makes them unpublishable, not re-writable
          val recIds = ColumnIds.idsByName(r)
          shaped.columns.foreach { c =>
            val want = recIds.get(c.toLowerCase)
            val have = occStampIds.get(c.toLowerCase)
            require(want == have,
              s"compaction conflict at $root: column $c is stamped field id " +
                s"${have.getOrElse("<none>")} in the packed files but the " +
                s"current snapshot requires ${want.getOrElse("<none>")} " +
                "(concurrent schema change) — compaction aborted; re-run it")
          }
          r
        } catch { case e: IllegalArgumentException => abort(e) }
      try {
        return publish(spark, root, cur + 1, op = "compact_occ",
          Seq(s"#schema=${recorded.json}") ++ checkLines(spark, root, Some(cur))
            ++ carriedGuardLines(spark, root, Some(cur))
            ++ dvLinesForCarried(curDv, carried) ++ carried ++ outFiles)
      } catch {
        case e: IllegalStateException if e.getMessage.contains("commit conflict") =>
          if (attempt >= maxAttempts)
            abort(new IllegalStateException(
              s"compaction lost $maxAttempts publish races at $root — giving up", e))
          Thread.sleep(scala.util.Random.nextInt(25 * attempt).toLong)
      }
    }
    sys.error("unreachable")
  }
}

package graft.io

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 surface for [[Versioned]] tables, so a snapshot is a
  * first-class `spark.read` citizen rather than a library call:
  *
  * {{{
  *   spark.read.format("graft-versioned").load(root)                   // newest snapshot
  *   spark.read.format("graft-versioned").option("asOf", 3).load(root) // time travel
  *   spark.read.format("graft-versioned")
  *     .option("changesFrom", 1).option("changesTo", 3).load(root)     // CDC read
  * }}}
  *
  * The provider resolves the manifest ONCE at table-creation time and hands
  * the snapshot's explicit file list to Spark's own [[ParquetTable]], so the
  * scan is the native vectorized parquet path with full filter pushdown,
  * column pruning, and file-level min/max pruning — nothing is re-listed, and
  * a commit that lands mid-query cannot change the file set (snapshot
  * isolation at plan level). Writes to a LIVE load go through the manifest
  * protocol ([[VersionedWriteBuilder]] routes append/overwrite into
  * [[Versioned.commit]]'s atomic rename), so
  * `df.write.format("graft-versioned").mode("append").save(root)` and SQL
  * INSERT publish real versions; pinned (asOf) and CDC (changesFrom) loads
  * advertise BATCH_READ only and the analyzer rejects writing to history.
  *
  * Registered via META-INF/services as `graft-versioned`.
  */
object VersionedDataSource {
  /** Read-only Table over one resolved snapshot — shared by the path-based
    * format above and [[VersionedCatalog]]'s identifier-based loads. */
  private[io] def snapshotTable(spark: SparkSession, root: String,
                                asOf: Option[Long]): Table = {
    val files = Versioned.snapshotFiles(spark, root, asOf)
    val schema = Versioned.snapshotSchema(spark, root, asOf)
    // mapped tables: the NATIVE parquet scan must match file columns by
    // field id (a renamed column lives under its old name in old files)
    schema.filter(ColumnIds.hasIds).foreach(s =>
      ColumnIds.ensureReadConfs(spark, s))
    // Only a live (non-time-travel) load is streamable: a pinned snapshot
    // has no future versions to tail.
    new VersionedReadTable(ParquetTable(
      s"graft-versioned `$root`" + asOf.map(v => s" @v$v").getOrElse(""),
      spark, CaseInsensitiveStringMap.empty(), files.toList,
      schema,
      classOf[ParquetFileFormat]),
      liveRoot = if (asOf.isEmpty) Some(root) else None,
      dvBlocked = Versioned.dvEntries(spark, root, asOf).nonEmpty)
  }
}

class VersionedDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  // Schema always comes from the snapshot's own parquet footers.
  override def supportsExternalMetadata(): Boolean = false

  /** `timestampAsOf` (epoch millis, or a `yyyy-MM-dd HH:mm:ss[.f...]`
    * local timestamp) resolved to the newest version published at or
    * before it — the same rule SQL `TIMESTAMP AS OF` uses through the
    * catalog. Resolved ONCE per distinct option map and cached: the
    * resolution consults the live manifest list, so re-resolving in each
    * of inferSchema/getTable/delegate could pair one version's file list
    * with ANOTHER version's deletion-vector gate if a commit landed in
    * between — the exact race the delegate cache exists to prevent. */
  @volatile private var tsCache: Option[((String, String, String), Long)] = None

  private def resolvedAsOf(spark: SparkSession, root: String,
                           options: CaseInsensitiveStringMap): Option[Long] = {
    val asOf = Option(options.get("asOf")).map(_.toLong)
    val tsOf = Option(options.get("timestampAsOf")).map { s =>
      // the session timezone participates in the cache key: the same
      // literal names a DIFFERENT instant after a mid-session TZ change
      val key = (root, s, spark.conf.get("spark.sql.session.timeZone"))
      tsCache.filter(_._1 == key).map(_._2).getOrElse {
        // the timestamp-string form is wall-clock in the SPARK SESSION
        // timezone — the same resolution SQL TIMESTAMP AS OF gets through
        // the catalog. java.sql.Timestamp.valueOf would use the JVM
        // default TZ, silently resolving a different snapshot than the
        // identical SQL literal whenever the two zones differ.
        val millis = scala.util.Try(s.trim.toLong).getOrElse {
          val zone = java.time.ZoneId.of(
            spark.conf.get("spark.sql.session.timeZone"))
          // lenient local fields via Timestamp.valueOf (accepts
          // non-padded "2026-8-14 9:05:00" like the JDBC literal it is);
          // toLocalDateTime round-trips the FIELDS exactly, so the JVM
          // default TZ cancels out and only the session zone converts
          java.sql.Timestamp.valueOf(s.trim).toLocalDateTime
            .atZone(zone).toInstant.toEpochMilli
        }
        val v = Versioned.versionAt(spark, root, millis).getOrElse(
          throw new IllegalArgumentException(
            s"no version of $root committed at or before $s"))
        tsCache = Some(key -> v)
        v
      }
    }
    require(asOf.isEmpty || tsOf.isEmpty,
      "asOf and timestampAsOf are mutually exclusive")
    asOf.orElse(tsOf)
  }

  private def resolveFiles(spark: SparkSession,
                           options: CaseInsensitiveStringMap): (String, Seq[String]) = {
    val root = Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-versioned requires a table root: .load(root)"))
    val asOf = resolvedAsOf(spark, root, options)
    val changesFrom = Option(options.get("changesFrom")).map(_.toLong)
    require(asOf.isEmpty || changesFrom.isEmpty,
      "asOf/timestampAsOf and changesFrom are mutually exclusive")
    val files = changesFrom match {
      case Some(from) =>
        val to = Option(options.get("changesTo")).map(_.toLong)
        Versioned.changedFiles(spark, root, from, to)
      case None =>
        Versioned.snapshotFiles(spark, root, asOf)
    }
    (root, files)
  }

  // Spark calls inferSchema then getTable on the SAME provider instance;
  // resolving the manifest in each would be two LISTs and — worse — a race:
  // a commit landing in between would pair one snapshot's schema with
  // another's file list. Resolve once and reuse when the options match.
  @volatile private var cached: Option[(Map[String, String], ParquetTable)] = None

  private def optKey(options: CaseInsensitiveStringMap): Map[String, String] =
    Seq("path", "asOf", "timestampAsOf", "changesFrom", "changesTo")
      .flatMap(k => Option(options.get(k)).map(k -> _)).toMap

  private def delegate(options: CaseInsensitiveStringMap): ParquetTable = {
    val key = optKey(options)
    cached.filter(_._1 == key).map(_._2).getOrElse {
      val spark = SparkSession.active
      val (root, files) = resolveFiles(spark, options)
      // Prefer the manifest-recorded schema (correct after additive
      // evolution — footer inference from an arbitrary file would drop or
      // surface columns nondeterministically). An empty change-set still
      // needs a schema even without a recorded one: borrow it from the
      // snapshot the diff was computed against (zero files = zero rows).
      val schemaVersion = Option(options.get("changesTo")).map(_.toLong)
        .orElse(resolvedAsOf(spark, root, options))
      val userSchema = Versioned.snapshotSchema(spark, root, schemaVersion)
        .orElse {
          if (files.nonEmpty) None
          else Some(spark.read.parquet(
            Versioned.snapshotFiles(spark, root, schemaVersion): _*).schema)
        }
      // mapped tables read through Spark's parquet field-id matching
      userSchema.filter(ColumnIds.hasIds).foreach(s =>
        ColumnIds.ensureReadConfs(spark, s))
      val t = ParquetTable(s"graft-versioned `$root`", spark, options, files.toList,
        userSchema, classOf[ParquetFileFormat])
      cached = Some(key -> t)
      t
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    delegate(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // asOf pins a snapshot and changesFrom is a bounded diff — neither can
    // tail future commits, so only a plain load advertises streaming.
    val liveRoot =
      if (opts.containsKey("asOf") || opts.containsKey("timestampAsOf") ||
          opts.containsKey("changesFrom")) None
      else Option(opts.get("path"))
    // reader-feature gate: the native parquet scan cannot apply deletion
    // vectors, so a vectored snapshot must not scan through it (one tiny
    // manifest read decides; the read version mirrors delegate()'s)
    val dvBlocked = Option(opts.get("path")).exists { root =>
      val v = Option(opts.get("changesTo")).map(_.toLong)
        .orElse(resolvedAsOf(SparkSession.active, root, opts))
      Versioned.dvEntries(SparkSession.active, root, v).nonEmpty
    }
    new VersionedReadTable(delegate(opts), liveRoot, dvBlocked)
  }
}

/** Scan-side wrapper: scans run through Spark's native ParquetScanBuilder
  * but over a [[StatsPrunedFileIndex]], so predicates pushed by Catalyst
  * skip non-overlapping file opens using the batch sidecars' min/max —
  * SQL/DataFrame users of the format and catalog get file skipping with
  * no API beyond WHERE.
  *
  * Mutations are supported exactly where they can go THROUGH the manifest
  * protocol, and nowhere else. A live (non-time-travel, non-CDC) table:
  *  - writes: `INSERT INTO` / `df.write.mode("append")` publish one
  *    append commit; `INSERT OVERWRITE` / mode("overwrite") one replace
  *    commit — each a single atomic manifest rename, so concurrent
  *    readers see whole snapshots (V1Write fallback: the data lands via
  *    [[Versioned.commit]], never a bare directory write);
  *  - DELETE: [[SupportsDelete]] delegates to the copy-on-write
  *    [[Versioned.deleteWhere]] — `DELETE FROM cat.t WHERE ...` rewrites
  *    only the files containing matches. Untranslatable conditions are
  *    refused at analysis (canDeleteWhere), never approximated.
  * A pinned (asOf) or CDC (changesFrom) load has no live root: every
  * mutation path is absent from its capabilities and the analyzer
  * rejects it — history cannot be edited. */
private[graft] class VersionedReadTable(inner: ParquetTable,
                                        val liveRoot: Option[String] = None,
                                        dvBlocked: Boolean = false,
                                        indexOverride: Option[StatsPrunedFileIndex] = None)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String = inner.name
  override def schema(): StructType = inner.schema
  override def capabilities(): util.Set[TableCapability] =
    if (liveRoot.isDefined)
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE)
    else util.EnumSet.of(TableCapability.BATCH_READ)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val root = liveRoot.getOrElse(throw new UnsupportedOperationException(
      "cannot write to a time-travel or CDC read (history is immutable)"))
    new VersionedWriteBuilder(inner.sparkSession, root)
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    liveRoot.isDefined && filters.forall(f => VersionedReadTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val root = liveRoot.getOrElse(throw new UnsupportedOperationException(
      "DELETE requires a live table load (not a time-travel or CDC read)"))
    val cond = filters.toSeq.map(f => VersionedReadTable.filterToColumn(f).getOrElse(
      throw new UnsupportedOperationException(s"cannot translate delete filter $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true)) // unconditional DELETE/TRUNCATE
    Versioned.deleteWhere(inner.sparkSession, root, cond)
    ()
  }

  // built once per table: the snapshot's files + their (lazily read)
  // stats and bloom sidecars — the same index the library reads plan
  // through
  private[graft] lazy val prunedIndex: StatsPrunedFileIndex = indexOverride.getOrElse(
    StatsPrunedFileIndex.forFiles(inner.sparkSession, inner.paths))

  /** A derived read-only view of the same snapshot whose scans keep ONLY
    * `keep`'s files — the prepared handle's per-call pruning surface: the
    * keep-set is computed driver-side against pre-decoded sidecar bounds
    * (no IN literal in the plan, so per-call plans differ only in leaf
    * DATA and the generated code stays cache-stable), and the derived
    * index shares this table's sidecar maps and deserialized blooms
    * (nothing re-reads). Callers own row-level correctness: the keep-set
    * prunes FILE OPENS only (conservative — every file that might hold a
    * matching row survives), so a row-exact predicate or equi-join on
    * the pruned column must remain in the plan. */
  private[graft] def withKeep(keep: Set[(String, String)]): VersionedReadTable =
    new VersionedReadTable(inner, liveRoot, dvBlocked,
      Some(prunedIndex.withRuntimeKeep(keep)))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Reader-feature gate (the same protocol move as Delta's reader
    // versions): this scan is Spark's NATIVE parquet path, which cannot
    // apply merge-on-read deletion vectors — scanning a vectored snapshot
    // here would silently resurrect deleted rows. Refuse loudly; the
    // library read path (Versioned.read) applies vectors, and
    // Versioned.dvMaterialize / CALL graft.system.dv_materialize folds
    // them in to re-admit the table to this scan.
    if (dvBlocked)
      throw new UnsupportedOperationException(
        s"${inner.name}: snapshot carries deletion vectors, which the native " +
          "DSv2 parquet scan cannot apply — read via Versioned.read, or fold " +
          "the vectors in with Versioned.dvMaterialize / " +
          "CALL graft.system.dv_materialize first")
    val parquet = ParquetScanBuilder(inner.sparkSession, prunedIndex, inner.schema,
      inner.dataSchema, options)
    liveRoot match {
      case Some(root) => new VersionedScanBuilder(inner.sparkSession, root, parquet,
        Option(options.get("maxVersionsPerTrigger")).map { raw =>
          val m = raw.toLongOption.getOrElse(throw new IllegalArgumentException(
            s"maxVersionsPerTrigger must be a positive integer, got '$raw'"))
          require(m > 0, s"maxVersionsPerTrigger must be positive, got $m")
          m
        })
      case None => parquet
    }
  }
}

/** Write path for live versioned tables: V1Write fallback whose
  * InsertableRelation hands the materialized batch to [[Versioned.commit]]
  * — append mode publishes an append commit, truncate/overwrite a replace
  * commit. The commit's temp-dir + atomic-manifest-rename protocol is what
  * makes the SQL write safe under concurrent readers; a failed job leaves
  * only unpublished debris that the next committer reclaims. */
private[graft] class VersionedWriteBuilder(spark: SparkSession, root: String)
  extends org.apache.spark.sql.connector.write.WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var replace = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    replace = true
    this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
                              overwrite: Boolean): Unit = {
            Versioned.commit(spark, data, root, replace = replace || overwrite)
            ()
          }
        }
    }
}

private[graft] object VersionedReadTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.sources._

  /** Conservative V1 Filter -> Column translation for SQL DELETE: a shape
    * this cannot express returns None and the delete is refused at
    * analysis — never approximated. Nested (dotted) attributes are
    * refused: quoting them as one identifier would silently target the
    * wrong column. */
  private[io] def filterToColumn(f: Filter): Option[Column] = {
    def ref(name: String): Option[Column] =
      if (name.contains(".")) None
      else Some(col("`" + name.replace("`", "``") + "`"))
    f match {
      case EqualTo(a, v) => ref(a).map(_ === lit(v))
      case EqualNullSafe(a, v) => ref(a).map(_ <=> lit(v))
      case GreaterThan(a, v) => ref(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => ref(a).map(_ >= lit(v))
      case LessThan(a, v) => ref(a).map(_ < lit(v))
      case LessThanOrEqual(a, v) => ref(a).map(_ <= lit(v))
      case In(a, vs) =>
        if (vs.isEmpty) Some(lit(false))
        else ref(a).map(_.isInCollection(vs.toSeq))
      case IsNull(a) => ref(a).map(_.isNull)
      case IsNotNull(a) => ref(a).map(_.isNotNull)
      case StringStartsWith(a, v) => ref(a).map(_.startsWith(v))
      case StringEndsWith(a, v) => ref(a).map(_.endsWith(v))
      case StringContains(a, v) => ref(a).map(_.contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(not)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }
}

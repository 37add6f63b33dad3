package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, XxHash64}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{DataType, DateType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** File index that applies the batch sidecars' min/max stats to the DATA
  * filters Catalyst pushes into the scan — so any range/equality predicate
  * skips non-overlapping file OPENS automatically, with no library call.
  * It is the one index every versioned read plans through: the
  * `graft-versioned` format and catalog scan (DSv2) and the library reads
  * (`Versioned.read`, time travel, `readChanges` and every internal
  * vector-applying read, as a V1 `HadoopFsRelation` — see [[forFiles]]).
  * `Versioned.readPruned` additionally pre-prunes its file list
  * explicitly before planning.
  *
  * `listFiles` receives the pushed filters during physical planning; each
  * conjunct shaped like `col <op> literal` tightens a per-column bound map,
  * and a file survives only if every bounded column's stats can overlap
  * (FileStats.mayContain — conservative by construction: missing sidecar,
  * unknown column, or unsupported literal keeps the file, and Spark
  * re-applies the full predicate to every row read, so pruning can never
  * change results). Strict bounds are relaxed to inclusive before the
  * stats check — also conservative.
  *
  * Equality and IN predicates additionally consult the batch BLOOM
  * sidecars (when the commit built them): on a high-cardinality
  * UNCLUSTERED key every file's [min,max] spans the whole domain and
  * range stats prune nothing, but a per-file bloom answers
  * "could this file contain id = X?" from one driver-side probe per
  * file. The pushed literal is hashed with the SAME xxhash64 the build
  * side aggregated, and a missing/unreadable bloom keeps the file.
  *
  * Both sidecar maps are loaded lazily: a scan with no stats-usable
  * predicate never reads a stats sidecar, and a scan with no equality
  * predicate never reads a bloom sidecar.
  */
private[graft] class StatsPrunedFileIndex(
    spark: SparkSession,
    files: Seq[Path],
    sidecars: () => Map[(String, String), Map[String, FileStats.ColStats]],
    runtimeKeep: Option[Set[(String, String)]] = None,
    blooms: () => Map[(String, String), Map[String, org.apache.spark.util.sketch.BloomFilter]] = () => Map.empty,
    bloomCols: () => Set[String] = () => Set.empty,
    // the status-cache CLIENT this index lists through. getOrCreate
    // returns an ISOLATED client per call (Spark's per-FileIndex cache
    // keyspace), so a derived keep-set index constructed per prepared-
    // search call MUST inherit its parent's client: with it, the
    // InMemoryFileIndex constructor's listing is |files| cache hits;
    // without it, every call re-lists — a driver listing JOB per search
    // once the snapshot holds > the parallel-discovery threshold (32)
    // files, which measured as ~0.6 s/call of pure regression at the
    // 10⁶ bench fixture's 127 files.
    statusCache: FileStatusCache = null)
  extends InMemoryFileIndex(spark, files, Map.empty[String, String], None,
    if (statusCache != null) statusCache else FileStatusCache.getOrCreate(spark)) {

  /** The cache client the SUPER constructor listed through — resolvable
    * here only when the caller passed one explicitly (a null fell back
    * to a fresh client inside the super call); derived indexes then
    * share it. [[VersionedReadTable.prunedIndex]] always passes one, so
    * every per-call derivation under a versioned table is hit-only. */
  private val sharedStatusCache: FileStatusCache = statusCache

  /** Files kept by the last stats-filtered listing (observability hook;
    * -1 until a filtered listing ran). */
  @volatile var lastKeptFiles: Int = -1

  /** Files kept by the last runtime (join-driven) filter computed against
    * this table's sidecars (-1 until one ran) — written by the scan that
    * derived its keep-set here; observability only. */
  @volatile var lastRuntimeKept: Int = -1

  /** Stats sidecars, loaded at first use and shared with derived
    * runtime-keep indexes. */
  private lazy val sidecarMap: Map[(String, String), Map[String, FileStats.ColStats]] =
    sidecars()

  /** Bloom filters, loaded at first use. A derived runtime-keep index
    * shares its parent's already-loaded map ([[withRuntimeKeep]]) instead
    * of re-reading the sidecars. */
  private lazy val bloomMap: Map[(String, String), Map[String, org.apache.spark.util.sketch.BloomFilter]] =
    blooms()

  /** Columns any sidecar carries stats for — the columns runtime (join-
    * driven) filtering can prune on. */
  private[io] lazy val statsColumns: Set[String] =
    sidecarMap.valuesIterator.flatMap(_.keysIterator).toSet

  /** Columns runtime filtering can act on at all: min/max-tracked OR
    * bloom-tracked (a bloom-only column still prunes point lookups;
    * gating on statsColumns alone would never consult its blooms).
    * Bloom NAMES come from the metadata-cheap sidecar-header read
    * ([[FileStats.readBloomColumns]]), NOT from the full bloom load —
    * `filterAttributes` calls this while planning every join-bearing
    * query, and a range-only scan must never pay sidecar deserialization.
    * A named column whose bloom later fails to load keeps every file
    * (conservative, same as an absent bloom). */
  private[io] lazy val runtimeColumns: Set[String] =
    statsColumns ++ bloomCols()

  /** Files (as (batchDirName, fileName) keys) that could contain at least
    * one value of every per-column candidate set — see
    * [[StatsPrunedFileIndex.survivors]]. */
  private[io] def runtimeSurvivors(sets: Seq[(String, Seq[Any])]): Set[(String, String)] =
    StatsPrunedFileIndex.survivors(files, sidecarMap, bloomMap, sets)

  /** A derived index with a runtime keep-set baked in. The parent index is
    * shared by every scan of the table, so runtime filters must NOT mutate
    * it — a self-join's two scans carry different runtime predicates. */
  private[graft] def withRuntimeKeep(keep: Set[(String, String)]): StatsPrunedFileIndex =
    new StatsPrunedFileIndex(spark, files, () => sidecarMap, Some(keep),
      () => bloomMap, bloomCols, sharedStatusCache)

  /** Per-file point-containment probes for `column`, each file's [min,max]
    * decoded ONCE at build ([[FileStats.containsProbe]]) — the prepared
    * search handle's keep-set primitive: the returned function maps a
    * probed-value set to the (batchDirName, fileName) keys an IN over
    * `column` would keep, as a driver-side O(files · |values|) pass over
    * pre-decoded bounds instead of a per-call Catalyst IN literal (whose
    * changing values force a literal re-plan AND a codegen recompile on
    * every call). Conservative exactly like [[listFiles]]' static path:
    * a file without stats for `column` (or a value stats cannot coerce)
    * is kept. Row-level membership is NOT enforced here — callers must
    * re-check rows (the ANN rankers' cluster equi/semi joins do). */
  private[graft] def keepProbe(column: String): Seq[Any] => Set[(String, String)] = {
    val probes: IndexedSeq[((String, String), Any => Boolean)] =
      files.toIndexedSeq.map { p =>
        val key = (p.getParent.getName, p.getName)
        key -> FileStats.containsProbe(
          sidecarMap.getOrElse(key, Map.empty).get(column))
      }
    values => probes.collect {
      case (key, probe) if values.exists(probe) => key
    }.toSet
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = super.listFiles(partitionFilters, dataFilters)
    val bounds = StatsPrunedFileIndex.extractBounds(dataFilters)
    val candidates = StatsPrunedFileIndex.extractEqualityHashes(dataFilters)
    val inSets = StatsPrunedFileIndex.extractInSets(dataFilters)
    if (bounds.isEmpty && candidates.isEmpty && inSets.isEmpty &&
      runtimeKeep.isEmpty) listed
    else {
      val pruned = listed.map { pd =>
        pd.copy(files = pd.files.filter { f =>
          val key = (f.getPath.getParent.getName, f.getPath.getName)
          lazy val byCol = sidecarMap.getOrElse(key, Map.empty)
          runtimeKeep.forall(_.contains(key)) &&
          bounds.forall { case (c, (lo, hi)) =>
            FileStats.mayContain(byCol.get(c), lo, hi)
          } &&
          inSets.forall { case (c, vs) =>
            // decode once per (file, column): a pushed IN can carry a
            // 100k-id re-rank shortlist, and the per-value mayContain
            // re-parsed the stat strings per (file, value) pair
            vs.exists(FileStats.containsProbe(byCol.get(c)))
          } && {
            lazy val fileBlooms = bloomMap.getOrElse(key, Map.empty)
            candidates.forall { case (c, hashes) =>
              fileBlooms.get(c) match {
                case None => true // no bloom for this file/column: keep
                case Some(b) => hashes.exists(b.mightContainLong)
              }
            }
          }
        })
      }
      lastKeptFiles = pruned.map(_.files.size).sum
      pruned
    }
  }
}

private[graft] object StatsPrunedFileIndex {

  /** The index over one snapshot's `files` (absolute paths), with both
    * sidecar maps loaded lazily per batch dir through the memoized
    * readers ([[FileStats.readSidecar]], [[FileStats.bloomFilters]]) and
    * keyed (batchDirName, fileName), so two part files with the same name
    * in different batches can never borrow each other's stats (a wrong
    * borrow could prune a file that holds matching rows). Entries under a
    * `deadCols` name (lower-cased; see `Versioned.statsDeadColumns`) are
    * dropped before any probe, so no read ever prunes on an
    * identity-unstable name — the same rule the stats proofs apply. */
  def forFiles(spark: SparkSession, files: Seq[String],
               deadCols: () => Set[String] = () => Set.empty): StatsPrunedFileIndex = {
    val paths = files.map(new Path(_))
    val hconf = spark.sparkContext.hadoopConfiguration
    new StatsPrunedFileIndex(spark, paths,
      sidecars = () => perDir(spark, paths, deadCols, FileStats.readSidecar),
      blooms = () => perDir(spark, paths, deadCols, FileStats.bloomFilters),
      bloomCols = () => {
        val dead = deadCols()
        paths.map(_.getParent).distinct.iterator
          .flatMap(dir => FileStats.readBloomColumns(dir.getFileSystem(hconf), dir))
          .filterNot(c => dead.contains(c.toLowerCase)).toSet
      },
      // an explicit cache client, so per-call keep-set derivations
      // (VersionedReadTable.withKeep) re-list through hits instead of a
      // job per search
      statusCache = FileStatusCache.getOrCreate(spark))
  }

  /** One sidecar kind for `paths`, read per batch dir (per-dir
    * filesystem: a shallow clone's entries may live on another
    * filesystem than the table root) and keyed (batchDirName, fileName),
    * minus the `deadCols` names. */
  private def perDir[V](spark: SparkSession, paths: Seq[Path], deadCols: () => Set[String],
                        read: (org.apache.hadoop.fs.FileSystem, Path) => Map[String, Map[String, V]])
      : Map[(String, String), Map[String, V]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    lazy val dead = deadCols()
    paths.map(_.getParent).distinct.iterator.flatMap { dir =>
      read(dir.getFileSystem(hconf), dir).iterator.map { case (name, byCol) =>
        (dir.getName, name) -> byCol.filter { case (c, _) => !dead.contains(c.toLowerCase) }
      }
    }.toMap
  }

  /** The subset of `files` (absolute paths) that could contain at least
    * one value of every per-column candidate set ([[survivors]] over the
    * sidecars [[forFiles]] would load), without building an index, whose
    * file listing a caller that only needs the keep-set would pay for
    * nothing. The MERGE probe's pruning over a pinned source's keys. */
  def survivingFiles(spark: SparkSession, files: Seq[String], deadCols: () => Set[String],
                     sets: Seq[(String, Seq[Any])]): Seq[String] = {
    val paths = files.map(new Path(_))
    val keep = survivors(paths, perDir(spark, paths, deadCols, FileStats.readSidecar),
      perDir(spark, paths, deadCols, FileStats.bloomFilters), sets)
    files.zip(paths).collect {
      case (f, p) if keep((p.getParent.getName, p.getName)) => f
    }
  }

  /** Files (as (batchDirName, fileName) keys) that could contain at least
    * one value of every per-column candidate set (conservative: missing
    * stats keep the file). Bloom sidecars are consulted too: a runtime
    * (join-driven) candidate set over an UNCLUSTERED key — where every
    * file's [min,max] spans the domain — still prunes to the files whose
    * bloom can contain one of the build side's keys. A column set where
    * ANY value fails to hash keeps every file for that column
    * (pruning on the hashable subset alone could drop a file holding
    * only the unhashable value). Blooms load only when a set hashes. */
  private def survivors(files: Seq[Path],
                        sidecarMap: Map[(String, String), Map[String, FileStats.ColStats]],
                        bloomMap: => Map[(String, String), Map[String, org.apache.spark.util.sketch.BloomFilter]],
                        sets: Seq[(String, Seq[Any])]): Set[(String, String)] = {
    val hashSets: Map[String, Seq[Long]] = sets.flatMap { case (c, vs) =>
      val hs = vs.map(externalHash)
      if (vs.nonEmpty && hs.forall(_.isDefined)) Some(c -> hs.flatten) else None
    }.toMap
    lazy val blooms = bloomMap
    files.iterator.map(p => (p.getParent.getName, p.getName)).filter { key =>
      val byCol = sidecarMap.getOrElse(key, Map.empty)
      sets.forall { case (c, vs) =>
        // decode this file's [min,max] once, then probe the whole
        // candidate set — a join-driven set can carry thousands of keys
        vs.exists(FileStats.containsProbe(byCol.get(c)))
      } && {
        lazy val fileBlooms = blooms.getOrElse(key, Map.empty)
        hashSets.forall { case (c, hs) =>
          fileBlooms.get(c) match {
            case None => true
            case Some(b) => hs.exists(b.mightContainLong)
          }
        }
      }
    }.toSet
  }

  /** Per-column [lo, hi] bounds implied by the pushed conjuncts; columns
    * with no recognizable bound are absent (never pruned on). */
  def extractBounds(filters: Seq[Expression]): Map[String, (Option[Any], Option[Any])] = {
    val bounds = scala.collection.mutable.Map[String, (Option[Any], Option[Any])]()
    def tightenLo(c: String, v: Any): Unit = {
      val (lo, hi) = bounds.getOrElse(c, (None, None))
      if (lo.isEmpty) bounds(c) = (Some(v), hi) // first bound wins; extra conjuncts only help
    }
    def tightenHi(c: String, v: Any): Unit = {
      val (lo, hi) = bounds.getOrElse(c, (None, None))
      if (hi.isEmpty) bounds(c) = (lo, Some(v))
    }
    filters.foreach {
      case GreaterThan(a: Attribute, l: Literal) => literalValue(l).foreach(tightenLo(a.name, _))
      case GreaterThanOrEqual(a: Attribute, l: Literal) => literalValue(l).foreach(tightenLo(a.name, _))
      case LessThan(a: Attribute, l: Literal) => literalValue(l).foreach(tightenHi(a.name, _))
      case LessThanOrEqual(a: Attribute, l: Literal) => literalValue(l).foreach(tightenHi(a.name, _))
      case GreaterThan(l: Literal, a: Attribute) => literalValue(l).foreach(tightenHi(a.name, _))
      case GreaterThanOrEqual(l: Literal, a: Attribute) => literalValue(l).foreach(tightenHi(a.name, _))
      case LessThan(l: Literal, a: Attribute) => literalValue(l).foreach(tightenLo(a.name, _))
      case LessThanOrEqual(l: Literal, a: Attribute) => literalValue(l).foreach(tightenLo(a.name, _))
      case EqualTo(a: Attribute, l: Literal) =>
        literalValue(l).foreach { v => tightenLo(a.name, v); tightenHi(a.name, v) }
      case EqualTo(l: Literal, a: Attribute) =>
        literalValue(l).foreach { v => tightenLo(a.name, v); tightenHi(a.name, v) }
      case _ => // unsupported shape: no bound, no pruning — conservative
    }
    bounds.toMap
  }

  /** Per-column xxhash64 candidate sets implied by pushed equality / IN
    * conjuncts — the probe side of the bloom sidecar. The hash is
    * evaluated on the pushed literal exactly as the build side hashed the
    * column (same expression, same seed), so dtype agreement is
    * guaranteed by Catalyst's own cast insertion. Float/double columns
    * never get blooms built ([[FileStats.bloomSupported]]), so their
    * equality conjuncts find no bloom and prune nothing. Null literals
    * contribute no candidate (Catalyst folds `c = NULL` anyway). */
  def extractEqualityHashes(filters: Seq[Expression]): Map[String, Seq[Long]] = {
    // integral literals hash AS LONG — mirroring the build side, so a
    // type-widening evolution (int -> long) cannot flip old blooms into
    // false negatives (a false-negative bloom WRONGLY PRUNES)
    def widened(l: Literal): Literal = l.dataType match {
      case org.apache.spark.sql.types.ByteType => Literal(l.value.asInstanceOf[Byte].toLong)
      case org.apache.spark.sql.types.ShortType => Literal(l.value.asInstanceOf[Short].toLong)
      case org.apache.spark.sql.types.IntegerType => Literal(l.value.asInstanceOf[Int].toLong)
      case _ => l
    }
    def hashOf(l: Literal): Option[Long] = l.dataType match {
      // a float/double/decimal literal can only reach a bloom-carrying
      // column AFTER a type widening (blooms are never BUILT on those
      // types) — the old integral-hashed bloom would be a false negative
      // for it, and a false-negative bloom WRONGLY PRUNES; never probe
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => None
      case _: org.apache.spark.sql.types.DecimalType => None
      case _ => Some(new XxHash64(Seq(widened(l))).eval(null).asInstanceOf[Long])
    }
    // NULL elements match nothing — droppable; a non-null element that
    // cannot be hashed poisons the WHOLE set (pruning on the hashable
    // subset alone could drop a file holding only the unhashable value)
    def hashesOrPoison(ls: Seq[Literal]): Option[Seq[Long]] = {
      val hs = ls.filter(_.value != null).map(hashOf)
      if (hs.forall(_.isDefined)) Some(hs.flatten) else None
    }
    val sets = scala.collection.mutable.Map[String, Seq[Long]]()
    def add(c: String, hs: Option[Seq[Long]]): Unit =
      // first candidate set wins: extra equality conjuncts on the same
      // column could only tighten, and one set is enough to prune on
      hs.foreach(h => if (!sets.contains(c) && h.nonEmpty) sets(c) = h)
    filters.foreach {
      case EqualTo(a: Attribute, l: Literal) => add(a.name, hashesOrPoison(Seq(l)))
      case EqualTo(l: Literal, a: Attribute) => add(a.name, hashesOrPoison(Seq(l)))
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        add(a.name, hashesOrPoison(vs.map(_.asInstanceOf[Literal])))
      case InSet(a: Attribute, vs) =>
        // InSet values are already INTERNAL (UTF8String, micros, …): wrap
        // with the case-class constructor, not Literal.create (which
        // would re-convert an external value)
        add(a.name, hashesOrPoison(vs.toSeq.map(v => Literal(v, a.dataType))))
      case _ =>
    }
    sets.toMap
  }

  /** Per-column candidate VALUE sets implied by pushed IN / InSet
    * conjuncts, in the bound domain FileStats.coerce understands — the
    * min/max twin of [[extractEqualityHashes]]: a file survives iff SOME
    * candidate lies inside its [min,max], the same per-value check
    * [[runtimeSurvivors]] already applies to join-driven candidate sets.
    * Without this the STATIC path pruned IN conjuncts only through
    * blooms, so an IN over a stats-tracked-but-unbloomed column — e.g.
    * the ANN codes table's cell-range layout probed at nprobe ≥ 2 —
    * skipped nothing (nprobe = 1 worked by accident: Catalyst folds a
    * one-element IN to EqualTo, which [[extractBounds]] handles). A set
    * holding any value stats cannot compare poisons that column's set
    * (pruning on the comparable subset alone could drop a file holding
    * only the incomparable value); null elements match nothing and are
    * dropped. */
  def extractInSets(filters: Seq[Expression]): Map[String, Seq[Any]] = {
    val sets = scala.collection.mutable.Map[String, Seq[Any]]()
    def addAll(c: String, ls: Seq[Literal]): Unit = if (!sets.contains(c)) {
      val nonNull = ls.filter(_.value != null)
      val vs = nonNull.map(literalValue)
      if (nonNull.nonEmpty && vs.forall(_.isDefined)) sets(c) = vs.flatten
    }
    filters.foreach {
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        addAll(a.name, vs.map(_.asInstanceOf[Literal]))
      case InSet(a: Attribute, vs) =>
        // InSet values are INTERNAL (UTF8String, micros, …): wrap with
        // the case-class constructor so literalValue decodes them
        addAll(a.name, vs.toSeq.map(v => Literal(v, a.dataType)))
      case _ =>
    }
    sets.toMap
  }

  /** xxhash64 of an EXTERNAL (sources.Filter) runtime-filter value under
    * the bloom build-side's hashing scheme: integrals widened to long,
    * strings/date/timestamp converted to their internal encodings. None
    * for anything else — the caller must then keep every file. */
  private[io] def externalHash(v: Any): Option[Long] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val lit: Option[Literal] = v match {
      case null => None
      case n: java.lang.Byte => Some(Literal(n.longValue))
      case n: java.lang.Short => Some(Literal(n.longValue))
      case n: java.lang.Integer => Some(Literal(n.longValue))
      case n: java.lang.Long => Some(Literal(n.longValue))
      case s: String => Some(Literal(UTF8String.fromString(s), StringType))
      case d: java.sql.Date => Some(Literal(d.toLocalDate.toEpochDay.toInt, DateType))
      case d: java.time.LocalDate => Some(Literal(d.toEpochDay.toInt, DateType))
      case t: java.sql.Timestamp =>
        val i = t.toInstant
        Some(Literal(i.getEpochSecond * 1000000L + i.getNano / 1000L, TimestampType))
      case i: java.time.Instant =>
        Some(Literal(i.getEpochSecond * 1000000L + i.getNano / 1000L, TimestampType))
      case _ => None
    }
    lit.map(l => new XxHash64(Seq(l)).eval(null).asInstanceOf[Long])
  }

  /** Catalyst literal -> the bound domain FileStats.coerce understands.
    * None for types stats can't compare (disables pruning on that bound). */
  private[io] def literalValue(l: Literal): Option[Any] =
    internalValue(l.dataType, l.value)

  /** Internal-encoding decoder shared with the strict proofs
    * ([[StatsProofs]]) so the advisory and load-bearing paths read
    * catalyst literals identically. */
  private[io] def internalValue(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (_, null) => None // col <op> NULL matches nothing; leave to the row filter
    case (DateType, days: Int) => Some(java.time.LocalDate.ofEpochDay(days.toLong))
    case (TimestampType, micros: Long) =>
      Some(java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
    case (_, s: UTF8String) => Some(s.toString)
    case (_, n: Number) => Some(n)
    case _ => None
  }
}

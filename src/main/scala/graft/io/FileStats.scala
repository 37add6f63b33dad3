package graft.io

import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Per-file min/max column statistics for [[Versioned]] tables, harvested
  * from parquet FOOTERS at commit time (no data read) and persisted as a
  * tiny sidecar per batch directory. This is the file-skipping metadata
  * every lake format keeps (Delta's stats in the log, Iceberg's manifests):
  * at 100 TB a range predicate that touches one week of a year-partitioned
  * sort layout must open ~2% of the files, not list-and-open all of them —
  * the parquet row-group pushdown only helps AFTER a file is opened;
  * this prunes the file opens themselves, on the driver, from one
  * sidecar read per batch.
  *
  * Supported column shapes (everything else simply records no stats and is
  * never pruned): INT32/INT64 (`long`), FLOAT/DOUBLE (`double`), UTF8
  * binary (`string`), INT64 timestamps (`ts-millis`/`ts-micros`, compared
  * in their own unit). Values are base64-encoded in the sidecar so
  * delimiters in string data can never corrupt it. Pruning is always
  * conservative: a missing sidecar, an unknown column, an empty or
  * null-only stat keeps the file; correctness never depends on stats
  * because the residual predicate is re-applied to every row read.
  */
object FileStats {

  /** One column's encoded min/max for one file. `nulls` is the file's
    * null count for the column, or -1 when any row group left it
    * unrecorded — the strict proofs ([[StatsProofs]]) need an exact zero
    * before they may treat min/max as covering EVERY row. */
  case class ColStats(tag: String, min: String, max: String, nulls: Long = -1L)

  private def enc(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  /** Footer-read the min/max of `cols` for each file. Returns
    * fileName -> (col -> stats); columns without usable stats are absent. */
  def collect(conf: Configuration, files: Seq[Path],
              cols: Seq[String]): Map[String, Map[String, ColStats]] =
    collectWith(conf, files, _ => cols.map(c => c -> c).toMap)

  /** [[collect]] resolved by FIELD ID: `wanted` maps each OUTPUT (current)
    * column name to its stable field id, and each file's footer resolves
    * the id to that file's own physical column name — so stats for a
    * RENAMED column land under its current name even from files written
    * under the old one (the sidecar re-harvest [[Versioned.reharvestStats]]
    * runs on). Fallback per file: a field the footer carries NO id for
    * matches by exact name (legacy files in a partially-upgraded dir);
    * a wanted id absent from a file simply records nothing there
    * (conservative, like every stats gap). */
  def collectById(conf: Configuration, files: Seq[Path],
                  wanted: Map[String, Long]): Map[String, Map[String, ColStats]] =
    collectWith(conf, files, { schema =>
      val fields = schema.getFields.asScala
      val physById: Map[Long, String] = fields.flatMap { f =>
        Option(f.getId).map(id => id.intValue().toLong -> f.getName)
      }.toMap
      wanted.flatMap { case (out, id) =>
        physById.get(id) match {
          case Some(phys) => Some(phys -> out)
          case None => fields.find(f => f.getName == out && f.getId == null)
            .map(_ => out -> out)
        }
      }
    })

  /** Core footer sweep: `mappingFor` derives, per file schema, the map of
    * PHYSICAL column name -> OUTPUT sidecar name to harvest. */
  private def collectWith(conf: Configuration, files: Seq[Path],
                          mappingFor: org.apache.parquet.schema.MessageType => Map[String, String])
      : Map[String, Map[String, ColStats]] = {
    MetaPar.parMap(files) { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      val footer = try reader.getFooter finally reader.close()
      val schema = footer.getFileMetaData.getSchema
      val mapping = mappingFor(schema)
      val wanted = mapping.keySet
      // merge min/max across row groups, skipping groups with no usable stat
      val perCol = scala.collection.mutable.Map[String, ColStats]()
      // per-column null count summed over groups; -1 once any group's
      // count is unrecorded (parquet reports -1 for "not set")
      val nullsBy = scala.collection.mutable.Map[String, Long]()
      var unusable = Set.empty[String]
      footer.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          if (wanted.contains(name) && !unusable.contains(name)) {
            val st: org.apache.parquet.column.statistics.Statistics[_] =
              cc.getStatistics
            if (st == null || st.isEmpty ||
                (!st.hasNonNullValue && st.getNumNulls == 0)) {
              // stats genuinely unknown for this group -> whole file unusable
              unusable += name; perCol.remove(name)
            } else {
              val n = st.getNumNulls
              nullsBy(name) = nullsBy.get(name) match {
                case Some(prev) if prev >= 0 && n >= 0 => prev + n
                case Some(_) => -1L
                case None => if (n >= 0) n else -1L
              }
              if (st.hasNonNullValue) {
                val field = schema.getType(cc.getPath.toArray: _*).asPrimitiveType()
                encodeStat(field.getPrimitiveTypeName.name(),
                  field.getLogicalTypeAnnotation,
                  st.genericGetMin.asInstanceOf[AnyRef],
                  st.genericGetMax.asInstanceOf[AnyRef])
                  match {
                    case Some(cs) => perCol(name) = perCol.get(name).map(merge(_, cs)).getOrElse(cs)
                    case None => unusable += name; perCol.remove(name)
                  }
              } // null-only group: counts its nulls, contributes no values
            }
          }
        }
      }
      // keys are PHYSICAL names through the loop; translate on the way out
      p.getName -> perCol.map { case (c, cs) =>
        mapping(c) -> cs.copy(nulls = nullsBy.getOrElse(c, -1L))
      }.toMap
    }.toMap
  }

  /** Footer-read the exact row count of each file (sum of row-group
    * counts — parquet records these exactly, no data read). Backs the
    * deletion-vector "whole file dead" check: a vector whose cardinality
    * reaches the file's row count means the FILE can drop from the
    * manifest instead of carrying a 100%-dead vector. */
  def rowCounts(conf: Configuration, files: Seq[Path]): Map[String, Long] =
    MetaPar.parMap(files) { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      val footer = try reader.getFooter finally reader.close()
      p.getName -> footer.getBlocks.asScala.map(_.getRowCount).sum
    }.toMap

  /** Total row count across `files`, footer-only. Unlike [[rowCounts]]
    * this never keys by file NAME, so it is safe across batch
    * directories (names are only unique within one dir) — the shape
    * [[Versioned.countRows]] needs: one bounded-parallel footer sweep
    * over the whole snapshot instead of a serial per-directory loop. */
  def rowCountTotal(conf: Configuration, files: Seq[Path]): Long =
    MetaPar.parMap(files) { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      val footer = try reader.getFooter finally reader.close()
      footer.getBlocks.asScala.map(_.getRowCount).sum
    }.sum

  private def encodeStat(physical: String, logical: LogicalTypeAnnotation,
                         min: AnyRef, max: AnyRef): Option[ColStats] =
    (physical, logical) match {
      case ("INT64", ts: TimestampLogicalTypeAnnotation) =>
        val tag = ts.getUnit.name() match {
          case "MILLIS" => "ts-millis"
          case "MICROS" => "ts-micros"
          case _ => return None
        }
        Some(ColStats(tag, min.toString, max.toString))
      case ("INT32", _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
        Some(ColStats("date", min.toString, max.toString)) // epoch days
      // plain ints only: a decimal's INT64 is the UNSCALED value — tagging
      // it "long" would compare unscaled stats against scaled bounds and
      // prune files that match. No stats = never pruned = safe.
      case ("INT64" | "INT32", l)
          if l == null || l.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
        Some(ColStats("long", min.toString, max.toString))
      case ("DOUBLE" | "FLOAT", _) => Some(ColStats("double", min.toString, max.toString))
      case ("BINARY", _: StringLogicalTypeAnnotation) =>
        Some(ColStats("string",
          enc(min.asInstanceOf[Binary].toStringUsingUTF8),
          enc(max.asInstanceOf[Binary].toStringUsingUTF8)))
      case _ => None
    }

  /** Unsigned UTF-8 byte order — the order parquet computes binary stats
    * in AND the order Spark's UTF8String comparisons use. Java's
    * String.compareTo (UTF-16 code units) disagrees for supplementary
    * characters (e.g. emoji sort below U+FFFF in UTF-16 but above it in
    * UTF-8), which would prune files that actually contain matches. */
  private def cmpUtf8(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private def merge(a: ColStats, b: ColStats): ColStats = {
    require(a.tag == b.tag, s"mixed stat tags ${a.tag}/${b.tag}")
    def lt(x: String, y: String): Boolean = a.tag match {
      case "double" => x.toDouble < y.toDouble
      case "string" => cmpUtf8(Base64.getDecoder.decode(x), Base64.getDecoder.decode(y)) < 0
      case _ => x.toLong < y.toLong // long / ts-* / date
    }
    ColStats(a.tag,
      if (lt(b.min, a.min)) b.min else a.min,
      if (lt(a.max, b.max)) b.max else a.max)
  }

  // ---------------------------------------------------------------- sidecar

  private val SidecarName = ".stats.tsv"

  def sidecarPath(batchDir: Path): Path = new Path(batchDir, SidecarName)

  /** Write `body` to `dest` via a temp file + rename: sidecars can now be
    * retrofitted onto LIVE batch dirs, and a rename is atomic where the
    * filesystem supports it — a concurrent reader sees the old file, the
    * new file, or (in the delete-rename window) none, never a torn one.
    * All three outcomes are conservative for advisory metadata. */
  private def writeAtomic(fs: FileSystem, dest: Path, body: String): Unit = {
    val tmp = new Path(dest.getParent, s".${dest.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"could not publish sidecar $dest")
  }

  /** Write the batch's stats sidecar (TSV: file, col, tag, min, max,
    * nulls — the last column absent in pre-null-tracking sidecars). */
  def writeSidecar(fs: FileSystem, batchDir: Path,
                   stats: Map[String, Map[String, ColStats]]): Unit = {
    val body = stats.toSeq.sortBy(_._1).flatMap { case (file, byCol) =>
      byCol.toSeq.sortBy(_._1).map { case (c, s) =>
        s"$file\t$c\t${s.tag}\t${s.min}\t${s.max}\t${s.nulls}"
      }
    }.mkString("", "\n", "\n")
    writeAtomic(fs, sidecarPath(batchDir), body)
  }

  // sidecars are written once per batch (or atomically retrofitted, which
  // changes mtime and length), so every read goes through a settle-ruled
  // memo: repeated reads of one snapshot cost one stat per batch dir
  private val sidecarMemo =
    new graft.io.SettledMemo[Map[String, Map[String, ColStats]]](64L << 20)

  /** Read a batch's sidecar; empty if absent (older commit or no stats). */
  def readSidecar(fs: FileSystem, batchDir: Path): Map[String, Map[String, ColStats]] = {
    val p = sidecarPath(batchDir)
    sidecarMemo(fs, p, Map.empty) { st =>
      new String(readAll(fs, p, st.getLen), StandardCharsets.UTF_8).split("\n")
        .map(_.trim).filter(_.nonEmpty)
        .map(_.split("\t", -1)).collect {
          // 5-field rows are pre-null-tracking sidecars: nulls unknown (-1)
          case Array(file, c, tag, mn, mx) => (file, c, ColStats(tag, mn, mx))
          case Array(file, c, tag, mn, mx, nulls) =>
            (file, c, ColStats(tag, mn, mx, nulls.toLongOption.getOrElse(-1L)))
        }
        .groupBy(_._1)
        .map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }
    }
  }

  private def readAll(fs: FileSystem, p: Path, len: Long): Array[Byte] = {
    val in = fs.open(p)
    try {
      val b = new Array[Byte](len.toInt)
      in.readFully(b); b
    } finally in.close()
  }

  // ---------------------------------------------------------- bloom sidecar

  private val BloomSidecarName = ".blooms.tsv"

  def bloomSidecarPath(batchDir: Path): Path = new Path(batchDir, BloomSidecarName)

  /** Column types a bloom filter may be built/probed on. Float/double are
    * excluded ON PURPOSE: SQL equality normalizes -0.0 == 0.0 (and the
    * join paths normalize NaN) while the hash of the raw bits
    * distinguishes them — a bloom probe could prune a file that SQL says
    * matches. Same hazard class the MERGE probe refuses float keys for. */
  def bloomSupported(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  /** Write the batch's bloom sidecar (TSV: file, col, base64(bloom bytes) —
    * the spark.util.sketch serialized form). A `#cols=` header line lists
    * the tracked column names — `tracked` plus every column with an entry
    * — so planning ([[readBloomColumns]]) learns them from one small read
    * instead of streaming every filter's bytes. A tracked column may have
    * no entry for a file (no values in it); readers keep such a file. */
  def writeBloomSidecar(fs: FileSystem, batchDir: Path,
                        blooms: Map[String, Map[String, Array[Byte]]],
                        tracked: Iterable[String] = Nil): Unit = {
    val cols = (tracked.iterator ++ blooms.valuesIterator.flatMap(_.keysIterator))
      .toSeq.distinct.sorted
    val header = s"#cols=${cols.mkString(",")}"
    val body = (header +: blooms.toSeq.sortBy(_._1).flatMap { case (file, byCol) =>
      byCol.toSeq.sortBy(_._1).map { case (c, bytes) =>
        s"$file\t$c\t${Base64.getEncoder.encodeToString(bytes)}"
      }
    }).mkString("", "\n", "\n")
    writeAtomic(fs, bloomSidecarPath(batchDir), body)
  }

  /** Read a batch's bloom sidecar; empty if absent. Unlike the stats
    * sidecar (written once, pre-publish), blooms can be retrofitted onto
    * a LIVE batch dir (`Versioned.buildBlooms`), so a torn concurrent
    * read is possible — an undecodable line is skipped (absent bloom =
    * conservative keep), never an error. */
  def readBloomSidecar(fs: FileSystem, batchDir: Path): Map[String, Map[String, Array[Byte]]] = {
    val p = bloomSidecarPath(batchDir)
    try parseBlooms(readAll(fs, p, fs.getFileStatus(p).getLen))
    catch { case _: java.io.FileNotFoundException => Map.empty }
  }

  private def parseBlooms(bytes: Array[Byte]): Map[String, Map[String, Array[Byte]]] =
    new String(bytes, StandardCharsets.UTF_8).split("\n")
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { line =>
        line.split("\t", -1) match {
          case Array(file, c, b64) =>
            try Some((file, c, Base64.getDecoder.decode(b64)))
            catch { case scala.util.control.NonFatal(_) => None }
          case _ => None
        }
      }
      .groupBy(_._1)
      .map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }

  private val bloomMemo = new graft.io.SettledMemo[
    Map[String, Map[String, org.apache.spark.util.sketch.BloomFilter]]](128L << 20)

  /** A batch's bloom filters, DESERIALIZED — the probe side of pruning:
    * fileName -> col -> filter. Deserialized once per settled sidecar
    * ([[SettledMemo]]): a probe-per-candidate re-deserialization would
    * copy the whole bitset (≈120 KB) per planned query. An unreadable
    * bloom is dropped (absent = conservative keep). */
  def bloomFilters(fs: FileSystem, batchDir: Path)
      : Map[String, Map[String, org.apache.spark.util.sketch.BloomFilter]] = {
    val p = bloomSidecarPath(batchDir)
    bloomMemo(fs, p, Map.empty) { st =>
      parseBlooms(readAll(fs, p, st.getLen)).map { case (file, byCol) =>
        file -> byCol.flatMap { case (c, bytes) =>
          try Some(c -> org.apache.spark.util.sketch.BloomFilter.readFrom(bytes))
          catch { case scala.util.control.NonFatal(_) => None }
        }
      }
    }
  }

  /** Bloom-tracked column NAMES of a batch, metadata-cheap: the `#cols=`
    * header when present (one buffered line read), a field-2 streaming
    * scan (no base64 decode, no filter deserialization) for sidecars
    * written before the header existed. Planning calls this through
    * `SupportsRuntimeFiltering.filterAttributes`, so it must stay cheap —
    * the full bloom load is deferred until a probe actually runs. */
  def readBloomColumns(fs: FileSystem, batchDir: Path): Set[String] = {
    val p = bloomSidecarPath(batchDir)
    if (!fs.exists(p)) return Set.empty
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try {
      var line = in.readLine()
      if (line != null && line.startsWith("#cols="))
        return line.stripPrefix("#cols=").split(",").iterator
          .map(_.trim).filter(_.nonEmpty).toSet
      val out = scala.collection.mutable.Set[String]()
      while (line != null) {
        if (!line.startsWith("#")) {
          val t1 = line.indexOf('\t')
          val t2 = if (t1 >= 0) line.indexOf('\t', t1 + 1) else -1
          if (t2 > t1) out += line.substring(t1 + 1, t2)
        }
        line = in.readLine()
      }
      out.toSet
    } catch {
      // torn concurrent retrofit read: no names = no runtime filtering
      // offer, never an error (same policy as readBloomSidecar)
      case scala.util.control.NonFatal(_) => Set.empty
    } finally in.close()
  }

  /** Can a file with this serialized bloom contain a value with xxhash64
    * `h`? Conservative: an unreadable bloom keeps the file. */
  def bloomMayContain(bloom: Array[Byte], h: Long): Boolean =
    try org.apache.spark.util.sketch.BloomFilter.readFrom(bloom).mightContainLong(h)
    catch { case scala.util.control.NonFatal(_) => true }

  // ---------------------------------------------------------------- pruning

  /** Can a file with these stats contain a row with value in [lo, hi]?
    * Either bound may be None (open). Conservative on any mismatch. */
  def mayContain(stats: Option[ColStats], lo: Option[Any], hi: Option[Any]): Boolean =
    stats match {
      case None => true
      case Some(cs) =>
        val belowLo = lo.flatMap(b => cmpStat(cs, cs.max, b)).exists(_ < 0) // max < lo
        val aboveHi = hi.flatMap(b => cmpStat(cs, cs.min, b)).exists(_ > 0) // min > hi
        !(belowLo || aboveHi)
    }

  /** [[mayContain]] specialized to POINT containment of many values
    * against ONE file's stats: the [min,max] strings decode once (parse,
    * base64) per file instead of per (file, value) pair — the batch
    * primitive behind coverage counts ([[Versioned.fileStatsCoverage]])
    * and the prepared handle's per-call keep-set. Verdicts are identical
    * to `mayContain(stats, Some(v), Some(v))` by construction: absent
    * stats or an uncoercible value keep (true), and the comparisons
    * mirror cmpStat's per domain (Double.compare on doubles, UTF8 byte
    * order on strings). */
  def containsProbe(stats: Option[ColStats]): Any => Boolean = stats match {
    case None => _ => true
    case Some(cs) =>
      // decoded at most once per file (lazy: a probe whose every value
      // fails coercion never parses; a malformed stat string throws on
      // first use, exactly where mayContain's per-value parse would)
      lazy val minL = cs.min.toLong
      lazy val maxL = cs.max.toLong
      lazy val minD = cs.min.toDouble
      lazy val maxD = cs.max.toDouble
      lazy val minB = Base64.getDecoder.decode(cs.min)
      lazy val maxB = Base64.getDecoder.decode(cs.max)
      v => coerce(cs.tag, v) match {
        case None => true
        case Some(b: Long) => minL <= b && b <= maxL
        case Some(b: Double) =>
          !(java.lang.Double.compare(maxD, b) < 0 ||
            java.lang.Double.compare(minD, b) > 0)
        case Some(b: Array[Byte]) =>
          !(cmpUtf8(maxB, b) < 0 || cmpUtf8(minB, b) > 0)
        case Some(_) => true
      }
  }

  /** Compare one encoded stat value (`cs.min` or `cs.max`) against a
    * caller bound in the tag's domain: sign of (stat - bound); None when
    * the bound can't be coerced into that domain. */
  private[io] def cmpStat(cs: ColStats, stat: String, bound: Any): Option[Int] =
    coerce(cs.tag, bound).map {
      case b: Long => java.lang.Long.compare(stat.toLong, b)
      case b: Double => java.lang.Double.compare(stat.toDouble, b)
      case b: Array[Byte] => cmpUtf8(Base64.getDecoder.decode(stat), b)
    }

  /** Coerce a caller-supplied bound into the stat tag's comparison domain;
    * None (no coercion possible) disables pruning for that bound. */
  private def coerce(tag: String, v: Any): Option[Any] = (tag, v) match {
    case ("long", n: Number) => Some(n.longValue())
    case ("double", n: Number) => Some(n.doubleValue())
    case ("string", s: String) => Some(s.getBytes(StandardCharsets.UTF_8))
    case ("ts-millis", t: java.sql.Timestamp) => Some(t.toInstant.toEpochMilli)
    case ("ts-millis", i: java.time.Instant) => Some(i.toEpochMilli)
    case ("ts-micros", t: java.sql.Timestamp) =>
      val i = t.toInstant; Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case ("ts-micros", i: java.time.Instant) =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case ("date", d: java.time.LocalDate) => Some(d.toEpochDay)
    case ("date", d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
    case _ => None
  }
}

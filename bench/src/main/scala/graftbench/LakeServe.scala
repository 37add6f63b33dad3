package graftbench

import graft.io.Versioned
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A versioned table served to one client: mostly reads (point lookups
  * on an unclustered key, date-range scans, time-travel lookups), with
  * small merge-on-read upserts and deletes in between and periodic
  * compaction and deletion-vector materialisation as background work.
  * Keys favour recent dates. Every read is checked against an in-memory
  * model that is updated after each write and kept per version. */
final class LakeServe(ctx: Ctx) extends Workload {
  import LakeServe._
  private val spark = ctx.spark

  private var root = ""
  private var cur = HashMap.empty[Long, V]
  private val byVersion = mutable.LinkedHashMap.empty[Long, HashMap[Long, V]]
  private val idsByDay = Array.fill(Days)(ArrayBuffer.empty[Long])
  private var nextId = 0L
  private var op = 0L
  private var writes = 0L
  private var sinceMaintenance = 0
  private var maintenanceRuns = 0L
  private var lastScan: (Array[Row], Seq[(Long, V)]) = (Array.empty, Nil)

  def tableRoot: String = root

  def describe: String =
    s"base_rows=$BaseRows days=$Days files=$Files stores=$Stores " +
      s"mix=${Schedule.groupBy(identity).map { case (k, ks) => s"$k:${ks.size}" }.mkString(",")} " +
      s"of every ${Schedule.size} operations upsert_rows=$UpsertRows ($UpsertNew new) delete_rows=$DeleteRows " +
      s"recent_share=$RecentShare of keys from the last $RecentDays days " +
      s"maintenance_every=$MaintenanceEvery writes"

  def build(dir: String): Unit = {
    root = s"$dir/table"
    cur = HashMap.empty
    byVersion.clear()
    idsByDay.foreach(_.clear())
    dayOfId.clear()
    nextId = 0L
    val r = ctx.rng("base", 0)
    val rows = (0 until BaseRows).map { _ =>
      val v = V(r.nextInt(Days), r.nextInt(Stores), r.nextInt(1000000).toLong, s"n${r.nextInt(1000)}")
      val id = newId(v.day)
      cur = cur.updated(id, v)
      row(id, v)
    }
    val base = spark.createDataFrame(rows.asJava, Schema)
      .repartitionByRange(Files, col("day")).sortWithinPartitions("day")
    val v0 = Versioned.commit(spark, base, root, statsCols = Seq("day", "id"), bloomCols = Seq("id"))
    byVersion(v0) = cur
  }

  /** Every operation kind once, from a stream of its own. */
  def warmUp(): Unit = {
    val rec = new Recorder
    Seq(Lookup, AsOf, Scan, Upsert, Delete, Compact, Materialize)
      .zipWithIndex.foreach { case (k, i) => runOp(rec, k, ctx.rng("warm", i)) }
    require(rec.failed == 0, s"lake_serve warm-up failed: ${rec.failures.mkString("; ")}")
  }

  def digestInputs(): Unit = {
    ctx.digest(byVersion.head._2.toSeq.sortBy(_._1).map { case (id, v) => s"$id\t$v" }.mkString("\n"))
    (0 until 32).foreach(i => ctx.digest(ctx.rng("op", i).nextLong().toString))
  }

  /** Whole cycles of the schedule. A cycle holds five writes, so one
    * maintenance run: every window runs the same operations in the same
    * order. */
  def run(rec: Recorder, seconds: Double): Unit =
    (0 until Workload.cycles(seconds, CycleS)).foreach { _ =>
      val end = op + Schedule.size
      while (op < end) step(rec)
    }

  private def step(rec: Recorder): Unit = {
    val r = ctx.rng("op", op)
    val kind =
      if (sinceMaintenance >= MaintenanceEvery) {
        sinceMaintenance = 0
        maintenanceRuns += 1
        if (maintenanceRuns % 2 == 1) Compact else Materialize
      } else {
        op += 1
        Schedule(((op - 1) % Schedule.size).toInt)
      }
    if (kind == Upsert || kind == Delete) sinceMaintenance += 1
    runOp(rec, kind, r)
  }

  def endToEnd(rec: Recorder): Seq[Metric] = {
    def m(name: String, kind: String, p: Double) = {
      val xs = rec.of(kind)
      Metric(name, if (p == 0.5) Stats.median(xs) else Stats.pct(xs, p), "ms", xs.size,
        Stats.supported(xs.size))
    }
    val busy = rec.samples.values.flatten.sum / 1000.0
    Seq(m("lookup_ms_p50", "lookup", 0.5).gate("read_ms_p50"), m("lookup_ms_p90", "lookup", 0.9),
      m("scan_ms_p50", "scan", 0.5), m("upsert_ms_p50", "upsert", 0.5).gate("write_ms_p50"),
      m("upsert_ms_p90", "upsert", 0.9),
      Metric("ops_per_s", rec.samples.values.map(_.size).sum / busy, "1/s", rec.attempted.toInt)
        .gate("work_per_s"),
      Metric("exact_reads", 1.0, "ratio",
        note = "a fixed 1.0: every read is checked exact, a wrong one fails the run").gate("result_quality"))
  }

  def selfTest(): Boolean = {
    val (rows, want) = lastScan
    require(rows.nonEmpty, "no scan result to corrupt")
    val rec = new Recorder
    rec.attempt("selftest")(sameRows(rows.drop(1), want, rec))
    rec.failed == 1
  }

  // ---------------------------------------------------------- operations

  private def runOp(rec: Recorder, kind: String, r: scala.util.Random): Unit = kind match {
    case Lookup =>
      val id = pickId(r, readRecent())
      rec.attempt(kind)(sameRows(read(rec, kind, None, id), cur.get(id).map(id -> _).toSeq, rec))
    case AsOf =>
      val versions = byVersion.keys.toIndexedSeq
      val v = versions(r.nextInt(versions.size))
      val id = pickId(r, readRecent())
      rec.attempt(kind)(sameRows(read(rec, kind, Some(v), id),
        byVersion(v).get(id).map(id -> _).toSeq, rec))
    case Scan =>
      val lo = pickDay(r, readRecent())
      val hi = math.min(Days - 1, lo + r.nextInt(2))
      rec.attempt(kind) {
        val rows = rec.time(kind)(ctx.span(s"op.$kind")(ctx.span("io.versioned.readPruned") {
          val df = Versioned.readPruned(spark, root, "day", Some(lo), Some(hi))
          val out = df.collect()
          ctx.tracer.note("files_read", ctx.tracer.filesRead(df).toDouble)
          out
        }))
        liveFilesNote("io.versioned.readPruned")
        lastScan = (rows, expectRange(cur, lo, hi))
        sameRows(rows, lastScan._2, rec)
      }
    case Upsert =>
      val old = (0 until UpsertRows - UpsertNew).map(_ => pickId(r, writeRecent())).distinct
      val fresh = (0 until UpsertNew).map(_ => newId(Days - 1 - r.nextInt(3)))
      val rows = (old ++ fresh).map { id =>
        val day = cur.get(id).fold(idDay(id))(_.day)
        id -> V(day, r.nextInt(Stores), r.nextInt(1000000).toLong, s"u$op")
      }
      write(rec, kind, "io.versioned.mergeIntoDv", rows.map(_._2.bytes).sum.toDouble) {
        Versioned.mergeIntoDv(spark, root, spark.createDataFrame(
          rows.map { case (id, v) => row(id, v) }.asJava, Schema), Seq("id"))
      }(m => m ++ rows)
    case Delete =>
      val ids = Iterator.continually(pickId(r, writeRecent())).take(50 * DeleteRows).filter(cur.contains)
        .distinct.take(DeleteRows).toSeq
      write(rec, kind, "io.versioned.deleteWhereDv", 0.0) {
        Versioned.deleteWhereDv(spark, root, col("id").isin(ids: _*))
      }(m => m -- ids)
    case Compact =>
      write(rec, kind, "io.versioned.compactSmall", 0.0) {
        Versioned.compactSmall(spark, root, smallBytes = SmallFileBytes, targetBytes = 8L << 20)
      }(identity)
    case Materialize =>
      write(rec, kind, "io.versioned.dvMaterialize", 0.0) {
        Versioned.dvMaterialize(spark, root)
      }(identity)
  }

  /** A point lookup on the unclustered key, now or as of version `v`. */
  private def read(rec: Recorder, kind: String, v: Option[Long], id: Long): Array[Row] = {
    val rows = rec.time(kind)(ctx.span(s"op.$kind")(ctx.span("io.versioned.read") {
      val df = Versioned.read(spark, root, v).filter(col("id") === id)
      val out = df.collect()
      ctx.tracer.note("files_read", ctx.tracer.filesRead(df).toDouble)
      out
    }))
    liveFilesNote("io.versioned.read", v)
    rows
  }

  /** One write: time it, then apply it to the model under the version it
    * returned and check the table's live row count against the model
    * every few writes (a footer-only count). */
  private def write(rec: Recorder, kind: String, span: String, mergedBytes: Double)(
      body: => Long)(apply: HashMap[Long, V] => HashMap[Long, V]): Unit = rec.attempt(kind) {
    val before = byVersion.keys.max
    val v = rec.time(kind)(ctx.span(s"op.$kind")(ctx.span(span) {
      ctx.tracer.note("merged_bytes", mergedBytes)
      body
    }))
    writes += 1
    cur = apply(cur)
    byVersion(v) = cur
    if (v != before + 1 && !(v == before && (kind == Compact || kind == Materialize)))
      rec.why(s"$kind returned version $v after $before")
    else if (writes % 5 == 0 || kind == Compact || kind == Materialize) {
      val n = Versioned.countRows(spark, root)
      n == cur.size || rec.why(s"after $kind the table counts $n live rows, the model ${cur.size}")
    } else true
  }

  private def liveFilesNote(span: String, v: Option[Long] = None): Unit =
    ctx.tracer.noteLast(span, "live_files", Versioned.snapshotFiles(spark, root, v).size.toDouble)

  private def sameRows(rows: Array[Row], want: Seq[(Long, V)], rec: Recorder): Boolean = {
    val got = rows.map(r => r.getLong(0) -> V(r.getInt(1), r.getInt(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    val exp = want.sortBy(_._1)
    got == exp || rec.why(s"read returned ${got.size} rows, model ${exp.size}; " +
      s"first difference ${got.diff(exp).headOption.orElse(exp.diff(got).headOption)}")
  }

  private def expectRange(m: HashMap[Long, V], lo: Int, hi: Int): Seq[(Long, V)] =
    m.iterator.filter { case (_, v) => v.day >= lo && v.day <= hi }.toSeq

  // ---------------------------------------------------------- key choice

  private val dayOfId = mutable.HashMap.empty[Long, Int]
  private def idDay(id: Long): Int = dayOfId(id)

  private def newId(day: Int): Long = {
    // a bijection of the counter: ids carry no order of insertion or date
    val id = ((nextId + ctx.seed * 7777777L) * 0x9E3779B97F4A7C15L) & ((1L << 48) - 1)
    nextId += 1
    idsByDay(day) += id
    dayOfId(id) = day
    id
  }

  private var readPicks = 0L
  private var writePicks = 0L

  /** Whether the next read (or the next key a write picks) targets a
    * recent day: exactly `RecentShare` of every few picks, in a fixed
    * order, so every run reads and rewrites the recently written files
    * equally often. With the share drawn at random for every key,
    * upsert_ms_p50 spread over 30% of its median across ten seeds. */
  private def readRecent(): Boolean = { readPicks += 1; recentAt(readPicks) }
  private def writeRecent(): Boolean = { writePicks += 1; recentAt(writePicks) }
  private def recentAt(pick: Long): Boolean =
    (pick * RecentShare).floor > ((pick - 1) * RecentShare).floor

  /** A day: one of the last `RecentDays` days if `recent`, otherwise
    * any day. */
  private def pickDay(r: scala.util.Random, recent: Boolean): Int =
    if (recent) Days - 1 - r.nextInt(RecentDays) else r.nextInt(Days)

  /** A key ever inserted on a day picked as above (it may since have been
    * deleted: the read must then be empty). */
  private def pickId(r: scala.util.Random, recent: Boolean): Long = {
    var d = pickDay(r, recent)
    while (idsByDay(d).isEmpty) d = (d + 1) % Days
    val ids = idsByDay(d)
    ids(r.nextInt(ids.size))
  }
}

object LakeServe {
  val BaseRows = 50000
  val Days = 60
  val Files = 12
  val Stores = 50
  val RecentDays = 7
  val RecentShare = 0.8
  val UpsertRows = 40
  val UpsertNew = 10
  val DeleteRows = 5
  val MaintenanceEvery = 5
  // one cycle of the schedule at local[4] takes 10-12 s
  val CycleS = 11.0
  val SmallFileBytes = 64L << 10
  val Lookup = "lookup"
  val AsOf = "asof"
  val Scan = "scan"
  val Upsert = "upsert"
  val Delete = "delete"
  val Compact = "compact"
  val Materialize = "materialize"

  /** The operation mix as a fixed cycle, the same for every seed, so
    * runs differ in keys and values but not in how the table evolves:
    * half point lookups, a tenth time-travel lookups, 15% range scans,
    * 15% upserts, 10% deletes. */
  val Schedule: IndexedSeq[String] = IndexedSeq(Lookup, Scan, Lookup, Upsert, Lookup, AsOf,
    Lookup, Delete, Lookup, Scan, Upsert, Lookup, Lookup, AsOf, Scan, Lookup, Upsert, Lookup,
    Delete, Lookup)

  final case class V(day: Int, store: Int, qty: Long, note: String) {
    def bytes: Int = s"$day\t$store\t$qty\t$note".length + 17
  }

  val Schema: StructType = StructType(Seq(StructField("id", LongType), StructField("day", IntegerType),
    StructField("store", IntegerType), StructField("qty", LongType), StructField("note", StringType)))

  def row(id: Long, v: V): Row = Row(id, v.day, v.store, v.qty, v.note)
}

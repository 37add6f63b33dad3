package graftbench

import graft.io.{SapTextReader, Versioned}
import graft.pipelines.{StoreRpPipeline, WeeklySalesPipeline, Zmb51Pipeline, ZstpromoPipeline}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The paper's own traffic: every night a ZMB51 (goods movements) and a
  * ZSTPROMO (promo billing) tab-text export arrive, each re-exporting
  * the last seven days, so most keys match and the copy-on-write MERGE
  * updates them. Then the weekly sales ETL recomputes the weeks those
  * days fall in and upserts them into the weekly fact table, which holds
  * [[HistoryWeeks]] weeks from before the first export, and the store
  * replenishment report reads [[RpWeeks]] weeks of that table with the
  * program's default change threshold (`Wks > 38`). */
final class SapNightly(ctx: Ctx) extends Workload {
  import SapNightly._
  private val spark = ctx.spark

  private var dir = ""
  private var night = 0 // the next night to run; its export covers [night-6, night]
  private def zmbRoot = s"$dir/zmb51"
  private def zstRoot = s"$dir/zstpromo"
  private def weeklyRoot = s"$dir/weekly"
  private val zmbModel = mutable.HashMap.empty[Key, Vals]
  private val zstModel = mutable.HashMap.empty[Key, Vals]
  private val weeklyModel = mutable.HashMap.empty[WKey, W]
  // the first day merged since the weekly ETL last ran
  private var dirtyFrom = Int.MaxValue
  private var lastZmbRows: Array[Row] = Array.empty
  private lazy val calendar: DataFrame = spark.createDataFrame(
    (0 until CalendarDays).map(d => Row(java.sql.Date.valueOf(date(d)), week(d))).asJava,
    StructType(Seq(StructField("Date", DateType), StructField("AcctWk", IntegerType))))
  private lazy val rpSnapshot: DataFrame = {
    val r = ctx.rng("rp", 0)
    val rows = for (a <- 0 until Articles; s <- Stores if r.nextDouble() < 0.4)
      yield Row(article(a), s, r.nextInt(20), Seq(1, 6, 12, 24)(r.nextInt(4)))
    spark.createDataFrame(rows.asJava, StructType(Seq(StructField("Article", StringType),
      StructField("Site", StringType), StructField("RP", IntegerType),
      StructField("Rounding", IntegerType))))
  }

  def tableRoot: String = zmbRoot

  def describe: String =
    s"articles=$Articles sites=${Sites.size} zmb51_lines_per_day=$ZmbLinesPerDay " +
      s"zstpromo_lines_per_day=$ZstLinesPerDay history_days=$HistoryDays " +
      s"export_window_days=$WindowDays correction_rate=$CorrectionRate " +
      s"weekly_history_weeks=$HistoryWeeks weekly_history_pairs=$HistoryPairs " +
      s"weekly_history_rows=${history.size} rp_window_weeks=$RpWeeks wks_threshold=38"

  def build(d: String): Unit = {
    dir = d
    zmbModel.clear(); zstModel.clear(); weeklyModel.clear()
    // the initial load: all history in one export per table
    val ex = exportFor(0 until HistoryDays, HistoryDays - 1, s"$dir/exports/history")
    mergeNight(ex)
    keepLast(ex)
    night = HistoryDays
    // the weekly fact table as earlier nightly runs left it: the seeded
    // weeks before the first export, in the weekly report's own schema,
    // ordered by week; the loaded days' weeks follow with the first
    // weekly ETL (in the warm-up)
    val schema = weeklyReport(1, 1).schema
    Versioned.mergeInto(spark, weeklyRoot, spark.createDataFrame(history.map { case (k, w) =>
      Row.fromSeq(schema.fieldNames.toSeq.map {
        case "AcctWk" => k.week
        case "Article" => k.article
        case "Site" => k.site
        case "Qty" => java.math.BigDecimal.valueOf(w.qty, 3)
        case "Cost" => java.math.BigDecimal.valueOf(w.cost, 3)
        case "Amt" => java.math.BigDecimal.valueOf(w.amt, 3)
      })
    }.asJava, schema), WeeklySalesPipeline.upsertKeys)
    weeklyModel ++= history
    dirtyFrom = 0
  }

  /** Two nights (the first still compiles) and the reports; the checks
    * cover the loaded history and the weekly table. */
  def warmUp(): Unit = {
    val rec = new Recorder
    runNight(rec)
    runReports(rec)
    runNight(rec)
    require(rec.failed == 0, s"sap_nightly warm-up failed: ${rec.failures.mkString("; ")}")
  }

  /** The history export, the first three nights every run sees and the
    * weekly history. */
  def digestInputs(): Unit = {
    for (n <- HistoryDays - 1 until HistoryDays + 3;
         day <- (if (n < HistoryDays) 0 else n - WindowDays + 1) to n; zmb <- Seq(true, false))
      ctx.digest(dayLines(day, n, zmb).map(_.text).mkString("\n"))
    ctx.digest(history.map { case (k, w) => s"$k $w" }.mkString("\n"))
  }

  /** One nightly job at a time: the ETL, then its reports. */
  def run(rec: Recorder, seconds: Double): Unit =
    (0 until Workload.cycles(seconds, CycleS)).foreach { _ =>
      require(night < HistoryDays + MaxNights, s"more than $MaxNights nights")
      runNight(rec)
      runReports(rec)
    }

  def endToEnd(rec: Recorder): Seq[Metric] = {
    val nights = rec.of("night")
    val rows = rec.counts("rows")
    val reports = rec.of("report")
    Seq(
      Metric("etl_rows_per_s", rows / (nights.sum / 1000.0), "rows/s", nights.size).gate("work_per_s"),
      Metric("export_bytes_per_night", rec.counts("bytes") / nights.size, "bytes", nights.size),
      Metric("night_ms_p50", Stats.median(nights), "ms", nights.size).gate("write_ms_p50"),
      Metric("report_s_p50", Stats.median(reports) / 1000.0, "s", reports.size,
        "weekly ETL upsert plus store RP report").gate("read_ms_p50", 1000.0),
      Metric("exact_reports", 1.0, "ratio",
        note = "a fixed 1.0: every table and report is checked exact, a wrong one fails the run")
        .gate("result_quality"))
  }

  def selfTest(): Boolean = {
    val rows = lastZmbRows
    require(rows.nonEmpty, "no table result to corrupt")
    val bad = rows.clone()
    val r = bad(0)
    bad(0) = Row.fromSeq(r.toSeq.updated(r.fieldIndex("Quantity"),
      r.getAs[java.math.BigDecimal]("Quantity").add(java.math.BigDecimal.ONE)))
    val rec = new Recorder
    rec.attempt("selftest")(sameAsModel(bad, zmbModel, "Quantity", "Cost", "BUn", rec))
    rec.failed == 1
  }

  // ------------------------------------------------------------ one night

  private final case class Export(zmbGlob: String, zstGlob: String, rows: Long,
                                  zmb: Map[Key, Vals], zst: Map[Key, Vals], bytes: Long)

  private def runNight(rec: Recorder): Unit = {
    val n = night
    night += 1
    val ex = exportFor(n - WindowDays + 1 to n, n, s"$dir/exports/night$n")
    dirtyFrom = math.min(dirtyFrom, n - WindowDays + 1)
    rec.attempt("night") {
      rec.time("night")(ctx.span("op.night")(mergeNight(ex)))
      keepLast(ex)
      rec.count("rows", ex.rows.toDouble)
      rec.count("bytes", ex.bytes.toDouble)
      checkTables(rec)
    }
  }

  private def mergeNight(ex: Export): Unit = {
    val zmb = Zmb51Pipeline.transform(SapTextReader.read(spark, ex.zmbGlob))
    ctx.span("io.versioned.mergeInto") {
      ctx.tracer.note("merged_bytes", rowBytes(ex.zmb))
      Versioned.mergeInto(spark, zmbRoot, zmb, Zmb51Pipeline.upsertKeys)
    }
    val zst = ZstpromoPipeline.transform(SapTextReader.read(spark, ex.zstGlob))
    ctx.span("io.versioned.mergeInto") {
      ctx.tracer.note("merged_bytes", rowBytes(ex.zst))
      Versioned.mergeInto(spark, zstRoot, zst, ZstpromoPipeline.upsertKeys)
    }
  }

  /** The model's merge: every key of the export replaces the stored row. */
  private def keepLast(ex: Export): Unit = {
    zmbModel ++= ex.zmb
    zstModel ++= ex.zst
  }

  private def checkTables(rec: Recorder): Boolean = {
    lastZmbRows = Versioned.read(spark, zmbRoot).collect()
    sameAsModel(lastZmbRows, zmbModel, "Quantity", "Cost", "BUn", rec) &&
      sameAsModel(Versioned.read(spark, zstRoot).collect(), zstModel, "Amt", "Quantity", "SUn", rec)
  }

  /** The merged table holds exactly the model's keys with its values. */
  private def sameAsModel(rows: Array[Row], model: collection.Map[Key, Vals],
                          a: String, b: String, unit: String, rec: Recorder): Boolean = {
    if (rows.length != model.size) return rec.why(s"table has ${rows.length} rows, model ${model.size}")
    rows.forall { r =>
      val k = Key(r.getAs[String]("Article"), r.getAs[String]("Site"),
        dayOf(r.getAs[java.sql.Date]("Date").toLocalDate))
      model.get(k) match {
        case None => rec.why(s"unexpected key $k")
        case Some(v) =>
          val ok = dec(r.getAs[java.math.BigDecimal](a)) == v.a &&
            dec(r.getAs[java.math.BigDecimal](b)) == v.b && r.getAs[String](unit) == v.unit
          ok || rec.why(s"key $k: table ${r.mkString(",")} model $v")
      }
    }
  }

  // ------------------------------------------------------------- reports

  /** The weekly sales ETL over the weeks the nights since its last run
    * touched, then the store replenishment report, collected. */
  private def runReports(rec: Recorder): Unit = rec.attempt("report") {
    val lo = week(dirtyFrom)
    val hi = week(night - 1)
    dirtyFrom = Int.MaxValue
    val (store, storeCols) = rec.time("report")(ctx.span("op.report") {
      // etl_weekly_sales: the report for the weeks, upserted into the
      // weekly fact table on (Article, AcctWk, Site)
      ctx.span("pipelines.WeeklySales.report") {
        Versioned.mergeInto(spark, weeklyRoot, weeklyReport(lo, hi), WeeklySalesPipeline.upsertKeys)
      }
      ctx.span("pipelines.StoreRp.report") {
        val df = StoreRpPipeline.report(Versioned.read(spark, weeklyRoot), rpSnapshot,
          hi - RpWeeks + 1, hi)
        val out = df.collect()
        ctx.tracer.note("plan_ms", planMs(df))
        (out, df.columns.toSeq)
      }
    })
    weeklyModel ++= weeklyFromDaily(lo, hi)
    checkWeekly(rec) && checkStoreRp(store, storeCols, hi, rec)
  }

  private def weeklyReport(lo: Int, hi: Int): DataFrame =
    WeeklySalesPipeline.report(Versioned.read(spark, zmbRoot), Versioned.read(spark, zstRoot),
      calendar, lo, hi)

  private def planMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum

  /** The weekly rows of weeks `lo..hi` computed from the daily models:
    * per store, article and week, ZMB51 quantity and cost and ZSTPROMO
    * amount summed, zero where a table has no row. */
  private def weeklyFromDaily(lo: Int, hi: Int): Map[WKey, W] = {
    val out = mutable.HashMap.empty[WKey, W]
    def add(k: Key, v: W): Unit = {
      val w = week(k.day)
      if (w >= lo && w <= hi && k.site.toInt < 5999) {
        val key = WKey(w, k.article, k.site)
        val o = out.getOrElse(key, W(0, 0, 0))
        out(key) = W(o.qty + v.qty, o.cost + v.cost, o.amt + v.amt)
      }
    }
    zmbModel.foreach { case (k, v) => add(k, W(v.a, v.b, 0)) }
    zstModel.foreach { case (k, v) => add(k, W(0, 0, v.a)) }
    out.toMap
  }

  /** The weekly fact table holds exactly the model's rows: the seeded
    * history, kept last by every weekly ETL run. */
  private def checkWeekly(rec: Recorder): Boolean = {
    val rows = Versioned.read(spark, weeklyRoot).collect()
    if (rows.length != weeklyModel.size)
      return rec.why(s"weekly table has ${rows.length} rows, model ${weeklyModel.size}")
    rows.forall { r =>
      val k = WKey(r.getAs[Int]("AcctWk"), r.getAs[String]("Article"), r.getAs[String]("Site"))
      val got = W(dec(r.getAs[java.math.BigDecimal]("Qty")), dec(r.getAs[java.math.BigDecimal]("Cost")),
        dec(r.getAs[java.math.BigDecimal]("Amt")))
      weeklyModel.get(k).contains(got) || rec.why(s"weekly $k: table $got model ${weeklyModel.get(k)}")
    }
  }

  /** The store RP report must equal the same logic written here as plain
    * SQL over the weekly table. */
  private def checkStoreRp(store: Array[Row], storeCols: Seq[String], hi: Int,
                           rec: Recorder): Boolean = {
    Versioned.read(spark, weeklyRoot).createOrReplaceTempView("b_weekly")
    rpSnapshot.createOrReplaceTempView("b_rp")
    val sSql = spark.sql(
      s"""WITH base AS (SELECT Article, Site, AcctWk, sum(Qty) AS Qty FROM b_weekly
         |              WHERE AcctWk BETWEEN ${hi - RpWeeks + 1} AND $hi GROUP BY Article, Site, AcctWk),
         |     sales AS (SELECT Article, Site, count(CASE WHEN Qty > 0 THEN 1 END) AS Wks,
         |                      round(avg(CASE WHEN Qty > 0 THEN Qty END), 1) AS Wkly_Avg
         |               FROM base GROUP BY Article, Site),
         |     main AS (SELECT s.Article, s.Site, s.Wks, s.Wkly_Avg, r.RP, r.Rounding,
         |                     CASE WHEN r.Rounding * 0.5D > s.Wkly_Avg * 1.25D
         |                          THEN ceil(r.Rounding * 0.5D) ELSE ceil(s.Wkly_Avg * 1.25D) END AS Sugg_RP
         |              FROM sales s JOIN b_rp r ON s.Article = r.Article AND s.Site = r.Site)
         |SELECT *, abs(Sugg_RP - RP) AS RP_Diff, 'YES' AS Change FROM main
         |WHERE Wks > 38 AND abs(Sugg_RP - RP) > 2.0D ORDER BY Article, Site""".stripMargin)
    val wantS = sSql.collect().map(norm(_, storeCols)).toSeq
    val gotS = store.map(norm(_, storeCols)).toSeq
    if (wantS.isEmpty) rec.why("the store RP check has no rows to compare")
    else if (wantS != gotS) rec.why(s"store RP report differs: ${gotS.diff(wantS).take(2).mkString(" | ")}")
    else true
  }

  // ---------------------------------------------------------- generation

  /** Write one night's two exports covering `days` as of night `asOf`. */
  private def exportFor(days: Seq[Int], asOf: Int, out: String): Export = {
    Files.createDirectories(Paths.get(out))
    val zmbLines = days.flatMap(d => dayLines(d, asOf, zmb = true))
    val zstLines = days.flatMap(d => dayLines(d, asOf, zmb = false))
    val zmbBytes = writeExport(s"$out/zmb51.txt", "Material Doc. List",
      "\tArticle\t Site \tPstng  Date\tMvT\tQuantity i\tBUn\tAmount LC", zmbLines, qtyCol = 5, amtCol = 7)
    val zstBytes = writeExport(s"$out/zstpromo.txt", "Promotion Sales",
      "\tArticle\tPayer\tBill. Date\tBill.qty\tSU\tSales Amou\tCost", zstLines, qtyCol = 4, amtCol = 6)
    Export(s"$out/zmb51.txt", s"$out/zstpromo.txt", (zmbLines.size + zstLines.size).toLong,
      aggregate(zmbLines, zmb = true), aggregate(zstLines, zmb = false), zmbBytes + zstBytes)
  }

  /** Two junk lines, a header with a blank first column, the data, and a
    * totals row with a blank key. */
  private def writeExport(path: String, title: String, header: String, lines: Seq[Line],
                          qtyCol: Int, amtCol: Int): Long = {
    val sb = new StringBuilder
    sb ++= s"$title\n\n$header\n"
    lines.foreach(l => sb ++= l.text += '\n')
    val cells = Array.fill(header.count(_ == '\t') + 1)("")
    cells(qtyCol) = fmt(lines.map(_.q).sum)
    cells(amtCol) = fmt(lines.map(_.c).sum)
    sb ++= cells.mkString("\t") += '\n'
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(Paths.get(path), bytes)
    bytes.length.toLong
  }

  /** What the pipeline's transform makes of an export, computed here:
    * one row per (Article, Site, Date), sums of the parsed numbers (ZMB51
    * negates its movement quantities), the smallest unit. */
  private def aggregate(lines: Seq[Line], zmb: Boolean): Map[Key, Vals] =
    lines.groupBy(_.key).map { case (k, ls) =>
      val sign = if (zmb) -1L else 1L
      k -> (if (zmb) Vals(sign * ls.map(_.q).sum, sign * ls.map(_.c).sum, ls.map(_.unit).min)
            else Vals(ls.map(_.c).sum, ls.map(_.q).sum, ls.map(_.unit).min))
    }

  /** Day `d`'s lines as exported on night `asOf`: the day's postings plus
    * every late correction posted up to that night. */
  private def dayLines(d: Int, asOf: Int, zmb: Boolean): Seq[Line] = {
    val kind = if (zmb) "zmb" else "zst"
    val n = if (zmb) ZmbLinesPerDay else ZstLinesPerDay
    val base = { val r = ctx.rng(kind, d); (0 until n).map(_ => line(r, d, zmb, None)) }
    val corrections = (d + 1 to asOf).flatMap { night =>
      val r = ctx.rng(s"$kind-corr", d * 10000L + night)
      (0 until (n * CorrectionRate).toInt).map(_ => line(r, d, zmb, Some(base(r.nextInt(n)).key)))
    }
    base ++ corrections
  }

  private def line(r: scala.util.Random, d: Int, zmb: Boolean, like: Option[Key]): Line = {
    val k = like.getOrElse(Key(article(r.nextInt(Articles)), Sites(r.nextInt(Sites.size)), d))
    val units = 1 + r.nextInt(48)
    val q0 = units * 1000L + r.nextInt(1000)
    val returned = r.nextDouble() < 0.1
    val price = 500L + r.nextInt(20000)
    val unit = if (r.nextBoolean()) "EA" else "CS"
    if (zmb) {
      // goods issues export negative; returns positive
      val q = if (returned) q0 else -q0
      val c = q / 1000 * price
      Line(k, q, c, unit, s"\t${k.article}\t${k.site}\t${mdy(d)}\t${if (returned) 252 else 251}\t" +
        s"${fmt(q)}\t$unit\t${fmt(c)}")
    } else {
      val q = if (returned) -q0 else q0
      val amt = q / 1000 * price
      Line(k, q, amt, unit, s"\t${k.article}\t${k.site}\t${mdy(d)}\t${fmt(q)}\t$unit\t${fmt(amt)}\t" +
        fmt(amt * 6 / 10))
    }
  }

  /** The weekly table's rows before the first export: [[HistoryPairs]]
    * store articles, each selling in about nine weeks of ten (some weeks
    * net returns), so the report's `Wks > 38` branch has rows on both
    * sides. */
  private lazy val history: Seq[(WKey, W)] = {
    val r = ctx.rng("pairs", 0)
    val pairs = Iterator.continually((article(r.nextInt(Articles)), Stores(r.nextInt(Stores.size))))
      .distinct.take(HistoryPairs).toIndexedSeq
    (1 to HistoryWeeks).flatMap { wk =>
      val rw = ctx.rng("weekly", wk)
      pairs.flatMap { case (a, s) =>
        if (rw.nextDouble() >= 0.9) None
        else {
          val q0 = (1 + rw.nextInt(60)) * 1000L + rw.nextInt(1000)
          val q = if (rw.nextDouble() < 0.05) -q0 else q0
          val price = 500L + rw.nextInt(20000)
          Some(WKey(wk, a, s) -> W(q, q / 1000 * price, q / 1000 * price * 13 / 10))
        }
      }
    }
  }

  private def rowBytes(m: Map[Key, Vals]): Double =
    m.iterator.map { case (k, v) => s"${k.article}\t${k.site}\t${k.day}\t${v.a}\t${v.b}\t${v.unit}".length }.sum
}

object SapNightly {
  val Articles = 1200
  // sites at or above 5999 are not stores: the weekly report drops them
  val Sites: IndexedSeq[String] = (1001 to 1024).map(_.toString) ++ Seq("6001", "6002")
  val Stores: IndexedSeq[String] = Sites.filter(_.toInt < 5999)
  val ZmbLinesPerDay = 1600
  val ZstLinesPerDay = 800
  val CorrectionRate = 0.02
  val HistoryDays = 7
  val WindowDays = 7
  val MaxNights = 200
  // a night and its reports take about 6.5 s at local[4], so a 10 s window
  // holds two
  val CycleS = 6.5
  // weeks of weekly fact rows before the first export, and how many store
  // articles they cover: enough for the store RP report's default
  // `Wks > 38` (FIXTURES.md section 6)
  val HistoryWeeks = 45
  val HistoryPairs = 1200
  // the store RP report's window
  val RpWeeks = 52
  val CalendarDays = HistoryDays + MaxNights + 7
  private val Epoch = LocalDate.of(2024, 1, 1)
  private val Mdy = DateTimeFormatter.ofPattern("MM/dd/yyyy")

  final case class Key(article: String, site: String, day: Int)
  /** A row's two measures (thousandths) and its unit. */
  final case class Vals(a: Long, b: Long, unit: String)
  final case class Line(key: Key, q: Long, c: Long, unit: String, text: String)
  /** A weekly fact row's key and its measures (thousandths). */
  final case class WKey(week: Int, article: String, site: String)
  final case class W(qty: Long, cost: Long, amt: Long)

  def article(i: Int): String = f"${100000000 + i * 37}%d"
  def date(d: Int): LocalDate = Epoch.plusDays(d.toLong)
  def dayOf(ld: LocalDate): Int = java.time.temporal.ChronoUnit.DAYS.between(Epoch, ld).toInt
  def mdy(d: Int): String = date(d).format(Mdy)
  /** The running week number of day `d`; the weekly history holds weeks
    * 1 to [[HistoryWeeks]], day 0 starts the week after. */
  def week(d: Int): Int = HistoryWeeks + 1 + d / 7

  /** SAP number text: thousands separators, three decimals, a trailing
    * minus for negatives ("1,234.500-"). */
  def fmt(thousandths: Long): String = {
    val a = math.abs(thousandths)
    val s = String.format(java.util.Locale.ROOT, "%,d.%03d", Long.box(a / 1000), Long.box(a % 1000))
    if (thousandths < 0) s + "-" else s
  }

  /** A parsed decimal as thousandths (the exports carry three decimals). */
  def dec(b: java.math.BigDecimal): Long =
    if (b == null) Long.MinValue else b.movePointRight(3).longValueExact()

  /** A row as comparable text, column by column. */
  def norm(r: Row, cols: Seq[String]): String = cols.map { c =>
    r.getAs[Any](c) match {
      case null => "null"
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case x => x.toString
    }
  }.mkString("|")
}

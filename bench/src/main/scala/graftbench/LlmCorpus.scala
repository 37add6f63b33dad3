package graftbench

import graft.functions.TextFunctions.tokens
import graft.io.Versioned
import graft.ops.{AnnIndex, Dedup, PreparedAnnSearch, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** LLM training-data curation and retrieval. Each cycle curates a few
  * seeded document batches (HTML and low-quality documents, planted near
  * duplicates and repeated spans): quality gate, MinHash-LSH near-dup
  * pairs and connected components, repeated-span removal, append commit.
  * Then it retrains and rebuilds the IVF-PQ index over clustered
  * unit-norm embeddings, prepares a search handle and serves batches of
  * queries, whose recall is measured against exact brute-force top-10. */
final class LlmCorpus(ctx: Ctx) extends Workload {
  import LlmCorpus._
  private val spark = ctx.spark

  private var dir = ""
  private var batch = 0L
  private var queries = 0L
  private var committedDocs = 0L
  private var emb: DataFrame = _
  private var vecs: Array[Array[Float]] = Array.empty
  private var handle: PreparedAnnSearch = _
  private var lastGroups: (Seq[Seq[Long]], Map[Long, Long]) = (Nil, Map.empty)
  private val hits = ArrayBuffer.empty[Double]

  private def corpusRoot = s"$dir/corpus"
  private def modelRoot = s"$dir/ann_model"
  private def codesRoot = s"$dir/ann_codes"

  def tableRoot: String = corpusRoot

  def describe: String =
    s"docs_per_batch=${GoodDocs + JunkDocs + NearDupGroups * 2} (good=$GoodDocs junk=$JunkDocs " +
      s"near_dup_groups=$NearDupGroups html_share=$HtmlShare planted_spans=$Spans x$SpanHosts " +
      s"docs of $SpanWords words) vectors=$NVec dim=$Dim cells=$Cells pq_m=$M dsub=$DSub " +
      s"queries_per_search=$QueriesPerSearch k=$K nprobe=$NProbe " +
      s"curates_per_cycle=$CuratesPerCycle searches_per_cycle=$SearchesPerCycle"

  def build(d: String): Unit = {
    dir = d
    batch = 0L
    committedDocs = 0L
    vecs = embeddings()
    val rows = vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq, cellOf(i)))
    spark.createDataFrame(rows.asJava, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))
      .repartition(4).write.parquet(s"$dir/embeddings")
    emb = spark.read.parquet(s"$dir/embeddings")
  }

  /** One batch curated, one index build, three searches. */
  def warmUp(): Unit = {
    val rec = new Recorder
    curate(rec, ctx.rng("warm-docs", 0))
    build(rec)
    (0 until 3).foreach(i => search(rec, ctx.rng("warm-q", i)))
    require(rec.failed == 0, s"llm_corpus warm-up failed: ${rec.failures.mkString("; ")}")
    hits.clear()
  }

  def digestInputs(): Unit = {
    vecs.foreach(v => ctx.digest(v.mkString(",")))
    (1 to CuratesPerCycle).foreach(b =>
      ctx.digest(generateBatch(ctx.rng("docs", b), b).docs.map(_._2).mkString("\n")))
  }

  /** Cycles of `CuratesPerCycle` batches curated, one index rebuild and
    * `SearchesPerCycle` searches on the new index. */
  def run(rec: Recorder, seconds: Double): Unit =
    (0 until Workload.cycles(seconds, CycleS)).foreach { _ =>
      (0 until CuratesPerCycle).foreach(_ => curate(rec, ctx.rng("docs", batch)))
      build(rec)
      (0 until SearchesPerCycle).foreach { _ =>
        search(rec, ctx.rng("q", queries))
        queries += 1
      }
    }

  def endToEnd(rec: Recorder): Seq[Metric] = {
    val docs = rec.counts("docs")
    val search = rec.of("search")
    val curate = rec.of("curate")
    Seq(
      // documents of one batch over its median curation time
      Metric("curate_docs_per_s", docs / curate.size / (Stats.median(curate) / 1000.0), "docs/s",
        curate.size).gate("work_per_s"),
      Metric("ann_build_s", Stats.median(rec.of("build")) / 1000.0, "s", rec.of("build").size)
        .gate("write_ms_p50", 1000.0),
      Metric("search_ms_p50", Stats.median(search), "ms", search.size).gate("read_ms_p50"),
      Metric("search_ms_p90", Stats.pct(search, 0.9), "ms", search.size, Stats.supported(search.size)),
      Metric("recall_at_10", hits.sum / hits.size, "ratio", hits.size).gate("result_quality"))
  }

  def selfTest(): Boolean = {
    val (groups, label) = lastGroups
    require(groups.nonEmpty, "no near-dup result to corrupt")
    // split the first planted group across two components
    val bad = label.updated(groups.head.last, -1L)
    val rec = new Recorder
    rec.attempt("selftest")(sameComponents(groups, bad, rec))
    rec.failed == 1
  }

  // ------------------------------------------------------------ curation

  private def curate(rec: Recorder, r: scala.util.Random): Unit = {
    val b = generateBatch(r, batch)
    batch += 1
    // the batch arrives as a parquet file; each stage's result is pinned
    // (localCheckpoint) so the next stage's span holds only its own jobs
    // and every stage runs as Spark jobs, not as driver-side evaluation
    // of a local relation
    val arrived = s"$dir/batches/b${batch - 1}"
    spark.createDataFrame(b.docs.map { case (id, t) => Row(id, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("raw", StringType))))
      .write.parquet(arrived)
    rec.attempt("curate") {
      val (kept, labels, clean) = rec.time("curate")(ctx.span("op.curate") {
        val kept = ctx.span("ops.TextAnalysis.gate") {
          spark.read.parquet(arrived)
            .select(col("doc_id"), TextAnalysis.htmlToText(col("raw")).as("text"))
            .filter(TextAnalysis.gopherPass(col("text"), tokens(col("text"))))
            .localCheckpoint()
        }
        val labels = ctx.span("ops.Dedup.nearDup")(nearDupLabels(kept))
        val dups = labels.collect { case (d, c) if d != c => d }.toSeq
        val clean = ctx.span("ops.Dedup.removeDuplicateSpans") {
          Dedup.removeDuplicateSpans(kept.filter(!col("doc_id").isin(dups: _*)),
            col("text"), col("doc_id"), Window).select("doc_id", "clean_text").localCheckpoint()
        }
        ctx.span("io.versioned.commit")(Versioned.commit(spark, clean, corpusRoot))
        (kept, labels, clean)
      })
      rec.count("docs", b.docs.size.toDouble)
      val cleanText = clean.select("clean_text").collect().map(_.getString(0))
      committedDocs += cleanText.length
      lastGroups = (b.groups, labels)
      checkGate(b, kept.select("doc_id").collect().map(_.getLong(0)).toSet, rec) &&
        sameComponents(b.groups, labels, rec) && noSpanSurvives(b, cleanText, rec) && {
          val n = Versioned.countRows(spark, corpusRoot)
          n == committedDocs || rec.why(s"corpus counts $n documents, expected $committedDocs")
        }
    }
  }

  /** doc -> component label (the smallest doc id of its component) for
    * every document with a verified near-duplicate pair. */
  private def nearDupLabels(docs: DataFrame): Map[Long, Long] = {
    val sig = docs.select(col("doc_id") +: Dedup.shingled(col("text"), 3): _*)
      .select(col("doc_id"), col("shingle_set"), Dedup.minhashSig(col("shingle_hashes"), SigK).as("sig"))
    val banded = sig.select(col("doc_id"), Dedup.lshBands(col("sig"), Bands, RowsPerBand).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val pairs = Dedup.candidatePairs(Dedup.capBuckets("doc_id", 1000)(banded), "doc_id")
    val a = sig.select(col("doc_id").as("d1"), col("shingle_set").as("s1"))
    val b = sig.select(col("doc_id").as("d2"), col("shingle_set").as("s2"))
    val edges = pairs.join(a, "d1").join(b, "d2")
      .filter(Dedup.jaccard(col("s1"), col("s2")) >= MinJaccard).select("d1", "d2")
    Dedup.connectedComponents(edges, "d1", "d2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def checkGate(b: Batch, kept: Set[Long], rec: Recorder): Boolean = {
    val wrong = b.docs.map(_._1).filter(id => kept(id) == b.junk(id))
    wrong.isEmpty || rec.why(s"quality gate misjudged ${wrong.size} documents, e.g. ${wrong.head}")
  }

  /** Each planted group is one component of its own; every other
    * document is in none. */
  private def sameComponents(groups: Seq[Seq[Long]], label: Map[Long, Long], rec: Recorder): Boolean = {
    val grouped = groups.flatten.toSet
    groups.forall { g =>
      g.map(label.getOrElse(_, -2L)).distinct == Seq(g.min) ||
        rec.why(s"planted near-duplicates ${g.mkString(",")} got labels ${g.map(label.get).mkString(",")}")
    } && (label.keySet -- grouped).isEmpty ||
      rec.why(s"documents outside every planted group were clustered: ${(label.keySet -- grouped).take(3)}")
  }

  /** No planted repeated span may appear in more than one cleaned
    * document. */
  private def noSpanSurvives(b: Batch, clean: Array[String], rec: Recorder): Boolean = {
    val padded = clean.map(t => s" $t ")
    b.spans.forall { s =>
      val needle = s" ${s.mkString(" ")} "
      val n = padded.count(_.contains(needle))
      n <= 1 || rec.why(s"a planted span survives in $n documents")
    }
  }

  // ----------------------------------------------------------------- ANN

  private def build(rec: Recorder): Unit = rec.attempt("build") {
    val (mv, cv) = rec.time("build")(ctx.span("op.build")(ctx.span("ops.AnnIndex.trainAndRebuild") {
      AnnIndex.trainAndRebuild(spark, emb, M, DSub, modelRoot, codesRoot)
    }))
    handle = rec.time("prepare")(ctx.span("op.prepare")(ctx.span("ops.AnnIndex.prepare") {
      AnnIndex.prepare(spark, modelRoot, codesRoot)
    }))
    (mv >= 1 && cv >= 1) || rec.why(s"trainAndRebuild returned versions ($mv, $cv)")
  }

  private def search(rec: Recorder, r: scala.util.Random): Unit = rec.attempt("search") {
    val qs = (0 until QueriesPerSearch).map { j =>
      val base = vecs(r.nextInt(NVec))
      QueryBase + j -> unit(base.map(x => x + (r.nextGaussian() * QueryNoise).toFloat))
    }
    val qdf = spark.createDataFrame(qs.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
    val rows = rec.time("search")(ctx.span("op.search")(ctx.span("ops.PreparedAnnSearch.search") {
      handle.search(qdf, k = K, nprobe = NProbe).collect()
    }))
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    qs.forall { case (qid, q) =>
      val res = byQ.getOrElse(qid, Array.empty[Row]).sortBy(_.getAs[Int]("rank"))
      val nids = res.map(_.getAs[Long]("nid"))
      val scores = res.map(_.getAs[Double]("cos_pq"))
      val ok = res.length == K && res.map(_.getAs[Int]("rank")).toSeq == (1 to K) &&
        nids.distinct.length == K && nids.forall(n => n >= 0 && n < NVec) &&
        scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
      if (ok) hits += exactTopK(q).intersect(nids.toSeq).size.toDouble / K
      ok || rec.why(s"query $qid: ${res.length} results, ranks ${res.map(_.getAs[Int]("rank")).mkString(",")}")
    }
  }

  /** Exact top-k corpus ids by cosine (all vectors are unit-norm). */
  private def exactTopK(q: Array[Float]): Seq[Long] =
    vecs.indices.map { i =>
      val v = vecs(i)
      var s = 0.0
      var d = 0
      while (d < Dim) { s += v(d).toDouble * q(d); d += 1 }
      (s, i.toLong)
    }.sortBy { case (s, i) => (-s, i) }.take(K).map(_._2)

  // ---------------------------------------------------------- generation

  /** Unit-norm vectors scattered around `Cells` random unit centres; a
    * vector's label is its centre. */
  private def embeddings(): Array[Array[Float]] = {
    val r = ctx.rng("emb", 0)
    val centres = Array.fill(Cells)(unit(Array.fill(Dim)(r.nextGaussian().toFloat)))
    Array.tabulate(NVec) { i =>
      unit(centres(cellOf(i)).map(c => c + (r.nextGaussian() * Spread).toFloat))
    }
  }

  private def cellOf(i: Int): Int = i % Cells

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def generateBatch(r: scala.util.Random, b: Long): Batch = {
    val idBase = b * 10000L
    def words(n: Int): Seq[String] = (0 until n).map { _ =>
      if (r.nextDouble() < 0.3) Stop(r.nextInt(Stop.size)) else Vocab(r.nextInt(Vocab.size))
    }
    def prose(ws: Seq[String]): String =
      ws.grouped(12).map(s => s.mkString(" ") + ".").mkString(" ")
    val good = Array.tabulate(GoodDocs)(i => idBase + i -> words(90 + r.nextInt(60)))
    // planted repeated spans go into documents outside the near-dup groups
    val spans = Seq.fill(Spans)(words(SpanWords))
    val hostPool = r.shuffle((NearDupGroups until GoodDocs).toList)
    spans.zipWithIndex.foreach { case (s, k) =>
      hostPool.slice(k * SpanHosts, (k + 1) * SpanHosts).foreach { h =>
        val (id, ws) = good(h)
        val at = 12 * r.nextInt(ws.size / 12)
        good(h) = id -> (ws.take(at) ++ s ++ ws.drop(at))
      }
    }
    // near duplicates: two copies of each of the first NearDupGroups docs
    // with a few words substituted
    val copies = (0 until NearDupGroups).flatMap { g =>
      (1 to 2).map { c =>
        val ws = good(g)._2.map(w => if (r.nextDouble() < EditRate) Vocab(r.nextInt(Vocab.size)) else w)
        (idBase + GoodDocs + g * 2 + c - 1) -> ws
      }
    }
    val groups = (0 until NearDupGroups).map(g => Seq(idBase + g, idBase + GoodDocs + g * 2,
      idBase + GoodDocs + g * 2 + 1))
    val junk = (0 until JunkDocs).map { j =>
      val id = idBase + GoodDocs + NearDupGroups * 2 + j
      id -> (j % 3 match {
        case 0 => prose(words(20)) // too short
        case 1 => words(80).map(w => s"#$w #").mkString(" ") // symbol-heavy
        case _ => words(80).grouped(5).map(_.mkString(" ") + "...").mkString("\n") // ellipsis lines
      })
    }
    val docs = (good.toSeq ++ copies).map { case (id, ws) =>
      val text = prose(ws)
      id -> (if (r.nextDouble() < HtmlShare) html(text) else text)
    } ++ junk
    Batch(r.shuffle(docs), junk.map(_._1).toSet, groups, spans)
  }

  private def html(text: String): String =
    "<html><head><style>p { color: #333; }</style><script>var n = 1; n++;</script></head>" +
      s"<body><div class=\"main\"><p>${text.replace(". ", ".</p>\n<p>")}</p></div></body></html>"
}

object LlmCorpus {
  val GoodDocs = 160
  val JunkDocs = 18
  val NearDupGroups = 12
  val EditRate = 0.02
  val Spans = 8
  val SpanHosts = 4
  val SpanWords = 40
  val HtmlShare = 0.3
  val Window = 13
  val SigK = 32
  val Bands = 16
  val RowsPerBand = 2
  val MinJaccard = 0.5

  val NVec = 5000
  val Dim = 32
  val Cells = 32
  val Spread = 0.12
  val M = 8
  val DSub = 4
  val K = 10
  val NProbe = 4
  val QueriesPerSearch = 16
  val QueryNoise = 0.05
  val QueryBase = 1000000000L
  val CuratesPerCycle = 3
  val SearchesPerCycle = 8
  // one cycle at local[4] takes about 13 s
  val CycleS = 13.0

  /** Gopher's stopwords and a few more, so generated prose passes the
    * quality gate. */
  val Stop: IndexedSeq[String] = IndexedSeq("the", "be", "to", "of", "and", "that", "have", "with",
    "a", "in", "is", "it", "for", "on", "as")
  /** Pseudo-words of 3 to 9 letters, drawn once for every seed. */
  val Vocab: IndexedSeq[String] = {
    val r = new scala.util.Random(42)
    Iterator.continually((0 until 3 + r.nextInt(7)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
      .filterNot(Stop.contains).distinct.take(2000).toIndexedSeq
  }

  final case class Batch(docs: Seq[(Long, String)], junk: Set[Long], groups: Seq[Seq[Long]],
                         spans: Seq[Seq[String]])
}

package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  test("exactDedupByContent keeps the smallest id per content hash") {
    val docs = Seq((5L, "same"), (2L, "same"), (9L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedupByContent(col("text"), col("doc_id"))(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 9L))
  }

  test("candidatePairs emits distinct ordered pairs sharing any band bucket") {
    val banded = Seq(
      (1L, 0, "x"), (2L, 0, "x"), (3L, 0, "x"), // bucket of three -> 3 pairs
      (1L, 1, "y"), (2L, 1, "y"),               // same pair again via band 1
      (4L, 0, "z"))                             // singleton -> no pairs
      .toDF("doc_id", "band", "bkey")
    val pairs = Dedup.candidatePairs(banded, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("capBuckets bounds bucket membership deterministically (smallest ids kept)") {
    val banded = (1L to 10L).map(i => (i, 0, "hot")).toDF("doc_id", "band", "bkey")
    val capped = Dedup.capBuckets("doc_id", 3)(banded)
      .select("doc_id").as[Long].collect().toSet
    assert(capped == Set(1L, 2L, 3L))
    // pair blowup bounded: 3 choose 2 instead of 10 choose 2
    assert(Dedup.candidatePairs(Dedup.capBuckets("doc_id", 3)(banded), "doc_id").count() == 3)
  }

  test("boilerplate bucket through the full minhash path: capped pairs stay bounded") {
    // 300 identical documents — the web-scale boilerplate shape: every
    // doc lands in the same LSH bucket in every band, so the uncapped
    // self-join would emit C(300,2) = 44,850 pairs. With a 64-member cap
    // the blowup is bounded at C(64,2) = 2,016 regardless of corpus size.
    val docs = (1L to 300L)
      .map(i => (i, "the same boilerplate footer text appears on every single page"))
      .toDF("doc_id", "text")
    val base = docs.select(col("doc_id") +: Dedup.shingled(col("text"), 3): _*)
    val sig = base.select(col("doc_id"), Dedup.minhashSig(col("shingle_hashes"), 16).as("sig"))
    val banded = sig
      .select(col("doc_id"), Dedup.lshBands(col("sig"), 4, 4).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val capped = Dedup.candidatePairs(Dedup.capBuckets("doc_id", 64)(banded), "doc_id")
    assert(capped.count() == 64L * 63 / 2)
    // deterministic keeper set: the smallest doc_ids survive the cap
    val ids = capped.select(col("d1")).union(capped.select(col("d2")))
      .distinct().as[Long].collect().toSet
    assert(ids == (1L to 64L).toSet)
  }

  test("hamming distance counts differing bits") {
    val df = Seq((0x0FL, 0x00L)).toDF("a", "b")
    assert(df.select(Dedup.hamming(col("a"), col("b"))).head.getInt(0) == 4)
  }

  /** Force the distributed CC rounds (the 100 TB shape) regardless of
    * graph size, so the fixpoint machinery keeps its test coverage now
    * that small graphs take the driver-local union-find fast path. */
  private def distributedCc[A](body: => A): A = {
    spark.conf.set("spark.graft.localCcMaxEdges", "0")
    try body finally spark.conf.unset("spark.graft.localCcMaxEdges")
  }

  test("driver-local CC fast path equals the distributed rounds (property)") {
    val rnd = new scala.util.Random(23)
    (1 to 5).foreach { trial =>
      val n = 80
      val random = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val chain = (500L until 530L).map(i => (i, i + 1))
      val loops = Seq((900L, 900L))
      val edges = (random ++ chain ++ loops).toDF("d1", "d2")
      val fast = Dedup.connectedComponentsStar(edges, "d1", "d2")
        .as[(Long, Long)].collect().toMap
      val dist = distributedCc(Dedup.connectedComponentsStar(edges, "d1", "d2")
        .as[(Long, Long)].collect().toMap)
      val fastProp = Dedup.connectedComponents(edges, "d1", "d2")
        .as[(Long, Long)].collect().toMap
      val distProp = distributedCc(Dedup.connectedComponents(edges, "d1", "d2")
        .as[(Long, Long)].collect().toMap)
      assert(fast == dist, s"trial $trial: star fast path != distributed")
      assert(fastProp == distProp, s"trial $trial: propagation fast path != distributed")
    }
  }

  test("star-contraction CC equals min-label propagation on random graphs (property)") {
    distributedCc {
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { trial =>
      // mix of random edges + a long chain (the diameter case star
      // contraction exists for) + a big star
      val n = 60
      val random = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // keep self-loops in: a node whose only edge is (x, x) must still
      // appear, labeled by itself, in BOTH variants
      val chain = (100L until 140L).map(i => (i, i + 1))
      val star = (200L until 220L).map(i => (250L, i))
      val loops = Seq((300L, 300L), (301L, 301L))
      val edges = (random ++ chain ++ star ++ loops).toDF("d1", "d2")
      val viaLabel = Dedup.connectedComponents(edges, "d1", "d2")
        .as[(Long, Long)].collect().toMap
      val viaStar = Dedup.connectedComponentsStar(edges, "d1", "d2")
        .as[(Long, Long)].collect().toMap
      assert(viaStar == viaLabel, s"trial $trial: star CC != min-label CC")
    }
    }
  }

  test("connectedComponents labels every node with its component's min id") {
    // chain 1-2-3 (transitive closure across pairs), star 10-{11,12},
    // isolated pair 20-21; a long path exercises multi-iteration converge
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (10L, 12L), (20L, 21L),
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L), (34L, 35L))
      .toDF("d1", "d2")
    val got = Dedup.connectedComponents(edges, "d1", "d2")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L, 34L -> 30L, 35L -> 30L))
  }

  test("connected components label every job they run; span removal and the gate build lazily") {
    import org.apache.spark.graftx.JobCount
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (11L, 12L)).toDF("d1", "d2")
    def labels(body: => Any): Seq[String] = JobCount.labels(spark)(body)._2
    val local = labels(Dedup.connectedComponents(edges, "d1", "d2").collect())
    val star = labels(Dedup.connectedComponentsStar(edges, "d1", "d2").collect())
    // the distributed rounds: every job the call itself runs is labelled
    spark.conf.set("spark.graft.localCcMaxEdges", "0")
    val rounds = try labels(Dedup.connectedComponents(edges, "d1", "d2"))
      finally spark.conf.unset("spark.graft.localCcMaxEdges")
    for ((got, want) <- Seq((local, "dedup: connected components"),
        (star, "dedup: connected components (star)"),
        (rounds, "dedup: connected components")))
      assert(got.nonEmpty && got.forall(_ == want), s"$want: $got")
    // span removal and the quality gate only build plans: their jobs
    // belong to the caller's action, which labels them
    val docs = Seq((1L, "<p>a b c d e</p>"), (2L, "x a b c d y")).toDF("doc_id", "raw")
    assert(labels(Dedup.removeDuplicateSpans(docs, col("raw"), col("doc_id"), w = 3)).isEmpty)
    assert(labels(docs.select(graft.ops.TextAnalysis.htmlToText(col("raw")).as("text"))
      .filter(graft.ops.TextAnalysis.gopherPass(col("text"),
        graft.functions.TextFunctions.tokens(col("text"))))).isEmpty)
  }

  test("CC fixpoints under a reliable checkpoint dir: same labels, files recoverable") {
    // with sc.setCheckpointDir set, pin() switches from localCheckpoint to
    // reliable checkpoint() — an executor lost mid-fixpoint at cluster
    // scale recovers from the checkpoint files instead of restarting the
    // whole computation. Results must be identical either way.
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    dir.deleteOnExit()
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 20L))
      .toDF("d1", "d2")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    sc.setCheckpointDir(dir.getAbsolutePath)
    try {
      val viaLabel = Dedup.connectedComponents(edges, "d1", "d2")
        .as[(Long, Long)].collect().toMap
      val viaStar = Dedup.connectedComponentsStar(edges, "d1", "d2")
        .as[(Long, Long)].collect().toMap
      assert(viaLabel == expected)
      assert(viaStar == expected)
      // the reliable path really ran: checkpoint data landed on disk
      val wrote = scala.util.Using.resource(java.nio.file.Files.walk(dir.toPath))(
        _.filter(java.nio.file.Files.isRegularFile(_)).count())
      assert(wrote > 0, "expected reliable checkpoint files on disk")
    } finally {
      // private[spark] var: clear via the bytecode-public setter so later
      // suites go back to the localCheckpoint default
      sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[String]])
        .invoke(sc, None)
      ()
    }
  }

  test("editDistance1Pairs equals brute-force levenshtein over all pairs") {
    import spark.implicits._
    // substitutions, insertions, deletions, duplicates, unrelated strings,
    // a null, and an empty string (its only deletion variant is itself)
    val vals = Seq("abc", "abd", "ab", "abcd", "xyz", "abc", "a", "", null)
    val df = vals.toDF("s")
    val got = Dedup.editDistance1Pairs(df, "s")
      .as[(String, String)].collect().toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val distinct = vals.filter(_ != null).distinct
    val want = (for {
      a <- distinct; b <- distinct if a < b && lev(a, b) <= 1
    } yield (a, b)).toSet
    assert(got == want)
    assert(want.contains(("abc", "abd")) && want.contains(("ab", "abc")) &&
      want.contains(("abc", "abcd")) && want.contains(("", "a")))
  }

  test("fuzzyJoin equals brute-force best-match on random strings (property)") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { trial =>
      // small alphabet forces plenty of distance-1 collisions; lengths
      // 0..4 cover the empty-string deletion edge; a null dirty value
      // must pass through unmatched
      def word() = (0 until rnd.nextInt(5)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      val dirtyVals = Seq.fill(40)(word()) :+ null
      val cleanVals = Seq.fill(12)(word())
      val dirty = dirtyVals.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "s")
      val clean = cleanVals.toDF("s")
      val got = Dedup.fuzzyJoin(dirty, clean, "s")
        .select("id", "s", "s_matched", "s_dist")
        .as[(Long, String, String, Option[Int])].collect()
        .map(r => (r._1, r._2, r._3, r._4)).toSet
      val cleanDistinct = cleanVals.distinct
      val want = dirtyVals.zipWithIndex.map { case (s, i) =>
        val best = if (s == null) None
          else cleanDistinct.map(c => (lev(s, c), c)).filter(_._1 <= 1).minOption
        (i.toLong, s, best.map(_._2).orNull, best.map(_._1))
      }.toSet
      assert(got == want, s"trial $trial")
    }
  }

  // ----- exact duplicate-substring dedup (Lee et al. EXACTSUBSTR) -----

  test("duplicateWindows keeps the first (doc,pos) occurrence, flags the rest") {
    val docs = Seq(
      (1L, "a b c d e"),        // windows(3): "a b c" "b c d" "c d e"
      (2L, "x a b c d y"))      // shares "a b c"@1 and "b c d"@2
      .toDF("doc_id", "text")
    val rem = Dedup.duplicateWindows(docs, col("text"), col("doc_id"), w = 3)
      .as[(Long, Int)].collect().toSet
    // doc 1 holds every first occurrence; only doc 2's repeats flag
    assert(rem == Set((2L, 1), (2L, 2)))
  }

  test("mergeWindowSpans chains overlapping windows, splits distant ones") {
    val rem = Seq((1L, 0), (1L, 2), (1L, 10)).toDF("doc_id", "pos")
    val spans = Dedup.mergeWindowSpans(rem, w = 3)
      .as[(Long, Int, Int, Long)].collect().toSet
    // pos 2 <= 0 + (w-1) chains; pos 10 > 2 + (w-1) breaks
    assert(spans == Set((1L, 0, 4, 2L), (1L, 10, 12, 1L)))
  }

  test("removeDuplicateSpans cuts repeated spans, untouched docs survive whole") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d y"))
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, col("text"), col("doc_id"), w = 3)
      .as[(Long, String, Long, Long)].collect()
      .map { case (d, c, t, r) => d -> ((c, t, r)) }.toMap
    assert(out(1L) == (("a b c d e", 5L, 0L)))
    // doc 2's span [1..4] is cut: "x" and "y" survive
    assert(out(2L) == (("x y", 6L, 4L)))
  }

  test("within-document repeats collapse to one surviving occurrence") {
    // the paper's self-repeat case: a 3-token phrase repeated three
    // times keeps exactly its first occurrence
    val docs = Seq((1L, "p q r p q r p q r")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, col("text"), col("doc_id"), w = 3)
      .as[(Long, String, Long, Long)].collect().head
    assert(out == ((1L, "p q r", 9L, 6L)))
  }

  test("duplicateWindowsAgainst: corpus wins regardless of id, batch dedups internally") {
    val corpus = Seq((9L, "a b c d")).toDF("doc_id", "text")
    val batch = Seq(
      (2L, "a b c z"), // "a b c" lives in corpus doc 9 -> removable despite 2 < 9
      (3L, "q r s t"), // first occurrences -> kept
      (4L, "q r s t")  // repeats batch doc 3 -> removable
    ).toDF("doc_id", "text")
    val rem = Dedup.duplicateWindowsAgainst(batch, corpus,
      col("text"), col("doc_id"), w = 3).as[(Long, Int)].collect().toSet
    assert(rem == Set((2L, 0), (4L, 0), (4L, 1)))
    // an empty corpus degrades exactly to the self form
    val self = Dedup.duplicateWindows(batch, col("text"), col("doc_id"), 3)
      .as[(Long, Int)].collect().toSet
    val against = Dedup.duplicateWindowsAgainst(batch, corpus.limit(0),
      col("text"), col("doc_id"), 3).as[(Long, Int)].collect().toSet
    assert(against == self)
  }

  test("removeDuplicateSpansAgainst rewrites the batch only, corpus untouched") {
    val corpus = Seq((9L, "a b c d")).toDF("doc_id", "text")
    val batch = Seq((2L, "x a b c y")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpansAgainst(batch, corpus,
      col("text"), col("doc_id"), w = 3)
      .as[(Long, String, Long, Long)].collect()
    // only batch ids come back; the corpus-shared "a b c" span is cut
    assert(out.toSeq == Seq((2L, "x y", 5L, 3L)))
  }

  test("substring dedup matches a sequential reference model on random corpora") {
    // Model-based check of the full EXACTSUBSTR semantics: a
    // straightforward sequential implementation of the paper's rule
    // (every w-window occurrence except the first in (doc_id, pos)
    // order is removable; covered tokens are cut) compared EXACTLY to
    // the distributed operator on random small-alphabet corpora —
    // small alphabets force heavy window collisions, the regime where
    // rank/tie/span-merge bugs would live.
    def toks(s: String): Vector[String] =
      s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toVector
    def model(docs: Seq[(Long, String)], w: Int): Map[Long, (String, Long, Long)] = {
      val occ = for {
        (id, text) <- docs
        t = toks(text)
        pos <- 0 to t.length - w
      } yield (t.slice(pos, pos + w).mkString(" "), id, pos)
      val removable = occ.groupBy(_._1).valuesIterator
        .flatMap(_.sortBy(o => (o._2, o._3)).drop(1)).map(o => (o._2, o._3)).toSet
      docs.map { case (id, text) =>
        val t = toks(text)
        val covered = (0 to t.length - w)
          .filter(p => removable((id, p)))
          .flatMap(p => p until p + w).toSet
        val clean = t.indices.filterNot(covered).map(t)
        id -> ((clean.mkString(" "), t.length.toLong, covered.size.toLong))
      }.toMap
    }
    val rnd = new scala.util.Random(20260815L)
    val alphabet = Vector("a", "b", "c", "d", "e")
    for (trial <- 1 to 8) {
      val docs = (1L to 6L).map { id =>
        id -> Seq.fill(rnd.nextInt(16))(alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
      }
      val got = Dedup.removeDuplicateSpans(docs.toDF("doc_id", "text"),
        col("text"), col("doc_id"), w = 3)
        .as[(Long, String, Long, Long)].collect()
        .map { case (d, c, t, r) => d -> ((c, t, r)) }.toMap
      assert(got == model(docs, 3), s"trial $trial, docs=$docs")
    }
  }

  test("incremental substring dedup matches the model on random batch/corpus splits") {
    def toks(s: String): Vector[String] =
      s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toVector
    def model(batch: Seq[(Long, String)], corpus: Seq[(Long, String)],
              w: Int): Map[Long, (String, Long, Long)] = {
      val corpusKeys = (for {
        (_, text) <- corpus; t = toks(text); pos <- 0 to t.length - w
      } yield t.slice(pos, pos + w).mkString(" ")).toSet
      val occ = for {
        (id, text) <- batch; t = toks(text); pos <- 0 to t.length - w
      } yield (t.slice(pos, pos + w).mkString(" "), id, pos)
      val removable = occ.groupBy(_._1).valuesIterator.flatMap { os =>
        val sorted = os.sortBy(o => (o._2, o._3))
        if (corpusKeys(sorted.head._1)) sorted else sorted.drop(1)
      }.map(o => (o._2, o._3)).toSet
      batch.map { case (id, text) =>
        val t = toks(text)
        val covered = (0 to t.length - w)
          .filter(p => removable((id, p)))
          .flatMap(p => p until p + w).toSet
        val clean = t.indices.filterNot(covered).map(t)
        id -> ((clean.mkString(" "), t.length.toLong, covered.size.toLong))
      }.toMap
    }
    val rnd = new scala.util.Random(8151202L)
    val alphabet = Vector("a", "b", "c", "d")
    for (trial <- 1 to 8) {
      def gen(ids: Seq[Long]) = ids.map { id =>
        id -> Seq.fill(rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
      }
      val batch = gen(1L to 4L)
      val corpus = gen(101L to 104L)
      val got = Dedup.removeDuplicateSpansAgainst(
        batch.toDF("doc_id", "text"), corpus.toDF("doc_id", "text"),
        col("text"), col("doc_id"), w = 3)
        .as[(Long, String, Long, Long)].collect()
        .map { case (d, c, t, r) => d -> ((c, t, r)) }.toMap
      assert(got == model(batch, corpus, 3), s"trial $trial, batch=$batch corpus=$corpus")
    }
  }

  test("substring index form: persisted index replays the corpus exactly") {
    val corpus = Seq((9L, "a b c d"), (8L, "m n o p q")).toDF("doc_id", "text")
    val batch = Seq((2L, "x a b c y"), (3L, "n o p z"), (4L, "n o p z"))
      .toDF("doc_id", "text")
    val direct = Dedup.removeDuplicateSpansAgainst(batch, corpus,
      col("text"), col("doc_id"), w = 3).collect().toSet
    // build the index, round-trip it through parquet (the production
    // shape: written once, read per batch), and replay
    val dir = java.nio.file.Files.createTempDirectory("subidx").toString
    Dedup.substringIndex(corpus, col("text"), col("doc_id"), w = 3)
      .write.mode("overwrite").parquet(dir)
    val viaIndex = Dedup.removeDuplicateSpansAgainstIndex(batch,
      spark.read.parquet(dir), col("text"), col("doc_id"), w = 3)
      .collect().toSet
    assert(viaIndex == direct)
    assert(direct.nonEmpty)
  }

  test("substring index appends: union(distinct) equals re-indexing the grown corpus") {
    val c1 = Seq((9L, "a b c d")).toDF("doc_id", "text")
    val c2 = Seq((8L, "b c d e f")).toDF("doc_id", "text")
    val appended = Dedup.substringIndex(c1, col("text"), col("doc_id"), 3)
      .union(Dedup.substringIndex(c2, col("text"), col("doc_id"), 3))
      .distinct()
    val whole = Dedup.substringIndex(c1.unionByName(c2),
      col("text"), col("doc_id"), 3)
    assert(appended.as[String].collect().toSet ==
      whole.as[String].collect().toSet)
    // and a batch scrubbed against the appended index matches one
    // scrubbed against the full corpus text
    val batch = Seq((2L, "c d e q r")).toDF("doc_id", "text")
    val viaAppended = Dedup.removeDuplicateSpansAgainstIndex(batch, appended,
      col("text"), col("doc_id"), w = 3).collect().toSet
    val viaText = Dedup.removeDuplicateSpansAgainst(batch,
      c1.unionByName(c2), col("text"), col("doc_id"), w = 3).collect().toSet
    assert(viaAppended == viaText)
  }

  test("removeContaminatedSpans cuts every eval overlap, no first-occurrence exemption") {
    val eval_ = Seq((100L, "a b c")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c x a b c"), // BOTH occurrences cut — dedup would keep the first
      (2L, "p q r s"))       // untouched
      .toDF("doc_id", "text")
    val idx = Dedup.substringIndex(eval_, col("text"), col("doc_id"), w = 3)
    val out = Dedup.removeContaminatedSpans(train, idx,
      col("text"), col("doc_id"), w = 3)
      .as[(Long, String, Long, Long)].collect()
      .map { case (d, c, t, r) => d -> ((c, t, r)) }.toMap
    assert(out(1L) == (("x", 7L, 6L)))
    assert(out(2L) == (("p q r s", 4L, 0L)))
  }

  test("span decontamination matches a sequential model on random corpora") {
    def toks(s: String): Vector[String] =
      s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toVector
    def model(train: Seq[(Long, String)], eval_ : Seq[(Long, String)],
              w: Int): Map[Long, (String, Long, Long)] = {
      val eset = (for {
        (_, text) <- eval_; t = toks(text); pos <- 0 to t.length - w
      } yield t.slice(pos, pos + w).mkString(" ")).toSet
      train.map { case (id, text) =>
        val t = toks(text)
        val covered = (0 to t.length - w)
          .filter(p => eset(t.slice(p, p + w).mkString(" ")))
          .flatMap(p => p until p + w).toSet
        val clean = t.indices.filterNot(covered).map(t)
        id -> ((clean.mkString(" "), t.length.toLong, covered.size.toLong))
      }.toMap
    }
    val rnd = new scala.util.Random(31412L)
    val alphabet = Vector("a", "b", "c", "d")
    for (trial <- 1 to 6) {
      def gen(ids: Seq[Long]) = ids.map { id =>
        id -> Seq.fill(rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
      }
      val train = gen(1L to 4L)
      val eval_ = gen(101L to 102L)
      val idx = Dedup.substringIndex(eval_.toDF("doc_id", "text"),
        col("text"), col("doc_id"), w = 3)
      val got = Dedup.removeContaminatedSpans(train.toDF("doc_id", "text"),
        idx, col("text"), col("doc_id"), w = 3)
        .as[(Long, String, Long, Long)].collect()
        .map { case (d, c, t, r) => d -> ((c, t, r)) }.toMap
      assert(got == model(train, eval_, 3), s"trial $trial, train=$train eval=$eval_")
    }
  }

  test("substring dedup is partition-invariant on the real fixture") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val a = Dedup.removeDuplicateSpans(docs, col("text"), col("doc_id"), w = 8)
      .collect().toSet
    val b = Dedup.removeDuplicateSpans(docs.repartition(7), col("text"),
      col("doc_id"), w = 8).collect().toSet
    assert(a == b)
    assert(a.nonEmpty)
  }
}

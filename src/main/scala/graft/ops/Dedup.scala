package graft.ops

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for the LLM-data-pipeline surface
  * (BASELINE.json north star): exact content-hash dedup, MinHash+LSH
  * near-dup candidate generation with exact-Jaccard verification, SimHash
  * fingerprinting with blocked Hamming search, and blocked n-gram Jaccard.
  *
  * 100 TB design notes:
  *   - All per-document work (tokenize, shingle, hash, signature) is
  *     map-side: one narrow projection, no shuffle, fully codegen'd
  *     higher-order-function expressions — scales linearly with input.
  *   - LSH banding shuffles once on (band, bandKey); the self-join is
  *     equi-join shaped, so AQE can pick broadcast/skew strategies. Giant
  *     buckets (boilerplate text at web scale) should be capped: see
  *     `capBuckets`, which bounds the quadratic blowup per bucket.
  *   - Exact-Jaccard verification joins shingle sets back by doc id —
  *     two hash-partitioned joins on the (small) candidate-pair set, not
  *     on the corpus.
  */
object Dedup {

  /** Exact dedup by content hash: keep the row with the smallest `idCol`
    * per distinct `contentCol` value (deterministic keeper — the pandas
    * drop_duplicates keep-first analog with an explicit total order).
    * One shuffle on the hash; at scale the hash (not the full text)
    * is the shuffle key, so wide documents don't inflate the exchange. */
  def exactDedupByContent(contentCol: Column, idCol: Column)(df: DataFrame): DataFrame =
    Relational.dedupKeepFirst(Seq("__chash"), Seq(idCol))(
      df.withColumn("__chash", md5(contentCol)))
      .withColumnRenamed("__chash", "content_hash")

  /** doc -> (shingle array, distinct shingle set, shingle hash array).
    * Pure projection; `n`-token shingles over lowercase alnum tokens. */
  def shingled(textCol: Column, n: Int): Seq[Column] = {
    val tk = tokens(textCol)
    val s = shingles(tk, n)
    Seq(s.as("shingles"),
        array_distinct(s).as("shingle_set"),
        shingleHashes(tk, n).as("shingle_hashes"))
  }

  /** MinHash signature column over shingle hashes (k components). */
  def minhashSig(shingleHashes: Column, k: Int): Column =
    minhashSignature(shingleHashes, k)

  /** Explode a signature into LSH bands: (band, bandKey) where bandKey is
    * the comma-joined slice of `rowsPerBand` components. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    explode(transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), ",").as("bkey"))))

  /** Bound the quadratic per-bucket blowup: keep at most `maxPerBucket`
    * members (smallest ids — deterministic) in each (band, bkey) bucket.
    * At web scale a boilerplate bucket with 10^6 members would otherwise
    * generate 10^12 pairs. */
  def capBuckets(idCol: String, maxPerBucket: Int)(banded: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bkey")).orderBy(col(idCol))
    banded.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerBucket).drop("__rn")
  }

  /** Candidate pairs from a banded table with columns (id, band, bkey):
    * distinct (d1 < d2) pairs sharing any band bucket. */
  def candidatePairs(banded: DataFrame, idCol: String): DataFrame = {
    val a = banded.select(col(idCol).as("d1"), col("band"), col("bkey"))
    val b = banded.select(col(idCol).as("d2"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
  }

  /** Incremental (cross-side) candidate pairs: each NEW doc against the
    * banded CORPUS, never corpus-vs-corpus. This is what makes near-dup
    * dedup incremental at 100 TB — a daily batch joins the persisted
    * banded index and generates |batch|-proportional work, instead of
    * recomputing the corpus-quadratic pair set every run. Both inputs
    * carry (id, band, bkey); cap the corpus side's buckets first. */
  def candidatePairsAcross(bandedNew: DataFrame, bandedCorpus: DataFrame,
                           idCol: String): DataFrame = {
    val a = bandedNew.select(col(idCol).as("d_new"), col("band"), col("bkey"))
    val b = bandedCorpus.select(col(idCol).as("d_old"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .select("d_new", "d_old")
      .distinct()
  }

  /** Fraction of equal components between two equal-length signatures —
    * the MinHash Jaccard estimate. */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    aggregate(zip_with(sigA, sigB, (p, q) => when(p === q, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast(DoubleType) / k

  /** Exact Jaccard of two distinct-element arrays. */
  def jaccard(setA: Column, setB: Column): Column = {
    val inter = size(array_intersect(setA, setB))
    inter.cast(DoubleType) / (size(setA) + size(setB) - inter)
  }

  /** Hamming distance between two 32-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Driver-local union-find over a PINNED (u, v) edge frame — the
    * small-graph fast path both CC forms take under
    * `spark.graft.localCcMaxEdges` (default 1M edges ≈ 32 MB of
    * endpoint pairs): near-dup graphs at interactive scales are tiny
    * next to the corpus that produced them, and the distributed
    * fixpoint pays 6-10 exchange stage-jobs PER ROUND for what is one
    * linear union-find pass. Same posture as the ANN serve dial: an
    * explicit cap, a driver path under it, the distributed rounds
    * (unchanged, the 100 TB shape) above it or on non-integral /
    * null-bearing ids. Labels are bit-identical by definition — the CC
    * fixpoint IS "min node id per component", algorithm-independent
    * (DedupSpec A/Bs the paths on random graphs). Returns (node,
    * cluster) as LONGS; callers cast back to their id type. */
  private def localCc(pinnedEdges: DataFrame): Option[Array[(Long, Long)]] = {
    val spark = pinnedEdges.sparkSession
    val cap = spark.conf.getOption("spark.graft.localCcMaxEdges")
      .map(_.toLong).getOrElse(1000000L)
    if (cap <= 0) return None
    val integral = pinnedEdges.schema.fields.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    if (!integral) return None
    if (pinnedEdges.count() > cap) return None // pinned: a cheap block scan
    val rows = pinnedEdges.collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    def long(a: Any): Long = a match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
    }
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    // union by MIN root: the surviving root is the component's smallest
    // id, so find(x) at the end IS the cluster label
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = new java.util.TreeSet[java.lang.Long]()
    rows.foreach { r =>
      val u = long(r.get(0)); val v = long(r.get(1))
      nodes.add(u); nodes.add(v)
      if (u != v) union(u, v)
    }
    val out = new Array[(Long, Long)](nodes.size)
    var i = 0
    val it = nodes.iterator()
    while (it.hasNext) { val n = it.next().longValue(); out(i) = (n, find(n)); i += 1 }
    Some(out)
  }

  /** Connected components over a near-dup pair graph by iterative
    * min-label propagation: every node's label converges to the smallest
    * node id in its component, which IS the deterministic cluster id (and
    * the canonical keeper for cluster-level dedup — pairs alone under-
    * delete, since near-dup is transitive in practice but not in pairs).
    *
    * Each iteration is one join + one min-aggregate; the driver-side
    * `count()` is the convergence check (standard for iterative graph
    * algorithms — the data never leaves the cluster, only the changed-row
    * count does). Converges in O(component diameter) iterations; dedup
    * graphs are shallow (boilerplate stars), so a handful in practice.
    * Per-iteration lineage is truncated via [[Iterate.pin]] — reliable
    * `checkpoint()` when the session has a checkpoint dir, else
    * `localCheckpoint()`. At extreme diameters, swap in the
    * large-star/small-star contraction — same contract, fewer rounds.
    * The jobs it runs carry the label `dedup: connected components`. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame =
    graft.JobDesc(edges.sparkSession, "dedup: connected components")(
      minLabelComponents(edges, aCol, bCol, maxIter))

  private def minLabelComponents(edges: DataFrame, aCol: String, bCol: String,
                                 maxIter: Int): DataFrame = {
    val spark = edges.sparkSession
    // materialize the RAW endpoint pairs once: the symmetric view, the
    // fast-path probe and every iteration derive from the pin, so the
    // upstream pair query (LSH, cosine blocking, ...) runs exactly once
    // (the previous shape's two-branch union evaluated it twice inside
    // the one pinning job)
    val raw = Iterate.pin(edges.select(col(aCol).as("a"), col(bCol).as("b")))
    localCc(raw).foreach { labels =>
      // output type = what the symmetric union coerces a/b to
      val t = raw.select(col("a")).union(raw.select(col("b")))
        .schema.head.dataType
      import spark.implicits._
      return labels.toSeq.toDF("node", "cluster")
        .select(col("node").cast(t).as("node"),
          col("cluster").cast(t).as("cluster"))
    }
    val sym = raw
      .union(raw.select(col("b").as("a"), col("a").as("b")))
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("lab", col("node"))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val prop = sym.join(labels, sym("a") === labels("node"))
        .select(col("b").as("node"), col("lab"))
        .union(labels.select(col("node"), col("lab")))
        .groupBy("node").agg(min(col("lab")).as("newlab"))
      // checkpoint the joined frame once per round: the convergence count
      // and the next round's labels both read it, and without the
      // materialization each would re-execute the join
      val joined = Iterate.pin(labels.join(prop, "node"))
      changed = joined.filter(col("newlab") =!= col("lab")).count()
      labels = joined.select(col("node"), col("newlab").as("lab"))
      iter += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter iterations")
    labels.select(col("node"), col("lab").as("cluster"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the 100 TB path: converges in O(log n) rounds regardless
    * of component diameter, where min-label propagation needs O(diameter)
    * (a 10^6-long chain of near-dups would take 10^6 rounds there, ~20
    * here). Each round is two grouped min-aggregations over the edge
    * list; the result is the same (node -> min id in component) fixpoint,
    * property-tested equal to [[connectedComponents]].
    *
    *   large-star: every node links its LARGER neighbors to its current
    *     minimum (strictly decreases large labels, keeps stars shallow);
    *   small-star: every node links its smaller-or-equal neighbors to the
    *     minimum (hangs whole stars under their root).
    * Convergence: the edge multiset stops changing — checked on a
    * canonical distinct edge set per round. The jobs it runs carry the
    * label `dedup: connected components (star)`. */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 50): DataFrame =
    graft.JobDesc(edges.sparkSession, "dedup: connected components (star)")(
      starComponents(edges, aCol, bCol, maxIter))

  private def starComponents(edges: DataFrame, aCol: String, bCol: String,
                             maxIter: Int): DataFrame = {
    // ONE pin of the raw endpoint pairs: the node set, the fast-path
    // probe and the canonical edge set all derive from it (previously
    // allNodes and e each pinned their own evaluation of the upstream
    // pair query)
    val raw = Iterate.pin(edges.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v")))
    localCc(raw).foreach { labels =>
      val spark = edges.sparkSession
      import spark.implicits._
      return labels.toSeq.toDF("node", "cluster")
    }
    // full node set BEFORE dropping self-loops: a node whose only edges
    // are self-loops must still appear in the output (parity with
    // connectedComponents)
    val allNodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node")))
      .distinct()
    // canonical undirected edge set as (hi, lo) pairs, self-loops dropped
    var e = Iterate.pin(raw
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())

    // One star round as pure grouped aggregations + joins — nothing
    // materializes a node's adjacency list in a single task's heap (a
    // boilerplate component's root would hold the whole component), so
    // giant stars stay distributed and AQE's skew handling applies.
    def star(cur: DataFrame, large: Boolean): DataFrame = {
      // neighborhood view: large-star sees every edge both ways,
      // small-star each node with only its smaller neighbors (u > v)
      val nbrs = if (large)
        cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      else cur
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // link each qualifying neighbor, and the center itself, to the
      // center's minimum
      val linkedNbrs = {
        val joined = nbrs.join(mins, "u")
        val q = if (large) joined.filter(col("v") > col("u")) else joined
        q.select(col("v").as("a"), col("m").as("b"))
      }
      val selfLinks = mins.filter(col("u") =!= col("m"))
        .select(col("u").as("a"), col("m").as("b"))
      linkedNbrs.union(selfLinks)
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .distinct()
    }

    var iter = 0
    var stable = false
    while (!stable && iter < maxIter) {
      val next = Iterate.pin(star(star(e, large = true), large = false))
      // convergence = the canonical edge sets are equal. Both sides are
      // distinct, so "no edge appears in exactly one side" decides it in a
      // SINGLE grouped job (vs count+count+except = three jobs per round —
      // fixed per-stage overhead dominates iterative rounds at any scale).
      stable = next.union(e).groupBy("u", "v").count()
        .filter(col("count") === 1).isEmpty
      e = next
      iter += 1
    }
    require(stable, s"connectedComponentsStar did not converge in $maxIter rounds")
    // at the fixpoint every edge is (member, root): emit that mapping,
    // then every node not appearing as a member (roots, self-loop-only
    // and isolated-within-input nodes) labels itself
    val fin = e.select(col("u").as("node"), col("v").as("cluster"))
    val self = allNodes.except(fin.select("node")).withColumn("cluster", col("node"))
    fin.unionByName(self.select(col("node"), col("cluster")))
  }

  /** All unordered pairs of DISTINCT values of `colName` within edit
    * distance 1 — the entity-resolution primitive for fuzzy key matching
    * (one-typo store codes, OCR'd article numbers). SymSpell-style
    * deletion-neighborhood blocking: every value emits itself plus its
    * single-character deletions as block keys; two strings within one
    * substitution/insertion/deletion necessarily share a block key, so
    * the candidate set is an equi-join on blocks — O(n·L) keys instead of
    * the O(n^2) all-pairs comparison — and `levenshtein <= 1` verifies
    * candidates exactly (a shared block only bounds distance by 2).
    * Deterministic, shuffle-scalable; block sizes are bounded by the
    * values colliding on one deletion (alphabet-sized for id-like keys). */
  def editDistance1Pairs(df: DataFrame, colName: String): DataFrame =
    editDistancePairs(df, colName, 1)

  /** All distinct value pairs within edit distance `maxDist` (1 or 2) —
    * the d = 2 generalization of the SymSpell blocking: candidates come
    * from one equi-join on <=maxDist-char-deletion keys (O(n·L) keys for
    * d = 1, O(n·L²/2) for d = 2 — still nothing like the O(n²)
    * comparisons), exact levenshtein verifies (shared blocks only bound
    * the distance). */
  def editDistancePairs(df: DataFrame, colName: String,
                        maxDist: Int): DataFrame = {
    val blocked = deletionBlocked(df, colName, "s", maxDist)
    val a = blocked.select(col("s").as("d1"), col("block"))
    val b = blocked.select(col("s").as("d2"), col("block"))
    a.join(b, "block")
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
      .filter(levenshtein(col("d1"), col("d2")) <= maxDist)
  }

  /** Distinct non-null values of `colName` exploded to their SymSpell
    * deletion-neighborhood block keys (the value itself plus each
    * single-character deletion): two strings within one edit necessarily
    * share a block. Shared by the pair and join forms. */
  private def deletionBlocked(df: DataFrame, colName: String,
                              out: String, maxDist: Int = 1): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"deletion blocking supports maxDist 1 or 2, got $maxDist")
    // Pin the verify width on task-starved inputs (Widen scaladoc): the
    // distinct-values exchange is what every heavy downstream stage —
    // the ~|value| deletion-key explode, the blocked candidate join, the
    // pair distinct and the levenshtein verify — inherits its
    // parallelism from, and AQE coalesces it by BYTES to 1-2 tasks while
    // the candidate volume it feeds is ~|value|·block² larger than the
    // value list. Expansion prices that multiplier (~16-char keys ×
    // ~10-candidate blocks). Production-scale value lists skip the pin.
    val vals = Widen.byKeys(
      df.select(col(colName).cast(StringType).as(out))
        .filter(col(out).isNotNull),
      expansion = 256, col(out)).distinct()
    val s = col(out)
    val deletions = transform(sequence(lit(1), length(s)), i =>
      concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))
    // SymSpell for d = 2: if lev(a,b) <= 2 then a and b share a key among
    // their <=2-char deletions — O(L^2/2) keys per value (fine for the
    // key/name-length strings fuzzy matching exists for; for long text
    // block on a fingerprint instead). The length guard matters:
    // sequence(1, 0) would generate a DESCENDING range.
    val deletions2 =
      if (maxDist < 2) array().cast("array<string>")
      else when(length(s) >= 2, flatten(transform(
        sequence(lit(1), length(s) - 1), i =>
          transform(sequence(i + lit(1), length(s)), j =>
            concat(s.substr(lit(1), i - 1),
              s.substr(i + 1, j - i - 1),
              s.substr(j + 1, length(s) - j))))))
        .otherwise(array().cast("array<string>"))
    vals.select(s,
      explode(array_distinct(concat(array(s), deletions, deletions2)))
        .as("block"))
  }

  /** Fuzzy lookup JOIN — the enrichment form of [[editDistance1Pairs]]:
    * every `dirty` row gains its best `clean`-side match on `colName`
    * within edit distance 1 as `<col>_matched` (null when nothing is
    * that close) and the distance as `<col>_dist`. Best = smallest
    * distance, ties broken by the smallest matched value — fully
    * deterministic, the entity-resolution shape for joining one-typo
    * codes against a clean dimension.
    *
    * Scale: candidates come from one equi-join of the two sides'
    * deletion-neighborhood blocks (O(n·L) block keys, never the n×m
    * all-pairs comparison), the best-match reduction is a map-side-
    * combinable min over a struct, and the final enrichment is one join
    * on the dirty VALUE — distinct values do the expensive work once no
    * matter how often a value repeats. */
  def fuzzyJoin(dirty: DataFrame, clean: DataFrame, colName: String): DataFrame = {
    val cand = deletionBlocked(dirty, colName, "__dv")
      .join(deletionBlocked(clean, colName, "__cv"), "block")
      .select("__dv", "__cv").distinct()
      .withColumn("__dist", levenshtein(col("__dv"), col("__cv")))
      .filter(col("__dist") <= 1)
    val best = cand.groupBy(col("__dv"))
      .agg(min(struct(col("__dist"), col("__cv"))).as("__best"))
      .select(col("__dv"),
        col("__best.__cv").as(s"${colName}_matched"),
        col("__best.__dist").cast("int").as(s"${colName}_dist"))
    dirty.join(best, dirty.col(colName).cast(StringType) === best("__dv"), "left")
      .drop("__dv")
  }

  // -------------------------------------------------------------------
  // Exact duplicate-SUBSTRING dedup (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better", arXiv:2107.06499 — the
  // EXACTSUBSTR operator). The paper removes every repeated span of >= 50
  // tokens, keeping one occurrence; its tool builds a single in-memory
  // suffix array, which has no distributed analogue. The Spark-first
  // re-expression slides a w-token window over each document and treats a
  // window as DUPLICATED when the same w tokens occur anywhere else in
  // the corpus (another document, another position of the same document —
  // self-repeats count, as in the paper). Every occurrence except the
  // FIRST in (doc_id, pos) order is removable; removable windows merge
  // into maximal spans and the spans are cut from the text, so each
  // repeated substring survives exactly once corpus-wide.
  //
  // 100 TB design: window extraction is one map-side projection (tokens +
  // sliding join — codegen'd higher-order functions); occurrences shuffle
  // ONCE keyed on the 128-bit md5 of the window text — (hash, doc, pos)
  // rides the exchange, never the window text itself, so the shuffle is
  // ~24 bytes/window regardless of w. First-occurrence ranking is one
  // window-rank per hash key; span merge re-shuffles only the removable
  // minority on doc_id. Matching on a 128-bit hash rather than the text
  // is the standard trade (collision odds ~n²/2^129 — at 10^12 windows,
  // ~10^-15); stride-sampling window starts is the documented dial if
  // even the hashed shuffle is too large at full corpus scale.
  // -------------------------------------------------------------------

  /** (doc_id, pos, __gh): every w-token window occurrence, keyed by the
    * 128-bit hash of its token sequence. Pure map-side projection. */
  private def windowOccurrences(docs: DataFrame, textCol: Column,
                                idCol: Column, w: Int): DataFrame =
    docs.select(idCol.as("doc_id"), tokens(textCol).as("__t"))
      .select(col("doc_id"),
        posexplode(shingles(col("__t"), w)).as(Seq("pos", "__gram")))
      .select(col("doc_id"), col("pos"), md5(col("__gram")).as("__gh"))

  /** Removable duplicate-window occurrences: (doc_id, pos) of every
    * w-token window whose exact token sequence occurs earlier in
    * (doc_id, pos) order somewhere in the corpus. */
  def duplicateWindows(docs: DataFrame, textCol: Column, idCol: Column,
                       w: Int): DataFrame = {
    val firstSeen = Window.partitionBy(col("__gh"))
      .orderBy(col("doc_id"), col("pos"))
    windowOccurrences(docs, textCol, idCol, w)
      .withColumn("__rn", row_number().over(firstSeen))
      .filter(col("__rn") > 1)
      .select("doc_id", "pos")
  }

  /** Incremental form — the production shape: the CORPUS is the
    * already-published training shards (never modified), the BATCH is
    * the new arrivals. A batch window is removable when its token
    * sequence occurs anywhere in the corpus, or earlier (in (doc_id,
    * pos) order) within the batch itself. Corpus-side occurrences
    * reduce to one distinct-hash row each BEFORE the rank shuffle (a
    * map-side-combinable aggregate — at 100 TB this distinct hash set
    * is what you persist as the dedup index and append to per batch),
    * and ride the same first-occurrence window as rank-first pseudo
    * rows, so the whole decision is still one shuffle on the window
    * hash. */
  def duplicateWindowsAgainst(batch: DataFrame, corpus: DataFrame,
                              textCol: Column, idCol: Column,
                              w: Int): DataFrame =
    duplicateWindowsAgainstIndex(batch,
      substringIndex(corpus, textCol, idCol, w), textCol, idCol, w)

  /** The persistable substring-dedup index: one `gh` row per distinct
    * w-token window in the corpus (the 128-bit md5 the operator
    * shuffles on). This is the artifact a production pipeline writes
    * once per published corpus and APPENDS per accepted batch —
    * `oldIndex.union(substringIndex(newBatchClean, ...)).distinct()` —
    * so each arriving batch is scrubbed against all history without
    * ever re-reading the corpus text. Size: 16 B/distinct window +
    * parquet overhead, independent of w and of document length. */
  def substringIndex(corpus: DataFrame, textCol: Column, idCol: Column,
                     w: Int): DataFrame =
    windowOccurrences(corpus, textCol, idCol, w)
      .select(col("__gh").as("gh")).distinct()

  /** [[duplicateWindowsAgainst]] with a prebuilt [[substringIndex]]
    * frame (a `gh` column) standing in for the corpus — the steady-state
    * production form. Index rows ride the first-occurrence window as
    * rank-first pseudo-occurrences, so the decision is still one
    * shuffle on the window hash. */
  def duplicateWindowsAgainstIndex(batch: DataFrame, index: DataFrame,
                                   textCol: Column, idCol: Column,
                                   w: Int): DataFrame = {
    val bo = windowOccurrences(batch, textCol, idCol, w)
      .withColumn("__c", lit(false))
    // typed null placeholders: the pseudo row always ranks first via
    // __c desc (it is unique per hash), so its (doc_id, pos) never
    // participates in an ordering decision
    val co = index.select(
      lit(null).cast(bo.schema("doc_id").dataType).as("doc_id"),
      lit(null).cast(bo.schema("pos").dataType).as("pos"),
      col("gh").as("__gh"), lit(true).as("__c"))
    val firstSeen = Window.partitionBy(col("__gh"))
      .orderBy(col("__c").desc, col("doc_id"), col("pos"))
    bo.unionByName(co)
      .withColumn("__rn", row_number().over(firstSeen))
      .filter(col("__rn") > 1 && !col("__c"))
      .select("doc_id", "pos")
  }

  /** Merge removable w-token window positions into maximal disjoint
    * spans per document: two windows chain when they overlap or touch
    * (next.pos <= prev.pos + w - 1). Returns (doc_id, span_start,
    * span_end, n_windows) with token-index bounds inclusive. */
  def mergeWindowSpans(removable: DataFrame, w: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    removable
      .withColumn("__brk",
        when(col("pos") >
          coalesce(lag(col("pos"), 1).over(byDoc), lit(-w - 1)) + (w - 1), 1)
          .otherwise(0))
      .withColumn("__island",
        sum(col("__brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (w - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** Apply form: cut every removable span from each document and rebuild
    * the surviving text (tokens outside all spans, space-joined — token-
    * normalized output, same as the corpus the windows were computed
    * over). Returns (doc_id, clean_text, total_tokens, removed_tokens).
    * The span list per document is small (merged, disjoint), so coverage
    * is a codegen'd per-token `exists` over the doc's own span array —
    * no token-level shuffle. */
  def removeDuplicateSpans(docs: DataFrame, textCol: Column, idCol: Column,
                           w: Int): DataFrame =
    applySpans(docs, textCol, idCol,
      mergeWindowSpans(duplicateWindows(docs, textCol, idCol, w), w))

  /** Incremental apply: cut corpus-or-batch-duplicated spans from the
    * BATCH documents only ([[duplicateWindowsAgainst]] semantics); the
    * corpus is never rewritten. */
  def removeDuplicateSpansAgainst(batch: DataFrame, corpus: DataFrame,
                                  textCol: Column, idCol: Column,
                                  w: Int): DataFrame =
    applySpans(batch, textCol, idCol,
      mergeWindowSpans(
        duplicateWindowsAgainst(batch, corpus, textCol, idCol, w), w))

  /** [[removeDuplicateSpansAgainst]] with a prebuilt [[substringIndex]]
    * in place of the corpus text. */
  def removeDuplicateSpansAgainstIndex(batch: DataFrame, index: DataFrame,
                                       textCol: Column, idCol: Column,
                                       w: Int): DataFrame =
    applySpans(batch, textCol, idCol,
      mergeWindowSpans(
        duplicateWindowsAgainstIndex(batch, index, textCol, idCol, w), w))

  /** Span-level decontamination: every w-token window of `batch` whose
    * token sequence appears in `index` (a [[substringIndex]] of the
    * held-out eval/benchmark set) — NO first-occurrence exemption and
    * no within-batch rank, unlike the dedup forms: contaminated text
    * must not survive anywhere, not even once. Returns (doc_id, pos).
    * The eval index is tiny by nature (eval sets are thousands of
    * docs, the corpus is billions), so it broadcasts and the check is
    * one map-side semi join over the corpus scan — no corpus shuffle
    * at all, which is what makes span scrubbing affordable at 100 TB
    * where the dedup forms must shuffle. */
  def contaminatedWindows(batch: DataFrame, index: DataFrame,
                          textCol: Column, idCol: Column,
                          w: Int): DataFrame =
    windowOccurrences(batch, textCol, idCol, w)
      .join(broadcast(index.select(col("gh").as("__gh"))),
        Seq("__gh"), "leftsemi")
      .select("doc_id", "pos")

  /** Cut every eval-overlapping span from the batch documents — the
    * span-level train/eval scrub (the doc-level detection twin lives in
    * the `decontaminate` query): keeps the rest of each document
    * instead of dropping contaminated documents whole. */
  def removeContaminatedSpans(batch: DataFrame, index: DataFrame,
                              textCol: Column, idCol: Column,
                              w: Int): DataFrame =
    applySpans(batch, textCol, idCol,
      mergeWindowSpans(
        contaminatedWindows(batch, index, textCol, idCol, w), w))

  private def applySpans(docs: DataFrame, textCol: Column, idCol: Column,
                         spans: DataFrame): DataFrame = {
    val byDoc = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    docs.select(idCol.as("doc_id"), tokens(textCol).as("__t"))
      .join(byDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__spans"),
          array().cast("array<struct<span_start:int,span_end:int>>")).as("__sp"),
        col("__t"))
      .select(col("doc_id"),
        array_join(filter(col("__t"), (_, i) =>
          !exists(col("__sp"), sp =>
            i >= sp.getField("span_start") && i <= sp.getField("span_end"))), " ")
          .as("clean_text"),
        size(col("__t")).cast("long").as("total_tokens"),
        aggregate(col("__sp"), lit(0L),
          (acc, sp) => acc + (sp.getField("span_end") - sp.getField("span_start") + 1))
          .as("removed_tokens"))
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import java.security.MessageDigest

/** Tight-loop kernels behind the custom Catalyst expressions in
  * [[GraftExpressions]]. Each mirrors — bit for bit — a composition of
  * built-in higher-order functions (kept in [[TextFunctions]] and tested
  * for equivalence in KernelSpec), but runs as one pass of primitive
  * arithmetic instead of interpreted per-element lambdas: the
  * minhash/simhash hot path dropped ~20x when these replaced the HOF
  * trees (see BENCH notes).
  *
  * Called from generated code (via the static forwarders Scala emits for
  * object methods), so signatures use Spark's runtime types
  * (UTF8String/ArrayData) directly.
  */
object Kernels {

  /** Prime modulus for the minhash LCG family (smallest prime > 2^32);
    * must equal TextFunctions.MinhashP and the oracle SQL literal. */
  final val P: Long = 4294967311L

  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 4 md5 bytes as an unsigned 32-bit value — identical to
    * conv(substring(md5(s),1,8),16,10) without the hex round-trip. */
  def md5Prefix32(s: UTF8String): Long = {
    val d = mdLocal.get()
    d.reset()
    val b = d.digest(s.getBytes)
    ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) | ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
  }

  private val space = UTF8String.fromString(" ")

  /** Word n-gram shingles (space-joined) from a token array. */
  def shingles(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** md5Prefix32 over each n-gram shingle, skipping the string-array
    * materialization when only hashes are needed. */
  def shingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val sh = shingles(tokens, n)
    val m = sh.numElements()
    val out = new Array[Any](m)
    var i = 0
    while (i < m) { out(i) = md5Prefix32(sh.getUTF8String(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** LCG coefficients for minhash function j — must match
    * TextFunctions.minhashA/B and the oracle SQL formulas. */
  def minhashA(j: Int): Long = (1103515245L * (j + 1) + 12345L) % 1073741789L + 1L
  def minhashB(j: Int): Long = (214013L * (j + 1) + 2531011L) % 1073741789L

  /** k-component minhash signature in one pass over the hash array.
    * Empty input -> k nulls (array_min-over-empty semantics). */
  def minhashSig(hashes: ArrayData, k: Int): ArrayData = {
    val m = hashes.numElements()
    if (m == 0) return new GenericArrayData(Array.fill[Any](k)(null))
    val as = new Array[Long](k); val bs = new Array[Long](k)
    var j = 0
    while (j < k) { as(j) = minhashA(j); bs(j) = minhashB(j); j += 1 }
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i)
      j = 0
      while (j < k) {
        val v = (h * as(j) + bs(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    val boxed = new Array[Any](k)
    j = 0
    while (j < k) { boxed(j) = mins(j); j += 1 }
    new GenericArrayData(boxed)
  }

  /** 32-bit simhash over token hashes in one pass; empty -> 0. */
  def simhash32(hashes: ArrayData): Long = {
    val m = hashes.numElements()
    if (m == 0) return 0L
    val votes = new Array[Int](32)
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 32) {
        votes(b) += (((h >> b) & 1L).toInt << 1) - 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) { if (votes(b) >= 0) out |= 1L << b; b += 1 }
    out
  }

  /** Morton (Z-order) interleave of d ranks at `bits` bits each: bit i of
    * rank r lands at position i·d + r (round-robin), so sorting by the
    * result clusters rows close in EVERY dimension. The d = 2, bits = 16
    * case is bit-identical to [[zorder2]]. Ranks are masked to `bits`;
    * callers scale each dimension to a monotone 0..(2^bits − 1) rank
    * first and keep d·bits ≤ 63 (the sign bit must stay clear so the
    * curve sorts as an unsigned value). */
  def zorderN(ranks: Array[Long], bits: Int): Long = {
    val d = ranks.length
    var out = 0L
    var b = 0
    while (b < bits) {
      var r = 0
      while (r < d) {
        out |= ((ranks(r) >> b) & 1L) << (b * d + r)
        r += 1
      }
      b += 1
    }
    out
  }

  /** Morton (Z-order) interleave of two 16-bit values: bit i of `a` lands
    * at position 2i, bit i of `b` at 2i+1, so sorting by the result
    * clusters rows that are close in BOTH dimensions — the multi-column
    * layout that makes file-level min/max pruning effective on either
    * column (a single-column sort layout prunes only its own column).
    * Callers scale each dimension to a monotone 0..65535 rank first;
    * inputs are masked to 16 bits. */
  def zorder2(a: Long, b: Long): Long = {
    var x = a & 0xffffL
    var y = b & 0xffffL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    y = (y | (y << 8)) & 0x00FF00FFL
    y = (y | (y << 4)) & 0x0F0F0F0FL
    y = (y | (y << 2)) & 0x33333333L
    y = (y | (y << 1)) & 0x55555555L
    x | (y << 1)
  }

  /** Sequential left-fold dot product of two float vectors in double
    * precision — identical accumulation order to the
    * aggregate(zip_with(...)) composition and DuckDB's list_reduce, so
    * results stay bit-reproducible. */
  def dotD(a: ArrayData, b: ArrayData): Double = {
    val m = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < m) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Fused cosine similarity: dot product and BOTH squared norms in a
    * single pass over the pair (the composed form walks each array three
    * times per candidate — the dominant cost of similarity scoring).
    * Each accumulator follows the same sequential left-fold order as its
    * standalone kernel, so the result is bit-identical to
    * dot/(sqrt(nsqA)*sqrt(nsqB)) over separate dotD calls — and
    * therefore to the DuckDB oracle's list_reduce composition. */
  def cosineD(a: ArrayData, b: ArrayData): Double = {
    val m = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < m) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** [[cosineD]] for a FLOAT vector against a DOUBLE vector — the
    * centroid-assignment shape (float embeddings vs quantized-sum double
    * centroids), previously served by the interpreted aggregate/zip_with
    * fold whose per-row lambda cost dominates k-means assignment as the
    * centroid count grows. Same sequential left-fold accumulation per
    * index, so bit-identical to cosine(dotDComposed(a,b),
    * dotDComposed(a,a), dotDComposed(b,b)) and to the oracle's
    * list_reduce composition (KernelSpec proves the equivalence). */
  def cosineFD(a: ArrayData, b: ArrayData): Double = {
    val m = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < m) {
      val x = a.getFloat(i).toDouble
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Binary (1-bit/dim) sign fingerprint: word w's bit i is set iff
    * component w·32+i is non-null and > 0. One primitive pass — the
    * equivalent 64-CaseWhen column composition measured ~40 µs/row
    * (interpreted-scale), poisoning every stage it appeared in. Words
    * stay in [0, 2^32), matching Similarity.signWords' contract. */
  def signWords(emb: ArrayData, dim: Int): ArrayData = {
    val m = emb.numElements()
    val words = (dim + 31) / 32
    val out = new Array[Any](words)
    var w = 0
    while (w < words) {
      var word = 0L
      val lim = math.min(32, dim - w * 32)
      var i = 0
      while (i < lim) {
        val idx = w * 32 + i
        if (idx < m && !emb.isNullAt(idx) && emb.getFloat(idx) > 0f)
          word |= (1L << i)
        i += 1
      }
      out(w) = word
      w += 1
    }
    new GenericArrayData(out)
  }

  // -------------------------------------------------------------------
  // Fused whole-codebook kernels: the per-(vector, codeword[, subspace])
  // scoring that the crossJoin+explode+bounded-heap plans materialized
  // as n·k(·m) ROWS runs here as one primitive loop per VECTOR against
  // a driver-collected codeword matrix — zero row expansion, zero
  // exchange (the consumer plans become narrow map-side projections).
  // Selection semantics replicate the heap aggregate (graft_topk /
  // TopKPairs) EXACTLY: scores compare by java.lang.Double.compare
  // (NaN greatest, -0.0 < 0.0), ties break to the SMALLEST label —
  // implemented by iterating labels in ascending order and replacing
  // only on strictly-greater score; a null score (null embedding, null
  // window, clamped-window mismatch) scores -Infinity, exactly the
  // coalesce(score, -Inf) of the composed selection. FusedAnnSpec pins the
  // selections against a scalar reference, edge cases included.
  // -------------------------------------------------------------------

  /** Score of `emb` (float, may be null) against full codeword `c`
    * (double components boxed-null-free by the caller's collect guard):
    * [[cosineFD]], with the null-emb → -Inf substitution inlined. */
  private def fullScore(emb: ArrayData, c: Array[Double]): Double =
    if (emb == null) Double.NegativeInfinity
    else {
      // same element reads as [[cosineFD]] (no per-element null checks —
      // the expression path was null-safe per ARRAY only), so results
      // are bit-identical to coalesce(cosineFD(emb, cvec), -Inf)
      val m = emb.numElements()
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < m) {
        val x = emb.getFloat(i).toDouble
        val y = c(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

  /** The `nprobe` nearest labels of `emb` among `cents` (rows aligned
    * with ascending `labels`), best-first by (cosineFD DESC, label ASC)
    * — the fused form of assignClusters' crossJoin + graft_topk. */
  def nearestKLabels(emb: ArrayData, cents: Array[Array[Double]],
                     labels: Array[Long], nprobe: Int): ArrayData = {
    val k = cents.length
    val keep = math.min(nprobe, k)
    // insertion into a tiny descending-sorted array: nprobe is 1-2 on
    // every call path; labels ascend, so equal scores keep earlier labels
    val bestS = new Array[Double](keep)
    val bestL = new Array[Long](keep)
    var size = 0
    var j = 0
    while (j < k) {
      val s = fullScore(emb, cents(j))
      // find insert position: strictly greater than entries above it
      if (size < keep || java.lang.Double.compare(s, bestS(size - 1)) > 0) {
        var pos = if (size < keep) size else size - 1
        while (pos > 0 && java.lang.Double.compare(s, bestS(pos - 1)) > 0) {
          bestS(pos) = bestS(pos - 1); bestL(pos) = bestL(pos - 1); pos -= 1
        }
        bestS(pos) = s; bestL(pos) = labels(j)
        if (size < keep) size += 1
      }
      j += 1
    }
    val out = new Array[Any](size)
    var i = 0
    while (i < size) { out(i) = bestL(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Subspace cosine for PQ encoding: [[cosineFD]] over the window
    * [sub·dsub, sub·dsub+dsub) of a FLOAT vector `emb` against the same
    * window of codeword `c` (caller guarantees c has no null elements),
    * with the semantics of the slice + zip_with + aggregate composition
    * (KernelSpec pins the encode against it, edge cases included):
    *   - window lengths are clamped to each array's end, like slice();
    *     unequal clamped lengths score -Inf (zip_with pads the shorter
    *     side with null, nulling the fold), equal-but-short windows fold
    *     over the truncated window;
    *   - a null embedding or a null element inside the window → -Inf
    *     (the null fold, coalesced);
    *   - both windows empty → 0/(0·0) = NaN, what the composed Divide
    *     produces. */
  private def subScore(emb: ArrayData, c: Array[Double],
                       sub: Int, dsub: Int): Double = {
    if (emb == null) return Double.NegativeInfinity
    val off = sub * dsub
    val la = math.max(0, math.min(dsub, emb.numElements() - off))
    val lb = math.max(0, math.min(dsub, c.length - off))
    if (la != lb) return Double.NegativeInfinity
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < la) {
      if (emb.isNullAt(off + i)) return Double.NegativeInfinity
      val x = emb.getFloat(off + i).toDouble
      val y = c(off + i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The m PQ codes of `emb` under the codebook (rows aligned with
    * ascending `labels`): argmax subspace cosine per sub, ties to the
    * smallest label (the composed crossJoin + explode + graft_topk(1)
    * selection, one call per vector). Returns array[m] of labels. */
  def pqCodesAll(emb: ArrayData, books: Array[Array[Double]],
                 labels: Array[Long], m: Int, dsub: Int): ArrayData = {
    val k = books.length
    val out = new Array[Any](m)
    var sub = 0
    while (sub < m) {
      var bestS = Double.NegativeInfinity
      var bestL = 0L
      var first = true
      var j = 0
      while (j < k) {
        val s = subScore(emb, books(j), sub, dsub)
        if (first || java.lang.Double.compare(s, bestS) > 0) {
          bestS = s; bestL = labels(j); first = false
        }
        j += 1
      }
      out(sub) = bestL
      sub += 1
    }
    new GenericArrayData(out)
  }

  /** Quantized reconstruction cosine of `emb` under the codebook: encode
    * ([[pqCodesAll]] selection), assemble xhat from the chosen codeword
    * windows, then floor(cosineFD(emb, xhat) · 2^20) with Spark's
    * floor-to-long semantics — encode, [[pqReconstructK]]'s assembly,
    * cosineFD and floor in one pass. Null embedding → null. `books`
    * rows align with `labels`' ascending order. */
  def pqReconCosQ(emb: ArrayData, books: Array[Array[Double]],
                  labels: Array[Long], m: Int, dsub: Int): java.lang.Long = {
    if (emb == null) return null
    val k = books.length
    val d = m * dsub
    val xhat = new Array[Double](d)
    var sub = 0
    while (sub < m) {
      var bestS = Double.NegativeInfinity
      var bestIdx = 0
      var first = true
      var j = 0
      while (j < k) {
        val s = subScore(emb, books(j), sub, dsub)
        if (first || java.lang.Double.compare(s, bestS) > 0) {
          bestS = s; bestIdx = j; first = false
        }
        j += 1
      }
      val cw = books(bestIdx)
      var t = 0
      while (t < dsub) {
        val idx = sub * dsub + t
        xhat(idx) = if (idx < cw.length) cw(idx) else 0.0
        t += 1
      }
      sub += 1
    }
    // cosineFD(emb, xhat): same sequential fold, over emb's length —
    // null elements null the fold exactly as the expression's null-safe
    // element access did (CosineFDExpr is null-safe per ARRAY, and the
    // kernel reads raw floats; a null ELEMENT reads as 0f there — keep
    // identical by reading through the same accessor)
    val n = emb.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = emb.getFloat(i).toDouble
      val y = if (i < d) xhat(i) else 0.0
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val cos = dot / (math.sqrt(na) * math.sqrt(nb))
    java.lang.Long.valueOf(math.floor(cos * 1048576d).toLong)
  }

  /** Reconstruction from a PACKED codes array (element i = subquantizer
    * i's code label): xhat is the concatenation, in sub order, of each
    * code's codeword window slice(cvec, sub·dsub+1, dsub) —
    *   - a null element or a label absent from the book contributes
    *     NOTHING;
    *   - a found codeword appends min(dsub, max(0, len−off)) components
    *     (Spark slice semantics on a short row);
    *   - null when NO element found a codeword, and for a null codes
    *     array.
    * `books` rows align with ascending, DISTINCT `labels` (the
    * Similarity.pqKernelBook shape). */
  def pqReconstructK(codes: ArrayData, books: Array[Array[Double]],
                     labels: Array[Long], dsub: Int): ArrayData = {
    if (codes == null) return null
    val m = codes.numElements()
    val out = new Array[Double](m * dsub)
    var n = 0
    var found = false
    var sub = 0
    while (sub < m) {
      if (!codes.isNullAt(sub)) {
        val idx = java.util.Arrays.binarySearch(labels, codes.getLong(sub))
        if (idx >= 0) {
          found = true
          val cw = books(idx)
          val off = sub * dsub
          var lim = cw.length - off
          if (lim > dsub) lim = dsub
          var t = 0
          while (t < lim) { out(n) = cw(off + t); n += 1; t += 1 }
        }
      }
      sub += 1
    }
    if (!found) return null
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) { vals(i) = out(i); i += 1 }
    new GenericArrayData(vals)
  }

  /** Hamming distance between two [[signWords]] fingerprints. STRICT on
    * word count: comparing fingerprints of different widths (an index
    * built at one dim probed with queries fingerprinted at another)
    * would silently ignore the extra words and return a plausible but
    * wrong shortlist — refuse instead. */
  def wordHamming(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"wordHamming: fingerprint word counts differ ($n vs " +
          s"${b.numElements()}) — the two sides were built at different dims")
    var s = 0L
    var w = 0
    while (w < n) {
      s += java.lang.Long.bitCount(a.getLong(w) ^ b.getLong(w))
      w += 1
    }
    s
  }
}

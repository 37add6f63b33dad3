package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** A scalar reference for the IVF-PQ steps the fused kernels implement,
  * written from their definitions over plain Scala collections:
  *   - subspace score: cosine over the window [sub·dsub, sub·dsub+dsub),
  *     each side's window clamped to its vector's end, as sequential
  *     left folds in double; unequal clamped lengths, a null embedding
  *     or a null element score −Inf;
  *   - encode: per subspace the argmax score under Double.compare (NaN
  *     greatest), ties to the smallest label;
  *   - reconstruct: each code's codeword window in subspace order; a
  *     null or unknown code contributes no piece, and a vector with no
  *     piece has no reconstruction;
  *   - refine: per (code, position) the quantized sum floor(v·2^20) of
  *     the non-null subvector elements over the count of rows reaching
  *     the position; an unreached or all-null position keeps the old
  *     component;
  *   - reconstruction cosine: floor(cosine(embedding, xhat)·2^20), xhat
  *     read as 0 past its end; null for a null embedding. */
object PqReference {

  /** Codebook rows in ascending label order. */
  type Book = Seq[(Long, Array[Double])]

  /** An embedding: null, or boxed elements (each possibly null). */
  type Emb = IndexedSeq[java.lang.Float]

  def book(df: DataFrame): Book =
    df.select(col("rlabel").cast("long"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toSeq

  def emb(r: Row, i: Int): Emb =
    if (r.isNullAt(i)) null
    else r.getSeq[Any](i).map(_.asInstanceOf[java.lang.Float]).toIndexedSeq

  def subScore(e: Emb, c: Array[Double], sub: Int, dsub: Int): Double = {
    if (e == null) return Double.NegativeInfinity
    val off = sub * dsub
    val la = (e.length - off).max(0).min(dsub)
    if (la != (c.length - off).max(0).min(dsub)) return Double.NegativeInfinity
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- off until off + la) {
      if (e(i) == null) return Double.NegativeInfinity
      val x = e(i).toDouble; val y = c(i)
      dot += x * y; na += x * x; nb += y * y
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def codes(e: Emb, b: Book, m: Int, dsub: Int): Seq[Long] =
    (0 until m).map { sub =>
      b.map { case (l, c) => (subScore(e, c, sub, dsub), l) }
        .reduceLeft((best, x) => if (java.lang.Double.compare(x._1, best._1) > 0) x else best)._2
    }

  def reconstruct(cs: Seq[java.lang.Long], b: Book, dsub: Int): Option[Seq[Double]] = {
    val byLabel = b.toMap
    val pieces = cs.zipWithIndex.flatMap { case (c, sub) =>
      Option(c).flatMap(l => byLabel.get(l)).map(_.slice(sub * dsub, sub * dsub + dsub).toSeq)
    }
    if (pieces.isEmpty) None else Some(pieces.flatten)
  }

  /** A packed codes cell (labels of any integral type) as boxed longs. */
  def codesOf(r: Row, i: Int): Seq[java.lang.Long] =
    r.getSeq[Any](i).map {
      case null => null
      case n: Number => java.lang.Long.valueOf(n.longValue)
    }

  /** Cosine of a query against a reconstruction, folded over the
    * query's positions; the reconstruction reads as 0 past its end. */
  def cosine(e: Emb, x: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- e.indices) {
      val a = e(i).toDouble; val y = if (i < x.length) x(i) else 0.0
      dot += a * y; na += a * a; nb += y * y
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def reconCosQ(e: Emb, b: Book, m: Int, dsub: Int): Option[Long] =
    Option(e).map { _ =>
      val xhat = reconstruct(codes(e, b, m, dsub).map(Long.box), b, dsub).get
      math.floor(cosine(e, xhat) * 1048576d).toLong
    }

  def refine(embs: Seq[Emb], b: Book, m: Int, dsub: Int): Seq[(Long, Seq[Any])] = {
    val sums = scala.collection.mutable.Map.empty[(Long, Int), Long]
    val counts = scala.collection.mutable.Map.empty[(Long, Int), Long].withDefaultValue(0L)
    embs.filter(_ != null).foreach { e =>
      codes(e, b, m, dsub).zipWithIndex.foreach { case (code, sub) =>
        for (i <- sub * dsub until math.min(sub * dsub + dsub, e.length)) {
          counts((code, i)) += 1
          if (e(i) != null)
            sums((code, i)) = sums.getOrElse((code, i), 0L) +
              math.floor(e(i).toDouble * 1048576d).toLong
        }
      }
    }
    b.map { case (l, old) =>
      l -> (0 until m * dsub).map { i =>
        sums.get((l, i)) match {
          case Some(s) => s.toDouble / counts((l, i))
          case None => if (i < old.length) old(i) else null
        }
      }
    }
  }

  /** The value at ascending position ceil(p·n/100) of the non-null values. */
  def positionQuantiles(qcos: Seq[Long], pcts: Seq[Int]): Map[Int, Long] = {
    val s = qcos.sorted
    pcts.map(p => p -> s(((p.toLong * s.length + 99) / 100).toInt - 1)).toMap
  }
}

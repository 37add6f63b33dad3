package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx.{Bridge, GraftExpectsInputTypes}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the dedup/similarity hot path
  * (SURVEY.md §7.4's "optional codegen Expression" case, promoted to
  * required once BENCH showed the interpreted higher-order-function trees
  * dominating: self-joins evaluate the join-key expression on every
  * branch, so minhash/simhash cost 20x more than the same arithmetic in
  * a generated tight loop).
  *
  * Each expression delegates to a [[Kernels]] method from both the
  * interpreted path (nullSafeEval) and generated code (doGenCode), so
  * whole-stage codegen spans stay unbroken and both paths are literally
  * the same kernel. Semantics are bit-identical to the HOF compositions
  * (KernelSpec asserts it) and therefore to the DuckDB oracles.
  */
object GraftExpressions {

  case class Md5Prefix32(child: Expression) extends UnaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any =
      Kernels.md5Prefix32(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.md5Prefix32($c)")
    override protected def withNewChildInternal(newChild: Expression): Md5Prefix32 =
      copy(child = newChild)
  }

  case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      Kernels.shingles(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shingles($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
      copy(child = newChild)
  }

  case class ShingleHashesExpr(child: Expression, n: Int) extends UnaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      Kernels.shingleHashes(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shingleHashes($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
      copy(child = newChild)
  }

  case class MinhashSigExpr(child: Expression, k: Int) extends UnaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = true)
    override protected def nullSafeEval(input: Any): Any =
      Kernels.minhashSig(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.minhashSig($c, $k)")
    override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
      copy(child = newChild)
  }

  case class Simhash32Expr(child: Expression) extends UnaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any =
      Kernels.simhash32(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash32($c)")
    override protected def withNewChildInternal(newChild: Expression): Simhash32Expr =
      copy(child = newChild)
  }

  case class DotDExpr(left: Expression, right: Expression) extends BinaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Kernels.dotD(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.dotD($a, $b)")
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotDExpr =
      copy(left = newLeft, right = newRight)
  }

  case class CosineExpr(left: Expression, right: Expression) extends BinaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Kernels.cosineD(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.cosineD($a, $b)")
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineExpr =
      copy(left = newLeft, right = newRight)
  }

  case class CosineFDExpr(left: Expression, right: Expression) extends BinaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Kernels.cosineFD(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.cosineFD($a, $b)")
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineFDExpr =
      copy(left = newLeft, right = newRight)
  }

  // Fused whole-codebook ANN kernels (see Kernels scaladoc): the
  // codeword matrix rides as a driver-collected reference object
  // (ascending-label order — the tie-break contract), not as child
  // expressions, so codegen passes one array pointer per row instead of
  // materializing n·k(·m) crossJoin rows. eval() is deliberately NOT
  // null-safe on the embedding: a null embedding must still assign /
  // encode (all scores -Inf → smallest labels), exactly like the
  // coalesce(score, -Inf) heap selection.

  /** CONTENT-stable identity for the whole-codebook expressions, which
    * embed driver-collected Java arrays: arrays compare and print by
    * REFERENCE, so two plans over equal codebooks would canonicalize
    * differently — defeating the prepared handle's plan-stability
    * contract (codegen cache keyed on plan structure) and sorting
    * commutative predicate operands nondeterministically. equals /
    * hashCode / the printed args all derive from the array CONTENTS. */
  sealed trait CodebookArgs { self: Expression =>
    protected def cbMatrix: Array[Array[Double]]
    protected def cbLabels: Array[Long]
    protected lazy val cbHash: Int = {
      var h = java.util.Arrays.hashCode(cbLabels)
      cbMatrix.foreach(b => h = h * 31 + java.util.Arrays.hashCode(b))
      h
    }
    protected def cbEquals(m: Array[Array[Double]], l: Array[Long]): Boolean =
      java.util.Arrays.equals(cbLabels, l) &&
        cbMatrix.length == m.length &&
        cbMatrix.indices.forall(i => java.util.Arrays.equals(cbMatrix(i), m(i)))
    protected def cbTag: String =
      s"book#${java.lang.Integer.toHexString(cbHash)}"
  }

  case class NearestKLabelsExpr(child: Expression, cents: Array[Array[Double]],
                                labels: Array[Long], nprobe: Int)
      extends UnaryExpression with GraftExpectsInputTypes with CodebookArgs {
    override protected def cbMatrix: Array[Array[Double]] = cents
    override protected def cbLabels: Array[Long] = labels
    override def stringArgs: Iterator[Any] = Iterator(child, cbTag, nprobe)
    override def equals(o: Any): Boolean = o match {
      case e: NearestKLabelsExpr =>
        child == e.child && nprobe == e.nprobe && cbEquals(e.cents, e.labels)
      case _ => false
    }
    override def hashCode(): Int =
      java.util.Objects.hash(getClass, child, Int.box(nprobe), Int.box(cbHash))
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      Kernels.nearestKLabels(
        child.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        cents, labels, nprobe)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val centsRef = ctx.addReferenceObj("graftCents", cents, "double[][]")
      val labelsRef = ctx.addReferenceObj("graftLabels", labels, "long[]")
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        boolean ${ev.isNull} = false;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.Kernels.nearestKLabels(
            ${c.isNull} ? null : ${c.value}, $centsRef, $labelsRef, $nprobe);""")
    }
    override protected def withNewChildInternal(newChild: Expression): NearestKLabelsExpr =
      copy(child = newChild)
  }

  case class PqCodesAllExpr(child: Expression, books: Array[Array[Double]],
                            labels: Array[Long], m: Int, dsub: Int)
      extends UnaryExpression with GraftExpectsInputTypes with CodebookArgs {
    override protected def cbMatrix: Array[Array[Double]] = books
    override protected def cbLabels: Array[Long] = labels
    override def stringArgs: Iterator[Any] = Iterator(child, cbTag, m, dsub)
    override def equals(o: Any): Boolean = o match {
      case e: PqCodesAllExpr =>
        child == e.child && m == e.m && dsub == e.dsub &&
          cbEquals(e.books, e.labels)
      case _ => false
    }
    override def hashCode(): Int = java.util.Objects.hash(getClass, child,
      Int.box(m), Int.box(dsub), Int.box(cbHash))
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      Kernels.pqCodesAll(
        child.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        books, labels, m, dsub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val booksRef = ctx.addReferenceObj("graftBooks", books, "double[][]")
      val labelsRef = ctx.addReferenceObj("graftLabels", labels, "long[]")
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        boolean ${ev.isNull} = false;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.Kernels.pqCodesAll(
            ${c.isNull} ? null : ${c.value}, $booksRef, $labelsRef, $m, $dsub);""")
    }
    override protected def withNewChildInternal(newChild: Expression): PqCodesAllExpr =
      copy(child = newChild)
  }

  case class PqReconCosQExpr(child: Expression, books: Array[Array[Double]],
                             labels: Array[Long], m: Int, dsub: Int)
      extends UnaryExpression with GraftExpectsInputTypes with CodebookArgs {
    override protected def cbMatrix: Array[Array[Double]] = books
    override protected def cbLabels: Array[Long] = labels
    override def stringArgs: Iterator[Any] = Iterator(child, cbTag, m, dsub)
    override def equals(o: Any): Boolean = o match {
      case e: PqReconCosQExpr =>
        child == e.child && m == e.m && dsub == e.dsub &&
          cbEquals(e.books, e.labels)
      case _ => false
    }
    override def hashCode(): Int = java.util.Objects.hash(getClass, child,
      Int.box(m), Int.box(dsub), Int.box(cbHash))
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val r = Kernels.pqReconCosQ(
        child.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        books, labels, m, dsub)
      if (r == null) null else r.longValue()
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val booksRef = ctx.addReferenceObj("graftBooks", books, "double[][]")
      val labelsRef = ctx.addReferenceObj("graftLabels", labels, "long[]")
      val c = child.genCode(ctx)
      val tmp = ctx.freshName("graftReconQ")
      ev.copy(code = code"""
        ${c.code}
        java.lang.Long $tmp = graft.functions.Kernels.pqReconCosQ(
          ${c.isNull} ? null : ${c.value}, $booksRef, $labelsRef, $m, $dsub);
        boolean ${ev.isNull} = ($tmp == null);
        long ${ev.value} = ${ev.isNull} ? 0L : $tmp.longValue();""")
    }
    override protected def withNewChildInternal(newChild: Expression): PqReconCosQExpr =
      copy(child = newChild)
  }

  /** [[Kernels.pqReconstructK]] over a packed codes array — the map-side
    * reconstruction of the packed-codes search path. Null in → null
    * out; null also when no element found a codeword (callers drop
    * those rows). */
  case class PqReconstructKExpr(child: Expression, books: Array[Array[Double]],
                                labels: Array[Long], dsub: Int)
      extends UnaryExpression with GraftExpectsInputTypes with CodebookArgs {
    override protected def cbMatrix: Array[Array[Double]] = books
    override protected def cbLabels: Array[Long] = labels
    override def stringArgs: Iterator[Any] = Iterator(child, cbTag, dsub)
    override def equals(o: Any): Boolean = o match {
      case e: PqReconstructKExpr =>
        child == e.child && dsub == e.dsub && cbEquals(e.books, e.labels)
      case _ => false
    }
    override def hashCode(): Int = java.util.Objects.hash(getClass, child,
      Int.box(dsub), Int.box(cbHash))
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      Kernels.pqReconstructK(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        books, labels, dsub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val booksRef = ctx.addReferenceObj("graftBooks", books, "double[][]")
      val labelsRef = ctx.addReferenceObj("graftLabels", labels, "long[]")
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.Kernels.pqReconstructK(
            ${c.isNull} ? null : ${c.value}, $booksRef, $labelsRef, $dsub);
        boolean ${ev.isNull} = (${ev.value} == null);""")
    }
    override protected def withNewChildInternal(newChild: Expression): PqReconstructKExpr =
      copy(child = newChild)
  }

  case class ZOrder2Expr(left: Expression, right: Expression) extends BinaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(LongType, LongType)
    override def dataType: DataType = LongType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Kernels.zorder2(a.asInstanceOf[Long], b.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.zorder2($a, $b)")
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ZOrder2Expr =
      copy(left = newLeft, right = newRight)
  }

  /** N-ary Morton interleave: d rank columns (long, pre-scaled to
    * 0..2^bits − 1 by the caller) -> one curve value, bit i of rank r at
    * position i·d + r. `bitsFor(d)` = min(16, 63 / d) keeps the curve in
    * 63 bits (sign clear) at any arity; d = 2 reproduces [[ZOrder2Expr]]
    * exactly. Codegen evaluates the children into a REUSED per-operator
    * buffer (mutable state — no per-row allocation on the layout-write
    * hot path) and calls the same [[Kernels.zorderN]] the interpreted
    * path uses; the interpreted path allocates per call, which is fine
    * for the cold non-codegen fallback. */
  case class ZOrderNExpr(children: Seq[Expression]) extends Expression
      with GraftExpectsInputTypes {
    require(children.size >= 2 && children.size <= 8,
      s"zorderN takes 2..8 dimensions, got ${children.size}")
    private val bits = ZOrderNExpr.bitsFor(children.size)
    override def graftInputTypes: Seq[DataType] = Seq.fill(children.size)(LongType)
    override def dataType: DataType = LongType
    override def nullable: Boolean = children.exists(_.nullable)
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val ranks = new Array[Long](children.size)
      var i = 0
      while (i < children.size) {
        val v = children(i).eval(input)
        if (v == null) return null
        ranks(i) = v.asInstanceOf[Long]
        i += 1
      }
      Kernels.zorderN(ranks, bits)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val gens = children.map(_.genCode(ctx))
      val arr = ctx.addMutableState("long[]", "zorderRanks",
        v => s"$v = new long[${children.size}];")
      val anyNull = gens.map(g => s"${g.isNull}").mkString(" || ")
      val fills = gens.zipWithIndex
        .map { case (g, i) => s"$arr[$i] = ${g.value};" }.mkString("\n")
      val childCode = gens.map(_.code.toString).mkString("\n")
      ev.copy(code = code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        long ${ev.value} = 0L;
        if (!${ev.isNull}) {
          $fills
          ${ev.value} = graft.functions.Kernels.zorderN($arr, $bits);
        }""")
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): ZOrderNExpr = copy(children = newChildren)
  }

  object ZOrderNExpr {
    /** Bits per dimension keeping d·bits ≤ 63 (capped at the 16-bit rank
      * scale the 2-D layout established). */
    def bitsFor(d: Int): Int = math.min(16, 63 / d)
  }

  // Column-level wrappers -----------------------------------------------

  private def expr(c: Column): Expression = Bridge.expression(c)

  case class SignWordsExpr(child: Expression, dim: Int) extends UnaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      Kernels.signWords(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], dim)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.signWords($c, $dim)")
    override protected def withNewChildInternal(newChild: Expression): SignWordsExpr =
      copy(child = newChild)
  }

  case class WordHammingExpr(left: Expression, right: Expression) extends BinaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = LongType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      Kernels.wordHamming(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.wordHamming($a, $b)")
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): WordHammingExpr =
      copy(left = newLeft, right = newRight)
  }

  def md5Prefix32(c: Column): Column = Bridge.column(Md5Prefix32(expr(c)))
  def signWordsK(emb: Column, dim: Int): Column = Bridge.column(SignWordsExpr(expr(emb), dim))
  def wordHammingK(a: Column, b: Column): Column = Bridge.column(WordHammingExpr(expr(a), expr(b)))
  def shingles(tokens: Column, n: Int): Column = Bridge.column(ShinglesExpr(expr(tokens), n))
  def shingleHashes(tokens: Column, n: Int): Column = Bridge.column(ShingleHashesExpr(expr(tokens), n))
  def minhashSig(hashes: Column, k: Int): Column = Bridge.column(MinhashSigExpr(expr(hashes), k))
  def simhash32(hashes: Column): Column = Bridge.column(Simhash32Expr(expr(hashes)))
  def dotD(a: Column, b: Column): Column = Bridge.column(DotDExpr(expr(a), expr(b)))
  def zorder2(a: Column, b: Column): Column = Bridge.column(ZOrder2Expr(expr(a), expr(b)))
  def zorderN(dims: Seq[Column]): Column = Bridge.column(ZOrderNExpr(dims.map(expr)))
  def cosineD(a: Column, b: Column): Column = Bridge.column(CosineExpr(expr(a), expr(b)))
  def cosineFD(a: Column, b: Column): Column = Bridge.column(CosineFDExpr(expr(a), expr(b)))

  def nearestKLabels(emb: Column, cents: Array[Array[Double]],
                     labels: Array[Long], nprobe: Int): Column =
    Bridge.column(NearestKLabelsExpr(expr(emb), cents, labels, nprobe))
  def pqCodesAll(emb: Column, books: Array[Array[Double]],
                 labels: Array[Long], m: Int, dsub: Int): Column =
    Bridge.column(PqCodesAllExpr(expr(emb), books, labels, m, dsub))
  def pqReconCosQ(emb: Column, books: Array[Array[Double]],
                  labels: Array[Long], m: Int, dsub: Int): Column =
    Bridge.column(PqReconCosQExpr(expr(emb), books, labels, m, dsub))
  def pqReconstructK(codes: Column, books: Array[Array[Double]],
                     labels: Array[Long], dsub: Int): Column =
    Bridge.column(PqReconstructKExpr(expr(codes), books, labels, dsub))
  def kminLongs(c: Column, k: Int): Column =
    Bridge.column(KMinLongs(expr(c), k).toAggregateExpression())
  def quantVecSum(c: Column): Column =
    Bridge.column(QuantVecSum(expr(c)).toAggregateExpression())
  def quantVecSumCnt(c: Column): Column =
    Bridge.column(QuantVecSumCnt(expr(c)).toAggregateExpression())
  def topKBy(score: Column, id: Column, k: Int): Column =
    Bridge.column(TopKPairs(expr(score), expr(id), k).toAggregateExpression())
  def argMaxRow(ord: Column, payload: Column): Column =
    Bridge.column(ArgMaxRow(expr(ord), expr(payload), reverse = false).toAggregateExpression())
  /** Mixed-direction bounded-heap top-k: keep, best-first, the k
    * `payload` rows ranked first by `ORDER BY ordStruct.f1 [dir1], …`
    * (ascending(i) per field, window-default null placement). */
  def topKRowsSorted(ord: Column, payload: Column, k: Int,
                     ascending: Seq[Boolean]): Column =
    Bridge.column(TopKRowsSorted(expr(ord), expr(payload), k, ascending)
      .toAggregateExpression())
  def argMinRow(ord: Column, payload: Column): Column =
    Bridge.column(ArgMaxRow(expr(ord), expr(payload), reverse = true).toAggregateExpression())
}

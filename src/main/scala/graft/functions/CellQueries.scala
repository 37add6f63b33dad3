package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** The queries that probe a candidate's cell, from a query batch held on
  * the driver: the array of (qid, qvec) structs assigned to the cell in
  * `child`, or null when no query probes it (or the cell is null — a
  * null cell never matches, as in the equi join this replaces).
  * `inline` over it emits one row per (candidate, probing query): the
  * rows an equi join of the candidates against the assigned query side
  * on `cluster` produces, in a narrow map-side step instead of a
  * broadcast of a local relation.
  *
  * The batch travels by reference, as [[graft.io.KeyIn]]'s keys do:
  * (cell, struct) UnsafeRows packed into one byte array, unpacked once
  * per task. It prints and hashes without the batch, so plans over
  * different batches read the same (canonical plans order commutative
  * operands by hash) and generated code (which reaches the batch
  * through a reference object) compiles once; two batches still never
  * compare equal (the array compares by reference). Cells compare by
  * value, which is join equality for the types
  * [[graft.io.KeyIn.supports]] admits; callers pass only those. */
case class CellQueries(child: Expression, packed: Array[Byte], queryType: StructType)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(queryType, containsNull = false)
  override def nullable: Boolean = true
  override def stringArgs: Iterator[Any] = Iterator(child)
  override def hashCode(): Int = java.util.Objects.hash(getClass, child, queryType)

  @transient private lazy val byCell: java.util.HashMap[Any, ArrayData] = {
    val lists = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    graft.io.KeyIn.unpackRows(packed, 2).foreach { r =>
      lists.computeIfAbsent(r.get(0, child.dataType), _ => new java.util.ArrayList[Any]())
        .add(r.getStruct(1, queryType.length))
    }
    val m = new java.util.HashMap[Any, ArrayData]()
    lists.forEach((cell, qs) => m.put(cell, new GenericArrayData(qs.toArray)))
    m
  }

  def of(cell: Any): ArrayData = if (cell == null) null else byCell.get(cell)

  override def eval(input: InternalRow): Any = of(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cellQueries", this, classOf[CellQueries].getName)
    val c = child.genCode(ctx)
    val boxed =
      if (CodeGenerator.isPrimitiveType(child.dataType))
        s"${CodeGenerator.boxedType(child.dataType)}.valueOf(${c.value})"
      else c.value.toString
    ev.copy(code = code"""
      |${c.code}
      |${classOf[ArrayData].getName} ${ev.value} = ${c.isNull} ? null : $self.of($boxed);
      |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CellQueries =
    copy(child = newChild)
}

object CellQueries {
  /** [[CellQueries]] over `cell` for the held query rows `rows`, whose
    * cell, qid and qvec values sit at ordinals
    * `cellAt`, `qidAt` and `qvecAt` of `types`. Rows with a null cell
    * are left out. */
  def column(cell: Column, rows: Seq[InternalRow], types: Seq[DataType],
             cellAt: Int, qidAt: Int, qvecAt: Int): Column = {
    val queryType = StructType(Seq(
      StructField("qid", types(qidAt)), StructField("qvec", types(qvecAt))))
    val project = UnsafeProjection.create(
      StructType(Seq(StructField("cell", types(cellAt)), StructField("q", queryType))))
    val packed = rows.iterator.filter(!_.isNullAt(cellAt)).map { r =>
      project(new GenericInternalRow(Array[Any](r.get(cellAt, types(cellAt)),
        new GenericInternalRow(Array[Any](r.get(qidAt, types(qidAt)),
          r.get(qvecAt, types(qvecAt))))))).copy()
    }.toSeq
    Bridge.column(CellQueries(Bridge.expression(cell), graft.io.KeyIn.pack(packed), queryType))
  }
}

package graft.io

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx.{Bridge, GraftExpectsInputTypes}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deletion vectors applied as a row filter inside the scan: TRUE iff the
  * row at (`file`, `ordinal`) is live. `file` is a data file's path or its
  * last two segments ("b3/part-….parquet", the key [[Versioned]] records
  * vectors under); `ordinal` is `_metadata.row_index`, the ordinal the
  * vectors record. `vectors` maps each vectored file's suffix to its
  * sorted dead ordinals, decoded once on the driver and shipped as one
  * broadcast variable — unlike a broadcast anti-join, no build-side job
  * runs and the filter sits in the scan's own stage.
  *
  * Rows arrive grouped by file, so the vector of the last file seen is
  * cached per instance (Spark deserializes one expression tree per task;
  * the same per-instance state the regex expressions keep): a row costs
  * one path compare plus a binary search when its file has a vector. */
case class DvLive(file: Expression, ordinal: Expression,
                  vectors: Broadcast[Map[String, Array[Long]]])
  extends BinaryExpression with GraftExpectsInputTypes {

  override def left: Expression = file
  override def right: Expression = ordinal
  override def graftInputTypes: Seq[DataType] = Seq(StringType, LongType)
  override def dataType: DataType = BooleanType

  @transient private var lastFile: UTF8String = _
  @transient private var lastDead: Array[Long] = _

  def live(f: UTF8String, ord: Long): Boolean = {
    if (lastFile == null || !lastFile.equals(f)) {
      val s = f.toString
      val cut = s.lastIndexOf('/', s.lastIndexOf('/') - 1)
      lastDead = vectors.value.getOrElse(s.substring(cut + 1), DvLive.NoneDead)
      lastFile = f.clone()
    }
    lastDead.length == 0 || java.util.Arrays.binarySearch(lastDead, ord) < 0
  }

  override protected def nullSafeEval(f: Any, ord: Any): Any =
    live(f.asInstanceOf[UTF8String], ord.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dvLive", this, classOf[DvLive].getName)
    defineCodeGen(ctx, ev, (f, o) => s"$self.live($f, $o)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DvLive =
    copy(file = newLeft, ordinal = newRight)
}

object DvLive {
  private val NoneDead = Array.emptyLongArray

  def column(file: Column, ordinal: Column,
             vectors: Broadcast[Map[String, Array[Long]]]): Column =
    Bridge.column(DvLive(Bridge.expression(file), Bridge.expression(ordinal), vectors))
}

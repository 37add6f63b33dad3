package graft.io

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType}

/** MERGE key membership as a row filter: TRUE iff every key column is
  * non-null and the key tuple is one of the source's — the rows a
  * left-semi join against the source key set keeps (NOT of it: the rows
  * a left-anti join keeps, null-keyed rows included). The key set is
  * collected on the driver and shipped as ONE broadcast variable, so the
  * probe needs no build-side job and stays in the scan's own stage — the
  * [[DvLive]] pattern for keys. Keys travel as the key columns'
  * UnsafeRows packed into one byte array ([[KeyIn.column]]), so a
  * 10k-key source serializes one array, not an object graph per key, and
  * compare by their bytes: exact value equality for the key types
  * [[KeyIn.supports]] admits, which is where it coincides with join
  * equality (float/double keys, where joins normalize -0.0 and NaN, are
  * not admitted). */
case class KeyIn(children: Seq[Expression], keys: Broadcast[Array[Byte]])
  extends Expression {

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType

  @transient private lazy val keySet: java.util.HashSet[UnsafeRow] =
    KeyIn.unpack(keys.value, children.length)
  @transient private lazy val project: UnsafeProjection = UnsafeProjection.create(
    children.zipWithIndex.map { case (c, i) => BoundReference(i, c.dataType, nullable = true) })

  def member(key: Array[Any]): Boolean = keySet.contains(project(new GenericInternalRow(key)))

  override def eval(input: InternalRow): Any = {
    val key = new Array[Any](children.length)
    var i = 0
    while (i < key.length) {
      val v = children(i).eval(input)
      if (v == null) return false
      key(i) = v
      i += 1
    }
    member(key)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("keyIn", this, classOf[KeyIn].getName)
    val key = ctx.freshName("key")
    val anyNull = ctx.freshName("anyNull")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      val boxed =
        if (CodeGenerator.isPrimitiveType(c.dataType))
          s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${e.value})"
        else e.value.toString
      s"""${e.code}
         |if (${e.isNull}) { $anyNull = true; } else { $key[$i] = $boxed; }""".stripMargin
    }
    ev.copy(code = code"""
      |Object[] $key = new Object[${children.length}];
      |boolean $anyNull = false;
      |${fill.mkString("\n")}
      |boolean ${ev.value} = !$anyNull && $self.member($key);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KeyIn = copy(children = newChildren)
}

object KeyIn {
  /** Key types whose values compare exactly as join equality does, so
    * equal bytes in their UnsafeRow encoding mean equal keys. */
  def supports(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case s: StringType => s == StringType // binary collation only
      case _ => false
    }
  }

  /** The key tuples of `rows` (key columns at `ordinals`, of `types`) as
    * UnsafeRows, in row order. Rows with a null key component never match
    * (SQL join semantics) and are left out. */
  def keysOf(rows: Seq[InternalRow], ordinals: Seq[Int],
             types: Seq[DataType]): IndexedSeq[UnsafeRow] = {
    val project = UnsafeProjection.create(
      ordinals.zip(types).map { case (o, t) => BoundReference(o, t, nullable = true) })
    rows.iterator.filter(r => ordinals.forall(!r.isNullAt(_))).map(r => project(r).copy())
      .toIndexedSeq
  }

  /** The membership filter over `keyCols` for `keys` ([[keysOf]]), packed
    * and broadcast once. */
  def column(sc: SparkContext, keyCols: Seq[Column], keys: Seq[UnsafeRow]): Column =
    Bridge.column(KeyIn(keyCols.map(Bridge.expression), sc.broadcast(pack(keys))))

  private[graft] def pack(keys: Seq[UnsafeRow]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val data = new java.io.DataOutputStream(out)
    keys.foreach { k =>
      data.writeInt(k.getSizeInBytes)
      data.write(k.getBytes)
    }
    data.flush()
    out.toByteArray
  }

  private def unpack(packed: Array[Byte], numFields: Int): java.util.HashSet[UnsafeRow] = {
    val set = new java.util.HashSet[UnsafeRow]()
    unpackRows(packed, numFields).foreach(set.add)
    set
  }

  /** The rows [[pack]] packed, in order, each over its own bytes. */
  private[graft] def unpackRows(packed: Array[Byte], numFields: Int): Iterator[UnsafeRow] = {
    val in = java.nio.ByteBuffer.wrap(packed)
    Iterator.continually(in).takeWhile(_.hasRemaining).map { in =>
      val bytes = new Array[Byte](in.getInt)
      in.get(bytes)
      val row = new UnsafeRow(numFields)
      row.pointTo(bytes, bytes.length)
      row
    }
  }
}

package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** ExpectsInputTypes facade: `AbstractDataType` is private[sql], so
  * expressions outside the sql package tree declare their expected input
  * types as plain DataTypes through this trait and still get Spark's
  * standard DATATYPE_MISMATCH analysis errors. */
trait GraftExpectsInputTypes extends ExpectsInputTypes {
  def graftInputTypes: Seq[DataType]
  override def inputTypes: Seq[AbstractDataType] = graftInputTypes
}

/** Column <-> Expression bridge for registering custom Catalyst
  * expressions as Columns. ExpressionUtils is private[sql] in Spark 4.x,
  * so the accessor lives inside the sql package tree — the standard
  * pattern for Spark extension libraries that predate an official hook.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Minimal PUBLIC view of a predicate Column's tree, for static
    * analysis outside the sql package. Spark 4 Columns built by the
    * public DSL are ColumnNode trees (`$"c" <= v` is
    * UnresolvedFunction("<=", …), not a catalyst LessThanOrEqual), and
    * the node classes are private[sql] — this ADT re-exposes exactly the
    * shapes a conjunctive range predicate is made of; everything else
    * collapses to [[Pred.Opaque]] so analyzers stay conservative. */
  sealed trait Pred
  object Pred {
    /** functionName + converted args ("and", "<", "isNotNull", …). */
    final case class Fn(name: String, args: Seq[Pred]) extends Pred
    final case class Attr(name: String) extends Pred
    /** Literal value with its declared type when known. DSL literals are
      * EXTERNAL JVM values (Int, java.sql.Timestamp, …); literals from a
      * wrapped catalyst expression are INTERNAL (UTF8String, epoch-day
      * Int, micros Long) — consumers disambiguate via `dataType`. */
    final case class Lit(value: Any, dataType: Option[DataType]) extends Pred
    case object Opaque extends Pred
  }

  def predTree(c: Column): Pred = fromNode(c.node)

  private def fromNode(n: org.apache.spark.sql.internal.ColumnNode): Pred = n match {
    case f: org.apache.spark.sql.internal.UnresolvedFunction
        if !f.isDistinct && !f.isUserDefinedFunction =>
      Pred.Fn(f.functionName, f.arguments.map(fromNode))
    case a: org.apache.spark.sql.internal.UnresolvedAttribute =>
      Pred.Attr(a.nameParts.mkString("."))
    case l: org.apache.spark.sql.internal.Literal =>
      Pred.Lit(l.value, l.dataType)
    case e: org.apache.spark.sql.classic.ExpressionColumnNode =>
      fromExpr(e.expression)
    case _ => Pred.Opaque
  }

  /** Same view over a wrapped catalyst tree (expr("…") predicates). */
  private def fromExpr(e: Expression): Pred = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    e match {
      case ce.And(l, r) => Pred.Fn("and", Seq(fromExpr(l), fromExpr(r)))
      case ce.IsNotNull(c) => Pred.Fn("isnotnull", Seq(fromExpr(c)))
      case ce.LessThan(l, r) => Pred.Fn("<", Seq(fromExpr(l), fromExpr(r)))
      case ce.LessThanOrEqual(l, r) => Pred.Fn("<=", Seq(fromExpr(l), fromExpr(r)))
      case ce.GreaterThan(l, r) => Pred.Fn(">", Seq(fromExpr(l), fromExpr(r)))
      case ce.GreaterThanOrEqual(l, r) => Pred.Fn(">=", Seq(fromExpr(l), fromExpr(r)))
      case ce.EqualTo(l, r) => Pred.Fn("=", Seq(fromExpr(l), fromExpr(r)))
      case a: ce.Attribute => Pred.Attr(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Pred.Attr(u.name)
      case l: ce.Literal => Pred.Lit(l.value, Some(l.dataType))
      case _ => Pred.Opaque
    }
  }

  /** The session's stable UUID (private[sql] on the classic session) —
    * the session-scoped key for driver-held registries that must not
    * hold the session strongly through a map key. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Block until the async listener bus has delivered every queued
    * event (private[spark]) — the deterministic drain a bench needs
    * before reading listener-accumulated counters; a fixed sleep can
    * still undercount on a loaded driver. */
  def drainListeners(spark: org.apache.spark.sql.SparkSession,
                     timeoutMillis: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)

  /** DataFrame over an already-analyzed logical plan (classic
    * Dataset.ofRows is private[sql]) — used by the SQL row-level command
    * rewrites to execute a MERGE source plan captured at analysis. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`'s rows in Catalyst's internal encoding when their UnsafeRow
    * bytes total at most `limit`, else the measured total (Left) — what
    * a plan pinned on the driver needs to serve its rows again through
    * [[localFrame]] without a round trip through java.sql types, with
    * the driver never receiving more than `limit` bytes of them. One SQL
    * execution; its first job computes EVERY partition (a persisted plan
    * is thereby materialised, and the total is exact), and each of its n
    * tasks ships its rows only while they stay within limit / n bytes,
    * else only its byte count. When the total fits, a second job fetches
    * the partitions that were over their share — from the cache when the
    * plan is persisted, recomputed otherwise. Rows already on the driver
    * (a local table scan) are taken as they are, with no job. */
  def collectBounded(df: org.apache.spark.sql.DataFrame, limit: Long)
      : Either[Long, IndexedSeq[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val schema = df.schema
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan match {
        case local: org.apache.spark.sql.execution.LocalTableScanExec =>
          val rows = local.executeCollect().map(_.copy()).toIndexedSeq
          val bytes = rows.iterator.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
          if (bytes <= limit) Right(rows) else Left(bytes)
        case plan =>
          val rdd = plan.execute()
          val n = rdd.getNumPartitions
          // a partition's (UnsafeRow bytes, its rows or null past `max`)
          def ship(max: Long) = (_: org.apache.spark.TaskContext, it: Iterator[InternalRow]) => {
            lazy val toUnsafe = UnsafeProjection.create(schema)
            val rows = Array.newBuilder[UnsafeRow]
            var bytes = 0L
            it.foreach { r =>
              val u = r match { case u: UnsafeRow => u; case o => toUnsafe(o) }
              bytes += u.getSizeInBytes
              if (bytes <= max) rows += u.copy()
            }
            (bytes, if (bytes <= max) rows.result() else null)
          }
          val parts = new Array[Array[UnsafeRow]](n)
          var total = 0L
          rdd.sparkContext.runJob(rdd, ship(limit / math.max(n, 1)), 0 until n,
            (i: Int, res: (Long, Array[UnsafeRow])) => { total += res._1; parts(i) = res._2 })
          if (total > limit) Left(total)
          else {
            val over = (0 until n).filter(parts(_) == null)
            if (over.nonEmpty)
              rdd.sparkContext.runJob(rdd, ship(limit), over,
                (j: Int, res: (Long, Array[UnsafeRow])) => parts(over(j)) = res._2)
            Right(parts.toIndexedSeq.flatMap(_.toIndexedSeq))
          }
      }
    }
  }

  /** DataFrame over rows already on the driver (a LocalRelation). */
  def localFrame(spark: org.apache.spark.sql.SparkSession,
                 schema: org.apache.spark.sql.types.StructType,
                 rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Streaming-marked DataFrame over already-computed rows. The V1
    * streaming Source contract asserts getBatch's result carries
    * isStreaming=true (MicroBatchExecution grafts the plan under the
    * streaming query), and the blessed constructors (LogicalRDD,
    * Dataset.ofRows) are private[sql] — same escape hatch FileStreamSource
    * uses internally. */
  def streamingBatch(spark: org.apache.spark.sql.SparkSession,
                     schema: org.apache.spark.sql.types.StructType,
                     rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD(attrs, rows,
        isStreaming = true)(session))
  }

  /** Proper analysis-time error for a wrong argument count to a registered
    * SQL function (AnalysisException with Spark's standard error class,
    * not an IndexOutOfBoundsException from the builder). */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Nothing =
    wrongNumArgs(name, Seq(expected), actual)

  /** Variadic form for functions with several legal arities (the error
    * message then states the true contract, e.g. "2 or 3"). */
  def wrongNumArgs(name: String, expected: Seq[Int], actual: Int): Nothing =
    throw org.apache.spark.sql.errors.QueryCompilationErrors
      .wrongNumArgsError(name, expected, actual)

  /** Analysis-time error for a parameter whose literal VALUE is invalid
    * (empty key list, malformed csv) — Spark's standard
    * INVALID_PARAMETER_VALUE class, like the arity/foldability errors. */
  def invalidParamValue(name: String, param: String, why: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "INVALID_PARAMETER_VALUE.PATTERN",
      messageParameters = Map(
        "parameter" -> ("`" + param + "`"),
        "functionName" -> ("`" + name + "`"),
        "value" -> why))

  /** Analysis-time error for a parameter that must be a foldable int
    * literal (band counts, k, shingle width) but isn't. */
  def nonFoldableArg(name: String, param: String): Nothing =
    nonFoldableArg(name, param, "\"INT\"")

  def nonFoldableArg(name: String, param: String, paramType: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName" -> name, "paramName" -> param, "paramType" -> paramType))
}

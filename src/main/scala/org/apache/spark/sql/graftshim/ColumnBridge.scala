package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one Spark-internal bridge this library uses: Column <->
  * Expression conversion, which Spark 4 moved behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Needed to expose a
  * custom codegen'd Catalyst `Expression` through the public Column
  * API. Kept to exactly these two one-line delegations so the internal
  * surface area is minimal and auditable.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Session-level native-function registration (FunctionRegistry is
  * reachable only through the `private[sql]` sessionState) — lets
  * `Graft.ensure` expose graft's native expressions in SQL. */
object FunctionShim {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  def register(spark: SparkSession, name: String, info: ExpressionInfo,
               builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)

  /** A SQL function: its name, its description and its builder. */
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** A function of exactly `arity` arguments, failing a call with any
    * other count as Spark's own functions do. */
  def descriptor(name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), (args: Seq[Expression]) => {
      if (args.length != arity)
        throw org.apache.spark.sql.errors.QueryCompilationErrors
          .wrongNumArgsError(name, Seq(arity), args.length)
      build(args)
    })
}

/** Mixin giving an expression implicit casts of its inputs to
  * `castTargets`, one per child — the analyzer rule Spark applies to
  * its own built-ins (bigint -> string, decimal -> double, int ->
  * bigint). Lives here because `AbstractDataType` (the `inputTypes`
  * element type) is `private[sql]` in Spark 4. */
trait InputCasts
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: Expression =>
  protected def castTargets: Seq[org.apache.spark.sql.types.DataType]
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] = castTargets
}

/** The listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener,
    * so counters read afterwards include the last task of the last job. */
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

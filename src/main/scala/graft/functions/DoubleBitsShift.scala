package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Top bits of a double's IEEE-754 representation:
  * `doubleToLongBits(v) >>> shift`. With shift = 52 − m this keeps
  * sign + exponent + the top m mantissa bits — a RANGE-FREE histogram
  * key whose distinct values are DISJOINT value intervals of
  * ~2^−m relative width (the binning needs no prior min/max pass,
  * which is what lets [[graft.operators.Quantiles]]' cell selection
  * fuse its stats and histogram scans into one). `doubleToLongBits`
  * folds every NaN to one bit pattern, so NaN gets a cell of its own,
  * apart from +∞. Codegen'd so the keyed
  * aggregation stays inside whole-stage codegen; one intrinsic call
  * plus a shift per row.
  */
case class DoubleBitsShift(child: Expression, shift: Int) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"double_bits_shift needs a double argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    java.lang.Double.doubleToLongBits(input.asInstanceOf[Double]) >>> shift

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"(Double.doubleToLongBits($c) >>> $shift)")

  override protected def withNewChildInternal(c: Expression): DoubleBitsShift =
    copy(child = c)
}

object DoubleBitsShift {
  val name = "double_bits_shift"

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      exprs => {
        require(exprs.length == 2, s"$name expects exactly 2 arguments, got ${exprs.length}")
        val shift = exprs(1) match {
          case e if e.foldable => e.eval() match {
            case v: Int => v
            case v: Long if v >= 0 && v <= 63 => v.toInt
            case other =>
              throw new IllegalArgumentException(s"$name: shift must be an int constant, got $other")
          }
          case e =>
            throw new IllegalArgumentException(s"$name: shift must be a constant expression, got $e")
        }
        require(shift >= 0 && shift <= 63, s"$name: shift must be in [0, 63], got $shift")
        DoubleBitsShift(exprs.head, shift)
      },
      "built-in")

  /** Column builder. Registration happens on the session that will
    * ANALYZE the column, passed by the caller — `SparkSession.active`
    * is the wrong session inside `foreachBatch` (micro-batches analyze
    * in a CLONED session whose registry doesn't see the parent's temp
    * functions; the same cross-session class of bug fixed in
    * [[graft.operators.Dedup.lshDecontam]]).
    */
  def apply(spark: SparkSession, v: Column, shift: Int): Column = {
    register(spark)
    call_function(name, v, lit(shift))
  }
}

package graft.functions

import java.time.Clock

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A timestamp fixed when the expression is built: one value per ETL run
  * (the reference's eager `now`, `src/etl/transformation.py:165,325,495-496`).
  *
  * `current_timestamp` would be folded by `ComputeCurrentTime` into a
  * timestamp literal, and a timestamp literal is written into the generated
  * Java source as `<micros>L`. Every run would then compile new classes:
  * the codegen cache is keyed by the source text. This expression is not
  * foldable and reads its value through a reference object, so the source
  * is the same from run to run and its classes are compiled once per JVM.
  */
case class RunStamp(micros: Long) extends LeafExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = micros
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stamp = ctx.addReferenceObj("runStamp", this)
    ev.copy(code = code"final long ${ev.value} = $stamp.micros();", isNull = FalseLiteral)
  }
  override def prettyName: String = "run_stamp"
}

object RunStamp {
  /** A stamp of the current instant, taken on the driver at this call. */
  def current(): Column =
    ColumnBridge.column(RunStamp(DateTimeUtils.instantToMicros(Clock.systemUTC().instant())))
}

package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `java.lang.Object.hashCode()` of a column value, as a Catalyst
  * expression with whole-stage codegen.
  *
  * The reference's `bucket[N]` partition transform is
  * `(value.hashCode() & Integer.MAX_VALUE) % N` (reference
  * `icebergIngest/src/main/java/com/dataphion/hermes/icebergIngest/Utile.java:54-63`)
  * — Java `Object.hashCode`, NOT the Iceberg-spec Murmur3 (SURVEY.md Q4).
  * To reproduce it distributed we need the exact JDK hash per type:
  *
  *  - Integer.hashCode(v) == v
  *  - Long.hashCode(v) == (int)(v ^ (v >>> 32))
  *  - Boolean.hashCode(v) == v ? 1231 : 1237
  *  - Float.hashCode(v) == floatToIntBits(v)
  *  - Double.hashCode(v) == (int)(bits ^ (bits >>> 32))
  *  - String.hashCode == 31-polynomial over UTF-16 chars
  *  - LocalDate.hashCode (DATE values are LocalDate in the reference)
  *  - BigDecimal.hashCode (DECIMAL values)
  *
  * Codegen'd so bucketed repartition/groupBy stays inside
  * WholeStageCodegen at scale; a Scala UDF here would break the codegen
  * span around every partitioned write. Hand-written rather than a
  * [[Kernel]]: DATE and INT both reach a static method as `int`, so
  * only the input type can choose `LocalDate.hashCode`.
  */
case class JavaHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case IntegerType | LongType | BooleanType | FloatType | DoubleType |
           StringType | DateType | _: DecimalType | ShortType | ByteType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"java_hash does not support type $t")
    }

  override protected def nullSafeEval(v: Any): Any = child.dataType match {
    case IntegerType => v.asInstanceOf[Int]
    case ShortType   => v.asInstanceOf[Short].hashCode()
    case ByteType    => v.asInstanceOf[Byte].hashCode()
    case LongType    => java.lang.Long.hashCode(v.asInstanceOf[Long])
    case BooleanType => if (v.asInstanceOf[Boolean]) 1231 else 1237
    case FloatType   => java.lang.Float.hashCode(v.asInstanceOf[Float])
    case DoubleType  => java.lang.Double.hashCode(v.asInstanceOf[Double])
    case StringType  => v.toString.hashCode
    // Spark DateType is epoch days; the reference holds a LocalDate.
    case DateType    => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).hashCode()
    case _: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal.hashCode()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val code = child.dataType match {
        case IntegerType => s"$c"
        case ShortType | ByteType => s"(int) $c"
        case LongType    => s"java.lang.Long.hashCode($c)"
        case BooleanType => s"($c ? 1231 : 1237)"
        case FloatType   => s"java.lang.Float.hashCode($c)"
        case DoubleType  => s"java.lang.Double.hashCode($c)"
        case StringType  => s"$c.toString().hashCode()"
        case DateType    => s"java.time.LocalDate.ofEpochDay((long) $c).hashCode()"
        case _: DecimalType => s"$c.toJavaBigDecimal().hashCode()"
      }
      s"${ev.value} = $code;"
    })

  override protected def withNewChildInternal(newChild: Expression): JavaHash =
    copy(child = newChild)
}

object JavaHash {
  /** Column-level entry point: `java_hash($"user_id")`. */
  def javaHash(c: Column): Column = GraftBridge.column(JavaHash(GraftBridge.expression(c)))
}

package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** The one way a scalar kernel enters a plan: a Catalyst `StaticInvoke`
  * of a public method on a Scala object, the same node Spark's own
  * built-ins (`url_encode`, `luhn_check`) lower to. Under
  * WholeStageCodegen the generated code calls the object's static
  * forwarder inline (`graft.functions.Md5Ops.u64(...)`); the
  * interpreted path calls the same method by reflection. So a kernel is
  * a plain method plus one `Kernel(...)` line, with no per-kernel
  * Catalyst class and no UDF boundary.
  *
  *  - A null in any argument gives null without calling the method;
  *    `returnNullable` says the method itself may also return null.
  *  - Arguments are implicitly cast to `inputTypes`, as for a built-in;
  *    a type that cannot be cast fails analysis with DATATYPE_MISMATCH.
  *  - Static parameters (shingle width, flags, merge tokens) are
  *    literal arguments; the method takes them as plain `int`,
  *    `boolean` or `UTF8String`.
  *
  * An unaliased call is auto-named `static_invoke(<owner>.<method>(..))`.
  */
private[functions] object Kernel {
  def apply(owner: AnyRef, method: String, dataType: DataType,
      inputTypes: Seq[DataType], returnNullable: Boolean = false)(
      args: Column*): Column =
    GraftBridge.column(StaticInvoke(owner.getClass, dataType, method,
      args.map(GraftBridge.expression), inputTypes,
      returnNullable = returnNullable))
}

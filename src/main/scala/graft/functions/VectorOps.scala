package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector math over `array<float|double>` embedding columns.
  *
  * The hot-path ops (cosine, LSH code) are native Catalyst expressions
  * with `doGenCode`: one fused primitive loop per row, no boxing, no
  * intermediate arrays. The first cut used `zip_with` + `aggregate`
  * higher-order functions — those are *interpreted* (lambda eval per
  * element, allocated intermediate ArrayData) and measured 50× slower
  * on the candidate-verify join of `q_embed_dedup` (55 s → ~1 s at
  * sf0.1). At 100 TB the verify join evaluates cosine on billions of
  * candidate pairs; it must stay inside WholeStageCodegen.
  *
  * They stay hand-written rather than a [[Kernel]] because the array's
  * element type (float or double) picks the method, and `ArrayData`
  * does not carry it; [[NearestCentroids]] also captures a driver-built
  * matrix. The float-only int8 stats are a [[Kernel]].
  *
  * Fold order is left-to-right sequential in both the interpreted and
  * generated paths, so results are bit-identical and deterministic.
  */
object VectorOps {

  private def elemType(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  /** Fused dot / norms / cosine; NaN signals zero-norm (→ SQL null). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val nn = math.sqrt(na) * math.sqrt(nb)
    if (nn > 0.0) dot / nn else Double.NaN
  }

  /** Σx² widened to double, left-to-right. Finite for every all-finite
    * float32 input (64·(3.4e38)² ≈ 7e78 ≪ double max), NaN/+Inf iff the
    * vector carries a NaN/±Inf component — the corrupt-embedding
    * predicate (norm2 < +Inf ⟺ vector is finite, since NaN compares
    * above +Inf under Spark ordering and plain `<` is false on both).
    */
  def norm2F(a: ArrayData): Double = {
    var s = 0.0; var i = 0
    val n = a.numElements()
    while (i < n) { val x = a.getFloat(i).toDouble; s += x * x; i += 1 }
    s
  }

  def norm2D(a: ArrayData): Double = {
    var s = 0.0; var i = 0
    val n = a.numElements()
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    s
  }

  def cosineD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val nn = math.sqrt(na) * math.sqrt(nb)
    if (nn > 0.0) dot / nn else Double.NaN
  }

  /** One pass over the vector per plane; bit p set iff proj_p > 0. */
  def lshCodeF(v: ArrayData, planes: Array[Array[Int]]): Long = {
    var code = 0L
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      val n = math.min(v.numElements(), pl.length)
      var proj = 0.0
      var i = 0
      while (i < n) { proj += v.getFloat(i).toDouble * pl(i); i += 1 }
      if (proj > 0.0) code |= (1L << p)
      p += 1
    }
    code
  }

  def lshCodeD(v: ArrayData, planes: Array[Array[Int]]): Long = {
    var code = 0L
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      val n = math.min(v.numElements(), pl.length)
      var proj = 0.0
      var i = 0
      while (i < n) { proj += v.getDouble(i) * pl(i); i += 1 }
      if (proj > 0.0) code |= (1L << p)
      p += 1
    }
    code
  }

  /** Symmetric int8 quantization stats of a float vector, one fused
    * pass: codes qᵢ = round-away-from-zero(xᵢ·127 / max|x|) (all-zero
    * codes when max|x| = 0), returning (sum_q, l1_q, nnz). Exposed as
    * integer aggregates so the result is ENGINE-EXACT: both engines
    * compute the identical IEEE double xᵢ·127/mx (same two ops; max is
    * order-independent), and the corpus margin from any .5 rounding
    * boundary is ≥ 3.1e-6 (measured, all SFs) — ~10 orders above ulp
    * noise, so floor(|q|+0.5) here equals DuckDB's round() everywhere.
    * Called from generated code.
    */
  def quantI8StatsF(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getFloat(i).toDouble)
      if (a > mx) mx = a
      i += 1
    }
    var sum = 0L; var l1 = 0L; var nnz = 0L
    if (mx > 0.0) {
      i = 0
      while (i < n) {
        val x = v.getFloat(i).toDouble
        val q = math.floor(math.abs(x) * 127.0 / mx + 0.5).toLong
        if (q != 0) { nnz += 1; l1 += q; sum += (if (x < 0) -q else q) }
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(sum, l1, nnz)
  }

  /** Cosine similarity expression; null on zero-norm input. Hand-written:
    * the element type picks `cosineF`/`cosineD`. */
  case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult =
      (elemType(left.dataType), elemType(right.dataType)) match {
        case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"cosine expects two array<float> or two array<double>, got " +
            s"${left.dataType} / ${right.dataType}")
      }

    private def isFloat = left.dataType == ArrayType(FloatType, containsNull = false) ||
      left.dataType == ArrayType(FloatType, containsNull = true)

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val r =
        if (isFloat) cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
        else cosineD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      if (r.isNaN) null else r
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fn = if (isFloat) "cosineF" else "cosineD"
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        ${ev.value} = graft.functions.VectorOps.$fn($a, $b);
        if (Double.isNaN(${ev.value})) { ${ev.isNull} = true; ${ev.value} = 0.0; }
      """)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(left = l, right = r)
  }

  /** Σx² (double; see [[norm2F]]) — the scan-side finite-vector
    * predicate `vec_norm2(v) < 'Infinity'` and a general norm builder.
    * Hand-written: the element type picks `norm2F`/`norm2D`.
    */
  case class VecNorm2(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult =
      elemType(child.dataType) match {
        case Some(_) => TypeCheckResult.TypeCheckSuccess
        case None => TypeCheckResult.TypeCheckFailure(
          s"vec_norm2 expects array<float|double>, got ${child.dataType}")
      }

    private def isFloat = elemType(child.dataType).contains(FloatType)

    override protected def nullSafeEval(a: Any): Any =
      if (isFloat) norm2F(a.asInstanceOf[ArrayData])
      else norm2D(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fn = if (isFloat) "norm2F" else "norm2D"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorOps.$fn($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): VecNorm2 =
      copy(child = newChild)
  }

  /** Sign-bit LSH code expression; `planes` values must be ±1.
    * Hand-written: the element type picks `lshCodeF`/`lshCodeD`. */
  case class LshCode(child: Expression, planes: Seq[Seq[Int]]) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult =
      elemType(child.dataType) match {
        case Some(_) => TypeCheckResult.TypeCheckSuccess
        case None => TypeCheckResult.TypeCheckFailure(
          s"lsh_code expects array<float|double>, got ${child.dataType}")
      }

    @transient private lazy val planeArr: Array[Array[Int]] =
      planes.map(_.toArray).toArray
    private def isFloat = elemType(child.dataType).contains(FloatType)

    override protected def nullSafeEval(v: Any): Any =
      if (isFloat) lshCodeF(v.asInstanceOf[ArrayData], planeArr)
      else lshCodeD(v.asInstanceOf[ArrayData], planeArr)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("lshPlanes", planeArr, "int[][]")
      val fn = if (isFloat) "lshCodeF" else "lshCodeD"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorOps.$fn($c, $ref);")
    }

    override protected def withNewChildInternal(newChild: Expression): LshCode =
      copy(child = newChild)
  }

  /** Indices of the `m` centroids nearest to `v` by cosine, best first
    * (ties → smaller index). `cents` are pre-NORMALIZED rows, so cosine
    * ranking reduces to a dot product (`|v|` is constant per row).
    * Called from generated code.
    */
  def nearestCentroidsF(v: ArrayData, cents: Array[Array[Double]], m: Int): ArrayData = {
    val k = cents.length
    val keep = math.min(m, k)
    val bestIdx = new Array[Int](keep)
    val bestDot = new Array[Double](keep)
    var filled = 0
    var c = 0
    while (c < k) {
      val cent = cents(c)
      val n = math.min(v.numElements(), cent.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v.getFloat(i).toDouble * cent(i); i += 1 }
      // insertion into the sorted (desc) top-m; strict > keeps the
      // earliest index on ties
      if (filled < keep || dot > bestDot(filled - 1)) {
        var pos = if (filled < keep) filled else keep - 1
        while (pos > 0 && dot > bestDot(pos - 1)) {
          bestDot(pos) = bestDot(pos - 1); bestIdx(pos) = bestIdx(pos - 1); pos -= 1
        }
        bestDot(pos) = dot; bestIdx(pos) = c
        if (filled < keep) filled += 1
      }
      c += 1
    }
    new GenericArrayData(bestIdx.take(filled).map(i => i: Any))
  }

  /** `m` nearest-centroid indices (IVF coarse quantization) — the
    * per-vector assign/probe step of an inverted-file ANN index, fused
    * into one codegen'd loop (k × dim FMAs per row, no explode of the
    * corpus × centroids pairs). Hand-written: it captures the
    * driver-built centroid matrix as a codegen reference.
    */
  case class NearestCentroids(child: Expression, centroids: Seq[Seq[Double]], m: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult =
      elemType(child.dataType) match {
        case Some(FloatType) => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"nearest_centroids expects array<float>, got $t")
      }

    @transient private lazy val centArr: Array[Array[Double]] =
      centroids.map(_.toArray).toArray

    override protected def nullSafeEval(v: Any): Any =
      nearestCentroidsF(v.asInstanceOf[ArrayData], centArr, m)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ivfCentroids", centArr, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorOps.nearestCentroidsF($c, $ref, $m);")
    }

    override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
      copy(child = newChild)
  }

  /** int8-quantization stats struct (sum_q, l1_q, nnz). */
  def quantI8Stats(v: Column): Column =
    Kernel(this, "quantI8StatsF", StructType(Seq(
      StructField("sum_q", LongType, nullable = false),
      StructField("l1_q", LongType, nullable = false),
      StructField("nnz", LongType, nullable = false))),
      Seq(ArrayType(FloatType)))(v)

  /** Cosine similarity; null/zero-norm safe (returns null). */
  def cosine(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Σx² as double (codegen'd; see [[VecNorm2]]). */
  def vecNorm2(v: Column): Column =
    GraftBridge.column(VecNorm2(GraftBridge.expression(v)))

  /** Sign-bit LSH code from ±1 hyperplanes: bit p = 1 iff
    * dot(planes(p), v) > 0.
    */
  def lshCode(v: Column, planes: Seq[Seq[Int]]): Column =
    GraftBridge.column(LshCode(GraftBridge.expression(v), planes))

  /** `m` nearest-centroid indices of `v` (cosine, best first). The raw
    * centroid rows are L2-normalized here once, so the per-row work is
    * pure dot products.
    */
  def nearestCentroids(v: Column, centroids: Seq[Seq[Float]], m: Int): Column = {
    val normed = centroids.map { c =>
      val n = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
      if (n > 0) c.map(_.toDouble / n) else c.map(_.toDouble)
    }
    GraftBridge.column(NearestCentroids(GraftBridge.expression(v), normed, m))
  }

  /** Sequential-fold dot product (non-hot-path utility; higher-order
    * functions, interpreted — use CosineSim for per-pair joins).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Deterministic ±1 hyperplane matrix (seeded `java.util.Random` —
    * spec-fixed LCG, identical on every JVM).
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Int]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1 else -1))
  }

  /** Hash-derived ±1 hyperplane matrix: entry (p, d) is +1 iff the
    * first hex digit of md5("p_d") is < 8 — one unbiased bit per
    * entry, no RNG STATE anywhere. Any engine (and any oracle) can
    * rebuild the exact planes from the (p, d) indices alone, so LSH
    * codes are reproducible across runs, engines, and cluster sizes
    * without persisting a plane matrix — the property that makes
    * `q_sim_ann` DuckDB-oracle-checkable, and operationally the same
    * win as hash-based sampling over `rand()`.
    */
  def hashPlanes(nPlanes: Int, dim: Int): Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(nPlanes)(p => Seq.tabulate(dim) { d =>
      val h = md.digest(s"${p}_$d".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) < 8) 1 else -1
    })
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native FLOAT/DOUBLE pair kernels (cosine, squared distance, dot) for
  * the ANN scan and the PQ index build and search. The HOF formulation
  * (`aggregate(zip_with(...))`) is CodegenFallback and interprets a
  * lambda per element with an intermediate zipped array per pair; each
  * kernel's loop is one [[HashOps]] static, called by `nullSafeEval` and
  * by a one-call `doGenCode` that stays inside whole-stage codegen. All
  * fold in sequential index order, bit-identical to the `list_reduce`
  * twins the DuckDB oracle runs.
  */
trait VectorKernel extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The two element-type flags as Java literals for a codegen call. */
  protected def floatFlags: String = s"${elemIsFloat(left)}, ${elemIsFloat(right)}"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE> inputs, " +
        s"got ${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }
}

/** `graft_dist2(a, b)` — squared L2 distance, the PQ/k-means assignment
  * metric (argmin over centroids; sqrt never needed for argmin).
  */
case class SquaredDistance(left: Expression, right: Expression) extends VectorKernel {
  override def prettyName: String = "graft_dist2"

  override def nullSafeEval(a: Any, b: Any): Any = HashOps.dist2(
    a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], elemIsFloat(left), elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.dist2($a, $b, $floatFlags);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredDistance =
    copy(left = newLeft, right = newRight)
}

/** `graft_dot(a, b)` — plain inner product, the PQ ADC table entry
  * (cosine = Σ_j dot(q_j, c_j) / (|q|·|x̂|), assembled from per-subspace
  * dots).
  */
case class DotProduct(left: Expression, right: Expression) extends VectorKernel {
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = HashOps.dot(
    a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], elemIsFloat(left), elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.dot($a, $b, $floatFlags);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `graft_pq_adc(codes, flat, kSub)` — asymmetric-distance-computation
  * lookup: Σ_j flat[j·kSub + codes[j]], the PQ search inner loop. `flat`
  * is a query's per-(subspace, centroid) dot-product table flattened
  * sub-major; `codes` is a corpus vector's m-byte PQ code word. One
  * compiled loop of m array reads per (query, vector) pair — the whole
  * point of PQ search: no per-pair float vector arithmetic at all.
  * Folds in subspace order, bit-identical to the oracle's `list_reduce`.
  * Out-of-range codes contribute nothing (unreachable for codes produced
  * by the paired encoder; guards against a caller mixing kSub values).
  */
case class PqAdc(left: Expression, right: Expression, kSub: Int)
    extends BinaryExpression {

  require(kSub > 0, s"graft_pq_adc requires positive kSub, got $kSub")

  override def prettyName: String = "graft_pq_adc"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<INT> codes, ARRAY<DOUBLE> flat), " +
          s"got ${l.catalogString} / ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    HashOps.pqAdc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], kSub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.pqAdc($a, $b, $kSub);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** `graft_pq_adc_packed(codesBinary, flat, kSub)` — [[PqAdc]] over
  * BYTE-PACKED code words: the m codes are scanned straight out of a
  * BINARY column (1 byte per code, read unsigned — kSub ≤ 256), which
  * makes "m bytes + a norm per vector" the literal at-rest scan payload,
  * not an approximation over ARRAY<INT> (4 B + offsets per code). Same
  * fold order as the unpacked kernel, so results are bit-equal.
  */
case class PqAdcPacked(left: Expression, right: Expression, kSub: Int)
    extends BinaryExpression {

  require(kSub > 0 && kSub <= 256,
    s"graft_pq_adc_packed requires 0 < kSub <= 256 (one byte per code), got $kSub")

  override def prettyName: String = "graft_pq_adc_packed"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BINARY codes, ARRAY<DOUBLE> flat), " +
          s"got ${l.catalogString} / ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    HashOps.pqAdcPacked(a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData], kSub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.pqAdcPacked($a, $b, $kSub);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcPacked =
    copy(left = newLeft, right = newRight)
}

/** `graft_binary_sketch(vec, bits)` — sign-bit sketch of the first
  * `bits` dims packed into one long (bit i set iff `vec[i] > 0`), the
  * compiled twin of the declarative
  * [[graft.ops.Similarity.binarySketchExpr]] fold (63 interpreted
  * lambda steps per row; at 500k×64d the interpreted sketch alone costs
  * more than the full compiled-cosine scan it is meant to undercut).
  */
case class BinarySketch(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 63, s"graft_binary_sketch bits in [1,63], got $bits")
  override def prettyName: String = "graft_binary_sketch"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE>, got ${dt.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashOps.binarySketch(v.asInstanceOf[ArrayData], bits, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.HashOps.binarySketch($v, $bits, $elemIsFloat);")

  override protected def withNewChildInternal(c: Expression): BinarySketch =
    copy(child = c)
}

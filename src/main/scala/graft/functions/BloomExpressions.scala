package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native bloom-membership probes for broadcast-free semi/anti joins.
  *
  * WHY: a semi/anti join of a 100 TB fact side against a key set shuffles
  * the WHOLE fact side on the join key, even though almost every row's
  * fate is decided by set membership alone. A bloom sketch of the key set
  * is a few KB–MB regardless of fact size; probing it is a pure map, so
  * the only rows that ever reach an exchange are the members (semi) or
  * the maybe-members needing the exact residual check (anti). Spark's own
  * runtime-filter injection (spark.sql.optimizer.runtime.bloomFilter.*)
  * applies the same idea opportunistically inside equi-joins; these
  * expressions make it an explicit, tunable operator — needed when the
  * probe is not an equi-join column (e.g. each element of a document's
  * shingle-hash ARRAY, the decontamination shape).
  *
  * The serialized sketch rides in the expression itself (taken from a
  * foldable argument): Spark broadcasts task binaries, so the plan — and
  * with it the sketch — ships once per executor, exactly like a
  * broadcast variable but visible to codegen via `addReferenceObj`.
  * Deserialization happens once per expression instance
  * (@transient lazy), never per row.
  */
trait BloomProbe { self: Expression =>
  def bytes: Array[Byte]
  @transient protected lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
}

/** `graft_bloom_contains(sketchBytes, key)` — true iff `key` MIGHT be in
  * the sketched set (no false negatives; false-positive rate is the
  * sketch's fpp). LONG keys probe `mightContainLong`; STRING keys probe
  * the UTF-8 bytes — both bit-identical to what
  * `DataFrame.stat.bloomFilter` inserted (`putLong` / `putBinary`).
  */
case class BloomMightContain(bytes: Array[Byte], child: Expression)
    extends UnaryExpression with BloomProbe {

  override def prettyName: String = "graft_bloom_contains"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT or STRING, got ${dt.catalogString}")
  }

  override protected def nullSafeEval(v: Any): Any = v match {
    case l: java.lang.Long => bloom.mightContainLong(l)
    case s: UTF8String     => bloom.mightContainBinary(s.getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom, classOf[BloomFilter].getName)
    child.dataType match {
      case LongType =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
      case StringType =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainBinary($c.getBytes())")
      case other => throw new IllegalStateException(s"unexpected input type $other")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** `graft_bloom_any(sketchBytes, hashes)` — true iff ANY element of the
  * LONG array might be in the sketched set. The compiled short-circuit
  * loop ([[HashOps.bloomAny]]) replaces
  * `exists(hashes, h -> graft_bloom_contains(..., h))`, whose lambda
  * would drop the probe out of whole-stage codegen into interpreted
  * eval. Null elements are skipped (a null shingle carries
  * no membership evidence), matching the exists-with-null-skip the
  * decontamination op needs.
  */
case class BloomAnyContain(bytes: Array[Byte], child: Expression)
    extends UnaryExpression with BloomProbe {

  override def prettyName: String = "graft_bloom_any"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT>, got ${dt.catalogString}")
  }

  override protected def nullSafeEval(v: Any): Any =
    HashOps.bloomAny(bloom, v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.bloomAny($ref, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomAnyContain =
    copy(child = newChild)
}

object BloomExpressions {
  /** Serialize a built sketch to the byte form both probes read. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}

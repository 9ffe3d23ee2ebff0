package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.StoreSqlShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd Bloom-filter membership test: `bloom_might_contain(bytes,
  * key)` — false means DEFINITELY absent, true means possibly present
  * (rate `fpp` of false positives). The filter travels as serialized
  * bytes held by the expression itself, is deserialized once per
  * task, and each probe is a handful of hash ops — no join, no
  * shuffle, no broadcast exchange.
  *
  * This is the scale primitive behind [[graft.operators.BloomJoin]]:
  * at 100 TB a compact sketch of the dim keys (~1.2 MB per million
  * keys at 1% fpp) rides inside the fact scan's filter and keeps
  * non-candidate rows out of the shuffle
  * entirely. Supports integral keys (probed as long, matching
  * `BloomFilter.putLong`) and strings (UTF-8 bytes, matching
  * `putString`).
  */
case class BloomMightContainExpr(filterBytes: Array[Byte],
    child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"bloom_might_contain expects an integral or string key, " +
              s"got ${other.sql}")
    }

  override def dataType: DataType = BooleanType

  // one deserialization per task (the expression instance is shipped
  // serialized inside the plan; `filter` rebuilds lazily on first use)
  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(filterBytes))

  /** Probe entry point shared by the interpreted and generated paths. */
  def mightContain(v: Any): Boolean = v match {
    case l: Long        => filter.mightContainLong(l)
    case i: Int         => filter.mightContainLong(i.toLong)
    case s: Short       => filter.mightContainLong(s.toLong)
    case b: Byte        => filter.mightContainLong(b.toLong)
    case u: UTF8String  => filter.mightContainString(u.toString)
    case s: String      => filter.mightContainString(s)
    case other => throw new IllegalArgumentException(
      s"bloom_might_contain: unsupported key ${other.getClass}")
  }

  override def nullSafeEval(v: Any): Any = mightContain(v)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    // reference the whole expression object: the generated code calls
    // back into `mightContain`, so the lazily-deserialized filter is
    // shared between the interpreted and generated paths
    val ref = ctx.addReferenceObj("bloomExpr", this,
      classOf[BloomMightContainExpr].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.mightContain($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)

  // Case-class equality over Array[Byte] is reference equality, which
  // would make two structurally identical probes (same filter
  // serialized twice, re-parsed SQL) never compare equal — defeating
  // canonicalization, common-subexpression elimination, and
  // plan-fragment reuse. Compare/hash the bytes by content.
  override def equals(other: Any): Boolean = other match {
    case that: BloomMightContainExpr =>
      java.util.Arrays.equals(filterBytes, that.filterBytes) &&
        child == that.child
    case _ => false
  }

  override def hashCode(): Int =
    31 * java.util.Arrays.hashCode(filterBytes) + child.hashCode()
}

object BloomMightContainExpr {

  /** Serialize a filter for embedding in the plan. */
  def serialize(filter: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    bos.toByteArray
  }

  /** Column API: builds the expression directly, in any session. */
  def mightContain(filter: BloomFilter, key: Column): Column =
    StoreSqlShims.column(BloomMightContainExpr(serialize(filter),
      StoreSqlShims.expression(key)))
}

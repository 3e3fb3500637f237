package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A locus `(chr, mid)` packed into one bigint, `chrId << 32 | mid`, with
  * `chrId` the chromosome's index in the sorted dictionary `chroms`. Keys
  * order as `(chr, mid)` does under Spark's string ordering, and a join
  * on one long key builds Spark's compact `LongHashedRelation` instead of
  * a paged `UnsafeHashedRelation`.
  *
  * A chromosome outside the dictionary gives null (it matches no lookup
  * row); a `mid` outside [0, 2³²) fails the task. The dictionary rides the
  * plan as a reference object, so every dictionary shares one generated
  * class.
  */
case class LocusKey(left: Expression, right: Expression,
    chroms: Array[String]) extends BinaryExpression {
  private val dict: Array[UTF8String] = chroms.map(UTF8String.fromString)
  require(dict.indices.drop(1).forall(i => dict(i - 1).compareTo(dict(i)) < 0),
    "locus_key: the chromosome dictionary must be sorted and distinct")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("locus_key(chr STRING, mid BIGINT)")
  override def prettyName: String = "locus_key"

  override protected def nullSafeEval(chr: Any, mid: Any): Any = {
    val k = LocusKey.pack(dict, chr.asInstanceOf[UTF8String],
      mid.asInstanceOf[Long])
    if (k < 0) null else k
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val dictRef = ctx.addReferenceObj("chroms", dict,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, (chr, mid) =>
      s"""${ev.value} = graft.functions.LocusKey$$.MODULE$$.pack(
         |  $dictRef, $chr, $mid);
         |${ev.isNull} = ${ev.value} < 0L;""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LocusKey = copy(left = newLeft, right = newRight)

  // Array equality is reference-based: compare the dictionary's contents
  override def equals(other: Any): Boolean = other match {
    case k: LocusKey => left == k.left && right == k.right &&
      java.util.Arrays.equals(chroms.asInstanceOf[Array[AnyRef]],
        k.chroms.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(left, right,
    Integer.valueOf(java.util.Arrays.hashCode(
      chroms.asInstanceOf[Array[AnyRef]])))
}

object LocusKey {
  /** The key of (`chr`, `mid`) over the sorted `dict`, or −1 when `chr`
    * is not in it.
    */
  def pack(dict: Array[UTF8String], chr: UTF8String, mid: Long): Long = {
    if (mid < 0L || mid >= (1L << 32))
      throw new IllegalArgumentException(
        s"locus_key: mid $mid of $chr is outside [0, 2^32)")
    val id = java.util.Arrays.binarySearch(
      dict.asInstanceOf[Array[AnyRef]], chr)
    if (id < 0) -1L else (id.toLong << 32) | mid
  }

  /** The dictionary `chroms` holds: distinct, in Spark's string order. */
  def dictionary(names: Iterable[String]): Array[String] =
    names.toArray.distinct.map(UTF8String.fromString).sorted
      .map(_.toString)

  /** `locus_key(chr, mid)` as a Column over the chromosome names `names`
    * (any order, duplicates allowed).
    */
  def column(chr: Column, mid: Column, names: Iterable[String]): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => col, expression}
    col(LocusKey(expression(chr), expression(mid.cast("long")),
      dictionary(names)))
  }
}

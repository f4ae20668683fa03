package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst probe into a BROADCAST Bloom filter: `true` iff the
  * string child might be in the sketch (false ⇒ definitely absent — the
  * one-sided guarantee x17b's novelty gate is built on; a NULL child probes
  * to false, matching "null is never in the snapshot").
  *
  * Why an expression and not a UDF: the probe sits on the corpus-scale span
  * stream of the admission gate — the hottest map stage in the dedup
  * family. A Scala UDF boxes every row (UTF8String → String, Boolean →
  * java.lang.Boolean) and breaks the whole-stage codegen span; this
  * expression stays inside Tungsten (`doGenCode`) and reads the UTF-8 bytes
  * directly (`BloomFilterImpl.putString/mightContainString` are defined as
  * the UTF-8-bytes binary lane, so `mightContainBinary(utf8.getBytes)` is
  * bit-identical to `mightContainString(toString)` without materializing a
  * java.lang.String per row).
  *
  * The sketch rides a `Broadcast` handle — one executor-wide copy,
  * deserialized once per generated class (lazy init in the codegen'd
  * constructor), never per task and never inlined into the plan bytes —
  * the 100 TB contract for a sketch that can reach gigabytes.
  */
case class BloomMightContainString(bloom: Broadcast[BloomFilter], child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  // never null: a NULL child probes to false (see scaladoc)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v != null && bloom.value.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcast = ctx.addReferenceObj("bloomBroadcast", bloom,
      classOf[Broadcast[_]].getName)
    val filterCls = classOf[BloomFilter].getName
    // resolve the broadcast ONCE per generated operator instance, not per row
    val filterTerm = ctx.addMutableState(filterCls, "graftBloomFilter",
      v => s"$v = ($filterCls) $bcast.value();")
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.value} = false;
      if (!${childGen.isNull}) {
        ${ev.value} = $filterTerm.mightContainBinary(${childGen.value}.getBytes());
      }""", isNull = FalseLiteral)
  }

  override def prettyName: String = "bloom_might_contain_str"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomExpressions {
  /** Register a session function binding `bloom` and return its name — the
    * shape of the session functions in [[GraftExtensions.functions]],
    * parameterized by the broadcast handle (the sketch is a runtime object,
    * so each filter gets its own id-suffixed function; registrations are a
    * registry entry each, and re-registering the same broadcast is
    * idempotent).
    */
  def registerProbe(spark: SparkSession, bloom: Broadcast[BloomFilter]): String = {
    val name = s"graft_bloom_b${bloom.id}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => BloomMightContainString(bloom, exprs.head), "scala_udf")
    name
  }
}

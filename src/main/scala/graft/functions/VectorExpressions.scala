package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns, with whole-stage codegen (`doGenCode`), so the
  * hot loop of brute-force / LSH similarity search stays inside Tungsten —
  * no UDF boxing, no Scala closure per row.
  *
  * Accumulation is a single left-to-right pass (dot, |a|², |b|² in one
  * loop); the independent accumulators make the result bit-identical to the
  * DuckDB oracle's sequential list_reduce formulation.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers must supply array<double> inputs (cast at the call site);
  // ExpectsInputTypes is private[sql] in Spark 4, so no declared coercion.
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, na = 0.0, nb = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double xi = $a.getDouble(i);
         |  double yi = $b.getDouble(i);
         |  dot += xi * yi; na += xi * xi; nb += yi * yi;
         |}
         |${ev.value} = dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

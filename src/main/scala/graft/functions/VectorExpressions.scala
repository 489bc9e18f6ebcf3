package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * Rationale (SURVEY.md §2b similarity search): `zip_with`/`aggregate`
  * higher-order functions evaluate an interpreted lambda per element — fine
  * off the hot path, but a brute-force ANN scan computes corpus x queries
  * cosines, and there a codegen'd tight loop over primitive float arrays is
  * the difference between scan-bound and lambda-bound. `doGenCode` emits the
  * loop straight into WholeStageCodegen.
  */
object VectorExpressions {

  /** cosine(a, b) over two array<float> columns, computed in double. */
  final case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_similarity"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData].toFloatArray()
      val y = b.asInstanceOf[ArrayData].toFloatArray()
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        dot += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i)
        i += 1
      }
      if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        s"""
           |float[] $x = $a.toFloatArray();
           |float[] $y = $b.toFloatArray();
           |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
           |int $n = java.lang.Math.min($x.length, $y.length);
           |for (int $i = 0; $i < $n; $i++) {
           |  $dot += (double) $x[$i] * $y[$i];
           |  $nx  += (double) $x[$i] * $x[$i];
           |  $ny  += (double) $y[$i] * $y[$i];
           |}
           |${ev.value} = ($nx == 0.0 || $ny == 0.0)
           |  ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** dot(a, b) over two array<float> columns, computed in double. */
  final case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "dot_product"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData].toFloatArray()
      val y = b.asInstanceOf[ArrayData].toFloatArray()
      var dot = 0.0
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) { dot += x(i).toDouble * y(i); i += 1 }
      dot
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        val dot = ctx.freshName("dot"); val i = ctx.freshName("i"); val n = ctx.freshName("n")
        s"""
           |float[] $x = $a.toFloatArray();
           |float[] $y = $b.toFloatArray();
           |double $dot = 0.0;
           |int $n = java.lang.Math.min($x.length, $y.length);
           |for (int $i = 0; $i < $n; $i++) { $dot += (double) $x[$i] * $y[$i]; }
           |${ev.value} = $dot;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Column-API entry point. Resolves by name against the session's
    * function registry, where [[GraftExtensions]] put it — the public path,
    * no private Column(Expression) constructor.
    */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_similarity", a, b)
}

/** Everything graft adds to a Spark session, in one place: the native
  * functions (`cosine_similarity`, `dot_product`, `mg_topk`), the top-k
  * planner strategy and the top-k rewrite rule. `HarnessSession` builds
  * every session of the harness mains and the tests with it, and every
  * `newSession()` child inherits it; a library user's session gets the same
  * with `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    ext.injectFunction((FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[VectorExpressions.CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => VectorExpressions.CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[VectorExpressions.DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => VectorExpressions.DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[MisraGriesTopK].getName, "mg_topk"),
      (exprs: Seq[Expression]) =>
        MisraGriesTopK(exprs(0), HeavyHitters.resolveK(exprs(1)))))
    // whole-operator extension: the bounded-heap top-k-per-key physical
    // operator (graft.plans.TopKPerKey) planned session-wide, plus the
    // rule that rewrites the row_number-window top-k idiom onto it. A
    // pre-CBO rule runs once, after operator optimization has settled
    // filters and projections (an operator-optimization rule would let
    // them move across the new node) and before InferWindowGroupLimit
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectPreCBORule(_ => graft.plans.TopKRewriteRule)
  }
}

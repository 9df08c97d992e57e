package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{CosineSim, LshSignature, MinHashSig}

/** Session extensions: expose graft's native expressions to SQL.
  *
  * Usage: `.withExtensions(new GraftExtensions)` on a session builder, or
  * `spark.sql.extensions=graft.GraftExtensions`; then
  * `SELECT cosine_sim(a, b) FROM ...` plans the fused codegen kernel.
  * (The injectFunction hook is the (b)-rung of the custom-operator ladder;
  * no custom LogicalPlan/Strategy is needed anywhere in this engine —
  * SURVEY.md §7.3.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.cosineSimDescriptor)
    e.injectFunction(GraftExtensions.lshSignatureDescriptor)
    e.injectFunction(GraftExtensions.minHashSigDescriptor)
  }
}

object GraftExtensions {
  val cosineSimDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "cosine_sim expects exactly 2 arguments")
      CosineSim(children.head, children(1))
    })

  val lshSignatureDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("lsh_signature"),
    new ExpressionInfo(classOf[LshSignature].getName, "lsh_signature"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "lsh_signature expects (array<double> vec, int planes)")
      val planes = children(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"lsh_signature planes must be an int literal, got $other")
      }
      LshSignature(children.head, planes)
    })

  val minHashSigDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "minhash_sig expects (array<string> shingles, int k)")
      val k = children(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"minhash_sig k must be an int literal, got $other")
      }
      MinHashSig(children.head, k)
    })
}

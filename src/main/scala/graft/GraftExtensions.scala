package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotF64, FnvHash64, Hamming64, Hilbert16, MinHashSigExpr, Morton16, QuantI8Stats, SimHashSigExpr}

/** SparkSessionExtensions installer: makes the engine's native
  * expressions available to ANY session started with
  * `--conf spark.sql.extensions=graft.GraftExtensions` — the supported
  * mechanism for shipping custom Catalyst code into a cluster without
  * touching application code. Its planner strategies and optimizer
  * rules are [[Session.install]]'s lists.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("fnv_hash64"),
      new ExpressionInfo(classOf[FnvHash64].getName, "fnv_hash64"),
      (exprs: Seq[Expression]) => FnvHash64.builder(exprs)))
    ext.injectFunction((
      FunctionIdentifier("hamming64"),
      new ExpressionInfo(classOf[Hamming64].getName, "hamming64"),
      (exprs: Seq[Expression]) => Hamming64.builder(exprs)))
    ext.injectFunction((
      FunctionIdentifier("dot_f64"),
      new ExpressionInfo(classOf[DotF64].getName, "dot_f64"),
      (exprs: Seq[Expression]) => DotF64.builder(exprs)))
    // arity is validated here, not left to exprs.head: `SELECT
    // minhash_sig()` must fail analysis with the function's contract,
    // not a NoSuchElementException, and extra arguments must not be
    // silently dropped (DotF64.builder pattern)
    def unary(name: String, mk: Expression => Expression)
        (exprs: Seq[Expression]): Expression = exprs match {
      case Seq(e) => mk(e)
      case _ => throw new IllegalArgumentException(
        s"$name expects exactly 1 argument, got ${exprs.length}")
    }
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "minhash_sig"),
      unary("minhash_sig", MinHashSigExpr(_)) _))
    ext.injectFunction((
      FunctionIdentifier("quant_i8_stats"),
      new ExpressionInfo(classOf[QuantI8Stats].getName, "quant_i8_stats"),
      unary("quant_i8_stats", QuantI8Stats(_)) _))
    ext.injectFunction((
      FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSigExpr].getName, "simhash_sig"),
      unary("simhash_sig", SimHashSigExpr(_)) _))
    ext.injectFunction((
      FunctionIdentifier("morton16"),
      new ExpressionInfo(classOf[Morton16].getName, "morton16"),
      (exprs: Seq[Expression]) => Morton16.builder(exprs)))
    ext.injectFunction((
      FunctionIdentifier("hilbert16"),
      new ExpressionInfo(classOf[Hilbert16].getName, "hilbert16"),
      (exprs: Seq[Expression]) => Hilbert16.builder(exprs)))
    Session.strategies.foreach(r => ext.injectPlannerStrategy(_ => r))
    Session.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

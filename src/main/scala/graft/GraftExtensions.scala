package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.graftexpr.{CosineSim, LshSignatures, SigAgree}

/** `SparkSessionExtensions` injection point (builder prompt §custom
  * operators; SURVEY.md §2.10): registers the engine's codegen'd Catalyst
  * expressions as persistent session functions, so a cluster job enables the
  * whole custom-expression surface with configuration only:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * Equivalent to `UdfRegistry.register` for these names, but applied at
  * session build — no library call needed before `spark.sql(...)`. The
  * scalar UDF surface (canonicalizer, extractor, text analysis) still comes
  * from `UdfRegistry.register`, which needs a live session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftExtensions", name), builder))
    }
}

object GraftExtensions {

  /** The codegen'd Catalyst expressions under their SQL names, as
    * (name, builder) — the one list both registration routes use. */
  private[graft] val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (exprs => CosineSim(exprs.head, exprs(1))),
    "sig_agree" -> (exprs => SigAgree(exprs.head, exprs(1))),
    // fixed default LSH config (8 bits × 8 tables over 64-d) for SQL use;
    // the Scala API takes the planes explicitly
    "lsh_sigs" -> (exprs => LshSignatures(exprs.head,
      graft.operators.Similarity.hyperplanes(64, 64).flatten, 8, 8, 64)))
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** Spark extensions entry point — registers every graft Catalyst
  * expression as a built-in-grade SQL function, so a cluster job can
  * enable the whole library with
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * and use `extract_main_text`, `vec_dot`, `minhash_sigs`,
  * `shingle_jaccard`, `normalize_for_comparison`, `srp_sigs` from
  * pure SQL.
  * (Unlike the temp-function fallback in
  * [[graft.functions.GraftFunctions.register]], extension-injected
  * functions survive into every new session of the application.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "")

  private def inject(ext: SparkSessionExtensions, name: String, arity: Int,
                     usage: String)(builder: Seq[Expression] => Expression): Unit = {
    val checked: FunctionBuilder = exprs => {
      if (exprs.length != arity) throw new IllegalArgumentException(
        s"$name requires $arity argument(s), got ${exprs.length}")
      builder(exprs)
    }
    ext.injectFunction((FunctionIdentifier(name), info(name, usage), checked))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    inject(ext, "extract_main_text", 2,
      "extract_main_text(html BINARY, charset STRING) - main-content text of an HTML page") {
      exprs => ExtractMainText(exprs.head, exprs(1))
    }
    inject(ext, "normalize_for_comparison", 1,
      "normalize_for_comparison(s STRING) - NFKD, combining marks stripped, uppercased") {
      exprs => NormalizeForComparison(exprs.head)
    }
    inject(ext, "vec_dot", 2,
      "vec_dot(a ARRAY<FLOAT|DOUBLE>, b ARRAY<FLOAT|DOUBLE>) - left-to-right double dot product") {
      exprs => VecDot(exprs.head, exprs(1))
    }
    inject(ext, "minhash_sigs", 2,
      "minhash_sigs(text STRING, k INT) - k word-3-gram minhash values (16-hex-char each)") {
      MinHashFunctions.buildFromExprs
    }
    inject(ext, "shingle_jaccard", 2,
      "shingle_jaccard(a STRING, b STRING) - exact word-3-gram jaccard similarity") {
      exprs => ShingleJaccard(exprs.head, exprs(1))
    }
    inject(ext, "srp_sigs", 3,
      "srp_sigs(emb ARRAY<FLOAT|DOUBLE>, firstPlane INT, nPlanes INT) - one-pass SRP hyperplane sign bits") {
      SrpSigs.buildFromExprs
    }
    inject(ext, "simhash16", 1,
      "simhash16(text STRING) - 16-bit SimHash of the token stream as a '1'/'0' string") {
      exprs => SimHash16(exprs.head)
    }
  }
}

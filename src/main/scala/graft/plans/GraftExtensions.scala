package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._

/** SQL registration of graft's native expressions via
  * `SparkSessionExtensions` — the sanctioned extension seam
  * (`spark.sql.extensions=graft.plans.GraftExtensions`), so SQL-only
  * users get the same codegen operators the Column API exposes:
  *
  * {{{
  *   SELECT simhash64(text), word_shingles(text, 3),
  *          minhash_bands(word_shingles(text, 3), 64, 16, 42),
  *          lsh_sign_bits(embedding, 64, 42),
  *          cosine_sim(a, b), text_stats(text).quality
  * }}}
  *
  * Each builder validates its literal arguments at analysis time (a
  * non-literal k/bands/seed is an analysis error, not a runtime one).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registerAll(ext)
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  /** (name, usage, builder) for every graft SQL function. */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("simhash64",
      "simhash64(str) - 64-bit SimHash of whitespace tokens",
      args => {
        require(args.length == 1, "simhash64(str)")
        SimHash64Expr(args.head)
      }),
    ("word_shingles",
      "word_shingles(str, n) - distinct word n-gram shingles of the canonical text",
      args => {
        require(args.length == 2, "word_shingles(str, n)")
        WordShinglesExpr(args.head, intArg(args(1), "word_shingles", 1))
      }),
    ("minhash_bands",
      "minhash_bands(shingles, k, bands, seed) - LSH band bucket keys of the k-permutation MinHash",
      args => {
        require(args.length == 4, "minhash_bands(shingles, k, bands, seed)")
        MinHashBandsExpr(args.head, intArg(args(1), "minhash_bands", 1),
          intArg(args(2), "minhash_bands", 2), intArg(args(3), "minhash_bands", 3))
      }),
    ("lsh_sign_bits",
      "lsh_sign_bits(vec, bits, seed) - random-hyperplane sign bits packed into a long",
      args => {
        require(args.length == 3, "lsh_sign_bits(vec, bits, seed)")
        LshSignBitsExpr(args.head, intArg(args(1), "lsh_sign_bits", 1),
          intArg(args(2), "lsh_sign_bits", 2))
      }),
    ("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float/double arrays",
      args => {
        require(args.length == 2, "cosine_sim(a, b)")
        CosineSimExpr(args.head, args(1))
      }),
    ("text_stats",
      "text_stats(str) - struct<n_ws_tokens, n_bpe_tokens, n_punct, n_stop, quality>",
      args => {
        require(args.length == 1, "text_stats(str)")
        TextStatsExpr(args.head)
      }),
    ("lang_id",
      "lang_id(str) - marker-word language code (en/es/de/fr/zh/und)",
      args => {
        require(args.length == 1, "lang_id(str)")
        LangIdExpr(args.head)
      }))

  def registerAll(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    // SQL MERGE INTO / DELETE FROM / UPDATE on graft temp views: the
    // target's View node is stripped so Spark's row-level rewrites plan
    // them as on the catalog table
    ext.injectResolutionRule(_ => GraftViewDml)
    // filterless COUNT/MIN/MAX over a graft relation → manifest answer
    ext.injectOptimizerRule(session => GraftAggregatePushdown(session))
    // native delta MERGE: source-derived key predicate → manifest file
    // pruning on the target scan (see GraftMergeSourcePrune)
    ext.injectOptimizerRule(session => GraftMergeSourcePrune(session))
    // NO parser seam: time travel (VERSION/TIMESTAMP AS OF) and CALL
    // procedures are native DSv2 catalog paths — see
    // graft.catalog.GraftCatalog / GraftCatalogProcedures
  }

  /** Register on a live session (tests / notebooks that didn't set
    * `spark.sql.extensions`).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, usage, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info(name, usage), builder)
    }
  }
}

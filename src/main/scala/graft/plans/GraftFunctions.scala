package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** The single canonical name → expression-builder table for every graft
  * SQL function. It serves SQL text only: the Column API (`VecExprs`,
  * `TextExprs`, `VecAgg`) builds its expressions directly and needs no
  * install. Both SQL install paths consume it — `registerAll` on a running
  * session and `GraftExtensions` at session build — so they cannot drift
  * (a function added here exists in both).
  */
object GraftFunctions {

  /** Evaluate an integer-literal argument with a diagnosable error — SQL
    * users hit this surface directly, so a BIGINT literal must coerce and a
    * column reference must fail with the actual contract, not a
    * ClassCastException.
    */
  private def intArg(name: String)(e: Expression): Int = {
    require(e.foldable, s"$name: the parameter argument must be an integer literal, got ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long =>
        require(l.isValidInt, s"$name: integer literal out of range: $l")
        l.toInt
      case s: Short => s.toInt
      case other => throw new IllegalArgumentException(
        s"$name: integer literal expected, got $other")
    }
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (es => VecExprs.CosineSim(es(0), es(1))),
    "graft_dot" -> (es => VecExprs.DotProd(es(0), es(1))),
    "graft_hash_embed" -> (es => VecExprs.HashEmbed(es(0), intArg("graft_hash_embed")(es(1)))),
    "graft_lsh_bucket" -> (es => VecExprs.LshBucket(es(0), intArg("graft_lsh_bucket")(es(1)))),
    "graft_token_codes" -> (es => TextExprs.TokenCodes(es(0), intArg("graft_token_codes")(es(1)).toLong)),
    "graft_shingle_codes" -> (es => TextExprs.ShingleCodes(es(0), intArg("graft_shingle_codes")(es(1)))),
    "graft_minhash_sig" -> (es => TextExprs.MinHashSig(es(0), intArg("graft_minhash_sig")(es(1)))),
    "graft_simhash" -> (es => TextExprs.SimHash(es(0), intArg("graft_simhash")(es(1)))),
    "graft_jaccard_sorted" -> (es => TextExprs.JaccardSorted(es(0), es(1))),
    "graft_vec_mean" -> (es => VecAgg.builder(es)))

  /** Register every function on a session (idempotent). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

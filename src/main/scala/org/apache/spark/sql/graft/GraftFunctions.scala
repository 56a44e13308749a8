package org.apache.spark.sql.graft

import graft.functions.expressions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** Registers the native hash expressions as SQL functions (the
  * `graft_*` names in [[functions]]).
  *
  * Lives under `org.apache.spark.sql` because `SparkSession.sessionState`
  * is `private[sql]`; this is the same access pattern a
  * SparkSessionExtensions-injected function would get, without requiring
  * every caller to pre-configure the session. Registration is idempotent
  * (createOrReplace) and per-session.
  */
object GraftFunctions {

  /** Column ↔ Expression bridge (classic backend; `private[sql]` surface). */
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int argument, got: $other")
  }

  /** Attach [[graft.plans.GraftRewrites]] to a live session (idempotent) —
    * the non-extensions route to the optimizer fusions.
    */
  def ensureOptimizations(spark: SparkSession): Unit = {
    val es = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!es.extraOptimizations.contains(graft.plans.GraftRewrites))
      es.extraOptimizations = es.extraOptimizations :+ graft.plans.GraftRewrites
  }

  /** Every native SQL function as (name, usage, builder). Both
    * registration routes loop over this one table: [[register]] on a live
    * session, and [[graft.GraftExtensions]] when a session is built.
    */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_poly_hash", "base-31 rolling hash mod 1e9+7",
      args => PolyHash(args.head)),
    ("graft_char_ngram_hashes", "distinct sorted hashes of char n-gram windows",
      args => CharNgramHashes(args.head, intArg(args(1), "graft_char_ngram_hashes"))),
    ("graft_token_hashes", "rolling hash per whitespace token",
      args => TokenHashes(args.head)),
    ("graft_shingle_hashes", "distinct sorted n-token shingle hashes",
      args => ShingleHashes(args.head, intArg(args(1), "graft_shingle_hashes"))),
    ("graft_window_hashes", "positional hashes of every n-token window",
      args => WindowHashes(args.head, intArg(args(1), "graft_window_hashes"))),
    ("graft_minhash_sig", "k-permutation MinHash signature",
      args => MinHashSig(args.head, intArg(args(1), "graft_minhash_sig"))),
    ("graft_simhash", "bits-wide SimHash of a token-hash array",
      args => SimHash(args.head, intArg(args(1), "graft_simhash"))),
    ("graft_intersect_size", "|a ∩ b| of sorted-distinct i64 arrays",
      args => IntersectSize(args.head, args(1))),
    ("graft_chunk_hashes", "fingerprints of the non-overlapping n-token chunks",
      args => ChunkHashes(args.head, intArg(args(1), "graft_chunk_hashes"))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class GraftExtensionsSpec extends AnyFunSuite with Matchers {

  /** Run `body` on a session built ONLY through the extensions route. */
  private def withExtensionsSession(body: SparkSession => Unit): Unit = {
    // getOrCreate returns any existing default session and silently skips
    // extensions — clear it so a genuinely new SparkSession (sharing the
    // JVM's SparkContext) is built through the extensions path, then
    // restore the default for the other suites
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      body(SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    } finally {
      if (prev.isEmpty) {
        // Nothing to restore: this spec created the session (and possibly the
        // SparkContext). Leaving it registered would make a later
        // SparkTestSession.build (which passes extraConf) trip GraftSession's
        // no-pre-existing-session require — tear it all down instead.
        SparkSession.getDefaultSession.foreach(_.stop())
        SparkSession.clearDefaultSession()
        SparkSession.clearActiveSession()
      } else {
        prev.foreach(SparkSession.setDefaultSession)
        prev.foreach(SparkSession.setActiveSession)
      }
    }
  }

  test("a session built with GraftExtensions resolves graft_* in plain SQL") {
    withExtensionsSession { spark =>
      val r = spark.sql("SELECT graft_poly_hash('abc') AS h, " +
        "graft_intersect_size(array(1L,2L,3L), array(2L,3L,4L)) AS i")
        .collect().head
      r.getLong(0) shouldBe 96354L
      r.getInt(1) shouldBe 2
      // leg 2: the injected optimizer rule fuses through this session
      // (non-literal input — a literal would constant-fold before we look)
      val fused = spark.sql(
        "SELECT size(graft_char_ngram_hashes(CAST(id AS STRING) || 'abcdefgh', 3)) AS d " +
          "FROM range(1)")
      fused.queryExecution.optimizedPlan.toString.toLowerCase should
        include("charngramdistinctcount")
      fused.collect().head.getInt(0) shouldBe 7 // "0abcdefgh": 7 distinct 3-grams
      // leg 3: the injected planner strategy plans AsOfJoinNode
      import spark.implicits._
      val out = org.apache.spark.sql.graft.GraftPlans.asOfJoin(
        Seq((1L, 10L, 100L)).toDF("k", "t", "lid"),
        Seq((1L, 5L, 900L)).toDF("k", "rt", "rid"),
        "k", "t", "rt", Seq("rid"), "rid")
      out.queryExecution.executedPlan.toString should include("AsOfJoin")
      out.collect().head.getAs[Long]("asof_rid") shouldBe 900L
    }
  }

  test("an extensions-only session resolves every function in the registration table") {
    // one sample call per GraftFunctions.functions entry: the table is the
    // single source both routes loop over, so a name added there without
    // a call here fails the key-set check, and a name the extensions
    // route drops fails with UNRESOLVED_ROUTINE
    val calls = Map(
      "graft_poly_hash" -> "graft_poly_hash('abc')",
      "graft_char_ngram_hashes" -> "graft_char_ngram_hashes('abcdef', 3)",
      "graft_token_hashes" -> "graft_token_hashes('a b c')",
      "graft_shingle_hashes" -> "graft_shingle_hashes(graft_token_hashes('a b c d'), 2)",
      "graft_window_hashes" -> "graft_window_hashes(graft_token_hashes('a b c d'), 2)",
      "graft_minhash_sig" ->
        "graft_minhash_sig(graft_shingle_hashes(graft_token_hashes('a b c d'), 2), 4)",
      "graft_simhash" -> "graft_simhash(graft_token_hashes('a b c'), 64)",
      "graft_intersect_size" -> "graft_intersect_size(array(1L,2L,3L), array(2L,3L,4L))",
      "graft_chunk_hashes" -> "graft_chunk_hashes('a b c d e', 2)")
    org.apache.spark.sql.graft.GraftFunctions.functions.map(_._1).toSet shouldBe calls.keySet
    withExtensionsSession { spark =>
      calls.foreach { case (name, call) =>
        withClue(s"$name: ") {
          spark.sql(s"SELECT $call AS v").collect() should have size 1
        }
      }
    }
  }
}

package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class StagingSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  // a private copy of the sf0.001 fixture: stages memoize per fixture dir
  // for the life of the JVM, and other suites build stages on the shared
  // path, so only a dir no other suite has seen starts with nothing built
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("staging-spec")
    new java.io.File(SparkTestSession.sf0001).listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath, d.resolve(f.getName))
    }
    d.toString
  }

  test("stage labels are unique: the 38 per-query build rows plus the 5 shared ones") {
    val perQuery = Seq("x101_posting", "x117_minhash_index",
      "x139_jaccard_index", "x144_ivf_index", "x145_ivf2_index",
      "x152_ivf_append", "x153_minhash_append", "x154_ivf_retract",
      "x155_minhash_compact", "x156_ivf_compact", "x157_posting_append",
      "x158_stream_admit", "x159_managed_compact",
      "x160_stream_admit_compact", "x161_minhash_retract",
      "x162_ivf_managed_compact", "x163_zorder", "x164_posting_retract",
      "x166_stream_attrib", "x167_posting_managed",
      "x168_stream_ann_compact", "x169_stream_late_drop",
      "x170_engine_dedup", "x172_hive_layout", "x173_simhash_index",
      "x174_provenance_retract", "x176_minhash_retract_folded",
      "x177_ivf_retract_folded", "x178_bm25_index", "x182_bm25_append",
      "x183_bm25_retract", "x187_stream_bm25", "x190_bm25_managed",
      "x192_positional", "x194_positional_append",
      "x195_positional_retract", "x198_stream_decontam", "x200_chunk_bm25")
    val shared = Seq("minhash_template", "ivf_even_template",
      "posting_even_template", "bm25_template", "x151_ledger")
    val labels = Staging.all.map(_.label)
    labels.distinct should have size labels.size
    labels.toSet shouldBe (perQuery ++ shared).map("build_" + _).toSet
  }

  test("applying Staging.all in order builds exactly one stage per step") {
    Staging.paths(dir) shouldBe empty
    Staging.all.zipWithIndex.foreach { case (st, i) =>
      st(spark, dir)
      // a stage that forced one listed after it would add two labels here
      // and bill that build to its own row
      withClue(s"after ${st.label}: ") {
        Staging.paths(dir).map(_._1) shouldBe Staging.all.take(i + 1).map(_.label)
      }
    }
  }

  test("apply memoizes per fixture dir; fresh builds a new dir and leaves the memo") {
    val st = Staging.x152IvfAppend
    val first = st(spark, dir)
    val template = Staging.ivfEvenTemplate.path(dir)
    template should not be empty
    st(spark, dir) shouldBe first
    val again = st.fresh(spark, dir)
    again should not be first
    new java.io.File(again).list() should not be empty
    st.path(dir) shouldBe Some(first)
    Staging.ivfEvenTemplate.path(dir) shouldBe template
  }
}

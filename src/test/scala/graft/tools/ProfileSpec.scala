package graft.tools

import graft.SparkTestSession
import graft.queries.Staging
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class ProfileSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf0001

  test("names resolve to a catalog query, a build stage or a streaming row; unknown names list the known ones") {
    Seq("q01_filter_agg", "build_x101_posting", Staging.streamingBench.head._1)
      .foreach(n => noException should be thrownBy Profile.resolve(n))
    val e = the[IllegalArgumentException] thrownBy Profile.resolve("no_such_row")
    e.getMessage should include("no_such_row")
    e.getMessage should include("q01_filter_agg")
    e.getMessage should include("build_x101_posting")
    e.getMessage should include("stream_x144_ann_serve")
  }

  test("every rep of a build row runs the build: none is a memo hit") {
    val runs = Profile.profile(spark, sf, "build_x101_posting",
      Profile.resolve("build_x101_posting"), reps = 2)
    runs should have size 2
    runs.foreach { case (wall, stages) =>
      wall should be > 0.0
      stages should not be empty
    }
  }

  test("plan mode writes the PLANS.md header and one section per named query") {
    val out = java.nio.file.Files.createTempFile("profile-plans", ".md")
    val names = Seq("q01_filter_agg", "q07_groupby_agg")
    Profile.writePlans(spark, sf, out.toString, Profile.planEntries(names))
    val text = try java.nio.file.Files.readString(out)
      finally java.nio.file.Files.delete(out)
    text should startWith("# PLANS — physical plans of catalog queries")
    text.linesIterator.filter(_.startsWith("## ")).toSeq shouldBe names.map("## " + _)
    text should include("== Physical Plan ==")
    an[IllegalArgumentException] should be thrownBy Profile.planEntries(Seq("no_such_row"))
  }
}

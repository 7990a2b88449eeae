package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.tools.Profile.PlanCounts

/** [[Profile]]'s name resolver and its plan-mode counts. The pinned
  * counts are the ones the plan audit printed before it was folded into
  * `Profile plan`, so the merged tool counts the same way.
  */
class ProfileSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("resolver finds declared queries and internal builders") {
    assert(Profile.resolve("q04_tpch_q1")(spark, sf).columns.nonEmpty)
    assert(Profile.resolve("shingleset")(spark, sf).columns.nonEmpty)
  }

  test("an unknown name throws IllegalArgumentException naming it") {
    val e = intercept[IllegalArgumentException](Profile.resolve("q999_nope"))
    assert(e.getMessage.contains("q999_nope"))
  }

  test("plan counts at sf0.001 match the old plan audit") {
    def counts(name: String) = Profile.planCounts(Profile.resolve(name)(spark, sf))
    assert(counts("q04_tpch_q1") == PlanCounts(0, 1, 1))
    assert(counts("q128_range_join_bucketed") == PlanCounts(0, 2, 2))
  }
}

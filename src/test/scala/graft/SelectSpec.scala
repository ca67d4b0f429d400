package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.select]], the one query filter every harness main uses:
  * a typo must fail the run, never select nothing.
  */
class SelectSpec extends AnyFunSuite {

  test("None selects every registry query, sorted") {
    val all = SparkEntry.select(None)
    assert(all == SparkEntry.registry.map(_.name).sorted)
    assert(all.size == SparkEntry.queries.size)
  }

  test("a known subset is selected in the order given") {
    assert(SparkEntry.select(Some(Seq("ta_bm25", "q1_agg", "dx_clean"))) ==
      Seq("ta_bm25", "q1_agg", "dx_clean"))
    assert(SparkEntry.select(Some(Seq("q1_agg", "q1_agg"))) == Seq("q1_agg"))
  }

  test("an unknown name fails and every unknown name is listed") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some(Seq("q1_agg", "q1_aggg", "dx_cleen"))))
    assert(e.getMessage.contains("q1_aggg"), e.getMessage)
    assert(e.getMessage.contains("dx_cleen"), e.getMessage)
    assert(!e.getMessage.contains("q1_agg,"), e.getMessage)
  }

  test("an empty selection fails") {
    val e = intercept[IllegalArgumentException](SparkEntry.select(Some(Nil)))
    assert(e.getMessage.contains("empty"), e.getMessage)
  }
}

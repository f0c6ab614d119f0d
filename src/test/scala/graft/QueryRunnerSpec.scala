package graft

import org.scalatest.funsuite.AnyFunSuite

/** Query selection shared by every main. `withSession` is not exercised
  * here: `Sessions.local` is `getOrCreate`, so stopping it would stop the
  * suites' shared session. */
class QueryRunnerSpec extends AnyFunSuite {

  test("no names selects every query, in name order") {
    assert(QueryRunner.selected(Nil).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a subset keeps name order, whatever order it was asked in") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val subset = Seq(all(5), all(0), all(3))
    assert(QueryRunner.selected(subset).map(_._1) == Seq(all(0), all(3), all(5)))
  }

  test("an unknown name fails fast and is named") {
    val e = intercept[IllegalArgumentException] {
      QueryRunner.selected(Seq(SparkEntry.queries.keys.head, "q00_no_such_query"))
    }
    assert(e.getMessage.contains("q00_no_such_query"))
  }
}

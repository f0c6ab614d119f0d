package graft

/** PlanCache eviction semantics under concurrent sessions (service mode:
  * one `spark.newSession()` per request scope, shared SparkContext). */
class PlanCacheSpec extends SparkSpec {

  test("entries are session-scoped: two sessions never share or clobber") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val a = s1.range(10).toDF("n")
    val b = s2.range(20).toDF("n")
    try {
      val got1 = PlanCache.cached(s1, "sig")(a)
      val got2 = PlanCache.cached(s2, "sig")(b)
      assert(got1 eq a, "first build returns the built frame")
      assert(got2 eq b, "same key in another session is a separate entry")

      // same (session, key) → same reference, builder NOT re-invoked
      var rebuilt = false
      val again = PlanCache.cached(s1, "sig") {
        rebuilt = true; s1.range(1).toDF("n")
      }
      assert((again eq a) && !rebuilt)

      // clearing one session must not evict the other's entry
      PlanCache.clear(s1)
      var rebuilt2 = false
      val kept = PlanCache.cached(s2, "sig") {
        rebuilt2 = true; s2.range(1).toDF("n")
      }
      assert((kept eq b) && !rebuilt2,
        "clear(s1) evicted s2's entry — session scoping broken")

      // the cleared session rebuilds fresh on next use
      val fresh = PlanCache.cached(s1, "sig")(s1.range(2).toDF("n"))
      assert(!(fresh eq a), "clear(s1) must actually drop s1's entry")
    } finally {
      PlanCache.clear(s1)
      PlanCache.clear(s2)
    }
  }

  test("clear also drops the session's resolved tables, and only its own") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    try {
      Tables.region(s1, sf0001); Tables.nation(s1, sf0001)
      val kept = Tables.region(s2, sf0001)
      val before = Tables.resolvedCount
      PlanCache.clear(s1)
      assert(Tables.resolvedCount == before - 2,
        "clear(s1) must drop exactly s1's two resolved tables")
      assert(Tables.region(s2, sf0001) eq kept, "clear(s1) must keep s2's entry")
    } finally {
      PlanCache.clear(s1)
      PlanCache.clear(s2)
    }
  }
}

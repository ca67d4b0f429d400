package graft.core

import graft.SparkSpec

class CachedPlanAqeSpec extends SparkSpec {

  test("withCachedPlanAqe restores the session's prior value, or unsets it") {
    val s = spark.newSession()
    s.conf.set(CachedPlanAqe.ModeKey, "auto")
    s.conf.set(CachedPlanAqe.SparkKey, "true")
    CachedPlanAqe.withCachedPlanAqe(s) {
      assert(s.conf.get(CachedPlanAqe.SparkKey) == "true")
      s.range(1).toDF()
    }
    assert(s.conf.get(CachedPlanAqe.SparkKey) == "true")

    s.conf.unset(CachedPlanAqe.SparkKey)
    CachedPlanAqe.withCachedPlanAqe(s) {
      assert(s.conf.get(CachedPlanAqe.SparkKey) == "true")
      s.range(1).toDF()
    }
    assert(!s.conf.getAll.contains(CachedPlanAqe.SparkKey))
  }
}

package graft.ops

import graft.SparkSpec

class SkewJoinSpec extends SparkSpec {

  test("salted join returns exactly the plain join's rows on a skewed key") {
    import spark.implicits._
    // 10k rows of one hot key + a uniform tail
    val left = ((1 to 10000).map(_ => 1L) ++ (1L to 100L)).toDF("k")
    val right = (1L to 100L).map(k => (k, s"v$k")).toDF("rk", "v")
    val plain = left.join(right, $"k" === $"rk").groupBy("k").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = SkewJoin.saltedEquiJoin(left, right, "k", "rk", buckets = 8)
      .groupBy("k").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted === plain)
    assert(salted.contains((1L, 10001L)))
  }
}

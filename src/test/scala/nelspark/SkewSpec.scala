package nelspark

import nelspark.ops.Skew

/** Hot-key salting (SURVEY.md §4). */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin matches plain join results on a Zipfian key") {
    // hot key "smith" (900 rows), tail keys (100 rows)
    val left = ((1 to 900).map(i => (i.toLong, "smith")) ++
      (901 to 1000).map(i => (i.toLong, s"name$i"))).toDF("id", "name_norm")
    val right = (Seq(("smith", 10L), ("name950", 77L))).toDF("name_norm", "entity_id")
    val plain = left.join(right, "name_norm")
      .select("id", "entity_id").as[(Long, Long)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(left, right, "name_norm", "id", buckets = 8)
      .select("id", "entity_id").as[(Long, Long)].collect().sorted.toSeq
    assert(salted == plain)
    assert(plain.size == 901)
  }
}

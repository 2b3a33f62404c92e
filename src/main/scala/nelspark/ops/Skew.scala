package nelspark.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Explicit skew-handling primitives (north rule: "partitioning / shuffle
 * / skew handled explicitly"; SURVEY.md §4). Three mechanisms compose in
 * the engine:
 *
 *  1. block-size tiering in [[nelspark.pipeline.Block.pairs]] (cap the
 *     quadratic tier, chain the Zipfian head, purge stop-keys);
 *  2. AQE skew-join splitting (on by default as a runtime backstop);
 *  3. [[saltedJoin]] — explicit key salting for hot-key equi-joins
 *     (e.g. the alias-lookup join J1 where name frequency is Zipfian).
 */
object Skew {

  /**
   * Salted equi-join for a skewed LEFT side against a dimension RIGHT
   * side: left rows get a deterministic salt in [0, buckets); the right
   * side is exploded ×buckets so every (key, salt) matches. Hot keys
   * spread across `buckets` tasks instead of one straggler.
   *
   * Deterministic: salt = xxhash64 of the left row's salt-source column
   * (pass a unique id), never rand().
   */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      leftIdCol: String, buckets: Int): DataFrame = {
    val salted = left.withColumn("_salt",
      pmod(xxhash64(col(leftIdCol)), lit(buckets.toLong)).cast("int"))
    val exploded = right.withColumn("_salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(exploded, Seq(key, "_salt")).drop("_salt")
  }
}

package nelspark.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Offline "model tables" (FIXTURES.md §5) — the Spark-native replacement
 * for nel's redis/mongo model stores (nel/model/data.py + derived-stat
 * builds in nel/model/prepare/derived.py, reference absent at survey
 * time — SURVEY.md §0/§2.4). Each build is one groupBy/agg job writing a
 * parquet table; small tables broadcast into joins, large ones equi-join.
 *
 * Input `labeled`: (mention_id, url, name_norm, entity_id) — in nel these
 * come from corpus anchor links; here from the generator's gold labels or
 * from a previous clustering round (self-training).
 */
object ModelTables {

  /** aliases(name_norm, entity_id, cnt): alias → entity lookup (J1). */
  def aliases(labeled: DataFrame): DataFrame =
    labeled.groupBy("name_norm", "entity_id").agg(count(lit(1)).as("cnt"))

  /** entity_prior(entity_id, p): P(e) from link counts (A1,
    * nel/features/probability.py EntityProbability analog). The global
    * total is a 1-row count agg cross-joined back by broadcast — an
    * empty-partition window here would single-partition the entire
    * per-entity output (billions of rows at corpus scale; round-3
    * verdict #1, the Tfidf.pageVectors pattern). */
  def entityPrior(labeled: DataFrame): DataFrame = {
    val total = labeled.agg(count(lit(1)).as("tot"))
    labeled.groupBy("entity_id").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .withColumn("p", col("cnt") / col("tot"))
      .select("entity_id", "p")
  }

  /** name_prob(name_norm, entity_id, p): P(e|name) (A2, NameProbability). */
  def nameProb(labeled: DataFrame): DataFrame =
    aliases(labeled)
      .withColumn("p", col("cnt") / sum("cnt").over(Window.partitionBy("name_norm")))
      .select("name_norm", "entity_id", "p")

  /** entity_tfidf(entity_id, term, w): per-entity context BoW with tf-idf
    * weights, L2-normalized per entity (A4, nel/features/context.py). The
    * entity count is a 1-row agg cross-joined back by broadcast, as in
    * [[entityPrior]], so building the plan launches no job. */
  def entityTfidf(extracted: DataFrame, labeled: DataFrame): DataFrame = {
    val pageTerms = extracted
      .select(col("url"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    val entTerms = pageTerms
      .join(labeled.select("url", "entity_id").distinct(), Seq("url"))
      .groupBy("entity_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val nEntities = labeled.agg(approx_count_distinct("entity_id").as("n_ent"))
    val dfT = entTerms.groupBy("term").agg(count(lit(1)).as("df"))
    val weighted = entTerms.join(dfT, "term").crossJoin(broadcast(nEntities))
      .withColumn("w",
        col("tf") * (log((col("n_ent") + 1.0) / (col("df") + 1.0)) + 1.0))
    val norms = weighted.groupBy("entity_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    weighted.join(norms, "entity_id")
      .select(col("entity_id"), col("term"), (col("w") / col("nrm")).as("w"))
  }
}

package nelspark.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * The reference's candidate-ranking linking flow (nel batch-link:
 * candidate generation → feature extraction → FeatureRankResolver →
 * NIL resolution; nel/process/candidates.py + nel/features/ +
 * nel/process/resolve.py, reference absent at survey time — SURVEY.md
 * §0/§3.1), recast as four relational stages over the model tables
 * built by [[nelspark.model.ModelTables]]:
 *
 *   J1  candidate generation: salted equi-join mentions → aliases
 *       (name frequencies are Zipfian; Skew.saltedJoin spreads hot names)
 *   W2  top-N candidate cutoff by P(e|name) before expensive features
 *   J3+F12  feature assembly (entity prior, name prob, context cosine
 *       vs entity tf-idf) + linear combine with broadcast weights
 *   W1  argmax per mention + NIL threshold (score < tauNil → NIL, the
 *       reference's unlinkable marker)
 */
object Linker {

  case class Weights(prior: Double = 0.2, nameProb: Double = 0.4,
      ctx: Double = 0.4, tauNil: Double = 0.15, topN: Int = 8,
      saltBuckets: Int = 16)

  /** Context cosine for (mention, entity) pairs: page terms × entity
    * tf-idf sparse dot (both sides L2-normalized upstream). */
  private def ctxCosine(pairs: DataFrame, pageTerms: DataFrame,
      entityTfidf: DataFrame): DataFrame =
    pairs.select("mention_id", "url", "entity_id")
      .join(pageTerms, Seq("url"))
      .join(entityTfidf.withColumnRenamed("w", "we"), Seq("entity_id", "term"))
      .groupBy("mention_id", "entity_id")
      .agg(sum(col("w") * col("we")).as("ctx_cos"))

  /**
   * Candidate feature assembly (J1 → W2 → J3/L1): one row per surviving
   * (mention, candidate) with the three ranking features that [[link]]
   * scores.
   *
   * @return (mention_id, entity_id, p_prior, p_name, ctx_cos)
   */
  def candidateFeatures(mentions: DataFrame, pageTerms: DataFrame,
      entityPrior: DataFrame, nameProb: DataFrame, entityTfidf: DataFrame,
      topN: Int = 8, saltBuckets: Int = 16): DataFrame = {

    // J1: candidate generation (salted: hot alias keys spread)
    val cands = nelspark.ops.Skew.saltedJoin(
      mentions.select("mention_id", "url", "name_norm"),
      nameProb, "name_norm", "mention_id", saltBuckets)
      .withColumnRenamed("p", "p_name")

    // W2: top-N cutoff by P(e|name) before feature extraction
    val topW = Window.partitionBy("mention_id")
      .orderBy(desc("p_name"), asc("entity_id"))
    val top = cands.withColumn("rk", row_number().over(topW))
      .filter(col("rk") <= topN).drop("rk")

    // features: prior + context cosine (sparse dot via term join-agg —
    // entity vectors are L2-normalized; page weights normalized too)
    val withPrior = top.join(entityPrior.withColumnRenamed("p", "p_prior"),
      Seq("entity_id"), "left").na.fill(0.0, Seq("p_prior"))
    withPrior
      .join(ctxCosine(top, pageTerms, entityTfidf),
        Seq("mention_id", "entity_id"), "left")
      .na.fill(0.0, Seq("ctx_cos"))
  }

  /**
   * @param mentions    (mention_id, url, name_norm)
   * @param pageTerms   (url, term, w) page context vectors (unpacked)
   * @param aliases     (name_norm, entity_id, cnt)
   * @param entityPrior (entity_id, p)
   * @param nameProb    (name_norm, entity_id, p)
   * @param entityTfidf (entity_id, term, w)
   * @return (mention_id, entity_id nullable, score, is_nil)
   */
  def link(mentions: DataFrame, pageTerms: DataFrame, aliases: DataFrame,
      entityPrior: DataFrame, nameProb: DataFrame, entityTfidf: DataFrame,
      w: Weights = Weights()): DataFrame = {

    val feats = candidateFeatures(mentions, pageTerms, entityPrior, nameProb,
      entityTfidf, w.topN, w.saltBuckets)
      .withColumn("score",
        lit(w.prior) * col("p_prior") + lit(w.nameProb) * col("p_name") +
          lit(w.ctx) * col("ctx_cos"))

    // W1: argmax per mention (max_by avoids a sort) + NIL threshold
    val resolved = feats.groupBy("mention_id")
      .agg(max_by(col("entity_id"),
        // deterministic: max score, ties broken toward the smaller id
        struct(col("score"), (-col("entity_id")).as("tb"))).as("entity_id"),
        max("score").as("score"))
    // candidate-less mentions (alias miss) are NIL too — the reference
    // emits every mention with resolution either an entity or None
    mentions.select("mention_id")
      .join(resolved, Seq("mention_id"), "left")
      .na.fill(0.0, Seq("score"))
      .withColumn("is_nil", col("entity_id").isNull || col("score") < w.tauNil)
      .withColumn("entity_id",
        when(col("is_nil"), lit(null).cast("long")).otherwise(col("entity_id")))
  }
}

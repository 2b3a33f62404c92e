package nelspark

import nelspark.gen.CorpusGen
import nelspark.model.ModelTables
import nelspark.pipeline._
import org.apache.spark.sql.functions._

/** Candidate-ranking linker (J1→W2→J3/F12→W1 + NIL): train model tables
  * on one half of the corpus, link the other half, expect high accuracy
  * on aliased mentions and NIL for unknown names. */
class LinkerSpec extends SparkSpec {
  import spark.implicits._

  // shared fixture: generated corpus, even pages train / odd pages test
  private lazy val gen = CorpusGen.generate(spark, 1200L, 150L).cache()
  private lazy val extracted = Extract(CorpusGen.pages(gen)).cache()
  private lazy val mentions = Mentions(extracted).cache()
  private lazy val labeled = Evaluate.labeledMentions(mentions, CorpusGen.gold(gen))
    .join(mentions.select("mention_id", "url"), Seq("mention_id")).cache()
  private lazy val train = labeled.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
  private lazy val testSplit = labeled.filter(pmod(xxhash64(col("url")), lit(2)) === 1)

  private lazy val pageTerms = {
    val terms = extracted
      .select(col("url"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("url", "term").agg(count(lit(1)).cast("double").as("tf"))
    val n = extracted.count()
    val dfT = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val weighted = terms.join(dfT, "term")
      .withColumn("w0", col("tf") * (log(lit(n + 1.0) / (col("df") + 1.0)) + 1.0))
    val norms = weighted.groupBy("url").agg(sqrt(sum(col("w0") * col("w0"))).as("nrm"))
    weighted.join(norms, "url").select(col("url"), col("term"),
      (col("w0") / col("nrm")).as("w")).cache()
  }
  private lazy val aliasesT = ModelTables.aliases(train)
  private lazy val priorT = ModelTables.entityPrior(train)
  private lazy val nameProbT = ModelTables.nameProb(train)
  private lazy val tfidfT = ModelTables.entityTfidf(extracted, train)

  private def accuracies(w: Linker.Weights): (Double, Double, Long) = {
    val linked = Linker.link(
      mentions = testSplit.select("mention_id", "url", "name_norm"),
      pageTerms = pageTerms,
      aliases = aliasesT, entityPrior = priorT, nameProb = nameProbT,
      entityTfidf = tfidfT, w = w).cache()
    val eval = linked.join(testSplit.select(col("mention_id"),
      col("entity_id").as("gold_ent")), Seq("mention_id"))
    val n = eval.count()
    val acc = eval.filter(col("entity_id") === col("gold_ent")).count().toDouble / n
    val nonNil = eval.filter(!col("is_nil"))
    val accNonNil = nonNil.filter(col("entity_id") === col("gold_ent")).count().toDouble /
      math.max(nonNil.count(), 1L)
    (acc, accNonNil, n)
  }

  test("linker resolves mentions to gold entities via model tables") {
    val (acc, accNonNil, n) = accuracies(Linker.Weights())
    info(s"hand-weight linker: acc=$acc nonNilAcc=$accNonNil over $n test mentions")
    // test-half names unseen in train (typo'd variants) rightly go NIL;
    // among non-NIL predictions accuracy should be high
    assert(accNonNil >= 0.9, s"non-NIL accuracy $accNonNil")
    assert(acc >= 0.6, s"overall accuracy $acc")
  }

  test("unknown names resolve to NIL") {
    val mentions = Seq((1L, "u1", "completely unknown zorp")).toDF("mention_id", "url", "name_norm")
    val pageTerms = Seq(("u1", "zka", 1.0)).toDF("url", "term", "w")
    val aliases = Seq(("known name", 5L, 3L)).toDF("name_norm", "entity_id", "cnt")
    val prior = Seq((5L, 1.0)).toDF("entity_id", "p")
    val np = Seq(("known name", 5L, 1.0)).toDF("name_norm", "entity_id", "p")
    val tfidf = Seq((5L, "zka", 1.0)).toDF("entity_id", "term", "w")
    val linked = Linker.link(mentions, pageTerms, aliases, prior, np, tfidf)
    val rows = linked.collect()
    assert(rows.length == 0 || rows.forall(_.getAs[Boolean]("is_nil")))
  }
}

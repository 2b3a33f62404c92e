package nelspark

import nelspark.gen.CorpusGen
import nelspark.pipeline._
import nelspark.store.{ResumablePipeline, SnapshotStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end gate tests (SURVEY.md §5.4–5.5; BASELINE.json binding
  * metric: pairwise F1 ≥ 0.99 on labeled pairs at the shared blocking key). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val gen = CorpusGen.generate(spark, 2000L, 400L).cache()
  private lazy val pages = CorpusGen.pages(gen)
  private lazy val gold = CorpusGen.gold(gen)
  private lazy val result = Pipeline.run(spark, pages, gold)

  test("generator is deterministic and partition-count-independent") {
    val a = CorpusGen.generate(spark, 200L, 50L, partitions = 2)
      .select("url", "text", "entity_id").as[(String, String, Long)].collect().sortBy(_._1)
    val b = CorpusGen.generate(spark, 200L, 50L, partitions = 7)
      .select("url", "text", "entity_id").as[(String, String, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("extraction is byte-identical to the corpus text column (north rule invariant)") {
    val mismatch = Extract(pages)
      .withColumnRenamed("text", "re_text")
      .join(pages.select("url", "text"), "url")
      .filter(col("re_text") =!= col("text"))
      .count()
    assert(mismatch == 0L)
  }

  test("pairwise F1 >= 0.99 on labeled pairs at shared blocking key (BINDING GATE)") {
    val row = result.f1.head()
    val f1 = row.getAs[Double]("f1")
    val labeled = Evaluate.labeledPairs(
      Evaluate.labeledMentions(Mentions(Extract(pages)), gold))
    val negatives = labeled.filter(!col("is_match")).count()
    val positives = labeled.filter(col("is_match")).count()
    info(s"f1=$f1 tp=${row.getAs[Long]("tp")} fp=${row.getAs[Long]("fp")} " +
      s"fn=${row.getAs[Long]("fn")} labeledPos=$positives labeledNeg=$negatives")
    assert(positives > 1000, "gate must be non-trivial: enough positive pairs")
    assert(f1 >= 0.99, s"pairwise F1 gate failed: $f1")
  }

  test("clustering is deterministic across parallelism (local repartition probe)") {
    val cfg = ErConfig()
    // cached stages are shared by plan, so both runs cluster the same edges
    def assignments(edgeParts: Int) = Linkage(pages, cfg) { stage =>
      stage.name match {
        case "mentions" => stage.frame.cache()
        case "edges" => stage.frame.cache().repartition(edgeParts)
        case _ => stage.frame
      }
    }.clusters
    val a1 = assignments(2)
    val a2 = assignments(13)
    val d1 = a1.as[(Long, Long)].collect().sorted.toSeq
    val d2 = a2.as[(Long, Long)].collect().sorted.toSeq
    assert(d1 == d2)
  }

  test("connected components: known graphs (local AND distributed paths)") {
    // path 1-2-3-4, triangle 10-11-12, singleton 99
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("a_id", "b_id")
    val ids = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L)).toDF("mention_id")
    val expected = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (99L, 99L))
    for (cfg <- Seq(ErConfig(maxIter = 30),                  // local union-find
                    ErConfig(maxIter = 30, ccLocalMax = 0))) // distributed fixpoint
      assert(Cluster.connectedComponents(edges, ids, cfg)
        .as[(Long, Long)].collect().sorted.toSeq == expected)
  }

  test("connected components: long path converges in O(log n) rounds (distributed)") {
    val n = 500
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a_id", "b_id")
    val ids = (1 to n).map(_.toLong).toDF("mention_id")
    // exactly 9 rounds, as the fixpoint took before its exchanges were cut
    val rounds = 9
    val cfg = ErConfig(maxIter = rounds, ccLocalMax = 0)
    val (got, jobs) = countJobs(Cluster.connectedComponents(edges, ids, cfg).collect())
    intercept[IllegalStateException](
      Cluster.connectedComponents(edges, ids, cfg.copy(maxIter = rounds - 1)))
    assert(got.map(_.getLong(1)).distinct.toSeq == Seq(1L))
    assert(got.length == n)
    // per round: the checkpointed large-star + small-star (3 shuffle
    // stages and the checkpoint) and the one-aggregate star-forest test;
    // plus the edge checkpoint (which also counts the edges) and the
    // final assignment join. With an aggregate + semi-join star test and
    // an exchange of its own for small-star's window, this took 92.
    info(s"jobs=$jobs over $rounds rounds")
    assert(jobs <= 5 * rounds + 5, s"$jobs jobs")
  }

  test("local and distributed CC paths agree on a pseudo-random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 3000).map { _ =>
      (rnd.nextInt(800).toLong, rnd.nextInt(800).toLong)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("a_id", "b_id")
    val ids = (0 until 800).map(_.toLong).toDF("mention_id")
    val local = Cluster.connectedComponents(edges, ids, ErConfig(maxIter = 30))
      .as[(Long, Long)].collect().sorted.toSeq
    val dist = Cluster.connectedComponents(edges, ids,
      ErConfig(maxIter = 30, ccLocalMax = 0))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(local == dist)
  }

  test("chained mega-blocks still cluster hot entities (scale path)") {
    // force every block through the chain tier
    val cfg = ErConfig(cliqueMax = 2, chainWindow = 3)
    val res = Pipeline.run(spark, pages, gold, cfg)
    val f1 = res.f1.head().getAs[Double]("f1")
    info(s"chain-only f1=$f1 metrics=${res.metrics.head()}")
    res.mentions.unpersist(); res.assignments.unpersist()
    assert(f1 >= 0.98, s"chain-tier recall degraded: $f1")
  }

  test("chain tier emits exactly the window and anchor pairs of each sub-block") {
    // one name block of 9 (> cliqueMax: chained; its LSH blocks purged),
    // sub-blocked by context signature into ids 1-5 and ids 6-9
    val cfg = ErConfig(cliqueMax = 2, chainWindow = 3)
    val w = cfg.chainWindow
    val subBlocks = Seq((1L to 5L, Seq(1L, 2L, 3L, 4L)), (6L to 9L, Seq(5L, 6L, 7L, 8L)))
    val mentions = subBlocks.flatMap { case (ids, sig) =>
      ids.map(id => (id, "acme corp", s"u$id", sig))
    }.toDF("mention_id", "name_norm", "url", "ctx_sig")
    val (pairs, metrics) = Block.pairs(Block.keys(mentions, cfg), mentions, cfg)
    val got = pairs.select("a_id", "b_id", "a_norm", "b_norm", "a_url", "b_url")
      .as[(Long, Long, String, String, String, String)].collect().sorted.toSeq
    // (window pairs, anchor pairs) of one id-ordered sub-block
    def chain(ids: IndexedSeq[Long]) = (
      for (i <- ids.indices; j <- i + 1 to i + w if j < ids.size) yield (ids(i), ids(j)),
      for (j <- ids.indices if j > w; i <- 0 until w) yield (ids(i), ids(j)))
    assert(chain(1L to 5L)._2 == Seq((1L, 5L), (2L, 5L), (3L, 5L)))
    val expected = subBlocks.flatMap { case (ids, _) =>
      val (window, anchor) = chain(ids)
      window ++ anchor
    }.distinct.map { case (a, b) => (a, b, "acme corp", "acme corp", s"u$a", s"u$b") }.sorted
    assert(got == expected)
    val m = metrics.head()
    assert((m.getAs[Long]("n_blocks"), m.getAs[Long]("n_chained"),
      m.getAs[Long]("n_purged"), m.getAs[Long]("max_block")) ==
      (1L + cfg.bands, 1L, cfg.bands.toLong, 9L))
  }

  /** Row count and order-independent hash of `cols`. */
  private def fingerprint(df: DataFrame, cols: String*): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def hotCorpus(seed: Long) =
    CorpusGen.generate(spark, 2000L, 400L, seed, hotFrac = 0.6, hotEntities = 3)

  test("Block.pairs emits the pinned pair sets of the hot corpus, clique and chain tiers") {
    // pinned from the self-join form of Block.pairs (clique self-join,
    // chain tier joined back to the mentions for ctx_sig)
    val pinned = Seq(
      (1L, 200, 51132L, "-3124873066410018529642"),
      (3L, 200, 48611L, "-341033858140187206287"),
      (1L, 2, 48392L, "-2774627699973901725784"))
    for ((seed, group) <- pinned.groupBy(_._1)) {
      val extracted = Extract(CorpusGen.pages(hotCorpus(seed))).cache()
      for ((_, cliqueMax, n, hash) <- group) {
        val cfg = ErConfig(cliqueMax = cliqueMax)
        val mentions = Mentions(extracted, cfg)
        val (pairs, _) = Block.pairs(Block.keys(mentions, cfg), mentions, cfg)
        assert(fingerprint(pairs, "a_id", "b_id", "a_norm", "b_norm", "a_url", "b_url") ==
          ((n, BigDecimal(hash))), s"seed $seed, cliqueMax $cliqueMax")
      }
      extracted.unpersist()
    }
  }

  test("Block.pairs plans no join and at most two exchanges") {
    val mentions = Mentions(Extract(pages))
    val (pairs, _) = Block.pairs(Block.keys(mentions, ErConfig()), mentions, ErConfig(),
      Some(org.apache.spark.sql.Observation()))
    val plan = pairs.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, plan.treeString)
    assert(plan.collect { case x: Exchange => x }.size <= 2, plan.treeString)
  }

  test("Tfidf.pageVectors equals the explode + groupBy(url, term) form on the flat and hot corpora") {
    // the token count as a (url, term) shuffle of every token; the rest
    // of the vector build as in Tfidf.pageVectors
    def reference(extracted: DataFrame, topK: Int): DataFrame = {
      val terms = extracted
        .select(col("url"), explode(split(lower(col("text")), "\\s+")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("url", "term").agg(count("*").cast("double").as("tf"))
      val nDf = extracted.agg(approx_count_distinct("url").cast("double").as("n_docs"))
      terms
        .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
        .crossJoin(broadcast(nDf))
        .withColumn("w", col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
        .withColumn("rk", row_number().over(
          Window.partitionBy("url").orderBy(desc("w"), asc("term"))))
        .filter(col("rk") <= topK)
        .groupBy("url")
        .agg(collect_list(struct(xxhash64(col("term")).as("h"), col("w"))).as("hw"))
        .select(col("url"), sort_array(col("hw")).as("hw"))
        .withColumn("nrm", sqrt(expr("aggregate(hw, 0d, (acc, y) -> acc + y.w * y.w)")))
        .select(col("url"), expr("transform(hw, x -> x.h)").as("hs"),
          expr("transform(hw, x -> cast(x.w / nrm as float))").as("ws"))
    }
    for ((name, gen) <- Seq(
        "flat" -> CorpusGen.generate(spark, 1000L, 200L, seed = 1L, hotFrac = 0.0),
        "hot" -> hotCorpus(1L))) {
      val extracted = Extract(CorpusGen.pages(gen)).cache()
      val got = Tfidf.pageVectors(extracted)
      val want = reference(extracted, 32)
      assert(got.count() == want.count(), name)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, name)
      extracted.unpersist()
    }
  }

  test("Pipeline.run and ResumablePipeline.run assign the same clusters, on commit and on replay") {
    val gen = CorpusGen.generate(spark, 600L, 120L).cache()
    val res = Pipeline.run(spark, CorpusGen.pages(gen), CorpusGen.gold(gen))
    val inMemory = res.assignments.as[(Long, Long)].collect().sorted.toSeq
    val store = new SnapshotStore(spark, tempDir("nelspark-store"))
    def stored() = ResumablePipeline.run(spark, store, CorpusGen.pages(gen))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(stored() == inMemory) // commit
    assert(stored() == inMemory) // replay
    assert(store.snapshots.get.count() == 5L)
    res.mentions.unpersist(); res.assignments.unpersist(); gen.unpersist()
  }

  test("runners keep the caller's job description on every job they launch") {
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    val small = CorpusGen.pages(gen)
    val store = new SnapshotStore(spark, tempDir("nelspark-store"))
    val (_, descriptions) = jobDescriptions {
      spark.sparkContext.setJobDescription("caller span")
      try {
        val res = Pipeline.run(spark, small, CorpusGen.gold(gen))
        res.f1.collect()
        res.mentions.unpersist(); res.assignments.unpersist()
        ResumablePipeline.run(spark, store, small).collect() // commit
        ResumablePipeline.run(spark, store, small).collect() // replay
      } finally spark.sparkContext.setJobDescription(null)
    }
    gen.unpersist()
    assert(descriptions.nonEmpty)
    assert(descriptions.forall(_ == "caller span"), descriptions.distinct)
  }

  test("Tfidf.pageVectors launches no job at DAG-construction time") {
    val ex = Extract(pages)
    ex.count() // materialize inputs first — the probe targets pageVectors only
    // an eager head()/count() inside pageVectors would fire a job
    val (df, jobs) = countJobs(Tfidf.pageVectors(ex))
    assert(jobs == 0, s"plan construction launched $jobs job(s)")
    assert(df.columns.toSeq == Seq("url", "hs", "ws"))
  }

  test("block metrics report chained/purged tiers") {
    val m = result.metrics.head()
    assert(m.getAs[Long]("n_blocks") > 0)
    assert(m.getAs[Long]("max_block") > ErConfig().cliqueMax) // title block is mega
  }
}

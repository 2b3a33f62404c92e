package nelspark

import nelspark.ann.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN: exact baseline vs the pinned LSH and IVF scale paths over the
  * driver's embeddings testdata (64-dim float vectors). */
class AnnSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
  private lazy val queries = emb.filter(col("vec_id") < 20)

  /** Exactly k rows for EVERY query — countDistinct over the query set,
    * so a query returning zero rows fails instead of vanishing from the
    * groupBy (ADVICE r1). */
  private def assertKPerQuery(got: DataFrame, k: Int): Unit = {
    val nQueries = queries.count()
    assert(got.select(countDistinct("q_id")).head.getLong(0) == nQueries,
      "some query is missing from the result entirely")
    val bad = got.groupBy("q_id")
      .agg((count(lit(1)) =!= k).as("badn")).filter(col("badn")).count()
    assert(bad == 0)
  }

  /** Recall@k of an approximate result against the exact baseline. */
  private def recallAtK(exact: DataFrame, approx: DataFrame): Double = {
    val e = exact.select(col("q_id"), col("n_id"))
    val a = approx.select(col("q_id"), col("n_id"))
    val hit = e.join(a, Seq("q_id", "n_id"), "left_semi").count()
    val total = e.count()
    if (total == 0) 0.0 else hit.toDouble / total
  }

  /** Pinned IVF top-k (nlist=16, nprobe=8) with the quantizer trained on
    * `corpus` as given (its partitioning included) and cells assigned by
    * `nearest_cells`. */
  private def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val cent = Ann.trainIvf(c, nlist = 16, iters = 2, seed = 42L)
    val cells = c.select(col("n_id"),
      element_at(nelspark.functions.nearest_cells(col("n_emb"), cent, 1), 1)
        .as("cell"))
    Ann.ivfTopKPinned(cells, cent, queries, corpus, k, nprobe = 8)
  }

  test("brute-force top-k: k rows per query, sims sorted, self excluded") {
    val got = Ann.bruteForceTopK(queries, emb, 5).cache()
    assert(got.count() == 20L * 5)
    assert(got.filter(col("q_id") === col("n_id")).count() == 0)
    assertKPerQuery(got, 5)
  }

  test("pinned-LSH top-k reaches >=70% recall@5 vs exact") {
    // testdata embeddings are RANDOM vectors: top-5 neighbors sit at
    // cosine ~0.3, so per-bit sign agreement is only ~0.6 — the right
    // operating point is few bits x many tables. (Real embedding spaces
    // have NN cosine 0.7+, where bits=10 x 8 tables is the sweet spot.)
    val buckets = Ann.lshBuckets(emb, tables = 16, bits = 4, seed = 42L)
    val pinned = Ann.lshTopKPinned(buckets, queries, emb, 5)
    val recall = recallAtK(Ann.bruteForceTopK(queries, emb, 5), pinned)
    info(s"pinned lsh recall@5 = $recall")
    assert(recall >= 0.7, s"recall too low: $recall")
  }

  test("pinned-IVF top-k reaches >=60% recall@5 vs exact, k rows per query") {
    // random vectors are the IVF worst case (no cluster structure →
    // neighbors scatter across cells); nprobe=8 of nlist=16 probes half
    // the inverted lists. Real embedding corpora cluster, letting
    // nprobe/nlist shrink to a few percent at the same recall.
    val pinned = ivfTopK(queries, emb, 5).cache()
    try {
      val recall = recallAtK(Ann.bruteForceTopK(queries, emb, 5), pinned)
      info(s"pinned ivf recall@5 = $recall")
      assert(recall >= 0.6, s"recall too low: $recall")
      assertKPerQuery(pinned, 5)
    } finally pinned.unpersist()
  }

  test("IVF is deterministic across partitionings") {
    // the quantizer is retrained on each partitioning of the corpus
    val a = ivfTopK(queries.repartition(2), emb.repartition(3), 3)
      .collect().map(_.toString).sorted.toSeq
    val b = ivfTopK(queries.repartition(7), emb.repartition(1), 3)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("LSH bucketing is deterministic across partitionings") {
    def topK(queries: DataFrame, corpus: DataFrame): Seq[String] =
      Ann.lshTopKPinned(Ann.lshBuckets(corpus, tables = 8, bits = 10, seed = 42L),
        queries, corpus, 3).collect().map(_.toString).sorted.toSeq
    assert(topK(queries.repartition(2), emb.repartition(3)) ==
      topK(queries.repartition(7), emb.repartition(1)))
  }
}

package nelspark.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import nelspark.functions._

/**
 * Similarity search over an embedding column (`array<float>`):
 *
 *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline;
 *    linear scan per query (fine for bounded query sets, unusable as an
 *    all-pairs primitive at 10^12 rows);
 *  - [[lshTopKPinned]]: random-hyperplane (sign) LSH over the bucket keys
 *    of [[lshBuckets]] — the scale path. Each vector gets `tables` bucket
 *    keys from `bits` hyperplane signs; candidates = bucket collisions in
 *    any table; exact cosine re-rank of candidates only. Hyperplanes are
 *    derived deterministically from a seed (no RNG state, reproducible
 *    across runs/partitionings);
 *  - [[ivfTopKPinned]]: inverted-file search over the coarse quantizer
 *    that [[trainIvf]] trains.
 *
 * The same pattern (bucket → candidate join → exact re-rank) is how the
 * blocking pipeline treats names; this is its dense-vector sibling.
 */
object Ann {

  /** Exact cosine top-k for each query vector (queries small, corpus big). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val scored = q.join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosine_sim(col("q_emb"), col("n_emb")).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), asc("n_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("q_id", "rn", "n_id", "sim")
  }

  /** (vec_id, tbl, bkt) sign-LSH bucket keys — one SignLshBuckets call
    * per row + posexplode (index = table id). Builds the
    * [[nelspark.gen.Fixtures.ensureLshBuckets]] pinned cross-engine
    * fixture that [[lshTopKPinned]] reads. */
  def lshBuckets(df: DataFrame, tables: Int, bits: Int,
      seed: Long): DataFrame =
    df.select(col("vec_id"),
      posexplode(sign_lsh_buckets(col("embedding"), tables, bits, seed))
        .as(Seq("tbl", "bkt")))

  /** LSH-bucketed approximate top-k with the bucket keys supplied as a
    * table (the pinned cross-engine fixture path): candidates from bucket
    * collisions across the sign-LSH tables → pair dedup → exact re-rank.
    * The similarity is ROUNDED to 6 decimals BEFORE ranking so the rank
    * order is reproducible in any engine computing cosine to ≥ 1e-6 (the
    * q_ann_topk parity contract — ranking on the raw double would let a
    * sub-ULP disagreement flip near-ties).
    *
    * @param buckets (vec_id, tbl, bkt) for every corpus vector
    * @param queries subset of corpus rows serving as queries (bounded —
    *                broadcast for the vector join-back)
    */
  def lshTopKPinned(buckets: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val qIds = queries.select(col("vec_id").as("q_id"))
    val qb = buckets.join(broadcast(qIds), col("vec_id") === col("q_id"))
      .select(col("q_id"), col("tbl"), col("bkt"))
    val nb = buckets.select(col("vec_id").as("n_id"), col("tbl"), col("bkt"))
    val cands = qb.join(nb, Seq("tbl", "bkt"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
      .dropDuplicates("q_id", "n_id")
    val scored = cands
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"))), Seq("q_id"))
      .join(corpus.select(col("vec_id").as("n_id"),
        col("embedding").as("n_emb")), Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosine_sim(col("q_emb"), col("n_emb")), 6).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), asc("n_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("q_id", "rn", "n_id", "sim")
  }

  /** The IVF coarse-quantizer TRAINING behind
    * [[nelspark.gen.Fixtures.ensureIvf]] (the pinned fixture that
    * [[ivfTopKPinned]] reads). Input must carry (n_id, n_emb). Returns the
    * post-Lloyd centroid matrix.
    *
    * Centroids are deterministic: seed-hash-ordered sample of `nlist`
    * corpus vectors, refined by `iters` Lloyd steps. The centroid matrix
    * is the coarse-quantizer MODEL — nlist×dim floats, kilobytes — and
    * lives on the driver between steps; nearest-cell assignment is the
    * map-side [[nelspark.expr.NearestCells]] kernel against that matrix,
    * so a Lloyd step's only shuffle is the partial-aggregated per-cell
    * dimension mean (nlist×dim×partitions partial rows, corpus never
    * shuffled). Round-1 VERDICT item #3: the previous plan cross-joined
    * the corpus with the centroid table and took the argmax with a
    * row_number window, hash-shuffling |corpus|×nlist rows per step. */
  def trainIvf(c: DataFrame, nlist: Int, iters: Int,
      seed: Long): Array[Array[Float]] = {
    val spark = c.sparkSession
    import spark.implicits._
    // deterministic init: nlist corpus vectors in xxhash64(id, seed) order
    var cent: Array[Array[Float]] = c
      .withColumn("hk", xxhash64(col("n_id"), lit(seed)))
      .orderBy("hk", "n_id").limit(nlist)
      .select("n_emb").as[Array[Float]].collect()

    // Lloyd refinement: elementwise mean per cell (empty cells drop out
    // and surviving cells are renumbered densely — ids are internal;
    // cosine is norm-invariant so the mean needs no re-normalization).
    // The mean is quantized to 5 decimals before re-planting: avg()'s
    // double accumulation order depends on partition layout, and an
    // un-quantized ULP drift could flip a nearest-cell tie across runs
    // (ADVICE r1) — at 1e-5 resolution the assignment is structurally
    // partition-independent.
    for (_ <- 0 until iters) {
      cent = c
        .select(element_at(nearest_cells(col("n_emb"), cent, 1), 1).as("cell"),
          posexplode(col("n_emb")).as(Seq("pos", "v")))
        .groupBy("cell", "pos").agg(round(avg("v"), 5).as("mv"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
          x => x.getField("mv").cast("float")).as("c_emb"))
        .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
    }
    cent
  }

  /** IVF (inverted-file) approximate top-k — the second scale path beside
    * sign-LSH. A coarse quantizer of nlist centroids partitions the
    * corpus into cells (the inverted lists); each query probes only its
    * `nprobe` nearest cells and exact-cosine re-ranks those cells'
    * vectors. Cost per query ≈ nlist (centroid scan, broadcast) +
    * |probed cells| instead of |corpus|.
    *
    * The quantizer is supplied pinned (the cross-engine fixture path):
    * `cells` are the pinned (n_id, cell) corpus assignments, `cent` the
    * pinned centroid matrix. The query PROBE still runs the map-side
    * NearestCells kernel against `cent`; the oracle re-derives it from the
    * same pinned matrix. Similarity is rounded to 6 decimals BEFORE
    * ranking (see [[lshTopKPinned]]). */
  def ivfTopKPinned(cells: DataFrame, cent: Array[Array[Float]],
      queries: DataFrame, corpus: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val withVecs = cells.join(
      corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
      Seq("n_id"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = q.select(col("q_id"), col("q_emb"),
      explode(nearest_cells(col("q_emb"), cent, nprobe)).as("cell"))
    val scored = withVecs.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosine_sim(col("q_emb"), col("n_emb")), 6).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), asc("n_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("q_id", "rn", "n_id", "sim")
  }
}

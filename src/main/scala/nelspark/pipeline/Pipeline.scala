package nelspark.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import nelspark.functions._

/**
 * End-to-end record-linkage pipeline configuration (BASELINE.json
 * north_rule): extraction → mention detection → multi-pass blocking
 * (normalized name + char-n-gram MinHash/LSH) → pairwise scoring
 * (Jaro-Winkler / Levenshtein + TF-IDF cosine) → transitive clustering.
 *
 * Reference flow: nel's batch-link pipeline (nel/harness.py +
 * nel/process/, reference absent at survey time — SURVEY.md §0).
 */
case class ErConfig(
    ngramN: Int = 3,
    minhashK: Int = 12,
    bands: Int = 4,
    seed: Long = 42L,
    /** Blocks up to this size generate the full pair clique (quadratic). */
    cliqueMax: Int = 200,
    /** Oversized blocks (≤ chainMax) fall back to windowed chain pairs
      * over context-LSH sub-blocks — linear in block size; transitive
      * closure recovers the clique. Beyond chainMax a block is purged
      * (degenerate stop-name semantics; SparkER block purging, EDBT 2019). */
    chainMax: Int = 200000,
    chainWindow: Int = 3,
    /** Per-page context MinHash components used to sub-block mega blocks. */
    ctxK: Int = 4,
    /** Per-page TF-IDF vector length cap (top-K heaviest terms). */
    ctxTopK: Int = 32,
    wJw: Double = 0.45,
    wLev: Double = 0.15,
    wCtx: Double = 0.40,
    tau: Double = 0.72,
    /** Rounds the distributed connected-components fixpoint may take;
      * it throws if the edges are not a star forest by then. */
    maxIter: Int = 25,
    /** Edge count at or below which connected components runs as a
      * driver-local union-find (one job) instead of the distributed
      * large-star/small-star fixpoint. Both paths produce identical
      * clusters (tested); at web scale the distributed path always runs. */
    ccLocalMax: Long = 1000000L)

/** P1: deterministic text extraction over the pages table. */
object Extract {
  /** Recompute `text` from `html` with the pinned extractor (byte-identical
    * invariant: equals the corpus' `text` column; asserted in tests). */
  def apply(pages: DataFrame): DataFrame =
    pages.select(col("url"), col("warc_ts"), col("lang"),
      extract_text(col("html")).as("text"))
}

/** P2–P4: mention detection + normalization. One row per mention.
  * `ctx_sig` = per-page context MinHash components (used to sub-block
  * oversized blocks; 1-row "bands" so same-entity pages collide with
  * probability ≈ their token Jaccard per component). */
object Mentions {
  def apply(extracted: DataFrame, cfg: ErConfig = ErConfig()): DataFrame =
    extracted
      .filter(col("lang") === "en") // P6 predicate filter, pushed to scan
      .select(col("url"),
        minhash_signature(array_distinct(split(lower(col("text")), "\\s+")),
          cfg.ctxK, cfg.seed + 99).as("ctx_sig"),
        posexplode(extract_mentions(col("text"))).as(Seq("pos", "m")))
      .select(
        // Deterministic 64-bit mention id (url × begin); at true 10^12 scale
        // widen to a 128-bit pair — collision odds are noted in SURVEY §7.6.
        xxhash64(col("url"), col("m.begin")).as("mention_id"),
        col("url"), col("m.begin").as("begin"), col("m.end").as("end"),
        col("m.name").as("name"),
        normalize_name(col("m.name")).as("name_norm"),
        col("ctx_sig"))
      .filter(length(col("name_norm")) >= 2)
}

/** B1+B2: multi-pass blocking. Pass 1 = exact normalized-name key;
  * pass 2 = char-n-gram MinHash LSH band keys. */
object Block {
  /** (mention_id, name_norm, url, block_key, ctx_sig) — both passes
    * unioned. The pass is the `block_key` prefix: `n:` for the name pass,
    * `l:` for LSH. Mention attributes ride along so pair generation emits
    * fully-attributed pairs and the scorer needs NO join back to the
    * mention table (two fewer 10^?-row shuffles at any scale; no broadcast
    * assumption). `ctx_sig` rides on the name-pass row only (null on LSH
    * rows): only name blocks are ever chained, and the chain tier
    * sub-blocks by it without a join back to the mentions. */
  def keys(mentions: DataFrame, cfg: ErConfig): DataFrame = {
    // Single pass, not name-branch ∪ lsh-branch: the union form scanned
    // the mention table twice (two map stages, two reads of the cache /
    // two passes over 10^12 rows at corpus scale) to emit per row one
    // name key + `bands` LSH keys. One explode over the concatenated
    // key array emits the IDENTICAL rows in one scan.
    val noSig = lit(null).cast(mentions.schema("ctx_sig").dataType)
    mentions.select(col("mention_id"), col("name_norm"), col("url"),
      explode(concat(
        array(struct(concat(lit("n:"), col("name_norm")).as("block_key"),
          col("ctx_sig"))),
        transform(
          minhash_bands(
            minhash_ngrams(col("name_norm"), cfg.ngramN, cfg.minhashK, cfg.seed),
            cfg.bands),
          (bh, band) => struct(
            concat(lit("l:"), band, lit(":"), bh).as("block_key"),
            noSig.as("ctx_sig"))))).as("k"))
      .select(col("mention_id"), col("name_norm"), col("url"),
        col("k.block_key").as("block_key"), col("k.ctx_sig").as("ctx_sig"))
  }

  /**
   * Candidate pairs (a_id < b_id), deduped across passes (SET2), from one
   * windowed pass over the keys: a window on `block_key` sizes each block
   * and every kept row then emits its own pairs, so no join runs, across
   * the block table or back to the mentions (SparkER, EDBT 2019). Skew
   * handling is explicit and three-tiered (SURVEY.md §7.6.1):
   *
   *  - sz ≤ cliqueMax          → full clique: each row carries its block's
   *                              members (a collect_list over the same
   *                              window, ≤ cliqueMax long) and pairs with
   *                              those of larger id;
   *  - cliqueMax < sz ≤ chainMax → name blocks only: chain pairs inside
   *                              context-LSH sub-blocks (block_key,
   *                              ctx-minhash component), from ONE window
   *                              ordered by id: each mention pairs with
   *                              its next `chainWindow` neighbors (window
   *                              pairs), and every later mention with the
   *                              first `chainWindow` (anchor pairs).
   *                              Linear in block size; connected components
   *                              recovers the full cluster from the chain.
   *                              This is what keeps Zipfian head names
   *                              (hot entities) recallable WITHOUT an O(n²)
   *                              blow-up at 10^12 rows;
   *  - sz > chainMax, or an LSH block past cliqueMax → purged (degenerate
   *                              stop-name block; the SparkER
   *                              block-purging bound, EDBT 2019).
   *
   * Returns (pairs, metrics). Given `facts`, the job that runs the pairs
   * also observes the metrics row's four counts into it, from the one row
   * per block whose mention_id is the block's smallest. That equals the
   * metrics frame's distinct-block counts while mention ids are unique;
   * two mentions sharing an id (an xxhash64(url, begin) collision,
   * ROADMAP 4(d)) in one block would count it twice.
   *
   * @param mentions unused: the keys carry every mention attribute the
   *                 pairs need. Kept because the benchmark's
   *                 traced runner (nelbench/src/main/scala/nelbench/Er.scala)
   *                 passes it, so dropping it is a benchmark change.
   */
  def pairs(keys: DataFrame, mentions: DataFrame, cfg: ErConfig,
      facts: Option[Observation] = None): (DataFrame, DataFrame) = {
    // Block size via an unordered window count, NOT groupBy+join-back:
    // one exchange on block_key, and its hash partitioning + block_key
    // sort also serve the member list and the sub-block chain window
    // below (guide §2.4: share one exchange between operations keyed the
    // same way).
    val block = Window.partitionBy("block_key")
    val sized = keys.withColumn("sz", count(lit(1)).over(block))
    val named = col("block_key").startsWith("n:")
    val chained = named && col("sz") > cfg.cliqueMax && col("sz") <= cfg.chainMax
    val purged = col("sz") > cfg.chainMax || (!named && col("sz") > cfg.cliqueMax)
    // the block's smallest member flags its one row; the min shares the
    // sz window, so observing adds no exchange
    val k2 = facts.fold(sized) { o =>
      val first = col("first")
      sized.withColumn("first", col("mention_id") === min("mention_id").over(block))
        .observe(o, count(when(first, 1)).as("n_blocks"),
        count(when(first && chained, 1)).as("n_chained"),
        count(when(first && purged, 1)).as("n_purged"),
        max("sz").as("max_block"))
    }

    val m = struct(col("mention_id").as("id"), col("name_norm").as("norm"), col("url"))
    def pair(a: Column, b: Column): Column = struct(a.as("a"), b.as("b"))
    // tier 1: a clique row pairs with its block's members of larger id
    val clique = transform(filter(col("members"), x => x("id") > col("mention_id")),
      x => pair(m, x))
    // tier 2: chained mega-blocks, sub-blocked by context minhash component.
    // Name-pass only: a mega LSH block's members are (a) hot exact names —
    // already chained via their mega name block — or (b) stop-name n-gram
    // collisions (noise); generating chains for them re-shuffles the same
    // membership ~bands× times for zero recall. LSH keeps catching typo
    // variants through its SMALL blocks (tier 1), which is its entire job.
    // One window per sub-block, ordered by id: each row pairs with its
    // next `chainWindow` rows (local robustness), and every row past
    // W+1 also pairs with the first W rows (anchor/hub pairs: component
    // diameter ≈ 2, so connected components converges in O(1) rounds
    // instead of O(log blockSize)). Rows 2..W+1 already reach the first
    // W rows through the window pairs. Ordered by mention_id ⇒ a_id < b_id.
    // The block_key partitioning satisfies this window: no exchange.
    val w = Window.partitionBy("block_key", "bi", "bv").orderBy("mention_id")
    val fromStart = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ks = 1 to cfg.chainWindow
    val pastWindow = row_number().over(w) > cfg.chainWindow + 1
    val chain = array(
      ks.map(k => pair(m, lead(m, k).over(w))) ++
        ks.map(k => when(pastWindow, pair(nth_value(m, k).over(fromStart), m))): _*)

    // a clique row has no sub-block (bi null); a chained row has no members
    val p = k2
      .filter(!purged)
      .withColumn("members", collect_list(when(col("sz") <= cfg.cliqueMax, m)).over(block))
      .select(col("block_key"), col("mention_id"), col("name_norm"), col("url"),
        col("members"), posexplode_outer(when(chained, col("ctx_sig"))).as(Seq("bi", "bv")))
      .select(when(col("bi").isNull, clique).otherwise(chain).as("ps"))
      .select(explode(col("ps")).as("p"))
      .filter(col("p.b").isNotNull)
      .select(col("p.a.id").as("a_id"), col("p.b.id").as("b_id"),
        col("p.a.norm").as("a_norm"), col("p.b.norm").as("b_norm"),
        col("p.a.url").as("a_url"), col("p.b.url").as("b_url"))
      .dropDuplicates("a_id", "b_id") // dedupe BEFORE scoring (SET2 barrier)

    val metrics = sized.select("block_key", "sz").distinct()
      .agg(
        count("*").as("n_blocks"),
        sum(when(chained, 1L).otherwise(0L)).as("n_chained"),
        sum(when(purged, 1L).otherwise(0L)).as("n_purged"),
        max("sz").as("max_block"))
    (p, metrics)
  }
}

/** A3–A4 + J3: page-level TF-IDF vectors for context cosine.
  * Vectors are PACKED per page as h-sorted array<struct<h,w>> so the
  * pair cosine is a single merge-scan expression (no term-level shuffle
  * per pair — the explode/join/re-agg plan shuffled O(pairs × terms)
  * rows and dominated the bench at 50k pages). */
object Tfidf {
  /** (url, hs: array<long> sorted asc, ws: array<float>) — parallel
    * primitive arrays (compact UnsafeArrayData through shuffles),
    * L2-normalized, pruned to the topK heaviest terms per page (web pages
    * have thousands of distinct terms at 10^12 scale; pruning bounds both
    * vector length and pair-scoring payload). */
  def pageVectors(extracted: DataFrame, topK: Int = 32): DataFrame = {
    // tf is a per-row value: each page is one row (one row per url, as
    // mention_id assumes), so the counts come from a hash count inside the
    // row instead of a (url, term) shuffle of every token
    val terms = extracted
      .select(col("url"), explode(term_counts(split(lower(col("text")), "\\s+"))).as("t"))
      .select(col("url"), col("t.term").as("term"), col("t.tf").as("tf"))
    // N arrives via a broadcast 1-row cross join (same form as q_tfidf) —
    // an eager .head() here forced a full corpus scan at DAG-CONSTRUCTION
    // time, before the caller even acts on the plan (round-2 advice)
    val nDf = extracted.agg(
      approx_count_distinct("url").cast("double").as("n_docs"))
    // df falls out of tf as a window count — each (url, term) row IS one
    // distinct doc (the q_tfidf form): one exchange on term replaces the
    // groupBy(term) agg + join-back pair, and the tf subtree (tokenize +
    // count) is computed once instead of twice.
    val weighted = terms
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(nDf))
      .withColumn("w",
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
    val topped = weighted
      .withColumn("rk", row_number().over(
        Window.partitionBy("url").orderBy(desc("w"), asc("term"))))
      .filter(col("rk") <= topK)
    // pack: re-normalize over kept terms, sort by term hash for merge scan
    topped
      .groupBy("url")
      .agg(collect_list(struct(xxhash64(col("term")).as("h"), col("w"))).as("hw"))
      .select(col("url"), sort_array(col("hw")).as("hw"))
      .withColumn("nrm", sqrt(expr("aggregate(hw, 0d, (acc, y) -> acc + y.w * y.w)")))
      .select(col("url"),
        expr("transform(hw, x -> x.h)").as("hs"),
        expr("transform(hw, x -> cast(x.w / nrm as float))").as("ws"))
  }
}

/** F3/F4/F12: batched pairwise scoring. */
object Score {
  /**
   * (a_id, b_id, jw, lev_ratio, ctx_cos, score). Name features are
   * computed on the normalized names each pair row carries from
   * [[Block.pairs]]; a pair whose score cannot reach τ even at
   * ctx_cos = 1 is dropped before the context joins. The context cosine
   * is a sparse dot product of the two pages' packed vectors, joined to
   * every surviving pair by a_url and then by b_url.
   *
   * @param mentions unused: the pairs carry every mention attribute the
   *                 score needs. Kept because the benchmark's
   *                 traced runner (nelbench/src/main/scala/nelbench/Er.scala)
   *                 passes it, so dropping it is a benchmark change.
   */
  def apply(pairs: DataFrame, mentions: DataFrame, pageVecs: DataFrame,
      cfg: ErConfig): DataFrame = {
    // pairs arrive fully attributed from Block.pairs (a/b norm + url) —
    // no join back to the mention table at any scale.
    val named = pairs
      .withColumn("jw", jaro_winkler(col("a_norm"), col("b_norm")))
      .withColumn("lev_ratio", levenshtein_ratio(col("a_norm"), col("b_norm")))
      // cascade: a pair whose best-possible score (ctx_cos = 1) cannot
      // reach τ will never become an edge — drop it BEFORE the expensive
      // context joins. Name features are cheap codegen'd scalar exprs;
      // the context cosine requires shuffling vector payloads.
      .filter(lit(cfg.wJw) * col("jw") + lit(cfg.wLev) * col("lev_ratio")
        + lit(cfg.wCtx) >= cfg.tau)
      // norm strings are consumed above — dropping them here keeps them
      // out of BOTH context-join shuffles (~60B/row × pair count × 2)
      .select("a_id", "b_id", "a_url", "b_url", "jw", "lev_ratio")
    // two vec joins by url; the sparse_dot projection drops the vector
    // payloads immediately so only narrow rows continue downstream
    named
      .join(pageVecs.withColumnsRenamed(
        Map("url" -> "a_url", "hs" -> "a_hs", "ws" -> "a_ws")), Seq("a_url"))
      .join(pageVecs.withColumnsRenamed(
        Map("url" -> "b_url", "hs" -> "b_hs", "ws" -> "b_ws")), Seq("b_url"))
      .select(col("a_id"), col("b_id"), col("jw"), col("lev_ratio"),
        nelspark.functions.sparse_dot_arrays(col("a_hs"), col("a_ws"),
          col("b_hs"), col("b_ws")).as("ctx_cos"))
      .withColumn("score",
        lit(cfg.wJw) * col("jw") + lit(cfg.wLev) * col("lev_ratio") +
          lit(cfg.wCtx) * col("ctx_cos"))
  }

  /** Edges above the match threshold τ. */
  def edges(scored: DataFrame, cfg: ErConfig): DataFrame =
    scored.filter(col("score") >= cfg.tau).select("a_id", "b_id")
}

/**
 * G1: transitive closure via alternating large-star / small-star
 * connected components on DataFrames (Kiveris et al., "Connected
 * Components in MapReduce and Beyond", SoCC 2014). O(log n) rounds;
 * per-round localCheckpoint truncates lineage. No GraphFrames / no RDDs.
 * Each star step reads its neighbourhood minimum from one window over
 * its edges (no aggregate joined back onto them), then dedupes.
 */
object Cluster {

  /** Emits (v, mn) for each neighbour v > u of each node u, where mn is
    * the minimum of u's neighbourhood. Every output edge has a_id > b_id
    * (b_id = least(mn, u) ≤ u < v = a_id), and the output is
    * hash-partitioned on a_id: that serves this dedupe and the next
    * small-star's window, which then needs no exchange of its own. */
  private def largeStar(e: DataFrame): DataFrame =
    e.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionAll(e.select(col("b_id").as("u"), col("a_id").as("v")))
      .withColumn("mn", min("v").over(Window.partitionBy("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("a_id"), least(col("mn"), col("u")).as("b_id"))
      .repartition(col("a_id"))
      .dropDuplicates("a_id", "b_id")

  /** Reads large-star's edges (a_id > b_id) as u = a_id, v = b_id. Emits
    * (v, mn) for each edge and (u, mn) for each node u; the self-edge
    * (mn, mn) is filtered out, so a_id > b_id on the output too. */
  private def smallStar(e: DataFrame): DataFrame =
    e.select(col("a_id").as("u"), col("b_id").as("v"))
      .withColumn("mn", min("v").over(Window.partitionBy("u")))
      .select(explode(array(
        struct(col("v").as("a_id"), col("mn").as("b_id")),
        struct(col("u").as("a_id"), col("mn").as("b_id")))).as("e"))
      .select("e.a_id", "e.b_id")
      .filter(col("a_id") =!= col("b_id"))
      .dropDuplicates("a_id", "b_id")

  /** The alternating large/small-star fixpoint is exactly a star forest:
    * every child (a_id) has ONE parent and no parent is itself a child.
    * Both steps preserve component connectivity and leave star forests
    * unchanged (Kiveris et al., SoCC 2014), so testing the structural
    * property converges one full iteration EARLIER than
    * edge-set-equality-with-previous — it skips the redundant confirm
    * round (~6 shuffles) entirely. One aggregate over the
    * localCheckpoint'ed edges: per node, its parent count and whether it
    * is a parent; the offending nodes are counted in the same job. */
  private def isStarForest(e: DataFrame): Boolean = {
    val bad = Observation()
    e.select(explode(array(
        struct(col("a_id").as("node"), lit(1).as("parents"), lit(false).as("parent")),
        struct(col("b_id").as("node"), lit(0).as("parents"), lit(true).as("parent")))).as("x"))
      .groupBy(col("x.node"))
      .agg(sum(col("x.parents")).as("parents"), max(col("x.parent")).as("parent"))
      .observe(bad, count(when(col("parents") > 1 || (col("parents") === 1 && col("parent")), 1))
        .as("n"))
      .write.format("noop").mode("overwrite").save()
    bad.get("n").asInstanceOf[Long] == 0L
  }

  /** Driver-local union-find over a collected edge array; cluster id =
    * min member id (same contract as the distributed path — CC tests
    * assert both paths agree on the same graphs). */
  private def localUnionFind(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, java.lang.Long](rows.length * 2)
    def find(x: Long): Long = {
      var r = x
      var p = parent.get(r)
      while (p != null && p.longValue != r) { r = p.longValue; p = parent.get(r) }
      // path compression
      var c = x
      while (c != r) { val n = parent.get(c).longValue; parent.put(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val a = find(row.getLong(0)); val b = find(row.getLong(1))
      if (a != b) {
        // smaller root wins → root IS the min member id
        if (a < b) parent.put(b, a) else parent.put(a, b)
      }
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    parent.keySet().forEach { k => out += ((k.longValue, find(k.longValue))) }
    out.toSeq
  }

  /**
   * @param edges    (a_id, b_id) undirected match edges
   * @param allIds   one-column DF of every node id (singletons included)
   * @return         (mention_id, cluster_id) with cluster_id = min member id
   */
  def connectedComponents(edges: DataFrame, allIds: DataFrame,
      cfg: ErConfig): DataFrame = {
    // the edge count is observed in the checkpoint's own job
    val counted = Observation()
    var e = edges.select("a_id", "b_id").observe(counted, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val sess = e.sparkSession
    val n0 = counted.get("n").asInstanceOf[Long]

    val assign: DataFrame =
      if (n0 <= cfg.ccLocalMax) {
        // Small-graph fast path: below ~10^6 edges the distributed
        // fixpoint pays 5+ shuffle rounds of near-empty partitions per
        // iteration for a graph that fits in driver memory many times
        // over — one collect + union-find is both faster and exact. At
        // web scale n0 exceeds the bound on the first call and the
        // distributed loop below always runs.
        import sess.implicits._
        sess.createDataset(localUnionFind(e.collect()))
          .toDF("mention_id", "cluster_id")
      } else {
        // Size the fixpoint loop's shuffles to the LIVE edge count, not
        // the session default: ~100k edges/partition keeps partitions
        // in memory while avoiding near-empty tasks; at web scale the
        // count clamps to the session default (plans unchanged).
        val sessParts = sess.conf.get("spark.sql.shuffle.partitions").toInt
        val loopParts = math.max(1L, math.min(sessParts.toLong, n0 / 100000L + 1L)).toInt
        val prevParts = sess.conf.getOption("spark.sql.shuffle.partitions")
        var it = 0
        var converged = false
        try {
          // (measured: disabling AQE inside the loop is ~40% SLOWER —
          // its tiny-stage coalescing earns more than its replanning costs)
          if (loopParts < sessParts) sess.conf.set("spark.sql.shuffle.partitions", loopParts)
          while (it < cfg.maxIter && !converged) {
            e = smallStar(largeStar(e)).localCheckpoint(true)
            converged = isStarForest(e)
            it += 1
          }
        } finally {
          prevParts.foreach(p => sess.conf.set("spark.sql.shuffle.partitions", p))
        }
        System.err.println(s"[cc] distributed fixpoint: iters=$it edges0=$n0 loopParts=$loopParts")
        if (!converged) throw new IllegalStateException(
          s"connected components did not converge in maxIter = ${cfg.maxIter} rounds")
        // a star forest: each child has exactly one parent, its cluster
        // id, and no root is a child (roots fall to the coalesce below)
        e.select(col("a_id").as("mention_id"), col("b_id").as("cluster_id"))
      }

    val idCol = allIds.columns.head
    allIds.select(col(idCol).as("mention_id"))
      .join(assign, Seq("mention_id"), "left")
      .select(col("mention_id"),
        coalesce(col("cluster_id"), col("mention_id")).as("cluster_id"))
  }
}

/** J4 + A6: pairwise evaluation against gold labels at the shared blocking key. */
object Evaluate {

  /** Gold-labeled mentions: detected mentions that exactly match the
    * generated surface on their page. (mention_id, entity_id, name_norm) */
  def labeledMentions(mentions: DataFrame, gold: DataFrame): DataFrame =
    mentions.join(gold.withColumnRenamed("surface", "name"), Seq("url", "name"))
      .select("mention_id", "entity_id", "name_norm")

  /** labeled_pairs fixture (FIXTURES.md §2): pairs sharing the
    * normalized-name blocking key; is_match = same entity. */
  def labeledPairs(labeled: DataFrame): DataFrame = {
    val a = labeled.withColumnsRenamed(Map(
      "mention_id" -> "a_id", "entity_id" -> "a_ent"))
    val b = labeled.withColumnsRenamed(Map(
      "mention_id" -> "b_id", "entity_id" -> "b_ent"))
    a.join(b, Seq("name_norm"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("name_norm").as("block_key"),
        (col("a_ent") === col("b_ent")).as("is_match"))
  }

  /** Pairwise P/R/F1 of predicted co-clustering vs labeled pairs (1 row). */
  def pairwiseF1(labeledPairs: DataFrame, assignments: DataFrame): DataFrame = {
    val ca = assignments.withColumnsRenamed(Map(
      "mention_id" -> "a_id", "cluster_id" -> "a_cl"))
    val cb = assignments.withColumnsRenamed(Map(
      "mention_id" -> "b_id", "cluster_id" -> "b_cl"))
    labeledPairs
      .join(ca, Seq("a_id")).join(cb, Seq("b_id"))
      .withColumn("pred", col("a_cl") === col("b_cl"))
      .agg(
        sum(when(col("is_match") && col("pred"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("is_match") && col("pred"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("is_match") && !col("pred"), 1L).otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        (col("tp") / greatest(col("tp") + col("fp"), lit(1L))).as("precision"),
        (col("tp") / greatest(col("tp") + col("fn"), lit(1L))).as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(lit(0.0)))
  }
}


/**
 * The linkage DAG, wired once: extract → mentions → pairs → edges →
 * clusters. Side outputs: the page vectors, built from the extracted text
 * and read by `edges`, and the block metrics of `pairs`. A runner
 * supplies only its behaviour at each stage boundary. [[Linkage.Prefix]]
 * (pages → mentions + vectors) and [[Linkage.Suffix]] (mentions + vectors
 * → clusters) also run alone.
 */
object Linkage {
  /** A stage handed to the runner at its boundary. `frame` is built on
    * first use, so a runner that replays the stage never builds it.
    * `facts`, if the stage has any, is filled by the first job that runs
    * `frame`: the block counts of `pairs`, `n_clusters` of `clusters`. */
  final class Stage(val name: String, build: => DataFrame,
      val facts: Option[Observation] = None) {
    lazy val frame: DataFrame = build
  }

  /** A runner's behaviour at a stage boundary: returns the frame that the
    * later stages read. */
  type Boundary = Stage => DataFrame

  final class Prefix(pages: DataFrame, cfg: ErConfig, at: Boundary) {
    val extracted: DataFrame = at(new Stage("extract", Extract(pages)))
    val mentions: DataFrame = at(new Stage("mentions", Mentions(extracted, cfg)))
    lazy val vectors: DataFrame = Tfidf.pageVectors(extracted, cfg.ctxTopK)
  }

  /** `vectors` is evaluated only if `edges` is built. */
  final class Suffix(val mentions: DataFrame, vectors: => DataFrame, cfg: ErConfig,
      at: Boundary) {
    private val pairFacts = Observation()
    private val clusterFacts = Observation()
    private lazy val blocked =
      Block.pairs(Block.keys(mentions, cfg), mentions, cfg, Some(pairFacts))
    val pairs: DataFrame = at(new Stage("pairs", blocked._1, Some(pairFacts)))
    def blockMetrics: DataFrame = blocked._2
    lazy val scored: DataFrame = Score(pairs, mentions, vectors, cfg)
    val edges: DataFrame = at(new Stage("edges", Score.edges(scored, cfg)))
    // a cluster id is its smallest member's id, so one row per cluster
    // has mention_id = cluster_id (while mention ids are unique, as
    // Block.pairs's facts assume)
    val clusters: DataFrame = at(new Stage("clusters",
      Cluster.connectedComponents(edges, mentions.select("mention_id"), cfg)
        .observe(clusterFacts,
          count(when(col("mention_id") === col("cluster_id"), 1)).as("n_clusters")),
      Some(clusterFacts)))
  }

  def apply(pages: DataFrame, cfg: ErConfig)(at: Boundary): Suffix = {
    val prefix = new Prefix(pages, cfg, at)
    new Suffix(prefix.mentions, prefix.vectors, cfg, at)
  }
}

/** The in-memory runner of [[Linkage]], with pairwise F1 against gold
  * labels. The snapshot-store runner is [[nelspark.store.ResumablePipeline]]. */
object Pipeline {
  case class Result(mentions: DataFrame, assignments: DataFrame,
      metrics: DataFrame, f1: DataFrame)

  def run(spark: SparkSession, pages: DataFrame, gold: DataFrame,
      cfg: ErConfig = ErConfig()): Result = {
    val dag = Linkage(pages, cfg) { stage =>
      stage.name match {
        case "mentions" =>
          // Eager cache fill, ONE job, before the fan-out: downstream the
          // DAG has independent AQE leaf stages (block pairs, tfidf, eval
          // join) that are submitted concurrently —
          // against a COLD cache every one of them recomputes
          // generation+extraction end to end (measured: 8 × ~15 task-s of
          // duplicated work at 2k pages, >75% of the flagship's total
          // CPU). One count() materializes mentions (and, transitively,
          // any cached upstream corpus) exactly once. The level is
          // stated: memory, spilling to disk, as cache() would pick.
          val mentions = stage.frame.persist(StorageLevel.MEMORY_AND_DISK)
          mentions.count(): Unit
          mentions
        case "clusters" => stage.frame.cache()
        case _ => stage.frame
      }
    }
    val labeled = Evaluate.labeledMentions(dag.mentions, gold)
    val f1 = Evaluate.pairwiseF1(Evaluate.labeledPairs(labeled), dag.clusters)
    Result(dag.mentions, dag.clusters, dag.blockMetrics, f1)
  }
}

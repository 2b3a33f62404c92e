package nelspark

import org.apache.spark.sql.SparkSession
import nelspark.util.Parquet

/**
 * spark-submit / sbt-run entry point. Modes:
 *   exprdemo <outDir>                — exercise the custom expression
 *                                      surface; write parquet samples.
 *   pipeline [nPages nEntities]      — the full ER pipeline and its F1.
 *   bench <nPages> <cores> <outJson> — one scaling-bench level.
 *   explain <outFile>                — plans of the stages and key queries.
 */
object Main {
  /**
   * Shuffle-dir policy (round-2 post-mortem, VERDICT.md): tmpfs shuffle
   * dirs are RAM-speed (right for the scaling bench) but count against the
   * box's 125 GiB memory cgroup, and a SIGKILLed JVM leaks them FOREVER —
   * 33 GB of stale /dev/shm/nelspark-local helped kernel-OOM the driver's
   * round-2 Verify/Bench runs. So:
   *   1. each JVM gets its own /dev/shm/nelspark-local/<pid> dir, swept on
   *      clean exit by a shutdown hook;
   *   2. every session startup sweeps sibling dirs whose pid is no longer
   *      alive (exact liveness via /proc/<pid> — no mtime heuristics);
   *   3. if tmpfs is already >50% used after the sweep (a co-tenant is
   *      holding it), fall back to /tmp rather than compete for the cgroup.
   */
  def localDir(): String = {
    val shm = new java.io.File("/dev/shm")
    if (!shm.isDirectory) return "/tmp"
    val base = new java.io.File(shm, "nelspark-local")
    import nelspark.gen.Fixtures.rmTree
    if (base.isDirectory) {
      Option(base.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { d =>
        val pidAlive = d.getName.nonEmpty && d.getName.forall(_.isDigit) &&
          new java.io.File(s"/proc/${d.getName}").isDirectory
        // non-pid-named entries are pre-round-3 leftovers — always stale
        if (!pidAlive) rmTree(d)
      }
    }
    val usedFrac = 1.0 - shm.getUsableSpace.toDouble / math.max(shm.getTotalSpace, 1L).toDouble
    if (usedFrac > 0.5) "/tmp"
    else {
      val mine = new java.io.File(base, ProcessHandle.current().pid().toString)
      mine.mkdirs()
      sys.addShutdownHook(rmTree(mine))
      mine.getAbsolutePath
    }
  }

  def session(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("nelspark")
      // 4x cores: heavy mega-block groups (hot entities) must spread
      // across many more partitions than cores or one straggler task
      // caps the whole stage; AQE parallelism-first keeps them >= cores
      .config("spark.sql.shuffle.partitions", (math.max(cores.toInt, 1) * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // keep post-shuffle parallelism ≥ cores: without this, AQE coalesces
      // shuffles to 64MB chunks and a local[32] run executes ~5-wide
      // (measured: 4-5 busy threads of 32)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // InferFiltersFromGenerate synthesizes size(g)>0 && isnotnull(g)
      // below every posexplode and pushdown inlines the generator input
      // into both predicates — our generate inputs are expensive computed
      // arrays (MinHash signatures, mention spans), so the "free" filter
      // TRIPLES the kernel cost per row (measured 0.91s -> 0.52s on the
      // band self-join at sf0.1; at corpus scale it is 3x extraction).
      // Empty arrays are rare in this workload, so the skip it buys is
      // worthless.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // allow shuffled-hash joins where a side's per-partition build fits
      // (guide §3.1/§9): SMJ pays two full sorts that SHJ skips; AQE can
      // additionally rewrite SMJ→SHJ at runtime under the local-map
      // threshold. Sort-merge remains the spill-safe fallback above the
      // threshold at any scale.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // input splits: small dense parquet (≈30MB for 500k mentions) must
      // still fan out across cores
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle files on tmpfs: local[N] shuffles are RAM-speed, so the
      // two-level scaling bench measures compute, not /tmp disk bandwidth.
      // Per-pid dir + stale sweep + >50%-full fallback: see localDir().
      .config("spark.local.dir", localDir())
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "exprdemo" :: outDir :: Nil => exprDemo(session(), outDir)
    case "pipeline" :: rest =>
      val nPages = rest.headOption.map(_.toLong).getOrElse(5000L)
      val nEntities = if (rest.length > 1) rest(1).toLong else nPages / 5
      runPipeline(session(), nPages, nEntities)
    case "bench" :: nPagesS :: coresS :: outPath :: Nil =>
      scalingBench(nPagesS.toLong, coresS, outPath)
    case "explain" :: outPath :: Nil => explainPlans(session("4"), outPath)
    case other => sys.error(s"unknown mode: $other (expected: exprdemo <outDir> | pipeline [nPages nEntities] | bench <nPages> <cores> <outJson> | explain <outFile>)")
  }

  /**
   * One scaling-bench level (BASELINE.md protocol): generates/reuses a
   * fixed parquet fixture, precomputes extraction+mentions+tfidf into
   * parquet ("extraction cached"), then times blocking+scoring+clustering
   * end-to-end at local[cores]. Appends one JSON line to outPath. Run in
   * a fresh JVM per level (JIT fairness): see BASELINE.md.
   */
  private def scalingBench(nPages: Long, cores: String, outPath: String): Unit = {
    import nelspark.gen.{CorpusGen, Fixtures}
    import nelspark.pipeline._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.NelShim.waitForListenerBus
    val spark = session(cores)
    val cfg = ErConfig()

    // pre-stage (excluded from timing, shared by both levels): the
    // fixture's mentions and page vectors, pinned to the corpus, the
    // config and the pipeline code that made them
    def preStage(n: Long): (DataFrame, DataFrame) = {
      val fixDir = s"target/fixtures/bench_$n"
      val corpusTag = CorpusGen.ensureFixture(spark, fixDir, n, n / 5)
      val pipelineHash = Fixtures.codeHash(Seq("nelspark/pipeline/"))
      val pre = Fixtures.ensurePinned(s"$fixDir/pre",
          Fixtures.tag(s"bench_pre:$corpusTag:$cfg:$pipelineHash")) { tmp =>
        val prefix = new Linkage.Prefix(Parquet.read(spark, s"$fixDir/pages.parquet"), cfg, _.frame)
        prefix.mentions.write.mode("overwrite").parquet(s"$tmp/mentions.parquet")
        prefix.vectors.write.mode("overwrite").parquet(s"$tmp/vecs.parquet")
      }
      (Parquet.read(spark, s"$pre/mentions.parquet"), Parquet.read(spark, s"$pre/vecs.parquet"))
    }
    // FUSED blocking → scoring → clustering as one linear DAG with no
    // mid-pipeline cache/count barriers (each barrier both serializes the
    // run and double-buffers 16M-row intermediates). This is the plan
    // shape a production run uses.
    def clusterCount(mentions: DataFrame, vecs: DataFrame): Long =
      new Linkage.Suffix(mentions, vecs, cfg, _.frame).clusters
        .select("cluster_id").distinct().count()

    val (mentions, vecs) = preStage(nPages)
    // Untimed warmup: the identical DAG at 1/10 scale. Whole-stage-codegen
    // compilation + C2 JIT of the kernels is a CONSTANT ~3-5s that would
    // otherwise be billed to the timed run — a 4-6% phantom penalty on the
    // fast (4N) level vs ~1.5% on the slow one, skewing the efficiency
    // ratio. Same hygiene as graft.Bench's untimed warmup.
    val (warmMentions, warmVecs) = preStage(nPages / 10)
    clusterCount(warmMentions, warmVecs): Unit

    // Task/shuffle decomposition: executor task-time vs wall separates
    // plan-attributable loss from single-box memory contention, and the
    // shuffle volume + fetch-wait share is the EXECUTOR-TRANSFER
    // evidence — on a real N→4N scale-out the local memory-contention
    // term vanishes and cross-executor shuffle transfer is the term that
    // replaces it, so its measured size bounds that cost. The bus is
    // drained before registering, so no warmup task is counted.
    waitForListenerBus(spark)
    val tasks = new nelspark.util.TaskMetricsListener
    spark.sparkContext.addSparkListener(tasks)
    val t0 = System.nanoTime()
    val nClusters = clusterCount(mentions, vecs)
    val wall = (System.nanoTime() - t0) / 1e9
    waitForListenerBus(spark)
    val t = tasks.total
    val json = f"""{"bench":"er_scaling","cores":$cores,"pages":$nPages,""" +
      f""""clusters":$nClusters,""" +
      f""""wall_s":$wall%.2f,"docs_per_sec":${nPages / wall}%.1f,""" +
      f""""task_s":${t.taskMs / 1e3}%.1f,"gc_s":${t.gcMs / 1e3}%.1f,""" +
      f""""shuffle_write_mb":${t.shuffleWriteBytes / 1048576.0}%.1f,""" +
      f""""shuffle_read_mb":${t.shuffleReadBytes / 1048576.0}%.1f,""" +
      f""""fetch_wait_s":${t.fetchWaitMs / 1e3}%.1f}"""
    println(json)
    val p = java.nio.file.Paths.get(outPath)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, json + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }

  /** Dump `explain("formatted")` for the load-bearing plans — the
    * physical-plan review artifact (PushedFilters, join strategies,
    * WholeStageCodegen spans, exchange placement): every pipeline stage,
    * the scored pairs, and key driver queries. Building the `clusters`
    * stage runs connected components, so the pipeline executes once. */
  private def explainPlans(spark: SparkSession, outPath: String): Unit = {
    import nelspark.gen.CorpusGen
    import nelspark.pipeline._
    val cfg = ErConfig()
    val gen = CorpusGen.generate(spark, 2000L, 400L).cache()
    val dir = "target/fixtures/explain"
    CorpusGen.pages(gen).write.mode("overwrite").parquet(s"$dir/pages.parquet")
    val pages = Parquet.read(spark, s"$dir/pages.parquet")
    val sb = new StringBuilder
    def put(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n==================== $name ====================\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    val dag = Linkage(pages, cfg) { stage => put(stage.name, stage.frame); stage.frame }
    put("scored (cascade + packed-vector sparse-dot joins)", dag.scored)
    put("q_join_dim (broadcast dim join)", graft.SparkEntry
      .queries("q_join_dim")(spark, "/root/testdata/sf0.001"))
    put("q_skew_salted_join (salted equi-join: dim exploded x8, no straggler key)",
      graft.SparkEntry.queries("q_skew_salted_join")(spark, "/root/testdata/sf0.001"))
    put("q_dedup_ngram_jaccard (prefix-blocked n-gram jaccard self-join)",
      graft.SparkEntry.queries("q_dedup_ngram_jaccard")(spark, "/root/testdata/sf0.001"))
    put("q_ann_ivf (IVF: map-side NearestCells assign — corpus never shuffled; broadcast probe re-rank)",
      graft.SparkEntry.queries("q_ann_ivf")(spark, "/root/testdata/sf0.001"))
    put("q_simhash_pairs (Manku-banded simhash: bucket purge anti-join + band self-join)",
      graft.SparkEntry.queries("q_simhash_pairs")(spark, "/root/testdata/sf0.001"))
    put("q_prior (global total via broadcast 1-row cross-join — no single-partition window exchange)",
      graft.SparkEntry.queries("q_prior")(spark, "/root/testdata/sf0.001"))
    put("q_candidates (J1 salted alias join -> W2 top-N -> W1 argmax + NIL)",
      graft.SparkEntry.queries("q_candidates")(spark, "/root/testdata/sf0.001"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), sb.toString)
    println(s"[explain] wrote $outPath")
    spark.stop()
  }

  private def runPipeline(spark: SparkSession, nPages: Long, nEntities: Long): Unit = {
    import nelspark.gen.CorpusGen
    import nelspark.pipeline._
    val t0 = System.nanoTime()
    val gen = CorpusGen.generate(spark, nPages, nEntities).cache()
    val pages = CorpusGen.pages(gen)
    val gold = CorpusGen.gold(gen)
    val res = Pipeline.run(spark, pages, gold)
    res.metrics.show(truncate = false)
    res.f1.show(truncate = false)
    val nClusters = res.assignments.select("cluster_id").distinct().count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[pipeline] pages=$nPages entities=$nEntities clusters=$nClusters " +
      f"wall=${secs}%.1fs docs/sec=${nPages / secs}%.0f")
    spark.stop()
  }

  private def exprDemo(spark: SparkSession, outDir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import nelspark.functions._
    functions.registerAll(spark)

    val names = Seq("MARTHA", "MARHTA", "DIXON", "DICKSONX", "José Álvarez",
      "jose alvarez", "J. Q. Smith", "John Quincy Smith", "O'Brien", "OBrien")
    val pairs = names.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val df = pairs.toDF("a", "b").select(
      $"a", $"b",
      jaro_winkler($"a", $"b").as("jw"),
      levenshtein_ratio($"a", $"b").as("lev_ratio"),
      normalize_name($"a").as("a_norm"),
      normalize_name($"b").as("b_norm"))
    df.write.mode("overwrite").parquet(s"$outDir/jw_sample")

    val html = Seq(
      ("u1", "<html><head><title>T</title></head><body><p>Alpha &amp; Beta</p></body></html>"),
      ("u2", "<script>no</script><div>the Big Apple shines</div>"))
      .toDF("url", "h")
      .select($"url", extract_text(encode($"h", "UTF-8")).as("text"))
    val mentions = html.select($"url", $"text",
      explode(extract_mentions($"text")).as("m"))
      .select($"url", $"m.begin", $"m.end", $"m.name",
        normalize_name($"m.name").as("name_norm"))
    mentions.write.mode("overwrite").parquet(s"$outDir/mention_sample")

    val lsh = Seq("jonathan smithers", "jonathan smither", "totally different")
      .toDF("s")
      .select($"s", minhash_bands(
        minhash_signature(char_ngrams($"s", 3), 12, 42L), 4).as("bands"))
    lsh.write.mode("overwrite").parquet(s"$outDir/lsh_sample")

    df.show(5, truncate = false)
    mentions.show(truncate = false)
    println(s"[exprdemo] wrote samples to $outDir")
    spark.stop()
  }
}

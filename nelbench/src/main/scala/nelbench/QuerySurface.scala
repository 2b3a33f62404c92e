package nelbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * query-surface: `graft.SparkEntry.queryList` entries over the sf0.01 test
 * tables (`nelbench/data/sf0.01`, byte-identical copies of the tables the
 * program's own tests read), each finished with the `count()` action
 * `graft.Bench` uses, in repeated passes whose order the seed permutes.
 */
object QuerySurface {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** The measured entries: the twelve slowest, on a 4-core box, of the 54
    * entries that read only the table directory they are given. A pass
    * over all 54 costs ~11 s, nearly all of it fixed per-query cost, which
    * does not fit the run budget. Left out entirely: `q_pipeline_f1` (er-hot
    * runs the pipeline) and the entries that read or write
    * fixtures at fixed absolute paths outside the table directory
    * (`/tmp/graft_*`, the sf0.001 documents table): q_minhash_pairs,
    * q_simhash_pairs, q_conll_multifile, q_ann_lsh, q_conll_parse,
    * q_tac_parse, q_coref_chains, q_fingerprint, q_media_frames, q_ann_ivf
    * and q_er_doc_clusters. The traced run reports each measured entry's
    * wall time as `graft.<query>.s`. */
  val Measured = Seq("q_cc_sessions", "q_tfidf", "q_candidates_ctx", "q_ann_topk",
    "q_dedup_embedding", "q_skew_salted_join", "q_candidates", "q_join_dim", "q_name_prob",
    "q_join_range", "q_term_df", "q_set_except")

  def queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = graft.SparkEntry.queryList.toMap
    Measured.map(n => n -> all.getOrElse(n, sys.error(s"no query named $n")))
  }

  /** Row count and an order-independent hash of a query's result. Top-level
    * floating-point columns are rounded to 6 decimals first. */
  def resultHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`").cast("double"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val hv = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = df.select(hv.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").cast("decimal(38,0)")), lit(BigDecimal(0)))).head()
    (row.getLong(0), row.get(1).toString)
  }

  private def readExpected(path: String): Map[String, (Long, String)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val entry = "\"(q_\\w+)\"\\s*:\\s*\\[\\s*(\\d+)\\s*,\\s*\"(-?\\d+)\"\\s*\\]".r
    entry.findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  def run(r: Run, dir: String, expectedPath: String, recordPath: Option[String]): Unit = {
    val spark = r.spark
    val qs = queries
    // set-up: open every table and count its rows
    val (fixtureS, tableRows) = r.medianOf(3)(Tables.map(n => n -> spark.read.parquet(s"$dir/$n.parquet").count()))

    // warm-up pass (untimed, fixed order): checks each result against the
    // hashes recorded for this benchmark, and keeps row counts for the passes
    val expected = recordPath match {
      case Some(_) => Map.empty[String, (Long, String)]
      case None => readExpected(expectedPath)
    }
    val (warmS, observed) = timed(qs.map { case (name, fn) =>
      var got: (Long, String) = (-1L, "")
      r.out.attempt(s"$name: result hash as recorded") {
        got = resultHash(fn(spark, dir))
        recordPath.isDefined || expected.get(name).contains(got)
      }
      name -> got
    }.toMap)
    recordPath.foreach { p =>
      val body = qs.map(_._1).map(n => s"""  ${Json.str(n)}: [${observed(n)._1}, "${observed(n)._2}"]""")
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    r.out.context ++= Seq("tables" -> Json.str(dir), "queries" -> qs.size.toString,
      "table_rows" -> Json.obj(tableRows.map { case (n, c) => n -> c.toString }))

    def order(pass: Int) = new scala.util.Random(r.seed * 1000003L + pass).shuffle(qs)
    def countChecked(name: String, df: => DataFrame): Unit =
      r.out.attempt(s"$name: row count as in warm-up")(df.count() == observed(name)._1)
    // a second warm-up pass, with count() as the timed passes: after the
    // hash pass alone the first timed pass was still ~20% slower than the next
    val (warm2S, _) = timed(qs.foreach { case (name, fn) => countChecked(name, fn(spark, dir)) })
    r.setup(fixtureS, warmS + warm2S)

    if (!r.trace) {
      val samples = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val passes = r.closedLoop { p =>
        timed(order(p).foreach { case (name, fn) =>
          val (s, _) = timed(countChecked(name, fn(spark, dir)))
          samples += name -> s
        })._1
      }
      val perQuery = samples.groupBy(_._1).map { case (n, xs) => n -> Stats.median(xs.map(_._2).toSeq) }
      r.out.metrics("iter_s") = Stats.median(passes)
      val times = samples.map(_._2).toSeq
      r.out.named ++= Seq("pass_s" -> (Stats.median(passes), "s"),
        "query_s_p50" -> (Stats.quantile(times, 0.5), "s"),
        "query_s_p90" -> (Stats.quantile(times, 0.9), "s"))
      r.out.context ++= Seq("passes" -> passes.size.toString,
        "pass_s_all" -> passes.map(Json.num).mkString("[", ",", "]"),
        "query_samples" -> samples.size.toString,
        "query_s" -> Json.obj(perQuery.toSeq.sortBy(-_._2).map { case (n, v) => n -> Json.num(v) }))
    } else {
      val (refPass, _) = timed(qs.foreach { case (name, fn) => countChecked(name, fn(spark, dir)) })
      val t = r.tracer
      val perPass = r.closedLoop { p =>
        val (wall, _) = timed(t.span("graft.pass") {
          order(p).foreach { case (name, fn) =>
            t.span(s"graft.$name") {
              val df = t.span(s"graft.$name.plan") {
                val df = fn(spark, dir)
                df.queryExecution.executedPlan
                df
              }
              t.span(s"graft.$name.exec")(countChecked(name, df))
            }
          }
        })
        val passSpan = t.last("graft.pass")
        val inPass = t.spans.filter(_.startNs >= passSpan.startNs)
        val m = scala.collection.mutable.Map(
          "graft.plan_s" -> inPass.filter(_.name.endsWith(".plan")).map(_.seconds).sum,
          "graft.exec_s" -> inPass.filter(_.name.endsWith(".exec")).map(_.seconds).sum,
          "trace.overhead_s" -> (wall - refPass))
        for (q <- Measured) m(s"graft.$q.s") = t.last(s"graft.$q").seconds
        m.toMap
      }
      for (k <- perPass.head.keys) r.out.metrics(k) = Stats.median(perPass.map(_(k)))
      r.out.context ++= Seq("passes" -> perPass.size.toString, "ref_pass_s" -> Json.num(refPass))
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Round-6 optimization measurement harness (guide §1). NOT the driver
 * bench — Bench.scala is frozen; this main exists so plan captures and
 * noop-sink isolation never touch the timed contract.
 *
 * Modes:
 *   explain <outDir> [tag]       — write plans/<query>_<tag>.txt
 *                                  (explain "formatted") for every query
 *   time [repeats] [q1,q2,...]   — per-query noop-sink wall times
 *                                  (guide §1.4: compute every column, no
 *                                  count() pruning, no sink cost)
 *   count [repeats] [q1,q2,...]  — the driver's count() timing, per-query
 *                                  min over in-JVM repeats
 *   jobs [query] [reps]          — per-job wall and per-stage task time
 *                                  of one query's last rep
 *
 * Env contract matches Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
 */
object BenchExtra {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = nelspark.Main.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      case "explain" :: outDir :: rest =>
        val tag = rest.headOption.getOrElse("before")
        explainAll(spark, sfDir, outDir, tag)
      case "time" :: rest =>
        val repeats = rest.headOption.map(_.toInt).getOrElse(1)
        val only = rest.drop(1).headOption.map(_.split(",").toSet)
        timeAll(spark, sfDir, repeats, only)
      case "count" :: rest =>
        // the driver's exact methodology (fn(...).count()) but repeated
        // in-JVM; report per-query MIN across repeats (noise floor on
        // this ±40% co-tenant box)
        val repeats = rest.headOption.map(_.toInt).getOrElse(3)
        val only = rest.drop(1).headOption.map(_.split(",").toSet)
        countMin(spark, sfDir, repeats, only)
      case "jobs" :: rest =>
        // run one query (default q_pipeline_f1) N times; after warmup,
        // print every Spark job's wall time + stage task totals — the
        // "which stage is slow" evidence (guide §1.1) without the UI
        val qname = rest.headOption.getOrElse("q_pipeline_f1")
        val reps = rest.drop(1).headOption.map(_.toInt).getOrElse(2)
        jobBreakdown(spark, sfDir, qname, reps)
      case other => sys.error(s"unknown mode: $other")
    }
    spark.stop()
  }

  private def explainAll(spark: SparkSession, sfDir: String,
      outDir: String, tag: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queryList.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        println(s"[explain] $name ok")
      } catch {
        case e: Throwable => println(s"[explain] $name FAILED: ${e.toString.take(200)}")
      }
    }
  }

  /** Noop-sink per-query timing; prints one JSON line like Bench (but
    * with the noop action — NOT comparable to the driver's numbers). */
  private def timeAll(spark: SparkSession, sfDir: String, repeats: Int,
      only: Option[Set[String]]): Unit = {
    // same untimed warmup as Bench
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val qs = SparkEntry.queryList.filter(q => only.forall(_.contains(q._1)))
    (1 to repeats).foreach { rep =>
      val results = qs.map { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"bx:$name")
        val t0 = System.nanoTime()
        val err = try { noop(fn(spark, sfDir)); None }
                  catch { case e: Throwable => Some(e.toString.take(200)) }
        spark.sparkContext.setJobDescription(null)
        (name, (System.nanoTime() - t0) / 1e9, err)
      }
      val body = results.map {
        case (k, v, None) => s""""$k":${f"$v%.3f"}"""
        case (k, _, Some(e)) => s""""$k":{"err":${nelspark.util.Json.str(e)}}"""
      }.mkString("{", ",", "}")
      val total = results.collect { case (_, v, None) => v }.sum
      println(f"""{"bx":"noop","rep":$rep,"total":$total%.2f,"queries":$body}""")
    }
  }

  private def countMin(spark: SparkSession, sfDir: String, repeats: Int,
      only: Option[Set[String]]): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val qs = SparkEntry.queryList.filter(q => only.forall(_.contains(q._1)))
    val mins = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    (1 to repeats).foreach { _ =>
      qs.foreach { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"bx:$name")
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        mins(name) = math.min(mins.getOrElse(name, Double.MaxValue), dt)
      }
    }
    val body = mins.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
      .mkString("{", ",", "}")
    println(f"""{"bx":"countmin","repeats":$repeats,"total":${mins.values.sum}%.2f,"queries":$body}""")
  }

  private def jobBreakdown(spark: SparkSession, sfDir: String,
      qname: String, reps: Int): Unit = {
    import org.apache.spark.sql.NelShim.waitForListenerBus
    val tasks = new nelspark.util.TaskMetricsListener
    spark.sparkContext.addSparkListener(tasks)
    val fn = SparkEntry.queries(qname)
    (1 until reps).foreach { _ => fn(spark, sfDir).count() } // warmup reps
    waitForListenerBus(spark)
    tasks.reset()
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    waitForListenerBus(spark)
    val jobs = tasks.jobs
    jobs.foreach(j => println(f"[job] #${j.id}%-4d ${j.wallS}%6.3f s  ${j.description}"))
    // per-STAGE task time (stages run once; job attribution lies under AQE)
    tasks.stages.sortBy(-_._2.taskMs).take(25).foreach { case (id, t) =>
      println(f"[stage] #$id%-5d task-s=${t.taskMs / 1e3}%7.2f  tasks=${t.tasks}")
    }
    println(f"[job] measured-rep wall=${wall}%.2f s, jobs=${jobs.length}, " +
      f"sum-job-wall=${jobs.map(_.wallS).sum}%.2f s, task-time=${tasks.total.taskMs / 1e3}%.2f s")
  }
}

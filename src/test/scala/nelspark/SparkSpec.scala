package nelspark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("nelspark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "target/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run a ScalaCheck property with a fixed seed (deterministic CI). */
  def checkProp(p: org.scalacheck.Prop, n: Int = 100): Unit = {
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val res = org.scalacheck.Test.check(params, p)
    assert(res.passed, s"property failed: ${res.status}")
  }

  /** `f`'s result and the number of Spark jobs it launched. */
  def countJobs[T](f: => T): (T, Int) = {
    val (out, descriptions) = jobDescriptions(f)
    (out, descriptions.size)
  }

  /** `f`'s result and the description of each Spark job it launched. The
    * job-group id is thread-local and stamped into each job's properties,
    * so jobs of concurrent suites sharing the session are not counted.
    * Setting the group sets the description to "job-count probe"; `f` may
    * set its own. */
  def jobDescriptions[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"job-count-probe-${java.util.UUID.randomUUID}"
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && group == j.properties.getProperty("spark.jobGroup.id"))
          descriptions.add(String.valueOf(j.properties.getProperty("spark.job.description"))): Unit
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job-count probe")
    try {
      val out = f
      org.apache.spark.sql.NelShim.waitForListenerBus(spark)
      import scala.jdk.CollectionConverters._
      (out, descriptions.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}

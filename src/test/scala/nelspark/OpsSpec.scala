package nelspark

import nelspark.gen.CorpusGen
import nelspark.model.ModelTables
import nelspark.pipeline._
import nelspark.media.MediaOps
import org.apache.spark.sql.functions._

/** Coref (J2), model tables (A1–A4/J1), HLL accuracy, media plumbing. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("coref: within-doc chains by name compatibility") {
    assert(Coref.compatible("john q smith", "smith"))
    assert(Coref.compatible("john q smith", "j q smith"))
    assert(Coref.compatible("john quincy smith", "jqs"))
    assert(!Coref.compatible("john smith", "mary jones"))
    val mentions = Seq(
      (1L, "u1", "john q smith"), (2L, "u1", "smith"), (3L, "u1", "mary jones"),
      (4L, "u2", "smith") // different doc: never chained with u1
    ).toDF("mention_id", "url", "name_norm")
    val got = Coref.chains(mentions).as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L)
    assert(got(3L) == 3L)
    assert(got(4L) == 4L)
  }

  private lazy val gen = CorpusGen.generate(spark, 1000L, 200L).cache()
  private lazy val extracted = Extract(CorpusGen.pages(gen))
  private lazy val labeled = Evaluate.labeledMentions(
    Mentions(extracted), CorpusGen.gold(gen))
    .join(Mentions(extracted).select("mention_id", "url"), Seq("mention_id"))

  test("model tables: aliases / prior / name_prob consistency") {
    val al = ModelTables.aliases(labeled)
    val prior = ModelTables.entityPrior(labeled)
    val np = ModelTables.nameProb(labeled)
    assert(math.abs(prior.agg(sum("p")).head().getDouble(0) - 1.0) < 1e-9)
    // P(e|name) sums to 1 within each name
    val bad = np.groupBy("name_norm").agg(sum("p").as("s"))
      .filter(abs(col("s") - 1.0) > 1e-9).count()
    assert(bad == 0)
    assert(al.count() == np.count())
  }

  test("entity tf-idf vectors are L2-normalized") {
    labeled.count() // materialize inputs first — the probe targets entityTfidf only
    // an eager head()/count() inside entityTfidf would fire a job
    val (et, jobs) = countJobs(ModelTables.entityTfidf(extracted, labeled))
    assert(jobs == 0, s"plan construction launched $jobs job(s)")
    val bad = et.groupBy("entity_id").agg(sum(col("w") * col("w")).as("n2"))
      .filter(abs(col("n2") - 1.0) > 1e-6).count()
    assert(bad == 0)
  }

  test("A3 scale path: HLL approx-distinct within ±5% of exact per group") {
    // the same gated-accuracy treatment ANN recall gets: the approximate
    // operator (the q_approx_distinct configuration) must track the exact
    // counts, not merely run
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id").as("a"),
        countDistinct("user_id").as("e"))
      .collect()
    assert(ev.nonEmpty)
    ev.foreach { r =>
      val a = r.getAs[Long]("a"); val e = r.getAs[Long]("e")
      assert(math.abs(a - e).toDouble / e <= 0.05,
        s"${r.get(0)}: approx=$a exact=$e")
    }
  }

  test("media plumbing: metadata, features, frame sampling (stub decode)") {
    val media = Seq(
      (1L, "image", "imgbytes-aaaa".getBytes("UTF-8")),
      (2L, "video", "videobytes-bbb".getBytes("UTF-8")),
      (3L, "audio", "audiobytes-cc".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    val meta = MediaOps.decodeMeta(media).cache()
    val rows = meta.collect().map(m => m.media_id -> m).toMap
    assert(rows(1L).width > 0 && rows(1L).height > 0 && rows(1L).n_frames == 1)
    assert(rows(2L).n_frames > 0)
    assert(Seq(8000, 16000, 22050, 44100, 48000).contains(rows(3L).sample_rate))
    // determinism
    val again = MediaOps.decodeMeta(media).collect().map(m => m.media_id -> m).toMap
    assert(again == rows)
    val plan = MediaOps.frameSamplePlan(meta, stride = 30, maxFrames = 4)
    val perVideo = plan.groupBy("media_id").count().as[(Long, Long)].collect().toMap
    assert(perVideo.keySet == Set(2L) && perVideo(2L) <= 4)
  }
}

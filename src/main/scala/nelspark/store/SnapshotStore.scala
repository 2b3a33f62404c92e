package nelspark.store

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Iceberg-style snapshot layout over parquet (SURVEY.md §7.5 — no Iceberg
 * runtime jar ships in this sandbox, so the snapshot/lineage/metrics
 * semantics of the north rule are provided by a small facade; the layout
 * keeps a drop-in `writeTo` path for real Iceberg environments).
 *
 * Layout:
 *   root/<stage>/snapshot=<id>/part-*.parquet     -- stage output
 *   root/_snapshots/                              -- append-only parquet log
 *   root/_lineage/                                -- per-partition rows
 *   root/_metrics/                                -- per-stage metrics
 *
 * Resume contract: a stage snapshot is reusable iff its recorded
 * `conf` hash (pipeline config + input snapshot ids) matches the
 * requested one. `runStage` either replays the latest valid snapshot or
 * computes, commits and returns a freshly-read frame (so downstream
 * lineage is cut at the parquet boundary — plans never grow unbounded).
 *
 * Bookkeeping lives on the driver: the `_snapshots` log (one row per
 * commit) is read once per [[ResumablePipeline.run]], with the fixed
 * [[SnapshotStore.LogSchema]], into a `Vector`; `latest` and the next
 * snapshot id are looked up there, and `commit` appends to it after the
 * on-disk log row is written. The store therefore assumes a single
 * writer per root: a commit made through another store object during a
 * run is not seen until the next run refreshes the copy.
 *
 * Spark jobs: a replay of the five pipeline stages runs one, the log
 * read; each snapshot is opened with the schema stored in its parquet
 * footer, which the driver reads itself. A stage commit runs the stage's
 * own jobs inside its data write, one lineage count over the written
 * files (no columns read) and two appends, `_lineage` then `_snapshots`:
 * each stage is durable as soon as its log row is written.
 */
class SnapshotStore(spark: SparkSession, root: String) {
  import SnapshotStore._

  private def dir(parts: String*): String = (root +: parts).mkString("/")

  /** Existence through the root's Hadoop file system, so `file:`,
    * `hdfs:` and `s3a:` roots are found as well as plain paths. */
  private def exists(path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def readOpt(path: String, schema: => Option[StructType]): Option[DataFrame] =
    if (exists(path))
      try Some(schema.fold(spark.read)(spark.read.schema).parquet(path))
      catch { case _: Exception => None }
    else None

  /** The schema Spark stored in the footer of a snapshot's first part
    * file, read on the driver: `spark.read.parquet` without a schema runs
    * one inference job per read. None (so Spark infers) when the footer
    * carries no Spark schema. */
  private def footerSchema(path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    p.getFileSystem(conf).listStatus(p).iterator.map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try Option(reader.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY))
        finally reader.close()
      }
      .map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** A committed stage snapshot, read with its footer schema. */
  private def readSnapshot(path: String): Option[DataFrame] = readOpt(path, footerSchema(path))

  /** Driver-side copy of the `_snapshots` log; read on first use and by
    * [[refresh]]. */
  private var log: Option[Vector[LogEntry]] = None

  private def entries: Vector[LogEntry] = log.getOrElse { refresh(); log.get }

  /** Re-reads the `_snapshots` log into the driver-side copy: one job
    * when the log exists. */
  def refresh(): Unit = {
    import spark.implicits._
    log = Some(snapshots.fold(Vector.empty[LogEntry])(
      _.select("stage", "conf", "snapshot_id").as[LogEntry].collect().toVector))
  }

  /** The _snapshots log (None when no snapshot committed yet). */
  def snapshots: Option[DataFrame] = readOpt(dir("_snapshots"), Some(LogSchema))

  def latest(stage: String, conf: String): Option[(Long, DataFrame)] =
    entries.filter(e => e.stage == stage && e.conf == conf).map(_.snapshot_id).maxOption
      .flatMap(id => readSnapshot(dir(stage, s"snapshot=$id")).map(df => (id, df)))

  /** Commit one stage output as the next snapshot; returns (id, re-read). */
  def commit(stage: String, df: DataFrame, conf: String,
      inputSnapshot: Long = -1L): (Long, DataFrame) = {
    val id = entries.filter(_.stage == stage).map(_.snapshot_id).maxOption.getOrElse(0L) + 1L
    val out = dir(stage, s"snapshot=$id")
    val t0 = System.nanoTime()
    df.write.mode(SaveMode.Overwrite).parquet(out)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val back = readSnapshot(out)
      .getOrElse(throw new IllegalStateException(s"committed snapshot $out is unreadable"))

    // per-partition lineage of the committed snapshot, counted in one
    // job that reads no columns; the row count is their sum
    import spark.implicits._
    val perPartition = back.select(spark_partition_id()).as[Int]
      .mapPartitions(it => if (it.hasNext) Iterator((it.next(), 1L + it.size)) else Iterator.empty)
      .collect()
    append("_lineage", LineageSchema,
      perPartition.map { case (p, n) => Row(stage, id, p, -1L, n, wallMs) }.toSeq)

    append("_snapshots", LogSchema, Seq(Row(id, stage, inputSnapshot,
      perPartition.map(_._2).sum, wallMs, conf,
      new java.sql.Timestamp(System.currentTimeMillis()))))
    log = Some(entries :+ LogEntry(stage, conf, id))
    (id, back)
  }

  /** Replay-or-compute: the resumability primitive. `onCommit` runs only
    * when the stage is computed, after its snapshot is committed. */
  def runStage(stage: String, conf: String, inputSnapshot: Long = -1L,
      onCommit: (Long, DataFrame) => Unit = (_, _) => ())
      (compute: => DataFrame): (Long, DataFrame) =
    latest(stage, conf).getOrElse {
      val (id, back) = commit(stage, compute, conf, inputSnapshot)
      onCommit(id, back)
      (id, back)
    }

  /** Appends `(name, value)` metrics of one stage snapshot in one write. */
  def addMetrics(stage: String, snapshotId: Long, metrics: (String, Double)*): Unit =
    append("_metrics", MetricsSchema,
      metrics.map { case (name, value) => Row(stage, snapshotId, name, value) })

  private def append(table: String, schema: StructType, rows: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode(SaveMode.Append).parquet(dir(table))
  }

  def metrics: Option[DataFrame] = readOpt(dir("_metrics"), Some(MetricsSchema))
  def lineage: Option[DataFrame] = readOpt(dir("_lineage"), Some(LineageSchema))
}

object SnapshotStore {

  /** One `_snapshots` row as the driver-side log keeps it. */
  final case class LogEntry(stage: String, conf: String, snapshot_id: Long)

  /** Schemas of the bookkeeping tables. Column order and nullability are
    * those the tables have always been written with. */
  val LogSchema: StructType = new StructType()
    .add("snapshot_id", LongType, nullable = false)
    .add("stage", StringType)
    .add("input_snapshot", LongType, nullable = false)
    .add("row_count", LongType, nullable = false)
    .add("wall_ms", LongType, nullable = false)
    .add("conf", StringType)
    .add("created_ts", TimestampType)

  val LineageSchema: StructType = new StructType()
    .add("stage", StringType, nullable = false)
    .add("snapshot_id", LongType, nullable = false)
    .add("partition_id", IntegerType, nullable = false)
    .add("rows_in", LongType, nullable = false)
    .add("rows_out", LongType, nullable = false)
    .add("wall_ms", LongType, nullable = false)

  val MetricsSchema: StructType = new StructType()
    .add("stage", StringType)
    .add("snapshot_id", LongType, nullable = false)
    .add("name", StringType)
    .add("value", DoubleType, nullable = false)
}

/** The snapshot-store runner of [[nelspark.pipeline.Linkage]]. */
object ResumablePipeline {
  import nelspark.pipeline._

  /** Stable config fingerprint (case-class toString is deterministic). */
  def confHash(cfg: ErConfig, extra: String = ""): String =
    java.lang.Long.toHexString(nelspark.expr.Kernels.hashString(cfg.toString + extra, 7L))

  /**
   * Runs extract → mentions → pairs → edges → clusters with each stage
   * committed as a snapshot whose input is the previous stage's snapshot.
   * A rerun over the same store replays every committed stage
   * (byte-identical outputs) and recomputes only missing or
   * config-invalidated ones. A committed stage records its metrics under
   * its own snapshot id; `clusters` also records `n_clusters`.
   */
  def run(spark: SparkSession, store: SnapshotStore, pages: DataFrame,
      cfg: ErConfig = ErConfig()): DataFrame = {
    val ch = confHash(cfg)
    store.refresh()
    var input = -1L
    Linkage(pages, cfg) { stage =>
      val (id, df) = store.runStage(stage.name, ch, input, onCommit = (committedId, committed) => {
        stage.metrics.foreach { m =>
          val row = m.head()
          store.addMetrics(stage.name, committedId,
            m.columns.map(k => k -> row.getAs[Long](k).toDouble): _*)
        }
        if (stage.name == "clusters")
          store.addMetrics("clusters", committedId,
            "n_clusters" -> committed.select("cluster_id").distinct().count().toDouble)
      })(stage.frame)
      input = id
      df
    }.clusters
  }
}

package nelspark.store

import nelspark.util.Parquet
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{DataFrame, NelShim, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/**
 * Iceberg-style snapshot layout over parquet (SURVEY.md §7.5 — no Iceberg
 * runtime jar ships in this sandbox, so the snapshot/lineage/metrics
 * semantics of the north rule are provided by a small facade; the layout
 * keeps a drop-in `writeTo` path for real Iceberg environments).
 *
 * Layout:
 *   root/<stage>/snapshot=<id>/part-*.parquet     -- stage output
 *   root/_snapshots/<stage>-<id>.parquet          -- log row of the commit
 *   root/_lineage/<stage>-<id>.parquet            -- a row per written partition
 *   root/_metrics/<stage>-<id>.parquet            -- stage facts, if any
 * Each bookkeeping table is read from every data file its directory
 * lists, so stores whose rows Spark appended as `part-*` files read the
 * same.
 *
 * Resume contract: a stage snapshot is reusable iff its recorded
 * `conf` hash (pipeline config) and `input_snapshot` (the id of the
 * upstream snapshot it was built from) both match the requested ones, so
 * a recomputed stage recomputes every stage downstream of it.
 * `runStage` either replays the latest valid snapshot or
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
 * read; each snapshot is opened by [[nelspark.util.Parquet.read]], with
 * the schema in its first part file's footer, read on the driver. A
 * stage commit runs exactly the jobs of its data write. Everything it
 * records comes out of that write:
 * the stage facts are observed (`Dataset.observe`) by the writing job,
 * and the row count of each written part file, read from its footer on
 * the driver, is the lineage row of the write task's partition. The
 * driver then writes the bookkeeping files itself, `_lineage`,
 * `_metrics`, and `_snapshots` last, so a stage is durable, and
 * replayed, only once its log row is in place. A commit that failed
 * before that row is redone under the same id, and its files replace the
 * failed attempt's instead of adding to them.
 */
class SnapshotStore(spark: SparkSession, root: String) {
  import SnapshotStore._

  private def dir(parts: String*): String = (root +: parts).mkString("/")

  /** A bookkeeping table, opened from its listed data files with its
    * fixed schema; None when it has none. Naming the files, not the
    * `_`-prefixed directory, keeps Spark from logging that directory as
    * an ignored hidden path; the listing skips in-flight `.`-named files.
    * Spark lists more root paths than `parallelPartitionDiscoveryThreshold`
    * with a job of its own, so the files are opened in groups of that
    * many and the groups unioned. */
  private def bookkeeping(table: String, schema: StructType): Option[DataFrame] =
    Parquet.dataFiles(spark, dir(table)).map(_.getPath.toString)
      .grouped(math.max(1, spark.sessionState.conf.parallelPartitionDiscoveryThreshold))
      .map(spark.read.schema(schema).parquet(_: _*)).reduceOption(_ union _)

  /** The part files of a written snapshot directory. */
  private def partFiles(path: String): Seq[FileStatus] =
    Parquet.dataFiles(spark, path).filter(_.getPath.getName.startsWith("part-"))

  /** Rows written by each write task of a snapshot, by partition id in
    * order, from the part files' footers: `part-<partition>-…`. Tasks
    * that wrote nothing have no row. */
  private def rowsByPartition(path: String): Seq[(Int, Long)] =
    partFiles(path)
      .map(f => (f.getPath.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt,
        Parquet.footer(spark, f).getBlocks.asScala.map(_.getRowCount).sum))
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .filter(_._2 > 0).sortBy(_._1)

  /** A committed stage snapshot, opened with its footer schema; None when
    * it has no data file. */
  private def readSnapshot(path: String): Option[DataFrame] =
    Option.when(Parquet.dataFiles(spark, path).nonEmpty)(Parquet.read(spark, path))

  /** Driver-side copy of the `_snapshots` log; read on first use and by
    * [[refresh]]. */
  private var log: Option[Vector[LogEntry]] = None

  private def entries: Vector[LogEntry] = log.getOrElse { refresh(); log.get }

  /** Re-reads the `_snapshots` log into the driver-side copy: one job
    * when the log exists. */
  def refresh(): Unit = {
    import spark.implicits._
    log = Some(snapshots.fold(Vector.empty[LogEntry])(
      _.select("stage", "conf", "input_snapshot", "snapshot_id").as[LogEntry].collect().toVector))
  }

  /** The _snapshots log (None when no snapshot committed yet). */
  def snapshots: Option[DataFrame] = bookkeeping("_snapshots", LogSchema)

  /** The newest snapshot of `stage` built with `conf` from `inputSnapshot`. */
  def latest(stage: String, conf: String, inputSnapshot: Long): Option[(Long, DataFrame)] =
    entries.filter(e => e.stage == stage && e.conf == conf && e.input_snapshot == inputSnapshot)
      .map(_.snapshot_id).maxOption
      .flatMap(id => readSnapshot(dir(stage, s"snapshot=$id")).map(df => (id, df)))

  /** Commit one stage output as the next snapshot; returns (id, re-read).
    * `facts`, when given, is filled by the job that writes `df`; its
    * values become the snapshot's `_metrics` rows. */
  def commit(stage: String, df: DataFrame, conf: String, inputSnapshot: Long = -1L,
      facts: Option[Observation] = None): (Long, DataFrame) = {
    val id = entries.filter(_.stage == stage).map(_.snapshot_id).maxOption.getOrElse(0L) + 1L
    val out = dir(stage, s"snapshot=$id")
    val t0 = System.nanoTime()
    df.write.mode(SaveMode.Overwrite).parquet(out)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val back = readSnapshot(out)
      .getOrElse(throw new IllegalStateException(s"committed snapshot $out is unreadable"))
    val perPartition = rowsByPartition(out)

    val file = s"$stage-$id.parquet"
    writeRows("_lineage", file, LineageSchema,
      perPartition.map { case (p, n) => Row(stage, id, p, -1L, n, wallMs) })
    facts.map(observed(stage, _)).foreach { values =>
      writeRows("_metrics", file, MetricsSchema, values.toSeq.map { case (name, v) =>
        Row(stage, id, name, Option(v).fold(0.0)(_.asInstanceOf[Number].doubleValue))
      })
    }
    writeRows("_snapshots", file, LogSchema, Seq(Row(id, stage, inputSnapshot,
      perPartition.map(_._2).sum, wallMs, conf, new java.sql.Timestamp(System.currentTimeMillis()))))
    log = Some(entries :+ LogEntry(stage, conf, inputSnapshot, id))
    (id, back)
  }

  /** The values of an observation made by a write that has returned. A
    * query listener fills it from the listener bus; once the bus is
    * drained, an observation still empty never will be filled (AQE
    * removed every plan node that carried it), so this fails instead of
    * waiting on it. */
  private def observed(stage: String, facts: Observation): Map[String, Any] = {
    NelShim.waitForListenerBus(spark)
    if (!facts.future.isCompleted)
      throw new IllegalStateException(s"the write of stage $stage did not observe its facts")
    facts.get
  }

  /** Writes `rows` as the one parquet file `table/name`, from the driver:
    * first under a hidden name, which readers skip, then renamed into
    * place over any file of that name. */
  private def writeRows(table: String, name: String, schema: StructType, rows: Seq[Row]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new Path(dir(table), name)
    val hidden = new Path(dir(table), s".$name")
    val parquetSchema = BookkeepingParquet.convert(schema)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(hidden, conf))
      .withType(parquetSchema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withExtraMetaData(Map(ParquetReadSupport.SPARK_METADATA_KEY -> schema.json).asJava)
      .build()
    try rows.foreach { row =>
      val g = new SimpleGroup(parquetSchema)
      for (i <- schema.indices if !row.isNullAt(i)) schema(i).dataType match {
        case StringType => g.add(i, row.getString(i))
        case IntegerType => g.add(i, row.getInt(i))
        case LongType => g.add(i, row.getLong(i))
        case DoubleType => g.add(i, row.getDouble(i))
        case TimestampType => g.add(i, row.getTimestamp(i).getTime * 1000L)
      }
      writer.write(g)
    } finally writer.close()
    val fs = target.getFileSystem(conf)
    fs.delete(target, false)
    if (!fs.rename(hidden, target)) throw new java.io.IOException(s"cannot rename $hidden to $target")
  }

  /** Replay-or-compute: the resumability primitive. `facts` are those
    * of the frame `compute` builds (see [[commit]]). */
  def runStage(stage: String, conf: String, inputSnapshot: Long = -1L,
      facts: Option[Observation] = None)(compute: => DataFrame): (Long, DataFrame) =
    latest(stage, conf, inputSnapshot).getOrElse(commit(stage, compute, conf, inputSnapshot, facts))

  def metrics: Option[DataFrame] = bookkeeping("_metrics", MetricsSchema)
  def lineage: Option[DataFrame] = bookkeeping("_lineage", LineageSchema)
}

object SnapshotStore {

  /** Spark's own mapping of the bookkeeping schemas to parquet, with
    * timestamps as INT64 microseconds, a type the driver can write. */
  private val BookkeepingParquet = new SparkToParquetSchemaConverter(
    outputTimestampType = SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS)

  /** One `_snapshots` row as the driver-side log keeps it. */
  final case class LogEntry(stage: String, conf: String, input_snapshot: Long, snapshot_id: Long)

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
   * config-invalidated ones, and every stage downstream of them. A
   * committed stage with facts records them under its own snapshot id:
   * the block counts for `pairs`, `n_clusters` for `clusters`.
   */
  def run(spark: SparkSession, store: SnapshotStore, pages: DataFrame,
      cfg: ErConfig = ErConfig()): DataFrame = {
    val ch = confHash(cfg)
    store.refresh()
    var input = -1L
    Linkage(pages, cfg) { stage =>
      val (id, df) = store.runStage(stage.name, ch, input, stage.facts)(stage.frame)
      input = id
      df
    }.clusters
  }
}

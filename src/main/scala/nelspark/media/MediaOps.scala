package nelspark.media

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed metadata a real decoder would emit for one media object. */
case class MediaMeta(
    media_id: Long, kind: String, n_bytes: Long,
    width: Int, height: Int, n_frames: Int, sample_rate: Int)

/**
 * Multimodal column plumbing: image/audio/video as opaque `binary`
 * columns with typed metadata. The Spark side — schema, partition-wise
 * batched processing (mapPartitions, one decoder init per partition, the
 * same batch shape a JNI/FFmpeg/Pillow binding needs), frame sampling —
 * is real and tested; the byte-level decode itself is a clearly-marked
 * STUB for payloads without a recognized header (no media libraries ship
 * in this container): it derives deterministic pseudo-metadata from the
 * bytes so the distributed plumbing is exercisable end-to-end.
 */
object MediaOps {

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)

  // ------------------------- REAL header parsers (pure JVM, no libs) --

  /** PNG width/height from the IHDR chunk (always the first chunk:
    * 8-byte signature, 4-byte length, "IHDR", then width/height as
    * big-endian u32 — PNG spec §5.2/§11.2.2). */
  def parsePng(b: Array[Byte]): Option[(Int, Int)] =
    if (b.length >= 24 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some((be32(b, 16), be32(b, 20)))
    else None

  /** JPEG width/height from the first SOFn segment: walk the marker
    * stream from SOI; SOFn (0xC0-0xCF except C4/C8/CC) carries
    * precision(1), height(u16 BE), width(u16 BE) — JPEG/JFIF B.2.2. */
  def parseJpeg(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return None
    var i = 2
    while (i + 9 <= b.length) {
      if ((b(i) & 0xFF) != 0xFF) return None
      // spec-legal fill: any run of 0xFF bytes may pad before a marker
      // (JFIF B.1.1.2) — advance to the last 0xFF so the byte after it
      // is the marker code, not another fill byte
      while (i + 9 <= b.length && (b(i + 1) & 0xFF) == 0xFF) i += 1
      if (i + 9 > b.length) return None
      val marker = b(i + 1) & 0xFF
      // EOI with no SOF seen → no dimensions; SOS → entropy-coded data
      // follows (0xFF bytes inside it are not markers) and SOFn must
      // precede SOS, so stop rather than misparse trailing bytes
      if (marker == 0xD9 || marker == 0xDA) return None
      else if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) i += 2 // standalone
      else if (marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC)
        return Some((be16(b, i + 7), be16(b, i + 5))) // (width, height)
      else i += 2 + be16(b, i + 2) // segment length includes its own 2 bytes
    }
    None
  }

  /** WAV sample rate from the canonical RIFF/WAVE fmt chunk (u32 LE at
    * byte 24 when "fmt " directly follows "WAVE" — RIFF spec). */
  def parseWavRate(b: Array[Byte]): Option[Int] =
    if (b.length >= 28 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E' &&
        b(12) == 'f' && b(13) == 'm' && b(14) == 't' && b(15) == ' ')
      Some(le32(b, 24))
    else None

  /** STUB DECODER — replace with a real binding (e.g. libvips/ffmpeg via
    * JNI) in production. Deterministic in the input bytes. */
  private[media] def decodeStub(kind: String, bytes: Array[Byte]): (Int, Int, Int, Int) = {
    val h = nelspark.expr.Kernels.hashBytes(bytes, 0x4D454449L) // "MEDI"
    def f(shift: Int, mod: Int, off: Int) =
      (Math.floorMod(h >>> shift, mod.toLong) + off).toInt
    kind match {
      case "image" => (f(0, 3840, 16), f(12, 2160, 16), 1, 0)
      case "video" => (f(0, 1920, 16), f(12, 1080, 16), f(24, 100000, 1), 0)
      case "audio" => (0, 0, 0, Seq(8000, 16000, 22050, 44100, 48000)(f(0, 5, 0)))
      case _ => (0, 0, 0, 0)
    }
  }

  /**
   * Decode metadata partition-wise. Input: (media_id long, kind string,
   * payload binary). One decoder context per partition (the `it =>` scope)
   * — the shape a native decoder requires; per-row lambda UDFs would
   * re-init per value and break batch locality.
   *
   * Payloads with a real PNG/JPEG/WAV header are parsed for real
   * (pure-JVM byte parsing — width/height/sample_rate are exact and
   * oracle-checkable); anything else falls back to the deterministic
   * stub (full frame decode needs native libs this container lacks).
   */
  def decodeMeta(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // real impl: val decoder = NativeDecoder.open() ... it.map{..}.closing(decoder)
        it.map { case (id, kind, bytes) =>
          val parsed =
            parsePng(bytes).map { case (w, h) =>
              MediaMeta(id, kind, bytes.length.toLong, w, h, 1, 0) }
            .orElse(parseJpeg(bytes).map { case (w, h) =>
              MediaMeta(id, kind, bytes.length.toLong, w, h, 1, 0) })
            .orElse(parseWavRate(bytes).map { sr =>
              MediaMeta(id, kind, bytes.length.toLong, 0, 0, 0, sr) })
          parsed.getOrElse {
            val (w, h, nf, sr) = decodeStub(kind, bytes)
            MediaMeta(id, kind, bytes.length.toLong, w, h, nf, sr)
          }
        }
      }
  }

  /** Frame sampling plan for video rows: deterministic frame indices
    * (every `stride`-th frame capped at `maxFrames`) — the partition-
    * friendly explode shape a real frame extractor consumes. */
  def frameSamplePlan(meta: Dataset[MediaMeta], stride: Int = 30,
      maxFrames: Int = 16): DataFrame = {
    meta.toDF()
      .filter(col("kind") === "video" && col("n_frames") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0),
          least(col("n_frames") - 1, lit((maxFrames - 1).toLong * stride)),
          lit(stride.toLong))).as("frame_idx"))
  }
}

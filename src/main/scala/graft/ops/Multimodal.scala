package graft.ops

import graft.{Q, Tables}
import graft.ops.TextAnalysis.{foldHashExpr, foldHashSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A "media blob" row: opaque binary payload + typed metadata —
  * the multimodal column layout (image/audio/video as `binary` with
  * a typed sidecar). Locally the blob is the UTF-8 document text.
  */
final case class MediaBlob(
    doc_id: Long, blob: Array[Byte], lang: String, source: String, n_chars: Long)

/** Deterministic stand-in for decoded media features. */
final case class BlobFeatures(
    doc_id: Long, width: Int, height: Int, n_frames: Int, checksum: Long)

/** Multimodal-column operators (builder brief): treat media as opaque
  * `binary` columns with typed metadata; decode / feature-extract /
  * frame-sample run as per-partition batch functions over the typed
  * Dataset — the Spark-side plumbing (schema, encoders, partitioning,
  * batch iteration) is real; the actual codec is STUBBED with a
  * deterministic fake (no image/audio libs in this container; a real
  * deployment swaps `fakeDecode` for the codec call).
  *
  * Scale design: `mapPartitions` keeps the decode batched per
  * partition (one codec init per partition, not per row) — the same
  * shape `mapInPandas` gives Python pipelines. Everything before the
  * decode is columnar and pruned; everything after is a narrow typed
  * result, so the expensive stage is embarrassingly parallel.
  */
object Multimodal {

  /** The PLUGGABLE codec seam (VERDICT r11 #7): a real deployment
    * sets `spark.graft.mm.codec` to a class implementing this trait
    * (constructed ONCE PER PARTITION on the executor — the codec-init
    * cost point `mapInPandas` pipelines get) and [[decodeFeatures]]
    * routes through it; [[frameSample]] and [[resizeThumbs]] are
    * decode-FREE columnar/stride stubs by design and do not consult
    * the codec. The default is the deterministic [[StubCodec]] this
    * container's oracles pin (no image/audio libs exist here).
    * Implementations need a public no-arg constructor
    * (they are instantiated by name task-side, so the driver never
    * has to serialize codec state — exactly how a JNI/FFmpeg handle
    * must be created where it is used).
    */
  trait MediaCodec {
    def decode(b: MediaBlob): BlobFeatures
  }

  /** The conf naming the [[MediaCodec]] implementation class. */
  val CodecConf = "spark.graft.mm.codec"

  /** Default codec: the deterministic fake decode standing in for an
    * image/video codec (`???` in a real deployment until the codec is
    * linked). Derives "dimensions" and a frame count from the payload
    * length and a rolling checksum from the first 16 bytes.
    */
  final class StubCodec extends MediaCodec {
    override def decode(b: MediaBlob): BlobFeatures = fakeDecode(b)
  }

  /** The stub decode arithmetic (kept callable directly — the oracles
    * and the thumbnail stub share its conventions).
    */
  def fakeDecode(b: MediaBlob): BlobFeatures = {
    val len = b.blob.length
    val checksum = b.blob.take(16).foldLeft(0L)((a, c) => (a * 31 + (c & 0xffL)) % 1000000007L)
    BlobFeatures(b.doc_id, (len % 64) + 1, (len % 48) + 1, (len + 31) / 32, checksum)
  }

  /** Instantiate the session's configured codec BY NAME — called
    * inside mapPartitions, so each partition builds its own instance
    * (one codec init per partition, zero driver-side serialization).
    * Resolution goes through the TASK context classloader: codec
    * classes shipped via `--jars`/`spark.jars` load on executors
    * through the mutable URL loader, which the defining-classloader
    * `Class.forName(name)` overload cannot see (code review r12).
    */
  private[ops] def codecFor(className: String): MediaCodec = {
    val loader = Option(Thread.currentThread().getContextClassLoader)
      .getOrElse(getClass.getClassLoader)
    Class.forName(className, true, loader).getDeclaredConstructor()
      .newInstance().asInstanceOf[MediaCodec]
  }

  // ---------------------------------------------------------------
  /** Decode + feature-extract over the typed blob Dataset via
    * mapPartitions (batch shape: Iterator[MediaBlob] →
    * Iterator[BlobFeatures]), through the session's configured
    * [[MediaCodec]] (default [[StubCodec]]).
    */
  def decodeFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Resolve the NAME on the driver (confs don't exist task-side);
    // construct the codec per partition on the executor.
    val codecClass = s.conf.get(CodecConf, classOf[StubCodec].getName)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"),
        col("lang"), col("source"), col("n_chars"))
      .as[MediaBlob]
      .mapPartitions { it =>
        val codec = codecFor(codecClass)
        it.map(codec.decode)
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Oracle recomputes the fake decode arithmetically: the blob is
    * ASCII text, so byte values = codepoints and byte length =
    * string length.
    */
  val decodeFeaturesOracle: String =
    s"""SELECT doc_id,
       |  CAST(length(text) % 64 + 1 AS INTEGER) AS width,
       |  CAST(length(text) % 48 + 1 AS INTEGER) AS height,
       |  CAST((length(text) + 31) // 32 AS INTEGER) AS n_frames,
       |  ${foldHashSql("substr(text, 1, 16)")} AS checksum
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** Frame sampling without decode: the payload is chunked into
    * 32-byte "frames", every 4th frame is sampled and checksummed —
    * pure columnar expressions (explode + substring + fold), no
    * partition function needed.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      // Empty docs have zero frames: without the guard, sequence(1, 0)
      // yields a DESCENDING [1, 0] and emits phantom frame rows the
      // oracle's `f <= n_frames` bound excludes.
      .filter(length(col("text")) > 0)
      .withColumn("f", explode(expr(
        "sequence(1, CAST((length(text) + 31) div 32 AS INT))")))
      .filter((col("f") - 1) % 4 === 0)
      .withColumn("frame", expr("substring(text, (f - 1) * 32 + 1, 32)"))
      .select(col("doc_id"), col("f").cast("long").as("frame_idx"),
        expr(foldHashExpr("frame")).as("frame_checksum"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val frameSampleOracle: String =
    s"""SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
       |  ${foldHashSql("substr(text, (f - 1) * 32 + 1, 32)")} AS frame_checksum
       |FROM documents, range(1, 1024) t(f)
       |WHERE f <= (length(text) + 31) // 32 AND (f - 1) % 4 = 0
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** The "resized thumbnail" row: fixed output grid + a checksum of
    * the sampled payload bytes standing in for resampled pixels.
    */
  final case class Thumb(doc_id: Long, out_w: Int, out_h: Int,
      sampled: Int, thumb_checksum: Long)

  // ---------------------------------------------------------------
  /** Resize-to-thumbnail stub: every blob is downsampled onto a fixed
    * 8×8 grid by striding the payload (`stride = max(1, len div 64)`)
    * — the decode-free stand-in for nearest-neighbor resampling. Same
    * batched `mapPartitions` plumbing as [[decodeFeatures]] (one
    * "codec" per partition); the fixed output shape is the point: a
    * training pipeline's image tower wants identical tensor dims per
    * row regardless of source size, so the op pins (out_w, out_h)
    * constant and the per-row work linear in the sampled bytes only.
    */
  def resizeThumbs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"),
        col("lang"), col("source"), col("n_chars"))
      .as[MediaBlob]
      .mapPartitions(_.map { b =>
        val len = b.blob.length
        val stride = math.max(1, len / 64)
        var acc = 0L
        var sampled = 0
        var p = 0
        while (p < 64 && p * stride < len) {
          acc = (acc * 31 + (b.blob(p * stride) & 0xffL)) % 1000000007L
          sampled += 1
          p += 1
        }
        Thumb(b.doc_id, 8, 8, sampled, acc)
      })
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Arithmetic mirror of the stride sampling (ASCII text: byte at
    * offset i = codepoint of character i+1).
    */
  val resizeThumbsOracle: String =
    """SELECT doc_id, CAST(8 AS INTEGER) AS out_w, CAST(8 AS INTEGER) AS out_h,
      |  CAST(len(picked) AS INTEGER) AS sampled,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), picked),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS thumb_checksum
      |FROM (
      |  SELECT doc_id,
      |    list_transform(
      |      list_filter(range(0, 64),
      |        p -> p * greatest(1, length(text) // 64) < length(text)),
      |      p -> CAST(ascii(substr(text,
      |        CAST(p * greatest(1, length(text) // 64) + 1 AS INTEGER), 1))
      |        AS BIGINT)) AS picked
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  def all: Seq[Q] = Seq(
    Q("mm_decode_features", decodeFeatures, Some(decodeFeaturesOracle),
      "typed mapPartitions stub-decode over binary blobs"),
    Q("mm_frame_sample", frameSample, Some(frameSampleOracle),
      "32-byte frame chunking + every-4th sampling, columnar"),
    Q("mm_resize_thumb", resizeThumbs, Some(resizeThumbsOracle),
      "fixed 8x8 stride-resample thumbnail stub via mapPartitions"))
}

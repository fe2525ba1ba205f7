package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support: opaque `binary` payloads + typed metadata
  * structs, with decode / feature-extraction / frame-sampling plumbing
  * (builder brief "multimodal columns").
  *
  * The actual image/audio codecs are NOT in this environment, so the
  * byte-level decode is stubbed behind [[FrameDecoder]] with a
  * deterministic fake implementation — the Spark-side plumbing (binary
  * schema, partition-parallel decode via `mapPartitions`, frame slicing,
  * per-frame features, metadata projection) is real and tested. Swapping
  * in a real decoder is a one-class change.
  */
object Multimodal {

  /** Frame decoder boundary — the Scala analog of a `mapInPandas` batch
    * UDF: one instance per partition, invoked per payload.
    */
  trait FrameDecoder extends Serializable {
    /** Split one encoded payload into fixed-size frame byte arrays. */
    def decode(payload: Array[Byte]): Seq[Array[Byte]]
  }

  /** The default frame width, shared by [[FixedWidthFakeDecoder]] and
    * [[mediaMetadata]] so the catalog scan's n_frames and the decode
    * path can never silently disagree. */
  val DefaultFrameBytes = 64

  /** STUB decoder: fixed-width byte slicing standing in for a real codec.
    * Deterministic by construction (pure function of the payload), so
    * tests and verify runs are stable.
    */
  final class FixedWidthFakeDecoder(frameBytes: Int = DefaultFrameBytes)
      extends FrameDecoder {
    def decode(payload: Array[Byte]): Seq[Array[Byte]] =
      payload.grouped(frameBytes).toSeq
  }

  /** Attach a binary `content` column derived from the documents table —
    * the corpus's stand-in for real media payloads (utf-8 bytes), plus the
    * typed metadata struct a real ingest would carry.
    */
  def asMedia(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        // fake modality classifier: size tertiles; a real ingest reads
        // container headers instead
        when(col("n_chars") < 150, "image")
          .when(col("n_chars") < 350, "audio")
          .otherwise("video").as("kind"),
        // the PAYLOAD's byte length, not the character count — the two
        // differ on any non-ASCII text (multi-byte UTF-8)
        length(encode(col("text"), "UTF-8")).cast("long").as("byte_len"),
        col("source").as("origin")).as("meta"))

  /** Declarative metadata/fingerprint projection over binary content —
    * byte length, content hash, header bytes. All Catalyst built-ins
    * (codegen'd), no decoder needed: this is the path a catalog scan or
    * dedup-by-checksum takes, and it never materializes frames.
    */
  def mediaMetadata(media: DataFrame,
      frameBytes: Int = DefaultFrameBytes): DataFrame =
    media.select(
      col("doc_id"),
      col("meta.kind").as("kind"),
      length(col("content")).cast("long").as("byte_len"),
      md5(col("content")).as("content_md5"),
      lower(hex(substring(col("content"), 1, 8))).as("header_hex"),
      ceil(length(col("content")) / frameBytes.toDouble).cast("long").as("n_frames"))

  /** Frame resizer boundary — the per-frame transform a real pipeline
    * implements with an image library. One instance per partition, pure
    * per frame.
    */
  trait FrameResizer extends Serializable {
    def resize(frame: Array[Byte]): Array[Byte]
  }

  /** STUB resizer: truncate-or-zero-pad to `targetBytes`, standing in for
    * a real scale/crop. Deterministic (pure function of the frame).
    */
  final class TruncatePadFakeResizer(targetBytes: Int = 32) extends FrameResizer {
    def resize(f: Array[Byte]): Array[Byte] =
      if (f.length >= targetBytes) f.take(targetBytes)
      else f ++ Array.fill(targetBytes - f.length)(0.toByte)
  }

  /** Row of the decoded-frame feature output. */
  final case class FrameFeatures(doc_id: Long, n_frames: Int, frame_bytes: Int,
      feature_checksum: Long)

  private def checksumOf(frames: Seq[Array[Byte]]): Long =
    frames.foldLeft(0L) { (acc, f) =>
      f.foldLeft(acc)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    }

  private def featureRows(media: DataFrame)(
      frames: Array[Byte] => Seq[Array[Byte]]): Dataset[FrameFeatures] = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("doc_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val fs = frames(payload)
          FrameFeatures(id, fs.size, fs.headOption.map(_.length).getOrElse(0),
            checksumOf(fs))
        }
      }
  }

  private def framesOf(decoder: FrameDecoder): Array[Byte] => Seq[Array[Byte]] =
    decoder.decode(_)

  /** Partition-parallel decode + per-frame feature extraction through the
    * [[FrameDecoder]] boundary (the `mapPartitions` batch shape: one
    * decoder instance per partition, frames never leave the task).
    * The "feature" is a rolling checksum per frame folded per document —
    * a stand-in with the same shape as an embedding head.
    */
  def frameFeatures(media: DataFrame, decoder: FrameDecoder = new FixedWidthFakeDecoder())
      : Dataset[FrameFeatures] =
    featureRows(media)(framesOf(decoder))

  /** Frame sampling (the video every-nth-frame path): decode, keep frames
    * 0, n, 2n, …, extract features from the sample only. Sampling happens
    * inside the task right after decode, so unsampled frames die in the
    * decoder's batch — nothing ships.
    */
  def sampledFrameFeatures(media: DataFrame, everyNth: Int,
      decoder: FrameDecoder = new FixedWidthFakeDecoder()): Dataset[FrameFeatures] = {
    require(everyNth >= 1, "everyNth must be >= 1")
    featureRows(media)(p =>
      framesOf(decoder)(p).zipWithIndex.collect {
        case (f, i) if i % everyNth == 0 => f
      })
  }

  /** Frame resize (decode → per-frame resize → features), through both
    * pluggable boundaries. */
  def resizedFrameFeatures(media: DataFrame,
      decoder: FrameDecoder = new FixedWidthFakeDecoder(),
      resizer: FrameResizer = new TruncatePadFakeResizer()): Dataset[FrameFeatures] =
    featureRows(media)(p => framesOf(decoder)(p).map(resizer.resize))
}

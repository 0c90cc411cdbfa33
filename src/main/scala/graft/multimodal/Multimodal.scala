package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media as opaque `binary` payloads + typed
  * metadata, with decode/feature-extraction as partition-batched functions.
  *
  * The decode step itself is a STUB (this container has no image/audio
  * codecs): `FakeDecoder` derives deterministic "features" from the bytes.
  * Everything around it is the real 100 TB-shape plumbing:
  *  - media rows are (id, kind, bytes, meta struct) — schema-first;
  *  - decoding runs via `mapPartitions` over an iterator, one model/codec
  *    init per PARTITION (the Scala analogue of a Pandas `mapInPandas`
  *    batch UDF — amortized setup, no per-row driver involvement);
  *  - feature output is a fixed-width `array<float>` ready for the
  *    similarity operators (`graft.operators.Similarity`).
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true))), nullable = true)))

  /** Build a deterministic media table from `documents` (text bytes stand in
    * for encoded media; kind alternates image/audio). */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
      encode(col("text"), "utf-8").as("payload"),
      struct(
        (col("n_chars") % 64 + 16).cast("int").as("width"),
        (col("n_chars") % 48 + 16).cast("int").as("height"),
        lit(16000).as("sample_rate")).as("meta"))

  /** STUB decoder — a real deployment swaps this for an image/audio codec.
    * Deterministic: 16-bin byte-value histogram, L1-normalized. The
    * signature (bytes, meta → fixed-width float features) is the real
    * contract. */
  object FakeDecoder {
    val featureDim = 16
    def decode(payload: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](featureDim)
      if (payload == null || payload.isEmpty) return hist
      var i = 0
      while (i < payload.length) {
        hist(((payload(i) & 0xff) * featureDim) / 256) += 1f
        i += 1
      }
      var j = 0
      while (j < featureDim) { hist(j) /= payload.length; j += 1 }
      hist
    }
  }

  /** Decoded-feature row — the typed contract of [[extractFeatures]]. */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                           features: Array[Float])

  /** Partition-batched decode: codec initialized once per partition (the
    * expensive step a Pandas UDF would amortize the same way), then a
    * streaming iterator — constant memory per partition. Typed
    * `Dataset.mapPartitions` keeps the Encoder pipeline end to end (no
    * RDD↔DataFrame schema round-trip; the deserialize→serialize pair stays
    * inside one whole-stage-codegen span). */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition init happens HERE (stub decoder is stateless; a real
        // codec/model handle would be constructed once at this point)
        rows.map { case (id, kind, payload) =>
          MediaFeatures(id, kind,
            if (payload == null) 0 else payload.length,
            FakeDecoder.decode(payload))
        }
      }
      .toDF()
  }

  /** Resized-media row — the typed contract of [[resize]]. */
  case class ResizedMedia(media_id: Long, kind: String, n_orig: Int,
                          stride: Int, payload: Array[Byte])

  /** "Resize" in the byte domain: stride-downsample the payload to at most
    * `targetBytes` (stride = ceil(len/target), keep bytes 0, s, 2s, …) —
    * the deterministic stand-in for an image/audio resampler, in the same
    * partition-batched typed-mapPartitions contract as [[extractFeatures]]
    * (a real codec would decode → resample → re-encode per batch here). */
  def resize(media: DataFrame, targetBytes: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, kind, payload) =>
          val n = if (payload == null) 0 else payload.length
          val stride = math.max(1, (n + targetBytes - 1) / targetBytes)
          val out = new Array[Byte]((n + stride - 1) / stride)
          var i = 0
          while (i < out.length) { out(i) = payload(i * stride); i += 1 }
          ResizedMedia(id, kind, n, stride, out)
        }
      }
      .toDF()
  }

  /** Frame sampling for video-like payloads: every `stride`-th fixed-size
    * chunk, declaratively (no UDF) — slice/transform stay codegen'd. */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = floor(length(col("payload")) / frameBytes).cast("int")
    media.select(col("media_id"), col("payload"),
      explode(filter(sequence(lit(0), greatest(nFrames - 1, lit(0))),
        i => i % stride === 0 && (i + 1) * frameBytes <= length(col("payload")))).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        substring(col("payload"), col("frame_idx") * frameBytes + 1, lit(frameBytes))
          .as("frame_bytes"))
  }
}

package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata structs; decode / feature-extract
  * run as batched `mapPartitions` transforms (the Scala analog of Pandas
  * UDF batching).
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * environment): [[StubDecoders]] produces deterministic features from the
  * bytes so the Spark-side plumbing — schema, batching, partition sizing,
  * null handling — is real and testable end-to-end. Swap [[Decoder]]
  * implementations to plug a real codec.
  */
object Multimodal {

  /** Typed metadata carried beside every payload. */
  val MediaMetaType: StructType = StructType(Seq(
    StructField("media_type", StringType),   // "image" | "audio" | "video"
    StructField("format", StringType),       // e.g. "png", "wav"
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** A batched payload decoder: bytes → fixed-length feature vector.
    * Implementations must be deterministic and total (bad payloads →
    * null, never throw) — at 100 TB a 1-in-a-billion corrupt blob must
    * not kill a stage.
    */
  trait Decoder extends Serializable {
    def featureDim: Int
    /** Decode one payload; None for undecodable input. */
    def decode(payload: Array[Byte]): Option[Array[Float]]
  }

  /** Deterministic stand-in for an image decoder: 16-bin byte histogram,
    * normalized — the real implementation would decode pixels here.
    */
  final class StubImageDecoder extends Decoder {
    val featureDim = 16
    def decode(payload: Array[Byte]): Option[Array[Float]] = {
      if (payload == null || payload.isEmpty) None
      else {
        val hist = new Array[Float](featureDim)
        var i = 0
        while (i < payload.length) {
          hist((payload(i) & 0xff) / featureDim) += 1f
          i += 1
        }
        var j = 0
        while (j < featureDim) { hist(j) /= payload.length; j += 1 }
        Some(hist)
      }
    }
  }

  /** Deterministic stand-in for an audio frame-sampler: mean/min/max/rms
    * over `frames` equal byte slices.
    */
  final class StubAudioFrameSampler(frames: Int = 4) extends Decoder {
    val featureDim: Int = frames
    def decode(payload: Array[Byte]): Option[Array[Float]] = {
      if (payload == null || payload.length < frames) None
      else {
        val out = new Array[Float](frames)
        val step = payload.length / frames
        var f = 0
        while (f < frames) {
          var s = 0L
          var i = f * step
          val end = i + step
          while (i < end) { s += (payload(i) & 0xff); i += 1 }
          out(f) = s.toFloat / step
          f += 1
        }
        Some(out)
      }
    }
  }

  /** Deterministic stand-in for a video frame-sampler: the payload is a
    * sequence of `frameBytes`-byte "frames"; sample `sampleFrames`
    * evenly-spaced frames (index i ↦ ⌊i·nFrames/sampleFrames⌋ — the
    * standard uniform temporal sampling a real video pipeline does) and
    * emit each sampled frame's mean byte as its "luma" feature.
    */
  final class StubVideoFrameSampler(sampleFrames: Int = 4,
      frameBytes: Int = 8) extends Decoder {
    val featureDim: Int = sampleFrames
    def decode(payload: Array[Byte]): Option[Array[Float]] = {
      if (payload == null || payload.length < frameBytes) None
      else {
        val nFrames = payload.length / frameBytes
        val out = new Array[Float](sampleFrames)
        var i = 0
        while (i < sampleFrames) {
          val fi = (i.toLong * nFrames / sampleFrames).toInt
          var s = 0L
          var j = fi * frameBytes
          val end = j + frameBytes
          while (j < end) { s += (payload(j) & 0xff); j += 1 }
          out(i) = s.toFloat / frameBytes
          i += 1
        }
        Some(out)
      }
    }
  }

  /** Deterministic stand-in for an image resizer: the payload is a
    * `srcW`-byte-per-row grid (height = len / srcW); nearest-neighbor
    * sample to a `dstW`×`dstH` grid — out(r,c) = px(⌊r·H/dstH⌋,
    * ⌊c·srcW/dstW⌋), exactly the index arithmetic a real NN resize does
    * after decode. Emits the resized grid row-major.
    */
  final class StubImageResizer(srcW: Int = 8, dstW: Int = 4, dstH: Int = 4)
      extends Decoder {
    val featureDim: Int = dstW * dstH
    def decode(payload: Array[Byte]): Option[Array[Float]] = {
      if (payload == null || payload.length < srcW) None
      else {
        val h = payload.length / srcW
        val out = new Array[Float](featureDim)
        var r = 0
        while (r < dstH) {
          val sr = (r.toLong * h / dstH).toInt
          var c = 0
          while (c < dstW) {
            val sc = (c.toLong * srcW / dstW).toInt
            out(r * dstW + c) = (payload(sr * srcW + sc) & 0xff).toFloat
            c += 1
          }
          r += 1
        }
        Some(out)
      }
    }
  }

  /** Append `outCol: array<float>` by running `decoder` over `payloadCol`
    * in a partition-batched pass. Rows stream through one at a time but
    * the decoder object is constructed once per partition (the expensive
    * part for real codecs — model weights, JNI contexts).
    */
  def withDecodedFeatures(df: DataFrame, payloadCol: String, outCol: String,
      decoder: Decoder): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField(outCol, ArrayType(FloatType), nullable = true))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      // per-partition decoder init happens here (once), not per row
      rows.map { row =>
        val out = new Array[Any](outSchema.length)
        var i = 0
        while (i < inSchema.length) { out(i) = row.get(i); i += 1 }
        val payload =
          if (row.isNullAt(payloadIdx)) null
          else row.getAs[Array[Byte]](payloadIdx)
        out(inSchema.length) = decoder.decode(payload).map(_.toSeq).orNull
        new org.apache.spark.sql.catalyst.expressions.GenericRow(out): Row
      }
    }(Encoders.row(outSchema))
  }
}

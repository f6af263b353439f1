package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with typed metadata; decode / feature-extract
  * runs as a BATCHED per-partition stage (the JVM analog of
  * `mapInPandas`: rows are grouped into fixed-size batches and handed to
  * a vectorized decoder, amortizing per-call overhead).
  *
  * The actual media decoding is STUBBED — no image/audio libraries exist
  * in this environment — behind the [[Decoder]] trait. The default
  * [[Md5FakeDecoder]] produces deterministic pseudo-features from the
  * md5 of the payload, so the Spark-side plumbing (schema, batching,
  * partition-parallel execution, null passthrough) is fully real and
  * testable end-to-end, including cross-engine verification.
  *
  * Scale shape: decode is embarrassingly parallel per partition — no
  * shuffle; partition sizing is controlled upstream by
  * `spark.sql.files.maxPartitionBytes` (binary payloads dominate bytes,
  * so default 128 MB splits keep per-task memory bounded).
  */
object MultimodalOps {

  /** One decoded media item. */
  final case class Decoded(width: Int, height: Int, channels: Int,
    features: Array[Double])

  /** Vectorized decoder contract: one call per batch of payloads.
    * Real implementations (JPEG/PNG/audio) plug in here. */
  trait Decoder extends Serializable {
    def decodeBatch(payloads: Seq[Array[Byte]]): Seq[Decoded]
  }

  /** Deterministic stand-in for a real media decoder: dimensions and a
    * 3-dim feature vector derived from the payload md5 — byte-for-byte
    * reproducible in any engine with `md5`, which is what lets the
    * DuckDB oracle verify the whole batched-decode pipeline. */
  object Md5FakeDecoder extends Decoder {
    private def md5Hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(b).map("%02x".format(_)).mkString

    def decodeBatch(payloads: Seq[Array[Byte]]): Seq[Decoded] =
      payloads.map { p =>
        val h = md5Hex(p)
        def hex(from: Int, len: Int): Long =
          java.lang.Long.parseLong(h.substring(from, from + len), 16)
        Decoded(
          width = (hex(0, 4) % 512 + 16).toInt,
          height = (hex(4, 4) % 512 + 16).toInt,
          channels = 3,
          features = Array(
            hex(8, 8).toDouble / 4294967295.0,
            hex(16, 8).toDouble / 4294967295.0,
            hex(24, 8).toDouble / 4294967295.0))
      }
  }

  /** Append decode results to `df`: columns (width int, height int,
    * channels int, features array<double>). Null payloads pass through
    * with null decode columns. Runs per-partition in `batchSize` groups
    * through `decoder.decodeBatch`. A batch the decoder throws on is
    * decoded again one payload at a time, and a payload that still
    * throws keeps its row with null decode columns, like a null payload.
    * This keeps its own per-partition loop rather than
    * [[BinaryDecoders.appendRows]]: it decodes whole batches, and a
    * failed payload keeps its row instead of dropping it. */
  def decode(df: DataFrame, binaryCol: String, decoder: Decoder = Md5FakeDecoder,
      batchSize: Int = 64): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("features", ArrayType(DoubleType))))
    val binIdx = inSchema.fieldIndex(binaryCol)
    def decodeTotal(payloads: Seq[Array[Byte]]): Seq[Option[Decoded]] =
      try decoder.decodeBatch(payloads).map(Some(_))
      catch { case _: Exception =>
        payloads.map { p =>
          try decoder.decodeBatch(Seq(p)).headOption
          catch { case _: Exception => None }
        }
      }
    val result = df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val payloads = batch.map(r => Option(r.getAs[Array[Byte]](binIdx)))
        val decoded = decodeTotal(payloads.flatten).iterator
        batch.zip(payloads).map { case (row, p) =>
          val d = if (p.isEmpty) None else decoded.next()
          Row.fromSeq(row.toSeq ++ d.fold(Seq[Any](null, null, null, null))(
            d => Seq(d.width, d.height, d.channels, d.features.toSeq)))
        }
      }
    }(Encoders.row(outSchema))
    result.toDF()
  }

  /** Frame sampling for a video-shaped row: given a frame count column,
    * emit one row per sampled frame index (every `stride`-th frame) —
    * pure `explode(sequence(...))`, no decode until the frames are
    * actually fetched downstream. */
  def sampleFrames(df: DataFrame, nFramesCol: String, stride: Int): DataFrame =
    df.withColumn("frame_idx",
      explode(sequence(lit(0), greatest(col(nFramesCol) - 1, lit(0)),
        lit(stride))))
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines.
  *
  * Media are opaque `binary` columns travelling next to typed metadata;
  * decode / feature-extraction runs partition-wise so a real decoder
  * (JNI image lib, ffmpeg pipe, …) is initialized once per partition and
  * fed batches — the Spark-side contract (schema, partitioning, batch
  * shape) is real and tested, while decoding itself sits behind the
  * injectable [[MultimodalOps.MediaDecoder]] seam. Two implementations
  * ship: [[JvmMediaDecoder]] — a REAL decoder for PNG/JPEG/BMP/GIF
  * images and WAV/AIFF/AU audio built on the JDK's own ImageIO and
  * AudioSystem (zero external dependencies) — and the deterministic
  * [[MultimodalOps.StubDecoder]] default (fake dimensions derived from
  * payload bytes), kept for formats needing libraries this container
  * lacks (video) and for hash-stable oracle fixtures. Swapping decoders
  * changes only the injected object.
  *
  * At 100 TB: payloads dominate row size, so ops `repartition` by byte
  * budget rather than row count before partition-wise decode, and
  * metadata-only transformations never touch the payload column (column
  * pruning keeps it out of the scan entirely).
  */
object MultimodalOps {

  /** Typed metadata carried beside every media payload. */
  final case class MediaMeta(
      mediaType: String,
      nBytes: Long,
      contentSha: String,
      width: Int,
      height: Int)

  final case class MediaRecord(id: Long, payload: Array[Byte], meta: MediaMeta)

  /** Feature row produced by partition-wise decode: fixed-length float
    * vector + provenance. */
  final case class MediaFeatures(id: Long, features: Array[Float], nFrames: Int)

  /** The decode seam: everything that needs a real media library lives
    * behind this trait, so swapping in production decoding (a JNI image
    * lib, an ffmpeg pipe) changes ONE injected object and none of the
    * Spark-side plumbing. Implementations ship to executors inside
    * `mapPartitions` closures (hence `Serializable`); `open()` runs once
    * per partition before any row — the place to initialize a native
    * handle or subprocess — and per-row calls then amortize it. */
  trait MediaDecoder extends Serializable {
    /** Once-per-partition setup (native lib init, ffmpeg spawn). */
    def open(): Unit = ()
    def decode(payload: Array[Byte]): MediaMeta
    def features(payload: Array[Byte], dims: Int = 8): Array[Float]
  }

  /** STUB decoder (the default) — this container has no media
    * libraries, so dimensions/"frames" derive deterministically from the
    * payload hash and features fold payload bytes; tests are stable and
    * the pipeline shape is identical to a real decoder's. */
  object StubDecoder extends MediaDecoder {
    override def decode(payload: Array[Byte]): MediaMeta = {
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(payload)
      val hex = sha.map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 8), 16)
      MediaMeta(
        mediaType = if (h % 3 == 0) "image" else if (h % 3 == 1) "audio" else "video",
        nBytes = payload.length.toLong,
        contentSha = hex,
        width = (h % 1920).toInt,
        height = (h % 1080).toInt)
    }

    /** Stand-in for an embedding/mel-spectrogram computed per decoded
      * frame: `dims` floats folded from payload bytes. */
    override def features(payload: Array[Byte], dims: Int = 8): Array[Float] = {
      val acc = new Array[Float](dims)
      var i = 0
      while (i < payload.length) {
        acc(i % dims) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      acc
    }
  }

  /** Pack a text column as a binary payload with populated metadata —
    * the ingest-side shape (in production the payload arrives as raw
    * bytes from the object store). */
  def pack(df: DataFrame, idCol: String, textCol: String,
      decoder: MediaDecoder = StubDecoder)(
      implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), encode(col(textCol), "UTF-8"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        decoder.open() // once per partition, before any payload
        it.map { case (id, payload) =>
          MediaRecord(id, payload, decoder.decode(payload))
        }
      }
  }

  /** Ingest raw binary payloads (the production shape — bytes straight
    * from the object store) with partition-wise decode, e.g. with the
    * dependency-free real decoder [[JvmMediaDecoder]] for PNG/JPEG/BMP/
    * GIF/WAV. */
  def packBinary(df: DataFrame, idCol: String, payloadCol: String,
      decoder: MediaDecoder = StubDecoder)(
      implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        decoder.open()
        it.map { case (id, payload) =>
          MediaRecord(id, payload, decoder.decode(payload))
        }
      }
  }

  /** Partition-wise decode + feature extraction. `mapPartitions` (not a
    * per-row UDF) so decoder setup amortizes and batches can be formed —
    * the Spark-native analogue of a batched pandas-UDF pipeline. */
  def extractFeatures(records: Dataset[MediaRecord],
      decoder: MediaDecoder = StubDecoder)(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    records.mapPartitions { it =>
      decoder.open()
      it.map { r =>
        MediaFeatures(r.id, decoder.features(r.payload),
          nFrames = (r.meta.nBytes / 64 + 1).toInt)
      }
    }
  }

  /** Deterministic frame sampling: every `stride`-th 64-byte window of the
    * payload (stands in for video frame sampling; same batch shape). */
  def sampleFrames(records: Dataset[MediaRecord], stride: Int)(
      implicit spark: SparkSession): Dataset[(Long, Int, Array[Byte])] = {
    require(stride > 0, "stride must be positive") // fail on the driver,
    // not with a per-row ArithmeticException inside an executor task
    import spark.implicits._
    records.flatMap { r =>
      r.payload.grouped(64).zipWithIndex.collect {
        case (frame, idx) if idx % stride == 0 => (r.id, idx, frame)
      }
    }
  }

  /** Metadata-only projection: never deserializes payloads — at scale the
    * parquet scan prunes the binary column entirely. */
  def metadataOnly(records: Dataset[MediaRecord])(
      implicit spark: SparkSession): DataFrame =
    records.toDF().select(col("id"), col("meta.*"))

  /** Repartition by BYTE budget, not row count: media rows vary from KB to
    * GB, so row-count partitioning makes decode tasks wildly uneven. Uses
    * recorded payload sizes to pick a partition count targeting
    * `targetBytesPerPartition` per task. */
  def repartitionByBytes(
      records: Dataset[MediaRecord], targetBytesPerPartition: Long)(
      implicit spark: SparkSession): Dataset[MediaRecord] = {
    import org.apache.spark.sql.functions.sum
    val row = records.toDF().agg(sum(col("meta.nBytes"))).head()
    if (row.isNullAt(0)) records // empty dataset: nothing to rebalance
    else {
      val total = row.getLong(0)
      val parts = math.max(1, math.ceil(total.toDouble / targetBytesPerPartition).toInt)
      records.repartition(parts)
    }
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; decode / feature-extract /
  * frame-sample run as `mapPartitions` stages with one decoder instance
  * per partition (the executor-session lifecycle an ONNX/codec runtime
  * needs — /root/reference/src/embedder/core.rs holds one session per
  * thread pool for the same reason).
  *
  * The DECODE step is a clearly-marked deterministic stub (this
  * container has no image/audio codecs); everything around it — row
  * encoding, schema, partition-wise batching, laziness of the iterator,
  * generator fan-out — is the real distributed plumbing and is what the
  * tests pin down. Swapping `StubDecoder` for a JNI/ONNX decoder changes
  * no plan shape.
  *
  * Scale: decode runs at scan parallelism with NO shuffle — binary
  * payloads never move between executors; only extracted features
  * (small) flow downstream. Partition sizing is controlled by the
  * reader's maxPartitionBytes, not by this stage.
  */
object Multimodal {

  /** Feature row produced by the decode stage. */
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      digest: String,
      width: Int,
      height: Int,
      feat: Array[Float])

  /** STUB decoder — deterministic fake in place of a codec library.
    * Digest is the md5 hex of the payload; "dimensions" and the feature
    * vector are derived from digest bytes so results are reproducible
    * and oracle-checkable. A real implementation would decode pixels /
    * samples here; the call-site contract (bytes → features, one
    * instance per partition, reused across rows) is identical.
    */
  final class StubDecoder {
    private val md = java.security.MessageDigest.getInstance("MD5")
    def decode(id: Long, kind: String, bytes: Array[Byte]): MediaFeatures = {
      md.reset()
      val hex = md.digest(bytes).map("%02x".format(_)).mkString
      val feat = (0 until 8).map(k => hex.charAt(k).toInt.toFloat).toArray
      MediaFeatures(id, kind, bytes.length.toLong, hex,
        width = 16 * (1 + (hex.charAt(0).toInt % 4)),
        height = 16 * (1 + (hex.charAt(1).toInt % 4)),
        feat = feat)
    }
  }

  /** Decode + feature-extract over a media DataFrame with columns
    * (idCol: long, kindCol: string, bytesCol: binary). One StubDecoder
    * per partition; the iterator is mapped lazily so payload batches
    * stream through without materializing a partition in memory.
    */
  def decodeFeatures(media: DataFrame, idCol: String = "media_id",
                     kindCol: String = "kind",
                     bytesCol: String = "payload"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(kindCol), col(bytesCol))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        val dec = new StubDecoder // one per partition/task, reused per row
        rows.map { case (id, kind, bytes) => dec.decode(id, kind, bytes) }
      }
      .toDF()
  }

  /** Frame sampling: a 1-row → N-row generator that cuts a binary
    * payload into fixed-size frames and keeps every `stride`-th one
    * (video frame-sampling shape). Pure plumbing — frames are byte
    * slices; a codec would decode each.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int,
                   idCol: String = "media_id",
                   bytesCol: String = "payload"): DataFrame = {
    require(frameBytes > 0 && stride > 0)
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val nFrames = (bytes.length + frameBytes - 1) / frameBytes
        Iterator.range(0, nFrames).filter(_ % stride == 0).map { f =>
          val from = f * frameBytes
          val until = math.min(from + frameBytes, bytes.length)
          (id, f.toLong, java.util.Arrays.copyOfRange(bytes, from, until))
        }
      }
      .toDF(idCol, "frame_idx", "frame_bytes")
  }
}

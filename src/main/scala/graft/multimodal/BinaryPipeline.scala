package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads ride as
  * opaque `binary` columns with typed metadata, and per-modality
  * decode / feature-extract / resize / frame-sample stages run as
  * distributed partition-wise transforms.
  *
  * Both decode layers are real: [[HeaderDecoder]] parses actual
  * PNG/JPEG/GIF/BMP container bytes via [[ImageHeaders]] (the
  * oracle-checked q119 catalog entry proves the byte-level parse
  * against independently computed geometry), and
  * [[PixelDecode.ImageIoDecoder]] decodes PIXELS with the JDK's own
  * `javax.imageio` codec (oracle-checked exactly by q138 against
  * formula-assembled BMPs). A JNI/ffmpeg-backed [[MediaDecoder]] for
  * codecs the JDK lacks (H.264, AV1, …) slots in without changing
  * any plan shape.
  *
  * Scale: decode is the classic CPU-heavy embarrassingly-parallel
  * stage — `repartition(id)` sizes tasks, `mapPartitions` amortizes
  * any per-task decoder init (model load, codec context), and the
  * output is a flat frame table ready for the similarity operators
  * (graft.functions.VectorExpressions) downstream.
  */
object BinaryPipeline {

  /** Typed metadata traveling beside the opaque payload. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))

  /** One decoded/sampled frame with extracted features. */
  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Per-partition decoder contract: one init per task (closure state),
    * frames emitted lazily per payload.
    */
  trait MediaDecoder extends Serializable {
    /** (frameIdx, width, height, channels, featureVector) per frame. */
    def decode(payload: Array[Byte]): Iterator[(Int, Int, Int, Int, Array[Float])]
  }

  /** REAL header decode: parses the payload's actual PNG/JPEG/GIF/BMP
    * container bytes ([[ImageHeaders.parse]] — signature dispatch,
    * per-format endianness, JPEG marker scan, channel maps) and emits
    * one frame carrying the true (width, height, channels). Features
    * are the first `featDim` payload bytes normalized to [-0.5, 0.5)
    * — the pixel statistics remain the codec's job. Unparseable
    * payloads yield zero rows (a crawler's media column always has
    * garbage; dropping the row beats killing the task).
    */
  class HeaderDecoder(featDim: Int) extends MediaDecoder {
    override def decode(payload: Array[Byte]): Iterator[(Int, Int, Int, Int, Array[Float])] = {
      val m = ImageHeaders.parse(payload)
      if (m == null) Iterator.empty
      else {
        val feats = Array.tabulate(featDim) { d =>
          ((payload(d % payload.length) & 0xff).toFloat / 255.0f) - 0.5f
        }
        Iterator.single((0, m.width, m.height, m.channels, feats))
      }
    }
  }

  /** Decode + feature-extract: binary table → frame/feature table.
    * Partition by media_id first so decode parallelism is independent
    * of the source file layout.
    */
  def decodeFrames(media: DataFrame, decoder: MediaDecoder): DataFrame = {
    val enc = RowEncoder.encoderFor(frameSchema)
    media.select(col("media_id"), col("payload"))
      .repartition(col("media_id"))
      .mapPartitions { rows =>
        // decoder init happens once per task here (the expensive part
        // for a real codec); per-row work streams lazily
        rows.flatMap { r =>
          val id = r.getLong(0)
          val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          decoder.decode(payload).map { case (f, w, h, c, feats) =>
            Row(id, f, w, h, c, feats.toSeq)
          }
        }
      }(enc)
  }

  /** Frame sampling: keep every k-th frame per media (video shape). */
  def sampleFrames(frames: DataFrame, every: Int): DataFrame =
    frames.filter(col("frame_idx") % every === 0)

  /** "Resize": average-pool the feature vector down to `dim` buckets —
    * the plan shape of an image resize (per-row array op, zero shuffle).
    */
  def resizeFeatures(frames: DataFrame, dim: Int): DataFrame =
    frames.withColumn("features",
      expr(s"""transform(sequence(0, $dim - 1), i ->
                 cast(aggregate(slice(features, i * (size(features) div $dim) + 1,
                                      size(features) div $dim),
                                0D, (acc, x) -> acc + cast(x as double),
                                acc -> acc / (size(features) div $dim)) as float))"""))

  /** Wrap the documents fixture as a binary media table (text bytes
    * stand in for payloads — same plumbing, honest stub).
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"), lit("application/octet-stream").as("mime"),
        col("text").cast("binary").as("payload"))
}

package graft.operators

import graft.api.Df
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: image/audio/
  * video payloads travel as opaque `binary` columns plus a typed metadata
  * struct; decode / feature-extraction runs per-partition in batches.
  *
  * The decode step itself is STUBBED (this container has no image/audio
  * codecs): [[FakeCodec]] is a deterministic stand-in with the same
  * interface a real decoder (JavaCV / TwelveMonkeys / libsndfile JNI)
  * would have. Everything around it — schema, partitioning, batch shape,
  * per-partition execution — is real Spark and tested.
  *
  * Scale notes: payloads stay distributed (never collected); feature
  * extraction is `mapPartitions` so decoder init happens once per
  * partition, not per row — the Scala analog of the batched
  * `mapInPandas` pattern; partition sizing is controlled upstream via
  * `spark.sql.files.maxPartitionBytes` so one batch of payloads fits in
  * executor memory.
  */
object Multimodal {

  /** typed metadata carried next to every payload */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("mime", StringType),
    StructField("n_bytes", IntegerType),
    StructField("digest", StringType)))

  /** Wrap a binary column with its metadata struct — the ingest step. */
  def packMedia(df: Df, idCol: String, payloadCol: String, mime: String): Df =
    new Df(df.sdf.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      lit(mime).as("mime"),
      length(col(payloadCol).cast("binary")).as("n_bytes"),
      sha2(col(payloadCol).cast("binary"), 256).as("digest")))

  /** Deterministic stand-in for a real media decoder. A production build
    * replaces `decodeToFeatures` with the actual codec call; signature
    * and batch contract stay identical. */
  object FakeCodec {
    /** "decode" a payload into a fixed-width feature vector: byte
      * histogram moments — deterministic, cheap, shaped like an
      * embedding. Real impl: decode image → resize → pool channels. */
    def decodeToFeatures(payload: Array[Byte], dim: Int = 8): Array[Float] = {
      if (payload == null || payload.isEmpty) return Array.fill(dim)(0f)
      val out = new Array[Float](dim)
      var i = 0
      while (i < payload.length) {
        out(i % dim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      val n = math.max(1, payload.length / dim)
      out.map(_ / n)
    }
    /** frame-sample stub: byte offsets a video frame sampler would use */
    def sampleOffsets(nBytes: Int, frames: Int): Seq[Int] =
      (0 until frames).map(f => (nBytes.toLong * f / frames).toInt)
  }

  /** Video frame-sample SCHEDULING as a relational plan: one row per
    * (media, frame) with the byte offset a decode stage would seek to —
    * `sequence` + `explode`, pure codegen, no UDF. The decode itself
    * stays stubbed; what a real pipeline hands its GPU decoder is
    * exactly this table. Mirrors [[FakeCodec.sampleOffsets]]
    * (spec-pinned) so the scheduled offsets and the stub decoder agree. */
  def frameSamplePlan(media: Df, frames: Int): Df = {
    require(frames >= 1)
    new Df(media.sdf
      .select(col("media_id"), col("n_bytes"),
        explode(expr(s"sequence(0, ${frames - 1})")).as("frame_idx"))
      .withColumn("byte_offset",
        expr(s"CAST(CAST(n_bytes AS BIGINT) * frame_idx DIV $frames AS INT)")))
  }

  /** Perceptual-hash near-dup key over the decoded features: bit k set
    * iff feature[k] clears the feature mean — the classic aHash shape
    * (real pipelines compute it on a resized grayscale grid; here it
    * rides [[extractFeatures]]' stub histogram, and the plumbing —
    * float accumulation order, widening, bit packing — is the part
    * under test). Float sums stay left-associated so the DuckDB replay
    * lands on identical bits; the mean division widens to double in
    * BOTH engines (Spark's Divide is double-only; the replay casts). */
  def perceptualHash(features: Df, dim: Int = 8,
                     out: String = "phash"): Df = {
    val f = (k: Int) => element_at(col("feature"), k + 1)
    val mean = (0 until dim).map(f).reduce(_ + _).cast("double") / lit(dim.toDouble)
    val bits = (0 until dim)
      .map(k => when(f(k).cast("double") > mean, lit(1 << k)).otherwise(lit(0)))
      .reduce(_ + _)
    new Df(features.sdf.withColumn(out, bits))
  }

  /** Per-partition BATCHED feature extraction — the Scala analog of the
    * `mapInPandas` pattern: decoder initialized once per partition (the
    * expensive part for real codecs), rows drained in fixed-size batches
    * (real decoders amortize GPU/FFI round-trips per batch), streamed —
    * never materializing the whole partition. */
  def extractFeatures(media: Df, dim: Int = 8, batchSize: Int = 64): Df = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_bytes", IntegerType),
      StructField("feature", ArrayType(FloatType))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val ds: Dataset[Row] = media.sdf
      .select(col("media_id"), col("payload"), col("n_bytes"))
      .mapPartitions { rows =>
        // real codec: init decoder/session HERE, once per partition
        rows.grouped(batchSize).flatMap { batch =>
          // real codec: one vectorized decode call per batch here
          batch.map { r =>
            val payload = r.getAs[Array[Byte]]("payload")
            Row(r.getAs[Long]("media_id"), r.getAs[Int]("n_bytes"),
              FakeCodec.decodeToFeatures(payload, dim))
          }
        }
      }(enc)
    new Df(ds.toDF())
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.table

/** Multimodal-column plumbing: media payloads travel as opaque `binary`
  * columns with a typed metadata struct; decode/feature steps run
  * per-partition over batches (the Scala analogue of an arrow-batched
  * UDF), so adding a real image/audio decoder later only swaps the
  * `decodeStub` body — schema, partitioning and batch shape stay put.
  *
  * No media libraries ship in this environment, so the decoder is a
  * deterministic STUB: it derives fake width/height/frame metadata from
  * payload bytes. The Spark-side contract (binary column + struct
  * metadata + mapPartitions batch processing) is real and tested.
  */
object MultimodalOps extends QueryModule {

  /** Assets table synthesized from documents: payload = utf-8 bytes. */
  def assets(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload"),
        struct(col("lang").as("media_lang"),
          col("source").as("origin"),
          octet_length(col("text")).as("n_bytes")).as("meta"))

  /** STUB decoder: replace with a real media decode; deterministic fake
    * dimensions derived from the payload so tests can pin outputs. */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int) = {
    val n = payload.length
    (64 + n % 577, 64 + (n * 31) % 577, 1 + n % 7)
  }

  private val decodedSchema = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** Per-partition batch decode over the binary payloads (mapPartitions
    * keeps one decoder instance per task — the shape a JNI/native decoder
    * needs). */
  def decoded(s: SparkSession, d: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(decodedSchema)
    assets(s, d)
      .select("asset_id", "payload")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val (w, h, f) = decodeStub(payload)
          Row(id, payload.length, w, h, f)
        }
      }(enc)
  }

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  private val framesSchema = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("frame_hash", StringType)))

  /** Frame sampling: one row per sampled frame (UDTF shape — flatMap
    * inside mapPartitions). Frame count comes from the stub decode;
    * each "frame" is a 64-byte window at a 32-byte stride, identified
    * by its content hash. A real video decoder slots into the same
    * batch loop. */
  def frames(s: SparkSession, d: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(framesSchema)
    assets(s, d).select("asset_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val (_, _, nFrames) = decodeStub(payload)
          (0 until nFrames).iterator.map { i =>
            val from = math.min(i * 32, payload.length)
            val until = math.min(from + 64, payload.length)
            Row(id, i, md5Hex(payload.slice(from, until)))
          }
        }
      }(enc)
  }

  private val featureSchema = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("feature", ArrayType(FloatType))))

  /** Feature extraction: fixed-width float vector per asset (the shape
    * an image/audio embedding model produces). Stub: 8 exact-in-float
    * values ascii(byte at k*7)/128. */
  def features(s: SparkSession, d: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(featureSchema)
    assets(s, d).select("asset_id", "payload")
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]](1)
          val f = Array.tabulate(8) { k =>
            val pos = k * 7
            val c = if (pos < payload.length) payload(pos) & 0x7f else 0
            c.toFloat / 128f
          }
          Row(r.getLong(0), f)
        }
      }(enc)
  }

  val queries: Map[String, Q] = Map(
    // ---- frame sampling over binary payloads (mapPartitions UDTF) ------
    "q54_frame_sample" -> ((s, d) => frames(s, d)),

    // ---- feature-extract + native array_dot norm -----------------------
    "q55_feature_norm" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      features(s, d).select(col("asset_id"),
        round(sqrt(expr("array_dot(feature, feature)")), 6).as("nrm"))
    }),

    // ---- resize metadata (thumbnail fit, integer math) -----------------
    "q56_resize_meta" -> ((s, d) => {
      decoded(s, d).select(col("asset_id"), col("width"), col("height"),
        lit(128).as("out_w"),
        floor((col("height") * 128) / col("width")).cast("int").as("out_h"))
    }),
    // ---- binary payload + metadata extraction (stubbed decode) ---------
    // Expressed relationally so the oracle can check the metadata math the
    // stub uses; the mapPartitions path is covered by MultimodalSpec.
    "q43_binary_meta" -> ((s, d) => {
      table(s, d, "documents")
        .withColumn("n_bytes", octet_length(col("text")))
        .select(col("doc_id"),
          col("n_bytes"),
          (lit(64) + col("n_bytes") % 577).as("width"),
          (lit(64) + (col("n_bytes") * 31) % 577).as("height"),
          (lit(1) + col("n_bytes") % 7).as("n_frames"))
    }),

    // ---- modality join: document text + embedding enrichment -----------
    "q44_modality_join" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val emb = table(s, d, "embeddings")
      docs.join(emb, docs("doc_id") === emb("vec_id"))
        .groupBy("lang", "label")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q54_frame_sample" ->
      """SELECT doc_id AS asset_id,
         CAST(unnest(range(0, 1 + n_chars % 7)) AS INTEGER) AS frame_idx,
         unnest(list_transform(range(0, 1 + n_chars % 7),
           i -> md5(substr(text, CAST(i AS INTEGER) * 32 + 1, 64))))
           AS frame_hash
         FROM documents""",
    "q55_feature_norm" ->
      """SELECT doc_id AS asset_id,
         round(sqrt(list_dot_product(f, f)), 6) AS nrm
         FROM (SELECT doc_id, list_transform(range(0, 8),
                 k -> ascii(substr(text, CAST(k AS INTEGER) * 7 + 1, 1)) / 128.0) AS f
               FROM documents)""",
    "q56_resize_meta" ->
      """SELECT doc_id AS asset_id, width, height, 128 AS out_w,
         CAST(floor((height * 128) / width) AS INTEGER) AS out_h
         FROM (SELECT doc_id, 64 + n_bytes % 577 AS width,
                 64 + (n_bytes * 31) % 577 AS height
               FROM (SELECT doc_id, octet_length(encode(text)) AS n_bytes
                     FROM documents))""",
    "q43_binary_meta" ->
      """SELECT doc_id, n_bytes,
         64 + n_bytes % 577 AS width,
         64 + (n_bytes * 31) % 577 AS height,
         1 + n_bytes % 7 AS n_frames
         FROM (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents)""",
    "q44_modality_join" ->
      """SELECT lang, label, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents JOIN embeddings ON doc_id = vec_id
         GROUP BY lang, label"""
  )
}

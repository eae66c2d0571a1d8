package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column handling: image/audio/video travel as opaque `binary`
 * columns plus a typed metadata struct; decode / resize / frame-sample /
 * feature-extract run per-partition over batches of rows — the same batch
 * shape a real codec (libjpeg/ffmpeg via a vectorized UDF) would use, so the
 * Spark-side plumbing (schema, partitioning, no shuffle in the decode stage)
 * is real even though the codecs here are deterministic stubs (no media
 * libraries ship in this environment).
 *
 * Stub wire format (12-byte header + payload):
 * bytes 0-3 width, 4-7 height, 8-11 channels (big-endian ints).
 */
object Multimodal {

  val MetaType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_bytes", LongType)))

  /** The stub's 12-byte header (width, height, channels as big-endian
    * ints, `ByteBuffer`'s default order) followed by `payload`. */
  private def withHeader(width: Int, height: Int, channels: Int, payload: Array[Byte]): Array[Byte] =
    java.nio.ByteBuffer.allocate(12 + payload.length)
      .putInt(width).putInt(height).putInt(channels).put(payload).array()

  /** Deterministic stub encode: header + rep-count payload. */
  def encodeStub(width: Int, height: Int, channels: Int): Array[Byte] = {
    val payload = new Array[Byte]((width * height * channels) min 4096)
    var i = 0
    while (i < payload.length) { payload(i) = ((i * 31 + width) % 251).toByte; i += 1 }
    withHeader(width, height, channels, payload)
  }

  /** Stub decode: parse the 12-byte header (a real impl would parse the
    * JPEG/PNG header); throws on short/corrupt content. */
  def decodeStub(content: Array[Byte]): (Int, Int, Int) = {
    require(content != null && content.length >= 12, "corrupt media: missing header")
    val header = java.nio.ByteBuffer.wrap(content, 0, 12)
    (header.getInt(), header.getInt(), header.getInt())
  }

  /**
   * Add a typed `meta` struct decoded from `contentCol`. Runs mapPartitions
   * so a real codec could amortize per-batch init (model load, JNI handle);
   * corrupt rows yield a null meta rather than failing the job.
   */
  def withDecodedMeta(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("meta", MetaType))
    val idx = df.schema.fieldIndex(contentCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val meta =
          try {
            val (w, h, c) = decodeStub(r.getAs[Array[Byte]](idx))
            Row(w, h, c, r.getAs[Array[Byte]](idx).length.toLong)
          } catch { case _: Exception => null }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }(Encoders.row(outSchema))
  }

  /**
   * Stub resize: rewrite the header, deterministically subsample the payload
   * to the new pixel count. Pure per-row transform — stays in the scan stage.
   */
  def resize(df: DataFrame, newWidth: Int, newHeight: Int,
             contentCol: String = "content"): DataFrame = {
    val idx = df.schema.fieldIndex(contentCol)
    val schema = df.schema
    df.mapPartitions { rows =>
      rows.map { r =>
        val content = r.getAs[Array[Byte]](idx)
        val resized =
          try {
            val (_, _, c) = decodeStub(content)
            val payload = content.drop(12)
            val outLen = (newWidth * newHeight * c) min payload.length min 4096
            val out = new Array[Byte](outLen)
            var i = 0
            while (i < outLen) { out(i) = payload(i * payload.length / math.max(outLen, 1)); i += 1 }
            withHeader(newWidth, newHeight, c, out)
          } catch { case _: Exception => content }
        Row.fromSeq(r.toSeq.updated(idx, resized))
      }
    }(Encoders.row(schema))
  }

  /**
   * Stub frame sampling for video-like content: the payload splits into
   * `frameSize`-byte frames; keep every `everyN`-th. Output explodes to one
   * row per kept frame with a frame_idx — the shape a downstream
   * image-encoder stage consumes.
   */
  def sampleFrames(df: DataFrame, frameSize: Int, everyN: Int,
                   contentCol: String = "content"): DataFrame = {
    val idx = df.schema.fieldIndex(contentCol)
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("frame_idx", IntegerType), StructField("frame", BinaryType)))
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val content = r.getAs[Array[Byte]](idx)
        if (content == null || content.length <= 12) Iterator.empty
        else {
          val payload = content.drop(12)
          payload.grouped(frameSize).zipWithIndex
            .filter { case (_, i) => i % everyN == 0 }
            .map { case (frame, i) => Row.fromSeq(r.toSeq ++ Seq(i, frame)) }
        }
      }
    }(Encoders.row(outSchema))
  }

  /**
   * Query entry (rows-only): derive a deterministic stub image per document
   * (dims keyed off doc_id), then run the full decode → meta → embed
   * pipeline. Proves the binary-column plumbing end-to-end on driver data.
   */
  def multimodalPipeline(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val decoded = embedContent(withDecodedMeta(stubMedia(spark, dir)))
    decoded.select(
      col("media_id"), col("modality"),
      col("meta.width"), col("meta.height"), col("meta.channels"), col("meta.n_bytes"),
      size(col("embedding")).as("emb_dim"))
      .orderBy(col("media_id"))
  }

  /** Deterministic stub media table: one image per document, dims keyed off
    * doc_id (so every byte is reproducible in plain SQL). */
  private def stubMedia(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // (round-20 note: a partition-gated spread here measured SLOWER — the
    // stub codec kernels are ~0.3 task-seconds, under the exchange cost)
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"), lit("image").as("modality"), col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id, r.getString(1),
            encodeStub((id % 64 + 16).toInt, (id % 48 + 16).toInt, (id % 3 + 1).toInt))
        }
      }(Encoders.row(StructType(Seq(
        StructField("media_id", LongType),
        StructField("modality", StringType),
        StructField("content", BinaryType)))))
  }

  /**
   * Query entry (oracle-checked): the remaining two multimodal transforms —
   * [[resize]] to 32x32 then [[sampleFrames]] (256-byte frames, keep every
   * 2nd) — reduced per frame to (length, unsigned byte sum). The stub codec
   * is pure integer arithmetic on (doc_id-derived) dims, so DuckDB
   * reproduces every byte and the whole resize→frame-sample path is
   * hash-checked, not just suite-asserted. All three stages are narrow
   * per-partition maps — the scan stage never shuffles.
   */
  def multimodalFrames(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val frames = sampleFrames(resize(stubMedia(spark, dir), 32, 32),
      frameSize = 256, everyN = 2)
    val idIdx = frames.schema.fieldIndex("media_id")
    val frameIdx = frames.schema.fieldIndex("frame_idx")
    val frameCol = frames.schema.fieldIndex("frame")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame_len", IntegerType),
      StructField("frame_sum", LongType)))
    frames.mapPartitions { rows =>
      rows.map { r =>
        val f = r.getAs[Array[Byte]](frameCol)
        var s = 0L; var i = 0
        while (i < f.length) { s += (f(i) & 0xFF); i += 1 }
        Row(r.getLong(idIdx), r.getInt(frameIdx), f.length, s)
      }
    }(Encoders.row(outSchema))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /**
   * Stub feature extraction: a deterministic 8-dim embedding from content
   * bytes (a real impl would run a vision encoder per batch). Demonstrates
   * the batched map shape with typed array output.
   */
  def embedContent(df: DataFrame, contentCol: String = "content",
                   dim: Int = 8): DataFrame = {
    val idx = df.schema.fieldIndex(contentCol)
    val outSchema = StructType(df.schema.fields :+
      StructField("embedding", ArrayType(FloatType)))
    df.mapPartitions { rows =>
      rows.map { r =>
        val content = r.getAs[Array[Byte]](idx)
        val emb =
          if (content == null) null
          else {
            val out = new Array[Float](dim)
            var i = 0
            while (i < content.length) {
              out(i % dim) += (content(i) & 0xFF) / 255.0f
              i += 1
            }
            out.toIndexedSeq
          }
        Row.fromSeq(r.toSeq :+ emb)
      }
    }(Encoders.row(outSchema))
  }

  // ---- perceptual-hash image dedup (near-dup detection over binary) ----

  /** Stub encode with ONE payload byte re-valued — the "re-encoded or
    * lightly edited copy" a crawl keeps yielding. The byte sits at the
    * start of dHash block `k` (k in 0..58), so the twin's [[pHash60]]
    * differs from the original's in AT MOST the two bits that compare
    * block k against its neighbors — guaranteed inside the hamming<=3
    * ball that [[phashNearDups]]' 4-band pigeonhole covers exactly. */
  def encodeStubPerturbed(width: Int, height: Int, channels: Int, k: Int): Array[Byte] = {
    require(k >= 0 && k <= 58, s"perturbed block out of range: $k")
    val out = encodeStub(width, height, channels)
    val plen = out.length - 12
    val q = (k * plen + 60) / 61 // first byte of dHash block k
    val v = out(12 + q) & 0xFF
    out(12 + q) = ((v + 97) % 251).toByte
    out
  }

  /**
   * 60-bit dHash (gradient hash) of stub-codec content: payload bytes
   * (unsigned) fall into 61 blocks (`block(i) = i*61/plen`), bit j set iff
   * `blocksum(j) > blocksum(j+1)`. A real impl would average grayscale
   * cells of the decoded image; the block-sum-of-bytes stub keeps the
   * locality property that matters (a local edit touches O(1) blocks →
   * O(1) bits) while every bit is reproducible in plain SQL.
   */
  def pHash60(content: Array[Byte]): Long = {
    val plen = content.length - 12
    require(plen >= 61, s"payload too short for 61 dHash blocks: $plen")
    val s = new Array[Long](61)
    var i = 0
    while (i < plen) { s((i.toLong * 61 / plen).toInt) += (content(12 + i) & 0xFF); i += 1 }
    var hash = 0L
    var j = 0
    while (j < 60) { if (s(j) > s(j + 1)) hash |= 1L << j; j += 1 }
    hash
  }

  /** Add a `phash` column via the batch-codec contract ([[withDecodedMeta]]
    * shape: mapPartitions so a real perceptual hasher could amortize
    * per-batch init); rows with corrupt/short content get a null hash. */
  def withPHash(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val idx = df.schema.fieldIndex(contentCol)
    val outSchema = StructType(df.schema.fields :+ StructField("phash", LongType))
    df.mapPartitions { rows =>
      rows.map { r =>
        val content = r.getAs[Array[Byte]](idx)
        val h: Any =
          if (content == null || content.length < 12 + 61) null
          else pHash60(content)
        Row.fromSeq(r.toSeq :+ h)
      }
    }(Encoders.row(outSchema))
  }

  /**
   * Near-duplicate media pairs with pHash hamming distance <= `maxHamming`:
   * the [[graft.operators.Dedup.simHashNearDups]] banding argument over the
   * 60-bit hash — (maxHamming+1) disjoint bands, pigeonhole guarantees any
   * pair within the ball agrees exactly on >= 1 band, so the band equi-join
   * has GUARANTEED recall and the result equals brute-force all-pairs
   * (which is how the DuckDB oracle checks it, exactly, not as a gate).
   * Scale: candidates are bounded by band-bucket density (15-bit keys keep
   * entropy); the self-join is pinned shuffle-hash — at corpus scale
   * neither side is broadcastable.
   */
  def phashNearDups(media: DataFrame, idCol: String = "media_id",
      maxHamming: Int = 3): DataFrame = {
    val numBands = maxHamming + 1
    require(numBands >= 2 && 60 % numBands == 0, s"bands must divide 60: $numBands")
    val width = 60 / numBands
    val hashes = media.select(col(idCol), col("phash"))
      .filter(col("phash").isNotNull)
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("phash"), b * width)
          .bitwiseAND(lit((1L << width) - 1)).as("band_bits"))
    }
    val banded = hashes
      .select(col(idCol), col("phash"), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("phash"), col("bb.band"), col("bb.band_bits"))
    val left = banded.select(col(idCol).as("media_a"), col("phash").as("ph_a"),
      col("band"), col("band_bits"))
    val right = banded.select(col(idCol).as("media_b"), col("phash").as("ph_b"),
      col("band"), col("band_bits"))
    left.join(right.hint("shuffle_hash"), Seq("band", "band_bits"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Query entry (oracle-checked EXACTLY, not gated): near-dup image pairs
   * over the stub corpus plus planted edited twins (every 5th doc gets a
   * one-byte-perturbed copy at media_id + 1_000_000). Pairs come from three
   * planted phenomena, all replayed byte-for-byte by the SQL oracle: twin
   * vs original (hamming <= 2 by construction), docs whose dims coincide
   * (period lcm(64,48,3) = 192 → identical stub content, hamming 0), and
   * twins of dim-coinciding docs. The banded join's equality to brute
   * force is the pigeonhole guarantee, so DuckDB's quadratic all-pairs
   * formulation IS the oracle of the linear-ish LSH plan.
   */
  def imagePhashDedup(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    phashNearDups(withPHash(imagePhashMediaForTest(spark, dir)))
      .orderBy(col("media_a"), col("media_b"))

  /** The entry's media table — stub corpus plus planted one-byte-edited
    * twins — exposed so the suite can brute-force the same hashes. */
  private[operators] def imagePhashMediaForTest(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val mediaSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("modality", StringType),
      StructField("content", BinaryType)))
    val twins = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id + 1000000L, "image",
            encodeStubPerturbed((id % 64 + 16).toInt, (id % 48 + 16).toInt,
              (id % 3 + 1).toInt, (id % 59).toInt))
        }
      }(Encoders.row(mediaSchema))
    stubMedia(spark, dir).unionByName(twins)
  }
}

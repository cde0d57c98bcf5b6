package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** Multimodal-column plumbing (LLM-pipeline north star): media as opaque
  * `binary` columns + typed metadata, with the decode / feature-extract
  * step as a per-partition batch operator.
  *
  * The container has no image/audio codecs, so the decode itself is a
  * clearly-marked DETERMINISTIC STUB (`decodeStub`: metadata derived from
  * the payload digest). Everything around it is the real scale design:
  *  - payloads travel as `BinaryType` columns (Tungsten keeps them
  *    off-heap; Parquet stores them as BYTE_ARRAY with page compression);
  *  - decode runs via `mapPartitions` so any native library would be
  *    initialized once per partition, not per row (the Scala analogue of
  *    `mapInPandas` batches);
  *  - partitioning is explicit: repartition by a key hash before decode so
  *    a 100 TB media table spreads evenly and no partition exceeds
  *    executor memory with decoded buffers.
  */
object Multimodal {

  private type Q = (SparkSession, String) => DataFrame

  /** Typed metadata row produced by the (stubbed) decoder. */
  case class MediaMeta(doc_id: Long, n_bytes: Long, digest: String,
                       width: Int, height: Int, format: String)

  /** STUB decode: real systems would decode image bytes here (JPEG/PNG →
    * dims, pixels); this container has no codecs, so dims/format are
    * derived deterministically from the md5 digest. The operator shape —
    * binary in, typed struct out, batch-per-partition — is the real thing.
    */
  def decodeStub(payloads: Dataset[(Long, Array[Byte])]): Dataset[MediaMeta] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      // One digest instance per partition — stands in for per-partition
      // codec/library initialization (the expensive part in real decoders).
      val md = MessageDigest.getInstance("MD5")
      it.map { case (id, bytes) =>
        md.reset()
        val hex = md.digest(bytes).map("%02x".format(_)).mkString
        val w = Integer.parseInt(hex.substring(0, 4), 16) % 1024
        val h = Integer.parseInt(hex.substring(4, 8), 16) % 1024
        // Hex-VALUE parity ('a'=10 → even), not ASCII-char parity — must
        // agree with q50's `conv(substring(md5, 9, 1), 16, 10) % 2`.
        val fmt = if (Integer.parseInt(hex.substring(8, 9), 16) % 2 == 0) "jpeg" else "png"
        MediaMeta(id, bytes.length.toLong, hex, w, h, fmt)
      }
    }
  }

  /** q50 — the SQL-expressible face of the pipeline: documents.text bytes
    * as the opaque payload, metadata extracted per row. Matches
    * [[decodeStub]] bit-for-bit (same md5-derived fields), so the oracle
    * also validates the stub's arithmetic.
    */
  private val q50: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .repartition(col("doc_id")) // explicit spread before "decode"
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("digest"),
        (conv(substring(md5(col("payload")), 1, 4), 16, 10).cast("int") % 1024).as("width"),
        (conv(substring(md5(col("payload")), 5, 4), 16, 10).cast("int") % 1024).as("height"),
        when(expr("conv(substring(md5(payload), 9, 1), 16, 10) % 2 = 0"), "jpeg")
          .otherwise("png").as("format"))
      .orderBy("doc_id")

  private val q50Sql =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      |  md5(text) AS digest,
      |  CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 1024 AS width,
      |  CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) % 1024 AS height,
      |  CASE WHEN CAST(('0x' || substr(md5(text), 9, 1)) AS INTEGER) % 2 = 0
      |       THEN 'jpeg' ELSE 'png' END AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q58 — frame sampling over binary payloads: the video/audio analogue
    * of q50's image decode. Each payload is sliced into fixed 64-byte
    * "frames", the first 4 sampled per document (a real pipeline samples
    * keyframes; the sampling DATAFLOW — generator over byte slices,
    * per-frame digest, deterministic frame index — is what's under test).
    * `substring` on BinaryType slices bytes inside codegen; the explode is
    * a Generator, so the whole op pipelines in one stage over the scan.
    */
  private val q58: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .repartition(col("doc_id")) // explicit spread before frame extraction
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), f -> substring(payload, f*64 + 1, 64))")))
      .filter(length(col("col")) > 0) // drop empty tail frames
      .select(col("doc_id"), col("pos").as("frame_idx"),
        length(col("col")).as("frame_len"), md5(col("col")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  private val q58Sql =
    """SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
      |  CAST(length(substr(text, f*64 + 1, 64)) AS INTEGER) AS frame_len,
      |  md5(substr(text, f*64 + 1, 64)) AS frame_md5
      |FROM documents, unnest(generate_series(0, 3)) AS t(f)
      |WHERE length(substr(text, f*64 + 1, 64)) > 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** STUB feature extraction: bytes → 8-dim embedding in [0,1), each dim
    * derived from `md5(digest || i)` — deterministic, so tests can pin it
    * and q81's oracle replays the identical arithmetic in SQL. Same
    * per-partition-init shape as [[decodeStub]]: a real encoder would
    * load its model weights once per partition here.
    */
  def embedStub(payloads: Dataset[(Long, Array[Byte])]): Dataset[(Long, Array[Float])] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      def hexOf(bytes: Array[Byte]): String = {
        md.reset(); md.digest(bytes).map("%02x".format(_)).mkString
      }
      it.map { case (id, bytes) =>
        val hex = hexOf(bytes)
        val feats = (0 until 8).map { i =>
          val h2 = hexOf((hex + i.toString).getBytes("UTF-8"))
          (java.lang.Long.parseLong(h2.substring(0, 8), 16).toDouble
            / 4294967296.0).toFloat
        }.toArray
        (id, feats)
      }
    }
  }

  /** q80 — resize planning: fit each (width, height) from q50's metadata
    * into a 256×256 box preserving aspect ratio. All-integer arithmetic
    * (`(dim*256) div max(w,h)`) so both engines agree exactly; the
    * degenerate 0×0 payload is guarded by `greatest(...,1)`. Map-side
    * only — at 100 TB this is the planning pass that sizes the decode
    * batch output before the (stubbed) pixel work runs.
    */
  private val q80: Q = (s, dir) =>
    q50(s, dir)
      .select(col("doc_id"), col("width"), col("height"),
        greatest(col("width"), col("height"), lit(1)).as("m"))
      .select(col("doc_id"), col("width"), col("height"),
        when(col("m") <= 256, col("width"))
          .otherwise(expr("CAST((width * 256) div m AS INT)")).as("out_w"),
        when(col("m") <= 256, col("height"))
          .otherwise(expr("CAST((height * 256) div m AS INT)")).as("out_h"))
      .orderBy("doc_id")

  private val q80Sql =
    """WITH m0 AS (SELECT doc_id,
      |  CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 1024 AS width,
      |  CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) % 1024 AS height
      |  FROM documents),
      |m1 AS (SELECT *, greatest(width, height, 1) AS m FROM m0)
      |SELECT doc_id, width, height,
      |  CAST(CASE WHEN m <= 256 THEN width
      |            ELSE (width * 256) // m END AS INTEGER) AS out_w,
      |  CAST(CASE WHEN m <= 256 THEN height
      |            ELSE (height * 256) // m END AS INTEGER) AS out_h
      |FROM m1 ORDER BY doc_id""".stripMargin

  /** q81 — feature extraction, SQL-expressible face of [[embedStub]]:
    * 8 md5-derived dims per payload, reduced per-row (sum of exact
    * integers, then ONE division by the 8·2³² constant — identical IEEE
    * op on both engines). The HOF pipeline (transform → aggregate) stays
    * in codegen; no shuffle before the final orderBy.
    */
  private val q81: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
      .select(col("doc_id"),
        expr("""aggregate(transform(sequence(0, 7), i ->
          |  CAST(conv(substring(md5(concat(digest, cast(i AS string))), 1, 8),
          |       16, 10) AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"""
          .stripMargin).as("fsum"))
      .select(col("doc_id"), col("fsum"),
        (col("fsum").cast("double") / 34359738368.0).as("fmean"))
      .orderBy("doc_id")

  private val q81Sql =
    """SELECT doc_id, fsum, CAST(fsum AS DOUBLE) / 34359738368.0 AS fmean
      |FROM (SELECT doc_id,
      |  CAST(list_sum(list_transform(generate_series(0, 7), i ->
      |    CAST(('0x' || substr(md5(md5(text) || i::VARCHAR), 1, 8)) AS BIGINT)))
      |    AS BIGINT) AS fsum
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** q194 — GPU decode-batch planning: media grouped into (format,
    * resolution-class) decode groups — mixed shapes can't share a GPU
    * batch without padding waste, and mixed codecs can't share a decoder
    * — then each group's batch count from TWO integer ceilings: a 64 MB
    * decoded-RGB budget (w·h·3 summed exactly) and a 256-item batch cap,
    * whichever binds. `fill` is the budget utilization the padding cost
    * shows up in (the multimodal twin of q176's token-padding audit).
    * Metadata derives from q50's md5 stub arithmetic, so the oracle
    * validates the same fields end-to-end. Scale shape: pure map-side
    * metadata + one partial+final groupBy over a bounded (format ×
    * 4 × 4) key space; the plan this emits is exactly the repartition
    * spec a real decode stage would execute with `mapPartitions`.
    */
  private val q194: Q = (s, dir) => {
    val cap = 64L * 1024 * 1024
    Tables.documents(s, dir)
      .select(md5(col("text").cast("binary")).as("digest"))
      .select(
        (conv(substring(col("digest"), 1, 4), 16, 10).cast("int") % 1024).as("width"),
        (conv(substring(col("digest"), 5, 4), 16, 10).cast("int") % 1024).as("height"),
        when(expr("conv(substring(digest, 9, 1), 16, 10) % 2 = 0"), "jpeg")
          .otherwise("png").as("format"))
      .select(col("format"),
        expr("CAST(width div 256 AS INT)").as("wb"),
        expr("CAST(height div 256 AS INT)").as("hb"),
        expr("CAST(width AS BIGINT) * height * 3").as("decoded"))
      .groupBy("format", "wb", "hb")
      .agg(count(lit(1)).as("n_items"), sum("decoded").as("decoded_bytes"))
      .select(col("format"), col("wb"), col("hb"), col("n_items"),
        col("decoded_bytes"),
        expr(s"greatest((decoded_bytes + ${cap - 1}L) div ${cap}L, " +
          "(n_items + 255L) div 256L)").as("n_batches"))
      .withColumn("fill", col("decoded_bytes").cast("double") /
        (col("n_batches") * lit(cap)).cast("double"))
      .orderBy("format", "wb", "hb")
  }

  private val q194Sql =
    """WITH m AS (SELECT
      |    CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 1024 AS width,
      |    CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) % 1024 AS height,
      |    CASE WHEN CAST(('0x' || substr(md5(text), 9, 1)) AS INTEGER) % 2 = 0
      |         THEN 'jpeg' ELSE 'png' END AS format
      |  FROM documents),
      |g AS (SELECT format,
      |    CAST(width // 256 AS INTEGER) AS wb,
      |    CAST(height // 256 AS INTEGER) AS hb,
      |    CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(sum(CAST(width AS BIGINT) * height * 3) AS BIGINT)
      |      AS decoded_bytes
      |  FROM m GROUP BY 1, 2, 3)
      |SELECT format, wb, hb, n_items, decoded_bytes,
      |  CAST(greatest((decoded_bytes + 67108863) // 67108864,
      |                (n_items + 255) // 256) AS BIGINT) AS n_batches,
      |  CAST(decoded_bytes AS DOUBLE) /
      |    CAST(greatest((decoded_bytes + 67108863) // 67108864,
      |                  (n_items + 255) // 256) * 67108864 AS DOUBLE) AS fill
      |FROM g ORDER BY format, wb, hb""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q194_gpu_batch_plan", q194, q194Sql),
    Query("q50_multimodal_meta", q50, q50Sql),
    Query("q58_frame_sample", q58, q58Sql),
    Query("q80_resize_plan", q80, q80Sql),
    Query("q81_feature_extract", q81, q81Sql)
  )
}

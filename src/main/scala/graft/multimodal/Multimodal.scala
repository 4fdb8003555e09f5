package graft.multimodal

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque binary media columns with typed
  * metadata, batch feature extraction, and frame sampling.
  *
  * The Spark-side contract is real and tested — schema (binary payload +
  * metadata struct), partition-preserving batch UDF shape (`mapPartitions`
  * over a typed Dataset, the Scala analog of `mapInPandas`), deterministic
  * output schema. IMAGE payloads get a REAL decode: `decodeImage` uses the
  * JDK's own codecs (javax.imageio — PNG/BMP/GIF, pure JVM, headless-safe)
  * and features are a 16-bin Rec.601 luminance histogram over the decoded
  * pixels. Non-image payloads (audio/video stand-ins — no codec libraries
  * for those in this container) fall back to `decodeStub`, a deterministic
  * byte histogram, so the batch plumbing is verifiable for every mime.
  *
  * At 100 TB: media rows are large — the operators avoid shuffling payload
  * bytes (feature extraction is a narrow map; metadata-only projections
  * drop the binary column before any wide operation).
  */
object Multimodal {

  final case class MediaAsset(
      asset_id: Long, mime: String, media: Array[Byte],
      width: Int, height: Int, duration_ms: Long)

  /** `byte_sum` (Σ of unsigned payload bytes) rides along as the
    * integer-exact witness of the batch-decode path: the float histogram
    * is the realistic feature payload (spec-tested — float32 math has no
    * SQL equivalent), while the checksum is reproducible in ANSI SQL, so
    * the mapPartitions pipeline itself gets a DuckDB oracle row (q32).
    */
  final case class MediaFeatures(
      asset_id: Long, mime: String, n_bytes: Long, byte_sum: Long,
      features: Array[Float])

  /** Wrap documents as fake media assets: payload = UTF-8 bytes. Stands in
    * for `spark.read.format("binaryFile")` over an object store.
    */
  def assetsFromDocuments(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    // a document with a null id or null payload is not a decodable asset —
    // drop at the boundary (the ingest validation rule) instead of
    // crashing the typed decode on a primitive field
    docs.filter(col("doc_id").isNotNull && col("text").isNotNull).select(
      col("doc_id").as("asset_id"),
      lit("application/octet-stream").as("mime"),
      encode(col("text"), "UTF-8").as("media"),
      lit(64).as("width"), lit(64).as("height"),
      (length(col("text")) * 10L).as("duration_ms"))
      .as[MediaAsset]
  }

  /** Real pure-JVM image decode via the JDK's javax.imageio codecs
    * (PNG/BMP/GIF/JPEG readers ship with Java 17; no native libs, works
    * headless). Returns None for payloads no installed reader accepts —
    * callers fall back to the byte-level stub so a corrupt image degrades
    * instead of failing the batch (the curation-pipeline contract).
    */
  def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (bytes == null || bytes.isEmpty) None
    else
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: java.io.IOException | _: RuntimeException => None }
  }

  /** 16-bin Rec.601 luminance histogram over decoded pixels, normalized to
    * [0,1] — the real-decode feature payload (integer luma: (299R + 587G +
    * 114B)/1000, deterministic across JVMs).
    */
  def luminanceHistogram(img: java.awt.image.BufferedImage): Array[Float] = {
    val hist = new Array[Float](16)
    val w = img.getWidth
    val h = img.getHeight
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
          114 * (rgb & 0xFF)) / 1000
        hist(lum >> 4) += 1f
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toFloat
    var b = 0
    while (b < 16) { hist(b) /= n; b += 1 }
    hist
  }

  /** Fallback decoder for non-image mimes (audio/video stand-ins — those
    * codec libraries aren't in this container). Deterministic: 16-bin byte
    * histogram normalized to [0,1]. Same output shape as the real image
    * path so downstream schemas don't branch on mime.
    */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    if (bytes == null || bytes.isEmpty) return hist
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xFF) >> 4) += 1f
      i += 1
    }
    var b = 0
    while (b < 16) { hist(b) /= bytes.length.toFloat; b += 1 }
    hist
  }

  /** Batch feature extraction: mapPartitions so the decoder amortizes
    * per-batch codec init (exactly the mapInPandas batching contract).
    * Image mimes route through the REAL javax.imageio decode (luminance
    * histogram of the decoded pixels); everything else — and any image
    * payload no reader accepts — takes the deterministic byte-histogram
    * fallback. `byte_sum` is computed for every row regardless of route,
    * so the q32 integer-checksum oracle covers the whole partition path.
    */
  def extractFeatures(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition codec init: keep ImageIO off its disk scratch cache
      // (per-decode temp files would serialize executor threads on I/O)
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        var sum = 0L
        if (a.media != null) {
          var i = 0
          while (i < a.media.length) { sum += (a.media(i) & 0xFF); i += 1 }
        }
        val feats =
          if (a.mime != null && a.mime.startsWith("image/"))
            decodeImage(a.media).map(luminanceHistogram).getOrElse(decodeStub(a.media))
          else decodeStub(a.media)
        MediaFeatures(a.asset_id, a.mime,
          if (a.media == null) 0L else a.media.length.toLong,
          sum, feats)
      }
    }
  }

  /** Resize (image analog): nearest-neighbor downsample in byte space —
    * `outBytes` evenly spaced samples of the payload, the deterministic
    * stand-in for a real bilinear resize (same contract: fixed output
    * size, pure function of the input bytes). Batched mapPartitions like
    * extractFeatures so a real codec amortizes per-batch init; binary
    * payloads stay in the narrow map, never shuffled.
    */
  def resizeAssets(assets: Dataset[MediaAsset], outBytes: Int): Dataset[MediaAsset] = {
    require(outBytes > 0, s"resizeAssets outBytes must be positive, got $outBytes")
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val len = if (a.media == null) 0 else a.media.length
        // cap at the input length: a payload shorter than outBytes is kept
        // as-is (downsample contract — never stretch by repeating bytes)
        val n = math.min(outBytes, len)
        val out =
          if (len == 0) Array.emptyByteArray
          else Array.tabulate(n)(i => a.media((i.toLong * len / n).toInt))
        a.copy(media = out,
          width = math.max(1, math.round(math.sqrt(n.toDouble)).toInt),
          height = math.max(1, math.round(math.sqrt(n.toDouble)).toInt))
      }
    }
  }

  /** Real image resize: decode via javax.imageio, nearest-neighbor rescale
    * onto an RGB canvas, re-encode as PNG. Payloads no reader accepts pass
    * through unchanged (degrade, don't fail — same contract as
    * extractFeatures). Nearest-neighbor + integer pixel ops keep the output
    * bit-deterministic across JVMs, which the spec pins by decoding the
    * result back. Batched mapPartitions; binary stays in the narrow map.
    */
  def resizeImages(assets: Dataset[MediaAsset], outW: Int, outH: Int): Dataset[MediaAsset] = {
    require(outW > 0 && outH > 0, s"resizeImages dims must be positive, got ${outW}x$outH")
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        decodeImage(a.media) match {
          case Some(img) =>
            val out = new java.awt.image.BufferedImage(
              outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
            // explicit nearest-neighbor sampling (Graphics2D hint settings
            // vary by platform; a hand loop is deterministic everywhere)
            var y = 0
            while (y < outH) {
              var x = 0
              while (x < outW) {
                out.setRGB(x, y, img.getRGB(
                  (x.toLong * img.getWidth / outW).toInt,
                  (y.toLong * img.getHeight / outH).toInt))
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            a.copy(mime = "image/png", media = bos.toByteArray,
              width = outW, height = outH)
          case None => a
        }
      }
    }
  }

  /** 9×8 sample grid for the difference hash: image payloads decode and
    * sample the Rec.601 luminance at nearest-neighbor pixel (x·W/9,
    * y·H/8) — the standard dHash downsample; non-image payloads (and
    * undecodable images) sample unsigned bytes at evenly spaced offsets,
    * the same degrade-don't-fail fallback as [[extractFeatures]]. Pure
    * integer arithmetic either way, so the byte route is reproducible in
    * ANSI SQL (the q71 oracle) and the pixel route is deterministic
    * across JVMs.
    */
  def dhashGrid(mime: String, bytes: Array[Byte]): Array[Int] = {
    val img =
      if (mime != null && mime.startsWith("image/")) decodeImage(bytes) else None
    img match {
      case Some(im) =>
        val w = im.getWidth
        val h = im.getHeight
        Array.tabulate(72) { k =>
          val rgb = im.getRGB(((k % 9).toLong * w / 9).toInt,
            ((k / 9).toLong * h / 8).toInt)
          (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
            114 * (rgb & 0xFF)) / 1000
        }
      case None =>
        val len = if (bytes == null) 0 else bytes.length
        if (len == 0) new Array[Int](72)
        else Array.tabulate(72)(k => bytes((k.toLong * len / 72).toInt) & 0xFF)
    }
  }

  /** 64-bit dHash over a 9×8 grid: bit y·8+x set iff grid(y, x+1) >
    * grid(y, x) — brightness gradients, robust to uniform exposure shifts
    * and (for the image route) to re-encoding, the standard perceptual
    * near-dup signature.
    */
  def dhash64(grid: Array[Int]): Long = {
    require(grid.length == 72, s"dhash64 expects a 9x8 grid, got ${grid.length}")
    var fp = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (grid(y * 9 + x + 1) > grid(y * 9 + x)) fp |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    fp
  }

  /** Per-asset perceptual fingerprints: batched mapPartitions (codec init
    * amortized per batch), payload bytes never leave the narrow map —
    * only (asset_id, int64) rows continue downstream.
    */
  def dhashAssets(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map(a => (a.asset_id, dhash64(dhashGrid(a.mime, a.media))))
    }.toDF("id", "fp")
  }

  /** Perceptual image near-dup pairs: dHash fingerprints blocked through
    * the same pigeonhole hamming-band machinery as SimHash text dedup
    * ([[graft.text.TextDedup.bandedHammingPairs]]) — the multimodal analog
    * of q52. Shuffle carries (band_id, int16, asset_id, int64) rows only;
    * band buckets over `maxBucketSize` are dropped before pairing
    * ([[graft.plans.SimJoin.blockPairs]]).
    */
  def imageDupPairs(assets: Dataset[MediaAsset], maxHamming: Int = 3,
                    maxBucketSize: Int = 1000): DataFrame =
    graft.text.TextDedup.bandedHammingPairs(dhashAssets(assets), 64,
      maxHamming, maxBucketSize, "asset_a", "asset_b")

  /** Frame sampling (video analog): slice the payload into `n` evenly
    * spaced fixed-size windows — the shape of keyframe extraction.
    */
  def sampleFrames(assets: Dataset[MediaAsset], n: Int, frameBytes: Int = 32): DataFrame = {
    import assets.sparkSession.implicits._
    assets.flatMap { a =>
      val len = if (a.media == null) 0 else a.media.length
      if (len == 0) Iterator.empty
      else (0 until n).iterator.map { f =>
        val start = (len.toLong * f / n).toInt
        val end = math.min(start + frameBytes, len)
        (a.asset_id, f, java.util.Arrays.copyOfRange(a.media, start, end))
      }
    }.toDF("asset_id", "frame_no", "frame_bytes")
  }

  // ---- queries -----------------------------------------------------------

  /** Metadata extraction is expression-only (binary length etc.) → oracle-
    * checkable: octet_length(encode(text)) matches in DuckDB.
    */
  val qMeta = GraftQuery(
    "q31_multimodal_meta",
    (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id").as("asset_id"),
        octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).as("first_byte"))
        .orderBy(col("asset_id")),
    Some("""
      SELECT doc_id AS asset_id,
             octet_length(encode(text)) AS n_bytes,
             ascii(substr(text, 1, 1)) AS first_byte
      FROM documents
      ORDER BY asset_id"""))

  /** Full binary pipeline (wrap → mapPartitions decode-stub → features).
    * The dump carries the integer byte checksum the stub computes — the
    * oracle recomputes it from the UTF-8 bytes via a hex fold, so the
    * whole typed-Dataset mapPartitions path is hash-checked end to end.
    * The float32 histogram itself has no SQL equivalent; its math is
    * pinned by MultimodalSpec instead.
    */
  val qFeatures = GraftQuery(
    "q32_multimodal_features",
    (s, dir) => {
      import s.implicits._
      extractFeatures(assetsFromDocuments(Tables.documents(s, dir)))
        .toDF()
        .select(col("asset_id"), col("n_bytes"), col("byte_sum"))
        .orderBy(col("asset_id"))
    },
    // hex digit j (1-based) weighs 16 when j is odd (high nibble) and 1
    // when even — their weighted sum IS Σ bytes. Zipped unnest over the
    // char-split hex, NOT substr(h, j, 1) inside a lambda: a lambda
    // re-materializes the captured string per element — O(len²) per doc,
    // 215 s for ONE 190 KB doc in the round-15 maxlen sweep (0.2 s this
    // way, identical sum).
    Some("""
      WITH t AS (
        SELECT doc_id AS asset_id, octet_length(encode(text)) AS n_bytes,
               hex(encode(text)) AS h
        FROM documents
      ), c AS (
        SELECT asset_id, n_bytes,
               unnest(generate_series(1, 2 * n_bytes)) AS j,
               unnest(regexp_split_to_array(h, '')) AS ch
        FROM t)
      SELECT t.asset_id, t.n_bytes,
             CAST(coalesce(s.byte_sum, 0) AS BIGINT) AS byte_sum
      FROM t LEFT JOIN (
        SELECT asset_id,
               sum((CASE WHEN j % 2 = 1 THEN 16 ELSE 1 END) *
                   (strpos('0123456789ABCDEF', ch) - 1)) AS byte_sum
        -- j IS NULL only on the empty-text row: splitting '' yields ['']
        -- while generate_series(1, 0) is empty, so the zip pads j with NULL
        FROM c WHERE j IS NOT NULL GROUP BY asset_id) s ON t.asset_id = s.asset_id
      ORDER BY t.asset_id"""))

  /** q71: perceptual near-dup pairs over documents-as-assets plus 20
    * planted exact twins (guaranteed hamming-0 pairs). The assets carry an
    * octet-stream mime, so the fingerprint takes the BYTE-grid route —
    * pure integer arithmetic the oracle replicates bit-for-bit from
    * hex(encode(text)), including the band split, the hot-bucket cap, the
    * bucket self-join, and the exact hamming verify (the oracle works on
    * the 64-entry bit vector, never materializing the signed 64-bit
    * value). By pigeonhole (bands = maxHamming+1) the banded candidate
    * set contains every hamming ≤ 3 pair, so the hash match doubles as a
    * completeness proof. The REAL decode route (image mimes → luminance
    * grid) is pinned by MultimodalSpec on planted near-identical PNGs.
    */
  val qImageDedup = GraftQuery(
    "q71_image_dedup",
    (s, dir) =>
      imageDupPairs(assetsFromDocuments(
        graft.text.TextDedup.withPlantedTwins(Tables.documents(s, dir))))
        .orderBy(col("asset_a"), col("asset_b")),
    Some("""
      WITH corpus AS (
        SELECT doc_id AS asset_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS asset_id, text FROM
          (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 20)
      ), raw AS (
        SELECT asset_id, octet_length(encode(text)) AS len, hex(encode(text)) AS h
        FROM corpus
      ), grid AS (
        SELECT asset_id,
          list_transform(generate_series(0, 71), k ->
            CASE WHEN len = 0 THEN 0 ELSE
              16 * (strpos('0123456789ABCDEF',
                     substr(h, CAST(2 * ((k * len) // 72) + 1 AS BIGINT), 1)) - 1)
                 + (strpos('0123456789ABCDEF',
                     substr(h, CAST(2 * ((k * len) // 72) + 2 AS BIGINT), 1)) - 1)
            END) AS g
        FROM raw
      ), bits AS (
        SELECT asset_id,
          list_transform(generate_series(0, 63), j ->
            CASE WHEN g[(j // 8) * 9 + (j % 8) + 2] > g[(j // 8) * 9 + (j % 8) + 1]
                 THEN 1 ELSE 0 END) AS bv
        FROM grid
      ), bands AS (
        SELECT asset_id, bv, bb.b AS band_id,
          list_sum(list_transform(generate_series(0, 15),
            i -> bv[bb.b * 16 + i + 1] * (1 << i))) AS band_val
        FROM bits CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb
      ), capped AS (
        SELECT * FROM bands
        QUALIFY count(*) OVER (PARTITION BY band_id, band_val) <= 1000
      ), pairs AS (
        SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b,
               a.bv AS bv_a, b.bv AS bv_b
        FROM capped a JOIN capped b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
        WHERE a.asset_id < b.asset_id
      )
      SELECT asset_a, asset_b,
        CAST(list_sum(list_transform(generate_series(1, 64),
          j -> CASE WHEN bv_a[j] <> bv_b[j] THEN 1 ELSE 0 END)) AS INTEGER)
          AS hamming
      FROM pairs
      WHERE list_sum(list_transform(generate_series(1, 64),
          j -> CASE WHEN bv_a[j] <> bv_b[j] THEN 1 ELSE 0 END)) <= 3
      ORDER BY asset_a, asset_b"""))

  val queries: Seq[GraftQuery] = Seq(qMeta, qFeatures, qImageDedup)
}

package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / frame-sample
  * operators.
  *
  * The Spark side — schema, partition-preserving `mapPartitions`, batched
  * iteration shape, deterministic outputs — is real and tested. The codec
  * step is split honestly:
  *
  *  - [[Multimodal.ImageIoCodec]] is a REAL decode for formats the JDK
  *    ships codecs for (PNG/JPEG/GIF/BMP via `javax.imageio`, zero extra
  *    jars): magic-sniff, decode to pixels, per-strip mean-luma features.
  *  - [[Multimodal.StubCodec]] covers everything else (audio/video and
  *    the synthetic md5 fixtures — no ffmpeg-class libraries in this
  *    container): deterministic fake dimensions/features from the MD5
  *    digest of the content bytes, so every pipeline stage downstream of
  *    decode exercises the true data flow AND every emitted value is
  *    relationally recomputable (an external SQL engine can rebuild
  *    width/height/features/frame digests from `md5(content)` + byte
  *    arithmetic — this is what makes mm2/mm3 oracle-checkable).
  */
object Multimodal {

  final case class MediaRow(media_id: Long, media_type: String,
                            content: Array[Byte])

  final case class DecodedFrame(media_id: Long, frame_idx: Int,
                                frame_start: Long, frame_len: Long,
                                frame_digest: String)

  final case class MediaFeatures(media_id: Long, width: Int, height: Int,
                                 features: Array[Float])

  /** Attach a binary content column + metadata struct. In production this is
    * the parquet/LOB scan; here media bytes are synthesized from a text
    * column (deterministic) so the full pipeline is runnable in tests.
    */
  def withMediaColumns(df: DataFrame, idCol: String, textCol: String,
                       mediaType: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(mediaType).as("media_type"),
      encode(col(textCol), "UTF-8").as("content"))
      .withColumn("meta", struct(
        col("media_type").as("mediaType"),
        lit("stub/v1").as("format"),
        length(col("content")).cast("long").as("nBytes")))

  /** STUB decode: a real implementation would hand `content` to an image
    * codec (javax.imageio / ffmpeg bindings); none exist in this container,
    * so dimensions/features are derived deterministically from the MD5 hex
    * digest of the content. The call signature, batching and schema are the
    * real ones, and the derivation is chosen so a SQL oracle recomputes it:
    * `width = 64 + hex(md5[0:2]) % 192`, `height = 64 + hex(md5[2:4]) % 192`,
    * `feature[i] = hex16(md5[4i:4i+4]) / 65536` — each feature is k/2^16
    * with k < 2^16, exactly representable in FLOAT (and in the DOUBLE both
    * engines hash), so float-vs-double promotion cannot diverge.
    */
  object StubCodec {
    def md5Hex(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString

    def decodeDims(content: Array[Byte]): (Int, Int) = {
      val h = md5Hex(content)
      val b0 = Integer.parseInt(h.substring(0, 2), 16)
      val b1 = Integer.parseInt(h.substring(2, 4), 16)
      (64 + (b0 % 192), 64 + (b1 % 192)) // fake width/height
    }

    /** Fake feature vector: `dims` floats in [0, 1), each the next 16 bits
      * of the content digest (wrapping past 32 hex chars) — deterministic,
      * content-sensitive via MD5 avalanche, so downstream similarity math
      * is exercised for real.
      */
    def features(content: Array[Byte], dims: Int = 8): Array[Float] = {
      val h = md5Hex(content)
      Array.tabulate(dims) { i =>
        val off = (4 * i) % 29 // 29 keeps a full 4-char window in [0, 32)
        Integer.parseInt(h.substring(off, off + 4), 16) / 65536.0f
      }
    }
  }

  /** REAL image decode via the JDK's own codecs (`javax.imageio` — PNG,
    * JPEG, GIF, BMP; zero extra jars): magic-byte sniff, decode to
    * pixels, features = per-vertical-strip mean luminance in [0, 1]
    * (deterministic given the decoded pixels). Content that doesn't
    * sniff as a supported image (the synthetic fixtures, video, exotic
    * formats) returns None and the pipeline falls back to [[StubCodec]]
    * — the honest split: real decode where the JDK has a codec, labeled
    * stub where it doesn't.
    */
  object ImageIoCodec {

    /** Magic-byte sniff — cheaper than an ImageIO reader probe, and it
      * keeps "not an image" off the exception path.
      */
    def sniff(content: Array[Byte]): Option[String] = {
      def at(i: Int) = if (i < content.length) content(i) & 0xFF else -1
      if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G')
        Some("png")
      else if (at(0) == 0xFF && at(1) == 0xD8 && at(2) == 0xFF)
        Some("jpeg")
      else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8')
        Some("gif")
      else if (at(0) == 'B' && at(1) == 'M') Some("bmp")
      else None
    }

    /** None for unsniffable AND for corrupt-but-sniffable content (a
      * truncated JPEG must fall back to the stub, not kill the task) —
      * one bad file on a 100 TB crawl must never abort the job. The
      * in-memory stream wrapper skips ImageIO's default disk-backed
      * cache file (pointless: the bytes are already in memory).
      */
    def decode(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (sniff(content).isEmpty) None
      else try Option(javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(content))))
      catch { case scala.util.control.NonFatal(_) => None }

    /** (width, height, features): `dims` vertical strips, each the mean
      * ITU-R 601 luma of its pixels scaled to [0, 1].
      */
    def decodeFeatures(content: Array[Byte],
                       dims: Int = 8): Option[(Int, Int, Array[Float])] =
      decode(content).map { img =>
        val (w, h) = (img.getWidth, img.getHeight)
        val sums = new Array[Double](dims)
        val counts = new Array[Long](dims)
        // bulk row reads: one getRGB call per scanline (per-pixel getRGB
        // pays a ColorModel conversion per call — ~10× slower on photos)
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val rgb = row(x)
            val lum = 0.299 * ((rgb >> 16) & 0xFF) +
              0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
            val strip = math.min(x * dims / w, dims - 1)
            sums(strip) += lum / 255.0
            counts(strip) += 1
            x += 1
          }
          y += 1
        }
        (w, h, Array.tabulate(dims)(i =>
          if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat))
      }
  }

  /** Decode + feature-extract, batched via `mapPartitions`: each task pulls
    * rows in `batchSize` groups (the shape a vectorized codec / model-server
    * client needs), emits fixed-width feature rows. Partitioning of the
    * input is preserved — no shuffle.
    *
    * `realDecode = true` routes content that sniffs as a JDK-decodable
    * image through [[ImageIoCodec]] (actual pixels); everything else —
    * and the default, which the md5-recomputable mm* oracles rely on —
    * uses [[StubCodec]].
    */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 64,
                      realDecode: Boolean = false)
                     (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // a vectorized codec would decode `batch` in one call here
        batch.map { r =>
          val real =
            if (realDecode) ImageIoCodec.decodeFeatures(r.content) else None
          real match {
            case Some((w, h, f)) => MediaFeatures(r.media_id, w, h, f)
            case None =>
              val (w, h) = StubCodec.decodeDims(r.content)
              MediaFeatures(r.media_id, w, h, StubCodec.features(r.content))
          }
        }
      }
    }
  }

  /** Frame sampling for video-like blobs: split content into `nFrames`
    * even chunks — the real operator's shape (explode to frame grain) with
    * the stub codec. `frame_start`/`frame_len` are the true byte-offset
    * arithmetic a real demuxer would seek with; the per-frame digest stands
    * in for decoded-frame pixels and is derived from (content md5, frame
    * index) so an external SQL engine recomputes it exactly:
    * `md5(md5(content) || ':' || frame_idx)`.
    */
  def sampleFrames(media: Dataset[MediaRow], nFrames: Int)
                  (implicit spark: SparkSession): Dataset[DecodedFrame] = {
    import spark.implicits._
    media.flatMap { r =>
      val len = r.content.length
      val step = math.max(len / nFrames, 1)
      val h = StubCodec.md5Hex(r.content)
      (0 until nFrames).iterator.takeWhile(i => i * step < len)
        .map { i =>
          val start = i.toLong * step
          val end = math.min((i + 1).toLong * step, len.toLong)
          DecodedFrame(r.media_id, i, start, end - start,
            StubCodec.md5Hex(s"$h:$i".getBytes("UTF-8")))
        }
    }
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: images/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / frame-sample
  * operators.
  *
  * The Spark-side shape is real and tested — binary payload column, metadata
  * struct, batched per-partition processing, explode-based frame sampling.
  * [[Multimodal.ImageHeaderDecoder]] is a REAL pure-JVM decoder for PNG/JPEG
  * header metadata (dimensions from IHDR / SOFn), and
  * [[Multimodal.ImageIoDecoder]] is a REAL still-image PIXEL decoder over
  * the JVM's built-in `javax.imageio` codecs (PNG/JPEG/GIF/BMP — no new
  * dependency), serving decoded-raster statistics no header carries.
  * Video/audio codecs are the remaining out-of-container seam (ffmpeg
  * et al.): `fakeDecode` stands in for those behind the same
  * [[Multimodal.PayloadDecoder]] interface — swapping in a codec changes
  * ONE function, not the pipeline.
  *
  * Scale design: payloads stay distributed end-to-end (no collect); decode
  * runs per-partition in batches of `batchSize` (the mapInPandas/mapInArrow
  * batch shape — bounded memory per task regardless of corpus size); derived
  * metadata is columnar so downstream filters/aggregations prune the binary
  * column away at the parquet scan.
  */
object Multimodal {

  // ImageIO's default stream cache is FILE-backed: every decode or encode
  // creates (and deletes) a temp cache file and serializes on the
  // filesystem + the codec registry — at local[32] the m6 pixel decode
  // measured 5.3 s vs 0.67 s at local[8] from this alone. Our payloads are
  // in-memory byte arrays; the memory cache reads and writes the same
  // bytes with zero I/O. So every ImageIO call below goes through these
  // two helpers, which switch to the memory cache first. The switch is
  // JVM-GLOBAL: it holds for every other ImageIO user in the same JVM.
  private def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    javax.imageio.ImageIO.setUseCache(false)
    Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
  }

  private def writePng(img: java.awt.image.RenderedImage,
                       out: java.io.OutputStream): Unit = {
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, "png", out)
  }

  /** Attach a binary payload + metadata struct to a text corpus (test-data
    * surrogate for real image/audio bytes). */
  def attachPayload(docs: DataFrame, textCol: String, mime: String): DataFrame =
    docs.withColumn("payload", encode(col(textCol), "UTF-8").cast(BinaryType))
      .withColumn("meta", struct(
        length(col("payload")).as("n_bytes"),
        lit(mime).as("mime")))

  /** The decode seam as an interface: a real deployment implements this
    * with an actual codec (ImageIO/ffmpeg/...) and passes it to
    * [[decodeFeatures]]/[[decodeFeaturesArrow]] — the pipeline (schema,
    * batching, Arrow plumbing) does not change. Must be Serializable: it
    * ships to executors. */
  trait PayloadDecoder extends Serializable {
    /** payload bytes → (width, height, nFrames) */
    def decode(bytes: Array[Byte]): (Int, Int, Int)
  }

  /** Default stub decoder (this container has no codecs). */
  object FakeDecoder extends PayloadDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, Int) = fakeDecode(bytes)
  }

  /** REAL header decoder for the ubiquitous still-image and video
    * container formats, implemented pure-JVM (no codec library):
    *  - PNG dimensions from the IHDR chunk (always the first chunk after
    *    the 8-byte signature, width/height big-endian at offsets 16/20 —
    *    PNG spec §11.2.2);
    *  - JPEG dimensions from the first SOFn frame-header segment
    *    (height/width big-endian at segment offsets 5/7 — ITU T.81
    *    §B.2.2), walking the marker-segment chain and skipping the
    *    non-frame 0xC4/0xC8/0xCC markers that share the SOF numbering;
    *  - MP4/ISO-BMFF (ISO/IEC 14496-12) via a box walk: descend
    *    `moov` → `trak` → `tkhd` for the first video track's 16.16-fixed
    *    width/height, and that track's `mdia`→`minf`→`stbl`→`stsz`
    *    sample count for nFrames — the pure-structure metadata a
    *    faststart byte PREFIX already carries (the walk clamps every box
    *    to the available bytes, so a prefix whose `moov` is complete
    *    parses even with `mdat` truncated, which is exactly the
    *    first-N-bytes shape a 100 TB ingest hands the decoder).
    * Payloads in none of these formats fall through to `fallback` (the
    * stub by default), so mixed corpora decode what is decodable instead
    * of failing the task. Still images report nFrames = 1. */
  class ImageHeaderDecoder(fallback: PayloadDecoder = FakeDecoder)
      extends PayloadDecoder {
    private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xff
    private def be16(b: Array[Byte], o: Int): Int = (u8(b, o) << 8) | u8(b, o + 1)
    private def be32(b: Array[Byte], o: Int): Int =
      (u8(b, o) << 24) | (u8(b, o + 1) << 16) | (u8(b, o + 2) << 8) | u8(b, o + 3)

    private val pngSig =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    def decode(bytes: Array[Byte]): (Int, Int, Int) = {
      if (bytes.length >= 24 && bytes.take(8).sameElements(pngSig) &&
          bytes(12) == 'I' && bytes(13) == 'H' &&
          bytes(14) == 'D' && bytes(15) == 'R')
        (be32(bytes, 16), be32(bytes, 20), 1)
      else if (bytes.length >= 4 && u8(bytes, 0) == 0xff && u8(bytes, 1) == 0xd8)
        jpegSof(bytes).getOrElse(fallback.decode(bytes))
      else if (bytes.length >= 12 && bytes(4) == 'f' && bytes(5) == 't' &&
               bytes(6) == 'y' && bytes(7) == 'p')
        mp4Header(bytes).getOrElse(fallback.decode(bytes))
      else fallback.decode(bytes)
    }

    /** Flat box listing of [from, to): (type, contentStart, contentEnd).
      * Handles 64-bit largesize (size==1) and to-end boxes (size==0);
      * clamps to the available bytes; stops at the first corrupt size. */
    private def boxList(b: Array[Byte], from: Int, to: Int): Seq[(String, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int)]
      var i = from
      var done = false
      while (!done && i + 8 <= to) {
        val size32 = be32(b, i).toLong & 0xffffffffL
        val tpe = new String(b, i + 4, 4, "ISO-8859-1")
        val (size, header): (Long, Int) =
          if (size32 == 1 && i + 16 <= to)
            (((be32(b, i + 8).toLong & 0xffffffffL) << 32) |
              (be32(b, i + 12).toLong & 0xffffffffL), 16)
          else if (size32 == 0) ((to - i).toLong, 8)
          else (size32, 8)
        if (size < header) done = true // corrupt — keep what we have
        else {
          out += ((tpe, i + header, math.min(to.toLong, i + size).toInt))
          if (i + size >= to) done = true else i = (i + size).toInt
        }
      }
      out.result()
    }

    private def child(boxes: Seq[(String, Int, Int)],
                      name: String): Option[(Int, Int)] =
      boxes.collectFirst { case (t, s, e) if t == name => (s, e) }

    /** First VIDEO track (nonzero tkhd dims — audio/hint traks report
      * zero and are skipped): its 16.16-fixed dims plus, when the
      * mdia→minf→stbl chain resolves within the available bytes, the
      * stbl content range. The shared walk behind [[mp4Header]] (stsz
      * frame count) and [[videoCodec]] (stsd sample-entry fourcc). */
    private def videoTrack(b: Array[Byte]): Option[(Int, Int, Option[(Int, Int)])] = {
      val top = boxList(b, 0, b.length)
      if (child(top, "ftyp").isEmpty) return None
      child(top, "moov").flatMap { case (ms, me) =>
        val inMoov = boxList(b, ms, me)
        val tracks = inMoov.collect { case ("trak", s, e) => (s, e) }
        tracks.iterator.flatMap { case (ts, te) =>
          val inTrak = boxList(b, ts, te)
          child(inTrak, "tkhd").flatMap { case (hs, he) =>
            // tkhd: version(1)+flags(3), then v0 fixed fields = 72 bytes
            // (creation/modification/track_ID/reserved/duration 4B each,
            // reserved 8, layer/alt_group/volume/reserved 2B each,
            // matrix 36) → width at +76; v1 widens the three time fields
            // to 8B → width at +88. Width/height are 16.16 fixed-point.
            val dimOff = hs + (if (u8(b, hs) == 1) 88 else 76)
            if (dimOff + 8 > he) None
            else {
              val w = be32(b, dimOff) >>> 16
              val h = be32(b, dimOff + 4) >>> 16
              if (w == 0 || h == 0) None // audio/hint track — keep looking
              else {
                val stbl = for {
                  (mdS, mdE) <- child(inTrak, "mdia")
                  (mfS, mfE) <- child(boxList(b, mdS, mdE), "minf")
                  (sbS, sbE) <- child(boxList(b, mfS, mfE), "stbl")
                } yield (sbS, sbE)
                Some((w, h, stbl))
              }
            }
          }
        }.nextOption()
      }
    }

    /** moov→trak→tkhd dims + that trak's stbl→stsz sample count. */
    private def mp4Header(b: Array[Byte]): Option[(Int, Int, Int)] =
      videoTrack(b).map { case (w, h, stbl) =>
        // frame count = the video track's sample count: stsz content is
        // version+flags(4), sample_size(4), sample_count(4) —
        // sample_count at +8 in both layouts
        val frames = for {
          (sbS, sbE) <- stbl
          (szS, szE) <- child(boxList(b, sbS, sbE), "stsz")
          if szS + 12 <= szE
        } yield be32(b, szS + 8)
        (w, h, math.max(1, frames.getOrElse(1)))
      }

    /** Codec fourcc of the first video track's first stsd sample entry
      * ("avc1", "hev1", "vp09", "av01", …) — the codec identity a
      * training-data pipeline routes decode work by, readable from the
      * same faststart byte prefix as the dims. stsd content is
      * version+flags(4) + entry_count(4), then sample-entry boxes whose
      * own header is size(4) + format-fourcc(4), so the fourcc sits at
      * content +12 (ISO/IEC 14496-12 §8.5.2). None for non-MP4 payloads,
      * audio-only containers, or prefixes cut before the stsd. */
    def videoCodec(bytes: Array[Byte]): Option[String] =
      if (!(bytes.length >= 12 && bytes(4) == 'f' && bytes(5) == 't' &&
            bytes(6) == 'y' && bytes(7) == 'p')) None
      else videoTrack(bytes).flatMap { case (_, _, stbl) =>
        for {
          (sdS, sdE) <- stbl.flatMap { case (s, e) =>
            child(boxList(bytes, s, e), "stsd") }
          if sdS + 16 <= sdE
        } yield new String(bytes, sdS + 12, 4, "ISO-8859-1")
      }

    /** Walk JPEG marker segments to the first SOFn; None on truncation. */
    private def jpegSof(b: Array[Byte]): Option[(Int, Int, Int)] = {
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b, i) != 0xff) return None // desynced — not a marker chain
        val m = u8(b, i + 1)
        if (m == 0xff) { i += 1 } // fill bytes before a marker are legal
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) { i += 2 } // standalone
        else {
          val segLen = be16(b, i + 2)
          if (segLen < 2) return None
          val isSof = m >= 0xc0 && m <= 0xcf &&
            m != 0xc4 && m != 0xc8 && m != 0xcc
          if (isSof) {
            if (i + 8 >= b.length) return None
            return Some((be16(b, i + 7), be16(b, i + 5), 1)) // (width, height)
          }
          i += 2 + segLen
        }
      }
      None
    }
  }

  /** Shared instance with the stub fallback. */
  object ImageHeaderDecoder extends ImageHeaderDecoder(FakeDecoder)

  /** REAL pixel decoder over the JVM's built-in `javax.imageio` codecs
    * (PNG/JPEG/GIF/BMP ship with every JRE — no new dependency): full
    * pixel decode, dimensions from the decoded raster. Payloads ImageIO
    * does not recognize fall through to `fallback` (mixed corpora
    * decode what is decodable — the [[ImageHeaderDecoder]] contract).
    * This CLOSES the former stub seam for still images; video/audio
    * codecs remain out-of-container (ffmpeg et al.) behind the same
    * [[PayloadDecoder]] interface. */
  class ImageIoDecoder(fallback: PayloadDecoder = FakeDecoder)
      extends PayloadDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, Int) =
      readImage(bytes) match {
        case Some(img) => (img.getWidth, img.getHeight, 1)
        case None => fallback.decode(bytes)
      }

    /** Decoded-PIXEL statistics — what a header can never give: mean of
      * the raster's per-pixel LUMA ([[Multimodal.lumaSample]]: integer
      * BT.601 for ≥3-band rasters, band-0 for single-band — an RGB JPEG
      * gets true luminance, not the red channel). None for unrecognized
      * payloads. The mean is an integer-sum / count double division —
      * exact and engine-reproducible for any image small enough that
      * the sample sum stays under 2^53. */
    def pixelStats(bytes: Array[Byte]): Option[(Int, Int, Double)] =
      readImage(bytes).map { img =>
        val r = img.getRaster
        val bands = r.getNumBands
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            sum += lumaSample(r, x, y, bands); x += 1
          }
          y += 1
        }
        (img.getWidth, img.getHeight,
          sum.toDouble / (img.getWidth.toLong * img.getHeight))
      }
  }

  /** THE grayscale convention of the pixel operators, stated once:
    * rasters with ≥ 3 bands reduce per pixel to integer BT.601 luma,
    * `(299·R + 587·G + 114·B + 500) / 1000` (half-up integer rounding —
    * pure int64 arithmetic, bit-reproducible in any engine; bands past
    * the third, i.e. alpha, are ignored). Single- and two-band rasters
    * read band 0 directly: for TYPE_BYTE_GRAY that IS the intensity;
    * for palette/indexed images band 0 is the palette INDEX — callers
    * with indexed corpora must convert upstream (the same caveat every
    * header-vs-pixel policy in this file documents explicitly rather
    * than hiding a colorspace guess). */
  private[operators] def lumaSample(r: java.awt.image.Raster,
                                    x: Int, y: Int, bands: Int): Int =
    if (bands >= 3)
      ((299L * r.getSample(x, y, 0) + 587L * r.getSample(x, y, 1) +
        114L * r.getSample(x, y, 2) + 500L) / 1000L).toInt
    else r.getSample(x, y, 0)

  /** Shared real-codec instance (header fallback for non-images). */
  object ImageIoDecoder extends ImageIoDecoder(ImageHeaderDecoder)

  /** Synthesize a REAL grayscale PNG per row — pixel (x, y) carries
    * exactly (id + x + y) mod 256, dimensions (3 + id mod 5) ×
    * (2 + id mod 4) — so every decoded-pixel statistic is a pure
    * relational function of the id and an oracle can predict it without
    * decoding anything (PNG is lossless; the encode→decode loop must
    * reproduce each sample bit-exactly or the stats diverge). Batched
    * per partition like [[decodeFeatures]] — encoder setup amortizes,
    * payloads never leave the executors. */
  def synthesizeGrayPng(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    val input = spread(docs.select(col(idCol).cast("long")))
    val rows = input.rdd.mapPartitions { it =>
      it.map { row =>
        val id = row.getLong(0)
        val w = (3 + id % 5).toInt
        val h = (2 + id % 4).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, ((id + x + y) % 256).toInt); x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        writePng(img, out)
        Row(id, out.toByteArray)
      }
    }
    spark.createDataFrame(rows, StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
      .withColumnRenamed("doc_id", idCol)
  }

  private val pixelStatsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("avg_luma", DoubleType)))

  /** Decoded-pixel feature extraction through the REAL codec: per-
    * partition batched ([[decodeFeatures]] shape), emitting dimensions
    * AND the band-0 sample mean from the decoded raster. Rows ImageIO
    * cannot decode are dropped (the caller filters a mixed corpus by
    * mime first; a silent fake stat here would poison the column). */
  def pixelFeatures(withPayload: DataFrame, idCol: String,
                    batchSize: Int = 64): DataFrame = {
    val spark = withPayload.sparkSession
    val input = spread(withPayload.select(col(idCol).cast("long"),
      col("payload")))
    val rows = input.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { row =>
          ImageIoDecoder.pixelStats(row.getAs[Array[Byte]](1))
            .map { case (w, h, luma) => Row(row.getLong(0), w, h, luma) }
        }
      }
    }
    spark.createDataFrame(rows, pixelStatsSchema)
      .withColumnRenamed("doc_id", idCol)
  }

  private val downsampleSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** REAL image downsampling through the codec path: decode → reduce
    * each pixel to its luma ([[lumaSample]] — BT.601 for RGB, band-0
    * for grayscale) → EXACTLY SPECIFIED box average (each factor×factor
    * block becomes floor(mean) of its samples; trailing rows/columns
    * past the last full block are cropped — the crop-to-multiple
    * convention) → re-encode grayscale PNG. The filter is deliberately NOT
    * `Image.getScaledInstance` (its interpolation is unspecified and
    * engine-irreproducible); integer box arithmetic makes every output
    * pixel a pure function of the input pixels, so downstream stats
    * stay oracle-checkable (the m7 gate decodes the re-encoded bytes
    * and checks the exact block means relationally). Rows ImageIO
    * cannot decode are dropped, the [[pixelFeatures]] contract.
    * Per-partition batched; payloads never leave the executors. */
  def downsamplePayload(withPayload: DataFrame, idCol: String,
                        factor: Int = 2, batchSize: Int = 64): DataFrame = {
    require(factor >= 1, s"factor must be positive, got $factor")
    val spark = withPayload.sparkSession
    val input = spread(withPayload.select(col(idCol).cast("long"),
      col("payload")))
    val rows = input.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { row =>
          readImage(row.getAs[Array[Byte]](1)).flatMap { img =>
            val (w, h) = (img.getWidth / factor, img.getHeight / factor)
            if (w < 1 || h < 1) None
            else {
              val out = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
              val src = img.getRaster; val dst = out.getRaster
              val bands = src.getNumBands
              var by = 0
              while (by < h) {
                var bx = 0
                while (bx < w) {
                  var sum = 0L; var dy = 0
                  while (dy < factor) {
                    var dx = 0
                    while (dx < factor) {
                      sum += lumaSample(src, bx * factor + dx,
                        by * factor + dy, bands)
                      dx += 1
                    }
                    dy += 1
                  }
                  dst.setSample(bx, by, 0,
                    (sum / (factor.toLong * factor)).toInt)
                  bx += 1
                }
                by += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              writePng(out, bos)
              Some(Row(row.getLong(0), bos.toByteArray, w, h))
            }
          }
        }
      }
    }
    spark.createDataFrame(rows, downsampleSchema)
      .withColumnRenamed("doc_id", idCol)
  }

  /** Deterministic stand-in for payloads NO in-container codec covers
    * (video/audio): width/height/duration are pure functions of the
    * payload bytes. Still images now decode for real via
    * [[ImageIoDecoder]]; this remains the documented fallback for
    * byte-stream payloads that are not images at all. */
  def fakeDecode(bytes: Array[Byte]): (Int, Int, Int) = {
    val n = bytes.length
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < math.min(n, 64)) { h ^= bytes(i); h *= 0x100000001b3L; i += 1 }
    val width = 16 + (n % 64)
    val height = 16 + (math.abs(h) % 48).toInt
    val nFrames = 1 + (n / 32)
    (width, height, nFrames)
  }

  private val decodedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** Batched per-partition decode: the Scala analog of a Pandas-UDF
    * `mapInPandas` — rows are processed in bounded batches so a real decoder
    * could amortize model/codec setup per batch, and peak memory per task is
    * `batchSize` payloads, not the partition. */
  def decodeFeatures(withPayload: DataFrame, idCol: String,
                     batchSize: Int = 64,
                     decoder: PayloadDecoder = FakeDecoder): DataFrame = {
    val spark = withPayload.sparkSession
    val input = spread(withPayload.select(col(idCol).cast("long"), col("payload")))
    val rows = input.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup would go here (codec init, model load)
        batch.iterator.map { row =>
          val id = row.getLong(0)
          val bytes = row.getAs[Array[Byte]](1)
          val (w, h, f) = decoder.decode(bytes)
          Row(id, w, h, f)
        }
      }
    }
    spark.createDataFrame(rows, decodedSchema)
      .withColumnRenamed("doc_id", idCol)
  }

  /** Arrow-native batched decode: same bounded-batch shape as
    * [[decodeFeatures]], but the decoder consumes Arrow column buffers via
    * [[graft.sources.ArrowHandoff]] — Spark serializes each partition with
    * its internal ArrowWriter (rows never box into JVM objects on the way
    * out) and ids/payloads are read straight off the vectors. One record
    * batch = one decode batch (`spark.sql.execution.arrow.
    * maxRecordsPerBatch`), where a real codec/model setup would amortize.
    * This is the mapInArrow shape realized in Scala; prefer it over
    * [[decodeFeatures]] when the decoder is the bottleneck and Row
    * serialization overhead matters. */
  def decodeFeaturesArrow(withPayload: DataFrame, idCol: String,
                          decoder: PayloadDecoder = FakeDecoder): DataFrame = {
    import org.apache.arrow.vector.{BigIntVector, VarBinaryVector}
    val spark = withPayload.sparkSession
    val input = spread(
      withPayload.select(col(idCol).cast("long").as("doc_id"), col("payload")))
    val rows = graft.sources.ArrowHandoff.handoff(input) { root =>
      // per-batch setup would go here (codec init, model load)
      val ids = root.getVector(0).asInstanceOf[BigIntVector]
      val payloads = root.getVector(1).asInstanceOf[VarBinaryVector]
      (0 until root.getRowCount).iterator.map { i =>
        val (w, h, f) = decoder.decode(payloads.get(i))
        Row(ids.get(i), w, h, f)
      }
    }
    spark.createDataFrame(rows, decodedSchema)
      .withColumnRenamed("doc_id", idCol)
  }

  /** Columnar variant of the decode for metadata that IS expressible as
    * native expressions (here: everything, since the stub is arithmetic on
    * byte length) — stays inside whole-stage codegen, used by the oracle-
    * checked query. */
  def decodeFeaturesColumnar(withPayload: DataFrame, idCol: String): DataFrame =
    withPayload.select(col(idCol),
      (lit(16) + length(col("payload")) % 64).cast("int").as("width"),
      (lit(1) + floor(length(col("payload")) / 32)).cast("int").as("n_frames"))

  /** Frame sampling: one row per kept frame index (every `stride`-th of
    * `n_frames`) — stride-native `sequence` + `explode`, no UDF; only kept
    * frames are ever generated (no post-explode filter), and at scale the
    * explode multiplies rows *within* partitions, no shuffle. */
  def sampleFrames(decoded: DataFrame, idCol: String, stride: Int): DataFrame =
    decoded.select(col(idCol), col("n_frames"),
      explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** Binary-payload fuzzy near-dup (the ssdeep/sdhash family, done the
    * SimHash way): fingerprint each payload from its non-overlapping
    * `windowBytes`-byte windows and pair up payloads whose 60-bit
    * signatures differ in ≤ `maxHamming` bits — re-encoded, trimmed, or
    * lightly-corrupted copies of the same blob land within the radius
    * while unrelated blobs don't. This is CONTENT near-dup on the raw
    * bytes: it needs no codec, so it covers exactly the opaque-binary
    * columns the decode seam leaves stubbed.
    *
    * Windows are hex-encoded (engine-portable, case-pinned) and hashed
    * with the md5 family of [[Dedup.simHashPortableTokens]], so an
    * independent engine reproduces the exact pair set — the m5 gate's
    * oracle. Plan shape: payloads are read ONCE in a codegen'd
    * projection down to (id, 8-byte sig); blocking, bucketing, and the
    * hamming join all move slim signature rows only — the binary column
    * never shuffles. Output: (a_id, b_id, hamming). */
  def payloadNearDup(withPayload: DataFrame, idCol: String,
                     payloadCol: String = "payload",
                     windowBytes: Int = 4, maxHamming: Int = 3,
                     maxBucket: Long = 100000L): DataFrame = {
    require(windowBytes > 0, "windowBytes must be positive")
    val w = windowBytes * 2 // hex chars per window
    val h = upper(hex(col(payloadCol)))
    // empty payload → empty token array (sequence(0, -1) would DESCEND)
    val tokens = when(length(h) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ceil(length(h) / lit(w.toDouble)).cast("int") - 1),
        g => h.substr(g * w + 1, lit(w))))
    Dedup.simHashPortableTokens(
      withPayload.select(col(idCol), tokens.as("__wins")),
      "__wins", idCol, maxHamming, maxBucket)
  }

  /** "Resize" stub over the payload: truncate bytes to `maxBytes` and record
    * old/new sizes — the plumbing shape of a thumbnailing pass (binary in,
    * binary out, metadata delta). */
  def resizePayload(withPayload: DataFrame, idCol: String, maxBytes: Int): DataFrame =
    withPayload.select(col(idCol),
      length(col("payload")).as("orig_bytes"),
      substring(col("payload"), 1, maxBytes).as("payload"))
      .withColumn("new_bytes", length(col("payload")))
}

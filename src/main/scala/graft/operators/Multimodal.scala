package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._

/** Multimodal column plumbing (SURVEY.md §2 m01; the reference's
  * multi-modal/cross-modal query use-cases, README "Use-cases for
  * Compound Queries" and bigvectorbench/datasets.py BVB img/text
  * datasets): opaque binary payloads + typed metadata, batch feature
  * extraction. The image leg is REAL: each doc carries a PNG payload
  * (rendered once from a closed-form per-pixel formula) and the
  * pipeline decodes it with javax.imageio inside the batched
  * mapPartitions — the gate checks decoded width/height/channel sums
  * against the oracle's arithmetic recomputation of the same formula,
  * so a wrong decode cannot pass. Audio/video codecs (not in this
  * container) would plug into the identical batch shape.
  */
object Multimodal {

  val PatchBytes = 256

  // synthetic image geometry + per-pixel formula — channel c of pixel
  // i (row-major) is (doc_id * 31 + i * 7 + c * 97) % 256. PNG is
  // lossless, so decode(encode(pixels)) == pixels and every decoded
  // statistic is an exact integer the DuckDB oracle re-derives.
  val ImgW = 16
  val ImgH = 16

  private def pixelChannel(docId: Long, i: Int, c: Int): Int =
    (((docId * 31 + i * 7 + c * 97) % 256) + 256).toInt % 256

  /** Render the deterministic PNG payload for one doc. */
  def syntheticPng(docId: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(ImgW, ImgH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < ImgW * ImgH) {
      val rgb = (pixelChannel(docId, i, 0) << 16) |
        (pixelChannel(docId, i, 1) << 8) | pixelChannel(docId, i, 2)
      img.setRGB(i % ImgW, i / ImgW, rgb)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** REAL batched image decode: javax.imageio over the binary payload
    * column, [[BatchSize]] rows per decoder call group — the batch
    * shape a vectorised codec consumes. Emits per-image width/height
    * and per-channel pixel sums.
    */
  def decodeImageStats(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("img_payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(BatchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            var (rs, gs, bs) = (0L, 0L, 0L)
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val rgb = img.getRGB(x, y)
                rs += (rgb >> 16) & 0xff
                gs += (rgb >> 8) & 0xff
                bs += rgb & 0xff
                x += 1
              }
              y += 1
            }
            (id, img.getWidth.toLong, img.getHeight.toLong, rs, gs, bs)
          }
        }
      }.toDF("doc_id", "width", "height", "r_sum", "g_sum", "b_sum")
  }

  /** Build the multimodal table — text payload + metadata + the PNG
    * image payload — then decode the images for real and keep the
    * oracle-checkable legs: text sizes/checksum plus decoded pixel
    * statistics.
    */
  def pipeline(docs: DataFrame): DataFrame =
    pipelineOf(docs, pngPayloads(docs))

  /** The stored-media view of the corpus: (doc_id, img_payload) with
    * the deterministic PNG rendered from doc_id. In production this
    * IS a stored binary column read off disk; rendering it here is
    * corpus synthesis, not the decode operator under test — callers
    * memoise it (DfCache, like the shingle/termCounts passes) so the
    * measured work is the codec, not the fixture.
    */
  def pngPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticPng(id))))
      .toDF("doc_id", "img_payload")
  }

  /** [[pipeline]] over a caller-supplied (ideally memoised) payload
    * table. */
  def pipelineOf(docs: DataFrame, payloads: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val withPayload = docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        col("source").as("origin"),
        col("n_chars").as("content_length"),
        lit("text/plain").as("mime")).as("meta"))
    val extracted = withPayload
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("checksum", byte_sum(col("payload")))
      .withColumn("n_patches", expr(s"(n_bytes + ${PatchBytes - 1}) div $PatchBytes"))
    val stats = decodeImageStats(payloads)
    extracted.select(
      col("doc_id"), col("meta.origin").as("origin"),
      col("n_bytes"), col("checksum"), col("n_patches"))
      .join(stats, "doc_id")
  }

  val ResizeFactor = 4

  /** m03: REAL image resize — decode the PNG with the codec, then
    * nearest-neighbor downsample by [[ResizeFactor]] (each output
    * pixel samples the top-left pixel of its factor×factor cell of
    * the DECODED image) and emit resized dims + per-channel sums.
    * The oracle recomputes the sums arithmetically over the sampled
    * (x·f, y·f) lattice of the closed-form pixels, so a wrong decode
    * OR a wrong sampling index fails the gate. Same batched
    * mapPartitions shape as [[decodeImageStats]] — a vectorised
    * resize (libvips/OpenCV) would consume the identical batches.
    */
  def resizeImageStats(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("img_payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(BatchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            val ow = img.getWidth / ResizeFactor
            val oh = img.getHeight / ResizeFactor
            var (rs, gs, bs) = (0L, 0L, 0L)
            var y = 0
            while (y < oh) {
              var x = 0
              while (x < ow) {
                val rgb = img.getRGB(x * ResizeFactor, y * ResizeFactor)
                rs += (rgb >> 16) & 0xff
                gs += (rgb >> 8) & 0xff
                bs += rgb & 0xff
                x += 1
              }
              y += 1
            }
            (id, ow.toLong, oh.toLong, rs, gs, bs)
          }
        }
      }.toDF("doc_id", "out_w", "out_h", "r_sum", "g_sum", "b_sum")
  }

  val BatchSize = 64
  val FrameStride = 2
  val MaxFrames = 8

  // per-frame per-pixel gray value — the i*i term keeps per-frame
  // sums distinct (a pure i*const term is a permutation of 0..255
  // over a 256-pixel frame, which would gate every frame at the same
  // sum and let a permuted-pixel decode bug pass)
  private def framePixel(docId: Long, f: Int, i: Int): Int =
    ((docId * 31 + f * 13 + i.toLong * i + i * 7) % 256).toInt

  /** Frames in doc `id`'s container: 2..MaxFrames, varying per doc so
    * the sampler's stride logic is exercised against ragged lengths.
    */
  def frameCount(docId: Long): Int = (2 + docId % (MaxFrames - 1)).toInt

  /** Render doc `docId`'s multi-frame container: a REAL animated GIF
    * (the one multi-frame format the JDK codec both writes and reads)
    * with [[frameCount]] frames of ImgW×ImgH pixels on a 256-level
    * gray palette — 8-bit palette indexes make the encode lossless,
    * so every decoded pixel is the closed-form [[framePixel]] value
    * and the oracle can recompute frame statistics arithmetically.
    */
  def syntheticGif(docId: Long): Array[Byte] = {
    val grays = Array.tabulate[Byte](256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until frameCount(docId)) {
      val img = new java.awt.image.BufferedImage(ImgW, ImgH,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      val raster = img.getRaster
      var i = 0
      while (i < ImgW * ImgH) {
        raster.setSample(i % ImgW, i / ImgW, 0, framePixel(docId, f, i))
        i += 1
      }
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  val SampleRate = 8000f

  /** Samples in doc `docId`'s clip — ragged on purpose (400..799),
    * like [[frameCount]]. */
  def sampleCount(docId: Long): Int = (400 + docId % 400).toInt

  // per-sample unsigned 8-bit amplitude — i*i keeps per-clip sums
  // position-sensitive for the same reason as framePixel
  private def audioSample(docId: Long, i: Int): Int =
    ((docId * 31 + i.toLong * i + i * 7) % 256).toInt

  /** Render doc `docId`'s audio payload: a REAL RIFF/WAVE file
    * (8-bit unsigned PCM mono at [[SampleRate]], written by the JDK's
    * javax.sound codec). 8-bit PCM stores each amplitude byte
    * verbatim, so the encode is lossless and every decoded sample is
    * the closed-form [[audioSample]] value — the audio twin of the
    * PNG/GIF device, with a real container+codec on both ends.
    */
  def syntheticWav(docId: Long): Array[Byte] = {
    val n = sampleCount(docId)
    val pcm = new Array[Byte](n)
    var i = 0
    while (i < n) { pcm(i) = audioSample(docId, i).toByte; i += 1 }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
      SampleRate, 8, 1, 1, SampleRate, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** The audio stored-media view: (doc_id, payload) WAV files — same
    * stored-column contract as [[pngPayloads]], memoised by callers.
    */
  def wavPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticWav(id))))
      .toDF("doc_id", "payload")
  }

  /** m04: REAL batched audio decode — the audio leg of the pipeline.
    * javax.sound parses the RIFF container and yields the PCM frame
    * stream; per clip we emit the format facts the decoder reports
    * (sample count, rate, channels) and amplitude statistics
    * (sum / peak over unsigned samples) — the feature-extraction
    * batch shape a real DSP front-end (fbank/MFCC) would consume.
    * Wrong container parse, wrong sample width or a byte-order slip
    * all corrupt the sums and fail the arithmetic oracle.
    */
  def audioFeaturesOf(payloadDf: DataFrame): DataFrame = {
    val spark = payloadDf.sparkSession
    import spark.implicits._
    payloadDf.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(BatchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = ais.getFormat
            val buf = new Array[Byte](4096)
            var n = 0L; var sum = 0L; var peak = 0L
            var read = ais.read(buf)
            while (read > 0) {
              var i = 0
              while (i < read) {
                val v = (buf(i) & 0xff).toLong
                sum += v
                if (v > peak) peak = v
                i += 1
              }
              n += read
              read = ais.read(buf)
            }
            (id, n, fmt.getSampleRate.toLong, fmt.getChannels.toLong,
              sum, peak)
          }
        }
      }.toDF("doc_id", "n_samples", "sample_rate", "channels",
        "amp_sum", "amp_peak")
  }

  /** m02: frame-sampling batch extraction — the video leg of the
    * pipeline, REAL decode. Payloads are range-partitioned (balanced
    * by key, no hot executors), then mapPartitions processes rows in
    * explicit batches of [[BatchSize]] — the batch shape a vectorised
    * codec consumes. Per payload the codec's frame index
    * (ImageReader.getNumImages / read(f)) decodes ONLY every
    * [[FrameStride]]-th frame — skipped frames are never rasterised,
    * the point of stride sampling — and emits frame dims + the gray
    * pixel sum. One reader instance serves the whole partition.
    */
  def frameSample(docs: DataFrame): DataFrame =
    frameSampleOf(gifPayloads(docs))

  /** The multi-frame stored-media view: (doc_id, payload) animated
    * GIFs rendered from doc_id — same stored-column contract as
    * [[pngPayloads]], memoised by callers. Range-partitioned here so
    * every cached copy is already balanced for the decode scan.
    */
  def gifPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticGif(id))))
      .toDF("doc_id", "payload")
      .repartitionByRange(col("doc_id"))
  }

  /** [[frameSample]] over a caller-supplied (ideally memoised)
    * payload table. */
  def frameSampleOf(payloadDf: DataFrame): DataFrame = {
    val spark = payloadDf.sparkSession
    import spark.implicits._
    val payloads = payloadDf.as[(Long, Array[Byte])]
    payloads.mapPartitions { rows =>
      val reader =
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { case (id, bytes) =>
          reader.setInput(javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes)))
          val n = reader.getNumImages(true)
          (0 until n by FrameStride).map { f =>
            val img = reader.read(f)
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                sum += img.getRGB(x, y) & 0xff
                x += 1
              }
              y += 1
            }
            (id, f.toLong, img.getWidth.toLong, img.getHeight.toLong, sum)
          }
        }
      }
    }.toDF("doc_id", "frame_no", "width", "height", "gray_sum")
      .orderBy("doc_id", "frame_no")
  }
}

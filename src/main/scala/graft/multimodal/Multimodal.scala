package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed by partition-batched
  * executor-side transforms (the Scala analog of `mapInPandas`: one
  * decoder instance per partition, rows streamed through it).
  *
  * Every modality decodes REAL bytes with zero extra dependencies:
  * images via the in-JDK ImageIO (ImageIoCodec), audio via the in-JDK
  * javax.sound WAV parser (AudioWavCodec), video via the pure-JVM Y4M
  * container demuxer (Y4mCodec). StubCodec remains only as the generic
  * deterministic fake for plumbing tests; swapping codecs changes no
  * Spark-side code.
  *
  * At 100 TB: payloads stay columnar in parquet (binary), metadata-only
  * queries never touch the bytes (column pruning), and decode cost is
  * bounded per-partition with `spark.sql.files.maxPartitionBytes` sized
  * so one partition's payloads fit executor memory.
  */
object Multimodal {

  /** Deterministic fake decoder: "decodes" a payload into (width,
    * height, n_frames) derived from stable byte arithmetic. A real
    * implementation replaces `decode` only. */
  trait Codec extends Serializable {
    def decode(payload: Array[Byte]): (Int, Int, Int)
  }

  object StubCodec extends Codec {
    def decode(payload: Array[Byte]): (Int, Int, Int) = {
      val n = payload.length
      val sum = payload.foldLeft(0L)((a, b) => a + (b & 0xff))
      ((sum % 640 + 1).toInt, (sum % 480 + 1).toInt, (n % 30 + 1))
    }
  }

  /** REAL image codec: decodes PNG/JPEG/GIF/BMP payload bytes with the
    * in-JDK javax.imageio (zero extra dependencies, headless-safe).
    * Returns (width, height, raster bands — i.e. channels); (-1,-1,-1)
    * for payloads no installed reader understands. */
  object ImageIoCodec extends Codec {
    def decode(payload: Array[Byte]): (Int, Int, Int) = {
      // NonFatal, not just IOException: ImageIO readers throw runtime
      // exceptions on corrupt-but-recognized bodies (CMMException on a
      // broken ICC profile, IndexOutOfBounds/IllegalArgument on bad
      // chunk lengths) — one poisoned payload must flag its row, not
      // kill the whole partition's task
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) (-1, -1, -1)
      else (img.getWidth, img.getHeight, img.getRaster.getNumBands)
    }
  }

  /** REAL audio codec: parses WAV payload bytes with the in-JDK
    * javax.sound.sampled (zero extra dependencies, headless-safe).
    * Returns (sample rate Hz, channels, PCM frame count) — callers
    * rename the generic meta columns; (-1,-1,-1) for payloads no
    * installed reader understands. */
  object AudioWavCodec extends Codec {
    def decode(payload: Array[Byte]): (Int, Int, Int) = {
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        val f = ais.getFormat
        (f.getSampleRate.toInt, f.getChannels, ais.getFrameLength.toInt)
      } catch {
        // NonFatal for the same reason as ImageIoCodec: a header the
        // parser recognizes but chokes on must flag the row, not kill
        // the task
        case scala.util.control.NonFatal(_) => (-1, -1, -1)
      }
    }
  }

  /** REAL video demuxer: a minimal pure-JVM parser for the YUV4MPEG2
    * (Y4M) container — uncompressed planar YUV behind a one-line ASCII
    * header plus per-frame FRAME markers, so offsets are exact and no
    * codec library is needed. This closes the last stubbed modality:
    * the JDK ships image (ImageIO) and audio (javax.sound) codecs but
    * no container demuxer, and Y4M is the standard uncompressed
    * interchange format (what ffmpeg/mjpegtools pipe between stages).
    * Returns (width, height, frame count); (-1,-1,-1) for anything
    * malformed — unknown magic, truncated frame, bad header token. */
  object Y4mCodec extends Codec {
    private val Magic = "YUV4MPEG2"
    private val FrameMarker = "FRAME"

    /** (width, height, bytes per frame, header length incl. newline),
      * or null if the payload is not a well-formed Y4M stream head. */
    private[multimodal] def parseHeader(p: Array[Byte]): Array[Int] = {
      if (p.length < Magic.length ||
        new String(p, 0, Magic.length, "US-ASCII") != Magic) return null
      val nl = p.indexOf('\n'.toByte)
      if (nl < 0) return null
      var w = -1
      var h = -1
      var cs = "420" // Y4M default colorspace when no C tag is present
      try {
        new String(p, 0, nl, "US-ASCII").split(' ').drop(1).foreach { tok =>
          if (tok.nonEmpty) tok.charAt(0) match {
            case 'W' => w = tok.substring(1).toInt
            case 'H' => h = tok.substring(1).toInt
            case 'C' => cs = tok.substring(1)
            case _ => // F (rate), I (interlace), A (aspect), X (meta): not needed
          }
        }
      } catch { case _: NumberFormatException => return null }
      // dimension sanity bound (also the overflow guard): w*h*3 must
      // stay far below Int.MaxValue, or a hostile header like
      // "W50000 H50000" wraps frameSize NEGATIVE and the FRAME walk
      // either never advances (infinite loop) or indexes below zero
      // (kills the task) — a malformed payload must flag its row
      if (w <= 0 || h <= 0 || w > 32768 || h > 32768) return null
      val frameSizeL =
        if (cs.startsWith("420")) w.toLong * h * 3 / 2
        else if (cs.startsWith("422")) w.toLong * h * 2
        else if (cs.startsWith("444")) w.toLong * h * 3
        else if (cs.startsWith("mono")) w.toLong * h
        else return null
      if (frameSizeL <= 0 || frameSizeL > Int.MaxValue - 64) return null
      Array(w, h, frameSizeL.toInt, nl + 1)
    }

    /** Exact (offset, length) of every frame's pixel data. Empty for a
      * malformed container (strict: a truncated trailing frame poisons
      * the whole payload rather than under-counting silently). */
    private[multimodal] def frameOffsets(p: Array[Byte]): Seq[(Int, Int)] = {
      val hd = parseHeader(p)
      if (hd == null) return Seq.empty
      val frameSize = hd(2)
      val out = Seq.newBuilder[(Int, Int)]
      var pos = hd(3)
      while (pos < p.length) {
        if (pos + FrameMarker.length > p.length ||
          new String(p, pos, FrameMarker.length, "US-ASCII") != FrameMarker)
          return Seq.empty
        var nl = pos + FrameMarker.length
        while (nl < p.length && p(nl) != '\n'.toByte) nl += 1 // frame params
        // bound check in Long: a near-Int.MaxValue frameSize (legal after
        // the header guard, e.g. C422 W32768 H32767) plus a multi-KB
        // header position wraps Int negative, passes the check, and the
        // walk then indexes out of bounds instead of flagging malformed
        if (nl >= p.length || nl.toLong + 1L + frameSize > p.length) return Seq.empty
        out += ((nl + 1, frameSize))
        pos = nl + 1 + frameSize
      }
      out.result()
    }

    def decode(payload: Array[Byte]): (Int, Int, Int) = {
      val hd = parseHeader(payload)
      if (hd == null) return (-1, -1, -1)
      val frames = frameOffsets(payload)
      if (frames.isEmpty && payload.length > hd(3)) (-1, -1, -1)
      else (hd(0), hd(1), frames.length)
    }
  }

  /** Real-encoded video fixture: one Y4M payload per row — header,
    * FRAME markers, and deterministic 4:2:0 plane bytes — with width,
    * height and frame count pure functions of doc_id, so an oracle
    * predicts the demuxed metadata (and exact byte offsets) without a
    * parser. Same executor-side partition-batched shape as the image
    * and audio fixtures. */
  def withVideoPayload(docs: DataFrame): DataFrame = {
    val rows: Dataset[Row] = docs.select(col("doc_id"))
    val schema = new StructType()
      .add("doc_id", LongType).add("media_type", StringType).add("payload", BinaryType)
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(schema)
    rows.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val w = (id % 16 + 2).toInt * 2 // even dims: 4:2:0 chroma planes
        val h = (id % 12 + 2).toInt * 2
        val frames = (id % 12 + 1).toInt
        val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n"
          .getBytes("US-ASCII")
        val fsz = w * h * 3 / 2
        val bos = new java.io.ByteArrayOutputStream(
          header.length + frames * (6 + fsz))
        bos.write(header)
        var f = 0
        while (f < frames) {
          bos.write("FRAME\n".getBytes("US-ASCII"))
          var k = 0
          while (k < fsz) { bos.write((k * 13 + f * 7 + id).toInt & 0xff); k += 1 }
          f += 1
        }
        Row(id, "y4m", bos.toByteArray)
      }
    }
  }

  val videoFrameSchema: StructType = new StructType()
    .add("doc_id", LongType)
    .add("frame_no", IntegerType)
    .add("frame_idx", IntegerType)
    .add("frame_off", IntegerType)
    .add("byte_sum", LongType)

  /** REAL frame sampling: up to `maxFrames` evenly spaced frames per
    * video, located by the Y4M demuxer at their true container offsets
    * (not arithmetic byte slices — compare sampleFrames, the declared
    * stub this replaces for y4m payloads). Emits the frame's exact
    * offset and an unsigned byte sum of its pixel data so an oracle can
    * verify both placement and content. Iterator-based partition
    * batching: one payload in memory at a time. */
  def sampleVideoFrames(withPayloads: DataFrame, maxFrames: Int = 4): DataFrame = {
    val rows: Dataset[Row] = withPayloads.select(col("doc_id"), col("payload"))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(videoFrameSchema)
    rows.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val p = r.getAs[Array[Byte]](1)
        val offs = Y4mCodec.frameOffsets(p)
        val frames = offs.length
        if (frames == 0) Iterator.empty
        else {
          val k = math.min(maxFrames, frames)
          (0 until k).iterator.map { j =>
            val idx = j * frames / k
            val (off, len) = offs(idx)
            var sum = 0L
            var i = off
            while (i < off + len) { sum += p(i) & 0xff; i += 1 }
            Row(id, j, idx, off, sum)
          }
        }
      }
    }
  }

  /** Real-encoded audio fixture: one PCM-16 WAV payload per row, with
    * sample rate / channels / frame count pure functions of doc_id (so
    * an oracle predicts the decoded metadata without decoding) and
    * deterministic sample bytes. Encoding runs executor-side in the
    * partition-batched decode shape, like withImagePayload. */
  def withAudioPayload(docs: DataFrame): DataFrame = {
    val rows: Dataset[Row] = docs.select(col("doc_id"))
    val schema = new StructType()
      .add("doc_id", LongType).add("media_type", StringType).add("payload", BinaryType)
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(schema)
    rows.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val rate = (id % 5 * 2000 + 8000).toInt
        val ch = (id % 2 + 1).toInt
        val frames = (id % 100 + 50).toInt
        val fmt = new javax.sound.sampled.AudioFormat(
          rate.toFloat, 16, ch, true, false)
        val data = new Array[Byte](frames * ch * 2)
        var i = 0
        while (i < data.length) { data(i) = ((i * 7 + id) & 0x7f).toByte; i += 1 }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        Row(id, "wav", bos.toByteArray)
      }
    }
  }

  /** Real-encoded image fixture: one PNG (even doc_id) or JPEG (odd)
    * payload per row, dimensions a pure function of doc_id, pixels a
    * fixed function of (x, y, doc_id) — so an oracle can predict the
    * decoded metadata without being able to decode. Encoding runs
    * executor-side in the same partition-batched shape as the decode
    * path (real corpora already carry the bytes; this stands in for
    * the ingest that produced them). */
  def withImagePayload(docs: DataFrame): DataFrame = {
    val rows: Dataset[Row] = docs.select(col("doc_id"))
    val schema = new StructType()
      .add("doc_id", LongType).add("media_type", StringType).add("payload", BinaryType)
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(schema)
    rows.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val w = (id % 48 + 16).toInt
        val h = (id % 32 + 16).toInt
        val fmt = if (id % 2 == 0) "png" else "jpeg"
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, ((x * 31 + y * 17 + id) % 0x1000000).toInt); x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, fmt, bos)
        Row(id, fmt, bos.toByteArray)
      }
    }
  }

  val metaSchema: StructType = new StructType()
    .add("doc_id", LongType)
    .add("media_type", StringType)
    .add("n_bytes", IntegerType)
    .add("width", IntegerType)
    .add("height", IntegerType)
    .add("n_frames", IntegerType)

  /** Attach a synthetic binary payload column (text bytes stand in for
    * media bytes; real corpora already carry binary). */
  def withPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", col("text").cast("binary"))
      .withColumn("media_type",
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")))

  val frameSchema: StructType = new StructType()
    .add("doc_id", LongType)
    .add("frame_no", IntegerType)
    .add("frame_idx", IntegerType)
    .add("frame_off", IntegerType)
    .add("frame_bytes", BinaryType)

  /** Frame sampling: emit up to `maxFrames` evenly spaced frames per
    * video payload as (index, byte-slice) rows. Iterator-based
    * partition batching — memory stays bounded by one payload at a
    * time, the mapInPandas shape. The frame EXTRACTION is the stub
    * (byte slices at arithmetic offsets: frame i of f frames is
    * payload[i·n/f, +n/f) ); a real demuxer replaces only the slicing.
    */
  def sampleFrames(withPayloads: DataFrame, maxFrames: Int = 4): DataFrame = {
    val rows: Dataset[Row] = withPayloads.select(col("doc_id"), col("payload"))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(frameSchema)
    rows.mapPartitions { it =>
      it.flatMap { r =>
        // positional access: upstream rows may be schema-less generic
        // Rows (e.g. produced by another mapPartitions stage, like the
        // withImagePayload/withAudioPayload fixtures) — by-name getAs
        // throws UNSUPPORTED_CALL.FIELD_INDEX on those
        val payload = r.getAs[Array[Byte]](1)
        val n = payload.length
        val frames = n % 30 + 1
        val k = math.min(maxFrames, frames)
        val len = n / frames
        (0 until k).iterator.map { j =>
          val idx = j * frames / k
          val off = idx * n / frames
          Row(r.getLong(0), j, idx, off,
            java.util.Arrays.copyOfRange(payload, off, math.min(off + len, n)))
        }
      }
    }
  }

  /** Partition-batched decode: one codec per partition, rows streamed.
    * This is the mapInPandas-shaped hot path — swap StubCodec for a
    * real decoder and nothing else changes. */
  val resizeSchema: StructType = new StructType()
    .add("doc_id", LongType)
    .add("width", IntegerType)
    .add("height", IntegerType)
    .add("px_sum", LongType)

  /** Nearest-neighbor thumbnail resize over REAL encoded images: decode
    * with the in-JDK ImageIO codec, sample the outW×outH grid at
    * (x·w/outW, y·h/outH) — INTEGER arithmetic, no AWT scaling filter,
    * so every sampled source pixel is exactly predictable — and emit a
    * pixel checksum alongside the decoded dimensions. On lossless
    * payloads (PNG) the checksum is arithmetic-reproducible end to end,
    * which makes the whole decode→resize path ORACLE-checkable, not
    * just schema-checkable. Partition-batched like decodeMeta: one
    * image in memory at a time, the mapInPandas batch shape; a real
    * resize kernel (area/bicubic, SIMD) replaces only the inner loop. */
  def resizeNearest(withImages: DataFrame, outW: Int = 8, outH: Int = 8): DataFrame = {
    val rows: Dataset[Row] = withImages.select(col("doc_id"), col("payload"))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(resizeSchema)
    rows.mapPartitions { it =>
      it.map { r =>
        // same NonFatal guard as ImageIoCodec.decode: one undecodable
        // payload must quarantine its row as a (-1,-1,-1) sentinel,
        // not NPE the whole partition's task (a 100 TB corpus WILL
        // contain corrupt media)
        val img =
          try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) Row(r.getLong(0), -1, -1, -1L)
        else {
          val w = img.getWidth; val h = img.getHeight
          var sum = 0L
          var y = 0
          while (y < outH) {
            var x = 0
            while (x < outW) {
              sum += (img.getRGB(x * w / outW, y * h / outH) & 0xFFFFFF).toLong
              x += 1
            }
            y += 1
          }
          Row(r.getLong(0), w, h, sum)
        }
      }
    }
  }

  val energySchema: StructType = new StructType()
    .add("doc_id", LongType)
    .add("block", IntegerType)
    .add("n_samples", LongType)
    .add("energy", LongType)

  /** Frame-block signal energy over REAL WAV bytes: decode the PCM-16
    * stream with the in-JDK javax.sound codec and sum sample² per
    * `blockFrames`-frame block (channels folded in). This drives the
    * decoder through the sample DATA, not just the header — on the
    * deterministic fixture payloads the energies are integer-exact and
    * the oracle recomputes them from doc_id arithmetic, so a byte-order
    * slip, a sign-extension bug, or a dropped frame all hash-mismatch.
    * Same partition-batched shape as decodeMeta: one stream open per
    * row, samples never materialize as a Spark-side array. */
  def audioBlockEnergy(withAudio: DataFrame, blockFrames: Int = 25): DataFrame = {
    val rows: Dataset[Row] = withAudio.select(col("doc_id"), col("payload"))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(energySchema)
    rows.flatMap { r =>
      // decode + format validation under the same NonFatal guard as
      // AudioWavCodec: the sample loop below interprets the bytes as
      // PCM_SIGNED 16-bit little-endian, so anything else (8/24/32-bit,
      // big-endian, float, μ-law) or an unparseable header quarantines
      // as ONE (-1,-1,-1) sentinel row instead of decoding garbage or
      // killing the partition's task
      val parsed =
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          val f = ais.getFormat
          if (f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
              f.getSampleSizeInBits != 16 || f.isBigEndian) null
          else (f.getChannels, ais.readAllBytes())
        } catch { case scala.util.control.NonFatal(_) => null }
      if (parsed == null) Seq(Row(r.getLong(0), -1, -1L, -1L))
      else {
        val (ch, data) = parsed
        val nSamples = data.length / 2
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var block = 0
        var i = 0
        while (i < nSamples) {
          val end = math.min(i + blockFrames * ch, nSamples)
          var e = 0L
          var n = 0L
          while (i < end) {
            // little-endian signed 16-bit
            val v = ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort.toLong
            e += v * v
            n += 1
            i += 1
          }
          out += Row(r.getLong(0), block, n, e)
          block += 1
        }
        out
      }
    }
  }

  def decodeMeta(withPayloads: DataFrame, codec: Codec = StubCodec): DataFrame = {
    val rows: Dataset[Row] = withPayloads.select(
      col("doc_id"), col("media_type"), col("payload"))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(metaSchema)
    rows.mapPartitions { it =>
      // per-partition decoder init happens here (expensive in real life)
      it.map { r =>
        // positional access: upstream rows may be schema-less generic
        // Rows (e.g. produced by another mapPartitions stage)
        val payload = r.getAs[Array[Byte]](2)
        val (w, h, f) = codec.decode(payload)
        Row(r.getLong(0), r.getString(1), payload.length, w, h, f)
      }
    }
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed payload/decode records for the image path. TOP-LEVEL by
  * contract: case classes nested in a companion break the codegen'd
  * encoder serializer under janino and every projection falls back to
  * interpreted eval (see CLAUDE.md / MisraGriesAgg). */
case class MediaPayload(doc_id: Long, content: Array[Byte])
case class DecodedImage(doc_id: Long, width: Int, height: Int,
    pix_sum: Long, n_bytes: Long)
case class DecodedFrame(doc_id: Long, frame_idx: Int, width: Int,
    height: Int, pix_sum: Long)
case class DecodedAudio(doc_id: Long, n_samples: Long, sample_sum: Long,
    sample_rate: Int)

/** Multimodal-column plumbing: image/audio/video payloads modeled as
  * opaque `binary` columns with a typed metadata struct, plus
  * feature-extraction / frame-sampling operators. The IMAGE codec path
  * is REAL — JDK-built-in `javax.imageio` encodes/decodes PNG with no
  * external library ([[encodePngs]]/[[decodeImages]]); VIDEO decode is
  * real at the container level — [[syntheticVideo]] writes a `GVC1`
  * container (magic + frame count + length-prefixed real PNG frames)
  * and [[decodeVideoFrames]] demuxes it and pixel-decodes every
  * `stride`-th frame, skipping (not decoding) the rest — the keyframe
  * access pattern. A codec-present deployment swaps exactly one seam:
  * the demux+PNG step inside `decodeVideoFrames`'s mapPartitions body
  * becomes an FFmpeg/libavcodec JNI or FFI call (handle opened once
  * per partition where the comment marks init, frames streamed per
  * row) — the Spark-side shape (typed encoders, byte-balanced
  * partitioning via [[repartitionByPayloadBytes]], stride sampling
  * before pixel work) is the part the engine guarantees and is
  * identical for both codecs. AUDIO decode is real too — the JDK
  * ships a WAV/PCM codec (`javax.sound.sampled`, headless-safe):
  * [[syntheticWav]] encodes closed-form 16-bit PCM through
  * `AudioSystem.write` and [[decodeAudio]] decodes it back through
  * `AudioSystem.getAudioInputStream` in the same typed-mapPartitions
  * boundary. The remaining stubs ([[decodeFeaturesStub]],
  * [[resizeStub]]) are scoped to codecs the JDK does NOT ship
  * (compressed audio like MP3/Opus, learned feature extractors) —
  * they stand in for an external-library call, not for the plumbing,
  * which is proven by the PNG/GVC1/WAV paths.
  *
  * Scale notes: payloads stay as parquet binary (no base64 inflation);
  * per-item work is map-only; the codec boundary is
  * `Dataset.mapPartitions` with typed encoders — codec/model state
  * initializes once per PARTITION (the Scala analog of a Pandas UDF
  * over mapInPandas), and unlike an `df.rdd` hop the plan stays in the
  * Dataset lane, so AQE and downstream whole-stage codegen survive.
  */
object Multimodal {

  // BufferedImage/ImageIO need no display, but only with headless AWT
  System.setProperty("java.awt.headless", "true")
  // ImageIO stream read/write defaults to a DISK-backed cache — one
  // temp file created+deleted per encode/decode. At 25x corpus scale
  // that is millions of tmp-file churns per query across 32 threads
  // (measured: m1b 27-30 s warm, DEGRADING across reps as the tmp dir
  // churns; 2.3 s with the memory cache, m3b 35-60 s -> 3.1 s — see
  // PERF.md round 9). Tiny in-memory payloads never need the disk
  // spool.
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic tiny PNG: `width = 1 + id%8`, `height = 1 + id%6`,
    * gray pixel `v(x,y) = (id·31 + x·7 + y·13) mod 256` in all three
    * channels — every decoded property is closed-form in `id`, so a
    * SQL oracle can state the decoded width/height/pixel-sum without
    * running a codec, while the bytes on disk are a REAL PNG stream
    * (signature, IHDR, zlib-compressed scanlines) produced by
    * `javax.imageio`. */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = 1 + (id % 8).toInt
    val h = 1 + (id % 6).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((id * 31 + x * 7 + y * 13) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real PNG decode (JDK ImageIO): width, height, and the sum of the
    * red channel over all pixels — the integrity checksum the m1b
    * oracle recomputes in closed form. */
  def decodePng(id: Long, bytes: Array[Byte]): DecodedImage = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    if (img == null)
      throw new IllegalArgumentException(
        s"decodePng: payload for id=$id is not a decodable image")
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        sum += (img.getRGB(x, y) >> 16) & 0xff
        x += 1
      }
      y += 1
    }
    DecodedImage(id, img.getWidth, img.getHeight, sum, bytes.length.toLong)
  }

  /** Distributed PNG encode: ids → real PNG payloads, one codec stage
    * per partition via typed mapPartitions. */
  def encodePngs(ids: Dataset[Long]): Dataset[MediaPayload] =
    ids.mapPartitions(it => it.map(id => MediaPayload(id, syntheticPng(id))))(
      Encoders.product[MediaPayload])

  /** Batch image decode over a (id, binary) DataFrame — the REAL codec
    * boundary: `Dataset.mapPartitions` with a typed encoder (no
    * `df.rdd` hop), ImageIO init amortized per partition. */
  def decodeImages(df: DataFrame, idCol: String,
      contentCol: String): Dataset[DecodedImage] =
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .mapPartitions { rows =>
        // per-partition init lives here (ImageIO is stateless; a
        // JNI/model codec would load its handle once per task)
        rows.map(r => decodePng(r.getLong(0), r.getAs[Array[Byte]](1)))
      }(Encoders.product[DecodedImage])

  /** Deterministic tiny video: a `GVC1` container holding
    * `1 + id%3` real PNG frames, frame `f` being
    * [[syntheticPng]]`(id·16 + f)` — so every decoded frame property
    * is closed-form in `(doc_id, frame_idx)` and a SQL oracle can
    * restate the full decode with pure arithmetic, while the payload
    * is a genuine multi-frame media container (magic, frame count,
    * length-prefixed zlib-compressed PNG streams). Layout:
    * `"GVC1" | int32 nFrames | (int32 len | PNG bytes)*`, big-endian. */
  def syntheticVideo(id: Long): Array[Byte] = {
    val n = 1 + (id % 3).toInt
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBytes("GVC1")
    out.writeInt(n)
    var f = 0
    while (f < n) {
      val png = syntheticPng(id * 16 + f)
      out.writeInt(png.length)
      out.write(png)
      f += 1
    }
    out.flush()
    bos.toByteArray
  }

  /** Distributed video encode: ids → GVC1 payloads, one codec stage per
    * partition via typed mapPartitions (the [[encodePngs]] shape). */
  def encodeVideos(ids: Dataset[Long]): Dataset[MediaPayload] =
    ids.mapPartitions(it => it.map(id => MediaPayload(id, syntheticVideo(id))))(
      Encoders.product[MediaPayload])

  /** Real video-frame decode over a (id, binary) DataFrame: demux the
    * GVC1 container, pixel-decode every `stride`-th frame through
    * `javax.imageio`, SKIP the bytes of the rest (no decode — the
    * point of keyframe sampling is that skipped frames cost a seek,
    * not a codec pass). Same boundary discipline as [[decodeImages]]:
    * `Dataset.mapPartitions` with typed encoders, no `df.rdd` hop. */
  def decodeVideoFrames(df: DataFrame, idCol: String, contentCol: String,
      stride: Int = 1): Dataset[DecodedFrame] =
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .mapPartitions { rows =>
        // per-partition init lives here (a JNI codec opens its handle
        // once per task; ImageIO is stateless)
        rows.flatMap { r =>
          val id = r.getLong(0)
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          val magic = new Array[Byte](4)
          in.readFully(magic)
          if (!java.util.Arrays.equals(magic, "GVC1".getBytes("US-ASCII")))
            throw new IllegalArgumentException(
              s"decodeVideoFrames: id=$id is not a GVC1 container")
          val n = in.readInt()
          val out = Vector.newBuilder[DecodedFrame]
          var f = 0
          while (f < n) {
            val len = in.readInt()
            if (f % stride == 0) {
              val bytes = new Array[Byte](len)
              in.readFully(bytes)
              val d = decodePng(id, bytes)
              out += DecodedFrame(id, f, d.width, d.height, d.pix_sum)
            } else {
              var toSkip = len
              while (toSkip > 0) toSkip -= in.skipBytes(toSkip)
            }
            f += 1
          }
          out.result()
        }
      }(Encoders.product[DecodedFrame])

  /** Deterministic tiny WAV: 16-bit signed little-endian PCM, mono,
    * 8 kHz, `40 + id%23` samples, sample
    * `s(i) = (id·31 + i·7) mod 2001 − 1000` — every decoded property
    * (sample count, sample sum, rate) is closed-form in `id` so a SQL
    * oracle restates the decode with pure arithmetic, while the bytes
    * on disk are a REAL RIFF/WAVE stream (header + PCM data chunk)
    * produced by `javax.sound.sampled.AudioSystem`. */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = 40 + (id % 23).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = ((id * 31 + i * 7) % 2001 - 1000).toInt
      pcm(2 * i) = (s & 0xff).toByte          // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      8000f, 16, 1, /* signed = */ true, /* bigEndian = */ false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real WAV/PCM decode (JDK `javax.sound.sampled`): parse the RIFF
    * header, stream the PCM frames, and fold sample count + signed
    * sample sum — the integrity checksum the m4 oracle recomputes in
    * closed form. Rejects anything that is not 16-bit mono PCM (the
    * contract [[syntheticWav]] writes); a real deployment widens this
    * switch per format instead. */
  def decodeWav(id: Long, bytes: Array[Byte]): DecodedAudio = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
        fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
      throw new IllegalArgumentException(
        s"decodeWav: id=$id is not 16-bit mono signed PCM ($fmt)")
    val le = !fmt.isBigEndian
    val data = ais.readAllBytes()
    val n = data.length / 2
    var sum = 0L
    var i = 0
    while (i < n) {
      val lo = if (le) data(2 * i) & 0xff else data(2 * i + 1) & 0xff
      val hi = if (le) data(2 * i + 1) else data(2 * i)
      sum += (hi << 8 | lo).toShort
      i += 1
    }
    DecodedAudio(id, n.toLong, sum, fmt.getSampleRate.toInt)
  }

  /** Distributed WAV encode: ids → real RIFF/WAVE payloads, one codec
    * stage per partition via typed mapPartitions. */
  def encodeWavs(ids: Dataset[Long]): Dataset[MediaPayload] =
    ids.mapPartitions(it => it.map(id => MediaPayload(id, syntheticWav(id))))(
      Encoders.product[MediaPayload])

  /** Batch audio decode over a (id, binary) DataFrame — same boundary
    * discipline as [[decodeImages]]: `Dataset.mapPartitions` with typed
    * encoders, no `df.rdd` hop, codec init amortized per partition. */
  def decodeAudio(df: DataFrame, idCol: String,
      contentCol: String): Dataset[DecodedAudio] =
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .mapPartitions { rows =>
        // per-partition init lives here (AudioSystem is stateless; a
        // JNI/FFI codec would load its handle once per task)
        rows.map(r => decodeWav(r.getLong(0), r.getAs[Array[Byte]](1)))
      }(Encoders.product[DecodedAudio])

  /** Wrap a string column as a binary payload + metadata struct — the
    * ingestion boundary where real pipelines read image bytes. */
  def asMedia(df: DataFrame, payloadCol: String, mediaType: String): DataFrame =
    df.withColumn("content", col(payloadCol).cast("binary"))
      .withColumn("media_meta", struct(
        lit(mediaType).as("media_type"),
        pmod(xxhash64(col(payloadCol)), lit(1920)).cast("int").as("width"),
        pmod(xxhash64(lit(1), col(payloadCol)), lit(1080)).cast("int").as("height"),
        (length(col(payloadCol)) * 40L).cast("bigint").as("duration_ms")))

  /** STUB decode — deterministic fake features in place of a codec
    * the JDK does NOT ship (compressed audio like MP3/Opus, learned
    * feature extractors). Every JDK-codec format has a REAL decode
    * path above (PNG → [[decodeImages]], GVC1 video →
    * [[decodeVideoFrames]], WAV/PCM → [[decodeAudio]]); this stub only
    * stands in for the external-library call itself — the signature
    * (binary → fixed-width float vector) and the column-level contract
    * are what the engine guarantees. */
  def decodeFeaturesStub(content: Column, dim: Int = 8): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      (pmod(xxhash64(i, content), lit(1000)).cast("double") / lit(1000.0)))

  /** STUB resize: deterministic stride-downsample of the payload to at
    * most `targetBytes` (a real deployment decodes, resamples pixels,
    * re-encodes — the contract here is binary → smaller binary with a
    * bounded size, which is what downstream batching relies on). */
  def resizeStub(targetBytes: Int) =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      if (bytes == null) null
      else if (bytes.length <= targetBytes) bytes
      else {
        val stride = bytes.length.toDouble / targetBytes
        Array.tabulate(targetBytes)(i => bytes((i * stride).toInt))
      }
    }

  /** Frame sampling: every `stride` bytes, cut a `frameLen`-byte slice —
    * the video-keyframe access pattern over an opaque payload. */
  def sampleFrames(content: Column, stride: Int, frameLen: Int): Column =
    transform(
      sequence(lit(0),
        greatest(floor((length(content) - lit(frameLen)).cast("double") / lit(stride))
          .cast("int"), lit(0))),
      i => substring(content, (i * stride + 1).cast("int"), lit(frameLen)))

  /** Partition sizing for decode stages: media payloads are wildly
    * variable-width, so row-count partitioning leaves some tasks with
    * 10× the bytes. Total bytes come from file-level metadata
    * (filesystem status of the scan's input files — no content pass,
    * no job), then a round-robin repartition targets `targetBytes` per
    * task — the knob that keeps codec stages balanced and spill-free.
    * Media payloads are already-compressed codec bytes, so compressed
    * file size ≈ payload bytes; for non-file-backed inputs (tests,
    * derived frames) the fallback is one scalar aggregate over the
    * content column. */
  def repartitionByPayloadBytes(df: DataFrame, contentCol: String,
      targetBytes: Long = 128L << 20): DataFrame = {
    val (nFiles, fileBytes) = graft.Tables.scanFileBytes(df)
    val total =
      if (nFiles > 0) fileBytes
      else df.agg(sum(length(col(contentCol)).cast("bigint")))
        .head().getLong(0)
    val parts = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    df.repartition(parts)
  }

  /** Schema-generic batch stage via `Dataset.mapPartitions` with a row
    * encoder — appends `decoded_len` to whatever schema arrives. For
    * the REAL image decode use [[decodeImages]]; this generic form is
    * the pattern for codecs whose output schema is input-dependent. */
  def decodeBatch(df: DataFrame, contentCol: String): DataFrame = {
    val idx = df.schema.fieldIndex(contentCol)
    val outSchema = StructType(df.schema.fields :+
      StructField("decoded_len", LongType))
    df.mapPartitions { rows =>
      // per-partition init happens here (codec handle, model weights…)
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        Row.fromSeq(r.toSeq :+ (if (bytes == null) 0L else bytes.length.toLong))
      }
    }(Encoders.row(outSchema))
  }
}

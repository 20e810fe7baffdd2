package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S11 — video CONTAINER decode (reference motion_codec.py:11-29,
  * `cv2.VideoCapture(path)` frame loop). The image-sequence reader
  * (VideoFrames) covers the exported-frames shape; this closes the
  * single-file leg: a minimal RIFF/AVI walker supporting the two
  * classic stream formats —
  *
  *  - '00db' uncompressed 8-bit grayscale DIB frames (bottom-up rows,
  *    4-byte-aligned stride): bit-exact round-trip, used by the specs
  *    to prove the container plumbing without codec loss;
  *  - '00dc' MJPEG frames (each chunk a standalone JPEG, decoded via
  *    javax.imageio): the dominant intra-only capture codec.
  *
  * Same swap-point design as ImageSource/Dicom/AudioSource: one parse
  * UDF from the binary column to typed frames; everything downstream
  * (Motion.frameStats, BlockMatch, FrameStream) consumes the long
  * pixel relation and never sees the container.
  *
  * Scale notes: binaryFile splits at FILE granularity — one AVI is one
  * task, so a corpus of clips parallelizes across executors with zero
  * shuffle, while a single monolithic file does not (frame-level
  * splits need a seekable index; split long recordings upstream, the
  * same operational rule Spark applies to gzip). Frames explode to
  * rows inside the task, so executor memory bounds clip length ×
  * resolution, not the corpus. */
object Avi {

  case class AviFrame(frameIdx: Int, height: Int, width: Int, pixels: Array[Int])
  case class AviClip(width: Int, height: Int, nFrames: Int, frames: Array[AviFrame])

  private def fourCC(buf: ByteBuffer): String = {
    val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
  }

  /** Walk the RIFF tree, collecting stream-0 video chunks in file
    * order plus the header dimensions. */
  def parse(bytes: Array[Byte]): AviClip = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length > 12 && fourCC(buf) == "RIFF", "not a RIFF file")
    buf.getInt() // riff size
    require(fourCC(buf) == "AVI ", "not an AVI file")
    var width = 0; var height = 0; var declaredFrames = 0; var bitCount = 8
    // latch: biBitCount may only come from the strf that FOLLOWS a
    // 'vids' strh — in a multi-stream AVI (video + audio) the audio
    // strf is a WAVEFORMATEX whose bytes at +14 would otherwise
    // overwrite the video bitCount and trip the 8-bit require.
    // Streams are numbered by strh order, and data chunks carry that
    // index as their first two digits ('01db' = stream 1 uncompressed
    // frame) — an audio-first AVI puts video at stream 1, so the frame
    // collector must match the LATCHED vids index, not literal "00".
    var curStreamType = ""; var videoBitCountLatched = false
    var streamIdx = -1; var vidsIdx = -1
    val payloads = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    def walk(end: Int): Unit = {
      while (buf.position() + 8 <= end) {
        val id = fourCC(buf)
        val len = buf.getInt()
        val start = buf.position()
        id match {
          case "LIST" =>
            fourCC(buf) // list type (hdrl/strl/movi) — contents self-describe
            walk(start + len)
          case "avih" =>
            declaredFrames = buf.getInt(start + 16)
            width = buf.getInt(start + 32)
            height = buf.getInt(start + 36)
          case "strh" =>
            // fccType at +0: 'vids' / 'auds' / 'txts' — identifies the
            // stream the next strf in this strl describes
            streamIdx += 1
            curStreamType = new String(bytes, start, 4, "US-ASCII")
            if (curStreamType == "vids" && vidsIdx < 0) vidsIdx = streamIdx
          case "strf" =>
            // BITMAPINFOHEADER: biBitCount at +14 (first video stream only)
            if (len >= 16 && curStreamType == "vids" && !videoBitCountLatched) {
              bitCount = buf.getShort(start + 14).toInt
              videoBitCountLatched = true
            }
          case _ if id.length == 4 && id(0).isDigit && id(1).isDigit &&
              (id.endsWith("db") || id.endsWith("dc")) &&
              id.substring(0, 2).toInt == math.max(vidsIdx, 0) =>
            // hdrl precedes movi in a valid AVI, so vidsIdx is latched
            // before any data chunk; max(_,0) keeps headerless fixtures
            // (no strh at all) on the historical stream-0 behavior
            val payload = new Array[Byte](len)
            buf.position(start); buf.get(payload)
            payloads += ((id, payload))
          case _ => ()
        }
        buf.position(start + len + (len & 1)) // chunks are word-aligned
      }
    }
    walk(bytes.length)
    require(width > 0 && height > 0, "missing avih header")
    val frames = payloads.zipWithIndex.map { case ((id, payload), i) =>
      val px = if (id.endsWith("db")) decodeDib(payload, height, width, bitCount)
               else decodeJpeg(payload)
      AviFrame(i, height, width, px)
    }.toArray
    AviClip(width, height, frames.length, frames)
  }

  /** Uncompressed 8-bit DIB frame: bottom-up rows, stride padded to 4. */
  private def decodeDib(payload: Array[Byte], h: Int, w: Int, bitCount: Int): Array[Int] = {
    require(bitCount == 8, s"only 8-bit DIB frames supported, got $bitCount")
    val stride = (w + 3) & ~3
    require(payload.length >= stride * h, "short DIB frame")
    val out = new Array[Int](h * w)
    var y = 0
    while (y < h) {
      val src = (h - 1 - y) * stride
      var x = 0
      while (x < w) { out(y * w + x) = payload(src + x) & 0xff; x += 1 }
      y += 1
    }
    out
  }

  /** MJPEG frame: one standalone JPEG per chunk; band 0 of the decoded
    * raster (grayscale JPEGs round-trip; color would take the luma
    * option like ImageSource.decodeGray). */
  private def decodeJpeg(payload: Array[Byte]): Array[Int] = {
    val img = ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "undecodable MJPEG frame")
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Int](h * w)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { out(y * w + x) = raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    out
  }

  val parseUdf = udf { bytes: Array[Byte] => parse(bytes) }

  /** Read a directory/glob of AVI clips into the long pixel relation
    * (video_id, frame_idx, y, x, v); Motion.frameStats packs it back
    * into dense frames (Motion.denseFrames).
    * video_id is the file path — a stable, shuffle-free key (a dense
    * int would need a global rank, the single-partition window this
    * repo bans); downstream operators only group/partition by it. */
  def readPixels(spark: SparkSession, dir: String, glob: String = "*.avi"): DataFrame =
    ImageSource.readBinary(spark, dir, glob)
      .withColumn("video_id", col("path").cast("string"))
      .withColumn("clip", parseUdf(col("content")))
      .withColumn("f", explode(col("clip.frames")))
      .select(col("video_id"), col("f.frameIdx").as("frame_idx"),
        col("clip.width").as("width"),
        posexplode(col("f.pixels")).as(Seq("pos", "v")))
      .withColumn("y", (col("pos") / col("width")).cast("int"))
      .withColumn("x", col("pos") % col("width"))
      .select("video_id", "frame_idx", "y", "x", "v")

  /** Synthetic AVI corpus as an in-memory binary column: pixel (y,x)
    * of frame f in clip c is (x*5 + y*9 + f*17 + c*23) % 256 — the
    * formula the oracle recomputes relationally. Raw-DIB frames, so
    * the container round-trip is lossless. */
  val encodeSyntheticUdf = udf { (clipId: Int, nFrames: Int, w: Int, h: Int) =>
    val frames = (0 until nFrames).map(f =>
      Array.tabulate(h * w)(pos =>
        ((pos % w) * 5 + (pos / w) * 9 + f * 17 + clipId * 23) % 256))
    synthesize(frames, h, w)
  }

  def syntheticAvis(spark: SparkSession, nClips: Int = 3, nFrames: Int = 6,
                    w: Int = 64, h: Int = 48): DataFrame =
    spark.range(nClips).select(col("id").cast("int").as("clip_id"))
      .withColumn("content",
        encodeSyntheticUdf(col("clip_id"), lit(nFrames), lit(w), lit(h)))

  /** End-to-end container-decode query: synthesize real AVI bytes,
    * walk the RIFF tree back to frames, aggregate per-frame stats.
    * The DuckDB oracle computes the same stats straight from the
    * pixel formula, so a container/stride/row-order bug cannot
    * hash-match. */
  def aviDecodeStatsQuery(spark: SparkSession): DataFrame =
    syntheticAvis(spark)
      .withColumn("clip", parseUdf(col("content")))
      .withColumn("f", explode(col("clip.frames")))
      .select(col("clip_id"), col("f.frameIdx").as("frame_idx"),
        explode(col("f.pixels")).as("v"))
      .groupBy("clip_id", "frame_idx")
      .agg(count(lit(1)).as("n_pixels"),
        round(avg("v"), 4).as("mean_v"),
        min("v").as("min_v"),
        max("v").as("max_v"))
      .orderBy("clip_id", "frame_idx")

  /** MJPEG leg of the container on the oracle surface: same RIFF
    * walker, '00dc' chunks, javax.imageio decode. JPEG IDCT output is
    * decoder-defined — not SQL-expressible — but DETERMINISTIC for a
    * fixed decoder, so the oracle is generated driver-side by decoding
    * the SAME synthesized bytes with the SAME decoder and injecting
    * the per-frame stats as literals (the Ellipse.bestEllipseOracleSql
    * pattern). The distributed path must then reproduce the container
    * walk, vids-stream latch, JPEG decode and aggregation exactly; the
    * codec itself is common-mode by construction. */
  private val MjClips = 2; private val MjFrames = 4
  private val MjW = 64; private val MjH = 48

  private def mjpegFramePixels(clipId: Int, f: Int): Array[Int] =
    Array.tabulate(MjH * MjW)(pos =>
      ((pos % MjW) * 5 + (pos / MjW) * 9 + f * 17 + clipId * 23) % 256)

  def syntheticMjpegBytes(clipId: Int): Array[Byte] =
    synthesize((0 until MjFrames).map(f => mjpegFramePixels(clipId, f)),
      MjH, MjW, mjpeg = true)

  val encodeMjpegUdf = udf { clipId: Int => syntheticMjpegBytes(clipId) }

  def mjpegDecodeStatsQuery(spark: SparkSession): DataFrame =
    spark.range(MjClips).select(col("id").cast("int").as("clip_id"))
      .withColumn("content", encodeMjpegUdf(col("clip_id")))
      .withColumn("clip", parseUdf(col("content")))
      .withColumn("f", explode(col("clip.frames")))
      .select(col("clip_id"), col("f.frameIdx").as("frame_idx"),
        explode(col("f.pixels")).as("v"))
      .groupBy("clip_id", "frame_idx")
      .agg(count(lit(1)).as("n_pixels"),
        round(avg("v"), 4).as("mean_v"),
        min("v").as("min_v"),
        max("v").as("max_v"))
      .orderBy("clip_id", "frame_idx")

  def mjpegDecodeStatsOracleSql: String = {
    val rows = for {
      c <- 0 until MjClips
      clip = parse(syntheticMjpegBytes(c))
      fr <- clip.frames
    } yield {
      val px = fr.pixels
      // same arithmetic as Spark's round(avg(int), 4): long-sum /
      // double-divide, then HALF_UP at scale 4; Double.toString
      // round-trips through DuckDB's strtod bit-exactly
      val mean = BigDecimal(px.sum.toDouble / px.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      s"($c, ${fr.frameIdx}, ${px.length}, $mean, ${px.min}, ${px.max})"
    }
    s"""SELECT CAST(clip_id AS INTEGER) AS clip_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       |  CAST(n_pixels AS BIGINT) AS n_pixels, CAST(mean_v AS DOUBLE) AS mean_v,
       |  CAST(min_v AS INTEGER) AS min_v, CAST(max_v AS INTEGER) AS max_v
       |FROM (VALUES ${rows.mkString(",\n  ")}) AS t(clip_id, frame_idx, n_pixels, mean_v, min_v, max_v)
       |ORDER BY clip_id, frame_idx""".stripMargin
  }

  def aviDecodeStatsOracleSql: String =
    """SELECT CAST(c.c AS INTEGER) AS clip_id, CAST(f.f AS INTEGER) AS frame_idx,
      |  count(*) AS n_pixels,
      |  round(avg((x.x * 5 + y.y * 9 + f.f * 17 + c.c * 23) % 256), 4) AS mean_v,
      |  CAST(min((x.x * 5 + y.y * 9 + f.f * 17 + c.c * 23) % 256) AS INTEGER) AS min_v,
      |  CAST(max((x.x * 5 + y.y * 9 + f.f * 17 + c.c * 23) % 256) AS INTEGER) AS max_v
      |FROM range(0, 3) c(c), range(0, 6) f(f), range(0, 48) y(y), range(0, 64) x(x)
      |GROUP BY 1, 2 ORDER BY clip_id, frame_idx""".stripMargin

  // ---- synthesizer (tests write what the parser reads) ----

  private def chunk(out: ByteArrayOutputStream, id: String, payload: Array[Byte]): Unit = {
    out.write(id.getBytes("US-ASCII"))
    val len = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(payload.length).array()
    out.write(len); out.write(payload)
    if (payload.length % 2 == 1) out.write(0)
  }

  private def list(listType: String)(body: ByteArrayOutputStream => Unit): Array[Byte] = {
    val inner = new ByteArrayOutputStream()
    inner.write(listType.getBytes("US-ASCII"))
    body(inner)
    inner.toByteArray
  }

  private def encodeDib(frame: Array[Int], h: Int, w: Int): Array[Byte] = {
    val stride = (w + 3) & ~3
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val dst = (h - 1 - y) * stride
      var x = 0
      while (x < w) { out(dst + x) = frame(y * w + x).toByte; x += 1 }
      y += 1
    }
    out
  }

  private def encodeJpeg(frame: Array[Int], h: Int, w: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.getRaster.setSample(x, y, 0, frame(y * w + x)); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Write a minimal AVI: avih + one 'vids' stream + movi. `mjpeg`
    * selects the codec leg; raw DIB otherwise. `audioFirst` prepends
    * an 'auds' strl (WAVEFORMATEX strf whose bytes at +14 are NOT a
    * valid bitCount) so the video stream becomes stream 1 and data
    * chunks are '01db'/'01dc' — the multi-stream layout the parser's
    * vids-index latch exists for. */
  def synthesize(frames: Seq[Array[Int]], h: Int, w: Int, fps: Int = 30,
                 mjpeg: Boolean = false, audioFirst: Boolean = false): Array[Byte] = {
    def u32(vals: Int*): Array[Byte] = {
      val b = ByteBuffer.allocate(vals.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putInt); b.array()
    }
    val codec = if (mjpeg) "MJPG" else Array[Byte](0, 0, 0, 0).map(_.toChar).mkString
    val avih = u32(1000000 / fps, 0, 0, 0, frames.length, 0, 1, 0, w, h, 0, 0, 0, 0)
    val strh = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.put("vids".getBytes("US-ASCII")); b.put(codec.getBytes("US-ASCII"))
      b.putInt(0); b.putShort(0); b.putShort(0); b.putInt(0)
      b.putInt(1); b.putInt(fps) // rate/scale = fps
      b.putInt(0); b.putInt(frames.length); b.putInt(0); b.putInt(-1); b.putInt(0)
      b.putShort(0); b.putShort(0); b.putShort(w.toShort); b.putShort(h.toShort)
      b.array()
    }
    val strf = {
      val b = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(40); b.putInt(w); b.putInt(h); b.putShort(1); b.putShort(8)
      b.put((if (mjpeg) "MJPG" else "    ").getBytes("US-ASCII"))
      b.putInt(((w + 3) & ~3) * h); b.putInt(0); b.putInt(0); b.putInt(256); b.putInt(0)
      b.array()
    }
    val strl = list("strl") { o => chunk(o, "strh", strh); chunk(o, "strf", strf) }
    val audioStrl = list("strl") { o =>
      val ah = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      ah.put("auds".getBytes("US-ASCII"))
      chunk(o, "strh", ah.array())
      // WAVEFORMATEX: fmt=1 PCM, 1 ch, 8 kHz, 16-bit — bytes at +14
      // would read as garbage bitCount if the latch keyed on position
      val af = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
      af.putShort(1); af.putShort(1); af.putInt(8000); af.putInt(16000)
      af.putShort(2); af.putShort(16); af.putShort(0)
      chunk(o, "strf", af.array())
    }
    val hdrl = list("hdrl") { o =>
      chunk(o, "avih", avih)
      if (audioFirst) chunk(o, "LIST", audioStrl)
      chunk(o, "LIST", strl)
    }
    val vidsNN = if (audioFirst) "01" else "00"
    val movi = list("movi") { o =>
      frames.foreach { f =>
        chunk(o, vidsNN + (if (mjpeg) "dc" else "db"),
          if (mjpeg) encodeJpeg(f, h, w) else encodeDib(f, h, w))
      }
    }
    val riff = new ByteArrayOutputStream()
    chunk(riff, "LIST", hdrl)
    chunk(riff, "LIST", movi)
    val body = riff.toByteArray
    val out = new ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(body.length + 4).array())
    out.write("AVI ".getBytes("US-ASCII"))
    out.write(body)
    out.toByteArray
  }
}

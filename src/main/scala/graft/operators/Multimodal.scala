package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) columns for the interleaved-document
  * pipeline: media as opaque `binary` + typed metadata, with
  * decode/hash/resize/frame-sample implemented as per-partition transforms.
  *
  * Each media kind has ONE decode path, the real JDK codecs in
  * [[MediaCodec]]: PNG/JPEG/BMP via javax.imageio, WAV/PCM via
  * javax.sound.sampled, and video through pure-JDK RIFF/AVI and
  * ISO-BMFF/MP4 demuxers (`demuxVideo`) whose Motion-PNG/Motion-JPEG
  * frames decode via javax.imageio. The q_media_real / q_media_audio /
  * q_media_video / q_media_mjpg / q_media_mp4 gates run these paths. The
  * one synthetic decode left, [[MediaCodec.decodeImage]], is the
  * perceptual hash's fallback for bytes the JDK cannot parse.
  */
object Multimodal {

  /** The codec seam: real JDK encoders, decoders and demuxers, plus the
    * synthetic [[decodeImage]] that [[Multimodal.perceptualHashes]] falls
    * back to. A deployment with other codecs swaps in javacv/ffmpeg behind
    * the same per-row signatures. */
  object MediaCodec {
    /** SYNTHETIC decode: deterministic pseudo-pixels from the content
      * hash — the perceptual hash's fallback for bytes the JDK cannot
      * parse, so mixed tables stay total. */
    def decodeImage(bytes: Array[Byte], w: Int, h: Int): Array[Float] = {
      // deterministic fake: FNV over bytes seeds a tiny LCG "image"
      var hsh = -3750763034362895579L
      var i = 0
      while (i < bytes.length) { hsh ^= bytes(i); hsh *= 1099511628211L; i += 1 }
      val out = new Array[Float](w * h)
      var s = hsh
      i = 0
      while (i < out.length) {
        s = s * 6364136223846793005L + 1442695040888963407L
        out(i) = ((s >>> 40).toInt & 0xFF) / 255.0f
        i += 1
      }
      out
    }

    /** Frame sampling: `n` deterministic frame offsets, the midpoints of
      * `n` equal slices of the duration. */
    def sampleFrameOffsets(durationMs: Long, n: Int): Array[Long] =
      if (durationMs <= 0 || n <= 0) Array.empty
      else (0 until n).map(i => durationMs * (2L * i + 1) / (2L * n)).toArray

    // ---- REAL codecs (JDK built-ins; no external libraries) ----------

    /** Encode 8-bit gray pixels (row-major ints 0..255) as a real PNG.
      * PNG is lossless: decodeImageReal(encodePng(px)) == px exactly. */
    def encodePng(px: Array[Int], w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var i = 0
      while (i < px.length) { raster.setSample(i % w, i / w, 0, px(i)); i += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** REAL image decode via javax.imageio (PNG/JPEG/BMP/GIF): gray
      * pixels in [0,1] at native size. Single-band rasters use the raw
      * sample (exact for gray PNG roundtrips); multi-band images reduce
      * by integer luminance (299r + 587g + 114b) / 1000. Returns None
      * when the bytes are not a decodable image. */
    def decodeImageReal(bytes: Array[Byte]): Option[(Array[Float], Int, Int)] = {
      if (bytes == null || bytes.length == 0) return None
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          val raster = img.getRaster
          val bands = raster.getNumBands
          val out = new Array[Float](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v =
                if (bands == 1) raster.getSample(x, y, 0)
                else {
                  val r = raster.getSample(x, y, 0)
                  val g = raster.getSample(x, y, 1)
                  val b = raster.getSample(x, y, 2)
                  (299 * r + 587 * g + 114 * b) / 1000
                }
              out(y * w + x) = v / 255.0f
              x += 1
            }
            y += 1
          }
          Some((out, w, h))
        }
      } catch { case _: Exception => None }
    }

    /** Encode mono PCM16 samples as a real little-endian WAV. Lossless:
      * decodePcmReal(encodeWavPcm16(s, r)) == s / 32768f exactly. */
    def encodeWavPcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      import javax.sound.sampled._
      val raw = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        raw(2 * i) = (samples(i) & 0xFF).toByte
        raw(2 * i + 1) = (samples(i) >> 8).toByte
        i += 1
      }
      val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** REAL audio decode via javax.sound.sampled (WAV/PCM16 mono LE):
      * samples in [-1,1] (v / 32768f — exact for |v| < 2^15) plus the
      * container's sample rate. None when the bytes are not parseable. */
    def decodePcmReal(bytes: Array[Byte]): Option[(Array[Float], Int)] = {
      if (bytes == null || bytes.length == 0) return None
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
            fmt.isBigEndian) return None
        val raw = ais.readAllBytes()
        val out = new Array[Float](raw.length / 2)
        var i = 0
        while (i < out.length) {
          val v = ((raw(2 * i) & 0xFF) | (raw(2 * i + 1) << 8)).toShort
          out(i) = v / 32768.0f
          i += 1
        }
        Some((out, fmt.getSampleRate.toInt))
      } catch { case _: Exception => None }
    }

    /** Encode gray frames as a REAL RIFF AVI container with the
      * Motion-PNG codec (FourCC 'MPNG', a registered AVI video codec
      * whose frame payloads are whole PNG images — lossless, so
      * demux+decode roundtrips are exact, unlike MJPG). Emits the
      * standard chunk tree — avih, strl (strh 'vids'/'MPNG' + strf
      * BITMAPINFOHEADER), LIST movi with one '00dc' chunk per frame,
      * and an idx1 index — i.e. a file any AVI demuxer accepts, not a
      * private format. */
    def encodeAviMpng(frames: Seq[Array[Int]], w: Int, h: Int,
                      fps: Int): Array[Byte] = {
      require(frames.forall(_.length == w * h),
        s"encodeAviMpng: every frame must be $w x $h pixels")
      encodeAvi(frames.map(encodePng(_, w, h)), "MPNG", w, h, fps)
    }

    /** Gray JPEG encode via javax.imageio (lossy — flat fields decode to
      * within a few gray levels of the input). */
    def encodeJpeg(px: Array[Int], w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var i = 0
      while (i < px.length) { raster.setSample(i % w, i / w, 0, px(i)); i += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }

    /** As [[encodeAviMpng]] but with the Motion-JPEG codec (FourCC 'MJPG',
      * JPEG frame payloads) — the most common real-world AVI video codec.
      * The demuxer and frame decoder are codec-agnostic (chunk walk +
      * ImageIO), so MJPG files decode through the identical path; only
      * the lossless-roundtrip guarantee of MPNG is given up. */
    def encodeAviMjpg(frames: Seq[Array[Int]], w: Int, h: Int,
                      fps: Int): Array[Byte] = {
      require(frames.forall(_.length == w * h),
        s"encodeAviMjpg: every frame must be $w x $h pixels")
      encodeAvi(frames.map(encodeJpeg(_, w, h)), "MJPG", w, h, fps)
    }

    /** Shared RIFF/AVI container writer over per-frame codec payloads. */
    private def encodeAvi(payloads: Seq[Array[Byte]], fourcc: String,
                          w: Int, h: Int, fps: Int): Array[Byte] = {
      require(payloads.nonEmpty, "encodeAvi: at least one frame")
      require(fps > 0, s"encodeAvi: fps must be positive, got $fps")
      val bos = new java.io.ByteArrayOutputStream()
      def u32(v: Long): Array[Byte] = Array(
        (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
      def u16(v: Int): Array[Byte] =
        Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
      def chunk(id: String, body: Array[Byte]): Array[Byte] = {
        val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
        fcc(id) ++ u32(body.length.toLong) ++ body ++ pad
      }
      def list(kind: String, body: Array[Byte]): Array[Byte] =
        chunk("LIST", fcc(kind) ++ body)
      val usecPerFrame = 1000000L / fps
      val maxBuf = payloads.map(_.length).max
      val avih = u32(usecPerFrame) ++ u32(maxBuf.toLong * fps) ++ u32(0) ++
        u32(0x10) /* AVIF_HASINDEX */ ++ u32(payloads.length.toLong) ++
        u32(0) ++ u32(1) /* streams */ ++ u32(maxBuf.toLong) ++
        u32(w.toLong) ++ u32(h.toLong) ++ Array.fill(16)(0.toByte)
      val strh = fcc("vids") ++ fcc(fourcc) ++ u32(0) ++ u16(0) ++ u16(0) ++
        u32(0) ++ u32(1) /* scale */ ++ u32(fps.toLong) /* rate */ ++
        u32(0) ++ u32(payloads.length.toLong) ++ u32(maxBuf.toLong) ++
        u32(0xFFFFFFFFL) /* quality */ ++ u32(0) ++
        u16(0) ++ u16(0) ++ u16(w) ++ u16(h)
      val strf = u32(40) ++ u32(w.toLong) ++ u32(h.toLong) ++ u16(1) ++
        u16(24) ++ fcc(fourcc) ++ u32(w.toLong * h * 3) ++
        u32(0) ++ u32(0) ++ u32(0) ++ u32(0)
      val hdrl = list("hdrl", chunk("avih", avih) ++
        list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
      val frameChunks = payloads.map(chunk("00dc", _))
      val movi = list("movi", frameChunks.flatten.toArray)
      // idx1: offsets are from the start of the 'movi' list's kind tag
      var off = 4L
      val idxEntries = payloads.map { p =>
        val e = fcc("00dc") ++ u32(0x10) /* KEYFRAME */ ++ u32(off) ++
          u32(p.length.toLong)
        off += 8 + p.length + (p.length % 2)
        e
      }
      val idx1 = chunk("idx1", idxEntries.flatten.toArray)
      val body = fcc("AVI ") ++ hdrl ++ movi ++ idx1
      bos.write(fcc("RIFF")); bos.write(u32(body.length.toLong)); bos.write(body)
      bos.toByteArray
    }

    /** REAL RIFF/AVI demux (pure chunk-tree walk, no codec assumptions):
      * returns the stream-0 video frame payloads ('00dc'/'00db') in file
      * order plus (width, height, usecPerFrame) from the avih header.
      * None when the bytes are not a RIFF AVI. Works on any AVI whose
      * frames ImageIO can decode (MPNG here; MJPG equally). */
    def demuxAvi(bytes: Array[Byte]): Option[(Seq[Array[Byte]], Int, Int, Long)] = {
      if (bytes == null || bytes.length < 12) return None
      def fccAt(p: Int): String = new String(bytes, p, 4, "US-ASCII")
      def u32At(p: Int): Long =
        (bytes(p) & 0xFFL) | ((bytes(p + 1) & 0xFFL) << 8) |
          ((bytes(p + 2) & 0xFFL) << 16) | ((bytes(p + 3) & 0xFFL) << 24)
      if (fccAt(0) != "RIFF" || fccAt(8) != "AVI ") return None
      val frames = collection.mutable.ArrayBuffer[Array[Byte]]()
      var w = 0; var h = 0; var usec = 0L
      // depth-bounded: real AVIs nest 3-4 LIST levels; a crafted file of
      // nothing but LIST headers would otherwise recurse once per 12
      // bytes and overflow the stack (an Error, which the catch below
      // deliberately does not swallow)
      def walk(start: Int, end: Int, depth: Int): Unit = {
        if (depth > 16) return
        var p = start
        while (p + 8 <= end) {
          val id = fccAt(p)
          val sz = u32At(p + 4).toInt
          val body = p + 8
          // sz < 0 (a 2^31+ size field) is malformed on any real AVI and
          // would step `p` backwards — a crafted 0xFFFFFFF8 size makes
          // the walk non-advancing; treat it as truncation and stop.
          // long arithmetic: body + sz wraps negative for sz near 2^31,
          // which would slip past an int comparison
          if (sz < 0 || body.toLong + sz > bytes.length) return
          id match {
            case "LIST" => walk(body + 4, body + sz, depth + 1) // skip the kind tag
            case "avih" if sz >= 40 =>
              usec = u32At(body); w = u32At(body + 32).toInt
              h = u32At(body + 36).toInt
            case "00dc" | "00db" =>
              frames += java.util.Arrays.copyOfRange(bytes, body, body + sz)
            case _ => ()
          }
          p = body + sz + (sz % 2) // chunks are word-aligned
        }
      }
      try {
        walk(12, bytes.length, 0)
        if (frames.isEmpty) None else Some((frames.toSeq, w, h, usec))
      } catch { case _: Exception => None }
    }

    /** Encode gray frames as a REAL ISO-BMFF / MP4 file (ISO/IEC
      * 14496-12 box layout: ftyp + mdat + moov{mvhd, trak{tkhd,
      * mdia{mdhd, hdlr 'vide', minf{vmhd, dinf/dref, stbl{stsd 'jpeg',
      * stts, stsc, stsz, stco}}}}}) with Motion-JPEG samples — each
      * sample is a whole JPEG image, one sample per chunk, absolute
      * chunk offsets, movie/media timescale = fps so every sample lasts
      * one tick. A file any ISO-BMFF demuxer accepts, not a private
      * format; the absent stss box means every sample is a sync sample,
      * as MJPEG requires. */
    def encodeMp4Mjpg(frames: Seq[Array[Int]], w: Int, h: Int,
                      fps: Int): Array[Byte] = {
      require(frames.forall(_.length == w * h),
        s"encodeMp4Mjpg: every frame must be $w x $h pixels")
      encodeMp4(frames.map(encodeJpeg(_, w, h)), "jpeg", w, h, fps)
    }

    /** Shared ISO-BMFF writer over per-sample codec payloads (big-endian
      * throughout, unlike RIFF). */
    private def encodeMp4(payloads: Seq[Array[Byte]], format: String,
                          w: Int, h: Int, fps: Int): Array[Byte] = {
      require(payloads.nonEmpty, "encodeMp4: at least one sample")
      require(fps > 0, s"encodeMp4: fps must be positive, got $fps")
      def u32(v: Long): Array[Byte] = Array(
        ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      def u16(v: Int): Array[Byte] =
        Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
      def box(typ: String, body: Array[Byte]): Array[Byte] =
        u32(body.length + 8L) ++ fcc(typ) ++ body
      val n = payloads.length
      val ftyp = box("ftyp",
        fcc("isom") ++ u32(0x200) ++ fcc("isom") ++ fcc("iso2") ++ fcc("mp41"))
      // absolute file offset of each sample: mdat body starts right after
      // ftyp + the 8-byte mdat header; one sample per chunk
      val sampleOffsets =
        payloads.scanLeft(ftyp.length + 8L)(_ + _.length).init
      val matrix = u32(0x10000) ++ u32(0) ++ u32(0) ++ u32(0) ++
        u32(0x10000) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0x40000000)
      val mvhd = box("mvhd", u32(0) ++ u32(0) ++ u32(0) ++ u32(fps.toLong) ++
        u32(n.toLong) ++ u32(0x10000) ++ u16(0x100) ++ u16(0) ++
        u32(0) ++ u32(0) ++ matrix ++ Array.fill[Byte](24)(0) ++ u32(2))
      val tkhd = box("tkhd", u32(7) /* v0, enabled|in-movie|in-preview */ ++
        u32(0) ++ u32(0) ++ u32(1) ++ u32(0) ++ u32(n.toLong) ++
        u32(0) ++ u32(0) ++ u16(0) ++ u16(0) ++ u16(0) ++ u16(0) ++
        matrix ++ u32(w.toLong << 16) ++ u32(h.toLong << 16))
      val mdhd = box("mdhd", u32(0) ++ u32(0) ++ u32(0) ++ u32(fps.toLong) ++
        u32(n.toLong) ++ u16(0x55C4) /* 'und' */ ++ u16(0))
      val hdlr = box("hdlr", u32(0) ++ u32(0) ++ fcc("vide") ++
        u32(0) ++ u32(0) ++ u32(0) ++
        "VideoHandler".getBytes("US-ASCII") ++ Array[Byte](0))
      val vmhd = box("vmhd", u32(1) ++ u16(0) ++ u16(0) ++ u16(0) ++ u16(0))
      val dinf = box("dinf",
        box("dref", u32(0) ++ u32(1) ++ box("url ", u32(1) /* self */)))
      val sampleEntry = box(format, Array.fill[Byte](6)(0) ++ u16(1) ++
        u16(0) ++ u16(0) ++ u32(0) ++ u32(0) ++ u32(0) ++
        u16(w) ++ u16(h) ++ u32(0x480000) ++ u32(0x480000) ++ u32(0) ++
        u16(1) ++ Array.fill[Byte](32)(0) /* compressorname */ ++
        u16(24) ++ u16(0xFFFF) /* pre_defined = -1 */)
      val stbl = box("stbl",
        box("stsd", u32(0) ++ u32(1) ++ sampleEntry) ++
        box("stts", u32(0) ++ u32(1) ++ u32(n.toLong) ++ u32(1)) ++
        box("stsc", u32(0) ++ u32(1) ++ u32(1) ++ u32(1) ++ u32(1)) ++
        box("stsz", u32(0) ++ u32(0) ++ u32(n.toLong) ++
          payloads.flatMap(p => u32(p.length.toLong)).toArray) ++
        box("stco", u32(0) ++ u32(n.toLong) ++
          sampleOffsets.flatMap(u32).toArray))
      val moov = box("moov", mvhd ++ box("trak", tkhd ++
        box("mdia", mdhd ++ hdlr ++ box("minf", vmhd ++ dinf ++ stbl))))
      ftyp ++ box("mdat", payloads.flatten.toArray) ++ moov
    }

    /** REAL ISO-BMFF / MP4 demux (pure box-tree walk, no codec
      * assumptions): returns the first video track's samples in
      * decode order plus (width, height, usecPerSample) from its sample
      * tables. Handles 64-bit largesize and size-0 (to-EOF) boxes, co64
      * chunk offsets, and the general stsc chunk→sample mapping. None
      * when the bytes are not an MP4 (must open with ftyp) or any sample
      * table is structurally inconsistent or overlaps (samples totalling
      * more than the file). Works on any MP4 whose samples ImageIO can
      * decode (the 'jpeg' Motion-JPEG entry here). Assumes a constant
      * frame duration: usecPerSample is the first `stts` entry's. */
    def demuxMp4(bytes: Array[Byte]): Option[(Seq[Array[Byte]], Int, Int, Long)] = {
      if (bytes == null || bytes.length < 16) return None
      def str(p: Int): String = new String(bytes, p, 4, "US-ASCII")
      def u32At(p: Int): Long =
        ((bytes(p) & 0xFFL) << 24) | ((bytes(p + 1) & 0xFFL) << 16) |
          ((bytes(p + 2) & 0xFFL) << 8) | (bytes(p + 3) & 0xFFL)
      def u64At(p: Int): Long = (u32At(p) << 32) | u32At(p + 4)
      def u16At(p: Int): Int = ((bytes(p) & 0xFF) << 8) | (bytes(p + 1) & 0xFF)
      if (str(4) != "ftyp") return None
      final class Tables {
        var handler = ""
        var timescale = 0L
        var delta = 1L
        var width = 0; var height = 0
        var sizes: Array[Long] = null
        var chunkOffsets: Array[Long] = null
        var stsc: Array[(Long, Long)] = null // (first_chunk, samples_per_chunk)
      }
      var video: Tables = null
      var cur: Tables = null
      val containers = Set("moov", "trak", "mdia", "minf", "stbl", "dinf", "edts")
      def walk(start: Long, end: Long, depth: Int): Unit = {
        if (depth > 16) return
        var p = start
        while (p + 8 <= end) {
          val sz0 = u32At(p.toInt)
          val typ = str(p.toInt + 4)
          var hdr = 8L
          val sz: Long =
            if (sz0 == 1L) { // 64-bit largesize
              if (p + 16 > end) return
              hdr = 16L; u64At(p.toInt + 8)
            } else if (sz0 == 0L) end - p // box extends to end of file
            else sz0
          // sz < hdr covers both malformed tiny sizes and negative
          // largesize; either would make the walk non-advancing
          if (sz < hdr || p + sz > end) return
          val body = (p + hdr).toInt
          val bEnd = (p + sz).toInt
          typ match {
            case t if containers(t) =>
              if (t == "trak") cur = new Tables
              walk(body.toLong, bEnd.toLong, depth + 1)
              if (t == "trak") {
                if (cur != null && cur.handler == "vide" && video == null)
                  video = cur
                cur = null
              }
            case "hdlr" if cur != null && bEnd - body >= 12 =>
              cur.handler = str(body + 8)
            case "mdhd" if cur != null =>
              val v = bytes(body) & 0xFF
              if (v == 1 && bEnd - body >= 24) cur.timescale = u32At(body + 20)
              else if (v == 0 && bEnd - body >= 16) cur.timescale = u32At(body + 12)
            case "stts" if cur != null && bEnd - body >= 16 =>
              cur.delta = u32At(body + 12) // first entry's sample delta
            case "stsd" if cur != null && bEnd - body >= 8 + 36 =>
              val entry = body + 8 // first sample entry
              cur.width = u16At(entry + 32); cur.height = u16At(entry + 34)
            case "stsz" if cur != null && bEnd - body >= 12 =>
              val fixed = u32At(body + 4); val cnt = u32At(body + 8)
              if (cnt >= 0 && cnt < (1L << 24)) {
                val m = cnt.toInt
                cur.sizes =
                  if (fixed != 0) Array.fill(m)(fixed)
                  else if (bEnd - body - 12 >= 4L * m)
                    Array.tabulate(m)(i => u32At(body + 12 + 4 * i))
                  else null
              }
            case "stco" if cur != null && bEnd - body >= 8 =>
              val cnt = u32At(body + 4)
              if (cnt >= 0 && cnt < (1L << 24) && bEnd - body - 8 >= 4L * cnt)
                cur.chunkOffsets =
                  Array.tabulate(cnt.toInt)(i => u32At(body + 8 + 4 * i))
            case "co64" if cur != null && bEnd - body >= 8 =>
              val cnt = u32At(body + 4)
              if (cnt >= 0 && cnt < (1L << 24) && bEnd - body - 8 >= 8L * cnt)
                cur.chunkOffsets =
                  Array.tabulate(cnt.toInt)(i => u64At(body + 8 + 8 * i))
            case "stsc" if cur != null && bEnd - body >= 8 =>
              val cnt = u32At(body + 4)
              if (cnt >= 0 && cnt < (1L << 20) && bEnd - body - 8 >= 12L * cnt)
                cur.stsc = Array.tabulate(cnt.toInt)(i =>
                  (u32At(body + 8 + 12 * i), u32At(body + 12 + 12 * i)))
            case _ => ()
          }
          p += sz
        }
      }
      try {
        walk(0L, bytes.length.toLong, 0)
        val t = video
        if (t == null || t.sizes == null || t.sizes.isEmpty ||
            t.chunkOffsets == null || t.chunkOffsets.isEmpty ||
            t.stsc == null || t.stsc.isEmpty) return None
        val frames = collection.mutable.ArrayBuffer[Array[Byte]]()
        var s = 0
        var c = 0 // 0-based chunk index
        var total = 0L // a well-formed file's samples are disjoint: <= its length
        // samples-per-chunk in effect for 1-based chunk c+1: the last stsc
        // entry whose first_chunk <= c+1 (entries are sorted: a cursor)
        var spc = t.stsc(0)._2
        var i = 0
        while (s < t.sizes.length && c < t.chunkOffsets.length) {
          while (i < t.stsc.length && t.stsc(i)._1 <= c + 1) {
            spc = t.stsc(i)._2; i += 1
          }
          var off = t.chunkOffsets(c)
          var j = 0L
          while (j < spc && s < t.sizes.length) {
            val len = t.sizes(s)
            total += len
            if (off < 0 || len < 0 || off + len > bytes.length ||
                total > bytes.length) return None
            frames += java.util.Arrays.copyOfRange(
              bytes, off.toInt, (off + len).toInt)
            off += len; s += 1; j += 1
          }
          c += 1
        }
        // chunks exhausted with samples unplaced = inconsistent tables
        if (s < t.sizes.length) return None
        val usec =
          if (t.timescale > 0) 1000000L * t.delta / t.timescale else 0L
        Some((frames.toSeq, t.width, t.height, usec))
      } catch { case _: Exception => None }
    }

    /** Container-agnostic video demux: RIFF/AVI first (little-endian
      * 'RIFF' sniff), ISO-BMFF/MP4 second ('ftyp' sniff). Every video
      * path above the codec seam routes through this, so AVI and MP4
      * inputs are interchangeable end-to-end. */
    def demuxVideo(bytes: Array[Byte]): Option[(Seq[Array[Byte]], Int, Int, Long)] =
      demuxAvi(bytes).orElse(demuxMp4(bytes))

    /** REAL video frame decode: demux the container (AVI or MP4), pick
      * the frame whose presentation time covers `offsetMs` (index =
      * offsetMs / msPerFrame, clamped), decode it via javax.imageio,
      * bilinear-resize to w x h (frames taken as equally long, see
      * [[demuxMp4]]). None when the bytes are not a demuxable video or
      * the frame is undecodable. */
    def decodeFrameReal(bytes: Array[Byte], offsetMs: Long, w: Int,
                        h: Int): Option[Array[Float]] =
      demuxVideo(bytes).flatMap { case (frames, _, _, usec) =>
        val msPerFrame = math.max(1L, usec / 1000L)
        val idx = math.min(frames.length - 1L,
          math.max(0L, offsetMs / msPerFrame)).toInt
        decodeImageReal(frames(idx)).map { case (px, w0, h0) =>
          if (w0 == w && h0 == h) px else resizeBilinear(px, w0, h0, w, h)
        }
      }
  }

  // ---- real pixel math (operates on decoded arrays; nothing stubbed) ----

  /** Bilinear resize of a w0 x h0 row-major pixel array to w1 x h1. */
  def resizeBilinear(px: Array[Float], w0: Int, h0: Int,
                     w1: Int, h1: Int): Array[Float] = {
    require(px.length == w0 * h0, s"pixel buffer ${px.length} != $w0 x $h0")
    val out = new Array[Float](w1 * h1)
    var y = 0
    while (y < h1) {
      val sy = if (h1 == 1) 0.0 else y.toDouble * (h0 - 1) / (h1 - 1)
      val y0 = sy.toInt; val y1 = math.min(y0 + 1, h0 - 1); val fy = sy - y0
      var x = 0
      while (x < w1) {
        val sx = if (w1 == 1) 0.0 else x.toDouble * (w0 - 1) / (w1 - 1)
        val x0 = sx.toInt; val x1 = math.min(x0 + 1, w0 - 1); val fx = sx - x0
        val top = px(y0 * w0 + x0) * (1 - fx) + px(y0 * w0 + x1) * fx
        val bot = px(y1 * w0 + x0) * (1 - fx) + px(y1 * w0 + x1) * fx
        out(y * w1 + x) = (top * (1 - fy) + bot * fy).toFloat
        x += 1
      }
      y += 1
    }
    out
  }

  /** Average hash (aHash): resize to 8x8, set bit i when pixel i exceeds
    * the mean — the standard 64-bit perceptual image signature. Bit order
    * is row-major from bit 63 down. */
  def aHash64(px: Array[Float], w: Int, h: Int): Long = {
    val small = if (w == 8 && h == 8) px else resizeBilinear(px, w, h, 8, 8)
    var sum = 0.0
    var i = 0
    while (i < 64) { sum += small(i); i += 1 }
    val mean = sum / 64
    var bits = 0L
    i = 0
    while (i < 64) {
      if (small(i) > mean) bits |= (1L << (63 - i))
      i += 1
    }
    bits
  }

  /** Synthesize a deterministic media table (bytes = seeded garbage with
    * real plumbing shape) joined 1:1 with media_refs from docs' spans. */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(explode(col("spans")).as("s"))
      .where(col("s.kind") === "media")
      .select(col("s.media_ref").as("media_ref"))
      .distinct()
      .withColumn("mime",
        element_at(array(lit("image/png"), lit("image/jpeg"), lit("audio/wav")),
          (pmod(xxhash64(col("media_ref")), lit(3)) + 1).cast("int")))
      .withColumn("bytes",
        // deterministic pseudo-bytes; length 64..319
        unhex(repeat(substring(hex(xxhash64(col("media_ref"))), 1, 8),
          (pmod(xxhash64(col("media_ref"), lit(7)), lit(64)) + 16).cast("int") * 2)))
      .withColumn("meta", struct(
        (pmod(xxhash64(col("media_ref"), lit(1)), lit(512)) + 32).cast("int").as("width"),
        (pmod(xxhash64(col("media_ref"), lit(2)), lit(512)) + 32).cast("int").as("height"),
        (pmod(xxhash64(col("media_ref"), lit(3)), lit(60000)) + 1000).as("duration_ms")))

  /** 64-bit perceptual hashes (aHash over the decoded image): the image
    * analogue of the text SimHash — visually-identical re-encodes land on
    * the same or near-identical signature. Decodes via javax.imageio at
    * native size, then bilinear resize to the hash dims. Bytes the JDK
    * cannot parse (null included) fall back to the synthetic
    * [[MediaCodec.decodeImage]] at the same size so mixed tables stay
    * total. Output carries only (media_ref, phash), so downstream joins
    * never shuffle pixels. */
  def perceptualHashes(media: DataFrame, decodeW: Int = 16,
                       decodeH: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_ref", StringType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val imgs = media.select(col("media_ref"), col("bytes"))
    imgs.mapPartitions { rows =>
      val codec = MediaCodec
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("bytes")
        val px = codec.decodeImageReal(bytes) match {
          case Some((p, w, h)) =>
            if (w == decodeW && h == decodeH) p
            else resizeBilinear(p, w, h, decodeW, decodeH)
          case None => codec.decodeImage(
            if (bytes == null) Array.emptyByteArray else bytes, decodeW, decodeH)
        }
        Row(r.getString(0), aHash64(px, decodeW, decodeH))
      }
    }(enc)
  }

  /** Near-duplicate media pairs by perceptual hash: [[Dedup.hammingPairs]]
    * (the chunk-LSH Hamming search SimHash text pairs also run) over the
    * (media_ref, 64-bit aHash) rows, so the shuffles carry refs and
    * signatures only. Returns (ref_a, ref_b, hamming) with ref_a < ref_b
    * and hamming ≤ `maxHamming`. The q_media_real gate runs it over real
    * PNGs. */
  def mediaNearDupPairs(media: DataFrame, maxHamming: Int = 3,
                        decodeW: Int = 16, decodeH: Int = 16): DataFrame =
    Dedup.hammingPairs(perceptualHashes(media, decodeW, decodeH)
        .select(col("media_ref").as("id"), col("phash").as("sig")), maxHamming)
      .select(col("id_a").as("ref_a"), col("id_b").as("ref_b"), col("hamming"))

  /** Audio energy per window from REAL WAV bytes (javax.sound decode),
    * emitted as an exact Q30 integer — energy_q30 = Σ v_i² over the
    * window, where v_i are the raw PCM16 samples' dyadic floats
    * (v/32768f): every term is k/2³⁰ with k ≤ 2³⁰, so the double sum is
    * exact and round(acc·2³⁰) recovers the integer Σ v². This is the
    * oracle-able surface of the real audio path (q_media_audio gate);
    * rows that fail to decode are dropped. A window's RMS is one column
    * expression over this output:
    * `rms = sqrt(energy_q30 / 2^30 / frameN)`. */
  def audioEnergyQ30(media: DataFrame, frameN: Int, hopN: Int): DataFrame = {
    require(frameN > 0 && hopN > 0,
      s"audioEnergyQ30: frameN ($frameN) and hopN ($hopN) must be positive" +
        " (a zero hop divides by zero inside executor tasks)")
    val outSchema = StructType(Seq(
      StructField("media_ref", StringType, nullable = false),
      StructField("win_idx", IntegerType, nullable = false),
      StructField("energy_q30", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val audio = media.select(col("media_ref"), col("bytes"))
    audio.mapPartitions { rows =>
      val codec = MediaCodec
      rows.flatMap { r =>
        codec.decodePcmReal(r.getAs[Array[Byte]]("bytes")) match {
          case None => Iterator.empty
          case Some((pcm, _)) =>
            val nWin = if (pcm.length < frameN) 0 else (pcm.length - frameN) / hopN + 1
            (0 until nWin).iterator.map { w =>
              var acc = 0.0
              var i = w * hopN
              val end = i + frameN
              while (i < end) { acc += pcm(i).toDouble * pcm(i).toDouble; i += 1 }
              Row(r.getString(0), w, math.round(acc * 1073741824.0))
            }
        }
      }
    }(enc)
  }

  /** Per-frame features for video rows: demux each row's video bytes
    * once (RIFF/AVI or ISO-BMFF/MP4 — [[MediaCodec.demuxVideo]]), decode
    * `framesPerDoc` evenly-spaced frames (all frames
    * when the video has fewer) via javax.imageio, resize, emit
    * (media_ref, frame_off ms, features). Rows whose bytes are not a
    * demuxable video produce no output. One demux per row, frames decoded
    * within the row's iteration, no per-frame byte re-parse. Feeds
    * [[sceneChanges]] and any embedding stage. */
  def frameFeatures(media: DataFrame, framesPerDoc: Int = 4,
                    targetW: Int = 8, targetH: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_ref", StringType, nullable = false),
      StructField("frame_off", LongType, nullable = false),
      StructField("features", ArrayType(FloatType), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val vids = media.select(col("media_ref"), col("bytes"))
    vids.mapPartitions { rows =>
      val codec = MediaCodec
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]]("bytes")
        codec.demuxVideo(bytes).iterator.flatMap { case (frames, _, _, usec) =>
          val n = frames.length
          val k = math.min(math.max(framesPerDoc, 1), n)
          val idxs =
            if (k == n) 0 until n
            else if (k == 1) Seq(n / 2)
            else (0 until k).map(j => j * (n - 1) / (k - 1))
          val msPerFrame = math.max(1L, usec / 1000L)
          idxs.iterator.flatMap { i =>
            codec.decodeImageReal(frames(i)).map { case (px, w0, h0) =>
              val feat =
                if (w0 == targetW && h0 == targetH) px
                else resizeBilinear(px, w0, h0, targetW, targetH)
              Row(r.getString(0), i * msPerFrame, feat)
            }
          }
        }
      }
    }(enc)
  }

  /** Scene-change detection: mean-square distance between CONSECUTIVE
    * frame features of the same media row; rows above `threshold` mark a
    * cut. The per-media window is bounded by framesPerDoc, so the sort
    * inside each partition key is tiny — this survives any media count. */
  def sceneChanges(frameFeats: DataFrame, threshold: Double = 0.05): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_ref").orderBy("frame_off")
    val dist = udf { (a: Seq[Float], b: Seq[Float]) =>
      if (a == null || b == null || a.isEmpty || a.length != b.length) 0.0
      else {
        var acc = 0.0
        var i = 0
        while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
        acc / a.length
      }
    }
    frameFeats
      .withColumn("prev", lag(col("features"), 1).over(w))
      .withColumn("dist", dist(col("prev"), col("features")))
      .where(col("prev").isNotNull)
      .select(col("media_ref"), col("frame_off"), col("dist"),
        (col("dist") > threshold).as("is_cut"))
  }

  /** Frame sampling for video/audio rows: explodes n deterministic frame
    * offsets per media row (plumbing for a real frame decoder). */
  def sampleFrames(media: DataFrame, framesPerDoc: Int = 4): DataFrame = {
    val offsetsUdf = udf { (durationMs: Long) =>
      MediaCodec.sampleFrameOffsets(durationMs, framesPerDoc)
    }
    media
      .withColumn("frame_off", explode(offsetsUdf(col("meta.duration_ms"))))
      .withColumn("frame_id",
        concat(col("media_ref"), lit("#"), col("frame_off")))
  }
}

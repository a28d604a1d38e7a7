package graft.ops

import graft.{Cols, OracleSql, Q, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multimodal-column plumbing: media payloads are opaque BINARY columns
  * with typed metadata, decoded partition-parallel via mapPartitions
  * over typed Datasets.
  *
  * The IMAGE path is a real codec: [[ImageCodec]] encodes deterministic
  * PNGs with `javax.imageio` (in the JDK — no external library) and
  * decodes real pixels back; `mm_decode` oracle-checks per-channel sums
  * of the DECODED raster against DuckDB's closed-form pixel formula, so
  * a fake decode cannot pass (the values ride through actual zlib/PNG
  * filter compression). The AUDIO path is likewise real:
  * [[AudioCodec]] encodes deterministic 16-bit stereo PCM through
  * `javax.sound.sampled` (also in the JDK) and `mm_audio_decode`
  * oracle-checks per-channel sample sums/extrema of the DECODED frames
  * against the closed-form generating formula — the samples ride
  * through an actual RIFF/WAVE container round-trip. The VIDEO path is
  * real too, within what a bare JDK can decode: [[VideoCodec]] writes
  * an offset-table container (magic + per-frame offset/length table,
  * the MP4-sample-table addressing shape) of concatenated REAL PNG
  * frames, and the decode stage seeks sampled frames THROUGH the
  * container's own table and decodes each with `javax.imageio` —
  * `mm_video_frames` oracle-checks per-frame per-channel pixel sums of
  * the decoded rasters closed-form. No JDK codec exists for real
  * inter-frame-compressed formats (H.264 etc.); a production
  * deployment swaps the per-frame PNG decode for a JNI/library-backed
  * one behind the same seek-decode-fold shape.
  *
  * Fixture media: each document's text bytes act as the frame payload
  * (same synthesis in the oracle SQL via encode()), framed in 16-byte
  * chunks; the PNG/WAV/video fixtures are synthesized per doc_id.
  */
object MultimodalOps {

  // ImageIO defaults to a DISK-backed scratch cache in java.io.tmpdir
  // for stream reads — which makes a pure in-memory decode of a
  // few-KB payload fail (and, in the quarantine paths, silently
  // misroute a pristine row as corrupt) whenever executor-local /tmp
  // is full. Decoding a byte array must not touch scratch disk:
  // measured at sf10, a concurrent disk-spiller quarantined one
  // healthy mm_video_quarantine row through exactly this path. The
  // setting is per-JVM static; executors re-run this object init.
  javax.imageio.ImageIO.setUseCache(false)

  val FrameBytes = 16
  val SampleStride = 4

  /** A media row as a typed Dataset element. */
  final case class MediaRow(doc_id: Long, content: Array[Byte])

  /** Extracted per-frame record. */
  final case class Frame(doc_id: Long, frame_idx: Long, frame_off: Long, frame_len: Long)

  /** Raw byte-frame addressing of an opaque payload: every `stride`-th
    * FrameBytes-sized chunk as (idx, offset, length), the tail chunk
    * short. This is the untyped-payload twin of the expression-level
    * sampledFrames relation (MultimodalSpec pins their agreement) —
    * the addressing a frame-sampler applies when the payload carries
    * no container structure of its own.
    */
  def byteFrames(content: Array[Byte], stride: Int): Iterator[(Long, Long, Long)] = {
    val nFrames = (content.length + FrameBytes - 1) / FrameBytes
    Iterator.range(0, nFrames, stride).map { i =>
      val off = i.toLong * FrameBytes
      (i.toLong, off, math.min(FrameBytes.toLong, content.length - off))
    }
  }

  /** An encoded PNG payload row and its decoded raster statistics. */
  final case class PngRow(doc_id: Long, png: Array[Byte])
  final case class DecodedRow(doc_id: Long, width: Long, height: Long,
      n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL image codec over `javax.imageio` (ships in the JDK): encodes
    * a deterministic RGB raster to an actual PNG byte stream and decodes
    * it back pixel-by-pixel. PNG is lossless, so the decoded channel
    * values are bit-identical to [[pixel]] — which is what lets DuckDB
    * replay the expected statistics closed-form without any codec.
    */
  object ImageCodec {
    /** Channel value at (x, y): deterministic on (doc_id, x, y, channel),
      * mirrored verbatim in the mm_decode oracle SQL.
      */
    def pixel(docId: Long, x: Int, y: Int, channel: Int): Int =
      ((docId * 31 + x.toLong * 7 + y.toLong * 13 + channel.toLong * 97) % 256).toInt

    def synthPng(docId: Long, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y,
            (pixel(docId, x, y, 0) << 16) | (pixel(docId, x, y, 1) << 8) |
              pixel(docId, x, y, 2))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "png", bos),
        "no PNG ImageWriter available in this JVM")
      bos.toByteArray
    }

    final case class ImgStats(width: Int, height: Int,
        sumR: Long, sumG: Long, sumB: Long)

    // ImageIO.read re-queries the IIORegistry for reader providers on
    // EVERY call; for the few-KB payloads of a media table that scan is
    // ~20-25% of the whole decode (probe: 5k small PNGs 0.34-0.49 s via
    // ImageIO.read vs 0.24-0.27 s with the scan hoisted, identical
    // semantics). The provider list is registry-stable, so hoist it
    // once per JVM; readImage below then runs ImageIO.read's own probe
    // loop (canDecodeInput in registry order, first claimant reads)
    // over the cached list. MultimodalSpec pins raster identity with
    // ImageIO.read, null on unclaimed bytes, and exception parity on
    // claimed-but-corrupt bytes.
    private lazy val readerSpis: List[javax.imageio.spi.ImageReaderSpi] = {
      import scala.jdk.CollectionConverters._
      javax.imageio.spi.IIORegistry.getDefaultInstance
        .getServiceProviders(classOf[javax.imageio.spi.ImageReaderSpi], true)
        .asScala.toList
    }

    /** Drop-in for `ImageIO.read(new ByteArrayInputStream(bytes, off,
      * len))` minus the per-call registry scan: returns the decoded
      * raster, or null when no registered reader claims the bytes (the
      * quarantine routes' "not a decodable image" signal), and lets a
      * claimant's mid-stream decode failure propagate exactly as
      * ImageIO.read does. MemoryCacheImageInputStream is the same
      * stream class the default InputStream SPI produces under the
      * setUseCache(false) this object pins (see the object init note).
      */
    def readImage(bytes: Array[Byte], off: Int, len: Int): java.awt.image.BufferedImage = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes, off, len))
      try {
        val spi = readerSpis.find { s =>
          try s.canDecodeInput(iis)
          catch { case _: java.io.IOException => false } // ImageIO's own filter contract
        }
        spi match {
          case None => null
          case Some(s) =>
            val r = s.createReaderInstance()
            try { r.setInput(iis, true, true); r.read(0) }
            finally r.dispose()
        }
      } finally iis.close()
    }

    def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage =
      readImage(bytes, 0, bytes.length)

    /** Decode a real image payload and fold per-channel sums over the
      * raster. Throws (with the doc-naming message supplied by callers)
      * on undecodable bytes — corrupt media is a quarantine concern, not
      * a silent zero.
      */
    def decodeStats(png: Array[Byte]): ImgStats = {
      val img = readImage(png)
      require(img != null, "payload is not a decodable image")
      statsOf(img)
    }

    /** Per-channel sums over an ALREADY-decoded raster — split out so
      * callers that must hold the decoded image anyway (the per-frame
      * video path) fold it directly instead of paying a second full
      * PNG inflate through [[decodeStats]]. One bulk getRGB call per
      * raster: same default-sRGB conversion as the per-pixel getRGB,
      * without a color-model dispatch per pixel.
      */
    def statsOf(img: java.awt.image.BufferedImage): ImgStats = {
      val w = img.getWidth; val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var sr = 0L; var sg = 0L; var sb = 0L
      var i = 0
      while (i < px.length) {
        val rgb = px(i)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        i += 1
      }
      ImgStats(w, h, sr, sg, sb)
    }
  }

  /** PNG fixture synthesis: one real PNG per document, dims a small
    * deterministic function of doc_id (4–15 × 3–11 px keeps the oracle's
    * pixel-expansion cross join bounded at any SF). Partition-parallel —
    * encoding never leaves the executor.
    */
  def encodePngs(s: SparkSession, dir: String): Dataset[PngRow] = {
    import s.implicits._
    // The fixture corpus is one small parquet file -> one input split,
    // and the whole encode->decode mapPartitions chain is opaque to
    // Spark, so without this every mm_* codec row ran single-core
    // (measured: the full png+video codec work is ~2.6 s on ONE thread
    // at sf0.1 — the row's entire cost). The shuffle moves only 8-byte
    // doc ids; payload synthesis and decode then spread across the
    // session's parallelism — exactly what a real many-file 100 TB
    // media table gives the scan for free (same shape as docsAug).
    Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        PngRow(id, ImageCodec.synthPng(id, (id % 12 + 4).toInt, (id % 9 + 3).toInt))
      })
  }

  /** Partition-parallel REAL decode: width/height/channel sums computed
    * from the pixels `ImageIO.read` returns, never from the generating
    * formula.
    */
  def decodePngs(pngs: Dataset[PngRow]): Dataset[DecodedRow] = {
    import pngs.sparkSession.implicits._
    pngs.mapPartitions(_.map { p =>
      val st =
        try ImageCodec.decodeStats(p.png)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"doc ${p.doc_id}: ${e.getMessage}", e)
        }
      DecodedRow(p.doc_id, st.width.toLong, st.height.toLong,
        st.width.toLong * st.height, st.sumR, st.sumG, st.sumB)
    })
  }

  /** Decoded thumbnail statistics (mm_resize) and the decode-or-route
    * record (mm_decode_quarantine).
    */
  final case class ResizedRow(doc_id: Long, width: Long, height: Long,
      t_sum_r: Long, t_sum_g: Long, t_sum_b: Long)
  final case class RoutedRow(doc_id: Long, status: String,
      n_px: Option[Long])

  /** Thumbnail geometry: fixed 4x3 nearest-neighbor downsample; source
    * coordinate = floor(dst * src_extent / dst_extent) — pure integer
    * math, mirrored verbatim in the mm_resize oracle.
    */
  val ThumbW = 4
  val ThumbH = 3

  /** Partition-parallel REAL resize: decode the PNG, then sample the
    * decoded raster at the 12 thumbnail coordinates. The sums are over
    * pixels `ImageIO.read` returned — a decode or addressing bug
    * desyncs from the closed-form oracle immediately.
    */
  def resizePngs(pngs: Dataset[PngRow]): Dataset[ResizedRow] = {
    import pngs.sparkSession.implicits._
    pngs.mapPartitions(_.map { p =>
      val img = ImageCodec.readImage(p.png)
      require(img != null, s"doc ${p.doc_id}: payload is not a decodable image")
      val (w, h) = (img.getWidth, img.getHeight)
      var sr = 0L; var sg = 0L; var sb = 0L
      var ty = 0
      while (ty < ThumbH) {
        var tx = 0
        while (tx < ThumbW) {
          val rgb = img.getRGB(tx * w / ThumbW, ty * h / ThumbH)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          tx += 1
        }
        ty += 1
      }
      ResizedRow(p.doc_id, w.toLong, h.toLong, sr, sg, sb)
    })
  }

  /** Decode-or-route: the binary-payload twin of q_json_quarantine.
    * Undecodable media rows route to a 'quarantined' status per row on
    * the executor (no driver involvement, no job failure); clean rows
    * carry their decoded pixel count.
    */
  def routeDecodes(pngs: Dataset[PngRow]): Dataset[RoutedRow] = {
    import pngs.sparkSession.implicits._
    pngs.mapPartitions(_.map { p =>
      try {
        val st = ImageCodec.decodeStats(p.png)
        RoutedRow(p.doc_id, "ok", Some(st.width.toLong * st.height))
      } catch {
        // ImageIO surfaces corruption as either a null image (our
        // IllegalArgumentException) or an IIOException mid-stream —
        // both are data defects, not engine faults: quarantine the row
        case scala.util.control.NonFatal(_) =>
          RoutedRow(p.doc_id, "quarantined", None)
      }
    })
  }

  /** An encoded WAV payload row and its decoded per-channel statistics. */
  final case class WavRow(doc_id: Long, wav: Array[Byte])
  final case class AudioRow(doc_id: Long, n_frames: Long,
      sum_l: Long, sum_r: Long, min_l: Long, max_r: Long)
  final case class AudioRoutedRow(doc_id: Long, status: String,
      n_frames: Option[Long])

  /** REAL audio codec over `javax.sound.sampled` (ships in every JDK):
    * encodes a deterministic 16-bit signed little-endian stereo PCM
    * raster into an actual RIFF/WAVE byte stream and decodes it back
    * frame-by-frame. PCM-in-WAV is lossless, so the decoded sample
    * values are bit-identical to [[sample]] — which is what lets DuckDB
    * replay the expected statistics closed-form without any codec
    * (the mm_decode pattern, transferred to audio).
    */
  object AudioCodec {
    /** Frames per document: small and deterministic (8–47), keeping the
      * oracle's range-unnest bounded at any SF (same sizing argument as
      * the PNG dims).
      */
    def nFrames(docId: Long): Int = (docId % 40 + 8).toInt

    // AudioSystem.write / AudioSystem.getAudioInputStream resolve
    // their provider through JDK13Services.getProviders — a
    // synchronized STATIC in java.desktop — so per-row codec calls
    // from 32 executor threads serialize on one JVM-global lock
    // (measured: fanning encodeWavs out under AudioSystem ran 2.5x
    // SLOWER than a single core, 0.50 s -> 1.27 s at sf0.1). The SPI
    // providers themselves (WaveFileReader / WaveFileWriter) are
    // stateless; loading them ONCE through the PUBLIC ServiceLoader
    // SPI and dispatching directly is what AudioSystem does per call
    // minus the lock — same provider classes, byte-identical output —
    // and restores linear fan-out for the audio rows at any scale.
    // Probe ORDER is not reproduced: both lists keep ServiceLoader
    // order, AudioSystem probes in reverse. With the JDK's providers
    // exactly one writer accepts this codec's PCM WAVE stream and one
    // reader claims each container, so the order cannot matter;
    // MultimodalSpec's "AudioCodec's direct SPI dispatch is
    // byte/stat-identical to AudioSystem" pins that.
    private lazy val fileWriters: List[javax.sound.sampled.spi.AudioFileWriter] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
        .iterator().asScala.toList
    }
    // SoftMidiAudioFileReader (the Gervill MIDI-to-audio render bridge)
    // is excluded: MIDI is a score format, not a sampled-audio
    // container, and merely REJECTING a non-MIDI stream routes through
    // MidiSystem's provider lookup — the same synchronized JVM-global
    // registry — at ~42 us/row, 90% of the whole decode cost and the
    // residual serialization point (probe: rejecting 5k WAVs took
    // 0.21 s on 1 thread, 0.34 s on 32; every sampled-audio reader
    // rejects in 2-5 us and scales linearly).
    private lazy val fileReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala.toList
        .filterNot(_.getClass.getSimpleName == "SoftMidiAudioFileReader")
    }

    /** Sample value at (frame i, channel ch): a signed 16-bit value,
      * deterministic on (doc_id, i, ch), mirrored verbatim in the
      * mm_audio_decode oracle SQL. All-integer math — bit-identical
      * cross-engine.
      */
    def sample(docId: Long, i: Int, ch: Int): Int =
      ((docId * 31 + i.toLong * 7 + ch.toLong * 97) % 65536).toInt - 32768

    private def pcmFormat = new javax.sound.sampled.AudioFormat(
      8000f, 16, 2, true, false) // 16-bit signed PCM, stereo, little-endian

    def synthWav(docId: Long): Array[Byte] = {
      val n = nFrames(docId)
      val bytes = new Array[Byte](n * 4) // 2 ch x 2 bytes, interleaved
      var i = 0
      while (i < n) {
        var ch = 0
        while (ch < 2) {
          val v = sample(docId, i, ch)
          bytes(i * 4 + ch * 2) = (v & 0xff).toByte
          bytes(i * 4 + ch * 2 + 1) = ((v >> 8) & 0xff).toByte
          ch += 1
        }
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), pcmFormat, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
      // direct SPI dispatch (see fileWriters above) — the same
      // supported-type probe AudioSystem.write runs, without the lock
      val w = fileWriters.find(_.isFileTypeSupported(wave, ais))
        .getOrElse(sys.error("no WAVE AudioFileWriter available in this JVM"))
      w.write(ais, wave, bos)
      bos.toByteArray
    }

    final case class WavStats(nFrames: Long,
        sumL: Long, sumR: Long, minL: Long, maxR: Long)

    /** Decode a real WAV payload and fold per-channel sample sums and
      * extrema over the frames `AudioSystem` returns — never from the
      * generating formula. Throws on undecodable bytes (corrupt media
      * is a quarantine concern, not a silent zero). The decoder honors
      * the CONTAINER's declared layout (bit depth, channel count,
      * endianness) rather than assuming the writer's — a header/payload
      * mismatch desyncs from the oracle immediately.
      */
    def decodeStats(wav: Array[Byte]): WavStats = {
      // direct SPI dispatch (see fileReaders above): the first reader
      // in ServiceLoader order that recognizes the container wins —
      // AudioSystem's first-match rule without the lock, though not its
      // (reverse) probe order (see fileWriters). Unrecognized bytes
      // surface as the same UnsupportedAudioFileException the
      // quarantine route expects.
      val ais = {
        var res: javax.sound.sampled.AudioInputStream = null
        val it = fileReaders.iterator
        while (res == null && it.hasNext) {
          val r = it.next()
          try res = r.getAudioInputStream(new java.io.ByteArrayInputStream(wav))
          catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => ()
          }
        }
        if (res == null)
          throw new javax.sound.sampled.UnsupportedAudioFileException(
            "Stream of unsupported format")
        res
      }
      val f = ais.getFormat
      require(f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        f.getSampleSizeInBits == 16 && f.getChannels == 2,
        s"unsupported audio layout: $f")
      val bytes = ais.readAllBytes()
      val n = bytes.length / 4
      var sl = 0L; var sr = 0L
      var mnl = Long.MaxValue; var mxr = Long.MinValue
      var i = 0
      while (i < n) {
        var ch = 0
        while (ch < 2) {
          val off = i * 4 + ch * 2
          val v =
            if (f.isBigEndian) (bytes(off) << 8) | (bytes(off + 1) & 0xff)
            else (bytes(off + 1) << 8) | (bytes(off) & 0xff)
          if (ch == 0) { sl += v; if (v < mnl) mnl = v }
          else { sr += v; if (v > mxr) mxr = v }
          ch += 1
        }
        i += 1
      }
      require(n > 0, "payload decodes to zero frames")
      WavStats(n.toLong, sl, sr, mnl, mxr)
    }
  }

  /** WAV fixture synthesis: one real RIFF/WAVE stream per document.
    * Partition-parallel — encoding never leaves the executor.
    */
  def encodeWavs(s: SparkSession, dir: String): Dataset[WavRow] = {
    import s.implicits._
    // Spread like encodePngs/encodeVideos (single-split fixture scan,
    // see the comment there). This was impossible while the codec went
    // through AudioSystem — its per-call provider resolution serializes
    // every thread on a JVM-global lock (measured 2.5x SLOWER spread,
    // 0.50 s -> 1.27 s at sf0.1); AudioCodec now dispatches to the same
    // SPI providers directly (see fileWriters/fileReaders above), so the
    // audio chain fans out like the image/video ones.
    Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions(_.map(id => WavRow(id, AudioCodec.synthWav(id))))
  }

  /** Partition-parallel REAL audio decode: frame counts and per-channel
    * statistics computed from the frames `AudioSystem` returns, never
    * from the generating formula.
    */
  def decodeWavs(wavs: Dataset[WavRow]): Dataset[AudioRow] = {
    import wavs.sparkSession.implicits._
    wavs.mapPartitions(_.map { w =>
      val st =
        try AudioCodec.decodeStats(w.wav)
        catch {
          case e: Exception =>
            throw new IllegalArgumentException(s"doc ${w.doc_id}: ${e.getMessage}", e)
        }
      AudioRow(w.doc_id, st.nFrames, st.sumL, st.sumR, st.minL, st.maxR)
    })
  }

  /** Decode-or-route for audio: the WAV twin of [[routeDecodes]].
    * Undecodable payloads route to 'quarantined' per row on the
    * executor; clean rows carry their decoded frame count. Domain
    * assumption: payloads are sampled audio, so MIDI bytes are
    * quarantined, where AudioSystem would render them through the MIDI
    * bridge that [[AudioCodec]]'s reader list excludes.
    */
  def routeWavDecodes(wavs: Dataset[WavRow]): Dataset[AudioRoutedRow] = {
    import wavs.sparkSession.implicits._
    wavs.mapPartitions(_.map { w =>
      try {
        val st = AudioCodec.decodeStats(w.wav)
        AudioRoutedRow(w.doc_id, "ok", Some(st.nFrames))
      } catch {
        // AudioSystem surfaces corruption as UnsupportedAudioFileException
        // (unreadable header) or IOException/short-read artifacts — all
        // data defects, not engine faults: quarantine the row
        case scala.util.control.NonFatal(_) =>
          AudioRoutedRow(w.doc_id, "quarantined", None)
      }
    })
  }

  /** An encoded video-container payload row and its per-sampled-frame
    * decoded statistics.
    */
  final case class VideoRow(doc_id: Long, video: Array[Byte])
  final case class VideoFrameRow(doc_id: Long, frame_idx: Long,
      width: Long, height: Long, n_px: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)
  final case class VideoRoutedRow(doc_id: Long, status: String,
      n_frames: Option[Long])

  /** REAL video codec, JDK-only: the container is a deterministic
    * offset-table format — magic "GVID", big-endian frame count, then a
    * per-frame (offset int64, length int32) table, then the
    * concatenated frame payloads, each an actual PNG encoded by
    * [[ImageCodec.synthPng]]. That is the MP4-sample-table addressing
    * shape: the decoder must seek frames through the CONTAINER's own
    * table (never assume the writer's layout), slice, and hand each
    * sampled frame to `javax.imageio` — per-frame pixel statistics
    * then ride through real zlib/PNG compression, so `mm_video_frames`
    * matching its closed-form oracle proves genuine per-frame decode.
    * No JDK codec reads inter-frame-compressed formats; a production
    * deployment swaps the PNG slice-decode for a library-backed one
    * behind the same seek-decode-fold signature.
    */
  object VideoCodec {
    /** Frames per document: small and deterministic (2–7), keeping the
      * oracle's (frame x pixel) double-unnest bounded at any SF.
      */
    def nVideoFrames(docId: Long): Int = (docId % 6 + 2).toInt

    /** Every frame of a video shares the doc's dims (as real video
      * does); pixel content varies per frame via a per-frame key into
      * the shared [[ImageCodec.pixel]] formula — mirrored verbatim in
      * the mm_video_frames oracle SQL. 1009 is coprime to the pixel
      * formula's 31/7/13/97 multipliers, so frames differ everywhere.
      */
    def frameKey(docId: Long, frameIdx: Int): Long = docId * 1009L + frameIdx

    /** Frame-sampling stride for the decode row: every 2nd frame (a
      * keyframe-only pass over a 2–7 frame fixture samples 1–4).
      */
    val FrameStride = 2

    def synthVideo(docId: Long, w: Int, h: Int): Array[Byte] = {
      val n = nVideoFrames(docId)
      val frames = (0 until n).map(i => ImageCodec.synthPng(frameKey(docId, i), w, h))
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(bos)
      dos.writeBytes("GVID")
      dos.writeInt(n)
      var off = (8 + n * 12).toLong // header + table precede frame 0
      frames.foreach { f => dos.writeLong(off); dos.writeInt(f.length); off += f.length }
      frames.foreach(dos.write(_))
      dos.flush()
      bos.toByteArray
    }

    /** Parse the container's frame table and decode every `stride`-th
      * frame with the real PNG decoder, folding per-channel pixel sums
      * over each DECODED raster. Throws on a bad magic, truncated
      * table, out-of-bounds frame extent, or undecodable frame bytes —
      * corrupt media is a quarantine concern, not a silent zero.
      */
    def decodeSampledFrames(video: Array[Byte],
        stride: Int = FrameStride): Seq[(Long, ImageCodec.ImgStats)] = {
      require(video.length >= 8 &&
        video(0) == 'G' && video(1) == 'V' && video(2) == 'I' && video(3) == 'D',
        "payload is not a GVID container")
      val din = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(video, 4, video.length - 4))
      val n = din.readInt()
      require(n > 0 && video.length >= 8 + n.toLong * 12,
        s"frame table truncated: $n frames declared, ${video.length} bytes")
      val table = (0 until n).map(_ => (din.readLong(), din.readInt()))
      (0 until n by stride).map { i =>
        val (off, len) = table(i)
        require(off >= 0 && len > 0 && off + len <= video.length,
          s"frame $i extent [$off, ${off + len}) outside ${video.length}-byte payload")
        // decode ONCE and fold stats from that raster: the old shape
        // decoded the frame a second time through decodeStats (plus a
        // copyOfRange) just to reuse its fold — doubling the inflate
        // work of the whole video path for identical statistics
        val img = ImageCodec.readImage(video, off.toInt, len)
        require(img != null, s"frame $i is not a decodable image")
        (i.toLong, ImageCodec.statsOf(img))
      }
    }

    /** Declared frame count, validated against the table bounds (the
      * manifest read a shard planner does before any pixel work).
      */
    def declaredFrames(video: Array[Byte]): Int = {
      require(video.length >= 8 &&
        video(0) == 'G' && video(1) == 'V' && video(2) == 'I' && video(3) == 'D',
        "payload is not a GVID container")
      val din = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(video, 4, 4))
      val n = din.readInt()
      require(n > 0 && video.length >= 8 + n.toLong * 12,
        s"frame table truncated: $n frames declared, ${video.length} bytes")
      n
    }
  }

  /** Video fixture synthesis: one real GVID-of-PNGs container per
    * document, dims shared with the image fixture (4–15 x 3–11 px).
    * Partition-parallel — encoding never leaves the executor.
    */
  def encodeVideos(s: SparkSession, dir: String): Dataset[VideoRow] = {
    import s.implicits._
    // single-file scan -> one split; spread the id list before the
    // opaque codec chain (see encodePngs for the measured rationale)
    Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        VideoRow(id, VideoCodec.synthVideo(id, (id % 12 + 4).toInt, (id % 9 + 3).toInt))
      })
  }

  /** Partition-parallel REAL per-frame decode: seek every sampled
    * frame through the container's own offset table, decode the PNG
    * bytes, fold channel sums over the decoded raster — never the
    * generating formula.
    */
  def decodeVideos(videos: Dataset[VideoRow]): Dataset[VideoFrameRow] = {
    import videos.sparkSession.implicits._
    videos.mapPartitions(_.flatMap { v =>
      val frames =
        try VideoCodec.decodeSampledFrames(v.video)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"doc ${v.doc_id}: ${e.getMessage}", e)
        }
      frames.map { case (idx, st) =>
        VideoFrameRow(v.doc_id, idx, st.width.toLong, st.height.toLong,
          st.width.toLong * st.height, st.sumR, st.sumG, st.sumB)
      }
    })
  }

  /** Decode-or-route for video: the container twin of [[routeDecodes]].
    * Payloads whose container fails to parse OR whose sampled frames
    * fail to decode route to 'quarantined' per row on the executor;
    * clean rows carry the container-declared frame count.
    */
  def routeVideoDecodes(videos: Dataset[VideoRow]): Dataset[VideoRoutedRow] = {
    import videos.sparkSession.implicits._
    videos.mapPartitions(_.map { v =>
      try {
        VideoCodec.decodeSampledFrames(v.video)
        VideoRoutedRow(v.doc_id, "ok", Some(VideoCodec.declaredFrames(v.video).toLong))
      } catch {
        case scala.util.control.NonFatal(_) =>
          VideoRoutedRow(v.doc_id, "quarantined", None)
      }
    })
  }

  /** documents.text -> BINARY payload column (the multimodal schema). */
  def pack(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))

  /** The sampled-frame relation (every SampleStride-th FrameBytes-sized
    * frame of each non-empty payload) — ONE definition with its SQL
    * twin, shared by `mm_frame_sample` (frames are the output) and
    * `mm_shard_manifest` (frames are the packing input) so the
    * sampling stride/size cannot drift between the sample and the
    * shard layout built over it.
    */
  private def sampledFrames(s: SparkSession, dir: String): DataFrame = {
    val nBytes = expr("octet_length(text)").cast(LongType)
    val nFrames = ceil(nBytes / lit(16.0)).cast(LongType)
    Tables.load(s, dir, "documents")
      // a zero-byte payload has no frames: the oracle's range(0,0,4)
      // yields no rows, but Spark's sequence(0,-1,4) THROWS — filter
      // empties on both sides so the engines agree on legal input
      .filter(nBytes > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L), nFrames - 1, lit(4L))).as("frame_idx"),
        nBytes.as("n_bytes"))
  }

  private val sampledFramesSql =
    """SELECT doc_id,
      |  unnest(range(0, CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT), 4)) AS frame_idx,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |FROM documents
      |WHERE octet_length(encode(text)) > 0""".stripMargin

  /** Partition-parallel frame addressing over a typed Dataset — the
    * same mapPartitions plumbing the codec paths use, applied to
    * untyped byte payloads via [[byteFrames]].
    */
  def decodeFrames(media: Dataset[MediaRow], stride: Int = SampleStride): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { row =>
      byteFrames(row.content, stride).map { case (idx, off, len) =>
        Frame(row.doc_id, idx, off, len)
      }
    })
  }

  val queries: Seq[Q] = Seq(

    // Binary metadata extraction: payload size + header-declared dims
    // (a deterministic function of the payload digest — the schema
    // shape a container header declares) + frame accounting, all
    // expression-level (md5 of the payload text — same digest both
    // engines).
    Q("mm_meta",
      s"""SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  CAST(${OracleSql.hex60("text")} % 640 + 1 AS BIGINT) AS width,
         |  CAST(${OracleSql.hex60("text")} % 480 + 1 AS BIGINT) AS height,
         |  CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT) AS n_frames,
         |  CAST(floor((CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT) + 3) / 4.0) AS BIGINT) AS n_sampled
         |FROM documents""".stripMargin) { (s, dir) =>
      val nBytes = expr("octet_length(text)").cast(LongType)
      val nFrames = ceil(nBytes / lit(16.0)).cast(LongType)
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        nBytes.as("n_bytes"),
        (Cols.hex60(col("text")) % 640 + 1).cast(LongType).as("width"),
        (Cols.hex60(col("text")) % 480 + 1).cast(LongType).as("height"),
        nFrames.as("n_frames"),
        floor((nFrames + 3) / lit(4.0)).cast(LongType).as("n_sampled"))
    },

    // Feature extraction: the embed step of a multimodal pipeline with
    // the codec stubbed — an 8-dim deterministic feature vector derived
    // from the payload bytes (hash-per-dimension), plus its norm. The
    // vector is emitted as fixed-width scalar columns f0..f7 (not
    // array<double>) so downstream tabular consumers — and the
    // row-hashing verify harness — can sort/compare rows; the per-row
    // scan-stage shape is exactly what a real model-backed featurizer
    // produces.
    Q("mm_features", {
      val dims = 0 until 8
      val fSql = dims.map(d =>
        graft.OracleSql.unitHash(s"text || '|$d'"))
      val normSql = fSql.map(f => s"$f*$f").mkString("(0.0 + ", " + ", ")")
      s"""SELECT doc_id,
         |  ${fSql.zipWithIndex.map { case (f, d) => s"$f AS f$d" }.mkString(",\n   ")},
         |  $normSql AS fnorm
         |FROM documents""".stripMargin
    }) { (s, dir) =>
      val dims = 0 until 8
      val f = dims.map(d => Cols.unitHash(concat(col("text"), lit(s"|$d"))))
      val fnorm = f.foldLeft(lit(0.0))((acc, x) => acc + x * x)
      Tables.load(s, dir, "documents").select(
        col("doc_id") +:
          f.zipWithIndex.map { case (c, d) => c.as(s"f$d") } :+
          fnorm.as("fnorm"): _*)
    },

    // Inference micro-batching: the sampled frames assembled into
    // fixed-size batches of 32 for a model/decoder to consume (the
    // stage that feeds decodeFrames' partition-parallel codec slot).
    // Batching is per shard (doc_id % 8) so batch assembly is
    // partition-parallel at any corpus size — the same sharding
    // argument as text_seq_pack; within a shard, frames batch in
    // deterministic (doc_id, frame_idx) order. All-integer window
    // arithmetic — bit-identical cross-engine.
    Q("mm_batch_pack",
      """WITH f AS (
        |  SELECT doc_id,
        |    unnest(range(0, CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT), 4)) AS frame_idx
        |  FROM documents WHERE octet_length(encode(text)) > 0)
        |SELECT doc_id, frame_idx, shard,
        |  CAST(floor((rn - 1) / 32.0) AS BIGINT) AS batch_id,
        |  (rn - 1) % 32 AS batch_pos
        |FROM (
        |  SELECT doc_id, frame_idx, doc_id % 8 AS shard,
        |    row_number() OVER (PARTITION BY doc_id % 8
        |                       ORDER BY doc_id, frame_idx) AS rn
        |  FROM f) t""".stripMargin) { (s, dir) =>
      val nBytes = expr("octet_length(text)").cast(LongType)
      val nFrames = ceil(nBytes / lit(16.0)).cast(LongType)
      val f = Tables.load(s, dir, "documents")
        .filter(nBytes > 0)
        .select(col("doc_id"),
          explode(sequence(lit(0L), nFrames - 1, lit(4L))).as("frame_idx"),
          (col("doc_id") % 8).as("shard"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy(col("doc_id"), col("frame_idx"))
      f.withColumn("rn", row_number().over(w).cast(LongType))
        .select(col("doc_id"), col("frame_idx"), col("shard"),
          floor((col("rn") - 1) / lit(32.0)).cast(LongType).as("batch_id"),
          ((col("rn") - 1) % 32).as("batch_pos"))
    },

    // REAL image decode roundtrip: a deterministic PNG is encoded per
    // document with javax.imageio, then a SEPARATE partition-parallel
    // stage decodes the actual PNG bytes and reports width/height and
    // per-channel pixel sums read from the decoded raster. The oracle
    // replays the generating pixel formula closed-form (one
    // range-unnest per doc, dims capped at 15x11) — a match proves the
    // values survived real zlib/PNG-filter compression, i.e. the codec
    // slot is genuinely exercised, not stubbed.
    Q("mm_decode",
      """WITH d AS (
        |  SELECT doc_id, doc_id % 12 + 4 AS w, doc_id % 9 + 3 AS h
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, w, h, unnest(range(0, w*h)) AS i FROM d),
        |v AS (
        |  SELECT doc_id, w, h,
        |    (doc_id*31 + (i % w)*7 + (i // w)*13) % 256 AS r,
        |    (doc_id*31 + (i % w)*7 + (i // w)*13 + 97) % 256 AS g,
        |    (doc_id*31 + (i % w)*7 + (i // w)*13 + 194) % 256 AS b
        |  FROM p)
        |SELECT doc_id,
        |  CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
        |  count(*) AS n_px,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM v GROUP BY doc_id""".stripMargin) { (s, dir) =>
      decodePngs(encodePngs(s, dir)).toDF()
    },

    // REAL nearest-neighbor resize: decode the PNG, sample the decoded
    // raster at the fixed 4x3 thumbnail grid (src = floor(dst *
    // src_extent / dst_extent) — all integer), report per-channel
    // thumbnail sums. The oracle replays the generating formula at the
    // same 12 source coordinates; agreement proves the resize reads
    // the right decoded pixels, not just that decode works.
    Q("mm_resize",
      s"""WITH d AS (
        |  SELECT doc_id, doc_id % 12 + 4 AS w, doc_id % 9 + 3 AS h
        |  FROM documents),
        |t AS (SELECT doc_id, w, h, unnest(range(0, ${ThumbW * ThumbH})) AS i FROM d),
        |s AS (SELECT doc_id, w, h,
        |        ((i % $ThumbW) * w) // $ThumbW AS sx,
        |        ((i // $ThumbW) * h) // $ThumbH AS sy
        |      FROM t),
        |v AS (SELECT doc_id, w, h,
        |        (doc_id*31 + sx*7 + sy*13) % 256 AS r,
        |        (doc_id*31 + sx*7 + sy*13 + 97) % 256 AS g,
        |        (doc_id*31 + sx*7 + sy*13 + 194) % 256 AS b
        |      FROM s)
        |SELECT doc_id,
        |  CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
        |  CAST(sum(r) AS BIGINT) AS t_sum_r,
        |  CAST(sum(g) AS BIGINT) AS t_sum_g,
        |  CAST(sum(b) AS BIGINT) AS t_sum_b
        |FROM v GROUP BY doc_id""".stripMargin) { (s, dir) =>
      resizePngs(encodePngs(s, dir)).toDF()
    },

    // Corrupt-media routing: the binary twin of q_json_quarantine.
    // Every 97th payload is truncated mid-stream (undecodable); the
    // decode stage routes those rows to 'quarantined' per row on the
    // executor — no driver involvement, no job failure — while clean
    // rows carry their decoded pixel count. The split is
    // oracle-certified against the generating rule.
    Q("mm_decode_quarantine",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN 'quarantined' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST((doc_id % 12 + 4) * (doc_id % 9 + 3) AS BIGINT)
        |  END AS n_px
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val corrupted = encodePngs(s, dir).map { p =>
        if (p.doc_id % 97 == 0) PngRow(p.doc_id, p.png.take(8)) else p
      }
      routeDecodes(corrupted).toDF()
    },

    // REAL audio decode roundtrip: a deterministic 16-bit stereo PCM
    // WAV is encoded per document with javax.sound.sampled, then a
    // SEPARATE partition-parallel stage decodes the actual RIFF/WAVE
    // bytes and reports the frame count plus per-channel sample sums
    // and extrema read from the decoded frames. The oracle replays the
    // generating sample formula closed-form (one range-unnest per doc,
    // frames capped at 47) — a match proves the values survived a real
    // container round-trip through the JDK audio stack, i.e. the audio
    // codec slot is genuinely exercised, not stubbed.
    Q("mm_audio_decode",
      """WITH d AS (SELECT doc_id, doc_id % 40 + 8 AS n FROM documents),
        |f AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
        |v AS (SELECT doc_id, n,
        |    (doc_id*31 + i*7) % 65536 - 32768 AS l,
        |    (doc_id*31 + i*7 + 97) % 65536 - 32768 AS r
        |  FROM f)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_frames,
        |  CAST(sum(l) AS BIGINT) AS sum_l, CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(min(l) AS BIGINT) AS min_l, CAST(max(r) AS BIGINT) AS max_r
        |FROM v GROUP BY doc_id""".stripMargin) { (s, dir) =>
      decodeWavs(encodeWavs(s, dir)).toDF()
    },

    // Corrupt-audio routing: the WAV twin of mm_decode_quarantine.
    // Every 97th payload is truncated to its first 8 bytes (an
    // unreadable RIFF header); the decode stage routes those rows to
    // 'quarantined' per row on the executor while clean rows carry
    // their decoded frame count, oracle-certified against the
    // generating rule.
    Q("mm_audio_quarantine",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN 'quarantined' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(doc_id % 40 + 8 AS BIGINT)
        |  END AS n_frames
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val corrupted = encodeWavs(s, dir).map { w =>
        if (w.doc_id % 97 == 0) WavRow(w.doc_id, w.wav.take(8)) else w
      }
      routeWavDecodes(corrupted).toDF()
    },

    // REAL per-frame video decode: a GVID offset-table container of
    // 2-7 real PNG frames is encoded per document, then a SEPARATE
    // partition-parallel stage seeks every 2nd frame THROUGH the
    // container's own table, decodes the actual PNG bytes, and
    // reports per-frame dims and per-channel pixel sums read from the
    // decoded rasters. The oracle replays the per-frame generating
    // formula closed-form (frame x pixel double-unnest, bounded at
    // 4 frames x 165 px per doc) — a match proves every sampled frame
    // individually survived real zlib/PNG compression AND that the
    // frame addressing honored the container's table, i.e. the video
    // frame-decode slot is genuinely exercised, not stubbed.
    Q("mm_video_frames",
      """WITH d AS (
        |  SELECT doc_id, doc_id % 12 + 4 AS w, doc_id % 9 + 3 AS h,
        |         doc_id % 6 + 2 AS nf
        |  FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS fi FROM d),
        |p AS (SELECT doc_id, w, h, fi, unnest(range(0, w*h)) AS i FROM fr),
        |v AS (SELECT doc_id, w, h, fi,
        |    ((doc_id*1009 + fi)*31 + (i % w)*7 + (i // w)*13) % 256 AS r,
        |    ((doc_id*1009 + fi)*31 + (i % w)*7 + (i // w)*13 + 97) % 256 AS g,
        |    ((doc_id*1009 + fi)*31 + (i % w)*7 + (i // w)*13 + 194) % 256 AS b
        |  FROM p)
        |SELECT doc_id, fi AS frame_idx,
        |  CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
        |  count(*) AS n_px,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM v GROUP BY doc_id, fi""".stripMargin) { (s, dir) =>
      decodeVideos(encodeVideos(s, dir)).toDF()
    },

    // Corrupt-video routing: the container twin of mm_decode_quarantine.
    // Every 97th payload is truncated to its first 8 bytes (magic +
    // count survive, the frame table does not); the decode stage
    // routes those rows to 'quarantined' per row on the executor while
    // clean rows carry the container-declared frame count,
    // oracle-certified against the generating rule.
    Q("mm_video_quarantine",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN 'quarantined' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(doc_id % 6 + 2 AS BIGINT)
        |  END AS n_frames
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val corrupted = encodeVideos(s, dir).map { v =>
        if (v.doc_id % 97 == 0) VideoRow(v.doc_id, v.video.take(8)) else v
      }
      routeVideoDecodes(corrupted).toDF()
    },

    // Frame sampling: every 4th 16-byte frame of each payload, exploded
    // to one row per sampled frame (the distributed shape a video
    // frame-sampler produces).
    Q("mm_frame_sample", sampledFramesSql) { (s, dir) =>
      sampledFrames(s, dir)
    },

    // Training-shard manifest: the sampled frames laid out into
    // fixed-budget shard files (4096 bytes) per packing stream
    // (doc_id % 8) — the manifest a webdataset/tar-shard writer
    // consumes. text_seq_pack's concat-and-chunk formula applied to
    // BYTES: each frame records the shard file its payload starts in
    // and the offset there; a frame's true byte length is
    // min(16, n_bytes - offset) (the tail frame is short). All-BIGINT
    // window arithmetic per shard stream — partition-parallel at any
    // corpus size, and the DuckDB window-sum HUGEINT is cast back to
    // BIGINT (the text_seq_pack lesson).
    Q("mm_shard_manifest",
      s"""WITH f AS (
        |  SELECT doc_id, doc_id % 8 AS shard, frame_idx, n_bytes
        |  FROM ($sampledFramesSql) sf),
        |b AS (
        |  SELECT doc_id, shard, frame_idx,
        |    least(16, n_bytes - frame_idx * 16) AS frame_bytes
        |  FROM f),
        |c AS (
        |  SELECT doc_id, shard, frame_idx, frame_bytes,
        |    CAST(sum(frame_bytes) OVER (PARTITION BY shard
        |           ORDER BY doc_id, frame_idx
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM b)
        |SELECT doc_id, shard, frame_idx, frame_bytes,
        |  CAST(floor((cum - frame_bytes) / 4096.0) AS BIGINT) AS shard_file,
        |  CAST((cum - frame_bytes) % 4096 AS BIGINT) AS file_off
        |FROM c""".stripMargin) { (s, dir) =>
      val f = sampledFrames(s, dir)
        .withColumn("shard", col("doc_id") % 8)
        .withColumn("frame_bytes",
          least(lit(16L), col("n_bytes") - col("frame_idx") * 16))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy(col("doc_id"), col("frame_idx"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      f.withColumn("cum", sum("frame_bytes").over(w))
        .select(col("doc_id"), col("shard"), col("frame_idx"), col("frame_bytes"),
          floor((col("cum") - col("frame_bytes")) / lit(4096.0))
            .cast(LongType).as("shard_file"),
          ((col("cum") - col("frame_bytes")) % 4096).as("file_off"))
    },
  )
}

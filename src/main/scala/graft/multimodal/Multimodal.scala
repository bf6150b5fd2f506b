package graft.multimodal

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Multimodal columns (BASELINE.json's LLM-pipeline extension surface):
  * media payloads ride as opaque `binary` columns with typed metadata, and
  * decode / feature-extract / frame-sample / resize run executor-side over
  * batches — `mapPartitions` is the JVM analogue of the Python
  * `mapInPandas` batch-iterator shape: one task pulls an iterator of rows,
  * amortizes decoder setup once per partition, and never routes payloads
  * through the driver.
  *
  * The IMAGE leg decodes for real: the JDK ships `javax.imageio` readers
  * for PNG/GIF/BMP/JPEG, so a payload whose magic bytes announce one of
  * those formats gets true width/height from the decoded image
  * (MultimodalSpec round-trips generated PNG/BMP fixtures). ANIMATED
  * GIFs get real per-frame rasters too: the frames are composed onto the
  * logical screen honoring offsets and disposal (GIF frames are deltas,
  * not standalone images — see [[gifDecoded]]), with the container's
  * frame count carried in nFrames. The AUDIO leg
  * also decodes for real: `javax.sound.sampled` parses WAV/AIFF/AU
  * containers to PCM with zero external dependencies, so an audio payload
  * reports its true sample-frame count and channel count, and its "frames"
  * are blocks of the DECODED PCM stream, not the container bytes
  * (MultimodalSpec round-trips a generated WAV). The VIDEO leg parses
  * true CONTAINER metadata in pure JVM — MP4 `moov/trak/tkhd` dimensions
  * and `stts` frame count, AVI `avih` dimensions and dwTotalFrames
  * (MultimodalSpec round-trips generated MP4/AVI fixtures) — and for
  * MJPEG-in-AVI it decodes PIXELS for real too: every vids/MJPG movi
  * chunk is a standalone baseline JPEG, which ImageIO decodes, so those
  * videos get true per-frame RGB rasters and a real thumbnail
  * (MultimodalSpec round-trips an authored MJPEG AVI). Pixel decode for
  * OTHER video codecs remains a deterministic stub — the JDK genuinely
  * has no H.264/VP9/… decoder and this container has no external ones, so
  * their "frames" are byte blocks with the container's declared count
  * carried alongside. Swapping in a real codec changes only the frame
  * extraction; the schema, partitioning, batch shape and query wiring
  * don't move.
  */
object Multimodal {

  // Memory-backed ImageIO streams: by default createImageInputStream
  // over an InputStream and ImageIO.write to an OutputStream each spool
  // through a FileCache temp FILE — one create+write+delete per encoded or
  // decoded frame. Every payload here is an in-memory byte array, so the
  // disk round-trip is pure overhead (and a tail-latency lottery under
  // concurrent tasks); the flag flips both paths to the MemoryCache
  // streams. Decode/encode BYTES are identical — this is an I/O plumbing
  // knob, not a codec parameter (MultimodalSpec's golden rasters gate it).
  javax.imageio.ImageIO.setUseCache(false)

  /** javax.sound providers resolved ONCE per JVM:
    * `AudioSystem.getAudioInputStream` and `AudioSystem.write` route every
    * call through the JDK's synchronized provider registry
    * (`JDK13Services.getProviders` — one global lock), which convoys
    * concurrent decode tasks: measured ~0.2 ms/doc single-threaded vs
    * ~23 ms/doc inside a 32-task stage (a ~50× lock-contention slowdown —
    * 117 s of task time where ~4 s of work exists). The provider lists
    * are immutable per JVM, so they are enumerated once through the
    * public ServiceLoader and dispatched directly with the SAME
    * first-reader-that-accepts semantics AudioSystem documents; the
    * decoded/encoded bytes are identical (MultimodalSpec gates it). */
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toSeq
  }
  private lazy val audioWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala.toSeq
  }

  /** [[javax.sound.sampled.AudioSystem#getAudioInputStream(java.io.InputStream)]]
    * semantics over the cached reader list: the first reader that accepts
    * the stream wins; each attempt gets a fresh in-memory stream. */
  private def audioInputStreamOf(
      bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val it = audioReaders.iterator
    while (it.hasNext) {
      try return it.next()
        .getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => ()
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  val FrameBytes = 256
  val ThumbMax = 32L

  /** Decoded media: kind/dimensions + byte-block "frames". Dimensions are
    * kind-dependent: image → pixel width/height; audio → sample-frame
    * count/channel count (the natural "extent × depth" of a PCM stream);
    * video → container-declared pixel width/height. `nFrames` overrides
    * the sampled-block count when the CONTAINER declares a true frame
    * count (video stts/avih) that the frame sampler cannot see. */
  final case class Decoded(
      kind: String, width: Long, height: Long, frames: Seq[Array[Byte]],
      nFrames: Option[Long] = None,
      /** the full decoded raster (row-major RGB) when the payload really
        * decoded as an image — the input [[thumbnailRgb]] downsamples;
        * None for stub/audio/video rows */
      pixels: Option[Array[Byte]] = None)

  /** One document's extracted features (the query/output row).
    * `thumb_hash` is the md5 of the REAL nearest-neighbor pixel thumbnail
    * for decodable images, null otherwise (stub/audio/video rows have no
    * raster to downsample). */
  final case class FeatureRow(
      doc_id: Long, kind: String, width: Long, height: Long,
      n_frames: Long, frame0_hash: String, thumb_w: Long, thumb_h: Long,
      thumb_hash: String)

  /** Decode: real `javax.imageio` for image payloads, deterministic stub
    * for everything else (see the object doc). Deterministic in the bytes
    * either way. */
  def decode(bytes: Array[Byte]): Decoded = {
    require(bytes.nonEmpty, "empty payload")
    decodeImage(bytes).orElse(decodeAudio(bytes)).orElse(decodeVideo(bytes))
      .getOrElse(fakeDecode(bytes))
  }

  /** Magic-byte sniff: PNG / GIF / BMP / JPEG — the formats the JDK's
    * ImageIO decodes with zero external dependencies. */
  def looksLikeImage(b: Array[Byte]): Boolean =
    (b.length > 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b.length > 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
      (b.length > 2 && b(0) == 'B' && b(1) == 'M') ||
      (b.length > 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff)

  /** The REAL image leg: decode via the JDK's ImageIO and report true
    * dimensions. None when the magic bytes don't announce a decodable
    * format or the payload is corrupt (BMP magic is two printable ASCII
    * chars, so text can impersonate it) — the caller falls back to the
    * stub, keeping decode total and deterministic. */
  def decodeImage(bytes: Array[Byte]): Option[Decoded] = {
    if (!looksLikeImage(bytes)) return None
    // GIFs route through the frame-aware reader path (composed animation
    // frames for multi-frame payloads, the shared single-frame mapping
    // otherwise — ONE parse either way); any failure falls through to the
    // generic ImageIO.read below
    val viaGif =
      if (bytes(0) == 'G')
        try gifDecoded(bytes)
        catch { case scala.util.control.NonFatal(_) => None }
      else None
    if (viaGif.isDefined) return viaGif
    // corrupt payloads can crash readers in arbitrary ways (not just
    // IIOException) — at corpus scale a hostile blob must degrade to the
    // stub, never kill the task. Dims are checked from the HEADER before
    // read() against [[imageOverBudget]]: an over-budget raster takes the
    // container-byte mapping WITHOUT decoding (getWidth reads no pixel
    // data), so a hostile header can't force a multi-GB allocation whose
    // OutOfMemoryError no NonFatal catch would see. This leg is also the
    // backstop for a GIF the animated leg refused (its budget trips fall
    // through to here), so the budget must hold for EVERY format.
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val rs = javax.imageio.ImageIO.getImageReaders(iis)
        if (!rs.hasNext) None
        else {
          val r = rs.next()
          try {
            r.setInput(iis)
            val w = r.getWidth(0).toLong
            val h = r.getHeight(0).toLong
            if (w <= 0 || h <= 0) None
            else if (imageOverBudget(w, h))
              Some(Decoded("image", w, h, frameSample(bytes, 1)))
            else Option(r.read(0)).map(singleImageDecoded)
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Single-image decode budget: read() backs the BufferedImage with up
    * to 4 bytes/px (int ARGB) and [[rgbBytes]] retains 3 more, so the
    * worst-case transient is ~7 bytes/px per decode — bounded here by
    * [[MaxImageBytes]] (256 MB ≈ 38 Mpx, comfortably above an 8K photo's
    * 33 Mpx) so 32 concurrent decode tasks stay within a normal executor
    * heap. The old guard (3 B/px vs the JVM array max) nominally kept
    * rgbBytes allocatable but still admitted ~5 GB transients from a
    * few-hundred-byte hostile header. Over-budget payloads
    * keep the container-byte mapping with REAL header dims — never a
    * decode attempt, never a stub. */
  private def imageOverBudget(w: Long, h: Long): Boolean =
    7L * w * h > MaxImageBytes

  /** The single-frame image mapping, shared by the generic leg and the
    * GIF reader path. Frames walk the DECODED RGB raster, not the
    * container bytes — the same contract as the audio leg's PCM walk: a
    * PNG and a BMP of identical pixels produce identical frame hashes,
    * so downstream dedup/features key on signal content, not encoding.
    * Both callers check dims against a pre-decode budget
    * ([[imageOverBudget]] / the GIF leg's frameFits) BEFORE read(), so
    * the raster here is always well under one JVM array; over-budget
    * payloads never reach this function (the callers emit the
    * container-byte mapping themselves). */
  private def singleImageDecoded(img: java.awt.image.BufferedImage): Decoded = {
    val rgb = rgbBytes(img)
    Decoded("image", img.getWidth.toLong, img.getHeight.toLong,
      frameSample(rgb, 1), pixels = Some(rgb))
  }

  /** The ANIMATED-GIF leg: multi-frame GIFs composed to REAL per-frame
    * rasters in pure JVM — GIF frames are deltas (each a sub-rectangle
    * drawn at an offset onto the logical screen, with a per-frame
    * disposal rule), so the reader's raw rasters are NOT the animation;
    * this leg replays the composition: draw each frame at its
    * ImageDescriptor offset onto a persistent ARGB canvas, snapshot the
    * canvas as row-major RGB after each draw (transparent composites to
    * black, deterministically), and honor disposal (restoreToBackground
    * clears the frame rect to transparent; restoreToPrevious restores
    * the pre-draw canvas). Decoding is CAPPED at [[MaxDecodedFrames]]
    * like the MJPEG leg, but as a PREFIX rather than every-k-th: a delta
    * frame needs every predecessor composed, so a strided sample would
    * decode everything anyway — the prefix keeps the work bounded AND
    * the composition correct. `nFrames` carries the container's total
    * frame count; `pixels` is composed frame 0 (a real thumbnail).
    * Retained memory is BUDGETED ([[MaxAnimationBytes]]): the canvas
    * (plus a possible restoreToPrevious snapshot) and every kept raster
    * are counted, and takeN shrinks to fit — a 100-byte hostile GIF
    * declaring a huge logical screen must degrade, not OOM the executor
    * (an Error no catch block sees), because a raster-size-only guard
    * would let 8 retained canvas snapshots multiply it 8-fold.
    * Single-frame GIFs return the shared [[singleImageDecoded]] mapping
    * off the SAME reader (one parse, no nFrames override). None on any
    * decode/metadata failure or a canvas too large for even one budgeted
    * frame (caller degrades to the generic path, then the stub — the
    * total-function contract). */
  private def gifDecoded(bytes: Array[Byte]): Option[Decoded] = {
    import java.awt.image.BufferedImage
    def firstElem(parent: org.w3c.dom.Element, name: String): Option[org.w3c.dom.Element] = {
      val kids = parent.getChildNodes
      (0 until kids.getLength).iterator.map(kids.item)
        .collectFirst { case e: org.w3c.dom.Element if e.getNodeName == name => e }
    }
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return None
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        // Frame dims come from the GIF ImageDescriptor HEADER (getWidth
        // reads no pixel data) and are INDEPENDENT of the logical screen —
        // up to 65535×65535 regardless of canvas size — so a few-hundred-
        // byte hostile GIF passing the canvas budget can still force a
        // multi-GB transient ARGB raster inside read(i). Check before
        // decode, like the MJPEG leg; over budget degrades to the generic
        // path (an OutOfMemoryError is an Error no NonFatal catch sees).
        def frameFits(i: Int): Boolean =
          4L * reader.getWidth(i) * reader.getHeight(i) <= MaxAnimationBytes
        if (n <= 1) {
          // a single-frame GIF is just an image: budget it with the
          // generic leg's [[imageOverBudget]] (7 B/px vs MaxImageBytes),
          // not the animation budget — otherwise a frame in the
          // 32-36.6 Mpx band would be refused here only to be decoded by
          // the generic fallback anyway under its looser budget (one
          // budget per single-image decode, so both legs agree)
          if (imageOverBudget(reader.getWidth(0).toLong, reader.getHeight(0).toLong))
            return None
          return Some(singleImageDecoded(reader.read(0)))
        }
        val screen = for {
          sm <- Option(reader.getStreamMetadata)
          tree = sm.getAsTree("javax_imageio_gif_stream_1.0")
            .asInstanceOf[org.w3c.dom.Element]
          lsd <- firstElem(tree, "LogicalScreenDescriptor")
          w = lsd.getAttribute("logicalScreenWidth").toInt
          h = lsd.getAttribute("logicalScreenHeight").toInt
          if w > 0 && h > 0
        } yield (w, h)
        val (cw, ch) = screen.getOrElse((reader.getWidth(0), reader.getHeight(0)))
        if (cw <= 0 || ch <= 0 || 3L * cw * ch > Int.MaxValue - 8) return None
        // budget: ARGB canvas + one possible snapshot (4 bytes/px each) +
        // 3 bytes/px per retained raster; shrink takeN to fit, bail if
        // even one frame cannot
        val px = cw.toLong * ch
        val fit = ((MaxAnimationBytes - 8L * px) / (3L * px)).toInt
        if (fit < 1) return None
        val canvas = new BufferedImage(cw, ch, BufferedImage.TYPE_INT_ARGB)
        val g = canvas.createGraphics()
        try {
          val takeN = math.min(math.min(n, MaxDecodedFrames), fit)
          val rasters = Seq.newBuilder[Array[Byte]]
          var i = 0
          while (i < takeN) {
            if (!frameFits(i)) return None
            val frame = reader.read(i)
            val md = reader.getImageMetadata(i)
              .getAsTree("javax_imageio_gif_image_1.0")
              .asInstanceOf[org.w3c.dom.Element]
            val desc = firstElem(md, "ImageDescriptor")
            val x = desc.map(_.getAttribute("imageLeftPosition").toInt).getOrElse(0)
            val y = desc.map(_.getAttribute("imageTopPosition").toInt).getOrElse(0)
            val disposal = firstElem(md, "GraphicControlExtension")
              .map(_.getAttribute("disposalMethod")).getOrElse("none")
            val before =
              if (disposal == "restoreToPrevious") Some(canvas.copyData(null))
              else None
            g.drawImage(frame, x, y, null)
            rasters += rgbBytes(canvas)
            disposal match {
              case "restoreToBackgroundColor" =>
                val comp = g.getComposite
                g.setComposite(java.awt.AlphaComposite.Clear)
                g.fillRect(x, y, frame.getWidth, frame.getHeight)
                g.setComposite(comp)
              case "restoreToPrevious" => before.foreach(canvas.setData)
              case _ => ()
            }
            i += 1
          }
          val out = rasters.result()
          Some(Decoded("image", cw.toLong, ch.toLong, out,
            nFrames = Some(n.toLong), pixels = Some(out.head)))
        } finally g.dispose()
      } finally reader.dispose()
    } finally iis.close()
  }

  /** The decoded raster as row-major RGB bytes (3 per pixel, alpha
    * dropped) — deterministic for a given decoded image regardless of the
    * reader's internal raster layout (getRGB normalizes to sRGB ARGB). */
  private[multimodal] def rgbBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Byte](w * h * 3)
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        out(i) = ((p >> 16) & 0xff).toByte
        out(i + 1) = ((p >> 8) & 0xff).toByte
        out(i + 2) = (p & 0xff).toByte
        x += 1; i += 3
      }
      y += 1
    }
    out
  }

  /** A REAL pixel thumbnail: nearest-neighbor downsample of row-major RGB
    * bytes to (tw, th) — integer source coordinates (`x*w/tw`, `y*h/th`),
    * so the result is bit-deterministic across JVMs (no Graphics2D
    * interpolation, whose rounding is implementation-defined). */
  def thumbnailRgb(rgb: Array[Byte], w: Int, h: Int, tw: Int, th: Int): Array[Byte] = {
    require(w > 0 && h > 0 && tw > 0 && th > 0 && rgb.length >= 3L * w * h,
      s"bad thumbnail geometry: ${rgb.length} bytes for ${w}x$h -> ${tw}x$th")
    val out = new Array[Byte](tw * th * 3)
    var y = 0
    var i = 0
    while (y < th) {
      val sy = y * h / th
      var x = 0
      while (x < tw) {
        val s = (sy * w + x * w / tw) * 3
        out(i) = rgb(s); out(i + 1) = rgb(s + 1); out(i + 2) = rgb(s + 2)
        x += 1; i += 3
      }
      y += 1
    }
    out
  }

  /** Magic-byte sniff: WAV (RIFF/WAVE) / AIFF (FORM/AIFF) / AU (.snd) —
    * the containers the JDK's `javax.sound.sampled` parses natively. */
  def looksLikeAudio(b: Array[Byte]): Boolean =
    (b.length > 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') ||
      (b.length > 12 && b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
        b(8) == 'A' && b(9) == 'I' && b(10) == 'F' && b(11) == 'F') ||
      (b.length > 4 && b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd')

  /** The REAL audio leg: parse the container to PCM via the JDK's
    * AudioSystem. width = sample-frame count, height = channels, and the
    * "frames" walk the DECODED PCM bytes — so a downstream feature (e.g.
    * frame0 hash) keys on signal content, not container headers. None on
    * non-audio magic or a corrupt payload → stub fallback, keeping decode
    * total (same contract as the image leg). */
  def decodeAudio(bytes: Array[Byte]): Option[Decoded] =
    if (!looksLikeAudio(bytes)) None
    else
      try {
        import javax.sound.sampled.{AudioFormat, AudioSystem}
        // cached-provider dispatch, not AudioSystem (see audioReaders)
        val raw = audioInputStreamOf(bytes)
        try {
          // non-PCM containers (µ-law .au, A-law WAV) decode through the
          // JDK's converter so the frames really ARE PCM signal bytes,
          // keeping the "features key on signal content" contract
          val enc = raw.getFormat.getEncoding
          val ais =
            if (enc == AudioFormat.Encoding.PCM_SIGNED ||
                enc == AudioFormat.Encoding.PCM_UNSIGNED ||
                enc == AudioFormat.Encoding.PCM_FLOAT) raw
            else AudioSystem.getAudioInputStream(
              new AudioFormat(raw.getFormat.getSampleRate, 16,
                raw.getFormat.getChannels, true, false), raw)
          val pcm = ais.readAllBytes()
          // frame length is AudioSystem.NOT_SPECIFIED (-1) for some
          // streamed containers — recover it from the PCM byte count
          val frameSize = ais.getFormat.getFrameSize
          val nFrames =
            if (ais.getFrameLength >= 0) ais.getFrameLength
            else if (frameSize > 0) pcm.length.toLong / frameSize
            else pcm.length.toLong
          if (pcm.isEmpty) None
          else Some(Decoded("audio", nFrames,
            ais.getFormat.getChannels.toLong, frameSample(pcm, 1)))
        } finally raw.close()
      } catch { case scala.util.control.NonFatal(_) => None }

  /** Magic-byte sniff: MP4-family ISO BMFF (an `ftyp` box at offset 4) or
    * RIFF AVI. RIFF/WAVE is claimed by the audio sniff first, so order in
    * [[decode]] keeps the two RIFF families apart. */
  def looksLikeVideo(b: Array[Byte]): Boolean =
    (b.length > 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p') ||
      (b.length > 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ')

  /** The video METADATA leg: true container-declared properties parsed in
    * pure JVM — MP4 `moov/trak/tkhd` 16.16-fixed width/height and the
    * track's `stts` sample-count sum; AVI `hdrl/avih` dwWidth/dwHeight and
    * dwTotalFrames. No JDK video CODEC exists, so pixel DECODE stays out of
    * reach (the honest stub boundary shrinks to frame pixels only); the
    * "frames" remain the byte-block walk, with the container's frame count
    * carried alongside. None on non-video magic or a corrupt container →
    * stub fallback, the same total-function contract as image/audio. */
  def decodeVideo(bytes: Array[Byte]): Option[Decoded] =
    if (!looksLikeVideo(bytes)) None
    else
      try {
        // MJPEG-in-AVI is the one video format the JVM CAN pixel-decode
        // without a codec dependency: every vids/MJPG movi chunk is a
        // standalone baseline JPEG, and ImageIO already decodes JPEG —
        // so this path yields REAL per-frame rasters (and therefore a
        // real thumbnail), shrinking the video stub to the formats whose
        // codecs genuinely don't exist in the JDK
        val mjpeg = if (bytes(0) == 'R') aviMjpgDecoded(bytes) else None
        mjpeg.orElse {
          val meta = if (bytes(0) == 'R') aviMeta(bytes) else mp4Meta(bytes)
          meta.map { case (w, h, n) =>
            Decoded("video", w, h, frameSample(bytes, 1), nFrames = Some(n))
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }

  /** Walk a RIFF payload region `[start, end)`: (fourcc, dataStart,
    * dataEnd) per chunk, even-padded; malformed sizes end the walk. */
  private def riffChildren(b: Array[Byte], start: Int, end: Int): Seq[(String, Int, Int)] = {
    val out = Seq.newBuilder[(String, Int, Int)]
    var pos = start
    var ok = true
    while (ok && pos + 8 <= end) {
      val f = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > end) ok = false
      else {
        out += ((f, pos + 8, (pos + 8 + size).toInt))
        pos += (8 + size + (size % 2)).toInt
      }
    }
    out.result()
  }

  /** The REAL video-pixel leg: decode an AVI whose video stream is MJPEG.
    * Streams are declared in `hdrl`'s `strl` LISTs in index order; the
    * first `strh` with fccType `vids` and handler `MJPG` (or a `strf`
    * BITMAPINFOHEADER declaring biCompression `MJPG`) selects the stream,
    * and its `##dc`/`##db` chunks inside `movi` are standalone baseline
    * JPEGs. Frames are the DECODED row-major RGB rasters (the image leg's
    * signal-content contract, now per frame), `pixels` carries frame 0 so
    * the feature job emits a REAL thumbnail, and nFrames is the CONTAINER
    * frame-chunk count. Decoding is CAPPED: a 60 s 1080p clip
    * is ~1800 × 6 MB ≈ 11 GB of raster if every frame is retained, which
    * blows up a single executor row — so at most [[MaxDecodedFrames]]
    * frames are decoded, sampled every-k-th with frame 0 always included
    * (the frameSample access pattern). None when no MJPEG stream or no
    * sampled chunk decodes → the metadata leg (then the stub) takes over. */
  private[multimodal] val MaxDecodedFrames = 8

  /** Retained-byte budget for multi-frame pixel decode — the animated-GIF
    * composition (canvas + snapshot + kept rasters) and the MJPEG-in-AVI
    * raster retention: frame retention shrinks to fit, so a
    * declared-huge logical screen or frame stream degrades instead of
    * OOMing the task (an Error no catch block sees). */
  private[multimodal] val MaxAnimationBytes: Long = 128L << 20

  /** Transient-byte budget for a SINGLE image decode (7 B/px worst case —
    * see [[imageOverBudget]]: ~4 B/px decoder raster + 3 B/px retained
    * RGB, checked from header dims BEFORE read()). The 256 MB default
    * admits ~38 Mpx, above an 8K photo's 33 Mpx and far below the
    * hostile-header multi-GB class; LARGER legitimate images (50-100 Mpx
    * scans, medium-format) deliberately keep their container-byte
    * frames — real header dims, no pixel walk — so their frame hashes are
    * encoding-dependent and pixel dedup/thumbnails don't apply to that
    * class. Deployments whose executors carry the headroom raise the
    * ceiling with GRAFT_MAX_IMAGE_BYTES (bytes; a 100 Mpx scan needs
    * ~700 MB × concurrent decode tasks of heap). Read once per JVM and
    * FAIL-LOUD on an unparsable value (a silent fallback to the default
    * would make frame hashes differ between JVMs that parsed the knob and
    * JVMs that ignored it); set it identically on driver AND executors
    * (spark.executorEnv.*) — a split setting makes hashes for the
    * 38-100 Mpx band partitioning-dependent. Lazy, not eager: an eager
    * val would surface a bad value as
    * ExceptionInInitializerError at class init and NoClassDefFoundError
    * on every later use — lazy evaluation delivers the
    * IllegalArgumentException message directly to the first decode
    * task's error instead. */
  private[multimodal] lazy val MaxImageBytes: Long =
    sys.env.get("GRAFT_MAX_IMAGE_BYTES") match {
      case None => 256L << 20
      case Some(v) => v.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"GRAFT_MAX_IMAGE_BYTES must be a positive long (bytes), got '$v'"))
    }

  private def aviMjpgDecoded(b: Array[Byte]): Option[Decoded] = {
    def cc(off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (b.length < 12 || cc(8) != "AVI ") return None
    val top = riffChildren(b, 12, b.length)
    def listPayload(kind: String): Option[(Int, Int)] =
      top.collectFirst { case ("LIST", s, e) if e - s >= 4 && cc(s) == kind => (s + 4, e) }
    val (hs, he) = listPayload("hdrl").getOrElse(return None)
    val strls = riffChildren(b, hs, he)
      .collect { case ("LIST", s, e) if e - s >= 4 && cc(s) == "strl" => (s + 4, e) }
    val mjpgIdx = strls.zipWithIndex.collectFirst {
      case ((s, e), i) if riffChildren(b, s, e).exists { c =>
            (c._1 == "strh" && c._3 - c._2 >= 8 &&
              cc(c._2) == "vids" && cc(c._2 + 4) == "MJPG") ||
              (c._1 == "strf" && c._3 - c._2 >= 20 && cc(c._2 + 16) == "MJPG")
          } => i
    }.getOrElse(return None)
    val (ms, me) = listPayload("movi").getOrElse(return None)
    val prefix = f"$mjpgIdx%02d"
    // offsets only — no bytes are copied or decoded for skipped frames
    val chunkRanges = riffChildren(b, ms, me)
      .collect { case (f, s, e) if f == prefix + "dc" || f == prefix + "db" => (s, e) }
    if (chunkRanges.isEmpty) return None
    val stride =
      math.max(1, math.ceil(chunkRanges.size.toDouble / MaxDecodedFrames).toInt)
    // retention is BYTE-budgeted like the GIF leg ([[MaxAnimationBytes]]):
    // the frame cap alone lets a declared-huge MJPEG retain cap × raster
    // bytes (a hostile 8K stream would be ~8 × 100 MB from one row).
    // Dimensions come from the JPEG HEADER (ImageReader.getWidth reads no
    // pixel data — the GIF leg's check-before-allocate discipline), so a
    // frame over budget is rejected BEFORE ImageIO allocates its raster;
    // the budget trip is sticky and checked before any further chunk is
    // touched, and a first frame too large for the whole budget yields
    // no rasters → the metadata leg (then the stub) takes over instead
    // of an executor OOM (an Error no catch block sees). Budget ≪ the
    // JVM array max, so no separate Int.MaxValue guard is needed.
    var kept = 0L
    val rasters = Seq.newBuilder[(Int, Int, Array[Byte])]
    var stop = false
    val chunks = chunkRanges.zipWithIndex.iterator
      .collect { case ((s, e), i) if i % stride == 0 => (s, e) }
    while (!stop && chunks.hasNext) {
      val (cs, ce) = chunks.next()
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(java.util.Arrays.copyOfRange(b, cs, ce)))
        try {
          val rs = javax.imageio.ImageIO.getImageReaders(iis)
          if (rs.hasNext) {
            val r = rs.next()
            try {
              r.setInput(iis)
              val sz = 3L * r.getWidth(0) * r.getHeight(0)
              if (kept + sz > MaxAnimationBytes) stop = true
              else Option(r.read(0)).foreach { img =>
                rasters += ((img.getWidth, img.getHeight, rgbBytes(img)))
                kept += sz
              }
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => () } // corrupt chunk: skip
    }
    val out = rasters.result()
    out.headOption.map { case (w, h, first) =>
      Decoded("video", w.toLong, h.toLong, out.map(_._3),
        nFrames = Some(chunkRanges.size.toLong), pixels = Some(first))
    }
  }

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def le32(b: Array[Byte], off: Int): Long =
    ((b(off + 3) & 0xffL) << 24) | ((b(off + 2) & 0xffL) << 16) |
      ((b(off + 1) & 0xffL) << 8) | (b(off) & 0xffL)

  /** ISO BMFF box walk over `[start, end)`: yields (type, payloadStart,
    * payloadEnd). Defensive: malformed sizes terminate the walk instead of
    * looping or over-reading. */
  private def mp4Boxes(b: Array[Byte], start: Int, end: Int): Iterator[(String, Int, Int)] =
    new Iterator[(String, Int, Int)] {
      private var pos = start
      def hasNext: Boolean = pos + 8 <= end
      def next(): (String, Int, Int) = {
        val size0 = be32(b, pos)
        val tpe = new String(b, pos + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        var payload = pos + 8
        val boxEnd =
          if (size0 == 0) end // "to end of file"
          else if (size0 == 1) { // 64-bit largesize
            if (pos + 16 > end) { pos = end; return (tpe, end, end) }
            val hi = be32(b, pos + 8); val lo = be32(b, pos + 12)
            payload = pos + 16
            val sz = (hi << 32) | lo
            if (sz < 16 || pos + sz > end) end else (pos + sz).toInt
          } else if (size0 < 8 || pos + size0 > end) end
          else (pos + size0).toInt
        pos = boxEnd
        (tpe, payload, boxEnd)
      }
    }

  private def mp4Find(b: Array[Byte], start: Int, end: Int, tpe: String): Option[(Int, Int)] =
    mp4Boxes(b, start, end).collectFirst { case (`tpe`, s, e) => (s, e) }

  /** MP4 (width, height, frames): tkhd width/height per trak (16.16 fixed
    * point), stts sample-count sum per trak; the first trak with a nonzero
    * width wins (audio traks declare 0×0), else the first trak. */
  private def mp4Meta(b: Array[Byte]): Option[(Long, Long, Long)] = {
    val (moovS, moovE) = mp4Find(b, 0, b.length, "moov").getOrElse(return None)
    val traks = mp4Boxes(b, moovS, moovE).collect { case ("trak", s, e) => (s, e) }.toSeq
    val metas = traks.flatMap { case (ts, te) =>
      mp4Find(b, ts, te, "tkhd").flatMap { case (hs, he) =>
        if (hs >= he) None
        else {
          val version = b(hs) & 0xff
          // offset of the 16.16 width field from the tkhd payload start
          // (version+flags included; v1 widens times/duration to 64-bit):
          // v0 = 4+4+4+4+4+4+8+2+2+2+2+36 = 76, v1 = 4+8+8+4+4+8+8+8+36 = 88
          val wOff = hs + (if (version == 1) 88 else 76)
          if (wOff + 8 > he) None
          else {
            val w = be32(b, wOff) >> 16
            val h = be32(b, wOff + 4) >> 16
            val frames = (for {
              (ms, me) <- mp4Find(b, ts, te, "mdia")
              (ns, ne) <- mp4Find(b, ms, me, "minf")
              (ss, se) <- mp4Find(b, ns, ne, "stbl")
              (ps, pe) <- mp4Find(b, ss, se, "stts")
            } yield {
              if (ps + 8 > pe) 0L
              else {
                val entries = be32(b, ps + 4)
                var sum = 0L
                var i = 0
                while (i < entries && ps + 8 + i * 8 + 8 <= pe) {
                  sum += be32(b, ps + 8 + i * 8)
                  i += 1
                }
                sum
              }
            }).getOrElse(0L)
            Some((w, h, frames))
          }
        }
      }
    }
    metas.find(_._1 > 0).orElse(metas.headOption)
  }

  /** AVI (width, height, frames) from the `avih` main header (all fields
    * little-endian): dwTotalFrames at +16, dwWidth/dwHeight at +32/+36. */
  private def aviMeta(b: Array[Byte]): Option[(Long, Long, Long)] = {
    // RIFF chunk walk: [fourcc][size LE][data, even-padded]; LIST chunks
    // carry a 4-byte subtype then children
    def findAvih(start: Int, end: Int, depth: Int): Option[Int] = {
      if (depth > 4) return None
      var pos = start
      while (pos + 8 <= end) {
        val fourcc = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = le32(b, pos + 4)
        if (size < 0 || pos + 8 + size > end) return None
        if (fourcc == "avih") return Some(pos + 8)
        if (fourcc == "LIST" && size >= 4) {
          val found = findAvih(pos + 12, (pos + 8 + size).toInt, depth + 1)
          if (found.nonEmpty) return found
        }
        pos += (8 + size + (size % 2)).toInt
      }
      None
    }
    findAvih(12, b.length, 0).flatMap { p =>
      if (p + 40 > b.length) None
      else Some((le32(b, p + 32), le32(b, p + 36), le32(b, p + 16)))
    }
  }

  /** VIDEO-PIXEL STUB (and non-media fallback) — deterministic fake
    * properties from the bytes. */
  def fakeDecode(bytes: Array[Byte]): Decoded = {
    val b0 = bytes.head & 0xff
    val bn = bytes.last & 0xff
    val kind = (b0 % 3) match {
      case 0 => "image"
      case 1 => "audio"
      case _ => "video"
    }
    Decoded(kind, 16L + b0 % 64, 16L + bn % 64, frameSample(bytes, 1))
  }

  /** Frame sampling: every `stride`-th 256-byte block. A real video path
    * would seek keyframes; the block walk has the same access pattern. */
  def frameSample(bytes: Array[Byte], stride: Int): Seq[Array[Byte]] =
    bytes.grouped(FrameBytes).grouped(stride).map(_.head).toSeq

  /** Resize: scale the longer edge down to `maxDim` (integer math, aspect
    * preserved); no-op when already small enough. */
  def resize(width: Long, height: Long, maxDim: Long): (Long, Long) = {
    val m = math.max(width, height)
    if (m <= maxDim) (width, height)
    else (width * maxDim / m, height * maxDim / m)
  }

  def md5hex(bytes: Array[Byte]): String =
    hex(MessageDigest.getInstance("MD5").digest(bytes))

  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(digest: Array[Byte]): String = {
    // zero-padded lowercase hex, identical to the previous
    // `digest.map(b => f"${b & 0xff}%02x").mkString` without the per-byte
    // format-string interpreter
    val out = new Array[Char](digest.length * 2)
    var i = 0
    while (i < digest.length) {
      val b = digest(i) & 0xff
      out(2 * i) = hexChars(b >>> 4)
      out(2 * i + 1) = hexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The feature-extraction job: (doc_id, content: binary) → features.
    * Executor-side batch loop; decoder state (here: the MessageDigest) is
    * set up once per partition and reused across the batch (digest()
    * resets the instance). */
  def features(docs: DataFrame, s: SparkSession): Dataset[FeatureRow] = {
    import s.implicits._
    docs.select("doc_id", "content").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val d = decode(bytes)
          val (tw, th) = resize(d.width, d.height, ThumbMax)
          // real raster → real thumbnail: the nearest-neighbor downsample
          // runs on decoded pixels; rows without a raster (stub, audio,
          // video, over-limit images) report null
          val thumbHash = d.pixels.map(p =>
            hex(md.digest(thumbnailRgb(
              p, d.width.toInt, d.height.toInt, tw.toInt, th.toInt)))).orNull
          FeatureRow(
            id, d.kind, d.width, d.height,
            d.nFrames.getOrElse(d.frames.size.toLong),
            hex(md.digest(d.frames.head)), tw, th, thumbHash)
        }
      }
  }

  // ---- perceptual image near-dup (aHash) -----------------------------------

  /** 64-bit average-hash over a decoded row-major RGB raster: the image
    * partitions into an 8×8 block grid, each block's integer mean luma
    * (299R+587G+114B, the BT.601 weights kept ×1000 so everything stays
    * exact integer arithmetic) compares against the global block mean —
    * bit set when brighter. Deterministic by construction (no float, no
    * resampling library); robust to re-encoding, mild noise and small
    * edits, which is exactly the near-dup class pixel-hash dedup exists
    * to catch and content-hash dedup is blind to. Blocks degenerate to a
    * single clamped pixel when the raster is narrower than 8 px. */
  def aHash64(rgb: Array[Byte], w: Int, h: Int): Long = {
    require(w > 0 && h > 0 && rgb.length >= w * h * 3, "raster shape mismatch")
    val means = new Array[Long](64)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        var y0 = by * h / 8; var y1 = (by + 1) * h / 8
        var x0 = bx * w / 8; var x1 = (bx + 1) * w / 8
        if (y1 <= y0) { y0 = math.min(y0, h - 1); y1 = y0 + 1 }
        if (x1 <= x0) { x0 = math.min(x0, w - 1); x1 = x0 + 1 }
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val i = (y * w + x) * 3
            sum += 299L * (rgb(i) & 0xff) + 587L * (rgb(i + 1) & 0xff) +
              114L * (rgb(i + 2) & 0xff)
            x += 1
          }
          y += 1
        }
        means(by * 8 + bx) = sum / ((y1 - y0).toLong * (x1 - x0))
        bx += 1
      }
      by += 1
    }
    val mean = means.sum / 64
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (means(i) > mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Deterministic 16×16 grayscale-ish PNG synthesized from
    * (source, docId) — the demo corpus for [[imageNeardup]] (the test
    * tables carry no image column). Base raster keyed by the SOURCE
    * (md5 per row), so same-source images share a pattern; even docs
    * perturb ≤ 3 pixels (the near-dup class a perceptual hash must
    * catch), odd docs repaint half the raster (far). Encoded with the
    * JDK PNG encoder so the consuming operator exercises the REAL
    * decode path end-to-end. */
  def synthPng(source: String, docId: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val md = MessageDigest.getInstance("MD5")
    var y = 0
    while (y < 16) {
      val row = md.digest(s"$source:$y".getBytes("UTF-8"))
      var x = 0
      while (x < 16) {
        val v = row(x) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val k = if (docId % 2 == 0) (docId % 4).toInt else 128
    val pd = md.digest(docId.toString.getBytes("UTF-8"))
    var i = 0
    while (i < k) {
      val pos = (((pd(i % 16) & 0xff) * 31 + i * 7) & 0xff)
      img.setRGB(pos % 16, pos / 16,
        if (docId % 2 == 0) 0xffffff else ((i * 2) & 0xff) << 16)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Perceptual near-dup LSH parameters of every media rung and of the
    * fingerprint store: the 64-bit hash bands 4×16 bits, and a pair
    * verifies at hamming ≤ 6. The DuckDB oracles spell the same
    * constants. */
  val HashBands = 4
  val HashBandBits = 16
  val MaxHamming = 6

  /** Perceptual near-dup pairs over an (id BIGINT, content BINARY) image
    * frame: decode (real ImageIO) → [[aHash64]] → 4×16-bit band buckets →
    * the shared bounded [[graft.BucketPairs]] engine → hamming ≤
    * [[MaxHamming]] verify. The SimHash pipeline's shape applied to
    * pixels: candidates track near-dup density, never all-pairs;
    * undecodable payloads drop out (they have no raster to hash).
    * Returns (id_a, id_b, hamming), id_a < id_b. */
  def imageNeardup(images: DataFrame): DataFrame =
    hash64Neardup(hashesOf(images, imageHash))

  /** One payload's image fingerprint: [[aHash64]] of the decoded raster
    * (the first composed frame of an animated GIF); None when nothing
    * decodes. */
  def imageHash(bytes: Array[Byte]): Option[Long] =
    decodeImage(bytes).flatMap(d =>
      d.pixels.map(px => aHash64(px, d.width.toInt, d.height.toInt)))

  /** The fingerprint stage of every media rung — one (id, ahash) row per
    * hash that `hash` yields for a payload of the (id, content) frame.
    * Public so the declared queries' oracle aux artifacts materialize
    * EXACTLY the hash frame the operator banded: the only
    * SQL-inexpressible step is the decode, so the oracle reads this
    * table and replays banding, hamming verify and pair election
    * downstream of it in SQL. */
  def hashesOf(media: DataFrame, hash: Array[Byte] => IterableOnce[Long]): DataFrame = {
    import org.apache.spark.sql.functions.col
    import media.sparkSession.implicits._
    media.select(col("id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        hash(bytes).iterator.map(h => (id, h))
      }).toDF("id", "ahash")
  }

  /** The shared candidate/verify tail of every perceptual near-dup rung:
    * the (id, ahash) frame through [[graft.BucketPairs.hammingPairs]]. */
  private def hash64Neardup(hashes: DataFrame): DataFrame =
    graft.BucketPairs.hammingPairs(hashes, Seq.empty, "id", "ahash",
      HashBands, HashBandBits, MaxHamming).toDF("id_a", "id_b", "hamming")

  // ---- perceptual audio near-dup (block-energy hash) ------------------------

  /** 64-bit block-energy hash over a decoded 16-bit little-endian mono
    * PCM stream — the audio twin of [[aHash64]]: the
    * sample stream partitions into 64 equal blocks, each block's integer
    * mean |amplitude| compares against the global block mean — bit set
    * when louder. Exact integer arithmetic end to end (no FFT, no
    * float): deterministic, re-encode invariant (it hashes SIGNAL, not
    * container bytes), and robust to small local edits — the near-dup
    * class a content hash is blind to. Blocks degenerate to a single
    * clamped sample when the stream is shorter than 64 samples. */
  def audioHash64(pcm: Array[Byte]): Long = {
    val n = pcm.length / 2
    require(n > 0, "empty PCM stream")
    val means = new Array[Long](64)
    var b = 0
    while (b < 64) {
      var i0 = b * n / 64
      var i1 = (b + 1) * n / 64
      if (i1 <= i0) { i0 = math.min(i0, n - 1); i1 = i0 + 1 }
      var sum = 0L
      var i = i0
      while (i < i1) {
        val v = (((pcm(2 * i + 1) & 0xff) << 8) | (pcm(2 * i) & 0xff)).toShort.toLong
        sum += math.abs(v)
        i += 1
      }
      means(b) = sum / (i1 - i0)
      b += 1
    }
    val mean = means.sum / 64
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (means(i) > mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Deterministic 2048-sample 16-bit mono WAV synthesized from
    * (source, docId) — the audio demo corpus for [[audioNeardup]] (the
    * test tables carry no audio column), mirroring [[synthPng]]'s
    * classes: the base signal is keyed by the SOURCE (md5 per 16-sample
    * block), EVEN docs silence ≤ 3 scattered samples (the near-dup
    * class a perceptual hash must catch), ODD docs re-level the whole
    * second half (far). Encoded as a REAL RIFF/WAVE container with the
    * JDK encoder so the consuming operator exercises the true
    * javax.sound decode path end-to-end. */
  def synthWav(source: String, docId: Long): Array[Byte] = {
    val n = 2048
    val pcm = new Array[Byte](n * 2)
    val md = MessageDigest.getInstance("MD5")
    def put(i: Int, v: Short): Unit = {
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    var blk = 0
    while (blk < n / 16) {
      val row = md.digest(s"$source:$blk".getBytes("UTF-8"))
      var j = 0
      while (j < 16) {
        put(blk * 16 + j, (((row(j) & 0xff) - 128) * 64).toShort)
        j += 1
      }
      blk += 1
    }
    val pd = md.digest(docId.toString.getBytes("UTF-8"))
    if (docId % 2 == 0) {
      val k = (docId % 4).toInt
      var i = 0
      while (i < k) {
        put((((pd(i % 16) & 0xff) * 31 + i * 7) & 0x7ff), 0.toShort)
        i += 1
      }
    } else {
      var i = n / 2
      while (i < n) {
        put(i, (((pd(i % 16) & 0xff) - 128) * ((i % 7) + 1) * 16).toShort)
        i += 1
      }
    }
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    // cached-provider dispatch, not AudioSystem.write (see audioReaders)
    audioWriters.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, ais))
      .getOrElse(throw new IllegalArgumentException(
        "type WAVE is not supported"))
      .write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Perceptual near-dup pairs over an (id BIGINT, content BINARY) audio
    * frame: decode (real javax.sound, any container it parses — the
    * µ-law/A-law conversion rides along) → [[audioHash64]] over the
    * decoded PCM → the shared banded candidate/verify tail. Undecodable
    * payloads drop out (no signal to hash). Returns
    * (id_a, id_b, hamming), id_a < id_b. */
  def audioNeardup(audio: DataFrame): DataFrame =
    hash64Neardup(hashesOf(audio, audioHash))

  /** One payload's audio fingerprint: [[audioHash64]] over the decoded
    * PCM; None when nothing decodes. */
  def audioHash(bytes: Array[Byte]): Option[Long] =
    decodeAudio(bytes).map(d => audioHash64(d.frames.toArray.flatten))

  // ---- perceptual video near-dup (first-frame aHash) ------------------------

  /** Author a structurally true MJPEG AVI (hdrl declares a vids/MJPG
    * stream, movi carries one `00dc` JPEG chunk per frame) — the
    * write-side twin of [[aviMjpgDecoded]]'s read path, shared by the
    * video demo corpus ([[synthMjpegAvi]]) and the spec fixtures. */
  def mjpegAviOf(frames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
    def le(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(fourcc: String, body: Array[Byte]): Array[Byte] = {
      val padded = if (body.length % 2 == 1) body :+ 0.toByte else body
      fourcc.getBytes("US-ASCII") ++ le(body.length) ++ padded
    }
    def list(kind: String, children: Array[Byte]): Array[Byte] =
      "LIST".getBytes("US-ASCII") ++ le(4 + children.length) ++
        kind.getBytes("US-ASCII") ++ children
    val avihBody = new Array[Byte](56)
    System.arraycopy(le(frames.size), 0, avihBody, 16, 4)
    System.arraycopy(le(w), 0, avihBody, 32, 4)
    System.arraycopy(le(h), 0, avihBody, 36, 4)
    val strhBody = "vids".getBytes("US-ASCII") ++
      "MJPG".getBytes("US-ASCII") ++ new Array[Byte](48)
    val strfBody = new Array[Byte](40) // BITMAPINFOHEADER
    System.arraycopy(le(40), 0, strfBody, 0, 4)
    System.arraycopy(le(w), 0, strfBody, 4, 4)
    System.arraycopy(le(h), 0, strfBody, 8, 4)
    System.arraycopy("MJPG".getBytes("US-ASCII"), 0, strfBody, 16, 4)
    val strl = list("strl", chunk("strh", strhBody) ++ chunk("strf", strfBody))
    val hdrl = list("hdrl", chunk("avih", avihBody) ++ strl)
    val movi = list("movi", frames.toArray.flatMap(f => chunk("00dc", f)))
    val payload = hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le(4 + payload.length) ++
      "AVI ".getBytes("US-ASCII") ++ payload
  }

  /** Deterministic two-frame MJPEG AVI synthesized from (source, docId)
    * — the video demo corpus for [[videoNeardup]] (the test tables carry
    * no video column), mirroring [[synthPng]]'s classes on the FIRST
    * frame (the fingerprinted one): base raster keyed by the SOURCE,
    * EVEN docs perturb ≤ 3 pixels (the near-dup class), ODD docs repaint
    * half; the second frame differs per doc (near-dup detection must not
    * depend on later frames matching). Frames are REAL baseline JPEGs
    * (the JDK encoder), so the consuming operator exercises the true
    * MJPEG-in-AVI decode path end-to-end — lossy codec included. */
  def synthMjpegAvi(source: String, docId: Long): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    def frame(perturb: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 16) {
        val row = md.digest(s"$source:v:$y".getBytes("UTF-8"))
        var x = 0
        while (x < 16) {
          val v = row(x) & 0xff
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      if (perturb) {
        val k = if (docId % 2 == 0) (docId % 4).toInt else 128
        val pd = md.digest(docId.toString.getBytes("UTF-8"))
        var i = 0
        while (i < k) {
          val pos = (((pd(i % 16) & 0xff) * 31 + i * 7) & 0xff)
          img.setRGB(pos % 16, pos / 16,
            if (docId % 2 == 0) 0xffffff else ((i * 2) & 0xff) << 16)
          i += 1
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    // frame 0 carries the near/far classes; frame 1 is doc-unique noise
    val f1 = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val pd = md.digest(s"tail:$docId".getBytes("UTF-8"))
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) {
          val v = pd((x + y) % 16) & 0xff
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    mjpegAviOf(Seq(frame(perturb = true), f1), 16, 16)
  }

  /** Perceptual near-dup pairs over an (id BIGINT, content BINARY) VIDEO
    * frame — the video legs that REALLY decode:
    * MJPEG-in-AVI (every movi chunk a standalone baseline JPEG —
    * [[aviMjpgDecoded]] yields true rasters) and animated GIF (composed
    * delta frames). The fingerprint is [[aHash64]] of the FIRST decoded
    * frame — the declared scope of this rung: it catches re-encodes,
    * container rewrites and small first-frame edits of the same clip
    * (a scene-level near-dup would need per-frame hashes; H.264+ stays
    * behind the signed-off codec-bitstream boundary). Payloads that
    * decode no raster (metadata-only MP4/AVI, stubs, still images)
    * drop out; candidates band through the shared bounded engine and
    * verify by hamming — [[imageNeardup]]'s tail verbatim. */
  def videoNeardup(videos: DataFrame): DataFrame =
    hash64Neardup(hashesOf(videos, videoHash))

  /** SCENE-level perceptual near-dup over an (id BIGINT, content BINARY)
    * VIDEO frame (within the signed-off codec boundary): where [[videoNeardup]] fingerprints frame 0 only — and
    * so misses a clip whose FIRST frame was edited — this rung aHashes
    * EVERY decoded frame of the MJPEG/GIF prefix (the per-frame
    * multi-hash shape; [[aviMjpgDecoded]]'s byte-budgeted stride keeps
    * the retained prefix bounded), bands every (video, frame) hash
    * through the same bounded engine, and elects a pair when ANY frame
    * of one clip verifies within hamming of ANY frame of the other —
    * min hamming per pair, self-scene matches dropped. Returns
    * (id_a, id_b, hamming), id_a < id_b. */
  def videoSceneNeardup(videos: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    hash64Neardup(hashesOf(videos, sceneHashes))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** One payload's per-frame scene hashes — the fingerprint of
    * [[videoSceneNeardup]], shared with the fingerprint store's scene
    * rows ([[graft.streaming.FingerprintStore]]) so batch and at-ingest
    * scene fingerprints cannot drift. Empty for non-multi-frame or
    * undecodable payloads; frames whose raster does not match the
    * declared dimensions are skipped rather than mis-strided. */
  def sceneHashes(bytes: Array[Byte]): Seq[Long] =
    decodeImage(bytes).orElse(decodeVideo(bytes))
      .filter(d => d.kind == "video" || d.nFrames.exists(_ > 1))
      .filter(_.pixels.isDefined) // real rasters, not sampled bytes
      .toSeq.flatMap { d =>
        d.frames.iterator
          .filter(_.length == 3 * d.width.toInt * d.height.toInt)
          .map(f => aHash64(f, d.width.toInt, d.height.toInt))
          .toSeq
      }

  /** Deterministic THREE-CLASS scene corpus for [[videoSceneNeardup]]
    * (the test tables carry no video column): every clip's FIRST frame
    * is doc-unique noise — the "first-frame edit" the frame-0 rung is
    * blind to by construction — while frame 1 carries the classes:
    * same-source EVEN docs share a source-keyed scene raster perturbed
    * ≤ 3 pixels per doc (the near-dup class), ODD docs get doc-unique
    * noise (no shared scene). Real JDK JPEG encodes in the true RIFF
    * container ([[mjpegAviOf]]). */
  def synthMjpegAviScened(source: String, docId: Long): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    def noise(tag: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val pd = md.digest(s"$tag:$docId".getBytes("UTF-8"))
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) {
          val v = pd((x * 3 + y * 7) % 16) & 0xff
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def scene(): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 16) {
        val row = md.digest(s"$source:scene:$y".getBytes("UTF-8"))
        var x = 0
        while (x < 16) {
          val v = row(x) & 0xff
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val k = (docId % 4).toInt
      val pd = md.digest(docId.toString.getBytes("UTF-8"))
      var i = 0
      while (i < k) {
        val pos = (((pd(i % 16) & 0xff) * 31 + i * 7) & 0xff)
        img.setRGB(pos % 16, pos / 16, 0xffffff)
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val f1 = if (docId % 2 == 0) scene() else noise("lone")
    mjpegAviOf(Seq(noise("edit"), f1), 16, 16)
  }

  /** One payload's video fingerprint: [[aHash64]] of the first decoded
    * frame of a true video (or multi-frame GIF) payload; None for still
    * images and payloads that decode no raster. */
  def videoHash(bytes: Array[Byte]): Option[Long] =
    decodeImage(bytes).orElse(decodeVideo(bytes))
      .filter(d => d.kind == "video" || d.nFrames.exists(_ > 1))
      .flatMap(d => d.pixels.map(px => aHash64(px, d.width.toInt, d.height.toInt)))
}

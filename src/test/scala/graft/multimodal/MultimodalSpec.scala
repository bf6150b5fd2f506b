package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Unit goldens for the multimodal stub: decode determinism, frame
  * sampling, resize arithmetic (the parts a real codec would replace are
  * exactly [[Multimodal.decode]]'s body — everything here must survive
  * that swap). */
class MultimodalSpec extends AnyFunSuite {

  private val payload = Array.tabulate[Byte](600)(i => ((i * 7 + 33) % 127).toByte)

  test("decode is deterministic and derives kind/dims from the bytes") {
    val d1 = Multimodal.decode(payload)
    val d2 = Multimodal.decode(payload)
    assert(d1.kind === d2.kind)
    assert((d1.width, d1.height) === (d2.width, d2.height))
    assert(Set("image", "audio", "video").contains(d1.kind))
    assert(d1.width >= 16 && d1.width < 80 && d1.height >= 16 && d1.height < 80)
  }

  test("frameSample walks 256-byte blocks with a stride") {
    assert(Multimodal.frameSample(payload, 1).map(_.length) === Seq(256, 256, 88))
    assert(Multimodal.frameSample(payload, 2).size === 2) // blocks 0 and 2
    assert(Multimodal.frameSample(payload, 2).head.length === 256)
  }

  test("resize scales the longer edge to maxDim, aspect preserved, integer math") {
    assert(Multimodal.resize(64, 32, 32) === (32L, 16L))
    assert(Multimodal.resize(30, 20, 32) === (30L, 20L)) // already small: no-op
    assert(Multimodal.resize(17, 79, 32) === (17L * 32 / 79, 32L))
  }

  test("decode rejects empty payloads") {
    intercept[IllegalArgumentException](Multimodal.decode(Array.emptyByteArray))
  }

  test("md5hex matches the engine's canonical md5 for identical bytes") {
    val s = "hello multimodal"
    assert(Multimodal.md5hex(s.getBytes("UTF-8")) ===
      graft.ocds.Canonical.md5hex(s))
  }

  // ---- the REAL image leg (JDK ImageIO) ------------------------------

  private def imageBytes(format: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, out), s"no $format writer")
    out.toByteArray
  }

  test("decode reads a real PNG: true dimensions, kind=image") {
    val d = Multimodal.decode(imageBytes("png", 37, 21))
    assert(d.kind === "image")
    assert((d.width, d.height) === (37L, 21L))
  }

  // ---- the ANIMATED-GIF leg (composed delta frames) ------------------

  private def solid(w: Int, h: Int, rgb: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, rgb)))
    img
  }

  /** Author an animated GIF with the JDK's sequence writer: per frame
    * (image, left, top, disposalMethod). */
  private def animatedGifBytes(
      frames: Seq[(java.awt.image.BufferedImage, Int, Int, String)]): Array[Byte] = {
    import javax.imageio.metadata.IIOMetadataNode
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { case (img, x, y, disposal) =>
      val md = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), null)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = md.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      def child(name: String): IIOMetadataNode = {
        val kids = tree.getChildNodes
        (0 until kids.getLength).map(kids.item)
          .collectFirst { case e: IIOMetadataNode if e.getNodeName == name => e }
          .getOrElse {
            val n = new IIOMetadataNode(name)
            tree.appendChild(n); n
          }
      }
      val desc = child("ImageDescriptor")
      desc.setAttribute("imageLeftPosition", x.toString)
      desc.setAttribute("imageTopPosition", y.toString)
      desc.setAttribute("imageWidth", img.getWidth.toString)
      desc.setAttribute("imageHeight", img.getHeight.toString)
      desc.setAttribute("interlaceFlag", "FALSE")
      val gce = child("GraphicControlExtension")
      gce.setAttribute("disposalMethod", disposal)
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", "10")
      gce.setAttribute("transparentColorIndex", "0")
      md.setFromTree(fmt, tree)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, md), null)
    }
    writer.endWriteSequence()
    ios.close()
    out.toByteArray
  }

  /** Row-major RGB raster painted from (x, y, w, h, rgb) rects applied in
    * order over a black background — the expected composition. */
  private def paint(w: Int, h: Int, rects: Seq[(Int, Int, Int, Int, Int)]): Seq[Byte] = {
    val px = Array.fill(w * h)(0)
    rects.foreach { case (rx, ry, rw, rh, rgb) =>
      (ry until math.min(ry + rh, h)).foreach(y =>
        (rx until math.min(rx + rw, w)).foreach(x => px(y * w + x) = rgb))
    }
    px.flatMap(p => Seq(((p >> 16) & 0xff).toByte, ((p >> 8) & 0xff).toByte,
      (p & 0xff).toByte)).toSeq
  }

  test("animated GIF composes delta frames onto the logical screen") {
    val red = 0xff0000; val blue = 0x0000ff; val green = 0x00ff00
    // frame 0: full 12x10 red; frame 1: 4x3 blue delta at (5,2) that is
    // DISPOSED to background after display; frame 2: 2x2 green at (0,0)
    val bytes = animatedGifBytes(Seq(
      (solid(12, 10, red), 0, 0, "none"),
      (solid(4, 3, blue), 5, 2, "restoreToBackgroundColor"),
      (solid(2, 2, green), 0, 0, "none")))
    val d = Multimodal.decode(bytes)
    assert((d.kind, d.width, d.height) === ("image", 12L, 10L))
    assert(d.nFrames === Some(3L))
    assert(d.frames.length === 3)
    // composition, not raw rasters: frame 1 is red WITH the blue rect
    // (a raw frame-1 raster would be 4x3 blue alone); frame 2 shows the
    // disposed rect cleared to background (transparent -> black) plus
    // the green delta
    assert(d.frames(0).toSeq === paint(12, 10, Seq((0, 0, 12, 10, red))))
    assert(d.frames(1).toSeq === paint(12, 10,
      Seq((0, 0, 12, 10, red), (5, 2, 4, 3, blue))))
    assert(d.frames(2).toSeq === paint(12, 10,
      Seq((0, 0, 12, 10, red), (5, 2, 4, 3, 0x000000), (0, 0, 2, 2, green))))
    // frame 0's composition is the pixels leg -> a real thumbnail
    assert(d.pixels.map(_.toSeq) === Some(d.frames(0).toSeq))
  }

  test("animated GIF decode caps retained rasters as a PREFIX; nFrames stays total") {
    val n = Multimodal.MaxDecodedFrames * 2
    // distinct full-canvas solid colors: composition after frame i IS
    // color i, so the retained prefix is directly observable
    val colors = (0 until n).map(i => (i * 37 + 11) & 0xffffff)
    val bytes = animatedGifBytes(
      colors.map(c => (solid(8, 6, c), 0, 0, "none")))
    val d = Multimodal.decode(bytes)
    assert(d.nFrames === Some(n.toLong))
    assert(d.frames.length === Multimodal.MaxDecodedFrames)
    assert(d.frames.head.toSeq === paint(8, 6, Seq((0, 0, 8, 6, colors.head))))
    assert(d.frames.last.toSeq === paint(8, 6,
      Seq((0, 0, 8, 6, colors(Multimodal.MaxDecodedFrames - 1)))))
  }

  test("animated GIF retention shrinks to the byte budget, not just the frame cap") {
    // 4000x3000 canvas: 8*px = 96 MB (canvas + snapshot) leaves room for
    // exactly ONE 36 MB raster under the 128 MB budget — so a 3-frame
    // animation retains 1 composed frame instead of 3, rather than
    // allocating ~200 MB for one document
    val px = 4000L * 3000L
    assert((Multimodal.MaxAnimationBytes - 8L * px) / (3L * px) === 1L)
    val bytes = animatedGifBytes((0 until 3).map(i =>
      (solid(4000, 3000, (i * 91 + 5) & 0xffffff), 0, 0, "none")))
    val d = Multimodal.decode(bytes)
    assert((d.kind, d.width, d.height) === ("image", 4000L, 3000L))
    assert(d.nFrames === Some(3L))
    assert(d.frames.length === 1)
  }

  /** Hand-crafted GIF bytes with arbitrary per-frame ImageDescriptor
    * dimensions — the ImageIO writer can only declare dims matching a real
    * raster, but a hostile payload declares whatever it likes. Each
    * frame's LZW data is a minimal clear+EOI stream (structure-valid, no
    * pixels), which is all header-level parsing ever touches. */
  private def rawGifBytes(screenW: Int, screenH: Int,
      frameDims: Seq[(Int, Int)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(screenW); u16(screenH)
    out.write(0xf0); out.write(0); out.write(0) // 2-entry global color table
    out.write(Array[Byte](0, 0, 0, -1, -1, -1), 0, 6)
    frameDims.foreach { case (w, h) =>
      out.write(0x2c) // image separator
      u16(0); u16(0); u16(w); u16(h)
      out.write(0x00) // no local color table
      out.write(0x02) // LZW min code size
      out.write(0x01); out.write(0x2c) // sub-block: clear(100b)+EOI(101b) LSB-packed
      out.write(0x00) // block terminator
    }
    out.write(0x3b)
    out.toByteArray
  }

  test("hostile GIF frame descriptor larger than the screen degrades, not OOMs") {
    // frame dims are INDEPENDENT of the logical screen: an 8x6 screen
    // passes the canvas budget, but the frame's own descriptor declares
    // 30000x30000 — read(i) would allocate a ~3.6 GB ARGB raster whose
    // OutOfMemoryError no NonFatal catch sees. The header check must trip
    // BEFORE decode; the generic leg then keeps header dims + container
    // bytes without decoding either (3*w*h over the JVM array max).
    val d = Multimodal.decode(rawGifBytes(8, 6, Seq((30000, 30000), (8, 6))))
    assert((d.kind, d.width, d.height) === ("image", 30000L, 30000L))
    assert(d.nFrames.isEmpty)
    assert(d.pixels.isEmpty)
  }

  test("hostile single-frame GIF with a huge descriptor degrades, not OOMs") {
    val d = Multimodal.decode(rawGifBytes(8, 6, Seq((30000, 30000))))
    assert((d.kind, d.width, d.height) === ("image", 30000L, 30000L))
    assert(d.nFrames.isEmpty)
    assert(d.pixels.isEmpty)
  }

  test("the budget gap between the GIF and array-max guards is closed (r14 review)") {
    // 25000x25000 = 625 Mpx: over the animated leg's frame budget AND
    // over MaxImageBytes, but UNDER the old generic-leg guard (3*w*h <=
    // Int.MaxValue) — pre-review, the GIF leg's refusal fell through to a
    // generic read(0) that allocated ~2.5 GB for a few hundred bytes of
    // input. Both legs must refuse before decode; header dims survive.
    assert(3L * 25000 * 25000 <= Int.MaxValue - 8) // the gap being tested
    val d = Multimodal.decode(rawGifBytes(8, 6, Seq((25000, 25000))))
    assert((d.kind, d.width, d.height) === ("image", 25000L, 25000L))
    assert(d.pixels.isEmpty)
  }

  test("hostile PNG header over the image budget degrades without decoding") {
    // hand-built PNG: real signature + IHDR declaring 26000x27000 (702
    // Mpx, ~4.9 GB transient at 7 B/px) and NO pixel data — getWidth
    // parses only the header, so the budget check must refuse before any
    // read() (which would fail loudly AFTER attempting the allocation)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = new java.io.ByteArrayOutputStream()
    ihdr.write("IHDR".getBytes("US-ASCII"))
    def be32(v: Int): Unit =
      ihdr.write(Array((v >> 24) & 0xff, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff).map(_.toByte))
    be32(26000); be32(27000)
    ihdr.write(Array[Int](8, 2, 0, 0, 0).map(_.toByte)) // depth 8, RGB
    val body = ihdr.toByteArray
    val crc = new java.util.zip.CRC32(); crc.update(body)
    out.write(Array[Int](0, 0, 0, 13).map(_.toByte)) // IHDR data length
    out.write(body)
    val c = crc.getValue
    out.write(Array(((c >> 24) & 0xff).toInt, ((c >> 16) & 0xff).toInt,
      ((c >> 8) & 0xff).toInt, (c & 0xff).toInt).map(_.toByte))
    val d = Multimodal.decode(out.toByteArray)
    assert((d.kind, d.width, d.height) === ("image", 26000L, 27000L))
    assert(d.pixels.isEmpty)
  }

  test("a logical screen too large for even one budgeted frame degrades, not OOMs") {
    // 5000x3000: the canvas pair alone (120 MB) leaves < one raster of
    // budget -> the animated leg bails and the generic single-frame path
    // takes over (real dims, no nFrames override) — the hostile-GIF
    // 'never kill the task' contract
    val px = 5000L * 3000L
    assert((Multimodal.MaxAnimationBytes - 8L * px) / (3L * px) < 1L)
    val bytes = animatedGifBytes((0 until 2).map(i =>
      (solid(5000, 3000, (i * 91 + 5) & 0xffffff), 0, 0, "none")))
    val d = Multimodal.decode(bytes)
    assert((d.kind, d.width, d.height) === ("image", 5000L, 3000L))
    assert(d.nFrames.isEmpty)
  }

  test("single-frame GIF keeps the plain image leg (no nFrames override)") {
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(solid(20, 10, 0x123456), "gif", out))
    val d = Multimodal.decode(out.toByteArray)
    assert((d.kind, d.width, d.height) === ("image", 20L, 10L))
    assert(d.nFrames.isEmpty)
  }

  test("decode reads a real BMP: true dimensions") {
    val d = Multimodal.decode(imageBytes("bmp", 5, 3))
    assert((d.kind, d.width, d.height) === ("image", 5L, 3L))
  }

  test("corrupt image magic falls back to the deterministic stub") {
    // BMP magic is printable ASCII — text can impersonate it
    def sig(d: Multimodal.Decoded) = (d.kind, d.width, d.height, d.frames.map(_.toSeq))
    val fake = "BM this is not a bitmap, just text".getBytes("UTF-8")
    assert(sig(Multimodal.decode(fake)) === sig(Multimodal.fakeDecode(fake)))
    // corrupt PNG: right magic, garbage body
    val png = imageBytes("png", 8, 8).take(16) ++ Array.fill[Byte](64)(0x5a)
    assert(sig(Multimodal.decode(png)) === sig(Multimodal.fakeDecode(png)))
  }

  test("features() extracts true dimensions for real image payloads") {
    val s = graft.SparkSuite.spark
    import s.implicits._
    val png = imageBytes("png", 48, 40) // longer edge 48 > ThumbMax → resize
    val docs = Seq((1L, png)).toDF("doc_id", "content")
    val row = Multimodal.features(docs, s).collect()(0)
    assert((row.kind, row.width, row.height) === ("image", 48L, 40L))
    assert((row.thumb_w, row.thumb_h) === (32L, 40L * 32 / 48))
    // the frame hash keys on DECODED PIXELS (audio-leg contract), not the
    // container encoding
    val rgb = Multimodal.rgbBytes(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png)))
    assert(row.frame0_hash === Multimodal.md5hex(rgb.take(256)))
    // and the thumbnail is REAL pixels: the nearest-neighbor downsample of
    // the decoded raster, hashed
    assert(row.thumb_hash ===
      Multimodal.md5hex(Multimodal.thumbnailRgb(rgb, 48, 40, 32, 26)))
  }

  test("features() reports a null thumb_hash when there is no raster") {
    val s = graft.SparkSuite.spark
    import s.implicits._
    val docs = Seq((1L, "just text, stub-decoded".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    assert(Multimodal.features(docs, s).collect()(0).thumb_hash === null)
  }

  test("identical pixels hash identically across container formats") {
    // the point of the pixel-keyed contract: a PNG and a BMP of the same
    // raster are the SAME content to dedup/features
    val png = Multimodal.decode(imageBytes("png", 9, 7))
    val bmp = Multimodal.decode(imageBytes("bmp", 9, 7))
    assert(png.frames.head.toSeq === bmp.frames.head.toSeq)
  }

  test("thumbnailRgb is a deterministic nearest-neighbor downsample") {
    // 2×2 RGB quadrants → 1×1 picks the top-left source pixel
    val rgb = Array[Byte](
      10, 11, 12,   20, 21, 22,
      30, 31, 32,   40, 41, 42)
    assert(Multimodal.thumbnailRgb(rgb, 2, 2, 1, 1).toSeq === Seq[Byte](10, 11, 12))
    // 2×2 → 2×1 keeps the top row
    assert(Multimodal.thumbnailRgb(rgb, 2, 2, 2, 1).toSeq
      === Seq[Byte](10, 11, 12, 20, 21, 22))
    // full-size is the identity
    assert(Multimodal.thumbnailRgb(rgb, 2, 2, 2, 2).toSeq === rgb.toSeq)
  }

  // ---- the REAL audio leg (JDK javax.sound.sampled) ------------------

  /** A real 16-bit mono PCM WAV authored through the JDK's own writer. */
  private def wavBytes(nFrames: Int, channels: Int = 1): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, channels, true, false)
    val pcm = Array.tabulate[Byte](nFrames * fmt.getFrameSize)(i => ((i * 13 + 5) % 251).toByte)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("decode reads a real WAV: true frame/channel counts, PCM frames") {
    val wav = wavBytes(1000)
    val d = Multimodal.decode(wav)
    assert(d.kind === "audio")
    assert((d.width, d.height) === (1000L, 1L)) // 1000 sample frames, mono
    // frames walk the DECODED PCM (2000 bytes → 8 blocks), not the
    // container (2044 bytes with the RIFF header)
    assert(d.frames.size === 8)
    assert(d.frames.head.length === 256)
    val stereo = Multimodal.decode(wavBytes(250, channels = 2))
    assert((stereo.width, stereo.height) === (250L, 2L))
  }

  test("non-PCM audio (µ-law AU) decodes through the PCM converter") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val pcmFmt = new AudioFormat(8000f, 16, 1, true, false)
    val pcm = Array.tabulate[Byte](500 * 2)(i => ((i * 11 + 3) % 199).toByte)
    val src = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), pcmFmt, 500L)
    val ulaw = AudioSystem.getAudioInputStream(
      new AudioFormat(AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false), src)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ulaw, AudioFileFormat.Type.AU, out)
    val d = Multimodal.decode(out.toByteArray)
    assert((d.kind, d.width, d.height) === ("audio", 500L, 1L))
    // frames walk the CONVERTED 16-bit PCM (500 × 2 bytes), not the
    // 1-byte-per-frame µ-law container payload
    assert(d.frames.map(_.length).sum === 1000)
  }

  test("corrupt audio magic falls back to the deterministic stub") {
    def sig(d: Multimodal.Decoded) = (d.kind, d.width, d.height, d.frames.map(_.toSeq))
    val fake = "RIFFxxxxWAVE but not really a wave file".getBytes("UTF-8")
    assert(sig(Multimodal.decode(fake)) === sig(Multimodal.fakeDecode(fake)))
  }

  test("features() extracts true audio properties for real WAV payloads") {
    val s = graft.SparkSuite.spark
    import s.implicits._
    val wav = wavBytes(300)
    val docs = Seq((1L, wav)).toDF("doc_id", "content")
    val row = Multimodal.features(docs, s).collect()(0)
    assert((row.kind, row.width, row.height) === ("audio", 300L, 1L))
    assert(row.n_frames === 3L) // 600 PCM bytes → 3 blocks
  }

  // --- video container fixtures ------------------------------------------

  private def be(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v).array()

  private def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be(body.length + 8) ++ tpe.getBytes("US-ASCII") ++ body
  }

  /** A minimal but structurally true MP4: ftyp + moov(trak(tkhd v0 with
    * 16.16 dims, mdia/minf/stbl/stts with two runs of samples)). */
  private def mp4Bytes(w: Int, h: Int): Array[Byte] = {
    val tkhd = {
      val p = new Array[Byte](84) // v0 payload: width at 76, height at 80
      System.arraycopy(be(w << 16), 0, p, 76, 4)
      System.arraycopy(be(h << 16), 0, p, 80, 4)
      box("tkhd", p)
    }
    // stts: version/flags, entry_count=2, runs of 24 + 18 samples
    val stts = box("stts", be(0), be(2), be(24), be(1000), be(18), be(500))
    val trak = box("trak", tkhd, box("mdia", box("minf", box("stbl", stts))))
    box("ftyp", "isom".getBytes("US-ASCII"), be(0)) ++ box("moov", trak)
  }

  test("decode reads real MP4 container metadata: tkhd dims + stts frame count") {
    val d = Multimodal.decode(mp4Bytes(320, 240))
    assert((d.kind, d.width, d.height) === ("video", 320L, 240L))
    assert(d.nFrames === Some(42L)) // 24 + 18 from the two stts runs
  }

  private def le(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  /** A minimal RIFF AVI: hdrl LIST with the avih main header (56 bytes,
    * all little-endian). */
  private def aviBytes(w: Int, h: Int, frames: Int): Array[Byte] = {
    val avihBody = new Array[Byte](56)
    System.arraycopy(le(frames), 0, avihBody, 16, 4) // dwTotalFrames
    System.arraycopy(le(w), 0, avihBody, 32, 4) // dwWidth
    System.arraycopy(le(h), 0, avihBody, 36, 4) // dwHeight
    val avih = "avih".getBytes("US-ASCII") ++ le(56) ++ avihBody
    val hdrl = "LIST".getBytes("US-ASCII") ++ le(4 + avih.length) ++
      "hdrl".getBytes("US-ASCII") ++ avih
    "RIFF".getBytes("US-ASCII") ++ le(4 + hdrl.length) ++
      "AVI ".getBytes("US-ASCII") ++ hdrl
  }

  test("decode reads real AVI container metadata: avih dims + total frames") {
    val d = Multimodal.decode(aviBytes(640, 480, 99))
    assert((d.kind, d.width, d.height) === ("video", 640L, 480L))
    assert(d.nFrames === Some(99L))
  }

  private def jpegBytes(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (x * 37 + y * 101 + seed * 7919) & 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** A structurally true MJPEG AVI: hdrl declares a vids/MJPG stream
    * (strh + strf BITMAPINFOHEADER with biCompression MJPG), movi carries
    * one `00dc` JPEG chunk per frame. */
  private def mjpegAviBytes(frames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
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

  test("MJPEG-in-AVI decodes REAL frame pixels through the image leg") {
    val f0 = jpegBytes(48, 32, 1)
    val f1 = jpegBytes(48, 32, 2)
    val d = Multimodal.decode(mjpegAviBytes(Seq(f0, f1), 48, 32))
    assert((d.kind, d.width, d.height) === ("video", 48L, 32L))
    assert(d.nFrames === Some(2L))
    // golden: each frame is the same RGB raster ImageIO yields for the
    // bare JPEG — decoded signal content, not container byte blocks
    def raster(jpeg: Array[Byte]): Seq[Byte] = Multimodal.rgbBytes(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))).toSeq
    assert(d.frames.map(_.toSeq) === Seq(raster(f0), raster(f1)))
    // frame 0's raster is exposed as pixels → the feature job can build a
    // REAL thumbnail for this one genuine video format
    assert(d.pixels.map(_.toSeq) === Some(raster(f0)))
  }

  test("MJPEG retention is byte-budgeted, not just frame-capped") {
    // 4200x3600 frames are ~45.4 MB of raster each: 2 fit the 128 MB
    // budget, the 3rd does not — retention must stop at 2 instead of
    // holding 3 x 45 MB (the hostile-8K-stream OOM class the GIF leg
    // already budgets)
    val (w, h) = (4200, 3600)
    val per = 3L * w * h
    assert(per * 2 <= Multimodal.MaxAnimationBytes)
    assert(per * 3 > Multimodal.MaxAnimationBytes)
    def bigJpeg(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", out))
      out.toByteArray
    }
    val frames = Seq(bigJpeg(0x802020), bigJpeg(0x208020), bigJpeg(0x202080))
    val d = Multimodal.decode(mjpegAviBytes(frames, w, h))
    assert((d.kind, d.width, d.height) === ("video", w.toLong, h.toLong))
    assert(d.nFrames === Some(3L))
    assert(d.frames.length === 2)
  }

  test("MJPEG decode caps retained rasters; nFrames stays the container count") {
    // 3× the cap: decoding must SAMPLE (every k-th, frame 0 included),
    // not retain every raster — ADVICE r9's 11 GB single-row blow-up
    val n = Multimodal.MaxDecodedFrames * 3
    val frames = (0 until n).map(i => jpegBytes(16, 16, i))
    val d = Multimodal.decode(mjpegAviBytes(frames, 16, 16))
    assert(d.kind === "video")
    assert(d.nFrames === Some(n.toLong))
    assert(d.frames.size === Multimodal.MaxDecodedFrames)
    def raster(jpeg: Array[Byte]): Seq[Byte] = Multimodal.rgbBytes(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))).toSeq
    // frame 0 is always in the sample and feeds the thumbnail
    assert(d.frames.head.toSeq === raster(frames.head))
    assert(d.pixels.map(_.toSeq) === Some(raster(frames.head)))
    // the sample is every-k-th, not the first k: the second retained
    // raster is frame `stride`, not frame 1
    assert(d.frames(1).toSeq === raster(frames(3)))
  }

  test("features() emits a real thumbnail hash for MJPEG video payloads") {
    val s = graft.SparkSuite.spark
    import s.implicits._
    val avi = mjpegAviBytes(Seq(jpegBytes(40, 40, 3)), 40, 40)
    val docs = Seq((1L, avi), (2L, aviBytes(320, 200, 7))).toDF("doc_id", "content")
    val rows = Multimodal.features(docs, s).collect().sortBy(_.doc_id)
    assert(rows(0).kind === "video")
    assert(rows(0).n_frames === 1L)
    assert(rows(0).thumb_hash !== null) // real pixels → real thumbnail
    assert(rows(1).thumb_hash === null) // metadata-only AVI keeps the stub walk
  }

  test("corrupt video magic falls back to the deterministic stub") {
    def sig(d: Multimodal.Decoded) = (d.kind, d.width, d.height, d.nFrames)
    // ftyp magic but no moov box anywhere
    val fakeMp4 = be(16) ++ "ftyp".getBytes("US-ASCII") ++ new Array[Byte](300)
    assert(sig(Multimodal.decode(fakeMp4)) === sig(Multimodal.fakeDecode(fakeMp4)))
    // AVI magic but truncated before any header
    val fakeAvi = ("RIFF" + "xxxx" + "AVI " + "xtra").getBytes("ISO-8859-1")
    assert(sig(Multimodal.decode(fakeAvi)) === sig(Multimodal.fakeDecode(fakeAvi)))
  }

  test("features() reports container frame counts for video payloads") {
    val s = graft.SparkSuite.spark
    import s.implicits._
    val docs = Seq((1L, mp4Bytes(128, 96)), (2L, aviBytes(320, 200, 7)))
      .toDF("doc_id", "content")
    val rows = Multimodal.features(docs, s).collect().sortBy(_.doc_id)
    assert((rows(0).kind, rows(0).width, rows(0).height, rows(0).n_frames)
      === ("video", 128L, 96L, 42L))
    assert((rows(1).kind, rows(1).width, rows(1).height, rows(1).n_frames)
      === ("video", 320L, 200L, 7L))
  }

  // ---- perceptual image near-dup -------------------------------------------

  /** Deterministic test raster: 32×32 smooth gradient with a bright
    * square — structured enough that the 8×8 block means differ. */
  private def gradientImage(dark: Boolean = false): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) {
      val v0 = (x * 4 + y * 3) & 0xff
      val v = if (dark) 255 - v0 else v0
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    for (y <- 4 until 12; x <- 20 until 28)
      img.setRGB(x, y, if (dark) 0 else 0xffffff)
    img
  }

  private def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  test("aHash64: re-encode invariant, perturbation tolerant, inversion far") {
    def hashOf(bytes: Array[Byte]): Long = {
      val d = Multimodal.decodeImage(bytes).get
      Multimodal.aHash64(d.pixels.get, d.width.toInt, d.height.toInt)
    }
    val base = gradientImage()
    // identical pixels through DIFFERENT encoders hash identically —
    // the invariance content-hash dedup lacks
    assert(hashOf(encode(base, "png")) === hashOf(encode(base, "bmp")))
    // a small edit (one corner pixel) moves at most a couple of bits
    val edited = gradientImage()
    edited.setRGB(0, 0, 0xff0000)
    val hm = java.lang.Long.bitCount(hashOf(encode(base, "png")) ^ hashOf(encode(edited, "png")))
    assert(hm <= 2, s"1-pixel edit moved $hm bits")
    // the inverted image is far (every block flips relative to the mean)
    val far = java.lang.Long.bitCount(
      hashOf(encode(base, "png")) ^ hashOf(encode(gradientImage(dark = true), "png")))
    assert(far >= 20, s"inversion only $far bits away")
  }

  test("audioHash64: re-encode invariant, perturbation tolerant, re-level far") {
    def pcmOf(bytes: Array[Byte]): Array[Byte] =
      Multimodal.decodeAudio(bytes).get.frames.toArray.flatten
    def hashOf(bytes: Array[Byte]): Long = Multimodal.audioHash64(pcmOf(bytes))
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def wavOf(pcm: Array[Byte]): Array[Byte] = {
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, (pcm.length / 2).toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val base = Multimodal.synthWav("srcA", 0L)
    // decode → re-encode → decode: the hash keys on SIGNAL, not container
    // bytes (a different WAV writer producing different chunk padding
    // must not move a single bit)
    assert(hashOf(base) === hashOf(wavOf(pcmOf(base))))
    // the near class: a ≤3-sample silencing moves at most a few bits
    val near = java.lang.Long.bitCount(
      hashOf(base) ^ hashOf(Multimodal.synthWav("srcA", 2L)))
    assert(near <= 6, s"3-sample edit moved $near bits")
    // the far class: re-leveling the second half moves many
    val far = java.lang.Long.bitCount(
      hashOf(base) ^ hashOf(Multimodal.synthWav("srcA", 1L)))
    assert(far > 6, s"half re-level only $far bits away")
    // different SOURCES are unrelated signals — far apart
    val cross = java.lang.Long.bitCount(
      hashOf(base) ^ hashOf(Multimodal.synthWav("srcB", 0L)))
    assert(cross > 6, s"cross-source only $cross bits away")
  }

  test("audioNeardup pairs the near-copy, skips the re-level and the corrupt blob") {
    val s = graft.SparkSuite.spark
    import s.implicits._
    val auds = Seq(
      (1L, Multimodal.synthWav("srcA", 0L)),
      (2L, Multimodal.synthWav("srcA", 2L)), // ≤3 silenced samples: near 1
      (3L, Multimodal.synthWav("srcA", 1L)), // re-leveled half: far
      (4L, "not audio at all".getBytes("UTF-8"))) // undecodable → drops out
      .toDF("id", "content")
    def run(parts: Int) = Multimodal.audioNeardup(auds.repartition(parts))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(1) === Set((1L, 2L)))
    // partitioning must not change the pair set (bounded-engine contract)
    assert(run(5) === Set((1L, 2L)))
  }

  test("imageNeardup pairs the near-copy, skips the stranger and the corrupt blob") {
    val s = graft.SparkSuite.spark
    import s.implicits._
    val edited = gradientImage()
    edited.setRGB(0, 0, 0xff0000)
    val imgs = Seq(
      (1L, encode(gradientImage(), "png")),
      (2L, encode(edited, "png")), // near-copy of 1
      (3L, encode(gradientImage(dark = true), "png")), // far
      (4L, "not an image at all".getBytes("UTF-8"))) // undecodable → drops out
      .toDF("id", "content")
    def run(parts: Int) = Multimodal.imageNeardup(imgs.repartition(parts))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(1) === Set((1L, 2L)))
    // partitioning must not change the pair set (bounded-engine contract)
    assert(run(5) === Set((1L, 2L)))
  }

  test("video fingerprint: container-rewrite/tail-frame invariant, perturbation tolerant") {
    // the fingerprint is frame 0's aHash over the REALLY decoded raster
    def hashOf(avi: Array[Byte]): Long = {
      val d = Multimodal.decode(avi)
      assert(d.kind === "video", "fixture must route through the MJPEG leg")
      Multimodal.aHash64(d.pixels.get, d.width.toInt, d.height.toInt)
    }
    val base = Multimodal.synthMjpegAvi("srcA", 0L)
    val d0 = Multimodal.decode(base)
    val frame0 = d0.frames.head
    def jpegOfRaster(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val i = (y * w + x) * 3
        img.setRGB(x, y, ((rgb(i) & 0xff) << 16) | ((rgb(i + 1) & 0xff) << 8)
          | (rgb(i + 2) & 0xff))
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    // container REWRITE: the decoded frame 0 re-encoded (a second lossy
    // JPEG generation) into a fresh AVI with a different frame count —
    // the fingerprint must stay within the near tolerance
    val rewrapped = Multimodal.mjpegAviOf(
      Seq(jpegOfRaster(frame0, d0.width.toInt, d0.height.toInt)),
      d0.width.toInt, d0.height.toInt)
    val reenc = java.lang.Long.bitCount(hashOf(base) ^ hashOf(rewrapped))
    assert(reenc <= 6, s"re-encode + container rewrite moved $reenc bits")
    // TAIL-frame independence: same doc class (even → same frame 0
    // perturbation size ≤ 3 px) with a different per-doc tail frame
    val near = java.lang.Long.bitCount(
      hashOf(base) ^ hashOf(Multimodal.synthMjpegAvi("srcA", 2L)))
    assert(near <= 6, s"3-pixel frame-0 edit moved $near bits")
    // the far class: odd docs repaint half of frame 0
    val far = java.lang.Long.bitCount(
      hashOf(base) ^ hashOf(Multimodal.synthMjpegAvi("srcA", 1L)))
    assert(far > 6, s"half repaint only $far bits away")
    // different sources are unrelated rasters
    val cross = java.lang.Long.bitCount(
      hashOf(base) ^ hashOf(Multimodal.synthMjpegAvi("srcB", 0L)))
    assert(cross > 6, s"cross-source only $cross bits away")
  }

  test("videoNeardup pairs the near clip (MJPEG + animated GIF), skips far/still/corrupt") {
    val s = graft.SparkSuite.spark
    import s.implicits._
    // an animated near-copy pair through the GIF leg: the composed first
    // frame matches the MJPEG fixtures' base raster class is not needed —
    // author a 2-frame GIF whose frame 0 equals another 2-frame GIF's
    val gifA = animatedGif(Seq(0x808080, 0x202020))
    val gifB = animatedGif(Seq(0x808080, 0xe0e0e0)) // same frame 0, new tail
    val vids = Seq(
      (1L, Multimodal.synthMjpegAvi("srcA", 0L)),
      (2L, Multimodal.synthMjpegAvi("srcA", 2L)), // ≤3 px frame-0 edit: near 1
      (3L, Multimodal.synthMjpegAvi("srcA", 1L)), // half repaint: far
      (4L, gifA),
      (5L, gifB), // identical first frame: near 4 at hamming 0
      (6L, encode(gradientImage(), "png")), // STILL image: out of scope
      (7L, "not a video at all".getBytes("UTF-8"))) // undecodable → drops out
      .toDF("id", "content")
    def run(parts: Int) = Multimodal.videoNeardup(vids.repartition(parts))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(1) === Set((1L, 2L), (4L, 5L)))
    // partitioning must not change the pair set (bounded-engine contract)
    assert(run(5) === Set((1L, 2L), (4L, 5L)))
  }

  test("videoSceneNeardup: edit-tolerance BOTH ways vs the frame-0 rung") {
    val s = graft.SparkSuite.spark
    import s.implicits._
    // scened clips: frame 0 is a doc-unique "edit", frame 1 carries the
    // classes — docs 0/2 share srcS's scene (≤3-px perturbations), doc 1
    // has no shared scene
    val vids = Seq(
      (1L, Multimodal.synthMjpegAviScened("srcS", 0L)),
      (2L, Multimodal.synthMjpegAviScened("srcS", 2L)),
      (3L, Multimodal.synthMjpegAviScened("srcS", 1L)))
      .toDF("id", "content")
    val scenePairs = Multimodal.videoSceneNeardup(vids)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scenePairs === Set((1L, 2L)),
      s"the shared later scene must pair the first-frame-edited clips, got $scenePairs")
    // …which the declared frame-0 rung is structurally blind to
    assert(Multimodal.videoNeardup(vids).collect().isEmpty,
      "frame-0 hashing must see nothing on a corpus whose first frames are edits")
    // the other direction: LAST-frame-edited clips (synthMjpegAvi —
    // shared frame 0, doc-unique frame 1) pair under BOTH rungs
    val tails = Seq(
      (4L, Multimodal.synthMjpegAvi("srcT", 0L)),
      (5L, Multimodal.synthMjpegAvi("srcT", 2L)))
      .toDF("id", "content")
    assert(Multimodal.videoNeardup(tails)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((4L, 5L)))
    assert(Multimodal.videoSceneNeardup(tails)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((4L, 5L)))
    // a clip never scene-matches ITSELF (same-clip frame bands drop)
    assert(!scenePairs.exists(p => p._1 == p._2))
  }

  /** A real multi-frame GIF (ImageIO gif writer, one image per frame)
    * with solid-color full-canvas frames. */
  private def animatedGif(colors: Seq[Int]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      w.setOutput(ios)
      w.prepareWriteSequence(null)
      colors.foreach { c =>
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        g.setColor(new java.awt.Color(c)); g.fillRect(0, 0, 16, 16); g.dispose()
        w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      w.endWriteSequence()
    } finally { w.dispose(); ios.close() }
    bos.toByteArray
  }
}

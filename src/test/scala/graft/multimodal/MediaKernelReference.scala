package graft.multimodal

/** The media tier's window loops and mdat walk as they stood before
  * [[Multimodal]]'s envelope kernel ([[Multimodal.windowMeans]],
  * [[Multimodal.fingerprint65]], [[Multimodal.signBits]]) and the
  * `boxAt`-based [[Mp4Codec.mdatPayload]] replaced them: each
  * envelope and fingerprint with its own window loop, 16-bit sample read
  * and sign-bit loop. Kept verbatim as the differential reference for
  * [[MediaKernelSpec]] — same names and signatures as the functions they
  * pin.
  */
object MediaKernelReference {

  // Multimodal
  def envelopeShingles(e: Array[Double],
                       maxShingles: Int): Seq[(Int, Long)] = {
    val n = math.min(math.max(e.length - 64, 0), maxShingles)
    (0 until n).map { s =>
      var fp = 0L
      var b = 0
      while (b < 64) {
        if (e(s + b + 1) > e(s + b)) fp |= 1L << b
        b += 1
      }
      (s, fp)
    }
  }

  // WavCodec
  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  private def pcm16Info(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE")
      return None
    var off = 12
    var channels = 0; var bits = 0; var blockAlign = 0
    var dataOff = -1; var dataSize = -1L
    while (off + 8 <= bytes.length && (dataSize < 0 || channels == 0)) {
      val id = tag(bytes, off)
      val size = le32(bytes, off + 4)
      if (off + 8 + size > bytes.length) return None
      if (id == "fmt " && size >= 16 && off + 24 <= bytes.length) {
        channels = le16(bytes, off + 10)
        blockAlign = le16(bytes, off + 20)
        bits = le16(bytes, off + 22)
      } else if (id == "data") { dataOff = off + 8; dataSize = size }
      off += 8 + size.toInt + (size.toInt & 1)
    }
    if (channels <= 0 || bits != 16 || blockAlign <= 0 || dataOff < 0) None
    else Some((dataOff, blockAlign, (dataSize / blockAlign).toInt))
  }

  def audioEnvelopeFixed(bytes: Array[Byte],
                         windowFrames: Int): Option[Array[Double]] = {
    require(windowFrames >= 1, s"windowFrames must be >= 1, got $windowFrames")
    pcm16Info(bytes).flatMap { case (dataOff, blockAlign, n) =>
      val nW = n / windowFrames
      if (nW < 1) None
      else Some(Array.tabulate(nW) { w =>
        var s = 0.0
        var f = w * windowFrames
        val end = f + windowFrames
        while (f < end) {
          val o = dataOff + f * blockAlign
          val v = ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort
          s += math.abs(v.toDouble)
          f += 1
        }
        s / windowFrames
      })
    }
  }

  /** [[audioEnvelopeFixed]] with OVERLAPPING windows: window w covers
    * frames [w·hopFrames, w·hopFrames + windowFrames), full windows only.
    * Overlap is what buys SUB-window shift tolerance downstream
    * ([[Multimodal.audioDupPairsShiftedOverlap]]): a copy trimmed by any
    * multiple of hopFrames frames reproduces the original's envelope
    * shifted by whole positions, so the shingled fingerprints realign —
    * the non-overlapping grid (hop = window) only survives whole-WINDOW
    * trims. Tolerance granularity = hopFrames at a (windowFrames /
    * hopFrames)× row fan-out; hop = window degenerates to the fixed grid.
    */
  def audioEnvelopeOverlap(bytes: Array[Byte], windowFrames: Int,
                           hopFrames: Int): Option[Array[Double]] = {
    require(windowFrames >= 1, s"windowFrames must be >= 1, got $windowFrames")
    require(hopFrames >= 1 && hopFrames <= windowFrames,
      s"need 1 <= hopFrames <= windowFrames, got $hopFrames")
    pcm16Info(bytes).flatMap { case (dataOff, blockAlign, n) =>
      if (n < windowFrames) None
      else Some(Array.tabulate((n - windowFrames) / hopFrames + 1) { w =>
        var s = 0.0
        var f = w * hopFrames
        val end = f + windowFrames
        while (f < end) {
          val o = dataOff + f * blockAlign
          val v = ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort
          s += math.abs(v.toDouble)
          f += 1
        }
        s / windowFrames
      })
    }
  }

  def audioFingerprint(bytes: Array[Byte]): Option[Long] = {
    val info = pcm16Info(bytes)
    if (info.isEmpty) return None
    val (dataOff, blockAlign, n) = info.get
    if (n < 65) return None
    val energy = new Array[Double](65)
    var w = 0
    while (w < 65) {
      val lo = (w.toLong * n / 65).toInt
      val hi = ((w + 1).toLong * n / 65).toInt
      var s = 0.0
      var f = lo
      while (f < hi) {
        val o = dataOff + f * blockAlign
        val v = ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort
        s += math.abs(v.toDouble)
        f += 1
      }
      energy(w) = s / (hi - lo)
      w += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (energy(b + 1) > energy(b)) fp |= 1L << b
      b += 1
    }
    Some(fp)
  }

  // Mp4Codec
  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)

  def mdatPayload(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < 8) return None
    var off = 0
    while (off + 8 <= bytes.length) {
      val size32 = be32(bytes, off)
      val name = tag(bytes, off + 4)
      // ISO 14496-12 §4.2 size escapes: size==1 → a 64-bit largesize
      // follows the type (how real-world >4 GB mdats are written, so
      // skipping it would drop exactly the large files on a real corpus);
      // size==0 → the box extends to end of file (legal for a last box).
      val (size, hdr) =
        if (size32 == 1L) {
          if (off + 16 > bytes.length) return None
          (be64(bytes, off + 8), 16)
        } else if (size32 == 0L) ((bytes.length - off).toLong, 8)
        else (size32, 8)
      if (size < hdr || off + size > bytes.length) return None
      if (name == "mdat")
        return Some(bytes.slice(off + hdr, (off + size).toInt))
      off += size.toInt
    }
    None
  }

  def videoEnvelopeFixed(bytes: Array[Byte],
                         windowBytes: Int): Option[Array[Double]] = {
    require(windowBytes >= 1, s"windowBytes must be >= 1, got $windowBytes")
    mdatPayload(bytes).flatMap { p =>
      val nW = p.length / windowBytes
      if (nW < 1) None
      else Some(Array.tabulate(nW) { w =>
        var s = 0.0
        var i = w * windowBytes
        val end = i + windowBytes
        while (i < end) { s += (p(i) & 0xff); i += 1 }
        s / windowBytes
      })
    }
  }

  def videoEnvelopeOverlap(bytes: Array[Byte], windowBytes: Int,
                           hopBytes: Int): Option[Array[Double]] = {
    require(windowBytes >= 1, s"windowBytes must be >= 1, got $windowBytes")
    require(hopBytes >= 1 && hopBytes <= windowBytes,
      s"need 1 <= hopBytes <= windowBytes, got $hopBytes")
    mdatPayload(bytes).flatMap { p =>
      if (p.length < windowBytes) None
      else Some(Array.tabulate((p.length - windowBytes) / hopBytes + 1) { w =>
        var s = 0.0
        var i = w * hopBytes
        val end = i + windowBytes
        while (i < end) { s += (p(i) & 0xff); i += 1 }
        s / windowBytes
      })
    }
  }

  def videoFingerprint(bytes: Array[Byte]): Option[Long] =
    mdatPayload(bytes).filter(_.length >= 65).map { p =>
      val energy = new Array[Double](65)
      var w = 0
      while (w < 65) {
        val lo = (w.toLong * p.length / 65).toInt
        val hi = ((w + 1).toLong * p.length / 65).toInt
        var s = 0.0
        var i = lo
        while (i < hi) { s += (p(i) & 0xff); i += 1 }
        energy(w) = s / (hi - lo)
        w += 1
      }
      var fp = 0L
      var b = 0
      while (b < 64) {
        if (energy(b + 1) > energy(b)) fp |= 1L << b
        b += 1
      }
      fp
    }
}

package graft.multimodal

import java.security.MessageDigest

/** Minimal FLAC codec — REAL lossless audio encode + decode with zero
  * native dependencies, implemented from the public FLAC format
  * specification (RFC 9639). This closes the lossless-audio leg of the
  * multimodal surface: unlike the lossy MP3 sample tier (declared
  * stub), FLAC decode is exactly verifiable — decode(encode(pcm)) must
  * reproduce `pcm` bit-for-bit, and the stream itself carries three
  * layers of independent evidence (per-frame-header CRC-8, per-frame
  * CRC-16, whole-stream PCM MD5) that the decoder checks rather than
  * trusts.
  *
  * Scope (documented contract): mono 16-bit streams. The full subframe
  * surface is implemented on BOTH sides — CONSTANT, VERBATIM, FIXED
  * orders 0–4, and real LPC (autocorrelation + Levinson–Durbin,
  * quantized coefficients with shift) — with partitioned Rice
  * residuals (both 4-bit and 5-bit parameter methods, escape-to-raw
  * partitions, partition orders 0–4 on the encoder, arbitrary on the
  * decoder), UTF-8-coded frame numbers, wasted-bits handling on
  * decode, and unknown-metadata-block skipping. Stereo decorrelation
  * (left/side, mid/side) is out of scope with mono input.
  *
  * Reference semantics anchor: the reference routes audio-bearing
  * documents through typed extraction records
  * (`restaurant_etl/extractors/universal_extractor.py`); graft gives
  * the same corpus REAL decoded-sample statistics for FLAC payloads.
  */
object Flac {

  /** Exact integer decode result. `valid=false` rows carry zeros (the
    * crawl-scale contract: malformed payloads yield a row, never an
    * exception). `md5Ok` is the decoder's own end-to-end proof: the
    * MD5 of the samples it reconstructed equals the one the encoder
    * stamped into STREAMINFO.
    */
  final case class FlacInfo(
      sampleRate: Int, channels: Int, bitsPerSample: Int,
      nSamples: Long, durationMs: Long, sumSq: Long, peakAbs: Long,
      md5Ok: Boolean, valid: Boolean)

  private val Invalid = FlacInfo(0, 0, 0, 0L, 0L, 0L, 0L, md5Ok = false, valid = false)

  // ---------------------------------------------------------------- bits

  private[multimodal] final class BitWriter {
    private var buf = new Array[Byte](256)
    private var nBytes = 0
    private var acc = 0L // bits pending, MSB-aligned within low `nb` bits
    private var nb = 0

    def write(v: Long, bits: Int): Unit = {
      var rem = bits
      while (rem > 0) {
        val take = math.min(8 - nb, rem)
        val chunk = (v >>> (rem - take)) & ((1L << take) - 1)
        acc = (acc << take) | chunk
        nb += take
        rem -= take
        if (nb == 8) {
          if (nBytes == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
          buf(nBytes) = acc.toByte; nBytes += 1; acc = 0L; nb = 0
        }
      }
    }

    def writeUnary(q: Int): Unit = { write(0L, q); write(1L, 1) }

    def alignToByte(): Unit = if (nb != 0) write(0L, 8 - nb)

    /** snapshot of the byte-aligned output so far (also the final result). */
    def toBytes: Array[Byte] = { require(nb == 0, "unaligned"); java.util.Arrays.copyOf(buf, nBytes) }
  }

  private final class BitReader(bytes: Array[Byte], startByte: Int) {
    private var pos = startByte // byte position
    private var bit = 0 // bits consumed within bytes(pos)

    def bytePos: Int = pos
    def aligned: Boolean = bit == 0

    def read(bits: Int): Long = {
      var v = 0L
      var rem = bits
      while (rem > 0) {
        if (pos >= bytes.length) throw new IllegalStateException("eof")
        val avail = 8 - bit
        val take = math.min(avail, rem)
        val cur = bytes(pos) & 0xff
        val chunk = (cur >>> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | chunk
        bit += take
        rem -= take
        if (bit == 8) { bit = 0; pos += 1 }
      }
      v
    }

    def readSigned(bits: Int): Long = {
      val v = read(bits)
      val sign = 1L << (bits - 1)
      if ((v & sign) != 0) v - (sign << 1) else v
    }

    def readUnary(): Int = {
      var q = 0
      while (read(1) == 0) {
        q += 1
        if (q > (1 << 24)) throw new IllegalStateException("runaway unary")
      }
      q
    }

    def alignToByte(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  // ---------------------------------------------------------------- crc

  /** CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 — frame headers. */
  private[multimodal] def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff; b += 1 }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial 0x8005, init 0, unreflected — whole frames. */
  private[multimodal] def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xff) << 8
      var b = 0
      while (b < 8) { crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff; b += 1 }
      i += 1
    }
    crc
  }

  // ---------------------------------------------------------------- fixed predictors

  /** residual of fixed-order predictor `o` at position i (i >= o). */
  private def fixedResidual(s: Array[Int], i: Int, o: Int): Long = o match {
    case 0 => s(i).toLong
    case 1 => s(i).toLong - s(i - 1)
    case 2 => s(i).toLong - 2L * s(i - 1) + s(i - 2)
    case 3 => s(i).toLong - 3L * s(i - 1) + 3L * s(i - 2) - s(i - 3)
    case _ => s(i).toLong - 4L * s(i - 1) + 6L * s(i - 2) - 4L * s(i - 3) + s(i - 4)
  }

  private def fixedPredict(s: Array[Int], i: Int, o: Int): Long = o match {
    case 0 => 0L
    case 1 => s(i - 1).toLong
    case 2 => 2L * s(i - 1) - s(i - 2)
    case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
    case _ => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
  }

  // ---------------------------------------------------------------- rice

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  private def riceCost(res: Array[Long], from: Int, until: Int, p: Int): Long = {
    var c = 0L
    var i = from
    while (i < until) { c += (zigzag(res(i)) >>> p) + 1 + p; i += 1 }
    c
  }

  /** best (param, cost) for one partition, params 0..30. */
  private def bestRice(res: Array[Long], from: Int, until: Int): (Int, Long) = {
    var bp = 0; var bc = Long.MaxValue
    var p = 0
    while (p <= 30) {
      val c = riceCost(res, from, until, p)
      if (c < bc) { bc = c; bp = p }
      p += 1
    }
    (bp, bc)
  }

  /** Plan the partitioned-rice coding of a residual array: choose the
    * partition order (0..4) and per-partition params minimizing bits.
    * Returns (partitionOrder, params, totalBitsIncludingHeaders).
    */
  private def planResidual(res: Array[Long], n: Int, order: Int): (Int, Array[Int], Long) = {
    var best: (Int, Array[Int], Long) = null
    var po = 0
    while (po <= 4) {
      val parts = 1 << po
      if (n % parts == 0 && n / parts > order) {
        val params = new Array[Int](parts)
        var payload = 0L
        var k = 0
        var from = 0
        while (k < parts) {
          val len = n / parts - (if (k == 0) order else 0)
          val (p, c) = bestRice(res, from, from + len)
          params(k) = p; payload += c
          from += len; k += 1
        }
        // param field width is decided after all partitions are known
        val width = if (params.exists(_ > 14)) 5 else 4
        val bits = 2L + 4L + params.length.toLong * width + payload
        if (best == null || bits < best._3) best = (po, params, bits)
      }
      po += 1
    }
    best
  }

  private def writeResidual(w: BitWriter, res: Array[Long], n: Int, order: Int,
                            po: Int, params: Array[Int]): Unit = {
    val rice2 = params.exists(_ > 14)
    w.write(if (rice2) 1L else 0L, 2) // coding method
    w.write(po.toLong, 4)
    val parts = 1 << po
    val width = if (rice2) 5 else 4
    var k = 0
    var from = 0
    while (k < parts) {
      val len = n / parts - (if (k == 0) order else 0)
      w.write(params(k).toLong, width)
      var i = from
      while (i < from + len) {
        val u = zigzag(res(i))
        val q = (u >>> params(k)).toInt
        w.writeUnary(q)
        if (params(k) > 0) w.write(u & ((1L << params(k)) - 1), params(k))
        i += 1
      }
      from += len; k += 1
    }
  }

  // ---------------------------------------------------------------- lpc

  /** Levinson–Durbin over the plain autocorrelation; returns double
    * coefficients for the requested order, or null when degenerate.
    */
  private def levinson(s: Array[Int], order: Int): Array[Double] = {
    val n = s.length
    val autoc = new Array[Double](order + 1)
    var lag = 0
    while (lag <= order) {
      var sum = 0.0
      var i = lag
      while (i < n) { sum += s(i).toDouble * s(i - lag); i += 1 }
      autoc(lag) = sum
      lag += 1
    }
    if (autoc(0) == 0.0) return null
    var err = autoc(0)
    val lpc = new Array[Double](order)
    var i = 0
    while (i < order) {
      var acc = autoc(i + 1)
      var j = 0
      while (j < i) { acc -= lpc(j) * autoc(i - j); j += 1 }
      val k = acc / err
      lpc(i) = k
      j = 0
      while (j < i / 2) { val t = lpc(j); lpc(j) = t - k * lpc(i - 1 - j); lpc(i - 1 - j) -= k * t; j += 1 }
      if ((i & 1) == 1) lpc(i / 2) -= k * lpc(i / 2)
      err *= 1.0 - k * k
      if (err <= 0.0) return null
      i += 1
    }
    lpc
  }

  /** Quantize LPC coefficients to `precision` bits with a shift;
    * returns (qcoefs, shift) or null when unquantizable.
    */
  private def quantizeLpc(lpc: Array[Double], precision: Int): (Array[Int], Int) = {
    val cmax = lpc.map(math.abs).max
    if (cmax <= 0.0 || cmax.isNaN || cmax.isInfinite) return null
    val headroom = math.getExponent(cmax) + 1 // ceil(log2(cmax)) bound
    var shift = precision - 1 - headroom
    if (shift > 15) shift = 15
    if (shift < 0) return null
    val lim = 1 << (precision - 1)
    val q = new Array[Int](lpc.length)
    var err = 0.0
    var i = 0
    while (i < lpc.length) {
      val target = lpc(i) * (1 << shift) + err
      var v = math.round(target).toInt
      if (v >= lim) v = lim - 1
      if (v < -lim) v = -lim
      err = target - v
      q(i) = v
      i += 1
    }
    (q, shift)
  }

  private def lpcPredict(s: Array[Int], i: Int, q: Array[Int], shift: Int): Long = {
    var acc = 0L
    var j = 0
    while (j < q.length) { acc += q(j).toLong * s(i - 1 - j); j += 1 }
    acc >> shift // arithmetic shift — the spec's reconstruction rule
  }

  // ---------------------------------------------------------------- encode

  private val Bps = 16
  private val LpcOrder = 8
  private val LpcPrecision = 14

  /** Encode mono 16-bit PCM as a FLAC stream. Each block is coded with
    * the cheapest of CONSTANT / FIXED 0–4 / LPC(order 8) / VERBATIM,
    * with per-block partitioned-Rice planning — a real (if compact)
    * encoder, not a fixture writer.
    */
  def encode(sampleRate: Int, samples: Array[Int], blockSize: Int = 1024): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), s"bad rate: $sampleRate")
    require(blockSize >= 16 && blockSize <= 65535, s"bad block size: $blockSize")
    require(samples.forall(s => s >= Short.MinValue && s <= Short.MaxValue), "not 16-bit")
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')

    // STREAMINFO (last-metadata-block, type 0, 34 bytes)
    val md5 = MessageDigest.getInstance("MD5")
    val pcmBytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcmBytes(2 * i) = (samples(i) & 0xff).toByte
      pcmBytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val digest = md5.digest(pcmBytes)
    val si = new BitWriter
    si.write(1L, 1); si.write(0L, 7) // last block + type 0
    si.write(34L, 24)
    val lastBlock = if (samples.length % blockSize == 0 && samples.nonEmpty)
      blockSize else samples.length % blockSize
    val minB = if (samples.length <= blockSize) samples.length else math.min(blockSize, lastBlock)
    si.write(math.max(16, minB).toLong, 16)
    si.write(math.max(16, math.max(minB, blockSize)).toLong, 16)
    si.write(0L, 24); si.write(0L, 24) // min/max frame size unknown
    si.write(sampleRate.toLong, 20)
    si.write(0L, 3) // channels - 1 (mono)
    si.write((Bps - 1).toLong, 5)
    si.write(samples.length.toLong, 36)
    out.write(si.toBytes)
    out.write(digest)

    var frameNo = 0L
    var off = 0
    while (off < samples.length) {
      val n = math.min(blockSize, samples.length - off)
      val block = java.util.Arrays.copyOfRange(samples, off, off + n)
      out.write(encodeFrame(block, frameNo))
      frameNo += 1
      off += n
    }
    out.toByteArray
  }

  private def encodeFrame(s: Array[Int], frameNo: Long): Array[Byte] = {
    val n = s.length
    val w = new BitWriter
    w.write(0x3ffe, 14) // sync
    w.write(0L, 1) // reserved
    w.write(0L, 1) // fixed-blocksize strategy
    w.write(7L, 4) // block size: 16-bit at end of header
    w.write(0L, 4) // sample rate: from STREAMINFO
    w.write(0L, 4) // channel assignment: mono
    w.write(4L, 3) // sample size: 16-bit
    w.write(0L, 1) // reserved
    // UTF-8-style coded frame number
    if (frameNo < 0x80) w.write(frameNo, 8)
    else {
      var bytesNeeded = 2
      while (bytesNeeded < 7 && frameNo >= (1L << (bytesNeeded * 5 + 1))) bytesNeeded += 1
      val lead = ((0xff << (8 - bytesNeeded)) & 0xff).toLong | (frameNo >>> (6 * (bytesNeeded - 1)))
      w.write(lead, 8)
      var k = bytesNeeded - 2
      while (k >= 0) { w.write(0x80L | ((frameNo >>> (6 * k)) & 0x3f), 8); k -= 1 }
    }
    w.write((n - 1).toLong, 16)
    val headerBytes = w.toBytes
    w.write(crc8(headerBytes, 0, headerBytes.length).toLong, 8)

    encodeSubframe(w, s)
    w.alignToByte()
    val frameBytes = w.toBytes
    w.write(crc16(frameBytes, 0, frameBytes.length).toLong, 16)
    w.toBytes
  }

  private def encodeSubframe(w: BitWriter, s: Array[Int]): Unit = {
    val n = s.length
    // CONSTANT
    if (s.forall(_ == s(0))) {
      w.write(0L, 1); w.write(0L, 6); w.write(0L, 1)
      w.write(s(0).toLong & 0xffff, Bps)
      return
    }
    // candidates: fixed 0..4, lpc, verbatim
    var bestBits = n.toLong * Bps // verbatim cost (payload only)
    var bestKind = -1 // -1 verbatim, 0..4 fixed, 5 lpc
    var bestRes: Array[Long] = null
    var bestPlan: (Int, Array[Int], Long) = null
    var o = 0
    while (o <= 4 && o < n) {
      val res = new Array[Long](n - o)
      var i = o
      while (i < n) { res(i - o) = fixedResidual(s, i, o); i += 1 }
      val plan = planResidual(res, n, o)
      if (plan != null) {
        val bits = o.toLong * Bps + plan._3
        if (bits < bestBits) { bestBits = bits; bestKind = o; bestRes = res; bestPlan = plan }
      }
      o += 1
    }
    var lpcQ: (Array[Int], Int) = null
    val lpcOrder = math.min(LpcOrder, n / 2)
    if (lpcOrder >= 1) {
      val lpc = levinson(s, lpcOrder)
      if (lpc != null) {
        lpcQ = quantizeLpc(lpc, LpcPrecision)
        if (lpcQ != null) {
          val (q, shift) = lpcQ
          val res = new Array[Long](n - lpcOrder)
          var i = lpcOrder
          while (i < n) { res(i - lpcOrder) = s(i).toLong - lpcPredict(s, i, q, shift); i += 1 }
          val plan = planResidual(res, n, lpcOrder)
          if (plan != null) {
            val bits = lpcOrder.toLong * Bps + 4 + 5 + lpcOrder.toLong * LpcPrecision + plan._3
            if (bits < bestBits) { bestBits = bits; bestKind = 5; bestRes = res; bestPlan = plan }
          }
        }
      }
    }

    w.write(0L, 1) // zero pad
    bestKind match {
      case -1 =>
        w.write(1L, 6); w.write(0L, 1) // VERBATIM
        var i = 0
        while (i < n) { w.write(s(i).toLong & 0xffff, Bps); i += 1 }
      case k if k <= 4 =>
        w.write(8L | k, 6); w.write(0L, 1) // FIXED order k
        var i = 0
        while (i < k) { w.write(s(i).toLong & 0xffff, Bps); i += 1 }
        writeResidual(w, bestRes, n, k, bestPlan._1, bestPlan._2)
      case _ =>
        val (q, shift) = lpcQ
        w.write(32L | (lpcOrder - 1), 6); w.write(0L, 1) // LPC order
        var i = 0
        while (i < lpcOrder) { w.write(s(i).toLong & 0xffff, Bps); i += 1 }
        w.write((LpcPrecision - 1).toLong, 4)
        w.write(shift.toLong, 5)
        i = 0
        while (i < lpcOrder) { w.write(q(i).toLong & ((1L << LpcPrecision) - 1), LpcPrecision); i += 1 }
        writeResidual(w, bestRes, n, lpcOrder, bestPlan._1, bestPlan._2)
    }
  }

  // ---------------------------------------------------------------- decode

  /** Parse a FLAC payload into exact integer statistics, verifying
    * frame-header CRC-8, frame CRC-16, and the STREAMINFO PCM MD5
    * along the way. Any structural violation yields `Invalid`;
    * a clean parse whose reconstructed-PCM MD5 mismatches yields a
    * valid row with `md5Ok=false` (lossy corruption evidence).
    */
  def decode(bytes: Array[Byte]): FlacInfo = {
    try decodeUnsafe(bytes, null)
    catch { case _: Exception => Invalid }
  }

  /** Decode while counting subframe types actually present in the
    * stream ("constant" / "verbatim" / "fixed" / "lpc") — spec
    * evidence that the encoder's candidate search genuinely engages
    * each coding path, not an API for production use.
    */
  private[multimodal] def subframeHistogram(bytes: Array[Byte]): Map[String, Int] = {
    val hist = scala.collection.mutable.Map.empty[String, Int]
    try { decodeUnsafe(bytes, hist); hist.toMap }
    catch { case _: Exception => Map.empty }
  }

  private def decodeUnsafe(bytes: Array[Byte], hist: scala.collection.mutable.Map[String, Int]): FlacInfo = {
    if (bytes == null || bytes.length < 42) return Invalid
    if (bytes(0) != 'f' || bytes(1) != 'L' || bytes(2) != 'a' || bytes(3) != 'C') return Invalid
    var pos = 4
    var sampleRate = 0; var channels = 0; var bps = 0
    var totalSamples = 0L
    var streamMd5: Array[Byte] = null
    var last = false
    var seenStreamInfo = false
    while (!last) {
      if (pos + 4 > bytes.length) return Invalid
      val hdr = bytes(pos) & 0xff
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7f
      val len = ((bytes(pos + 1) & 0xff) << 16) | ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
      pos += 4
      if (pos + len > bytes.length) return Invalid
      if (btype == 0) {
        if (len != 34) return Invalid
        val r = new BitReader(bytes, pos)
        r.read(16); r.read(16) // min/max block size
        r.read(24); r.read(24) // min/max frame size
        sampleRate = r.read(20).toInt
        channels = r.read(3).toInt + 1
        bps = r.read(5).toInt + 1
        totalSamples = r.read(36)
        streamMd5 = java.util.Arrays.copyOfRange(bytes, pos + 18, pos + 34)
        seenStreamInfo = true
      } else if (btype == 127) return Invalid // invalid block type
      pos += len
    }
    if (!seenStreamInfo || sampleRate <= 0) return Invalid
    if (channels != 1 || bps != 16) return Invalid // documented scope: mono 16-bit

    val md5 = MessageDigest.getInstance("MD5")
    var nSamples = 0L
    var sumSq = 0L
    var peak = 0L
    while (pos < bytes.length) {
      val (samples, nextPos) = decodeFrame(bytes, pos, sampleRate, bps, hist)
      var i = 0
      while (i < samples.length) {
        val v = samples(i)
        sumSq += v.toLong * v
        val a = math.abs(v.toLong)
        if (a > peak) peak = a
        md5.update((v & 0xff).toByte)
        md5.update(((v >> 8) & 0xff).toByte)
        i += 1
      }
      nSamples += samples.length
      pos = nextPos
    }
    if (totalSamples != 0 && nSamples != totalSamples) return Invalid
    val md5Ok = java.util.Arrays.equals(md5.digest(), streamMd5)
    FlacInfo(sampleRate, channels, bps, nSamples,
      nSamples * 1000L / sampleRate, sumSq, peak, md5Ok, valid = true)
  }

  /** Decode one frame starting at byte `start`; returns (samples,
    * position after the frame CRC). Throws on malformation (caller
    * maps to Invalid).
    */
  private def decodeFrame(bytes: Array[Byte], start: Int, siRate: Int, siBps: Int,
                          hist: scala.collection.mutable.Map[String, Int]): (Array[Int], Int) = {
    val r = new BitReader(bytes, start)
    if (r.read(14) != 0x3ffe) throw new IllegalStateException("bad sync")
    if (r.read(1) != 0) throw new IllegalStateException("reserved bit")
    r.read(1) // blocking strategy
    val bsCode = r.read(4).toInt
    val srCode = r.read(4).toInt
    val chanAsgn = r.read(4).toInt
    val ssCode = r.read(3).toInt
    if (r.read(1) != 0) throw new IllegalStateException("reserved bit 2")
    // UTF-8 coded number
    val first = r.read(8).toInt
    if (first >= 0x80) {
      var nCont = 0
      var mask = 0x40
      while ((first & mask) != 0) { nCont += 1; mask >>= 1 }
      if (nCont < 1 || nCont > 6) throw new IllegalStateException("bad utf8 lead")
      var k = 0
      while (k < nCont) {
        if ((r.read(8).toInt & 0xc0) != 0x80) throw new IllegalStateException("bad utf8 cont")
        k += 1
      }
    }
    val blockSize = bsCode match {
      case 0 => throw new IllegalStateException("reserved block size")
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => r.read(8).toInt + 1
      case 7 => r.read(16).toInt + 1
      case c => 256 << (c - 8)
    }
    srCode match {
      case 0 => ()
      case c if c >= 1 && c <= 11 => ()
      case 12 => r.read(8)
      case 13 => r.read(16)
      case 14 => r.read(16)
      case _ => throw new IllegalStateException("invalid sample rate code")
    }
    val bps = ssCode match {
      case 0 => siBps
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => throw new IllegalStateException("reserved sample size")
    }
    if (chanAsgn != 0) throw new IllegalStateException("non-mono channel assignment")
    val headerEnd = r.bytePos
    if (!r.aligned) throw new IllegalStateException("header not byte aligned before crc8")
    val expectedCrc8 = r.read(8).toInt
    if (crc8(bytes, start, headerEnd) != expectedCrc8) throw new IllegalStateException("crc8 mismatch")

    val samples = decodeSubframe(r, blockSize, bps, hist)
    r.alignToByte()
    val frameEnd = r.bytePos
    val expectedCrc16 = r.read(16).toInt
    if (crc16(bytes, start, frameEnd) != expectedCrc16) throw new IllegalStateException("crc16 mismatch")
    (samples, r.bytePos)
  }

  private def decodeSubframe(r: BitReader, n: Int, bps: Int,
                             hist: scala.collection.mutable.Map[String, Int]): Array[Int] = {
    if (r.read(1) != 0) throw new IllegalStateException("subframe pad bit")
    val t = r.read(6).toInt
    if (hist != null) {
      val name =
        if (t == 0) "constant" else if (t == 1) "verbatim"
        else if ((t & 0x38) == 8) "fixed" else if ((t & 0x20) != 0) "lpc" else "reserved"
      hist(name) = hist.getOrElse(name, 0) + 1
    }
    val wastedFlag = r.read(1)
    val wasted = if (wastedFlag == 1) r.readUnary() + 1 else 0
    val eff = bps - wasted
    if (eff <= 0) throw new IllegalStateException("wasted bits exceed bps")
    val s = new Array[Int](n)
    t match {
      case 0 =>
        val v = r.readSigned(eff).toInt
        java.util.Arrays.fill(s, v)
      case 1 =>
        var i = 0
        while (i < n) { s(i) = r.readSigned(eff).toInt; i += 1 }
      case x if (x & 0x38) == 8 && (x & 0x7) <= 4 =>
        val o = x & 0x7
        if (o > n) throw new IllegalStateException("order exceeds block")
        var i = 0
        while (i < o) { s(i) = r.readSigned(eff).toInt; i += 1 }
        val res = readResidual(r, n, o)
        i = o
        while (i < n) { s(i) = (fixedPredict(s, i, o) + res(i - o)).toInt; i += 1 }
      case x if (x & 0x20) != 0 =>
        val o = (x & 0x1f) + 1
        if (o > n) throw new IllegalStateException("order exceeds block")
        var i = 0
        while (i < o) { s(i) = r.readSigned(eff).toInt; i += 1 }
        val precision = r.read(4).toInt + 1
        if (precision > 15) throw new IllegalStateException("invalid qlp precision")
        val shift = r.readSigned(5).toInt
        if (shift < 0) throw new IllegalStateException("negative qlp shift")
        val q = new Array[Int](o)
        i = 0
        while (i < o) { q(i) = r.readSigned(precision).toInt; i += 1 }
        val res = readResidual(r, n, o)
        i = o
        while (i < n) { s(i) = (lpcPredict(s, i, q, shift) + res(i - o)).toInt; i += 1 }
      case _ => throw new IllegalStateException(s"reserved subframe type $t")
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { s(i) = s(i) << wasted; i += 1 }
    }
    s
  }

  private def readResidual(r: BitReader, n: Int, order: Int): Array[Long] = {
    val method = r.read(2).toInt
    if (method > 1) throw new IllegalStateException("reserved residual method")
    val pWidth = if (method == 0) 4 else 5
    val escape = if (method == 0) 0xf else 0x1f
    val po = r.read(4).toInt
    val parts = 1 << po
    if (n % parts != 0) throw new IllegalStateException("block not divisible by partitions")
    val res = new Array[Long](n - order)
    var idx = 0
    var k = 0
    while (k < parts) {
      val len = n / parts - (if (k == 0) order else 0)
      if (len < 0) throw new IllegalStateException("partition shorter than order")
      val param = r.read(pWidth).toInt
      if (param == escape) {
        val raw = r.read(5).toInt
        var i = 0
        while (i < len) { res(idx) = if (raw == 0) 0L else r.readSigned(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < len) {
          val q = r.readUnary().toLong
          val lsb = if (param > 0) r.read(param) else 0L
          val u = (q << param) | lsb
          res(idx) = (u >>> 1) ^ -(u & 1)
          idx += 1; i += 1
        }
      }
      k += 1
    }
    res
  }
}

package graft.source

/** The blosclz inner codec of c-blosc chunks — the LZ77 byte-token
  * format c-blosc inherited from FastLZ's level-2 stream (public
  * format, c-blosc `blosclz.c`). Previously rejected; now decoded so
  * zarr v2 stores written with `Blosc(cname='blosclz')` scan like any
  * other blosc chunk.
  *
  * Stream grammar (distances/lengths as the DECODER applies them):
  *
  *   - first byte: literal-run token (its high 3 bits are zero in
  *     well-formed streams; only the low 5 bits are read)
  *   - token t < 32: literal run of t+1 bytes follows verbatim
  *   - token t >= 32: match. lenField = t >> 5 (1..7), hi = t & 31.
  *       - lenField 1..6 → copy lenField + 2 bytes
  *       - lenField 7: extension bytes follow, each added to the
  *         length, terminated by the first byte < 255; copy
  *         6 + sum(ext) + 3 bytes
  *       - next byte `code`: distance = (hi << 8) + code, reference
  *         = out[pos - distance - 1]
  *       - far match: code == 255 AND hi == 31 → two more bytes
  *         (big-endian) give `far`; distance = far + 8191 (the
  *         encoder's MAX_DISTANCE), same -1 bias
  *   - after each instruction the next byte is the next token; the
  *     stream ends when input is exhausted
  *
  * Matches may self-overlap (distance 0 = repeat previous byte), so
  * the copy loop is strictly sequential.
  *
  * Parity caveat (mirrors the GRIB2/CCSDS practice): no c-blosc build
  * exists in this container to produce reference streams, so the
  * decoder is pinned by hand-assembled token streams in BloscSpec
  * (each decoded by hand from the grammar above) plus compressor
  * round-trips over every instruction form — short/long/far matches,
  * 255-chained extensions, overlapped copies.
  */
object BloscLz {

  private val MaxDistance = 8191
  private val MaxFarDistance = 65535 + MaxDistance

  /** Decompress `len` bytes starting at `off` into exactly `outLen`
    * bytes; throws if the stream is malformed or sizes disagree.
    */
  def decompress(in: Array[Byte], off: Int, len: Int,
                 out: Array[Byte], outOff: Int, outLen: Int): Unit = {
    val end = off + len
    require(len >= 1, "empty blosclz stream")
    var ip = off
    var op = outOff
    val opEnd = outOff + outLen
    var ctrl = in(ip) & 31
    ip += 1
    var done = false
    while (!done) {
      if (ctrl >= 32) {
        var mlen = (ctrl >> 5) - 1
        val hi = ctrl & 31
        if (mlen == 6) {
          var code = 0
          do {
            require(ip < end, "blosclz: truncated length extension")
            code = in(ip) & 0xFF; ip += 1
            mlen += code
          } while (code == 255)
        }
        require(ip < end, "blosclz: truncated match distance")
        val code = in(ip) & 0xFF; ip += 1
        mlen += 3
        var dist = (hi << 8) + code
        if (code == 255 && hi == 31) {
          require(ip + 1 < end, "blosclz: truncated far distance")
          dist = ((in(ip) & 0xFF) << 8) + (in(ip + 1) & 0xFF) + MaxDistance
          ip += 2
        }
        val ref = op - dist - 1
        require(ref >= outOff, s"blosclz: match distance $dist underruns output")
        require(op + mlen <= opEnd, "blosclz: match overruns output")
        var k = 0
        while (k < mlen) { out(op + k) = out(ref + k); k += 1 } // may overlap
        op += mlen
      } else {
        val run = ctrl + 1
        require(ip + run <= end, "blosclz: truncated literal run")
        require(op + run <= opEnd, "blosclz: literal run overruns output")
        System.arraycopy(in, ip, out, op, run)
        ip += run; op += run
      }
      if (ip < end) { ctrl = in(ip) & 0xFF; ip += 1 }
      else done = true
    }
    require(op == opEnd,
      s"blosclz: decoded ${op - outOff} bytes, $outLen expected")
  }

  /** Greedy hash-chain compressor emitting the same grammar — the
    * round-trip pin for the decoder and the writer-side codec for
    * blosclz-flavored fixtures. Always begins with a literal token.
    */
  def compress(in: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(len / 2 + 16)
    val lits = new java.io.ByteArrayOutputStream(32)
    def flushLits(): Unit = {
      val b = lits.toByteArray
      var p = 0
      while (p < b.length) {
        val run = math.min(32, b.length - p)
        out.write(run - 1)
        out.write(b, p, run)
        p += run
      }
      lits.reset()
    }
    def emitMatch(dist: Int, mlen: Int): Unit = {
      flushLits()
      var rem = mlen - 3
      val far = dist >= MaxDistance
      val (hi, lo) = if (far) (31, 255) else (dist >> 8, dist & 0xFF)
      if (rem < 6) out.write(((rem + 1) << 5) | hi)
      else {
        out.write((7 << 5) | hi)
        rem -= 6
        while (rem >= 255) { out.write(255); rem -= 255 }
        out.write(rem)
      }
      out.write(lo)
      if (far) {
        val f = dist - MaxDistance
        out.write((f >> 8) & 0xFF); out.write(f & 0xFF)
      }
    }
    // hash chain over 3-byte prefixes
    val hashBits = 14
    val head = Array.fill(1 << hashBits)(-1)
    val prev = new Array[Int](math.max(len, 1))
    @inline def hash3(i: Int): Int = {
      val v = ((in(off + i) & 0xFF) << 16) | ((in(off + i + 1) & 0xFF) << 8) |
        (in(off + i + 2) & 0xFF)
      (v * 2654435761L >>> (32 - hashBits)).toInt & ((1 << hashBits) - 1)
    }
    var i = 0
    while (i < len) {
      var bestLen = 0
      var bestDist = 0
      if (i + 3 <= len) {
        val h = hash3(i)
        var cand = head(h)
        var tries = 16
        while (cand >= 0 && tries > 0 && i - cand - 1 <= MaxFarDistance) {
          var l = 0
          val maxL = len - i
          while (l < maxL && in(off + cand + l) == in(off + i + l)) l += 1
          if (l > bestLen) { bestLen = l; bestDist = i - cand - 1 }
          cand = prev(cand)
          tries -= 1
        }
        prev(i) = head(h); head(h) = i
      }
      if (bestLen >= 3 &&
          // a far match costs 2 extra bytes; require it to earn them
          (bestDist < MaxDistance || bestLen >= 5)) {
        emitMatch(bestDist, bestLen)
        // index the skipped positions so later matches can reach them
        var j = i + 1
        val stop = math.min(i + bestLen, len - 3)
        while (j < stop) { val h = hash3(j); prev(j) = head(h); head(h) = j; j += 1 }
        i += bestLen
      } else {
        lits.write(in(off + i)); i += 1
      }
    }
    flushLits()
    out.toByteArray
  }
}

package graft.ops

/** Multimodal decode without native codecs: P6 PPM (netpbm) is a
  * complete raster format, so synthesis writes genuine PPM containers,
  * [[decodePpm]] is a real parser (magic, comments, arbitrary header
  * whitespace, maxval, then the w·h·3 pixel plane), and
  * q_multimodal_decode oracle-checks the parsed integer stats against
  * DuckDB's analytic recompute of the same deterministic pixel
  * function.
  */
object Multimodal {

  /** Deterministic synthetic P6 image for a doc id: dimensions
    * w = 4 + id mod 13, h = 3 + id mod 7, pixel j's byte =
    * (31·id + 7·j) mod 256 — pure integer functions both engines can
    * compute, so the oracle needs no binary parsing. The header
    * includes a comment line so the parser's comment handling is
    * exercised on every row, not just in unit tests.
    */
  def ppmBytes(docId: Long): Array[Byte] = {
    val w = (4 + java.lang.Math.floorMod(docId, 13L)).toInt
    val h = (3 + java.lang.Math.floorMod(docId, 7L)).toInt
    val header =
      s"P6\n# graft synthetic doc $docId\n$w $h\n255\n".getBytes("US-ASCII")
    val n = w * h * 3
    val out = new Array[Byte](header.length + n)
    System.arraycopy(header, 0, out, 0, header.length)
    var j = 0
    while (j < n) {
      out(header.length + j) =
        java.lang.Math.floorMod(docId * 31 + 7L * j, 256L).toByte
      j += 1
    }
    out
  }

  /** REAL P6 PPM header parser: returns (width, height, maxval,
    * pixel-plane offset). Handles the format's full header grammar —
    * '#' comments to end-of-line anywhere between tokens, arbitrary
    * whitespace runs, multi-digit fields — and the single-whitespace
    * separator before the binary plane. Throws on non-P6 magic or a
    * maxval needing two-byte samples.
    */
  def decodePpm(b: Array[Byte]): (Int, Int, Int, Int) = {
    var i = 0
    def skipWsAndComments(): Unit = {
      var done = false
      while (!done && i < b.length) {
        val c = b(i).toChar
        if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else done = true
      }
    }
    def token(): String = {
      skipWsAndComments()
      val s0 = i
      while (i < b.length && !b(i).toChar.isWhitespace) i += 1
      new String(b, s0, i - s0, "US-ASCII")
    }
    val magic = token()
    require(magic == "P6", s"not a binary PPM (P6): magic '$magic'")
    val w = token().toInt
    val h = token().toInt
    val maxv = token().toInt
    require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
    require(maxv > 0 && maxv < 256, s"unsupported maxval $maxv (2-byte samples)")
    i += 1 // exactly one whitespace byte before the pixel plane
    require(b.length - i >= w * h * 3,
      s"truncated pixel plane: need ${w * h * 3}, have ${b.length - i}")
    (w, h, maxv, i)
  }

  /** Integer stats a decode stage emits per image: dimensions plus
    * exact per-channel byte sums (integers end-to-end — the
    * oracle-exact output class; means are a downstream quotient).
    */
  case class PpmStats(doc_id: Long, width: Int, height: Int,
      channels: Int, n_pix: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Decode one PPM payload to its stats via the real parser. */
  def ppmStats(docId: Long, bytes: Array[Byte]): PpmStats = {
    val (w, h, _, off) = decodePpm(bytes)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var j = 0
    val n = w * h * 3
    while (j < n) {
      val v = (bytes(off + j) & 0xff).toLong
      (j % 3: @annotation.switch) match {
        case 0 => sr += v
        case 1 => sg += v
        case 2 => sb += v
      }
      j += 1
    }
    PpmStats(docId, w, h, 3, w.toLong * h, sr, sg, sb)
  }
}

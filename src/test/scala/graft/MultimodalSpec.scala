package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal

/** The real P6 PPM parser behind q_multimodal_decode: header grammar
  * and rejection of inputs it cannot decode.
  */
class MultimodalSpec extends AnyFunSuite {

  test("decodePpm parses a handcrafted P6 header (comments, multi-digit dims)") {
    // 2x1 image, comment between EVERY header token, CRLF-ish mix —
    // the full netpbm header grammar, not just the generator's shape
    val header = "P6 #c1\n# c2\n 12\t#c3\n1\n#c4\n255\n"
    val px = Array.tabulate[Byte](12 * 1 * 3)(i => (i * 5).toByte)
    val bytes = header.getBytes("US-ASCII") ++ px
    val (w, h, maxv, off) = Multimodal.decodePpm(bytes)
    assert((w, h, maxv) == (12, 1, 255))
    assert(bytes.length - off == 12 * 3)
    val st = Multimodal.ppmStats(7L, bytes)
    assert(st.n_pix == 12)
    assert(st.sum_r == (0 until 36 by 3).map(i => (i * 5) & 0xff).sum)
  }

  test("decodePpm rejects bad magic, 2-byte maxval, truncated plane") {
    val good = Multimodal.ppmBytes(42L)
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm("P5\n2 2\n255\n....".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm("P6\n1 1\n65535\nxxxxxx".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(good.dropRight(1))
    }
    // and the generator's own container round-trips
    val (w, h, _, _) = Multimodal.decodePpm(good)
    assert(w == (4 + 42 % 13) && h == (3 + 42 % 7))
  }
}

package graft

import graft.multimodal.Multimodal
import graft.sources.Warehouse

/** Round-11 hardening pins. First block: [[Multimodal.mp4Meta]] must
  * bound mvhd field reads by the mvhd box's OWN declared size — an
  * mvhd too small for its version's layout is corrupt (None), and a
  * FOLLOWING SIBLING box inside moov must never donate the missing
  * bytes (the failure the moov-extent bound silently allowed).
  */
class Round11Spec extends SparkSpec {

  private def hexBytes(h: String): Array[Byte] =
    h.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  private val ftypHex =
    "00000018" + "66747970" + "69736F6D" + "00000200" +
      "69736F6D" + "6D703431"

  // a 16-byte free box: plausible donor bytes after an undersized mvhd
  private val freeHex = "00000010" + "66726565" + "41414141" + "42424242"

  test("mp4Meta: an mvhd v0 whose declared size (16) cannot hold the " +
    "v0 field layout is None even when a sibling box supplies " +
    "readable bytes right after it") {
    // moov(40) = undersized mvhd(16: version byte + one field) + free(16)
    val moov = "00000028" + "6D6F6F76" +
      "00000010" + "6D766864" + "00000000" + "000003E8" + freeHex
    assert(Multimodal.mp4Meta(hexBytes(ftypHex + moov)).isEmpty,
      "field reads must be bounded by the mvhd box, not the moov parent")
  }

  test("mp4Meta: an mvhd v1 whose declared size (24) cannot hold the " +
    "v1 64-bit fields is None — sibling bytes must not be borrowed") {
    // v1 needs c+32 within the box; give it csz=24 (room for v0-ish
    // prefix only) followed by a free box
    val moov = "00000030" + "6D6F6F76" +
      "00000018" + "6D766864" + "01000000" +
      "0000000000000001" + "00000002" + freeHex
    assert(Multimodal.mp4Meta(hexBytes(ftypHex + moov)).isEmpty)
  }

  test("mp4Meta: a header-only mvhd (size 8, no version byte) is " +
    "None, not a read of the next sibling's first byte") {
    val moov = "00000020" + "6D6F6F76" +
      "00000008" + "6D766864" + freeHex
    assert(Multimodal.mp4Meta(hexBytes(ftypHex + moov)).isEmpty)
  }
}

package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** JPEG dimensions probe: walks the JFIF/EXIF marker segments to the first
  * SOF frame header and returns the pixel dimensions packed as
  * `width << 16 | height` (LongType), or null when the payload is not a
  * JPEG / carries no SOF segment.
  *
  * JPEG keeps its dimensions inside a variable-offset SOFn segment (the
  * format is a marker stream, not a fixed header layout — the reference
  * analog is any standards-based probe of `pywcmp`'s web-image mime family,
  * `/root/reference/pywcmp/wcmp2/kpi.py:291-299`), so unlike the PNG/GIF/
  * BMP fixed-offset parsers in [[graft.operators.Multimodal.decodeImage]]
  * this needs a loop — implemented as a static kernel so the walk runs
  * as a single static call inside whole-stage codegen instead of an
  * interpreted higher-order fold.
  *
  * Public format facts used (ITU-T T.81 §B): stream starts FFD8; each
  * segment is FF <marker> <u16 length incl. itself>; dimensions are in any
  * SOF0-SOF15 marker (C0-CF excluding C4 DHT, C8 JPG, CC DAC) at segment
  * offsets +5 (height u16) and +7 (width u16); standalone markers D0-D9
  * and 01 carry no length; scan data (post-SOS) is skipped by searching
  * for the next FF-non-00 byte pair.
  */
object JpegDims {
  /** `width << 16 | height`, or null when not a decodable JPEG. */
  def dims(bytes: Array[Byte]): java.lang.Long = {
    val n = bytes.length
    def u8(i: Int): Int = bytes(i) & 0xFF
    if (n < 4 || u8(0) != 0xFF || u8(1) != 0xD8) return null
    var i = 2
    var guard = 0
    while (i + 3 < n && guard < 4096) {
      guard += 1
      if (u8(i) != 0xFF) {
        // desynchronized (e.g. inside entropy-coded data): resync to the
        // next FF <non-00, non-FF> marker byte pair
        i += 1
      } else {
        val marker = u8(i + 1)
        if (marker == 0xFF) {
          i += 1 // fill byte
        } else if (marker == 0x00) {
          i += 2 // stuffed FF00 inside scan data
        } else if (marker == 0xD8 || marker == 0x01 ||
                   (marker >= 0xD0 && marker <= 0xD7)) {
          i += 2 // standalone markers: no length field
        } else if (marker == 0xD9) {
          return null // EOI before any SOF
        } else {
          if (i + 3 >= n) return null
          val len = (u8(i + 2) << 8) | u8(i + 3)
          if (len < 2) return null
          val isSof = marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC
          if (isSof) {
            if (i + 8 >= n) return null
            val h = (u8(i + 5) << 8) | u8(i + 6)
            val w = (u8(i + 7) << 8) | u8(i + 8)
            if (w <= 0 || h <= 0) return null
            return (w.toLong << 16) | h.toLong
          }
          i += 2 + len
        }
      }
    }
    null
  }

  def jpegDims(c: Column): Column =
    Kernel.call(this, "dims", LongType, Seq(c -> BinaryType), nullable = true)
}

package graft.spark

import graft.core.SpanKinds
import graft.engine.{RuleProgram, ShadowEngine, SpanAcc}
import graft.html.HtmlParser.MediaMarker
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** The one decode-and-engine step of every Spark path (the `ShadowExtract`
  * plan node and the `shadow_extract` expression): per task, one decoder
  * and one engine. `apply` runs the engine over a canonical
  * `array<struct<kind,text,media_ref,offset>>` value; the returned
  * accumulator is reused by the next call. */
final class ExtractStep(program: RuleProgram) {
  private val engine = new ShadowEngine(program)
  private val decoder = new SpanStreamDecoder

  def apply(spans: ArrayData): SpanAcc =
    engine.processStreamAcc(decoder.decode(spans), decoder.markers)
}

/** Per-task decoder for the canonical
  * `array<struct<kind,text,media_ref,offset>>` spans value: assembles the
  * document stream (the non-media spans' text in `offset` order) as raw
  * UTF-8 bytes, decoded to String ONCE, and collects media markers, via a
  * raw UnsafeArrayData read path with a generic-accessor fallback.
  *
  * Raw-layout fast path rationale: the generic accessors allocate a
  * wrapper per struct element and per string field (~4 per span, ~120
  * per doc) — at 350k docs/s that wrapper churn alone is >1 GB/s of
  * garbage and is what keeps the decode half from scaling on many-core
  * executors. Layout read directly:
  *   [numElements:8][null bits: ceil(n/64)*8][n x 8B (off<<32|sz)]
  * struct element -> UnsafeRow bytes at arrayBase+off:
  *   [null bits: 8][4 x 8B slots]; string slots hold off<<32|sz
  *   relative to the STRUCT start; int slot holds the value.
  *
  * Safety: any set null bit (array element or struct field), and any
  * span whose offset is below its predecessor's, drops the row to the
  * generic accessors, which surface the null explicitly and sort by
  * offset; and each task's first fast-decoded row is cross-checked
  * byte-for-byte against the generic decode, pinning the generic path if
  * Spark's internal layout ever drifts. */
private[spark] final class SpanStreamDecoder {
  private var buf = new Array[Byte](16384) // per-task reusable byte scratch
  private var chkBuf = new Array[Byte](0) // self-check scratch (first fast row only)
  val markers = new ArrayBuffer[MediaMarker](8)
  private val chkMarkers = new ArrayBuffer[MediaMarker](8)
  private val kindMedia = UTF8String.fromString(SpanKinds.Media)
  private var fastOk = true
  private var fastChecked = false

  /** Array positions in stable `offset` order, or null when the spans are
    * already in it. A null offset sorts first, as in Spark's ascending
    * sort. */
  private def offsetOrder(arr: ArrayData, n: Int): Array[Int] = {
    def offsetAt(i: Int): Int =
      if (arr.isNullAt(i)) Int.MinValue
      else {
        val st = arr.getStruct(i, 4)
        if (st.isNullAt(3)) Int.MinValue else st.getInt(3)
      }
    var i = 1
    var prev = if (n > 0) offsetAt(0) else 0
    var sorted = true
    while (i < n && sorted) {
      val o = offsetAt(i)
      sorted = o >= prev
      prev = o
      i += 1
    }
    if (sorted) null else Array.range(0, n).sortBy(offsetAt)
  }

  // generic accessor decode (allocates ~4 wrappers per span). Null policy
  // (one bad row must not kill the job, same stance as the engine's
  // Throwable row guard): a null span element or null kind contributes
  // nothing; a media span with null ref/text gets empty strings; a text
  // span with null text contributes no stream bytes.
  private def decodeGeneric(arr: ArrayData, n: Int, buf0: Array[Byte],
                            mk: ArrayBuffer[MediaMarker]): (Array[Byte], Int) = {
    val order = offsetOrder(arr, n)
    var b = buf0
    var bytePos = 0
    var k = 0
    while (k < n) {
      val i = if (order == null) k else order(k)
      if (!arr.isNullAt(i)) {
        val st = arr.getStruct(i, 4)
        val kind = if (st.isNullAt(0)) null else st.getUTF8String(0)
        if (kind == kindMedia) {
          mk += MediaMarker(
            bytePos,
            if (st.isNullAt(2)) "" else st.getUTF8String(2).toString,
            if (st.isNullAt(1)) "" else st.getUTF8String(1).toString)
        } else if (kind != null && !st.isNullAt(1)) {
          val u = st.getUTF8String(1)
          val nb = u.numBytes()
          if (bytePos + nb > b.length)
            b = java.util.Arrays.copyOf(b, math.max(b.length * 2, bytePos + nb))
          u.writeTo(java.nio.ByteBuffer.wrap(b, bytePos, nb))
          bytePos += nb
        }
      }
      k += 1
    }
    (b, bytePos)
  }

  // returns -1 length when any null bit is set or the offsets decrease
  // (the generic path then decides what a null span/field means instead
  // of reading garbage, and restores offset order)
  private def decodeFast(ua: UnsafeArrayData, n: Int, base: Array[Byte], buf0: Array[Byte],
                         mk: ArrayBuffer[MediaMarker]): (Array[Byte], Int) = {
    var b = buf0
    var bytePos = 0
    val a0 = ua.getBaseOffset
    val nullWords = (n + 63) / 64
    var w = 0
    while (w < nullWords) {
      if (Platform.getLong(base, a0 + 8 + w * 8L) != 0L)
        return (b, -1) // null element present
      w += 1
    }
    val elems = a0 + 8 + (nullWords.toLong * 8)
    val B = Platform.BYTE_ARRAY_OFFSET
    var prevOffset = Int.MinValue
    var i = 0
    while (i < n) {
      val os = Platform.getLong(base, elems + i * 8L)
      val st = a0 + (os >>> 32) // struct base (absolute)
      if (Platform.getLong(base, st) != 0L)
        return (b, -1) // null struct field present
      def fieldOff(f: Int): Long = Platform.getLong(base, st + 8 + f * 8L)
      val offset = Platform.getInt(base, st + 8 + 3 * 8L)
      if (offset < prevOffset) return (b, -1) // out of offset order
      prevOffset = offset
      val kOs = fieldOff(0)
      val kLen = kOs.toInt
      val kIdx = (st + (kOs >>> 32) - B).toInt
      val isMedia = kLen == 5 && base(kIdx) == 'm' && base(kIdx + 1) == 'e' &&
        base(kIdx + 2) == 'd' && base(kIdx + 3) == 'i' && base(kIdx + 4) == 'a'
      val tOs = fieldOff(1)
      val tLen = tOs.toInt
      val tIdx = (st + (tOs >>> 32) - B).toInt
      if (isMedia) {
        val rOs = fieldOff(2)
        mk += MediaMarker(bytePos,
          new String(base, (st + (rOs >>> 32) - B).toInt, rOs.toInt, UTF_8),
          new String(base, tIdx, tLen, UTF_8))
      } else {
        if (bytePos + tLen > b.length)
          b = java.util.Arrays.copyOf(b, math.max(b.length * 2, bytePos + tLen))
        System.arraycopy(base, tIdx, b, bytePos, tLen)
        bytePos += tLen
      }
      i += 1
    }
    (b, bytePos)
  }

  /** Decodes one spans value (a null array is an empty document); the
    * document stream is returned, media markers (char positions) are in
    * `markers`. */
  def decode(arr: ArrayData): String = {
    markers.clear()
    if (arr == null) return ""
    val n = arr.numElements()
    var bytePos = -1
    arr match {
      case ua: UnsafeArrayData if fastOk && ua.getBaseObject.isInstanceOf[Array[Byte]] =>
        val base = ua.getBaseObject.asInstanceOf[Array[Byte]]
        val r = decodeFast(ua, n, base, buf, markers)
        buf = r._1; bytePos = r._2
        if (bytePos >= 0 && !fastChecked) {
          fastChecked = true
          chkMarkers.clear()
          val g = decodeGeneric(arr, n, chkBuf, chkMarkers)
          chkBuf = g._1
          val same = g._2 == bytePos &&
            java.util.Arrays.equals(buf, 0, bytePos, chkBuf, 0, g._2) &&
            chkMarkers == markers
          if (!same) { // layout drift: pin the generic path for the task
            fastOk = false
            bytePos = -1
          }
        }
      case _ =>
    }
    if (bytePos < 0) { // generic path (non-unsafe input, nulls, disorder or drift)
      markers.clear()
      val g = decodeGeneric(arr, n, buf, markers)
      buf = g._1; bytePos = g._2
    }
    if (markers.nonEmpty) {
      // byte offset -> UTF-16 char offset: count non-continuation bytes,
      // +1 extra for 4-byte sequences (surrogate pairs)
      var ci = 0; var bi = 0; var mi = 0
      while (mi < markers.length) {
        val target = markers(mi).pos
        while (bi < target) {
          val b = buf(bi)
          if ((b & 0xC0) != 0x80) { ci += 1; if ((b & 0xF8) == 0xF0) ci += 1 }
          bi += 1
        }
        markers(mi) = markers(mi).copy(pos = ci)
        mi += 1
      }
    }
    new String(buf, 0, bytePos, UTF_8)
  }
}

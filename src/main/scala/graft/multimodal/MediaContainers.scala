package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Real, pure-JVM media containers for the three formats a JVM can
  * honestly handle without native libraries: BMP (24bpp uncompressed),
  * WAV (PCM unsigned 8-bit mono), and AVI (RIFF, uncompressed 24bpp
  * DIB frames — the one video container whose frames are honest
  * pixels, no codec). Encoding runs as a codegen'd expression inside
  * the projection that synthesizes the media table; decoding
  * ([[MediaCodec]]) parses the same containers byte-for-byte — header
  * walk, row padding, chunk traversal, frame iteration — so the decode
  * path is exercised on REAL container bytes end-to-end.
  */
object MediaContainers {

  val BmpWidth = 64                       // fixed encode width (px)
  val BmpRowSize: Int = BmpWidth * 3      // 192 — already 4-byte aligned
  val WavSampleRate = 16000

  val AviFrameW = 16                      // fixed video frame size (px)
  val AviFrameH = 8
  val AviRowSize: Int = AviFrameW * 3     // 48 — 4-byte aligned
  val AviFrameBytes: Int = AviRowSize * AviFrameH   // 384
  /** On-disk bytes: fixed headers + one '00db' chunk per frame —
    * `224 + 392 × nFrames` (the q55/q69 oracle arithmetic).
    */
  val AviHeaderBytes = 224
  val AviChunkBytes: Int = 8 + AviFrameBytes        // 392

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  /** 24bpp bottom-up BMP whose pixel data is `payload` (zero-padded to
    * whole rows of width [[BmpWidth]]).
    */
  def encodeBmp(payload: Array[Byte]): Array[Byte] = {
    val h = math.max(1, (payload.length + BmpRowSize - 1) / BmpRowSize)
    val imageSize = BmpRowSize * h
    val out = new java.io.ByteArrayOutputStream(54 + imageSize)
    out.write('B'); out.write('M')
    out.write(le32(54 + imageSize))
    out.write(le32(0))
    out.write(le32(54))                   // pixel data offset
    out.write(le32(40))                   // BITMAPINFOHEADER
    out.write(le32(BmpWidth))
    out.write(le32(h))
    out.write(le16(1))                    // planes
    out.write(le16(24))                   // bpp
    out.write(le32(0))                    // BI_RGB
    out.write(le32(imageSize))
    out.write(le32(2835)); out.write(le32(2835))
    out.write(le32(0)); out.write(le32(0))
    out.write(payload)
    out.write(new Array[Byte](imageSize - payload.length))
    out.toByteArray
  }

  /** PCM u8 mono WAV whose sample data is `payload`. */
  def encodeWav(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(44 + payload.length)
    out.write("RIFF".getBytes); out.write(le32(36 + payload.length))
    out.write("WAVE".getBytes)
    out.write("fmt ".getBytes); out.write(le32(16))
    out.write(le16(1))                    // PCM
    out.write(le16(1))                    // mono
    out.write(le32(WavSampleRate))
    out.write(le32(WavSampleRate))        // byte rate (1 byte/sample)
    out.write(le16(1))                    // block align
    out.write(le16(8))                    // bits per sample
    out.write("data".getBytes); out.write(le32(payload.length))
    out.write(payload)
    out.toByteArray
  }

  /** Uncompressed AVI whose 16×8 24bpp DIB frames carry `payload`
    * (chunked to whole frames, zero-padded; at least one frame). RIFF
    * 'AVI ' → LIST hdrl (avih + LIST strl (strh 'vids'/'DIB ' + strf
    * BITMAPINFOHEADER)) → LIST movi ('00db' frame chunks).
    */
  def encodeAvi(payload: Array[Byte]): Array[Byte] = {
    val n = math.max(1, (payload.length + AviFrameBytes - 1) / AviFrameBytes)
    val out = new java.io.ByteArrayOutputStream(AviHeaderBytes + n * AviChunkBytes)
    out.write("RIFF".getBytes); out.write(le32(216 + n * AviChunkBytes))
    out.write("AVI ".getBytes)
    // LIST hdrl: 'hdrl' + avih(64) + LIST strl(124) = 192
    out.write("LIST".getBytes); out.write(le32(192)); out.write("hdrl".getBytes)
    out.write("avih".getBytes); out.write(le32(56))
    out.write(le32(40000))                // µs per frame (25 fps)
    out.write(le32(25 * AviFrameBytes))   // max bytes/sec
    out.write(le32(0)); out.write(le32(0))
    out.write(le32(n))                    // total frames
    out.write(le32(0))
    out.write(le32(1))                    // streams
    out.write(le32(AviChunkBytes))        // suggested buffer
    out.write(le32(AviFrameW)); out.write(le32(AviFrameH))
    for (_ <- 0 until 4) out.write(le32(0))
    // LIST strl: 'strl' + strh(64) + strf(48) = 116
    out.write("LIST".getBytes); out.write(le32(116)); out.write("strl".getBytes)
    out.write("strh".getBytes); out.write(le32(56))
    out.write("vids".getBytes); out.write("DIB ".getBytes)
    out.write(le32(0)); out.write(le32(0)); out.write(le32(0))
    out.write(le32(1)); out.write(le32(25))   // scale, rate → 25 fps
    out.write(le32(0))
    out.write(le32(n))                    // stream length (frames)
    out.write(le32(AviFrameBytes))
    out.write(le32(0)); out.write(le32(0))
    out.write(le16(0)); out.write(le16(0))
    out.write(le16(AviFrameW)); out.write(le16(AviFrameH))   // rcFrame
    out.write("strf".getBytes); out.write(le32(40))
    out.write(le32(40))                   // BITMAPINFOHEADER
    out.write(le32(AviFrameW)); out.write(le32(AviFrameH))
    out.write(le16(1)); out.write(le16(24))
    out.write(le32(0))                    // BI_RGB
    out.write(le32(AviFrameBytes))
    out.write(le32(0)); out.write(le32(0)); out.write(le32(0)); out.write(le32(0))
    // LIST movi
    out.write("LIST".getBytes); out.write(le32(4 + n * AviChunkBytes))
    out.write("movi".getBytes)
    var f = 0
    while (f < n) {
      out.write("00db".getBytes); out.write(le32(AviFrameBytes))
      val s = f * AviFrameBytes
      val len = math.min(AviFrameBytes, math.max(0, payload.length - s))
      out.write(payload, s, len)
      out.write(new Array[Byte](AviFrameBytes - len))
      f += 1
    }
    out.toByteArray
  }

  /** Static entry the codegen'd expression calls: image→BMP, audio→WAV,
    * video→AVI, anything else passes through raw.
    */
  def encodeJava(modality: String, payload: Array[Byte]): Array[Byte] =
    modality match {
      case "image" => encodeBmp(payload)
      case "audio" => encodeWav(payload)
      case "video" => encodeAvi(payload)
      case _ => payload
    }

  // ---- decode (layout via the shared [[MediaLayout]] core; pixel /
  // sample math stays here) ----

  def isBmp(b: Array[Byte]): Boolean = MediaLayout.isBmp(b)
  def isWav(b: Array[Byte]): Boolean = MediaLayout.isWav(b)
  def isAvi(b: Array[Byte]): Boolean = MediaLayout.isAvi(b)

  /** (width, height, 16-dim features from actual pixels) for a 24bpp
    * uncompressed BMP; None if the header declares anything else.
    * Features: mean B/G/R, luma variance, and a 12-bin luma histogram.
    */
  /** Shared per-pixel accumulator for the 24bpp BGR frame features —
    * ONE spelling of the mean-B/G/R + luma-variance + 12-bin-histogram
    * math for BOTH the BMP and AVI decoders (r18 review: the ~30-line
    * accumulation existed twice and the copies had already diverged in
    * row addressing — harmless only while every feature is
    * row-order-invariant; now structurally shared, like the
    * [[MediaLayout]] parses and [[MediaHash]]'s grid math).
    */
  private final class PixelStats {
    private var sumB = 0.0; private var sumG = 0.0; private var sumR = 0.0
    private var sumL = 0.0; private var sumL2 = 0.0
    private val hist = new Array[Int](12)
    def accumRow(b: Array[Byte], rowOff: Int, w: Int): Unit = {
      var x = 0
      while (x < w) {
        val o = rowOff + x * 3
        val bl = b(o) & 0xFF; val g = b(o + 1) & 0xFF; val r = b(o + 2) & 0xFF
        sumB += bl; sumG += g; sumR += r
        val luma = 0.299 * r + 0.587 * g + 0.114 * bl
        sumL += luma; sumL2 += luma * luma
        hist(math.min(11, (luma / 256.0 * 12).toInt)) += 1
        x += 1
      }
    }
    def features(n: Double): Array[Float] = {
      val meanL = sumL / n
      val feat = new Array[Float](16)
      feat(0) = (sumB / n / 255.0).toFloat
      feat(1) = (sumG / n / 255.0).toFloat
      feat(2) = (sumR / n / 255.0).toFloat
      feat(3) = ((sumL2 / n - meanL * meanL) / (255.0 * 255.0)).toFloat
      var i = 0
      while (i < 12) { feat(4 + i) = (hist(i) / n).toFloat; i += 1 }
      feat
    }
  }

  def decodeBmp(b: Array[Byte]): Option[(Int, Int, Array[Float])] = {
    val lay = MediaLayout.bmp(b).getOrElse(return None)
    val w = lay.w; val h = lay.h
    val st = new PixelStats
    var y = 0
    while (y < h) {
      // bottom-up storage: row y of the image is the (h-1-y)-th stored row
      st.accumRow(b, lay.dataOffset + (h - 1 - y) * lay.rowSize, w)
      y += 1
    }
    Some((w, h, st.features((w.toLong * h).toDouble)))
  }

  /** (sampleRate, channels, nSamples, 16-dim features from actual
    * samples) for a PCM u8 WAV; None for any other encoding. Walks the
    * RIFF chunk list properly (fmt may not be the first chunk).
    * Features: mean, RMS, zero-crossing rate, 13 block RMS values.
    */
  def decodeWav(b: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    val lay = MediaLayout.wav(b).getOrElse(return None)
    val dataOff = lay.dataOff
    val n = lay.dataLen
    // ONE pass (r19 review: the block-RMS loop re-read and re-squared
    // every byte the mean/RMS/zero-crossing pass had just processed —
    // 2× memory traffic on the per-row decode hot path). Block
    // boundaries depend only on n, so the per-block sum-of-squares
    // accumulates in the same ascending order as the old inner loops —
    // identical float addition order, bit-identical features.
    val block = math.max(1, n / 13)
    val blockAcc = new Array[Double](13)
    var sum = 0.0; var sum2 = 0.0; var zc = 0
    var prev = 0.0
    var i = 0
    while (i < n) {
      val x = ((b(dataOff + i) & 0xFF) - 128) / 128.0
      val x2 = x * x
      sum += x; sum2 += x2
      val bi = i / block
      if (bi < 13) blockAcc(bi.toInt) += x2
      if (i > 0 && ((x > 0 && prev <= 0) || (x < 0 && prev >= 0))) zc += 1
      prev = x; i += 1
    }
    val feat = new Array[Float](16)
    if (n > 0) {
      feat(0) = (sum / n).toFloat
      feat(1) = math.sqrt(sum2 / n).toFloat
      feat(2) = (zc.toDouble / n).toFloat
      var bi = 0
      while (bi < 13) {
        val s = bi * block; val e = math.min(n, s + block)
        feat(3 + bi) =
          (if (e > s) math.sqrt(blockAcc(bi) / (e - s)) else 0.0).toFloat
        bi += 1
      }
    }
    Some((lay.sampleRate, lay.channels, n, feat))
  }

  /** (width, height, nFrames, 16-dim features from actual frame pixels)
    * for an uncompressed-DIB AVI; None for any other flavor. Walks the
    * top-level RIFF chunks to find LIST hdrl (avih → dims) and LIST
    * movi ('00db'/'00dc' frame chunks), with the same hostile-bytes
    * guards as the WAV walker (long cursor, negative/oversized chunk
    * sizes fail clean). Features: mean B/G/R, luma variance, 12-bin
    * luma histogram — accumulated across every pixel of every frame.
    */
  def decodeAvi(b: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    val lay = MediaLayout.avi(b).getOrElse(return None)
    val w = lay.w; val h = lay.h
    val nFrames = lay.frameOffsets.length
    if (nFrames == 0) return None
    val st = new PixelStats
    var fi = 0
    while (fi < nFrames) {
      val base = lay.frameOffsets(fi)
      var y = 0
      while (y < h) {
        st.accumRow(b, base + y * lay.rowSize, w)
        y += 1
      }
      fi += 1
    }
    Some((w, h, nFrames,
      st.features((w.toLong * h * nFrames).toDouble)))
  }
}

/** Codegen'd container encoder: `media_encode(modality, payload)`. */
case class MediaEncode(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = BinaryType

  override def inputTypes = Seq(StringType, BinaryType)

  override def nullSafeEval(m: Any, b: Any): Any =
    MediaContainers.encodeJava(m.asInstanceOf[UTF8String].toString, b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, b) =>
      s"${ev.value} = graft.multimodal.MediaContainers.encodeJava($m.toString(), $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object MediaContainerFunctions {
  def media_encode(modality: Column, payload: Column): Column =
    ColumnBridge.column(MediaEncode(
      ColumnBridge.expression(modality), ColumnBridge.expression(payload)))
}

package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Perceptual fingerprints over DECODED media — the piece that makes
  * near-duplicate IMAGES/AUDIO visible to the dedup pipeline (until
  * now every dedup operator keyed on text or pre-supplied embeddings;
  * the codecs decoded real pixels/samples that nothing consumed for
  * similarity).
  *
  * Both hashes are 64-bit gradient signatures with pure-INTEGER
  * arithmetic end to end, so an oracle can replay them exactly from
  * container bytes — no float rounding ever crosses an engine
  * boundary:
  *
  *  - [[MediaHash.dhashBmp]]: classic dHash (9×8 luma grid, horizontal
  *    gradient). Grid cell (r,c) covers pixel block
  *    [⌊r·h/8⌋, max(⌊(r+1)·h/8⌋, ⌊r·h/8⌋+1)) × [⌊c·w/9⌋, …) — pure
  *    area blocks when downscaling, nearest-row duplication when the
  *    image is shorter than the grid (h < 8 — this corpus' BMPs are
  *    1-4 rows tall). Luma is integer milli-luma 299R+587G+114B; the
  *    mean comparison avg(c+1) > avg(c) is cross-multiplied to
  *    S(c+1)·w(c) > S(c)·w(c+1) (row counts cancel within a grid row),
  *    so no division happens at all.
  *  - [[MediaHash.fingerprintWav]]: the audio companion — 65 sample
  *    blocks, integer energy Σ(v−128)² per block, adjacent-block
  *    energy gradient → 64 bits, same cross-multiplied comparison.
  *
  * Bit (r,c) / bit b sits at position 63−(r·8+c) / 63−b (MSB-first).
  * Undecodable rows (wrong container / bpp / encoding, empty data)
  * hash to NULL and fall out of the dedup candidate stream.
  */
object MediaHash {

  /** The 9×8 gradient kernel over one bottom-up 24bpp pixel grid whose
    * image row y starts at byte `base + (h−1−y)·rowSize` — shared by
    * the BMP hash and the per-frame AVI hash (one spelling of the grid
    * arithmetic; the oracles replay exactly this).
    */
  private def dhashPixels(b: Array[Byte], base: Int, w: Int, h: Int,
                          rowSize: Int): Long = {
    val s = Array.ofDim[Long](8, 9)
    val wblk = new Array[Long](9)
    var c = 0
    while (c < 9) {
      val x0 = c * w / 9
      val x1 = math.max((c + 1) * w / 9, x0 + 1)
      wblk(c) = x1 - x0
      var r = 0
      while (r < 8) {
        val y0 = r * h / 8
        val y1 = math.max((r + 1) * h / 8, y0 + 1)
        var acc = 0L
        var y = y0
        while (y < y1) {
          // bottom-up storage: image row y is stored row h-1-y
          val rowOff = base + (h - 1 - y) * rowSize
          var x = x0
          while (x < x1) {
            val o = rowOff + x * 3
            acc += 114L * (b(o) & 0xFF) + 587L * (b(o + 1) & 0xFF) +
              299L * (b(o + 2) & 0xFF)
            x += 1
          }
          y += 1
        }
        s(r)(c) = acc
        r += 1
      }
      c += 1
    }
    var hash = 0L
    var r = 0
    while (r < 8) {
      c = 0
      while (c < 8) {
        if (s(r)(c + 1) * wblk(c) > s(r)(c) * wblk(c + 1))
          hash |= 1L << (63 - (r * 8 + c))
        c += 1
      }
      r += 1
    }
    hash
  }

  /** 64-bit dHash of a 24bpp uncompressed BMP; null otherwise. Layout
    * via the shared [[MediaLayout.bmp]] (one spelling — r16 verdict:
    * the duplicated parse here is where the WAV overflow fix drifted).
    */
  def dhashBmp(b: Array[Byte]): java.lang.Long =
    MediaLayout.bmp(b) match {
      case Some(l) => dhashPixels(b, l.dataOffset, l.w, l.h, l.rowSize)
      case None => null
    }

  /** Per-frame 64-bit dHashes of an uncompressed-DIB AVI, in frame
    * order; null for any other container flavor or zero frames.
    * Layout via the shared [[MediaLayout.avi]].
    */
  def dhashAviFrames(b: Array[Byte]): Array[Long] =
    MediaLayout.avi(b) match {
      case Some(l) if l.frameOffsets.nonEmpty =>
        l.frameOffsets.map(base => dhashPixels(b, base, l.w, l.h, l.rowSize))
      case _ => null
    }

  /** 64-bit energy-gradient fingerprint of a PCM u8 mono WAV; null for
    * any other encoding or empty sample data. Layout via the shared
    * [[MediaLayout.wav]].
    */
  def fingerprintWav(b: Array[Byte]): java.lang.Long = {
    val lay = MediaLayout.wav(b) match {
      case Some(l) if l.dataLen > 0 => l
      case _ => return null
    }
    val dataOff = lay.dataOff
    val n = lay.dataLen
    val e = new Array[Long](65)
    val cnt = new Array[Long](65)
    var blk = 0
    while (blk < 65) {
      // widen BEFORE multiplying (r16 review finding, now pinned by
      // MediaLayoutSpec): blk * n wraps Int for data chunks >= 32 MiB
      val s0 = (blk.toLong * n / 65).toInt
      val s1 = math.min(math.max(((blk + 1).toLong * n / 65).toInt, s0 + 1), n)
      var acc = 0L
      var i = s0
      while (i < s1) {
        val v = (b(dataOff + i) & 0xFF) - 128
        acc += v.toLong * v
        i += 1
      }
      e(blk) = acc; cnt(blk) = s1 - s0
      blk += 1
    }
    var hash = 0L
    blk = 0
    while (blk < 64) {
      // exact cross-multiply at ANY chunk size (r18 review): the long
      // products overflow above ~1.5 GiB data chunks — (n/65)² ·
      // 16384 crosses 2^63 — silently inverting gradient bits and
      // breaking the integer oracle-replay contract (the r16 fix
      // caught the 32 MiB blk·n Int wrap; the comparison itself had a
      // 2× thinner margin). BigInt costs 64 comparisons per FILE —
      // nothing next to the per-sample scan above.
      if (BigInt(e(blk + 1)) * BigInt(cnt(blk)) >
          BigInt(e(blk)) * BigInt(cnt(blk + 1)))
        hash |= 1L << (63 - blk)
      blk += 1
    }
    hash
  }
}

/** `bmp_dhash(bytes)` — codegen'd; see [[MediaHash.dhashBmp]]. */
case class BmpDHash(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType

  // null for undecodable bytes even when the child is non-nullable —
  // without this override Catalyst trusts the derived nullability and
  // unsafe projections skip the null bit (the CosineSimilarity lesson)
  override def nullable: Boolean = true

  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    MediaHash.dhashBmp(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("dh")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |java.lang.Long $boxed = graft.multimodal.MediaHash.dhashBmp($a);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `wav_fingerprint(bytes)` — codegen'd; see [[MediaHash.fingerprintWav]]. */
case class WavFingerprint(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    MediaHash.fingerprintWav(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("fp")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |java.lang.Long $boxed = graft.multimodal.MediaHash.fingerprintWav($a);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `avi_frame_dhash(bytes)` — per-frame hashes in frame order;
  * codegen'd; see [[MediaHash.dhashAviFrames]].
  */
case class AviFrameDHash(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any = {
    val hs = MediaHash.dhashAviFrames(input.asInstanceOf[Array[Byte]])
    if (hs == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(hs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hs = ctx.freshName("frameHashes")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |long[] $hs = graft.multimodal.MediaHash.dhashAviFrames($a);
         |if ($hs == null) { ${ev.isNull} = true; }
         |else { ${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($hs); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PerceptualHashFunctions {
  def bmp_dhash(bytes: Column): Column =
    ColumnBridge.column(BmpDHash(ColumnBridge.expression(bytes)))
  def wav_fingerprint(bytes: Column): Column =
    ColumnBridge.column(WavFingerprint(ColumnBridge.expression(bytes)))
  def avi_frame_dhash(bytes: Column): Column =
    ColumnBridge.column(AviFrameDHash(ColumnBridge.expression(bytes)))
}

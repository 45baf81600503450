package graft.operators

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Image crop/resize — the reference's `CropNode` (`dpl/processor/nodes/
  * crop.py:14-29`: PIL crop(bbox) + LANCZOS resize + JPEG save(quality))
  * re-implemented on `javax.imageio` + AWT, which ship with the JVM: this
  * is a REAL multimodal operator, not a stub. Bytes stay opaque in the
  * relational layer (SURVEY.md §1.3 hard part e); decode happens only
  * inside the crop kernel.
  *
  * Deviation from the reference: AWT offers bicubic, not Lanczos,
  * interpolation — resampled pixel values differ slightly from PIL's
  * LANCZOS (geometry and layout semantics are identical).
  */
object ImageOps {

  def cropResizeBytes(imageBytes: Array[Byte], x1: Int, y1: Int, x2: Int, y2: Int,
                      outSize: Int, quality: Float = 0.95f): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(imageBytes))
    require(img != null, "undecodable image payload")
    // PIL-style crop: clamp the box to the canvas (crop.py pads via bbox
    // transforms upstream; out-of-canvas handled by clamping here)
    val cx1 = math.max(0, math.min(x1, img.getWidth - 1))
    val cy1 = math.max(0, math.min(y1, img.getHeight - 1))
    val cx2 = math.max(cx1 + 1, math.min(x2, img.getWidth))
    val cy2 = math.max(cy1 + 1, math.min(y2, img.getHeight))
    val crop = img.getSubimage(cx1, cy1, cx2 - cx1, cy2 - cy1)
    val out = new BufferedImage(outSize, outSize, BufferedImage.TYPE_3BYTE_BGR)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BICUBIC)
      g.drawImage(crop, 0, 0, outSize, outSize, null)
    } finally g.dispose()
    val baos = new ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    // MemoryCacheImageOutputStream only guarantees cached bytes reach the
    // underlying stream on close — without it the JPEG can be truncated
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(out, null, null), params)
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  /** `CropNode`: appends `crops` (array<binary>, index-aligned with the
    * frames; the zip of frames and boxes mirrors `crop.py:72-74`) cut from
    * (frames: array<binary>, bboxes: array<struct<x1,y1,x2,y2: long>>). A
    * clip with any failed frame, a frames/boxes count mismatch (the
    * equal-length zip guard, `common.py:79-81`) or no frames gets null
    * crops and flows to the error side-output: the reference's
    * fail-the-clip semantics, never a silently shifted frame axis. */
  def withCrops(df: DataFrame, framesCol: String, bboxesCol: String,
                outSize: Int = 224, quality: Float = 0.95f): DataFrame =
    ModelOp.appendBatches(df, Seq(framesCol, bboxesCol),
      Seq(StructField("crops", ArrayType(BinaryType, true))), 8, ModelOp.NoModel) { (_, batch) =>
      batch.map { r =>
        val frames = r.getSeq[Array[Byte]](0)
        val boxes = r.getSeq[Row](1)
        Row(if (frames.isEmpty || frames.length != boxes.length) null
          else try frames.zip(boxes).map { case (bytes, box) =>
            cropResizeBytes(bytes, box.getLong(0).toInt, box.getLong(1).toInt,
              box.getLong(2).toInt, box.getLong(3).toInt, outSize, quality)
          } catch { case _: Exception => null })
      }
    }
}

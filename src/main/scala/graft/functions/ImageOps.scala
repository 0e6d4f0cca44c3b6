package graft.functions

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** I1–I4: the reference's image transform, fused into one executor-side
  * scalar UDF over BinaryType (SURVEY.md §2.8).
  *
  * Reference semantics (/root/reference/src/transform_load.py:96-103):
  * sniff-decode (JPEG/PNG/…), resize to exactly 224×224 (aspect ratio NOT
  * preserved — the code is `img.resize((224,224))`, and the code beats the
  * README's 256×256 claim), convert to RGB (drops alpha / expands
  * palette), re-encode as JPEG. Any failure drops the row (F6:
  * transform_load.py:121-123) — here: return null, caller filters.
  *
  * PIL vs ImageIO JPEG bytes are not bit-identical, so correctness is
  * structural (decodes, 224×224, 3 channels), never byte equality
  * (SURVEY.md §7.4). Bytes never touch the driver: the UDF runs where the
  * chunk rows live, which is what keeps this viable at 100 TB.
  */
object ImageOps {

  val TargetW = 224
  val TargetH = 224

  /** Decode → resize(224,224) → RGB → JPEG bytes; null on any failure. */
  def transformImageBytes(bytes: Array[Byte]): Array[Byte] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) null
      else {
        val out = new BufferedImage(TargetW, TargetH, BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, TargetW, TargetH, null)
        g.dispose()
        val baos = new ByteArrayOutputStream()
        ImageIO.write(out, "jpeg", baos)
        baos.toByteArray
      }
    } catch { case _: Exception => null }

  val transformImage: UserDefinedFunction = udf(transformImageBytes _).withName("transformImage")

  /** N1 — pixel normalization (the README-claimed step the reference's
    * code never implements: /root/reference/README.md:13 promises it,
    * transform_load.py:97 does only resize+RGB). Opt-in ML-parity
    * surface: decode → resize(224,224) → RGB → float array in [0,1],
    * row-major H×W×C (length 224·224·3), /255 per channel — the shape
    * a training pipeline feeds a vision model. Null on any failure
    * (F6 drop semantics). Executor-side only; 602 KB per row, so the
    * caller should aggregate or write immediately, never collect. */
  def normalizeImageBytes(bytes: Array[Byte]): Array[Float] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) null
      else {
        val out = new BufferedImage(TargetW, TargetH, BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, TargetW, TargetH, null)
        g.dispose()
        val arr = new Array[Float](TargetW * TargetH * 3)
        var y = 0
        var i = 0
        while (y < TargetH) {
          var x = 0
          while (x < TargetW) {
            val rgb = out.getRGB(x, y)
            arr(i) = ((rgb >> 16) & 0xFF) / 255f
            arr(i + 1) = ((rgb >> 8) & 0xFF) / 255f
            arr(i + 2) = (rgb & 0xFF) / 255f
            i += 3
            x += 1
          }
          y += 1
        }
        arr
      }
    } catch { case _: Exception => null }

  val normalizeImage: UserDefinedFunction = udf(normalizeImageBytes _)

  /** (width, height) of an encoded image, or null if undecodable — for
    * structural assertions and metadata extraction. */
  def imageDimsOf(bytes: Array[Byte]): Option[(Int, Int)] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) None else Some((img.getWidth, img.getHeight))
    } catch { case _: Exception => None }

  val imageDims: UserDefinedFunction = udf((b: Array[Byte]) => imageDimsOf(b).orNull)

  /** Deterministic BLOCK-structured JPEG: an 8×8 grid of seeded solid
    * colors — the macro structure real photographs have (regions of
    * coherent luma), unlike [[makeTestJpeg]]'s per-pixel noise whose
    * aHash cells all hover at the global mean (the adversarial case
    * for perceptual hashing: resize/re-encode flips many bits). Block
    * images survive resize + JPEG re-encode with ~0–2 aHash bit flips
    * while distinct seeds stay ~32 apart — the fixture for q171. */
  def makeBlockJpeg(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rng = new scala.util.Random(seed)
    val colors = Array.fill(64)(rng.nextInt(0xFFFFFF))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, colors(((y * 8) / h) * 8 + (x * 8) / w))
        x += 1
      }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpeg", baos)
    baos.toByteArray
  }

  /** Deterministic synthetic JPEG for fixtures (zero-egress env — no live
    * MET images; FIXTURES.md A3). */
  def makeTestJpeg(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rng = new scala.util.Random(seed)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rng.nextInt(0xFFFFFF)); x += 1 }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpeg", baos)
    baos.toByteArray
  }
}

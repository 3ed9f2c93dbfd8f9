package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.kernels.Imaging
import graft.kernels.Imaging.Raster

/**
 * Catalyst-native image expressions (SURVEY.md §2.11): the minimum custom
 * Catalyst surface — everything else in the engine composes built-ins.
 *
 *  - `decode_image(bytes)` → struct(w, h, pixels array<int>) or null on
 *    corrupt input (the reference's null-image skip,
 *    exm/FeatureExtraction.java:109–116; decode itself mirrors
 *    vec/ImageVectorization.java:176–185 incl. the retry-on-grey-JPEG shape).
 *  - `scale_max_pixels(img, n)` → same struct, reference maxPixelsScaling
 *    geometry (ext/ImageScaling.java:96–155).
 *  - `phash64(img)` → 64-bit average hash (the input table's `phash` column).
 *  - `img_psnr(a, b)` → PSNR in dB (the ≥40 dB lossy parity gate).
 *
 * Codegen: these call into static kernel methods via generated code (no
 * interpreted-eval fallback in the hot path); the work per row is dominated
 * by the decode itself, which is inherently JVM-library code.
 */
object ImageExpressions {

  val imageStruct: StructType = StructType(Seq(
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("pixels", ArrayType(IntegerType, containsNull = false), nullable = false)))

  // --- static bridges the generated code calls -------------------------------

  /** bytes → InternalRow(w, h, pixels) | null. Called from codegen. */
  def decodeToRow(bytes: Array[Byte]): InternalRow =
    Imaging.decode(bytes).map(rasterToRow).orNull

  def scaleRow(img: InternalRow, maxPixels: Long): InternalRow =
    rasterToRow(Imaging.maxPixelsScaling(rowToRaster(img), maxPixels))

  def phashRow(img: InternalRow): Long = Imaging.averageHash(rowToRaster(img))

  def dhashRow(img: InternalRow): Long = Imaging.differenceHash(rowToRaster(img))

  def psnrRow(a: InternalRow, b: InternalRow): Double =
    Imaging.psnr(rowToRaster(a), rowToRaster(b))

  def rasterToRow(r: Raster): InternalRow =
    InternalRow(r.w, r.h, new GenericArrayData(r.pixels))

  def rowToRaster(row: InternalRow): Raster =
    Raster(row.getInt(0), row.getInt(1), row.getArray(2).toIntArray())

  // --- expressions -----------------------------------------------------------

  case class DecodeImage(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = imageStruct
    override def nullable: Boolean = true
    override def prettyName: String = "decode_image"
    override def nullSafeEval(bytes: Any): Any =
      ImageExpressions.decodeToRow(bytes.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = ImageExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |${ev.value} = $cls.decodeToRow($c);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): DecodeImage = copy(c)
  }

  case class ScaleMaxPixels(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = imageStruct
    override def prettyName: String = "scale_max_pixels"
    override def nullSafeEval(img: Any, n: Any): Any =
      ImageExpressions.scaleRow(img.asInstanceOf[InternalRow], n.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = ImageExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, (img, n) =>
        s"${ev.value} = $cls.scaleRow($img, $n);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ScaleMaxPixels =
      copy(left = l, right = r)
  }

  case class PHash64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "phash64"
    override def nullSafeEval(img: Any): Any =
      ImageExpressions.phashRow(img.asInstanceOf[InternalRow])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = ImageExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, img => s"${ev.value} = $cls.phashRow($img);")
    }
    override protected def withNewChildInternal(c: Expression): PHash64 = copy(c)
  }

  /** 64-bit difference hash — [[graft.kernels.Imaging.differenceHash]]'s
    * horizontal-gradient signature; the aHash-complementing family for
    * near-dup banding (dhash bits survive monotone brightness shifts). */
  case class DHash64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "dhash64"
    override def nullSafeEval(img: Any): Any =
      ImageExpressions.dhashRow(img.asInstanceOf[InternalRow])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = ImageExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, img => s"${ev.value} = $cls.dhashRow($img);")
    }
    override protected def withNewChildInternal(c: Expression): DHash64 = copy(c)
  }

  case class ImgPsnr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "img_psnr"
    override def nullSafeEval(a: Any, b: Any): Any =
      ImageExpressions.psnrRow(a.asInstanceOf[InternalRow], b.asInstanceOf[InternalRow])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = ImageExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $cls.psnrRow($a, $b);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ImgPsnr =
      copy(left = l, right = r)
  }

  // --- augmentation (deterministic training-data variants) -------------------

  def flipRow(img: InternalRow): InternalRow =
    rasterToRow(Imaging.flipHorizontal(rowToRaster(img)))
  def rotateRow(img: InternalRow, times: Int): InternalRow =
    rasterToRow(Imaging.rotate90(rowToRaster(img), times))
  def centerCropRow(img: InternalRow, w: Int, h: Int): InternalRow =
    rasterToRow(Imaging.centerCrop(rowToRaster(img), w, h))
  def seededCropRow(img: InternalRow, w: Int, h: Int, seed: Long): InternalRow =
    rasterToRow(Imaging.seededCrop(rowToRaster(img), w, h, seed))

  case class ImgFlipH(child: Expression) extends UnaryExpression {
    override def dataType: DataType = imageStruct
    override def prettyName: String = "img_flip_h"
    override def nullSafeEval(img: Any): Any =
      ImageExpressions.flipRow(img.asInstanceOf[InternalRow])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = ImageExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, img => s"${ev.value} = $cls.flipRow($img);")
    }
    override protected def withNewChildInternal(c: Expression): ImgFlipH = copy(c)
  }

  case class ImgRotate90(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = imageStruct
    override def prettyName: String = "img_rotate90"
    override def nullSafeEval(img: Any, t: Any): Any =
      ImageExpressions.rotateRow(img.asInstanceOf[InternalRow],
        t.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = ImageExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, (img, t) => s"${ev.value} = $cls.rotateRow($img, $t);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ImgRotate90 =
      copy(left = l, right = r)
  }

  case class ImgCenterCrop(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = imageStruct
    override def prettyName: String = "img_center_crop"
    override def nullSafeEval(img: Any, w: Any, h: Any): Any =
      ImageExpressions.centerCropRow(img.asInstanceOf[InternalRow],
        w.asInstanceOf[Int], h.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = ImageExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, (img, w, h) =>
        s"${ev.value} = $cls.centerCropRow($img, $w, $h);")
    }
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): ImgCenterCrop =
      copy(first = f, second = s, third = t)
  }

  case class ImgSeededCrop(first: Expression, second: Expression,
                           third: Expression, fourth: Expression)
      extends QuaternaryExpression {
    override def dataType: DataType = imageStruct
    override def prettyName: String = "img_seeded_crop"
    override def nullSafeEval(img: Any, w: Any, h: Any, seed: Any): Any =
      ImageExpressions.seededCropRow(img.asInstanceOf[InternalRow],
        w.asInstanceOf[Int], h.asInstanceOf[Int], seed.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = ImageExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, (img, w, h, seed) =>
        s"${ev.value} = $cls.seededCropRow($img, $w, $h, $seed);")
    }
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression, q: Expression): ImgSeededCrop =
      copy(first = f, second = s, third = t, fourth = q)
  }

  // --- Column API ------------------------------------------------------------

  def decode_image(bytes: Column): Column =
    GraftBridge.column(DecodeImage(GraftBridge.expression(bytes)))
  def scale_max_pixels(img: Column, maxPixels: Column): Column =
    GraftBridge.column(ScaleMaxPixels(
      GraftBridge.expression(img), GraftBridge.expression(maxPixels)))
  def phash64(img: Column): Column =
    GraftBridge.column(PHash64(GraftBridge.expression(img)))
  def dhash64(img: Column): Column =
    GraftBridge.column(DHash64(GraftBridge.expression(img)))
  def img_psnr(a: Column, b: Column): Column =
    GraftBridge.column(ImgPsnr(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  def img_flip_h(img: Column): Column =
    GraftBridge.column(ImgFlipH(GraftBridge.expression(img)))
  def img_rotate90(img: Column, times: Column): Column =
    GraftBridge.column(ImgRotate90(
      GraftBridge.expression(img), GraftBridge.expression(times)))
  def img_center_crop(img: Column, w: Column, h: Column): Column =
    GraftBridge.column(ImgCenterCrop(GraftBridge.expression(img),
      GraftBridge.expression(w), GraftBridge.expression(h)))
  def img_seeded_crop(img: Column, w: Column, h: Column, seed: Column): Column =
    GraftBridge.column(ImgSeededCrop(GraftBridge.expression(img),
      GraftBridge.expression(w), GraftBridge.expression(h),
      GraftBridge.expression(seed)))

  /** The image expressions as SQL functions, (name, builder) pairs read by
    * [[registerAll]] and [[GraftExtensions]]. */
  private[functions] val sqlFunctions: Seq[(String, FunctionBuilder)] = Seq(
    ("decode_image", e => DecodeImage(e.head)),
    ("scale_max_pixels", e => ScaleMaxPixels(e.head, e(1))),
    ("phash64", e => PHash64(e.head)),
    ("dhash64", e => DHash64(e.head)),
    ("img_psnr", e => ImgPsnr(e.head, e(1))),
    ("img_flip_h", e => ImgFlipH(e.head)),
    ("img_rotate90", e => ImgRotate90(e.head, e(1))),
    ("img_center_crop", e => ImgCenterCrop(e.head, e(1), e(2))),
    ("img_seeded_crop", e => ImgSeededCrop(e.head, e(1), e(2), e(3))))

  /** Register [[sqlFunctions]] for SQL use in `spark`. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

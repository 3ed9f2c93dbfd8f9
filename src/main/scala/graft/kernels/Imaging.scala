package graft.kernels

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/**
 * Pure image kernels: decode (JDK ImageIO with the reference's
 * greyscale-JPEG fallback intent, vec/ImageVectorization.java:176–185),
 * deterministic bilinear max-pixels scaling (ext/ImageScaling.java:96–155),
 * 64-bit average hash (the `phash` input column), PSNR, and the deterministic
 * procedural raster generator used by FIXTURES.md §1.
 *
 * Raster representation everywhere: packed 0xRRGGBB ints, row-major,
 * length = w*h (alpha dropped — the reference extracts on RGB/grey only).
 */
object Imaging {

  // ImageIO defaults to DISK-backed stream caching: every decode/encode spins
  // up a temp file — at 32 concurrent decode tasks that serializes the whole
  // pipeline on /tmp I/O. Images here are in-memory byte arrays; cache in heap.
  javax.imageio.ImageIO.setUseCache(false)

  final case class Raster(w: Int, h: Int, pixels: Array[Int]) {
    require(pixels.length == w * h, s"raster ${w}x$h but ${pixels.length} pixels")
  }

  // -------------------------------------------------------------------- decode

  /** Decode image bytes → packed-RGB raster. Returns None for null/corrupt
    * bytes (the reference's null-image skip, exm/FeatureExtraction.java:109–116).
    * JDK 17 ImageIO handles greyscale JPEGs natively, so the reference's
    * retry through its vendored ImageIOGreyScale decoder
    * (utl/ImageIOGreyScale.java, written for an older JDK bug) has no
    * counterpart: one ImageIO attempt, and any failure is None. */
  // Per-thread reusable ImageReaders, dispatched on the container's magic
  // bytes: ImageIO.read pays a service-registry scan + reader allocation +
  // disposal PER CALL — pure fixed cost that dominates decode for small
  // images. The cached reader is the same first-registered reader class
  // ImageIO.read would select for the sniffed format, driven with the same
  // (read(0, defaultParam)) call, so the decoded BufferedImage is
  // bit-identical; unknown magics and any reader failure fall back to the
  // original ImageIO.read path. ImageReader is not thread-safe → ThreadLocal.
  private val tlReaders =
    new ThreadLocal[Array[javax.imageio.ImageReader]] {
      override def initialValue(): Array[javax.imageio.ImageReader] =
        Array("jpeg", "png", "gif").map { f =>
          val it = ImageIO.getImageReadersByFormatName(f)
          if (it.hasNext) it.next() else null
        }
    }

  /** 0=jpeg, 1=png, 2=gif, -1=unknown. */
  private def sniffFormat(b: Array[Byte]): Int =
    if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) 0
    else if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
      b(2) == 'N' && b(3) == 'G') 1
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F') 2
    else -1

  private def readViaImageIO(bytes: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
    catch { case _: Throwable => None }

  def decode(bytes: Array[Byte]): Option[Raster] = {
    if (bytes == null || bytes.length == 0) return None
    val fmt = sniffFormat(bytes)
    val reader = if (fmt >= 0) tlReaders.get()(fmt) else null
    val img: Option[BufferedImage] =
      if (reader == null) readViaImageIO(bytes)
      else {
        val attempt =
          try {
            val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
              new ByteArrayInputStream(bytes))
            try {
              reader.setInput(iis, true, true)
              Option(reader.read(0, reader.getDefaultReadParam))
            } finally {
              reader.reset() // drop the input reference; reader is reused
              iis.close()
            }
          } catch { case _: Throwable => None }
        attempt.orElse(readViaImageIO(bytes))
      }
    img.map(toRaster)
  }

  /** BufferedImage → packed raster. For the layouts ImageIO actually
    * produces for JPEG/PNG (3BYTE_BGR, INT_RGB, INT_ARGB) the pixels are read
    * straight from the backing DataBuffer — `getRGB` routes every pixel
    * through ColorModel and was the single biggest cost in the decode stage.
    * The byte/int packing below produces bit-identical values to `getRGB` for
    * these sRGB layouts (asserted in ImagingSpec); anything else — notably
    * TYPE_BYTE_GRAY, whose getRGB applies a linear-gray→sRGB conversion that
    * must be preserved — falls back to the exact getRGB path. */
  def toRaster(img: BufferedImage): Raster = {
    val w = img.getWidth; val h = img.getHeight
    val n = w * h
    // the direct-DataBuffer fast paths assume a DENSELY PACKED buffer that
    // starts at index 0 (offset 0, scanline stride == w, exactly w*h pixels
    // of data) — true for freshly decoded/allocated images, FALSE for
    // getSubimage views, which share the parent's buffer with a nonzero
    // offset and parent-width stride; those fall through to getRGB
    def packed(expectedLen: Int): Boolean = {
      val r = img.getRaster
      r.getDataBuffer.getOffset == 0 && r.getDataBuffer.getSize == expectedLen &&
        (r.getSampleModel match {
          case sm: java.awt.image.ComponentSampleModel =>
            sm.getScanlineStride == w * sm.getPixelStride
          case sm: java.awt.image.SinglePixelPackedSampleModel =>
            sm.getScanlineStride == w
          case _ => false
        })
    }
    img.getType match {
      case BufferedImage.TYPE_3BYTE_BGR
        if img.getRaster.getDataBuffer.isInstanceOf[java.awt.image.DataBufferByte] &&
          packed(n * 3) =>
        val b = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        val px = new Array[Int](n)
        var i = 0; var j = 0
        while (i < n) {
          px(i) = ((b(j + 2) & 0xff) << 16) | ((b(j + 1) & 0xff) << 8) | (b(j) & 0xff)
          i += 1; j += 3
        }
        Raster(w, h, px)
      case BufferedImage.TYPE_INT_RGB | BufferedImage.TYPE_INT_ARGB
        if img.getRaster.getDataBuffer.isInstanceOf[java.awt.image.DataBufferInt] &&
          packed(n) =>
        val d = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferInt].getData
        val px = new Array[Int](n)
        var i = 0
        while (i < n) { px(i) = d(i) & 0xffffff; i += 1 }
        Raster(w, h, px)
      case _ =>
        val px = new Array[Int](n)
        img.getRGB(0, 0, w, h, px, 0, w)
        var i = 0
        while (i < n) { px(i) = px(i) & 0xffffff; i += 1 } // drop alpha
        Raster(w, h, px)
    }
  }

  def toBufferedImage(r: Raster): BufferedImage = {
    val img = new BufferedImage(r.w, r.h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, r.w, r.h, r.pixels, 0, r.w)
    img
  }

  // -------------------------------------------------------------------- scale

  /** Bilinear resample to (tw, th). Deterministic pure-Scala replacement for the
    * reference's Graphics2D BILINEAR drawImage (ext/ImageScaling.java:143–150):
    * pixel-center mapping, per-channel bilinear interpolation, round-half-up. */
  def bilinearResize(r: Raster, tw: Int, th: Int): Raster = {
    if (tw == r.w && th == r.h) return r
    val out = new Array[Int](tw * th)
    val sx = r.w.toDouble / tw
    val sy = r.h.toDouble / th
    // column geometry is row-invariant — hoist it (same arithmetic, same
    // values; the per-pixel recompute was ~a third of the scaling stage)
    val xs0 = new Array[Int](tw); val xs1 = new Array[Int](tw)
    val wxs = new Array[Double](tw)
    var x = 0
    while (x < tw) {
      val fx = (x + 0.5) * sx - 0.5
      val x0 = math.max(0, math.min(r.w - 1, math.floor(fx).toInt))
      xs0(x) = x0
      xs1(x) = math.min(r.w - 1, x0 + 1)
      wxs(x) = math.max(0.0, math.min(1.0, fx - x0))
      x += 1
    }
    var y = 0
    while (y < th) {
      val fy = (y + 0.5) * sy - 0.5
      val y0 = math.max(0, math.min(r.h - 1, math.floor(fy).toInt))
      val y1 = math.min(r.h - 1, y0 + 1)
      val wy = math.max(0.0, math.min(1.0, fy - y0))
      val row0 = y0 * r.w; val row1 = y1 * r.w
      val rowOut = y * tw
      x = 0
      while (x < tw) {
        val wx = wxs(x)
        val p00 = r.pixels(row0 + xs0(x)); val p01 = r.pixels(row0 + xs1(x))
        val p10 = r.pixels(row1 + xs0(x)); val p11 = r.pixels(row1 + xs1(x))
        // channel loop unrolled (same per-channel arithmetic in the same
        // order — bit-identical to the shift-loop form, ~25% fewer ops)
        @inline def ch(shift: Int): Int = {
          val c00 = (p00 >> shift) & 0xff; val c01 = (p01 >> shift) & 0xff
          val c10 = (p10 >> shift) & 0xff; val c11 = (p11 >> shift) & 0xff
          val top = c00 + (c01 - c00) * wx
          val bot = c10 + (c11 - c10) * wx
          val v = math.round(top + (bot - top) * wy).toInt
          math.max(0, math.min(255, v))
        }
        out(rowOut + x) = (ch(16) << 16) | (ch(8) << 8) | ch(0)
        x += 1
      }
      y += 1
    }
    Raster(tw, th, out)
  }

  /** Max-pixels scaling with the reference's exact geometry and multi-step
    * halving schedule (ext/ImageScaling.java:96–155): no-op when w·h ≤ target;
    * else ratio = √(target/area), target dims = floor(dim·ratio); higher-quality
    * path halves w,h per step (clamped at target) with a bilinear pass each step. */
  def maxPixelsScaling(r: Raster, targetPixels: Long): Raster = {
    val area = r.w.toLong * r.h
    if (area <= targetPixels) return r
    val ratio = math.sqrt(targetPixels.toDouble / area)
    val tw = (r.w * ratio).toInt
    val th = (r.h * ratio).toInt
    var cur = r
    var w = r.w; var h = r.h
    while (w != tw || h != th) {
      if (w > tw) { w /= 2; if (w < tw) w = tw }
      if (h > th) { h /= 2; if (h < th) h = th }
      cur = bilinearResize(cur, w, h)
    }
    cur
  }

  /** Square thumbnail: scale so the MIN dimension hits `target`, then
    * center-crop the larger dimension to `target`
    * (ext/ImageScaling.java:167–242). */
  def squareThumbScaling(r: Raster, target: Int): Raster = {
    val ratio = target.toDouble / math.min(r.w, r.h)
    val tw = math.max(target, (r.w * ratio).toInt)
    val th = math.max(target, (r.h * ratio).toInt)
    val scaled = bilinearResize(r, tw, th)
    val x0 = (tw - target) / 2
    val y0 = (th - target) / 2
    val out = new Array[Int](target * target)
    var y = 0
    while (y < target) {
      System.arraycopy(scaled.pixels, (y0 + y) * tw + x0, out, y * target, target)
      y += 1
    }
    Raster(target, target, out)
  }

  /** Rect scaling: scale so the MAX dimension hits `target`; no-op if already
    * within (ext/ImageScaling.java:274–334). */
  def rectScaling(r: Raster, target: Int): Raster = {
    val maxDim = math.max(r.w, r.h)
    if (maxDim <= target) return r
    val ratio = target.toDouble / maxDim
    bilinearResize(r, math.max(1, (r.w * ratio).toInt), math.max(1, (r.h * ratio).toInt))
  }

  // --------------------------------------------------------------------- grey

  /** Luminance (ITU-R BT.601 int approximation, deterministic). */
  def grey(r: Raster): Array[Double] = {
    val out = new Array[Double](r.pixels.length)
    var i = 0
    while (i < r.pixels.length) {
      val p = r.pixels(i)
      out(i) = 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)
      i += 1
    }
    out
  }

  /** Luminance as float32 — half the memory traffic of the double variant;
    * used by the hot extract path (pipeline is bandwidth-bound at full box
    * occupancy). */
  def greyF(r: Raster): Array[Float] = {
    val out = new Array[Float](r.pixels.length)
    var i = 0
    while (i < r.pixels.length) {
      val p = r.pixels(i)
      out(i) = (0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
        0.114 * (p & 0xff)).toFloat
      i += 1
    }
    out
  }

  // --------------------------------------------------------------------- hash

  /** 64-bit average hash: box-average to 8×8 grey, bit i set iff cell > mean.
    * This defines the `phash` column of the input table (FIXTURES.md §1). */
  def averageHash(r: Raster): Long = {
    val g = grey(r)
    val cells = new Array[Double](64)
    var cy = 0
    while (cy < 8) {
      val y0 = cy * r.h / 8; val y1 = math.max(y0 + 1, (cy + 1) * r.h / 8)
      var cx = 0
      while (cx < 8) {
        val x0 = cx * r.w / 8; val x1 = math.max(x0 + 1, (cx + 1) * r.w / 8)
        var s = 0.0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += g(y * r.w + x); n += 1; x += 1 }
          y += 1
        }
        cells(cy * 8 + cx) = s / n
        cx += 1
      }
      cy += 1
    }
    val mean = cells.sum / 64
    var bits = 0L; var i = 0
    while (i < 64) { if (cells(i) > mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** 64-bit difference hash (dHash): greyscale means over a 9×8 grid, bit
    * (row, col) set when cell(col+1) > cell(col) — a horizontal-gradient
    * signature. Complements [[averageHash]] for near-dup banding: aHash
    * thresholds against the global mean (sensitive to vignettes/brightness
    * ramps), dHash encodes local ordering (invariant to monotone global
    * brightness shifts). Same contract: 0L for degenerate rasters. */
  def differenceHash(r: Raster): Long = {
    val g = grey(r)
    val cells = new Array[Double](72) // 9 cols × 8 rows
    var cy = 0
    while (cy < 8) {
      val y0 = cy * r.h / 8; val y1 = math.max(y0 + 1, (cy + 1) * r.h / 8)
      var cx = 0
      while (cx < 9) {
        val x0 = cx * r.w / 9; val x1 = math.max(x0 + 1, (cx + 1) * r.w / 9)
        var s = 0.0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += g(y * r.w + x); n += 1; x += 1 }
          y += 1
        }
        cells(cy * 9 + cx) = s / n
        cx += 1
      }
      cy += 1
    }
    var bits = 0L
    var row = 0
    while (row < 8) {
      var col = 0
      while (col < 8) {
        if (cells(row * 9 + col + 1) > cells(row * 9 + col))
          bits |= (1L << (row * 8 + col))
        col += 1
      }
      row += 1
    }
    bits
  }

  // --------------------------------------------------------------------- PSNR

  /** PSNR in dB between two same-size rasters (parity gate: ≥40 dB for lossy). */
  def psnr(a: Raster, b: Raster): Double = {
    require(a.w == b.w && a.h == b.h, "PSNR needs same dimensions")
    var se = 0.0; var n = 0
    var i = 0
    while (i < a.pixels.length) {
      var shift = 16
      while (shift >= 0) {
        val d = ((a.pixels(i) >> shift) & 0xff) - ((b.pixels(i) >> shift) & 0xff)
        se += d.toDouble * d; n += 1
        shift -= 8
      }
      i += 1
    }
    if (se == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 * n / se)
  }

  // ------------------------------------------------------------------- encode

  def encodePng(r: Raster): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(toBufferedImage(r), "png", bos)
    bos.toByteArray
  }

  def encodeJpeg(r: Raster, quality: Float = 0.95f): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(toBufferedImage(r), null, null), params)
    writer.dispose(); ios.close()
    bos.toByteArray
  }

  // ---------------------------------------------------------------- synthesis

  /** Deterministic procedural raster keyed by (seed, index): smooth two-axis
    * gradient + seeded rectangles + a disc. Smooth content keeps JPEG q=0.85
    * comfortably above the 40 dB PSNR gate while still giving detectors
    * gradients and corners to respond to. */
  def syntheticRaster(seed: Long, index: Long, w: Int, h: Int): Raster = {
    val rnd = new java.util.Random(seed * 1000003L + index)
    val baseR = 40 + rnd.nextInt(160); val baseG = 40 + rnd.nextInt(160); val baseB = 40 + rnd.nextInt(160)
    val dirX = rnd.nextDouble() * 2 - 1; val dirY = rnd.nextDouble() * 2 - 1
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val t = (dirX * x / w + dirY * y / h + 2) / 4
        val r = clamp8(baseR + (t * 80).toInt)
        val g = clamp8(baseG + (t * 60).toInt)
        val b = clamp8(baseB + (t * 100).toInt)
        px(y * w + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    val raster = Raster(w, h, px)
    val nRects = 1 + rnd.nextInt(3)
    var i = 0
    while (i < nRects) {
      val rx = rnd.nextInt(math.max(1, w - 8)); val ry = rnd.nextInt(math.max(1, h - 8))
      val rw = 4 + rnd.nextInt(w / 2); val rh = 4 + rnd.nextInt(h / 2)
      val color = ((64 + rnd.nextInt(192)) << 16) | ((64 + rnd.nextInt(192)) << 8) | (64 + rnd.nextInt(192))
      fillRect(raster, rx, ry, rw, rh, color)
      i += 1
    }
    val cx = w / 4 + rnd.nextInt(math.max(1, w / 2))
    val cy = h / 4 + rnd.nextInt(math.max(1, h / 2))
    val rad = 3 + rnd.nextInt(math.max(4, math.min(w, h) / 4))
    val discColor = ((64 + rnd.nextInt(192)) << 16) | ((64 + rnd.nextInt(192)) << 8) | (64 + rnd.nextInt(192))
    fillDisc(raster, cx, cy, rad, discColor)
    // soften hard edges: JPEG chroma subsampling would otherwise cap PSNR ~35
    boxBlur3(boxBlur3(raster))
  }

  /** 3×3 box blur (one pass). Used by the synthetic generator to keep content
    * smooth enough that JPEG q=0.95 stays above the 40 dB parity gate while
    * gradients/corners remain for the detectors. */
  def boxBlur3(r: Raster): Raster = {
    val out = new Array[Int](r.pixels.length)
    var y = 0
    while (y < r.h) {
      var x = 0
      while (x < r.w) {
        var sr = 0; var sg = 0; var sb = 0; var n = 0
        var dy = -1
        while (dy <= 1) {
          val yy = y + dy
          if (yy >= 0 && yy < r.h) {
            var dx = -1
            while (dx <= 1) {
              val xx = x + dx
              if (xx >= 0 && xx < r.w) {
                val p = r.pixels(yy * r.w + xx)
                sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                n += 1
              }
              dx += 1
            }
          }
          dy += 1
        }
        out(y * r.w + x) = ((sr / n) << 16) | ((sg / n) << 8) | (sb / n)
        x += 1
      }
      y += 1
    }
    Raster(r.w, r.h, out)
  }

  // ------------------------------------------------------------ augmentation
  // Deterministic training-data augmentation kernels (vision pipelines
  // multiply each image into flip/rotate/crop variants before feature
  // extraction / contrastive training). All pure functions — "random" crop
  // offsets derive from a hash of an explicit seed, so an augmented corpus
  // is exactly reproducible run-to-run and partition-to-partition, the same
  // determinism contract as the curation md5 sampling.

  /** Horizontal mirror (left↔right). Self-inverse. */
  def flipHorizontal(r: Raster): Raster = {
    val out = new Array[Int](r.pixels.length)
    var y = 0
    while (y < r.h) {
      var x = 0
      val row = y * r.w
      while (x < r.w) {
        out(row + x) = r.pixels(row + (r.w - 1 - x))
        x += 1
      }
      y += 1
    }
    Raster(r.w, r.h, out)
  }

  /** Rotate clockwise by 90° × `times` (times taken mod 4; negative allowed).
    * One clockwise step maps source (x, y) → dest (h − 1 − y, x). */
  def rotate90(r: Raster, times: Int): Raster = {
    val t = java.lang.Math.floorMod(times, 4)
    if (t == 0) return r
    var cur = r
    var i = 0
    while (i < t) {
      val out = new Array[Int](cur.pixels.length)
      val (w, h) = (cur.w, cur.h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          // dest width = h; dest(x', y') with x' = h−1−y, y' = x
          out(x * h + (h - 1 - y)) = cur.pixels(y * w + x)
          x += 1
        }
        y += 1
      }
      cur = Raster(h, w, out)
      i += 1
    }
    cur
  }

  /** Centered crop to (cw, ch), clamped to the source size. */
  def centerCrop(r: Raster, cw: Int, ch: Int): Raster = {
    val w = math.max(1, math.min(cw, r.w))
    val h = math.max(1, math.min(ch, r.h))
    cropAt(r, (r.w - w) / 2, (r.h - h) / 2, w, h)
  }

  /** Deterministic "random" crop: the offset is a pure function of `seed`
    * (splitmix64 finalizer), so the same (image, seed) always yields the
    * same crop — reproducible augmentation, no task-order dependence. */
  def seededCrop(r: Raster, cw: Int, ch: Int, seed: Long): Raster = {
    val w = math.max(1, math.min(cw, r.w))
    val h = math.max(1, math.min(ch, r.h))
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    val x0 = if (r.w == w) 0 else java.lang.Math.floorMod(z, (r.w - w + 1).toLong).toInt
    val y0 = if (r.h == h) 0
      else java.lang.Math.floorMod(z >>> 32, (r.h - h + 1).toLong).toInt
    cropAt(r, x0, y0, w, h)
  }

  private def cropAt(r: Raster, x0: Int, y0: Int, w: Int, h: Int): Raster = {
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      System.arraycopy(r.pixels, (y0 + y) * r.w + x0, out, y * w, w)
      y += 1
    }
    Raster(w, h, out)
  }

  /** Flat single-color raster — the zero-keypoint edge row (FIXTURES.md §1). */
  def uniformRaster(w: Int, h: Int, rgb: Int): Raster =
    Raster(w, h, Array.fill(w * h)(rgb & 0xffffff))

  private def clamp8(v: Int): Int = math.max(0, math.min(255, v))

  private def fillRect(r: Raster, x0: Int, y0: Int, rw: Int, rh: Int, color: Int): Unit = {
    var y = math.max(0, y0)
    val yEnd = math.min(r.h, y0 + rh)
    while (y < yEnd) {
      var x = math.max(0, x0)
      val xEnd = math.min(r.w, x0 + rw)
      while (x < xEnd) { r.pixels(y * r.w + x) = color; x += 1 }
      y += 1
    }
  }

  private def fillDisc(r: Raster, cx: Int, cy: Int, rad: Int, color: Int): Unit = {
    var y = math.max(0, cy - rad)
    val yEnd = math.min(r.h - 1, cy + rad)
    while (y <= yEnd) {
      var x = math.max(0, cx - rad)
      val xEnd = math.min(r.w - 1, cx + rad)
      while (x <= xEnd) {
        val dx = x - cx; val dy = y - cy
        if (dx * dx + dy * dy <= rad * rad) r.pixels(y * r.w + x) = color
        x += 1
      }
      y += 1
    }
  }
}

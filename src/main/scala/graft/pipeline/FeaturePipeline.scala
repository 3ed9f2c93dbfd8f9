package graft.pipeline

import org.apache.spark.sql.DataFrame

import graft.extract.LocalFeatureExtractor
import graft.kernels.{Imaging, Kernels}
import graft.model.ModelBundle

/**
 * The extract→encode pipeline as one narrow typed transform (SURVEY.md §3.1
 * Spark shape): `decode → maxPixelsScaling → extract → multiVLAD → PCA →
 * coarse-assign → residual → transform → PQ-encode`, all inside a single
 * `Dataset.mapPartitions` — descriptors and rasters never leave the row,
 * image bytes are never shuffled, and the broadcast model bundles are
 * resolved once per partition (mirroring the reference's per-JVM singletons,
 * vec/ImageVectorization.java:55–65). Corrupt images and rows whose model
 * version has no bundle produce an error-channel row instead of failing the
 * job (exm/FeatureExtraction.java:109–116).
 *
 * Typed Dataset (not RDD[Row]): the encoder keeps the rows in Tungsten
 * format and the stage inside the Dataset execution path; the per-image
 * imperative kernel is the genuine `mapPartitions` case.
 */
object FeaturePipeline {

  final case class PipelineConfig(
      maxPixels: Long = 1024L * 768L, // reference default, ext/ImageScaling.java:53
      extractor: LocalFeatureExtractor)

  /** Input row contract for [[featurize]] (typically post as-of model join). */
  final case class ImageInput(
      image_id: String,
      bytes: Array[Byte],
      caption: Option[String],
      phash: Option[Long],
      ts: Option[java.sql.Timestamp],
      entity_id: Option[String],
      model_version: Int)

  /** Output feature row — the indexed unit (vector + IVF list + PQ code). */
  final case class FeatureRow(
      image_id: String,
      entity_id: Option[String],
      ts: Option[java.sql.Timestamp],
      caption: Option[String],
      phash: Option[Long],
      model_version: Int,
      n_descriptors: Int,
      vector: Option[Array[Double]],
      pq_code: Option[Array[Int]],
      list_id: Option[Int],
      error: Option[String])

  /**
   * images: DataFrame with (image_id, bytes, fmt, caption, phash, ts,
   * entity_id, model_version) — model_version typically bound by
   * Temporal.asOfJoin. Returns the feature table (FeatureRow schema).
   */
  def featurize(images: DataFrame, bundles: Map[Int, ModelBundle],
                cfg: PipelineConfig): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bundles)
    images.selectExpr("image_id", "bytes", "caption", "phash",
      "ts", "entity_id", "model_version")
      .as[ImageInput]
      .mapPartitions { it =>
        val bundleMap = bc.value
        it.map { in =>
          def failed(reason: String) =
            FeatureRow(in.image_id, in.entity_id, in.ts, in.caption, in.phash,
              in.model_version, 0, None, None, None, Some(reason))
          bundleMap.get(in.model_version) match {
            case None => failed("model_missing")
            case Some(bundle) => descriptorsOf(in.bytes, cfg) match {
              case None => failed("decode_failed")
              case Some(descriptors) =>
                val vec = encodeVector(descriptors, bundle)
                val (listId, code) = bundle.ivfPq.encode(vec)
                FeatureRow(in.image_id, in.entity_id, in.ts, in.caption, in.phash,
                  in.model_version, descriptors.length, Some(vec), Some(code),
                  Some(listId), None)
            }
          }
        }
      }
      .toDF()
  }

  /** decode → maxPixelsScaling → extract: the local descriptors of one
    * image, or None when the bytes do not decode. */
  def descriptorsOf(bytes: Array[Byte], cfg: PipelineConfig): Option[Array[Array[Double]]] =
    Imaging.decode(bytes).map(raster =>
      cfg.extractor.extract(Imaging.maxPixelsScaling(raster, cfg.maxPixels)))

  /** descriptors → multiVLAD → (PCA iff it reduces) — the reference's
    * transformToVector order (vec/ImageVectorization.java:169–208). */
  def encodeVector(descriptors: Array[Array[Double]], bundle: ModelBundle): Array[Double] = {
    val vlad = Kernels.multiVlad(descriptors, bundle.codebooks)
    if (bundle.projectedLength < bundle.vladLength) Kernels.pcaProject(vlad, bundle.pca)
    else vlad
  }

  // ------------------------------------------------ learning-time helpers

  /** All local descriptors of all decodable images, one row per descriptor —
    * training input for codebook learning. Returns a (vec: array<double>) DF. */
  def descriptorTable(images: DataFrame, cfg: PipelineConfig): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("bytes").as[Array[Byte]]
      .mapPartitions(_.flatMap(bytes => descriptorsOf(bytes, cfg).iterator.flatten))
      .toDF("vec")
  }

  /** Per-image multiVLAD vectors (training input for PCA learning). */
  def vladTable(images: DataFrame, codebooks: Array[Array[Array[Double]]],
                cfg: PipelineConfig): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebooks)
    images.select("bytes").as[Array[Byte]]
      .mapPartitions(_.flatMap(bytes =>
        descriptorsOf(bytes, cfg).map(Kernels.multiVlad(_, bc.value))))
      .toDF("vec")
  }
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.model.ModelBundle
import graft.sink.SnapshotSink
import graft.sink.SnapshotSink.Snapshot

/**
 * Index-transformation job (exm/IndexTransformation.java:117–120): read an
 * indexed feature table, truncate each vector to `newLength` and
 * L2-renormalize (Kernels.truncateRenorm semantics, zero-vector → ones), and
 * commit the result as a NEW snapshot table. The reference reads a Linear
 * index and writes a shorter Linear index; optionally (`reencode`) the
 * truncated vectors are re-quantized against a new model bundle so the output
 * is a full IVFPQ table at the reduced dimensionality.
 *
 * Plan shape: one narrow scan → truncate_renorm (native expression, stays in
 * the row) → partitioned snapshot write. No shuffle unless re-partitioning is
 * requested by the caller's partition columns.
 */
object IndexTransform {

  def truncateIndex(
      spark: SparkSession,
      sourceTable: String,
      destTable: String,
      newLength: Int,
      vecCol: String = "vector",
      keyCol: String = "image_id",
      partitionCols: Seq[String] = Seq.empty,
      reencode: Option[Map[Int, ModelBundle]] = None): Snapshot = {
    val src = SnapshotSink.read(spark, sourceTable)
    val truncated = src.withColumn(vecCol,
      when(col(vecCol).isNull, col(vecCol))
        .otherwise(VectorExpressions.truncate_renorm(col(vecCol), newLength)))
    val out = reencode match {
      case None => truncated
      case Some(bundles) => requantize(truncated, bundles, vecCol)
    }
    SnapshotSink.append(out, destTable, keyCol, partitionCols,
      Map("source_table" -> sourceTable, "transform" -> s"truncate_renorm($newLength)"))
  }

  /** Re-assign coarse list + PQ code from the (already transformed) vector —
    * the IVFPQ re-index half of the job. Typed mapPartitions over only the
    * columns it rewrites, joined back by key is avoided: the row rides whole. */
  private def requantize(df: DataFrame, bundles: Map[Int, ModelBundle],
                         vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bundles)
    val reencoded = df
      .select(col("image_id"), col("model_version"), col(vecCol))
      .as[(String, Int, Option[Array[Double]])]
      .map { case (id, version, vec) =>
        val enc = vec.map(bc.value(version).ivfPq.encode)
        (id, enc.map(_._1), enc.map(_._2))
      }
      .toDF("image_id", "__new_list_id", "__new_pq_code")
    df.drop("list_id", "pq_code")
      .join(reencoded, Seq("image_id"))
      .withColumnRenamed("__new_list_id", "list_id")
      .withColumnRenamed("__new_pq_code", "pq_code")
  }
}

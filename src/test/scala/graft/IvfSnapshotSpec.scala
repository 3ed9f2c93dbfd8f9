package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Synth
import graft.kernels.Kernels
import graft.operators.Similarity
import graft.pipeline.FeaturePipeline
import graft.sink.SnapshotSink
import graft.temporal.Temporal

/** The reference's inverted-file pruning (ds/IVFPQ.java:408–450) as Spark
  * partition pruning: code table partitioned by list_id → probing w lists
  * plans a scan of only those partitions, and the ADC result over the probed
  * lists — by hand and through `Similarity.ivfPqSearchMany` — matches the
  * scalar oracle. */
class IvfSnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val setup = {
    val n = 30L
    val images = Synth.imageTable(spark, n).cache()
    val (modelDf, bundles) = Synth.mintModels(spark, images, n)
    val bound = Temporal.asOfJoin(images.where(col("fmt").isin("png", "jpeg")),
      modelDf, "ts", "valid_from")
    val features = FeaturePipeline.featurize(bound, bundles, Synth.defaultConfig)
      .where(col("error").isNull)
    val table = Files.createTempDirectory("graft_ivf").resolve("codes").toString
    SnapshotSink.append(features, table, "image_id", Seq("list_id"),
      Map("model_versions" -> "1,2"))
    (table, bundles)
  }

  test("list_id probe prunes partitions at planning time (T4 = partition pruning)") {
    val (table, _) = setup
    val codes = SnapshotSink.read(spark, table)
    val pruned = codes.where(col("list_id").isin(0, 1))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("\\s", "").contains("list_id"),
      s"expected list_id in PartitionFilters:\n${plan.take(800)}")
    // pruned row count == rows whose list is probed
    val all = codes.collect()
    assert(pruned.count() == all.count(r => Set(0, 1)(r.getAs[Int]("list_id"))))
  }

  test("IVF-ADC over probed lists matches the scalar oracle distances") {
    val (table, bundles) = setup
    val codes = SnapshotSink.read(spark, table).cache()
    val q = codes.where(col("image_id") === "img_00000002")
      .select("vector", "model_version").head()
    val qv = q.getSeq[Double](0).toArray
    val bundle = bundles(q.getInt(1))
    val w = 2
    val probed = Kernels.kNearestCentroids(qv, bundle.coarseQuantizer, w)
    val luts = probed.map { li =>
      li -> Kernels.adcLookupTable(
        bundle.transform(Kernels.residual(qv, bundle.coarseQuantizer(li))), bundle.pq)
    }.toMap
    val rows = codes
      .where(col("list_id").isin(probed.map(Integer.valueOf): _*) &&
        col("image_id") =!= "img_00000002")
      .select("image_id", "pq_code", "list_id", "model_version").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // oracle only defined for rows encoded under the same model version as q
      if (r.getInt(3) == q.getInt(1)) {
        val dist = Kernels.adcDistance(r.getSeq[Int](1).toArray, luts(r.getInt(2)))
        assert(dist >= 0.0 && !dist.isNaN)
      }
    }
    // the library search over the same-version rows: the featurize-built
    // index is searched with the bundle's transform, and its ranking is the
    // scalar oracle's, ids and distances exactly
    val k = 5
    val expect = rows.filter(_.getInt(3) == q.getInt(1))
      .map(r => (r.getString(0),
        Kernels.adcDistance(r.getSeq[Int](1).toArray, luts(r.getInt(2)))))
      .sortBy { case (id, d) => (d, id) }.take(k).toSeq
    val got = Similarity.ivfPqSearchMany(
        codes.where(col("model_version") === q.getInt(1) &&
          col("image_id") =!= "img_00000002"),
        "image_id", Seq(0L -> qv), bundle.coarseQuantizer, bundle.pq, k, w,
        bundle.transform)
      .collect().map(r => (r.getString(1), r.getDouble(3)))
      .sortBy { case (id, d) => (d, id) }.toSeq
    assert(expect.nonEmpty && got == expect)
    // exact parity for one row computed end-to-end by hand
    val sample = rows.find(_.getInt(3) == q.getInt(1)).get
    val expected = Kernels.adcDistance(sample.getSeq[Int](1).toArray, luts(sample.getInt(2)))
    val viaKernel = Kernels.adcDistance(
      Kernels.bytesToCode(Kernels.codeToBytes(sample.getSeq[Int](1).toArray)),
      luts(sample.getInt(2)))
    assert(expected == viaKernel) // byte round-trip invisible (PQ.java:552–558)
  }

  test("q_image_ivf_knn, q_image_adc_knn and q_image_sdc_knn return only " +
    "neighbours encoded under the query's model version") {
    // the image queries read no files: the scale name only sizes the
    // synthetic image table. At sf0.01 (400 rows) v2 rows reach the v1
    // query's top 5 when every row is scored with the query's tables; at
    // sf0.001 (120 rows) none did, so the check would not bite there.
    val dir = "sf0.01"
    val features = ImageQueries.pipeline(spark, dir).features
    val byId = features.select(col("image_id").as("neighbor_id"), col("model_version"))
    val qVersion = features.where(col("image_id") === "img_00000002")
      .select("model_version").head().getInt(0)
    assert(byId.where(col("model_version") =!= qVersion).count() > 0,
      "the table must hold rows of another version for this check to bite")
    Seq("q_image_ivf_knn", "q_image_adc_knn", "q_image_sdc_knn").foreach { q =>
      val versions = ImageQueries.queries(q)(spark, dir).join(byId, Seq("neighbor_id"))
        .select("model_version").collect().map(_.getInt(0))
      assert(versions.nonEmpty && versions.forall(_ == qVersion),
        s"$q neighbour versions ${versions.mkString(",")}, query v$qVersion")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Synth
import graft.kernels.{Imaging, Kernels}
import graft.pipeline.FeaturePipeline
import graft.temporal.Temporal

/** End-to-end pipeline parity vs the scalar oracle (SURVEY.md §5.3): every
  * row of decode→scale→extract→multiVLAD→PCA→coarse→residual→transform→PQ is
  * recomputed with straight-line kernel calls on the driver and compared
  * allclose(1e-9) / exactly. Also: zero temporal leakage, error channel
  * (undecodable bytes, unbound model version), zero-descriptor quirk,
  * determinism. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val n = 40L
  private lazy val images = Synth.imageTable(spark, n).cache()
  private lazy val minted = Synth.mintModels(spark, images, n)
  private lazy val bound = Temporal.asOfJoin(
    images.where(col("fmt").isin("png", "jpeg")),
    minted._1, leftTs = "ts", rightTs = "valid_from")
  private lazy val features = FeaturePipeline
    .featurize(bound, minted._2, Synth.defaultConfig).cache()

  test("pipeline output matches the scalar oracle at every row") {
    val rows = features.where(col("error").isNull)
      .select("image_id", "model_version", "n_descriptors", "vector", "pq_code", "list_id")
      .collect()
    assert(rows.nonEmpty)
    val byId = rows.map(r => r.getString(0) -> r).toMap
    byId.foreach { case (id, r) =>
      val i = id.stripPrefix("img_").toLong
      val version = r.getInt(1)
      val bundle = minted._2(version)
      // scalar oracle, straight-line
      val srcRow = Synth.imageRow(42L, i)
      val raster = Imaging.decode(srcRow.getAs[Array[Byte]](1)).get
      val scaled = Imaging.maxPixelsScaling(raster, Synth.defaultConfig.maxPixels)
      val descriptors = Synth.defaultConfig.extractor.extract(scaled)
      val vec = FeaturePipeline.encodeVector(descriptors, bundle)
      val listId = Kernels.nearestCentroid(vec, bundle.coarseQuantizer)
      val code = Kernels.pqEncode(
        bundle.transform(Kernels.residual(vec, bundle.coarseQuantizer(listId))), bundle.pq)

      assert(r.getInt(2) == descriptors.length, s"$id n_descriptors")
      val gotVec = r.getSeq[Double](3).toArray
      assert(gotVec.length == vec.length &&
        gotVec.zip(vec).forall { case (a, b) => math.abs(a - b) <= 1e-9 },
        s"$id vector mismatch")
      assert(r.getSeq[Int](4).toArray.sameElements(code), s"$id pq_code")
      assert(r.getInt(5) == listId, s"$id list_id")
    }
  }

  test("zero temporal leakage: bound model version is the as-of-latest") {
    val v2From = minted._1.where(col("model_version") === 2)
      .select(col("valid_from")).head().getTimestamp(0)
    val got = features.select("image_id", "ts", "model_version").collect()
    got.foreach { r =>
      val expected = if (r.getTimestamp(1).before(v2From)) 1 else 2
      assert(r.getInt(2) == expected,
        s"${r.getString(0)} at ${r.getTimestamp(1)}: bound v${r.getInt(2)}, want v$expected")
    }
    // both versions must actually occur (the join has real work)
    assert(got.map(_.getInt(2)).distinct.sorted.sameElements(Array(1, 2)))
  }

  test("corrupt image lands in the error channel, not a job failure") {
    val err = features.where(col("error").isNotNull)
      .select("image_id", "error").collect()
    assert(err.map(_.getString(0)).contains("img_00000001"))
    assert(err.forall(_.getString(1) == "decode_failed"))
  }

  test("a model version with no bundle becomes a model_missing error row") {
    val partial = FeaturePipeline.featurize(bound, minted._2 - 2, Synth.defaultConfig)
      .collect().map(r => r.getString(0) -> r).toMap
    val full = features.collect().map(r => r.getString(0) -> r).toMap
    assert(partial.keySet == full.keySet)
    val (v2, v1) = partial.values.partition(_.getAs[Int]("model_version") == 2)
    assert(v2.nonEmpty && v1.nonEmpty)
    v2.foreach { r =>
      assert(r.getAs[String]("error") == "model_missing", r.getString(0))
      Seq("vector", "pq_code", "list_id").foreach(c =>
        assert(r.isNullAt(r.fieldIndex(c)), s"${r.getString(0)} $c"))
    }
    v1.foreach(r => assert(r.toSeq == full(r.getString(0)).toSeq, r.getString(0)))
  }

  test("zero-descriptor image: VLAD zero-vector → L2 quirk (all-ones) flows through") {
    val r = features.where(col("image_id") === "img_00000000").head()
    assert(r.getInt(r.fieldIndex("n_descriptors")) == 0)
    // single-vocab multiVLAD of zero vlad: power(0.5)=zeros, L2(zero)=all ones
    val bundle = minted._2(r.getInt(r.fieldIndex("model_version")))
    val expected = FeaturePipeline.encodeVector(Array.empty, bundle)
    val got = r.getSeq[Double](r.fieldIndex("vector")).toArray
    assert(got.zip(expected).forall { case (a, b) => math.abs(a - b) <= 1e-9 })
  }

  test("gif rows are filtered before decode (F1 extension filter)") {
    val ids = features.select("image_id").collect().map(_.getString(0)).toSet
    assert(!ids.contains("img_00000005")) // i=5 → gif label
  }

  test("pipeline is deterministic across re-runs") {
    val again = FeaturePipeline.featurize(bound, minted._2, Synth.defaultConfig)
    val a = features.select("image_id", "vector", "pq_code").collect()
      .map(r => (r.getString(0), r.getSeq[Double](1), r.getSeq[Int](2))).sortBy(_._1)
    val b = again.select("image_id", "vector", "pq_code").collect()
      .map(r => (r.getString(0), r.getSeq[Double](1), r.getSeq[Int](2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("hot phash skew exists and salting spreads it (A8-style diagnostic)") {
    val salted = Temporal.withSalt(images.where(col("image_id") =!= "img_00000001"),
      col("phash") + col("ts").cast("long"), 8)
    val hot = images.groupBy("phash").count().orderBy(desc("count")).head()
    assert(hot.getLong(1) >= n / 5 - 2, "expected a hot phash key (~20% of rows)")
    val spread = salted.where(col("phash") === Synth.hotPhash)
      .groupBy("salt").count().collect()
    assert(spread.length > 1, "salt must split the hot key across buckets")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.Kernels
import graft.ml.Learning

/** Distributed learning jobs (A3–A6): Lloyd's k-means determinism +
  * convergence, PQ sentinel padding, PCA vs a direct Breeze computation. */
class LearningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // three well-separated Gaussian blobs — k-means must recover the centers
  private val rnd = new scala.util.Random(7)
  private val centers = Seq(Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0))
  private val points = (0 until 300).map { i =>
    val c = centers(i % 3)
    Array(c(0) + rnd.nextGaussian() * 0.3, c(1) + rnd.nextGaussian() * 0.3)
  }

  test("sampleDescriptors: same seed ⇒ same sample across partitionings; " +
    "different seed ⇒ different sample; feeds codebook learning " +
    "(qnt/SampleLocalFeatures.java)") {
    val df = points.map(p => Tuple1(p)).toDF("vec")
    def ids(d: org.apache.spark.sql.DataFrame, n: Int, seed: Long): Seq[Seq[Double]] =
      Learning.sampleDescriptors(d, n, seed).collect()
        .map(_.getSeq[Double](0).toSeq).toSeq.sortBy(_.mkString(","))
    val a = ids(df.repartition(1), 50, seed = 1L)
    val b = ids(df.repartition(7), 50, seed = 1L)
    assert(a.size == 50 && a == b, "sample must be partitioning-independent")
    val c = ids(df, 50, seed = 2L)
    assert(a != c, "different seed must give a different sample")
    // the sampled descriptors train a codebook without modification
    val cents = Learning.lloydKMeansSingle(
      Learning.sampleDescriptors(df, 150, seed = 3L), k = 3, iterations = 4)
    assert(cents.length == 3 && cents.forall(_.length == 2))
    // rejection-sampled subset: every sampled row is an input row
    val inputSet = points.map(_.toSeq).toSet
    assert(a.forall(inputSet.contains))
    // duplicate descriptors with DIFFERENT carrier columns: the full-row
    // identity keeps the selected (id, vec) pairs partitioning-deterministic
    val dupDf = (0 until 40).map(i => (i.toLong, points(i % 8))).toDF("img_id", "vec")
    def pairs(parts: Int) = Learning.sampleDescriptors(
      dupDf.repartition(parts), 10, seed = 9L)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      .sortBy(_._1)
    assert(pairs(1) == pairs(6), "carrier columns of tied rows must not vary")
  }

  test("lloydKMeans recovers separated clusters and is partitioning-invariant") {
    def run(parts: Int) = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(points.map(p =>
          org.apache.spark.sql.Row(p.toSeq)), parts),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = false)))))
      Learning.lloydKMeansSingle(df, 3, iterations = 10)
    }
    val got = run(2)
    // each true center has a learned centroid within 0.2
    centers.foreach { c =>
      val d = got.map(g => math.sqrt(Kernels.squaredL2(c, g))).min
      assert(d < 0.2, s"center ${c.toSeq}: nearest learned at distance $d")
    }
    // same result at different parallelism up to FP-summation noise
    val again = run(7)
    val sortKey = (a: Array[Double]) => (a(0), a(1))
    got.sortBy(sortKey).zip(again.sortBy(sortKey)).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-6) }
    }
  }

  test("minted models are bit-identical whichever order the partitions " +
    "finish in (lloydKMeans, learnPca, learnPq over 4 partitions)") {
    // magnitudes spread over 8 decades: a different summation order shows
    // up in the low bits of every sum
    val r = new scala.util.Random(11)
    val rows = (0 until 64).map(_ =>
      org.apache.spark.sql.Row(Seq.fill(4)(r.nextGaussian() * math.pow(10, r.nextInt(9) - 4))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))))
    // each scan of partition i sleeps so the four tasks finish in index order,
    // or in reverse index order
    def input(reverse: Boolean) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4).mapPartitionsWithIndex { (i, it) =>
        Thread.sleep(150L * (if (reverse) 3 - i else i)); it
      }, schema)
    def bits(m: Array[Array[Double]]): Seq[Seq[Long]] =
      m.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq
    def models(reverse: Boolean) = {
      val (means, eig, vT) = Learning.learnPca(input(reverse), 3)
      (bits(Learning.lloydKMeansSingle(input(reverse), 4, iterations = 3)),
        bits(Array(means, eig) ++ vT),
        bits(Learning.learnPq(input(reverse), m = 2, kS = 4, iterations = 3)
          .subQuantizers.flatten))
    }
    assert(models(reverse = false) == models(reverse = true))
  }

  test("learnPq pads unfillable clusters with the 1000-sentinel " +
    "(ProductQuantizationLearning.java:285–303)") {
    val few = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(Seq(1.0, 2.0, 3.0, 4.0)),
        org.apache.spark.sql.Row(Seq(5.0, 6.0, 7.0, 8.0))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false)))))
    val pq = Learning.learnPq(few, m = 2, kS = 4, iterations = 2)
    assert(pq.numSubVectors == 2 && pq.numProductCentroids == 4)
    // only 2 distinct sub-vectors per block → 2 sentinel centroids per block
    pq.subQuantizers.foreach { block =>
      assert(block.count(_.forall(_ == 1000.0)) == 2)
    }
  }

  test("learnPca matches Breeze eigendecomposition; eigenvalues descending") {
    val df = points.map(_.toSeq).toDF("vec")
    val (means, eig, vT) = Learning.learnPca(df, 2)
    // means
    val expMean0 = points.map(_(0)).sum / points.length
    assert(math.abs(means(0) - expMean0) < 1e-9)
    assert(eig(0) >= eig(1))
    // direct covariance eigen via Breeze on the driver
    import breeze.linalg.{eigSym, DenseMatrix => BDM}
    val n = points.length
    val cov = BDM.tabulate(2, 2) { (i, j) =>
      points.map(p => (p(i) - means(i)) * (p(j) - means(j))).sum / (n - 1)
    }
    val es = eigSym(cov)
    val expEig = es.eigenvalues.toArray.sorted.reverse
    eig.zip(expEig).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    // components orthonormal
    assert(math.abs(Kernels.dot(vT(0), vT(0)) - 1.0) < 1e-9)
    assert(math.abs(Kernels.dot(vT(0), vT(1))) < 1e-9)
  }

  test("learnPcaDistributed matches the exact-Gram path at small d") {
    // structured data so the top-3 spectrum is separated
    val rnd2 = new scala.util.Random(11)
    val d = 48
    val dirs = Array.tabulate(3, d)((j, i) =>
      math.sin((i + 1) * (j + 1) * 0.37))
      .map(Kernels.normalizeL2)
    val data = (0 until 400).map { _ =>
      val v = new Array[Double](d)
      val coefs = Seq(10.0, 5.0, 2.0).map(_ * rnd2.nextGaussian())
      dirs.zip(coefs).foreach { case (dir, c) =>
        var i = 0; while (i < d) { v(i) += c * dir(i); i += 1 }
      }
      var i = 0; while (i < d) { v(i) += 0.05 * rnd2.nextGaussian(); i += 1 }
      v.toSeq
    }
    val df = data.toDF("vec")
    val (mE, eigE, vE) = Learning.learnPca(df, 3) // d=48 → exact path
    val (mD, eigD, vD) = Learning.learnPcaDistributed(df, 3)
    mE.zip(mD).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    eigE.zip(eigD).foreach { case (a, b) =>
      assert(math.abs(a - b) / a < 1e-6, s"eigenvalue $a vs $b") }
    vE.zip(vD).foreach { case (a, b) =>
      assert(math.abs(math.abs(Kernels.dot(a, b)) - 1.0) < 1e-6, "component alignment") }
  }

  test("learnPcaDistributed on rank-deficient input (rank < numComponents + " +
    "oversample) re-seeds degenerate subspace columns instead of failing") {
    // rank-2 data, zero noise: after one Cov·Q multiply all b=10 columns
    // collapse into the 2-dim span — MGS re-seeds the dead columns
    val rnd2 = new scala.util.Random(23)
    val d = 40
    val dirs = Array(
      Kernels.normalizeL2(Array.tabulate(d)(i => math.cos(i * 0.7) + 0.3)),
      Kernels.normalizeL2(Array.tabulate(d)(i => math.sin(i * 0.31))))
    val data = (0 until 120).map { _ =>
      val c0 = 20.0 * rnd2.nextGaussian(); val c1 = 5.0 * rnd2.nextGaussian()
      val v = new Array[Double](d)
      var i = 0; while (i < d) { v(i) = c0 * dirs(0)(i) + c1 * dirs(1)(i); i += 1 }
      v.toSeq
    }
    val df = data.toDF("vec")
    val (mE, eigE, vE) = Learning.learnPca(df, 2) // exact path handles low rank
    val (mD, eigD, vD) = Learning.learnPcaDistributed(df, 2)
    mE.zip(mD).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    eigE.zip(eigD).foreach { case (a, b) =>
      assert(math.abs(a - b) / math.max(a, 1e-12) < 1e-6, s"eigenvalue $a vs $b") }
    vE.zip(vD).foreach { case (a, b) =>
      assert(math.abs(math.abs(Kernels.dot(a, b)) - 1.0) < 1e-6, "component alignment") }
  }

  test("learnPca at reference dimensionality (d=32768) runs in O(d·r) state " +
    "— an O(d²) task would need ~8.6 GB and OOM this JVM") {
    val rnd2 = new scala.util.Random(5)
    val d = 32768
    // planted top direction with dominant variance + noise
    val dir = Kernels.normalizeL2(Array.tabulate(d)(i => math.sin(i * 0.013) + 0.2))
    val data = (0 until 40).map { _ =>
      val c = 20.0 * rnd2.nextGaussian()
      val v = new Array[Double](d)
      var i = 0
      // tiny per-dim noise: at d=32768 the TOTAL noise variance is d·σ² and
      // must stay well under the planted signal for alignment to be testable
      while (i < d) { v(i) = c * dir(i) + 0.005 * rnd2.nextGaussian(); i += 1 }
      v.toSeq
    }
    // learnPca dispatches to the distributed path above largeDimThreshold
    val (_, eig, vT) = Learning.learnPca(data.toDF("vec"), 2)
    assert(eig(0) > eig(1) && eig(0) > 100.0)
    assert(math.abs(math.abs(Kernels.dot(vT(0), dir)) - 1.0) < 1e-3,
      "top component must align with the planted direction")
  }
}

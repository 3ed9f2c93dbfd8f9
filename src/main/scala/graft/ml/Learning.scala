package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BoundedTopK
import graft.kernels.Kernels
import graft.kernels.Kernels.PqModel

/**
 * Offline model-learning jobs (SURVEY.md §2.6 A3–A6), Spark-distributed:
 *
 *  - [[lloydKMeans]] — deterministic Lloyd's k-means over a DataFrame of
 *    vectors, optionally blocked (one independent clustering per block —
 *    exactly the PQ sub-quantizer shape, qnt/ProductQuantizationLearning
 *    .java:212–306). Deterministic: init = top-k vectors per block by
 *    xxhash64 order (partitioning-independent), fixed iteration count;
 *    assignment is row-local against broadcast centroids; the per-iteration
 *    recompute is one groupBy over (block, cluster, dim) — map-side partial
 *    aggregation, centroid matrices (k×d, tiny) collect to the driver.
 *    Empty clusters keep their previous centroid unless `emptySentinel` is
 *    set (the reference pads missing PQ clusters with 1000-sentinels,
 *    qnt/ProductQuantizationLearning.java:285–303).
 *
 *  - [[learnPca]] — mean vector + Gram-matrix accumulation (one treeAggregate
 *    pass, d×d driver matrix) + Breeze eigendecomposition; eigenvalues sorted
 *    descending like dim/PCA.java:120–177. Above [[largeDimThreshold]] it
 *    dispatches to [[learnPcaDistributed]] — covariance-free subspace
 *    iteration whose per-task state is O(d·r), so the flagship 32768-dim
 *    multiVLAD config (dim/PCA.java:120–177, exm/YFCC100MExample.java:72–78)
 *    never materializes the 8.6 GB d×d Gram anywhere.
 */
object Learning {

  /** data: (block: Int, vec: Array[Double]) rows. Returns block → k×d centroids. */
  def lloydKMeans(
      data: DataFrame,
      k: Int,
      iterations: Int = 8,
      emptySentinel: Option[Double] = None): Map[Int, Array[Array[Double]]] = {
    val spark = data.sparkSession
    val df = data.select(col("block").cast("int").as("block"), col("vec"))
    // deterministic init: k lowest-xxhash64 distinct vectors per block
    // (independent of partitioning / parallelism level). Bounded-heap top-k
    // per block — the round-1 row_number window sorted ALL distinct vectors
    // of a block in one task; the aggregate keeps k per partition map-side.
    val init = df
      .withColumn("vkey", concat_ws(",", transform(col("vec"), _.cast("string"))))
      .dropDuplicates("block", "vkey")
      .groupBy(col("block"))
      .agg(BoundedTopK.topK(xxhash64(col("vkey")), col("vkey"), col("vec"),
        k, ascending = true).as("tk"))
      .select(col("block"), posexplode(col("tk")))
    var centroids: Map[Int, Array[Array[Double]]] = init
      .select(col("block"), col("pos"), col("col.payload").as("vec")).collect()
      .groupBy(_.getInt(0))
      .map { case (b, rows) =>
        b -> rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }
    // fewer distinct vectors than k: pad with the reference's unreachable
    // sentinel centroids (qnt/ProductQuantizationLearning.java:285–303)
    emptySentinel.foreach { s =>
      centroids = centroids.map { case (b, cents) =>
        if (cents.length >= k) b -> cents
        else b -> (cents ++ Array.fill(k - cents.length)(
          Array.fill(cents(0).length)(s)))
      }
    }
    require(centroids.values.forall(_.length == k),
      s"need >= $k distinct vectors per block")
    val blocks = centroids.keys.toArray.sorted
    val blockIdx = blocks.zipWithIndex.toMap
    val d = centroids(blocks(0))(0).length

    val rdd = df.rdd.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).cache()
    try {
      var iter = 0
      while (iter < iterations) {
        val bc = spark.sparkContext.broadcast(centroids)
        // one treeAggregate pass: per (block, cluster) → (Σvec, count)
        val nB = blocks.length
        val (sums, counts) = rdd.treeAggregate(
          (Array.ofDim[Double](nB * k * d), Array.ofDim[Long](nB * k)))(
          seqOp = { case ((s, c), (b, v)) =>
            val bi = blockIdx(b)
            val cl = Kernels.nearestCentroid(v, bc.value(b))
            val off = (bi * k + cl) * d
            var i = 0
            while (i < d) { s(off + i) += v(i); i += 1 }
            c(bi * k + cl) += 1
            (s, c)
          },
          combOp = { case ((s1, c1), (s2, c2)) =>
            var i = 0
            while (i < s1.length) { s1(i) += s2(i); i += 1 }
            i = 0
            while (i < c1.length) { c1(i) += c2(i); i += 1 }
            (s1, c1)
          })
        bc.destroy()
        centroids = blocks.map { b =>
          val bi = blockIdx(b)
          val fresh = centroids(b).map(_.clone())
          var cl = 0
          while (cl < k) {
            val n = counts(bi * k + cl)
            if (n > 0L) {
              val off = (bi * k + cl) * d
              var i = 0
              while (i < d) { fresh(cl)(i) = sums(off + i) / n; i += 1 }
            } else emptySentinel.foreach(s => java.util.Arrays.fill(fresh(cl), s))
            cl += 1
          }
          b -> fresh
        }.toMap
        iter += 1
      }
      centroids
    } finally { rdd.unpersist(); () }
  }

  /** Single-block convenience: vectors DataFrame with `vec` column → k×d. */
  def lloydKMeansSingle(vectors: DataFrame, k: Int, iterations: Int = 8): Array[Array[Double]] =
    lloydKMeans(vectors.withColumn("block", lit(0)), k, iterations)(0)

  /**
   * Seeded deterministic sample of `n` local descriptors to feed codebook /
   * PQ learning — the reference's SampleLocalFeatures utility
   * (qnt/SampleLocalFeatures.java:35–107: seeded rejection sampling of
   * `targetNumFeatures` descriptors from the extracted-feature files; a
   * different seed per sample index). Spark re-expression: rank every row by
   * xxhash64(seed, full row) and keep the `n` smallest — a
   * uniform-without-replacement sample whose membership is a pure function of
   * (seed, row content — descriptor AND carrier columns), so it is
   * reproducible across partitionings, cluster sizes and re-runs
   * (`df.sample` is per-partition Bernoulli and is not). The identity covers
   * every column because hashing the descriptor alone would leave the
   * carrier columns (provenance ids) of equal-descriptor rows to task order
   * at the limit boundary; full-row duplicates are interchangeable by
   * definition. Requires orderable column types (arrays/strings/numerics;
   * no maps). Plans as TakeOrderedAndProject: map-side bounded heaps, no
   * global sort. All input columns are preserved.
   */
  def sampleDescriptors(df: DataFrame, n: Int, seed: Long): DataFrame = {
    val cols = df.columns.map(col).toSeq
    df.orderBy((xxhash64(lit(seed) +: cols: _*) +: cols): _*).limit(n)
  }

  /** Above this input dimensionality [[learnPca]] routes to the
    * covariance-free distributed path (d×d doubles at 2048 = 32 MB — the
    * exact-Gram path stays cheap below it, and the flagship 32768-dim config
    * lands far above it). */
  val largeDimThreshold: Int = 2048

  /**
   * PCA learning: one distributed pass accumulating (n, Σx, Σxxᵀ) via
   * treeAggregate, then Breeze eigSym of the covariance on the driver;
   * components sorted by eigenvalue descending (dim/PCA.java:172).
   * Returns (means, eigenvalues, V_t rows) — whitening is folded in by the
   * caller via Kernels.PcaModel (load-path parity, dim/PCA.java:282–313).
   * Dimensions above [[largeDimThreshold]] dispatch to
   * [[learnPcaDistributed]] (no O(d²) state anywhere).
   */
  def learnPca(vectors: DataFrame, numComponents: Int)
      : (Array[Double], Array[Double], Array[Array[Double]]) = {
    import breeze.linalg.{eigSym, DenseMatrix => BDM}
    val rdd = vectors.select("vec").rdd.map(_.getSeq[Double](0).toArray)
    val d = rdd.first().length
    if (d > largeDimThreshold) return learnPcaDistributed(vectors, numComponents)
    val (n, sumX, gram) = rdd.treeAggregate(
      (0L, new Array[Double](d), new Array[Double](d * d)))(
      seqOp = { case ((cnt, s, g), v) =>
        var i = 0
        while (i < d) {
          s(i) += v(i)
          var j = 0
          while (j < d) { g(i * d + j) += v(i) * v(j); j += 1 }
          i += 1
        }
        (cnt + 1, s, g)
      },
      combOp = { case ((c1, s1, g1), (c2, s2, g2)) =>
        var i = 0
        while (i < d) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < d * d) { g1(i) += g2(i); i += 1 }
        (c1 + c2, s1, g1)
      })
    require(n > 1, "PCA needs more than one sample")
    val means = sumX.map(_ / n)
    // covariance = (Σxxᵀ − n·μμᵀ) / (n − 1)
    val cov = BDM.tabulate(d, d) { (i, j) =>
      (gram(i * d + j) - n * means(i) * means(j)) / (n - 1)
    }
    val es = eigSym(cov)
    val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).take(numComponents)
    val eigenvalues = order.map(_._1)
    val vT = order.map { case (_, idx) =>
      val colV = es.eigenvectors(::, idx)
      // sign convention: make the largest-|component| entry positive (deterministic)
      val arr = colV.toArray
      val maxI = arr.indices.maxBy(i => math.abs(arr(i)))
      if (arr(maxI) < 0) arr.map(-_) else arr
    }
    (means, eigenvalues, vT)
  }

  /**
   * Covariance-free distributed PCA for reference-scale dimensionality
   * (dim/PCA.java:120–177 at the 32768-dim multiVLAD of
   * exm/YFCC100MExample.java:72–78): blocked subspace (orthogonal) iteration.
   *
   * Per sweep, Cov·Q is accumulated WITHOUT forming Cov: each row adds
   * (x−μ)·((x−μ)ᵀQ) into a d×b buffer (b = numComponents + oversample), so
   * task and driver state are O(d·b) — ~16 MB at d=32768, b=64 — never O(d²).
   * The sweep result is QR-orthonormalized on the driver; after `sweeps`
   * iterations a Rayleigh–Ritz step (b×b eigSym of Qᵀ·Cov·Q) rotates the
   * basis to eigenvectors and yields the eigenvalues. Deterministic: seeded
   * Gaussian init, fixed sweep count, same sign convention as [[learnPca]].
   *
   * Matches eigSym-quality components when the top-b spectrum is separated
   * (convergence ratio (λ_{b+1}/λ_r)^sweeps) — asserted against the exact
   * path in LearningSpec, plus a d=32768 run that would OOM any O(d²) task.
   */
  def learnPcaDistributed(vectors: DataFrame, numComponents: Int,
                          sweeps: Int = 30, oversample: Int = 8,
                          seed: Long = 77L)
      : (Array[Double], Array[Double], Array[Array[Double]]) = {
    import breeze.linalg.{eigSym, DenseMatrix => BDM}
    val rdd = vectors.select("vec").rdd.map(_.getSeq[Double](0).toArray).cache()
    try {
      val d = rdd.first().length
      val spark = vectors.sparkSession
      // pass 1: n and mean
      val (n, sumX) = rdd.treeAggregate((0L, new Array[Double](d)))(
        seqOp = { case ((cnt, s), v) =>
          var i = 0; while (i < d) { s(i) += v(i); i += 1 }
          (cnt + 1, s)
        },
        combOp = { case ((c1, s1), (c2, s2)) =>
          var i = 0; while (i < d) { s1(i) += s2(i); i += 1 }
          (c1 + c2, s1)
        })
      require(n > 1, "PCA needs more than one sample")
      val means = sumX.map(_ / n)
      val b = math.min(d, numComponents + oversample)

      // seeded orthonormal start (column-major d×b)
      val rnd = new java.util.Random(seed)
      var q = Array.fill(b)(Array.fill(d)(rnd.nextGaussian()))
      orthonormalizeColumns(q)

      // Y = Σ_rows (x−μ)((x−μ)ᵀQ); O(d·b) per task, one treeAggregate per sweep
      def covTimes(qCur: Array[Array[Double]]): Array[Array[Double]] = {
        val bc = spark.sparkContext.broadcast(qCur)
        val bcMeans = spark.sparkContext.broadcast(means)
        val y = rdd.treeAggregate(Array.ofDim[Double](b, d))(
          seqOp = { (acc, v) =>
            val qq = bc.value; val mu = bcMeans.value
            val c = new Array[Double](d)
            var i = 0; while (i < d) { c(i) = v(i) - mu(i); i += 1 }
            var j = 0
            while (j < b) {
              val qj = qq(j)
              var w = 0.0; i = 0
              while (i < d) { w += c(i) * qj(i); i += 1 }
              val aj = acc(j); i = 0
              while (i < d) { aj(i) += c(i) * w; i += 1 }
              j += 1
            }
            acc
          },
          combOp = { (a1, a2) =>
            var j = 0
            while (j < b) {
              val x = a1(j); val y2 = a2(j)
              var i = 0; while (i < d) { x(i) += y2(i); i += 1 }
              j += 1
            }
            a1
          })
        bc.destroy(); bcMeans.destroy()
        // fold in the 1/(n−1) covariance scale so Rayleigh quotients are λ
        val s = 1.0 / (n - 1)
        y.foreach { row => var i = 0; while (i < d) { row(i) *= s; i += 1 } }
        y
      }

      var sweep = 0
      while (sweep < sweeps) {
        q = covTimes(q)
        orthonormalizeColumns(q, reseedTag = sweep + 1L)
        sweep += 1
      }

      // Rayleigh–Ritz: B = Qᵀ(Cov·Q) (b×b), rotate Q by B's eigenvectors
      val z = covTimes(q)
      val bMat = BDM.tabulate(b, b)((i, j) => Kernels.dot(q(i), z(j)))
      val sym = (bMat + bMat.t) * 0.5
      val es = eigSym(sym)
      val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).take(numComponents)
      val eigenvalues = order.map(_._1)
      val vT = order.map { case (_, idx) =>
        val out = new Array[Double](d)
        var j = 0
        while (j < b) {
          val w = es.eigenvectors(j, idx)
          val qj = q(j)
          var i = 0; while (i < d) { out(i) += w * qj(i); i += 1 }
          j += 1
        }
        // sign convention: largest-|component| entry positive (match learnPca)
        val maxI = out.indices.maxBy(i => math.abs(out(i)))
        if (out(maxI) < 0) out.map(-_) else out
      }
      (means, eigenvalues, vT)
    } finally { rdd.unpersist(); () }
  }

  /** In-place modified Gram-Schmidt over `cols` (each an Array[Double]).
    *
    * A degenerate column (norm ~0) is NOT an error: when the data rank is
    * below b = numComponents + oversample, one Cov·Q multiply collapses every
    * column into the rank-r data span and the trailing columns cancel to zero
    * under MGS. Such a column is re-seeded with a fresh deterministic random
    * vector and re-orthogonalized against the kept columns — the extra
    * directions carry ~0 Rayleigh weight, so the Ritz step still returns the
    * true top components (parity with the exact eigSym path on rank-deficient
    * input is asserted in LearningSpec). */
  private def orthonormalizeColumns(cols: Array[Array[Double]],
                                    reseedTag: Long = 0L): Unit = {
    val b = cols.length
    var j = 0
    while (j < b) {
      var cj = cols(j)
      var attempt = 0
      var done = false
      while (!done) {
        var k2 = 0
        while (k2 < j) {
          val ck = cols(k2)
          val p = Kernels.dot(cj, ck)
          var i = 0; while (i < cj.length) { cj(i) -= p * ck(i); i += 1 }
          k2 += 1
        }
        val nrm = Kernels.l2Norm(cj)
        if (nrm > 1e-12) {
          var i = 0; while (i < cj.length) { cj(i) /= nrm; i += 1 }
          done = true
        } else {
          attempt += 1
          require(attempt <= 8, s"column $j degenerate after $attempt re-seeds")
          // deterministic re-seed: (tag, column, attempt)-keyed Gaussian
          val rnd = new java.util.Random(reseedTag * 1000003L + j * 97L + attempt)
          cj = Array.fill(cj.length)(rnd.nextGaussian())
          cols(j) = cj
        }
      }
      j += 1
    }
  }

  /** PQ sub-quantizer learning: split vectors into m blocks, one independent
    * k-means per block in a single blocked job; empty clusters padded with
    * the reference's 1000.0 sentinel (qnt/ProductQuantizationLearning
    * .java:285–303). */
  def learnPq(vectors: DataFrame, m: Int, kS: Int, iterations: Int = 8): PqModel = {
    val sub = vectors.select(
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        i => slice(col("vec"), i * (size(col("vec")) / m) + 1,
          size(col("vec")) / m))).as(Seq("block", "vec")))
    val centroids = lloydKMeans(sub, kS, iterations, emptySentinel = Some(1000.0))
    PqModel(Array.tabulate(m)(centroids(_)))
  }
}

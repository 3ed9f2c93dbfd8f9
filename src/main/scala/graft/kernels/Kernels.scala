package graft.kernels

import java.util.{ArrayList => JArrayList, Collections => JCollections, Random => JRandom}

/**
 * Pure-Scala scalar kernels — the numerical core shared by the Spark pipeline
 * (inside typed `mapPartitions` / Catalyst expressions) and by the test-side
 * scalar oracle. No Spark imports here on purpose.
 *
 * Semantics are transcribed from the reference (file:line under
 * /root/reference/src/main/java/gr/iti/mklab/):
 *  - normalization quirks: visual/utilities/Normalization.java:21–93
 *  - nearest-centroid early-abandon: visual/aggregation/AbstractFeatureAggregator.java:136–155
 *  - VLAD (zero-descriptor → zero vector): visual/aggregation/VladAggregator.java:35–70
 *  - multiVLAD power+L2 per vocab, final L2 when >1 vocab:
 *    visual/aggregation/VladAggregatorMultipleVocabularies.java:58–101
 *  - PCA project + whitening fold-in (λ^−0.5): visual/dimreduction/PCA.java:188–208, 282–313
 *  - residual = centroid − vector: visual/datastructures/IVFPQ.java:642–648
 *  - PQ encode / ADC LUT: visual/datastructures/PQ.java:232–268, 290–322, 387–399
 *  - random permutation (seeded Collections.shuffle): visual/utilities/RandomPermutation.java:29–56
 *  - random rotation (seeded orthogonal): visual/utilities/RandomRotation.java:30–49
 */
object Kernels {

  // ---------------------------------------------------------------- distances

  /** Squared L2 distance (never rooted — reference convention, Linear.java:147–150). */
  def squaredL2(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Squared L2 with early abandon once the partial sum exceeds `bound`. */
  def squaredL2Bounded(a: Array[Double], b: Array[Double], bound: Double): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) {
      val t = a(i) - b(i); d += t * t
      if (d >= bound) return d
      i += 1
    }
    d
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  def l2Norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  def cosineSimilarity(a: Array[Double], b: Array[Double]): Double = {
    val na = l2Norm(a); val nb = l2Norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  // ------------------------------------------------------------ normalization

  /** L2-normalize; zero vector → all ones (Normalization.java:29–31). Returns new array. */
  def normalizeL2(v: Array[Double]): Array[Double] = {
    val n = l2Norm(v)
    if (n == 0.0) Array.fill(v.length)(1.0)
    else {
      val out = new Array[Double](v.length); var i = 0
      while (i < v.length) { out(i) = v(i) / n; i += 1 }
      out
    }
  }

  /** L1-normalize; zero vector → 1/len fill (Normalization.java:47–62). */
  def normalizeL1(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += math.abs(v(i)); i += 1 }
    if (n == 0.0) Array.fill(v.length)(1.0 / v.length)
    else {
      val out = new Array[Double](v.length); i = 0
      while (i < v.length) { out(i) = v(i) / n; i += 1 }
      out
    }
  }

  /** Power normalization sign(x)·|x|^α (Normalization.java:74–79). */
  def normalizePower(v: Array[Double], alpha: Double): Array[Double] = {
    val out = new Array[Double](v.length); var i = 0
    while (i < v.length) { out(i) = math.signum(v(i)) * math.pow(math.abs(v(i)), alpha); i += 1 }
    out
  }

  /** SSR = power(0.5) then L2 (Normalization.java:89–93). */
  def normalizeSSR(v: Array[Double]): Array[Double] = normalizeL2(normalizePower(v, 0.5))

  // -------------------------------------------------------- centroid assigns

  /** Argmin centroid index by squared L2 with early abandon
    * (AbstractFeatureAggregator.java:136–155). */
  def nearestCentroid(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = -1; var bestD = Double.MaxValue; var i = 0
    while (i < centroids.length) {
      val d = squaredL2Bounded(v, centroids(i), bestD)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Indices of the k nearest centroids, ascending by distance, ties by lower index
    * (AbstractFeatureAggregator.java:193–220 / IVFPQ.java:575–601 semantics). */
  def kNearestCentroids(v: Array[Double], centroids: Array[Array[Double]], k: Int): Array[Int] = {
    val ds = Array.tabulate(centroids.length)(i => (squaredL2(v, centroids(i)), i))
    ds.sortBy(t => (t._1, t._2)).take(k).map(_._2)
  }

  // --------------------------------------------------------------------- VLAD

  /** VLAD: accumulate (descriptor − nearest centroid) into the k·d slot of that
    * centroid; zero descriptors → zero vector (VladAggregator.java:35–70). */
  def vlad(descriptors: Array[Array[Double]], codebook: Array[Array[Double]]): Array[Double] = {
    val k = codebook.length
    val d = codebook(0).length
    val out = new Array[Double](k * d)
    if (descriptors.isEmpty) return out
    var n = 0
    while (n < descriptors.length) {
      val desc = descriptors(n)
      val nn = nearestCentroid(desc, codebook)
      var i = 0
      while (i < d) { out(nn * d + i) += desc(i) - codebook(nn)(i); i += 1 }
      n += 1
    }
    out
  }

  /** multiVLAD: per-vocabulary VLAD → power(0.5)+L2 each → concat → final L2 iff
    * >1 vocabulary and normalizations on
    * (VladAggregatorMultipleVocabularies.java:58–101). */
  def multiVlad(
      descriptors: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      normalizationsOn: Boolean = true): Array[Double] = {
    val parts = codebooks.map { cb =>
      val v = vlad(descriptors, cb)
      if (normalizationsOn) normalizeL2(normalizePower(v, 0.5)) else v
    }
    val concat = parts.flatten
    if (codebooks.length > 1 && normalizationsOn) normalizeL2(concat) else concat
  }

  /** Hard BoW histogram: count of descriptors assigned to each centroid
    * (BowAggregator.java:39–74, hard path; the soft path's over-increment bug is
    * deliberately NOT reproduced — see SURVEY.md §5). */
  def bow(descriptors: Array[Array[Double]], codebook: Array[Array[Double]]): Array[Double] = {
    val out = new Array[Double](codebook.length)
    descriptors.foreach(d => out(nearestCentroid(d, codebook)) += 1.0)
    out
  }

  /** Soft BoW with FIXED semantics: each descriptor increments each of its k
    * nearest centroids once. (The reference's soft path increments k·d times
    * per descriptor — agg/BowAggregator.java:46–51 loops the increment inside
    * the per-dimension loop; documented divergence, SURVEY.md §5.) */
  def bowSoft(descriptors: Array[Array[Double]], codebook: Array[Array[Double]],
              k: Int): Array[Double] = {
    val out = new Array[Double](codebook.length)
    descriptors.foreach { d =>
      kNearestCentroids(d, codebook, k).foreach(out(_) += 1.0)
    }
    out
  }

  // ---------------------------------------------------------------------- PCA

  /** PCA model with whitening already folded into the projection matrix rows
    * (PCA.java:282–313: row i of V_t scaled by eigenvalue_i^−0.5). */
  final case class PcaModel(
      means: Array[Double],
      projection: Array[Array[Double]], // numComponents × sampleSize, whitening folded in
      whitened: Boolean)

  object PcaModel {
    /** Fold whitening into V_t like the reference load path (PCA.java:307–313). */
    def apply(means: Array[Double], eigenvalues: Array[Double],
              vT: Array[Array[Double]], whiten: Boolean): PcaModel = {
      val proj =
        if (whiten) vT.zipWithIndex.map { case (row, i) =>
          val s = math.pow(eigenvalues(i), -0.5)
          row.map(_ * s)
        } else vT
      PcaModel(means, proj, whiten)
    }
  }

  /** Project to eigenspace; L2-normalize the result iff whitening (PCA.java:188–208). */
  def pcaProject(v: Array[Double], model: PcaModel): Array[Double] = {
    val centered = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { centered(i) = v(i) - model.means(i); i += 1 }
    val out = new Array[Double](model.projection.length)
    i = 0
    while (i < model.projection.length) { out(i) = dot(model.projection(i), centered); i += 1 }
    if (model.whitened) normalizeL2(out) else out
  }

  /** Truncate to length and L2-renormalize if shortened
    * (exm/IndexTransformation.java:117–120). */
  def truncateRenorm(v: Array[Double], len: Int): Array[Double] = {
    if (len >= v.length) v
    else normalizeL2(java.util.Arrays.copyOf(v, len))
  }

  // ------------------------------------------------------------- transforms

  /** Seeded random permutation of coordinates, identical to
    * java.util.Collections.shuffle(list, new Random(seed))
    * (RandomPermutation.java:29–56). */
  def randomPermutationIndices(seed: Int, dim: Int): Array[Int] = {
    val list = new JArrayList[Integer](dim)
    var i = 0
    while (i < dim) { list.add(i); i += 1 }
    JCollections.shuffle(list, new JRandom(seed))
    val out = new Array[Int](dim)
    i = 0
    while (i < dim) { out(i) = list.get(i); i += 1 }
    out
  }

  def permute(v: Array[Double], indices: Array[Int]): Array[Double] = {
    val out = new Array[Double](v.length); var i = 0
    while (i < v.length) { out(i) = v(indices(i)); i += 1 }
    out
  }

  /** Seeded orthogonal matrix via Gram-Schmidt on a seeded Gaussian matrix.
    * (RandomRotation.java:30–49 uses EJML's createOrthogonal — unavailable
    * offline; ours is deterministic-by-seed and orthogonal, which is the
    * semantic contract. Property-tested: RᵀR = I, ‖Rx‖ = ‖x‖.) */
  def randomRotationMatrix(seed: Int, dim: Int): Array[Array[Double]] = {
    val rand = new JRandom(seed)
    val m = Array.fill(dim, dim)(rand.nextGaussian())
    // Gram-Schmidt over columns
    var j = 0
    while (j < dim) {
      var k = 0
      while (k < j) {
        var p = 0.0; var i = 0
        while (i < dim) { p += m(i)(j) * m(i)(k); i += 1 }
        i = 0
        while (i < dim) { m(i)(j) -= p * m(i)(k); i += 1 }
        k += 1
      }
      var n = 0.0; var i = 0
      while (i < dim) { n += m(i)(j) * m(i)(j); i += 1 }
      n = math.sqrt(n)
      require(n > 1e-12, s"degenerate random matrix at seed=$seed dim=$dim")
      i = 0
      while (i < dim) { m(i)(j) /= n; i += 1 }
      j += 1
    }
    m
  }

  /** x·R (row-vector times matrix, RandomRotation.java:44–49). */
  def rotate(v: Array[Double], r: Array[Array[Double]]): Array[Double] = {
    val dim = v.length
    val out = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      var s = 0.0; var i = 0
      while (i < dim) { s += v(i) * r(i)(j); i += 1 }
      out(j) = s
      j += 1
    }
    out
  }

  /** Residual = coarse centroid − vector (sign convention per IVFPQ.java:642–648). */
  def residual(v: Array[Double], centroid: Array[Double]): Array[Double] = {
    val out = new Array[Double](v.length); var i = 0
    while (i < v.length) { out(i) = centroid(i) - v(i); i += 1 }
    out
  }

  // ----------------------------------------------------------------------- PQ

  /** Product quantizer: m sub-quantizers × k_s centroids × (d/m) dims
    * (PQ.java:74–81). */
  final case class PqModel(subQuantizers: Array[Array[Array[Double]]]) {
    val numSubVectors: Int = subQuantizers.length
    val numProductCentroids: Int = subQuantizers(0).length
    val subVectorLength: Int = subQuantizers(0)(0).length
    def vectorLength: Int = numSubVectors * subVectorLength
  }

  /** PQ-encode a (possibly pre-transformed) vector: per sub-block nearest
    * sub-centroid index (PQ.java:232–268). Codes are unsigned ints in
    * [0, k_s); the reference's −128 byte-storage offset (PQ.java:552–558) is a
    * storage detail verified separately by byteCodeRoundTrip. */
  def pqEncode(v: Array[Double], pq: PqModel): Array[Int] = {
    require(v.length == pq.vectorLength,
      s"vector length ${v.length} != ${pq.vectorLength}")
    val code = new Array[Int](pq.numSubVectors)
    var i = 0
    while (i < pq.numSubVectors) {
      val sub = java.util.Arrays.copyOfRange(v, i * pq.subVectorLength, (i + 1) * pq.subVectorLength)
      code(i) = nearestCentroid(sub, pq.subQuantizers(i))
      i += 1
    }
    code
  }

  /** Reference byte storage: value−128 into a signed byte, +128 on read
    * (PQ.java:303–317, 552–558). */
  def codeToBytes(code: Array[Int]): Array[Byte] = code.map(c => (c - 128).toByte)
  def bytesToCode(bytes: Array[Byte]): Array[Int] = bytes.map(b => b.toInt + 128)

  /** ADC lookup table: m × k_s squared-L2 distances from the query's sub-vectors
    * to every sub-centroid (PQ.java:387–399). */
  def adcLookupTable(q: Array[Double], pq: PqModel): Array[Array[Double]] = {
    val lut = Array.ofDim[Double](pq.numSubVectors, pq.numProductCentroids)
    var i = 0
    while (i < pq.numSubVectors) {
      val start = i * pq.subVectorLength
      var j = 0
      while (j < pq.numProductCentroids) {
        var d = 0.0; var k = 0
        while (k < pq.subVectorLength) {
          val t = q(start + k) - pq.subQuantizers(i)(j)(k)
          d += t * t; k += 1
        }
        lut(i)(j) = d; j += 1
      }
      i += 1
    }
    lut
  }

  /** ADC distance = Σ_j LUT[j][code_j] (PQ.java:303–317). */
  def adcDistance(code: Array[Int], lut: Array[Array[Double]]): Double = {
    var d = 0.0; var j = 0
    while (j < code.length) { d += lut(j)(code(j)); j += 1 }
    d
  }

  /** SDC sub-centroid-to-sub-centroid distance table, m × k_s × k_s
    * (PQ.java:334–374 support). */
  def sdcTable(pq: PqModel): Array[Array[Array[Double]]] =
    Array.tabulate(pq.numSubVectors) { m =>
      Array.tabulate(pq.numProductCentroids) { a =>
        Array.tabulate(pq.numProductCentroids) { b =>
          squaredL2(pq.subQuantizers(m)(a), pq.subQuantizers(m)(b))
        }
      }
    }

  def sdcDistance(codeA: Array[Int], codeB: Array[Int], table: Array[Array[Array[Double]]]): Double = {
    var d = 0.0; var j = 0
    while (j < codeA.length) { d += table(j)(codeA(j))(codeB(j)); j += 1 }
    d
  }
}

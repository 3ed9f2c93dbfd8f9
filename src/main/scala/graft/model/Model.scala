package graft.model

import graft.kernels.Kernels
import graft.kernels.Kernels.{PcaModel, PqModel}

/**
 * Model-side data structures: the versioned model bundle our as-of join binds
 * to each image row (the reference's analog is *which CSV files a job was
 * launched with* — exm/YFCC100MExample.java:72–78, mr/VisualThreadedMapper
 * .java:141–157 — made explicit and temporal here), plus readers for the
 * reference's on-disk model formats.
 */

/** Vector transform applied before PQ encoding (ds/PQ.java:240–245). */
sealed trait VectorTransform extends Serializable {
  def apply(v: Array[Double]): Array[Double]
}
case object NoTransform extends VectorTransform {
  override def apply(v: Array[Double]): Array[Double] = v
}
/** Seeded random permutation — flagship config `rp` (exm/YFCC100MExample.java:90). */
final case class PermutationTransform(indices: Array[Int]) extends VectorTransform {
  override def apply(v: Array[Double]): Array[Double] = Kernels.permute(v, indices)
}
/** Seeded random rotation (seed=1 fixed in the reference, ds/PQ.java:108). */
final case class RotationTransform(matrix: Array[Array[Double]]) extends VectorTransform {
  override def apply(v: Array[Double]): Array[Double] = Kernels.rotate(v, matrix)
}

/**
 * Everything one model *version* needs to turn descriptors into an indexed
 * feature row: codebooks (VLAD), PCA (projection+whitening), coarse quantizer
 * (IVF list assignment) and product quantizer (code), and the pre-PQ
 * transform. Broadcast once; deserialized once per partition.
 */
final case class ModelBundle(
    version: Int,
    codebooks: Array[Array[Array[Double]]],
    pca: PcaModel,
    coarseQuantizer: Array[Array[Double]],
    pq: PqModel,
    transform: VectorTransform) extends Serializable {
  def vladLength: Int = codebooks.map(cb => cb.length * cb(0).length).sum
  def projectedLength: Int = pca.projection.length
  @transient lazy val ivfPq: IvfPq = IvfPq(coarseQuantizer, pq, transform)
}

/**
 * The IVFADC codec (Jégou et al. TPAMI 2011; ds/IVFPQ.java:100–117 encode,
 * :408–450 search): a vector's list is its nearest coarse centroid and its
 * code is the PQ code of the transformed residual; a query becomes one ADC
 * lookup table per probed list, built from its own transformed residual to
 * that list's centroid. Every encoder and searcher goes through here, so the
 * stored codes and the query tables can never disagree on the recipe.
 */
final case class IvfPq(coarse: Array[Array[Double]], pq: PqModel,
                       transform: VectorTransform = NoTransform) extends Serializable {

  /** (list_id, pq_code): nearest centroid → residual (centroid − v,
    * IVFPQ.java:642–648) → transform → PQ encode (PQ.java:232–268). */
  def encode(v: Array[Double]): (Int, Array[Int]) = {
    if (coarse(0).length != v.length) throw new IllegalArgumentException(
      s"IvfPq.encode: vector has ${v.length} dims, coarse centroids have ${coarse(0).length}")
    val li = Kernels.nearestCentroid(v, coarse)
    (li, Kernels.pqEncode(transform(Kernels.residual(v, coarse(li))), pq))
  }

  /** The `nprobe` lists nearest to `q`, ascending by distance, lower index on
    * ties (IVFPQ.java:575–601). */
  def probe(q: Array[Double], nprobe: Int): Array[Int] =
    Kernels.kNearestCentroids(q, coarse, nprobe)

  /** ADC table (m × k_s) of `q` against the codes stored in list `listId`. */
  def lut(q: Array[Double], listId: Int): Array[Array[Double]] =
    Kernels.adcLookupTable(transform(Kernels.residual(q, coarse(listId))), pq)
}

object ModelIO {
  /** Codebook CSV: one centroid per line, comma-separated doubles; non-CSV
    * header lines are skipped (agg/AbstractFeatureAggregator.java:234–254). */
  def parseCodebookCsv(lines: Iterator[String], numCentroids: Int, length: Int): Array[Array[Double]] = {
    val out = new Array[Array[Double]](numCentroids)
    var i = 0
    for (line <- lines if i < numCentroids) {
      val parts = line.trim.split(",")
      if (parts.length == length && parts.forall(p => isNumeric(p)))
        { out(i) = parts.map(_.toDouble); i += 1 }
    }
    require(i == numCentroids, s"expected $numCentroids centroids, parsed $i")
    out
  }

  /** PCA text file: line 1 = means (space-separated), line 2 = eigenvalues in
    * descending order, then one eigenvector per line (dim/PCA.java:211–247,
    * load 257–318). Whitening folds λ^−0.5 into V_t rows exactly like the
    * reference load path (dim/PCA.java:282–313). */
  def parsePcaFile(lines: Iterator[String], sampleSize: Int, numComponents: Int,
                   whiten: Boolean): PcaModel = {
    val it = lines.filter(_.trim.nonEmpty)
    val means = it.next().trim.split(" ").map(_.toDouble)
    require(means.length == sampleSize, s"means line has ${means.length}, want $sampleSize")
    val eigenvalues = it.next().trim.split(" ").map(_.toDouble)
    require(eigenvalues.length >= numComponents, "eigenvalues line too short")
    val vT = new Array[Array[Double]](numComponents)
    var i = 0
    while (i < numComponents) {
      val row = it.next().trim.split(" ").map(_.toDouble)
      require(row.length == sampleSize, s"component $i has ${row.length} values")
      vT(i) = row
      i += 1
    }
    PcaModel(means, eigenvalues.take(numComponents), vT, whiten)
  }

  /** PQ CSV: m·k_s lines, sub-quantizer-major (ds/PQ.java:210–223). */
  def parsePqCsv(lines: Iterator[String], m: Int, kS: Int, subLen: Int): PqModel = {
    val flat = parseCodebookCsv(lines, m * kS, subLen)
    PqModel(Array.tabulate(m)(i => Array.tabulate(kS)(j => flat(i * kS + j))))
  }

  def writeCodebookCsv(cb: Array[Array[Double]]): String =
    cb.map(_.mkString(",")).mkString("\n")

  def writePcaFile(means: Array[Double], eigenvalues: Array[Double],
                   vT: Array[Array[Double]]): String =
    (means.mkString(" ") :: eigenvalues.mkString(" ") :: vT.map(_.mkString(" ")).toList)
      .mkString("\n")

  private def isNumeric(s: String): Boolean =
    try { s.toDouble; true } catch { case _: NumberFormatException => false }
}

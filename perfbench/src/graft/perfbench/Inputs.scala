package graft.perfbench

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.data.Synth
import graft.kernels.Kernels
import graft.kernels.Kernels.PqModel
import graft.ml.Learning
import graft.model.{ModelBundle, PermutationTransform}
import graft.operators.Similarity
import graft.pipeline.FeaturePipeline
import graft.sink.SnapshotSink
import graft.temporal.Temporal

/** Input sizes. `full` is the measured size; `tiny` is the smoke size. */
final case class Size(name: String, images: Int, knnVectors: Int, knnClusters: Int,
                      coarseK: Int, batch: Int, minBatches: Int, recallQueries: Int)

object Size {
  val full: Size = Size("full", images = 1500, knnVectors = 20000, knnClusters = 64,
    coarseK = 32, batch = 8, minBatches = 20, recallQueries = 64)
  val tiny: Size = Size("tiny", images = 60, knnVectors = 2000, knnClusters = 16,
    coarseK = 8, batch = 4, minBatches = 3, recallQueries = 8)
  def apply(name: String): Size = if (name == "tiny") tiny else full
}

/** The image workloads' inputs: a seeded image+caption table on disk and two
  * minted model versions. */
final case class ImageInputs(path: String, modelRows: Array[Row],
                             bundles: Map[Int, ModelBundle], v2FromMillis: Long) {
  def modelDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(modelRows: _*), StructType(Seq(
      StructField("model_version", IntegerType, nullable = false),
      StructField("valid_from", TimestampType, nullable = false))))
}

/** The knn workload's inputs: the corpus vectors, the coarse quantizer and
  * product quantizer learned from them, the IVF-PQ index table and the
  * query vectors. */
final case class KnnInputs(vectors: Array[Array[Double]], coarse: Array[Array[Double]],
                           pq: PqModel, table: String, queries: Array[Array[Double]])

/**
 * Seeded input generation, cached per (size, seed) under the build directory,
 * and the input freeze: every generated input is digested, and the digests
 * are compared with the ones recorded in `perfbench/frozen.json`.
 */
object Inputs {
  val dim = 32
  val pqM = 8
  val pqK = 256
  val numSalts = 4

  def cacheDir(size: Size, seed: Long): Path =
    Paths.get(".bench_build", "cache", size.name, s"seed_$seed")

  /** Every seed draws its rows from a pool twice its size, generated once
    * per size: a seed's inputs are a seeded choice of pool rows. */
  val poolSeed = 42L
  def pool(size: Size): Int = 2 * size.images
  def knnPool(size: Size): Int = 2 * size.knnVectors

  /** Corrupt rows beyond Synth's own undecodable row: 2% of the pool's rows
    * keep only their first 8 bytes. */
  def corruptRule: org.apache.spark.sql.Column =
    pmod(xxhash64(lit(poolSeed), col("image_id")), lit(50)) === 0

  def salted(features: DataFrame): DataFrame =
    features.withColumn("salt", pmod(col("phash"), lit(numSalts)).cast("int"))

  // ------------------------------------------------------------ images

  def sharedDir(size: Size): Path = Paths.get(".bench_build", "cache", size.name, "shared")

  private def once(stamp: Path)(make: => Unit): Unit =
    if (!Files.exists(stamp)) {
      make
      Files.createDirectories(stamp.getParent)
      Files.write(stamp, Array.emptyByteArray)
    }

  private def cached[T](bin: Path)(make: => T): T = {
    if (!Files.exists(bin)) {
      val value = make
      Files.createDirectories(bin.getParent)
      val tmp = Paths.get(s"$bin.tmp")
      val out = new ObjectOutputStream(Files.newOutputStream(tmp))
      try out.writeObject(value) finally out.close()
      Files.move(tmp, bin, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val in = new ObjectInputStream(Files.newInputStream(bin))
    try in.readObject().asInstanceOf[T] finally in.close()
  }

  /** The shared image pool (Synth.imageTable) and the two model versions
    * minted from its first 300 rows. */
  private def imagePool(spark: SparkSession, size: Size): (String, Array[Row], Map[Int, ModelBundle]) = {
    val dir = sharedDir(size)
    val path = dir.resolve("images").toString
    once(dir.resolve("images.ok")) {
      Synth.imageTable(spark, pool(size), poolSeed, partitions = 16)
        .withColumn("bytes", when(corruptRule, expr("substring(bytes, 1, 8)"))
          .otherwise(col("bytes")))
        .write.mode("overwrite").parquet(path)
    }
    val (rows, bundles) = cached(dir.resolve("models.bin")) {
      // one partition: the learning jobs merge per-partition sums in task
      // completion order, so more partitions would make the models differ in
      // their last bits from run to run, and the freeze would refuse them
      val (modelDf, bundles) = Synth.mintModels(spark,
        spark.read.parquet(path).where(col("image_id") < f"img_${300}%08d").coalesce(1),
        pool(size), iterations = 4)
      Main.log(s"minted models for size ${size.name}")
      (modelDf.collect(), bundles)
    }
    (path, rows, bundles)
  }

  /** The seed's input table: `size.images` pool rows in seeded order. */
  def images(spark: SparkSession, size: Size, seed: Long): ImageInputs = {
    val (poolPath, rows, bundles) = imagePool(spark, size)
    val dir = cacheDir(size, seed)
    val path = dir.resolve("images").toString
    once(dir.resolve("images.ok")) {
      // stratified by row index mod 10 (Synth cycles five sizes and alternates
      // png/jpeg): every seed gets the same mix of sizes and formats
      // (chosen on ids alone, so the image bytes are never shuffled)
      val pool = spark.read.parquet(poolPath)
      val idx = substring(col("image_id"), 5, 8).cast("long")
      val chosen = pool.select("image_id")
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(pmod(idx, lit(10)))
            .orderBy(xxhash64(lit(seed), col("image_id")))))
        .where(col("rank") <= size.images / 10).select("image_id")
      pool.join(broadcast(chosen), Seq("image_id"), "left_semi")
        .write.mode("overwrite").parquet(path)
      Main.log(s"drew images for seed $seed")
    }
    ImageInputs(path, rows, bundles, rows.find(_.getInt(0) == 2).get.getTimestamp(1).getTime)
  }

  /** The flagship path's input: png/jpeg rows bound to their model version. */
  def bound(spark: SparkSession, in: ImageInputs): DataFrame =
    Temporal.asOfJoin(spark.read.parquet(in.path).where(col("fmt").isin("png", "jpeg")),
      in.modelDf(spark), "ts", "valid_from")

  // --------------------------------------------------------------- knn

  /** The knn pool: vectors around `knnClusters` fixed centers in [-1, 1]^dim,
    * each a center plus N(0, 0.15²) noise. */
  def knnPoolVectors(size: Size): Array[Array[Double]] = {
    val rnd = new java.util.Random(poolSeed)
    val centers = Array.fill(size.knnClusters, dim)(rnd.nextDouble() * 2 - 1)
    Array.fill(knnPool(size)) {
      val c = centers(rnd.nextInt(centers.length))
      Array.tabulate(dim)(j => c(j) + rnd.nextGaussian() * 0.15)
    }
  }

  /** The coarse quantizer and PQ, learned once per size on the first half of
    * the pool, and the whole pool encoded with them. */
  private def knnShared(spark: SparkSession, size: Size,
                        vecs: Array[Array[Double]]): (Array[Array[Double]], PqModel, String) = {
    val dir = sharedDir(size)
    val (coarse, pq) = cached(dir.resolve("knn_models.bin")) {
      // one partition, for the same reason as the image models
      val train = vecs.take(size.knnVectors)
      val coarse = Learning.lloydKMeansSingle(vectorDf(spark, train, 1), size.coarseK,
        iterations = 6)
      val residuals = vectorDf(spark, train.map(v =>
        Kernels.residual(v, coarse(Kernels.nearestCentroid(v, coarse)))), 1)
      Main.log(s"learned knn models for size ${size.name}")
      (coarse, Learning.learnPq(residuals, pqM, pqK, iterations = 6))
    }
    val encoded = dir.resolve("knn_encoded").toString
    once(dir.resolve("knn_encoded.ok")) {
      Similarity.ivfPqEncode(vectorDf(spark, vecs), "id", "vec", coarse, pq)
        .write.mode("overwrite").parquet(encoded)
    }
    (coarse, pq, encoded)
  }

  /** The seed's index: `size.knnVectors` pool vectors in seeded order,
    * written through the sink partitioned by list_id. Queries are chosen
    * corpus vectors plus N(0, 0.05²) noise. */
  def knn(spark: SparkSession, size: Size, seed: Long): KnnInputs = {
    val poolVecs = knnPoolVectors(size)
    val (coarse, pq, encoded) = knnShared(spark, size, poolVecs)
    val dir = cacheDir(size, seed)
    val table = dir.resolve("knn_index").toString
    once(dir.resolve("knn.ok")) {
      deleteRecursively(Paths.get(table))
      SnapshotSink.append(spark.read.parquet(encoded)
        .orderBy(xxhash64(lit(seed), col("id"))).limit(size.knnVectors)
        .repartition(col("list_id")), table, "id", Seq("list_id"))
      Main.log(s"built knn index for seed $seed")
    }
    val ids = SnapshotSink.read(spark, table).select("id").collect().map(_.getLong(0)).sorted
    val vecs = Array.fill(poolVecs.length)(Array.emptyDoubleArray)
    ids.foreach(i => vecs(i.toInt) = poolVecs(i.toInt))
    val rnd = new java.util.Random(seed * 1000003L + 17)
    val queries = Array.fill(size.batch * 64) {
      val v = poolVecs(ids(rnd.nextInt(ids.length)).toInt)
      Array.tabulate(dim)(j => v(j) + rnd.nextGaussian() * 0.05)
    }
    KnnInputs(vecs, coarse, pq, table, queries)
  }

  def vectorDf(spark: SparkSession, vecs: Array[Array[Double]], parts: Int = 4): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)), parts),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false))))

  /** Exact top-k ids by squared L2 (ties by id), over the indexed vectors
    * (pool vectors not in the seed's index are empty). */
  def exactTopK(vecs: Array[Array[Double]], q: Array[Double], k: Int): Seq[Long] =
    vecs.indices.filter(vecs(_).nonEmpty).map(i => (Kernels.squaredL2(vecs(i), q), i.toLong))
      .sorted.take(k).map(_._2)

  // ------------------------------------------------------------ digests

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Generated (not learned) vectors are digested bit for bit. */
  def bitsSha256(vs: Array[Array[Double]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8 * vs.headOption.map(_.length).getOrElse(0))
    vs.foreach { v => buf.clear(); v.foreach(buf.putDouble); md.update(buf.array, 0, buf.position()) }
    md.digest().map("%02x".format(_)).mkString
  }

  def fileSha256(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  /** Doubles digested at nine significant digits: a last-bit difference in
    * a learned model is not a different workload. */
  private def num(v: Array[Double]): String = v.map(x => f"$x%.9e").mkString(",")
  private def mat(m: Array[Array[Double]]): String = m.map(num).mkString(";")

  def rowsDigest(df: DataFrame, cols: String*): String =
    sha256(df.select(concat_ws("|", cols.map(c => coalesce(col(c).cast("string"),
      lit("null"))): _*).as("r")).collect().map(_.getString(0)).sorted.mkString("\n"))

  def imageDigests(spark: SparkSession, in: ImageInputs): Map[String, String] = {
    val imgs = spark.read.parquet(in.path).withColumn("bytes", sha2(col("bytes"), 256))
    val models = in.modelRows.map(r => s"${r.getInt(0)}@${r.getTimestamp(1).getTime}")
      .mkString(";") + "#" +
      in.bundles.toSeq.sortBy(_._1).map { case (v, b) =>
        s"$v:${b.codebooks.map(mat).mkString("/")}:${num(b.pca.means)}:" +
          s"${mat(b.pca.projection)}:${mat(b.coarseQuantizer)}:" +
          s"${b.pq.subQuantizers.map(mat).mkString("/")}:" + (b.transform match {
            case p: PermutationTransform => p.indices.mkString(",")
            case other => other.getClass.getName
          })
      }.mkString("#")
    Map("images" -> rowsDigest(imgs, imgs.columns.toIndexedSeq: _*),
      "models" -> sha256(models))
  }

  def knnDigests(spark: SparkSession, in: KnnInputs): Map[String, String] =
    Map(
      "knn_vectors" -> bitsSha256(in.vectors.filter(_.nonEmpty) ++ in.queries),
      "knn_models" -> sha256(mat(in.coarse) + "#" + in.pq.subQuantizers.map(mat).mkString("/")),
      "knn_index" -> rowsDigest(SnapshotSink.read(spark, in.table),
        "id", "list_id", "pq_code"))

  /** Every input of one (size, seed), digested. */
  def allDigests(spark: SparkSession, size: Size, seed: Long): Map[String, String] = {
    val in = images(spark, size, seed)
    imageDigests(spark, in) ++ knnDigests(spark, knn(spark, size, seed))
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

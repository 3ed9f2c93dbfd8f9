package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{PqExpressions, VectorExpressions}
import graft.kernels.Kernels
import graft.kernels.Kernels.PqModel

/** Native PQ-scan expressions vs the scalar kernels: ADC (per-list LUT map),
  * SDC expressed as a pre-selected-row ADC table (ds/PQ.java:334–374), the
  * IVFADC pair distance (ds/IVFPQ.java:464–497), and truncate_renorm
  * (exm/IndexTransformation.java:117–120). */
class PqExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(31337)
  private val m = 4; private val kS = 8; private val subLen = 3
  private val pq = PqModel(Array.fill(m, kS, subLen)(rnd.nextGaussian()))
  private val dim = m * subLen
  private val coarse = Array.fill(3, dim)(rnd.nextGaussian())

  private def randVec() = Array.fill(dim)(rnd.nextGaussian())

  test("adc_distance == Kernels.adcDistance for every (code, list) against the LUT map") {
    val q = randVec()
    val luts = coarse.indices.map { li =>
      li -> Kernels.adcLookupTable(Kernels.residual(q, coarse(li)), pq)
    }.toMap
    val rows = (0 until 40).map { i =>
      val v = randVec()
      val li = Kernels.nearestCentroid(v, coarse)
      (i.toLong, Kernels.pqEncode(Kernels.residual(v, coarse(li)), pq), li)
    }
    val got = rows.toDF("id", "pq_code", "list_id")
      .withColumn("d", PqExpressions.adc_distance(col("pq_code"), col("list_id"),
        spark.sparkContext.broadcast(luts)))
      .select("id", "d").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, code, li) =>
      assert(got(id) == Kernels.adcDistance(code, luts(li)), s"row $id")
    }
  }

  test("SDC as pre-selected ADC rows == Kernels.sdcDistance (PQ.java:334–374)") {
    val sdc = Kernels.sdcTable(pq)
    val qCode = Kernels.pqEncode(randVec(), pq)
    val lut = Array.tabulate(m)(j => sdc(j)(qCode(j)))
    val rows = (0 until 30).map(i => (i.toLong, Kernels.pqEncode(randVec(), pq)))
    val got = rows.toDF("id", "pq_code")
      .withColumn("d", PqExpressions.adc_distance(col("pq_code"), lit(0),
        spark.sparkContext.broadcast(Map(0 -> lut))))
      .select("id", "d").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, code) =>
      assert(got(id) == Kernels.sdcDistance(qCode, code, sdc), s"row $id")
    }
  }

  test("IVFADC pair distance: query residual-quantized to the TARGET's list " +
    "(IVFPQ.java:464–497)") {
    val q = randVec()
    val luts = coarse.indices.map { li =>
      li -> Kernels.adcLookupTable(Kernels.residual(q, coarse(li)), pq)
    }.toMap
    // scalar oracle: per target, LUT of q's residual wrt target's list × code
    val targets = (0 until 10).map { i =>
      val v = randVec()
      val li = Kernels.nearestCentroid(v, coarse)
      (i.toLong, Kernels.pqEncode(Kernels.residual(v, coarse(li)), pq), li)
    }
    val got = targets.toDF("id", "pq_code", "list_id")
      .withColumn("d", PqExpressions.adc_distance(col("pq_code"), col("list_id"),
        spark.sparkContext.broadcast(luts)))
      .select("id", "d").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    targets.foreach { case (id, code, li) =>
      assert(got(id) == Kernels.adcDistance(code, luts(li)))
    }
  }

  test("adc_distance generated path (parquet-backed scan, whole-stage " +
    "codegen) matches the interpreted kernel") {
    val q = randVec()
    val luts = coarse.indices.map { li =>
      li -> Kernels.adcLookupTable(Kernels.residual(q, coarse(li)), pq)
    }.toMap
    val rows = (0 until 25).map { i =>
      val v = randVec()
      val li = Kernels.nearestCentroid(v, coarse)
      (i.toLong, Kernels.pqEncode(Kernels.residual(v, coarse(li)), pq), li)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_adc").resolve("t").toString
    rows.toDF("id", "pq_code", "list_id").write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
      .withColumn("d", PqExpressions.adc_distance(col("pq_code"), col("list_id"),
        spark.sparkContext.broadcast(luts)))
    // local relations constant-fold on the driver; a parquet scan runs the
    // expression inside a whole-stage-codegen stage (CodegenFallback)
    assert(scan.queryExecution.executedPlan.toString.contains("*("))
    val got = scan.select("id", "d").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, code, li) =>
      assert(got(id) == Kernels.adcDistance(code, luts(li)), s"row $id")
    }
  }

  test("adc_distance fails loudly on an un-probed list and on a code/LUT " +
    "sub-vector mismatch") {
    val lut = Kernels.adcLookupTable(randVec(), pq)
    val bcLut = spark.sparkContext.broadcast(Map(0 -> lut))
    def adc(c: Column, l: Column): Column = PqExpressions.adc_distance(c, l, bcLut)
    // every message in the cause chain: the failure may surface wrapped in a
    // SparkException (task failure) or bare (constant-folded on the driver)
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val badList = Seq((Array(1, 2, 3, 4), 7)).toDF("pq_code", "list_id")
      .withColumn("d", adc(col("pq_code"), col("list_id")))
    val e1 = messages(intercept[Exception](badList.collect()))
    assert(e1.contains("adc_distance: no LUT for list_id=7"), e1)
    val badCode = Seq((Array(1, 2), 0)).toDF("pq_code", "list_id")
      .withColumn("d", adc(col("pq_code"), col("list_id")))
    val e2 = messages(intercept[Exception](badCode.collect()))
    assert(e2.contains(s"adc_distance: code has 2 sub-codes, LUT has $m"), e2)
  }

  test("truncate_renorm == Kernels.truncateRenorm (shorten+renorm, no-op, zero→ones)") {
    val vs = Seq(
      Array(3.0, 4.0, 0.0, 1.0), // shorten → renorm
      Array(0.0, 0.0, 5.0, 5.0), // zero prefix → ones quirk
      Array(1.0, 2.0))           // len >= length → unchanged, no renorm
    val got = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
      .withColumn("t", VectorExpressions.truncate_renorm(col("vec"), 2))
      .select("id", "t").collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    vs.zipWithIndex.foreach { case (v, i) =>
      assert(got(i.toLong) == Kernels.truncateRenorm(v, 2).toSeq, s"vec $i")
    }
  }

  test("vector expressions reject mismatched lengths with a descriptive error") {
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val e = intercept[Exception](
      df.select(graft.functions.VectorExpressions.vec_cosine(col("a"), col("b")))
        .collect())
    assert(e.getMessage.contains("mismatched vector lengths") ||
      Option(e.getCause).exists(_.getMessage.contains("mismatched vector lengths")))
  }
}

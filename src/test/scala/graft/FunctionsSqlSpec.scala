package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Synth
import graft.functions.ImageExpressions
import graft.kernels.Imaging

/** SQL surface of the custom Catalyst expressions: registered via
  * ImageExpressions.registerAll (same factories GraftExtensions injects),
  * callable from spark.sql, results identical to the Column API / kernels. */
class FunctionsSqlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("GraftExtensions registers exactly the SQL functions registerAll registers") {
    val injected = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    new graft.functions.GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit =
        injected.registerFunction(f._1, f._2, f._3)
    })
    // a new session starts from the built-in functions alone
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val builtin = reg.listFunction().toSet
    ImageExpressions.registerAll(s)
    graft.functions.VectorExpressions.registerAll(s)
    val registered = (reg.listFunction().toSet -- builtin).map(_.funcName)
    assert(registered.size == 16, registered)
    assert(injected.listFunction().map(_.funcName).sorted == registered.toSeq.sorted)
  }

  test("decode_image / scale_max_pixels / phash64 / img_psnr work from SQL") {
    ImageExpressions.registerAll(spark)
    Synth.imageTable(spark, 12L).createOrReplaceTempView("graft_images")
    val rows = spark.sql(
      """SELECT image_id,
        |  decode_image(bytes) AS img,
        |  phash64(decode_image(bytes)) AS ph,
        |  scale_max_pixels(decode_image(bytes), 1000L).w AS sw,
        |  scale_max_pixels(decode_image(bytes), 1000L).h AS sh,
        |  img_psnr(decode_image(bytes), decode_image(bytes)) AS self_psnr
        |FROM graft_images WHERE fmt = 'png' AND image_id <> 'img_00000001'
        |ORDER BY image_id""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val i = r.getString(0).stripPrefix("img_").toLong
      val srcBytes = Synth.imageRow(42L, i).getAs[Array[Byte]](1)
      val raster = Imaging.decode(srcBytes).get
      assert(r.getLong(r.fieldIndex("ph")) == Imaging.averageHash(raster))
      val scaled = Imaging.maxPixelsScaling(raster, 1000L)
      assert(r.getInt(r.fieldIndex("sw")) == scaled.w)
      assert(r.getInt(r.fieldIndex("sh")) == scaled.h)
      assert(r.getDouble(r.fieldIndex("self_psnr")).isPosInfinity)
    }
    // corrupt bytes → NULL through SQL too
    val nulls = spark.sql(
      "SELECT decode_image(bytes) FROM graft_images WHERE image_id = 'img_00000001'")
      .collect()
    assert(nulls.length == 1 && nulls.head.isNullAt(0))
  }

  test("vec_cosine / vec_squared_l2 / truncate_renorm / hyperplane_hash / " +
    "bounded_top_k work from SQL and match the Column API") {
    import spark.implicits._
    graft.functions.VectorExpressions.registerAll(spark)
    val rnd = new scala.util.Random(8)
    val rows = (0 until 20).map(i =>
      (i % 3, i.toLong, Array.fill(8)(rnd.nextGaussian())))
    rows.toDF("g", "id", "vec").createOrReplaceTempView("graft_vecs")

    val scalar = spark.sql(
      """SELECT id, vec_cosine(vec, vec) AS self_cos,
        |  vec_squared_l2(vec, vec) AS self_l2,
        |  truncate_renorm(vec, 3) AS t3,
        |  hyperplane_hash(vec, 8, 16, 42L) AS hh
        |FROM graft_vecs ORDER BY id""".stripMargin).collect()
    scalar.foreach { r =>
      val v = rows(r.getLong(0).toInt)._3
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
      assert(r.getDouble(2) == 0.0)
      assert(r.getSeq[Double](3) == graft.kernels.Kernels.truncateRenorm(v, 3).toSeq)
    }
    // hyperplane_hash SQL == Similarity.hyperplaneHash Column API (same seed)
    val apiHashes = rows.toDF("g", "id", "vec")
      .select(col("id"), graft.operators.Similarity
        .hyperplaneHash(col("vec"), dim = 8, bits = 16, seed = 42L).as("hh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    scalar.foreach(r => assert(r.getLong(r.fieldIndex("hh")) == apiHashes(r.getLong(0))))

    // bounded_top_k as a SQL aggregate: 2 lowest ids per group by score=id
    val tk = spark.sql(
      """SELECT g, bounded_top_k(CAST(id AS DOUBLE), id, CAST(NULL AS INT), 2, true) AS tk
        |FROM graft_vecs GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(tk.length == 3)
    tk.foreach { r =>
      val g = r.getInt(0)
      val ids = r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1))
      val expect = rows.filter(_._1 == g).map(_._2).sorted.take(2)
      assert(ids == expect, s"group $g")
    }
  }

  test("vec_mean / vec_sum work from SQL text and match the DataFrame path") {
    graft.functions.VectorExpressions.registerAll(spark)
    import spark.implicits._
    val df = Seq((0, Array(1.0, 2.0)), (0, Array(3.0, 6.0)), (1, Array(5.0, 5.0)))
      .toDF("label", "v")
    df.createOrReplaceTempView("vecs_sql_test")
    val viaSql = spark.sql(
      "SELECT label, vec_mean(v) AS m, vec_sum(v) AS s FROM vecs_sql_test " +
        "GROUP BY label ORDER BY label").collect()
    assert(viaSql(0).getSeq[Double](1) == Seq(2.0, 4.0))
    assert(viaSql(0).getSeq[Double](2) == Seq(4.0, 8.0))
    assert(viaSql(1).getSeq[Double](1) == Seq(5.0, 5.0))
    val viaDf = df.groupBy("label")
      .agg(graft.functions.VecAggregates.vec_mean(col("v")).as("m"),
        graft.functions.VecAggregates.vec_sum(col("v")).as("s"))
      .orderBy("label").collect()
    assert(viaSql.map(_.toString).toSeq == viaDf.map(_.toString).toSeq)
  }
}

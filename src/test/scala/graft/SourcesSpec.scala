package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.withJobCount
import graft.kernels.Imaging
import graft.sources.Sources

/** Sources/sinks (SURVEY §2.1–2.2): the parquet reader that plans without
  * Spark's schema-inference job, folder scan with extension filter, URL-list
  * parsing with id munging, CSV vector dump round-trip. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `Sources.parquet` reads `path` as `spark.read.parquet` does: same
    * schema, same rows. */
  private def assertReadsAsSpark(path: String): DataFrame = {
    val ours = Sources.parquet(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema == theirs.schema, path)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(ours) == rows(theirs), path)
    ours
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  test("parquet: the schema equals Spark's inferred one on every testdata " +
    "table at sf0.001, sf0.01 and sf0.1") {
    val tables = for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      f <- new java.io.File(s"/root/testdata/$sf").listFiles().toSeq
      if f.getName.endsWith(".parquet")
    } yield f.getPath
    assert(tables.size == 30)
    tables.foreach { p =>
      assert(Sources.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
  }

  test("parquet: a Spark-written directory of several part files and " +
    "_SUCCESS reads as Spark reads it; one of hidden files only is refused") {
    val dir = tmpDir("graft_parts")
    (0 until 40).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("id", "s", "x")
      .repartition(3).write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS"))
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 3)
    assert(assertReadsAsSpark(dir).count() == 40)
    // a directory holding only hidden files has no footer to read
    val empty = tmpDir("graft_empty")
    spark.range(0).write.parquet(empty)
    new java.io.File(empty).listFiles().filter(_.getName.startsWith("part-")).foreach(_.delete())
    val ex = intercept[IllegalArgumentException](Sources.parquet(spark, empty))
    assert(ex.getMessage.contains(empty), ex.getMessage)
  }

  test("parquet: a p=… partitioned directory still discovers its partition " +
    "column") {
    val dir = tmpDir("graft_partitioned")
    (0 until 30).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "p", "payload")
      .write.partitionBy("p").parquet(dir)
    val back = assertReadsAsSpark(dir)
    assert(back.columns.toSeq == Seq("id", "payload", "p"))
    assert(back.schema("p").dataType == org.apache.spark.sql.types.IntegerType)
    assert(back.where($"p" === 1).count() == 10)
  }

  test("parquet: timestamp, decimal, array, struct and map columns read as " +
    "Spark reads them") {
    val dir = tmpDir("graft_types")
    spark.range(5).selectExpr(
      "id",
      "timestamp_seconds(id * 86400) AS ts",
      "CAST(id AS DECIMAL(12, 3)) / 7 AS dec",
      "array(id, id + 1) AS arr",
      "named_struct('a', id, 'b', CAST(id AS STRING)) AS st",
      "map(CAST(id AS STRING), array(id)) AS m")
      .write.parquet(dir)
    val back = assertReadsAsSpark(dir)
    assert(back.columns.toSeq == Seq("id", "ts", "dec", "arr", "st", "m"))
  }

  test("parquet: planning a read runs no Spark job, where Spark's inference " +
    "runs one") {
    val p = "/root/testdata/sf0.001/documents.parquet"
    assert(withJobCount(Sources.parquet(spark, p))._2 == 0)
    assert(withJobCount(spark.read.parquet(p))._2 >= 1)
  }

  test("readImageFolder: binaryFile scan + extension filter (S1/F1)") {
    val dir = Files.createTempDirectory("graft_imgs")
    val r = Imaging.syntheticRaster(42L, 1L, 32, 32)
    Files.write(dir.resolve("a.png"), Imaging.encodePng(r))
    Files.write(dir.resolve("b.jpg"), Imaging.encodeJpeg(r))
    Files.write(dir.resolve("c.txt"), "not an image".getBytes)
    val got = Sources.readImageFolder(spark, dir.toString)
    val ids = got.select("image_id").as[String].collect().sorted
    assert(ids.sameElements(Array("a.png", "b.jpg")))
    // bytes decode back
    val content = got.where($"image_id" === "a.png").select("content")
      .head().getAs[Array[Byte]](0)
    assert(Imaging.decode(content).get.pixels.sameElements(r.pixels))
  }

  test("readUrlList: '[id] url' lines; bare-url lines id = last path segment (S2)") {
    val f = Files.createTempFile("urls", ".txt")
    Files.write(f, java.util.Arrays.asList(
      "img1 http://host/a.jpg",
      "http://host/path/b.jpg",
      "",
      "img3 http://host/c.jpg extra_video_field"))
    val got = Sources.readUrlList(spark, f.toString)
      .as[(String, String)].collect().toSet
    assert(got == Set(
      ("img1", "http://host/a.jpg"),
      ("b.jpg", "http://host/path/b.jpg"),
      ("img3", "http://host/c.jpg")))
  }

  test("writeVectorCsv: id,v0,v1,... round-trip incl. gzip (K3/K5)") {
    val df = Seq(("a", Seq(1.0, 2.5)), ("b", Seq(-1.0, 0.0))).toDF("id", "vec")
    val out = Files.createTempDirectory("graft_csv").resolve("dump").toString
    Sources.writeVectorCsv(df, "id", "vec", out, gzip = true)
    val back = spark.read.text(out).as[String].collect().sorted
    assert(back.sameElements(Array("a,1.0,2.5", "b,-1.0,0.0")))
    // gzip actually applied
    val files = new java.io.File(out).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".gz")))
  }

  test("writeMapCsv/readMapCsv: key↔value dump round-trip (K4)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_map").resolve("m").toString
    val df = Seq(("img_1", 0L), ("img_2", 1L), ("a,b", 2L), ("50%,x", 3L))
      .toDF("image_id", "iid")
    graft.sources.Sources.writeMapCsv(df, "image_id", "iid", out)
    val back = graft.sources.Sources.readMapCsv(spark, out)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // keys containing the separator (or the escape glyph itself) round-trip
    // via percent-encoding; values are covered by the first-comma split
    assert(back("img_1") == "0" && back("img_2") == "1")
    assert(back("a,b") == "2" && back("50%,x") == "3")
    assert(back.size == 4)
  }

  test("double→float cast preserves vector values to float precision (P23)") {
    import spark.implicits._
    val vs = Seq(Array(1.5, -2.25, 3.0000001), Array(0.0, 1e-30, 1e30))
    val got = vs.map(Tuple1(_)).toDF("vec")
      .select(org.apache.spark.sql.functions.col("vec")
        .cast("array<float>").as("fvec"))
      .collect().map(_.getSeq[Float](0))
    vs.zip(got).foreach { case (d, f) =>
      d.zip(f).foreach { case (dv, fv) => assert(fv == dv.toFloat) }
    }
  }
}

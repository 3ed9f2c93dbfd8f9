package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Sources / sinks from SURVEY.md §2.1–2.2:
 *
 *  - a parquet file or directory, read without Spark's schema-inference job.
 *  - S1 folder image scan: `binaryFile` source + extension filter
 *    (exm/FeatureExtraction.java:70–79 listed a dir and filtered by suffix).
 *  - S2 URL-list scan: text lines `[id<TAB>]url[<TAB>video]`
 *    (exm/UrlIndexingMT.java:105–148 — id defaults to the URL's last path
 *    segment when absent, mr/VisualThreadedMapper.java:46–76).
 *  - K3 CSV index dump: `id,v0,v1,...` one row per vector
 *    (ds/Linear.java:300–313).
 *  - K5 gzip text sink (mr/VisualJob.java:73,80–91; reducer count ≈
 *    `spark.sql.shuffle.partitions`).
 */
object Sources {

  /** A parquet file or directory as `spark.read.parquet(path)` reads it —
    * same schema, partition columns still discovered — planned without a
    * Spark job: the schema is read on the driver ([[parquetSchema]]) and
    * passed to the reader, where Spark's own inference starts a job per
    * read. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The data schema Spark's parquet inference gives `path` with
    * `mergeSchema` off, from one footer read on the driver. The file is the
    * one `ParquetUtils.inferSchema` picks from the listing
    * `InMemoryFileIndex` makes (hidden `_`/`.` names skipped, sorted by
    * path): `_common_metadata`, else `_metadata`, else the first data file.
    * The footer is converted by Spark's own `readSchemaFromFooter` (the
    * Spark row-metadata key first) under the session's parquet settings
    * (INT96, binary-as-string, timestamp-NTZ). */
  private def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filterNot(s => GraftBridge.hiddenFileName(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    val files = leaves(root).sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = (summaries.map(n => files.find(_.getPath.getName == n)) :+
      files.find(f => !summaries.contains(f.getPath.getName))).flatten.headOption
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet file under $path to read a schema from"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** S1: scan a directory of images as (path, modificationTime, length,
    * content), filtered to the reference's extension set. */
  def readImageFolder(spark: SparkSession, dir: String,
                      extensions: Seq[String] = Seq("jpg", "jpeg", "png", "gif")): DataFrame = {
    spark.read.format("binaryFile").load(dir)
      .withColumn("ext", lower(element_at(split(col("path"), "\\."), -1)))
      .where(col("ext").isin(extensions: _*))
      .withColumn("image_id", element_at(split(col("path"), "/"), -1))
      .select("image_id", "path", "length", "content")
  }

  /** S2: URL-list text file → (image_id, url). Lines are whitespace-separated
    * `[id] url [...]`; single-token lines use the URL's last path segment as
    * the id (reference name-munging, exm/FolderIndexingMT.java:135–136). */
  def readUrlList(spark: SparkSession, path: String): DataFrame = {
    spark.read.text(path)
      .where(length(trim(col("value"))) > 0)
      .withColumn("parts", split(trim(col("value")), "\\s+"))
      .withColumn("url",
        when(size(col("parts")) >= 2, col("parts").getItem(1))
          .otherwise(col("parts").getItem(0)))
      .withColumn("image_id",
        when(size(col("parts")) >= 2, col("parts").getItem(0))
          .otherwise(element_at(split(col("parts").getItem(0), "/"), -1)))
      .select("image_id", "url")
  }

  /** K3: dump (id, vector) as `id,v0,v1,...` CSV lines. */
  def writeVectorCsv(df: DataFrame, idCol: String, vecCol: String,
                     outDir: String, gzip: Boolean = false): Unit = {
    val lines = df.select(concat_ws(",",
      col(idCol).cast("string"),
      concat_ws(",", transform(col(vecCol), _.cast("string")))).as("value"))
    val writer = lines.write.mode("overwrite")
    (if (gzip) writer.option("compression", "gzip") else writer).text(outDir)
  }

  /** K4: key↔value map dump (the reference's id↔iid BDB map exports,
    * ds/AbstractSearchStructure.java id maps) as `key,value` CSV lines.
    * The KEY is percent-encoded (%, comma, CR/LF) so a delimiter inside an
    * image id / filename round-trips; the value is safe as-is because the
    * reader splits on the FIRST comma only. */
  def writeMapCsv(df: DataFrame, keyCol: String, valueCol: String,
                  outDir: String, gzip: Boolean = false): Unit = {
    val k = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      col(keyCol).cast("string"),
      lit("%"), lit("%25")), lit(","), lit("%2C")),
      lit("\r"), lit("%0D")), lit("\n"), lit("%0A"))
    val lines = df.select(concat_ws(",", k, col(valueCol).cast("string")).as("value"))
    val writer = lines.write.mode("overwrite")
    (if (gzip) writer.option("compression", "gzip") else writer).text(outDir)
  }

  /** Read a K4 map dump back: (key, value) strings (key percent-decoded). */
  def readMapCsv(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(dir)
      .select(split(col("value"), ",", 2).as("parts"))
      .select(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          col("parts").getItem(0),
          lit("%0A"), lit("\n")), lit("%0D"), lit("\r")),
          lit("%2C"), lit(",")), lit("%25"), lit("%")).as("key"),
        col("parts").getItem(1).as("value"))
}

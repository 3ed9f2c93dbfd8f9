package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriter,
  OutputWriterFactory, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions,
  ParquetUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.util.SerializableConfiguration
import org.json4s.{JArray, JInt, JNothing, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/**
 * Iceberg-shaped snapshot table on Parquet (SURVEY.md §7 step 7 — no Iceberg
 * runtime jar offline, so the layout is reproduced: partitioned data files +
 * an append-only `_snapshots/v{N}.json` manifest chain; a real Iceberg writer
 * would be a thin adapter over this seam).
 *
 * Guarantees:
 *  - atomic RENAME-FREE commit: write tasks write their final paths directly
 *    — each snapshot owns a unique `_snapdir=snap{N}-<uuid>/` subtree under
 *    the table root, laid out as `partitionBy(...).parquet` lays it out. There
 *    is no Hadoop output committer: no temporary attempt dirs, no renames, no
 *    `_SUCCESS` marker, the Hadoop configuration ships to the tasks once, as
 *    a broadcast, and a local table is written through
 *    [[LocalWriteFileSystem]], which forks no `chmod`. Each task returns,
 *    per file it wrote, the file's path, its partition values and its row
 *    count; the manifest (the commit point) lists the files that successful
 *    task attempts returned, and its row counts are those tasks' counts, so
 *    the driver neither lists the subtree nor reads a footer. File names carry the task's partition id and
 *    attempt number; a commit that saw a retried or speculative attempt
 *    deletes the subtree's files no successful attempt returned. A crash
 *    before the manifest leaves an unreferenced subtree that readers never
 *    see; [[vacuumOrphans]] sweeps it. (The reference's single-writer BDB
 *    sink, ds/AbstractSearchStructure.java:229–257, becomes concurrent
 *    partitioned file commits with a manifest-last protocol.)
 *  - resume: `appendMissing` left-anti-joins the input against already-
 *    committed keys (the F2 already-indexed dedup,
 *    ds/AbstractSearchStructure.java:537–546) and writes the rest in one
 *    evaluation: when nothing is left, the empty subtree is deleted and no
 *    manifest is committed;
 *  - lineage + metrics per snapshot (north rule): per-partition row counts,
 *    key column, model versions present, wall-clock, parent snapshot id;
 *  - one table format: every manifest records the writer's `format` tags
 *    (e.g. an operator's name and parameters). An append whose format differs
 *    from the head's is refused before it writes anything, [[compact]] carries
 *    the head's format forward, and `read(spark, table, format)` refuses a
 *    table any of whose read manifests has another format (the Delta Lake
 *    log-owned table format). Operators declare their format; they never
 *    inspect manifests themselves.
 */
object SnapshotSink {

  final case class Snapshot(
      id: Int,
      parentId: Int,
      files: Seq[String],
      rowCount: Long,
      partitionRowCounts: Map[String, Long],
      keyCol: String,
      lineage: Map[String, String],
      format: Map[String, String])

  private def snapshotsDir(table: String): Path = Paths.get(table, "_snapshots")

  /** Synthetic partition column carrying the snapshot-unique data-subtree
    * name; written into paths by [[append]], dropped by readers. */
  private val snapDirCol = "_snapdir"

  /** Materialize a directory listing and CLOSE the stream (Files.list leaks a
    * directory fd otherwise — it accumulates in a long-lived driver). */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private val ManifestName = "v(\\d+)\\.json".r

  /** Committed snapshot ids, ascending — one directory listing, no parse. */
  private def snapshotIds(table: String): Seq[Int] = {
    val dir = snapshotsDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else listDir(dir).map(_.getFileName.toString)
      .collect { case ManifestName(id) => id.toInt }.sorted
  }

  def lastSnapshot(table: String): Option[Snapshot] =
    snapshotIds(table).lastOption.map(readSnapshot(table, _))

  def readSnapshot(table: String, id: Int): Snapshot = {
    val text = new String(
      Files.readAllBytes(snapshotsDir(table).resolve(s"v$id.json")),
      StandardCharsets.UTF_8)
    manifestParses.incrementAndGet()
    parseSnapshot(text)
  }

  /** Manifest-parse counter — the read-planning cost seam SnapshotSinkSpec
    * asserts against (reads must NOT parse history below a compaction). */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong

  /** Refuse `snap` unless its format equals `expected`, naming the table and
    * every key that differs. */
  private def requireFormat(table: String, snap: Snapshot,
                            expected: Map[String, String], role: String): Unit = {
    val keys = (snap.format.keySet ++ expected.keySet)
      .filter(k => snap.format.get(k) != expected.get(k)).toSeq.sorted
    def show(m: Map[String, String], k: String) = m.getOrElse(k, "<absent>")
    require(keys.isEmpty,
      s"table $table (v${snap.id}) has another format than the $role expects: " +
        keys.map(k => s"$k=${show(snap.format, k)} (table) vs ${show(expected, k)} ($role)")
          .mkString(", ") +
        " — rebuild the table with the expected format, or write to another table")
  }

  /** The head snapshot, after refusing an append whose format differs. */
  private def headFor(table: String, format: Map[String, String]): Option[Snapshot] = {
    val head = lastSnapshot(table)
    head.foreach(requireFormat(table, _, format, "writer"))
    head
  }

  /**
   * Append `df` to the table partitioned by `partitionCols`, committing a new
   * snapshot. Returns the committed snapshot. `keyCol` is the resume identity;
   * `format` is the table-format contract (see the object doc).
   */
  def append(df: DataFrame, table: String, keyCol: String,
             partitionCols: Seq[String],
             lineage: Map[String, String] = Map.empty,
             format: Map[String, String] = Map.empty): Snapshot =
    commit(df, table, keyCol, partitionCols, lineage, format, headFor(table, format),
      commitEmpty = true).get

  /** Write `df` as snapshot `parent + 1` and commit its manifest. A write of
    * no rows commits only when `commitEmpty`; otherwise its subtree is
    * deleted and the result is None. */
  private def commit(df: DataFrame, table: String, keyCol: String,
                     partitionCols: Seq[String], lineage: Map[String, String],
                     format: Map[String, String], parent: Option[Snapshot],
                     commitEmpty: Boolean): Option[Snapshot] = {
    val t0 = System.currentTimeMillis()
    val snapId = parent.map(_.id + 1).getOrElse(1)

    // rename-free: tasks write FINAL paths directly into a snapshot-unique
    // subtree. The subtree is itself named as a partition dir
    // (`_snapdir=snap{N}-<uuid>`) so that multi-snapshot reads present ONE
    // consistent directory structure to partition inference (a non-k=v dir
    // level would make each snapshot its own conflicting partition root);
    // readers drop the synthetic `_snapdir` column. The `_` prefix hides the
    // subtree from naive recursive discovery, and until the manifest below is
    // written nothing references these files — a crashed attempt is invisible
    // and [[vacuumOrphans]] reclaims it.
    val subdir = s"$snapDirCol=snap$snapId-${java.util.UUID.randomUUID().toString}"
    val dataDir = Paths.get(table).resolve(subdir)
    Files.createDirectories(dataDir)
    val written = writeFiles(df, table, subdir, partitionCols)
    val tWrite = System.currentTimeMillis()
    val rowCount = written.map(_.rows).sum
    if (rowCount == 0 && !commitEmpty) {
      deleteRecursively(dataDir)
      return None
    }

    // per-partition row counts from the tasks' typed partition values:
    // "3/…" (values only, joined by '/', matching a groupBy over the data,
    // which reads a null or empty value back as null)
    val partCounts: Map[String, Long] = written.groupMapReduce(
      _.values.map(v => if (v == null || v.isEmpty) nullPartition else v).mkString("/"))(
      _.rows)(_ + _)
    val snap = Snapshot(snapId, parent.map(_.id).getOrElse(0), written.map(_.file),
      rowCount, partCounts, keyCol,
      lineage ++ Map(
        "commit_millis" -> (System.currentTimeMillis() - t0).toString,
        "write_millis" -> (tWrite - t0).toString,
        "fs_millis" -> (System.currentTimeMillis() - tWrite).toString),
      format)
    // manifest write IS the commit point (write temp + atomic rename)
    val dir = snapshotsDir(table)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".v$snapId.json.tmp")
    Files.write(tmp, renderSnapshot(snap).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"v$snapId.json"), StandardCopyOption.ATOMIC_MOVE)
    Some(snap)
  }

  /** The partition directory value Spark writes for a null or empty value. */
  private val nullPartition = ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** One file a write task wrote: its path relative to the table root, its
    * partition values cast to strings in the session time zone (null for a
    * null value) and its row count. */
  private final case class Written(file: String, values: Seq[String], rows: Long)

  /**
   * Write `df` as parquet under `table/subdir`, partitioned by
   * `partitionCols`, in one Spark job that query listeners see as an
   * execution. Each input partition is sorted by the partition columns and
   * each task writes one file per partition directory it meets, through
   * Spark's parquet writer factory, with the Hadoop conf broadcast once.
   * Returns the files the successful task attempts wrote; when a task was
   * retried, or speculation may have run a second copy, every other file in
   * the subtree is deleted first.
   */
  private def writeFiles(df: DataFrame, table: String, subdir: String,
                         partitionCols: Seq[String]): Seq[Written] = {
    val spark = df.sparkSession
    val sqlConf = spark.sessionState.conf
    val sorted =
      if (partitionCols.isEmpty) df else df.sortWithinPartitions(partitionCols.map(col): _*)
    val qe = sorted.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("snapshot append")) {
      // the checks `partitionBy(...).parquet` makes: partition columns exist,
      // are atomic and leave a data column; parquet can store the rest
      val output = qe.executedPlan.output
      PartitioningUtils.validatePartitionColumn(DataTypeUtils.fromAttributes(output),
        partitionCols, sqlConf.caseSensitiveAnalysis)
      val partAttrs = partitionCols.map(c => output.find(a => sqlConf.resolver(a.name, c)).get)
      val dataAttrs = output.filterNot(a => partAttrs.exists(_.exprId == a.exprId))
      val dataSchema = DataTypeUtils.fromAttributes(dataAttrs)
      DataSourceUtils.verifySchema(new ParquetFileFormat, dataSchema)
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      // `file:` paths go through LocalWriteFileSystem, not the JVM-wide
      // cached LocalFileSystem (see its doc)
      job.getConfiguration.set("fs.file.impl", classOf[LocalWriteFileSystem].getName)
      job.getConfiguration.setBoolean("fs.file.impl.disable.cache", true)
      val factory = ParquetUtils.prepareWrite(sqlConf, job, dataSchema,
        new ParquetOptions(Map.empty[String, String], sqlConf))
      val conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
      try {
        val task = new WriteTask(table, subdir, output, partAttrs, dataAttrs, factory,
          conf, java.util.UUID.randomUUID().toString.take(8), sqlConf.sessionLocalTimeZone)
        val rdd = qe.toRdd
        // an input with no partitions still runs one (empty) task, as Spark's
        // writer does, so an unpartitioned table keeps a schema-bearing file
        val input =
          if (rdd.getNumPartitions > 0) rdd
          else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
        val results = spark.sparkContext.runJob(input, task.run _)
        val written = results.toSeq.flatMap(_._1)
        val sawRetry = results.exists(_._2 > 0) ||
          spark.sparkContext.getConf.getBoolean("spark.speculation", defaultValue = false)
        if (sawRetry) dropUnreturned(job.getConfiguration, table, subdir, written.map(_.file))
        written
      } finally conf.destroy()
    }
  }

  /** Delete every file under `table/subdir` that is not in `keep` (paths
    * relative to the table root), through the Hadoop FileSystem the tasks
    * wrote with, and return the deleted paths: the files of failed or
    * losing task attempts. */
  private[graft] def dropUnreturned(conf: Configuration, table: String, subdir: String,
                                    keep: Seq[String]): Seq[String] = {
    val root = new HPath(table)
    val fs = root.getFileSystem(conf)
    val prefix = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
    val kept = keep.toSet
    val stale = ArrayBuffer.empty[String]
    val it = fs.listFiles(new HPath(root, subdir), true)
    while (it.hasNext) {
      val rel = it.next().getPath.toUri.getPath.stripPrefix(prefix)
      if (!kept(rel)) stale += rel
    }
    stale.foreach(f => fs.delete(new HPath(root, f), false))
    stale.toSeq
  }

  /** The write task: the rows of one input partition, sorted by the
    * partition columns, become one parquet file per partition directory. */
  private final class WriteTask(
      table: String, subdir: String, output: Seq[Attribute], partAttrs: Seq[Attribute],
      dataAttrs: Seq[Attribute], factory: OutputWriterFactory,
      conf: Broadcast[SerializableConfiguration], jobTag: String, timeZone: String)
      extends Serializable {

    /** The files this attempt wrote, and its attempt number. */
    def run(ctx: TaskContext, rows: Iterator[InternalRow]): (Seq[Written], Int) = {
      val partition = ctx.partitionId()
      val attempt = ctx.attemptNumber()
      val hadoopAttempt = new TaskAttemptContextImpl(new JobConf(conf.value.value),
        new TaskAttemptID(jobTag, ctx.stageId(), TaskType.MAP, partition, attempt))
      val ext = factory.getFileExtension(hadoopAttempt)
      val partKey = UnsafeProjection.create(partAttrs, output)
      // the directory text Spark renders: the value's string cast in the
      // session time zone, path-escaped, __HIVE_DEFAULT_PARTITION__ for null
      val partStrings = UnsafeProjection.create(
        partAttrs.map(a => Cast(a, StringType, Some(timeZone))), partAttrs)
      val dataRow = UnsafeProjection.create(dataAttrs, output)
      val dataSchema = DataTypeUtils.fromAttributes(dataAttrs)
      val out = ArrayBuffer.empty[Written]
      var writer: OutputWriter = null
      var file = ""
      var values: Seq[String] = Nil
      var n = 0L

      def open(vs: Seq[String]): Unit = {
        val dir = partAttrs.zip(vs)
          .map { case (a, v) => ExternalCatalogUtils.getPartitionPathString(a.name, v) + "/" }
          .mkString
        file = f"$subdir/${dir}part-$partition%05d-$attempt-c${out.size}%03d$ext"
        values = vs
        n = 0L
        writer = factory.newInstance(s"$table/$file", dataSchema, hadoopAttempt)
      }
      def close(): Unit = if (writer != null) {
        val w = writer
        writer = null
        w.close()
        out += Written(file, values, n)
      }

      try {
        if (partAttrs.isEmpty) {
          // as in Spark's writer, task 0 writes a file even when empty
          if (rows.hasNext || partition == 0) open(Nil)
          rows.foreach { r => writer.write(r); n += 1 }
        } else {
          var key: UnsafeRow = null
          rows.foreach { r =>
            val k = partKey(r)
            if (key == null || k != key) {
              close()
              key = k.copy()
              val vs = partStrings(key)
              open(partAttrs.indices.map(i =>
                if (vs.isNullAt(i)) null else vs.getUTF8String(i).toString))
            }
            writer.write(dataRow(r))
            n += 1
          }
        }
        close()
      } catch {
        case e: Throwable =>
          if (writer != null) try writer.close() catch { case s: Throwable => e.addSuppressed(s) }
          throw e
      }
      (out.toSeq, attempt)
    }
  }

  /** Read the current committed state. */
  def read(spark: SparkSession, table: String): DataFrame =
    readAsOf(spark, table, Int.MaxValue)

  /** Read the current committed state of a table of the given `format`:
    * refuses the table if any manifest the read parses has another format
    * (a table written before its format was recorded has an empty one). */
  def read(spark: SparkSession, table: String, format: Map[String, String]): DataFrame =
    load(spark, table, Int.MaxValue, Some(format))

  /**
   * Time travel: the table state as of snapshot `asOf` (inclusive) — the
   * union of the files of all snapshots ≤ asOf that are not subsumed by a
   * compaction ≤ asOf. Manifests are immutable and data files are only
   * removed by [[vacuum]], so any retained snapshot id reproduces its exact
   * historical state (the Iceberg `VERSION AS OF` semantics over our
   * manifest chain).
   */
  def readAsOf(spark: SparkSession, table: String, asOf: Int): DataFrame =
    load(spark, table, asOf, None)

  private def load(spark: SparkSession, table: String, asOf: Int,
                   format: Option[Map[String, String]]): DataFrame = {
    val snaps = snapshotsForRead(table, asOf)
    require(snaps.nonEmpty, s"no snapshots in $table at or before v$asOf")
    format.foreach(f => snaps.foreach(requireFormat(table, _, f, "reader")))
    val root = Paths.get(table)
    val files = snaps.flatMap(_.files).map(f => root.resolve(f).toString)
    spark.read.option("basePath", table).parquet(files: _*).drop(snapDirCol)
  }

  /**
   * The manifests a read at `asOf` actually needs: walk ids NEWEST-FIRST and
   * stop descending once a compaction's `compacts_through` horizon covers the
   * rest — manifests below the horizon contribute no active files, so they
   * are never opened or parsed, and the files of the returned snapshots are
   * exactly the read's files. This bounds read planning to O(commits since
   * the last compaction) manifest parses + one directory listing, instead of
   * O(all history): with the documented compact-regularly operational
   * contract (any long-lived ingest should [[compact]] periodically anyway
   * for the small-file problem), planning cost stays flat as history grows —
   * at 10⁴ historical commits a reader parses only the few manifests above
   * the newest compaction. [[vacuum]]/[[vacuumOrphans]] still read full
   * history (maintenance ops, by design).
   */
  private def snapshotsForRead(table: String, asOf: Int): Seq[Snapshot] = {
    var cutoff = 0
    val out = Seq.newBuilder[Snapshot]
    val it = snapshotIds(table).filter(_ <= asOf).reverseIterator
    var go = true
    while (go && it.hasNext) {
      val id = it.next()
      if (id <= cutoff) go = false
      else {
        val s = readSnapshot(table, id)
        out += s
        s.lineage.get("compacts_through")
          .foreach(t => cutoff = math.max(cutoff, t.toInt))
      }
    }
    out.result()
  }

  /**
   * Compaction: rewrite the CURRENT state as one snapshot whose manifest
   * carries `compacts_through = <previous head id>` and the head's format —
   * readers at or after the compaction see only the rewritten files, while
   * time travel below it still resolves the original small files (they stay
   * on disk until [[vacuum]]). The small-file problem of a many-append ingest
   * (one file per writer task per commit) is repaired without breaking
   * atomicity: the compaction is itself an ordinary manifest-last commit.
   */
  def compact(spark: SparkSession, table: String, keyCol: String,
              partitionCols: Seq[String],
              filesPerPartition: Int = 1): Snapshot = {
    val head = lastSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no snapshots to compact in $table"))
    val current = read(spark, table)
    val compacted =
      if (partitionCols.isEmpty) current.repartition(filesPerPartition)
      else if (filesPerPartition <= 1) current.repartition(partitionCols.map(col): _*)
      else current.repartition( // up-to-k files per partition dir (hash split on the key)
        partitionCols.map(col) :+
          pmod(xxhash64(col(keyCol)), lit(filesPerPartition)): _*)
    commit(compacted, table, keyCol, partitionCols,
      Map("compacts_through" -> head.id.toString), head.format, Some(head),
      commitEmpty = true).get
  }

  /**
   * Snapshot expiry: delete the data files and manifests of snapshots that
   * are invisible to every read at `retainAsOf` or later — i.e. snapshots
   * subsumed by a compaction with id ≤ retainAsOf. Time travel below the
   * horizon is forfeited (the Iceberg `expire_snapshots` contract); reads at
   * or after it are untouched. Returns the deleted data-file paths.
   */
  def vacuum(table: String, retainAsOf: Int): Seq[String] = {
    val snaps = allSnapshots(table)
    val horizon = snaps
      .filter(s => s.id <= retainAsOf && s.lineage.contains("compacts_through"))
      .map(_.lineage("compacts_through").toInt)
      .foldLeft(0)(math.max)
    val obsolete = snaps.filter(_.id <= horizon)
    val root = Paths.get(table)
    val deleted = obsolete.flatMap { s =>
      // manifest FIRST (the commit point of expiry): a crash mid-vacuum then
      // leaves data files with no manifest — invisible, reclaimed by a re-run
      // or [[vacuumOrphans]] — never a manifest referencing deleted files,
      // which would turn time travel at the horizon into a missing-parquet
      // error instead of a clean expiry signal.
      Files.deleteIfExists(snapshotsDir(table).resolve(s"v${s.id}.json"))
      s.files.filter(f => Files.deleteIfExists(root.resolve(f)))
    }
    deleted
  }

  /**
   * Sweep data subtrees no manifest references — the leftovers of append
   * attempts that crashed before their manifest (their files were never
   * visible). Only subtrees whose embedded snapshot id is ≤ the committed
   * head are candidates: an id above the head may be an IN-FLIGHT append
   * (single-writer protocol), so it is never touched. Returns deleted dirs.
   */
  def vacuumOrphans(table: String): Seq[String] = {
    val root = Paths.get(table)
    if (!Files.isDirectory(root)) return Seq.empty
    val snaps = allSnapshots(table)
    val head = snaps.lastOption.map(_.id).getOrElse(0)
    val referenced = snaps.flatMap(_.files)
    val DataDir = (java.util.regex.Pattern.quote(snapDirCol) + "=snap(\\d+)-.*").r
    listDir(root).flatMap { p =>
      p.getFileName.toString match {
        case name @ DataDir(id) if id.toInt <= head &&
            !referenced.exists(_.startsWith(name + "/")) =>
          deleteRecursively(p)
          Some(name)
        case _ => None
      }
    }
  }

  def allSnapshots(table: String): Seq[Snapshot] =
    snapshotIds(table).map(readSnapshot(table, _))

  /**
   * Resumable append: write only input rows whose `keyCol` is not yet in the
   * table (left-anti join — the F2 pattern). Returns None when nothing new.
   */
  def appendMissing(df: DataFrame, table: String, keyCol: String,
                    partitionCols: Seq[String],
                    lineage: Map[String, String] = Map.empty,
                    format: Map[String, String] = Map.empty): Option[Snapshot] =
    appendMissingImpl(df, table, keyCol, partitionCols, None, lineage, format)

  /**
   * Partition-scoped resume: like [[appendMissing]] but the anti-join probes
   * only committed rows matching `scope` (a predicate on the partition
   * columns → the probe scan partition-prunes). This bounds the per-batch
   * probe of a long-lived stream, which otherwise grows O(table) over the
   * stream's lifetime. CONTRACT: the caller guarantees incoming keys can
   * only collide with rows INSIDE `scope` (e.g. keys arrive within a bounded
   * time-bucket window); a key whose duplicate lives outside the scope is
   * appended again — scoping trades the cross-run global guarantee for a
   * bounded probe, it does not preserve it.
   */
  def appendMissingScoped(df: DataFrame, table: String, keyCol: String,
                          partitionCols: Seq[String], scope: org.apache.spark.sql.Column,
                          lineage: Map[String, String] = Map.empty,
                          format: Map[String, String] = Map.empty): Option[Snapshot] =
    appendMissingImpl(df, table, keyCol, partitionCols, Some(scope), lineage, format)

  private def appendMissingImpl(df: DataFrame, table: String, keyCol: String,
                                partitionCols: Seq[String],
                                scope: Option[org.apache.spark.sql.Column],
                                lineage: Map[String, String],
                                format: Map[String, String]): Option[Snapshot] = {
    val spark = df.sparkSession
    val head = headFor(table, format)
    val fresh = head match {
      case None => df
      case Some(_) =>
        val committed = read(spark, table)
        val existing = scope.fold(committed)(committed.where(_)).select(col(keyCol))
        df.join(existing, Seq(keyCol), "left_anti")
    }
    commit(fresh, table, keyCol, partitionCols, lineage, format, head, commitEmpty = false)
  }

  // ------------------------------------------------------------- manifest

  /** A manifest is one JSON object, rendered and parsed through json4s's AST
    * (Spark's own schema-JSON codec, already on the classpath). Map keys are
    * written sorted so a manifest's bytes are a function of its content. */
  private def renderSnapshot(s: Snapshot): String = {
    def obj[V](m: Map[String, V])(v: V => JValue): JObject =
      JObject(m.toList.sortBy(_._1).map { case (k, x) => k -> v(x) })
    JsonMethods.compact(JObject(
      "id" -> JInt(s.id),
      "parent_id" -> JInt(s.parentId),
      "row_count" -> JInt(s.rowCount),
      "key_col" -> JString(s.keyCol),
      "files" -> JArray(s.files.map(JString(_)).toList),
      "partition_row_counts" -> obj(s.partitionRowCounts)(JInt(_)),
      "lineage" -> obj(s.lineage)(JString(_)),
      "format" -> obj(s.format)(JString(_))))
  }

  /** Inverse of [[renderSnapshot]]. An absent map reads as empty: a manifest
    * written before the format contract has no `format` and an empty format. */
  private def parseSnapshot(text: String): Snapshot = {
    val json = JsonMethods.parse(text)
    def bad(k: String) = new IllegalStateException(s"manifest field '$k' missing or mistyped")
    def num(k: String)(v: JValue): Long = v match {
      case JInt(n) => n.toLong
      case _ => throw bad(k)
    }
    def str(k: String)(v: JValue): String = v match {
      case JString(x) => x
      case _ => throw bad(k)
    }
    def obj[V](k: String)(v: String => JValue => V): Map[String, V] = json \ k match {
      case JObject(kvs) => kvs.map { case (kk, x) => kk -> v(k)(x) }.toMap
      case JNothing => Map.empty
      case _ => throw bad(k)
    }
    val files = json \ "files" match {
      case JArray(fs) => fs.map(str("files"))
      case _ => throw bad("files")
    }
    Snapshot(num("id")(json \ "id").toInt, num("parent_id")(json \ "parent_id").toInt,
      files, num("row_count")(json \ "row_count"), obj("partition_row_counts")(num),
      str("key_col")(json \ "key_col"), obj("lineage")(str), obj("format")(str))
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

/**
 * The local file system [[SnapshotSink]]'s write tasks use for `file:`
 * tables. Hadoop's `LocalFileSystem` writes a `.crc` side file next to every
 * file, and without Hadoop's native library its `setPermission` forks a
 * `chmod` process for every file and directory it creates: two forks per
 * parquet file (the file and its `.crc`) and one per new partition directory,
 * which made opening a writer cost ~20 ms on a 4-CPU VM (JFR: 16 `chmod`
 * process starts per perfbench ingest op). This raw local file system writes
 * no side files and sets the same permissions through java.nio. Spark reads
 * the files through the ordinary `LocalFileSystem`, which skips the checksum
 * of a file that has none.
 */
final class LocalWriteFileSystem extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit = {
    val bits = permission.toShort
    // PosixFilePermission lists owner, group, others × read, write, execute:
    // the nine permission bits from the highest down
    val perms = PosixFilePermission.values.toSeq.zipWithIndex
      .collect { case (x, i) if (bits & (1 << (8 - i))) != 0 => x }
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    ()
  }
}

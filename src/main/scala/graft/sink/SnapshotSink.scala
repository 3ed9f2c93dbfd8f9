package graft.sink

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath, RawLocalFileSystem}
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
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.util.SerializableConfiguration
import org.json4s.{JArray, JInt, JNothing, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/**
 * Iceberg-shaped snapshot table on Parquet (SURVEY.md §7 step 7 — no Iceberg
 * runtime jar offline, so the layout is reproduced: partitioned data files +
 * an append-only `_snapshots/v{N}.json` manifest chain; a real Iceberg writer
 * would be a thin adapter over this seam).
 *
 * A table is a Hadoop `FileSystem` path: a plain path, a `file:` URI or any
 * scheme the session's Hadoop conf can open (`hdfs:`, `s3a:`, …). Every sink
 * call resolves ONE `FileSystem` from the conf its write tasks get (the
 * session's Hadoop conf, with `file:` mapped to [[LocalWriteFileSystem]]) and
 * reaches the data files, the manifests, the listings and the deletes of
 * vacuum through it; calls without a `SparkSession` take the active
 * session's conf.
 *
 * Guarantees:
 *  - manifest-last commit: write tasks write their final paths directly
 *    — each snapshot owns a unique `_snapdir=snap{N}-<uuid>/` subtree under
 *    the table root, laid out as `partitionBy(...).parquet` lays it out. There
 *    is no Hadoop output committer: no temporary attempt dirs, no renames, no
 *    `_SUCCESS` marker, the Hadoop configuration ships to the tasks once, as
 *    a broadcast, and a local table is written without `.crc` side files or
 *    forked `chmod`s. Each task returns, per file it wrote, the file's path,
 *    its partition values and its row count; the manifest lists the files
 *    that successful task attempts returned, and its row counts are those
 *    tasks' counts, so the driver neither lists the subtree nor reads a
 *    footer. File names carry the task's partition id and attempt number; a
 *    commit that saw a retried or speculative attempt deletes the subtree's
 *    files no successful attempt returned. The commit point is the manifest:
 *    written to `_snapshots/.v{N}.json.tmp`, then renamed to `v{N}.json`; a
 *    rename that returns false deletes the temp file and fails the commit. A
 *    crash before the manifest leaves an unreferenced subtree that readers
 *    never see; [[vacuumOrphans]] sweeps it. (The reference's single-writer
 *    BDB sink, ds/AbstractSearchStructure.java:229–257, becomes concurrent
 *    partitioned file commits with a manifest-last protocol.)
 *  - single writer: one writer per table at a time. Two writers of the same
 *    version both rename onto `v{N}.json`: on a local file system the second
 *    rename overwrites the first; where `rename` refuses an existing target,
 *    the second commit fails. Refusing the second writer everywhere needs a
 *    put-if-absent commit per scheme (Delta Lake's LogStore), not built yet;
 *  - resume: `appendMissing` left-anti-joins the input against already-
 *    committed keys (the F2 already-indexed dedup,
 *    ds/AbstractSearchStructure.java:537–546) and writes the rest in one
 *    evaluation: when nothing is left, the empty subtree is deleted and no
 *    manifest is committed;
 *  - lineage + metrics per snapshot (north rule): per-partition row counts,
 *    key column, model versions present, wall-clock (`commit_millis`,
 *    `write_millis`, `fs_millis`, see [[CommitClock]]), parent snapshot id;
 *  - one table format: every manifest records the writer's `format` tags
 *    (e.g. an operator's name and parameters). An append whose format differs
 *    from the head's is refused before it writes anything, [[compact]] carries
 *    the head's format forward, and `read(spark, table, format)` refuses a
 *    table any of whose read manifests has another format (the Delta Lake
 *    log-owned table format). Operators declare their format; they never
 *    inspect manifests themselves;
 *  - one schema: every manifest records the table's read schema (the data
 *    columns, then the typed partition columns, all nullable). An append
 *    whose columns differ in name or type from the head's is refused before
 *    it writes anything; column order and nullability may differ, and the
 *    head's schema is carried forward. Reads pass the recorded schema to
 *    Spark, so a partition column keeps its written type (a string `"01"`
 *    stays `"01"`) and no schema-inference job runs; a manifest written
 *    before the schema was recorded reads with Spark's inference.
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
      format: Map[String, String],
      schema: Option[StructType] = None)

  /**
   * A table root and the Hadoop FileSystem one sink call reaches it through,
   * resolved from the conf the write tasks get: the session's Hadoop conf
   * with `file:` mapped to [[LocalWriteFileSystem]] (no `.crc` side files,
   * no forked `chmod`).
   */
  private[graft] final class Table(val spark: SparkSession, table: String) {
    val conf: Configuration = spark.sessionState.newHadoopConf()
    conf.set("fs.file.impl", classOf[LocalWriteFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val root = new HPath(table)
    val fs: FileSystem = root.getFileSystem(conf)
    def /(rel: String): HPath = new HPath(root, rel)
    val snapshots: HPath = this / "_snapshots"
    def manifest(id: Int): HPath = new HPath(snapshots, s"v$id.json")
    /** The entries of `dir`; none when it does not exist. */
    def list(dir: HPath): Seq[FileStatus] =
      try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil }
    /** Committed snapshot ids, ascending — one directory listing, no parse. */
    def ids: Seq[Int] =
      list(snapshots).map(_.getPath.getName).collect { case ManifestName(id) => id.toInt }.sorted
    def snapshot(id: Int): Snapshot = {
      val in = fs.open(manifest(id))
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      manifestParses.incrementAndGet()
      parseSnapshot(text)
    }
    def head: Option[Snapshot] = ids.lastOption.map(snapshot)
    def all: Seq[Snapshot] = ids.map(snapshot)
    override def toString: String = table
  }

  /** `table` through the active session's Hadoop conf. */
  private def at(table: String): Table = new Table(SparkSession.active, table)

  /** Synthetic partition column carrying the snapshot-unique data-subtree
    * name; written into paths by [[append]], dropped by readers. */
  private val snapDirCol = "_snapdir"

  private val ManifestName = "v(\\d+)\\.json".r

  def lastSnapshot(table: String): Option[Snapshot] = at(table).head

  def readSnapshot(table: String, id: Int): Snapshot = at(table).snapshot(id)

  /** Manifest-parse counter — the read-planning cost seam SnapshotSinkSpec
    * asserts against (reads must NOT parse history below a compaction). */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong

  /** Refuse `snap` unless its `what` (`have`) equals `expected`, naming the
    * table and every key that differs. */
  private def requireSame(t: Table, snap: Snapshot, what: String, have: Map[String, String],
                          expected: Map[String, String], role: String): Unit = {
    val keys = (have.keySet ++ expected.keySet)
      .filter(k => have.get(k) != expected.get(k)).toSeq.sorted
    def show(m: Map[String, String], k: String) = m.getOrElse(k, "<absent>")
    require(keys.isEmpty,
      s"table $t (v${snap.id}) has another $what than the $role expects: " +
        keys.map(k => s"$k=${show(have, k)} (table) vs ${show(expected, k)} ($role)")
          .mkString(", ") +
        s" — rebuild the table with the expected $what, or write to another table")
  }

  private def requireFormat(t: Table, snap: Snapshot,
                            expected: Map[String, String], role: String): Unit =
    requireSame(t, snap, "format", snap.format, expected, role)

  /** The head snapshot, after refusing an append whose format differs. */
  private def headFor(t: Table, format: Map[String, String]): Option[Snapshot] = {
    val head = t.head
    head.foreach(requireFormat(t, _, format, "writer"))
    head
  }

  /** The schema a read of `df` written partitioned by `partitionCols` has:
    * the data columns, then the partition columns, all nullable. */
  private def readSchema(df: DataFrame, partitionCols: Seq[String]): StructType = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    val (parts, data) = df.schema.fields.partition(f => partitionCols.exists(resolver(f.name, _)))
    StructType(data ++ partitionCols.flatMap(c => parts.find(f => resolver(f.name, c))))
      .toNullable
  }

  /**
   * The timing keys of one commit, in decimal milliseconds from `nanoTime`:
   * `commit_millis` from before the head lookup to the manifest write,
   * `write_millis` for the write job and `fs_millis` for the commit's
   * driver-side file-system calls (head lookup, stale-attempt cleanup,
   * empty-subtree delete).
   */
  private final class CommitClock {
    private val start = System.nanoTime()
    private var write, fs = 0L
    private def timed[T](add: Long => Unit)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally add(System.nanoTime() - t0)
    }
    def writing[T](body: => T): T = timed(write += _)(body)
    def fsCall[T](body: => T): T = timed(fs += _)(body)
    def lineage: Map[String, String] = {
      def ms(nanos: Long) = java.math.BigDecimal.valueOf(nanos, 6).toPlainString
      Map("commit_millis" -> ms(System.nanoTime() - start), "write_millis" -> ms(write),
        "fs_millis" -> ms(fs))
    }
  }

  /**
   * Append `df` to the table partitioned by `partitionCols`, committing a new
   * snapshot. Returns the committed snapshot. `keyCol` is the resume identity;
   * `format` is the table-format contract (see the object doc).
   */
  def append(df: DataFrame, table: String, keyCol: String,
             partitionCols: Seq[String],
             lineage: Map[String, String] = Map.empty,
             format: Map[String, String] = Map.empty): Snapshot = {
    val clock = new CommitClock
    val t = new Table(df.sparkSession, table)
    commit(df, t, keyCol, partitionCols, lineage, format, clock.fsCall(headFor(t, format)),
      clock, commitEmpty = true).get
  }

  /** Write `df` as snapshot `parent + 1` and commit its manifest. A write of
    * no rows commits only when `commitEmpty`; otherwise its subtree is
    * deleted and the result is None. An input whose columns differ in name
    * or type from the parent's recorded schema is refused before any file is
    * written. */
  private def commit(df: DataFrame, t: Table, keyCol: String,
                     partitionCols: Seq[String], lineage: Map[String, String],
                     format: Map[String, String], parent: Option[Snapshot],
                     clock: CommitClock, commitEmpty: Boolean): Option[Snapshot] = {
    val snapId = parent.map(_.id + 1).getOrElse(1)
    // column order is free (appendMissing's anti-join and compact reorder);
    // the head's schema is carried forward so reads keep one column order
    val incoming = readSchema(df, partitionCols)
    val schema = parent.flatMap(p => p.schema.map { s =>
      def cols(x: StructType) = x.fields.map(f => f.name -> f.dataType.catalogString).toMap
      requireSame(t, p, "schema", cols(s), cols(incoming), "writer")
      s
    }).getOrElse(incoming)

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
    val (files, sawRetry) = clock.writing(writeFiles(df, t, subdir, partitionCols))
    if (sawRetry) clock.fsCall(dropUnreturned(t, subdir, files.map(_.file)))
    val rowCount = files.map(_.rows).sum
    if (rowCount == 0 && !commitEmpty) {
      clock.fsCall(t.fs.delete(t / subdir, true))
      return None
    }

    // per-partition row counts from the tasks' typed partition values:
    // "3/…" (values only, joined by '/', matching a groupBy over the data,
    // which reads a null or empty value back as null)
    val partCounts: Map[String, Long] = files.groupMapReduce(
      _.values.map(v => if (v == null || v.isEmpty) nullPartition else v).mkString("/"))(
      _.rows)(_ + _)
    val snap = Snapshot(snapId, parent.map(_.id).getOrElse(0), files.map(_.file),
      rowCount, partCounts, keyCol, lineage ++ clock.lineage, format, Some(schema))
    // manifest write IS the commit point: a temp file renamed to v{N}.json
    val tmp = new HPath(t.snapshots, s".v$snapId.json.tmp")
    val out = t.fs.create(tmp, true)
    try out.write(renderSnapshot(snap).getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!t.fs.rename(tmp, t.manifest(snapId))) {
      t.fs.delete(tmp, false)
      throw new java.io.IOException(s"commit of $t v$snapId failed: rename of $tmp returned false")
    }
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
   * Returns the files the successful task attempts wrote, and whether a task
   * was retried, or speculation may have run a second copy: then the subtree
   * may hold other files.
   */
  private def writeFiles(df: DataFrame, t: Table, subdir: String,
                         partitionCols: Seq[String]): (Seq[Written], Boolean) = {
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
      val job = Job.getInstance(t.conf)
      val factory = ParquetUtils.prepareWrite(sqlConf, job, dataSchema,
        new ParquetOptions(Map.empty[String, String], sqlConf))
      val conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
      try {
        val task = new WriteTask(t.toString, subdir, output, partAttrs, dataAttrs, factory,
          conf, java.util.UUID.randomUUID().toString.take(8), sqlConf.sessionLocalTimeZone)
        val rdd = qe.toRdd
        // an input with no partitions still runs one (empty) task, as Spark's
        // writer does, so an unpartitioned table keeps a schema-bearing file
        val input =
          if (rdd.getNumPartitions > 0) rdd
          else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
        val results = spark.sparkContext.runJob(input, task.run _)
        (results.toSeq.flatMap(_._1), results.exists(_._2 > 0) ||
          spark.sparkContext.getConf.getBoolean("spark.speculation", defaultValue = false))
      } finally conf.destroy()
    }
  }

  /** Delete every file under `table/subdir` that is not in `keep` (paths
    * relative to the table root) and return the deleted paths: the files of
    * failed or losing task attempts. */
  private[graft] def dropUnreturned(t: Table, subdir: String, keep: Seq[String]): Seq[String] = {
    val prefix = t.fs.makeQualified(t.root).toUri.getPath.stripSuffix("/") + "/"
    val kept = keep.toSet
    val stale = ArrayBuffer.empty[String]
    val it = t.fs.listFiles(t / subdir, true)
    while (it.hasNext) {
      val rel = it.next().getPath.toUri.getPath.stripPrefix(prefix)
      if (!kept(rel)) stale += rel
    }
    stale.foreach(f => t.fs.delete(t / f, false))
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
    load(new Table(spark, table), Int.MaxValue, Some(format))

  /**
   * Time travel: the table state as of snapshot `asOf` (inclusive) — the
   * union of the files of all snapshots ≤ asOf that are not subsumed by a
   * compaction ≤ asOf. Manifests are immutable and data files are only
   * removed by [[vacuum]], so any retained snapshot id reproduces its exact
   * historical state (the Iceberg `VERSION AS OF` semantics over our
   * manifest chain).
   */
  def readAsOf(spark: SparkSession, table: String, asOf: Int): DataFrame =
    load(new Table(spark, table), asOf, None)

  private def load(t: Table, asOf: Int, format: Option[Map[String, String]]): DataFrame = {
    val snaps = snapshotsForRead(t, asOf)
    require(snaps.nonEmpty, s"no snapshots in $t at or before v$asOf")
    format.foreach(f => snaps.foreach(requireFormat(t, _, f, "reader")))
    val files = snaps.flatMap(_.files).map(f => (t / f).toString)
    // the recorded schema types the partition columns and spares the read
    // Spark's schema-inference job; older manifests have none
    snaps.head.schema.fold(t.spark.read)(t.spark.read.schema)
      .option("basePath", t.toString).parquet(files: _*).drop(snapDirCol)
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
  private def snapshotsForRead(t: Table, asOf: Int): Seq[Snapshot] = {
    var cutoff = 0
    val out = Seq.newBuilder[Snapshot]
    val it = t.ids.filter(_ <= asOf).reverseIterator
    var go = true
    while (go && it.hasNext) {
      val id = it.next()
      if (id <= cutoff) go = false
      else {
        val s = t.snapshot(id)
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
    val clock = new CommitClock
    val t = new Table(spark, table)
    val head = clock.fsCall(t.head).getOrElse(
      throw new IllegalStateException(s"no snapshots to compact in $table"))
    val current = load(t, Int.MaxValue, None)
    val compacted =
      if (partitionCols.isEmpty) current.repartition(filesPerPartition)
      else if (filesPerPartition <= 1) current.repartition(partitionCols.map(col): _*)
      else current.repartition( // up-to-k files per partition dir (hash split on the key)
        partitionCols.map(col) :+
          pmod(xxhash64(col(keyCol)), lit(filesPerPartition)): _*)
    commit(compacted, t, keyCol, partitionCols,
      Map("compacts_through" -> head.id.toString), head.format, Some(head), clock,
      commitEmpty = true).get
  }

  /**
   * Snapshot expiry: delete the data files and manifests of snapshots that
   * are invisible to every read at `retainAsOf` or later — i.e. snapshots
   * subsumed by a compaction with id ≤ retainAsOf. Time travel below the
   * horizon is forfeited (the Iceberg `expire_snapshots` contract); reads at
   * or after it are untouched. Each expired snapshot's `_snapdir=` subtree
   * goes with its files unless a retained manifest references a file under
   * it. Returns the deleted data-file paths.
   */
  def vacuum(table: String, retainAsOf: Int): Seq[String] = {
    val t = at(table)
    val snaps = t.all
    val horizon = snaps
      .filter(s => s.id <= retainAsOf && s.lineage.contains("compacts_through"))
      .map(_.lineage("compacts_through").toInt)
      .foldLeft(0)(math.max)
    val (obsolete, retained) = snaps.partition(_.id <= horizon)
    def subtrees(s: Snapshot) = s.files.map(_.takeWhile(_ != '/')).distinct
    val kept = retained.flatMap(subtrees).toSet
    obsolete.flatMap { s =>
      // manifest FIRST (the commit point of expiry): a crash mid-vacuum then
      // leaves data files with no manifest — invisible, reclaimed by a re-run
      // or [[vacuumOrphans]] — never a manifest referencing deleted files,
      // which would turn time travel at the horizon into a missing-parquet
      // error instead of a clean expiry signal.
      t.fs.delete(t.manifest(s.id), false)
      val deleted = s.files.filter(f => t.fs.delete(t / f, false))
      subtrees(s).filterNot(kept).foreach(d => t.fs.delete(t / d, true))
      deleted
    }
  }

  /**
   * Sweep data subtrees no manifest references — the leftovers of append
   * attempts that crashed before their manifest (their files were never
   * visible). Only subtrees whose embedded snapshot id is ≤ the committed
   * head are candidates: an id above the head may be an IN-FLIGHT append
   * (single-writer protocol), so it is never touched. Returns deleted dirs.
   */
  def vacuumOrphans(table: String): Seq[String] = {
    val t = at(table)
    val snaps = t.all
    val head = snaps.lastOption.map(_.id).getOrElse(0)
    val referenced = snaps.flatMap(_.files)
    val DataDir = (java.util.regex.Pattern.quote(snapDirCol) + "=snap(\\d+)-.*").r
    t.list(t.root).flatMap { st =>
      st.getPath.getName match {
        case name @ DataDir(id) if id.toInt <= head &&
            !referenced.exists(_.startsWith(name + "/")) =>
          t.fs.delete(st.getPath, true)
          Some(name)
        case _ => None
      }
    }
  }

  def allSnapshots(table: String): Seq[Snapshot] = at(table).all

  /**
   * Resumable append: write only input rows whose `keyCol` is not yet in the
   * table (left-anti join — the F2 pattern). Returns None when nothing new.
   *
   * With a `scope` (a predicate on the partition columns) the anti-join
   * probes only committed rows matching it, so the probe scan
   * partition-prunes. This bounds the per-batch probe of a long-lived
   * stream, which otherwise grows O(table) over the stream's lifetime.
   * CONTRACT: the caller guarantees incoming keys can only collide with rows
   * INSIDE `scope` (e.g. keys arrive within a bounded time-bucket window); a
   * key whose duplicate lives outside the scope is appended again — scoping
   * trades the cross-run global guarantee for a bounded probe, it does not
   * preserve it.
   */
  def appendMissing(df: DataFrame, table: String, keyCol: String,
                    partitionCols: Seq[String],
                    lineage: Map[String, String] = Map.empty,
                    format: Map[String, String] = Map.empty,
                    scope: Option[org.apache.spark.sql.Column] = None): Option[Snapshot] = {
    val clock = new CommitClock
    val t = new Table(df.sparkSession, table)
    val head = clock.fsCall(headFor(t, format))
    val fresh = head match {
      case None => df
      case Some(_) =>
        val committed = load(t, Int.MaxValue, None)
        val existing = scope.fold(committed)(committed.where(_)).select(col(keyCol))
        df.join(existing, Seq(keyCol), "left_anti")
    }
    commit(fresh, t, keyCol, partitionCols, lineage, format, head, clock, commitEmpty = false)
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
      "format" -> obj(s.format)(JString(_)),
      "schema" -> s.schema.fold[JValue](JNothing)(x => JsonMethods.parse(x.json))))
  }

  /** Inverse of [[renderSnapshot]]. An absent map reads as empty: a manifest
    * written before the format contract has no `format` and an empty format;
    * one written before the schema contract has no `schema`. */
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
    val schema = json \ "schema" match {
      case JNothing => None
      case v => DataType.fromJson(JsonMethods.compact(v)) match {
        case st: StructType => Some(st)
        case _ => throw bad("schema")
      }
    }
    Snapshot(num("id")(json \ "id").toInt, num("parent_id")(json \ "parent_id").toInt,
      files, num("row_count")(json \ "row_count"), obj("partition_row_counts")(num),
      str("key_col")(json \ "key_col"), obj("lineage")(str), obj("format")(str), schema)
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

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.withJobCount
import graft.sink.SnapshotSink

/** Snapshot sink: atomic manifest-last commit, per-partition lineage/metrics,
  * resume-by-anti-join producing identical final state (north rule:
  * resumable from checkpoint with per-partition lineage + metrics). */
class SnapshotSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft_snap").resolve("t").toString

  private def data(ids: Range) =
    ids.map(i => (i.toLong, i % 4, s"v$i")).toDF("id", "part", "payload")

  test("append commits a snapshot with files, row counts, lineage") {
    val table = tmpTable()
    val snap = SnapshotSink.append(data(0 until 100), table, "id", Seq("part"),
      Map("model_versions" -> "1,2", "input" -> "unit-test"))
    assert(snap.id == 1 && snap.parentId == 0)
    assert(snap.rowCount == 100)
    assert(snap.partitionRowCounts.values.sum == 100)
    assert(snap.partitionRowCounts.keySet == Set("0", "1", "2", "3"))
    assert(snap.lineage("model_versions") == "1,2")
    // timing keys in decimal milliseconds: the write job and the driver-side
    // file-system calls are disjoint parts of the commit
    val Seq(commitMs, writeMs, fsMs) =
      Seq("commit_millis", "write_millis", "fs_millis").map(k => snap.lineage(k).toDouble)
    assert(Seq(commitMs, writeMs, fsMs).forall(_ >= 0), snap.lineage)
    assert(fsMs > 0, snap.lineage)
    assert(writeMs + fsMs <= commitMs, snap.lineage)
    // manifest round-trips
    val reread = SnapshotSink.readSnapshot(table, 1)
    assert(reread == snap)
    // table readable, partition column reconstructed
    val back = SnapshotSink.read(spark, table)
    assert(back.count() == 100)
    assert(back.select("part").distinct().count() == 4)
  }

  test("appendMissing resumes: only new keys written; final state identical") {
    val tableA = tmpTable(); val tableB = tmpTable()
    // full write in one go
    SnapshotSink.append(data(0 until 100), tableA, "id", Seq("part"))
    // interrupted write: first 60 rows, then resume with the full input
    SnapshotSink.append(data(0 until 60), tableB, "id", Seq("part"))
    val resumed = SnapshotSink.appendMissing(data(0 until 100), tableB, "id", Seq("part"))
    assert(resumed.nonEmpty && resumed.get.rowCount == 40, "resume writes only the missing 40")
    val a = SnapshotSink.read(spark, tableA).select("id", "part", "payload")
      .collect().map(_.toString).sorted
    val b = SnapshotSink.read(spark, tableB).select("id", "part", "payload")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b), "resumed table equals single-shot table")
    // idempotent: nothing left to write
    assert(SnapshotSink.appendMissing(data(0 until 100), tableB, "id", Seq("part")).isEmpty)
  }

  test("snapshot chain tracks parents; read unions all snapshots") {
    val table = tmpTable()
    SnapshotSink.append(data(0 until 10), table, "id", Seq("part"))
    SnapshotSink.append(data(10 until 30), table, "id", Seq("part"))
    val snaps = SnapshotSink.allSnapshots(table)
    assert(snaps.map(_.id) == Seq(1, 2))
    assert(snaps(1).parentId == 1)
    assert(SnapshotSink.read(spark, table).count() == 30)
  }

  test("time travel: readAsOf reproduces each historical state exactly") {
    val table = tmpTable()
    SnapshotSink.append(data(0 until 10), table, "id", Seq("part"))
    SnapshotSink.append(data(10 until 30), table, "id", Seq("part"))
    SnapshotSink.append(data(30 until 35), table, "id", Seq("part"))
    assert(SnapshotSink.readAsOf(spark, table, 1).count() == 10)
    assert(SnapshotSink.readAsOf(spark, table, 2)
      .select("id").as[Long].collect().sorted.sameElements(0L until 30L))
    assert(SnapshotSink.readAsOf(spark, table, 3).count() == 35)
    assertThrows[IllegalArgumentException](
      SnapshotSink.readAsOf(spark, table, 0))
  }

  test("compact rewrites the current state, preserves rows and time travel; " +
    "appends after compaction compose") {
    val table = tmpTable()
    SnapshotSink.append(data(0 until 10), table, "id", Seq("part"))
    SnapshotSink.append(data(10 until 30), table, "id", Seq("part"))
    val before = SnapshotSink.allSnapshots(table).flatMap(_.files).size
    val comp = SnapshotSink.compact(spark, table, "id", Seq("part"))
    assert(comp.lineage("compacts_through") == "2")
    assert(comp.rowCount == 30)
    // current read sees ONLY the compacted files, identical content
    val cur = SnapshotSink.read(spark, table)
    assert(cur.count() == 30)
    assert(cur.select("id").as[Long].collect().sorted.sameElements(0L until 30L))
    assert(comp.files.size <= before, "compaction must not increase file count")
    // time travel below the compaction still resolves the original files
    assert(SnapshotSink.readAsOf(spark, table, 1).count() == 10)
    // append after compact: union of compacted + new
    SnapshotSink.append(data(30 until 40), table, "id", Seq("part"))
    assert(SnapshotSink.read(spark, table).count() == 40)
    // resume is a no-op on keys already present through the compaction
    assert(SnapshotSink.appendMissing(data(0 until 40), table, "id", Seq("part")).isEmpty)
  }

  test("read planning stops at the compaction horizon: manifests below a " +
    "compaction are never parsed (O(commits since compact), not O(history))") {
    val table = tmpTable()
    (0 until 8).foreach(i =>
      SnapshotSink.append(data(i * 10 until (i + 1) * 10), table, "id", Seq("part")))
    SnapshotSink.compact(spark, table, "id", Seq("part")) // v9, compacts_through=8
    SnapshotSink.append(data(80 until 90), table, "id", Seq("part")) // v10
    SnapshotSink.append(data(90 until 95), table, "id", Seq("part")) // v11
    SnapshotSink.manifestParses.set(0L)
    val cur = SnapshotSink.read(spark, table)
    assert(cur.count() == 95)
    val parses = SnapshotSink.manifestParses.get()
    // v11, v10 and the compaction v9 — v1..v8 must stay unopened
    assert(parses == 3, s"read planning parsed $parses manifests, expected 3 " +
      "(head-to-horizon only)")
    // time travel BELOW the horizon still parses what it needs and is exact
    assert(SnapshotSink.readAsOf(spark, table, 2).count() == 20)
  }

  test("vacuum deletes only subsumed files below the retention horizon; " +
    "current reads untouched") {
    val table = tmpTable()
    SnapshotSink.append(data(0 until 10), table, "id", Seq("part"))
    SnapshotSink.append(data(10 until 30), table, "id", Seq("part"))
    val comp = SnapshotSink.compact(spark, table, "id", Seq("part"))
    SnapshotSink.append(data(30 until 40), table, "id", Seq("part"))
    val subsumedFiles = (SnapshotSink.readSnapshot(table, 1).files ++
      SnapshotSink.readSnapshot(table, 2).files).toSet
    val deleted = SnapshotSink.vacuum(table, retainAsOf = comp.id)
    assert(deleted.toSet == subsumedFiles)
    assert(SnapshotSink.allSnapshots(table).map(_.id) == Seq(comp.id, comp.id + 1))
    assert(SnapshotSink.read(spark, table).count() == 40)
    assert(SnapshotSink.readAsOf(spark, table, comp.id).count() == 30)
    // expiry integrity: no surviving manifest references a deleted file
    // (vacuum deletes each manifest BEFORE its data files, so a crash
    // mid-vacuum can never leave a manifest pointing at missing parquet)
    val root = java.nio.file.Paths.get(table)
    SnapshotSink.allSnapshots(table).flatMap(_.files).foreach { f =>
      assert(Files.exists(root.resolve(f)), s"manifest references deleted $f")
    }
    // the expired snapshots' subtrees are gone with their files
    subsumedFiles.map(_.split("/").head).foreach { d =>
      assert(!Files.exists(root.resolve(d)), s"expired subtree $d left behind")
    }
    // vacuum with no compaction at/below the horizon deletes nothing
    val table2 = tmpTable()
    SnapshotSink.append(data(0 until 10), table2, "id", Seq("part"))
    assert(SnapshotSink.vacuum(table2, retainAsOf = 1).isEmpty)
  }

  test("appendMissing with a scope: partition-pruned probe dedups inside the scope " +
    "only (bounded-stream resume; outside-scope collisions are the caller's " +
    "contract)") {
    val table = tmpTable()
    SnapshotSink.append(data(0 until 40), table, "id", Seq("part"))
    // incoming batch overlaps committed keys in part 2 (in scope) and
    // part 1 (outside scope)
    val batch = Seq((2L, 2, "dup-in-scope"), (42L, 2, "new-in-scope"),
      (1L, 1, "dup-outside"), (45L, 1, "new-outside"))
      .toDF("id", "part", "payload")
    val snap = SnapshotSink.appendMissing(batch, table, "id", Seq("part"),
      scope = Some(col("part") === 2)).get
    // in-scope dup dropped, everything else written (incl. the outside-scope
    // dup — the documented trade for a bounded probe)
    assert(snap.rowCount == 3)
    val written = SnapshotSink.readAsOf(spark, table, snap.id)
      .where(col("id").isin(2L, 42L, 1L, 45L) && col("payload").startsWith("dup-") ||
        col("payload").startsWith("new-"))
    assert(written.select("payload").as[String].collect().sorted.toSeq ==
      Seq("dup-outside", "new-in-scope", "new-outside"))
    // the probe scan partition-prunes on the scope predicate
    val probePlan = SnapshotSink.read(spark, table).where(col("part") === 2)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("PartitionFilters: ["), probePlan.take(400))
  }

  test("crash simulation: a data subtree with no manifest is invisible; " +
    "vacuumOrphans reclaims it but never touches an in-flight id") {
    val table = tmpTable()
    val snap = SnapshotSink.append(data(0 until 10), table, "id", Seq("part"))
    val root = java.nio.file.Paths.get(table)
    // fake a crashed attempt for the SAME snapshot id (write finished, no
    // manifest): real parquet bytes, so a leak would change row counts
    val realFile = root.resolve(snap.files.head)
    val orphan = root.resolve("_snapdir=snap1-orphan/part=0")
    Files.createDirectories(orphan)
    Files.copy(realFile, orphan.resolve("part-junk.parquet"))
    // and a dir that looks like an IN-FLIGHT append (id > committed head)
    val inflight = root.resolve("_snapdir=snap2-inflight/part=0")
    Files.createDirectories(inflight)
    Files.copy(realFile, inflight.resolve("part-junk.parquet"))
    // readers never see either
    assert(SnapshotSink.read(spark, table).count() == 10)
    assert(SnapshotSink.allSnapshots(table).map(_.id) == Seq(1))
    // orphan (id <= head, unreferenced) swept; in-flight (id > head) kept
    val swept = SnapshotSink.vacuumOrphans(table)
    assert(swept == Seq("_snapdir=snap1-orphan"))
    assert(!Files.exists(root.resolve("_snapdir=snap1-orphan")))
    assert(Files.exists(inflight))
    assert(SnapshotSink.read(spark, table).count() == 10)
    // once snapshot 2 commits, the stale attempt for id 2 becomes sweepable
    SnapshotSink.append(data(10 until 15), table, "id", Seq("part"))
    assert(SnapshotSink.vacuumOrphans(table) == Seq("_snapdir=snap2-inflight"))
    assert(SnapshotSink.read(spark, table).count() == 15)
  }

  test("an append runs one Spark job and its partition counts equal a " +
    "groupBy over the data") {
    val table = tmpTable()
    val (snap, jobs) = withJobCount(SnapshotSink.append(data(0 until 100), table, "id", Seq("part")))
    assert(jobs == 1, s"an append ran $jobs jobs")
    assert(snap.rowCount == 100)
    assert(snap.partitionRowCounts == countsByPart(SnapshotSink.read(spark, table)))
    assert(snap.partitionRowCounts == Map("0" -> 25L, "1" -> 25L, "2" -> 25L, "3" -> 25L))
  }

  /** Row counts per `part` value, as the manifest keys them. */
  private def countsByPart(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.groupBy("part").count().collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap

  test("appendMissing evaluates its input once: a partly committed input " +
    "evaluates each row once; a fully committed one writes no subtree and " +
    "returns None") {
    val table = tmpTable()
    SnapshotSink.append(data(0 until 60), table, "id", Seq("part"))
    // a non-deterministic probe cannot be collapsed or duplicated by Catalyst,
    // so each physical evaluation of a row ticks once
    val counted = udf { s: String =>
      SnapshotSinkSpec.evals.incrementAndGet(); s
    }.asNondeterministic()
    def input = data(0 until 100).withColumn("payload", counted(col("payload")))
    SnapshotSinkSpec.evals.set(0L)
    val snap = SnapshotSink.appendMissing(input, table, "id", Seq("part"))
    assert(snap.map(_.rowCount).contains(40L))
    assert(SnapshotSinkSpec.evals.get == 100L,
      s"a partly committed input evaluated ${SnapshotSinkSpec.evals.get} rows for 100")
    def snapDirs = listNames(java.nio.file.Paths.get(table)).filter(_.startsWith("_snapdir="))
    val before = snapDirs
    SnapshotSinkSpec.evals.set(0L)
    assert(SnapshotSink.appendMissing(input, table, "id", Seq("part")).isEmpty)
    assert(SnapshotSinkSpec.evals.get == 100L)
    assert(snapDirs == before, "a no-op resume must leave no _snapdir= subtree")
    assert(SnapshotSink.allSnapshots(table).map(_.id) == Seq(1, 2))
    assert(SnapshotSink.read(spark, table).count() == 100)
  }

  private def listNames(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  /** Each parquet file's directory relative to `root`, without the snapshot
    * subtree level. */
  private def partitionDirs(root: java.nio.file.Path): Set[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p.getParent).toString.split("/")
        .filterNot(d => d.isEmpty || d.startsWith("_snapdir=")).mkString("/"))
      .toSet
    finally s.close()
  }

  /** The permission strings of the parquet files and directories under
    * `root`, below the snapshot subtree level. */
  private def permissions(root: java.nio.file.Path): Set[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq
      .filter(p => p != root && !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => (if (Files.isDirectory(p)) "d" else "f") +
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p)))
      .toSet
    finally s.close()
  }

  test("the layout equals partitionBy(...).parquet: escaped and null string " +
    "values, a date and an int; and an unpartitioned table") {
    val rows = Seq[(Long, String, java.sql.Date, Int, String)](
      (0L, "a/b", java.sql.Date.valueOf("2024-01-02"), 1, "p0"),
      (1L, "k=v", java.sql.Date.valueOf("2024-01-02"), 2, "p1"),
      (2L, "50%", java.sql.Date.valueOf("2023-12-31"), 1, "p2"),
      (3L, "x y", java.sql.Date.valueOf("2023-12-31"), 3, "p3"),
      (4L, null, java.sql.Date.valueOf("2024-01-02"), 1, "p4"),
      (5L, "a/b", java.sql.Date.valueOf("2024-01-02"), 1, "p5"))
    val df = rows.toDF("id", "s", "d", "i", "payload").repartition(3)
    for (parts <- Seq(Seq("s", "d", "i"), Seq.empty[String])) {
      val table = tmpTable()
      val ref = Files.createTempDirectory("graft_ref").resolve("r")
      df.write.partitionBy(parts: _*).parquet(ref.toString)
      val snap = SnapshotSink.append(df, table, "id", parts)
      val got = SnapshotSink.read(spark, table)
      val want = spark.read.parquet(ref.toString)
      assert(partitionDirs(java.nio.file.Paths.get(table)) == partitionDirs(ref), parts)
      assert(permissions(java.nio.file.Paths.get(table)) == permissions(ref), parts)
      assert(got.schema == want.schema, parts)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq, parts)
      assert(snap.rowCount == rows.size)
      if (parts.nonEmpty)
        assert(snap.partitionRowCounts == want.groupBy(parts.map(col): _*).count().collect()
          .map(r => parts.indices.map(i => Option(r.get(i)).fold(
            "__HIVE_DEFAULT_PARTITION__")(_.toString)).mkString("/") -> r.getLong(parts.size))
          .toMap)
    }
  }

  test("a write whose task throws raises the error and commits nothing; " +
    "vacuumOrphans reclaims its subtree") {
    val table = tmpTable()
    SnapshotSink.append(data(0 until 10), table, "id", Seq("part"))
    val root = java.nio.file.Paths.get(table)
    val before = SnapshotSink.read(spark, table).collect().map(_.toString).sorted.toSeq
    val dirsBefore = listNames(root)
    val boom = udf { i: Long =>
      if (i == 17L) throw new IllegalStateException("boom in one task"); i
    }
    // the shuffle keeps the UDF out of driver-side constant folding, so it
    // throws inside a write task
    val ex = intercept[Exception] {
      SnapshotSink.append(data(10 until 20).repartition(4).withColumn("id", boom(col("id"))),
        table, "id", Seq("part"))
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom in one task")), ex)
    assert(SnapshotSink.allSnapshots(table).map(_.id) == Seq(1))
    assert(SnapshotSink.read(spark, table).collect().map(_.toString).sorted.toSeq == before)
    val failed = listNames(root).filterNot(dirsBefore.contains)
    assert(failed.size == 1 && failed.head.startsWith("_snapdir=snap2-"), failed)
    // id 2 may still be in flight until a v2 commits; then it is an orphan
    assert(SnapshotSink.vacuumOrphans(table).isEmpty)
    SnapshotSink.append(data(10 until 20), table, "id", Seq("part"))
    assert(SnapshotSink.vacuumOrphans(table) == failed)
    assert(SnapshotSink.read(spark, table).count() == 20)
  }

  test("the commit's cleanup deletes a stale task attempt's file and keeps " +
    "every returned file") {
    val table = tmpTable()
    val snap = SnapshotSink.append(data(0 until 20), table, "id", Seq("part"))
    val root = java.nio.file.Paths.get(table)
    val kept = root.resolve(snap.files.head)
    val stale = kept.resolveSibling("part-00000-1-c000.snappy.parquet")
    assert(!snap.files.exists(f => root.resolve(f) == stale))
    Files.copy(kept, stale)
    val subdir = snap.files.head.split("/").head
    val dropped = SnapshotSink.dropUnreturned(new SnapshotSink.Table(spark, table),
      subdir, snap.files)
    assert(dropped == Seq(root.relativize(stale).toString))
    assert(!Files.exists(stale))
    snap.files.foreach(f => assert(Files.exists(root.resolve(f)), f))
    assert(SnapshotSink.read(spark, table).count() == 20)
  }

  test("partition pruning works on the snapshot table (list-pruned scan shape)") {
    val table = tmpTable()
    SnapshotSink.append(data(0 until 100), table, "id", Seq("part"))
    val pruned = SnapshotSink.read(spark, table).where(col("part") === 2)
    assert(pruned.count() == 25)
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must reach the scan, not a post-filter over all rows
    assert(plan.contains("PartitionFilters") || plan.contains("part#"), plan.take(500))
  }

  test("manifest strings with backslashes, quotes, newlines, control chars " +
    "round-trip exactly (single-pass unescape)") {
    val table = tmpTable()
    val weird = Map(
      "bs_n" -> "a\\nb",          // escaped-backslash + n — the old corruption case
      "newline" -> "x\ny",
      "quote" -> "he said \"hi\"",
      "ctrl" -> "bell\u0001tab\ttail",
      "path" -> "C:\\data\\models\\v1")
    SnapshotSink.append(data(0 until 4), table, "id", Seq("part"), weird)
    val back = SnapshotSink.lastSnapshot(table).get.lineage
    weird.foreach { case (k, v) =>
      assert(back(k) == v, s"lineage[$k] corrupted: '${back(k)}' != '$v'")
    }
  }

  test("manifest round-trips partition values and lineage holding braces, " +
    "brackets, quotes, backslashes, newlines and control characters") {
    val table = tmpTable()
    val weird = Seq("a}b", "c]d", "e{f", "q\"t", "b\\s", "n\nl", "c\u0001x")
    val df = weird.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "part")
    val lineage = weird.map(w => s"k$w" -> s"v$w}]").toMap
    val snap = SnapshotSink.append(df, table, "id", Seq("part"), lineage)
    assert(snap.partitionRowCounts.size == weird.size)
    assert(snap.partitionRowCounts == countsByPart(SnapshotSink.read(spark, table)))
    assert(snap.partitionRowCounts == weird.map(_ -> 1L).toMap)
    val back = SnapshotSink.readSnapshot(table, snap.id)
    assert(back.files == snap.files)
    assert(back.partitionRowCounts == snap.partitionRowCounts)
    assert(back.lineage == snap.lineage)
  }

  test("a manifest in the pre-format layout parses to the same Snapshot " +
    "(no format field → empty format)") {
    val table = tmpTable()
    val text = "{\"id\":3,\"parent_id\":2,\"row_count\":5,\"key_col\":\"id\"," +
      "\"files\":[\"_snapdir=snap3-u/part=a}b/p0.parquet\"," +
      "\"_snapdir=snap3-u/part=c/p1.parquet\"]," +
      "\"partition_row_counts\":{\"a}b\":2,\"c\":3}," +
      "\"lineage\":{\"commit_millis\":\"12\"," +
      "\"note\":\"x}y \\\"q\\\" C:\\\\d\\nz\\u0001\"}}"
    val dir = java.nio.file.Paths.get(table, "_snapshots")
    Files.createDirectories(dir)
    Files.write(dir.resolve("v3.json"), text.getBytes("UTF-8"))
    assert(SnapshotSink.readSnapshot(table, 3) == SnapshotSink.Snapshot(3, 2,
      Seq("_snapdir=snap3-u/part=a}b/p0.parquet", "_snapdir=snap3-u/part=c/p1.parquet"),
      5L, Map("a}b" -> 2L, "c" -> 3L), "id",
      Map("commit_millis" -> "12", "note" -> "x}y \"q\" C:\\d\nz\u0001"), Map.empty))
  }

  test("an append under another format is refused before it writes: the " +
    "table's files, manifests and read are unchanged; compact keeps the format") {
    val table = tmpTable()
    val fmt = Map("op" -> "unit", "n" -> "3")
    val other = Map("op" -> "unit", "n" -> "5")
    SnapshotSink.append(data(0 until 10), table, "id", Seq("part"), format = fmt)
    def state = {
      val s = Files.walk(java.nio.file.Paths.get(table))
      val paths = try s.iterator().asScala.map(_.toString).toSeq.sorted finally s.close()
      (paths, SnapshotSink.read(spark, table, fmt).collect().map(_.toString).sorted.toSeq)
    }
    val before = state
    intercept[IllegalArgumentException] {
      SnapshotSink.append(data(10 until 20), table, "id", Seq("part"), format = other)
    }
    intercept[IllegalArgumentException] {
      SnapshotSink.append(data(10 until 20), table, "id", Seq("part"))
    }
    intercept[IllegalArgumentException] {
      SnapshotSink.appendMissing(data(0 until 20), table, "id", Seq("part"),
        format = other)
    }
    intercept[IllegalArgumentException] {
      SnapshotSink.appendMissing(data(0 until 20), table, "id", Seq("part"),
        format = other, scope = Some(col("part") === 1))
    }
    assert(state == before)
    val ex = intercept[IllegalArgumentException](SnapshotSink.read(spark, table, other))
    assert(ex.getMessage.contains(table) && ex.getMessage.contains("n=3"), ex.getMessage)
    assert(!ex.getMessage.contains("op="), ex.getMessage)
    assert(SnapshotSink.compact(spark, table, "id", Seq("part")).format == fmt)
    SnapshotSink.append(data(10 until 20), table, "id", Seq("part"), format = fmt)
    assert(SnapshotSink.read(spark, table, fmt).count() == 20)
  }

  test("a string partition column of digits reads back as the strings written, " +
    "and planning a read runs no Spark job; a manifest without a schema infers") {
    val table = tmpTable()
    SnapshotSink.append(Seq((0L, "00"), (1L, "01"), (2L, "02")).toDF("id", "p"),
      table, "id", Seq("p"))
    val (back, jobs) = withJobCount(SnapshotSink.read(spark, table))
    assert(back.schema("p").dataType == StringType)
    assert(back.orderBy("id").select("p").as[String].collect().toSeq == Seq("00", "01", "02"))
    assert(jobs == 0, s"planning a read ran $jobs jobs")
    // a manifest written before the schema was recorded: Spark infers, as before
    val manifest = Paths.get(table, "_snapshots", "v1.json")
    val json = JsonMethods.parse(new String(Files.readAllBytes(manifest), "UTF-8"))
    Files.write(manifest, JsonMethods.compact(json.removeField(_._1 == "schema")).getBytes("UTF-8"))
    assert(SnapshotSink.read(spark, table).schema("p").dataType == IntegerType)
  }

  test("an append whose columns differ in name or type from the head's is " +
    "refused before it writes; one that only reorders them is accepted") {
    val table = tmpTable()
    SnapshotSink.append(Seq((0L, "a", 0), (1L, "b", 1)).toDF("id", "s", "part"),
      table, "id", Seq("part"))
    def state = {
      val s = Files.walk(Paths.get(table))
      val paths = try s.iterator().asScala.map(_.toString).toSeq.sorted finally s.close()
      (paths, SnapshotSink.read(spark, table).collect().map(_.toString).sorted.toSeq)
    }
    val before = state
    val ex = intercept[IllegalArgumentException] {
      SnapshotSink.append(Seq((2L, 2.5, 0)).toDF("id", "s", "part"), table, "id", Seq("part"))
    }
    assert(ex.getMessage.contains("s=string (table) vs double (writer)"), ex.getMessage)
    intercept[IllegalArgumentException] {
      SnapshotSink.appendMissing(Seq((2L, "c", 0, 9)).toDF("id", "s", "part", "x"),
        table, "id", Seq("part"))
    }
    assert(state == before)
    SnapshotSink.append(Seq((0, "c", 2L)).toDF("part", "s", "id"), table, "id", Seq("part"))
    val back = SnapshotSink.read(spark, table)
    assert(back.columns.toSeq == Seq("id", "s", "part"))
    assert(back.orderBy("id").select("s").as[String].collect().toSeq == Seq("a", "b", "c"))
  }

  test("the lifecycle on a file: URI and on another Hadoop scheme reads as on " +
    "a plain path, with its manifests under the table root") {
    /** append, appendMissing (one with rows, one with none), compact,
      * readAsOf, vacuum and vacuumOrphans; returns the final rows. */
    def lifecycle(table: String): Seq[String] = {
      SnapshotSink.append(data(0 until 30), table, "id", Seq("part"))
      assert(SnapshotSink.appendMissing(data(0 until 50), table, "id", Seq("part"))
        .map(_.rowCount).contains(20L))
      assert(SnapshotSink.appendMissing(data(0 until 50), table, "id", Seq("part")).isEmpty)
      SnapshotSink.compact(spark, table, "id", Seq("part"))
      SnapshotSink.append(data(50 until 60), table, "id", Seq("part"))
      assert(SnapshotSink.readAsOf(spark, table, 2).count() == 50)
      val old = Seq(1, 2).flatMap(SnapshotSink.readSnapshot(table, _).files)
      assert(SnapshotSink.vacuum(table, retainAsOf = 3).toSet == old.toSet)
      assert(SnapshotSink.allSnapshots(table).map(_.id) == Seq(3, 4))
      val orphan = new HPath(table, "_snapdir=snap1-orphan/part=0")
      orphan.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(orphan)
      // vacuum took the subtrees of v1 and v2 with their files: only the
      // planted orphan is left to sweep
      assert(SnapshotSink.vacuumOrphans(table) == Seq("_snapdir=snap1-orphan"))
      SnapshotSink.read(spark, table).select("id", "part", "payload")
        .collect().map(_.toString).sorted.toSeq
    }
    val plain = lifecycle(tmpTable())
    assert(plain.size == 60)
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${ElsewhereFileSystem.scheme}.impl", classOf[ElsewhereFileSystem].getName)
    for (scheme <- Seq("file", ElsewhereFileSystem.scheme)) {
      val local = tmpTable()
      val table = s"$scheme://$local"
      assert(lifecycle(table) == plain, table)
      // the relative path a plain-path join makes of the URI stays absent
      assert(!Files.exists(Paths.get(table)), Paths.get(table).toAbsolutePath)
      assert(listNames(Paths.get(local, "_snapshots")) == Seq("v3.json", "v4.json"), table)
    }
  }

  test("index transformation: truncate+renorm to a new snapshot table " +
    "(exm/IndexTransformation.java:117–120)") {
    val src = tmpTable(); val dst = tmpTable()
    val vecs = (0 until 50).map(i =>
      (s"img_$i", i % 4, Array.tabulate(6)(j => (i * 7 + j * 3 + 1).toDouble)))
    SnapshotSink.append(vecs.toDF("image_id", "part", "vector"), src,
      "image_id", Seq("part"))
    val snap = graft.pipeline.IndexTransform.truncateIndex(
      spark, src, dst, newLength = 3, keyCol = "image_id", partitionCols = Seq("part"))
    assert(snap.rowCount == 50)
    assert(snap.lineage("transform") == "truncate_renorm(3)")
    val got = SnapshotSink.read(spark, dst)
      .select("image_id", "vector").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got.size == 50)
    vecs.foreach { case (id, _, v) =>
      assert(got(id) == graft.kernels.Kernels.truncateRenorm(v, 3).toSeq, id)
    }
  }
}

object SnapshotSinkSpec {
  val evals = new java.util.concurrent.atomic.AtomicLong
}

/** The local file system under a scheme of its own: a table reached through
  * it has no plain local path, so only a Hadoop FileSystem call can find it. */
final class ElsewhereFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = ElsewhereFileSystem.uri
  override def getScheme: String = ElsewhereFileSystem.scheme
}

object ElsewhereFileSystem {
  val scheme = "elsewhere"
  val uri: java.net.URI = java.net.URI.create(s"$scheme:///")
}

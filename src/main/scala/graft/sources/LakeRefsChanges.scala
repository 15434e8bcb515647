package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import LakeModel._

/** Branch refs (WAP by name), CHECK constraints and expectations, restore, CDF changes, history, timestamp travel, OPTIMIZE small-files.
  *
  * One slice of the [[VersionedLake]] surface (r15 verdict task 6
  * split the 5.8k-line object into focused concern files with zero
  * behavior change); self-typed to the object so cross-concern calls
  * resolve exactly as before.
  */
trait LakeRefsChanges { this: VersionedLake.type =>

  // ---- branch refs (write-audit-publish by NAME) ---------------------------

  private[sources] val BranchesDir = "_branches"

  /** The branch's own table directory — a full lake chain under
    * `<table>/_branches/<name>/`, so every write/read/constraint
    * surface works on a branch unchanged.
    */
  def branchPath(path: String, name: String): String =
    s"$path/$BranchesDir/$name"

  /** CREATE BRANCH — a WRITABLE named ref (Iceberg branch semantics;
    * tags are the read-only half, [[createTag]]): the branch forks
    * from the main tip as a ZERO-COPY clone (hard links on
    * link-capable stores) plus a `prop branch.base <v>` commit
    * recording the fork point — the fact [[fastForwardBranch]] checks.
    * Writes land on the branch's OWN manifest chain via every normal
    * write surface; main never sees them until a fast-forward
    * publishes the branch BY REFERENCE. This is [[wapPublish]]'s
    * write-audit-publish shape with a NAME instead of a caller-managed
    * staging path.
    */
  def createBranch(spark: SparkSession, path: String,
      name: String): CommitResult = {
    require(name.matches("[A-Za-z0-9_-]+"), s"bad branch name: $name")
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val bp = branchPath(path, name)
    require(versions(spark, bp).isEmpty,
      s"branch $name already exists at $path — drop it first")
    // read the fork point ONCE and clone exactly it: a concurrent main
    // commit between "record base" and "clone tip" would otherwise
    // produce a branch whose content is tip N+1 but whose recorded
    // base is N — fastForwardBranch could then never publish it
    val base = vs.last
    cloneTable(spark, path, bp, Some(base))
    commitManifest(spark, bp, "BRANCH") { m =>
      m.copy(props = m.props + ("branch.base" -> base.toString))
    }
  }

  /** Branch names currently present under the table. */
  def branches(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark)
    val dir = new Path(s"$path/$BranchesDir")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sorted
  }

  /** The table's REFS as a relation (Iceberg `refs` metadata-table
    * shape): `main` + every branch as type BRANCH (version = the ref's
    * chain tip; a branch also reports its recorded fork point), every
    * tag as type TAG pinned to its version. Metadata-scale — one
    * manifest read per branch, no data IO.
    */
  def refsMeta(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val main = ("main", "BRANCH", vs.last, None: Option[Int])
    val branchRows = branches(spark, path).map { b =>
      val bp = branchPath(path, b)
      val bvs = versions(spark, bp)
      val base = manifestEntries(spark, bp, bvs.last)
        .props.get("branch.base").map(_.toInt)
      (b, "BRANCH", bvs.last, base)
    }
    val tagRows = tags(spark, path).toSeq.sorted
      .map { case (n, v) => (n, "TAG", v, None: Option[Int]) }
    (main +: (branchRows ++ tagRows))
      .toDF("name", "type", "version", "base_version")
  }

  /** DROP BRANCH — removes the branch chain and its private files;
    * files shared with main survive (hard links / main's own copies).
    */
  def dropBranch(spark: SparkSession, path: String, name: String): Unit = {
    val f = fs(spark)
    val bp = new Path(branchPath(path, name))
    require(f.exists(bp), s"no branch $name at $path")
    f.delete(bp, true)
    ()
  }

  /** FAST-FORWARD — publish the branch onto main ATOMICALLY and BY
    * REFERENCE: requires main's tip to still be the branch's recorded
    * fork point (anything else is not a fast-forward — the honest
    * refusal; re-branch and replay), links the branch's new data/DV
    * files into main's directory (invisible: no manifest references
    * them yet), then CAS-commits main's next version with the branch
    * tip's manifest lines. A crash before the CAS leaves only
    * unreferenced files for vacuum; after it, main IS the branch
    * content. The dirty-branch contract is the contrapositive: a
    * branch that never fast-forwards leaves main's manifest
    * bit-identical, which the gate asserts.
    */
  def fastForwardBranch(spark: SparkSession, path: String,
      name: String): CommitResult = {
    val f = fs(spark)
    val bp = branchPath(path, name)
    val bvs = versions(spark, bp)
    require(bvs.nonEmpty, s"no branch $name at $path")
    val bTip = manifestEntries(spark, bp, bvs.last)
    val base = bTip.props.getOrElse("branch.base",
      throw new IllegalStateException(
        s"branch $name carries no fork-point record")).toInt
    val mainTip = versions(spark, path).last
    require(mainTip == base,
      s"main advanced since branch $name forked (v$base → v$mainTip) — " +
        "not a fast-forward; re-branch from the new tip and replay")
    val mainData = manifestEntries(spark, path, mainTip)
    val known = (mainData.data ++ mainData.dv.values.toSeq).toSet
    val newFiles = (bTip.data ++ bTip.dv.values.toSeq.distinct)
      .filterNot(known.contains).filterNot(rel => f.exists(
        new Path(s"$path/$rel")))
    newFiles.foreach { rel =>
      val dst = new Path(s"$path/$rel")
      f.mkdirs(dst.getParent)
      linkOrCopy(spark, new Path(s"$bp/$rel"), dst)
    }
    val lines = TableManifest(bTip.data, bTip.dv, bTip.txn,
      bTip.props - "branch.base", bTip.stats).lines :+
      "meta\top\tFAST_FORWARD"
    if (!casCommit(spark, path, mainTip + 1, lines))
      throw new ConcurrentWriteConflict(
        s"lost the fast-forward CAS at $path — main moved concurrently")
    publishChangeLog(spark, path, mainTip + 1,
      bTip.data.filterNot(mainData.data.toSet))
    CommitResult(mainTip + 1, 0)
  }

  /** ADD CONSTRAINT — Delta `ALTER TABLE ADD CONSTRAINT` semantics: a
    * named SQL CHECK predicate stored as a TABLE PROPERTY
    * (`prop constraint.<name> <expr>`), so every future writer —
    * whatever process it runs in — enforces it; a constraint that only
    * lives in application code is not a constraint. Existing data is
    * validated first (a constraint the table already violates must not
    * land), then the property commits as a metadata-only version.
    * SQL-CHECK null semantics: a row fails only when the predicate is
    * FALSE; NULL passes (use `x IS NOT NULL` to forbid nulls).
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
      sqlExpr: String): CommitResult = {
    require(name.matches("[A-Za-z0-9_]+"), s"bad constraint name: $name")
    require(!sqlExpr.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "constraint expression must be a single tab-free line")
    commitManifest(spark, path, "ADD_CONSTRAINT") { m =>
      require(!m.props.contains(s"constraint.$name"),
        s"constraint $name already exists — drop it first")
      val bad = read(spark, path)
        .filter(!coalesce(expr(sqlExpr), lit(true))).count()
      if (bad > 0) throw new ConstraintViolation(
        s"cannot add constraint $name ($sqlExpr): " +
          s"$bad existing row(s) violate it")
      m.copy(props = m.props + (s"constraint.$name" -> sqlExpr))
    }
  }

  /** DROP CONSTRAINT: remove the property as a metadata-only commit
    * ([[commitManifest]] — property changes never conflict with data
    * writes). A name the table does not have is refused inside the
    * edit, as [[dropTag]] refuses: a silent no-op would leave the real
    * (misspelled) constraint in force with no error.
    */
  def dropConstraint(spark: SparkSession, path: String,
      name: String): CommitResult =
    commitManifest(spark, path, "DROP_CONSTRAINT") { m =>
      require(m.props.contains(s"constraint.$name"),
        s"no constraint named $name at $path")
      m.copy(props = m.props - s"constraint.$name")
    }

  // ---- EXPECTATIONS (ON VIOLATION DROP ROW) --------------------------------

  private[sources] val QuarantineDir = "_quarantine"

  /** ADD an EXPECTATION — the reference's `CONSTRAINT c EXPECT (pred)
    * ON VIOLATION DROP ROW` (ref src/pipelines/silver/order_items.sql):
    * a named predicate stored as a table property (`prop expect.<name>
    * <expr>`) that every writer enforces by DROPPING violating rows
    * into the quarantine side output with per-rule metrics, instead of
    * rejecting the batch wholesale (that is the CHECK constraint /
    * FAIL UPDATE mode, [[addConstraint]]). Unlike CHECK, existing data
    * is NOT validated: an expectation governs FLOWING data from this
    * version on — the DLT semantic. SQL-CHECK null rule applies: a row
    * fails only when the predicate is FALSE; NULL passes. Tombstones
    * are exempt (a delete removes the row; the predicate has nothing
    * left to hold over).
    */
  def addExpectation(spark: SparkSession, path: String, name: String,
      sqlExpr: String): CommitResult = {
    require(name.matches("[A-Za-z0-9_]+"), s"bad expectation name: $name")
    require(!sqlExpr.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "expectation predicate must be a single tab-free line")
    commitManifest(spark, path, "ADD_EXPECTATION") { m =>
      require(!m.props.contains(s"expect.$name") &&
        !m.props.contains(s"constraint.$name"),
        s"a constraint or expectation named $name already exists")
      // the predicate must RESOLVE against the table schema now — a
      // typo discovered at the next write would block ingest, not DDL
      read(spark, path).filter(coalesce(expr(sqlExpr), lit(true)))
        .queryExecution.analyzed
      m.copy(props = m.props + (s"expect.$name" -> sqlExpr))
    }
  }

  /** DROP an expectation (metadata-only commit, [[commitManifest]]). */
  def dropExpectation(spark: SparkSession, path: String,
      name: String): CommitResult =
    commitManifest(spark, path, "DROP_EXPECTATION") { m =>
      require(m.props.contains(s"expect.$name"),
        s"no expectation named $name at $path")
      m.copy(props = m.props - s"expect.$name")
    }

  /** Enforce DROP-ROW expectations on a write batch: returns the CLEAN
    * rows plus the per-version meta lines recording what was dropped.
    * One aggregate pass computes every rule's violation count; only
    * when something actually fails does a second change-scale pass
    * land the violating rows (one row per failed rule, `_expect_failed`
    * naming it) under `_quarantine/w<nonce>/`, referenced from the
    * commit by a `meta expectq` line so consumers find the right
    * side output per version ([[quarantined]]). The quarantine write
    * happens pre-CAS; a lost commit's directory is unreferenced and
    * vacuum sweeps it.
    */
  private[sources] def applyExpectations(spark: SparkSession, path: String,
      m: TableManifest, updates: DataFrame): (DataFrame, Seq[String]) = {
    val es = m.props.collect {
      case (k, v) if k.startsWith("expect.") =>
        k.stripPrefix("expect.") -> v
    }.toSeq.sorted
    if (es.isEmpty) return (updates, Nil)
    val u = updates.localCheckpoint(true) // reused: counts + split
    val isLive =
      if (u.columns.contains("_deleted"))
        !coalesce(col("_deleted"), lit(false))
      else lit(true)
    def fails(s: String): org.apache.spark.sql.Column =
      isLive && !coalesce(expr(s), lit(true))
    val countsRow = u.agg(
      sum(when(fails(es.head._2), 1L).otherwise(0L)),
      es.tail.map { case (_, s) =>
        sum(when(fails(s), 1L).otherwise(0L)) }: _*).head()
    val counts = es.indices.map(i =>
      if (countsRow.isNullAt(i)) 0L else countsRow.getLong(i))
    val metrics = es.zip(counts).map { case ((n, _), c) =>
      s"meta\texpect\t$n\t$c"
    }
    if (counts.forall(_ == 0L)) return (u, metrics)
    val viol = es.zip(counts).collect { case ((n, s), c) if c > 0 =>
      u.filter(fails(s)).withColumn("_expect_failed", lit(n))
    }.reduce(_ unionByName _)
    val qwid = nonce()
    viol.write.mode(SaveMode.Overwrite)
      .parquet(s"$path/$QuarantineDir/w$qwid")
    val clean = u.filter(!isLive ||
      es.map { case (_, s) => coalesce(expr(s), lit(true)) }
        .reduce(_ && _))
    (clean, metrics :+ s"meta\texpectq\tw$qwid")
  }

  /** Per-version expectation metrics — (version, rule, dropped_rows),
    * read from the `meta expect` lines each enforcing commit stamped.
    * Metadata-scale; versions without expectations emit nothing.
    */
  def expectationMetrics(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    versions(spark, path).flatMap { v =>
      rawManifestLines(spark, path, v)
        .map(l => if (l.startsWith("+\t")) l.stripPrefix("+\t") else l)
        .collect {
          case l if l.startsWith("meta\texpect\t") =>
            val p = l.split("\t")
            (v, p(2), p(3).toLong)
        }
    }.toDF("version", "rule", "dropped_rows")
  }

  /** The rows version `v`'s write DROPPED (with `_expect_failed`
    * naming the rule each row broke) — empty relation when that commit
    * dropped nothing.
    */
  def quarantined(spark: SparkSession, path: String, v: Int): DataFrame = {
    val dir = rawManifestLines(spark, path, v)
      .map(l => if (l.startsWith("+\t")) l.stripPrefix("+\t") else l)
      .collectFirst {
        case l if l.startsWith("meta\texpectq\t") => l.split("\t")(2)
      }
    dir match {
      case Some(d) => spark.read.parquet(s"$path/$QuarantineDir/$d")
      case None => throw new IllegalArgumentException(
        s"version $v of $path dropped no rows — no quarantine output")
    }
  }

  /** Enforce the table's CHECK constraints on a write batch BEFORE
    * anything stages: one change-scale job over the batch's live rows
    * (tombstones exempt — a delete removes the row, the predicate has
    * nothing left to hold over). A violation aborts the whole commit
    * with nothing staged or visible — atomicity by construction, since
    * data only becomes real when a manifest references it.
    *
    * Scope contract: the check validates the INCOMING batch, which is
    * O(changes) — stricter than checking post-merge winners (a stale
    * row that would lose the merge still fails the batch), and the
    * fail-fast behavior a CDC pipeline wants: reject bad input at the
    * gate, not after it has raced a valid write.
    */
  private[sources] def enforceConstraints(m: TableManifest,
      updates: DataFrame): Unit = {
    val cs = m.props.collect {
      case (k, v) if k.startsWith("constraint.") =>
        k.stripPrefix("constraint.") -> v
    }.toSeq.sorted
    if (cs.isEmpty) return
    val live =
      if (updates.columns.contains("_deleted"))
        updates.filter(!coalesce(col("_deleted"), lit(false)))
      else updates
    val anyBad = live.filter(
      cs.map { case (_, s) => !coalesce(expr(s), lit(true)) }
        .reduce(_ || _)).count() // single pass over the batch when clean
    if (anyBad > 0) {
      val detail = cs.map { case (n, s) =>
        val b = live.filter(!coalesce(expr(s), lit(true))).count()
        s"$n ($s): $b"
      }.mkString("; ")
      throw new ConstraintViolation(
        s"write batch violates table constraints [$detail] — " +
          "commit aborted, nothing landed")
    }
  }

  /** RESTORE TABLE to `toVersion` as a NEW commit — Delta/Iceberg
    * rollback semantics: the tip moves forward to a version whose data
    * and DV lines are exactly the target snapshot's, BY REFERENCE (zero
    * data files copied or rewritten — immutability makes rollback a
    * metadata operation, the reason log-structured tables can undo a
    * bad batch on a 100 TB table in milliseconds). History is
    * preserved: the rolled-back versions remain time-travelable until
    * vacuum, and the restored version's files are in the live set of
    * the NEW tip, so retention keeps them even after the original
    * version's manifest is dropped.
    *
    * Transaction watermarks and table properties carry from the CURRENT
    * tip, not the target: restore rolls back DATA, not the idempotence
    * ledger — a restarted streaming writer must still skip its already-
    * delivered batches, or the rollback would double-apply them on
    * replay.
    *
    * Concurrency: restore is an intentional last-writer-wins overwrite
    * of every bucket (that is its semantic — roll the whole table
    * back), so on a lost CAS it re-reads the tip and retries rather
    * than classifying conflicts; concurrent writers' commits landed
    * before the restore are rolled back with everything else.
    */
  def restore(spark: SparkSession, path: String,
      toVersion: Int): CommitResult = {
    val vs0 = versions(spark, path)
    require(vs0.contains(toVersion),
      s"version $toVersion not in $vs0 (vacuumed or never committed)")
    val target = manifestEntries(spark, path, toVersion)
    commitManifest(spark, path, "RESTORE") { m =>
      TableManifest(target.data, target.dv, m.txn, m.props, target.stats)
    }
  }

  /** CHANGE DATA FEED between two committed versions, computed from the
    * MANIFEST DIFF — the incremental form of [[versionDiff]]'s
    * snapshot-join CDF. Immutable files + monotone DVs mean the only
    * rows that can have changed live in files the manifests disagree
    * on, so the scan cost is O(changed data), not O(table):
    *
    *  - OLD side (visible at `from`, gone at `to`): rows of files
    *    REMOVED from the manifest (bucket rewrites), plus rows of kept
    *    files at positions newly marked in `to`'s deletion vectors
    *    (DV mappings are re-pointed on every delete, so a changed
    *    mapping is exactly "this file has new deletes");
    *  - NEW side (visible at `to`, absent at `from`): rows of ADDED
    *    files, minus `to`'s DVs on them (a later batch may already
    *    have superseded an earlier batch's append).
    *
    * A full-outer join on the key classifies each changed key as
    * insert / update / delete; rows carried verbatim through a
    * compaction rewrite appear on both sides with the SAME sequence and
    * are filtered out by the seq-change predicate, so compaction
    * commits produce no spurious CDF rows. Tombstones are invisible on
    * both sides: a key whose old row was a tombstone reads as `insert`,
    * one whose new current is a tombstone reads as `delete` — the
    * user-facing semantics, matching [[versionDiff]].
    *
    * At 100 TB with trickle MOR writes this reads the appended files
    * and the DV'd shards — megabytes — where the snapshot-join form
    * reads two full table scans.
    */
  def changes(spark: SparkSession, path: String, fromVersion: Int,
      toVersion: Int, keyCols: Seq[String], seqCol: String,
      valueCols: Seq[String]): DataFrame = {
    val mA = manifestEntries(spark, path, fromVersion)
    val mB = manifestEntries(spark, path, toVersion)
    val aData = mA.data.toSet
    val bData = mB.data.toSet
    val removed = mA.data.filterNot(bData)
    val added = mB.data.filterNot(aData)
    val dvGrew = mA.data.filter(f => bData(f) && mB.dv.get(f) != mA.dv.get(f))
    def visible(df: DataFrame): DataFrame =
      if (df.columns.contains("_deleted"))
        df.filter(!coalesce(col("_deleted"), lit(false)))
      else df
    val oldSel = keyCols.map(col) ++
      valueCols.map(c => col(c).as(s"old_$c")) :+
      col(seqCol).as("old_sequence")
    val newSel = keyCols.map(col) ++
      valueCols.map(c => col(c).as(s"new_$c")) :+
      col(seqCol).as("new_sequence")
    val oldParts = Seq(
      if (removed.isEmpty) None
      else Some(toLogicalDf(
        loadWithDv(spark, path, removed, mA.dv, keepPos = true,
          widen = widenMap(mB)), mB)),
      if (dvGrew.isEmpty) None
      else {
        val visA = toLogicalDf(
          loadWithDv(spark, path, dvGrew, mA.dv, keepPos = true,
            widen = widenMap(mB)), mB)
        val delsB = readDvSidecars(spark, path,
            dvGrew.flatMap(mB.dv.get).distinct)
          .select(col("file_rel").as("_rel"), col("pos").as("_pos"))
        Some(visA.join(delsB, Seq("_rel", "_pos"), "left_semi"))
      }).flatten
    val oldSide = oldParts
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map(df => visible(df).select(oldSel: _*))
    val newSide =
      if (added.isEmpty) None
      else Some(visible(toLogicalDf(
        loadWithDv(spark, path, added, mB.dv,
          widen = widenMap(mB)), mB))
        .select(newSel: _*))
    require(oldSide.nonEmpty || newSide.nonEmpty,
      s"manifests v$fromVersion and v$toVersion of $path are identical — " +
        "no files changed, so the change feed is empty")
    // a missing side is an empty relation with the mirrored schema
    def mirror(df: DataFrame, fromPfx: String, toPfx: String,
        fromSeq: String, toSeq: String): DataFrame =
      df.select(keyCols.map(col) ++
        valueCols.map(c => col(s"$fromPfx$c").as(s"$toPfx$c")) :+
        col(fromSeq).as(toSeq): _*).filter(lit(false))
    val o = oldSide.getOrElse(
      mirror(newSide.get, "new_", "old_", "new_sequence", "old_sequence"))
    val n = newSide.getOrElse(
      mirror(oldSide.get, "old_", "new_", "old_sequence", "new_sequence"))
    o.join(n, keyCols, "full_outer")
      .filter(col("old_sequence").isNull || col("new_sequence").isNull ||
        col("old_sequence") =!= col("new_sequence"))
      .select(keyCols.map(col) ++
        Seq(when(col("old_sequence").isNull, "insert")
          .when(col("new_sequence").isNull, "delete")
          .otherwise("update").as("change_type")) ++
        valueCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))) ++
        Seq(col("old_sequence"), col("new_sequence")): _*)
  }

  /** Delta-style CDF LONG FORM of [[changes]]: one row per change
    * event with `_change_type` ∈ insert / delete / update_preimage /
    * update_postimage — an update emits BOTH the old row (preimage)
    * and the new row (postimage), the shape downstream auditing and
    * reversible-apply consumers need (Delta `readChangeFeed` emits
    * exactly these four types). The preimage is nearly free: the old
    * side is already present in [[changes]]' full-outer join; this
    * unpivots the wide row into events in the same change-scale pass.
    *
    * Apply and un-apply are exact inverses — v2 = v1 minus
    * (preimage ∪ delete) keys plus (postimage ∪ insert) rows, and
    * v1 = v2 minus (postimage ∪ insert) keys plus (preimage ∪ delete)
    * rows — spec-proven in both directions.
    */
  def changesCdf(spark: SparkSession, path: String, fromVersion: Int,
      toVersion: Int, keyCols: Seq[String], seqCol: String,
      valueCols: Seq[String]): DataFrame = {
    val wide = changes(spark, path, fromVersion, toVersion, keyCols,
      seqCol, valueCols)
    def ev(tpe: String, pfx: String) =
      struct((lit(tpe).as("_change_type") +:
        valueCols.map(c => col(s"$pfx$c").as(c))) :+
        col(s"${pfx}sequence").as("_commit_sequence"): _*)
    wide.select(keyCols.map(col) :+ explode(
      when(col("change_type") === "insert", array(ev("insert", "new_")))
        .when(col("change_type") === "delete", array(ev("delete", "old_")))
        .otherwise(array(ev("update_preimage", "old_"),
          ev("update_postimage", "new_")))).as("_e"): _*)
      .select((keyCols.map(col) :+ col("_e.*")): _*)
  }

  /** DESCRIBE HISTORY — the table's commit audit: every version with
    * the operation that produced it, read from the per-version
    * `meta\top` manifest line each commit path stamps. Metadata-scale
    * (reads manifests, never data); versions older than the vacuum
    * floor are gone, exactly like Delta's history after VACUUM.
    * Manifests from before this record existed read as UNKNOWN.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    versions(spark, path).map { v =>
      val lines = manifestLines(spark, path, v)
      val op = lines.find(_.startsWith("meta\top\t"))
        .map(_.split("\t", 3)(2)).getOrElse("UNKNOWN")
      val ts = lines.find(_.startsWith("meta\tts\t"))
        .map(_.split("\t")(2).toLong).getOrElse(-1L)
      (v, op, ts)
    }.toDF("version", "operation", "commit_ts")
  }

  /** Commit wall-clock of `version` (from its `meta ts` stamp). */
  private[sources] def commitTimeOf(spark: SparkSession, path: String,
      v: Int): Option[Long] =
    manifestLines(spark, path, v).collectFirst {
      case l if l.startsWith("meta\tts\t") => l.split("\t")(2).toLong
    }

  /** The version a `TIMESTAMP AS OF ts` read resolves to: the LAST
    * committed version whose stamp is at-or-before `ts` — Delta's
    * resolution rule, robust to non-monotone clocks.
    */
  def versionAtTimestamp(spark: SparkSession, path: String,
      ts: Long): Int = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val at = vs.filter(v => commitTimeOf(spark, path, v).exists(_ <= ts))
    require(at.nonEmpty,
      s"no version of $path committed at or before timestamp $ts")
    at.max
  }

  /** TIMESTAMP AS OF — time travel by wall-clock instead of version. */
  def readAsOfTimestamp(spark: SparkSession, path: String,
      ts: Long): DataFrame =
    read(spark, path, Some(versionAtTimestamp(spark, path, ts)))

  /** OPTIMIZE (bin-pack) — fold each fragmented bucket's files into
    * ONE, applying deletion vectors along the way. Trickle MOR writes
    * are O(changed rows) per commit precisely because they append
    * small files; this is the other half of that bargain — without
    * periodic compaction a year of trickle turns a 100 TB table into
    * millions of KB-files and every scan into an open()-storm. Buckets
    * already at one clean file carry over untouched (their rewrite
    * would be pure churn); the commit is the same OCC loop as any
    * write, so compaction can run concurrently with disjoint-bucket
    * ingest and rebase past it.
    */
  def optimizeSmallFiles(spark: SparkSession, path: String,
      targetFilesPerBucket: Int = 1): CommitResult = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val base = vs.last
    val m = manifestEntries(spark, path, base)
    val byBucket = m.data.groupBy(bucketOf)
    val touched = byBucket.collect {
      case (b, files)
        if files.size > targetFilesPerBucket ||
          files.exists(m.dv.contains) => b
    }.toSet
    if (touched.isEmpty) return CommitResult(base, 0)
    val files = m.data.filter(rel => touched.contains(bucketOf(rel)))
    // one shuffle task per bucket value ⇒ exactly one output file per
    // bucket — the point of the exercise
    val df = loadWithDv(spark, path, files, m.dv, widen = widenMap(m))
      .repartition(col("gbucket"))
    val (adopted, stats) = stageBuckets(spark, path, df)
    commitPending(spark, path,
      PendingCommit(base, touched,
        TableManifest(adopted, Map.empty, stats = stats).lines,
        adopted, op = "OPTIMIZE"))
  }

  /** REPLACE TABLE (AS SELECT) — swap the table's CONTENT in ONE
    * commit while PRESERVING its history: the new manifest references
    * only the newly adopted files (`op REPLACE`), every older version
    * stays time-travelable until vacuum, and table properties —
    * numBuckets, CHECK constraints, generated columns, column
    * mapping, tags — carry through [[commitPending]]'s assemble like
    * any other write. Content is resolved to the key-unique winner
    * per key (the table contract), constraints and generated columns
    * run exactly as on the upsert path, and the commit is the same
    * OCC loop (a concurrent disjoint-bucket writer CONFLICTS here by
    * construction: REPLACE touches every bucket, which is the honest
    * answer — replacing a table out from under a concurrent ingest is
    * a real conflict). Used by the SQL catalog's atomic RTAS.
    */
  def replaceSnapshot(spark: SparkSession, path: String,
      content: DataFrame, keyCols: Seq[String],
      seqCol: String): CommitResult = {
    val vs = versions(spark, path)
    require(vs.nonEmpty,
      s"no committed versions at $path — land the initial snapshot " +
        "with upsert (CREATE, not REPLACE)")
    val base = vs.last
    val m = manifestEntries(spark, path, base)
    val buckets = m.numBuckets(16)
    // computed once for both the constraint sweep and the staged write
    // (same rationale as prepare's batch persist)
    // only persist (and later release) when the caller has not (r16
    // ADVICE: unconditional unpersist drops a caller-owned cache)
    val wePersist =
      content.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (wePersist)
      content.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    enforceConstraints(m, content)
    val (contentE, expectMeta) = applyExpectations(spark, path, m, content)
    val contentP = toPhysicalDf(applyGenerated(m, contentE), m)
    val keyColsP = keyCols.map(toPhysicalName(m, _))
    val seqColP = toPhysicalName(m, seqCol)
    val withDel =
      if (contentP.columns.contains("_deleted")) contentP
        .withColumn("_deleted", coalesce(col("_deleted"), lit(false)))
      else contentP.withColumn("_deleted", lit(false))
    val w = Window.partitionBy(keyColsP.map(col): _*)
      .orderBy(col(seqColP).desc)
    val resolved0 = withDel
      .withColumn("gbucket",
        pmod(hash(keyColsP.map(col): _*), lit(buckets)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    // replaced content is NEW rows: all draw fresh ids (Delta's RTAS
    // rule — identity does not survive a whole-table content swap)
    val resolved =
      if (isTracked(m)) assignFreshRowIds(resolved0, keyColsP, rowIdHwm(m))
      else resolved0
    val (adopted, stats) = stageBuckets(spark, path,
      resolved.repartition(col("gbucket")))
    val touched = (m.data.map(bucketOf) ++ adopted.map(bucketOf)).toSet
    commitPending(spark, path,
      PendingCommit(base, touched,
        TableManifest(adopted, Map.empty, stats = stats).lines ++
          (if (isTracked(m)) Seq("prop\trowid.hwm\t" +
            adoptedMaxRowId(spark, path, adopted, rowIdHwm(m)))
          else Seq.empty),
        adopted, op = "REPLACE", metaExtra = expectMeta,
        dropProps = if (isTracked(m)) Seq("rowid.hwm") else Nil))
    } finally if (wePersist) content.unpersist(blocking = false)
  }

  /** OPTIMIZE CLUSTER BY — rewrite the table's buckets RANGE-CLUSTERED
    * on `column`: `repartitionByRange(gbucket, column)` makes each
    * output file cover a contiguous column slice within its bucket, so
    * the per-file stats become narrow and disjoint and [[readRange]] /
    * [[readWhere]] prune INSIDE buckets — the liquid-clustering role:
    * trickle ingest loses arrival correlation at compaction, and this
    * is the maintenance pass that restores (or creates) skipping power
    * for the serving predicate. DVs are applied, tombstones carried,
    * and the commit is the same OCC loop as every write.
    */
  def optimizeCluster(spark: SparkSession, path: String, column: String,
      slicesPerBucket: Int = 4): CommitResult = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val base = vs.last
    val m = manifestEntries(spark, path, base)
    val columnP = toPhysicalName(m, column)
    val nb = m.numBuckets(16)
    val touched = m.data.map(bucketOf).toSet
    val df = loadWithDv(spark, path, m.data, m.dv, widen = widenMap(m))
      .repartitionByRange(nb * slicesPerBucket,
        col("gbucket"), col(columnP))
    val (adopted, stats) = stageBuckets(spark, path, df)
    commitPending(spark, path, PendingCommit(base, touched,
      TableManifest(adopted, Map.empty, stats = stats).lines,
      adopted, op = "OPTIMIZE"))
  }

}

package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Log-structured versioned table — the engine-side analogue of the
  * Delta protocol the reference's tables live on (every reference table
  * is `USING DELTA` with history/time-travel supplied by the platform;
  * ref /root/reference/docs/ARCHITECTURE.md, src/setup/
  * unity_catalog_setup.py registers Delta locations):
  *
  *  - data files are IMMUTABLE; a merge writes new files for the hash
  *    buckets it touches and never modifies or deletes existing ones;
  *  - each commit is one manifest under `_log/` listing every live file
  *    of that version; writing the manifest (create temp + atomic
  *    rename) IS the commit point — a crash at any earlier moment
  *    leaves only unreferenced orphan files and the previous version
  *    fully intact (no swap window at all, unlike a rewrite-in-place
  *    layout);
  *  - reads resolve a manifest (latest or an explicit version — time
  *    travel) and scan exactly the files it lists;
  *  - [[vacuum]] deletes files no manifest ≥ the retention floor
  *    references, and drops the older manifests.
  *
  * Scale shape: a merge reads only touched buckets' live files (the
  * manifest makes bucket→file resolution O(#files) metadata, no
  * directory listing), writes only touched buckets, and commits O(1)
  * files. The manifest is a full snapshot (O(#files) lines), so readers
  * never replay a log chain. Merge semantics ([[upsert]]):
  * last-writer-wins by sequence, DELETE tombstones retained so
  * late-arriving older changes cannot resurrect a deleted key; readers
  * filter tombstones.
  *
  * Both streaming CDC flows commit here: the SCD1 flow
  * ([[graft.streaming.EventStreams.streamingScd1]]) through [[upsert]],
  * the SCD2 history ([[graft.streaming.Scd2Apply]]) through
  * [[rewriteBuckets]]; each vacuums to its newest version after every
  * commit.
  */
object VersionedLake
    extends LakeCommitCore with LakeSchemaOps with LakeRowTracking
    with LakeRefsChanges with LakeMaintenance with LakeGatesCore
    with LakeGatesOps {

  // ---- compat aliases: model types moved to LakeModel in the r16
  // split; the VersionedLake.X paths remain the public surface -------------
  type ConcurrentWriteConflict = LakeModel.ConcurrentWriteConflict
  type ConstraintViolation = LakeModel.ConstraintViolation
  type CommitResult = LakeModel.CommitResult
  val CommitResult: LakeModel.CommitResult.type = LakeModel.CommitResult
  type PendingCommit = LakeModel.PendingCommit
  val PendingCommit: LakeModel.PendingCommit.type = LakeModel.PendingCommit
  type TableManifest = LakeModel.TableManifest
  val TableManifest: LakeModel.TableManifest.type = LakeModel.TableManifest

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_cluster_by" -> ((s, d) =>
      clusterBy(s, d).orderBy(col("o_orderkey"))),
    "lake_cluster_by_auto" -> ((s, d) =>
      clusterByAutoGate(s, d).orderBy(col("o_orderkey"))),
    "lake_zorder_optimize" -> ((s, d) =>
      zorderOptimize(s, d).orderBy(col("o_orderkey"))),
    "lake_tags" -> ((s, d) =>
      tagsGate(s, d).orderBy(col("key_id"))),
    "lake_vacuum_dry_run" -> ((s, d) =>
      vacuumDryRun(s, d).orderBy(col("key_id"))),
    "lake_generated_columns" -> ((s, d) =>
      generatedColumns(s, d).orderBy(col("key_id"))),
    "lake_time_travel_ts" -> ((s, d) =>
      timeTravelTs(s, d).orderBy(col("key_id"))),
    "lake_column_rename" -> ((s, d) =>
      columnRename(s, d).orderBy(col("key_id"))),
    "lake_predicate_skip" -> ((s, d) =>
      predicateSkip(s, d).orderBy(col("o_orderkey"))),
    "lake_range_prune" -> ((s, d) =>
      rangePrune(s, d).orderBy(col("o_orderkey"))),
    "lake_manifest_delta" -> ((s, d) =>
      manifestDelta(s, d).orderBy(col("key_id"))),
    "lake_optimize_binpack" -> ((s, d) =>
      optimizeBinpack(s, d).orderBy(col("key_id"))),
    "lake_point_lookup" -> ((s, d) =>
      pointLookup(s, d).orderBy(col("key_id"))),
    "lake_history" -> ((s, d) =>
      describeHistory(s, d).orderBy(col("version"))),
    "lake_shallow_clone" -> ((s, d) =>
      shallowClone(s, d).orderBy(col("key_id"))),
    "lake_write_constraints" -> ((s, d) =>
      writeConstraints(s, d).orderBy(col("key_id"))),
    "stream_lake_source" -> ((s, d) =>
      streamSourceGate(s, d).orderBy(col("key_id"))),
    "lake_restore" -> ((s, d) =>
      restoreRollback(s, d).orderBy(col("key_id"))),
    "lake_incremental_cdf" -> ((s, d) =>
      incrementalCdf(s, d).orderBy(col("key_id"))),
    "lake_cdf_preimage" -> ((s, d) =>
      cdfPreimage(s, d).orderBy(col("key_id"), col("_change_type"))),
    "lake_mor_upsert" -> ((s, d) =>
      morUpsert(s, d).orderBy(col("key_id"))),
    "lake_row_tracking" -> ((s, d) =>
      rowTracking(s, d).orderBy(col("key_id"))),
    "lake_deletion_vectors" -> ((s, d) =>
      deletionVectors(s, d).orderBy(col("key_id"))),
    "lake_concurrent_writers" -> ((s, d) =>
      concurrentWriters(s, d).orderBy(col("key_id"))),
    "lake_vacuum_lifecycle" -> ((s, d) =>
      vacuumLifecycle(s, d).orderBy(col("version"))),
    "lake_time_travel" -> ((s, d) =>
      timeTravel(s, d).orderBy(col("key_id"))),
    "lake_schema_evolution" -> ((s, d) =>
      schemaEvolution(s, d).orderBy(col("key_id"))),
    "lake_column_drop" -> ((s, d) =>
      columnDrop(s, d).orderBy(col("key_id"))),
    "lake_type_widening" -> ((s, d) =>
      typeWidening(s, d).orderBy(col("key_id"))),
    "lake_version_diff" -> ((s, d) =>
      versionDiff(s, d).orderBy(col("key_id"))))

  def oracles: Map[String, String] = Map(
    "lake_cluster_by" -> clusterBySql,
    "lake_cluster_by_auto" -> clusterByAutoSql,
    "lake_zorder_optimize" -> zorderOptimizeSql,
    "lake_tags" -> tagsGateSql,
    "lake_vacuum_dry_run" -> vacuumDryRunSql,
    "lake_generated_columns" -> generatedColumnsSql,
    "lake_time_travel_ts" -> timeTravelTsSql,
    "lake_column_rename" -> columnRenameSql,
    "lake_predicate_skip" -> predicateSkipSql,
    "lake_range_prune" -> rangePruneSql,
    "lake_manifest_delta" -> manifestDeltaSql,
    "lake_optimize_binpack" -> optimizeBinpackSql,
    "lake_point_lookup" -> pointLookupSql,
    "lake_history" -> describeHistorySql,
    "lake_shallow_clone" -> shallowCloneSql,
    "lake_write_constraints" -> writeConstraintsSql,
    "stream_lake_source" -> streamSourceGateSql,
    "lake_restore" -> restoreRollbackSql,
    "lake_incremental_cdf" -> incrementalCdfSql,
    "lake_cdf_preimage" -> cdfPreimageSql,
    "lake_mor_upsert" -> morUpsertSql,
    "lake_row_tracking" -> rowTrackingSql,
    "lake_deletion_vectors" -> deletionVectorsSql,
    "lake_concurrent_writers" -> concurrentWritersSql,
    "lake_vacuum_lifecycle" -> vacuumLifecycleSql,
    "lake_time_travel" -> timeTravelSql,
    "lake_schema_evolution" -> schemaEvolutionSql,
    "lake_column_drop" -> columnDropSql,
    "lake_type_widening" -> typeWideningSql,
    "lake_version_diff" -> versionDiffSql)
}

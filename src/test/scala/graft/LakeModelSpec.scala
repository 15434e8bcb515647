package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedLake

/** MODEL-BASED randomized hardening of the versioned lake: seeded
  * random op sequences over every write surface (COW upsert, MOR
  * dvUpsert, DV position delete, restore-by-reference) checked after
  * EVERY commit against an in-memory reference model — tip content,
  * a randomly chosen retained historical version, and version-chain
  * shape. The model encodes the documented merge contract exactly:
  * last-writer-wins on seq with update-wins-tie (accepted iff
  * seq ≥ the key's current row's), `_deleted` tombstones RETAINED
  * with their sequence (anti-resurrection), DV position deletes
  * remove the row without a tombstone (any later write re-inserts),
  * restore replaces content with the target version's by reference.
  * Batches may change one key twice at distinct sequences, so both
  * write paths' within-batch resolution is checked too; the 4-bucket
  * seed spreads a batch over more buckets than it has keys in some.
  */
class LakeModelSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private case class Entry(value: Double, seq: Long, deleted: Boolean)

  test("random op sequences match the reference model at every version") {
    for ((seed, buckets) <- Seq((11, 2), (23, 2), (37, 4))) {
      val rnd = new scala.util.Random(seed)
      val path = graft.sources.Scratch.dir(s"vlake_model_$seed")
      var state = Map.empty[Long, Entry]           // tombstones retained
      var snaps = Map.empty[Int, Map[Long, Entry]] // per committed version
      var seqCtr = 0L
      def visible(m: Map[Long, Entry]) = m.filter(!_._2.deleted)

      def batch(): Seq[(Long, Double, Long, Boolean)] = {
        val keys = rnd.shuffle((0L until 12L).toList).take(1 + rnd.nextInt(5))
        val rows = keys.map { k =>
          // occasional non-advancing sequence: exercises update-wins-tie
          seqCtr += (if (rnd.nextInt(4) == 0) 0 else 1)
          (k, rnd.nextInt(10000) / 100.0, seqCtr, rnd.nextInt(5) == 0)
        }
        // every other batch changes one key again at a fresh sequence,
        // placed anywhere in the batch: the higher sequence must win
        // whichever row comes first
        if (rnd.nextBoolean()) rows
        else {
          seqCtr += 1
          val again = (rows(rnd.nextInt(rows.size))._1,
            rnd.nextInt(10000) / 100.0, seqCtr, rnd.nextInt(5) == 0)
          rnd.shuffle(again :: rows)
        }
      }
      def applyModel(b: Seq[(Long, Double, Long, Boolean)]): Unit =
        b.foreach { case (k, v, s, d) =>
          if (state.get(k).forall(s >= _.seq)) state += k -> Entry(v, s, d)
        }
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v", "seq").collect()
          .map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
      def check(): Unit = {
        val vs = VersionedLake.versions(spark, path)
        assert(vs == (1 to vs.size), s"chain not contiguous: $vs")
        val want = visible(state).map { case (k, e) => k -> (e.value, e.seq) }
        val got = asMap(VersionedLake.read(spark, path))
        assert(got == want, s"tip mismatch (seed $seed): got $got want $want")
        val candidates = vs.filter(snaps.contains)
        val v = candidates(rnd.nextInt(candidates.size))
        val hWant = visible(snaps(v)).map { case (k, e) => k -> (e.value, e.seq) }
        val hGot = asMap(VersionedLake.read(spark, path, Some(v)))
        assert(hGot == hWant,
          s"time travel to v$v mismatch (seed $seed): got $hGot want $hWant")
      }

      val b0 = batch().map(t => (t._1, t._2, t._3, false))
      VersionedLake.upsert(spark, path,
        b0.toDF("k", "v", "seq", "_deleted"), Seq("k"), "seq",
        numBuckets = buckets)
      applyModel(b0)
      snaps += 1 -> state
      check()

      (1 to 10).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 | 1 =>
            val b = batch()
            VersionedLake.upsert(spark, path,
              b.toDF("k", "v", "seq", "_deleted"), Seq("k"), "seq",
              numBuckets = buckets)
            applyModel(b)
          case 2 | 3 =>
            val b = batch()
            VersionedLake.dvUpsert(spark, path,
              b.toDF("k", "v", "seq", "_deleted"), Seq("k"), "seq",
              numBuckets = buckets)
            applyModel(b)
          case 4 =>
            val vis = visible(state).keys.toSeq.sorted
            if (vis.nonEmpty) {
              val doomed = rnd.shuffle(vis).take(1 + rnd.nextInt(3))
              VersionedLake.dvDelete(spark, path, doomed.toDF("k"), Seq("k"))
              state --= doomed // positional delete: no tombstone survives
            }
          case 5 =>
            val vs = VersionedLake.versions(spark, path).filter(snaps.contains)
            val v = vs(rnd.nextInt(vs.size))
            VersionedLake.restore(spark, path, v)
            state = snaps(v)
        }
        snaps += VersionedLake.versions(spark, path).last -> state
        check()
      }
      // the ledger recorded one operation per commit
      assert(VersionedLake.history(spark, path).count() ==
        VersionedLake.versions(spark, path).size)
    }
  }
}

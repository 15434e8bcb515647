package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-regime stress bench (r14 verdict task 1): the driver's fixed
  * scale factors prove CORRECTNESS; this main measures the GROWTH
  * CURVES the 100 TB design claims predict, on synthetic sf1-class
  * slices of the scale-sensitive tables. Each family runs the SAME
  * operator code the gates run, at 3-5 geometric sizes (graph/ANN
  * pushed to 32k-64k and prefix-dedup to 80k in r16, plus a streaming
  * SCD2 family), and reports per-size wall seconds, the growth ratio
  * over the measured size span, the documented complexity claim,
  * whether the measurement sits inside the claim's band, and any
  * family-specific `checks` (incremental-vs-full growth,
  * time-tracks-pairs) that fold into the within_band verdict. Honesty floors re-measure at the widened
  * sizes (the graph family's iid recall floor is ASSERTED, at
  * configurations the adaptive plane rule widens beyond the gate
  * regime — the first empirical exercise of [[graft.operators
  * .GraphAnn.buildPlanesFor]] above 6 planes).
  *
  * Synthetic inputs are DETERMINISTIC (fnv1a64 of ids — no RNG, no
  * clock) and LANDED TO PARQUET before timing, so every timed region
  * reads files exactly like production and the synthesis cost never
  * pollutes a curve. Bands are deliberately loose (fixed overheads
  * make small-N points sticky) — the point is separating "≈ linear"
  * from "≈ quadratic" and "≈ flat" from "grows with the table", not
  * ±10% precision.
  *
  * Output: one JSON line (stdout) + BENCH_SCALE_LOCAL.json (the
  * committed per-round artifact name is set via SPARK_GRAFT_SCALE_OUT,
  * e.g. BENCH_SCALE_r15.json).
  */
object ScaleBench {

  private def fnvCol(tag: String, parts: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column =
    call_function("fnv1a64",
      concat((lit(tag) +: parts.flatMap(p =>
        Seq(lit(":"), p.cast("string")))): _*))

  /** iid float vectors: value(id, d) = fnv(id, d) folded into
    * [-1, 1] — the navigability worst case for LSH blocking.
    */
  private[graft] def synthEmbeddings(spark: SparkSession, n: Long,
      dim: Int = 64): DataFrame =
    spark.range(1, n + 1).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        ((pmod(fnvCol("emb", col("id"), d), lit(2001L)) - lit(1000L))
          .cast("double") / lit(1000.0)).cast("float")).as("embedding"))

  /** Documents with PLANTED near-duplicates: every doc_id ≡ 4 (mod 5)
    * repeats doc_id−4's token stream with exactly one token replaced
    * (jaccard ≈ (toks−1)/(toks+1) — above every dedup threshold), so
    * blocked-dedup recall against the planted truth is measurable at
    * any size. Token t of the BASE doc b is `w<fnv(b,t) mod vocab>`.
    */
  private[graft] def synthDocs(spark: SparkSession, n: Long, toks: Int = 40,
      vocab: Int = 5000): DataFrame = {
    val base = when(pmod(col("id"), lit(5L)) === 4L, col("id") - 4L)
      .otherwise(col("id"))
    spark.range(1, n + 1).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(toks - 1)), t =>
        when(pmod(col("id"), lit(5L)) === 4L &&
            t === pmod(col("id"), lit(toks.toLong)),
          concat(lit("zz"), col("id").cast("string")))
        .otherwise(concat(lit("w"),
          pmod(fnvCol("tok", base, t), lit(vocab.toLong))
            .cast("string")))
      )).as("text"))
  }

  private def land(df: DataFrame, path: String): String = {
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    path
  }

  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private final case class Point(size: Long, sec: Double,
      extra: Map[String, Double] = Map.empty)

  private final case class Family(name: String, claim: String,
      band: Double, points: Seq[Point],
      checks: Map[String, Boolean] = Map.empty) {
    // measured growth over the size span vs the band: `band` is the
    // max allowed time-ratio across the full span (a linear claim over
    // an S× size span gets band S×1.8; claim "flat" gets ~2). `checks`
    // are named family-specific verdicts (e.g. incremental-vs-full
    // growth) — ALL must hold for within_band, so a failed comparison
    // is machine-visible in the artifact, not just an stderr note.
    def ratio: Double = points.last.sec / math.max(1e-9, points.head.sec)
    def within: Boolean = ratio <= band && checks.values.forall(identity)
  }

  /** Band for a "≈ linear" claim over the ACTUAL measured size span
    * (sizes grew beyond the original 4× span in r16, so a fixed 7.2
    * band would mis-grade a 16× span).
    */
  private def linearBand(sizes: Seq[Long], slack: Double = 1.8): Double =
    sizes.last.toDouble / sizes.head * slack

  def main(args: Array[String]): Unit = {
    // 1-min loadavg BEFORE any Spark work: the idle-protocol number.
    // The end-of-run `load` sample inevitably reads the run's OWN
    // draining 32-thread work (r15's 9.69 was read as a protocol
    // violation when it was mostly self-load); both are stamped so
    // the artifact distinguishes launch contention from self-load.
    val launchLoad = try Files.readString(Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble catch { case _: Throwable => -1.0 }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    graft.sources.Scratch.sweep()

    def release(): Unit = {
      spark.catalog.clearCache()
      Caching.releaseAll(spark, blocking = true)
    }

    val sb = Seq.newBuilder[Family]
    // Scratch.dir mints a fresh unique dir per call — landed synthetic
    // tables are shared across families through this map
    val landed = scala.collection.mutable.Map.empty[String, String]
    def embAt(n: Long): DataFrame = spark.read.parquet(
      landed.getOrElseUpdate(s"emb_$n",
        land(synthEmbeddings(spark, n),
          graft.sources.Scratch.dir(s"sc_emb_$n"))))
    // local-iteration filter: GRAFT_SCALE_FAMILIES=graph_build_search
    // runs one family; GRAFT_SCALE_GRAPH_SIZES=32000 probes an extra
    // config point. Unset (the committed artifact) = full run.
    val only = sys.env.get("GRAFT_SCALE_FAMILIES")
      .map(_.split(",").map(_.trim).toSet)
    def want(name: String): Boolean = only.forall(_.contains(name))

    // -- 1. blocked graph build + beam search (claim: ≈ linear) -------------
    // Also the first run of the ADAPTIVE plane widening (9/10 planes vs
    // the gates' pinned 6) — the iid recall floor is asserted at every
    // size, so a widened config that stopped navigating aborts the run.
    if (want("graph_build_search")) {
      val sizes = sys.env.get("GRAFT_SCALE_GRAPH_SIZES")
        .map(_.split(",").map(_.trim.toLong).toSeq)
        .getOrElse(Seq(4000L, 8000L, 16000L, 32000L, 64000L))
      val pts = sizes.map { n =>
        val emb = embAt(n)
        val (sec, out) = timed {
          operators.GraphAnn.graphTopK(emb).localCheckpoint(true)
        }
        // recall truth OUTSIDE the timed region (the gate's honesty
        // split): exact brute-force over the same probes
        val truth = operators.Similarity.bruteForceTopK(emb, 5)
          .select(col("probe_id"), col("neighbor_id"))
        val hits = out.select(col("probe_id"), col("neighbor_id"))
          .intersect(truth).count()
        val total = truth.count()
        val recall = if (total == 0) 1.0 else hits.toDouble / total
        val planes = operators.GraphAnn.buildPlanesFor(n).toDouble
        System.err.println(
          f"[scale] graph n=$n sec=$sec%.2f planes=${planes.toInt} " +
            f"recall=$recall%.3f")
        require(recall >= operators.GraphAnn.RecallFloorIid,
          f"graph iid recall $recall%.3f under floor at n=$n " +
            f"(planes=${planes.toInt})")
        release()
        Point(n, sec, Map("recall" -> recall, "planes" -> planes))
      }
      sb += Family("graph_build_search",
        "linear in corpus (blocked build, probe-bounded search)",
        band = linearBand(sizes), points = pts)
    }

    // -- 1b. graph search on the CLUSTERED regime (the regime neighbor
    // graphs exist for; gate floor 0.9) — the floor must survive the
    // widened blocking configs, not just the iid worst case
    // Two clustered growth models, measured separately (the
    // prefix_dedup dual-regime discipline):
    //  - graph_clustered_search: center count grows with the corpus
    //    (~250 vectors per cluster, the gate fixture's occupancy) —
    //    "a corpus grows by adding content modes". The 0.9 floor must
    //    hold here.
    //  - graph_neardup_search: 16 centers FIXED while the corpus
    //    grows — per-cluster occupancy explodes to thousands of
    //    near-duplicates, the known graph-ANN pathology (near-tie
    //    cosine landscape starves beam navigation; hnswlib documents
    //    the same). The engine's answer to that regime is upstream:
    //    the dedup ladder (dedup_embedding / emb_semdedup) collapses
    //    near-dup clusters before indexing. This family pins the
    //    measured boundary: the build must stay skew-bounded (the
    //    dstCapFor guard — r16 measured 96s uncapped vs 31s iid at
    //    64k) and recall must hold the iid SURVIVAL floor (0.4), not
    //    the structure floor (0.9).
    if (want("graph_clustered_search")) {
      val cSizes = Seq(4000L, 16000L, 64000L)
      val pts = cSizes.map { n =>
        val centers = math.max(16, (n / 250L).toInt)
        val fx = operators.Similarity.clusteredFixture(embAt(n), centers)
          .localCheckpoint(true)
        val (sec, out) = timed {
          operators.GraphAnn.graphTopK(fx).localCheckpoint(true)
        }
        val truth = operators.Similarity.bruteForceTopK(fx, 5)
          .select(col("probe_id"), col("neighbor_id"))
        val hits = out.select(col("probe_id"), col("neighbor_id"))
          .intersect(truth).count()
        val recall = hits.toDouble / math.max(1L, truth.count())
        System.err.println(f"[scale] graph_clustered n=$n " +
          f"centers=$centers sec=$sec%.2f recall=$recall%.3f")
        require(recall >= operators.GraphAnn.RecallFloorClustered,
          f"clustered recall $recall%.3f under floor at n=$n")
        release()
        Point(n, sec, Map("recall" -> recall,
          "centers" -> centers.toDouble))
      }
      sb += Family("graph_clustered_search",
        "linear in corpus (centers grow with n, ~250/cluster); " +
          "clustered-regime recall floor (0.9) holds under the " +
          "widened blocking",
        band = linearBand(cSizes), points = pts)
    }
    if (want("graph_neardup_search")) {
      val nSizes = Seq(4000L, 16000L, 64000L)
      val pts = nSizes.map { n =>
        val fx = operators.Similarity.clusteredFixture(embAt(n), 16)
          .localCheckpoint(true)
        val (sec, out) = timed {
          operators.GraphAnn.graphTopK(fx).localCheckpoint(true)
        }
        val truth = operators.Similarity.bruteForceTopK(fx, 5)
          .select(col("probe_id"), col("neighbor_id"))
        val hits = out.select(col("probe_id"), col("neighbor_id"))
          .intersect(truth).count()
        val recall = hits.toDouble / math.max(1L, truth.count())
        System.err.println(f"[scale] graph_neardup n=$n " +
          f"sec=$sec%.2f recall=$recall%.3f")
        require(recall >= operators.GraphAnn.RecallFloorIid,
          f"near-dup recall $recall%.3f under survival floor at n=$n")
        release()
        Point(n, sec, Map("recall" -> recall))
      }
      sb += Family("graph_neardup_search",
        "boundary regime: 16 fixed centers, occupancy explodes — " +
          "build stays skew-bounded (dst cap), recall holds the 0.4 " +
          "survival floor; production answer is upstream semdedup",
        band = linearBand(nSizes), points = pts)
    }

    // -- 2. incremental connected components (claim: far sublinear) ---------
    // Fixed 2000-doc batch (ids ≡ 0 mod 5 by construction) over a
    // growing old corpus whose stored labels pre-warm untimed (the
    // production stored-artifact shape). The full recompute runs at
    // the same sizes as the comparison baseline: the incremental step
    // must grow SLOWER than the full build.
    if (want("incremental_cc")) {
      val olds = Seq(10000L, 20000L, 40000L)
      val batch = 2000L
      var fullSecs = List.empty[Double]
      val pts = olds.map { nOld =>
        // old ids ≢ 0 (mod 5): 5i+1..5i+4 patterns; batch ids ≡ 0
        val oldDocs = synthDocs(spark, nOld * 5 / 4)
          .filter(pmod(col("doc_id"), lit(5L)) =!= 0L).limit(nOld.toInt)
        val batchDocs = synthDocs(spark, batch * 5)
          .filter(pmod(col("doc_id"), lit(5L)) === 0L)
          .limit(batch.toInt)
        val p = land(oldDocs.unionByName(batchDocs),
          graft.sources.Scratch.dir(s"sc_ccdocs_$nOld"))
        val docs = spark.read.parquet(p)
        val key = s"scale_cc_$nOld"
        // pre-warm the stored old-label artifact, untimed
        operators.Clusters.incrementalClusters(docs, Some(key)).count()
        release()
        val (sec, _) = timed {
          operators.Clusters.incrementalClusters(docs, Some(key)).count()
        }
        release()
        val (fullSec, _) = timed {
          operators.Clusters.connectedComponents(
            operators.PrefixJoin.prefixFilterPairs(docs)
              .select(col("doc_a"), col("doc_b")),
            "doc_a", "doc_b", docs.select(col("doc_id")), "doc_id")
            .count()
        }
        fullSecs ::= fullSec
        System.err.println(f"[scale] incr_cc old=$nOld " +
          f"incr=$sec%.2f full=$fullSec%.2f")
        release()
        Point(nOld, sec, Map("full_recompute_sec" -> fullSec))
      }
      // the incr-vs-full comparison is part of the VERDICT, not just a
      // stderr note (r15 advice): the incremental step's growth across
      // the span must not exceed the full rebuild's growth. Growth, not
      // per-point time — at small sizes fixed overheads let a single
      // incremental point read above its full rebuild (r15 measured
      // exactly that at 20k) without the claim being wrong.
      val incrSpan = pts.last.sec / math.max(1e-9, pts.head.sec)
      val fullSpan = pts.last.extra("full_recompute_sec") /
        math.max(1e-9, pts.head.extra("full_recompute_sec"))
      sb += Family("incremental_cc",
        "O(batch + affected) pairing atop one corpus gram scan; " +
          "grows slower than the full recompute",
        band = 4.0, points = pts,
        checks = Map("incr_grows_slower_than_full" ->
          (incrSpan <= fullSpan)))
    }

    // -- 3/4. blocked text dedup (claims: ≈ linear, never all-pairs) --------
    if (want("minhash_dedup") || want("prefix_dedup")) {
      // 80k added in r16 to adjudicate prefix_dedup's 1.84 span at 4×:
      // candidate pairs grow with the corpus, so part of the time
      // growth is output size — the explicit check below separates the
      // two (time growth must not outrun pair growth by more than the
      // linear slack)
      val sizes = Seq(10000L, 20000L, 40000L, 80000L)
      def docsAt(n: Long): DataFrame = spark.read.parquet(
        landed.getOrElseUpdate(s"docs_$n", land(synthDocs(spark, n),
          graft.sources.Scratch.dir(s"sc_docs_$n"))))
      val planted = (n: Long) => (n / 5).toDouble // docs ≡ 4 (mod 5)
      val mh = sizes.map { n =>
        val docs = docsAt(n)
        val (sec, pairs) = timed {
          operators.Dedup.minhashLsh(docs).localCheckpoint(true)
        }
        // recall vs the planted pairs (base, base+4)
        val found = pairs.filter(
          (col("doc_b") - col("doc_a") === 4L &&
            pmod(col("doc_b"), lit(5L)) === 4L) ||
          (col("doc_a") - col("doc_b") === 4L &&
            pmod(col("doc_a"), lit(5L)) === 4L)).count()
        val recall = found / planted(n)
        System.err.println(
          f"[scale] minhash n=$n sec=$sec%.2f recall=$recall%.3f")
        require(recall >= 0.95,
          f"minhash planted recall $recall%.3f under 0.95 at n=$n")
        release()
        Point(n, sec, Map("planted_recall" -> recall))
      }
      if (want("minhash_dedup"))
        sb += Family("minhash_dedup", "linear in corpus (banded LSH)",
          band = linearBand(sizes), points = mh)
      val pf = sizes.map { n =>
        val docs = docsAt(n)
        val (sec, cnt) = timed {
          operators.PrefixJoin.prefixFilterPairs(docs).count()
        }
        System.err.println(f"[scale] prefix n=$n sec=$sec%.2f pairs=$cnt")
        release()
        Point(n, sec, Map("pairs" -> cnt.toDouble))
      }
      if (want("prefix_dedup")) {
        // r16 adjudication of the r15 1.84-span question: the fixed
        // 5000-token UNIFORM vocab makes every token's df grow ∝ n, so
        // the AllPairs candidate bound Σ df_prefix² is QUADRATIC here
        // by arithmetic (measured 4.05× time per 2× docs at 40k→80k) —
        // superlinear candidate generation in that regime, NOT output
        // size. That regime is measured honestly below
        // (prefix_dedup_fixed_vocab); the LINEAR claim is for real
        // text, where vocabulary grows with the corpus (Heaps' law)
        // and rare-token df stays bounded — measured here on a
        // vocab ∝ n corpus (df ≈ 80 at every size).
        def heapsAt(n: Long): DataFrame = spark.read.parquet(
          landed.getOrElseUpdate(s"docsh_$n",
            land(synthDocs(spark, n, vocab = (n / 2).toInt),
              graft.sources.Scratch.dir(s"sc_docsh_$n"))))
        val pfh = sizes.map { n =>
          val docs = heapsAt(n)
          val (sec, cnt) = timed {
            operators.PrefixJoin.prefixFilterPairs(docs).count()
          }
          System.err.println(
            f"[scale] prefix_heaps n=$n sec=$sec%.2f pairs=$cnt")
          release()
          Point(n, sec, Map("pairs" -> cnt.toDouble))
        }
        // candidate PAIRS grow with the corpus by construction
        // (planted dupes ∝ n), so time may grow with them — but time
        // growing FASTER than pairs × slack would be superlinear
        // candidate generation, which Heaps-law df bounds forbid
        val timeSpan = pfh.last.sec / math.max(1e-9, pfh.head.sec)
        val pairSpan = pfh.last.extra("pairs") /
          math.max(1.0, pfh.head.extra("pairs"))
        sb += Family("prefix_dedup",
          "linear in corpus under Heaps-law vocabulary growth " +
            "(rare-token df bounded — the real-text regime); " +
            "Σ df_prefix² (AllPairs bound) in general",
          band = linearBand(sizes), points = pfh,
          checks = Map("time_tracks_pairs" ->
            (timeSpan <= pairSpan * 1.8)))
        // the adversarial regime, measured and named: uniform fixed
        // vocab ⇒ df ∝ n ⇒ Σ df² ∝ n² — the documented boundary where
        // the dedup ladder hands off to banded LSH (minhash_dedup
        // above stays linear on exactly this corpus). Band = the
        // quadratic envelope; a measurement ABOVE it would mean worse
        // than the AllPairs bound (a real defect), below-linear would
        // mean the fixture stopped stressing df.
        val quadBand = math.pow(sizes.last.toDouble / sizes.head, 2) * 1.8
        sb += Family("prefix_dedup_fixed_vocab",
          "quadratic in corpus when vocabulary is FIXED and uniform " +
            "(df ∝ n ⇒ AllPairs candidate bound Σ df_prefix² ∝ n²; " +
            "complete-candidate generation cannot beat it — the " +
            "regime boundary where dedup hands off to minhash LSH)",
          band = quadBand, points = pf)
      }
    }

    // -- 5. IVF routing (claim: ≈ linear build, probe-bounded scoring) ------
    if (want("ivf_topk")) {
      val iSizes = Seq(4000L, 8000L, 16000L, 32000L)
      val pts = iSizes.map { n =>
        val emb = embAt(n)
        val (sec, out) = timed {
          operators.Ivf.ivfTopK(emb).localCheckpoint(true)
        }
        val truth = operators.Similarity.bruteForceTopK(emb, 5)
          .select(col("probe_id"), col("neighbor_id"))
        val hits = out.select(col("probe_id"), col("neighbor_id"))
          .intersect(truth).count()
        val recall = hits.toDouble / math.max(1L, truth.count())
        System.err.println(
          f"[scale] ivf n=$n sec=$sec%.2f recall=$recall%.3f")
        release()
        Point(n, sec, Map("recall" -> recall))
      }
      sb += Family("ivf_topk",
        "linear in corpus (k-means assign + nprobe/nlist scoring)",
        band = linearBand(iSizes), points = pts)
    }

    // -- 5b. binary-quantized rerank (claim: ≈ linear — packed
    // signatures × the native XOR+POPCNT kernel, exact rerank only on
    // the top-C survivors)
    if (want("bq_rerank")) {
      val bSizes = Seq(4000L, 8000L, 16000L, 32000L)
      val pts = bSizes.map { n =>
        val emb = embAt(n)
        val (sec, out) = timed {
          operators.Bq.bqRerank(emb).localCheckpoint(true)
        }
        val truth = operators.Similarity.bruteForceTopK(emb, 5)
          .select(col("probe_id"), col("neighbor_id"))
        val hits = out.select(col("probe_id"), col("neighbor_id"))
          .intersect(truth).count()
        val recall = hits.toDouble / math.max(1L, truth.count())
        System.err.println(
          f"[scale] bq_rerank n=$n sec=$sec%.2f recall=$recall%.3f")
        release()
        Point(n, sec, Map("recall" -> recall))
      }
      sb += Family("bq_rerank",
        "linear in corpus (hamming scan over packed signatures + " +
          "candidate-bounded exact rerank)",
        band = linearBand(bSizes), points = pts)
    }

    // -- 6. lake trickle → OPTIMIZE (claim: flat in table size) -------------
    // Bucket count scales with the table (constant bucket size — the
    // production sizing rule), the trickle's keys live in ONE bucket
    // (dvUpsert's bucket pruning makes the commit O(touched bucket)),
    // and OPTIMIZE compacts only the fragmented bucket.
    if (want("lake_trickle_optimize")) {
      val pts = Seq((100000L, 16), (200000L, 32), (400000L, 64)).map {
        case (n, buckets) =>
          val path = graft.sources.Scratch.dir(s"sc_lake_$n")
          val seed = spark.range(1, n + 1).select(col("id").as("key_id"),
            fnvCol("v", col("id")).as("value"), lit(1L).as("seq"))
          sources.VersionedLake.upsert(spark, path, seed, Seq("key_id"),
            "seq", numBuckets = buckets)
          // one-time bulk-load compaction, untimed: the seed write is
          // task-fragmented (~tasks files per bucket) and compacting
          // that is O(table) BY DEFINITION — run 5 measured exactly
          // that (opt removed 515/1027/2051 files ∝ table). The cycle
          // under measurement is the STEADY STATE: trickle → compact
          // the trickle's fragmentation.
          sources.VersionedLake.optimizeSmallFiles(spark, path)
          // 2000 keys all hashing to bucket 0 of this table
          val trickleKeys = spark.range(1, n + 1)
            .filter(pmod(hash(col("id")), lit(buckets)) === 0)
            .limit(2000).select(col("id").as("key_id"))
            .localCheckpoint(true)
          val (trickleSec, _) = timed {
            (1 to 3).foreach { i =>
              sources.VersionedLake.dvUpsert(spark, path,
                trickleKeys.withColumn("value",
                  fnvCol(s"t$i", col("key_id")))
                  .withColumn("seq", lit(1L + i)),
                Seq("key_id"), "seq", numBuckets = buckets)
            }
          }
          val (optSec, _) = timed {
            sources.VersionedLake.optimizeSmallFiles(spark, path)
          }
          // what did OPTIMIZE actually rewrite? (flat-claim evidence)
          val opt = sources.VersionedLake.snapshotsMeta(spark, path)
            .orderBy(col("version").desc).limit(1).head()
          System.err.println(f"[scale] lake n=$n buckets=$buckets " +
            f"trickle3=$trickleSec%.2f optimize=$optSec%.2f " +
            f"opt_files_added=${opt.getLong(3)} " +
            f"opt_files_removed=${opt.getLong(4)}")
          release()
          Point(n, trickleSec, Map("optimize_sec" -> optSec,
            "buckets" -> buckets.toDouble))
      }
      sb += Family("lake_trickle_optimize",
        "flat in table size (MOR commit = O(touched bucket); " +
          "OPTIMIZE = O(fragmented buckets))",
        band = 2.0, points = pts)
    }

    // -- 7. streaming SCD2 maintenance (claim: flat per batch at the
    // production bucket sizing). Each point seeds an H-key history
    // through the SAME applyBatch path the stream_scd2_apply gate
    // drives, with bucket count ∝ keys (constant per-bucket history —
    // the sizing rule Scd2Apply's scaladoc documents), then times 3
    // update batches of 2000 keys that all hash to ONE bucket: the
    // measured per-batch cost is O(batch keys' history + batch)
    // resolution + O(1 touched bucket) rewrite — never O(table). The
    // maintained history is verified after the timed region (every
    // updated key must carry exactly seed + 3 update versions with one
    // current row), so a batch that silently dropped work cannot
    // report a fast point.
    if (want("scd2_apply")) {
      val pts = Seq((50000L, 16), (100000L, 32), (200000L, 64)).map {
        case (h, nb) =>
          val table = graft.sources.Scratch.dir(s"sc_scd2_$h")
          val seed = spark.range(1, h + 1).select(
            col("id").as("key_id"), lit("INSERT").as("operation"),
            (pmod(fnvCol("sv", col("id")), lit(10000L)).cast("double")
              / lit(100.0)).as("value"),
            concat(lit("p"), col("id").cast("string")).as("props"),
            lit(1L).as("sequence_number"))
          streaming.Scd2Apply.applyBatch(spark, table, seed, nb)
          release()
          val keys = spark.range(1, h + 1)
            .filter(pmod(hash(col("id")), lit(nb)) === 0)
            .limit(2000).select(col("id").as("key_id"))
            .localCheckpoint(true)
          val (sec, _) = timed {
            (1 to 3).foreach { i =>
              streaming.Scd2Apply.applyBatch(spark, table,
                keys.select(col("key_id"),
                  lit("UPDATE").as("operation"),
                  (pmod(fnvCol(s"u$i", col("key_id")), lit(10000L))
                    .cast("double") / lit(100.0)).as("value"),
                  concat(lit(s"u$i-"), col("key_id").cast("string"))
                    .as("props"),
                  lit(1L + i).as("sequence_number")), nb)
            }
          }
          // post-timed honesty: 4 versions per updated key, 1 current
          val hist = streaming.Scd2Apply.readHistory(spark, table)
            .join(broadcast(keys), Seq("key_id"))
          val versions = hist.count()
          val current = hist.filter(col("__is_current")).count()
          require(versions == 4 * 2000 && current == 2000,
            s"scd2 history drifted at h=$h: versions=$versions " +
              s"(want 8000) current=$current (want 2000)")
          System.err.println(f"[scale] scd2 h=$h nb=$nb " +
            f"trickle3=$sec%.2f versions=$versions current=$current")
          release()
          Point(h, sec, Map("buckets" -> nb.toDouble))
      }
      sb += Family("scd2_apply",
        "flat in stored-history size (per batch: O(batch keys' " +
          "history + batch) resolution + O(touched buckets) rewrite)",
        band = 2.0, points = pts)
    }

    // ---- emit --------------------------------------------------------------
    val fams = sb.result()
    val json = fams.map { f =>
      val pts = f.points.map { p =>
        val extras = p.extra.toSeq.sortBy(_._1)
          .map { case (k, v) => s""","$k":$v""" }.mkString
        s"""{"size":${p.size},"sec":${p.sec}$extras}"""
      }.mkString("[", ",", "]")
      val checks =
        if (f.checks.isEmpty) ""
        else f.checks.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }
          .mkString(""","checks":{""", ",", "}")
      s""""${f.name}":{"claim":"${f.claim}","points":$pts,""" +
        s""""span_ratio":${f.ratio},"band":${f.band}$checks,""" +
        s""""within_band":${f.within}}"""
    }.mkString("{", ",", "}")
    val load = try Files.readString(Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble catch { case _: Throwable => -1.0 }
    val out =
      s"""{"metric":"scale","families":$json,""" +
        s""""launch_load":$launchLoad,"load":$load}"""
    println(out)
    // round-neutral default (the committed artifact name is set via
    // SPARK_GRAFT_SCALE_OUT — a literal r<N> default ships stale the
    // next round, the Bench.scala r10 lesson)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "BENCH_SCALE_LOCAL.json")
    try Files.write(Paths.get(outFile), (out + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[scale] could not write $outFile: $e") }
    spark.stop()
  }
}

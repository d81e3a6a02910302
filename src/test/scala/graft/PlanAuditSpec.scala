package graft

import org.apache.spark.sql.DataFrame
import graft.core.Tables

/** Plan-shape assertions for the round-3 operators: the scale claims in
  * the scaladocs (one exchange, broadcast small sides, no nested loop)
  * checked against the actual physical plan, not just prose. */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("asOf plans ONE shuffle (the keyed window) and no join at all") {
    val p = plan(SparkEntry.queries("asof_last_milestone")(spark, SfDir))
    // probe∪build sort under one hashpartitioning exchange; the
    // milestone pre-aggregate adds its own exchange upstream — but no
    // join operator and no range/nested-loop anywhere
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("Window"), s"missing window:\n$p")
  }

  test("keyDiscovery scans the fact table ONCE for all candidates " +
    "(multi-distinct via Expand, not per-candidate union of scans)") {
    val p = plan(SparkEntry.queries("qc_key_discovery")(spark, SfDir))
    assert(count(p, "Scan parquet") == 1,
      s"expected a single fact scan:\n$p")
    assert(p.contains("Expand"), s"missing multi-distinct Expand:\n$p")
    assert(!p.contains("Union"), s"per-candidate union remains:\n$p")
  }

  test("range join is a hash equi-join, never a nested loop") {
    val p = plan(SparkEntry.queries("events_range_join")(spark, SfDir))
    assert(!p.contains("NestedLoop"), s"nested loop:\n$p")
    assert(p.contains("Join"), s"missing join:\n$p")
  }

  test("decontaminate broadcasts the benchmark side only") {
    val p = plan(SparkEntry.queries("pipe_decontaminate")(spark, SfDir))
    assert(count(p, "BroadcastExchange") == 1, s"broadcast count:\n$p")
    graft.core.SessionCache.endQuery()
  }

  test("bm25 broadcasts df + corpus stats; corpus side never broadcast") {
    val p = plan(SparkEntry.queries("text_bm25")(spark, SfDir))
    // df-per-term and the 1-row stats frame: exactly two broadcasts
    assert(count(p, "BroadcastExchange") == 2, s"broadcast count:\n$p")
    // and exactly four hash exchanges, ALL downstream of the isin
    // filter: the (doc_id, term) tf aggregate, the same aggregate
    // re-derived on the df branch, the tiny per-term df rollup, and
    // the final per-doc aggregate — the raw corpus text is never
    // exchanged (VERDICT r4 #4: the old leading repartition is gone)
    val shuffles = count(p, "Exchange hashpartitioning")
    assert(shuffles == 4, s"shuffle count $shuffles:\n$p")
    assert(!p.contains("Exchange RoundRobinPartitioning"),
      s"corpus repartition resurfaced:\n$p")
    graft.core.SessionCache.endQuery()
  }

  test("vocab top-k never exchanges the raw corpus: one token-keyed " +
    "shuffle, per-partition TakeOrdered, no global sort") {
    val p = plan(SparkEntry.queries("text_vocab_topk")(spark, SfDir))
    assert(p.contains("TakeOrdered"), s"missing TakeOrdered:\n$p")
    // exactly ONE hash exchange — the token groupBy (map-side partial
    // agg first); the r5-flagged doc-keyed repartition of raw text is
    // gone and must stay gone
    val shuffles = count(p, "Exchange hashpartitioning")
    assert(shuffles == 1, s"shuffle count $shuffles:\n$p")
    assert(!p.contains("Exchange RoundRobinPartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      s"corpus repartition / global sort resurfaced:\n$p")
  }

  test("oov rate: vocab broadcasts, fact side streams map-only into " +
    "its per-doc rollup — no raw-corpus exchange") {
    val p = plan(SparkEntry.queries("text_oov_rate")(spark, SfDir))
    // exactly two hash exchanges — the token groupBy (vocab leg) and
    // the per-doc rollup — and neither moves the raw text (the
    // r5-flagged doc-keyed repartition is gone); the final doc-list
    // join broadcasts the rollup at this SF, which is AQE's call
    val shuffles = count(p, "Exchange hashpartitioning")
    assert(shuffles == 2, s"shuffle count $shuffles:\n$p")
    assert(!p.contains("Exchange RoundRobinPartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      s"corpus repartition / global sort resurfaced:\n$p")
  }

  test("auto range-join rewrite survives into NEW QueryExecutions " +
    "(the plan Verify/Bench actually execute, not the memoized one)") {
    val df = SparkEntry.queries("events_range_join_auto")(spark, SfDir)
    // derive a fresh Dataset the way Verify (.coalesce.write) and
    // Bench (.count) do — its QueryExecution re-runs the optimizer,
    // so this passes only if the rule stays installed (r5 ADVICE: the
    // force-memoize-then-remove scoping executed the nested loop)
    val p = plan(df.select(df.columns.map(org.apache.spark.sql.functions.col): _*))
    assert(!p.contains("NestedLoop"), s"nested loop executed:\n$p")
    assert(p.contains("Generate explode"), s"bucket explode missing:\n$p")
  }

  test("mix interleave range-partitions the schedule sort; no doc-keyed " +
    "broadcast, no single-partition window over an unbounded key") {
    val p = plan(SparkEntry.queries("pipe_mix_interleave")(spark, SfDir))
    // the global rank rides Spark's distributed sort
    assert(p.contains("Exchange rangepartitioning"),
      s"missing range-partitioned sort:\n$p")
    // exactly two DISTINCT broadcasts (the cached subtree prints once
    // per consumer, so count unique plan ids): the |sources| weights
    // frame and the ≤ shuffle-partitions pid-offsets frame — never
    // the doc frame
    val broadcasts = """BroadcastExchange[^\n]*plan_id=(\d+)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size
    assert(broadcasts == 2, s"broadcast count $broadcasts:\n$p")
    // the r5 shape (per-schedule-key offsets: groupBy(key) + window
    // partitioned by key, an unbounded domain) must not resurface —
    // every hash exchange is on source or pid, never on key
    assert(!p.contains("hashpartitioning(key"),
      s"schedule-key exchange resurfaced:\n$p")
    graft.core.SessionCache.endQuery()
  }

  test("round-5 family: no global sort, no single-partition funnel, " +
    "every join an equi-join") {
    // graph_pagerank: cached edges/degrees, per-iteration equi-join +
    // keyed aggregate — nothing range-partitioned, nothing forced
    // through one task
    val pr = plan(SparkEntry.queries("graph_pagerank")(spark, SfDir))
    assert(!pr.contains("Exchange rangepartitioning") &&
      !pr.contains("Exchange SinglePartition") &&
      !pr.contains("NestedLoop") && !pr.contains("CartesianProduct"),
      s"pagerank plan degraded:\n$pr")
    graft.core.SessionCache.endQuery()

    // compaction planner: ONE hash shuffle on the partition key; the
    // running sum is a partitioned window, never a global sort
    val cp = plan(SparkEntry.queries("maint_compaction_plan")(spark, SfDir))
    assert(count(cp, "Exchange hashpartitioning") == 1 &&
      !cp.contains("Exchange rangepartitioning") &&
      !cp.contains("Exchange SinglePartition") && cp.contains("Window"),
      s"compaction plan shape:\n$cp")

    // z-order audit: map pass + one bucket-keyed hash aggregate
    val zs = plan(SparkEntry.queries("maint_zorder_stats")(spark, SfDir))
    assert(count(zs, "Exchange hashpartitioning") == 1 &&
      !zs.contains("Exchange rangepartitioning") &&
      !zs.contains("Join"), s"zorder stats shape:\n$zs")

    // per-source profile: the two-phase countDistinct pair of hash
    // exchanges and nothing else — no broadcast of anything doc-sized
    val sp = plan(SparkEntry.queries("pipe_source_profile")(spark, SfDir))
    assert(count(sp, "Exchange hashpartitioning") == 2 &&
      !sp.contains("BroadcastExchange") &&
      !sp.contains("Exchange rangepartitioning"),
      s"source profile shape:\n$sp")
    graft.core.SessionCache.endQuery()

    // incremental dedup: the band join is a hash EQUI-join on
    // (band, bval) — the broadcast side is the |batch|-bounded banded
    // signatures, never the corpus index — and no single-partition
    // window anywhere
    val di = plan(SparkEntry.queries("dedup_incremental")(spark, SfDir))
    assert((di.contains("BroadcastHashJoin [band") ||
      di.contains("SortMergeJoin [band")) &&
      !di.contains("NestedLoop") && !di.contains("CartesianProduct") &&
      !di.contains("Exchange SinglePartition"),
      s"incremental dedup band join shape:\n$di")
    graft.core.SessionCache.endQuery()
  }

  test("round-6 family: no single-partition funnels over unbounded " +
    "frames, no global sorts, every join an equi-join") {
    // contamination spans: benchmark vocabulary broadcast; runs via a
    // doc-partitioned window — never a single-partition window
    val cs = plan(SparkEntry.queries("pipe_contamination_spans")(spark, SfDir))
    assert(cs.contains("BroadcastExchange") &&
      !cs.contains("Exchange SinglePartition") &&
      !cs.contains("Exchange rangepartitioning") &&
      !cs.contains("NestedLoop") && !cs.contains("CartesianProduct"),
      s"contamination spans shape:\n$cs")
    graft.core.SessionCache.endQuery()

    // dup n-gram coverage: (doc, gram)-keyed equi-joins only
    val dc = plan(SparkEntry.queries("text_dup_ngram_coverage")(spark, SfDir))
    assert(!dc.contains("Exchange SinglePartition") &&
      !dc.contains("Exchange rangepartitioning") &&
      !dc.contains("NestedLoop") && !dc.contains("CartesianProduct"),
      s"dup coverage shape:\n$dc")
    graft.core.SessionCache.endQuery()

    // semantic dedup: bucket/keeper equi-joins, never pairwise
    val sd = plan(SparkEntry.queries("sim_semantic_dedup")(spark, SfDir))
    assert(!sd.contains("NestedLoop") && !sd.contains("CartesianProduct"),
      s"semantic dedup shape:\n$sd")
    graft.core.SessionCache.endQuery()

    // incremental vocab: token-keyed merge + TakeOrdered, no raw-text
    // exchange and no global sort
    val vi = plan(SparkEntry.queries("text_vocab_incremental")(spark, SfDir))
    assert(vi.contains("TakeOrdered") &&
      !vi.contains("Exchange RoundRobinPartitioning") &&
      !vi.contains("Exchange rangepartitioning"),
      s"incremental vocab shape:\n$vi")

    // quantile sketch: keyed aggregates + a per-type window over ≤64
    // bucket rows — nothing single-partition, nothing sorted globally
    val qs = plan(SparkEntry.queries("events_quantile_sketch")(spark, SfDir))
    assert(!qs.contains("Exchange SinglePartition") &&
      !qs.contains("Exchange rangepartitioning") &&
      !qs.contains("NestedLoop") && !qs.contains("CartesianProduct"),
      s"quantile sketch shape:\n$qs")
  }

  test("round-7 family: keyed equi-joins and bounded windows only") {
    // triangles: orientation + wedge + probe are all hash equi-joins;
    // nothing cartesian, nothing single-partition over unbounded rows
    val tr = plan(SparkEntry.queries("graph_triangles")(spark, SfDir))
    assert(!tr.contains("CartesianProduct") && !tr.contains("NestedLoop") &&
      !tr.contains("Exchange rangepartitioning"),
      s"triangle shape:\n$tr")
    graft.core.SessionCache.endQuery()

    // per-source cap: offset joins back on the compound key (never a
    // broadcast of the unbounded source domain), the only windows are
    // value-distribution or tie-group scoped — no global sort, no
    // single-partition funnel
    val sc = plan(SparkEntry.queries("pipe_source_cap")(spark, SfDir))
    assert(!sc.contains("Exchange SinglePartition") &&
      !sc.contains("Exchange rangepartitioning") &&
      !sc.contains("CartesianProduct") && !sc.contains("NestedLoop"),
      s"source cap shape:\n$sc")
    graft.core.SessionCache.endQuery()

    // CMS: the sketch aggregate shuffles on the bounded (j, bucket)
    // domain; candidates via TakeOrdered; the probe join broadcasts
    // the k·d probe rows, never the sketch-to-corpus direction
    val cm = plan(SparkEntry.queries("text_cms_heavy_hitters")(spark, SfDir))
    assert(cm.contains("TakeOrdered") && cm.contains("BroadcastExchange") &&
      !cm.contains("CartesianProduct") &&
      !cm.contains("Exchange rangepartitioning"),
      s"CMS shape:\n$cm")
    graft.core.SessionCache.endQuery()

    // PQ: candidates come from the LSH bucket equi-join — the ADC
    // ranking never plans an all-pairs join
    val pq = plan(SparkEntry.queries("sim_pq_topk")(spark, SfDir))
    assert(!pq.contains("CartesianProduct") && !pq.contains("NestedLoop") &&
      !pq.contains("Exchange rangepartitioning"),
      s"PQ shape:\n$pq")
    graft.core.SessionCache.endQuery()
  }

  test("Spread: an already-split source gains NO exchange through the " +
    "map-only operators; a single-partition source is repaired locally") {
    import org.apache.spark.sql.functions._
    // 4 scan partitions on a local[4] session = cluster-scale shape:
    // Spread must return the frame untouched, so the chunker's plan —
    // whose scaladoc promises shuffle-freedom at scale — carries no
    // Exchange of any kind
    val par = spark.range(0, 200, 1, 4)
      .select(col("id").as("doc_id"),
        concat_ws(" ", lit("alpha beta gamma delta epsilon zeta"),
          col("id").cast("string")).as("text"))
    val pc = plan(graft.pipeline.Pipeline.chunkWithOverlap(par))
    assert(!pc.contains("Exchange"), s"chunker gained an exchange:\n$pc")
    val ps = plan(graft.dedup.Dedup.shingleSets(par))
    assert(!ps.contains("Exchange"), s"shingleSets gained an exchange:\n$ps")
    // single-partition input (the local fixture shape): repaired to
    // the session's core count by one round-robin exchange
    val one = spark.range(0, 200, 1, 1)
      .select(col("id").as("doc_id"), lit("t").as("text"))
    val spread = graft.core.Spread(one.toDF())
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism,
      s"local repair: ${spread.rdd.getNumPartitions}")
  }

  test("Spread: an already-split embedding source gains NO exchange " +
    "through the similarity scan-prep paths (VERDICT r7 #1)") {
    import org.apache.spark.sql.functions._
    // 4 scan partitions on local[4] = cluster-scale shape: the former
    // unconditional repartition(vec_id) shipped the whole corpus
    // through a hash exchange; after the Spread conversion the
    // map-only similarity operators must plan with no Exchange at all
    val emb = spark.range(0, 64, 1, 4)
      .select(col("id").as("vec_id"), (col("id") % 4).as("label"),
        transform(sequence(lit(1), lit(graft.similarity.Similarity.Dim)),
          d => ((col("id") + d) % 7).cast("float")).as("embedding"))
    val rp = plan(graft.similarity.Similarity.randomProjection(emb))
    assert(!rp.contains("Exchange"),
      s"randomProjection gained an exchange:\n$rp")
    val qi = plan(graft.similarity.Similarity.quantizeInt8(emb))
    assert(!qi.contains("Exchange"),
      s"quantizeInt8 gained an exchange:\n$qi")
    // bucket-join legs: the bucketed scan-prep select (the input every
    // sim_* join consumes) must itself be exchange-free — joins then
    // shuffle on their bucket keys only, downstream of this frame
    val prep = plan(graft.core.Spread(emb.toDF())
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        graft.similarity.Similarity.lshBucket(col("embedding"))
          .as("bucket")))
    assert(!prep.contains("Exchange"),
      s"bucketed scan-prep gained an exchange:\n$prep")
  }

  // Plans that legitimately nested-loop over a BOUNDED broadcast side:
  // J8's distinct-region backfill (reference semantics), BM25's 1-row
  // corpus-stats frame, the brute-force ANN baseline whose whole point
  // is the exact all-pairs scan over a bounded query subset, and the
  // 1-row scalar-aggregate broadcasts (tf-idf's n_docs, the decile
  // query's n_total). Everything else must be equi-joined.
  private val JustifiedCross =
    // sim_twonn_intrinsic: exact-2-NN evidence — the same bounded
    // broadcast-query-subset scan as sim_bruteforce_topk by design
    Set("j8_region_backfill", "text_bm25", "sim_bruteforce_topk",
      "sim_twonn_intrinsic",
      // graph_hits: the per-round 1-row max-normalization broadcasts
      // are the documented scalar-broadcast shape
      "graph_hits",
      "text_tfidf_topk", "pipe_length_deciles", "pipe_curriculum_order",
      "events_calibration",
      "events_key_skew", "qc_referential",
      // recall audits: the IVF/PQ side is a bucket equi-join; the BNLJ
      // is the brute-force ground-truth side (same shape as
      // sim_bruteforce_topk, bounded query subset); matryoshka ALSO
      // brute-forces its prefix-slice candidate ranking — two bounded
      // all-pairs scans by design
      "sim_ivf_recall", "sim_pq_recall", "sim_matryoshka_recall",
      // brute-force ground-truth side again (the label-audit tail is
      // two equi-joins on top of the bounded all-pairs scan)
      "sim_knn_label_audit",
      // brute-force ground truth + the |ks|-row ladder broadcasts
      "sim_recall_curve",
      // 1-row corpus-total broadcasts onto |cells| / |thresholds| rows
      "sim_ivf_balance", "sim_threshold_calibration",
      // three bounded all-pairs ranking legs feeding the rank fusion
      "sim_rrf_fusion",
      // 1-row corpus-totals broadcast (same class as tf-idf's n_docs)
      "text_collocations", "pipe_split_drift",
      // 1-row split-total broadcast onto the 3-row declared-ratio frame
      "pipe_srm_audit",
      // 1-row corpus-total broadcast onto the pruned candidate counts
      "events_heavy_users",
      // 1-row (xref, m) broadcast onto the k+1-row TakeOrdered frame
      "orders_tail_index",
      // 1-row as-of scalar broadcast (max event date) — both decay
      // variants (X97 freshness ladder, X166 engagement) anchor there
      "events_decay_score", "events_engagement_decay",
      // 1-row day-span broadcast building the calendar spine
      "events_locf_daily", "events_interp_daily",
      // 1-row part-total broadcast onto the ≤9-cell matrix
      "abc_xyz_matrix",
      // 1-row part-total broadcast onto the ≤16-cell migration matrix
      "abc_migration",
      // 1-row month-span broadcast building the month spine
      "fca_mase",
      // same 1-row month-span spine broadcast as fca_mase (X282/X289)
      "fcst_ses_halflife", "fcst_holt_linear",
      // 1-row last-day scalar broadcast for the current-streak flag
      "events_streaks",
      // 1-row last-week scalar broadcast capping the churn rows
      "events_growth_accounting",
      // 1-row trade-flow total broadcast onto the ≤625-pair matrix
      "graph_reciprocity",
      // attribute-sized sensitive-domain + 1-row total broadcasts
      // onto the QI-class grid
      "pipe_t_closeness",
      // 1-row total broadcast onto the ≤168-cell heatmap grid
      "events_dow_hour_heatmap",
      // 1-row total broadcast onto the ≤64-bucket degree histogram
      "graph_degree_histogram",
      // 1-row total broadcast onto the ≤64-row size-class rollup
      "sim_lsh_bucket_profile",
      // two 1-row counts assembled by broadcast cross join
      "sim_mutual_neighbor_rate",
      // three 1-row entropy reductions assembled by broadcast cross
      // join (X280); chi-square crosses its 1-row total onto the
      // bounded cell frame and its 1-row level counts (X281)
      "qc_mutual_info", "qc_chisq_independence",
      // 1-row totals broadcast onto the ≤|max-size| size classes
      "orders_basket_profile",
      // 1-row pair-total broadcast onto the ≤|sources|² matrix
      "dedup_source_matrix",
      // 1-row before/after totals broadcast onto the ≤|sources| frame
      "dedup_mix_shift",
      // three 1-row count aggregates assembled by broadcast cross join
      "maint_bloom_fpr",
      // 1-row corpus-total broadcast onto the ≤m·k code histogram
      "sim_pq_code_balance",
      // 1-row corpus-total broadcast onto the ≤64-bucket histogram
      "sim_norm_profile",
      // 1-row total broadcast onto the ≤2^n pattern histogram
      "qc_null_patterns",
      // four 1-row sketch aggregates assembled by broadcast cross join
      "events_kmv_setops",
      // the 3-row quantile list broadcast onto the tiny bucket frame
      "weighted_quantiles",
      // two 1-row slice-total broadcasts onto the bucket frame
      "qc_value_drift",
      // 1-row scalar broadcasts: basket total-order count, surprisal /
      // DSIR corpus totals, vocab-growth max doc id, seasonal totals
      "basket_rules", "text_surprisal", "text_dsir_weights",
      "text_vocab_growth", "seasonal_index", "qc_benford",
      "rfm_segments",
      // deliberate calendar-sized cross: |days|·|types| spine rows —
      // the zero-fill the correlation NEEDS (see typeCorrelationStats)
      "events_type_correlation",
      // 1-row corpus-totals broadcasts (surprisal chain / drift N0·N1)
      "text_ppl_buckets", "text_vocab_drift",
      // 1-row bigram-type-total broadcast onto the type frame (the
      // KN common denominator's T)
      "text_kn_surprisal",
      // 1-row corpus-token-total broadcast onto the bounded domain frame
      "pipe_domain_cap")
  // Building these performs driver-side actions (KMeans fit / LBFGS
  // training / count()s) — plan shape is audited by their own specs.
  private val ActionOnBuild =
    Set("j_bucketed_colocated", // writes the bucketed tables on build
      "j_bucketed_factfact", // writes the bucketed fact tables on build
      "dedup_golden_record", // shared-cluster driver union-find on build
      "ml_stream_train", "sim_ivf_topk", "dedup_clusters",
      "dedup_canonical_reps", "dedup_cluster_sizes",
      "s13_partition_upsert",
      // per-round top-pair collect (PageRank-style driver loop)
      "text_bpe_train", "text_bpe_fertility",
      // per-round localCheckpoint (eager) in the LPA loop
      "graph_communities",
      // fixpoint min-label loop: localCheckpoint + label-sum action
      // per round on build
      "graph_components",
      // small-graph-gated driver Tarjan (edge collect on build)
      "graph_scc",
      // greedy MMR rounds: eager localCheckpoint per pick on build
      // (candidate-pool BNLJ is the documented brute-force shape)
      "sim_mmr_topk",
      // two-phase prefix scan: bounded per-partition-totals collect on
      // build (≤ numPartitions rows); plan shape audited by
      // PrefixScanSpec (no global window, no full-frame hash exchange)
      "scan_running_total", "pareto_frontier",
      // prefix-scan composition: bounded per-partition totals collect
      "events_lateness_audit", "qc_ks_drift", "orders_best_split",
      // Bloom filter words collect on build (≤ bits/64 = 1024 rows)
      "j_bloom_prune",
      // X316: Lloyd center collect + versioned index commits on build
      "sim_ivf_incremental",
      // X318: bounded skew-profile collect + conf registration on build
      "events_salted_auto")

  test("the shared Tables read path pushes filters into the parquet " +
    "scan and prunes unread columns") {
    import org.apache.spark.sql.functions.col
    // every operator reads through Tables(); this is the contract that
    // makes their filters data-skipping at 100 TB — a range predicate
    // must reach the scan as PushedFilters and an unused wide column
    // (o_comment) must be absent from ReadSchema
    val df = Tables(spark, SfDir, "orders")
      .filter(col("o_orderdate") >= "1995-01-01")
      .select(col("o_orderkey"), col("o_orderdate"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual(o_orderdate"), s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("o_comment"),
      s"column pruning failed:\n$p")
  }

  test("no registry query plans a cartesian or nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if ActionOnBuild(name) => None
      case (name, fn) =>
        val p = plan(fn(spark, SfDir))
        graft.core.SessionCache.endQuery()
        val bad = p.contains("CartesianProduct") ||
          (p.contains("BroadcastNestedLoopJoin") && !JustifiedCross(name))
        if (bad) Some(name) else None
    }
    assert(offenders.isEmpty, s"quadratic joins in: $offenders")
  }
}

import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
import __spark_entry__ as se

SF = "/root/testdata/sf0.01"
PICK = ["kg_mentions", "kg_canonical_triples", "ds_minhash_lsh_pairs",
        "ds_ngram_jaccard", "ds_bm25_topk", "rel_partitioned_scan",
        "ds_lm_buckets", "kg_ego_networks", "kg_adjacency_csr",
        "kg_blocking_stats", "rel_zorder_layout", "kg_fuzzy_aliases", "kg_type_hierarchy_closure",
        "rel_concurrency_profile", "ds_golden_record", "ds_silhouette",
        "rel_interval_join", "rel_skyline", "ds_weighted_reservoir",
        "ds_ngram_novelty", "ds_embedding_gram", "ds_chi2_keywords",
        "rel_k_anonymity", "ds_distribution_drift",
        "ds_dsir_select", "ds_ks_drift", "ds_pca_outliers",
        "rel_column_stats", "ds_bootstrap_ci", "ds_prefix_pairs",
        "ds_rrf_fusion", "rel_zone_maps", "ds_cdc_chunks",
        "rel_multiple_regression", "rel_dynamic_pruning",
        "ds_sorted_neighborhood", "ds_hll_rollup", "ds_lsh_scurve",
        "kg_ktruss", "kg_stress_centrality", "rel_incremental_join",
        "rel_session_window_native", "mm_audio_match"]
BLURB = {
    "kg_mentions": "Flagship battery detect: ONE explicit doc-hash Exchange, ONE Arrow scorer stage, content pruned before the mention stream.",
    "kg_canonical_triples": "Whole north-rule pipeline: detect -> LSH linking -> CC -> election -> triples; below linking.ONE_PASS_MAX_SURFACES the canon map is one NumPy pass on the driver and enters the plan as a one-partition scan.",
    "ds_minhash_lsh_pairs": "MinHash LSH: map-side partial-min signature agg, band equi-join, candidate-restricted verify over the persisted shingle frame.",
    "ds_ngram_jaccard": "Exact n-gram Jaccard with the hot-shingle DF cap as a broadcast anti-join BEFORE the self-join.",
    "ds_bm25_topk": "BM25: broadcast battery, candidate restriction before any score shuffle, per-query top-k as a partial WindowGroupLimit heap.",
    "rel_partitioned_scan": "Day-partitioned layout: the single-day predicate resolves in PartitionFilters — non-matching days never open.",
    "ds_lm_buckets": "CCNet buckets: bigram-LM stack persisted (one corpus pass), histogram cuts broadcast back.",
    "kg_ego_networks": "2-hop ego nets: persisted doubled adjacency, one frontier equi-join, seed-keyed anti-join dedup.",
    "kg_adjacency_csr": "CSR export: two-level distributed prefix sum — the data-sized running-sum Window is partitioned by _pid; the only unpartitioned Window runs over the 16-row totals frame; bases rejoin as a broadcast.",
    "kg_blocking_stats": "LSH blocking audit: band explode, two key-local count aggs, output bounded by LSH_BANDS.",
    "rel_zorder_layout": "Z-order layout: the 32-term Morton interleave is a pure codegen column expression — no UDF, no window, one bucket-keyed Exchange.",
    "kg_fuzzy_aliases": "Fuzzy aliases: blocked candidate generation as a (first, len-key) equi-join — no cartesian/nested loop; levenshtein runs only on candidates.",
    "kg_type_hierarchy_closure": "Ontology rollup: closure computed dim-side in Python and BROADCAST; the fact stream collapses to <=31 per-type rows before the join — no iterative join touches the mentions.",
    "rel_concurrency_profile": "Sweep-line concurrency: two-phase prefix sum — the data-sized running-sum Window is partitioned by hour; the only unpartitioned Window runs over the one-row-per-hour totals frame.",
    "ds_golden_record": "MDM survivorship: persisted join feeds TWO map-side-combined aggregate passes; every election is a combinable min/max/min-of-struct — no window, no sort.",
    "ds_silhouette": "Centroid silhouette: L×D-bounded centroid aggregate, broadcast nested loop of JVM distance folds, exact BIGINT micro-unit mean.",
    "rel_interval_join": "Banded interval-overlap join: both interval sets explode to fixed-width time bands, hash-join on the band (never a nested loop), exact residual overlap predicate, first-shared-band pair dedup without a distinct.",
    "rel_skyline": "2-D skyline: per-price max aggregate + banded two-phase prefix-MAX — the data-sized Window is partitioned by price band; the only unpartitioned Window runs over the one-row-per-band totals frame; never a nested-loop dominance join.",
    "ds_weighted_reservoir": "Weighted reservoir (A-ES): salted two-phase top-k — per-(stratum, salt) ranks compile to WindowGroupLimit map-side heaps; only the bounded survivor frame takes the stratum-wide rank.",
    "rel_k_anonymity": "k-anonymity/l-diversity: orders dedup to (custkey, priority) BEFORE the QI join; every post-dedup frame bounded by |classes| x n_priorities; class <- sensitive join broadcast.",
    "ds_distribution_drift": "Drift audit: fold+bucket map-only, ONE map-side-combined (bucket) agg; totals and the TVD broadcast over the <=20-row bucket frame.",
    "ds_embedding_gram": "Gram matrix X^T X: one exact BLAS rank-k update per Arrow chunk, one 2,080-cell upper-triangle frame per partition, partial/final SUM — the exchange carries cells, never vectors.",
    "ds_chi2_keywords": "Chi-square keywords: one presence-dedup shuffle; per-term df windows over the AGGREGATED (lang, term) frame (<= n_langs rows/key); totals broadcast; rank-filtered per-language winner windows.",
    "ds_ngram_novelty": "Novelty curve: first-seen bucket per gram is a combinable MIN over the persisted distinct (bucket, gram) frame — hot grams cross the exchange once per map partition, never a window over the gram key.",
    "ds_dsir_select": "DSIR selection: bucket counts aggregate map-side to <=512 rows, the score table broadcasts back onto the token stream (the exploded tokens never shuffle), ranking is a distributed TakeOrdered.",
    "ds_ks_drift": "KS drift: ONE map-side (n_chars) agg reduces the corpus to the length-domain frame; cumulative/argmax windows and totals run on that aggregated frame only.",
    "ds_pca_outliers": "PCA projections: Gram map-side + checkpointed D-row power rounds; the snapped axis broadcasts onto the exploded embeddings; exact BIGINT dot products; distributed TakeOrdered.",
    "rel_column_stats": "ANALYZE stats: per-column groupBy->agg branches (NOT multi-count-distinct — Catalyst plans that as an Expand replicating every row x5 pre-shuffle; measured 3x slower at sf0.1); each branch scans one parquet column and shuffles at most its NDV.",
    "ds_bootstrap_ci": "Bootstrap CI: 64 conditional sums fold map-side in one aggregate over one scan — zero hash-partitioned exchanges; the stack/window frames are 32 rows.",
    "ds_prefix_pairs": "PPJoin prefix filtering: rarest-first global token order; only per-doc |s|-ceil(t|s|)+1 prefixes enter the candidate equi-join (length filter in the condition); exact Jaccard verify over candidates only.  Cost floor (profiled r5, min-of-3 6.4 s at sf0.1): the global-df order inherently costs two shingle-stream exchanges (by shingle to attach df, by doc-id to rank) before any pruning can exist, and the verify re-joins the shingle stream twice — all three exchanges are stream/NDV-bounded, AQE-coalesced, carry two skinny columns, and partition freely across executors at 100 TB; per-stage CPU ~= run time (no straggler tail), so the cost is work, not skew.",
    "ds_rrf_fusion": "Hybrid RRF: BM25 and integer-MIPS legs each end in WindowGroupLimit top-k heaps; fusion joins two rank-bounded lists — cost independent of corpus size.",
    "rel_zone_maps": "Zone-map skipping audit: two map-side-combined zone aggregates (write-order + date-clustered layouts) unioned; output bounded by zone counts.",
    "ds_cdc_chunks": "Content-defined chunking: doc-keyed lag + running-sum windows (no global sort); chunk copy counts partial+final on the cryptographic sha.",
    "rel_multiple_regression": "Closed-form OLS: ten combinable BIGINT moments in ONE map-side-combined groupBy (single Exchange), Cramer solve as per-group column arithmetic — no iteration, no Python.",
    "rel_dynamic_pruning": "DPP: the fact scan's PartitionFilters carry dynamicpruningexpression — the data-dependent busy-day dim prunes partitions at runtime via the reused broadcast.",
    "ds_sorted_neighborhood": "Multi-pass SNM: per-(pass, prefix) partitioned Windows (no SinglePartition exchange), lead-offset candidate pairing bounded by 2w per surface, trigram verify on candidates only.",
    "ds_hll_rollup": "Sketch rollup: leaf registers combine map-side; the corpus rollup is a register-wise MAX over the 256-row-per-leaf sketch frames — the token stream is read once.",
    "ds_lsh_scurve": "S-curve audit: ONE persisted capped shingle frame feeds ground truth, sizes and signatures; banding capture joins candidate pairs only; theory is a literal multiply chain.",
    "kg_ktruss": "k-truss: per round ONE oriented triangle enumeration (two equi-joins + closing-edge semi-join), map-side support count, semi-join peel, lineage-truncating checkpoint.",
    "kg_stress_centrality": "Stress centrality: L-source BFS with sigma as frontier-join + SUM + anti-join rounds; geodesic test joins node x L bounded frames; BIGINT product sums.",
    "rel_incremental_join": "Delta-join IVM: V0 plus three delta terms; the delta sides broadcast into the base probes — incremental cost scales with the delta, never the view.",
    "rel_session_window_native": "Native session_window gap-merge aggregation (the Structured Streaming session operator in batch mode) — no window function, no custom state.",
    "mm_audio_match": "Landmark fingerprints: Arrow-batched decode+hash stage, hot-fp broadcast anti-join cap, inverted-index equi-join, offset-consistency grouping.",
}
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "32").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
qs = se.queries()
out = ["# PLANS — formatted physical plans of headline queries (sf0.01)",
       "",
       "Regenerate with `python tools/gen_plans.py` (any sf dir). These are",
       "the plans the plan-shape tests in `tests/test_plans.py` pin; the",
       "narrative scale audit lives in BENCH/BASELINE.md and COVERAGE.md.",
       ""]
for name in PICK:
    df = qs[name](spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    out += [f"## {name}", "", BLURB[name], "", "```", plan.rstrip(), "```", ""]
open("/root/repo/PLANS.md", "w").write("\n".join(out))
print("WROTE", sum(len(x) for x in out))
spark.stop()

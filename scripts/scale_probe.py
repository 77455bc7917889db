"""Empirical scaling probe: inflate the sf0.1 fixtures ~10x into /tmp
and compare STEADY-STATE (second-run) per-query times against sf0.1.

Purpose: validate the 100 TB extrapolation claims in PERF.md with
measured marginal costs — a linear operator should scale ~10x in its
data-sized term (minus fixed per-job overhead, which dominates at
sf0.1); the MinHash probe doubles as a hot-bucket stress test because
the inflated corpus is 10 near-copies of every document, exactly the
adversarial shape BUCKET_CAP exists for.

Usage: PYTHONPATH=/root/repo python scripts/scale_probe.py [query ...]
(no args = the full PROBES list). Writes nothing outside /tmp; prints
one result line per (query, scale).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from pyspark.sql import functions as F
from grapho_spark.sparkutil import scratch_path

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BIG_DIR = "/tmp/grapho_scale_x10"
COPIES = 10

PROBES = [
    "core_dedup_minhash_lsh_pairs",
    "dedup_lsh_bucket_stats",
    "core_dedup_simhash",
    "dedup_incremental_new_vs_corpus",
    "text_chunk_windows",
    "text_pack_sequences",
    "text_vocab_coverage",
    "text_unigram_logprob",
    "embedding_int8_quantization",
    "core_embedding_ivf_knn",
    "graph_copurchase_edges",
    "core_graph_cc_distributed",
    "core_graph_pagerank_distributed",
    "core_q1_pricing_summary",
    # round-6 additions
    "embedding_pq_adc_knn",
    "text_chunk_dedup_rewrite",
    "text_pii_redaction",
    "graph_hits_bipartite",
    "market_basket_rules",
    # round-6b additions
    "events_touch_attribution",
    "timeseries_gapfill_interpolate",
    "timeseries_cusum_changepoints",
    "text_inverted_index",
    "text_psi_drift_by_source",
    "corpus_weighted_sample",
    "part_skyline_frontier",
    "join_key_skew_report",
    # round-6c additions
    "embedding_kmeans_lloyd",
    "hybrid_rrf_retrieval",
    "graph_personalized_pagerank",
    "graph_adamic_adar",
    "text_bm25_search",
    "events_ks_two_sample",
    "events_concurrent_sessions",
    "dedup_quality_survivor",
    # round-7 additions: the wedge-cap guard + its certificate, the
    # Datasketches-HLL aggregate, the export manifests, and the two
    # orientation-exact clustering rewrites (adamic_adar is above)
    "graph_neighborhood_jaccard",
    "graph_triangle_count",
    "graph_wedge_cap_stats",
    "graph_clustering_coefficient",
    "graph_local_clustering_topk",
    "stats_approx_aggregates_rows_only",
    "corpus_shuffle_shards",
    "corpus_epoch_plan",
    "core_embedding_ivfpq_indexed_knn",
    "graph_anf_hyperball",
    "streaming_windowed_distinct_sketch",
    # round-8 additions: the O(data) BUILD side of the persisted ANN
    # index (normalize + coarse k-means + PQ train + code assignment +
    # bucketed write) — the ingest-time stage the probe rows amortize
    # over — and the stream-static ANN probe
    "streaming_ann_index_probe",
    "ann_index_build",
    # round-8b additions: DSIR importance reweighting (batch scorer +
    # stream-static ingest scorer over the frozen bucket model) and
    # the exact prefix-filtered set-similarity join (the inflated
    # corpus is 10 near-copies of every doc — the candidate blow-up
    # shape the prefix+length filters must absorb)
    "core_corpus_dsir_importance",
    "streaming_dsir_score",
    "core_dedup_prefix_ssjoin_pairs",
    "dedup_prefix_ssjoin_stats",
    # round-8c additions: BPE vocabulary induction (the word count is
    # the only corpus-scale stage; merge rounds are vocab-sized),
    # tokenizer application (broadcast vocab over the token stream),
    # and windowed SemDeDup (bounded per-vector comparison fan-out),
    # plus the composed curation-funnel export plan
    "core_text_bpe_merges",
    "text_bpe_tokenize",
    "core_embedding_semantic_dedup",
    # (embedding_semdedup_coverage is excluded like the ANN recall
    # dials: its truth side is deliberately quadratic-in-sample —
    # the sample modulus, not the probe, is its scale knob)
    "streaming_bpe_tokenize",
    "corpus_training_export_manifest",
    # r8d: fertility is tokenize-shaped (broadcast vocab, map-side
    # partials); the leakage audit is excluded like the dials — its
    # truth side is deliberately (holdout x cell)-quadratic and the
    # cell count k is its scale knob
    "text_bpe_fertility_by_lang",
    # r8e: sources battery — the binaryFile blob scans are
    # file-count-bounded fixtures (constant across SF inflation; the
    # probe verifies the fixed cost), and the merged-schema read's
    # footer merge is file-count-, not data-, sized while the scan
    # itself is linear
    "source_binaryfile_blobs",
    "streaming_binaryfile_ingest",
    "source_schema_merge_evolution",
    # r8e: the CMS build is one map-side-combined aggregate into a
    # fixed 2048-cell grid (sketch size is scale-invariant); GD
    # training is 3 linear scans each reduced to a 3-cell gradient
    "text_cms_heavy_hitters",
    "corpus_quality_classifier_gd",
    # the at-ingest scorer: weights are plan literals, map-only stream
    "streaming_quality_score",
    # streaming CMS: state hard-bounded at 2048 cells at any corpus
    "streaming_cms_sketch",
    # footer-only aggregates: cost is file-count-, not row-, sized
    "source_aggregate_pushdown",
    # the WAL datasource: fixed 32-record fixture, reader cost is
    # log-, not SF-, sized (the probe verifies the fixed cost)
    "source_commitlog_datasource",
    "streaming_commitlog_tail",
    # content-defined chunking: doc-partitioned window sums; the one
    # corpus shuffle keys on chunk text for the recurrence count
    "text_cdc_chunking",
    # temperature mixture: one corpus groupBy then sources-sized math
    "corpus_temperature_mixture",
    # diversity: two (source, gram)-keyed map-side-combined aggregates
    "text_distinct_ngram_diversity",
    # (corpus_quality_calibration and source_zorder_clustering are
    # excluded like the recall dials: their exact global rank/sort is
    # the deliberate test-SF truth side of a planner/calibration dial)
    # r8f: modularity is edge-sized joins over the LPA labels; harmonic
    # centrality is |sample| x reachable per hop (the copy-densified
    # x10 graph is its adversarial shape — anti-join dedup must keep
    # state reachable-set-, not walk-count-, sized); variant extract,
    # the XML round-trip and curriculum bucketing are linear map+agg;
    # the state-store read re-runs the stream then scans state files;
    # the GK quantile sketch is one watermarked windowed agg plus a
    # certify-side rank join
    "graph_modularity_score",
    "graph_harmonic_centrality",
    "scalar_variant_extract",
    "source_xml_roundtrip",
    "streaming_state_store_read",
    "corpus_curriculum_phases",
    "streaming_windowed_quantile_sketch",
    # stress centrality: sigma/g passes are (source,node)-keyed integer
    # sums over the shortest-path DAG; the 1% source modulus bounds the
    # pair state on the densified graph
    "graph_stress_centrality",
    # random walks: per-step (node, idx)-keyed adjacency joins carrying
    # only the walk frontier; start sample is the volume knob
    "graph_random_walks",
    # r9: the GQL ENGINE itself at 10x (VERDICT r8 task #8) — flush,
    # distributed UPDATE, endpoint-qualified edge DML (all O(table)
    # copy-on-write rewrites, the documented trade of SURVEY §7.3) and
    # a 3-node/2-edge MATCH chain with a grouped-aggregate RETURN
    "gql_engine",
]


def gql_engine_times(spark, sf_dir: str) -> dict[str, tuple[float, int]]:
    """Engine-level wall probes the registered queries can't express:
    each returns (seconds, result-count-or-mutation-count). Tables are
    parquet-bound (customer/orders/part/lineitem), so DML rewrites pay
    the real table-sized cost."""
    import shutil
    import tempfile

    from grapho_spark.engine import GraphEngine
    from grapho_spark.tables import load_table

    data_dir = scratch_path(
        f"gql_probe_{os.path.basename(sf_dir)}_{os.getpid()}"
    )
    shutil.rmtree(data_dir, ignore_errors=True)
    eng = GraphEngine(spark, data_dir=data_dir)
    eng.bind_node_type(
        "Cust", load_table(spark, sf_dir, "customer"), pk="c_custkey"
    )
    eng.bind_node_type(
        "Ord",
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority"
        ),
        pk="o_orderkey",
    )
    eng.bind_node_type(
        "Prt",
        load_table(spark, sf_dir, "part").select("p_partkey", "p_brand"),
        pk="p_partkey",
    )
    eng.bind_edge_type(
        "Placed",
        load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey", "o_totalprice"
        ),
        src="o_custkey",
        dst="o_orderkey",
        from_label="Cust",
        to_label="Ord",
    )
    eng.bind_edge_type(
        "Contains",
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity"
        ),
        src="l_orderkey",
        dst="l_partkey",
        from_label="Ord",
        to_label="Prt",
    )
    eng.flush()  # v1 of all five bound tables, outside every timer
    out: dict[str, tuple[float, int]] = {}
    t0 = time.perf_counter()
    n = eng.execute(
        "MATCH Cust c, Placed pl, Ord o, Contains ct, Prt p "
        "WHERE c.c_mktsegment: 'BUILDING' RETURN p_brand, COUNT(*);"
    )[0].df.count()
    out["gql_match_3hop_chain"] = (time.perf_counter() - t0, n)
    # flush after one INSERT: the copy-on-write rewrite of ONLY the
    # dirty ORDERS-backed node table (orders inflates 10x; customer is
    # a dimension and stays 1x) to a new parquet version
    eng.execute("INSERT NODE Ord (o_orderkey: 999999999);")
    t0 = time.perf_counter()
    eng.flush()
    out["gql_flush_insert"] = (time.perf_counter() - t0, 1)
    # distributed UPDATE on the flushed orders-sized table
    t0 = time.perf_counter()
    r = eng.execute(
        "UPDATE NODE Ord SET o_orderpriority: 'X-PROBE' "
        "WHERE o_orderpriority: '1-URGENT';"
    )[0]
    out["gql_update_where"] = (time.perf_counter() - t0, r.count)
    # endpoint-qualified edge DML: resolve ALL matching endpoint nodes
    # (set semantics) then rewrite the orders-sized edge table
    t0 = time.perf_counter()
    r = eng.execute(
        "UPDATE EDGE Placed FROM Cust (c_mktsegment: 'MACHINERY') TO Ord "
        "SET o_totalprice: 0.0;"
    )[0]
    out["gql_endpoint_edge_dml"] = (time.perf_counter() - t0, r.count)
    # r10 partition-pruned mutation rewrite: settle the bulk mutations
    # into a bucket-complete version, then UPDATE a single row — the
    # flush must rewrite exactly ONE of id_buckets bucket leaf dirs
    # (file-count asserted), so single-key mutation flush I/O is
    # O(table/id_buckets) regardless of scale
    eng.flush()
    eng.execute(
        "UPDATE NODE Ord SET o_orderpriority: 'Y-PROBE' "
        "WHERE o_orderkey: 999999999;"
    )
    t0 = time.perf_counter()
    eng.flush()
    out["gql_flush_partial_rewrite"] = (time.perf_counter() - t0, 1)
    tdir = os.path.join(data_dir, "tables", "node_Ord")
    tip = max(
        int(e[1:]) for e in os.listdir(tdir) if e[1:].isdigit()
    )
    leafs = [
        e for e in os.listdir(os.path.join(tdir, f"v{tip}"))
        if e.startswith("_gbkt=")
    ]
    assert len(leafs) == 1, (
        f"single-row UPDATE rewrote {len(leafs)}/{eng.id_buckets} buckets"
    )
    out["gql_partial_rewrite_buckets"] = (0.0, len(leafs))
    shutil.rmtree(data_dir, ignore_errors=True)
    return out


def ann_build_time(spark, sf_dir: str) -> float:
    """Wall time of a FROM-SCRATCH ann_index_tables build for sf_dir:
    drops the persisted tables + publish marker and clears the
    session-level k-means/normalization memos first, so the measured
    cost is the full ingest-side pipeline, not a cache hit."""
    import tempfile

    from grapho_spark import sparkutil
    from grapho_spark.queries import embeddings as emb

    tag = emb._ann_index_tag(sf_dir)
    for t in (f"ann_centroids_{tag}", f"ann_codebook_{tag}", f"ann_pq_codes_{tag}"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    marker = scratch_path("grapho_spark_index", f"_BUILD_OK_{tag}")
    if os.path.exists(marker):
        os.unlink(marker)
    for k in [
        k
        for k in sparkutil._MEMO
        if k[1].startswith((f"kmeans:{sf_dir}:", f"norm_vec_expl:{sf_dir}:"))
    ]:
        del sparkutil._MEMO[k]
    t0 = time.perf_counter()
    emb.ann_index_tables(spark, sf_dir)
    return time.perf_counter() - t0


def build_inflated(spark) -> None:
    """~10x sf0.1: distinct ids everywhere; document texts get a
    per-copy suffix token (near-dup heavy, not pure duplicates)."""
    if os.path.isdir(BIG_DIR):
        shutil.rmtree(BIG_DIR)
    os.makedirs(BIG_DIR)
    from grapho_spark.tables import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        df = load_table(spark, SF_DIR, name)
        out = os.path.join(BIG_DIR, f"{name}.parquet")
        if name == "documents":
            parts = [
                df.select(
                    (F.col("doc_id") + F.lit(k * 1_000_000)).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(f" copytag{k}")).alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
                for k in range(COPIES)
            ]
        elif name == "embeddings":
            parts = [
                df.select(
                    (F.col("vec_id") + F.lit(k * 1_000_000)).alias("vec_id"),
                    F.expr(f"transform(embedding, x -> x + float({k}) * 1e-4f)").alias(
                        "embedding"
                    ),
                    "label",
                )
                for k in range(COPIES)
            ]
        elif name == "lineitem":
            parts = [
                df.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.lit(k * 100_000_000)
                )
                for k in range(COPIES)
            ]
        elif name == "orders":
            parts = [
                df.withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(k * 100_000_000)
                )
                for k in range(COPIES)
            ]
        elif name == "events":
            parts = [
                df.withColumn("event_id", F.col("event_id") + F.lit(k * 100_000_000))
                for k in range(COPIES)
            ]
        else:  # dimensions stay dimension-sized
            parts = [df]
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.write.mode("overwrite").parquet(out)


def steady_time(fn, spark, sf_dir: str) -> tuple[float, int]:
    fn(spark, sf_dir).count()  # warm plan + memos
    t0 = time.perf_counter()
    n = fn(spark, sf_dir).count()
    return time.perf_counter() - t0, n


def main() -> None:
    from grapho_spark.queries import all_queries
    from grapho_spark.session import get_spark

    spark = get_spark("scale_probe")
    build_inflated(spark)
    reg = all_queries()
    probes = sys.argv[1:] or PROBES
    print(f"{'query':40s} {'sf0.1':>8s} {'x10':>8s} {'ratio':>6s}  rows(x10)")
    for name in probes:
        if name == "gql_engine":
            t1s = gql_engine_times(spark, SF_DIR)
            t10s = gql_engine_times(spark, BIG_DIR)
            for step in t1s:
                t1, _ = t1s[step]
                t10, n10 = t10s[step]
                ratio = t10 / t1 if t1 > 0 else float("inf")
                print(
                    f"{step:40s} {t1:7.2f}s {t10:7.2f}s {ratio:5.1f}x  {n10}",
                    flush=True,
                )
            continue
        if name == "ann_index_build":
            t1 = ann_build_time(spark, SF_DIR)
            t10 = ann_build_time(spark, BIG_DIR)
            ratio = t10 / t1 if t1 > 0 else float("inf")
            print(
                f"{name:40s} {t1:7.2f}s {t10:7.2f}s {ratio:5.1f}x  (build)",
                flush=True,
            )
            continue
        fn = reg[name].spark_fn
        t1, _ = steady_time(fn, spark, SF_DIR)
        t10, n10 = steady_time(fn, spark, BIG_DIR)
        ratio = t10 / t1 if t1 > 0 else float("inf")
        print(
            f"{name:40s} {t1:7.2f}s {t10:7.2f}s {ratio:5.1f}x  {n10}",
            flush=True,
        )


if __name__ == "__main__":
    main()

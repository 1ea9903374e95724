"""Scale-posture guards over every registry plan (SURVEY.md §4):

- no ``BatchEvalPython`` anywhere — row-at-a-time Python UDFs break
  WholeStageCodegen and serialize every row through a Python worker; the
  only sanctioned Python is Arrow-batched (``MapInPandas`` nodes in the
  multimodal plumbing);
- column pruning reaches the parquet scan on representative queries — a
  scan reading all columns for a narrow projection would multiply IO 10×
  at 100 TB.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

QUERIES = entry.queries()
SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# Plans allowed to contain a BroadcastNestedLoopJoin — each is a
# broadcast of a 1-row aggregate (corpus totals/stats appended to every
# row: constant per-row cost at any scale) or the deliberate exact
# brute-force baseline whose query side broadcasts with an inequality
# condition. Anything NOT listed that grows a BNLJ is a scale regression.
ALLOWED_BNLJ = {
    "top_pmi_collocations",      # 1-row unigram-total broadcast
    "embedding_topk_bruteforce",  # exact baseline: broadcast query set, != cond
    "doc_tfidf_top_terms",        # 1-row corpus-size broadcast
    "doc_bm25_query",             # 1-row corpus-stats broadcast
    "doc_lm_perplexity",          # 1-row vocab-size broadcast
    "entity_pagerank",            # 1-row node-count broadcast (init ranks)
    "embedding_int8_quant",       # 1-row per-dim min/max broadcast
    "embedding_top_component",    # 1-row current-eigenvector broadcast/iter
    "event_key_skew_report",      # 1-row total-count broadcast
    "order_price_deciles",        # 1-row decile-bounds-array broadcast
    "order_price_deciles_approx",  # 1-row approx-bounds-array broadcast
    "doc_contiguous_ids",         # <=64-row bucket-bounds broadcast
    "orders_bloom_semi_join",     # 1-row 64-word bitmap broadcast
    "event_value_interpolated",   # spine: tiny key-set × generated hour rows
    "event_value_woe_bins",       # 1-row decile-bounds + totals broadcasts
    "session_event_type_lift",    # 1-row basket-total broadcast
    "event_type_hour_mutual_info",  # 1-row contingency-total broadcast
    "embedding_cosine_histogram",  # deliberate sampled pair join (< cond)
    "order_benford_digits",       # 1-row digit-total broadcast
    "order_gap_survival",         # 1-row censor-horizon broadcast
    "customer_rfm_segments",      # 1-row max-date + 12-number fence broadcasts
    "event_decayed_type_scores",  # 1-row corpus-max-ts broadcast (decay anchor)
    "doc_lang_kl_drift",          # |langs|-row × bounded-vocab smoothing grid
    "doc_hybrid_rrf_search",      # exact-cosine side: 1-query broadcast, != cond
    "doc_fold_label_parity",      # 1-row corpus-total broadcast
    "event_type_ks_drift",        # |types|×50-bin CDF spine + pairwise grid
    "nation_month_revenue_growth",  # |nations| × generated-month spine
    "ab_cuped_event_value",       # 1-row theta/xbar broadcast
    "cohort_cumulative_ltv",      # 1-row max-month broadcast (age spine)
    "order_priority_chisq",       # 1-row (n, nr, nc) totals broadcast
    "embedding_ivf_cell_balance",  # 1-row (n, k) totals broadcast
    "embedding_matryoshka_audit",  # exact baseline: 10-query broadcast, != cond
    "event_type_kruskal_wallis",  # 1-row tie-correction-total broadcast
    "doc_domain_classifier_gd",   # 1-row standardization-stats + AUC-totals broadcast
    "lineitem_mahalanobis_outliers",  # 1-row covariance-stats broadcast
    "embedding_ann_ndcg",         # IDCG baseline: 8-query broadcast, != cond
    "embedding_contrastive_triplets",  # 32-anchor broadcast scan, != cond
    "brand_simpson_check",        # 1-row pooled-slope broadcast
    "event_value_runs_test",      # 1-row global-median broadcast
    "order_interarrival_fit",     # 1-row (n, mean) + 1-row KS broadcast
    "lineitem_benford_second_digit",  # 1-row digit-total broadcast
    "event_value_irls_logistic",  # 1-row standardization-stats broadcast
    "event_hour_pinball_p90",     # 1-row standardization-stats broadcast
    "embedding_jl_distortion",    # audit baseline: 8-query broadcast, != cond
    "event_value_psi_drift",      # 1-row span/decile-bounds/totals broadcasts
    "event_hourly_haar_energy",   # 1-row min-ts broadcast (hour-index anchor)
    "event_value_wasserstein_drift",  # 1-row span/bucket-bounds/totals bcasts
    "event_type_policy_replay",   # 1-row period-span broadcast (ref/cur split)
    # round-9 additions: all 1-row anchor/span/total broadcasts
    "event_psi_stream_ledger",    # 1-row (tr, tc) totals broadcast
    "customer_kadane_window",     # 1-row min-day + 1-row max-t broadcasts
    # round-10: the ranged-cumulative rewrite's 1-row bucket-bounds /
    # totals broadcasts (operators/prefix.py — every global-ordered
    # running sum/rank now goes through bucket partials)
    "event_wasserstein_stream_ledger",  # 1-row bucket-bounds + totals bcasts
    "event_value_mann_whitney",    # 1-row bucket-bounds bcast
    "event_score_ks_separation",   # 1-row bucket-bounds + totals bcasts
    "peak_concurrent_sessions",    # 1-row bucket-bounds bcast
    "customer_revenue_gini",       # 1-row bucket-bounds + totals bcasts
    "part_revenue_abc",            # 1-row bucket-bounds + totals bcasts
    "part_price_size_skyline",     # 1-row bucket-bounds bcast (running max)
    "order_price_stump_split",     # 1-row bucket-bounds + totals bcasts
    # (round-14: entity_hits_scores left this list — its round-13 1-row
    # L1-total crossJoin(broadcast) became two bounded 1-row collects
    # inlined as literals, so the plan holds no BNLJ at all)
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_free_of_scale_killers(name, spark):
    plan = _plan(QUERIES[name](spark, SF_DIR))
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in plan — use native exprs or "
        "Arrow-batched pandas"
    )
    assert "CartesianProduct" not in plan, (
        f"{name}: unbounded cartesian product in plan"
    )
    if name not in ALLOWED_BNLJ:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: BroadcastNestedLoopJoin outside the 1-row-broadcast "
            "allowlist — add an equi-join key or justify in ALLOWED_BNLJ"
        )


def _grid_plans():
    from flight_radar_pipeline_spark.plans.battery import GRID_PLANS

    return GRID_PLANS


# build-time subplans allowed a BNLJ — same 1-row/bounded-broadcast
# classes as ALLOWED_BNLJ above (both parents are already on that list)
GRID_ALLOWED_BNLJ = {
    ("doc_domain_classifier_gd", "features"),   # 1-row standardization stats
    ("doc_domain_classifier_gd", "grad_step"),  # derives from features
    ("embedding_jl_distortion", "candidate_pairs"),  # bounded query bcast, != cond
    ("embedding_mmr_topk", "shortlist"),  # bounded query bcast, != cond
    ("embedding_mmr_topk", "pair_matrix"),  # shortlist-bounded self-pairs
}


@pytest.mark.parametrize("name", sorted(_grid_plans()))
def test_grid_subplans_free_of_scale_killers(name, spark):
    """Driver-grid entries run fact-side work at BUILD time behind a
    bounded collect or a localCheckpoint — invisible in the final plan
    the test above audits. Assert the same categorical bans over every
    registered build-time subplan (battery.GRID_PLANS)."""
    for label, sub in _grid_plans()[name](spark, SF_DIR).items():
        plan = _plan(sub)
        assert "BatchEvalPython" not in plan, (
            f"{name}[{label}]: row-at-a-time Python UDF in build-time subplan"
        )
        assert "CartesianProduct" not in plan, (
            f"{name}[{label}]: cartesian product in build-time subplan"
        )
        if (name, label) not in GRID_ALLOWED_BNLJ:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name}[{label}]: BNLJ in build-time subplan outside "
                "GRID_ALLOWED_BNLJ"
            )


def test_grid_plans_cover_every_driver_grid_entry():
    """Every registry entry whose builder collects a fact-derived grid or
    checkpoints its fact lineage must register its build-time subplans —
    keeps the audit blind spot closed as new driver-grid entries land.
    Enumerated by source scan: a `.collect()` or `.localCheckpoint(` in
    the builder body marks the class; trivial 1-row min/max anchors over
    a single unjoined scan are exempt (their subplan is a scan+agg with
    nothing to audit) and listed explicitly."""
    import inspect

    from flight_radar_pipeline_spark.plans import battery

    # single-scan 1-row anchors (no join before the action) or per-batch
    # foreachBatch internals already audited via the materialized result
    EXEMPT = {
        "event_seasonal_baseline",      # 1-row min/max date anchor
        "event_value_bocpd_runs",       # 1-row min/max date anchor
        "orders_tombstone_compaction",  # 1-row max-ts anchor
        "orders_scd2_stream_apply",     # per-batch distinct-eff list
        "event_cusum_stream_ledger",    # foreachBatch fold internals
        "event_psi_stream_ledger",      # foreachBatch fold internals
        "event_wasserstein_stream_ledger",  # foreachBatch fold internals
        "doc_bpe_merges",               # trainer: bounded pair-count collects
        "doc_bpe_encode",               # trainer: bounded pair-count collects
        "doc_bpe_fertility",            # trainer: bounded pair-count collects
        "corpus_bpe_compression",       # trainer: bounded pair-count collects
        "embedding_kmeans_clusters",    # trainer: k-row centroid collects
        "doc_topic_clusters",           # trainer: k-row centroid collects
        "embedding_ann_ivf",            # trainer: k-row centroid collects
        "embedding_topk_ivfpq",         # codebook: k-row centroid collects
        "embedding_topk_ivfpq_refined",  # codebook: shared with above
        "embedding_product_quantization",  # codebook collects
        "embedding_opq_audit",          # codebook collects (no oracle)
        "embedding_semantic_dedup",     # self-sized k: 1-row count anchor
        "doc_minhash_bands_sweep",      # per-band bounded stats collect
        "event_value_irls_logistic",    # 1-row gradient collects (IRLS)
        "event_hour_pinball_p90",       # 1-row gradient collects
        "doc_dsir_importance",          # 1-row corpus-total anchors
        "user_value_twap",              # 1-row span anchor
        "corpus_heaps_fit",             # 1-row span anchor (checkpoint step)
        "doc_nb_stream_train",          # bounded state-grid collect (foreachBatch fold)
        "event_hourly_stl_decompose",   # 1-row span anchor
        "top_session_paths",            # 1-row min-support anchor
        "user_erasure_audit",           # 1-row max-ts anchor
        "user_growth_stream_ledger",    # 1-row span anchor
        "orders_scd2_stream_merge",     # per-batch distinct-eff list
    }
    # (entries registered in battery.GRID_PLANS — BT, markov, MST,
    # isotonic, set-cover, GD trainer, k-core, training manifest,
    # DBSCAN, JL audit, mixture baseline — pass via the registry)
    reg = battery.REGISTRY
    flagged = []
    for name, spec in reg.items():
        try:
            src = inspect.getsource(spec.build)
        except (OSError, TypeError):
            continue
        if ".collect()" in src or ".localCheckpoint(" in src:
            if name not in battery.GRID_PLANS and name not in EXEMPT:
                flagged.append(name)
    assert not flagged, (
        "driver-grid entries without registered build-time subplans "
        f"(add to battery.GRID_PLANS or justify in EXEMPT): {flagged}"
    )


def test_lsh_signature_stage_is_shuffle_free(spark):
    """Sign-LSH signatures must be a pure projection over the embedding
    scan — the round-1 relational form shuffled corpus × dims rows (one per
    (vector, dimension)); the rewrite computes per-row dots against plane
    literals, so the signature plan contains no Exchange at all."""
    from flight_radar_pipeline_spark.operators.similarity import (
        hyperplane_signatures,
        multitable_signatures,
    )
    from flight_radar_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    for sigs in (
        hyperplane_signatures(emb, num_planes=8, n_dims=64),
        multitable_signatures(emb, num_tables=4, planes_per_table=4, n_dims=64),
    ):
        plan = _plan(sigs)
        assert "Exchange" not in plan, f"shuffle in signature stage:\n{plan}"


def test_ivf_assignment_stage_is_shuffle_free(spark):
    """IVF cell assignment is a per-row argmax over centroid sims — the
    round-2 form crossJoined corpus × centroids then windowed on
    neighbor_id (an Exchange of corpus × 16 rows for a per-row decision);
    the rewrite folds centroid vectors into inline array expressions, so
    the assignment plan contains no Exchange and no Window at all."""
    from pyspark.sql import functions as F

    from flight_radar_pipeline_spark.operators.similarity import (
        assign_cell,
        collect_centroids,
    )
    from flight_radar_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = collect_centroids(emb, num_centroids=16)
    assign = emb.select(
        "vec_id",
        assign_cell(F.col("embedding").cast("array<double>"), cents).alias("cell"),
    )
    plan = _plan(assign)
    assert "Exchange" not in plan, f"shuffle in IVF assignment stage:\n{plan}"
    assert "Window" not in plan, f"window in IVF assignment stage:\n{plan}"


@pytest.mark.parametrize(
    "name,table,cols",
    [
        ("pricing_summary", "lineitem", 7),   # 7 of 16 lineitem columns
        ("doc_quality_score", "documents", 2),  # doc_id + text of 5
        ("hourly_event_counts", "events", 3),   # ts, event_type, value of 6
    ],
)
def test_column_pruning_reaches_scan(name, table, cols, spark):
    plan = _plan(QUERIES[name](spark, SF_DIR))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l and table in l]
    assert scans, f"{name}: no parquet scan of {table} found"
    head = scans[0].split("]")[0]
    n = head.count(",") + 1
    assert n <= cols, f"{name}: scan reads {n} columns of {table}, expected <= {cols}"


def test_plans_leave_stream_scaffolding_to_the_ledger():
    """Stream replay scaffolding and its scratch belong to
    ``streaming/ledger.py`` (``wave_stream``/``link_stream`` →
    ``run_microbatches``): no plans module hand-rolls a stream source, a
    ``foreachBatch`` sink or a temp dir of its own."""
    from pathlib import Path

    import flight_radar_pipeline_spark.plans as plans

    offenders = [
        f"{path.name}: {token}"
        for path in sorted(Path(plans.__file__).parent.rglob("*.py"))
        for token in ("readStream", ".foreachBatch(", "tempfile")
        if token in path.read_text()
    ]
    assert offenders == []


def test_runner_reads_pass_a_schema():
    """Every Parquet read in ``pipeline/runner.py`` passes its stored
    schema: a read without one launches a schema-inference job in every
    batch."""
    import ast
    import inspect

    from flight_radar_pipeline_spark.pipeline import runner

    def has_schema(call: ast.Call) -> bool:
        func = call.func
        if isinstance(func, ast.Name):  # read_parquet(spark, path, schema)
            return len(call.args) >= 3 or any(k.arg == "schema" for k in call.keywords)
        chain = func.value  # <reader>.parquet(path): .schema(...) in the chain
        while isinstance(chain, (ast.Call, ast.Attribute)):
            if isinstance(chain, ast.Call) and getattr(chain.func, "attr", None) == "schema":
                return True
            chain = chain.func if isinstance(chain, ast.Call) else chain.value
        return False

    reads = [
        node
        for node in ast.walk(ast.parse(inspect.getsource(runner)))
        if isinstance(node, ast.Call)
        and (
            getattr(node.func, "id", None) == "read_parquet"
            or getattr(node.func, "attr", None) == "parquet"
        )
    ]
    assert reads, "no Parquet read found in pipeline/runner.py"
    assert [ast.unparse(n) for n in reads if not has_schema(n)] == []


def test_driver_rows_enter_spark_through_rows_to_df():
    """``pipeline/runner.py`` and ``functions/continents.py`` land driver-side
    rows only through ``sources.flight_api.rows_to_df`` (one Arrow table the
    JVM decodes): a list-path ``createDataFrame`` would send every row
    through a Python worker on each scan."""
    import ast
    import inspect

    from flight_radar_pipeline_spark.functions import continents
    from flight_radar_pipeline_spark.pipeline import runner

    calls = {
        module.__name__: [
            ast.unparse(node)
            for node in ast.walk(ast.parse(inspect.getsource(module)))
            if isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None)) == "createDataFrame"
        ]
        for module in (runner, continents)
    }
    assert calls == {runner.__name__: [], continents.__name__: []}
    assert "rows_to_df(spark, rows, schemas.FLIGHTS_RAW)" in inspect.getsource(runner)
    assert "rows_to_df(" in inspect.getsource(continents.continent_lookup_df)

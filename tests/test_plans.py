"""Physical-plan regression tests — the 100 TB posture as assertions.

These pin the *plan shapes* the engine depends on at scale: dimensions
broadcast (never sort-merge), filters reach the parquet scan, scans
read only referenced columns, narrow maps shuffle nothing. A change
that silently degrades one of these passes value-equality tests but
fails here.
"""

from __future__ import annotations

import pytest

from uofi_payroll_etl_main_demo_spark import queries as R
from uofi_payroll_etl_main_demo_spark.plans import inspect_plan
from uofi_payroll_etl_main_demo_spark.plans.inspect import formatted_plan


def test_pipeline_broadcasts_all_dims(spark, sf_dir):
    r = inspect_plan(R.q_pipeline_payroll_shape(spark, sf_dir))
    assert r.broadcast_joins >= 2  # part + supplier
    assert r.sort_merge_joins == 0  # fact side never shuffles for enrichment


def test_pipeline_pushdown_and_pruning(spark, sf_dir):
    r = inspect_plan(R.q_pipeline_payroll_shape(spark, sf_dir))
    scan = r.scan_for("lineitem")
    assert scan is not None
    assert "l_shipdate" in scan["pushed"]  # date range reached the scan
    # pruned: the 11-column table is read as only the 5 referenced cols
    assert scan["read_schema"].count(":") == 5
    part_scan = r.scan_for("part.parquet")
    assert part_scan and part_scan["read_schema"].count(":") == 2


def test_projection_is_narrow(spark, sf_dir):
    r = inspect_plan(R.q_projection(spark, sf_dir))
    assert r.exchanges == 0  # pure projection: no shuffle at any scale
    scan = r.scan_for("lineitem")
    assert scan["read_schema"].count(":") == 3


def test_enrichment_joins_broadcast(spark, sf_dir):
    r = inspect_plan(R.q_broadcast_left_join(spark, sf_dir))
    assert r.broadcast_joins >= 2  # nation + region
    assert r.sort_merge_joins == 0


def test_pricing_pushdown(spark, sf_dir):
    r = inspect_plan(R.q_pricing_summary(spark, sf_dir))
    scan = r.scan_for("lineitem")
    assert "l_shipdate" in scan["pushed"]
    assert r.sort_merge_joins == 0


def test_doc_stats_no_shuffle(spark, sf_dir):
    # per-document stats are a narrow map: no hash/range shuffle at any
    # scale. scale_input_parallelism may add AT MOST ONE round-robin
    # input repartition on tiny scans (a no-op once the scan is wider
    # than the cluster's default parallelism), and nothing else.
    text = formatted_plan(R.q_doc_stats(spark, sf_dir))
    assert "hashpartitioning" not in text
    assert "rangepartitioning" not in text
    assert text.count("RoundRobinPartitioning") <= 1


def test_range_join_is_equi_join_not_theta(spark, sf_dir):
    """The band join must compile to a hash-partitionable EQUI-join on
    (key, bucket) — a nested-loop theta join would be O(n·m) at scale."""
    r = inspect_plan(R.q_range_join(spark, sf_dir))
    assert r.nested_loop_joins == 0


def test_bucketed_pairs_is_equi_join(spark, sf_dir):
    """The corpus-scale pair generator must be a hash-partitionable
    equi-join on the LSH bucket — never a nested-loop all-pairs."""
    r = inspect_plan(R.q_embedding_pairs_bucketed(spark, sf_dir))
    assert r.nested_loop_joins == 0


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """The engine honors user strategy hints — the knob for overriding
    Catalyst when a dim is too big to broadcast or a shuffle-hash join
    beats sort-merge on a one-off: hint('merge') forces SMJ where the
    default is broadcast, hint('shuffle_hash') forces SHJ."""
    from uofi_payroll_etl_main_demo_spark.io.readers import read_parquet_table

    cust = read_parquet_table(spark, sf_dir, "customer")
    nat = read_parquet_table(spark, sf_dir, "nation")
    default = inspect_plan(cust.join(nat, cust.c_nationkey == nat.n_nationkey))
    # (AQE's formatted output can render the join in both the initial
    # and final plan sections — assert presence, not count)
    assert default.broadcast_joins >= 1 and default.sort_merge_joins == 0
    merged = inspect_plan(
        cust.join(nat.hint("merge"), cust.c_nationkey == nat.n_nationkey)
    )
    assert merged.sort_merge_joins >= 1 and merged.broadcast_joins == 0
    shj = cust.join(nat.hint("shuffle_hash"), cust.c_nationkey == nat.n_nationkey)
    from uofi_payroll_etl_main_demo_spark.plans import formatted_plan

    assert "ShuffledHashJoin" in formatted_plan(shj)


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin.
# Empty: every benchmarked pair generator is banded/bucketed; the
# quadratic exact_cosine_pairs baseline is test-only, not a registry
# query. Add entries here only with an explicit scale rationale.
_NESTED_LOOP_OK: set[str] = set()


def test_ivf_index_registry_query_reads_only_index(spark, sf_dir):
    """The persisted-index SERVING queries' plans read the index store,
    not the corpus: ext_ivf_index_query scans ONLY the index directory
    (training never re-runs in the serving plan) and the probe filter
    lands as a PARTITION filter on the inverted lists. The partial-
    probe serving path (nprobe < n_lists — the delisted registry row's
    shape) keeps the same pruning through the index handle directly."""
    r = inspect_plan(R.q_ivf_index_query(spark, sf_dir))
    assert r.scans, "expected parquet scans"
    for s in r.scans:
        assert "/spark_graft_indexes/" in s["location"] or "ivf8_" in s["location"], s
        assert "embeddings.parquet" not in s["location"], s
    index = R._ensure_sf_ivf_index(spark, sf_dir, n_centroids=8)
    plan = formatted_plan(index.search(R.QUERY_VEC, k=10, nprobe=3))
    assert "PartitionFilters" in plan
    i = plan.index("PartitionFilters")
    assert "centroid" in plan[i : i + 200]


def test_registry_wide_plan_lint(spark, sf_dir):
    """Every registry query's physical plan must be scale-shaped:

    - no CartesianProduct anywhere;
    - no BroadcastNestedLoopJoin outside the whitelisted exact-pair
      baselines;
    - every parquet scan of a >3-column table prunes columns unless the
      query genuinely consumes the full row.

    This is the lint that catches a silently-degraded plan when a query
    is edited — per-query pins above cover the load-bearing cases.
    """
    from uofi_payroll_etl_main_demo_spark.plans import formatted_plan

    wide_ok = {
        # full-width by design: contract projections / full-row dedups /
        # pipeline outputs re-emitting the source row
        "p2_output_contract", "d1_distinct_rows", "u1_union_by_name",
        "w2_dedup_keep_first", "d2_dedup_business_key", "u2_u3_u4_setops",
        "pipeline_payroll_shape", "ext_exact_dedup",
        "w5_topk_per_group", "w6_range_frame", "scd2_history",
        "samp_hash_sample", "samp_stratified", "sql_frontend_pricing",
        "stream_static_join",
        "pipeline_cpa_shape",  # full-row distinct stage consumes the row
    }
    failures = []
    for name, fn in R.queries().items():
        try:
            # build once and lint that frame: some builders run eager
            # work (store builds, bounded collects) on every call
            df = fn(spark, sf_dir)
            text = formatted_plan(df)
        except Exception as exc:  # pragma: no cover - lint must name it
            failures.append(f"{name}: plan build failed: {exc}")
            continue
        if "CartesianProduct" in text:
            failures.append(f"{name}: CartesianProduct in plan")
        if (
            "BroadcastNestedLoopJoin" in text
            and name not in _NESTED_LOOP_OK
        ):
            failures.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if name not in wide_ok:
            r = inspect_plan(df)
            for scan in r.scans:
                width = next(
                    (
                        w
                        for t, w in _TABLE_WIDTHS.items()
                        if f"{t}.parquet" in scan["location"]
                    ),
                    None,
                )
                if width and width > 3:
                    read = scan["read_schema"].count(":")
                    if read >= width:
                        failures.append(
                            f"{name}: full-width scan "
                            f"({read} cols) of {scan['location']}"
                        )
    assert not failures, "\n".join(failures)


_TABLE_WIDTHS = {
    "lineitem": 11, "orders": 6, "customer": 8, "part": 9,
    "supplier": 7, "nation": 4, "region": 3, "events": 6,
    "documents": 5, "embeddings": 3,
}


def test_count_min_sketch_single_corpus_scan(spark, sf_dir):
    # the sketch build must read the corpus ONCE (posexplode of the
    # depth counter coordinates, not one scan branch per hash row)
    from uofi_payroll_etl_main_demo_spark.ext.sketches import (
        count_min_sketch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = inspect_plan(count_min_sketch(docs, depth=4))
    doc_scans = [s for s in r.scans if "documents" in s["location"]]
    assert len(doc_scans) == 1
    # and the scan reads only the text column
    assert doc_scans[0]["read_schema"].count(":") == 1


def test_tfidf_returned_plan_reads_corpus_once(spark, sf_dir):
    # the returned frame joins tf with dfreq — BOTH must come from the
    # one persisted tf frame (InMemoryRelation), i.e. exactly one
    # underlying parquet scan of documents in the whole plan; N for the
    # idf is likewise taken off the persisted frame (semantic pin in
    # test_curation.py), so no plan anywhere re-scans the corpus
    from uofi_payroll_etl_main_demo_spark.ext.curation import (
        tfidf_top_terms,
    )

    import re

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = tfidf_top_terms(docs, top_n=2)
    text = formatted_plan(out)
    # the cached plan is RENDERED under each InMemoryTableScan, so the
    # string repeats — count DISTINCT scan node ids, not mentions
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", text))
    assert len(scan_ids) <= 1, text[:2000]
    assert "InMemoryTableScan" in text or "TableCacheQueryStage" in text


def test_vocab_panel_narrow_two_exchange(spark, sf_dir):
    """Vocabulary panel: narrow scan (text+source only) and exactly the
    partial→final agg exchanges — the cheapest whole-corpus scan shape."""
    r = inspect_plan(R.q_vocab_panel(spark, sf_dir))
    scan = r.scan_for("documents")
    assert scan is not None
    assert scan["read_schema"].count(":") == 2  # text, source only
    assert r.exchanges <= 2


def test_chunk_dedup_rewrite_scan_pruned(spark, sf_dir):
    """Corpus rewrite: reads only (doc_id, text); no cartesian shapes
    (the global dedup is one hash window + one reassembly agg)."""
    r = inspect_plan(R.q_chunk_dedup_rewrite(spark, sf_dir))
    plan = formatted_plan(R.q_chunk_dedup_rewrite(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for scan in r.scans:
        assert scan["read_schema"].count(":") <= 2


def test_text_embed_topk_is_narrow_partial_topk(spark, sf_dir):
    """Text→vector→top-k: no join anywhere (query vector inlined as a
    literal), scoring is a narrow map, and the k-selection runs as
    distributed TakeOrderedAndProject — no global sort."""
    plan = formatted_plan(R.q_text_embed_topk(spark, sf_dir))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_relational_composites_broadcast_everything(spark, sf_dir):
    """Q3/Q5-shaped composites: every dimension chain broadcasts, the
    fact side never sort-merges, and the Q3 top-k is distributed
    TakeOrdered (no global sort)."""
    df3 = R.q_shipping_priority(spark, sf_dir)
    r3 = inspect_plan(df3)
    assert r3.sort_merge_joins == 0
    assert r3.broadcast_joins >= 2
    assert "TakeOrderedAndProject" in formatted_plan(df3)
    r5 = inspect_plan(R.q_local_supplier_volume(spark, sf_dir))
    assert r5.sort_merge_joins == 0
    assert r5.broadcast_joins >= 3

"""Persisted IVF-PQ store: the COMPOSED billion-scale ANN layout
(coarse inverted lists + PQ codes of the residuals).

Pins the contracts the composition exists for:
  1. EXACTNESS — full probe + full rerank margin served from disk is
     the brute-force top-k bit-for-bit (single-query AND batched).
  2. BOTH REDUCTIONS IN THE PLAN — the ADC scan reads ONLY the codes
     table, with the probe filter applied as a PARTITION filter (the
     IVF store's pruning at the PQ store's bytes-per-vector).
  3. RESIDUALS EARN THEIR KEEP — at the same codebook budget, residual
     codes reconstruct the corpus with lower squared error than flat
     PQ codes (the reason IVF-PQ quantizes residuals at all).
  4. LIFECYCLE — add (idempotent replay), delete (erased from serving,
     pre-delete replays refused), compact (fold to base), ensure
     (zero-work load on match, rebuild on tag/param change).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
    ensure_ivfpq_index,
    ivfpq_index_add,
    ivfpq_index_build,
    ivfpq_index_compact,
    ivfpq_index_delete,
    ivfpq_index_load,
    ivfpq_index_stats,
    pq_index_build,
)
from uofi_payroll_etl_main_demo_spark.ext.similarity import brute_force_top_k
from uofi_payroll_etl_main_demo_spark.plans.inspect import (
    formatted_plan,
    inspect_plan,
)

QV = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
FULL = 1_000_000  # rerank margin >= corpus: exact two-stage serving



def _tp(spark, idx, table):
    """Epoch-resolved table path (r11 snapshot epochs): rewrites land
    in ``{table}__e{N}`` dirs, so direct-layout assertions must read
    the CURRENT epoch's dir, not the bare build-time one."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        _data_path,
        _read_meta,
    )

    return _data_path(idx, table, _read_meta(spark, idx))

def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _index_mtimes(index_dir: str) -> dict[str, float]:
    out = {}
    for root, _dirs, files in os.walk(index_dir):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _build(emb, idx, **kw):
    kw.setdefault("n_lists", 4)
    kw.setdefault("m", 8)
    kw.setdefault("n_centroids", 16)
    kw.setdefault("corpus_tag", "t1")
    ivfpq_index_build(emb, idx, **kw)


@pytest.fixture(scope="module")
def ivfpq4(spark, sf_dir, tmp_path_factory):
    """IVF-PQ store (4 lists) over the embeddings, shared by the tests
    that only read it."""
    idx = str(tmp_path_factory.mktemp("ivfpq4") / "ivfpq")
    _build(_emb(spark, sf_dir), idx)
    return idx


@pytest.fixture(scope="module")
def ivfpq8(spark, sf_dir, tmp_path_factory):
    """IVF-PQ store (8 lists), shared by the tests that only read it."""
    idx = str(tmp_path_factory.mktemp("ivfpq8") / "ivfpq")
    _build(_emb(spark, sf_dir), idx, n_lists=8)
    return idx


def test_ivfpq_roundtrip_exact_at_full_probe_full_margin(
    spark, sf_dir, ivfpq4
):
    idx = ivfpq4
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(
            QV, k=10, nprobe=4, candidates=FULL, rerank_corpus=emb
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(emb, QV, k=10).collect()
    ]
    assert got == want


def test_ivfpq_adc_plan_prunes_list_partitions_and_reads_only_codes(
    spark, ivfpq4
):
    """The ADC-only serve (no rerank) must touch NOTHING but the codes
    table, and the probe filter must prune list PARTITIONS at the
    parquet scan — the composed store's whole point: nprobe/n_lists of
    the files, at m ints per vector."""
    idx = ivfpq4
    out = ivfpq_index_load(spark, idx).search(QV, k=10, nprobe=2)
    report = inspect_plan(out)
    assert report.scans, "expected at least one parquet scan"
    for s in report.scans:
        assert idx in s["location"], f"non-index scan: {s['location']}"
        assert "embeddings.parquet" not in s["location"]
    plan = formatted_plan(out)
    assert "PartitionFilters" in plan
    lo = plan.index("PartitionFilters")
    assert "centroid" in plan[lo : lo + 200]


def test_ivfpq_filtered_search_exact(spark, sf_dir, ivfpq4):
    idx = ivfpq4
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    allowed = emb.filter(F.col("label") == 2).select("vec_id")
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(
            QV,
            k=10,
            nprobe=4,
            candidates=FULL,
            rerank_corpus=emb,
            filter_ids=allowed,
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(
            emb.filter(F.col("label") == 2), QV, k=10
        ).collect()
    ]
    assert got == want and got


def test_ivfpq_batch_matches_single_query_loop(spark, sf_dir, ivfpq4):
    """The batched serve must equal the single-query loop per query at
    matching full-probe/full-margin params (ranks live on the shared
    unrounded exact-rerank score, so the paths are bit-identical)."""
    idx = ivfpq4
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    batch = loaded.search_batch(
        queries, k=5, nprobe=4, candidates=FULL, rerank_corpus=emb
    ).collect()
    by_q: dict[int, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["score"], 9))
        )
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 5).collect()
    }
    for qid, qv in qvecs.items():
        single = [
            (r["vec_id"], round(r["score"], 9))
            for r in loaded.search(
                qv, k=5, nprobe=4, candidates=FULL, rerank_corpus=emb
            ).collect()
        ]
        got = sorted(by_q[qid], key=lambda t: (-t[1], t[0]))
        assert got == single, f"query {qid} diverged"


def test_ivfpq_batch_string_query_ids_ride_the_scan(spark, sf_dir, ivfpq4):
    """The query id rides the pruned ADC scan and the rerank tail as a
    column of its own: a string id keeps its type, and each query's
    rows equal the rows the same batch returns under its numeric id."""
    idx = ivfpq4
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    named = queries.select(
        F.concat(F.lit("q"), F.col("query_id")).alias("qname"), "qvec"
    )
    for kw in (
        {"nprobe": 2, "candidates": 50},
        {"nprobe": 4, "candidates": FULL, "rerank_corpus": emb},
    ):
        want = {
            (f"q{r['query_id']}", r["vec_id"], round(r["score"], 9))
            for r in loaded.search_batch(queries, k=5, **kw).collect()
        }
        out = loaded.search_batch(named, k=5, query_id_col="qname", **kw)
        assert out.schema["qname"].dataType.simpleString() == "string"
        got = {
            (r["qname"], r["vec_id"], round(r["score"], 9))
            for r in out.collect()
        }
        assert got == want and len(got) == 20


def test_ivfpq_batch_pruned_probe_partition_filter(spark, sf_dir, ivfpq8):
    """Partial-probe BATCHED serving (ADC only): the codes scan carries
    the probe union as a static partition filter."""
    idx = ivfpq8
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = loaded.search_batch(queries, k=5, nprobe=2, candidates=50)
    report = inspect_plan(out)
    for s in report.scans:
        assert idx in s["location"], f"non-index scan: {s['location']}"
    plan = formatted_plan(out)
    assert "PartitionFilters" in plan
    lo = plan.index("PartitionFilters")
    assert "centroid" in plan[lo : lo + 200]


def test_ivfpq_residual_codes_beat_flat_pq_reconstruction(
    spark, sf_dir, tmp_path, ivfpq4
):
    """The residual claim, measured: at the SAME codebook budget
    (m=8 × 16 codewords, same trainer, same sample law), decoding the
    IVF-PQ store (centroid + residual codeword) reconstructs the
    corpus with LOWER mean squared error than decoding the flat PQ
    store (codeword alone) — residuals concentrate near zero, so the
    codebooks spend their codewords on a tighter distribution."""
    import numpy as np

    emb = _emb(spark, sf_dir)
    ivfpq_dir = ivfpq4
    pq_dir = str(tmp_path / "pq")
    pq_index_build(emb, pq_dir, m=8, n_centroids=16, corpus_tag="t1")

    V = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def _codebooks(d):
        cb = np.empty((8, 16, 8))
        for r in spark.read.parquet(_tp(spark, d, "codebooks")).collect():
            cb[r["j"], r["c"]] = r["cvec"]
        return cb

    cb_r = _codebooks(ivfpq_dir)
    cb_f = _codebooks(pq_dir)
    C = np.stack(
        [
            np.asarray(r["cvec"])
            for r in spark.read.parquet(_tp(spark, ivfpq_dir, "centroids"))
            .orderBy("centroid")
            .collect()
        ]
    )

    def _decode(codes, cb):
        return np.concatenate([cb[j, codes[j]] for j in range(8)])

    err_r = err_f = 0.0
    rows_r = spark.read.parquet(_tp(spark, ivfpq_dir, "codes")).collect()
    rows_f = spark.read.parquet(_tp(spark, pq_dir, "codes")).collect()
    for r in rows_r:
        rec = C[r["centroid"]] + _decode(r["codes"], cb_r)
        err_r += float(((V[r["vec_id"]] - rec) ** 2).sum())
    for r in rows_f:
        rec = _decode(r["codes"], cb_f)
        err_f += float(((V[r["vec_id"]] - rec) ** 2).sum())
    assert len(rows_r) == len(rows_f) == len(V)
    assert err_r < err_f, f"residual MSE {err_r} !< flat MSE {err_f}"


def test_ivfpq_add_then_serve_exact_and_replay_idempotent(
    spark, sf_dir, tmp_path
):
    """Build on half the corpus, add the other half: membership is
    complete, a replayed add replaces its batch partitions instead of
    duplicating, and full-probe/full-margin serving is the exact brute
    force over the UNION (the rerank stage guarantees exactness no
    matter which quantizers stored a vector)."""
    idx = str(tmp_path / "ivfpq")
    emb = _emb(spark, sf_dir)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    _build(old, idx, corpus_tag="half")
    ivfpq_index_add(new, idx, new_corpus_tag="full", batch_id="b1")
    n = spark.read.parquet(_tp(spark, idx, "codes")).count()
    ivfpq_index_add(new, idx, new_corpus_tag="full", batch_id="b1")  # replay
    assert spark.read.parquet(_tp(spark, idx, "codes")).count() == n
    assert n == emb.count()
    loaded = ivfpq_index_load(spark, idx)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(
            QV, k=10, nprobe=4, candidates=FULL, rerank_corpus=emb
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(emb, QV, k=10).collect()
    ]
    assert got == want


def test_ivfpq_delete_erases_from_serving_and_refuses_replay(
    spark, sf_dir, tmp_path
):
    idx = str(tmp_path / "ivfpq")
    emb = _emb(spark, sf_dir)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    _build(old, idx, corpus_tag="half")
    ivfpq_index_add(new, idx, new_corpus_tag="full", batch_id="b1")
    dead = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    ivfpq_index_delete(spark, idx, dead, new_corpus_tag="post-del")
    survivors = emb.filter(F.col("vec_id") % 7 != 3)
    assert (
        spark.read.parquet(_tp(spark, idx, "codes")).count() == survivors.count()
    )
    loaded = ivfpq_index_load(spark, idx)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(
            QV, k=10, nprobe=4, candidates=FULL, rerank_corpus=survivors
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(survivors, QV, k=10).collect()
    ]
    assert got == want
    # the delete folded batches to base: a pre-delete replay must
    # refuse loudly instead of resurrecting deleted rows
    with pytest.raises(ValueError, match="folded"):
        ivfpq_index_add(new, idx, new_corpus_tag="full", batch_id="b1")


def test_ivfpq_compact_folds_batches_and_preserves_serving(
    spark, sf_dir, tmp_path
):
    idx = str(tmp_path / "ivfpq")
    emb = _emb(spark, sf_dir)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    _build(old, idx, corpus_tag="half")
    ivfpq_index_add(new, idx, new_corpus_tag="full", batch_id="b1")
    before = {
        r["centroid"]: r["n_vectors"]
        for r in ivfpq_index_stats(spark, idx).collect()
    }
    ivfpq_index_compact(spark, idx)
    stats = ivfpq_index_stats(spark, idx).collect()
    assert all(r["n_batches"] == 1 for r in stats)
    assert {r["centroid"]: r["n_vectors"] for r in stats} == before
    assert sum(before.values()) == emb.count()
    with pytest.raises(ValueError, match="folded"):
        ivfpq_index_add(new, idx, new_corpus_tag="again", batch_id="b1")


def test_ivfpq_ensure_loads_without_rebuild_then_rebuilds_on_change(
    spark, sf_dir, tmp_path
):
    idx = str(tmp_path / "ivfpq")
    emb = _emb(spark, sf_dir)
    ensure_ivfpq_index(emb, idx, corpus_tag="t1", n_lists=4)
    mt = _index_mtimes(idx)
    loaded = ensure_ivfpq_index(emb, idx, corpus_tag="t1", n_lists=4)
    assert _index_mtimes(idx) == mt, "matching ensure must not rewrite"
    assert loaded.meta["kind"] == "ivfpq"
    assert loaded.meta["n_lists"] == 4
    ensure_ivfpq_index(emb, idx, corpus_tag="t2", n_lists=4)
    assert _index_mtimes(idx) != mt, "tag change must rebuild"


def test_ivfpq_stats_cover_corpus(spark, sf_dir, ivfpq4):
    idx = ivfpq4
    emb = _emb(spark, sf_dir)
    stats = ivfpq_index_stats(spark, idx).collect()
    assert sum(r["n_vectors"] for r in stats) == emb.count()
    assert {r["centroid"] for r in stats} <= set(range(4))


def test_ivfpq_filtered_auto_widen_reaches_exact_brute_force(
    spark, sf_dir, ivfpq8
):
    """A selective predicate can starve BOTH reductions — the probe
    set (nearest lists exhausted) and the ADC candidate cut (allowed
    rows ranked below the cut). auto_widen doubles nprobe, then lifts
    the candidate budget once every list is probed, degrading to the
    exact filtered brute force; with k above the match count the full
    degrade path is forced."""
    idx = ivfpq8
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    allowed = emb.filter(F.col("vec_id") % 101 == 7).select("vec_id")
    n_allowed = allowed.count()
    assert 0 < n_allowed < 40
    out = loaded.search(
        QV,
        k=40,
        nprobe=1,
        candidates=5,  # starves the ADC cut too, not just the probe
        rerank_corpus=emb,
        filter_ids=allowed,
        auto_widen=True,
    )
    got = [(r["vec_id"], round(r["score"], 9)) for r in out.collect()]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(
            emb.join(allowed, "vec_id", "left_semi"), QV, k=40
        ).collect()
    ]
    assert got == want
    assert len(got) == n_allowed  # every allowed row surfaced


def _norm_skewed(emb):
    """Deliberately norm-varied corpus: scale each vector by
    1 + (vec_id % 7). Cosine ranking is SCALE-INVARIANT, so the exact
    top-k is unchanged — but a raw inner-product ADC is biased toward
    the up-scaled vectors by construction."""
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") * (1 + F.col("vec_id") % 7),
        ).alias("embedding"),
    )


def test_ivfpq_cosine_mode_exact_and_identity_keyed(spark, sf_dir, tmp_path):
    """normalize=True (the public-FAISS cosine recipe): full probe +
    full rerank margin is still the exact brute force (the rerank
    reads the RAW corpus; cosine is scale-invariant), and the flag is
    part of the ensure identity — a raw store must never serve a
    caller who asked for the unit-normalized space."""
    idx = str(tmp_path / "ivfpq")
    emb = _emb(spark, sf_dir)
    ensure_ivfpq_index(
        emb, idx, corpus_tag="t1", n_lists=4, normalize=True
    )
    loaded = ivfpq_index_load(spark, idx)
    assert loaded.meta["normalized"] is True
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(
            QV, k=10, nprobe=4, candidates=FULL, rerank_corpus=emb
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(emb, QV, k=10).collect()
    ]
    assert got == want
    mt = _index_mtimes(idx)
    ensure_ivfpq_index(emb, idx, corpus_tag="t1", n_lists=4, normalize=True)
    assert _index_mtimes(idx) == mt  # matching flag: pure load
    ensure_ivfpq_index(emb, idx, corpus_tag="t1", n_lists=4, normalize=False)
    assert _index_mtimes(idx) != mt  # flag flip: rebuild


def test_ivfpq_cosine_mode_fixes_norm_biased_candidate_cut(
    spark, sf_dir, tmp_path
):
    """On a norm-varied corpus the raw ADC ranks by inner product, so
    a bounded candidate budget is crowded by up-scaled vectors;
    cosine mode normalizes the stored space and the SAME budget
    preserves more of the true cosine top-k (everything here is
    deterministic — fixed data, fixed seeds — so the comparison is a
    fixed number, pinned as an inequality)."""
    emb = _norm_skewed(_emb(spark, sf_dir))
    truth = {r["vec_id"] for r in brute_force_top_k(emb, QV, k=10).collect()}
    rec = {}
    for norm in (False, True):
        idx = str(tmp_path / f"ivfpq_{norm}")
        ivfpq_index_build(
            emb, idx, n_lists=4, m=8, n_centroids=16, corpus_tag="t",
            normalize=norm,
        )
        got = {
            r["vec_id"]
            for r in ivfpq_index_load(spark, idx)
            .search(QV, k=50, nprobe=4, candidates=50)
            .collect()
        }
        rec[norm] = len(got & truth) / 10
    assert rec[True] > rec[False], rec


def test_ivfpq_cosine_mode_add_serves_exact(spark, sf_dir, tmp_path):
    """A cosine-mode store normalizes ADDED batches through the same
    ingest transform (the flag travels in meta, never per call):
    build-half + add-half at full margin is still the exact brute
    force over the union."""
    idx = str(tmp_path / "ivfpq")
    emb = _emb(spark, sf_dir)
    _build(
        emb.filter(F.col("vec_id") % 2 == 0), idx, corpus_tag="half",
        normalize=True,
    )
    ivfpq_index_add(
        emb.filter(F.col("vec_id") % 2 == 1),
        idx,
        new_corpus_tag="full",
        batch_id="b1",
    )
    loaded = ivfpq_index_load(spark, idx)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(
            QV, k=10, nprobe=4, candidates=FULL, rerank_corpus=emb
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(emb, QV, k=10).collect()
    ]
    assert got == want


def test_ivfpq_drift_stats_and_retrain_recover_adc_accuracy(
    spark, sf_dir, tmp_path
):
    """The composed store's drift lifecycle, mirroring the PQ family:
    (a) out-of-distribution adds show in the per-(batch, subspace)
    RESIDUAL error panel, (b) the shared needs_retrain law fires, (c)
    ivfpq_index_retrain re-fits BOTH quantizers on the current
    membership (fresh centroids ARE the rebalance — no separate op)
    and recovers ADC shortlist accuracy, (d) membership is bit-for-bit
    preserved (full-probe/full-margin == brute force over the union),
    and (e) pre-retrain replays refuse. Deterministic end-to-end, so
    the recall thresholds are replays, not tolerances (measured
    0.2 → 0.9)."""
    import numpy as np

    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ivfpq_index_drift_stats,
        ivfpq_index_retrain,
        needs_retrain,
    )

    idx = str(tmp_path / "ivfpq")
    emb = _emb(spark, sf_dir)
    drift = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") * 4.0 + 3.0
        )
        .cast("array<float>")
        .alias("embedding"),
    )
    union = emb.select("vec_id", "embedding").unionByName(drift)
    _build(emb, idx, corpus_tag="base")
    ivfpq_index_add(drift, idx, new_corpus_tag="drifted", batch_id="b1")

    panel = ivfpq_index_drift_stats(spark, idx, union).collect()
    assert len(panel) == 2 * 8  # (base, b1) × m subspaces
    assert needs_retrain(panel, max_ratio=2.0) == ["b1"]

    qd = [x * 4.0 + 3.0 for x in QV]
    urows = union.collect()
    uids = np.array([r["vec_id"] for r in urows])
    umat = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in urows]
    )
    ip = umat @ np.asarray(qd)
    want = set(uids[np.argsort(-ip)[:10]].tolist())

    def shortlist_recall():
        got = {
            r["vec_id"]
            for r in ivfpq_index_load(spark, idx)
            .search(qd, k=100, nprobe=4, candidates=100)
            .collect()
        }
        return len(got & want) / 10.0

    before = shortlist_recall()
    ivfpq_index_retrain(
        spark, idx, union, new_corpus_tag="retrained", train_sample=1000
    )
    after = shortlist_recall()
    assert before <= 0.3  # frozen quantizers can't resolve the region
    assert after >= 0.7  # both refit (measured 0.9)
    panel2 = ivfpq_index_drift_stats(spark, idx, union).collect()
    assert {r["batch"] for r in panel2} == {"base"}
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in ivfpq_index_load(spark, idx)
        .search(QV, k=10, nprobe=4, candidates=FULL, rerank_corpus=union)
        .collect()
    ]
    exact = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(union, QV, k=10).collect()
    ]
    assert got == exact
    meta = spark.read.parquet(f"{idx}/meta").collect()[0]
    assert meta["corpus_tag"] == "retrained"
    assert meta["train_sample"] == 1000
    with pytest.raises(ValueError, match="folded into base"):
        ivfpq_index_add(drift, idx, new_corpus_tag="again", batch_id="b1")


def test_ivfpq_skew_law_composes_with_stats(spark, sf_dir, tmp_path):
    """needs_rebalance is panel-shape-generic: it acts on
    ivfpq_index_stats rows unchanged, so a scheduler watches the
    composed store's list skew with the same law as IVF-Flat (repair =
    ivfpq_index_retrain — fresh centroids — instead of a list split)."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        needs_rebalance,
    )

    idx = str(tmp_path / "ivfpq")
    emb = _emb(spark, sf_dir)
    _build(emb, idx, corpus_tag="base")
    # clone one in-distribution vector 400×: every copy lands in ONE
    # frozen list (the adds-forever skew case)
    base = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    v0 = [float(x) for x in base[0][0]]
    skew = spark.range(400).select(
        (F.col("id") + 100_000).alias("vec_id"),
        F.concat(
            F.array(F.lit(v0[0]) + F.col("id").cast("double") * 1e-5),
            F.array(*[F.lit(x) for x in v0[1:]]),
        ).alias("embedding"),
    )
    ivfpq_index_add(skew, idx, new_corpus_tag="skewed", batch_id="b1")
    stats = ivfpq_index_stats(spark, idx).collect()
    hot = needs_rebalance(stats, max_ratio=2.0)
    assert len(hot) == 1


def test_semantic_dedup_index_matches_bruteforce_and_flags_both_ways(
    spark, sf_dir, tmp_path
):
    """Index-served incremental semantic dedup at full probe: each new
    vector's (nn_id, score) equals the brute-force nearest OLD
    neighbor under the scorer's rank law (6dp-rounded score DESC,
    id ASC), and the threshold flag fires both ways on the fixture."""
    import numpy as np

    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ivf_index_build,
        ivf_index_load,
        semantic_dedup_index,
    )

    emb = _emb(spark, sf_dir)
    old = emb.filter(F.col("vec_id") % 7 != 3)
    new = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id", "embedding")
    idx = str(tmp_path / "ivf")
    ivf_index_build(old, idx, n_centroids=4, corpus_tag="old")
    loaded = ivf_index_load(spark, idx)
    out = semantic_dedup_index(loaded, new, threshold=0.37).collect()
    got = {
        r["new_id"]: (r["nn_id"], r["score"], r["is_dup"]) for r in out
    }
    orows = old.select("vec_id", "embedding").collect()
    oids = np.array([r["vec_id"] for r in orows])
    omat = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in orows]
    )
    onorm = np.linalg.norm(omat, axis=1)
    for r in new.collect():
        q = np.asarray(r["embedding"], dtype=np.float64)
        cos = np.round((omat @ q) / (onorm * np.linalg.norm(q)), 6)
        # the rank law: rounded score DESC, id ASC
        order = np.lexsort((oids, -cos))
        best = order[0]
        want = (int(oids[best]), round(float(cos[best]), 6))
        assert got[r["vec_id"]][:2] == want
        assert got[r["vec_id"]][2] == (want[1] >= 0.37)
    flags = {v[2] for v in got.values()}
    assert flags == {True, False}


def test_ivfpq_batched_auto_widen_degrades_to_exact(spark, sf_dir, ivfpq8):
    """Batched auto-widen under an extreme predicate: every starved
    query re-runs together with doubled nprobe, then the ADC candidate
    budget lifts once every list is probed — per query the result must
    equal the exact filtered brute force (k above the match count
    forces the full two-leg path for EVERY query)."""
    idx = ivfpq8
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    allowed = emb.filter(F.col("vec_id") % 101 == 7).select("vec_id")
    n_allowed = allowed.count()
    assert 0 < n_allowed < 40
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = loaded.search_batch(
        queries,
        k=40,
        nprobe=1,
        candidates=5,
        rerank_corpus=emb,
        filter_ids=allowed,
        auto_widen=True,
    ).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["score"], 9))
        )
    filtered = emb.join(allowed, "vec_id", "left_semi")
    for r in queries.collect():
        want = [
            (x["vec_id"], round(x["score"], 9))
            for x in brute_force_top_k(
                filtered, [float(v) for v in r["qvec"]], k=40
            ).collect()
        ]
        got = sorted(by_q[r["query_id"]], key=lambda t: (-t[1], t[0]))
        assert got == want
        assert len(got) == n_allowed


def test_ivfpq_zero_norm_query_consistent_no_rows(spark, sf_dir, ivfpq4):
    """Zero-norm queries have undefined cosine: the single-query path
    emits NO rows (never k zero-ADC rows), matching the batched paths'
    live-mask skip — and under batched auto_widen the dead query is
    excluded from the starved set, so it cannot force the full
    widen-to-exhaustion sequence while the live queries serve."""
    idx = ivfpq4
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    zq = [0.0] * 64
    assert loaded.search(zq, k=5).count() == 0
    assert loaded.search(zq, k=5, rerank_corpus=emb).count() == 0
    live = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    dead = spark.createDataFrame([(999, zq)], schema=live.schema)
    out = loaded.search_batch(
        live.unionByName(dead),
        k=5,
        nprobe=1,
        candidates=5,
        rerank_corpus=emb,
        auto_widen=True,
    ).collect()
    assert {r["query_id"] for r in out} == {0, 1}
    assert all(len([r for r in out if r["query_id"] == q]) == 5
               for q in (0, 1))


def test_ivfpq_search_batch_pages_over_cap_batches(spark, sf_dir, ivfpq4):
    """Over-cap composed-store batches page themselves in bounded
    chunks (one job per chunk, union of results) — identical to the
    under-cap serve of the same batch at full probe + full margin."""
    idx = ivfpq4
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    queries = emb.filter(F.col("vec_id") < 9).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )

    def rows(df):
        return sorted(
            (r["query_id"], r["vec_id"], round(r["score"], 9))
            for r in df.collect()
        )

    paged = rows(
        loaded.search_batch(
            queries, k=3, nprobe=4, candidates=FULL,
            rerank_corpus=emb, max_queries=4,
        )
    )
    whole = rows(
        loaded.search_batch(
            queries, k=3, nprobe=4, candidates=FULL, rerank_corpus=emb,
        )
    )
    assert paged == whole and len(paged) == 27


def test_ivfpq_build_validates_before_invalidating(spark, sf_dir, tmp_path):
    """A build that cannot fit the coarse quantizer (corpus smaller
    than n_lists) must refuse BEFORE touching a previously valid
    serving index under the same dir — the pq_index_build
    validate-before-invalidate contract."""
    idx = str(tmp_path / "ivfpq")
    emb = _emb(spark, sf_dir)
    _build(emb, idx, n_lists=4)
    want = {
        r["vec_id"]
        for r in ivfpq_index_load(spark, idx)
        .search(QV, k=5, nprobe=4, candidates=FULL, rerank_corpus=emb)
        .collect()
    }
    tiny = emb.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="fewer than"):
        ivfpq_index_build(
            tiny, idx, n_lists=4, m=8, n_centroids=16, corpus_tag="t2"
        )
    # the old index still loads and serves identically
    got = {
        r["vec_id"]
        for r in ivfpq_index_load(spark, idx)
        .search(QV, k=5, nprobe=4, candidates=FULL, rerank_corpus=emb)
        .collect()
    }
    assert got == want


def test_ivfpq_auto_widen_composes_with_chunk_paging(
    spark, sf_dir, ivfpq8
):
    """The relational widen loop re-serves starved queries through the
    same batch entrypoint that pages over-cap frames — compose both:
    5 queries, max_queries=2 (every widening round must page 3 chunks),
    an extreme predicate forcing the full two-leg widen. Results must
    equal the exact filtered brute force per query, identical to the
    unpaged widen serve."""
    from uofi_payroll_etl_main_demo_spark.ext.similarity import (
        brute_force_top_k,
    )

    idx = ivfpq8
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    allowed = emb.filter(F.col("vec_id") % 101 == 7).select("vec_id")
    n_allowed = allowed.count()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )

    def rows(max_q):
        return sorted(
            (r["query_id"], r["vec_id"], round(r["score"], 9))
            for r in loaded.search_batch(
                queries,
                k=40,
                nprobe=1,
                candidates=5,
                rerank_corpus=emb,
                filter_ids=allowed,
                auto_widen=True,
                max_queries=max_q,
            ).collect()
        )

    paged = rows(2)
    unpaged = rows(65536)
    assert paged == unpaged
    filtered = emb.join(allowed, "vec_id", "left_semi")
    want = []
    for r in queries.collect():
        for x in brute_force_top_k(
            filtered, [float(v) for v in r["qvec"]], k=40
        ).collect():
            want.append((r["query_id"], x["vec_id"], round(x["score"], 9)))
    assert paged == sorted(want)
    assert len(paged) == 5 * n_allowed


def test_ivfpq_all_zero_norm_widen_batch_returns_empty(
    spark, sf_dir, ivfpq4
):
    """A NON-empty batch whose every query is zero-norm must return an
    empty frame under auto_widen (not raise the LUT paths' empty-batch
    refusal, and not spin widening rounds)."""
    idx = ivfpq4
    emb = _emb(spark, sf_dir)
    loaded = ivfpq_index_load(spark, idx)
    dead = spark.createDataFrame(
        [(7, [0.0] * 64), (8, [0.0] * 64)],
        "query_id long, qvec array<double>",
    )
    out = loaded.search_batch(
        dead, k=3, nprobe=1, candidates=5, rerank_corpus=emb,
        auto_widen=True,
    )
    assert out.count() == 0

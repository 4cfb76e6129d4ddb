"""Persisted ANN index lifecycle: build → save → load → query.

Pins the three contracts the lifecycle exists for:
  1. EXACTNESS — full-probe IVF / full-margin PQ served from disk
     return the brute-force top-k bit-for-bit.
  2. NO RETRAIN — a matching ensure-load does zero training work
     (index files untouched); a corpus-tag or param change rebuilds.
  3. INDEX-ONLY PLANS — the IVF serving plan scans only the index
     directory, with the probe filter applied as a PARTITION filter
     (the parquet scan prunes unprobed inverted lists' files).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
    corpus_fingerprint,
    ensure_ivf_index,
    ensure_pq_index,
    ivf_index_build,
    ivf_index_load,
    pq_index_build,
    pq_index_load,
)
from uofi_payroll_etl_main_demo_spark.ext.similarity import brute_force_top_k
from uofi_payroll_etl_main_demo_spark.plans.inspect import (
    formatted_plan,
    inspect_plan,
)

QV = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]



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


@pytest.fixture(scope="module")
def ivf4(spark, sf_dir, tmp_path_factory):
    """IVF store (4 lists) over the embeddings, shared by the tests
    that only read it."""
    idx = str(tmp_path_factory.mktemp("ivf4") / "ivf")
    ivf_index_build(_emb(spark, sf_dir), idx, n_centroids=4, corpus_tag="t1")
    return idx


@pytest.fixture(scope="module")
def ivf8(spark, sf_dir, tmp_path_factory):
    """IVF store (8 lists), shared by the tests that only read it."""
    idx = str(tmp_path_factory.mktemp("ivf8") / "ivf")
    ivf_index_build(_emb(spark, sf_dir), idx, n_centroids=8, corpus_tag="t")
    return idx


@pytest.fixture(scope="module")
def pq8x16(spark, sf_dir, tmp_path_factory):
    """PQ store (m=8, 16 centroids), shared by the tests that only read
    it."""
    idx = str(tmp_path_factory.mktemp("pq8x16") / "pq")
    pq_index_build(_emb(spark, sf_dir), idx, m=8, n_centroids=16, corpus_tag="t")
    return idx


def _index_mtimes(index_dir: str) -> dict[str, float]:
    out = {}
    for root, _dirs, files in os.walk(index_dir):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def test_ivf_index_roundtrip_exact_at_full_probe(spark, sf_dir, ivf4):
    emb = _emb(spark, sf_dir)
    loaded = ivf_index_load(spark, ivf4)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(QV, k=10, nprobe=4).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(emb, QV, k=10).collect()
    ]
    assert got == want


def test_ivf_serving_plan_reads_only_index_tables(spark, ivf4):
    out = ivf_index_load(spark, ivf4).search(QV, k=10, nprobe=2)
    report = inspect_plan(out)
    assert report.scans, "expected at least one parquet scan"
    for s in report.scans:
        assert ivf4 in s["location"], f"non-index scan: {s['location']}"
        assert "embeddings.parquet" not in s["location"]
    # the probe predicate must prune PARTITIONS (inverted lists), not
    # just filter rows post-scan
    plan = formatted_plan(out)
    assert "PartitionFilters" in plan
    lo = plan.index("PartitionFilters")
    assert "centroid" in plan[lo : lo + 200]


def test_ivf_filtered_search_exact_and_pruned(spark, sf_dir, ivf4):
    """Filtered serving: full probe + filter_ids == brute force over
    the filtered corpus, and the plan keeps BOTH the partition pruning
    (centroid) and the pre-score semi-join."""
    emb = _emb(spark, sf_dir)
    loaded = ivf_index_load(spark, ivf4)
    allowed = emb.filter(F.col("label") == 2).select("vec_id")
    out = loaded.search(QV, k=10, nprobe=4, filter_ids=allowed)
    got = [(r["vec_id"], round(r["score"], 9)) for r in out.collect()]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(
            emb.filter(F.col("label") == 2), QV, k=10
        ).collect()
    ]
    assert got == want and got
    # pruning survives the filter: a PARTIAL probe still shows
    # PartitionFilters on centroid with the semi-join applied
    plan = formatted_plan(
        loaded.search(QV, k=10, nprobe=2, filter_ids=allowed)
    )
    assert "PartitionFilters" in plan
    lo = plan.index("PartitionFilters")
    assert "centroid" in plan[lo : lo + 200]
    assert "LeftSemi" in plan


def test_ivf_filtered_auto_widen_reaches_k(spark, sf_dir, ivf8):
    """A selective predicate can exhaust the nearest lists; auto_widen
    doubles nprobe until k survivors exist (or every list is probed),
    and at the full-probe backstop the result is exactly the filtered
    brute force."""
    emb = _emb(spark, sf_dir)
    loaded = ivf_index_load(spark, ivf8)
    # ~1/25 of the corpus, and k = ALL of it: any legal stop point of
    # the widening loop must then have collected every allowed vector,
    # so the result equals the filtered brute force regardless of the
    # nprobe it stopped at — a crisp invariant for a data-adaptive loop
    allowed = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id")
    k = allowed.count()
    assert k >= 8
    narrow = loaded.search(QV, k=k, nprobe=1, filter_ids=allowed).collect()
    assert len(narrow) < k  # one list genuinely can't satisfy k
    widened = loaded.search(
        QV, k=k, nprobe=1, filter_ids=allowed, auto_widen=True
    ).collect()
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(
            emb.join(allowed, "vec_id", "left_semi"), QV, k=k
        ).collect()
    ]
    assert [(r["vec_id"], round(r["score"], 9)) for r in widened] == want


def test_ensure_ivf_loads_without_rebuilding(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "ivf")
    emb = _emb(spark, sf_dir)
    ensure_ivf_index(emb, idx, corpus_tag="snap1", n_centroids=4)
    before = _index_mtimes(idx)
    again = ensure_ivf_index(emb, idx, corpus_tag="snap1", n_centroids=4)
    assert _index_mtimes(idx) == before  # no file rewritten: pure load
    assert len(again.centroids) == 4
    # corpus-tag change (new snapshot) forces a rebuild
    ensure_ivf_index(emb, idx, corpus_tag="snap2", n_centroids=4)
    assert _index_mtimes(idx) != before


def test_ivf_probe_subset_of_full(spark, sf_dir, ivf4):
    """nprobe<full returns a subset of the corpus ranked by true
    cosine — every returned row's score matches the exact score, and
    full probe recovers the true top-k (recall trade is only WHICH
    rows survive the pruning)."""
    emb = _emb(spark, sf_dir)
    loaded = ivf_index_load(spark, ivf4)
    exact = {
        r["vec_id"]: round(r["score"], 9)
        for r in brute_force_top_k(emb, QV, k=10_000).collect()
    }
    probed = loaded.search(QV, k=10, nprobe=1).collect()
    assert 0 < len(probed) <= 10
    for r in probed:
        assert round(r["score"], 9) == exact[r["vec_id"]]


def test_pq_index_roundtrip_exact_at_full_margin(spark, sf_dir, pq8x16):
    emb = _emb(spark, sf_dir)
    loaded = pq_index_load(spark, pq8x16)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(
            QV, k=10, candidates=1_000_000, rerank_corpus=emb
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(emb, QV, k=10).collect()
    ]
    assert got == want


def test_pq_codes_table_shape_and_adc_only_path(spark, sf_dir, pq8x16):
    emb = _emb(spark, sf_dir)
    codes = spark.read.parquet(_tp(spark, pq8x16, "codes"))
    n = emb.count()
    assert codes.count() == n  # every vector encoded
    bad = codes.filter(
        (F.size("codes") != 8)
        | F.exists("codes", lambda c: (c < 0) | (c >= 16))
    ).count()
    assert bad == 0
    # index-only ADC query: no corpus touch, approximate scores
    out = pq_index_load(spark, pq8x16).search(QV, k=5, candidates=50)
    report = inspect_plan(out)
    for s in report.scans:
        assert pq8x16 in s["location"], f"non-index scan: {s['location']}"
    assert out.count() == 5


def test_ensure_pq_loads_without_rebuilding(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "pq")
    emb = _emb(spark, sf_dir)
    ensure_pq_index(emb, idx, corpus_tag="snap1", m=8, n_centroids=16)
    before = _index_mtimes(idx)
    ensure_pq_index(emb, idx, corpus_tag="snap1", m=8, n_centroids=16)
    assert _index_mtimes(idx) == before
    # an m change is a different index geometry: rebuild
    ensure_pq_index(emb, idx, corpus_tag="snap1", m=4, n_centroids=16)
    assert _index_mtimes(idx) != before


def test_ivf_index_add_grows_lists_without_retrain(spark, sf_dir, tmp_path):
    """The CDC path: build on half the corpus, ivf_index_add the other
    half — centroids unchanged (no retrain), the added vectors land in
    Euclidean-nearest lists (same metric as the build's KMeans), and a
    full-probe search over the grown index equals brute force over the
    WHOLE corpus. The refreshed corpus_tag makes ensure_ivf_index load,
    not rebuild."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ivf_index_add,
    )

    idx = str(tmp_path / "ivf")
    emb = _emb(spark, sf_dir)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    ivf_index_build(old, idx, n_centroids=4, corpus_tag="half")
    cents_before = spark.read.parquet(_tp(spark, idx, "centroids")).collect()
    ivf_index_add(new, idx, new_corpus_tag="full")
    assert spark.read.parquet(_tp(spark, idx, "centroids")).collect() == cents_before
    loaded = ensure_ivf_index(emb, idx, corpus_tag="full", n_centroids=4)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(QV, k=10, nprobe=4).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(emb, QV, k=10).collect()
    ]
    assert got == want
    # every added vector is in its Euclidean-nearest list
    import numpy as np

    C = np.array([r["cvec"] for r in sorted(cents_before, key=lambda r: r["centroid"])])
    rows = (
        spark.read.parquet(_tp(spark, idx, "assigned"))
        .filter(F.col("vec_id") % 2 == 1)
        .collect()
    )
    assert rows
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        d2 = ((C - v) ** 2).sum(axis=1)
        assert r["centroid"] == int(d2.argmin())


def test_pq_index_add_grows_codes_without_retrain(spark, sf_dir, tmp_path):
    """Build on half the corpus, pq_index_add the other half: codebooks
    unchanged (no retrain), added vectors encode through the SAME
    shared encoder, and a full-margin reranked search over the grown
    index equals brute force over the whole corpus. Replay with the
    same batch_id replaces instead of duplicating."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import pq_index_add

    idx = str(tmp_path / "pq")
    emb = _emb(spark, sf_dir)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    pq_index_build(old, idx, m=8, n_centroids=16, corpus_tag="half")
    cbs_before = sorted(
        (r["j"], r["c"], tuple(r["cvec"]))
        for r in spark.read.parquet(_tp(spark, idx, "codebooks")).collect()
    )
    pq_index_add(new, idx, new_corpus_tag="full", batch_id="b1")
    assert (
        sorted(
            (r["j"], r["c"], tuple(r["cvec"]))
            for r in spark.read.parquet(_tp(spark, idx, "codebooks")).collect()
        )
        == cbs_before
    )
    n = spark.read.parquet(_tp(spark, idx, "codes")).count()
    assert n == emb.count()
    pq_index_add(new, idx, new_corpus_tag="full", batch_id="b1")  # replay
    assert spark.read.parquet(_tp(spark, idx, "codes")).count() == n
    loaded = pq_index_load(spark, idx)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(
            QV, k=10, candidates=1_000_000, rerank_corpus=emb
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(emb, QV, k=10).collect()
    ]
    assert got == want
    # a dimension mismatch refuses before touching the store
    import pytest as _pytest

    bad = new.select(
        "vec_id", F.slice(F.col("embedding"), 1, 8).alias("embedding")
    )
    with _pytest.raises(ValueError, match="dimension"):
        pq_index_add(bad, idx, new_corpus_tag="x", batch_id="b2")


def test_pq_filtered_search_exact(spark, sf_dir, pq8x16):
    """filter_ids semi-joins the codes before the ADC scan; at full
    candidate margin the reranked answer equals filtered brute force."""
    emb = _emb(spark, sf_dir)
    loaded = pq_index_load(spark, pq8x16)
    allowed = emb.filter(F.col("label") == 2).select("vec_id")
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(
            QV,
            k=10,
            candidates=1_000_000,
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


def test_index_kind_and_meta_guards(spark, ivf4):
    with pytest.raises(ValueError, match="not pq"):
        pq_index_load(spark, ivf4)


def test_corpus_fingerprint_tracks_file_state(tmp_path):
    p = tmp_path / "corpus.parquet"
    p.write_bytes(b"aaa")
    t1 = corpus_fingerprint(str(p))
    assert t1 == corpus_fingerprint(str(p))  # stable while unchanged
    os.utime(p, ns=(1, 2))  # touched file = new snapshot
    assert corpus_fingerprint(str(p)) != t1


def test_corpus_fingerprint_sees_inside_directories(tmp_path):
    """A parquet DIRECTORY rewritten in place must change the tag even
    though the directory's own stat may not change (ADVICE r7)."""
    d = tmp_path / "corpus.parquet"
    d.mkdir()
    part = d / "part-00000.parquet"
    part.write_bytes(b"v1-bytes")
    t1 = corpus_fingerprint(str(d))
    assert t1 == corpus_fingerprint(str(d))
    os.utime(part, ns=(7, 7))  # part file rewritten in place
    t2 = corpus_fingerprint(str(d))
    assert t2 != t1
    (d / "part-00001.parquet").write_bytes(b"v2")  # new part file
    assert corpus_fingerprint(str(d)) != t2


def test_ivf_index_add_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Replaying the same add (same batch_id) replaces that batch's
    list partitions instead of duplicating vectors."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import ivf_index_add

    idx = str(tmp_path / "ivf")
    emb = _emb(spark, sf_dir)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    ivf_index_build(old, idx, n_centroids=4, corpus_tag="half")
    ivf_index_add(new, idx, new_corpus_tag="full", batch_id="b1")
    n = spark.read.parquet(_tp(spark, idx, "assigned")).count()
    ivf_index_add(new, idx, new_corpus_tag="full", batch_id="b1")  # replay
    assert spark.read.parquet(_tp(spark, idx, "assigned")).count() == n
    assert n == emb.count()


def _skew_batch(spark, emb, n=400):
    """A deterministic add batch of near-identical vectors (tiny
    per-row jitter on the first element of vec 0's embedding) — every
    row lands in the same inverted list, the adds-forever drift case."""
    base = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    v0 = [float(x) for x in base[0][0]]
    return spark.range(n).select(
        (F.col("id") + 100_000).alias("vec_id"),
        F.concat(
            F.array(F.lit(v0[0]) + F.col("id").cast("double") * 1e-5),
            F.array(*[F.lit(x) for x in v0[1:]]),
        )
        # match the store's element type (float) so the exact-oracle
        # comparison scores the same bits the index serves
        .cast("array<float>")
        .alias("embedding"),
    )


def test_ivf_rebalance_splits_skewed_list_and_preserves_recall(
    spark, sf_dir, tmp_path
):
    """Skewed adds concentrate in one frozen list; rebalance must (a)
    detect it via the needs_rebalance law, (b) split it into
    sub-lists so the max/mean ratio recovers, (c) keep EVERY stored
    vector (full-probe search stays the exact brute force over the
    union corpus), and (d) refuse pre-rebalance batch replays."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ivf_index_add,
        ivf_index_rebalance,
        ivf_index_stats,
        needs_rebalance,
    )
    from uofi_payroll_etl_main_demo_spark.functions.vectors import (
        cosine_similarity,
    )

    idx = str(tmp_path / "ivf")
    emb = _emb(spark, sf_dir)
    ivf_index_build(emb, idx, n_centroids=4, corpus_tag="base")
    skew = _skew_batch(spark, emb, n=400)
    ivf_index_add(skew, idx, new_corpus_tag="skewed", batch_id="b1")
    stats = ivf_index_stats(spark, idx).collect()
    hot = needs_rebalance(stats, max_ratio=2.0)
    assert len(hot) == 1  # the law sees the drift
    before_max = max(r["n_vectors"] for r in stats)
    split = ivf_index_rebalance(spark, idx, max_ratio=2.0)
    assert split == hot
    loaded = ivf_index_load(spark, idx)
    n_lists = len(loaded.centroids)
    assert n_lists > 4  # sub-lists appended, ids stay 0..N-1
    after = {
        r["centroid"]: r["n_vectors"]
        for r in ivf_index_stats(spark, idx).collect()
    }
    assert set(after) <= set(range(n_lists))
    assert max(after.values()) < before_max  # the hot list shrank
    # every vector kept, none duplicated
    assert sum(after.values()) == emb.count() + 400
    # full probe == exact brute force over the union corpus
    union = emb.select("vec_id", "embedding").unionByName(skew)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(QV, k=10, nprobe=n_lists).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in union.select(
            "vec_id",
            cosine_similarity(
                "embedding", F.lit(QV).cast("array<double>")
            ).alias("score"),
        ).orderBy(F.desc("score"), "vec_id").limit(10).collect()
    ]
    assert got == want
    # pre-rebalance replay must refuse (rows were folded to base)
    with pytest.raises(ValueError, match="folded into base"):
        ivf_index_add(skew, idx, new_corpus_tag="again", batch_id="b1")
    # a FRESH add still works and assigns over the grown centroid set
    more = _skew_batch(spark, emb, n=10).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    )
    ivf_index_add(more, idx, new_corpus_tag="more", batch_id="b2")
    assert spark.read.parquet(_tp(spark, idx, "assigned")).count() == (
        emb.count() + 410
    )
    # ensure with the ORIGINAL build params still LOADS (rebalance
    # keeps the training identity; a rebuild would reset the list
    # count and silently undo the maintenance)
    again = ensure_ivf_index(
        emb, str(tmp_path / "ivf"), corpus_tag="more", n_centroids=4
    )
    assert len(again.centroids) == n_lists


def test_ivf_rebalance_noop_on_healthy_index(spark, sf_dir, tmp_path):
    """A balanced index is untouched: empty return, same files."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ivf_index_rebalance,
    )

    idx = str(tmp_path / "ivf")
    ivf_index_build(_emb(spark, sf_dir), idx, n_centroids=4,
                    corpus_tag="base")
    mtimes = {
        os.path.join(r, f): os.stat(os.path.join(r, f)).st_mtime_ns
        for r, _d, fs in os.walk(idx) for f in fs
    }
    assert ivf_index_rebalance(spark, idx, max_ratio=4.0) == []
    assert mtimes == {
        os.path.join(r, f): os.stat(os.path.join(r, f)).st_mtime_ns
        for r, _d, fs in os.walk(idx) for f in fs
    }


def test_assign_centroids_join_path_matches_literal(spark, sf_dir, monkeypatch):
    """The broadcast-join assignment strategy (large centroid counts,
    where the enumerated-literal expression's per-row cost and codegen
    size grow linearly) must file every vector into EXACTLY the list
    the literal law picks — one assignment law, two physical plans."""
    import uofi_payroll_etl_main_demo_spark.ext.ann_index as ai

    emb = _emb(spark, sf_dir).limit(200)
    centroids = [
        [((i * 13 + j * 7) % 17 - 8) / 10.0 for j in range(64)]
        for i in range(6)
    ]
    lit = {
        r["vec_id"]: r["centroid"]
        for r in ai._assign_centroids(
            emb, centroids, "embedding", "vec_id"
        ).collect()
    }
    monkeypatch.setattr(ai, "_LITERAL_ASSIGN_MAX", 2)
    joined = {
        r["vec_id"]: r["centroid"]
        for r in ai._assign_centroids(
            emb, centroids, "embedding", "vec_id"
        ).collect()
    }
    assert lit == joined and len(lit) == 200


def _qframe(emb, n):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def test_ivf_search_batch_matches_single_query_loop(spark, sf_dir, ivf8):
    """Batched serving is the single-query law, vectorized: at the
    SAME pruned nprobe, every query's batch rows equal its one-job
    search() rows bit-for-bit (probe ranking shares the rank_centroids
    arithmetic), including under a metadata filter."""
    emb = _emb(spark, sf_dir)
    index = ivf_index_load(spark, ivf8)
    queries = _qframe(emb, 6)
    got = {
        (r["query_id"], r["vec_id"]): round(r["score"], 9)
        for r in index.search_batch(queries, k=5, nprobe=3).collect()
    }
    want = {}
    for qr in queries.collect():
        for r in index.search(list(qr["qvec"]), k=5, nprobe=3).collect():
            want[(qr["query_id"], r["vec_id"])] = round(r["score"], 9)
    assert got == want and len(got) == 30
    allowed = emb.filter(F.col("label") == 2).select("vec_id")
    gotf = {
        (r["query_id"], r["vec_id"]): round(r["score"], 9)
        for r in index.search_batch(
            queries, k=5, nprobe=8, filter_ids=allowed
        ).collect()
    }
    wantf = {}
    for qr in queries.collect():
        for r in index.search(
            list(qr["qvec"]), k=5, nprobe=8, filter_ids=allowed
        ).collect():
            wantf[(qr["query_id"], r["vec_id"])] = round(r["score"], 9)
    assert gotf == wantf


def test_pq_search_batch_matches_single_query_loop(spark, sf_dir, pq8x16):
    """PQ batched ADC scan + batched rerank equal the per-query loop
    (shared LUT arithmetic; per-query candidate budgets independent)."""
    emb = _emb(spark, sf_dir)
    index = pq_index_load(spark, pq8x16)
    queries = _qframe(emb, 6)
    qrows = queries.collect()
    got = {
        (r["query_id"], r["vec_id"]): round(r["score"], 9)
        for r in index.search_batch(queries, k=5, candidates=50).collect()
    }
    want = {}
    for qr in qrows:
        for r in index.search(list(qr["qvec"]), k=5, candidates=50).collect():
            want[(qr["query_id"], r["vec_id"])] = round(r["score"], 9)
    assert got == want and len(got) == 30
    gotr = {
        (r["query_id"], r["vec_id"]): round(r["score"], 9)
        for r in index.search_batch(
            queries, k=5, candidates=10**6, rerank_corpus=emb
        ).collect()
    }
    wantr = {}
    for qr in qrows:
        for r in index.search(
            list(qr["qvec"]), k=5, candidates=10**6, rerank_corpus=emb
        ).collect():
            wantr[(qr["query_id"], r["vec_id"])] = round(r["score"], 9)
    assert gotr == wantr


def test_pq_search_batch_string_query_ids_ride_the_scan(
    spark, sf_dir, pq8x16
):
    """The query id rides the ADC scan and the rerank tail as a column
    of its own: a string id keeps its type, and each query's rows equal
    the rows the same batch returns under its numeric id."""
    emb = _emb(spark, sf_dir)
    index = pq_index_load(spark, pq8x16)
    queries = _qframe(emb, 4)
    named = queries.select(
        F.concat(F.lit("q"), F.col("query_id")).alias("qname"), "qvec"
    )
    for kw in (
        {"candidates": 50},
        {"candidates": 10**6, "rerank_corpus": emb},
    ):
        want = {
            (f"q{r['query_id']}", r["vec_id"], round(r["score"], 9))
            for r in index.search_batch(queries, k=5, **kw).collect()
        }
        out = index.search_batch(named, k=5, query_id_col="qname", **kw)
        assert out.schema["qname"].dataType.simpleString() == "string"
        got = {
            (r["qname"], r["vec_id"], round(r["score"], 9))
            for r in out.collect()
        }
        assert got == want and len(got) == 20


def _assert_centroid_partition_filter(plan):
    """The ``assigned`` list scan carries the probe union as a static
    ``centroid`` partition filter."""
    scan = plan.index("Scan parquet")
    assert "assigned" in plan[scan : plan.index("Location:", scan) + 300]
    lo = plan.index("PartitionFilters", scan)
    assert "centroid" in plan[lo : lo + 200]


def test_ivf_batch_one_plan_with_partition_pruning(spark, sf_dir, ivf8):
    """The batched serve is ONE action whose job count does NOT grow
    with the query count (the whole point vs the per-query loop), and
    the inverted-list scan carries the probe union as a static
    ``centroid`` partition filter — the single-query path's partition
    pruning, preserved under batching."""
    emb = _emb(spark, sf_dir)
    index = ivf_index_load(spark, ivf8)
    tracker = spark.sparkContext.statusTracker()

    def njobs(tag, df):
        spark.sparkContext.setJobGroup(tag, tag)
        try:
            df.collect()
        finally:
            spark.sparkContext.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(tag))

    n1 = njobs("bat1", index.search_batch(_qframe(emb, 1), k=5, nprobe=3))
    n50 = njobs("bat50", index.search_batch(_qframe(emb, 50), k=5, nprobe=3))
    assert n1 == n50, (n1, n50)
    plan = formatted_plan(index.search_batch(_qframe(emb, 50), k=5, nprobe=3))
    _assert_centroid_partition_filter(plan)
    # only the inverted lists are scanned (the query batch is collected
    # into the scorer's closure), so pin locations, not node counts
    locs = {
        line.split("[")[1].split("]")[0]
        for line in plan.splitlines()
        if line.startswith("Location:")
    }
    for loc in locs:
        assert "assigned" in loc or "embeddings" in loc, loc


def test_pq_search_batch_pages_over_cap_batches(spark, sf_dir, pq8x16):
    """An over-cap batch no longer refuses: the serving layer pages
    ``max_queries``-sized chunks itself (one job per chunk, union of
    results), and the result is IDENTICAL to manual chunking — which
    per-query top-k guarantees by construction. 10 queries at
    max_queries=4 is a 3-chunk serve. Empty batches still refuse."""
    emb = _emb(spark, sf_dir)
    index = pq_index_load(spark, pq8x16)
    queries = _qframe(emb, 10)

    def rows(df):
        return sorted(
            (r["query_id"], r["vec_id"], round(r["score"], 9))
            for r in df.collect()
        )

    paged = rows(
        index.search_batch(
            queries, k=3, rerank_corpus=emb, max_queries=4
        )
    )
    manual = []
    for lo, hi in [(0, 4), (4, 8), (8, 10)]:
        chunk = queries.filter(
            (F.col("query_id") >= lo) & (F.col("query_id") < hi)
        )
        manual.extend(
            rows(index.search_batch(chunk, k=3, rerank_corpus=emb))
        )
    assert paged == sorted(manual) and len(paged) == 30
    with pytest.raises(ValueError, match="empty query batch"):
        index.search_batch(_qframe(emb, 0), k=2)
    # duplicate query ids in an over-cap batch refuse loudly: paged
    # serving computes per-chunk top-k, so a duplicate id straddling a
    # chunk boundary would fragment its top-k (ADVICE r10)
    dup = queries.unionByName(queries.limit(1))
    with pytest.raises(ValueError, match="duplicate query ids"):
        index.search_batch(
            dup, k=3, rerank_corpus=emb, max_queries=4
        )


def _drift_batch(spark, emb, scale=4.0, shift=3.0, offset=100_000):
    """A deterministic OUT-OF-DISTRIBUTION add batch (affine-warped
    copies of the corpus): every subvector lands far from any
    build-time codebook centroid, the PQ drift case — where the IVF
    drift fixture (_skew_batch) clones an in-distribution vector and
    so would show NO quantization-error growth."""
    return emb.select(
        (F.col("vec_id") + offset).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: x.cast("double") * F.lit(scale) + F.lit(shift),
        )
        .cast("array<float>")
        .alias("embedding"),
    )


def test_pq_drift_stats_and_retrain_recover_adc_accuracy(
    spark, sf_dir, tmp_path
):
    """Drifted adds encode against frozen codebooks; the lifecycle must
    (a) see the drift in the per-(batch, subspace) error panel, (b)
    fire the needs_retrain law, (c) recover ADC accuracy by retraining
    on the current membership, resetting the baseline, and (d) refuse
    pre-retrain batch replays — the codebook twin of the IVF rebalance
    family."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        needs_retrain,
        pq_index_add,
        pq_index_drift_stats,
        pq_index_retrain,
    )

    idx = str(tmp_path / "pq")
    emb = _emb(spark, sf_dir)
    drift = _drift_batch(spark, emb)
    union = emb.select("vec_id", "embedding").unionByName(drift)
    pq_index_build(emb, idx, m=8, n_centroids=16, corpus_tag="base")
    pq_index_add(drift, idx, new_corpus_tag="drifted", batch_id="b1")

    panel = pq_index_drift_stats(spark, idx, union).collect()
    assert len(panel) == 2 * 8  # (base, b1) × m subspaces
    mse = {}
    for r in panel:
        acc = mse.setdefault(r["batch"], [0.0, 0.0])
        acc[0] += r["mse"]
        acc[1] += 1
    assert mse["b1"][0] / mse["b1"][1] > 2.0 * mse["base"][0] / mse["base"][1]
    assert needs_retrain(panel, max_ratio=2.0) == ["b1"]

    # ADC shortlist accuracy for a query in the DRIFTED region: how
    # much of the exact INNER-PRODUCT top-10 (the metric ADC
    # approximates — cosine needs the rerank stage) a 100-candidate
    # shortlist recovers. Deterministic end-to-end (fixed data, fixed
    # trainer), so the thresholds are exact replays, not tolerances.
    import numpy as np

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
            for r in pq_index_load(spark, idx)
            .search(qd, k=100, candidates=100)
            .collect()
        }
        return len(got & want) / 10.0

    before = shortlist_recall()
    pq_index_retrain(
        spark, idx, union, new_corpus_tag="retrained", train_sample=1000
    )
    after = shortlist_recall()
    assert before <= 0.3  # frozen codebooks can't resolve the region
    assert after >= 0.5  # retrained codebooks cover it (measured 0.6)
    # the retrained panel is ALL base (batches folded) and healthy
    panel2 = pq_index_drift_stats(spark, idx, union).collect()
    assert {r["batch"] for r in panel2} == {"base"}
    # membership unchanged: full-margin rerank stays the exact brute
    # force over the union corpus
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in pq_index_load(spark, idx)
        .search(QV, k=10, candidates=10**6, rerank_corpus=union)
        .collect()
    ]
    exact = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(union, QV, k=10).collect()
    ]
    assert got == exact
    # meta records the retrain's training identity
    meta = spark.read.parquet(f"{idx}/meta").collect()[0]
    assert meta["corpus_tag"] == "retrained"
    assert meta["train_sample"] == 1000
    # pre-retrain replay must refuse (rows were folded to base)
    with pytest.raises(ValueError, match="folded into base"):
        pq_index_add(drift, idx, new_corpus_tag="again", batch_id="b1")


def test_pq_retrain_preserves_deletes_and_coverage_guards(
    spark, sf_dir, tmp_path
):
    """A retrain re-encodes EXACTLY the current membership: deleted ids
    stay deleted (never resurrected from the corpus frame), an
    under-covering corpus refuses (silent erasure), a duplicated-id
    corpus refuses (two codes per id)."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        pq_index_delete,
        pq_index_retrain,
    )

    idx = str(tmp_path / "pq")
    emb = _emb(spark, sf_dir)
    pq_index_build(emb, idx, m=8, n_centroids=16, corpus_tag="t0")
    pq_index_delete(
        spark,
        idx,
        emb.filter(F.col("vec_id") % 7 == 3).select("vec_id"),
        new_corpus_tag="t1",
    )
    survivors = emb.filter(F.col("vec_id") % 7 != 3)
    n_surv = survivors.count()
    # the corpus frame still holds the deleted rows — retrain must
    # re-encode only the store's membership
    pq_index_retrain(spark, idx, emb, new_corpus_tag="t2")
    ids = {
        r["vec_id"]
        for r in spark.read.parquet(_tp(spark, idx, "codes")).select("vec_id").collect()
    }
    assert len(ids) == n_surv and all(v % 7 != 3 for v in ids)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in pq_index_load(spark, idx)
        .search(QV, k=10, candidates=10**6, rerank_corpus=emb)
        .collect()
    ]
    exact = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(survivors, QV, k=10).collect()
    ]
    assert got == exact
    with pytest.raises(ValueError, match="covers"):
        pq_index_retrain(
            spark,
            idx,
            emb.filter(F.col("vec_id") % 2 == 0),
            new_corpus_tag="t3",
        )
    with pytest.raises(ValueError, match="duplicate"):
        pq_index_retrain(
            spark, idx, emb.unionByName(emb), new_corpus_tag="t4"
        )


def test_needs_retrain_requires_base_reference(spark, sf_dir, tmp_path):
    """After a compaction folds the training snapshot away, the law has
    no calibration-free reference and must refuse rather than compare
    drifted batches against each other."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import needs_retrain

    rows = [
        {"batch": "b1", "j": 0, "n_vectors": 10, "mse": 1.0},
        {"batch": "b2", "j": 0, "n_vectors": 10, "mse": 9.0},
    ]
    with pytest.raises(ValueError, match="base"):
        needs_retrain(rows)


def test_ivf_search_batch_auto_widen_matches_filtered_brute_force(
    spark, sf_dir, ivf8
):
    """Batched recall backstop: under an extreme predicate with k above
    the match count, widening is forced to full probe and every
    query's rows equal the single-query auto-widen path (which the
    oracle already proves equals the exact filtered brute force)."""
    emb = _emb(spark, sf_dir)
    index = ivf_index_load(spark, ivf8)
    allowed = emb.filter(F.col("vec_id") % 101 == 7).select("vec_id")
    queries = _qframe(emb, 5)
    got = sorted(
        (r["query_id"], r["vec_id"], round(r["score"], 9))
        for r in index.search_batch(
            queries,
            k=40,
            nprobe=1,
            filter_ids=allowed,
            auto_widen=True,
        ).collect()
    )
    want = []
    for qr in queries.collect():
        for r in index.search(
            list(qr["qvec"]),
            k=40,
            nprobe=1,
            filter_ids=allowed,
            auto_widen=True,
        ).collect():
            want.append(
                (qr["query_id"], r["vec_id"], round(r["score"], 9))
            )
    assert got == sorted(want) and got
    # every allowed vector surfaced for every query (k > match count
    # forces full probe)
    n_allowed = allowed.count()
    from collections import Counter

    per_q = Counter(q for q, _v, _s in got)
    assert all(c == n_allowed for c in per_q.values())


def test_hard_negatives_index_full_probe_is_label_filtered_brute_force(
    spark, sf_dir, ivf8
):
    """Index-backed hard-negative mining at full probe equals the
    per-anchor label-filtered brute force bit-for-bit — the value law
    the ext_hard_negatives_ivf oracle checks, pinned here against the
    engine's own brute_force_top_k so the pin holds on any fixture."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        hard_negative_mining_index,
    )

    emb = _emb(spark, sf_dir)
    index = ivf_index_load(spark, ivf8)
    anchors = emb.filter(F.col("vec_id") < 6)
    got = sorted(
        (
            r["query_id"],
            r["rank"],
            r["neighbor_id"],
            r["label"],
            r["neighbor_label"],
            round(r["cosine"], 6),
        )
        for r in hard_negative_mining_index(
            index, anchors, emb.select("vec_id", "label"), k=3, nprobe=8
        ).collect()
    )
    want = []
    labels = {
        r["vec_id"]: r["label"]
        for r in emb.select("vec_id", "label").collect()
    }
    for qr in anchors.collect():
        negatives = emb.filter(F.col("label") != qr["label"])
        for rank, r in enumerate(
            brute_force_top_k(
                negatives, list(qr["embedding"]), k=3
            ).collect(),
            start=1,
        ):
            want.append(
                (
                    qr["vec_id"],
                    rank,
                    r["vec_id"],
                    qr["label"],
                    labels[r["vec_id"]],
                    round(r["score"], 6),
                )
            )
    assert got == sorted(want) and len(got) == 18


def test_hard_negatives_index_pruned_probe_keeps_pruning_and_filter(
    spark, sf_dir, ivf8
):
    """Production mining at pruned nprobe: every returned pair still
    satisfies the different-label predicate (the neq_attr mask runs
    inside the serve, not as a post-hoc trim), at most k rows per
    anchor, and the payload join leaves the batched plan's static
    centroid partition filter on the inverted-list scan intact. The
    mask needs the payload that supplies its list-side column."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        hard_negative_mining_index,
    )

    emb = _emb(spark, sf_dir)
    index = ivf_index_load(spark, ivf8)
    anchors = emb.filter(F.col("vec_id") < 12)
    out = hard_negative_mining_index(
        index,
        anchors,
        emb.select("vec_id", "label"),
        k=3,
        nprobe=2,
    )
    rows = out.collect()
    assert rows
    from collections import Counter

    per_q = Counter(r["query_id"] for r in rows)
    assert all(c <= 3 for c in per_q.values())
    assert all(r["label"] != r["neighbor_label"] for r in rows)
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    plan = formatted_plan(out)
    _assert_centroid_partition_filter(plan)
    locs = {
        line.split("[")[1].split("]")[0]
        for line in plan.splitlines()
        if line.startswith("Location:")
    }
    for loc in locs:
        assert "assigned" in loc or "embeddings" in loc, loc
    with pytest.raises(ValueError, match="list_payload"):
        index.search_batch(
            _qframe(emb, 3), k=2, neq_attr=("query_id", "label")
        )


def test_search_batch_gemm_full_probe_is_brute_force(
    spark, sf_dir, ivf8
):
    """The batch scorer at full probe equals the brute force per
    query (rounded-cosine compare — the rank law rounds before
    ranking), and exclude_query_id drops exactly the self row."""
    emb = _emb(spark, sf_dir)
    index = ivf_index_load(spark, ivf8)
    queries = _qframe(emb, 6)
    got = {
        (r["query_id"], r["vec_id"]): round(r["score"], 6)
        for r in index.search_batch(queries, k=5, nprobe=8).collect()
    }
    want = {}
    for qr in queries.collect():
        for r in brute_force_top_k(emb, list(qr["qvec"]), k=5).collect():
            want[(qr["query_id"], r["vec_id"])] = round(r["score"], 6)
    assert got == want and len(got) == 30
    noself = index.search_batch(
        queries, k=5, nprobe=8, exclude_query_id=True
    ).collect()
    assert all(r["vec_id"] != r["query_id"] for r in noself)
    assert len(noself) == 30
    # self (cosine 1.0, the top row) was replaced, not merely trimmed
    per_q = {}
    for r in noself:
        per_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q, ids in per_q.items():
        assert q not in ids and len(ids) == 5


def test_search_batch_gemm_pages_over_cap_batches(spark, sf_dir, ivf4):
    """Over-cap batches page themselves in bounded chunks (the PQ
    serve's paging contract): 10 queries at max_queries=4 run as three
    chunk jobs whose union equals the under-cap serve of the same
    batch at the same full probe. Empty batches still refuse."""
    emb = _emb(spark, sf_dir)
    index = ivf_index_load(spark, ivf4)
    queries = _qframe(emb, 10)

    def rows(df):
        return sorted(
            (r["query_id"], r["vec_id"], round(r["score"], 9))
            for r in df.collect()
        )

    paged = rows(
        index.search_batch(queries, k=3, nprobe=4, max_queries=4)
    )
    whole = rows(index.search_batch(queries, k=3, nprobe=4))
    assert paged == whole and len(paged) == 30
    with pytest.raises(ValueError, match="empty query batch"):
        index.search_batch(_qframe(emb, 0), k=2)


def test_pq_cosine_mode_exact_identity_and_norm_skew_fix(
    spark, sf_dir, tmp_path
):
    """Flat-PQ cosine mode (normalize=True — the flat store has the
    same IP-ADC sharp edge the composed store fixed): full-margin
    reranked serving is still the exact brute force, the flag is part
    of the ensure identity and travels through adds, and on a
    deliberately norm-skewed corpus the SAME bounded candidate budget
    preserves at least as much of the true cosine top-k as the raw
    store (deterministic end-to-end, pinned as an inequality)."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ensure_pq_index,
        pq_index_add,
    )

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "pq")
    ensure_pq_index(emb, idx, corpus_tag="t1", normalize=True)
    loaded = pq_index_load(spark, idx)
    assert loaded.meta["normalized"] is True
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in loaded.search(
            QV, k=10, candidates=10**6, rerank_corpus=emb
        ).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in brute_force_top_k(emb, QV, k=10).collect()
    ]
    assert got == want
    mt = _index_mtimes(idx)
    ensure_pq_index(emb, idx, corpus_tag="t1", normalize=True)
    assert _index_mtimes(idx) == mt  # matching flag: pure load
    ensure_pq_index(emb, idx, corpus_tag="t1", normalize=False)
    assert _index_mtimes(idx) != mt  # flag flip: rebuild

    # add travels through the flag: build-half + add-half, full margin
    # == brute force over the union
    idx2 = str(tmp_path / "pq2")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    pq_index_build(old, idx2, corpus_tag="half", normalize=True)
    pq_index_add(new, idx2, new_corpus_tag="full", batch_id="b1")
    got2 = [
        (r["vec_id"], round(r["score"], 9))
        for r in pq_index_load(spark, idx2)
        .search(QV, k=10, candidates=10**6, rerank_corpus=emb)
        .collect()
    ]
    assert got2 == want

    # norm-skew: cosine ranking is scale-invariant, raw IP-ADC is not
    skew = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") * (1 + F.col("vec_id") % 7),
        ).alias("embedding"),
    )
    truth = {
        r["vec_id"] for r in brute_force_top_k(skew, QV, k=10).collect()
    }
    rec = {}
    for norm in (False, True):
        d = str(tmp_path / f"pqskew_{norm}")
        pq_index_build(skew, d, corpus_tag="t", normalize=norm)
        cands = {
            r["vec_id"]
            for r in pq_index_load(spark, d)
            .search(QV, k=50, candidates=50)
            .collect()
        }
        rec[norm] = len(cands & truth) / 10
    assert rec[True] >= rec[False], rec
    assert rec[True] > 0


def test_search_batch_auto_widen_zero_driver_materialization(
    spark, sf_dir, ivf8, monkeypatch
):
    """VERDICT r9 #2 done-criterion: the batched auto-widen loop keeps
    result rows on the executors — ZERO ``SparkSession.createDataFrame``
    calls and ZERO collects of a scored (``score``-carrying) frame
    anywhere in the widen serve (per-round outputs localCheckpoint;
    satisfied/starved sets are broadcast semi/anti joins; loop control
    is a JVM-side isEmpty probe). The one bounded query-batch collect
    per round is the scorer's contract. A spy trips if driver
    materialization of results ever creeps back."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    emb = _emb(spark, sf_dir)
    index = ivf_index_load(spark, ivf8)
    allowed = emb.filter(F.col("vec_id") % 101 == 7).select("vec_id")
    queries = _qframe(emb, 4)

    calls: list[str] = []
    real_collect = _CDF.collect
    real_create = type(spark).createDataFrame

    def spy_collect(self):
        if "score" in self.columns:
            calls.append("collect")
        return real_collect(self)

    def spy_create(self, *a, **kw):
        calls.append("createDataFrame")
        return real_create(self, *a, **kw)

    monkeypatch.setattr(_CDF, "collect", spy_collect)
    monkeypatch.setattr(type(spark), "createDataFrame", spy_create)
    out = index.search_batch(
        queries, k=40, nprobe=1, filter_ids=allowed, auto_widen=True
    )
    monkeypatch.undo()
    assert calls == [], calls
    # and the relational result is real (k above the match count:
    # every allowed vector surfaces for every query at full probe)
    n_allowed = allowed.count()
    assert out.count() == 4 * n_allowed


def test_search_batch_auto_widen_excludes_zero_norm_queries(
    spark, sf_dir, ivf8
):
    """A zero-norm query has undefined cosine and can never reach k
    survivors: it must yield NO rows and must NOT drive the widen loop
    — live queries in the same batch still serve normally."""
    emb = _emb(spark, sf_dir)
    index = ivf_index_load(spark, ivf8)
    live = _qframe(emb, 2)
    dead = live.sparkSession.createDataFrame(
        [(999, [0.0] * 64)], schema=live.schema
    )
    out = index.search_batch(
        live.unionByName(dead), k=5, nprobe=2, auto_widen=True
    ).collect()
    assert {r["query_id"] for r in out} == {0, 1}
    assert all(len([r for r in out if r["query_id"] == q]) == 5
               for q in (0, 1))


def test_ivf_single_query_zero_norm_short_circuits(spark, ivf8):
    """A zero-norm single query emits NO rows immediately — with and
    without auto_widen (without the short-circuit, the NULL-score
    filter would drive the widen loop through every probe width down
    to a full-index scan before returning the same empty frame)."""
    index = ivf_index_load(spark, ivf8)
    zq = [0.0] * 64
    assert index.search(zq, k=5).count() == 0
    assert index.search(zq, k=5, auto_widen=True).count() == 0


def test_widen_batch_of_null_vectors_refuses_loudly(spark, ivf4):
    """A widen batch whose every vector is NULL cannot be served (a
    NULL vector would reach the driver-side matrix build as None) —
    it refuses with a clear message instead of a numpy TypeError;
    an all-zero-norm batch still returns the shaped empty frame."""
    index = ivf_index_load(spark, ivf4)
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "query_id long, qvec array<double>"
    )
    with pytest.raises(ValueError, match="NULL"):
        index.search_batch(nulls, k=3, auto_widen=True)
    # MIXED batches refuse too (ADVICE r10: before r11 the NULL rows
    # were silently dropped by the live-query filter while all-NULL
    # batches raised — inconsistent)
    live_vec = [1.0] + [0.0] * 63
    mixed = spark.createDataFrame(
        [(1, live_vec), (2, None)], "query_id long, qvec array<double>"
    )
    with pytest.raises(ValueError, match="NULL"):
        index.search_batch(mixed, k=3, auto_widen=True)
    # empty widen batches use the non-widen paths' established message
    empty = spark.createDataFrame([], "query_id long, qvec array<double>")
    with pytest.raises(ValueError, match="empty query batch"):
        index.search_batch(empty, k=3, auto_widen=True)
    zeros = spark.createDataFrame(
        [(1, [0.0] * 64)], "query_id long, qvec array<double>"
    )
    assert index.search_batch(zeros, k=3, auto_widen=True).count() == 0


def _rows(df):
    return sorted(
        (r["vec_id"], round(r["score"], 9)) for r in df.collect()
    )


def test_serve_pinned_across_compact(spark, sf_dir, tmp_path):
    """Snapshot epochs (VERDICT r10 #7): a handle loaded BEFORE a
    compaction commits keeps serving one consistent snapshot — the
    rewrite lands in the NEXT epoch's dirs and never deletes or
    renames the loaded epoch's files (the pre-r11 swap's delete+rename
    window could fail an in-flight lazy read). A fresh post-compact
    load serves the new epoch with identical results (compaction is
    result-invariant) at epoch+1."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ivf_index_add,
        ivf_index_compact,
    )

    idx = str(tmp_path / "ivf")
    emb = _emb(spark, sf_dir)
    ivf_index_build(emb, idx, n_centroids=4, corpus_tag="t1")
    batch = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    ).limit(40)
    ivf_index_add(batch, idx, new_corpus_tag="t2", batch_id="b1")
    old = ivf_index_load(spark, idx)
    lazy = old.search(QV, k=12, nprobe=4)  # plan built pre-compact
    before = _rows(old.search(QV, k=12, nprobe=4))
    ivf_index_compact(spark, idx)
    # the pre-compact handle — including a plan built before the
    # commit — still reads its intact epoch
    assert _rows(lazy) == before
    assert _rows(old.search(QV, k=12, nprobe=4)) == before
    new = ivf_index_load(spark, idx)
    assert new.meta["epoch"] == old.meta["epoch"] + 1
    assert _rows(new.search(QV, k=12, nprobe=4)) == before


def test_serve_pinned_across_retrain(spark, sf_dir, tmp_path):
    """A PQ handle loaded before a retrain completes serves the OLD
    codebooks against the OLD codes — one consistent generation, never
    old-codebooks-over-new-codes (which would decode garbage). ADC
    scores (no rerank) are codebook-dependent, so bit-equality of the
    pre/post result is the sharp pin."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        pq_index_retrain,
    )

    idx = str(tmp_path / "pq")
    emb = _emb(spark, sf_dir)
    pq_index_build(
        emb, idx, m=8, n_centroids=16, corpus_tag="t1", train_sample=64
    )
    old = pq_index_load(spark, idx)
    before = _rows(old.search(QV, k=10, candidates=50))
    pq_index_retrain(
        spark, idx, emb, new_corpus_tag="t2", train_sample=192
    )
    assert _rows(old.search(QV, k=10, candidates=50)) == before
    new = pq_index_load(spark, idx)
    assert new.meta["epoch"] == old.meta["epoch"] + 1
    assert new.meta["train_sample"] == 192
    # the new generation serves (scores differ in general — different
    # codebooks — but exact full-margin rerank is still the brute force)
    got = _rows(
        new.search(QV, k=10, candidates=1_000_000, rerank_corpus=emb)
    )
    want = _rows(brute_force_top_k(emb, QV, k=10))
    assert got == want


def test_epoch_gc_keeps_exactly_two_generations(spark, sf_dir, tmp_path):
    """Epoch GC: each rewrite retains ONE previous generation as the
    serve-grace snapshot and reclaims anything older."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        ivf_index_add,
        ivf_index_compact,
    )

    idx = str(tmp_path / "ivf")
    emb = _emb(spark, sf_dir)
    ivf_index_build(emb, idx, n_centroids=4, corpus_tag="t1")
    ivf_index_add(
        emb.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
        .limit(20),
        idx,
        new_corpus_tag="t2",
        batch_id="b1",
    )
    ivf_index_compact(spark, idx)  # epoch 0 -> 1
    names = set(os.listdir(idx))
    assert {"assigned", "assigned__e1"} <= names  # grace window kept
    ivf_index_compact(spark, idx)  # epoch 1 -> 2
    names = set(os.listdir(idx))
    assert "assigned__e2" in names and "assigned__e1" in names
    assert "assigned" not in names  # epoch 0 reclaimed
    assert ivf_index_load(spark, idx).meta["epoch"] == 2


def test_rebuild_over_serving_dir_is_snapshot_safe(spark, sf_dir, tmp_path):
    """An ensure-path REBUILD (corpus-tag change) over a serving dir
    stages into the next epoch: a handle loaded against the old tag
    keeps serving its snapshot, and a crash mid-rebuild would have
    left it fully valid (the old meta is only replaced at commit)."""
    idx = str(tmp_path / "ivf")
    emb = _emb(spark, sf_dir)
    ensure_ivf_index(emb, idx, corpus_tag="snap1", n_centroids=4)
    old = ivf_index_load(spark, idx)
    before = _rows(old.search(QV, k=10, nprobe=4))
    half = emb.filter(F.col("vec_id") % 2 == 0)
    ensure_ivf_index(half, idx, corpus_tag="snap2", n_centroids=4)
    assert _rows(old.search(QV, k=10, nprobe=4)) == before
    new = ivf_index_load(spark, idx)
    assert new.meta["epoch"] == old.meta["epoch"] + 1
    got = _rows(new.search(QV, k=10, nprobe=4))
    assert got == _rows(brute_force_top_k(half, QV, k=10))


def test_search_batch_rank_law_and_hard_negatives_auto_widen(
    spark, tmp_path
):
    """One rank law for the batch scorer: the key is the cosine rounded
    to 6 decimals DESC, then id ASC, while the emitted score is the
    UNROUNDED cosine. Two stored vectors whose cosines to the query
    round to the same 6dp value (the larger cosine on the larger id)
    therefore rank by id. Hard-negative mining composes with
    auto_widen: k above any list's count of different-label vectors
    starves every anchor through to full probe, where the result is
    the label-filtered brute force under the same law."""
    import math

    import numpy as np

    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        hard_negative_mining_index,
    )

    def unit_x(c):
        return [c, math.sqrt(1.0 - c * c), 0.0, 0.0]

    rows = [(1, unit_x(0.5000001), 1), (2, unit_x(0.5000003), 1)]
    rows += [
        (i, [0.04 * (i - 8), math.cos(i), math.sin(i), 0.5], i % 2)
        for i in range(3, 15)
    ]
    store = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    idx = str(tmp_path / "ivf")
    ivf_index_build(store, idx, n_centroids=4, corpus_tag="t")
    index = ivf_index_load(spark, idx)

    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    q = [1.0, 0.0, 0.0, 0.0]
    c1, c2 = cos(rows[0][1], q), cos(rows[1][1], q)
    assert c1 < c2 and round(c1, 6) == round(c2, 6)
    qdf = spark.createDataFrame([(0, q)], "query_id long, qvec array<double>")
    (top,) = index.search_batch(qdf, k=1, nprobe=4).collect()
    assert top["vec_id"] == 1
    assert round(top["score"], 9) == round(c1, 9) != round(c2, 9)

    anchors = spark.createDataFrame(
        [(100, q, 0), (101, [0.0, 1.0, 0.0, 0.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    k = len(rows)
    got = sorted(
        (
            r["query_id"],
            r["rank"],
            r["neighbor_id"],
            r["label"],
            r["neighbor_label"],
            r["cosine"],
        )
        for r in hard_negative_mining_index(
            index,
            anchors,
            store.select("vec_id", "label"),
            k=k,
            nprobe=1,
            auto_widen=True,
        ).collect()
    )
    want = []
    for aid, avec, alabel in anchors.collect():
        negs = [(round(cos(v, avec), 6), i, lab)
                for i, v, lab in rows if lab != alabel]
        negs.sort(key=lambda t: (-t[0], t[1]))
        want += [
            (aid, rank, i, alabel, lab, c)
            for rank, (c, i, lab) in enumerate(negs[:k], start=1)
        ]
    assert got == sorted(want)
    assert (100, 1, 1, 0, 1, round(c1, 6)) in got  # the tie ranks by id
    assert (100, 2, 2, 0, 1, round(c2, 6)) in got

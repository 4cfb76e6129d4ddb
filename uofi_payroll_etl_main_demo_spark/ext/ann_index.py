"""Persisted ANN index lifecycle: build → save → load → query.

The in-query ANN operators (``ext/similarity.py pq_top_k``,
``ext/ivf.py build_ivf_index``) retrain their quantizers inside every
query — right for one-shot analytics, wrong for a serving corpus: a
real engine builds the index ONCE and amortizes the training across
thousands of queries (the public FAISS ``write_index``/``read_index``
lifecycle). This module materializes the trained artifacts as plain
parquet tables so the SERVING path reads only index data:

    {index_dir}/meta/        one row: format version, kind, params,
                             corpus_tag (rebuild trigger)
    {index_dir}/centroids/   IVF: (centroid int, cvec array<double>)
    {index_dir}/assigned/    IVF-Flat inverted lists: (vec_id,
                             embedding), PARTITIONED BY centroid — a
                             probe of p lists prunes to ~p/#lists of
                             the files at the parquet-scan level (real
                             partition pruning; at 100 TB this is the
                             difference between scanning the corpus and
                             scanning a shard)
    {index_dir}/codebooks/   PQ: (j int, c int, cvec array<double>)
    {index_dir}/codes/       PQ codes: (vec_id, codes array<int>) —
                             m small ints per vector (4 B at m=8 with
                             nibble packing; stored unpacked here for
                             oracle inspectability, still ~32 B vs
                             256 B raw)

Plain parquet + a one-row meta table (no sidecar JSON) keeps every
artifact readable by ANY engine — the DuckDB oracle can audit index
contents directly, and a cluster deployment inherits Spark's
writer/committer semantics (atomic via _SUCCESS markers) on any
Hadoop-compatible filesystem.

**Snapshot epochs (round 11).** Every op that REWRITES served data —
compact, delete, rebalance, retrain, rebuild-over-a-serving-dir —
stages the new generation into ``{table}__e{N}`` dirs (``meta.epoch``
names the serving generation; epoch 0 is the bare ``{table}`` dir, so
pre-epoch stores read unchanged with no format bump) and commits by
repointing meta. A handle loaded BEFORE the commit captured the old
meta and keeps lazily reading the old epoch's files, which the commit
never touches — a serve started before a retrain/compact completes
therefore reads one consistent snapshot end-to-end (pinned in
tests/test_ann_index.py::test_serve_pinned_across_*). Exactly one
previous epoch is retained as that grace window; older epochs are
GC'd at commit. Incremental ADDS land new ``__batch`` partitions
inside the current epoch (additive, never destructive — in-flight
serves may or may not see them, the usual read-committed semantics
for appends).

No reference parity: the reference
(`/root/reference/etl_payroll_pipeline_demo.py`) has no vector surface;
this is extension scope (SURVEY.md §2.9 similarity-search family).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uofi_payroll_etl_main_demo_spark.functions.vectors import (
    cosine_similarity,
)

# v2 (round 7): every data table gained a __batch partition level (the
# idempotent-add unit). A v1 store must rebuild, not mis-read — the
# version check turns it into an ensure-path rebuild.
# v3 (round 8): the compaction replay guard records the SET of folded
# batch tags (``folded_batches``), replacing the v2 ``compacted_through``
# lexicographic watermark — md5 default tags have no order, so ~half of
# all fresh tags sorted below the watermark and spuriously raised
# "folded into base". A v2 meta's watermark can't be widened into a set
# (the tags it covered are gone), so v2 stores rebuild.
# v4 (round 8): the CDC store gains an owners provenance table (the
# exact-erasure support for cdc_index_delete); a store without it
# cannot serve deletes, so pre-owners stores rebuild.
INDEX_FORMAT_VERSION = 4

_META_SCHEMA = T.StructType(
    [
        T.StructField("version", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("id_col", T.StringType(), False),
        T.StructField("vec_col", T.StringType(), False),
        T.StructField("dim", T.IntegerType(), False),
        T.StructField("n_centroids", T.IntegerType(), False),
        T.StructField("m", T.IntegerType(), True),
        # IVF-PQ only: number of coarse inverted lists (n_centroids
        # keeps its PQ meaning — per-subspace codebook size). Nullable
        # and absent from pre-round-9 metas; _read_meta defaults it, so
        # no format bump — v4 ivf/pq stores read unchanged.
        T.StructField("n_lists", T.IntegerType(), True),
        T.StructField("seed", T.IntegerType(), True),
        # training hyperparameters are part of the index IDENTITY: an
        # ensure-load that ignored them would silently serve an index
        # trained under different settings
        T.StructField("max_iter", T.IntegerType(), True),
        T.StructField("train_sample", T.IntegerType(), True),
        T.StructField("lloyd_iters", T.IntegerType(), True),
        T.StructField("corpus_tag", T.StringType(), False),
        # comma-joined sorted SET of __batch tags compactions folded
        # into base (None if never compacted past the build) — the
        # replay-safety record; membership, not ordering, because the
        # default corpus-fingerprint tags are unordered hex
        T.StructField("folded_batches", T.StringType(), True),
        # IVF-PQ only: vectors L2-normalized at build/add/query time
        # (the public-FAISS cosine recipe: normalize + inner product ≡
        # cosine, so the bounded ADC candidate cut is cosine-faithful
        # and the euclidean assignment agrees with the cosine probe
        # ranking). Part of the index identity. Nullable; absent from
        # pre-existing metas (reads as false).
        T.StructField("normalized", T.BooleanType(), True),
        # Snapshot epoch (round 11): every REWRITE of served data
        # (compact / delete / rebalance / retrain / rebuild) writes the
        # next epoch's table dirs (``{table}__e{N}``; epoch 0 is the
        # bare ``{table}`` dir, so pre-epoch stores read unchanged — no
        # format bump) and repoints meta. A handle loaded before the
        # rewrite committed keeps its meta's epoch and therefore reads
        # an IMMUTABLE snapshot: the old epoch's files are retained as
        # the serve-grace window (exactly one previous epoch; older
        # epochs are GC'd at meta commit). Nullable; absent reads as 0.
        T.StructField("epoch", T.IntegerType(), True),
    ]
)


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API — honors the
    path's scheme (file://, hdfs://, s3a://), unlike os.path, so the
    ensure-build flow works unchanged on a cluster store."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[attr-defined]
    return bool(fs.exists(hpath))


def corpus_fingerprint(*paths: str) -> str:
    """Cheap local-corpus snapshot tag (path + size + mtime per file,
    md5-folded): keys an index build to the exact corpus files it was
    trained on, so a regenerated fixture triggers a rebuild instead of
    serving stale lists. A DIRECTORY path is fingerprinted by its
    recursive file listing (per-file relative name + size + mtime) —
    a directory's own stat does not change when a part file inside is
    rewritten in place, so stat-ing only the top path could serve a
    stale index over a regenerated-in-place corpus. A cluster
    deployment would key by its table snapshot/version id instead; the
    tag is an opaque string either way.
    """
    h = hashlib.md5()
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    rel = os.path.relpath(fp, p)
                    h.update(f"{p}:{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
        else:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]


def _data_path(index_dir: str, table: str, meta: "dict | None") -> str:
    """Epoch-resolved table path: epoch 0 is the bare ``{table}`` dir
    (pre-epoch stores read unchanged), epoch N>0 is ``{table}__e{N}``.
    EVERY read and write of a data table routes through this function;
    a loaded handle resolves with the meta it captured at load time,
    so its reads pin an immutable snapshot across concurrent
    rewrites."""
    e = int(meta.get("epoch", 0) or 0) if meta else 0
    return f"{index_dir}/{table}" if e == 0 else f"{index_dir}/{table}__e{e}"


def _next_epoch_meta(meta: dict) -> dict:
    """The meta a rewrite op will commit: same identity, epoch + 1."""
    return {**meta, "epoch": int(meta.get("epoch", 0) or 0) + 1}


def _gc_epochs(
    spark: SparkSession,
    index_dir: str,
    tables: "list[str]",
    keep: "set[int]",
) -> None:
    """Best-effort removal of table dirs whose epoch is not in
    ``keep`` — run AFTER a rewrite's meta commit, keeping {new, old}
    so serves that loaded before the commit finish against intact
    files (the grace snapshot), while epochs older than that are
    reclaimed. Failures are swallowed: GC is hygiene, never
    correctness (an un-deleted old epoch is unreachable data)."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    conf = spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
    root = jvm.org.apache.hadoop.fs.Path(index_dir)
    try:
        fs = root.getFileSystem(conf)
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            for t in tables:
                if name == t:
                    e = 0
                elif name.startswith(f"{t}__e"):
                    try:
                        e = int(name[len(t) + 3:])
                    except ValueError:
                        continue
                else:
                    continue
                if e not in keep:
                    fs.delete(status.getPath(), True)
                break
    except Exception:
        pass


def _invalidate_meta(spark: SparkSession, index_dir: str) -> None:
    """Delete the meta table before a (re)build touches data dirs: a
    crash mid-rebuild must leave the index LOOKING absent (ensure_*
    rebuilds) rather than a valid-looking meta over partial lists."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    hpath = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/meta")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[attr-defined]
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _folded_tags(spark: SparkSession, index_dir: str, table: str):
    """The ``__batch`` tags a compaction is about to fold (every tag
    except the build's own ``base``) — recorded in meta as
    ``folded_batches`` so a post-compaction replay of a folded batch
    fails LOUDLY (its rows are in base now; ``exclude_batch`` can no
    longer carve them out) instead of silently matching against
    itself. A SET, not a high-watermark: the default batch tags are
    md5 corpus fingerprints with no lexicographic order, so ordering
    comparisons would spuriously condemn ~half of all fresh tags."""
    rows = (
        spark.read.parquet(f"{index_dir}/{table}")
        .select("__batch")
        .distinct()
        .collect()
    )
    return sorted(r["__batch"] for r in rows if r["__batch"] != "base")


def _merge_folded(meta: dict, new_tags: "list[str]") -> "str | None":
    """Union the tags this compaction folds into the meta's existing
    folded set (compactions compose — an earlier fold's tags stay
    condemned forever). Comma-joined sorted string; commas can't occur
    in tags (fingerprint hex or ``b{n:020d}`` stream tags). Growth is
    bounded by the number of batches ever added — tens of bytes per
    add, dwarfed by the add's own parquet footprint."""
    prior = meta.get("folded_batches")
    tags = set(new_tags)
    if prior:
        tags.update(prior.split(","))
    return ",".join(sorted(tags)) if tags else None


def check_not_compacted_away(meta: dict, exclude_batch: "str | None") -> None:
    """Raise if a replay wants to exclude (or re-add) a batch that a
    compaction already folded into base — shared guard for every
    store's query and add path. Membership in the recorded folded SET,
    so fresh unordered tags never spuriously trip it. Run compactions
    only at quiescent points (all streaming checkpoints committed);
    this guard is the loud backstop when that discipline slips."""
    folded = meta.get("folded_batches")
    if (
        exclude_batch is not None
        and folded is not None
        and exclude_batch in folded.split(",")
    ):
        raise ValueError(
            f"batch {exclude_batch!r} was folded into base by a compaction "
            f"(folded_batches={folded!r}); its rows can no longer be "
            "excluded for replay — restart the pipeline from a fresh "
            "checkpoint or rebuild the index"
        )


def _compact_swap(
    spark: SparkSession,
    index_dir: str,
    table: str,
    partition_cols: "list[str]",
    prepare=None,
) -> "tuple":
    """Fold a table's accumulated ``__batch`` partitions back into one
    ``base`` partition — the maintenance pass the add-forever lifecycle
    needs: every incremental add lands its own partition (that is what
    makes replays idempotent), so a year of daily batches is ~365
    partitions of small files, and at 100 TB the file listing itself
    becomes the scan bottleneck. Two phases so the destructive window
    is the swap, not the rewrite:

    1. ``stage``: rewrite the table (optionally through ``prepare`` to
       restore the layout contract, e.g. the bands table's
       repartition+sort) into a sibling tmp dir. Stale tmp dirs from
       earlier failed compactions are deleted on entry; a failure here
       leaves the LIVE table and meta fully intact (the tmp is cleaned
       up best-effort).
    2. ``swap`` (caller invokes after invalidating meta): delete the
       live table, rename the tmp in. A crash between delete and
       rename leaves a missing table under an absent meta, which
       ``ensure_*`` treats as "rebuild from the corpus" — indexes are
       derived data, so the crash story is always recoverable, and the
       meta-absent window is milliseconds, not the whole rewrite.

    Single-writer assumption as documented on the index root: a
    concurrent ensure-build racing the swap is not defended."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    conf = spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
    tmp = f"{index_dir}/{table}__compact"
    dst_path = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{table}")
    tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
    fs = dst_path.getFileSystem(conf)

    def stage() -> None:
        if fs.exists(tmp_path):  # leftover from an earlier failure
            fs.delete(tmp_path, True)
        src = spark.read.parquet(f"{index_dir}/{table}").drop("__batch")
        out = src.withColumn("__batch", F.lit("base"))
        if prepare is not None:
            out = prepare(out)
        try:
            out.write.mode("overwrite").partitionBy(*partition_cols).parquet(
                tmp
            )
        except Exception:
            fs.delete(tmp_path, True)  # don't leak a partial table copy
            raise

    def swap() -> None:
        fs.delete(dst_path, True)
        if not fs.rename(tmp_path, dst_path):
            raise IOError(
                f"compaction rename failed: {tmp} -> {index_dir}/{table}"
            )

    return stage, swap


def _staged_compactions(
    spark: SparkSession, index_dir: str, tables: "list[tuple]"
) -> "list":
    """Stage every table's compacted rewrite (non-destructive), return
    the swap callables to run after meta invalidation.

    Still used by the CDC and MinHash stores (ext/cdc_index.py,
    ext/dedup_index.py — delete-in-place + rename swap). The ANN
    stores migrated to SNAPSHOT EPOCHS in r11 (:func:`_data_path`,
    :func:`_epoch_rewrite`): rewrites land in next-epoch dirs and the
    old epoch stays readable for in-flight serves, which the swap's
    delete+rename window cannot guarantee."""
    swaps = []
    for table, partition_cols, prepare in tables:
        stage, swap = _compact_swap(
            spark, index_dir, table, partition_cols, prepare
        )
        stage()
        swaps.append(swap)
    return swaps


def _stage_folded(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partition_cols: "list[str]",
    prepare=None,
) -> None:
    """Stage one table's batch-folding rewrite into its NEXT-epoch dir
    (same fold semantics as :func:`_compact_swap`'s stage phase, no
    swap needed — the destination is a fresh dir and the live epoch's
    files are never touched)."""
    src = spark.read.parquet(src_path).drop("__batch")
    out = src.withColumn("__batch", F.lit("base"))
    if prepare is not None:
        out = prepare(out)
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(dst_path)


def _copy_to_epoch(
    spark: SparkSession,
    index_dir: str,
    table: str,
    old_meta: dict,
    new_meta: dict,
) -> None:
    """Carry an UNCHANGED (small: centroids/codebooks) table into the
    next epoch verbatim — every epoch is self-contained, so a pinned
    handle never mixes generations."""
    spark.read.parquet(_data_path(index_dir, table, old_meta)).coalesce(
        1
    ).write.mode("overwrite").parquet(_data_path(index_dir, table, new_meta))


def _commit_epoch(
    spark: SparkSession,
    index_dir: str,
    old_meta: dict,
    new_meta: dict,
    tables: "list[str]",
) -> None:
    """Atomically repoint the store at the staged next epoch: delete
    meta, write the new meta (the only mutation of shared state), then
    GC table dirs of epochs older than the grace snapshot {new, old}.
    A handle loaded before this commit holds old_meta and keeps
    reading the old epoch's intact files; a crash BEFORE the commit
    leaves the old index fully valid (strictly better than the v3 swap
    story, where the crash window left the table dir absent)."""
    _invalidate_meta(spark, index_dir)
    _write_meta(spark, index_dir, new_meta)
    _gc_epochs(
        spark,
        index_dir,
        tables,
        keep={
            int(new_meta.get("epoch", 0) or 0),
            int(old_meta.get("epoch", 0) or 0),
        },
    )


def _folded_tags_at(spark: SparkSession, path: str):
    """Epoch-resolved variant of :func:`_folded_tags` (the ANN stores
    pass the resolved table path; the CDC/MinHash stores still use the
    bare-layout form)."""
    rows = (
        spark.read.parquet(path).select("__batch").distinct().collect()
    )
    return sorted(r["__batch"] for r in rows if r["__batch"] != "base")


def ivf_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-inverted-list health panel: (centroid, n_vectors, n_batches)
    — the observability an add-forever IVF store needs, because adds
    assign to FROZEN centroids and data drift concentrates new vectors
    in few lists: a skewed list makes every probe that touches it pay
    its full scan. One distributed aggregate over the assigned table
    (ids/batch tags only — embeddings are never read thanks to column
    pruning); compare ``max(n_vectors)`` against the mean to decide
    when a retrain-rebuild is due, and ``n_batches`` against the
    compaction cadence."""
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivf":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not ivf")
    return (
        spark.read.parquet(_data_path(index_dir, "assigned", meta))
        .groupBy("centroid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("__batch").alias("n_batches"),
        )
        .orderBy("centroid")
    )


def pq_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """One-row health panel: (n_codes, n_batches) — PQ has no lists to
    skew (ADC scans all codes), so the only drift meters are store
    size vs the codebooks' training snapshot (retrain cadence) and
    batch count vs the compaction cadence."""
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "pq":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not pq")
    return spark.read.parquet(_data_path(index_dir, "codes", meta)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_codes"),
        F.countDistinct("__batch").alias("n_batches"),
    )


def pq_index_drift_stats(
    spark: SparkSession, index_dir: str, corpus: DataFrame
) -> DataFrame:
    """Per-(batch, subspace) QUANTIZATION-ERROR panel — the drift meter
    the add-forever PQ lifecycle needs: adds encode against FROZEN
    codebooks, so distribution drift silently grows ADC error with no
    query-time symptom (results stay plausible, just worse). One row
    per (``batch``, ``j``): ``n_vectors`` and ``mse`` — the mean squared
    distance between the stored code's reconstruction ``cb[j, code_j]``
    and the TRUE subvector. Compare each add batch against ``base``
    (the codebooks' own training snapshot) with :func:`needs_retrain`.

    ``corpus`` is the id-addressable row store holding the raw vectors
    (codes alone cannot yield error — they are only codebook indices);
    it must cover the store's membership — rows whose raw vector is
    missing are EXCLUDED from the panel, so check ``n_vectors`` against
    :func:`pq_index_stats` if coverage is in doubt. Run BEFORE
    compaction: folding batches into ``base`` blends the drifted adds
    into the baseline and the contrast is gone.

    Plan shape: codes ⋈ corpus on id (the one unavoidable shuffle),
    then an Arrow pass emitting per-(batch, j) PARTIAL (n, Σerr) per
    batch — the final exchange carries ~batches × m rows, never the
    corpus."""
    import numpy as np

    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "pq":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not pq")
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    m, n_centroids = meta["m"], meta["n_centroids"]
    sub = meta["dim"] // m
    codebooks = np.empty((m, n_centroids, sub))
    for r in spark.read.parquet(
        _data_path(index_dir, "codebooks", meta)
    ).collect():
        codebooks[r["j"], r["c"]] = r["cvec"]
    if meta.get("normalized"):
        # error must be measured in the space the codes live in
        corpus = _l2_normalize(corpus, vec_col)

    part_schema = T.StructType(
        [
            T.StructField("batch", T.StringType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("__n", T.LongType()),
            T.StructField("__se", T.DoubleType()),
        ]
    )

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            # err[v, j] = ||x_sub_j - cb[j, codes[v, j]]||^2
            recon = codebooks[np.arange(m)[None, :], codes]  # (b, m, sub)
            err = ((mat.reshape(len(mat), m, sub) - recon) ** 2).sum(axis=2)
            frame = pd.DataFrame(err, columns=range(m))
            frame["batch"] = pdf["__batch"].to_numpy()
            agg = frame.groupby("batch", sort=False).agg(["count", "sum"])
            for j in range(m):
                yield pd.DataFrame(
                    {
                        "batch": agg.index.to_numpy(),
                        "j": np.int32(j),
                        "__n": agg[(j, "count")].to_numpy().astype("int64"),
                        "__se": agg[(j, "sum")].to_numpy(),
                    }
                )

    joined = (
        spark.read.parquet(_data_path(index_dir, "codes", meta))
        .select(id_col, "codes", "__batch")
        .join(corpus.select(id_col, vec_col), id_col)
    )
    return (
        joined.mapInPandas(partials, part_schema)
        .groupBy("batch", "j")
        .agg(
            F.sum("__n").alias("n_vectors"),
            (F.sum("__se") / F.sum("__n")).alias("mse"),
        )
        .orderBy("batch", "j")
    )


def needs_retrain(drift_rows, max_ratio: float = 2.0) -> "list[str]":
    """The PQ drift-threshold LAW acting on
    :func:`pq_index_drift_stats` output — the codebook twin of
    :func:`needs_rebalance`: an add batch needs a retrain when its
    per-vector quantization error (Σ_j mse_j, n-weighted) exceeds
    ``max_ratio ×`` the ``base`` batch's — base IS the codebooks'
    training snapshot, so it is the only calibration-free reference.
    Returns the offending batch tags (empty = healthy); act with
    :func:`pq_index_retrain`. Driver-side over ≤ batches × m rows.
    Raises if ``base`` is absent from the panel (compaction folded it
    — run drift stats before compacting, or retrain to reset the
    baseline); the 2× default is where ADC recall degradation became
    measurable in the recorded drift probe (BASELINE.md round-9)."""
    totals: "dict[str, list[float]]" = {}
    for r in drift_rows:
        n, se = r["n_vectors"], r["mse"] * r["n_vectors"]
        acc = totals.setdefault(r["batch"], [0.0, 0.0])
        acc[0] += n
        acc[1] += se
    if "base" not in totals:
        raise ValueError(
            "drift panel has no 'base' batch to calibrate against "
            "(compaction folded it); run pq_index_drift_stats before "
            "compacting, or pq_index_retrain to reset the baseline"
        )
    # per-vector error = total squared error / n; n is summed per
    # SUBSPACE row, so divide by m via the per-j accounting staying
    # consistent between batches (the ratio is unaffected)
    ref_n, ref_se = totals["base"]
    ref = ref_se / ref_n if ref_n else 0.0
    out = []
    for tag, (n, se) in totals.items():
        if tag == "base" or not n:
            continue
        if se / n > max_ratio * ref:
            out.append(tag)
    return sorted(out)


def needs_rebalance(stats_rows, max_ratio: float = 4.0) -> "list[int]":
    """The drift-threshold LAW acting on :func:`ivf_index_stats`
    output: a list is oversized when its vector count exceeds
    ``max_ratio ×`` the mean list size. Returns the oversized centroid
    ids (empty = healthy). Driver-side over ≤ #lists rows — the check
    a maintenance scheduler runs after every add cycle; the 4× default
    is where the probe-time regression became measurable in the
    recorded skew probe (BASELINE.md round-8)."""
    rows = list(stats_rows)
    if not rows:
        return []
    total = sum(r["n_vectors"] for r in rows)
    mean = total / len(rows)
    return [r["centroid"] for r in rows if r["n_vectors"] > max_ratio * mean]


def ivf_index_rebalance(
    spark: SparkSession,
    index_dir: str,
    *,
    max_ratio: float = 4.0,
    seed: int = 42,
    max_iter: int = 20,
) -> "list[int]":
    """Act on the drift :func:`ivf_index_stats` reports: SPLIT every
    oversized inverted list (vector count > ``max_ratio ×`` mean —
    the :func:`needs_rebalance` law) by training sub-centroids on that
    list's own vectors and reassigning globally. Adds-forever skews
    lists because adds assign to FROZEN centroids; a skewed list makes
    every probe that touches it pay its full scan, so serving latency
    decays silently — this is the maintenance op that recovers it
    WITHOUT retraining the whole index (split lists retrain on their
    own vectors only; a partition-pruned scan per split).

    Mechanics: each oversized list c gets ``ceil(n_c / mean)``
    sub-centroids (k-means over the list's vectors, deterministic
    seed); sub-centroid 0 reuses id c, the rest append contiguous new
    ids (the centroid table stays 0..N-1, the contract the driver-side
    probe ranking relies on). The whole assigned table is then
    re-assigned under the ONE shared law (``_nearest_centroid_expr``)
    and rewritten via the staged swap, folding batches to base —
    pre-rebalance replays raise via ``folded_batches``, the same
    contract as delete/compact. Meta's ``n_centroids`` keeps the BUILD
    param (the training identity ensure-loads key on); the live list
    count is the centroid table's row count. Quiescent-point op.

    Returns the centroid ids that were split (empty = healthy no-op,
    nothing touched). Recall is preserved by construction — every
    vector stays in the store, full probe stays the exact brute force
    (pinned in tests/test_ann_index.py)."""
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivf":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not ivf")
    stats = (
        spark.read.parquet(_data_path(index_dir, "assigned", meta))
        .groupBy("centroid")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .collect()
    )
    split_ids = needs_rebalance(stats, max_ratio)
    if not split_ids:
        return []
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec_col = meta["vec_col"]
    counts = {r["centroid"]: r["n_vectors"] for r in stats}
    mean = sum(counts.values()) / len(counts)
    centroids = [
        list(r["cvec"])
        for r in spark.read.parquet(_data_path(index_dir, "centroids", meta))
        .orderBy("centroid")
        .collect()
    ]
    assigned = spark.read.parquet(_data_path(index_dir, "assigned", meta))
    for c in split_ids:
        k_c = max(2, int(-(-counts[c] // max(mean, 1.0))))  # ceil
        feats = (
            assigned.filter(F.col("centroid") == c)  # partition-pruned
            .select(vec_col)
            .withColumn(
                "__feat",
                array_to_vector(
                    F.transform(F.col(vec_col), lambda x: x.cast("double"))
                ),
            )
        )
        model = KMeans(
            k=k_c,
            seed=seed + c,
            maxIter=max_iter,
            featuresCol="__feat",
            predictionCol="__sub",
        ).fit(feats)
        subs = [list(cc) for cc in model.clusterCenters()]
        centroids[c] = subs[0]
        centroids.extend(subs[1:])
    folded = _merge_folded(
        meta, _folded_tags_at(spark, _data_path(index_dir, "assigned", meta))
    )
    id_col = meta["id_col"]
    new_meta = {**_next_epoch_meta(meta), "folded_batches": folded}
    _stage_folded(
        spark,
        _data_path(index_dir, "assigned", meta),
        _data_path(index_dir, "assigned", new_meta),
        ["centroid", "__batch"],
        # strategy picked by POST-split centroid count — the
        # enumerated literal stops being the right plan as
        # repeated rebalances grow the table past
        # _LITERAL_ASSIGN_MAX (see _assign_centroids)
        lambda df: _assign_centroids(
            df.drop("centroid"), centroids, vec_col, id_col
        ),
    )
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "centroid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        _data_path(index_dir, "centroids", new_meta)
    )
    _commit_epoch(
        spark, index_dir, meta, new_meta, ["assigned", "centroids"]
    )
    return split_ids


def ivf_index_compact(spark: SparkSession, index_dir: str) -> None:
    """Fold every add's ``__batch`` partition of the inverted lists
    into ``base``. Query results are unchanged (serving never reads
    ``__batch``); centroid stays the first partition level, so probe
    pruning is unchanged too. Records the folded batch set so a
    post-compaction replay of a folded batch fails loudly. Run at a
    quiescent point only (no uncommitted streaming batch)."""
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivf":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not ivf")
    folded = _merge_folded(
        meta, _folded_tags_at(spark, _data_path(index_dir, "assigned", meta))
    )
    new_meta = {**_next_epoch_meta(meta), "folded_batches": folded}
    _stage_folded(
        spark,
        _data_path(index_dir, "assigned", meta),
        _data_path(index_dir, "assigned", new_meta),
        ["centroid", "__batch"],
    )
    _copy_to_epoch(spark, index_dir, "centroids", meta, new_meta)
    _commit_epoch(
        spark, index_dir, meta, new_meta, ["assigned", "centroids"]
    )


def pq_index_compact(spark: SparkSession, index_dir: str) -> None:
    """Fold the codes table's add partitions into ``base`` (same
    contract as :func:`ivf_index_compact`)."""
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "pq":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not pq")
    folded = _merge_folded(
        meta, _folded_tags_at(spark, _data_path(index_dir, "codes", meta))
    )
    new_meta = {**_next_epoch_meta(meta), "folded_batches": folded}
    _stage_folded(
        spark,
        _data_path(index_dir, "codes", meta),
        _data_path(index_dir, "codes", new_meta),
        ["__batch"],
    )
    _copy_to_epoch(spark, index_dir, "codebooks", meta, new_meta)
    _commit_epoch(spark, index_dir, meta, new_meta, ["codes", "codebooks"])


def check_batch_tag(tag: str) -> str:
    """Validate a batch tag at WRITE time (builds with a custom
    ``batch_tag``, every add's ``batch_id``/default). Commas are the
    ``folded_batches`` set separator — a tag containing one would
    round-trip through compaction as TWO tags, silently defeating the
    replay guard for the real tag and spuriously condemning its
    fragments. Empty tags and the reserved ``base`` literal are
    refused for the same reason (an add tagged ``base`` would
    dynamic-overwrite the build's own partition)."""
    if not tag or "," in tag or tag == "base":
        raise ValueError(
            f"invalid batch tag {tag!r}: must be non-empty, contain no "
            "comma (the folded-batches separator), and not be the "
            "reserved 'base'"
        )
    return tag


def _ids_frame(spark: SparkSession, ids, col: str, table: str) -> DataFrame:
    """Normalize a delete request into a one-column distinct id frame
    typed like the STORE's id column (``table`` names the parquet dir
    whose schema is authoritative — a hardcoded type would break
    delete-by-list on stores keyed by strings). Accepts a DataFrame
    (its ``col`` column, or its only column) or any iterable of ids —
    takedown lists are usually small, but a DataFrame input scales the
    op to bulk erasure. An EMPTY id set raises either way: a no-op
    delete would still rewrite every table, fold every batch, and
    re-key the corpus tag."""
    id_type = spark.read.parquet(table).schema[col].dataType
    if isinstance(ids, DataFrame):
        if col in ids.columns:
            src = ids
        elif len(ids.columns) == 1:
            src = ids.select(F.col(ids.columns[0]).alias(col))
        else:
            raise ValueError(
                f"id frame has no {col!r} column and is not single-column "
                f"(columns: {ids.columns}) — refusing to guess which one "
                "names the ids to erase"
            )
        # try_cast: under ANSI a plain cast raises a bare
        # NumberFormatException mid-job; NULL + the guard below turns
        # it into the actionable wrong-id-type error either way
        out = src.select(
            F.col(col).try_cast(id_type).alias(col)
        ).distinct()
    else:
        rows = [(i,) for i in ids]
        if not rows:
            raise ValueError("empty id set: nothing to delete")
        schema = T.StructType([T.StructField(col, id_type)])
        out = spark.createDataFrame(rows, schema).distinct()
    # materialize ONCE (the delete's staged rewrites consume this frame
    # once per table; an expensive upstream lineage must not recompute
    # per rewrite) and refuse garbage: an id that casts to NULL would
    # anti-join nothing, and the "successful" delete would have erased
    # nothing while still rewriting the store and re-keying its tag.
    # persist + count, NOT localCheckpoint: checkpoint blocks live
    # outside the cache manager, so DataFrame.unpersist (the
    # _staged_delete cleanup) could never release them — and an
    # evicted persist block recomputes from lineage where an evicted
    # checkpoint block is a hard error
    out = out.persist()
    try:
        n = out.count()
        if out.filter(F.col(col).isNull()).limit(1).collect():
            raise ValueError(
                f"id set contains NULLs after casting to "
                f"{id_type.simpleString()} — wrong id type for this store "
                "(or null input ids); a silent no-op erasure would be "
                "reported as success"
            )
        if n == 0:
            raise ValueError("empty id set: nothing to delete")
    except Exception:
        out.unpersist()  # a refused delete must not leak cached blocks
        raise
    return out


def _staged_delete(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    data_table: str,
    tables: "list[tuple]",
    meta_update: dict,
    write_meta,
    cleanup_frames=(),
) -> None:
    """Shared delete tail: record the folded-batch set (a delete folds
    every ``__batch`` partition to base while rewriting, so any replay
    of a pre-delete batch raises via the existing compaction guard
    instead of resurrecting deleted rows), stage all rewrites
    non-destructively, then swap + re-key meta. Same crash contract as
    compaction; quiescent-point op (single writer, no uncommitted
    streaming batch). ``cleanup_frames`` (the localCheckpointed id
    frames from :func:`_ids_frame`) are unpersisted on the way out —
    success or failure — so repeated deletes in a long-lived session
    don't accumulate checkpointed blocks in executor storage."""
    try:
        folded = _merge_folded(
            meta, _folded_tags(spark, index_dir, data_table)
        )
        swaps = _staged_compactions(spark, index_dir, tables)
        _invalidate_meta(spark, index_dir)
        for swap in swaps:
            swap()
        write_meta({**meta, "folded_batches": folded, **meta_update})
    finally:
        for f in cleanup_frames:
            try:
                f.unpersist()
            except Exception:
                pass  # cleanup must never mask the delete's own error


def _epoch_delete(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    data_table: str,
    partition_cols: "list[str]",
    prepare,
    meta_update: dict,
    *,
    copy_tables: "list[str]",
    cleanup_frames=(),
) -> None:
    """The ANN stores' delete tail as a SNAPSHOT-EPOCH rewrite (r11):
    fold the folded-batch record, stage the anti-joined data table and
    verbatim copies of the small tables into the next epoch's dirs,
    then commit meta — a serve that loaded before the commit keeps
    reading the old epoch's intact files (the CDC/MinHash stores still
    use :func:`_staged_delete`'s in-place swap). Same replay contract:
    every ``__batch`` folds to base, so pre-delete replays raise."""
    try:
        folded = _merge_folded(
            meta,
            _folded_tags_at(spark, _data_path(index_dir, data_table, meta)),
        )
        new_meta = {
            **_next_epoch_meta(meta),
            "folded_batches": folded,
            **meta_update,
        }
        _stage_folded(
            spark,
            _data_path(index_dir, data_table, meta),
            _data_path(index_dir, data_table, new_meta),
            partition_cols,
            prepare,
        )
        for t in copy_tables:
            _copy_to_epoch(spark, index_dir, t, meta, new_meta)
        _commit_epoch(
            spark, index_dir, meta, new_meta, [data_table] + copy_tables
        )
    finally:
        for f in cleanup_frames:
            try:
                f.unpersist()
            except Exception:
                pass  # cleanup must never mask the delete's own error


def ivf_index_delete(
    spark: SparkSession, index_dir: str, ids, *, new_corpus_tag: str
) -> None:
    """Remove vectors by id from the IVF store — the takedown /
    right-to-erasure op the add-forever lifecycle needs. A staged
    rewrite of the inverted lists minus the ids (anti-join; layout and
    probe pruning unchanged, centroids stay frozen — delete never
    retrains), folding batches to base so pre-delete replays raise via
    ``folded_batches``. ``new_corpus_tag`` is REQUIRED: the logical
    corpus changed, and an ensure-load keyed to the old tag must
    rebuild rather than serve rows the caller believes deleted."""
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivf":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not ivf")
    dead = _ids_frame(
        spark, ids, meta["id_col"], _data_path(index_dir, "assigned", meta)
    )
    _epoch_delete(
        spark,
        index_dir,
        meta,
        "assigned",
        ["centroid", "__batch"],
        lambda df: df.join(dead, meta["id_col"], "left_anti"),
        {"corpus_tag": new_corpus_tag},
        copy_tables=["centroids"],
        cleanup_frames=(dead,),
    )


def pq_index_delete(
    spark: SparkSession, index_dir: str, ids, *, new_corpus_tag: str
) -> None:
    """Remove vectors by id from the PQ store (codes rows; codebooks
    stay frozen — delete never retrains). Same contract as
    :func:`ivf_index_delete`."""
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "pq":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not pq")
    dead = _ids_frame(
        spark, ids, meta["id_col"], _data_path(index_dir, "codes", meta)
    )
    _epoch_delete(
        spark,
        index_dir,
        meta,
        "codes",
        ["__batch"],
        lambda df: df.join(dead, meta["id_col"], "left_anti"),
        {"corpus_tag": new_corpus_tag},
        copy_tables=["codebooks"],
        cleanup_frames=(dead,),
    )


def _write_meta(spark: SparkSession, index_dir: str, row: dict) -> None:
    # nullable fields a caller omits (n_lists on ivf/pq stores, m on
    # ivf) default to None so the schema's field list can grow without
    # touching every writer
    full = {f.name: row.get(f.name) for f in _META_SCHEMA.fields}
    spark.createDataFrame([full], _META_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/meta")


def _read_meta(spark: SparkSession, index_dir: str) -> dict:
    rows = spark.read.parquet(f"{index_dir}/meta").collect()
    if len(rows) != 1:
        raise ValueError(f"corrupt index meta at {index_dir}: {len(rows)} rows")
    meta = rows[0].asDict()
    if meta["version"] != INDEX_FORMAT_VERSION:
        raise ValueError(
            f"index format v{meta['version']} at {index_dir}; "
            f"this build reads v{INDEX_FORMAT_VERSION}"
        )
    # metas written before the field existed read as never-compacted
    meta.setdefault("folded_batches", None)
    # pre-round-9 metas (ivf/pq only) lack the IVF-PQ list count
    meta.setdefault("n_lists", None)
    # metas written before the cosine-mode flag read as un-normalized
    meta.setdefault("normalized", None)
    # metas written before snapshot epochs read as epoch 0 (bare dirs)
    if meta.get("epoch") is None:
        meta["epoch"] = 0
    return meta


# ------------------------------------------------------------------ IVF --


def _build_target_epoch(spark: SparkSession, index_dir: str) -> "tuple[int, int]":
    """(new_epoch, old_epoch) for a (re)build. A readable current-format
    meta means the dir is SERVING: the rebuild stages into the next
    epoch's dirs so handles loaded against the old meta keep reading
    intact files, and the commit (meta write) is the switch point.
    Anything else — fresh dir, invalidated or unreadable meta — builds
    at epoch 0 (bare dirs, pre-epoch layout)."""
    try:
        if _fs_exists(spark, f"{index_dir}/meta"):
            old = _read_meta(spark, index_dir)
            e = int(old.get("epoch", 0) or 0)
            return e + 1, e
    except Exception:
        pass
    return 0, 0


def ivf_index_build(
    embeddings: DataFrame,
    index_dir: str,
    *,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    corpus_tag: str = "",
    batch_tag: str = "base",
) -> None:
    """Train the coarse quantizer ONCE and persist the whole index.

    k-means fits through ``pyspark.ml`` (tree-aggregated, executor
    side); the assignment pass is a narrow map; the inverted lists
    land partitioned by ``centroid`` so the serving path's probe
    filter prunes partitions at the scan. Meta is written LAST, and a
    REBUILD over a serving dir stages into the next snapshot epoch's
    dirs (r11): a build that dies mid-write leaves the previous index
    fully valid (or, for a first build, no meta row —
    :func:`ensure_ivf_index` treats the directory as absent), and
    handles loaded before the rebuild's meta commit keep serving the
    old epoch's intact files.

    ``batch_tag`` names the build's own ``__batch`` partition (default
    ``base``) — a streaming ingester's FIRST batch builds under its
    stream tag so a post-build crash-replay can take the add path and
    dynamic-overwrite the same partitions instead of duplicating
    (the minhash/CDC builds' contract).
    """
    from uofi_payroll_etl_main_demo_spark.ext.ivf import build_ivf_index

    spark = embeddings.sparkSession
    if batch_tag != "base":
        check_batch_tag(batch_tag)
    head = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not head:
        raise ValueError("cannot build an IVF index over an empty corpus")
    dim = int(head[0][0])
    epoch, old_epoch = _build_target_epoch(spark, index_dir)
    emeta = {"epoch": epoch}
    index = build_ivf_index(
        embeddings,
        n_centroids=n_centroids,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        max_iter=max_iter,
    )
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(index.centroids)],
        "centroid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        _data_path(index_dir, "centroids", emeta)
    )
    # __batch is the idempotence unit for incremental adds (see
    # ivf_index_add); the build's rows all land in one "base" batch.
    # centroid stays the FIRST partition level so the serving path's
    # probe filter prunes exactly as before.
    (
        index.assigned.select(id_col, vec_col, "centroid")
        .withColumn("__batch", F.lit(batch_tag))
        .write.mode("overwrite")
        .partitionBy("centroid", "__batch")
        .parquet(_data_path(index_dir, "assigned", emeta))
    )
    _invalidate_meta(spark, index_dir)
    _write_meta(
        spark,
        index_dir,
        {
            "version": INDEX_FORMAT_VERSION,
            "kind": "ivf",
            "id_col": id_col,
            "vec_col": vec_col,
            "dim": dim,
            "n_centroids": n_centroids,
            "m": None,
            "seed": seed,
            "max_iter": max_iter,
            "train_sample": None,
            "lloyd_iters": None,
            "corpus_tag": corpus_tag,
            "folded_batches": None,
            "epoch": epoch,
        },
    )
    _gc_epochs(
        spark, index_dir, ["assigned", "centroids"], keep={epoch, old_epoch}
    )


def _relational_auto_widen(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    k: int,
    run_round,
    states: list,
) -> DataFrame:
    """Batched auto-widen, fully RELATIONAL — shared by the IVF and
    IVF-PQ stores. Each widening round's output is localCheckpointed
    (bounded: ≤ batch × k rows; lineage truncation into executor
    storage, never a driver materialization), SATISFIED queries
    (≥ k result rows, computed as a groupBy count) keep their rows via
    a broadcast SEMI-join, and STARVED queries re-run together at the
    next (wider) state via a broadcast ANTI-join — never an
    ``isin(starved)`` literal, which at max_queries ids is a
    plan-size/analysis-time hazard. The only per-round driver value is
    the one-row emptiness probe that decides termination; the result
    is the lazy union of the per-round outputs, so downstream
    operators compose relationally instead of receiving a
    createDataFrame(collect()) local frame.

    Zero-norm queries have undefined cosine, can never reach k
    survivors, and both serving paths emit no rows for them — they are
    excluded up-front so they cannot drive pointless
    widen-to-exhaustion rounds (the consistent contract with the
    single-query paths' no-rows short-circuit).

    ``states`` is the finite widening schedule, first element the
    caller's starting state, last element exhaustion (full probe /
    uncut budget); ``run_round(remaining, state)`` serves one round.
    """
    from uofi_payroll_etl_main_demo_spark.functions.vectors import l2_norm

    # Batch intake validation, mirroring the non-widen paths' contract
    # (ADVICE r10): empty batches raise the established message, and
    # NULL vectors raise LOUDLY for mixed batches too — before r11 a
    # batch of live + NULL-vector queries silently dropped the NULL
    # rows through the l2_norm filter while an all-NULL batch raised,
    # an inconsistency. Both checks are JVM ``isEmpty`` probes (never
    # a driver collect — the zero-driver-materialization spy pin in
    # test_ann_index.py stays intact); the count() runs only on the
    # raise path, for the message.
    if queries.isEmpty():
        raise ValueError("empty query batch")
    nulls = queries.filter(F.col(query_vec_col).isNull())
    if not nulls.isEmpty():
        raise ValueError(
            f"{nulls.count()} query vectors are NULL — auto-widen "
            "serves cosine top-k, which is undefined for NULL vectors; "
            "drop or impute them before serving"
        )
    remaining = queries.filter(l2_norm(F.col(query_vec_col)) > 0)
    if remaining.isEmpty():
        # no live queries (all zero-norm): one plain round returns the
        # correctly-shaped empty frame (zero-norm queries emit no rows
        # on every serving path) — running the widen loop on an empty
        # remaining would hit the LUT paths' empty-batch refusal with
        # a misleading error
        return run_round(queries, states[0])
    kept: "list[DataFrame]" = []
    for i, state in enumerate(states):
        out = run_round(remaining, state).localCheckpoint(eager=True)
        if i == len(states) - 1:
            kept.append(out)
            break
        satisfied = (
            out.groupBy(query_id_col)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") >= k)
            .select(query_id_col)
        )
        kept.append(
            out.join(F.broadcast(satisfied), query_id_col, "left_semi")
        )
        remaining = remaining.join(
            F.broadcast(satisfied), query_id_col, "left_anti"
        ).localCheckpoint(eager=True)
        if remaining.isEmpty():
            break
    res = kept[0]
    for part in kept[1:]:
        res = res.unionByName(part)
    return res


def _paged_batch_serve(
    queries: DataFrame,
    qcols: "list[str]",
    max_queries: int,
    serve_chunk,
) -> DataFrame:
    """Bounded-chunk paging for the batch-serving paths whose
    per-query state (LUT tensor / query matrix) is driver-built by
    contract: instead of refusing batches above ``max_queries``, the
    serving layer pages them itself (VERDICT r9 #3).
    ``toLocalIterator`` streams the query frame so peak driver state
    is ONE chunk; each chunk becomes a bounded local frame served by
    ``serve_chunk`` (the caller's own batch method, whose cap the
    chunk respects by construction) as one job whose result is
    localCheckpointed — releasing that chunk's Arrow closure before
    the next is built, so memory stays flat — and the result is the
    union of the per-chunk outputs. Per-query top-k is chunk-local,
    which is identical to manual chunking ONLY when each query id
    lives in exactly one chunk — duplicate ids straddling a chunk
    boundary would yield per-fragment top-k (up to 2k rows per id,
    ADVICE r10) — so id uniqueness is ASSERTED up front (one bounded
    agg job; ``qcols[0]`` is the query-id column at every call site)."""
    import itertools

    spark = queries.sparkSession
    dup = (
        queries.groupBy(qcols[0])
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    if not dup.isEmpty():
        sample = [r[0] for r in dup.limit(3).collect()]
        raise ValueError(
            "duplicate query ids in an over-cap batch (paged serving "
            f"computes per-chunk top-k, so duplicates straddling a "
            f"chunk boundary would fragment their top-k): e.g. {sample}"
        )
    narrowed = queries.select(*qcols)
    schema = narrowed.schema
    it = narrowed.toLocalIterator()
    parts: "list[DataFrame]" = []
    chunk = list(itertools.islice(it, max_queries))
    while chunk:
        cdf = spark.createDataFrame(chunk, schema=schema)
        parts.append(serve_chunk(cdf).localCheckpoint(eager=True))
        chunk = list(itertools.islice(it, max_queries))
    if not parts:
        raise ValueError("empty query batch")
    res = parts[0]
    for part in parts[1:]:
        res = res.unionByName(part)
    return res


def _bounded_queries(queries: DataFrame, qcols: "list[str]", max_queries: int):
    """Query intake of the batch scorers, whose per-query state is
    driver-built: the batch's ``qcols`` rows, at most ``max_queries`` of
    them — or None for an over-cap batch, which the caller pages through
    :func:`_paged_batch_serve`. An empty batch refuses."""
    rows = queries.select(*qcols).limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        return None
    if not rows:
        raise ValueError("empty query batch")
    return rows


def _query_matrix(rows, query_vec_col: str, dim: int):
    """(q × dim) float64 matrix of a collected query batch; a query of
    another dimension than the index refuses."""
    import numpy as np

    qmat = np.stack(
        [np.asarray(r[query_vec_col], dtype=np.float64) for r in rows]
    )
    if qmat.shape[1] != dim:
        raise ValueError(f"query dimension {qmat.shape[1]} != index dim {dim}")
    return qmat


def _unit_rows(M):
    """Row-normalize a float matrix → (unit rows, live mask). Zero rows
    stay zero: their cosine is undefined, so they score nothing."""
    import numpy as np

    n = np.linalg.norm(M, axis=1)
    live = n != 0
    return M / np.where(live, n, 1.0)[:, None], live


def _probe_plan(
    Qn, centroids: "list[list[float]]", nprobe: int
) -> "dict[int, list[int]]":
    """Batched probe ranking shared by the IVF and IVF-PQ batch
    scorers: the ``rank_centroids`` law (cosine DESC, centroid id ASC
    — the stable argsort breaks ties by index) as one (q × n_lists)
    GEMM over the unit query rows ``Qn``. Float near-ties between
    centroids may order probe lists differently than the scalar rule's
    sum order; both are valid nprobe prefixes of the same law, and at
    full probe the distinction vanishes. Returns {centroid: [query row
    indices probing it]}; zero-norm queries probe nothing."""
    import numpy as np

    Cn, _ = _unit_rows(np.asarray(centroids, dtype=np.float64))
    order = np.argsort(-(Qn @ Cn.T), axis=1, kind="stable")[:, :nprobe]
    probes: "dict[int, list[int]]" = {}
    for qi in np.flatnonzero(Qn.any(axis=1)):
        for c in order[qi]:
            probes.setdefault(int(c), []).append(int(qi))
    return probes


class IVFDiskIndex:
    """Loaded handle: centroids on the driver (tiny), lists lazy."""

    def __init__(self, spark: SparkSession, index_dir: str, meta: dict):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = meta
        self.centroids: list[list[float]] = [
            r["cvec"]
            for r in spark.read.parquet(
                _data_path(index_dir, "centroids", meta)
            )
            .orderBy("centroid")
            .collect()
        ]

    def nearest_centroids(
        self, query_vec: list[float], nprobe: int
    ) -> list[int]:
        from uofi_payroll_etl_main_demo_spark.ext.ivf import rank_centroids

        return rank_centroids(self.centroids, query_vec, nprobe)

    def search_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "qvec",
        filter_ids: DataFrame | None = None,
        auto_widen: bool = False,
        exclude_query_id: bool = False,
        max_queries: int = 4096,
        list_payload: DataFrame | None = None,
        neq_attr: "tuple[str, str] | None" = None,
    ) -> DataFrame:
        """BATCHED serving: one Spark job answers EVERY query in
        ``queries`` — the shape a retrieval / hard-negative-mining
        pipeline needs, where :meth:`search`'s one-job-per-vector loop
        would schedule millions of jobs. Returns (query_id, id, score)
        rows, the per-query top-k.

        - SCORING IS BLAS: the query batch collects to a (q × dim)
          matrix shipped in the Arrow closure (``max_queries`` bounds
          driver state; bigger batches page themselves in
          ``max_queries``-sized chunks, one job per chunk, results
          unioned), and each pruned list partition scores all its
          probing queries as ONE unit-normalized GEMM.
        - PARTIAL TOP-K BEFORE THE SHUFFLE: each Arrow chunk emits only
          its per-query top-k (exact: any global top-k row is top-k
          within its chunk under the same total order), so the final
          query_id exchange carries O(chunks × q × k) rows, never the
          O(probed rows × q) pair frame.

        Probe ranking is :func:`_probe_plan` (the ``rank_centroids``
        law, vectorized) and the probe union becomes a static
        ``centroid IN`` partition filter on the list scan, so only the
        probed lists' files are read.

        RANK LAW: the key is the cosine rounded to 6 decimals, DESC,
        then id ASC — BLAS sum order differs from the scalar fold, so
        rounding before ranking keeps ties engine-exact (the
        ``knn_join_gemm`` law, and the one the oracle twins encode).
        The emitted ``score`` is the UNROUNDED cosine, as :meth:`search`
        emits it. Zero-norm corpus or query vectors have undefined
        cosine and are never scored (a zero-norm query emits no rows).

        ``filter_ids`` semi-joins the probed lists before scoring, as
        in :meth:`search`. ``exclude_query_id`` drops the candidate
        whose index id equals the query's id (self-exclusion for
        corpus-vs-itself evals). ``neq_attr=(query_col, list_col)``
        drops every candidate whose ``list_col`` value equals the
        query's ``query_col`` value, inside the chunk and BEFORE the
        partial top-k (the hard-negative "different label" shape);
        ``list_payload`` supplies ``list_col``, joined onto the pruned
        lists by the index id.

        ``auto_widen`` is the batched recall backstop (the twin of
        :meth:`search`'s): queries that return fewer than ``k`` rows
        re-run TOGETHER with doubled nprobe — one job per widening
        round over ONLY the starved queries, at most log2(#lists)
        rounds, degrading gracefully to the exact (filtered) brute
        force at full probe. The loop is :func:`_relational_auto_widen`:
        the return value is the lazy union of the rounds, with no
        driver collect of result rows."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import Window

        id_col, vec_col = self.meta["id_col"], self.meta["vec_col"]
        if neq_attr is not None and list_payload is None:
            raise ValueError(
                "neq_attr requires list_payload supplying the "
                "list-side attribute column"
            )
        n_lists = len(self.centroids)
        nprobe = min(nprobe, n_lists)

        def serve(qdf: DataFrame, probe: int = nprobe) -> DataFrame:
            return self.search_batch(
                qdf,
                k=k,
                nprobe=probe,
                query_id_col=query_id_col,
                query_vec_col=query_vec_col,
                filter_ids=filter_ids,
                exclude_query_id=exclude_query_id,
                max_queries=max_queries,
                list_payload=list_payload,
                neq_attr=neq_attr,
            )

        if auto_widen:
            states = [nprobe]
            while states[-1] < n_lists:
                states.append(min(states[-1] * 2, n_lists))
            return _relational_auto_widen(
                queries, query_id_col, query_vec_col, k, serve, states
            )
        qcols = [query_id_col, query_vec_col]
        if neq_attr is not None:
            qcols.append(neq_attr[0])
        qrows = _bounded_queries(queries, qcols, max_queries)
        if qrows is None:
            return _paged_batch_serve(queries, qcols, max_queries, serve)
        qids = np.array([r[query_id_col] for r in qrows])
        Qn, _ = _unit_rows(
            _query_matrix(qrows, query_vec_col, int(self.meta["dim"]))
        )
        probes = _probe_plan(Qn, self.centroids, nprobe)
        lists = self.spark.read.parquet(
            _data_path(self.index_dir, "assigned", self.meta)
        ).filter(F.col("centroid").isin(sorted(probes)))
        if filter_ids is not None:
            lists = lists.join(
                filter_ids.select(F.col(id_col)), id_col, "left_semi"
            )
        cols = [id_col, vec_col, "centroid"]
        attr_col = qattrs = None
        if neq_attr is not None:
            attr_col = neq_attr[1]
            qattrs = np.array([r[neq_attr[0]] for r in qrows])
            cols.append(attr_col)
            lists = lists.join(
                list_payload.select(F.col(id_col), F.col(attr_col)), id_col
            )
        lists = lists.select(*cols)
        schema = T.StructType(
            [
                T.StructField(
                    query_id_col, queries.schema[query_id_col].dataType
                ),
                T.StructField(id_col, lists.schema[id_col].dataType),
                T.StructField("score", T.DoubleType()),
                T.StructField("__rk", T.DoubleType()),
            ]
        )

        def score_chunks(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                ids = pdf[id_col].to_numpy()
                cents = pdf["centroid"].to_numpy()
                Vn, vlive = _unit_rows(
                    np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                )
                attrs = pdf[attr_col].to_numpy() if attr_col else None
                out_q, out_i, out_s, out_k = [], [], [], []
                for c in np.unique(cents):
                    q_idx = probes.get(int(c))
                    rmask = (cents == c) & vlive
                    if not q_idx or not rmask.any():
                        continue
                    rids = ids[rmask]
                    rattrs = attrs[rmask] if attrs is not None else None
                    sims = Vn[rmask] @ Qn[q_idx].T
                    keys = np.round(sims, 6)
                    for j, qi in enumerate(q_idx):
                        keep = np.ones(len(rids), dtype=bool)
                        if exclude_query_id:
                            keep &= rids != qids[qi]
                        if rattrs is not None:
                            keep &= rattrs != qattrs[qi]
                        kid, kkey = rids[keep], keys[keep, j]
                        # top-k by (key desc, id asc): stable lexsort
                        top = np.lexsort((kid, -kkey))[:k]
                        out_q.append(np.full(len(top), qi))
                        out_i.append(kid[top])
                        out_s.append(sims[keep, j][top])
                        out_k.append(kkey[top])
                if out_q:
                    yield pd.DataFrame(
                        {
                            query_id_col: qids[np.concatenate(out_q)],
                            id_col: np.concatenate(out_i),
                            "score": np.concatenate(out_s),
                            "__rk": np.concatenate(out_k),
                        }
                    )

        w = Window.partitionBy(query_id_col).orderBy(
            F.desc("__rk"), F.asc(id_col)
        )
        return (
            lists.mapInPandas(score_chunks, schema)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn", "__rk")
        )

    def search(
        self,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 4,
        filter_ids: DataFrame | None = None,
        auto_widen: bool = False,
    ) -> DataFrame:
        """Top-k over the nprobe nearest inverted lists — the plan
        reads ONLY the index's partitioned parquet (training never
        re-runs), and the ``centroid isin`` predicate is a PARTITION
        filter, so only the probed lists' files are scanned.

        FILTERED serving (the first thing a RAG user does: top-k WITH
        a metadata predicate): ``filter_ids`` — an id frame from any
        metadata filter — semi-joins the probed lists BEFORE scoring,
        so excluded vectors never reach the cosine, and the partition
        pruning survives (the semi-join sits above the pruned scan,
        pinned in tests). With ``auto_widen``, a probe that returns
        fewer than ``k`` survivors doubles nprobe and retries until k
        are found or every list has been probed (the standard
        filtered-ANN recall backstop — a selective predicate can
        exhaust the nearest lists); the per-try cost is one k-row
        take, and nprobe = #lists degrades gracefully to the exact
        filtered brute force."""
        id_col, vec_col = self.meta["id_col"], self.meta["vec_col"]
        if not any(float(x) for x in query_vec):
            # zero-norm query: cosine undefined — emit NO rows (the
            # IVFPQ short-circuit's contract); without this the
            # NULL-score filter below would drive an auto_widen loop
            # through every probe width down to a full-index scan
            # before returning the same empty frame
            return (
                self.spark.read.parquet(_data_path(self.index_dir, "assigned", self.meta))
                .select(
                    F.col(id_col),
                    F.lit(None).cast("double").alias("score"),
                )
                .filter(F.lit(False))
            )
        n_lists = len(self.centroids)
        nprobe = min(nprobe, n_lists)
        while True:
            probe = self.nearest_centroids(query_vec, nprobe)
            lists = self.spark.read.parquet(
                _data_path(self.index_dir, "assigned", self.meta)
            ).filter(F.col("centroid").isin(*probe))
            if filter_ids is not None:
                lists = lists.join(
                    filter_ids.select(F.col(id_col)), id_col, "left_semi"
                )
            out = (
                lists.select(
                    F.col(id_col),
                    cosine_similarity(vec_col, query_vec).alias("score"),
                )
                .filter(F.col("score").isNotNull())
                .orderBy(F.desc("score"), F.asc(id_col))
                .limit(k)
            )
            if not auto_widen:
                return out
            # materialize the probe ONCE: take(k) already ran the full
            # scored scan, so hand the (≤ k-row) result back as a local
            # frame instead of a lazy plan the caller's action would
            # recompute
            rows = out.take(k)
            if len(rows) >= k or nprobe >= n_lists:
                return self.spark.createDataFrame(rows, out.schema)
            nprobe = min(nprobe * 2, n_lists)


def hard_negative_mining_index(
    index: "IVFDiskIndex",
    queries: DataFrame,
    labels: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    label_col: str = "label",
    auto_widen: bool = False,
) -> DataFrame:
    """Hard-negative mining SERVED FROM the persisted IVF store — the
    index-backed form of
    :func:`~uofi_payroll_etl_main_demo_spark.ext.similarity.hard_negative_mining`
    (which LSH-buckets the corpus inline on every call): a contrastive
    trainer mining negatives for millions of anchors queries the store
    it already maintains, paying only the probed lists per anchor, and
    training never re-runs.

    One batched serve answers the whole anchor frame
    (:meth:`IVFDiskIndex.search_batch`): ``labels`` attributes the
    pruned list rows, and the different-label predicate is the
    scorer's in-chunk ``neq_attr`` mask, applied BEFORE the per-anchor
    partial top-k — exact per-query filtered semantics, no over-fetch
    heuristics. Ranks follow the scorer's law (cosine rounded to 6
    decimals DESC, neighbor id ASC), and so does the final ``rank``
    window. Full probe makes every answer exactly the label-filtered
    brute force (the value-oracle law); ``auto_widen=True`` adds the
    starved-anchor recall backstop at production nprobe.

    ``queries``: (id, vec, label) anchors, collected in bounded
    batches by the scorer's ``max_queries`` contract.
    ``labels``: (index-id, label) for the INDEXED corpus (joined by the
    index's id column — a co-keyed shuffle join, corpus-sized is fine).
    Output: (query_id, label, neighbor_id, neighbor_label, cosine,
    rank) — the inline miner's contract.
    """
    from pyspark.sql import Window

    id_col = index.meta["id_col"]
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(label_col).alias("__q_label"),
        F.col(query_vec_col).alias("qvec"),
    )
    payload = labels.select(
        F.col(id_col), F.col(label_col).alias("__n_label")
    )
    hits = index.search_batch(
        q,
        k=k,
        nprobe=nprobe,
        auto_widen=auto_widen,
        list_payload=payload,
        neq_attr=("__q_label", "__n_label"),
    )
    cosine = F.round("score", 6)
    w = Window.partitionBy("query_id").orderBy(cosine.desc(), F.asc(id_col))
    return (
        hits.join(payload, id_col)
        .join(F.broadcast(q.select("query_id", "__q_label")), "query_id")
        .select(
            F.col("query_id"),
            F.col("__q_label").alias("label"),
            F.col(id_col).alias("neighbor_id"),
            F.col("__n_label").alias("neighbor_label"),
            cosine.alias("cosine"),
            F.row_number().over(w).alias("rank"),
        )
    )


def ivf_index_load(spark: SparkSession, index_dir: str) -> IVFDiskIndex:
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivf":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not ivf")
    return IVFDiskIndex(spark, index_dir, meta)


def ensure_ivf_index(
    embeddings: DataFrame,
    index_dir: str,
    *,
    corpus_tag: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> IVFDiskIndex:
    """Load the index if it matches (params + corpus_tag), else
    (re)build — the one-call lifecycle entry a repeated-query workload
    uses. Matching loads do ZERO training work."""
    spark = embeddings.sparkSession
    if _fs_exists(spark, f"{index_dir}/meta"):
        try:
            meta = _read_meta(spark, index_dir)
        except Exception:
            meta = None
        if (
            meta
            and meta["kind"] == "ivf"
            and meta["corpus_tag"] == corpus_tag
            and meta["n_centroids"] == n_centroids
            and meta["id_col"] == id_col
            and meta["vec_col"] == vec_col
            and meta["seed"] == seed
            and meta.get("max_iter") == max_iter
        ):
            return IVFDiskIndex(spark, index_dir, meta)
    ivf_index_build(
        embeddings,
        index_dir,
        n_centroids=n_centroids,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        max_iter=max_iter,
        corpus_tag=corpus_tag,
    )
    return ivf_index_load(spark, index_dir)


def _nearest_centroid_expr(centroids: "list[list[float]]", vec_col: str):
    """Argmin over per-centroid SQUARED EUCLIDEAN distance — the same
    metric the build's KMeans assignment used (assigning by cosine
    would file vectors into different lists than a rebuild would).
    array_min on (d2, idx) structs: lexicographic min takes the
    closest centroid, ties broken toward the lowest id. Pure JVM-side
    expression (no Python boundary) — the ONE assignment law shared by
    incremental adds and rebalance reassignment."""

    def _d2(c: "list[float]"):
        clit = F.array(*[F.lit(float(x)) for x in c])
        diffs = F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            clit,
            lambda a, b: (a - b) * (a - b),
        )
        return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)

    scored = F.array(
        *[
            F.struct(_d2(c).alias("d2"), F.lit(i).alias("i"))
            for i, c in enumerate(centroids)
        ]
    )
    return F.array_min(scored)["i"].cast("int")


# Above this many centroids the enumerated-literal assignment
# expression stops being the right plan: per-row cost and generated
# code size both grow linearly with the centroid count (repeated
# rebalances can grow a store well past its build-time n_centroids),
# so the assignment switches to a broadcast-joined centroid table.
# 128 keeps the common store sizes (8-64 lists) on the zero-shuffle
# literal path.
_LITERAL_ASSIGN_MAX = 128


def _assign_centroids(
    df: DataFrame,
    centroids: "list[list[float]]",
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Attach the nearest-centroid ``centroid`` column under the ONE
    assignment law (squared euclidean, ties to the lowest id — see
    :func:`_nearest_centroid_expr`), picking the physical strategy by
    centroid count: ≤ ``_LITERAL_ASSIGN_MAX`` uses the enumerated
    literal expression (pure JVM map, no shuffle); above it, a
    broadcast crossJoin against the centroid table + map-side-combined
    min aggregation (the exchange carries one (id, best) row per
    vector, never the embedding × centroid blowup), joined back by id.
    Requires unique ``id_col`` values (the store invariant every index
    op already assumes — a duplicate id would duplicate rows on the
    join-back path only, so it's an input contract, not a strategy
    choice)."""
    if len(centroids) <= _LITERAL_ASSIGN_MAX:
        return df.withColumn(
            "centroid", _nearest_centroid_expr(centroids, vec_col)
        )
    spark = df.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "__cid int, __cvec array<double>",
    )
    diffs = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.col("__cvec"),
        lambda a, b: (a - b) * (a - b),
    )
    d2 = F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
    best = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(cent))
        .select(
            id_col,
            F.struct(d2.alias("d2"), F.col("__cid").alias("i")).alias("__s"),
        )
        .groupBy(id_col)
        .agg(F.min("__s").alias("__b"))
        .select(id_col, F.col("__b.i").cast("int").alias("centroid"))
    )
    return df.join(best, id_col)


def ivf_index_add(
    embeddings_new: DataFrame,
    index_dir: str,
    *,
    new_corpus_tag: str,
    batch_id: str | None = None,
) -> None:
    """Incremental index maintenance — the CDC path of the lifecycle:
    assign NEW vectors to the EXISTING centroids (no retrain; the
    standard IVF add, quantization error drifts only as far as the
    data does) and add them to the inverted-list partitions.
    Assignment is a pure JVM-side expression (argmax over ≤hundreds of
    centroid cosines — no Python boundary), so adds scale like any
    narrow map + partitioned write.

    IDEMPOTENT per ``batch_id`` (defaults to ``new_corpus_tag``): the
    batch's rows land in ``centroid=*/__batch={batch_id}`` partitions
    via dynamic partition overwrite, so replaying an add — after a
    crash, or from an at-least-once delivery — REPLACES that batch's
    partitions instead of duplicating rows. Meta (the corpus re-key)
    is written last: a crash mid-add leaves the previous tag over a
    partial batch, and the replay that at-least-once delivery owes
    heals the data before the tag ever advances. Distinct batches must
    use distinct batch ids; reusing one overwrites the earlier batch."""
    spark = embeddings_new.sparkSession
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivf":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not ivf")
    # a replayed add of a compaction-folded batch would duplicate its
    # vectors (they live in base now): refuse loudly
    check_not_compacted_away(
        meta,
        check_batch_tag(batch_id if batch_id is not None else new_corpus_tag),
    )
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    head = embeddings_new.select(F.size(vec_col).alias("d")).limit(1).collect()
    if head and int(head[0][0]) != meta["dim"]:
        raise ValueError(
            f"batch dimension {int(head[0][0])} != index dim {meta['dim']}"
            " — a mismatched add would silently misassign every vector"
        )
    centroids = [
        r["cvec"]
        for r in spark.read.parquet(_data_path(index_dir, "centroids", meta))
        .orderBy("centroid")
        .collect()
    ]
    # cast to the STORE's element type (one footer read): a batch
    # whose array element type differs (double vs float) would write
    # mixed-typed partitions and make the whole table unreadable —
    # scoring always runs in double either way
    stored_vec_type = (
        spark.read.parquet(_data_path(index_dir, "assigned", meta))
        .schema[vec_col]
        .dataType
    )
    assigned = _assign_centroids(
        embeddings_new.select(
            F.col(id_col),
            F.col(vec_col).cast(stored_vec_type).alias(vec_col),
        ),
        centroids,
        vec_col,
        id_col,
    ).withColumn(
        "__batch",
        F.lit(batch_id if batch_id is not None else new_corpus_tag),
    )
    (
        assigned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("centroid", "__batch")
        .parquet(_data_path(index_dir, "assigned", meta))
    )
    _write_meta(spark, index_dir, {**meta, "corpus_tag": new_corpus_tag})


# ------------------------------------------------------------------- PQ --


def _pq_encode(
    embeddings: DataFrame, codebooks, id_col: str, vec_col: str
) -> DataFrame:
    """(id, codes) via Arrow-batched nearest-sub-centroid assignment —
    the ONE encoder shared by the build and the incremental add, so a
    vector encodes identically whichever path stored it."""
    import numpy as np

    m, _n_centroids, sub = codebooks.shape
    cb_bc = codebooks  # closed over; shipped once per task via pickle
    codes_schema = T.StructType(
        [
            T.StructField("vec_id_out", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(mat), m), dtype=np.int64)
            for j in range(m):
                X = mat[:, j * sub : (j + 1) * sub]
                d2 = ((X[:, None, :] - cb_bc[None, j, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id_out": pdf[id_col].to_numpy(),
                    "codes": list(codes.astype("int32")),
                }
            )

    return (
        embeddings.select(id_col, vec_col)
        .mapInPandas(encode, codes_schema)
        .withColumnRenamed("vec_id_out", id_col)
    )


def _adc_schema(queries: DataFrame, query_id_col: str) -> T.StructType:
    """Per-query within-chunk ADC candidates, emitted by the PQ / IVF-PQ
    scans: the query's row index in the batch (``__qi``, which indexes
    the query matrix), its id, and one scored candidate."""
    return T.StructType(
        [
            T.StructField("__qi", T.IntegerType()),
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField("vec_id_out", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )


def _top_per_query(df: DataFrame, n: int, nq: int, *order) -> DataFrame:
    """Each query's (``__qi``) top ``n`` rows under ``order``: a
    row_number window over ``__qi``. A one-query batch (``nq == 1``)
    takes one global top-n instead — a single top-k stage with no
    exchange, which keeps a single-query serve as cheap as a plain
    ``orderBy().limit()``; ``limit`` takes an int32, so budgets above
    the widen schedule's uncut 2^30 keep the window."""
    from pyspark.sql import Window

    if nq == 1 and n <= 1 << 30:
        return df.orderBy(*order).limit(n)
    w = Window.partitionBy("__qi").orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def _adc_serve(
    index,
    qmat,
    scanned: DataFrame,
    *,
    k: int,
    candidates: int,
    rerank_corpus: "DataFrame | None",
    query_id_col: str,
) -> DataFrame:
    """Shared tail of the PQ and IVF-PQ batch scorers: ``scanned`` (the
    Arrow ADC scan's per-query within-chunk candidates,
    :func:`_adc_schema`) → one ``__qi`` exchange keeping each query's
    top ``candidates`` (adc DESC, id ASC) → the raw ADC top-k as
    (query_id, id, score), or the exact rerank of the candidates
    (:func:`_exact_rerank_batch`)."""
    id_col = index.meta["id_col"]
    keep = candidates if rerank_corpus is not None else min(candidates, k)
    cand = _top_per_query(
        scanned, keep, len(qmat), F.desc("adc"), F.asc("vec_id_out")
    )
    if rerank_corpus is None:
        return cand.select(
            F.col(query_id_col),
            F.col("vec_id_out").alias(id_col),
            F.col("adc").alias("score"),
        )
    return _exact_rerank_batch(
        cand,
        rerank_corpus,
        qmat,
        id_col=id_col,
        vec_col=index.meta["vec_col"],
        query_id_col=query_id_col,
        k=k,
    )


def _exact_rerank_batch(
    cand: DataFrame,
    rerank_corpus: DataFrame,
    qmat,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int,
) -> DataFrame:
    """Batched exact-rerank tail shared by the PQ and IVF-PQ serves:
    candidate ids fetch their raw vectors from the row store
    (semi-join keeps the store scan pruned to the candidate set), then
    true cosine against each candidate's own query vector. Scoring is
    an Arrow batch with the (bounded) query matrix in the closure —
    NOT the per-pair higher-order expression, which pays 3 interpreted
    64-element folds per (query, candidate) and dominated the
    full-margin serve. Accumulation is a SEQUENTIAL left fold
    vectorized ACROSS rows (acc += v_d*q_d per dimension), which is
    bit-identical to the JVM zip_with/aggregate fold (strict IEEE
    add/mul, no FMA, same order), so scores — and therefore ranks,
    which stay on the unrounded value — match the ``cosine_similarity``
    expression exactly (pinned at 9 decimals in tests). Zero-norm
    candidates have undefined cosine and are dropped. ``qmat`` holds
    the RAW query vectors, also in cosine mode.

    ``cand`` must carry (__qi int, query id, vec_id_out) — the
    per-query candidate frame the ADC stage produced; ``qmat`` is the
    (nq × dim) query matrix whose row index IS ``__qi``."""
    import numpy as np

    nq, dim = qmat.shape
    Qm = qmat
    ids = cand.select(
        "__qi", query_id_col, F.col("vec_id_out").alias(id_col)
    )
    fetched = rerank_corpus.join(
        F.broadcast(ids.select(id_col).distinct()), id_col, "left_semi"
    ).select(id_col, vec_col)
    rs_schema = T.StructType(
        [
            T.StructField("__qi", T.IntegerType()),
            cand.schema[query_id_col],
            T.StructField(
                id_col, rerank_corpus.schema[id_col].dataType
            ),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def rescore(batches):
        import pandas as pd

        qn = np.zeros(nq)
        q2 = Qm * Qm
        for d in range(dim):
            qn += q2[:, d]
        qn = np.sqrt(qn)
        for pdf in batches:
            if not len(pdf):
                continue
            qi = pdf["__qi"].to_numpy()
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Qb = Qm[qi]
            prods = V * Qb
            v2 = V * V
            dot = np.zeros(len(pdf))
            na = np.zeros(len(pdf))
            for d in range(dim):
                dot += prods[:, d]
                na += v2[:, d]
            denom = np.sqrt(na) * qn[qi]
            keep = denom != 0
            if not keep.any():
                continue
            yield pd.DataFrame(
                {
                    "__qi": qi[keep],
                    query_id_col: pdf[query_id_col].to_numpy()[keep],
                    id_col: pdf[id_col].to_numpy()[keep],
                    "score": dot[keep] / denom[keep],
                }
            )

    return (
        _top_per_query(
            ids.join(fetched, id_col).mapInPandas(rescore, rs_schema),
            k,
            nq,
            F.desc("score"),
            F.asc(id_col),
        ).select(F.col(query_id_col), F.col(id_col), F.col("score"))
    )


def pq_index_build(
    embeddings: DataFrame,
    index_dir: str,
    *,
    m: int = 8,
    n_centroids: int = 16,
    train_sample: int = 256,
    lloyd_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_tag: str = "",
    batch_tag: str = "base",
    normalize: bool = False,
) -> None:
    """Train PQ codebooks ONCE (deterministic Lloyd on the id-sorted
    sample — shared trainer with the in-query ``pq_top_k``), encode the
    corpus distributed (Arrow batches), persist codebooks + codes.
    Meta last, same crash-safety contract as the IVF build.
    ``batch_tag`` names the build's own ``__batch`` partition — the
    streaming first-batch replay contract, see :func:`ivf_index_build`.

    ``normalize=True`` is COSINE MODE (see :func:`ivfpq_index_build` —
    the flat store has the same sharp edge: its ADC ranks by raw
    inner product, so under norm variance a bounded candidate budget
    is biased toward high-norm vectors). Vectors unit-normalize at
    ingest, queries at serve time; full-margin reranked answers are
    unchanged, bounded candidate cuts become cosine-faithful. Part of
    the index identity; travels in meta through adds and retrains.
    """
    import numpy as np

    from uofi_payroll_etl_main_demo_spark.ext.similarity import (
        train_pq_codebooks,
    )

    spark = embeddings.sparkSession
    if batch_tag != "base":
        check_batch_tag(batch_tag)
    if normalize:
        embeddings = _l2_normalize(embeddings, vec_col)
    # validate BEFORE invalidating: a bad call (empty upstream frame)
    # must not destroy a previously valid serving index
    sample = (
        embeddings.select(vec_col)
        .orderBy(F.asc(id_col))
        .limit(train_sample)
        .collect()
    )
    if not sample:
        raise ValueError("cannot build a PQ index over an empty corpus")
    epoch, old_epoch = _build_target_epoch(spark, index_dir)
    emeta = {"epoch": epoch}
    train = np.stack([r[0] for r in sample]).astype(np.float64)
    dim = train.shape[1]
    codebooks = train_pq_codebooks(train, m, n_centroids, lloyd_iters)
    sub = dim // m
    cb_rows = [
        (j, c, [float(x) for x in codebooks[j, c]])
        for j in range(m)
        for c in range(n_centroids)
    ]
    spark.createDataFrame(
        cb_rows, "j int, c int, cvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        _data_path(index_dir, "codebooks", emeta)
    )

    (
        _pq_encode(embeddings, codebooks, id_col, vec_col)
        .withColumn("__batch", F.lit(batch_tag))
        .write.mode("overwrite")
        .partitionBy("__batch")
        .parquet(_data_path(index_dir, "codes", emeta))
    )
    _invalidate_meta(spark, index_dir)
    _write_meta(
        spark,
        index_dir,
        {
            "version": INDEX_FORMAT_VERSION,
            "kind": "pq",
            "id_col": id_col,
            "vec_col": vec_col,
            "dim": dim,
            "n_centroids": n_centroids,
            "m": m,
            "seed": None,
            "max_iter": None,
            "train_sample": train_sample,
            "lloyd_iters": lloyd_iters,
            "corpus_tag": corpus_tag,
            "folded_batches": None,
            "normalized": normalize,
            "epoch": epoch,
        },
    )
    _gc_epochs(
        spark, index_dir, ["codes", "codebooks"], keep={epoch, old_epoch}
    )


def _serve_one(index, query_vec, k: int, **kwargs) -> DataFrame:
    """Single-query serve of the PQ and IVF-PQ stores: the store's own
    ``search_batch`` over a one-row query frame, projected to
    (id, score) and ordered score DESC, id ASC — one scorer per store,
    so a single query and a batch row can never disagree. The batch
    holds at most ``k`` rows; the ``limit`` only makes the final sort
    one top-k stage instead of a range-partitioned sort."""
    import numpy as np
    import pandas as pd

    id_col = index.meta["id_col"]
    # from pandas, so the session's Arrow path builds the frame in the
    # JVM; a list of rows would become a Python RDD, and every job the
    # scorer runs over it (intake collect, auto-widen probes) would pay
    # a Python worker round trip
    q = index.spark.createDataFrame(
        pd.DataFrame(
            {"__qid": [0], "__qvec": [np.asarray(query_vec, dtype=float)]}
        ),
        "__qid long, __qvec array<double>",
    )
    return (
        index.search_batch(
            q, k=k, query_id_col="__qid", query_vec_col="__qvec", **kwargs
        )
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


class PQDiskIndex:
    """Loaded handle: codebooks on the driver (m·n_centroids·sub
    doubles — KBs), codes lazy."""

    def __init__(self, spark: SparkSession, index_dir: str, meta: dict):
        import numpy as np

        self.spark = spark
        self.index_dir = index_dir
        self.meta = meta
        m, n_centroids = meta["m"], meta["n_centroids"]
        sub = meta["dim"] // m
        self.codebooks = np.empty((m, n_centroids, sub))
        for r in spark.read.parquet(
            _data_path(index_dir, "codebooks", meta)
        ).collect():
            self.codebooks[r["j"], r["c"]] = r["cvec"]

    def search(
        self,
        query_vec: list[float],
        k: int = 10,
        candidates: int = 100,
        rerank_corpus: DataFrame | None = None,
        filter_ids: DataFrame | None = None,
    ) -> DataFrame:
        """Single-query serve: :meth:`search_batch` over a one-row
        query frame, projected to (id, score) and ordered score DESC,
        id ASC. ADC scan over the persisted codes (no corpus touch, no
        training); with ``rerank_corpus`` (the id-addressable row
        store) the top ``candidates`` are exact-reranked by true cosine
        — the standard two-stage serving path; without it, the raw ADC
        scores (pure index-only query). ``filter_ids`` semi-joins the
        codes BEFORE the ADC scan, so the candidate budget is spent
        entirely inside the allowed set — the filtered twin of
        ``IVFDiskIndex.search``."""
        return _serve_one(
            self,
            query_vec,
            k=k,
            candidates=candidates,
            rerank_corpus=rerank_corpus,
            filter_ids=filter_ids,
        )

    def search_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        candidates: int = 100,
        rerank_corpus: DataFrame | None = None,
        filter_ids: DataFrame | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "qvec",
        max_queries: int = 65536,
    ) -> DataFrame:
        """BATCHED two-stage PQ serving: ONE distributed ADC scan of
        the codes table answers every query in ``queries`` (vs one job
        per vector through :meth:`search`). Returns (query_id, id,
        score) per-query top-k rows.

        Plan shape: the query batch materializes driver-side (bounded
        by ``max_queries`` — the same bounded-driver-state contract as
        the codebooks themselves; bigger workloads PAGE THEMSELVES in
        ``max_queries``-sized chunks, one job per chunk, results
        unioned) into a PER-QUERY LUT TENSOR (nq × m × n_centroids
        doubles — KBs per query), shipped once per task in the Arrow
        closure. Each codes batch then scores ALL queries with one
        gather+sum (`lut[:, j, codes]`), keeps the per-query
        within-batch top ``candidates``, and one query_id exchange
        picks the global per-query candidates; optional exact rerank
        joins the candidate ids back to the row store and re-scores
        with true cosine — the standard two-stage shape, batched.
        ``filter_ids`` semi-joins the codes before the scan, so the
        ADC work and candidate budget are spent inside the allowed
        set, per query."""
        import numpy as np

        meta = self.meta
        m, n_centroids = meta["m"], meta["n_centroids"]
        sub = meta["dim"] // m
        id_col = meta["id_col"]
        qcols = [query_id_col, query_vec_col]
        qrows = _bounded_queries(queries, qcols, max_queries)
        if qrows is None:
            return _paged_batch_serve(
                queries,
                qcols,
                max_queries,
                lambda cdf: self.search_batch(
                    cdf,
                    k=k,
                    candidates=candidates,
                    rerank_corpus=rerank_corpus,
                    filter_ids=filter_ids,
                    query_id_col=query_id_col,
                    query_vec_col=query_vec_col,
                    max_queries=max_queries,
                ),
            )
        qmat = _query_matrix(qrows, query_vec_col, meta["dim"])
        qids = np.array([r[query_id_col] for r in qrows])
        nq = len(qmat)
        # cosine mode: queries join the unit-normalized store space for
        # the ADC; the exact rerank scores TRUE cosine of the raw
        # vectors (scale-invariant), unchanged at full margin
        qadc = _unit_rows(qmat)[0] if meta.get("normalized") else qmat
        # luts[q, j, c] = <q_sub_j, codebook[j, c]>; flattened so the
        # scan's gather is one fancy-index over (j*n_centroids + code)
        lut_flat = np.einsum(
            "qjd,jcd->qjc", qadc.reshape(nq, m, sub), self.codebooks
        ).reshape(nq, m * n_centroids)
        offsets = (np.arange(m) * n_centroids).astype(np.int64)
        take = min(candidates, 1 << 30)

        def scan(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
                flat = codes + offsets[None, :]  # (b, m)
                adc = lut_flat[:, flat].sum(axis=2)  # (nq, b)
                b = adc.shape[1]
                t = min(take, b)
                # per-query within-batch top-t (argpartition then sort
                # is O(b + t log t) per query, not O(b log b))
                part = np.argpartition(-adc, t - 1, axis=1)[:, :t]
                rows_q = np.repeat(np.arange(nq), t)
                rows_v = part.reshape(-1)
                yield pd.DataFrame(
                    {
                        "__qi": rows_q.astype("int32"),
                        query_id_col: qids[rows_q],
                        "vec_id_out": pdf[id_col].to_numpy()[rows_v],
                        "adc": adc[rows_q, rows_v],
                    }
                )

        codes_df = self.spark.read.parquet(
            _data_path(self.index_dir, "codes", self.meta)
        )
        if filter_ids is not None:
            codes_df = codes_df.join(
                filter_ids.select(F.col(id_col)), id_col, "left_semi"
            )
        return _adc_serve(
            self,
            qmat,
            codes_df.mapInPandas(scan, _adc_schema(queries, query_id_col)),
            k=k,
            candidates=candidates,
            rerank_corpus=rerank_corpus,
            query_id_col=query_id_col,
        )


def pq_index_load(spark: SparkSession, index_dir: str) -> PQDiskIndex:
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "pq":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not pq")
    return PQDiskIndex(spark, index_dir, meta)


def pq_index_add(
    embeddings_new: DataFrame,
    index_dir: str,
    *,
    new_corpus_tag: str,
    batch_id: str | None = None,
) -> None:
    """Incremental PQ maintenance — the add the IVF/MinHash/CDC stores
    already have: encode NEW vectors with the EXISTING codebooks (no
    retrain — the standard PQ add; quantization error drifts only as
    far as the data does) and land their codes in a ``__batch``
    partition via dynamic partition overwrite, so replays are
    idempotent. Encoding is the same Arrow-batched mapInPandas as the
    build (shared ``_pq_encode``), meta re-key last — the uniform
    lifecycle contract across every index family in this package."""
    import numpy as np

    spark = embeddings_new.sparkSession
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "pq":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not pq")
    check_not_compacted_away(
        meta,
        check_batch_tag(batch_id if batch_id is not None else new_corpus_tag),
    )
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    if meta.get("normalized"):
        embeddings_new = _l2_normalize(embeddings_new, vec_col)
    head = embeddings_new.select(F.size(vec_col).alias("d")).limit(1).collect()
    if head and int(head[0][0]) != meta["dim"]:
        raise ValueError(
            f"batch dimension {int(head[0][0])} != index dim {meta['dim']}"
            " — a mismatched add would silently mis-encode every vector"
        )
    m, n_centroids = meta["m"], meta["n_centroids"]
    sub = meta["dim"] // m
    codebooks = np.empty((m, n_centroids, sub))
    for r in spark.read.parquet(
        _data_path(index_dir, "codebooks", meta)
    ).collect():
        codebooks[r["j"], r["c"]] = r["cvec"]
    tag = batch_id if batch_id is not None else new_corpus_tag
    (
        _pq_encode(embeddings_new, codebooks, id_col, vec_col)
        .withColumn("__batch", F.lit(tag))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch")
        .parquet(_data_path(index_dir, "codes", meta))
    )
    _write_meta(spark, index_dir, {**meta, "corpus_tag": new_corpus_tag})


def pq_index_retrain(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    *,
    new_corpus_tag: str,
    train_sample: "int | None" = None,
    lloyd_iters: "int | None" = None,
) -> None:
    """Act on the drift :func:`pq_index_drift_stats` reports — the
    codebook twin of :func:`ivf_index_rebalance`: re-fit the codebooks
    on a sample of the CURRENT membership and re-encode every stored
    vector through them (staged swap), recovering the ADC accuracy
    that drifted adds lost against build-time codebooks. ``corpus`` is
    the id-addressable row store; only rows whose id is CURRENTLY in
    the codes table are re-encoded — a retrain never resurrects
    deleted ids and never admits new ones (use ``pq_index_add``), so
    the serving answer set is bit-for-bit unchanged at full rerank
    margin (pinned in tests/test_ann_index.py).

    Refuses loudly when the corpus under- or over-covers the store's
    membership: a missing raw vector would silently DROP a stored id
    (erasure the caller never asked for), a duplicated id would store
    two codes under one id. Training mirrors the build (id-sorted
    bounded sample, deterministic Lloyd — same trainer); sample size /
    iterations default to the build's own meta values and are recorded
    back into meta (they are part of the index identity).

    Batches fold to base during the rewrite, so pre-retrain replays
    raise via ``folded_batches`` — and the panel's next ``base`` IS
    the new training snapshot, resetting the :func:`needs_retrain`
    baseline. ``new_corpus_tag`` is REQUIRED (ensure-loads keyed to
    the old tag must rebuild, not serve re-encoded rows under a stale
    key). Quiescent-point op, same crash contract as compaction: meta
    absent between invalidate and the final write → ensure rebuilds."""
    import numpy as np

    from uofi_payroll_etl_main_demo_spark.ext.similarity import (
        train_pq_codebooks,
    )

    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "pq":
        raise ValueError(f"{index_dir} holds a {meta['kind']!r} index, not pq")
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    m, n_centroids = meta["m"], meta["n_centroids"]
    if train_sample is None:
        train_sample = meta["train_sample"]
    if lloyd_iters is None:
        lloyd_iters = meta["lloyd_iters"]
    if meta.get("normalized"):
        # cosine mode retrains in its normalized space (flag is
        # identity, so it survives the retrain)
        corpus = _l2_normalize(corpus, vec_col)
    ids = (
        spark.read.parquet(_data_path(index_dir, "codes", meta))
        .select(id_col)
        .distinct()
    )
    member = corpus.select(id_col, vec_col).join(ids, id_col, "left_semi")
    member = member.persist()
    try:
        n_ids = ids.count()
        n_member = member.count()
        if n_member < n_ids:
            raise ValueError(
                f"corpus covers {n_member} of the store's {n_ids} ids — a "
                "retrain over a partial corpus would silently erase the "
                "uncovered vectors; pass the full row store"
            )
        if n_member > n_ids:
            raise ValueError(
                f"corpus holds duplicate ids ({n_member} rows for {n_ids} "
                "store ids) — a retrain would store two codes per id"
            )
        head = member.select(F.size(vec_col).alias("d")).limit(1).collect()
        if head and int(head[0][0]) != meta["dim"]:
            raise ValueError(
                f"corpus dimension {int(head[0][0])} != index dim "
                f"{meta['dim']} — a mismatched retrain would mis-encode "
                "every vector"
            )
        # sample by deterministic id HASH, not the build's id-prefix
        # law: a retrain exists BECAUSE the distribution drifted, and
        # adds usually carry higher ids than the build corpus — an
        # id-prefix sample would never see the drifted rows and the
        # "retrain" would re-fit the old distribution (measured: the
        # sf0.1 drift probe recovered 0.0 recall under the prefix law).
        # Hash order covers every batch proportionally and is exactly
        # reproducible (xxhash64 is a pure function of the id).
        sample = (
            member.select(vec_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.asc(id_col))
            .limit(train_sample)
            .collect()
        )
        train = np.stack([r[0] for r in sample]).astype(np.float64)
        codebooks = train_pq_codebooks(train, m, n_centroids, lloyd_iters)
        folded = _merge_folded(
            meta,
            _folded_tags_at(spark, _data_path(index_dir, "codes", meta)),
        )
        new_meta = {
            **_next_epoch_meta(meta),
            "corpus_tag": new_corpus_tag,
            "train_sample": train_sample,
            "lloyd_iters": lloyd_iters,
            "folded_batches": folded,
        }
        # the staged content is a FRESH encode of the membership
        # through the NEW codebooks, not a rewrite of the old codes
        # (which are unreadable under the new codebooks by definition)
        (
            _pq_encode(member, codebooks, id_col, vec_col)
            .withColumn("__batch", F.lit("base"))
            .write.mode("overwrite")
            .partitionBy("__batch")
            .parquet(_data_path(index_dir, "codes", new_meta))
        )
        cb_rows = [
            (j, c, [float(x) for x in codebooks[j, c]])
            for j in range(m)
            for c in range(n_centroids)
        ]
        spark.createDataFrame(
            cb_rows, "j int, c int, cvec array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            _data_path(index_dir, "codebooks", new_meta)
        )
        _commit_epoch(
            spark, index_dir, meta, new_meta, ["codes", "codebooks"]
        )
    finally:
        member.unpersist()


def ensure_pq_index(
    embeddings: DataFrame,
    index_dir: str,
    *,
    corpus_tag: str,
    m: int = 8,
    n_centroids: int = 16,
    train_sample: int = 256,
    lloyd_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = False,
) -> PQDiskIndex:
    """Load-or-build, keyed by params + corpus_tag (see
    :func:`ensure_ivf_index`). ``normalize`` (cosine mode) is part of
    the identity."""
    spark = embeddings.sparkSession
    if _fs_exists(spark, f"{index_dir}/meta"):
        try:
            meta = _read_meta(spark, index_dir)
        except Exception:
            meta = None
        if (
            meta
            and meta["kind"] == "pq"
            and meta["corpus_tag"] == corpus_tag
            and meta["n_centroids"] == n_centroids
            and meta["m"] == m
            and meta["id_col"] == id_col
            and meta["vec_col"] == vec_col
            and meta.get("train_sample") == train_sample
            and meta.get("lloyd_iters") == lloyd_iters
            and bool(meta.get("normalized")) == normalize
        ):
            return PQDiskIndex(spark, index_dir, meta)
    pq_index_build(
        embeddings,
        index_dir,
        m=m,
        n_centroids=n_centroids,
        train_sample=train_sample,
        lloyd_iters=lloyd_iters,
        id_col=id_col,
        vec_col=vec_col,
        corpus_tag=corpus_tag,
        normalize=normalize,
    )
    return pq_index_load(spark, index_dir)


# ---------------------------------------------------------------- IVF-PQ --
#
# The composed billion-scale layout (public FAISS IVFPQ shape): a
# coarse quantizer partitions the corpus into inverted lists, and each
# vector is stored as a PQ code of its RESIDUAL (vector minus its
# coarse centroid) — residuals concentrate near zero, so the same
# codebook budget quantizes them far more accurately than raw vectors.
# Serving composes BOTH reductions: the probe filter prunes list
# PARTITIONS at the parquet scan (the IVF-Flat store's property) and
# the scan reads m small ints per vector instead of the raw embedding
# (the PQ store's property). ADC decomposes exactly:
#
#     <q, v> ≈ <q, centroid(v)> + Σ_j <q_j, codebook[j, code_j(v)]>
#
# — the residual lookup table is LIST-INDEPENDENT (one m×n_centroids
# table per query, same as flat PQ), and the coarse term is one scalar
# per (query, list), so pruned serving pays the flat-PQ ADC arithmetic
# over only the probed fraction of the corpus. At 100 TB this is the
# difference between scanning 32 B/vector of everything (flat PQ) and
# 32 B/vector of nprobe/n_lists of everything.


def _pq_encode_residual(
    assigned: DataFrame, codebooks, centroids, id_col: str, vec_col: str
) -> DataFrame:
    """(id, centroid, codes) via Arrow-batched nearest-sub-centroid
    assignment over the RESIDUAL (vector minus its coarse centroid) —
    the ONE encoder shared by the IVF-PQ build and the incremental
    add, so a vector encodes identically whichever path stored it.
    ``assigned`` must already carry the ``centroid`` column under the
    store's assignment law (:func:`_assign_centroids`)."""
    import numpy as np

    m, _n_centroids, sub = codebooks.shape
    cb_bc = codebooks  # closed over; shipped once per task via pickle
    C = np.asarray(centroids, dtype=np.float64)
    codes_schema = T.StructType(
        [
            T.StructField("vec_id_out", T.LongType()),
            T.StructField("centroid", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cents = pdf["centroid"].to_numpy().astype(np.int64)
            R = mat - C[cents]
            codes = np.empty((len(R), m), dtype=np.int64)
            for j in range(m):
                X = R[:, j * sub : (j + 1) * sub]
                d2 = ((X[:, None, :] - cb_bc[None, j, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id_out": pdf[id_col].to_numpy(),
                    "centroid": cents.astype("int32"),
                    "codes": list(codes.astype("int32")),
                }
            )

    return (
        assigned.select(id_col, vec_col, "centroid")
        .mapInPandas(encode, codes_schema)
        .withColumnRenamed("vec_id_out", id_col)
    )


def _l2_normalize(df: DataFrame, vec_col: str) -> DataFrame:
    """Replace ``vec_col`` with its L2-normalized double form (the
    cosine-mode ingest transform). Zero-norm vectors pass through as
    zeros — their cosine is undefined under every serving path anyway
    (the rerank drops them), and dividing by a replaced 1.0 keeps the
    transform total instead of raising mid-build."""
    arr = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = F.sqrt(
        F.aggregate(
            F.zip_with(arr, arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    den = F.when(n != 0, n).otherwise(F.lit(1.0))
    return df.withColumn(vec_col, F.transform(arr, lambda x: x / den))


def ivfpq_index_build(
    embeddings: DataFrame,
    index_dir: str,
    *,
    n_lists: int = 8,
    m: int = 8,
    n_centroids: int = 16,
    train_sample: int = 256,
    lloyd_iters: int = 5,
    seed: int = 42,
    max_iter: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_tag: str = "",
    batch_tag: str = "base",
    normalize: bool = False,
) -> None:
    """Train the coarse quantizer AND the residual codebooks once,
    persist the composed index: centroids (driver-small), residual
    codebooks (KBs), and PQ codes PARTITIONED BY (centroid, __batch)
    — the codes table has the IVF store's pruning layout at the PQ
    store's bytes-per-vector. Coarse fit is the IVF build's
    ``pyspark.ml`` KMeans (tree-aggregated, executor-side); residual
    codebook training is the PQ build's deterministic Lloyd over a
    bounded id-sorted sample — of RESIDUALS, so the sample pass reads
    (vector, centroid) pairs from the assignment. Meta last, same
    crash contract as both parents; ``batch_tag`` is the streaming
    first-batch replay contract (see :func:`ivf_index_build`).

    ``normalize=True`` is COSINE MODE (the public-FAISS cosine recipe:
    L2-normalize vectors, serve by inner product): every ingested
    vector is unit-normalized before assignment and encoding, and
    every query is unit-normalized before probe ranking and the ADC,
    so the ADC approximates the COSINE directly and a bounded
    candidate cut is cosine-faithful — without it the ADC ranks by raw
    inner product, and under norm variance a small candidate budget
    can crowd out cosine-true neighbors with high-norm distractors
    (recorded in BASELINE.md's IVF-PQ table). Full-margin reranked
    serving is exact either way (the rerank reads the RAW corpus);
    the flag changes what the bounded-budget approximation preserves.
    Part of the index identity (ensure-loads match on it)."""
    import numpy as np

    from uofi_payroll_etl_main_demo_spark.ext.ivf import build_ivf_index
    from uofi_payroll_etl_main_demo_spark.ext.similarity import (
        train_pq_codebooks,
    )

    spark = embeddings.sparkSession
    if batch_tag != "base":
        check_batch_tag(batch_tag)
    head = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not head:
        raise ValueError("cannot build an IVF-PQ index over an empty corpus")
    dim = int(head[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    # validate BEFORE invalidating (the pq_index_build contract): a
    # build doomed to fail in the coarse KMeans fit must not destroy a
    # previously valid serving index under the same dir. Row count (not
    # DISTINCT count) is sufficient for that contract: Spark ML KMeans
    # never raises on duplicate-heavy corpora — with < n_lists distinct
    # vectors it converges to duplicate/fewer centers (degenerate lists
    # but a servable index; probe ranking tie-breaks on centroid id),
    # so no post-invalidate failure path exists (ADVICE r10 #4).
    n_seen = embeddings.limit(n_lists).count()
    if n_seen < n_lists:
        raise ValueError(
            f"corpus has only {n_seen} vectors — fewer than "
            f"n_lists={n_lists}; cannot fit the coarse quantizer"
        )
    if normalize:
        embeddings = _l2_normalize(embeddings, vec_col)
    epoch, old_epoch = _build_target_epoch(spark, index_dir)
    emeta = {"epoch": epoch}
    index = build_ivf_index(
        embeddings,
        n_centroids=n_lists,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        max_iter=max_iter,
    )
    centroids = index.centroids
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "centroid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        _data_path(index_dir, "centroids", emeta)
    )
    # residual training sample: bounded, id-sorted (deterministic —
    # the PQ build's law), but drawn AFTER assignment so each sampled
    # vector subtracts its own coarse centroid
    sample = (
        index.assigned.select(vec_col, "centroid")
        .orderBy(F.asc(id_col))
        .limit(train_sample)
        .collect()
    )
    C = np.asarray(centroids, dtype=np.float64)
    train = np.stack(
        [np.asarray(r[0], dtype=np.float64) - C[r[1]] for r in sample]
    )
    codebooks = train_pq_codebooks(train, m, n_centroids, lloyd_iters)
    cb_rows = [
        (j, c, [float(x) for x in codebooks[j, c]])
        for j in range(m)
        for c in range(n_centroids)
    ]
    spark.createDataFrame(
        cb_rows, "j int, c int, cvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        _data_path(index_dir, "codebooks", emeta)
    )
    (
        _pq_encode_residual(index.assigned, codebooks, centroids,
                            id_col, vec_col)
        .withColumn("__batch", F.lit(batch_tag))
        .write.mode("overwrite")
        .partitionBy("centroid", "__batch")
        .parquet(_data_path(index_dir, "codes", emeta))
    )
    _invalidate_meta(spark, index_dir)
    _write_meta(
        spark,
        index_dir,
        {
            "version": INDEX_FORMAT_VERSION,
            "kind": "ivfpq",
            "id_col": id_col,
            "vec_col": vec_col,
            "dim": dim,
            "n_centroids": n_centroids,
            "m": m,
            "n_lists": n_lists,
            "seed": seed,
            "max_iter": max_iter,
            "train_sample": train_sample,
            "lloyd_iters": lloyd_iters,
            "corpus_tag": corpus_tag,
            "folded_batches": None,
            "normalized": normalize,
            "epoch": epoch,
        },
    )
    _gc_epochs(
        spark,
        index_dir,
        ["codes", "codebooks", "centroids"],
        keep={epoch, old_epoch},
    )


class IVFPQDiskIndex:
    """Loaded handle: coarse centroids + residual codebooks on the
    driver (KBs), codes lazy."""

    def __init__(self, spark: SparkSession, index_dir: str, meta: dict):
        import numpy as np

        self.spark = spark
        self.index_dir = index_dir
        self.meta = meta
        self.centroids: "list[list[float]]" = [
            r["cvec"]
            for r in spark.read.parquet(
                _data_path(index_dir, "centroids", meta)
            )
            .orderBy("centroid")
            .collect()
        ]
        m, n_centroids = meta["m"], meta["n_centroids"]
        sub = meta["dim"] // m
        self.codebooks = np.empty((m, n_centroids, sub))
        for r in spark.read.parquet(
            _data_path(index_dir, "codebooks", meta)
        ).collect():
            self.codebooks[r["j"], r["c"]] = r["cvec"]

    def search(
        self,
        query_vec: "list[float]",
        k: int = 10,
        nprobe: int = 4,
        candidates: int = 100,
        rerank_corpus: "DataFrame | None" = None,
        filter_ids: "DataFrame | None" = None,
        auto_widen: bool = False,
    ) -> DataFrame:
        """Single-query serve: :meth:`search_batch` over a one-row
        query frame, projected to (id, score) and ordered score DESC,
        id ASC. Pruned ADC over the probed lists ONLY (the ``centroid``
        probe filter is a PARTITION filter on the codes scan — the IVF
        store's pruning, at PQ bytes), with optional exact rerank of
        the top ``candidates``; full probe + full margin equals the
        brute force exactly. ``filter_ids`` semi-joins the pruned codes
        BEFORE the ADC. ``auto_widen`` doubles nprobe, then lifts the
        candidate budget, until ``k`` rows survive or the serve is the
        exact filtered brute force (a zero-norm query emits no rows)."""
        return _serve_one(
            self,
            query_vec,
            k=k,
            nprobe=nprobe,
            candidates=candidates,
            rerank_corpus=rerank_corpus,
            filter_ids=filter_ids,
            auto_widen=auto_widen,
        )

    def search_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        candidates: int = 100,
        rerank_corpus: "DataFrame | None" = None,
        filter_ids: "DataFrame | None" = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "qvec",
        max_queries: int = 65536,
        auto_widen: bool = False,
    ) -> DataFrame:
        """BATCHED composed serving: ONE job answers the whole query
        frame over the pruned UNION of every query's probed lists.

        ``auto_widen`` is the batched recall backstop (the IVF batch
        serve's contract, plus the composed store's second leg):
        queries that return fewer than ``k`` survivors re-run TOGETHER
        with doubled nprobe — one job per widening round over ONLY the
        starved queries — and once every list is probed the ADC
        candidate budget is lifted entirely, degrading gracefully to
        the exact filtered brute force. The loop is fully RELATIONAL
        (:func:`_relational_auto_widen`): per-round outputs
        localCheckpoint (bounded: ≤ batch × k rows, executor storage),
        satisfied/starved sets are broadcast semi/anti joins, and the
        return value is the lazy union of rounds — no driver collect
        of result rows, no isin literal over starved ids.
        Per-query state is the flat-PQ batch serve's LUT tensor plus
        one (nq × n_lists) coarse-term matrix (both KBs/query, bounded
        by ``max_queries`` — the driver-state contract); the codes
        scan is pruned to the probe union as a static partition
        filter, and inside each Arrow chunk every centroid group
        scores ONLY the queries that probed it. Probe ranking is
        :func:`_probe_plan`, shared with the IVF batch scorer. Per-query
        within-chunk top-``candidates`` bounds the exchange to
        O(chunks × q × candidates) rows; optional exact rerank is the
        shared :func:`_exact_rerank_batch` tail."""
        import numpy as np

        meta = self.meta
        m, n_centroids = meta["m"], meta["n_centroids"]
        sub = meta["dim"] // m
        id_col = meta["id_col"]
        n_lists = len(self.centroids)
        nprobe = min(nprobe, n_lists)

        def serve(qdf: DataFrame, state=(nprobe, candidates)) -> DataFrame:
            return self.search_batch(
                qdf,
                k=k,
                nprobe=state[0],
                candidates=state[1],
                rerank_corpus=rerank_corpus,
                filter_ids=filter_ids,
                query_id_col=query_id_col,
                query_vec_col=query_vec_col,
                max_queries=max_queries,
            )

        if auto_widen:
            # widening schedule: double nprobe to full probe, then —
            # the composed store's second leg — lift the ADC candidate
            # cut entirely (only it can still starve once every list
            # is probed)
            states: "list[tuple[int, int]]" = [(nprobe, candidates)]
            p = nprobe
            while p < n_lists:
                p = min(p * 2, n_lists)
                states.append((p, candidates))
            if candidates < (1 << 30):
                states.append((n_lists, 1 << 30))
            return _relational_auto_widen(
                queries, query_id_col, query_vec_col, k, serve, states
            )
        qcols = [query_id_col, query_vec_col]
        qrows = _bounded_queries(queries, qcols, max_queries)
        if qrows is None:
            return _paged_batch_serve(queries, qcols, max_queries, serve)
        qmat = _query_matrix(qrows, query_vec_col, meta["dim"])
        qids = np.array([r[query_id_col] for r in qrows])
        nq = len(qmat)
        Qn, _ = _unit_rows(qmat)
        # cosine mode: queries join the unit-normalized store space for
        # the ADC; the exact rerank scores TRUE cosine of the raw
        # vectors (scale-invariant), so results are unchanged at full
        # margin
        qadc = Qn if meta.get("normalized") else qmat
        lut_flat = np.einsum(
            "qjd,jcd->qjc", qadc.reshape(nq, m, sub), self.codebooks
        ).reshape(nq, m * n_centroids)
        offsets = (np.arange(m) * n_centroids).astype(np.int64)
        C = np.asarray(self.centroids, dtype=np.float64)
        qdotc = qadc @ C.T  # (nq, n_lists) coarse terms
        probes_by_centroid = _probe_plan(Qn, self.centroids, nprobe)
        take = min(candidates, 1 << 30)

        def scan(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
                cents = pdf["centroid"].to_numpy().astype(np.int64)
                flat = codes + offsets[None, :]  # (b, m)
                ids = pdf[id_col].to_numpy()
                out_q, out_i, out_s = [], [], []
                for c in np.unique(cents):
                    q_idx = probes_by_centroid.get(int(c))
                    if not q_idx:
                        continue
                    rmask = cents == c
                    rids = ids[rmask]
                    # (nq_c, b_c): residual LUT gather + the coarse
                    # scalar for this list
                    adc = lut_flat[q_idx][:, flat[rmask]].sum(axis=2)
                    adc += qdotc[np.asarray(q_idx)[:, None], c]
                    b = adc.shape[1]
                    t = min(take, b)
                    part = np.argpartition(-adc, t - 1, axis=1)[:, :t]
                    rows_q = np.repeat(np.asarray(q_idx, dtype=np.int64), t)
                    rows_v = part.reshape(-1)
                    rows_r = np.repeat(np.arange(len(q_idx)), t)
                    out_q.append(rows_q)
                    out_i.append(rids[rows_v])
                    out_s.append(adc[rows_r, rows_v])
                if out_q:
                    qi = np.concatenate(out_q)
                    yield pd.DataFrame(
                        {
                            "__qi": qi.astype("int32"),
                            query_id_col: qids[qi],
                            "vec_id_out": np.concatenate(out_i),
                            "adc": np.concatenate(out_s),
                        }
                    )

        codes_df = self.spark.read.parquet(
            _data_path(self.index_dir, "codes", self.meta)
        ).filter(F.col("centroid").isin(sorted(probes_by_centroid)))
        if filter_ids is not None:
            codes_df = codes_df.join(
                filter_ids.select(F.col(id_col)), id_col, "left_semi"
            )
        return _adc_serve(
            self,
            qmat,
            codes_df.mapInPandas(scan, _adc_schema(queries, query_id_col)),
            k=k,
            candidates=candidates,
            rerank_corpus=rerank_corpus,
            query_id_col=query_id_col,
        )


def ivfpq_index_load(spark: SparkSession, index_dir: str) -> IVFPQDiskIndex:
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivfpq":
        raise ValueError(
            f"{index_dir} holds a {meta['kind']!r} index, not ivfpq"
        )
    return IVFPQDiskIndex(spark, index_dir, meta)


def ivfpq_index_add(
    embeddings_new: DataFrame,
    index_dir: str,
    *,
    new_corpus_tag: str,
    batch_id: "str | None" = None,
) -> None:
    """Incremental add to the composed store: assign NEW vectors to
    the FROZEN coarse centroids (:func:`_assign_centroids`, the one
    assignment law), encode their residuals through the FROZEN
    codebooks (:func:`_pq_encode_residual`, the one encoder), land in
    ``centroid=*/__batch={batch_id}`` partitions via dynamic partition
    overwrite — idempotent per batch, replays REPLACE. Meta (the
    corpus re-key) last; both quantizers drift only as far as the data
    does, exactly the parents' add contracts. A cosine-mode store
    (``normalized`` in meta) normalizes the batch before assignment —
    the ingest transform is part of the store identity, never a
    per-call choice."""
    import numpy as np

    spark = embeddings_new.sparkSession
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivfpq":
        raise ValueError(
            f"{index_dir} holds a {meta['kind']!r} index, not ivfpq"
        )
    if meta.get("normalized"):
        embeddings_new = _l2_normalize(embeddings_new, meta["vec_col"])
    check_not_compacted_away(
        meta,
        check_batch_tag(batch_id if batch_id is not None else new_corpus_tag),
    )
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    head = embeddings_new.select(F.size(vec_col).alias("d")).limit(1).collect()
    if head and int(head[0][0]) != meta["dim"]:
        raise ValueError(
            f"batch dimension {int(head[0][0])} != index dim {meta['dim']}"
            " — a mismatched add would silently misassign every vector"
        )
    centroids = [
        r["cvec"]
        for r in spark.read.parquet(_data_path(index_dir, "centroids", meta))
        .orderBy("centroid")
        .collect()
    ]
    m, n_centroids = meta["m"], meta["n_centroids"]
    sub = meta["dim"] // m
    codebooks = np.empty((m, n_centroids, sub))
    for r in spark.read.parquet(
        _data_path(index_dir, "codebooks", meta)
    ).collect():
        codebooks[r["j"], r["c"]] = r["cvec"]
    assigned = _assign_centroids(
        embeddings_new.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias(vec_col),
        ),
        centroids,
        vec_col,
        id_col,
    )
    (
        _pq_encode_residual(assigned, codebooks, centroids, id_col, vec_col)
        .withColumn(
            "__batch",
            F.lit(batch_id if batch_id is not None else new_corpus_tag),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("centroid", "__batch")
        .parquet(_data_path(index_dir, "codes", meta))
    )
    _write_meta(spark, index_dir, {**meta, "corpus_tag": new_corpus_tag})


def ivfpq_index_delete(
    spark: SparkSession, index_dir: str, ids, *, new_corpus_tag: str
) -> None:
    """Remove vectors by id from the composed store (codes rows; both
    quantizers stay frozen — delete never retrains). Same staged
    rewrite + folded-batch replay guard + required re-key contract as
    :func:`ivf_index_delete`."""
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivfpq":
        raise ValueError(
            f"{index_dir} holds a {meta['kind']!r} index, not ivfpq"
        )
    dead = _ids_frame(
        spark, ids, meta["id_col"], _data_path(index_dir, "codes", meta)
    )
    _epoch_delete(
        spark,
        index_dir,
        meta,
        "codes",
        ["centroid", "__batch"],
        lambda df: df.join(dead, meta["id_col"], "left_anti"),
        {"corpus_tag": new_corpus_tag},
        copy_tables=["codebooks", "centroids"],
        cleanup_frames=(dead,),
    )


def ivfpq_index_compact(spark: SparkSession, index_dir: str) -> None:
    """Fold every add's ``__batch`` partition of the codes table into
    ``base`` (centroid stays the first partition level — probe pruning
    unchanged). Same contract as :func:`ivf_index_compact`."""
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivfpq":
        raise ValueError(
            f"{index_dir} holds a {meta['kind']!r} index, not ivfpq"
        )
    folded = _merge_folded(
        meta, _folded_tags_at(spark, _data_path(index_dir, "codes", meta))
    )
    new_meta = {**_next_epoch_meta(meta), "folded_batches": folded}
    _stage_folded(
        spark,
        _data_path(index_dir, "codes", meta),
        _data_path(index_dir, "codes", new_meta),
        ["centroid", "__batch"],
    )
    _copy_to_epoch(spark, index_dir, "codebooks", meta, new_meta)
    _copy_to_epoch(spark, index_dir, "centroids", meta, new_meta)
    _commit_epoch(
        spark,
        index_dir,
        meta,
        new_meta,
        ["codes", "codebooks", "centroids"],
    )


def ivfpq_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-inverted-list health panel over the CODES table (centroid,
    n_vectors, n_batches) — the IVF skew meter at PQ bytes: column
    pruning reads only ids/partition values, never codes."""
    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivfpq":
        raise ValueError(
            f"{index_dir} holds a {meta['kind']!r} index, not ivfpq"
        )
    return (
        spark.read.parquet(_data_path(index_dir, "codes", meta))
        .groupBy("centroid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("__batch").alias("n_batches"),
        )
        .orderBy("centroid")
    )


def ensure_ivfpq_index(
    embeddings: DataFrame,
    index_dir: str,
    *,
    corpus_tag: str,
    n_lists: int = 8,
    m: int = 8,
    n_centroids: int = 16,
    train_sample: int = 256,
    lloyd_iters: int = 5,
    seed: int = 42,
    max_iter: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = False,
) -> IVFPQDiskIndex:
    """Load-or-build, keyed by params + corpus_tag (see
    :func:`ensure_ivf_index`). ``normalize`` (cosine mode) is part of
    the identity: a store ingested raw must never serve a caller who
    asked for the unit-normalized space, and vice versa."""
    spark = embeddings.sparkSession
    if _fs_exists(spark, f"{index_dir}/meta"):
        try:
            meta = _read_meta(spark, index_dir)
        except Exception:
            meta = None
        if (
            meta
            and meta["kind"] == "ivfpq"
            and meta["corpus_tag"] == corpus_tag
            and meta["n_centroids"] == n_centroids
            and meta["m"] == m
            and meta.get("n_lists") == n_lists
            and meta["id_col"] == id_col
            and meta["vec_col"] == vec_col
            and meta.get("seed") == seed
            and meta.get("max_iter") == max_iter
            and meta.get("train_sample") == train_sample
            and meta.get("lloyd_iters") == lloyd_iters
            and bool(meta.get("normalized")) == normalize
        ):
            return IVFPQDiskIndex(spark, index_dir, meta)
    ivfpq_index_build(
        embeddings,
        index_dir,
        n_lists=n_lists,
        m=m,
        n_centroids=n_centroids,
        train_sample=train_sample,
        lloyd_iters=lloyd_iters,
        seed=seed,
        max_iter=max_iter,
        id_col=id_col,
        vec_col=vec_col,
        corpus_tag=corpus_tag,
        normalize=normalize,
    )
    return ivfpq_index_load(spark, index_dir)


def ivfpq_index_drift_stats(
    spark: SparkSession, index_dir: str, corpus: DataFrame
) -> DataFrame:
    """Per-(batch, subspace) RESIDUAL quantization-error panel — the
    composed store's drift meter, same shape and law as
    :func:`pq_index_drift_stats` (so :func:`needs_retrain` acts on it
    unchanged): adds encode against BOTH frozen quantizers, and drift
    grows the residual reconstruction error ``||(x − centroid) −
    cb[j, code]||²`` with no query-time symptom. One row per (batch,
    j); compare add batches against ``base`` (both quantizers'
    training snapshot). ``corpus`` is the raw row store; a cosine-mode
    store normalizes it through the SAME ingest transform before
    differencing (error must be measured in the space the codes live
    in). Run BEFORE compaction; list-skew drift is the separate
    :func:`ivfpq_index_stats` + :func:`needs_rebalance` meter."""
    import numpy as np

    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivfpq":
        raise ValueError(
            f"{index_dir} holds a {meta['kind']!r} index, not ivfpq"
        )
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    m, n_centroids = meta["m"], meta["n_centroids"]
    sub = meta["dim"] // m
    codebooks = np.empty((m, n_centroids, sub))
    for r in spark.read.parquet(
        _data_path(index_dir, "codebooks", meta)
    ).collect():
        codebooks[r["j"], r["c"]] = r["cvec"]
    C = np.stack(
        [
            np.asarray(r["cvec"], dtype=np.float64)
            for r in spark.read.parquet(
                _data_path(index_dir, "centroids", meta)
            )
            .orderBy("centroid")
            .collect()
        ]
    )
    if meta.get("normalized"):
        corpus = _l2_normalize(corpus, vec_col)

    part_schema = T.StructType(
        [
            T.StructField("batch", T.StringType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("__n", T.LongType()),
            T.StructField("__se", T.DoubleType()),
        ]
    )

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cents = pdf["centroid"].to_numpy().astype(np.int64)
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            R = mat - C[cents]
            recon = codebooks[np.arange(m)[None, :], codes]  # (b, m, sub)
            err = ((R.reshape(len(R), m, sub) - recon) ** 2).sum(axis=2)
            frame = pd.DataFrame(err, columns=range(m))
            frame["batch"] = pdf["__batch"].to_numpy()
            agg = frame.groupby("batch", sort=False).agg(["count", "sum"])
            for j in range(m):
                yield pd.DataFrame(
                    {
                        "batch": agg.index.to_numpy(),
                        "j": np.int32(j),
                        "__n": agg[(j, "count")].to_numpy().astype("int64"),
                        "__se": agg[(j, "sum")].to_numpy(),
                    }
                )

    joined = (
        spark.read.parquet(_data_path(index_dir, "codes", meta))
        .select(id_col, "codes", "centroid", "__batch")
        .join(corpus.select(id_col, vec_col), id_col)
    )
    return (
        joined.mapInPandas(partials, part_schema)
        .groupBy("batch", "j")
        .agg(
            F.sum("__n").alias("n_vectors"),
            (F.sum("__se") / F.sum("__n")).alias("mse"),
        )
        .orderBy("batch", "j")
    )


def ivfpq_index_retrain(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    *,
    new_corpus_tag: str,
    train_sample: "int | None" = None,
    lloyd_iters: "int | None" = None,
) -> None:
    """Act on :func:`ivfpq_index_drift_stats` — the composed store's
    ONE drift repair: re-fit BOTH quantizers on the CURRENT membership
    (coarse KMeans through the build's own ``pyspark.ml`` fit;
    residual codebooks on a deterministic id-HASH-ordered sample — the
    drift-aware sampling law :func:`pq_index_retrain` established: an
    id-prefix sample never sees the drifted adds) and re-encode every
    stored vector through them, staged-swap. List skew heals as a side
    effect (fresh centroids ARE the rebalance), so the composed store
    needs no separate rebalance op.

    Same contracts as the PQ retrain, enforced the same way: refuses
    a corpus that under- or over-covers the membership (a retrain
    must never erase or admit ids), records the training params back
    into meta, folds batches to base (pre-retrain replays refuse via
    ``folded_batches``), REQUIRES ``new_corpus_tag``, and is a
    quiescent-point op with the meta-last crash contract. A
    cosine-mode store retrains in its normalized space (the flag is
    identity, so it survives the retrain)."""
    import numpy as np

    from uofi_payroll_etl_main_demo_spark.ext.ivf import build_ivf_index
    from uofi_payroll_etl_main_demo_spark.ext.similarity import (
        train_pq_codebooks,
    )

    meta = _read_meta(spark, index_dir)
    if meta["kind"] != "ivfpq":
        raise ValueError(
            f"{index_dir} holds a {meta['kind']!r} index, not ivfpq"
        )
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    m, n_centroids = meta["m"], meta["n_centroids"]
    if train_sample is None:
        train_sample = meta["train_sample"]
    if lloyd_iters is None:
        lloyd_iters = meta["lloyd_iters"]
    if meta.get("normalized"):
        corpus = _l2_normalize(corpus, vec_col)
    ids = (
        spark.read.parquet(_data_path(index_dir, "codes", meta))
        .select(id_col)
        .distinct()
    )
    member = corpus.select(id_col, vec_col).join(ids, id_col, "left_semi")
    member = member.persist()
    try:
        n_ids = ids.count()
        n_member = member.count()
        if n_member < n_ids:
            raise ValueError(
                f"corpus covers {n_member} of the store's {n_ids} ids — a "
                "retrain over a partial corpus would silently erase the "
                "uncovered vectors; pass the full row store"
            )
        if n_member > n_ids:
            raise ValueError(
                f"corpus holds duplicate ids ({n_member} rows for {n_ids} "
                "store ids) — a retrain would store two codes per id"
            )
        head = member.select(F.size(vec_col).alias("d")).limit(1).collect()
        if head and int(head[0][0]) != meta["dim"]:
            raise ValueError(
                f"corpus dimension {int(head[0][0])} != index dim "
                f"{meta['dim']} — a mismatched retrain would mis-encode "
                "every vector"
            )
        # coarse re-fit over the full membership (the build's own law)
        index = build_ivf_index(
            member,
            n_centroids=meta["n_lists"],
            id_col=id_col,
            vec_col=vec_col,
            seed=meta["seed"],
            max_iter=meta["max_iter"],
        )
        centroids = index.centroids
        C = np.asarray(centroids, dtype=np.float64)
        # residual codebook re-fit: id-HASH-ordered bounded sample of
        # the FRESH residuals (drift-aware, exactly reproducible)
        sample = (
            index.assigned.select(vec_col, "centroid")
            .orderBy(F.xxhash64(F.col(id_col)), F.asc(id_col))
            .limit(train_sample)
            .collect()
        )
        train = np.stack(
            [np.asarray(r[0], dtype=np.float64) - C[r[1]] for r in sample]
        )
        codebooks = train_pq_codebooks(train, m, n_centroids, lloyd_iters)
        folded = _merge_folded(
            meta,
            _folded_tags_at(spark, _data_path(index_dir, "codes", meta)),
        )
        new_meta = {
            **_next_epoch_meta(meta),
            "corpus_tag": new_corpus_tag,
            "train_sample": train_sample,
            "lloyd_iters": lloyd_iters,
            "folded_batches": folded,
        }
        # fresh encode of the membership through BOTH new quantizers
        # (old codes are meaningless under them)
        (
            _pq_encode_residual(
                index.assigned, codebooks, centroids, id_col, vec_col
            )
            .withColumn("__batch", F.lit("base"))
            .write.mode("overwrite")
            .partitionBy("centroid", "__batch")
            .parquet(_data_path(index_dir, "codes", new_meta))
        )
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "centroid int, cvec array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(
            _data_path(index_dir, "centroids", new_meta)
        )
        cb_rows = [
            (j, c, [float(x) for x in codebooks[j, c]])
            for j in range(m)
            for c in range(n_centroids)
        ]
        spark.createDataFrame(
            cb_rows, "j int, c int, cvec array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            _data_path(index_dir, "codebooks", new_meta)
        )
        _commit_epoch(
            spark,
            index_dir,
            meta,
            new_meta,
            ["codes", "codebooks", "centroids"],
        )
    finally:
        member.unpersist()


def semantic_dedup_index(
    index: "IVFDiskIndex",
    new_vecs: DataFrame,
    threshold: float,
    *,
    nprobe: "int | None" = None,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Incremental SEMANTIC dedup served from the persisted ANN store —
    the embedding-space member of the incremental-dedup family
    (MinHash ``incremental_near_dup_pairs``, SimHash, image dHash):
    which documents of a NEW batch near-duplicate the EXISTING corpus,
    where "near" is cosine similarity of their embeddings (the
    SemDeDup signal) and the existing corpus is the store's inverted
    lists, not a rescan of the raw table.

    A duplicate decision needs only each new vector's NEAREST stored
    neighbor (any-neighbor-above-τ ⇔ top-1-above-τ), so the whole
    batch is ONE batched serve at k=1 — daily dedup cost tracks the
    batch × probed lists, never the corpus². Full probe (the default)
    makes the decision exact; bounded ``nprobe`` trades recall for
    probe cost exactly like every other serve. Returns one row per
    new vector: (new_id, nn_id, score, is_dup) — is_dup compares the
    6dp-ROUNDED score against ``threshold``. The nearest neighbor is
    :meth:`IVFDiskIndex.search_batch`'s pick — one BLAS GEMM per
    pruned list chunk, ranked on the 6dp-rounded cosine with id
    tie-break (the scorer's law)."""
    n_lists = len(index.centroids)
    nprobe = n_lists if nprobe is None else nprobe
    id_col = index.meta["id_col"]
    queries = new_vecs.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qvec"),
    )
    out = index.search_batch(queries, k=1, nprobe=nprobe)
    return out.select(
        F.col("query_id").alias("new_id"),
        F.col(id_col).alias("nn_id"),
        F.round("score", 6).alias("score"),
        (F.round("score", 6) >= threshold).alias("is_dup"),
    )

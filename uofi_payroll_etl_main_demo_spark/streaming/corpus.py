"""Streaming corpus ingestion with incremental near-dup rejection.

The production shape of "daily corpus ingestion": documents arrive as a
stream; each micro-batch is deduplicated WITHIN itself, then checked
against the accumulated survivor corpus with
:func:`~uofi_payroll_etl_main_demo_spark.ext.dedup.incremental_near_dup_pairs`
(one shingle pass over corpus+batch, banding, and an in-bucket
expansion that emits only new×old pairs — per-batch cost proportional
to the batch, never corpus²). Only survivors land in the corpus.

Exactly-once: every sink writes each micro-batch straight to its own
``__batch_id=<id>`` directory in overwrite mode (``_write_batch``, the
writer of ``write_stream_foreach_batch``), and a replayed batch dedups
only against partitions with ``__batch_id`` < its own — partition
pruning makes that filter a metadata operation — so re-processing a
batch after a crash reproduces identical output instead of matching
against its own half-written remains. Every query starts through
``_start_foreach_batch``, at ``defaultParallelism`` shuffle partitions
for the batch jobs its sink runs.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uofi_payroll_etl_main_demo_spark.streaming.events import (
    _start_foreach_batch,
    _write_batch,
)


def _read_corpus_before(spark, corpus_path, batch_id, cols):
    """Read accumulated corpus partitions earlier than ``batch_id``.

    Returns None ONLY when the corpus does not exist yet (first batch:
    AnalysisException / PATH_NOT_FOUND). Any other read failure — a
    transient FS error, a corrupt file — RAISES: treating it as
    "first batch" would silently skip the cross-batch dedup check and
    admit near-duplicates into the corpus forever.
    """
    try:
        return (
            spark.read.parquet(corpus_path)
            .filter(F.col("__batch_id") < F.lit(batch_id))
            .select(*cols)
        )
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return None
        raise


def ingest_dedup_stream(
    stream_docs: DataFrame,
    corpus_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.2,
    hash_family: str = "portable",
):
    """Start an availableNow foreachBatch query appending near-dup-free
    survivors of ``stream_docs`` to the parquet corpus at
    ``corpus_path``. Returns the StreamingQuery (caller awaits)."""
    from uofi_payroll_etl_main_demo_spark.ext.clusters import dedup_survivors
    from uofi_payroll_etl_main_demo_spark.ext.dedup import (
        incremental_near_dup_pairs,
        minhash_near_dup_pairs,
    )

    kw = dict(
        num_hashes=num_hashes,
        bands=bands,
        k=k,
        threshold=threshold,
        hash_family=hash_family,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            # within-batch dedup first (arrival order inside one batch
            # is not meaningful, so min-id survivor is the contract)
            pairs = minhash_near_dup_pairs(
                batch_df, text_col=text_col, id_col=id_col, **kw
            ).select("id_a", "id_b")
            survivors = dedup_survivors(
                batch_df, pairs, id_col=id_col, src="id_a", dst="id_b"
            )
            # replay safety: never dedup against this batch's own
            # (possibly half-written) earlier attempt or any later
            # batch — partition pruning resolves this filter without
            # reading data
            corpus = _read_corpus_before(
                spark, corpus_path, batch_id, [id_col, text_col]
            )
            has_corpus = corpus is not None and len(corpus.take(1)) > 0
            if has_corpus:
                hits = incremental_near_dup_pairs(
                    corpus,
                    survivors,
                    text_col=text_col,
                    id_col=id_col,
                    **kw,
                ).select(F.col("new_id").alias(id_col)).distinct()
                survivors = survivors.join(hits, id_col, "left_anti")
            _write_batch(survivors, corpus_path, batch_id)
        finally:
            batch_df.unpersist()

    return _start_foreach_batch(stream_docs, sink, checkpoint_dir)


def ingest_dedup_stream_indexed(
    stream_docs: DataFrame,
    corpus_path: str,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.2,
    hash_family: str = "portable",
):
    """:func:`ingest_dedup_stream` with the cross-batch filter served
    by the PERSISTED MinHash index (ext/dedup_index.py) instead of
    re-shingling the corpus parquet every micro-batch — the composition
    the two features exist for: per-batch cost is the batch's own
    signature pass + band joins against stored state, constant in the
    corpus size, and accepted survivors are ``minhash_index_add``-ed so
    the index IS the corpus' LSH state at every commit point.

    Exactly-once end to end, all three writes idempotent per batch:

    * corpus rows land in their own ``__batch_id=<id>`` directory
      (the module's standard pattern);
    * index bands/shingles land under a ``__batch={tag}`` partition via
      ``minhash_index_add``'s dynamic overwrite;
    * the index QUERY excludes the batch's own ``__batch`` partition
      (metadata-only prune), so a replayed batch never dedups against
      its crashed attempt's half-written index rows.

    Crash anywhere between the first write and the checkpoint commit →
    Structured Streaming replays the batch → every write recomputes
    the same rows and overwrites its own partitions. The first batch
    BUILDS the index (meta absent) under its own batch tag; a
    pre-seeded index (built from a historical corpus, any other batch
    tag) composes unchanged. Returns the StreamingQuery.
    """
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import _fs_exists
    from uofi_payroll_etl_main_demo_spark.ext.clusters import dedup_survivors
    from uofi_payroll_etl_main_demo_spark.ext.dedup import (
        minhash_near_dup_pairs,
    )
    from uofi_payroll_etl_main_demo_spark.ext.dedup_index import (
        minhash_index_add,
        minhash_index_build,
        minhash_index_load,
    )

    kw = dict(num_hashes=num_hashes, bands=bands, k=k, hash_family=hash_family)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tag = f"b{batch_id:020d}"
        batch_df = batch_df.persist()
        pinned: list[DataFrame] = []
        try:
            # within-batch dedup first (same contract as the inline
            # ingester: min-id survivor per near-dup component)
            pairs = minhash_near_dup_pairs(
                batch_df, text_col=text_col, id_col=id_col,
                threshold=threshold, **kw,
            ).select("id_a", "id_b")
            # persist: the survivor lineage (shingle + band + CC) feeds
            # several actions below (guard collect, corpus write, bands
            # write, shingles write) — unpinned it would recompute per
            # action
            survivors = dedup_survivors(
                batch_df, pairs, id_col=id_col, src="id_a", dst="id_b"
            ).persist()
            pinned.append(survivors)
            if _fs_exists(spark, f"{index_dir}/meta"):
                index = minhash_index_load(spark, index_dir)
                hits = (
                    index.query(
                        survivors,
                        threshold=threshold,
                        # ids genuinely colliding with PRIOR batches
                        # must still fail loudly; only this batch's own
                        # (possibly half-written) partition is excused
                        check_disjoint=True,
                        exclude_batch=tag,
                    )
                    .select(F.col("new_id").alias(id_col))
                    .distinct()
                )
                survivors = survivors.join(
                    hits, id_col, "left_anti"
                ).persist()
                pinned.append(survivors)
                _write_batch(survivors, corpus_path, batch_id)
                minhash_index_add(
                    survivors.select(id_col, text_col),
                    index_dir,
                    new_corpus_tag=tag,
                    batch_id=tag,
                )
            else:
                # first batch owns the build; batch_tag=tag keeps the
                # replay story uniform (build crash → meta absent →
                # replay rebuilds; post-build crash → replay takes the
                # query path, excludes tag, sees an empty corpus, and
                # minhash_index_add overwrites the same partitions)
                _write_batch(survivors, corpus_path, batch_id)
                minhash_index_build(
                    survivors.select(id_col, text_col),
                    index_dir,
                    text_col=text_col,
                    id_col=id_col,
                    corpus_tag=tag,
                    batch_tag=tag,
                    **kw,
                )
        finally:
            for df in pinned:
                df.unpersist()
            batch_df.unpersist()

    return _start_foreach_batch(stream_docs, sink, checkpoint_dir)


def ingest_containment_stream(
    stream_docs: DataFrame,
    corpus_path: str,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    divisor: int = 64,
    max_containment: float = 0.5,
):
    """Crawl-triage as a stream: each micro-batch is scored for
    chunk-level CONTAINMENT against the persisted CDC index
    (ext/cdc_index.py — "how much of this document is content we
    already have"); documents at or below ``max_containment`` (and
    chunkless documents, whose containment is undefined) are accepted
    into the corpus, and the accepted documents' previously-unseen
    chunk hashes are ``cdc_index_add``-ed — the index IS the corpus'
    chunk state at every checkpoint commit. Near-dup rejection
    (:func:`ingest_dedup_stream_indexed`) drops whole documents that
    LOOK like existing ones; this gate drops documents largely
    ASSEMBLED from existing content, the metric CDC chunking exists
    for (moved-but-unchanged passages still match under edits).

    WITHIN-batch gating included: scoring uses the index's
    ``query_gated`` law (``cdc.containment_scores_within``) — a chunk
    counts as seen if it is stored OR held by a smaller-id document in
    the same micro-batch, so a document assembled from batch-mates is
    rejected even on the very first batch. Deterministic by id order,
    independent of arrival order; see the law's docstring for the
    one-pass-vs-sequential corner.

    Exactly-once by the module's uniform pattern: corpus rows in their
    own ``__batch_id=<id>`` directory, index chunks under a
    ``__batch={tag}`` partition (``cdc_index_add`` is replay-
    idempotent and its anti-join excludes the batch's own partition),
    and the containment QUERY excludes the batch's own partition, so
    a replayed batch never scores against its crashed attempt's
    half-written hashes. First batch builds the index under its own
    tag; a pre-seeded index composes unchanged. Returns the
    StreamingQuery."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import _fs_exists
    from uofi_payroll_etl_main_demo_spark.ext.cdc import (
        cdc_chunks,
        containment_scores_within,
    )
    from uofi_payroll_etl_main_demo_spark.ext.cdc_index import (
        cdc_index_add,
        cdc_index_build,
        cdc_index_load,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tag = f"b{batch_id:020d}"
        batch_df = batch_df.persist()
        pinned: list[DataFrame] = []
        try:
            have_index = _fs_exists(spark, f"{index_dir}/meta")
            if have_index:
                index = cdc_index_load(spark, index_dir)
                scores = index.query_gated(batch_df, exclude_batch=tag)
            else:
                # first batch: no stored chunks yet, but the
                # within-batch law still applies (a doc assembled from
                # batch-mates must not seed the corpus)
                scores = containment_scores_within(
                    cdc_chunks(batch_df, id_col, text_col, window, divisor),
                    spark.createDataFrame([], "chunk_hash string"),
                    batch_df.select(
                        F.col(id_col).alias("doc_id")
                    ).distinct(),
                )
            rejected = scores.filter(
                F.col("containment") > max_containment
            ).select(F.col("doc_id").alias(id_col))
            # persist: the gated survivor lineage (batch chunk pass
            # + stored-hash join) feeds both the corpus write and
            # the index add — unpinned it would re-chunk per action
            survivors = batch_df.join(rejected, id_col, "left_anti").persist()
            pinned.append(survivors)
            _write_batch(survivors, corpus_path, batch_id)
            if have_index:
                cdc_index_add(
                    survivors.select(id_col, text_col),
                    index_dir,
                    new_corpus_tag=tag,
                    batch_id=tag,
                )
            else:
                cdc_index_build(
                    survivors.select(id_col, text_col),
                    index_dir,
                    id_col=id_col,
                    text_col=text_col,
                    window=window,
                    divisor=divisor,
                    corpus_tag=tag,
                    batch_tag=tag,
                )
        finally:
            for df in pinned:
                df.unpersist()
            batch_df.unpersist()

    return _start_foreach_batch(stream_docs, sink, checkpoint_dir)


def ingest_ann_stream(
    stream_vectors: DataFrame,
    corpus_path: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kind: str = "ivf",
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    m: int = 8,
    train_sample: int = 256,
    lloyd_iters: int = 5,
    n_lists: int = 8,
    normalize: bool = False,
):
    """Streaming maintenance for the persisted IVF store — the vector
    twin of :func:`ingest_dedup_stream_indexed`: embedding pipelines
    append vectors continuously (a crawler's encoder, a nightly
    re-embedding job), and a serving index that only a batch rebuild
    can refresh goes stale between rebuilds. Each micro-batch of
    ``(id, vector)`` rows lands in the corpus row store AND is
    index-added (``ivf_index_add``'s frozen-centroid assignment — a
    narrow JVM map + partitioned write — or ``pq_index_add``'s Arrow
    encode, per ``kind``; per-batch cost tracks the batch), so the
    index IS the corpus' ANN state at every checkpoint commit;
    queries between commits see a consistent committed prefix.

    Exactly-once by the module's uniform pattern, both writes
    idempotent per batch:

    * corpus rows land in their own ``__batch_id=<id>`` directory
      (the row store the rerank/serving path reads);
    * index rows land under ``centroid=*/__batch={tag}`` partitions
      via ``ivf_index_add``'s dynamic overwrite — a replayed batch
      re-assigns the SAME vectors to the same frozen centroids and
      overwrites its own partitions, healing any half-written attempt.

    The FIRST batch builds the index under its own batch tag (meta
    absent), keeping the replay story uniform: a build crash leaves no
    meta → the replay rebuilds; a post-build crash replays down the
    add path and dynamic-overwrites the same partitions. A pre-seeded
    index (built from a historical corpus) composes unchanged. Ids
    must be unique across the stream (the store invariant every index
    op assumes). Maintenance ops (compact / rebalance / retrain /
    delete) remain QUIESCENT-POINT: run them only with the stream
    stopped on a committed checkpoint — their batch-folding makes any
    replay of a pre-maintenance batch refuse loudly via
    ``folded_batches`` rather than corrupt the store (the guard every
    store in this package shares).

    ``kind`` picks the store: ``"ivf"`` (inverted lists; first batch
    trains the coarse quantizer, so it needs ≥ ``n_centroids``
    vectors), ``"pq"`` (codes; first batch trains the codebooks on
    its id-sorted ``train_sample`` prefix), or ``"ivfpq"`` (the
    composed store; first batch trains BOTH — needs ≥ ``n_lists``
    vectors). Either way the quantizers are FROZEN after the first
    batch — drift under a shifting embedding distribution is what the
    stats panels + rebalance/retrain ops exist for (LIFECYCLE.md
    cadence). ``normalize`` requests COSINE MODE for a pq/ivfpq store
    the FIRST batch builds (adds read the flag from meta, so only the
    build needs it; ivf scores true cosine and ignores it). Returns
    the StreamingQuery."""
    from uofi_payroll_etl_main_demo_spark.ext.ann_index import (
        _fs_exists,
        ivf_index_add,
        ivf_index_build,
        ivfpq_index_add,
        ivfpq_index_build,
        pq_index_add,
        pq_index_build,
    )

    if kind not in ("ivf", "pq", "ivfpq"):
        raise ValueError(
            f"kind must be 'ivf', 'pq' or 'ivfpq', got {kind!r}"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tag = f"b{batch_id:020d}"
        batch = batch_df.select(id_col, vec_col).persist()
        try:
            _write_batch(batch, corpus_path, batch_id)
            if _fs_exists(spark, f"{index_dir}/meta"):
                add = {
                    "ivf": ivf_index_add,
                    "pq": pq_index_add,
                    "ivfpq": ivfpq_index_add,
                }[kind]
                add(batch, index_dir, new_corpus_tag=tag, batch_id=tag)
            elif kind == "ivfpq":
                ivfpq_index_build(
                    batch,
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
                    corpus_tag=tag,
                    batch_tag=tag,
                    normalize=normalize,
                )
            elif kind == "ivf":
                ivf_index_build(
                    batch,
                    index_dir,
                    n_centroids=n_centroids,
                    id_col=id_col,
                    vec_col=vec_col,
                    seed=seed,
                    max_iter=max_iter,
                    corpus_tag=tag,
                    batch_tag=tag,
                )
            else:
                pq_index_build(
                    batch,
                    index_dir,
                    m=m,
                    n_centroids=n_centroids,
                    train_sample=train_sample,
                    lloyd_iters=lloyd_iters,
                    id_col=id_col,
                    vec_col=vec_col,
                    corpus_tag=tag,
                    batch_tag=tag,
                    normalize=normalize,
                )
        finally:
            batch.unpersist()

    return _start_foreach_batch(stream_vectors, sink, checkpoint_dir)


def ingest_media_dedup_stream(
    stream_media: DataFrame,
    corpus_path: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    on_error: str = "skip",
):
    """Streaming MEDIA ingestion with perceptual-dedup rejection — the
    media twin of :func:`ingest_dedup_stream`: each micro-batch of
    (id, payload) rows is dHashed (REAL decode, corrupt payloads
    quarantined by default), deduplicated within itself (min-id
    survivor per identical/near hash), then checked against the
    accumulated corpus with
    :func:`~uofi_payroll_etl_main_demo_spark.ext.dedup.incremental_hamming_pairs_64`
    — new×old pairs only, so per-batch cost tracks the batch.

    The corpus stores ``(id, dhash)`` SIGNATURES, not payloads — prior
    batches are never re-decoded, and the corpus side of each banding
    join is a narrow (long, long) scan no matter how large the media
    bytes were. Exactly-once via the same per-batch ``__batch_id``
    directory overwrite + replay-safe ``< batch`` filter as the text
    ingester.
    """
    from uofi_payroll_etl_main_demo_spark.ext.clusters import dedup_survivors
    from uofi_payroll_etl_main_demo_spark.ext.dedup import (
        hamming_pairs_64,
        incremental_hamming_pairs_64,
    )
    from uofi_payroll_etl_main_demo_spark.ext.multimodal import image_dhash

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # image_dhash's batch contract is (media_id, payload): alias the
        # caller's id column in, and restore it on the stored corpus —
        # without this a non-default id_col would KeyError in the
        # executor (dead-parameter trap).
        batch = batch_df.select(
            F.col(id_col).alias("media_id"), "payload"
        )
        sigs = (
            image_dhash(batch, on_error=on_error)
            .withColumnRenamed("media_id", id_col)
            .persist()
        )
        try:
            # within-batch dedup: component-wise min-id survivor (the
            # same CC-based contract as the text ingester — a greedy
            # pairwise drop would lose whole chains A~B~C)
            pairs = hamming_pairs_64(
                sigs, id_col, "dhash", max_hamming, max_bucket_size
            ).select("id_a", "id_b")
            survivors = dedup_survivors(
                sigs, pairs, id_col=id_col, src="id_a", dst="id_b"
            )
            corpus = _read_corpus_before(
                spark, corpus_path, batch_id, [id_col, "dhash"]
            )
            has_corpus = corpus is not None and len(corpus.take(1)) > 0
            if has_corpus:
                hits = (
                    incremental_hamming_pairs_64(
                        corpus, survivors, id_col, "dhash",
                        max_hamming, max_bucket_size,
                    )
                    .select(F.col("new_id").alias(id_col))
                    .distinct()
                )
                survivors = survivors.join(hits, id_col, "left_anti")
            _write_batch(survivors, corpus_path, batch_id)
        finally:
            sigs.unpersist()

    return _start_foreach_batch(stream_media, sink, checkpoint_dir)


def ingest_constrained_stream(
    stream_docs: DataFrame,
    corpus_path: str,
    quarantine_path: str,
    checkpoint_dir: str,
    rules,
    report_path: "str | None" = None,
):
    """Quality-GATED streaming ingestion: every micro-batch is split by
    the conjunction of row-level constraint rules
    (:mod:`~uofi_payroll_etl_main_demo_spark.validate.constraints` —
    ``not_null`` / ``in_range`` / ``matches`` / ``satisfies``) — rows
    passing ALL rules land in the corpus, violators land WHOLE in the
    quarantine (same columns, so they can be repaired and replayed),
    and, when ``report_path`` is set, the batch's full constraint
    report (every rule kind, including ``unique``/``foreign_key``)
    is appended as the audit trail. The data-quality circuit breaker
    in front of a training corpus, as a stream.

    Exactly-once: all three sinks write each batch to its own
    ``__batch_id=<id>`` directory in overwrite mode (the module's
    standard idempotency pattern), so a replayed batch reproduces identical
    corpus, quarantine and report partitions instead of duplicating.
    Admission is row-level and needs row rules; passing only
    aggregate-kind rules (``unique``/``fk``) raises — they still
    evaluate into the report, they just can't split rows."""
    from uofi_payroll_etl_main_demo_spark.validate.constraints import (
        check_data_constraints,
    )

    rules = list(rules)
    row_rules = [r for r in rules if r.kind == "row"]
    if not row_rules:
        raise ValueError("need at least one row-level rule to gate rows")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        admit = F.lit(True)
        for r in row_rules:
            admit = admit & F.coalesce(r.payload, F.lit(False))
        batch_df = batch_df.persist()
        try:
            for path, frame in (
                (corpus_path, batch_df.filter(admit)),
                (quarantine_path, batch_df.filter(~admit)),
            ):
                _write_batch(frame, path, batch_id)
            if report_path is not None:
                _write_batch(
                    check_data_constraints(batch_df, rules),
                    report_path,
                    batch_id,
                )
        finally:
            batch_df.unpersist()

    return _start_foreach_batch(stream_docs, sink, checkpoint_dir)

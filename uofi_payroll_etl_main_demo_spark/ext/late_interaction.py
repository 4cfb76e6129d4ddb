"""Late-interaction (multi-vector max-sim) retrieval — the ColBERT
serving shape (Khattab & Zaharia 2020, public), composed from the
engine's existing pieces: positional passage chunking (the
ext_passage_topk law), hashed-BOW chunk embeddings (ext/textstats.py
``bow_bucket_expr`` — swap for a model column and nothing downstream
changes), and the persisted IVF-PQ store's batched serve.

A query is a BAG OF VECTORS (its passage embeddings), a document is a
bag of vectors, and the relevance score is

    MaxSim(q, d) = Σ_{i ∈ vectors(q)}  max_{j ∈ vectors(d)} cos(q_i, d_j)

— each query vector independently finds its best-matching passage in
the document, and the per-vector winners sum. Scores are accumulated
as INTEGER MILLI-COSINES (floor(cos·1e6) per (query-vector, doc) max,
then an exact integer sum), so the cross-engine oracle never compares
an unordered float sum (the ext_retrieval_rank_eval convention).

Two engines, one law:

- :func:`maxsim_topk` — the exact inline composition: broadcast the
  query vectors (the SMALL side by contract: tens-to-hundreds of
  vectors) onto the passage frame, one cosine per (query-vector,
  passage) with the engine's shared ``cosine_similarity`` fold, then
  two aggregations (max per doc per query-vector, integer sum per
  doc) and a per-query top-k window. Linear in corpus passages — the
  100 TB shape is scan → broadcast join → two partial-agg shuffles on
  (query, doc) keys, never a corpus × corpus product.
- :func:`maxsim_topk_index` — the SERVED form: every query vector
  batch-serves TOGETHER from a persisted :class:`IVFPQDiskIndex` over
  the passage corpus (one pruned ADC job answers the whole
  token-fan-out — the realistic serving load: n_queries × vectors per
  query), and the same pooling runs over the retrieved pairs. At full
  probe + full candidate margin + full per-vector k the serve returns
  every (query-vector, passage) pair with exact reranked cosines, so
  the result EQUALS the inline brute force (the value-oracle
  configuration); at bounded nprobe / candidates / per-vector k it is
  the standard approximate MaxSim (missing pairs contribute 0),
  trading recall for a read fraction — recorded in BASELINE.md's
  late-interaction scale table.

Reference parity note: the reference pipeline has no retrieval
surface; this module extends the engine's LLM-data-pipeline family
(SURVEY.md §2-ext similarity block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uofi_payroll_etl_main_demo_spark.functions.vectors import (
    cosine_similarity,
)


def chunk_bow_vectors(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 16,
    size: int = 32,
) -> DataFrame:
    """Tumbling ``size``-token chunks → hashed-BOW embedding PER CHUNK:
    (id, chunk_idx, v array<double>), L2-normalized, empty chunks
    impossible by construction (a chunk exists only where a token
    does). The ONE chunk law shared with ext_passage_topk (token's
    chunk is floor(pos / size)) and the ONE bucket law
    (``bow_bucket_expr``), through the codegen explode+agg embedder —
    no per-element lambdas in the hot path. Zero-token docs yield no
    rows (their embedding is null by definition)."""
    from uofi_payroll_etl_main_demo_spark.ext.textstats import (
        bow_bucket_expr,
    )
    from uofi_payroll_etl_main_demo_spark.functions.text import tokenize_ws

    tok = docs.select(
        F.col(id_col),
        F.posexplode(tokenize_ws(text_col)).alias("__p", "__t"),
    ).select(
        id_col,
        F.floor(F.col("__p") / size).cast("int").alias("chunk_idx"),
        bow_bucket_expr("__t", dim).alias("__bk"),
    )
    aggs = [
        F.sum(F.when(F.col("__bk") == j, 1).otherwise(0))
        .cast("double")
        .alias(f"__c{j}")
        for j in range(dim)
    ]
    g = tok.groupBy(id_col, "chunk_idx").agg(*aggs)
    cols = [F.col(f"__c{j}") for j in range(dim)]
    norm = F.sqrt(sum((c * c for c in cols), F.lit(0.0)))
    return g.select(
        F.col(id_col),
        "chunk_idx",
        F.transform(F.array(*cols), lambda x: x / norm).alias("v"),
    )


def _pool_maxsim(
    scored: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    doc_id_col: str = "doc_id",
    qvec_idx_col: str = "__qi",
    score_col: str = "__cos",
) -> DataFrame:
    """The ONE MaxSim pooling law both engines share: per
    (query, query-vector, doc) keep the MAX cosine (order-free exact),
    floor it to integer milli-cosine, SUM the millis per (query, doc)
    (exact integer addition — no unordered float sum crosses the
    oracle), rank docs per query (milli DESC, doc id ASC), keep k."""
    pooled = (
        scored.groupBy(query_id_col, qvec_idx_col, doc_id_col)
        .agg(F.max(score_col).alias("__m"))
        .select(
            query_id_col,
            doc_id_col,
            F.floor(F.col("__m") * 1e6).cast("bigint").alias("__milli"),
        )
        .groupBy(query_id_col, doc_id_col)
        .agg(F.sum("__milli").alias("maxsim_milli"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("maxsim_milli"), F.asc(doc_id_col)
    )
    return (
        pooled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def maxsim_topk(
    doc_vectors: DataFrame,
    query_vectors: DataFrame,
    k: int = 10,
    doc_id_col: str = "doc_id",
    doc_vec_col: str = "v",
    query_id_col: str = "query_id",
    qvec_idx_col: str = "qvec_idx",
    query_vec_col: str = "qv",
    dim: "int | None" = None,
) -> DataFrame:
    """Exact MaxSim top-k: every query vector against every passage
    vector, by broadcast (query side small by contract). ``dim``
    (when known) switches the per-pair cosine to the codegen-unrolled
    form — bit-identical, see functions.vectors.dot_product. Returns
    (query_id, doc_id, maxsim_milli) — the per-query top-k documents.

    Plan: pruned scan of the passage frame → broadcast nested-loop
    against the query vectors (Q·P cosines, each the engine's shared
    left-fold ``cosine_similarity`` — bit-identical to the ANN store's
    exact rerank) → max-agg on (query, qvec, doc) → integer sum on
    (query, doc) → per-query top-k window. Both aggs partial (map-side
    combine), so the exchanges carry one row per (query, qvec, doc)
    then per (query, doc) — never the raw pair frame."""
    q = query_vectors.select(
        F.col(query_id_col),
        F.col(qvec_idx_col).alias("__qi"),
        F.col(query_vec_col).alias("__qv"),
    )
    scored = doc_vectors.crossJoin(F.broadcast(q)).select(
        query_id_col,
        "__qi",
        F.col(doc_id_col),
        cosine_similarity(doc_vec_col, "__qv", dim=dim).alias("__cos"),
    )
    return _pool_maxsim(
        scored, k, query_id_col=query_id_col, doc_id_col=doc_id_col
    )


def maxsim_topk_index(
    index,
    query_vectors: DataFrame,
    k: int = 10,
    per_vector_k: int = 1 << 40,
    nprobe: int | None = None,
    candidates: int = 1 << 30,
    rerank_corpus: DataFrame | None = None,
    doc_of_vec=None,
    query_id_col: str = "query_id",
    qvec_idx_col: str = "qvec_idx",
    query_vec_col: str = "qv",
    qtok_mod: int = 1 << 20,
) -> DataFrame:
    """MaxSim served from a persisted IVF-PQ passage store: ONE batched
    serve answers the whole (queries × query-vectors) fan-out, then the
    shared pooling law runs over the retrieved pairs.

    ``doc_of_vec`` maps the store's vector id to its document id (a
    Column function; default: ``vec_id div 4096`` — the packed
    (doc, chunk) id convention). ``per_vector_k``/``nprobe``/
    ``candidates`` bound the serve: at full probe + full margin +
    per_vector_k ≥ corpus the result equals :func:`maxsim_topk`
    exactly (every pair retrieved, exact reranked cosines); bounded
    values give the standard approximate MaxSim where un-retrieved
    (query-vector, doc) pairs contribute 0. The ``per_vector_k``
    default is deliberately above any realistic passage count (2⁴⁰) so
    the EXACT configuration cannot silently truncate when the corpus
    grows past a smaller hidden bound — tighten it explicitly to buy
    latency.

    The composite (query, query-vector) key rides the serve as ONE
    packed long — ``query_id · qtok_mod + qvec_idx`` — because the
    store's batched serve keys on a single column. The pack is
    VALIDATED up front (one tiny agg: no NULL ids/indices/vectors,
    0 ≤ qvec_idx < qtok_mod, 0 ≤ query_id ≤ 2⁶²/qtok_mod) so a
    key-space collision or a silent NULL-key row fails loudly instead
    of pooling one query's vectors under another; the UNPACK is exact
    integer arithmetic (``div`` / ``%`` on the packed long — a
    floor(double division) would misattribute keys ≥ 2⁵³), so no
    second evaluation of the query frame and no broadcast of it —
    the serve itself already pages unbounded query frames."""
    id_col = index.meta["id_col"]
    n_lists = len(index.centroids)
    if nprobe is None:
        nprobe = n_lists
    if doc_of_vec is None:
        def doc_of_vec(c):
            # packed (doc, chunk) convention: doc = vec_id >> 12 —
            # exact long arithmetic (4096 = 2^12), never a double
            return F.shiftright(c.cast("long"), 12)

    bounds = query_vectors.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (
                F.col(query_id_col).isNull()
                | F.col(qvec_idx_col).isNull()
                | F.col(query_vec_col).isNull()
            ).cast("int")
        ).alias("n_null"),
        F.min(qvec_idx_col).alias("imin"),
        F.max(qvec_idx_col).alias("imax"),
        F.min(query_id_col).alias("qmin"),
        F.max(query_id_col).alias("qmax"),
    ).first()
    if bounds["n"] == 0:
        raise ValueError("empty query-vector frame")
    if bounds["n_null"]:
        raise ValueError(
            f"{bounds['n_null']} query-vector rows carry a NULL id, "
            "index, or vector — they would pack to a NULL key and "
            "silently drop their MaxSim contribution"
        )
    if bounds["imin"] < 0 or bounds["imax"] >= qtok_mod:
        raise ValueError(
            f"qvec_idx range [{bounds['imin']}, {bounds['imax']}] outside "
            f"[0, qtok_mod={qtok_mod}) — packed keys would collide across "
            "queries; raise qtok_mod"
        )
    if bounds["qmin"] < 0 or int(bounds["qmax"]) > (1 << 62) // qtok_mod:
        raise ValueError(
            f"query_id range [{bounds['qmin']}, {bounds['qmax']}] would "
            f"overflow the packed long at qtok_mod={qtok_mod}"
        )
    qtok = query_vectors.select(
        (
            F.col(query_id_col).cast("long") * qtok_mod
            + F.col(qvec_idx_col).cast("long")
        ).alias("__qtok"),
        F.col(query_vec_col).alias("__qv"),
    )
    served = index.search_batch(
        qtok,
        k=per_vector_k,
        nprobe=nprobe,
        candidates=candidates,
        rerank_corpus=rerank_corpus,
        query_id_col="__qtok",
        query_vec_col="__qv",
    )
    scored = served.select(
        F.expr(f"__qtok div {int(qtok_mod)}").alias(query_id_col),
        (F.col("__qtok") % qtok_mod).alias("__qi"),
        doc_of_vec(F.col(id_col)).alias("doc_id"),
        F.col("score").alias("__cos"),
    )
    return _pool_maxsim(scored, k, query_id_col=query_id_col)

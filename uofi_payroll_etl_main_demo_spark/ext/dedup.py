"""Corpus deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All operators are pure DataFrame compositions — hashing via the
built-in ``xxhash64``/``md5`` (JVM, codegen), shingling via
higher-order array functions, candidate generation via equi-joins on
band/bucket keys. No Python UDFs anywhere, so every stage distributes
and scales with partitions.

Scale shapes (the 100 TB rationale):
- exact: one shuffle on a 128-bit content hash — never on the text
  itself (bytes moved = hash + id, not documents).
- MinHash LSH: signatures are a narrow map; banding turns the O(n²)
  pair problem into equi-join on (band, band_hash) — only documents
  sharing a band bucket ever meet. Bucket skew (boilerplate docs) is
  the known hazard: AQE skew-join handles moderate skew, and a bucket
  size cap drops degenerate mega-buckets explicitly.
- n-gram Jaccard: exact verification, used on LSH candidates (or
  standalone at small scale). The shingle→pair join explodes on hot
  shingles, so shingles are hashed to 64-bit ints first (narrow
  shuffle rows) and degenerate shingles can be capped the same way.
- SimHash: one 64-bit signature per doc; near-dup = small Hamming
  distance. Banding the 64 bits into 4×16-bit chunks gives exact
  recall for distance ≤ 3 via 4 equi-joins (pigeonhole), again no O(n²).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uofi_payroll_etl_main_demo_spark.functions.scale import (
    scale_input_parallelism as _scale_in,
)
from uofi_payroll_etl_main_demo_spark.functions.text import (
    shingles_from_tokens,
    tokenize_ws,
)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Keep one row per exact text content; survivor = min (or max) id.

    Dedups on ``md5(text)`` so the shuffle carries a 32-char hash + id,
    not the document body. Returns the full surviving rows.
    """
    h = F.md5(F.col(text_col))
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    survivors = (
        df.select(F.col(id_col), h.alias("__h"))
        .groupBy("__h")
        .agg(agg.alias(id_col))
        .select(id_col)
    )
    return df.join(survivors, id_col, "left_semi")


def _shingle_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    hash_family: str = "xxhash64",
    carry: tuple[str, ...] = (),
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, shingle_hash) exploded pairs; shingles distinct per doc and
    hashed to 64-bit so shuffle rows are two longs.

    ``hash_family="portable"`` derives TWO 52-bit longs (``sh``,
    ``sh2``) from one md5 per shingle — the double-hashing base for an
    engine-portable minhash family (``conv(substr(md5(s),1,13),16,10)``
    equals DuckDB's ``('0x'||substr(md5(s),1,13))::BIGINT``), so the
    whole LSH pipeline is exactly reproducible in the SQL oracle. The
    default ``xxhash64`` family is the cheap JVM-only path.

    Tokens are materialized through a projection boundary BEFORE the
    shingle transform — HOF lambdas re-evaluate inline subexpressions
    per element, so inlining the tokenize re-runs the regex split once
    per shingle slice (measured 6× slower; see
    ``shingles_from_tokens``'s perf contract).

    ``carry`` names per-doc columns copied through every projection —
    the incremental pair generators thread their ``__new`` tag this
    way instead of joining a corpus-sized flag frame back onto the
    aggregated signatures (an avoidable corpus-scale join).

    ``tokens_col`` names a PRE-TOKENIZED array column on ``df``: the
    scan widening and the tokenize are skipped (the caller already paid
    both — e.g. ``q_dedup_method_agreement`` tokenizes the corpus once
    and feeds the SAME persisted frame to the minhash and simhash legs,
    halving the scan+tokenize work of the agreement audit)."""
    cy = [F.col(c) for c in carry]
    if tokens_col is not None:
        base = df.select(
            F.col(id_col), F.col(tokens_col).alias("__toks"), *cy
        )
    else:
        # scale-adaptive scan parallelism: a tiny corpus reads as one
        # row group/task; repartition the projected raw rows so the
        # HOF-heavy shingle stage runs wide (no-op whenever the scan is
        # already wider)
        base = _scale_in(
            df.select(F.col(id_col), F.col(text_col), *cy)
        ).select(F.col(id_col), tokenize_ws(text_col).alias("__toks"), *cy)
    exploded = base.select(
        F.col(id_col),
        *cy,
        F.explode(shingles_from_tokens(F.col("__toks"), k)).alias("__s"),
    )
    if hash_family == "portable":
        md5ed = exploded.select(id_col, *cy, F.md5("__s").alias("__m"))
        return md5ed.select(
            id_col,
            *cy,
            F.conv(F.substring("__m", 1, 13), 16, 10)
            .cast("long")
            .alias("sh"),
            F.conv(F.substring("__m", 14, 13), 16, 10)
            .cast("long")
            .alias("sh2"),
        )
    return exploded.select(id_col, *cy, F.xxhash64("__s").alias("sh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs over k-word shingle sets.

    shingle-explode → self-equi-join on shingle hash → per-pair
    intersection count → Jaccard = |∩| / (|A| + |B| − |∩|).

    ``max_shingle_freq`` drops shingles appearing in more than that many
    documents before pairing (stopword-like boilerplate shingles create
    quadratic hot spots at corpus scale; dropping them changes recall
    only for pairs connected *solely* by boilerplate).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    # shingles are distinct per doc (array_distinct in
    # shingles_from_tokens), so the per-doc set size is just F.size of
    # the shingle ARRAY — known BEFORE the explode. Annotating each
    # exploded row with it costs nothing, and the sizes then ride the
    # bucket expansion so the pair frame needs NO join back.
    #   - The r10 shape joined the pair counts against a per-doc sizes
    #     frame twice — at sf1 those corpus-scaling join sides sat
    #     under the broadcast threshold and the broadcast build OOM'd
    #     the driver; at 100 TB a per-doc frame must never broadcast.
    #   - The first r11 shape annotated via a window count, which
    #     costs one full Exchange+Sort of the exploded shingle frame —
    #     the LARGEST frame in the plan — purely to recount what the
    #     array already knows (3 Exchanges; plans/r11/
    #     ext_ngram_jaccard_before.txt ops 5–7).
    # This shape: size-before-explode, zero joins, 2 Exchanges (bucket
    # groupBy + pair groupBy — both fundamental). The two-reference
    # projection (__arr feeds size AND explode) is NOT re-inlined by
    # CollapseProject (non-cheap expressions used >1× stay
    # materialized since SPARK-36718), so the shingle transform still
    # runs once per row — verified in the _after plan.
    base = _scale_in(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokenize_ws(text_col).alias("__toks")
    )
    arr = base.select(
        F.col(id_col), shingles_from_tokens(F.col("__toks"), k).alias("__arr")
    )
    # explode a COALESCE-wrapped (non-attribute) input: with a bare
    # attribute, InferFiltersFromGenerate adds size(__arr)>0 AND
    # isnotnull(__arr) and PushDownPredicate then inlines the FULL
    # shingle transform into that predicate through both projections —
    # tripling the per-document tokenize+shingle work (observed in the
    # first _after plan). The rule only fires on attribute inputs
    # (SPARK-33544), the wrapper is free (the array is never NULL by
    # construction), and explode drops empty arrays anyway.
    # size is computed in a projection BELOW the generate and the array
    # column is dropped AT the generate (unrequired child output):
    # computing size in the same select as the explode puts it in the
    # project ABOVE the generate, which forces the full shingle array
    # into every exploded row's buffer — O(shingles²) bytes per doc of
    # row-copy traffic (measured ~25% slower than the window shape it
    # was meant to beat).
    sized = arr.select(
        F.col(id_col), F.size("__arr").alias("__n"), F.col("__arr")
    )
    szd = sized.select(
        id_col,
        "__n",
        F.explode(
            F.coalesce(F.col("__arr"), F.array().cast("array<string>"))
        ).alias("__s"),
    ).select(id_col, "__n", F.xxhash64("__s").alias("sh"))
    # Pair generation WITHOUT a self-join: group (id, n) per shingle
    # bucket and expand ordered pairs in-bucket with higher-order
    # functions — one shuffle instead of a join of the exploded frame
    # against itself (measured 2.2× faster at bench scale; same shape
    # the LSH banding path uses). A doc appears at most once per
    # bucket (shingles are distinct per doc), so counting expanded
    # pairs per (id_a, id_b) IS the intersection size.
    member = F.struct(F.col(id_col).alias("id"), F.col("__n").alias("n"))
    buckets = (
        szd.groupBy("sh")
        .agg(F.collect_list(member).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_shingle_freq is not None:
        # quadratic-hot-spot cap, now a plain filter on bucket size
        # (no hot-list anti-join needed)
        buckets = buckets.filter(F.size("ids") <= max_shingle_freq)
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(
                    F.least(x["id"], y["id"]).alias("id_a"),
                    F.greatest(x["id"], y["id"]).alias("id_b"),
                    F.when(x["id"] < y["id"], x["n"])
                    .otherwise(y["n"])
                    .alias("na"),
                    F.when(x["id"] < y["id"], y["n"])
                    .otherwise(x["n"])
                    .alias("nb"),
                ),
            ),
        )
    )
    inter = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("__i"),
            F.min("p.na").alias("__na"),
            F.min("p.nb").alias("__nb"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def band_key_structs(num_hashes: int, bands: int) -> list:
    """The LSH band-key expressions over signature columns m0..m{n-1}:
    one struct (band, bh) per band, bh = xxhash64 of the band's
    signature slice (only slice EQUALITY matters for bucketing, so an
    engine-local hash of the concatenated slice is safe — and every
    path that BUILDS or QUERIES band keys must use THIS function, or
    stored index keys and query keys would silently never match)."""
    rows_per_band = num_hashes // bands
    return [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{b * rows_per_band + i}").cast("string")
                        for i in range(rows_per_band)
                    ],
                )
            ).alias("bh"),
        )
        for b in range(bands)
    ]


def _min_sig_agg(
    df: DataFrame,
    id_col: str,
    num_hashes: int,
    *extra_aggs,
    hash_family: str = "xxhash64",
    group_extra: tuple[str, ...] = (),
):
    """(id, m0..m{n-1} [, extra]) via explode + partial-min aggregates.

    Family member i: ``xxhash64(sh, i)`` (cheap JVM rehash) or, for the
    ``portable`` family, the double-hashing form ``sh + i·sh2`` over the
    two md5-derived 52-bit longs — plain bigint arithmetic both engines
    evaluate identically (max value ~2^57, no ANSI overflow). ``min()``
    partial-aggregates map-side, so the shuffle carries ONE narrow
    (id, n longs) row per doc per input partition — never the exploded
    shingles. This explode+agg shape measured ~2× faster than the
    higher-order-function form (32 nested ``array_min(transform(...))``
    defeats whole-stage codegen).
    """
    sh = df
    if hash_family == "portable":
        mins = [
            F.min(F.col("sh") + F.lit(i) * F.col("sh2")).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    else:
        mins = [
            F.min(F.xxhash64("sh", F.lit(i))).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    # group_extra: per-doc tag columns carried through _shingle_hashes
    # (functionally dependent on the id, so the groups are unchanged —
    # the tag rides the aggregation instead of joining back later)
    return sh.groupBy(id_col, *group_extra).agg(*mins, *extra_aggs)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    k: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document → (id, array<bigint> sig).

    Two-level hash family: every shingle STRING is hashed exactly once
    (``xxhash64(shingle)`` or, portable, one md5 → two 52-bit longs),
    then sig[i] = min over shingles of the i-th family member (see
    ``_min_sig_agg``). Computed as explode → n partial-min aggregates.
    Documents with no shingles get a null signature (restored by a left
    join back onto the id set).
    """
    wide = _min_sig_agg(
        _shingle_hashes(df, text_col, id_col, k, hash_family),
        id_col,
        num_hashes,
        hash_family=hash_family,
    )
    sig = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    return df.select(id_col).join(
        wide.select(F.col(id_col), sig.alias("sig")), id_col, "left"
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 4,
    threshold: float = 0.5,
    verify: bool = True,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
    tokens_col: str | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate pairs.

    ``hash_family="portable"`` swaps the signature family for the
    md5-derived double-hashing form, making candidate recall (hence the
    verified pair set) exactly reproducible in ANSI SQL — the registry
    query uses it so the DuckDB oracle checks the full LSH pipeline,
    not just row counts. Bucket keys stay ``xxhash64``: only band-slice
    EQUALITY matters for bucketing, and hash(x)=hash(y) ⇔ x=y holds
    within the engine regardless of family.

    ``max_bucket_size`` drops degenerate mega-buckets (a bucket of m
    documents yields m·(m−1)/2 candidates; boilerplate-heavy corpora
    produce buckets where that quadratic dominates the whole job).
    Dropping loses only pairs whose EVERY shared band is oversized —
    the standard recall/throughput trade at corpus scale.

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows;
    candidate pairs share at least one identical band (equi-join on
    (band_idx, band_hash) — never all-pairs). With ``verify=True``
    candidates are re-checked with exact shingle Jaccard and filtered
    by ``threshold`` (output: id_a, id_b, jaccard); otherwise pairs
    carry estimated signature similarity (id_a, id_b, est_jaccard).

    ``tokens_col`` names a PRE-TOKENIZED array column on ``df``; the
    text column is then ignored. That path skips the scan widening
    (``scale_input_parallelism``) the text path applies, so the
    CALLER must widen a plain scan before tokenizing it — otherwise
    the shingle/hash stage runs at the raw scan's few partitions.
    """
    # ONE shingle pass feeds everything downstream: the same explode +
    # groupBy produces the n partial-min signature columns AND (for
    # verify) the exact shingle set. Persisted because banding, both
    # candidate-join sides, and verification all consume it — without
    # the persist each consumer would re-tokenize the whole corpus
    # (measured 12.1s → 8.2s at sf0.1). Per-doc rows are narrow
    # (id + 32 longs + shingle-hash list), so this caches O(corpus
    # signature) bytes, not documents.
    per_doc = _min_sig_agg(
        _shingle_hashes(
            df, text_col, id_col, k, hash_family, tokens_col=tokens_col
        ),
        id_col,
        num_hashes,
        *([F.collect_list("sh").alias("__set")] if verify else []),
        hash_family=hash_family,
    ).persist()
    # Static band count → Python loop of literal slices; each band key
    # is the hash of its signature-slice columns.
    band_structs = band_key_structs(num_hashes, bands)
    banded = per_doc.select(
        F.col(id_col),
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))

    # Candidate pairs WITHOUT a self-join (a self-join would re-derive
    # every signature once per side): one shuffle groups ids per
    # (band, band_hash) bucket, then ordered pairs expand in-bucket via
    # higher-order functions. Bucket sizes are small by LSH design, so
    # the quadratic expansion is local and bounded.
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(
                    F.least(x, y).alias("id_a"), F.greatest(x, y).alias("id_b")
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_arr = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    if not verify:
        sig_a = per_doc.select(
            F.col(id_col).alias("id_a"), sig_arr.alias("sig_a")
        )
        sig_b = per_doc.select(
            F.col(id_col).alias("id_b"), sig_arr.alias("sig_b")
        )
        est = (
            F.size(
                F.filter(
                    F.zip_with(
                        F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y
                    ),
                    lambda eq: eq,
                )
            ).cast("double")
            / F.lit(num_hashes)
        )
        return (
            cand.join(sig_a, "id_a")
            .join(sig_b, "id_b")
            .select("id_a", "id_b", est.alias("est_jaccard"))
        )

    # Exact verification on the candidate set only. Sets are the int64
    # shingle hashes already collected in `per_doc` (8B/element vs full
    # strings; Jaccard is identical modulo 64-bit collisions) — no
    # second pass over the documents.
    sets_ = per_doc.select(F.col(id_col), F.col("__set"))
    with_a = cand.select("id_a", "id_b").join(
        sets_.select(F.col(id_col).alias("id_a"), F.col("__set").alias("set_a")),
        "id_a",
    )
    with_b = with_a.join(
        sets_.select(F.col(id_col).alias("id_b"), F.col("__set").alias("set_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        with_b.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def verify_jaccard_pairs(
    cand: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    id_col: str,
    threshold: float,
    a_col: str = "new_id",
    b_col: str = "old_id",
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs — the ONE
    shared tail of the inline CDC operator and the persisted-index
    query (ext/dedup_index.py): both must verify with identical math
    or their pinned equivalence silently breaks. ``sets_a``/``sets_b``
    are (id, __set) shingle-hash frames for each side (the same frame
    twice for a self-corpus check). Returns (a_col, b_col, jaccard ≥
    threshold)."""
    # The set frames are PER-DOC ARRAYS — they grow with the corpus,
    # so they must never be driver-broadcast (at sf1 corpus-scaling
    # sides under the broadcast threshold OOM'd the driver while the
    # candidate shuffle held the heap; at 100 TB they are terabytes).
    # shuffle_hash keeps the join executor-side with the smaller side
    # hashed per-partition — no sort of the candidate frame either.
    with_a = cand.join(
        sets_a.select(
            F.col(id_col).alias(a_col), F.col("__set").alias("set_a")
        ).hint("shuffle_hash"),
        a_col,
    )
    with_b = with_a.join(
        sets_b.select(
            F.col(id_col).alias(b_col), F.col("__set").alias("set_b")
        ).hint("shuffle_hash"),
        b_col,
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        with_b.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select(a_col, b_col, "jaccard")
    )


def incremental_near_dup_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    k: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    hash_family: str = "portable",
) -> DataFrame:
    """Incremental MinHash+LSH dedup: which NEW documents near-duplicate
    the EXISTING corpus — the CDC shape of corpus deduplication.

    The incremental property is enforced at pair-expansion time: both
    sides flow through ONE shingle pass and one banding (tagged with a
    ``__new`` flag), and the in-bucket expansion emits only
    (new, old) pairs — never old×old (the corpus was already deduped)
    and never new×new (dedup the batch separately if wanted). At 100 TB
    this is the difference between re-pairing the whole corpus every
    day and touching only buckets a new document lands in.

    Ids must be disjoint across the two inputs. Returns
    (new_id, old_id, jaccard) with exact-Jaccard verification at
    ``threshold``.
    """
    tagged = corpus.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("__new")
    ).unionByName(
        batch.select(
            F.col(id_col), F.col(text_col), F.lit(True).alias("__new")
        )
    )
    # __new rides the shingle pass and the signature aggregation
    # (carry/group_extra) — the previous shape joined a corpus-sized
    # (id, flag) frame back onto the aggregated signatures, an
    # avoidable corpus-scale join (broadcast locally, a full SMJ
    # shuffle pair at 100 TB).
    per_doc = _min_sig_agg(
        _shingle_hashes(
            tagged, text_col, id_col, k, hash_family, carry=("__new",)
        ),
        id_col,
        num_hashes,
        F.collect_list("sh").alias("__set"),
        hash_family=hash_family,
        group_extra=("__new",),
    ).persist()
    band_structs = band_key_structs(num_hashes, bands)
    banded = per_doc.select(
        F.col(id_col),
        F.col("__new"),
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select(
        id_col, "__new", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    buckets = (
        banded.groupBy("band", "bh")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("__new").alias("nw"))
            ).alias("docs")
        )
        .filter(F.size("docs") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("docs") <= max_bucket_size)
    docs = F.col("docs")
    # cross-status pairs only: (new, old), emitted as (new_id, old_id)
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                docs,
                lambda x, i: F.transform(
                    F.slice(docs, i + F.lit(2), F.size(docs)),
                    lambda y: F.struct(
                        F.when(x["nw"], x["id"]).otherwise(y["id"]).alias(
                            "new_id"
                        ),
                        F.when(x["nw"], y["id"]).otherwise(x["id"]).alias(
                            "old_id"
                        ),
                        (x["nw"] != y["nw"]).alias("cross"),
                    ),
                ),
            )
        ),
        lambda p: p["cross"],
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.new_id").alias("new_id"), F.col("p.old_id").alias("old_id"))
        .dropDuplicates(["new_id", "old_id"])
    )
    sets_ = per_doc.select(F.col(id_col), F.col("__set"))
    return verify_jaccard_pairs(cand, sets_, sets_, id_col, threshold)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    tokens_col: str | None = None,
) -> DataFrame:
    """64-bit SimHash per document → (id, simhash bigint).

    ``tokens_col`` names a pre-tokenized array column (see
    ``_shingle_hashes``): the scan widening and tokenize are skipped.

    Each whitespace token is hashed to 64 bits; bit b of the signature
    is 1 iff more token-hashes have bit b set than unset.

    ``hash_family="portable"`` builds the 64 token-hash bits from one
    md5 — bits 0–51 from ``conv(substr(md5,1,13),16,10)``, bits 52–63
    from ``conv(substr(md5,14,3),16,10)`` — both exactly reproducible
    in DuckDB (``('0x'||substr(md5(t),…))::BIGINT``), so signatures,
    chunk buckets, and Hamming distances match the SQL oracle
    bit-for-bit.

    Shape: explode tokens → one hash per row → groupBy(doc) with 64
    BRANCH-FREE bit sums (``sum((h >>> b) & 1)``) plus one token count
    → signature bit b set iff ``2·ones_b > n`` (exactly the old ±1
    balance law: balance = 2·ones − n). The 65 sums partial-aggregate
    map-side, so the shuffle carries one narrow row per document — at
    corpus scale this is a narrow agg, not a wide explode join. Docs
    with zero tokens get a null signature.

    The branch-free form replaced the original 64 conditional ±1 sums
    (``SUM(CASE WHEN h & mask != 0 THEN 1 ELSE -1)``) in r11: same
    values, but the generated update loop is straight-line shift/mask
    arithmetic instead of 64 branches, which both shrinks the codegen
    unit and C2-compiles sooner — A/B at sf0.1 (fresh session, bench
    protocol): warmup-run and min-of-2 both improved, and the
    near-cold/warmed JIT band (VERDICT r9/r10 'drift' flags;
    recorded in BASELINE.md) narrows. Alternatives A/B'd earlier
    and SLOWER: (a) a 16×4-lane packed-counter agg — shift/mask
    chains per lane cost more than straight per-bit sums; (b) a
    zero-shuffle per-row HOF ``aggregate`` with a 64-int array
    accumulator — 2.5× slower from per-token array allocation; (c) a
    carry-save bit-sliced struct-of-11-longs accumulator — correct,
    but the 64-bit × 11-level extraction tree (~700 terms) breaks
    codegen and did not finish at sf0.1. The explode+agg form stays.
    """
    sigs = _simhash_agg(df, text_col, id_col, hash_family, tokens_col=tokens_col)
    # Preserve zero-token docs with a null signature (left join back).
    return df.select(id_col).join(sigs, id_col, "left")


def _simhash_agg(
    df: DataFrame,
    text_col: str,
    id_col: str,
    hash_family: str = "xxhash64",
    carry: tuple[str, ...] = (),
    tokens_col: str | None = None,
) -> DataFrame:
    """(id[, *carry], simhash) for docs with >= 1 token — docs with
    zero tokens are ABSENT (not null); :func:`simhash` restores them
    with the left join back. ``carry`` threads per-doc tag columns
    (functionally dependent on the id) through the aggregation so
    incremental callers never join a corpus-sized flag frame back."""
    one = F.lit(1).cast("long")
    cy = [F.col(c) for c in carry]
    if tokens_col is not None:
        # pre-tokenized input (see _shingle_hashes): the caller already
        # widened and tokenized — skip both
        base = df.select(F.col(id_col), F.col(tokens_col), *cy)
        toks_expr = F.col(tokens_col)
    else:
        # scale-adaptive scan parallelism (same rationale as
        # _shingle_hashes): a tiny corpus reads as one row group/task,
        # serializing the per-token md5 + 64 bit-sum stage; repartition
        # the projected raw rows so it runs wide (no-op whenever the
        # scan is already wider than the cluster). Partial aggregation
        # still emits ~one row per doc — docs are not split across
        # partitions by the row-level repartition.
        base = _scale_in(df.select(F.col(id_col), F.col(text_col), *cy))
        toks_expr = tokenize_ws(text_col)
    if hash_family == "portable":
        tok = (
            base.select(
                F.col(id_col),
                *cy,
                F.explode(toks_expr).alias("__t"),
            )
            .select(id_col, *cy, F.md5("__t").alias("__m"))
            .select(
                id_col,
                *cy,
                F.conv(F.substring("__m", 1, 13), 16, 10)
                .cast("long")
                .alias("__h"),
                F.conv(F.substring("__m", 14, 3), 16, 10)
                .cast("long")
                .alias("__h2"),
            )
        )
        bit_val = lambda b: (  # noqa: E731 - tiny local dispatch
            F.shiftrightunsigned(F.col("__h"), b).bitwiseAND(one)
            if b < 52
            else F.shiftrightunsigned(F.col("__h2"), b - 52).bitwiseAND(one)
        )
    else:
        tok = base.select(
            F.col(id_col), *cy, F.explode(toks_expr).alias("__t")
        ).select(id_col, *cy, F.xxhash64("__t").alias("__h"))
        bit_val = lambda b: F.shiftrightunsigned(  # noqa: E731
            F.col("__h"), b
        ).bitwiseAND(one)
    sums = [F.sum(bit_val(b)).alias(f"__s{b}") for b in range(64)] + [
        F.count(F.lit(1)).alias("__n")
    ]
    agg = tok.groupBy(id_col, *carry).agg(*sums)
    sig = F.lit(0).cast("long")
    for b in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"__s{b}") * 2 > F.col("__n"), F.lit(_mask(b))
            ).otherwise(F.lit(0).cast("long"))
        )
    return agg.select(F.col(id_col), *cy, sig.alias("simhash"))


def _mask(b: int) -> int:
    """Bit-b mask as a SIGNED 64-bit literal (bit 63 is the sign bit)."""
    return (1 << b) if b < 63 else -(1 << 63)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
    tokens_col: str | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    ``hash_family="portable"`` (see :func:`simhash`) makes the whole
    pipeline — signatures, pigeonhole chunks, Hamming filter — exactly
    reproducible in the DuckDB oracle.

    Pigeonhole banding: split 64 bits into ``max_hamming+1`` chunks;
    any pair within distance ≤ max_hamming agrees exactly on at least
    one chunk. Candidates are generated WITHOUT a self-join (a
    self-join re-derives the whole signature lineage once per side):
    one shuffle groups (id, simhash) per (chunk, chunk_key) bucket,
    then ordered pairs expand in-bucket via higher-order functions —
    the same measured-faster bucket-expansion shape as the minhash and
    n-gram pair generators. The exact popcount filter runs INSIDE the
    expansion, so far-apart pairs are dropped before the explode ever
    shuffles them. ``max_bucket_size`` caps degenerate mega-buckets
    (boilerplate corpora), trading bounded recall for linear work.

    The banding itself is signature-agnostic and lives in
    :func:`hamming_pairs_64` (also used for perceptual image hashes).

    ``tokens_col`` names a PRE-TOKENIZED array column on ``df``; the
    text column is then ignored. That path skips the scan widening
    (``scale_input_parallelism``) the text path applies, so the
    CALLER must widen a plain scan before tokenizing it — otherwise
    the token hashing runs at the raw scan's few partitions.
    """
    sh = simhash(df, text_col, id_col, hash_family, tokens_col=tokens_col)
    return hamming_pairs_64(
        sh, id_col, "simhash", max_hamming, max_bucket_size
    )


def _pigeonhole_buckets(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    max_bucket_size: int | None,
    extra: tuple[tuple[str, str], ...] = (),
) -> "DataFrame":
    """Shared banding core: null-filter → (chunk, chunk_key) explode →
    one groupBy collecting per-bucket (id, h[, extras]) structs →
    size>1 filter → optional mega-bucket cap. Every Hamming pair
    generator (batch, incremental, SimHash, media) goes through THIS
    function so a banding fix lands exactly once.

    ``extra`` = ((source_col, struct_field), ...) adds tag fields to
    the bucket structs (e.g. the incremental generators' __new flag).
    """
    nchunks = max_hamming + 1
    width = 64 // nchunks
    sh = sigs.filter(F.col(sig_col).isNotNull())
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned(F.col(sig_col), c * width)
            .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
            .alias("ck"),
        )
        for c in range(nchunks)
    ]
    keep = [F.col(id_col), F.col(sig_col).alias("__sig")] + [
        F.col(src).alias(f"__x_{dst}") for src, dst in extra
    ]
    chunks = sh.select(
        *keep, F.explode(F.array(*chunk_structs)).alias("c")
    ).select(
        id_col, "__sig", *[f"__x_{dst}" for _s, dst in extra],
        F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck"),
    )
    member = F.struct(
        F.col(id_col).alias("id"),
        F.col("__sig").alias("h"),
        *[F.col(f"__x_{dst}").alias(dst) for _s, dst in extra],
    )
    buckets = (
        chunks.groupBy("chunk", "ck")
        .agg(F.collect_list(member).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("docs") <= max_bucket_size)
    return buckets


def hamming_pairs_64(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature column by pigeonhole
    banding — the signature-agnostic core of
    :func:`simhash_near_dup_pairs`, reusable for other 64-bit
    fingerprints (perceptual image dHash, rolling text fingerprints).

    Split 64 bits into ``max_hamming + 1`` chunks; any pair within
    distance ≤ max_hamming agrees exactly on ≥ 1 chunk, so candidates
    come from one (chunk, chunk_key) equi-grouping with in-bucket HOF
    pair expansion (exact popcount filter inside the expansion — the
    same no-self-join shape as the text generators). Returns
    (id_a, id_b, hamming) with id_a < id_b.
    """
    buckets = _pigeonhole_buckets(
        sigs, id_col, sig_col, max_hamming, max_bucket_size
    )
    docs = F.col("docs")
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                docs,
                lambda x, i: F.transform(
                    F.slice(docs, i + F.lit(2), F.size(docs)),
                    lambda y: F.struct(
                        F.least(x["id"], y["id"]).alias("id_a"),
                        F.greatest(x["id"], y["id"]).alias("id_b"),
                        F.bit_count(x["h"].bitwiseXOR(y["h"])).alias(
                            "hamming"
                        ),
                    ),
                ),
            )
        ),
        lambda p: p["hamming"] <= F.lit(max_hamming),
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def incremental_hamming_pairs_64(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental (CDC) near-dup check over ANY 64-bit signature:
    which NEW items sit within ``max_hamming`` bits of the EXISTING
    corpus — the signature-agnostic twin of
    :func:`incremental_simhash_pairs`, usable for perceptual media
    hashes (image dHash, audio energy fingerprints) exactly as for
    text SimHash. Both sides flow through ONE pigeonhole banding and
    the in-bucket expansion emits only new×old pairs, so daily cost
    tracks the batch, never corpus². Ids must be disjoint.

    Returns (new_id, old_id, hamming).
    """
    tagged = corpus_sigs.select(
        F.col(id_col), F.col(sig_col), F.lit(False).alias("__new")
    ).unionByName(
        batch_sigs.select(
            F.col(id_col), F.col(sig_col), F.lit(True).alias("__new")
        )
    )
    buckets = _pigeonhole_buckets(
        tagged, id_col, sig_col, max_hamming, max_bucket_size,
        extra=(("__new", "n"),),
    )
    docs = F.col("docs")
    news = F.filter(docs, lambda d: d["n"])
    olds = F.filter(docs, lambda d: ~d["n"])
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                news,
                lambda x: F.transform(
                    olds,
                    lambda y: F.struct(
                        x["id"].alias("new_id"),
                        y["id"].alias("old_id"),
                        F.bit_count(x["h"].bitwiseXOR(y["h"])).alias(
                            "hamming"
                        ),
                    ),
                ),
            )
        ),
        lambda p: p["hamming"] <= F.lit(max_hamming),
    )
    return (
        buckets.filter((F.size(news) > 0) & (F.size(olds) > 0))
        .select(F.explode(pair_structs).alias("p"))
        .select("p.new_id", "p.old_id", "p.hamming")
        .dropDuplicates(["new_id", "old_id"])
    )


def incremental_simhash_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    hash_family: str = "portable",
) -> DataFrame:
    """Incremental SimHash dedup: which NEW documents sit within
    ``max_hamming`` bits of the EXISTING corpus — the SimHash twin of
    :func:`incremental_near_dup_pairs` (same CDC rationale: both sides
    flow through one signature pass and one pigeonhole banding, and the
    in-bucket expansion emits only new×old pairs, so daily cost tracks
    the batch, never corpus²). Ids must be disjoint across inputs.

    Returns (new_id, old_id, hamming).
    """
    tagged = corpus.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("__new")
    ).unionByName(
        batch.select(
            F.col(id_col), F.col(text_col), F.lit(True).alias("__new")
        )
    )
    nchunks = max_hamming + 1
    width = 64 // nchunks
    # _simhash_agg omits zero-token docs instead of marking them null,
    # which is exactly the isNotNull-filtered set the banding needs —
    # and __new rides the aggregation (carry), so the corpus-sized
    # (id, flag) join-back of the previous shape is gone.
    sh = _simhash_agg(tagged, text_col, id_col, hash_family, carry=("__new",))
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned(F.col("simhash"), c * width)
            .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
            .alias("ck"),
        )
        for c in range(nchunks)
    ]
    chunks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.col("__new"),
        F.explode(F.array(*chunk_structs)).alias("c"),
    ).select(
        id_col, "simhash", "__new",
        F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck"),
    )
    buckets = (
        chunks.groupBy("chunk", "ck")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col("simhash").alias("h"),
                    F.col("__new").alias("n"),
                )
            ).alias("docs")
        )
        .filter(F.size("docs") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("docs") <= max_bucket_size)
    docs = F.col("docs")
    news = F.filter(docs, lambda d: d["n"])
    olds = F.filter(docs, lambda d: ~d["n"])
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                news,
                lambda x: F.transform(
                    olds,
                    lambda y: F.struct(
                        x["id"].alias("new_id"),
                        y["id"].alias("old_id"),
                        F.bit_count(x["h"].bitwiseXOR(y["h"])).alias(
                            "hamming"
                        ),
                    ),
                ),
            )
        ),
        lambda p: p["hamming"] <= F.lit(max_hamming),
    )
    return (
        buckets.filter((F.size(news) > 0) & (F.size(olds) > 0))
        .select(F.explode(pair_structs).alias("p"))
        .select("p.new_id", "p.old_id", "p.hamming")
        .dropDuplicates(["new_id", "old_id"])
    )

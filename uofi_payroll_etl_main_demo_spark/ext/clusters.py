"""Duplicate clusters: connected components over near-dup pair edges.

Pair generators (ngram/minhash/simhash in ``ext.dedup``) emit EDGES;
a training-data pipeline needs the GROUPS — pick one survivor per
component, drop the rest. Components are computed with iterative
min-label propagation, the standard Spark shape for an iterative graph
algorithm:

- state per iteration is one narrow (id, comp) frame;
- each step is join + groupBy-min — all hash-partitioned, no driver
  data, so it scales to billion-edge graphs;
- ``localCheckpoint`` after every step truncates the lineage (an
  unbounded iterative plan otherwise re-derives all previous steps and
  eventually overwhelms the optimizer);
- each sweep combines NEIGHBOR propagation with POINTER JUMPING
  (label := label[label], the classic shortcutting step): neighbor
  moves cover distance 1, shortcutting doubles resolved-chain length,
  so convergence is O(log diameter) sweeps — a 300-node path resolves
  in ~9 sweeps, not 300. (Same bound class as large-star/small-star,
  Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14, with simpler per-sweep plans.)

Convergence is checked with a count of changed labels per iteration —
one tiny driver scalar per step, not a collect of data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uofi_payroll_etl_main_demo_spark.session import iterative_conf


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    state_partitions: int | None = None,
    driver_threshold: int = 100_000,
    star_max_degree: int = 64,
) -> DataFrame:
    """Undirected connected components of the pair graph.

    Returns (id, component) for every id appearing in ``pairs``, where
    ``component`` is the minimum id reachable from it. Raises if the
    propagation hasn't converged within ``max_iter`` sweeps.

    ADAPTIVE on two axes, the same philosophy as AQE's broadcast
    demotion — all three paths produce bit-identical output (min
    reachable id):

    - SIZE: a near-dup pair graph is usually orders of magnitude
      smaller than its corpus, and below ``driver_threshold`` edges
      the distributed iteration pays nothing but per-sweep scheduling
      floor — driver-side union-find over the bare (src, dst) id
      pairs (KB–MB of longs, never document payloads), returned as one
      broadcast-sized frame.
    - DENSITY (measured at 8×/32×/128× replication, recorded in
      BASELINE.md): star contraction (:func:`connected_components_star`)
      beats label propagation ~1.6–1.8× on SPARSE graphs (avg degree
      ≈7 at 8×, ≈31 at 32×) because its per-round frames are the
      monotonically SHRINKING edge set — but LOSES 1.6× on dense
      replica-clique graphs (avg degree ≈140 at 128×), where the
      per-node ``collect_set`` neighborhoods grow with degree. So
      graphs above ``driver_threshold`` route by average degree
      ``2E/V``: ≤ ``star_max_degree`` (default 64, the measured
      crossover band) → star; above → label propagation +
      pointer-jumping. Both run under ``session.iterative_conf``.

    ``driver_threshold=0`` forces the distributed label-prop path
    (legacy escape hatch); ``star_max_degree=0`` disables the star
    branch.
    """
    if not driver_threshold:
        with iterative_conf(pairs.sparkSession, state_partitions):
            return _cc_label_prop(pairs, src, dst, max_iter)
    # materialize the (often expensive) pair plan ONCE; the size/
    # density probes and whichever path wins all read this cache
    pairs = pairs.select(src, dst).persist()
    try:
        n_edges = pairs.count()
        if n_edges <= driver_threshold:
            return _cc_driver_union_find(pairs, src, dst)
        if star_max_degree:
            n_nodes = (
                pairs.select(F.col(src).alias("id"))
                .unionByName(pairs.select(F.col(dst).alias("id")))
                .distinct()
                .count()
            )
            if n_nodes and (2 * n_edges) / n_nodes <= star_max_degree:
                with iterative_conf(pairs.sparkSession, state_partitions):
                    return _cc_star(pairs, src, dst, max_iter)
        with iterative_conf(pairs.sparkSession, state_partitions):
            return _cc_label_prop(pairs, src, dst, max_iter)
    finally:
        pairs.unpersist()


def _cc_driver_union_find(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Union-find over collected id pairs (small-graph fast path)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    rows = pairs.select(src, dst).collect()
    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root so the final label is the component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(x, find(x)) for x in parent]
    return pairs.sparkSession.createDataFrame(
        out, schema=f"id {'long'}, comp {'long'}"
    )


def _cc_label_prop(
    pairs: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("s").alias("id")).distinct().select(
        "id", F.col("id").alias("comp")
    )
    labels = labels.localCheckpoint(eager=True)
    _sig = lambda df: df.agg(  # noqa: E731 - tiny local helper
        F.sum(F.col("comp").cast("decimal(38,0)"))
    ).first()[0]
    prev_sig = _sig(labels)

    def sweep(labels: DataFrame) -> DataFrame:
        # neighbor propagation as UNION + min-agg (one shuffle join +
        # one agg — the left-join formulation costs a third join):
        # every id keeps its own label via the labels side of the union
        stepped = (
            labels.unionByName(
                edges.join(labels, edges["s"] == labels["id"]).select(
                    F.col("d").alias("id"), F.col("comp")
                )
            )
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jumping: comp := comp[comp] (resolve through the
        # label's own current label) — doubles chain resolution per sweep
        parent = stepped.select(
            F.col("id").alias("p_id"), F.col("comp").alias("p_comp")
        )
        return stepped.join(
            parent, stepped["comp"] == parent["p_id"], "left"
        ).select(
            "id",
            F.least(
                F.col("comp"), F.coalesce("p_comp", F.col("comp"))
            ).alias("comp"),
        )

    # One sweep per materialization: the pointer-jump step self-joins
    # the unmaterialized sweep output, so chaining sweeps lazily
    # re-evaluates each inner sweep once per outer reference —
    # exponential in chain depth (measured SLOWER at depth 2 despite
    # halving the job count). Checkpoint eagerly every sweep.
    for _ in range(max_iter):
        new_labels = sweep(labels).localCheckpoint(eager=True)
        # convergence: labels are monotone non-increasing per id, so the
        # exact label sum is unchanged IFF no label moved — one tiny agg
        # over the just-checkpointed frame, replacing a join-based
        # changed-count. Decimal sum: overflow-proof at any node count
        # under ANSI mode.
        sig = _sig(new_labels)
        converged = sig == prev_sig
        prev_sig = sig
        labels = new_labels
        if converged:
            edges.unpersist()
            return labels
    raise RuntimeError(f"connected_components: no convergence in {max_iter} sweeps")


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    state_partitions: int | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the adversarial-graph-resilient alternative to
    :func:`connected_components`.

    Each round is two groupBy-explode passes over the edge set:

    - LARGE-STAR: per node u over its full neighborhood Γ(u), attach
      every LARGER neighbor to m = min(Γ(u) ∪ {u}).
    - SMALL-STAR: per node u over its SMALLER neighbors (edges first
      oriented max→min), attach them and u to their minimum.

    The edge set monotonically contracts toward a star forest
    (node → component-min); convergence in O(log n) rounds is the
    paper's result, and unlike plain label propagation the per-round
    frames are EDGES, not labels — high-degree hubs shrink the edge
    set each round rather than fanning a hot label out. Convergence is
    detected by an (edge-count, hash-sum) checksum — two driver
    scalars per round, no data collect; ``localCheckpoint`` truncates
    the iterative lineage exactly as in ``connected_components``.

    Returns (id, component): component = min reachable id. Executes
    under ``session.iterative_conf`` like :func:`connected_components`.

    The (often expensive) pair plan is persisted before the star loop:
    ``_cc_star`` materializes TWO frames off it (the node set and the
    edge set), which without the cache re-runs the full pair generator
    twice — at sf1 that alone was ~100 s of the 175 s
    ``ext_dedup_clusters_star`` wall (the adaptive
    :func:`connected_components` router always had this cache; the
    direct star entry was missing it).
    """
    pairs = pairs.select(src, dst).persist()
    try:
        with iterative_conf(pairs.sparkSession, state_partitions):
            return _cc_star(pairs, src, dst, max_iter)
    finally:
        pairs.unpersist()


def _cc_star(pairs: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    # nodes appearing ONLY in self-loop pairs have no proper edge and
    # would vanish when self-loops are dropped below — keep the full
    # node set so the output row set matches union-find/label-prop
    # exactly (each such node labels itself)
    all_nodes = (
        pairs.select(F.col(src).alias("id"))
        .unionByName(pairs.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_iter):
        # LARGE-STAR
        nbrs = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        g = nbrs.groupBy("u").agg(F.collect_set("v").alias("nb"))
        m = F.least(F.array_min("nb"), F.col("u"))
        big = F.filter(F.col("nb"), lambda x: x > F.col("u"))
        edges = (
            g.select(m.alias("m"), F.explode(big).alias("child"))
            .select(F.col("child").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # SMALL-STAR (edges out of large-star already point child→min,
        # i.e. u > v, so the orientation pass is a no-op kept for
        # correctness under arbitrary input)
        oriented = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        g2 = oriented.groupBy("u").agg(F.collect_set("v").alias("nb"))
        m2 = F.array_min("nb")
        members = F.array_append(
            F.filter(F.col("nb"), lambda x: x != F.array_min("nb")),
            F.col("u"),
        )
        edges = (
            g2.select(m2.alias("m"), F.explode(members).alias("child"))
            .select(F.col("child").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # (count, xor-of-hashes): a set checksum — xor (not sum) because
        # ANSI mode makes a 64-bit hash SUM an overflow error, and the
        # edge set is distinct so xor identifies it exactly
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            labeled = edges.select(
                F.col("u").alias("id"), F.col("v").alias("comp")
            )
            # roots AND self-loop-only nodes: everything in the input's
            # node set without a child→min edge labels itself
            selfs = all_nodes.join(
                labeled.select("id"), "id", "left_anti"
            ).select("id", F.col("id").alias("comp"))
            return (
                labeled.unionByName(selfs)
                .distinct()
                # materialize inside the iterative_conf scope (the
                # caller's restored confs would otherwise replan this)
                .localCheckpoint(eager=True)
            )
        prev_sig = sig
    raise RuntimeError(
        f"connected_components_star: no convergence in {max_iter} rounds"
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Drop all but the min-id member of every duplicate cluster.

    Rows never appearing in ``pairs`` are kept untouched (left-anti on
    the non-survivor set — the billions of unique docs never join
    against anything heavy)."""
    comp = connected_components(pairs, src, dst)
    losers = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")

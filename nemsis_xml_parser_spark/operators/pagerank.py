"""Fixed-iteration PageRank over an edge DataFrame — graph centrality as a
quality prior (web-corpus curation ranks domains/documents by link
centrality; within near-dup clusters it elects the most *central* survivor
instead of the arbitrary min-id).

Companion to operators/components.py: components give the partition of the
near-dup graph, PageRank gives an ordering inside it.  A FIXED iteration
count (power iteration unrolled) rather than convergence detection keeps
the computation deterministic and closed-form — each iteration is one
equi-join + one aggregate, so the oracle can replay it as chained CTEs.

Scale shape (100 TB): per iteration the only shuffle is the
contribution aggregate keyed on dst; the rank vector is (node, pr) — tiny
next to the edge list — and the edge list itself is scanned once per
iteration from a localCheckpoint, not recomputed through upstream lineage
(the components.py lesson).  Degree is computed once.  Driver-side work is
one scalar count (node total), the same footprint as the CC convergence
probe.

Determinism contract (oracle-matchable): per-edge contributions are
rounded and cast to DECIMAL before the SUM (order-independent), and each
iteration's rank is rounded to 12 decimals — identical expressions on
both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from .lineage import cut_lineage

# Edge count below which the whole fixed-iteration power method runs as
# ONE single-task Arrow batch (the Lattanzi filtering endgame shared
# with components.union_find_local / mst.kruskal_local): the dedup
# election graphs are candidate-pair-sized, and the distributed loop's
# wall is iters x (join + aggregate + lineage-cut job) of pure local-
# mode job latency.  The replay is operation-identical (see
# _pagerank_local_rows), so labels/ranks are bit-for-bit the
# distributed values; at scale the guard fails and the shuffle path is
# untouched.
PR_LOCAL_FINISH_MAX = 2_000_000


import decimal as _dec

_Q12 = _dec.Decimal("1e-12")


def _q12_int(x: float) -> int:
    """Spark ``round(x, 12) cast decimal(20,12)`` as a scaled integer.

    Spark Round(double) = BigDecimal.valueOf(shortest repr), setScale
    (12, HALF_UP); Python ``repr`` is the same shortest round-trip
    decimal, so quantizing it replays the engine bit-for-bit (the
    similarity.mmr_rerank convention, here at 12 dp).  The subsequent
    decimal(20,12) cast is exact because every |x| < 4.5 has
    ulp << 1e-12, making the 12-dp decimal unique for the double.
    """
    return int(
        _dec.Decimal(repr(float(x)))
        .quantize(_Q12, rounding=_dec.ROUND_HALF_UP)
        .scaleb(12)
    )


def _pagerank_local_rows(
    src, dst, iters: int, damping: float, seed_flags=None
):
    """Exact single-batch replay of the distributed power iteration.

    ``src``/``dst``: int64 numpy arrays (one row per directed edge).
    ``seed_flags``: None for plain PageRank; for personalized PageRank,
    a set of seed node ids (teleport + dangling mass go to seeds).
    Returns (nodes, deg, is_seed or None, pr) numpy arrays.

    Operation-identical to the DataFrame loop: contributions are
    round-12(pr/deg) cast decimal(20,12) — scaled int64 here — summed
    exactly (partial sums < 2^53 because total rank mass is ~1), the
    decimal->double cast is a correctly-rounded division by 1e12, the
    dangling term and the final per-node round-12 replicate the
    expression's IEEE op order term for term.
    """
    import numpy as np

    nodes = np.unique(np.concatenate([src, dst]))
    n = int(nodes.shape[0])
    si = np.searchsorted(nodes, src)
    di = np.searchsorted(nodes, dst)
    deg = np.bincount(si, minlength=n).astype(np.int64)
    sinks = np.nonzero(deg == 0)[0]
    out_deg_idx = np.nonzero(deg > 0)[0]
    if seed_flags is None:
        is_seed = None
        base = (1.0 - damping) / n
        pr = np.full(n, 1.0 / n, dtype=np.float64)
    else:
        is_seed = np.isin(nodes, np.fromiter(seed_flags, np.int64, len(seed_flags)))
        ns = int(is_seed.sum())
        if not ns:
            raise ValueError("no seed intersects the graph's node set")
        # seed_mass = is_seed / double(n_seeds); pr0 = round12(seed_mass)
        sm = np.where(is_seed, 1.0 / float(ns), 0.0)
        sm_r12 = float(_q12_int(1.0 / float(ns))) / 1e12
        pr = np.where(is_seed, sm_r12, 0.0)
    nf = float(n)
    for _ in range(iters):
        c_int = np.zeros(n, dtype=np.int64)
        for i in out_deg_idx:
            c_int[i] = _q12_int(pr[i] / float(deg[i]))
        s_int = np.zeros(n, dtype=np.int64)
        np.add.at(s_int, di, c_int[si])
        dm_int = 0
        for i in sinks:
            dm_int += _q12_int(pr[i])
        dm = float(dm_int) / 1e12
        s = s_int.astype(np.float64) / 1e12
        if seed_flags is None:
            raw = base + damping * (s + dm / nf)
        else:
            raw = (1.0 - damping) * sm + damping * (s + dm * sm)
        pr = np.fromiter(
            (float(_q12_int(x)) / 1e12 for x in raw), np.float64, n
        )
    return nodes, deg, is_seed, pr


def _pagerank_local(e: DataFrame, iters: int, damping: float) -> DataFrame:
    """Single-task twin of the distributed loop for an edge set under
    ``PR_LOCAL_FINISH_MAX`` — one Arrow batch in, (node, degree, pr)
    out, values bit-identical (tests/test_pagerank_local.py parity)."""
    import pandas as pd

    def finish(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        src = pdf["src"].to_numpy(dtype=np.int64)
        dst = pdf["dst"].to_numpy(dtype=np.int64)
        nodes, deg, _, pr = _pagerank_local_rows(src, dst, iters, damping)
        return pd.DataFrame(
            {"node": nodes, "degree": deg, "pr": pr}
        ).astype({"node": "int64", "degree": "int64"})

    return (
        e.select("src", "dst")
        .groupBy(F.lit(1).alias("__g"))
        .applyInPandas(lambda pdf: finish(pdf), "node long, degree long, pr double")
        .select("node", F.col("degree").alias("degree"), "pr")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    local_finish_max: int = PR_LOCAL_FINISH_MAX,
) -> DataFrame:
    """-> DataFrame(node, degree, pagerank) for every node in ``edges``.

    ``edges`` is directed.  The node set is src ∪ dst, so sink nodes
    (appearing only as dst) hold rank; their out-mass is dangling mass,
    redistributed uniformly each iteration (standard PageRank treatment).
    For an undirected graph pass both directions — then every node has
    out-degree ≥ 1, the dangling term is identically zero, and the
    computation reduces to the simple form.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # bound lineage once: every iteration re-scans the edge list; the
    # edge count rides the pin via observe (no dedicated count job) and
    # gates the single-task endgame
    obs_e = Observation()
    e = e.observe(obs_e, F.count(F.lit(1)).alias("m")).transform(cut_lineage)
    if (obs_e.get["m"] or 0) <= local_finish_max:
        return _pagerank_local(e, iters=iters, damping=damping)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # fold the out-degree onto the edge list ONCE — the former loop
    # re-joined deg every iteration (guide §2.1: remove the repeated
    # shuffle outright; one extra edge-sized materialization up front
    # buys iters× fewer joins)
    ed = e.join(deg, "src").select("src", "dst", "deg").transform(cut_lineage)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # the rank state carries is_sink so the per-iteration dangling mass
    # is a NARROW aggregate over the state itself — the former loop paid
    # an anti-join against deg every iteration.  The node count rides
    # the state's materialization via observe (no dedicated count job).
    obs0 = Observation()
    state = (
        nodes.join(deg, nodes["node"] == deg["src"], "left")
        .select("node", F.col("deg").isNull().alias("is_sink"))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .transform(cut_lineage)
    )
    n_nodes = obs0.get["n"]
    base = (1.0 - damping) / n_nodes

    pr = state.withColumn("pr", F.lit(1.0 / n_nodes))
    for _ in range(iters):
        contrib = ed.join(pr, ed["src"] == pr["node"]).select(
            "dst",
            F.round(F.col("pr") / F.col("deg"), 12)
            .cast("decimal(20,12)")
            .alias("c"),
        )
        # dangling mass: rank held by sink nodes (no out-edges); a 1-row
        # aggregate broadcast back in — no driver collect per iteration
        dangling = pr.where(F.col("is_sink")).agg(
            F.coalesce(F.sum(F.col("pr").cast("decimal(20,12)")), F.lit(0))
            .cast("double")
            .alias("dm")
        )
        pr = (
            pr.select("node", "is_sink")
            .join(
                contrib.groupBy("dst").agg(F.sum("c").alias("s")),
                pr["node"] == contrib["dst"],
                "left",
            )
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "is_sink",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                        + F.col("dm") / F.lit(float(n_nodes))
                    ),
                    12,
                ).alias("pr"),
            )
            .transform(cut_lineage)
        )
    return pr.join(deg, pr["node"] == deg["src"], "left").select(
        "node",
        F.coalesce(F.col("deg"), F.lit(0)).alias("degree"),
        "pr",
    )


def _ppr_local(tagged: DataFrame, iters: int, damping: float) -> DataFrame:
    """Single-task twin of the distributed PPR loop: ``tagged`` carries
    edges (_k = 0) and seed ids (_k = 1, src column) in one pinned
    frame so ONE Arrow batch sees both inputs.  Values bit-identical to
    the distributed loop (same replay as ``_pagerank_local``, with
    teleport/dangling mass routed to the seed set)."""
    import pandas as pd

    def finish(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        em = pdf["_k"].to_numpy() == 0
        src = pdf["src"].to_numpy(dtype=np.int64)[em]
        dst = pdf["dst"].to_numpy(dtype=np.int64)[em]
        seed_ids = set(int(x) for x in pdf["src"].to_numpy()[~em])
        # seeds outside the graph's node set are dropped by the
        # distributed join too; ValueError parity when none intersect
        nodes, deg, is_seed, pr = _pagerank_local_rows(
            src, dst, iters, damping,
            seed_flags={s for s in seed_ids},
        )
        return pd.DataFrame(
            {
                "node": nodes,
                "degree": deg,
                "is_seed": is_seed.astype("int32"),
                "pr": pr,
            }
        ).astype({"node": "int64", "degree": "int64"})

    return (
        tagged.select("src", "dst", "_k")
        .groupBy(F.lit(1).alias("__g"))
        .applyInPandas(
            lambda pdf: finish(pdf),
            "node long, degree long, is_seed int, pr double",
        )
        .select("node", "degree", "is_seed", "pr")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    local_finish_max: int = PR_LOCAL_FINISH_MAX,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling mass) goes to the
    SEED set uniformly instead of all nodes — rank measures proximity
    to the seeds (topic-sensitive ranking / related-item discovery).

    -> DataFrame(node, degree, is_seed, ppr).  Same determinism
    contract as ``pagerank``: decimal-staged contribution sums,
    per-iteration 12-dp rounding, so an unrolled SQL oracle replays it
    exactly.  Scale shape identical: one dst-keyed aggregate per
    iteration, seed flags ride the (node)-sized rank vector.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # a NULL id is no seed (a NULL src would reach the local path's
    # int64 cast as NaN)
    sd0 = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
    )
    # one pinned tag-union carries edges (_k=0) AND seed ids (_k=1) so
    # the single-task endgame sees both inputs in one Arrow batch; the
    # edge count rides the pin via observe.  A seed row's dst is its own
    # id, never NULL: a nullable long column reaches pandas as float64,
    # which rounds ids above 2^53 (every reader filters _k == 0 first)
    obs_e = Observation()
    tagged = (
        e.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.lit(0).alias("_k"),
        )
        .unionByName(
            sd0.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(1).alias("_k"),
            )
        )
        .observe(
            obs_e,
            F.sum((F.col("_k") == 0).cast("long")).alias("m"),
        )
        .transform(cut_lineage)
    )
    if (obs_e.get["m"] or 0) <= local_finish_max:
        # ValueError parity with the distributed path (which raises at
        # build time off its state pin): one leaf-scan existence probe
        # over the already-pinned frame
        nodes_local = (
            tagged.where(F.col("_k") == 0)
            .select(F.explode(F.array("src", "dst")).alias("node"))
            .distinct()
        )
        hit = (
            tagged.where(F.col("_k") == 1)
            .select(F.col("src").alias("node"))
            .join(nodes_local, "node")
            .limit(1)
            .count()
        )
        if not hit:
            raise ValueError("no seed intersects the graph's node set")
        return _ppr_local(tagged, iters=iters, damping=damping)
    e = tagged.where(F.col("_k") == 0).select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # same shuffle removals as ``pagerank``: degree folded onto the edge
    # list once, is_sink folded into the state, scalars via observe
    ed = e.join(deg, "src").select("src", "dst", "deg").transform(cut_lineage)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    sd = seeds.select(F.col(seed_col).alias("node")).distinct()
    obs0 = Observation()
    nodes_s = (
        nodes.join(sd.withColumn("_s", F.lit(1)), "node", "left")
        .join(deg, nodes["node"] == deg["src"], "left")
        .select(
            "node",
            F.coalesce(F.col("_s"), F.lit(0)).alias("is_seed"),
            F.col("deg").isNull().alias("is_sink"),
        )
        .observe(obs0, F.sum("is_seed").alias("ns"))
        .transform(cut_lineage)
    )
    n_seeds = obs0.get["ns"]  # rides the checkpoint job, no driver collect
    if not n_seeds:
        raise ValueError("no seed intersects the graph's node set")

    seed_mass = F.col("is_seed").cast("double") / F.lit(float(n_seeds))
    pr = nodes_s.withColumn("pr", F.round(seed_mass, 12))
    for _ in range(iters):
        contrib = ed.join(pr, ed["src"] == pr["node"]).select(
            "dst",
            F.round(F.col("pr") / F.col("deg"), 12)
            .cast("decimal(20,12)")
            .alias("c"),
        )
        dangling = pr.where(F.col("is_sink")).agg(
            F.coalesce(F.sum(F.col("pr").cast("decimal(20,12)")), F.lit(0))
            .cast("double")
            .alias("dm")
        )
        pr = (
            pr.select("node", "is_seed", "is_sink")
            .join(
                contrib.groupBy("dst").agg(F.sum("c").alias("s")),
                pr["node"] == contrib["dst"],
                "left",
            )
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "is_seed",
                "is_sink",
                F.round(
                    F.lit(1.0 - damping) * seed_mass
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                        + F.col("dm") * seed_mass
                    ),
                    12,
                ).alias("pr"),
            )
            .transform(cut_lineage)
        )
    return pr.join(deg, pr["node"] == deg["src"], "left").select(
        "node",
        F.coalesce(F.col("deg"), F.lit(0)).alias("degree"),
        "is_seed",
        "pr",
    )

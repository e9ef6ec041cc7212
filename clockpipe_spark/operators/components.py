"""Connected components over a near-duplicate pair graph: the final
step of a large-scale dedup pipeline (pairs -> clusters -> one
canonical doc per cluster).

100 TB design: min-label propagation. Each round is two shuffle joins
(edges ⋈ labels, labels ⋈ neighbor-min) and converges in O(component
diameter) rounds. Near-dup components are star-like — many near-copies
of one source doc — so the diameter is tiny (~2) and the loop runs a
handful of rounds regardless of corpus size; the driver loop only
counts rounds, never rows. The edge set and each round's labels are
localCheckpoint-ed so lineage stays flat across iterations. For
adversarial long-chain graphs the upgrade is alternating large-star/
small-star contraction (Kiveris et al., "Connected Components in
MapReduce and Beyond"), which bounds rounds at O(log n) — same join
shapes, so it slots in here without touching callers.

The reference has no graph operator (near-dup is outside its scope,
SURVEY.md §2.10); this completes the repo's dedup family:
exact (dedup_exact) -> candidate pairs (minhash/simhash/jaccard) ->
clusters + canonical choice (here).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class ComponentsDidNotConverge(RuntimeError):
    """Raised when the iteration budget is exhausted with labels still
    moving: returning silently would split true components and corrupt
    the downstream dedup decision with no signal."""


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(id, lbl) with lbl = the smallest vertex id in the component.
    Vertices absent from every edge keep their own id (singleton
    clusters). Deterministic: labels only ever decrease to the min."""
    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = (
        sym.union(sym.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    labels = (
        vertices.select(F.col(id_col).alias("id"), F.col(id_col).alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels.withColumnRenamed("id", "d"), "d")
            .groupBy("s")
            .agg(F.min("lbl").alias("nbr_lbl"))
            .withColumnRenamed("s", "id")
        )
        # the changed-label count rides the checkpoint's materialization
        # as an Observation (r20): the round's plan has both the old and
        # the new label in hand, so counting lbl-decreases there removes
        # the separate labels-rejoin + count() job each round ran before
        # (same quantity: new lbl only ever decreases below old).
        obs = Observation()
        new_labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.col("lbl").alias("__old_lbl"),
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum((F.col("lbl") < F.col("__old_lbl")).cast("long")),
                    F.lit(0),
                ).alias("c"),
            )
            .select("id", "lbl")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["c"]
        labels = new_labels
        if changed == 0:
            break
    else:
        raise ComponentsDidNotConverge(
            f"min-label propagation still moving after {max_iter} rounds "
            f"({changed} labels changed last round); the pair graph has a "
            f"long chain — raise max_iter or use connected_components_star"
        )
    return labels


def _symmetrize(e: DataFrame) -> DataFrame:
    # no distinct: duplicate edges are harmless to the window-min that
    # consumes this — the round's single distinct runs at the end of
    # _small_star. Single-reference explode (r21) instead of the
    # 2-branch self-union: the input subtree appears ONCE in the plan,
    # which is load-bearing now that two contraction rounds share one
    # materialization (the inner round is not checkpointed, and
    # exchange reuse does not reliably dedup repeated references —
    # measured 0 ReusedExchange on this repo's identical-subtree plans).
    return e.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("uv")
    ).select("uv.u", "uv.v")


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor to
    min(N(u) ∪ {u}). Operates on the symmetric neighborhood. Output may
    carry duplicate edges; the round's closing distinct handles them.

    The per-group min rides a WINDOW over the one edge shuffle (r20,
    guide §2.4 — remove shuffles outright) instead of the old
    groupBy-min + join-back: at bench scale that join was an AQE
    broadcast build (a driver round trip per star, ~half the round's
    wall — A/B: 1.30 s -> 0.70 s per round, set-equal output), and at
    cluster scale, where the min table outgrows broadcast, it was a
    SECOND full shuffle of the edge set. Same skew profile as the
    groupBy (hot node = big partition either way)."""
    sym = _symmetrize(e)
    mw = sym.select(
        "u",
        "v",
        F.least(F.min("v").over(Window.partitionBy("u")), F.col("u")).alias(
            "m"
        ),
    )
    return (
        mw.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient each edge large→small, then for each node u connect all its
    (≤ u) neighbors — and u itself — to the minimum of them. The closing
    distinct here is the round's only dedup exchange.

    Window-min like _large_star (r20). The one-row-per-group (u, m)
    branch selects the rows where v hits the group min — possibly
    several when duplicate (u, m) edges exist, where the old
    groupBy-min emitted one — but both branches feed the round's
    closing distinct, so the round's OUTPUT SET is identical (proven
    set-equal on the live pair graph before the swap).

    Single-reference emit (r21): per window row, explode a conditional
    array — always (v, m), plus (u, m) when v hits the group min —
    instead of the old 2-branch union over the window output, so the
    window (and everything below it) appears once in the plan. Set-
    identical: a v==m row's (v, m) element is (m, m), removed by the
    closing u!=v filter exactly as the old branch-1 copy was."""
    oriented = e.select(
        F.greatest("u", "v").alias("gu"), F.least("u", "v").alias("gv")
    ).select(F.col("gu").alias("u"), F.col("gv").alias("v"))
    mw = oriented.select(
        "u", "v", F.min("v").over(Window.partitionBy("u")).alias("m")
    )
    pair_vm = F.struct(F.col("v").alias("u"), F.col("m").alias("v"))
    pair_um = F.struct(F.col("u").alias("u"), F.col("m").alias("v"))
    out = mw.select(
        F.explode(
            F.when(F.col("v") == F.col("m"), F.array(pair_vm, pair_um))
            .otherwise(F.array(pair_vm))
        ).alias("uv")
    ).select("uv.u", "uv.v")
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    edges_distinct: bool = False,
) -> DataFrame:
    """Same contract as connected_components — (id, lbl), lbl = component
    min — via alternating large-star / small-star contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", MapReduce'14).

    Converges in O(log n) rounds on ANY graph shape (vs O(diameter) for
    min-label propagation), so adversarial long chains cost ~log rounds
    instead of n. Same primitive per round — groupBy-min + equi-join — so
    the 100 TB shuffle story is unchanged; only the round count shrinks.
    Fixed point: every edge points directly at its component's min node.

    ``edges_distinct=True`` skips the initial edge dedup — a FULL
    shuffle of the pair set — when the caller's pair miner already
    guarantees unique (src, dst) rows (e.g. minhash_lsh_pairs'
    dropDuplicates, or edges distinct by construction). Duplicate edges
    would not corrupt the result (the per-round groupBy-min absorbs
    them); the flag only moves redundant bytes off the wire, so it is
    safe even if a caller's guarantee is approximate.
    """
    from pyspark.sql import Observation

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    if not edges_distinct:
        e = e.distinct()
    e = e.localCheckpoint(eager=True)

    def _sig_cols():
        # bit_xor: order-insensitive set signature that can't overflow
        # under ANSI mode (sum of int64 hashes can)
        return (
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        )

    def _sig_of(obs):
        try:
            row = obs.get
        except Py4JJavaError:
            # AQE's empty-relation propagation prunes CollectMetrics
            # when the round's edge set is empty, so the metric never
            # arrives (the JVM-side toPyRow raises) — and the empty
            # set's signature is known without a job
            return (0, 0)
        return (row["n"], row["h"])

    prev_sig = None
    for _ in range(max_iter):
        # TWO contraction rounds per materialization (r21, guide §1.2 —
        # halve the per-round fixed costs: one checkpoint job, one
        # driver wall, one intermediate-edge-set write per two rounds
        # instead of per round). Fixed-point detection stays exactly
        # per-round: each round's (count, bit_xor) signature rides the
        # SAME checkpoint job as its own Observation (CollectMetrics is
        # a mid-plan node; both metrics arrive from the one
        # materialization, r20's one-job-per-round trick applied twice
        # in one plan). sig1==prev_sig or sig2==sig1 ⇒ that round's
        # input set equals its output set ⇒ it is AT the fixed point,
        # and contraction rounds are idempotent on a fixed point (every
        # edge already points at its component min; large-star and
        # small-star both re-emit exactly those edges), so `e` holds the
        # fixed point whichever comparison fired. Same per-round edge
        # sets and shuffles as before — only the materialization
        # boundary moved.
        obs1, obs2 = Observation(), Observation()
        mid = _small_star(_large_star(e)).observe(obs1, *_sig_cols())
        e = (
            _small_star(_large_star(mid))
            .observe(obs2, *_sig_cols())
            .localCheckpoint(eager=True)
        )
        sig1 = _sig_of(obs1)
        sig2 = _sig_of(obs2)
        if sig1 == prev_sig or sig2 == sig1:
            break
        prev_sig = sig2
    else:
        raise ComponentsDidNotConverge(
            f"star contraction not at fixed point after {2 * max_iter} rounds"
        )
    # at the fixed point every node that appears in an edge points at its
    # component min; vertices untouched by any edge are singletons
    lbls = e.select(F.col("u").alias("id"), F.col("v").alias("lbl"))
    return (
        vertices.select(F.col(id_col).alias("id"))
        .join(lbls, "id", "left")
        .select("id", F.coalesce("lbl", "id").alias("lbl"))
    )

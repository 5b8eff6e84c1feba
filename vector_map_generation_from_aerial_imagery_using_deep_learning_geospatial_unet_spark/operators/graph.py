"""Generic distributed connected components + dedup-keep-one.

The engine's near-dup detector, pHash Hamming (operators/imagehash.py),
emits PAIRS, but a dedup pipeline needs GROUPS: transitive
closures of the pair relation, one canonical survivor each.  This
module closes that gap with a pure-DataFrame connected-components
operator (edge list in, (id, component) out) and the keep-one filter
built on it.

Algorithm: min-label propagation with pointer jumping.  Each round
every vertex takes the min component label over itself and its
neighbours (one equi-join + map-side-combinable min agg), then jumps to
its label's label (a second equi-join — labels are themselves vertex
ids, so the lookup table is the state itself).  Propagation alone needs
diameter rounds; the jump compresses chains geometrically, giving
O(log d) rounds — the classic hash-to-min construction (Rastogi et al.,
ICDE'13).  Near-dup clusters are shallow (dozens of members, diameter a
few hops), so 2-4 rounds is typical at any corpus size.

Scale: state is exactly one row per vertex, edges shuffle on their
endpoint each round, everything equi-joins — no collect, no driver
graph.  Convergence is checked with a ``left_anti`` on the full
(id, comp) pair, the same first-appearance-safe test as
operators/cc_global.py:205.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint``'s block-manager storage.

    ``DataFrame.unpersist()`` only uncaches CacheManager entries, not
    the checkpointed RDD a LogicalRDD leaf holds — so a loop that
    checkpoints per round would otherwise accumulate superseded blocks
    for the life of the session.  Reaching the RDD through the analyzed
    plan is internal API; failure is harmless (blocks are reclaimed by
    the ContextCleaner on GC eventually), so this is best-effort."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    max_rounds: int = 30,
) -> DataFrame:
    """(id, component) for every vertex; ``component`` is the minimum
    vertex id reachable through the undirected edge relation.

    ``edges``: one row per pair (direction irrelevant; duplicates fine —
    they are distinct'd after symmetrization).  ``vertices``: optional
    one-column (``id_col``) vertex universe; ids that appear in no edge
    then come back as their own singleton components.  Without it the
    vertex set is derived from the edges.

    Raises after ``max_rounds`` instead of silently truncating — with
    pointer jumping that bound is log2(longest chain), so 30 covers any
    realistic dup graph; a hit means the pair generator produced a
    pathological chain and the caller should look at it."""
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    sym = (
        e.unionByName(e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
        .persist()
    )
    if vertices is not None:
        verts = vertices.select(F.col(id_col).alias("_id")).distinct()
    else:
        verts = (
            sym.select(F.col("_s").alias("_id"))
            .unionByName(sym.select(F.col("_d").alias("_id")))
            .distinct()
        )

    # Eager localCheckpoint each round: an iterative plan that self-joins
    # its own previous output DOUBLES its logical plan per round — by
    # round ~15 plan analysis alone OOMs the driver.  Checkpointing
    # truncates lineage so every round's plan is constant-size (the same
    # device GraphFrames uses for its CC loop); a production job with a
    # checkpoint dir configured can use reliable checkpoints instead.
    # Superseded checkpoints are freed as soon as the next round's
    # checkpoint materializes, so block-manager storage stays O(1) in
    # rounds instead of accumulating for the life of the session.
    comp = verts.withColumn("_c", F.col("_id")).localCheckpoint()
    for _ in range(max_rounds):
        neigh = sym.join(
            comp, sym["_s"] == comp["_id"]
        ).select(F.col("_d").alias("_id"), "_c")
        new = (
            comp.unionByName(neigh)
            .groupBy("_id")
            .agg(F.min("_c").alias("_c"))
            .localCheckpoint()
        )
        # pointer jump: labels are vertex ids, so the label table IS the
        # state — every row finds its label's (possibly smaller) label
        jumped = (
            new.alias("x")
            .join(
                new.select(
                    F.col("_id").alias("_c"), F.col("_c").alias("_c2")
                ).alias("y"),
                "_c",
            )
            .select("_id", F.col("_c2").alias("_c"))
            .localCheckpoint()
        )
        changed = (
            jumped.join(comp, ["_id", "_c"], "left_anti").limit(1).count()
        )
        # jumped is materialized (eager checkpoint) and the convergence
        # count above consumed comp — both inputs are now superseded
        _unpersist_checkpoint(new)
        _unpersist_checkpoint(comp)
        comp = jumped
        if changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components: no convergence in {max_rounds} rounds"
        )
    out = comp.select(
        F.col("_id").alias(id_col), F.col("_c").alias("component")
    )
    # materialize happened via the convergence count; release the edge cache
    sym.unpersist()
    return out


def dedup_keep_one(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "image_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Drop all but the minimum-id member of every near-dup group:
    ``df`` rows whose id is its own component survive, byte-identical
    (an equi-join + filter — no row ever rewrites).  ``pairs`` is any
    near-dup pair table over ``df``'s ids."""
    comps = connected_components(
        pairs, src=src, dst=dst, vertices=df.select(id_col), id_col=id_col
    )
    return (
        df.join(comps, id_col)
        .filter(F.col(id_col) == F.col("component"))
        .drop("component")
    )

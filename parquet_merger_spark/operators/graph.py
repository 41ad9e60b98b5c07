"""Iterative graph algorithms on DataFrames: PageRank by power iteration.

Iterative algorithms are the one class the reference (and plain SQL)
can't express in a single query — each iteration is a join + aggregate,
and the DRIVER loops while every pass stays fully distributed.  This is
the canonical Spark shape for them: the loop is Python control flow over
lazy plans, the data never visits the driver.

Determinism contract (what makes this oracle-able where textbook
PageRank is not): ranks are EXACT INTEGERS in micro-units (1e6 = rank
1.0) and every update is integer arithmetic —

    r'(v) = (1-d)*SCALE + d * sum_u r(u) div outdeg(u)

with ``d`` as the exact ratio 85/100 applied as ``(85 * s) div 100``.
Integer sums are associative, so the result is bit-identical under ANY
partitioning, any engine, any aggregation order — unlike floating-point
PageRank, whose sum order perturbs last ulps and can never hash-match.
The div-floor leaks ≤ outdeg micro-units per node per iteration
(bounded, documented truncation — the price of exactness).

Scale shape per iteration: one shuffle for the contribution aggregate
(keyed on dst) + one key join against the static degree table (AQE
broadcasts it when small; co-partitioned otherwise since both sides key
on the vertex).  State between iterations is one (vertex, rank) frame —
O(V), never O(E).  For many iterations at 100 TB, checkpoint the rank
frame every few rounds to truncate the growing lineage (documented;
3 iterations here keeps plans shallow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_merger_spark.barrier import materialize, materialize_lazy

SCALE = 1_000_000

# triangle_count's adjacency and degree joins broadcast while the
# oriented edge set has at most this many rows; above it (the sharded
# 100 TB regime) they become shuffle equi-joins on the vertex key
BROADCAST_EDGE_LIMIT = 5_000_000


def pagerank_int(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
    assume_symmetric: bool = False,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list; returns
    ``(vertex, rank_micro)`` after ``iterations`` power steps.

    Vertices = src ∪ dst.  Dangling nodes (no out-edges) contribute
    nothing (their mass evaporates — the simple variant; redistributing
    it adds one scalar aggregate per pass).  ``damping_pct`` is an
    integer percentage so the damping multiply stays exact.  Pass
    ``assume_distinct=True`` when the caller already dedups edges — it
    elides a full shuffle of E.  Pass ``assume_symmetric=True`` when
    every vertex appears as a src (undirected graphs stored as both
    directions): the vertex set then falls out of the degree table for
    free instead of a distinct over 2|E| rows.

    The O(V) rank/contribution frames are broadcast to every executor
    each pass, so the cached O(E) side NEVER re-shuffles — per
    iteration: one map-side join over cached E, one contribution
    aggregate (the only E-volume shuffle), one broadcast join back onto
    the vertex set.  The degree table is O(V) and rides the same
    broadcast fast path.

    The loop invariants (degree-annotated edges, vertex set) are
    persisted AND EAGERLY materialized (one count() each) before the
    loop.  Lazy persists were measured 2x slower end-to-end: the final
    action's concurrent broadcast stages all see a cold cache and RACE
    to recompute the degree shuffle over E (9.6s -> 5.3s at sf0.1 from
    the eager counts alone; the same pathology as dup_clusters' edge
    checkpoint).
    """
    src, dst = F.col(src_col), F.col(dst_col)
    e = edges.select(src.alias("src"), dst.alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    if iterations <= 0:
        # vertex set only — before the degree table and its eager
        # materialization jobs, which this path never needs
        if assume_symmetric:
            verts = e.select(F.col("src").alias("vertex")).distinct()
        else:
            verts = (
                e.select(F.col("src").alias("vertex"))
                .union(e.select(F.col("dst").alias("vertex")))
                .distinct()
            )
        return verts.withColumn("rank_micro", F.lit(SCALE).cast("long"))
    # Degrees via groupBy + broadcast join back onto E: the groupBy
    # shuffles E down to O(V) partials map-side, and the join is
    # map-side against the broadcast degree table — cheaper than the
    # earlier count-window (hash shuffle + SORT of all of E by src;
    # measured 5.3s -> 4.0s at sf0.1).
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    e_deg = e.join(F.broadcast(deg), "src").persist()
    e_deg.count()
    if assume_symmetric:
        vertices = deg.select(F.col("src").alias("vertex")).persist()
    else:
        vertices = (
            e_deg.select(F.col("src").alias("vertex"))
            .union(e_deg.select(F.col("dst").alias("vertex")))
            .distinct()
            .persist()
        )
    vertices.count()
    base = (100 - damping_pct) * SCALE // 100

    # uniform SCALE init; ranks stays None while the loop can still fold
    # the constant into a projection (first pass)
    ranks = None
    for it in range(iterations):
        # one E-volume shuffle per iteration (the contribution aggregate
        # on dst); the rank sides are O(V) and broadcast (see
        # docstring), so cached E stays put
        if ranks is None:
            # first pass: every rank is the constant SCALE, so the rank
            # join folds to a projection over cached E — one broadcast
            # and one join fewer
            scored = e_deg.select(
                F.col("dst").alias("vertex"),
                F.expr(f"{SCALE}L div outdeg").alias("c"),
            )
        else:
            scored = e_deg.join(
                F.broadcast(ranks), e_deg.src == ranks.vertex
            ).select(
                F.col("dst").alias("vertex"),
                F.expr("rank_micro div outdeg").alias("c"),
            )
        contrib = scored.groupBy("vertex").agg(F.sum("c").alias("s"))
        ranks = (
            vertices.join(F.broadcast(contrib), "vertex", "left")
            .select(
                "vertex",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(s, 0L)) div 100"
                    )
                ).cast("long").alias("rank_micro"),
            )
        )
        # Truncate lineage EVERY SECOND pass, never after the last: the
        # r02 final plan unrolled all iterations (43 exchanges of
        # repeated setup — executed jobs reused the cache, but the plan
        # text defeated audits and re-optimized a tree that grows with
        # the iteration count).  Per-pass truncation over-corrected: each
        # checkpoint is a materialization barrier (a job), and a 2-pass
        # lineage is still a shallow, auditable plan — so the cadence
        # halves the barrier count, and the final pass returns without
        # one (its depth is at most 2 passes).  Checkpointing the O(V)
        # rank frame is cheap (~21k rows at sf0.1); under AQE the lazy
        # checkpoint materializes when the loop builds the next pass,
        # pulling the persisted invariants into cache on the first
        # iteration.
        if it % 2 == 1 and it != iterations - 1:
            ranks = ranks.transform(materialize_lazy)
    # Materialize the final O(V) rank frame, then RELEASE the loop
    # invariants: without this, deg/e_deg/vertices stay pinned in the
    # CacheManager across calls (every later plan analysis walks them —
    # the +85% tax documented in SURVEY §9.10), and only a caller-side
    # clearCache() would mitigate it.  The checkpoint makes the returned
    # frame self-contained, so the unpersists cannot force a recompute.
    ranks = ranks.transform(materialize)
    for inv in (deg, e_deg, vertices):
        inv.unpersist()
    return ranks


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Exact global triangle count over an undirected edge list, by
    DEGREE-ORDERED ORIENTATION (the classic wedge-check algorithm:
    Schank & Wagner 2005 forward/compact-forward; the MapReduce variant
    is Suri & Vassilvitskii 2011).  Returns ONE row:
    ``(n_vertices, n_edges, n_oriented_wedges, n_triangles)`` — all
    exact BIGINTs, so the result hash-matches any engine computing the
    same statistics.  NOTE: the wedge column counts wedges OVER THE
    DEGREE-ORDERED ORIENTATION (sum over nodes of C(outdeg, 2) — the
    algorithm's actual work bound), NOT the conventional undirected
    2-path census sum C(deg, 2): a 4-cycle has 1 oriented wedge but 4
    undirected ones.  The name says so to keep it from being compared
    against standard graph stats.

    Why orientation is THE 100 TB move: counting wedges (2-paths) around
    high-degree hubs is O(sum deg^2) — a celebrity node with 10M
    neighbors yields 5*10^13 wedges.  Orienting every edge from its
    lower-(degree, id) endpoint to the higher one makes each triangle
    countable exactly once (it has a unique lowest-rank apex) AND bounds
    every node's ORIENTED out-degree by O(sqrt(E)), so total work is
    O(E^1.5) worst-case instead of O(sum deg^2).  Counting is
    EDGE-ITERATOR style: per oriented edge (s, t), triangles closing
    through it are |N+(s) ∩ N+(t)| — one row-local array_intersect over
    out-neighbor arrays joined on the vertex key; the wedge count is
    pure arithmetic (sum C(outdeg, 2)).  No cartesian anywhere, and the
    O(E^1.5) wedge stream is never materialized as rows.

    Ties in degree break by node id, so the orientation — and every
    intermediate — is fully deterministic.

    When the ORIENTED edge set fits under ``BROADCAST_EDGE_LIMIT``
    rows, the adjacency-array joins run as broadcast hash joins and
    the whole count stays in one stage.  Above the limit — the true
    100 TB regime, where E itself is sharded — they fall back to shuffle
    equi-joins on the vertex key; orientation bounds every out-neighbor
    array at O(sqrt E), so the per-row intersect work — and the total
    O(E^1.5) — survives the scale-up.

    ``shuffle_partitions``: partition count for the operator's internal
    shuffles (default ``None`` = session conf).  The r08 measurement
    (CORE_SCALING_r07 + the r08 triangles probe, sf1 AND sf10): the
    heavy stages here are ALLOCATION-bound (per-task array builds for
    collect_list/array_intersect), so beyond ~1 task per 2 cores extra
    partitions only multiply allocation pressure — 32 cores at 16
    partitions matched 16 cores at 16 partitions, while 32 partitions
    was measurably slower.  On a big cluster size this to ~cores/2 for
    the triangle stage rather than inheriting a large global default.
    Applied as explicit hash ``repartition(n, keys)`` on the operator's
    own shuffle boundaries (dedup, degree agg, adjacency agg) — the
    aggregations and downstream joins reuse that distribution, so no
    extra exchange is introduced and NOTHING session-global is touched:
    concurrent queries on the same session are unaffected (r10; the r09
    version set/restored ``spark.sql.shuffle.partitions``, which leaked
    to concurrent threads for the duration of the call).
    """
    def _shard(df: DataFrame, *cols: str) -> DataFrame:
        # the hint: pin THIS operator's shuffle width by hash-partitioning
        # on the exact keys the next aggregation/join requires — Spark's
        # EnsureRequirements sees the distribution is already satisfied
        # and adds no further exchange (same shuffle count, chosen width)
        if shuffle_partitions is None:
            return df
        return df.repartition(shuffle_partitions, *[F.col(c) for c in cols])

    u, v = F.col(src_col), F.col(dst_col)
    # canonical undirected edges (a < b), self-loops dropped
    e = (
        _shard(
            edges.select(
                F.least(u, v).alias("a"), F.greatest(u, v).alias("b")
            ).filter(F.col("a") != F.col("b")),
            "a",
            "b",
        )
        .distinct()
        # persisted + eagerly materialized (NOT localCheckpoint):
        # degrees AND orientation both scan it and the upstream
        # pair-generation plan may be expensive — but checkpoint blocks
        # can only be freed by the async ContextCleaner after the JVM
        # refs die, and at sf1 the lingering O(E) blocks measurably
        # poisoned every subsequent query in the session; persist gives
        # the same reuse and an explicit unpersist on exit
        .persist()
    )
    n_edges = e.count()  # also gates the degree-table broadcast below
    # persisted + eagerly materialized: THREE consumers (the da/db
    # broadcasts and the n_vertices count) would otherwise each rerun
    # the 2|E| explode+groupBy — differently-aliased projections defeat
    # ReuseExchange, and concurrent broadcast builds race a cold cache
    # (the pagerank_int / dup_clusters pathology)
    deg = (
        _shard(
            e.select(
                F.explode(F.array(F.col("a"), F.col("b"))).alias("node")
            ),
            "node",
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    # the eager materialization count IS the vertex census — reuse it as
    # a literal below instead of re-aggregating cached deg in the final
    # job (one aggregate subtree fewer; same number by construction)
    n_vertices = deg.count()
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    # orient low-(deg, id) -> high-(deg, id)
    lower_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    # gate the O(V) degree broadcast on the SAME sharded-regime limit as
    # the adjacency joins (V <= 2E): an unconditional broadcast hint
    # bypasses autoBroadcastJoinThreshold/AQE, and above the limit the
    # degree table is as unbroadcastable as the edges themselves
    maybe_b = (
        F.broadcast if n_edges <= BROADCAST_EDGE_LIMIT else (lambda df: df)
    )
    oriented = (
        e.join(maybe_b(da), "a")
        .join(maybe_b(db), "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("t"),
        )
        # persist, not checkpoint — released on exit (see `e` above);
        # materialized by out_nbrs.count() below (its only consumer until
        # then, so there is no concurrent-build race to guard against)
        .persist()
    )
    # EDGE-ITERATOR counting (compact-forward's DataFrame shape): build
    # each node's oriented out-neighbor ARRAY (O(V) rows), then for
    # every oriented edge (s, t) count |N+(s) ∩ N+(t)| with one
    # row-local array_intersect.  A triangle x<y<z (rank order) is found
    # exactly once — on its apex-leg edge (x, y), where z sits in both
    # out-sets.  The wedge COUNT collapses to arithmetic
    # (sum C(outdeg, 2)), so the O(E^1.5) wedge stream is never
    # materialized at all: the earlier explicit wedge join pushed 41M
    # rows through a join at sf0.1 (8.8s warm); this shape keeps the
    # pipeline at |E| rows with O(deg) row-local work (~2s).
    # |oriented| == |e| exactly (orientation maps each undirected edge to
    # ONE directed edge — the join is key-preserving and lower_first is
    # total), so the adjacency joins reuse the degree joins' n_edges
    # broadcast-vs-shuffle choice and the r09 oriented.count() barrier
    # job is gone (guide §1.2: don't pay for a number you already have);
    # above the limit both joins become shuffle equi-joins on the vertex
    # key — the sharded regime; orientation still bounds every array at
    # O(sqrt E)
    # persisted + eagerly materialized: THREE consumers (the wedge-count
    # aggregate and the differently-aliased ns/nt broadcast projections)
    # would otherwise each rerun the O(E) collect_list shuffle — aliased
    # projections defeat ReuseExchange and concurrent broadcast builds
    # race a cold cache (SURVEY §9.9)
    out_nbrs = (
        _shard(oriented, "s")
        .groupBy("s")
        .agg(
            F.sort_array(F.collect_list("t")).alias("nb"),
            F.count(F.lit(1)).alias("od"),
        )
        .persist()
    )
    out_nbrs.count()
    # coalesce: sum over an EMPTY out_nbrs (no orientable edges at all)
    # is NULL, but the census contract is exact BIGINTs — return 0
    wedge_count = out_nbrs.agg(
        F.coalesce(
            F.sum(F.expr("od * (od - 1L) div 2")), F.lit(0).cast("long")
        ).alias("n_oriented_wedges")
    )
    ns = out_nbrs.select(F.col("s"), F.col("nb").alias("ns"))
    nt = out_nbrs.select(F.col("s").alias("t"), F.col("nb").alias("nt"))
    tri_count = (
        oriented.join(maybe_b(ns), "s")
        # left join: the highest-rank node of a component has no
        # out-neighbors and is absent from out_nbrs
        .join(maybe_b(nt), "t", "left")
        .select(
            F.size(
                F.array_intersect(
                    F.col("ns"),
                    # empty array of ns's element type, whatever the id
                    # type is (slice keeps the array type)
                    F.coalesce(F.col("nt"), F.slice(F.col("ns"), 1, 0)),
                )
            ).alias("c")
        )
        .agg(
            F.coalesce(F.sum("c"), F.lit(0).cast("long")).alias("n_triangles")
        )
    )
    # n_vertices / n_edges ride in as literals: both were ALREADY counted
    # driver-side by the eager cache materializations above (jobs inside
    # this operator's own wall), so the final census job no longer
    # re-scans the e/deg caches through two aggregate subtrees + cross
    # joins — it is just the wedge aggregate x the triangle aggregate
    counts = wedge_count.crossJoin(tri_count)
    result = counts.select(
        F.lit(n_vertices).cast("long").alias("n_vertices"),
        F.lit(n_edges).cast("long").alias("n_edges"),
        "n_oriented_wedges",
        "n_triangles",
    )
    # 1-row census: materialize it, then release EVERY persisted
    # intermediate so nothing pins block-manager memory across calls
    # (same rationale as pagerank_int's exit path)
    result = result.transform(materialize)
    for cached in (deg, out_nbrs, e, oriented):
        cached.unpersist()
    return result

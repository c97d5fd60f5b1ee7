"""Connected components over candidate-pair edges — the clustering step
that turns near-duplicate PAIRS (MinHash/SimHash/cosine output) into
duplicate GROUPS, so a dedup pipeline can keep one canonical document
per group. pairs → components → keep-min is the standard large-corpus
dedup flow; without it, transitive duplicates (A~B, B~C) survive
pairwise filtering.

Algorithm: iterative min-label propagation with pointer jumping. Each
node starts labeled with its own id; every round, each node takes the
min label in its neighborhood AND the label of its current label
(pointer jump — labels are node ids, so they have labels too);
converged when nothing changes. The jump halves the remaining distance
to the component minimum each round → O(log diameter) rounds, the same
asymptotics as alternating large-star/small-star (Kiveris et al.,
"Connected Components in MapReduce") with simpler rounds. Near-dup
clusters are small and dense (diameter 2-4) → 2-3 rounds in practice.

Each round is one join + one groupBy — both shuffle on the node id, so
AQE reuses the partitioning; labels are localCheckpoint'ed every round
to cut the lineage (else the plan doubles per iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_edge_cap: int = 262_144,
) -> DataFrame:
    """Component label (min reachable node id) per node appearing in
    ``edges``. Output: (node, comp). Undirected: edges are symmetrized.

    The convergence probe (one count per round) is a sanctioned scalar
    gate — the work itself is fully distributed.

    r14 (optimization): the label is a FIXPOINT — min node id reachable
    from each node — so unlike BPE's schedule it is algorithm-
    independent: any correct components algorithm produces bit-identical
    output. When the edge set is driver-small (near-dup pair sets are
    pair-pruned long before this step), the O(log d) distributed rounds
    are pure scheduler overhead (~10 eagerly-checkpointed jobs + count
    probes for a 2-round graph, measured ~1.4 s at sf0.1); a BOUNDED
    ``limit(cap+1)`` collect (never more than ``driver_edge_cap + 1``
    edge rows cross to the driver — the kmeans/BPE bounded-collect
    pattern) feeds union-find with path compression instead. Guarded to
    integer/string node ids (Python min == Spark min ordering there;
    float NaN and temporal normalization subtleties stay distributed)
    and to null-free edge heads. Over the cap — any real corpus-scale
    pair set — the distributed rounds run exactly as before;
    ``driver_edge_cap=0`` forces them (parity pinned in tests)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if driver_edge_cap > 0 and _cc_driver_types_ok(e):
        head = e.limit(driver_edge_cap + 1).collect()
        if len(head) <= driver_edge_cap and not any(
            r[0] is None or r[1] is None for r in head
        ):
            return _py_connected_components(
                edges.sparkSession, head, e.schema
            )
    e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    e = e.localCheckpoint()
    # Seed with the round-1 neighborhood minimum directly: one groupBy
    # over the (symmetrized) edges yields least(self, min neighbor) —
    # the same shuffle the plain node-distinct seed would cost, but it
    # buys a whole propagation round.
    labels = (
        e.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("_mv")).alias("comp"),
        )
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            e.join(labels, e.v == labels.node)
            .select(F.col("u").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("_mid"),
                # the round-START label rides along so convergence is a
                # filter-count over the checkpointed frame below — not a
                # second join against the old labels (one shuffle less per
                # round). It must be the start label, not _mid: a round
                # where only the neighborhood step lowered labels would
                # otherwise report itself converged.
                F.col("comp").alias("_start"),
            )
            # materialize before the pointer self-join: both ptr branches
            # read this frame, and without the checkpoint each round
            # evaluates the edge-join + groupBy subtree twice
            .localCheckpoint(eager=True)
        )
        # pointer jumping: adopt the label OF my label (comp is a node
        # id, so its own label exists) — each jump halves the remaining
        # distance to the component minimum. TWO jumps per round make
        # the per-round contraction ~4× (O(log4 d) rounds): one extra
        # tiny label-map join per round buys one fewer full round —
        # fewer convergence barriers and count probes, which is the
        # expensive axis both locally and on a 1000-executor cluster
        # (measured 3 rounds / 4.7 s → 2 rounds / 2.3 s at sf0.1).
        cur = stepped
        for _jump in range(2):
            ptr = cur.select(
                F.col("node").alias("_pn"), F.col("_mid").alias("_pc")
            )
            cur = (
                cur.join(ptr, cur._mid == ptr._pn, "left")
                .select(
                    "node",
                    F.least(
                        F.col("_mid"), F.coalesce(F.col("_pc"), F.col("_mid"))
                    ).alias("_mid"),
                    "_start",
                )
                # each jump's output feeds the next jump's two branches
                .localCheckpoint(eager=True)
            )
        changed = cur.filter(F.col("_mid") != F.col("_start")).count()
        labels = cur.select("node", F.col("_mid").alias("comp"))
        if changed == 0:
            break
    return labels


# node-id types where Python's min/ordering is bit-identical to
# Spark's (signed integers; strings compare by code point in Python
# and by UTF-8 bytes in Spark — UTF-8 preserves code-point order).
# Floats (NaN ordering) and temporal types (tz/normalization) fall
# back to the distributed rounds.
_CC_DRIVER_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "string"}
)

# Broadcast the driver-computed label frame only below this row count
# (2× the rows the DEFAULT edge cap can produce; ~32 MB of long pairs —
# comfortably under broadcast limits regardless of what a caller sets
# driver_edge_cap to).
_CC_BROADCAST_ROWS_MAX = 1_048_576


def _cc_driver_types_ok(e: DataFrame) -> bool:
    a, b = (f.dataType for f in e.schema.fields)
    # mixed src/dst types would be coerced by the distributed union;
    # the driver path requires one exact type to mirror that ordering
    return a == b and a.simpleString() in _CC_DRIVER_TYPES


def _py_connected_components(spark, edge_rows, schema) -> DataFrame:
    """Driver-side components over a bounded edge list: union-find with
    path compression, then label every node with the MIN id of its
    component — the same fixpoint the distributed min-label-propagation
    converges to (equivalence is definitional: both emit one row per
    distinct endpoint, labeled with the minimum reachable node id)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        u, v = r[0], r[1]
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    # min node id per component root, then one (node, comp) row per
    # distinct endpoint — mirroring the distributed groupBy("u") over
    # the symmetrized edge set
    comp_min: dict = {}
    nodes: set = set()
    for r in edge_rows:
        for x in (r[0], r[1]):
            if x in nodes:
                continue
            nodes.add(x)
            root = find(x)
            cur = comp_min.get(root)
            if cur is None or x < cur:
                comp_min[root] = x
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        [
            StructField("node", schema.fields[0].dataType),
            StructField("comp", schema.fields[0].dataType),
        ]
    )
    # sorted: set iteration order varies with the hash seed, and a
    # reproducible local relation costs nothing at ≤ 2·cap rows
    rows = sorted((x, comp_min[find(x)]) for x in nodes)
    # a local-relation frame carries no size stats, so downstream
    # joins (dedup_components' full-corpus left join) would plan
    # SortMergeJoin and shuffle the corpus; the label set is bounded
    # at 2·driver_edge_cap rows by construction — broadcast it. The
    # hint is gated on a FIXED row bound, not the cap (ADVICE r14:
    # driver_edge_cap is a public parameter, so a caller raising it
    # must not silently push a multi-GB relation into every executor).
    out = local_frame(spark, rows, out_schema)
    if len(rows) <= _CC_BROADCAST_ROWS_MAX:
        out = F.broadcast(out)
    return out


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iters: int = 8,
    assume_no_dangling: bool = False,
    broadcast_nodes_max: int = 50_000_000,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, fixed ``iters``
    power iterations. Output: (node, rank), ranks sum to 1.

    Scale shape: one join + one groupBy per iteration, both keyed on a
    node id — AQE reuses the hash partitioning across iterations; ranks
    are localCheckpoint'ed per round so the plan stays O(1) deep.
    Per-edge transition probabilities (weight / out-weight) are computed
    ONCE up front and checkpointed; iterations shuffle only
    (node, rank) rows, never the edge payload. No driver-side loops
    over data: the only scalar is the one-time node count (the same
    sanctioned footprint as the CC convergence probe above).

    Dangling nodes (no out-edges) leak rank mass; standard PageRank
    redistributes it uniformly. That needs the dangling mass as a
    scalar each round — kept IN the plan as a 1-row aggregate
    cross-joined into the update (the scalar-subquery-gate pattern, no
    collect). Pass ``assume_no_dangling=True`` when the input is known
    dangling-free (e.g. a symmetrized co-occurrence graph) to skip that
    branch entirely."""
    e = edges.select(
        F.col(src).alias("u"),
        F.col(dst).alias("v"),
        (F.col(weight) if weight else F.lit(1.0)).cast("double").alias("w"),
    )
    outw = e.groupBy("u").agg(F.sum("w").alias("_ow"))
    trans = (
        e.join(outw, "u")
        .select("u", "v", (F.col("w") / F.col("_ow")).alias("p"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:  # empty graph: empty result, not a division by zero
        return nodes.select(
            "node", F.lit(0.0).alias("rank")
        )
    src_nodes = trans.select(F.col("u").alias("node")).distinct()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    # ranks is |nodes|-sized — broadcasting it means the edge table
    # never re-shuffles across iterations (contributions are computed
    # map-side on the edge partitions; the groupBy's map-side partial
    # aggregation shrinks the shuffle to ~|nodes| rows per partition).
    # Above ``broadcast_nodes_max`` nodes the ranks frame outgrows any
    # sane broadcast budget (~50M × 16B ≈ 800 MB), so the hint is
    # GATED on the already-collected node count and the join falls
    # back to a shuffled hash join that AQE plans normally — an
    # unconditional hint would OOM the driver at billion-node scale.
    _hint = F.broadcast if n <= broadcast_nodes_max else (lambda df: df)
    for _ in range(iters):
        contrib = (
            trans.join(_hint(ranks), trans.u == ranks.node)
            .select("v", (F.col("rank") * F.col("p")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        base = F.lit((1.0 - damping) / n)
        if assume_no_dangling:
            ranks = (
                nodes.join(contrib, nodes.node == contrib.v, "left")
                .select(
                    "node",
                    (base + F.lit(damping) * F.coalesce("c", F.lit(0.0))).alias(
                        "rank"
                    ),
                )
                .localCheckpoint(eager=True)
            )
        else:
            dang = (
                ranks.join(src_nodes, on="node", how="left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
            )
            ranks = (
                nodes.join(contrib, nodes.node == contrib.v, "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "node",
                    (
                        base
                        + F.lit(damping)
                        * (
                            F.coalesce("c", F.lit(0.0))
                            + F.col("_dm") / F.lit(float(n))
                        )
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
    return ranks


def triangle_count(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Global triangle count over an undirected edge list — the classic
    graph-at-scale benchmark op (clustering / community structure of a
    co-occurrence graph), computed with the DEGREE-ORDERED wedge join:
    each edge is oriented from its lower-(degree, id) endpoint to the
    higher, wedges form only at the lower-ranked vertex, and a triangle
    is counted exactly once — at its minimum-rank corner. Orientation
    bounds every out-degree by O(sqrt(m)), so the wedge join does
    O(m^1.5) work instead of the O(sum deg^2) a naive neighbor join
    pays on hub vertices — THE difference on power-law co-occurrence
    graphs at 100 TB. Two shuffles (degree agg, wedge join) plus the
    closing-edge semi check. Output: one row, ``n_triangles``."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("_db"))
    ranked = e.join(da, "a").join(db, "b")
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    x, y = o.alias("x"), o.alias("y")
    wedges = x.join(
        y, (F.col("x.u") == F.col("y.u")) & (F.col("x.v") < F.col("y.v"))
    ).select(F.col("x.v").alias("v1"), F.col("y.v").alias("v2"))
    closed = wedges.join(
        e,
        (F.least("v1", "v2") == F.col("a"))
        & (F.greatest("v1", "v2") == F.col("b")),
        "left_semi",
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def canonical_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Quality-aware canonical selection: near-dup pairs → connected
    components → keep the HIGHEST-quality member of each group (tie →
    min id), not the min-id one. This is the keeper policy real corpus
    dedup wants — keep the longest/cleanest copy, drop truncated
    mirrors — and it composes the same components step the rest of the
    dedup pipeline uses.

    Output: one row per component — (comp, keeper_id, keeper_quality,
    n_members). One extra shuffle beyond the components themselves
    (window over comp); rows carry only (id, comp, quality), never the
    document payload."""
    comps = dedup_components(df, pairs, id_col=id_col, src=src, dst=dst)
    from pyspark.sql import Window

    labeled = df.select(F.col(id_col), F.col(quality_col)).join(
        comps, on=id_col
    )
    w = Window.partitionBy("comp").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("comp")))
        .filter(F.col("_rn") == 1)
        .select(
            "comp",
            F.col(id_col).alias("keeper_id"),
            F.col(quality_col).alias("keeper_quality"),
            "n_members",
        )
    )


def dedup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Full-corpus component assignment: every doc gets a component id —
    docs in no pair are their own singleton component. The canonical
    keeper per group is then ``filter(doc_id == comp)``."""
    comps = connected_components(pairs, src=src, dst=dst)
    return (
        df.select(F.col(id_col))
        .join(comps.withColumnRenamed("node", id_col), on=id_col, how="left")
        .select(
            id_col, F.coalesce(F.col("comp"), F.col(id_col)).alias("comp")
        )
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Local clustering coefficient per node: triangles_at(v) /
    C(deg(v), 2) — how tightly a node's neighborhood closes, the
    per-node refinement of ``triangle_count`` (boilerplate hubs in a
    co-occurrence graph show low closure; genuine topical clusters show
    high). Reuses the degree-ordered wedge join for the triangle side —
    each closed wedge credits ALL THREE corners via one explode — so
    the hub-safety bound carries over; degrees come from the same
    aggregate. Output: (node, degree, n_triangles, coeff) for nodes
    with degree ≥ 2."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)  # degree agg + orientation + close all read it
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    ranked = e.join(da, "a").join(db, "b")
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    x, y = o.alias("x"), o.alias("y")
    wedges = x.join(
        y, (F.col("x.u") == F.col("y.u")) & (F.col("x.v") < F.col("y.v"))
    ).select(F.col("x.u").alias("u"), F.col("x.v").alias("v1"), F.col("y.v").alias("v2"))
    closed = wedges.join(
        e,
        (F.least("v1", "v2") == F.col("a"))
        & (F.greatest("v1", "v2") == F.col("b")),
        "left_semi",
    )
    per_node = (
        closed.select(
            F.explode(F.array("u", "v1", "v2")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                F.coalesce("n_triangles", F.lit(0)).cast("double")
                / (F.col("degree") * (F.col("degree") - 1) / 2),
                4,
            ).alias("coeff"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int = 3,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """k-core decomposition: iteratively peel every node of degree < k
    (SIMULTANEOUS removal per round — the standard confluent rule, so
    the fixed point is the unique maximal subgraph with min degree ≥ k
    regardless of order). The graph-curation cut that separates a
    co-occurrence graph's cohesive clusters from its tendrils.

    Per round: one degree aggregate + two semi-joins restricting the
    edge list to surviving endpoints, localCheckpoint'ed so the plan
    stays O(1)-deep across rounds (the connected-components pattern).
    The surviving-node frame is ids-only; AQE broadcasts it while it
    fits and shuffles when it doesn't — no explicit hint, so no
    billion-node broadcast trap. The only driver scalar is the
    per-round survivor count (the same sanctioned convergence probe as
    CC); rounds are capped at ``max_rounds`` with early exit on
    stability, and a capped-but-unconverged state equals the fixed
    ``max_rounds``-round simultaneous peel (what the SQL twin
    computes). Output: (node, degree) for the k-core members, degree
    measured WITHIN the core."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = None
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        n_keep = keep.count()
        if n_keep == n_prev or n_keep == 0:
            break
        n_prev = n_keep
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    return (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= k)
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Synchronous label-propagation communities: every node starts as
    its own label; each round it adopts the most frequent label among
    its NEIGHBORS, ties broken by smallest label — a fully
    deterministic rule (integer counts, integer labels), so a fixed
    iteration count gives the same answer on any engine, partitioning,
    or run; no randomized tie-coin like classic LPA. Output after
    ``iters`` rounds: (node, label).

    Per round: one join keyed on the neighbor id + one (node, label)
    count + one argmax window — all shuffles keyed on node ids, edges
    re-read from one checkpointed frame, labels checkpointed per round
    so plans stay O(1)-deep. Labels are ids-only rows; AQE chooses
    broadcast vs shuffle (same no-hint posture as k_core)."""
    from pyspark.sql import Window

    und = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).filter(F.col("u") != F.col("v"))
    e = (
        und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = e.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("u").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(iters):
        nb = e.join(labels, labels.node == e.v).select("u", "label")
        counts = nb.groupBy("u", "label").agg(F.count(F.lit(1)).alias("cnt"))
        labels = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("u").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    return labels


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    max_depth: int = 3,
) -> DataFrame:
    """Multi-source breadth-first search: minimum hop distance from any
    ``sources`` node, out to ``max_depth`` hops — the "how far is this
    doc/part from a trusted seed set" primitive (label propagation from
    curated seeds, contamination blast-radius, link-graph crawl depth).

    Distances are WITHIN the graph: a seed absent from the edge list
    contributes nothing (no self-row at distance 0) — callers wanting
    isolated seeds included union them back at dist 0.

    Level-synchronous BFS: the frontier at depth d joins the
    (symmetrized) edge list once per round; visited nodes are an
    ids-only frame that anti-joins the next frontier, so first visit ≡
    minimum distance and no node is expanded twice. Each round is ONE
    shuffled join + one anti-join, frontier and visited frames are
    ids-only (the corpus payload never moves), and localCheckpoint
    keeps the plan O(1)-deep — the connected-components discipline.
    Matches the fixed-depth recursive-CTE twin exactly because
    level-synchronous expansion IS the fixpoint's min-dist closure."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = sym.select(F.col("u").alias("n")).distinct()
    frontier = (
        sources.select(F.col(node_col).alias("n"))
        .join(nodes, "n", "left_semi")
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = frontier.select("n", F.lit(0).alias("dist"))
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(sym, frontier["n"] == sym["u"])
            .select(F.col("v").alias("n"))
            .distinct()
            .join(dist.select("n"), "n", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.union(nxt.select("n", F.lit(d).alias("dist"))).localCheckpoint(
            eager=True
        )
        frontier = nxt
    return dist.select(F.col("n").alias(node_col), "dist")

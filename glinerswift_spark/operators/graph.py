"""[NORTH-RULE, no ref] graph materialization: triples + mention map -> edges.

edges(src_id, pred, dst_id, weight, avg_score): triples whose subject and
object surface forms resolve (per label-agnostic surface match within the
same document's mentions) to canonical node ids; parallel edges collapse
into a weighted edge. Written idempotently (overwrite) so a stage re-run
converges to identical bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def mentions_from_entities(entities: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """entities(doc..., label, entity, score, start, end) -> mentions with a
    deterministic mention_id: the string 'doc:start:end:label'. Stable,
    collision-free by construction, and expressible in ANSI SQL — the
    DuckDB oracle replays the whole linking stage including canonical_id
    = min(mention_id), which a 64-bit hash id would make impossible."""
    return entities.select(
        F.concat_ws(
            ":",
            F.col(doc_col).cast("string"),
            F.col("start").cast("string"),
            F.col("end").cast("string"),
            F.col("label"),
        ).alias("mention_id"),
        F.col(doc_col).alias("doc_id"),
        F.col("entity").alias("text"),
        "label",
        "score",
        "start",
        "end",
    )


def surface_to_canonical(mentions_with_map: DataFrame) -> DataFrame:
    """(lower(text), label) -> canonical_id map.

    Surface-level linking guarantees one canonical_id per (surface, label);
    the min() is a deterministic no-op guard. Used to resolve triple
    endpoints (surface forms) to node ids without re-running extraction."""
    return (
        mentions_with_map.groupBy(
            F.lower(F.col("text")).alias("surface"), F.col("label")
        )
        .agg(F.min("canonical_id").alias("canonical_id"))
    )


def materialize_edges(
    triples: DataFrame,
    surface_map: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """triples(subj, pred, obj, doc, score) -> edges(src_id, pred, dst_id, ...).

    surface_map is small relative to the corpus (distinct surfaces), and is
    broadcast when under the autoBroadcast threshold; at true web scale it
    becomes a shuffle join on the surface key — either way an equi-join.

    Triples carry surface forms, not labels, so the per-(surface, label)
    map is first collapsed to ONE canonical_id per surface
    (min(canonical_id), deterministic). Documented choice: a surface
    linked under two labels resolves every matching triple endpoint to
    that single node instead of fanning each triple out into duplicate
    edges with inflated weights.
    """
    resolved = _resolve_triples(triples, surface_map)
    return (
        resolved.groupBy("src_id", "pred", "dst_id")
        .agg(
            F.count(F.lit(1)).alias("weight"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
    )


def _resolve_triples(triples: DataFrame, surface_map: DataFrame) -> DataFrame:
    """Resolve triple endpoints (surface forms) to canonical node ids —
    shared by materialize_edges and edge_timespans."""
    collapsed = surface_map.groupBy("surface").agg(
        F.min("canonical_id").alias("canonical_id")
    )
    src = collapsed.select(
        F.col("surface").alias("__s_surface"), F.col("canonical_id").alias("src_id")
    )
    dst = collapsed.select(
        F.col("surface").alias("__o_surface"), F.col("canonical_id").alias("dst_id")
    )
    return (
        triples.withColumn("__s_surface", F.lower(F.col("subj")))
        .withColumn("__o_surface", F.lower(F.col("obj")))
        .join(src, "__s_surface")
        .join(dst, "__o_surface")
    )


def edge_timespans(
    triples: DataFrame,
    surface_map: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Temporal KG edges: per (src, pred, dst), the weight plus the
    min/max contributing document id — the temporal extent hook. Any
    monotone per-doc time column (a crawl's warc_ts) aggregates through
    the same min/max; callers map the doc extremes to timestamps.
    Same one-groupBy shape as materialize_edges."""
    resolved = _resolve_triples(triples, surface_map)
    return (
        resolved.groupBy("src_id", "pred", "dst_id")
        .agg(
            F.count(F.lit(1)).alias("weight"),
            F.min(doc_col).alias("first_doc"),
            F.max(doc_col).alias("last_doc"),
        )
    )


PAGERANK_SCALE = 10**12


def pagerank_integer(
    edges: DataFrame,
    src: str = "src_id",
    dst: str = "dst_id",
    weight: str = "weight",
    iters: int = 5,
    scale: int = PAGERANK_SCALE,
    damp_pct: int = 85,
) -> DataFrame:
    """Weighted PageRank with INTEGER (fixed-point) arithmetic — every
    contribution is ``(rank * weight) div out_weight`` on BIGINTs and every
    damped update is ``base + (damp_pct * sum) div 100``, so the result is
    bit-identical in any engine regardless of aggregation order (floats
    would drift in the last ulp across Spark/DuckDB sum orders; integer
    adds are associative). Dangling-node mass is dropped by design (the
    standard "no redistribution" variant) — documented, deterministic.

    Returns (node, rank_int, rank) with rank = rank_int / scale rounded
    to 6 — rank_int is the exact comparison key.

    Scale shape: each iteration is one equi-join of the edge relation
    against the (node, rank) relation on ``src`` plus one groupBy(dst)
    with map-side partial sums — the same shuffle pattern per round as
    the pointer-jumping connected components (operators/components.py).
    The rank relation is node-cardinality (small side → broadcast when it
    fits); the edge relation is never shuffled if pre-partitioned by src.
    Overflow guard: rank_int <= n_nodes * scale after round 1, so
    damp_pct * sum stays under 2^63 for n_nodes * scale < 10^17.
    """
    # Collapse parallel edges (e.g. per-predicate KG edges) by endpoint
    # pair FIRST: (r*w1) div o + (r*w2) div o != (r*(w1+w2)) div o under
    # integer division, so the collapsed multigraph is the defined input.
    e = (
        edges.select(
            F.col(src).alias("__src"),
            F.col(dst).alias("__dst"),
            F.col(weight).cast("long").alias("__w"),
        )
        .groupBy("__src", "__dst")
        .agg(F.sum("__w").alias("__w"))
    )
    # The edge relation is consumed once per iteration: cut its upstream
    # lineage (the input may be a whole KG-construction pipeline) so the
    # power iteration replays a materialized relation, not the pipeline.
    # Same pattern as the pointer-jumping rounds in components.py.
    e = e.localCheckpoint()
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outw = e.groupBy("__src").agg(F.sum("__w").alias("__out_w"))
    ew = e.join(outw, "__src").localCheckpoint()
    base = scale * (100 - damp_pct) // 100
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank_int"))
    for _ in range(iters):
        contrib = ew.join(
            ranks.select(F.col("node").alias("__src"), "rank_int"), "__src"
        ).select(
            F.col("__dst").alias("node"),
            F.expr("(rank_int * __w) div __out_w").alias("__c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        ranks = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({damp_pct} * coalesce(__s, 0L)) div 100")
                ).alias("rank_int"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        "node",
        "rank_int",
        F.round(F.col("rank_int") / F.lit(float(scale)), 6).alias("rank"),
    )


def negative_samples(
    edges: DataFrame,
    k: int = 2,
    src: str = "src_id",
    pred: str = "pred",
    dst: str = "dst_id",
) -> DataFrame:
    """Deterministic tail-corruption negative sampling for KG-embedding
    training: for every positive (src, pred, dst), emit up to ``k``
    corrupted triples (src, pred, dst_neg, sample_id) where dst_neg is
    an md5-pseudo-random node — reproducible across retries, cluster
    sizes, and engines (df.sample()/rand() are none of those). Accidental
    positives (a corruption that IS a real edge) are anti-joined away,
    and self-corruptions (dst_neg == dst) drop — so a sample can yield
    fewer than k rows, the standard filtered-negative contract.

    Node indexing uses a row_number over the sorted node relation —
    node-cardinality is vastly smaller than edge-cardinality in a
    canonicalized KG, so the single-partition window is a dim-table
    cost; a billion-node graph would swap in a zipWithIndex-style id
    assignment without touching the sampling arithmetic.

    Scale shape: explode(k) over edges -> equi-join on the node index
    (broadcast node side) -> anti-join on the edge key. Nothing
    all-pairs; negatives per positive are bounded by k."""
    from pyspark.sql import Window

    # the edge relation feeds THREE branches (node index, candidates,
    # accidental-positive filter): materialize it once so an expensive
    # upstream (a full KG build) doesn't replay per branch
    e = edges.select(src, pred, dst).distinct().localCheckpoint()
    nodes = (
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst).alias("node")))
        .distinct()
    )
    w = Window.orderBy("node")
    indexed = nodes.select(
        "node", (F.row_number().over(w) - 1).alias("__idx")
    )
    n_nodes = indexed.agg(F.count(F.lit(1)).alias("__n"))
    cand = (
        e.crossJoin(F.broadcast(n_nodes))
        .select(
            src,
            pred,
            dst,
            F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("sample_id"),
            "__n",
        )
        .withColumn(
            "__idx",
            F.expr(
                f"CAST(conv(substring(md5(concat_ws('|', {src}, {pred}, {dst},"
                f" CAST(sample_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % __n"
            ),
        )
        .join(F.broadcast(indexed), "__idx")
        .where(F.col("node") != F.col(dst))
    )
    positives = e.select(
        F.col(src).alias("__ps"), F.col(pred).alias("__pp"), F.col(dst).alias("__pd")
    )
    return (
        cand.join(
            positives,
            (F.col(src) == F.col("__ps"))
            & (F.col(pred) == F.col("__pp"))
            & (F.col("node") == F.col("__pd")),
            "anti",
        )
        .select(src, pred, F.col("node").alias("dst_neg"), "sample_id")
    )


def edge_diff(
    edges_old: DataFrame,
    edges_new: DataFrame,
    src: str = "src_id",
    pred: str = "pred",
    dst: str = "dst_id",
    weight: str = "weight",
) -> DataFrame:
    """Snapshot diff between two materialized KG edge tables:
    (src_id, pred, dst_id, status, weight_old, weight_new) with status
    in {added, removed, kept} — the audit surface for incremental crawl
    updates (plans/kg_pipeline.build_kg with prior=). 'removed' is REAL
    even when the new corpus is a superset of the old: min-mention-id
    canonicalization can re-root a cluster once a smaller mention id
    joins it, moving every incident edge to a new node id.

    One full-outer equi-join on the edge key; both sides are
    edge-cardinality relations (already aggregated), so the diff costs
    one shuffle of each edge table — nothing document-sized."""
    key = [src, pred, dst]
    o = edges_old.select(
        *key, F.col(weight).cast("long").alias("weight_old")
    )
    n = edges_new.select(
        *key, F.col(weight).cast("long").alias("weight_new")
    )
    joined = o.join(n, key, "full")
    status = (
        F.when(F.col("weight_old").isNull(), F.lit("added"))
        .when(F.col("weight_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
    )
    return joined.select(
        *key,
        status.alias("status"),
        F.coalesce("weight_old", F.lit(0)).alias("weight_old"),
        F.coalesce("weight_new", F.lit(0)).alias("weight_new"),
    )


def metapath2_counts(
    edges: DataFrame,
    src: str = "src_id",
    pred: str = "pred",
    dst: str = "dst_id",
    weight: str = "weight",
) -> DataFrame:
    """Weighted 2-hop metapath census: (node, pred_a, pred_b, n_paths)
    where n_paths = sum over mid of w(node -pred_a-> mid) *
    total_w(mid -pred_b-> *) — the "how much of the graph is two hops
    out, and through which relation chain" profile per start node, in
    exact BIGINT arithmetic.

    Scale shape: naive 2-hop path enumeration fans out quadratically at
    hub middle nodes (deg_in * deg_out rows). Here the SECOND hop is
    pre-aggregated to (mid, pred_b, sum_w) BEFORE the join, so the join
    fan-out per first-hop edge is |predicates| — constant — and a
    celebrity mid node contributes one row per predicate, never deg^2.
    The sum-of-products identity makes this exact, not approximate.
    One equi-join on mid + two map-side-combinable groupBys total."""
    a = edges.select(
        F.col(src).alias("node"),
        F.col(pred).alias("pred_a"),
        F.col(dst).alias("__mid"),
        F.col(weight).cast("long").alias("__w1"),
    )
    bout = (
        edges.groupBy(F.col(src).alias("__mid"), F.col(pred).alias("pred_b"))
        .agg(F.sum(F.col(weight).cast("long")).alias("__w2"))
    )
    return (
        a.join(bout, "__mid")
        .groupBy("node", "pred_a", "pred_b")
        .agg(F.sum(F.col("__w1") * F.col("__w2")).alias("n_paths"))
    )


def _undirected_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(u, v) with u < v: the undirected simple graph induced by
    ``edges`` (direction and parallel edges collapse, self-loops drop)."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


LPA_COUNT_PAD = 999_999_999_999


def label_propagation(
    edges: DataFrame,
    src: str = "src_id",
    dst: str = "dst_id",
    iters: int = 4,
) -> DataFrame:
    """Deterministic synchronous label propagation (community detection)
    over the UNDIRECTED simple graph induced by ``edges``. Returns
    (node, community) for every node with at least one edge.

    Initial label = the node's own id; each round EVERY node adopts the
    most frequent label among its neighbors, ties broken by the smallest
    label string. Synchronous updates + a total tie order + a FIXED
    iteration count make the result bit-deterministic and replayable in
    ANSI SQL as ``iters`` unrolled CTEs (classic async LPA with random
    visit order is neither). Oscillation on bipartite structures is
    bounded by the fixed round count — documented semantics, matching
    how LPA is actually deployed on static corpus snapshots.

    The per-round argmax avoids a window sort: the (count, label) order
    is embedded into one string key lpad(PAD - count) || '|' || label and
    reduced with min(), so each round is ONE adjacency equi-join + two
    map-side-combinable groupBys — no row_number over a skewed partition.
    A celebrity node with 10^7 neighbors costs 10^7 count rows (the join
    fan-out is the adjacency itself), never quadratic wedge rows.

    Scale shape per round: join(adjacency, labels) shuffles on the
    neighbor key, the two groupBys shuffle on (node, label) then node —
    the same bounded pattern per round as pagerank_integer above;
    localCheckpoint cuts lineage so round r replays a materialized
    relation, not r stacked plans.
    """
    und = _undirected_edges(edges, src, dst)
    adj = (
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .union(und.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .localCheckpoint()
    )
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iters):
        nb = adj.join(
            labels.select(F.col("node").alias("nbr"), "label"), "nbr"
        )
        cnt = nb.groupBy("node", "label").agg(F.count(F.lit(1)).alias("__c"))
        key = F.concat(
            F.lpad((F.lit(LPA_COUNT_PAD) - F.col("__c")).cast("string"), 12, "0"),
            F.lit("|"),
            F.col("label"),
        )
        labels = (
            cnt.select("node", key.alias("__k"))
            .groupBy("node")
            .agg(F.min("__k").alias("__k"))
            # key prefix is exactly 13 chars (12 padded digits + '|'),
            # so the label survives even if it contains '|' itself
            .select("node", F.expr("substring(__k, 14)").alias("label"))
            .localCheckpoint()
        )
    return labels.select("node", F.col("label").alias("community"))


def kcore_nodes(
    edges: DataFrame,
    k: int = 3,
    rounds: int | None = 4,
    src: str = "src_id",
    dst: str = "dst_id",
) -> DataFrame:
    """k-core peeling over the UNDIRECTED simple graph induced by
    ``edges``: repeatedly delete nodes with degree < k (synchronous
    deletion). Returns (node, core_deg) for survivors, core_deg being
    the degree among the previous round's survivors.

    ``rounds=R`` peels a FIXED number of rounds — bit-deterministic and
    SQL-replayable as unrolled CTEs (same discipline as
    label_propagation), an upper BOUND of the true k-core whenever a
    deletion cascade is longer than R. ``rounds=None`` peels to the
    FIXED POINT (true k-core): loop until the alive count stabilizes,
    one count() action per round — the form a published artifact must
    use, since a real web graph's cascades have no known bound
    (round-3 advice item). Each round is two semi-joins (edge endpoints
    against the alive set) + one degree groupBy — per-round cost
    shrinks as the graph peels, and nothing is ever all-pairs."""
    if rounds is not None and rounds < 1:
        raise ValueError("kcore_nodes needs rounds >= 1 or rounds=None")
    und = _undirected_edges(edges, src, dst).localCheckpoint()
    alive = und.select(F.col("u").alias("node")).union(
        und.select(F.col("v").alias("node"))
    ).distinct()
    deg = None
    n_alive = alive.count() if rounds is None else None
    r = 0
    while True:
        r += 1
        e = und.join(
            alive.select(F.col("node").alias("u")), "u", "semi"
        ).join(alive.select(F.col("node").alias("v")), "v", "semi")
        deg = (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )
        alive = deg.where(F.col("core_deg") >= k).select("node").localCheckpoint()
        if rounds is not None:
            if r >= rounds:
                break
        else:
            nxt = alive.count()
            if nxt == n_alive:
                break
            n_alive = nxt
    return deg.where(F.col("core_deg") >= k).select("node", "core_deg")


def triangle_counts(
    edges: DataFrame,
    src: str = "src_id",
    dst: str = "dst_id",
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph induced
    by ``edges`` (direction, predicates, and parallel edges collapse to
    one undirected edge; self-loops drop). Returns (node, n_triangles)
    for EVERY node, zeros included.

    Degree-ordered orientation — the standard scale-out algorithm
    (node-iterator++ / MR triangle counting): every edge is oriented
    from its lower endpoint to its higher endpoint under the TOTAL order
    (degree, node id), so each triangle is emitted exactly once (at its
    lowest-order corner) and, decisively for web-scale skew, the wedge
    self-join fans out on OUT-degree under this orientation, which is
    bounded by O(sqrt(|E|)) per node regardless of raw degree — a
    celebrity node with 10^7 neighbors never builds 10^14 wedge rows,
    because nearly all its edges orient INTO it. Plan: two equi-joins
    (wedge build on the low corner, closure check on the (b, c) edge
    key) + one explode/groupBy; nothing all-pairs anywhere.

    The order key is the string lpad(degree) || '|' || node — one total
    order, deterministic, and replayable verbatim in ANSI SQL (the
    DuckDB oracle runs the same three CTEs).
    """
    und = _undirected_edges(edges, src, dst)
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    key = F.concat(
        F.lpad(F.col("__deg").cast("string"), 12, "0"), F.lit("|"), F.col("node")
    )
    ku = deg.select(F.col("node").alias("u"), key.alias("__ku"))
    kv = deg.select(F.col("node").alias("v"), key.alias("__kv"))
    keyed = und.join(ku, "u").join(kv, "v")
    oriented = keyed.select(
        F.when(F.col("__ku") < F.col("__kv"), F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(F.col("__ku") < F.col("__kv"), F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(F.col("__ku") < F.col("__kv"), F.col("__kv")).otherwise(F.col("__ku")).alias("__kb"),
    )
    # wedges at the lowest-order corner: two out-edges of a, ordered so
    # the candidate closing edge (b, c) is itself in oriented direction
    w1 = oriented.select("a", F.col("b"), F.col("__kb"))
    w2 = oriented.select(
        F.col("a"), F.col("b").alias("c"), F.col("__kb").alias("__kc")
    )
    wedges = w1.join(w2, "a").where(F.col("__kb") < F.col("__kc"))
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    member = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__t"))
    )
    return (
        deg.select("node")
        .join(member, "node", "left")
        .select(
            "node", F.coalesce(F.col("__t"), F.lit(0)).cast("long").alias("n_triangles")
        )
    )

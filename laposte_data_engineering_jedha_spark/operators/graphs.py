"""Co-activity graph analytics at scale — the bounded production variant
of the exact triangle count (queries/events.py:events_user_triangles).

The exact pipeline's two superlinear inflation points, measured by the
round-8 sf1 sweep (family exponent 1.53 — wedge volume is degree², so a
10x corpus with denser hour buckets grows wedges ~30x):

1. PAIR GENERATION: the per-(hour, type) bucket self-join is
   sum-of-squared bucket occupancy. `bucket_cap` keeps only the cap
   lowest-(md5(id), id) users per bucket — a deterministic uniform-ish
   sample bounding fan-out at cap^2 per bucket (the knn_graph
   per-bucket candidate-cap precedent, dedup.py; md5 because DuckDB
   computes the identical digest, making the cap oracle-expressible).
2. WEDGE ENUMERATION: per-node wedges are out-degree^2 even after
   degree orientation. `max_out_deg` keeps each source's cap
   lowest-(dst_deg, dst) oriented out-edges — the Suri-Vassilvitskii
   bound made explicit: wedges per node <= cap^2.

Both caps are deterministic (tie-broken by id), so the capped count is
reproducible and SQL-expressible — the registered
`events_user_triangles_capped` query carries a full DuckDB oracle.
With caps >= the true maxima the result is EXACT; the unbounded exact
query stays registered as the oracle surface for the uncapped
semantics. Error behavior: caps undercount (triangles through dropped
edges/wedges are missed, never double-counted) — recall at given caps
is recorded in SCALE.md.

DEFAULTS (r9 verdict item 2): the BOUNDED form is the entry point a
user reaches without thinking — omitting the cap arguments applies
generous production caps (DEFAULT_BUCKET_CAP / DEFAULT_MAX_OUT_DEG:
exact on graphs whose bucket occupancy and oriented out-degree stay
under them, bounded-undercount beyond), because the uncapped wedge
join's measured sf1 exponent of 1.53 makes it the wrong silent default
at scale. Pass `bucket_cap=None, max_out_deg=None` explicitly to run
the exact unbounded form (the recall harness / oracle surface)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_table

#: omit-the-args production caps: per-bucket pair fan-out <= 128^2 and
#: per-node wedge fan-out <= 64^2, both deterministic — large enough to
#: be exact on typical co-activity graphs (fixture maxima are far below
#: them; asserted in tests/test_round10.py), small enough that the
#: pipeline stays O(edges) at any corpus size
DEFAULT_BUCKET_CAP = 128
DEFAULT_MAX_OUT_DEG = 64


#: driver fast-path bound shared by every graph operator (r13
#: optimization): a post-threshold edge list at or under this many rows
#: (2 ids/row -> ~2 MB collected) is processed in plain Python on the
#: driver instead of as a distributed iterative job. Connected components
#: (dedup.connected_components) union-find it in one pass; triangles
#: (co_activity_triangles) orient, wedge-enumerate and close it; k-core
#: (kcore_peel) peels it; synchronous label propagation
#: (queries graph_label_prop_communities) propagates it, once its caller
#: has also bounded the NODE universe (collected labels are O(nodes)).
#: Only the post-edges stages collapse: the edge BUILD (bucket joins,
#: dedup, weight aggregates) stays distributed either way. Near-dup and
#: co-activity graphs are sparse relative to the corpus (the sf0.1
#: semantic graph is 218 pairs out of 5.5k vectors), so the gate routes
#: by MEASURED edge count, never by configuration, like a broadcast-join
#: side; bigger graphs take the unchanged distributed loops. Every
#: operator reads this constant at call time and nothing else picks the
#: branch: setting it to -1 forces the distributed branch everywhere.
DRIVER_MAX_EDGES = 1 << 17


def _driver_triangles(
    edge_rows: list[tuple], max_out_deg: int | None
) -> tuple[int, int, int]:
    """(n_edges, n_nodes, n_triangles) of a collected unique-pair edge
    list, mirroring the distributed stages bit-for-bit: degree
    orientation by (degree, id), optional per-source cap keeping the
    `max_out_deg` lowest-(dst_degree, dst) out-edges, wedges enumerated
    per source in that same order, closed against the (capped) oriented
    edge set."""
    deg: dict = {}
    for x, y in edge_rows:
        deg[x] = deg.get(x, 0) + 1
        deg[y] = deg.get(y, 0) + 1
    out: dict = {}
    for x, y in edge_rows:
        dgx, dgy = deg[x], deg[y]
        src, dst = (x, y) if (dgx < dgy or (dgx == dgy and x < y)) else (y, x)
        out.setdefault(src, []).append((deg[dst], dst))
    if max_out_deg is not None:
        for src, lst in out.items():
            lst.sort()
            del lst[max_out_deg:]
    oriented = {
        (src, dst) for src, lst in out.items() for _, dst in lst
    }
    n_tri = 0
    for src, lst in out.items():
        lst.sort()
        for i in range(len(lst)):
            lo = lst[i][1]
            for j in range(i + 1, len(lst)):
                if (lo, lst[j][1]) in oriented:
                    n_tri += 1
    return len(edge_rows), len(deg), n_tri


def co_activity_triangles(
    ev: DataFrame,
    min_w: int,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    max_out_deg: int | None = DEFAULT_MAX_OUT_DEG,
) -> DataFrame:
    """Triangle count of the user co-activity graph (edge = two users
    sharing >= min_w distinct (hour, event-type) buckets) via the
    degree-ordered wedge join. Deterministic caps bound the two
    quadratic stages BY DEFAULT (see module docstring); pass None for
    both to get the exact unbounded count. Returns one row:
    (n_edges, n_nodes, n_triangles)."""
    support = ev.select(
        F.date_trunc("hour", "ts").alias("h"),
        F.col("event_type").alias("t"),
        F.col("user_id").alias("u"),
    ).distinct()
    if bucket_cap is not None:
        wb = Window.partitionBy("h", "t").orderBy(F.md5(F.col("u").cast("string")), "u")
        support = (
            support.withColumn("__br", F.row_number().over(wb))
            .where(F.col("__br") <= bucket_cap)
            .drop("__br")
        )
    a = support.select("h", "t", F.col("u").alias("x"))
    b = support.select("h", "t", F.col("u").alias("y"))
    co = (
        a.join(b, ["h", "t"])
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = co.where(F.col("w") >= min_w).select("x", "y")
    # materialize the thresholded edge list once: the driver gate reads
    # its count, and if the graph stays distributed all four downstream
    # references (degree union, orientation join, n_edges aggregate)
    # share the checkpointed RDD instead of re-running the bucket
    # self-join
    edges = edges.localCheckpoint(eager=False)
    if edges.count() <= DRIVER_MAX_EDGES:
        e, n, t = _driver_triangles(
            [(row[0], row[1]) for row in edges.collect()], max_out_deg
        )
        return local_table(
            ev.sparkSession, [(e, n, t)], "n_edges long, n_nodes long, n_triangles long"
        )
    deg = (
        edges.select(F.col("x").alias("u"))
        .unionAll(edges.select(F.col("y").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    dx = deg.select(F.col("u").alias("x"), F.col("dg").alias("dgx"))
    dy = deg.select(F.col("u").alias("y"), F.col("dg").alias("dgy"))
    x_first = (F.col("dgx") < F.col("dgy")) | (
        (F.col("dgx") == F.col("dgy")) & (F.col("x") < F.col("y"))
    )
    oriented = (
        edges.join(dx, "x")
        .join(dy, "y")
        .select(
            F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("src"),
            F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("dst"),
        )
    )
    o2 = oriented.join(
        deg.select(F.col("u").alias("dst"), F.col("dg").alias("dst_dg")), "dst"
    )
    if max_out_deg is not None:
        wo = Window.partitionBy("src").orderBy("dst_dg", "dst")
        o2 = (
            o2.withColumn("__or", F.row_number().over(wo))
            .where(F.col("__or") <= max_out_deg)
            .drop("__or")
        )
        # close wedges against the CAPPED oriented edge set so the count
        # is a pure subgraph count (monotone undercount, never phantom)
        oriented = o2.select("src", "dst")
    w1 = o2.select("src", F.col("dst").alias("lo"), F.col("dst_dg").alias("g1"))
    w2 = o2.select("src", F.col("dst").alias("hi"), F.col("dst_dg").alias("g2"))
    wedges = w1.join(w2, "src").where(
        (F.col("g1") < F.col("g2"))
        | ((F.col("g1") == F.col("g2")) & (F.col("lo") < F.col("hi")))
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("lo"), F.col("dst").alias("hi")),
        ["lo", "hi"],
    ).agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        n_edges.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(tri))
        .select("n_edges", "n_nodes", "n_triangles")
    )


def _driver_label_prop(
    edge_rows: list[tuple], node_ids: list, rounds: int = 2
) -> dict:
    """Synchronous label propagation over a collected unique-pair weighted
    edge list, mirroring the distributed rounds bit-for-bit: every node
    starts labelled by itself; each round every node adopts the label with
    the highest total incident edge weight among its neighbours' PREVIOUS
    labels (ties -> smallest label, the (wt desc, lbl asc) struct-max);
    nodes with no neighbours keep their label. Integer weights over an
    integer node universe — a pure function of (edge multiset, node set),
    so the driver and distributed paths can never disagree."""
    sym: list[tuple] = []
    for u, v, w in edge_rows:
        sym.append((u, v, w))
        sym.append((v, u, w))
    labels = {n: n for n in node_ids}
    for _ in range(rounds):
        votes: dict = {}
        for u, v, w in sym:
            lbl = labels[v]
            d = votes.setdefault(u, {})
            d[lbl] = d.get(lbl, 0) + w
        new_labels = dict(labels)
        for node, d in votes.items():
            new_labels[node] = max(d.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = new_labels
    return labels


def _driver_kcore_peel(
    edge_rows: list[tuple], k: int, rounds: int | None
) -> list[tuple[int, int, int]]:
    """Driver-side peel over a collected edge list: identical semantics to
    the distributed loop (degree = incident tuple count, both endpoints
    must survive), so the two paths can never disagree — the per-round
    stats are a pure function of the edge multiset."""
    stats: list[tuple[int, int, int]] = []
    cur = edge_rows
    prev_edges = None
    r = 0
    while True:
        r += 1
        deg: dict = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        cur = [(u, v) for u, v in cur if deg[u] >= k and deg[v] >= k]
        n_edges = len(cur)
        nodes = set()
        for u, v in cur:
            nodes.add(u)
            nodes.add(v)
        stats.append((r, len(nodes), n_edges))
        if rounds is not None and r >= rounds:
            break
        if rounds is None and n_edges == prev_edges:
            break
        prev_edges = n_edges
    return stats


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
) -> list[tuple[int, int, int]]:
    """Iterative k-core PEELING over an undirected edge list (u, v):
    each round drops every node with degree < k and every edge touching
    one, until fixpoint (`rounds=None`) or for a bounded number of
    rounds (the SQL-expressible form queries/graph.py:graph_kcore_peel registers).
    Returns [(round, n_nodes, n_edges)] after each peel.

    Scale shape: a round is one degree aggregate (explode both
    endpoints, hash-partial count) and two semi-joins — all key-hashed,
    no all-pairs anywhere; surviving edges localCheckpoint each round
    (the connected-components lineage-truncation precedent,
    operators/dedup.py) so the plan stays linear in rounds. Peeling
    converges in at most |V| rounds but in practice a handful — the
    driver reads ONE count per round (a bounded scalar, the repo's
    allowed-collect contract) to detect the fixpoint. The exact k-core
    is the fixpoint of this map; a bounded-round run is an upper
    envelope (every node outside the true core is gone by its peel
    depth).

    Cite: reference repo has no graph surface (extension layer)."""
    # materialize the input once; when it fits the driver bound, one
    # collect + pure-Python peel replaces 3 driver-round-trip jobs per
    # round (semi-joins + two counts) — the CC driver-union-find precedent
    ed = edges.select("u", "v").localCheckpoint(eager=False)
    if ed.count() <= DRIVER_MAX_EDGES:
        return _driver_kcore_peel(
            [(row[0], row[1]) for row in ed.collect()], k, rounds
        )
    stats: list[tuple[int, int, int]] = []
    cur = ed
    prev_edges = None
    r = 0
    while True:
        r += 1
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        cur = (
            cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        # ONE job for both audit counts (the former separate count() +
        # distinct().count() pair was two): every edge contributes its two
        # endpoints, so n_edges = rows/2 and n_nodes = distinct endpoints
        row = (
            cur.select(F.explode(F.array("u", "v")).alias("node"))
            .agg(
                F.count(F.lit(1)).alias("ends"),
                F.countDistinct("node").alias("nn"),
            )
            .first()
        )
        n_edges = int(row["ends"]) // 2
        n_nodes = int(row["nn"])
        stats.append((r, n_nodes, n_edges))
        if rounds is not None and r >= rounds:
            break
        if rounds is None and n_edges == prev_edges:
            break
        prev_edges = n_edges
    return stats

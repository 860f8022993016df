"""Link-graph algorithms over edge lists — the crawl-prioritization
step downstream of :mod:`pac_data_pipeline_spark.ext.html`'s link
harvest (a frontier scheduler fetches high-rank pages first; a
corpus curator up-weights documents central to the link graph).

The reference has no graph surface (its pipeline ends at keyed
document writes, ``pac_firebase_handler.py:24-78``); connected
components for dedup clustering live in ``ext/dedup_text.py:374``.
This module adds PageRank, the other graph primitive a web-corpus
pipeline runs, in the same style: a FIXED number of synchronous
iterations unrolled into one lazy plan (deterministic, oracle-
reproducible as chained CTEs) rather than driver-side convergence
loops with collect() probes.

Determinism contract: every iteration's rank is rounded to 12
decimals before it feeds the next — Spark does not pin the
accumulation order of a float sum over in-neighbor contributions,
so un-rounded ranks drift across engines (and across runs) by ulps
that compound through iterations. Round-12 is far below any
ranking-relevant signal and makes the fixed-point trajectory
byte-identical on both engines.

Scale shape per iteration: one shuffle join (edges ⋈ ranks on src —
both sides hash-partition on the same key, and AQE handles hub
skew) + one map-side-combinable sum by dst + a left join back to
the node list so sink nodes (no in-edges) keep their teleport mass.
The node count rides a 1-row broadcast. Nothing ever collects to
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    n_iter: int = 3,
    damping: float = 0.85,
    digits: int = 8,
) -> DataFrame:
    """PageRank with ``n_iter`` unrolled synchronous iterations.

    ``nodes``: one row per vertex (column ``id_col``). ``edges``:
    columns ``src``/``dst``; callers should pre-deduplicate and
    drop self-loops (:func:`functional_edges` does both). Vertices
    with no out-edges contribute no mass (their rank leaks — the
    standard simplification when, as in our fixtures, every node
    has out-degree ≥ 1); vertices with no in-edges keep the
    teleport term (1−d)/N via the left join.

    Iteration frames stay SPARSE (r12, the hits() lesson): a node
    absent from a round's contribution aggregate has the CONSTANT
    rank round((1−d)/N, 12) (its d·Σ term is exactly +0.0, which
    changes no double), so the per-iteration nodes-crossJoin-N +
    left-join densification collapses to a coalesce default inside
    the next iteration's edge join, and iteration 1's join
    disappears entirely (r0 = round(1/N, 12), the same constant for
    every src). Out-degree and N are folded onto the edge list ONCE
    before the loop — one broadcast instead of one per iteration
    (guide §2.4). Per-edge values and the per-partition order the
    aggregate consumes them in are unchanged (broadcast joins
    stream the checkpointed edge side in storage order), so the
    float trajectory is bit-identical to the dense form.
    """
    if n_iter < 1:
        # n_iter=0 would leave the rank frame unbound; fail before
        # any plan is built, as hits() does
        raise ValueError("n_iter must be >= 1")
    # the edge list feeds every iteration (plus the out-degree agg);
    # without materialization Catalyst INLINES the caller's edge
    # construction into each consumer — the synthetic 5-way-union
    # fixture ballooned to 100+ FileScans at 3 iterations. Cut the
    # lineage once; executor-local blocks, no CacheManager entry.
    # The NODE list is a multi-consumer too (the count, the final
    # densify join): un-materialized it cost multiple full column
    # scans of the corpus — same fix, |V| ids once.
    edges = edges.localCheckpoint()
    nodes = nodes.select(id_col).localCheckpoint()
    n_row = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("__n")))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__od"))
    # restrict to srcs that are real nodes (the dense form's inner
    # join with node-covering ranks did exactly this), fold __od and
    # __n onto each edge. Left LAZY on purpose: its inputs are the
    # checkpointed edges/nodes, so re-inlining per iteration costs
    # only cheap RDD scans while ReuseExchange dedupes the identical
    # outdeg/n_row broadcast subtrees across all iterations — a
    # checkpoint here ADDED jobs (measured 21→23).
    ew = (
        edges.join(
            nodes.select(F.col(id_col).alias("src")), "src"
        )
        .join(outdeg, "src")
        .crossJoin(n_row)
    )
    # contrib-absent rank for iterations ≥ 2: the dense form's
    # round((1-d)/N + d·0.0, 12) — adding d·0.0 to a positive
    # double is exact, so this IS the absent-node constant.
    r_def = F.round(F.lit(1.0 - damping) / F.col("__n"), 12)
    ranks_s = None  # sparse (src, __r): only contrib-reached nodes
    for i in range(n_iter):
        if i == 0:
            joined = ew.select(
                "dst",
                "__od",
                "__n",
                F.round(F.lit(1.0) / F.col("__n"), 12).alias("__r"),
            )
        else:
            joined = ew.join(ranks_s, "src", "left").select(
                "dst",
                "__od",
                "__n",
                F.coalesce(F.col("__r"), r_def).alias("__r"),
            )
        ranks_s = (
            joined.groupBy("dst")
            .agg(
                F.sum(F.col("__r") / F.col("__od")).alias("__in"),
                F.first("__n").alias("__n"),
            )
            .select(
                F.col("dst").alias("src"),
                F.round(
                    (1.0 - damping) / F.col("__n")
                    + damping * F.col("__in"),
                    12,
                ).alias("__r"),
            )
        )
    return (
        nodes.crossJoin(n_row)
        .join(
            ranks_s.select(F.col("src").alias(id_col), "__r"),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.round(F.coalesce(F.col("__r"), r_def), digits).alias(
                "rank"
            ),
        )
    )


def pagerank_fixture_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    n_iter: int = 3,
    damping: float = 0.85,
    multipliers: tuple[tuple[int, int], ...] = ((7, 1), (13, 5), (31, 11)),
    digits: int = 8,
) -> str:
    """The full functional-graph PageRank as ANSI/DuckDB SQL with the
    iterations unrolled into chained CTEs, generated from the SAME
    constants as the Spark path. ``CAST(0.85 AS DOUBLE)`` (not a bare
    decimal literal) so the damping arithmetic runs in the identical
    IEEE domain as Spark's Python-float literal — DuckDB types bare
    decimals as DECIMAL, which rounds differently before the
    round-12 synchronization could hide it."""
    d = f"CAST({damping} AS DOUBLE)"
    unions = " UNION ALL ".join(
        f"SELECT {id_col} AS src, ({id_col} * {a} + {b}) % "
        f"(SELECT c FROM n) AS dst FROM nodes"
        for a, b in multipliers
    )
    cte = [
        f"nodes AS (SELECT {id_col} FROM {table})",
        "n AS (SELECT count(*) AS c FROM nodes)",
        f"edges AS (SELECT DISTINCT src, dst FROM ({unions}) "
        "WHERE src <> dst)",
        "outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        f"r0 AS (SELECT {id_col}, round(1.0 / (SELECT c FROM n), 12) "
        "AS rank FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        cte.append(
            f"r{k} AS ("
            f"SELECT nodes.{id_col}, "
            f"round((1.0 - {d}) / (SELECT c FROM n) "
            f"+ {d} * coalesce(s.m, CAST(0 AS DOUBLE)), 12) AS rank "
            f"FROM nodes LEFT JOIN ("
            f"SELECT e.dst, sum(r.rank / o.od) AS m "
            f"FROM edges e "
            f"JOIN r{k-1} r ON e.src = r.{id_col} "
            f"JOIN outdeg o ON e.src = o.src "
            f"GROUP BY e.dst) s ON nodes.{id_col} = s.dst)"
        )
    return (
        "WITH " + ", ".join(cte)
        + f" SELECT {id_col}, round(rank, {digits}) AS rank FROM r{n_iter}"
    )


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    n_iter: int = 3,
    digits: int = 8,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) with ``n_iter``
    unrolled synchronous iterations and L1 normalization — the
    second classic link-quality signal next to :func:`pagerank`
    (authorities: pointed at by good hubs; hubs: point at good
    authorities — the asymmetry PageRank's single score collapses).

    Float discipline (the pagerank round-synchronization pattern):
    every aggregate — the per-node mass sums AND the L1 totals —
    rounds to 12 before it feeds the next expression, so the two
    engines' summation orders re-synchronize at every step instead
    of drifting through 2·n_iter chained sums. Empty edge sets
    (the --empty clone) produce all-zero scores via the nullif
    guard, not a division error.

    Scale shape: edges and the node list localCheckpoint (every
    iteration consumes both — un-materialized, Catalyst inlines
    the edge construction per consumer; the pagerank lesson); per
    iteration one shuffle per direction (groupBy dst, groupBy src)
    plus two 1-row L1-total broadcasts (whitelisted tiny-build
    pattern). Intermediate score frames stay SPARSE (r12): a node
    absent from a mass aggregate scored exactly 0.0 in the old
    dense form, and a 0.0 term changes no downstream sum (masses
    are non-negative, so no -0.0 corner) and no L1 total — so the
    per-phase nodes crossJoin + left-join densification is deferred
    to ONE final left join, deleting two exchanges and a broadcast
    rebuild per phase (guide §2.4). Zero-mass corner kept exact:
    the normalized score coalesces to 0.0 inside the sparse frame,
    exactly as the dense form's outer coalesce did."""
    if n_iter < 1:
        # n_iter=0 would leave auth unbound and crash the final
        # join (the pagerank fixture contract)
        raise ValueError("n_iter must be >= 1")
    edges = edges.localCheckpoint()
    nodes = nodes.select(id_col).localCheckpoint()
    # an authority sums hub scores over edges FROM nodes, a hub sums
    # authority scores over edges INTO nodes, in every iteration —
    # the dense form's joins with node-covering score frames (and
    # hits_fixture_sql's) did exactly this; the sparse score frames
    # also carry off-node endpoints, so the edges are restricted
    # up front instead
    a_edges = edges.join(
        nodes.select(F.col(id_col).alias("src")), "src", "left_semi"
    )
    h_edges = edges.join(
        nodes.select(F.col(id_col).alias("dst")), "dst", "left_semi"
    )
    n_row = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("__n")))
    hub = nodes.crossJoin(n_row).select(
        id_col, F.round(F.lit(1.0) / F.col("__n"), 12).alias("hub")
    )
    auth = None
    for _ in range(n_iter):
        raw_a = (
            a_edges.join(
                hub.select(
                    F.col(id_col).alias("src"), F.col("hub").alias("__h")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.round(F.sum("__h"), 12).alias("__a"))
            # TWO consumers (the L1 total + the normalization join):
            # un-materialized, Catalyst inlines the whole prior
            # chain into both, doubling the plan PER ITERATION —
            # 2^(2·n_iter) leaf duplication froze planning at 3
            # iterations. ≤|V| rows per checkpoint.
            .localCheckpoint()
        )
        ta = F.broadcast(
            raw_a.agg(F.round(F.sum("__a"), 12).alias("__ta"))
        )
        auth = raw_a.crossJoin(ta).select(
            F.col("dst").alias(id_col),
            F.coalesce(
                F.round(
                    F.col("__a") / F.nullif(F.col("__ta"), F.lit(0.0)),
                    12,
                ),
                F.lit(0.0),
            ).alias("auth"),
        )
        raw_h = (
            h_edges.join(
                auth.select(
                    F.col(id_col).alias("dst"),
                    F.col("auth").alias("__av"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.round(F.sum("__av"), 12).alias("__hh"))
            .localCheckpoint()  # same two-consumer shape as raw_a
        )
        th = F.broadcast(
            raw_h.agg(F.round(F.sum("__hh"), 12).alias("__th"))
        )
        hub = raw_h.crossJoin(th).select(
            F.col("src").alias(id_col),
            F.coalesce(
                F.round(
                    F.col("__hh") / F.nullif(F.col("__th"), F.lit(0.0)),
                    12,
                ),
                F.lit(0.0),
            ).alias("hub"),
        )
    return (
        nodes.join(hub, id_col, "left")
        .join(auth, id_col, "left")
        .select(
            id_col,
            F.round(F.coalesce("hub", F.lit(0.0)), digits).alias("hub"),
            F.round(F.coalesce("auth", F.lit(0.0)), digits).alias(
                "auth"
            ),
        )
    )


def hits_fixture_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    n_iter: int = 3,
    multipliers: tuple[tuple[int, int], ...] = ((7, 1), (13, 5), (31, 11)),
    digits: int = 8,
) -> str:
    """The functional-graph HITS as DuckDB SQL with the iterations
    unrolled into chained CTEs, generated from the SAME constants
    as the Spark path (the pagerank_fixture_sql pattern); every
    aggregate rounds to 12 at the same synchronization points.
    Every multiply-referenced CTE is MATERIALIZED: DuckDB otherwise
    INLINES re-referenced CTEs, and the per-iteration double
    references (total + join) expand the chain 2^(2·n_iter)-fold —
    the SQL twin of the Spark side's localCheckpoint discipline."""
    if n_iter < 1:
        # mirrors hits(): n_iter=0 would emit SQL referencing a
        # nonexistent a0 CTE
        raise ValueError("n_iter must be >= 1")
    unions = " UNION ALL ".join(
        f"SELECT {id_col} AS src, ({id_col} * {a} + {b}) % "
        f"(SELECT c FROM n) AS dst FROM nodes"
        for a, b in multipliers
    )
    cte = [
        f"nodes AS (SELECT {id_col} FROM {table})",
        "n AS (SELECT count(*) AS c FROM nodes)",
        f"edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({unions}) "
        "WHERE src <> dst)",
        f"h0 AS MATERIALIZED (SELECT {id_col}, round(1.0 / (SELECT c FROM n), 12) "
        "AS hub FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        cte.append(
            f"ra{k} AS MATERIALIZED (SELECT e.dst, round(sum(h.hub), 12) AS a "
            f"FROM edges e JOIN h{k-1} h ON e.src = h.{id_col} "
            f"GROUP BY e.dst)"
        )
        cte.append(
            f"ta{k} AS MATERIALIZED (SELECT round(sum(a), 12) AS t FROM ra{k})"
        )
        cte.append(
            f"a{k} AS MATERIALIZED (SELECT nodes.{id_col}, "
            f"coalesce(round(coalesce(r.a, CAST(0 AS DOUBLE)) "
            f"/ nullif((SELECT t FROM ta{k}), 0), 12), "
            f"CAST(0 AS DOUBLE)) AS auth "
            f"FROM nodes LEFT JOIN ra{k} r ON nodes.{id_col} = r.dst)"
        )
        cte.append(
            f"rh{k} AS MATERIALIZED (SELECT e.src, round(sum(a.auth), 12) AS h "
            f"FROM edges e JOIN a{k} a ON e.dst = a.{id_col} "
            f"GROUP BY e.src)"
        )
        cte.append(
            f"th{k} AS MATERIALIZED (SELECT round(sum(h), 12) AS t FROM rh{k})"
        )
        cte.append(
            f"h{k} AS MATERIALIZED (SELECT nodes.{id_col}, "
            f"coalesce(round(coalesce(r.h, CAST(0 AS DOUBLE)) "
            f"/ nullif((SELECT t FROM th{k}), 0), 12), "
            f"CAST(0 AS DOUBLE)) AS hub "
            f"FROM nodes LEFT JOIN rh{k} r ON nodes.{id_col} = r.src)"
        )
    return (
        "WITH " + ", ".join(cte)
        + f" SELECT h{n_iter}.{id_col}, "
        + f"round(h{n_iter}.hub, {digits}) AS hub, "
        + f"round(a{n_iter}.auth, {digits}) AS auth "
        + f"FROM h{n_iter} JOIN a{n_iter} "
        + f"ON h{n_iter}.{id_col} = a{n_iter}.{id_col}"
    )


#: Edge families for triangle/BFS fixtures: the three modular
#: multiplier links (a functional graph is triangle-free — linear
#: maps almost never close 3-cycles, verified empirically) PLUS the
#: two successor links (1,1)/(1,2), which guarantee the closed
#: wedge {i, i+1, i+2} at every vertex. Shared by the Spark path
#: and the SQL generators below so the two engines rebuild the
#: identical graph.
TRIANGLE_MULTIPLIERS: tuple[tuple[int, int], ...] = (
    (7, 1),
    (13, 5),
    (31, 11),
    (1, 1),
    (1, 2),
)


def functional_edges(
    nodes: DataFrame,
    id_col: str = "doc_id",
    multipliers: tuple[tuple[int, int], ...] = ((7, 1), (13, 5), (31, 11)),
) -> DataFrame:
    """Deterministic synthetic link graph: each vertex points at
    ``(id·a + b) mod N`` for each (a, b) — three out-links per node,
    self-loops dropped, duplicates merged. A functional graph is the
    standard reproducible fixture for iterative-algorithm tests: an
    external SQL engine rebuilds the identical edge set from the
    same arithmetic (no RNG, no engine hash)."""
    n_row = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("__n")))
    base = nodes.crossJoin(n_row)
    parts = [
        base.select(
            F.col(id_col).alias("src"),
            ((F.col(id_col) * a + b) % F.col("__n")).alias("dst"),
        )
        for a, b in multipliers
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.filter(F.col("src") != F.col("dst")).distinct()


def triangle_counts(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-vertex triangle participation via degree orientation —
    the skew-proof distributed triangle algorithm (each undirected
    edge is oriented from its lower-(degree, id) endpoint, so every
    oriented out-degree is O(sqrt(m)) and the wedge join never
    builds a hub's full neighborhood square; see Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11).

    Each triangle is materialized exactly once (at its lowest-
    (degree, id) corner), then exploded to its three corners for the
    per-vertex count. The triangle SET is orientation-invariant, so
    the SQL oracle may use the cheaper id-ordering (a<b<c 3-way
    join) and still name the identical triangles.

    Scale shape: two shuffles to build degrees + oriented edges,
    one self-join on the wedge pivot (bounded fan-out by the
    orientation), one semi-ish join against the canonical edge set
    to close wedges, one explode + count. All-integer — no float
    drift between engines.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # 3 consumers (degree agg, orientation join, closing join);
        # without this the caller's edge construction inlines into
        # each — measured 110 FileScans / 9.5 s on the synthetic
        # fixture, 6 scans / ~1 s after.
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient a—b from the endpoint with the smaller (deg, id) pair.
    withdeg = (
        und.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    )
    lower_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(lower_is_a, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lower_is_a, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    # Wedges at the pivot `lo`: pairs of oriented out-neighbors;
    # the id-order guard names each unordered pair once.
    e1 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    e2 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    closed = wedges.join(
        und,
        (F.least("v", "w") == F.col("a")) & (F.greatest("v", "w") == F.col("b")),
        "leftsemi",
    )
    corners = closed.select(
        F.explode(F.array("u", "v", "w")).alias(id_col)
    )
    return corners.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def triangle_fixture_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    multipliers: tuple[tuple[int, int], ...] = TRIANGLE_MULTIPLIERS,
) -> str:
    """Per-vertex triangle counts as DuckDB SQL over the same
    synthetic edge arithmetic. Uses the simple id-ordered 3-way join
    (a<b<c): the canonical undirected edge table is already ordered
    a<b, so chaining e1.b=e2.a with a closing edge (e1.a, e2.b)
    enumerates each triangle exactly once — the same set the
    degree-oriented Spark plan builds."""
    unions = " UNION ALL ".join(
        f"SELECT {id_col} AS src, ({id_col} * {a} + {b}) % "
        f"(SELECT c FROM n) AS dst FROM nodes"
        for a, b in multipliers
    )
    return f"""
        WITH nodes AS (SELECT {id_col} FROM {table}),
        n AS (SELECT count(*) AS c FROM nodes),
        e AS (SELECT DISTINCT src, dst FROM ({unions}) WHERE src <> dst),
        und AS (SELECT DISTINCT least(src, dst) AS a,
                       greatest(src, dst) AS b FROM e),
        tri AS (
            SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM und e1
            JOIN und e2 ON e1.b = e2.a
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
            SELECT u AS {id_col} FROM tri
            UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri
        )
        SELECT {id_col}, count(*) AS n_triangles
        FROM corners GROUP BY {id_col}
    """


def khop_distances(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    seed_mod: int = 97,
    n_hops: int = 3,
) -> DataFrame:
    """Minimum hop distance (<= ``n_hops``) from a deterministic
    seed set (``id % seed_mod == 0``) over a directed edge list —
    bounded-frontier BFS with the iterations UNROLLED into one lazy
    plan (the k-hop neighborhood / impact-radius query a crawl or
    lineage pipeline runs). No driver loop, no collect: each hop is
    one shuffle join frontier⋈edges plus a min-combine; the driver
    never sees intermediate frontiers, so Catalyst/AQE plan all
    ``n_hops`` stages together.

    All-integer arithmetic — hash-exact across engines. Unreached
    vertices are absent from the output (standard sparse-BFS
    contract).
    """
    # one materialization; every hop joins this same edge table and
    # would otherwise inline the caller's edge construction n times.
    edges = edges.localCheckpoint()
    dist = nodes.filter(F.col(id_col) % seed_mod == 0).select(
        F.col(id_col).alias("v"), F.lit(0).alias("hops")
    )
    for _ in range(n_hops):
        step = (
            dist.join(
                edges.select(F.col("src").alias("v"), "dst"), "v"
            )
            .select(F.col("dst").alias("v"), (F.col("hops") + 1).alias("hops"))
        )
        dist = (
            dist.unionAll(step)
            .groupBy("v")
            .agg(F.min("hops").alias("hops"))
            # dist feeds the next hop TWICE (union + frontier join),
            # so the unmaterialized plan doubles per hop — 2^n
            # growth. Materializing each frontier is the standard
            # iterative-BFS shape (Pregel supersteps do exactly
            # this) and keeps the plan constant-size at any depth.
            .localCheckpoint()
        )
    return dist.select(F.col("v").alias(id_col), "hops")


def khop_fixture_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    multipliers: tuple[tuple[int, int], ...] = TRIANGLE_MULTIPLIERS,
    seed_mod: int = 97,
    n_hops: int = 3,
) -> str:
    """The bounded BFS as chained CTEs (one per hop) over the same
    synthetic edges — a fixpoint-free mirror of the unrolled Spark
    plan, so DuckDB needs no RECURSIVE clause and the two engines
    agree hop by hop."""
    unions = " UNION ALL ".join(
        f"SELECT {id_col} AS src, ({id_col} * {a} + {b}) % "
        f"(SELECT c FROM n) AS dst FROM nodes"
        for a, b in multipliers
    )
    cte = [
        f"nodes AS (SELECT {id_col} FROM {table})",
        "n AS (SELECT count(*) AS c FROM nodes)",
        f"e AS (SELECT DISTINCT src, dst FROM ({unions}) WHERE src <> dst)",
        f"d0 AS (SELECT {id_col} AS v, 0 AS hops FROM nodes "
        f"WHERE {id_col} % {seed_mod} = 0)",
    ]
    for k in range(1, n_hops + 1):
        cte.append(
            f"d{k} AS (SELECT v, min(hops) AS hops FROM ("
            f"SELECT v, hops FROM d{k-1} "
            f"UNION ALL "
            f"SELECT e.dst AS v, d.hops + 1 AS hops "
            f"FROM d{k-1} d JOIN e ON d.v = e.src) GROUP BY v)"
        )
    return (
        "WITH " + ", ".join(cte)
        + f" SELECT v AS {id_col}, hops FROM d{n_hops}"
    )


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    seed_mod: int = 97,
    n_iter: int = 3,
    damping: float = 0.85,
    digits: int = 8,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to a SEED SET
    (``id % seed_mod == 0``) instead of spreading uniformly — the
    "crawl outward from these trusted pages" / "rank relative to
    this topic" variant (TrustRank, topic-sensitive PR). Same
    unrolled-iteration discipline as :func:`pagerank`: per-iteration
    round-12 pins the float trajectory, one shuffle join + one
    map-side-combinable sum per iteration, seed count on a 1-row
    broadcast, edges materialized once. Non-seed vertices with no
    in-edges correctly settle at rank 0 (they are unreachable from
    the seed set).

    Iteration frames stay SPARSE (r12, the pagerank()/hits()
    lesson): a node absent from a round's contribution aggregate
    has rank round((1−d)·s/Ns, 12) where s = [id % seed_mod == 0]
    is computable FROM THE ID ITSELF — so the per-iteration
    densify join collapses to a coalesce default evaluated
    scan-side on the edge's src, and iteration 1's ranks join
    (r0 = round(s/Ns, 12)) disappears the same way. Out-degree,
    the seed flag of each src, and the seed count are folded onto
    the edge list once before the loop (guide §2.4). Per-edge
    values and aggregate consumption order are unchanged, so the
    float trajectory is bit-identical to the dense form."""
    if n_iter < 1:
        # n_iter=0 would leave the rank frame unbound; fail before
        # any plan is built, as hits() does
        raise ValueError("n_iter must be >= 1")
    edges = edges.localCheckpoint()
    is_seed = (F.col(id_col) % seed_mod == 0).cast("int")
    # seeded (id, flag) feeds the seed count and the final densify
    # join — materialize once (the pagerank node-list fix)
    seeded = nodes.select(id_col, is_seed.alias("__s")).localCheckpoint()
    n_row = F.broadcast(
        seeded.agg(F.sum("__s").cast("double").alias("__ns"))
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__od"))
    # restrict to srcs that are real nodes (the dense form's inner
    # join did this), fold __od / src seed flag / __ns onto each
    # edge. Lazy on purpose — see pagerank(): ReuseExchange dedupes
    # the identical broadcast subtrees across iterations and a
    # checkpoint here only added jobs.
    ew = (
        edges.join(
            seeded.select(
                F.col(id_col).alias("src"), F.col("__s").alias("__ss")
            ),
            "src",
        )
        .join(outdeg, "src")
        .crossJoin(n_row)
    )
    # contrib-absent rank for iterations ≥ 2 (d·0.0 adds exactly
    # nothing; 0.0·(1-d)/Ns stays +0.0 for non-seeds, so the
    # hand-computed "settles at exactly 0.0" contract holds)
    r_def_edge = F.round(
        F.lit(1.0 - damping) * F.col("__ss") / F.col("__ns"), 12
    )
    ranks_s = None
    for i in range(n_iter):
        if i == 0:
            joined = ew.select(
                "dst",
                "__od",
                "__ns",
                F.round(F.col("__ss") / F.col("__ns"), 12).alias("__r"),
            )
        else:
            joined = ew.join(ranks_s, "src", "left").select(
                "dst",
                "__od",
                "__ns",
                F.coalesce(F.col("__r"), r_def_edge).alias("__r"),
            )
        ranks_s = (
            joined.groupBy("dst")
            .agg(
                F.sum(F.col("__r") / F.col("__od")).alias("__in"),
                F.first("__ns").alias("__ns"),
            )
            .select(
                F.col("dst").alias("src"),
                F.round(
                    (1.0 - damping)
                    * (F.col("dst") % seed_mod == 0).cast("int")
                    / F.col("__ns")
                    + damping * F.col("__in"),
                    12,
                ).alias("__r"),
            )
        )
    return (
        seeded.crossJoin(n_row)
        .join(
            ranks_s.select(F.col("src").alias(id_col), "__r"),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.round(
                F.coalesce(
                    F.col("__r"),
                    F.round(
                        F.lit(1.0 - damping)
                        * F.col("__s")
                        / F.col("__ns"),
                        12,
                    ),
                ),
                digits,
            ).alias("rank"),
        )
    )


def personalized_pagerank_fixture_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    seed_mod: int = 97,
    n_iter: int = 3,
    damping: float = 0.85,
    multipliers: tuple[tuple[int, int], ...] = ((7, 1), (13, 5), (31, 11)),
    digits: int = 8,
) -> str:
    """The personalized variant as unrolled chained CTEs from the
    same constants (seed indicator replaces the uniform teleport)."""
    d = f"CAST({damping} AS DOUBLE)"
    unions = " UNION ALL ".join(
        f"SELECT {id_col} AS src, ({id_col} * {a} + {b}) % "
        f"(SELECT c FROM n) AS dst FROM nodes"
        for a, b in multipliers
    )
    cte = [
        f"nodes AS (SELECT {id_col}, CASE WHEN {id_col} % {seed_mod} = 0 "
        "THEN 1 ELSE 0 END AS s FROM " + table + ")",
        "n AS (SELECT count(*) AS c FROM nodes)",
        "ns AS (SELECT CAST(SUM(s) AS DOUBLE) AS c FROM nodes)",
        f"edges AS (SELECT DISTINCT src, dst FROM ({unions}) "
        "WHERE src <> dst)",
        "outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        f"r0 AS (SELECT {id_col}, round(s / (SELECT c FROM ns), 12) "
        "AS rank FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        cte.append(
            f"r{k} AS ("
            f"SELECT nodes.{id_col}, "
            f"round((1.0 - {d}) * nodes.s / (SELECT c FROM ns) "
            f"+ {d} * coalesce(m.m, CAST(0 AS DOUBLE)), 12) AS rank "
            f"FROM nodes LEFT JOIN ("
            f"SELECT e.dst, sum(r.rank / o.od) AS m "
            f"FROM edges e "
            f"JOIN r{k-1} r ON e.src = r.{id_col} "
            f"JOIN outdeg o ON e.src = o.src "
            f"GROUP BY e.dst) m ON nodes.{id_col} = m.dst)"
        )
    return (
        "WITH " + ", ".join(cte)
        + f" SELECT {id_col}, round(rank, {digits}) AS rank FROM r{n_iter}"
    )

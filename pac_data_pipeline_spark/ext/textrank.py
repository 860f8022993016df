"""TextRank keyword extraction (Mihalcea & Tarau 2004).

Graph-based keyword ranking: build the word co-occurrence graph
(undirected, adjacent tokens under the TOKEN_SEP contract, weight =
co-occurrence count, self-loops dropped) and run weighted PageRank;
the stationary scores rank words by how central they are to the
corpus's co-occurrence structure — the step past frequency
(x_top_tokens) and PMI (x_collocations) toward global graph
importance.

Determinism contract — one step STRONGER than ext/graph.pagerank's
round-12 float sync, because vocabulary graphs have high-degree hubs
where a float Σ over hundreds of in-edges could flip a 12th digit
between engines: the whole iteration runs in EXACT INTEGER
fixed-point (pico-units, 1e12):

    r0       = 1e12 div N
    push(e)  = (r_src · w_e) div outw_src          -- BIGINT
    r_next   = (15 · 1e12) div (100 · N)
             + (85 · Σ push) div 100               -- damping 0.85

Floor divisions are order-free and overflow-safe (r ≤ ~1e12,
w ≤ corpus positions, products < 2^63 for any real vocabulary), so
ANY engine reproduces every iteration bit-for-bit — no rounding
synchronization needed at all.

Scale shape (the pagerank plan discipline): edge and node frames
localCheckpoint once (every iteration consumes them); per iteration
ONE (src-join, dst-group) shuffle pair over the |E|-row edge frame;
the 1-row N broadcast carries the teleport term; the final top-k is
a TakeOrderedAndProject.  |V|/|E| are vocabulary-sized, not
corpus-sized — the corpus is scanned exactly once to build the
adjacency counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pac_data_pipeline_spark.ext.text import TOKEN_SEP

TOKEN_SEP_SQL = TOKEN_SEP.replace("\\", "\\\\")

#: fixed-point scale: pico-units (1e12) — big enough that floor-div
#: mass loss is far below ranking-relevant signal, small enough that
#: r·w products stay clear of 2^63.
_SCALE = 10**12


def cooccurrence_edges(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Undirected adjacent-token co-occurrence edges as two directed
    rows per occurrence, self-loops dropped: (src, dst, w)."""
    pairs = (
        df.filter(F.col(text_col).isNotNull())
        .withColumn(
            "__toks",
            F.expr(f"split(trim({text_col}), '{TOKEN_SEP_SQL}')"),
        )
        .select(
            F.explode(
                F.expr(
                    "transform(array(__toks), t -> CASE WHEN size(t) >= 2 "
                    "THEN transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS a, "
                    "element_at(t, i + 1) AS b)) "
                    "ELSE array() END)[0]"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    return (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(
            pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    n_iter: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top-``top_k`` keywords by integer fixed-point weighted
    PageRank over the co-occurrence graph; ties break on the token.
    Output: (token, score) with score in pico-units."""
    if n_iter < 1:
        # n_iter=0 would leave the rank frame unbound; fail before
        # any plan is built, as hits() does
        raise ValueError("n_iter must be >= 1")
    # Iteration frames stay SPARSE (r12, the pagerank lesson —
    # exact here, not merely float-safe, because the chain is
    # integer fixed-point): a token absent from a round's push
    # aggregate has the CONSTANT rank 15·S div (100·n) (its 85·Σ
    # term is 85·0 div 100 = 0), so the per-iteration
    # nodes-crossJoin-left-join densification collapses to a
    # coalesce default in the next join, and iteration 1's ranks
    # join disappears (r0 = S div n, constant). Out-weight and n
    # fold onto the edge list ONCE (guide §2.4). The symmetric edge
    # construction makes every node a dst, so the defaults never
    # even fire on real vocabulary graphs — kept for exactness.
    edges = cooccurrence_edges(df, text_col).localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("token")).distinct()
        .localCheckpoint()
    )
    n_row = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("__n")))
    outw = edges.groupBy("src").agg(F.sum("w").alias("__ow"))
    # nodes ≡ distinct srcs, so no node-restriction semi-join is
    # needed here (pagerank needs one; every edge src is a node by
    # construction).
    ew = edges.join(outw, "src").crossJoin(n_row)
    r0 = f"CAST({_SCALE} AS BIGINT) div __n"
    r_def = f"CAST(15 * {_SCALE} AS BIGINT) div (100 * __n)"
    ranks_s = None
    for i in range(n_iter):
        if i == 0:
            joined = ew.select(
                "dst", "w", "__ow", "__n", F.expr(r0).alias("__r")
            )
        else:
            joined = ew.join(ranks_s, "src", "left").select(
                "dst",
                "w",
                "__ow",
                "__n",
                F.expr(f"coalesce(__r, {r_def})").alias("__r"),
            )
        ranks_s = (
            joined.groupBy("dst")
            .agg(
                F.sum(F.expr("(__r * w) div __ow")).alias("__in"),
                F.first("__n").alias("__n"),
            )
            .select(
                F.col("dst").alias("src"),
                F.expr(
                    f"CAST(15 * {_SCALE} AS BIGINT) div (100 * __n) "
                    f"+ (85 * __in) div 100"
                ).alias("__r"),
            )
        )
    return (
        nodes.crossJoin(n_row)
        .join(
            ranks_s.select(F.col("src").alias("token"), "__r"), "token",
            "left",
        )
        .select(
            "token",
            F.expr(f"coalesce(__r, {r_def})")
            .cast("long")
            .alias("score"),
        )
        .orderBy(F.desc("score"), "token")
        .limit(top_k)
    )


def textrank_fixture_sql(
    table: str = "documents",
    text_col: str = "text",
    n_iter: int = 5,
    top_k: int = 20,
) -> str:
    """The identical integer fixed-point chain as DuckDB SQL,
    generated from the same constants.  Adjacent pairs use indexed
    list access (megadoc-safe); every CTE that feeds two consumers
    is MATERIALIZED."""
    s = _SCALE
    cte = [
        f"""toks AS MATERIALIZED (
            SELECT string_split_regex(trim({text_col}, ' '),
                   '{TOKEN_SEP}') AS t
            FROM {table} WHERE {text_col} IS NOT NULL
        )""",
        """pairs AS MATERIALIZED (
            SELECT p.a, p.b FROM (
                SELECT unnest([{'a': t[i], 'b': t[i + 1]}
                    FOR i IN range(1, greatest(len(t) - 1, 0) + 1)]) AS p
                FROM toks) WHERE p.a <> p.b
        )""",
        """edges AS MATERIALIZED (
            SELECT src, dst, count(*) AS w FROM (
                SELECT a AS src, b AS dst FROM pairs
                UNION ALL
                SELECT b AS src, a AS dst FROM pairs)
            GROUP BY 1, 2
        )""",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS token FROM edges)",
        "n AS (SELECT count(*) AS c FROM nodes)",
        """ow AS MATERIALIZED (
            SELECT src, sum(w) AS ow FROM edges GROUP BY src
        )""",
        f"""r0 AS MATERIALIZED (
            SELECT token, CAST({s} AS BIGINT) // (SELECT c FROM n) AS r
            FROM nodes
        )""",
    ]
    for k in range(1, n_iter + 1):
        cte.append(
            f"""r{k} AS MATERIALIZED (
            SELECT nodes.token,
                   CAST(15 * {s} AS BIGINT)
                       // (100 * (SELECT c FROM n))
                   + (85 * coalesce(s.m, CAST(0 AS BIGINT))) // 100 AS r
            FROM nodes LEFT JOIN (
                SELECT e.dst, sum((r.r * e.w) // o.ow) AS m
                FROM edges e
                JOIN r{k - 1} r ON e.src = r.token
                JOIN ow o ON e.src = o.src
                GROUP BY e.dst) s ON nodes.token = s.dst
        )"""
        )
    return (
        "WITH " + ",\n".join(cte)
        + f"""
        SELECT token, CAST(r AS BIGINT) AS score
        FROM r{n_iter}
        ORDER BY score DESC, token LIMIT {top_k}"""
    )

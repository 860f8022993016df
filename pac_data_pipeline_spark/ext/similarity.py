"""Embedding similarity search over ``array<float>`` columns.

Two tiers:
* :func:`cosine_topk_bruteforce` — exact top-k, broadcast the query
  set against the corpus; per-row dot products via higher-order
  array functions (JVM, codegen). Exact and oracle-checkable.
* :func:`cosine_topk_lsh` — the scale path: sign-LSH buckets over
  md5-derived ±1 hyperplanes (:func:`portable_hyperplanes`) shrink
  the candidate set so the corpus×queries product never
  materializes; same scoring inside buckets.

At 100 TB the brute-force variant is only sane with a small query
set (it's corpus×|Q| work but zero shuffles — scan-side compute,
TakeOrderedAndProject per query); the LSH variant trades recall for
a bucket-join whose width is the collision rate.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> Column:
    """Sequential fold — deterministic summation order, so any
    engine folding left-to-right in double reproduces it exactly."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, CAST(0.0 AS DOUBLE),"
            f" (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
    )


def drop_null_vectors(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """A null vector has no geometry: every similarity operator
    drops such rows up front (scan-stage IsNotNull, pushed to the
    reader) instead of propagating null cosines into rankings or
    crashing the driver-side quantizer fit on ragged samples."""
    return df.filter(F.col(vec_col).isNotNull())


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` is (query_id, q_vec). Plan: broadcast-nested-loop
    join (corpus never shuffles), dot/norms as array folds, then a
    per-query window for the top k with vec_id tiebreak.

    Ranks are assigned over ``round(cosine, 6)`` — the same value
    the output emits — so float ULP noise between engines'
    summation orders (Spark's sequential fold vs an oracle's
    list_cosine_similarity) can never flip a rank or the top-k
    boundary (the tf_idf/bm25 round-before-cut convention); exact
    rounded ties break on the smaller id."""
    q = F.broadcast(
        queries.filter(F.col("q_vec").isNotNull()).select(
            F.col("query_id"), F.col("q_vec")
        )
    )
    scored = (
        drop_null_vectors(embeddings, vec_col)
        .select(F.col(id_col), F.col(vec_col).alias("e_vec"))
        .crossJoin(q)
        .select(
            "query_id",
            F.col(id_col),
            (
                _dot("e_vec", "q_vec")
                / F.nullif(_norm("e_vec") * _norm("q_vec"), F.lit(0.0))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 6).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def queries_from_corpus(
    embeddings: DataFrame, n: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Use the first ``n`` corpus vectors (by id) as the query set."""
    return (
        drop_null_vectors(embeddings, vec_col)
        .filter(F.col(id_col) < n)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    )


# -- LSH-bucketed ANN --------------------------------------------------------


def portable_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Rademacher (±1) hyperplanes derived from md5 — the one plane
    family behind sign-LSH and the JL projection. Coefficient (p, i)
    is +1 when the first hex digit of ``md5("plane:{p}:{i}")`` is
    < 8, else −1: any engine with md5 re-derives the exact matrix,
    which is what lets the LSH and JL registry queries carry
    hash-exact DuckDB oracles. Sign-LSH only uses the DIRECTION of
    each plane, so Rademacher planes give the same collision-
    probability guarantee as Gaussian ones (Charikar 2002 needs
    spherically symmetric planes for the exact cos⁻¹ formula; ±1
    planes are the standard cheap approximation and the bucket join
    is identical). The matrix is inlined as array literals and
    folded at plan time — zero per-row hash cost, unlike deriving
    md5 per element per row."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"plane:{p}:{i}".encode()).hexdigest()[0], 16
            )
            < 8
            else -1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def _sign_signature(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit i = (v · plane_i) >= 0. Built as a
    JVM expression over array literals — no UDF."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        arr = "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in plane) + ")"
        dot = F.expr(
            f"aggregate(zip_with({vec_col}, {arr},"
            f" (x, y) -> CAST(x AS DOUBLE) * y),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        sig = sig + F.when(
            dot >= 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return sig


def jl_project(
    embeddings: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection of an embedding
    column to ``out_dim`` dimensions — the standard pre-ANN
    compression (project once, then run the brute/LSH/IVF tiers on
    vectors ``dim/out_dim``× cheaper; JL bounds the pairwise
    distance distortion, and Achlioptas 2003 shows ±1 Rademacher
    entries give the same guarantee as Gaussians).

    The ±1 matrix is :func:`portable_hyperplanes` (coefficient
    (p, i) from the first hex digit of ``md5("plane:{p}:{i}")``),
    so any engine with md5 re-derives it; projections are
    sequential folds over the zipped arrays (deterministic
    summation order — an oracle replays them bit-for-bit with an
    ordered list_reduce, no round-before-compare slack needed
    beyond the emitted round(6)). Scale factor is the JL-standard
    1/√out_dim, applied AFTER the fold on both engines.

    Scale shape: pure scan-stage column expressions — the matrix
    inlines as array literals folded at plan time, zero shuffles,
    zero Python. Emits LONG format (id, j, value): the driver
    hashes scalars, and long output feeds groupBy-style consumers
    without array plumbing."""
    import math

    planes = portable_hyperplanes(dim, out_dim)
    scale = 1.0 / math.sqrt(out_dim)
    dots = []
    for plane in planes:
        arr = "array(" + ",".join(
            f"CAST({x!r} AS DOUBLE)" for x in plane
        ) + ")"
        # slice to dim FIRST: zip_with pads the shorter side with
        # NULLs, so a ragged >dim vector would NULL every
        # coordinate while the DuckDB oracle (fixed range(0,dim)
        # comprehension) stays non-NULL — a silent differential
        # hole on fuzz-mutated embeddings
        dots.append(
            F.expr(
                f"aggregate(zip_with(slice({vec_col}, 1, {dim}), {arr},"
                f" (x, y) -> CAST(x AS DOUBLE) * y),"
                f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            )
        )
    return (
        drop_null_vectors(embeddings, vec_col)
        .select(
            F.col(id_col),
            F.posexplode(
                F.array(*[F.round(d * F.lit(scale), 6) for d in dots])
            ).alias("j", "value"),
        )
        .select(id_col, "j", "value")
    )


def jl_recall(
    embeddings: DataFrame,
    k: int = 10,
    n_queries: int = 5,
    out_dim: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the JL-compressed space against exact full-dim
    cosine — the evaluation you run BEFORE routing a 100 TB ANN
    pass through :func:`jl_project` (the lsh_tuning_table
    convention: measure the operating point, then commit). Per
    query: the exact top-k in the original space, the top-k in the
    projected space, and the overlap as an exact ppm floor
    division.

    Scale shape: the projection is scan-stage; the projected
    vectors localCheckpoint (corpus side + query side read them);
    both top-k legs are the brute-force broadcast pattern (bounded
    query set, corpus never shuffles, round-before-rank windows
    PARTITIONED by query); the overlap join touches 2·n_queries·k
    rows. Emits (query_id, n_exact, n_hits, recall_ppm)."""
    proj = jl_project(embeddings, out_dim, dim, id_col, vec_col)
    pvec = (
        proj.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("j", "value"))
            ).alias("st")
        )
        .select(
            F.col(id_col),
            F.expr("transform(st, s -> s.value)").alias(vec_col),
        )
        .localCheckpoint()  # corpus side + query side below
    )
    exact = cosine_topk_bruteforce(
        embeddings,
        queries_from_corpus(embeddings, n_queries, id_col, vec_col),
        k,
        id_col,
        vec_col,
    )
    approx = cosine_topk_bruteforce(
        pvec,
        queries_from_corpus(pvec, n_queries, id_col, vec_col),
        k,
        id_col,
        vec_col,
    )
    hits = exact.join(
        approx.select("query_id", id_col),
        ["query_id", id_col],
        "left_semi",
    )
    per = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    hitc = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        per.join(hitc, "query_id", "left")
        .select(
            "query_id",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias(
                "n_hits"
            ),
            F.expr(
                "CASE WHEN n_exact > 0 THEN"
                " (1000000 * coalesce(n_hits, 0)) div n_exact END"
            ).alias("recall_ppm"),
        )
    )


def ndcg_discount_micro(k: int = 10) -> list[tuple[int, int]]:
    """The nDCG position-discount table in fixed-point micro-units:
    ``(pos, round(1e6 / log2(pos + 1)))`` for pos 1..k. Both the
    Spark evaluator and any SQL oracle consume THESE literal
    integers (generated once, here), so the irrational log2
    discounts can never introduce cross-engine float drift — the
    same shared-constant discipline as the simhash plane tables."""
    import math as _math

    return [
        (pos, round(1_000_000 / _math.log2(pos + 1)))
        for pos in range(1, k + 1)
    ]


def retrieval_eval(
    runs: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Ranking-quality evaluation — nDCG@k and reciprocal rank per
    (system, query) against graded relevance, in exact integer
    units (Järvelin & Kekäläinen 2002 for nDCG; the standard
    2^rel − 1 gain). This is the measure-before-commit convention
    (lsh_tuning_table / jl_recall) applied to the retrieval stack
    itself: it answers "did RRF fusion actually beat the legs it
    fused?" with a number instead of a hope.

    ``runs``: (system, query_id, doc_id, rank) — each system's
    already-truncated ranked list per query (rank 1-based; top-100
    legs are the expected shape). ``qrels``: (query_id, doc_id,
    rel) with integer grades ≥ 0; ungraded docs count as rel 0.

    Exactness: gains ``2^rel − 1`` are exact bigints; position
    discounts come from :func:`ndcg_discount_micro` (shared literal
    integers); DCG/IDCG are bigint sums of gain·discount;
    ``ndcg_ppm = 10^6·DCG div IDCG`` and ``rr_micro = 10^6 div
    first_relevant_rank`` are floor divisions — an oracle replays
    every bit.

    Scale shape: runs are bounded top-k frames, so the rank joins
    and per-(system, query) rollups touch hundreds of rows; the
    only corpus-sized input is qrels, which contributes one
    window (PARTITIONED by query, row_number ≤ k →
    WindowGroupLimit per-partition heaps) for the ideal-DCG
    prefix and one broadcast-sized graded join against the runs.
    Nothing here rescans a corpus."""
    from pac_data_pipeline_spark.session import local_table

    spark = runs.sparkSession
    disc = F.broadcast(
        local_table(spark, ndcg_discount_micro(k), "pos int, disc_micro bigint")
    )
    rel = qrels.select(
        "query_id",
        "doc_id",
        F.col("rel").cast("int").alias("rel"),
    ).filter(F.col("rel") > 0)
    graded = (
        runs.select(
            "system",
            "query_id",
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
        )
        .join(rel, ["query_id", "doc_id"], "left")
        .select(
            "system",
            "query_id",
            "rank",
            F.coalesce("rel", F.lit(0)).alias("rel"),
        )
    )
    # graded feeds the DCG rollup AND the first-relevant-rank
    # rollup; it is runs-sized (bounded), so the checkpoint is a
    # few hundred rows — multi-consumer discipline, not capacity
    graded = graded.localCheckpoint()
    grid = graded.select("system", "query_id").distinct()
    gain = F.expr("shiftleft(1L, rel) - 1L")
    dcg = (
        graded.filter(F.col("rank") <= k)
        .join(disc, graded.rank == disc.pos)
        .groupBy("system", "query_id")
        .agg(F.sum(gain * F.col("disc_micro")).alias("dcg_micro"))
    )
    # ideal DCG: the top-k grades per query over the WHOLE graded
    # set, positions assigned by (rel desc, doc_id) — deterministic
    # tie order so both engines pick the same ideal prefix
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    idcg = (
        rel.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .join(disc, "pos")
        .groupBy("query_id")
        .agg(F.sum(gain * F.col("disc_micro")).alias("idcg_micro"))
    )
    rr = (
        graded.filter(F.col("rel") >= 1)
        .groupBy("system", "query_id")
        .agg(F.min("rank").alias("first_rel"))
    )
    return (
        grid.join(dcg, ["system", "query_id"], "left")
        .join(idcg, "query_id", "left")
        .join(rr, ["system", "query_id"], "left")
        .select(
            "system",
            "query_id",
            F.expr(
                "CASE WHEN idcg_micro > 0 THEN"
                " (1000000 * coalesce(dcg_micro, 0L)) div idcg_micro"
                " ELSE 0L END"
            ).alias("ndcg_ppm"),
            F.expr(
                "CASE WHEN first_rel IS NOT NULL THEN"
                " 1000000L div first_rel ELSE 0L END"
            ).alias("rr_micro"),
        )
        .orderBy("system", "query_id")
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    n_probe_bits: int = 1,
    axis_portable: bool = False,
) -> DataFrame:
    """Approximate cosine top-k: sign-LSH signatures bucket the
    corpus; each query probes its own bucket plus all buckets within
    ``n_probe_bits`` hamming distance (multi-probe trades compute
    for recall). Join on bucket id → exact cosine inside buckets →
    per-query top-k.

    Scale shape: corpus signatures are scan-side; the bucket join is
    an equi-join on a long key (shuffle ∝ corpus, not corpus×|Q|).

    The hyperplanes are :func:`portable_hyperplanes`: an external
    engine re-derives the matrix from md5 and reproduces the
    ``dim``-term signature folds, buckets, probes, cosines, and
    ranks — hash-exact through the complete multi-probe path.
    ``axis_portable=True`` swaps them for axis-aligned planes
    (plane i = axis i), making the signature a plain per-coordinate
    sign test."""
    if axis_portable:

        def signature(col: str):
            bits = None
            for i in range(n_planes):
                t = F.when(F.col(col)[i] > 0, F.lit(1 << i)).otherwise(
                    F.lit(0)
                )
                bits = t if bits is None else bits + t
            return bits.cast("long")

    else:
        planes = portable_hyperplanes(dim, n_planes)

        def signature(col: str):
            return _sign_signature(col, planes)

    corpus = drop_null_vectors(embeddings, vec_col).select(
        F.col(id_col),
        F.col(vec_col).alias("e_vec"),
        signature(vec_col).alias("bucket"),
    )
    q_sig = queries.filter(F.col("q_vec").isNotNull()).select(
        "query_id", "q_vec", signature("q_vec").alias("q_bucket")
    )
    # multi-probe: original bucket + single-bit flips up to n_probe_bits
    probes = [F.col("q_bucket")]
    if n_probe_bits >= 1:
        probes += [
            F.expr(f"q_bucket ^ {1 << i}").cast("long") for i in range(n_planes)
        ]
    probed = q_sig.select(
        "query_id", "q_vec", F.explode(F.array(*probes)).alias("bucket")
    )
    scored = (
        corpus.join(F.broadcast(probed), "bucket")
        .select(
            "query_id",
            F.col(id_col),
            (
                _dot("e_vec", "q_vec")
                / F.nullif(_norm("e_vec") * _norm("q_vec"), F.lit(0.0))
            ).alias("cosine"),
        )
        .dropDuplicates(["query_id", id_col])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def _lloyd_kmeans(
    x: "np.ndarray", k: int, seed: int, max_iter: int, tol: float = 1e-4
) -> "np.ndarray":
    """Driver-side Lloyd's k-means with kmeans++ seeding (numpy).
    Input is the bounded training SAMPLE, never the corpus."""
    rng = np.random.default_rng(seed)
    # kmeans++ init
    centers = [x[rng.integers(len(x))]]
    for _ in range(1, k):
        d2 = np.min(
            [np.sum((x - c) ** 2, axis=1) for c in centers], axis=0
        )
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        centers.append(x[rng.choice(len(x), p=probs)])
    c = np.array(centers)
    for _ in range(max_iter):
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        new_c = np.array(
            [
                x[assign == j].mean(axis=0) if np.any(assign == j) else c[j]
                for j in range(k)
            ]
        )
        shift = float(np.abs(new_c - c).max())
        c = new_c
        if shift < tol:
            break
    return c


def _nearest_centroid(vec_col: str, centers: "np.ndarray") -> Column:
    """argmin-L2 centroid id as a pure JVM expression: ONE nested
    higher-order fold over a single array<array<double>> centroid
    literal (a per-centroid expression list would blow up the
    expression tree k-fold and with it codegen time), then
    array_position of the minimum. O(k·dim) per row, scan-side, no
    shuffle — the irreducible IVF assignment cost."""
    c_lit = (
        "array("
        + ",".join(
            "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in c) + ")"
            for c in centers
        )
        + ")"
    )
    d = F.expr(
        f"transform({c_lit}, c -> aggregate(zip_with({vec_col}, c,"
        f" (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 6,
    seed: int = 42,
    max_iter: int = 20,
    fit_sample_rows: int = 4096,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse
    quantizer partitions the corpus into ``n_centroids`` cells; each
    query scans only its ``n_probe`` nearest cells.

    Scale shape: the quantizer trains ONCE on a driver-side sample —
    ``fit_sample_rows × dim`` doubles, bounded regardless of corpus
    size (n_centroids cells need O(100·k) training points; iterating
    Lloyd's over 100 TB would be max_iter full passes for no recall
    gain). Cell assignment stays distributed as a scan-side JVM
    expression (no shuffle); the probe join is corpus ⨝
    broadcast(query probes) on the cell id, so the scored candidate
    set is ~(n_probe / n_centroids) of the corpus per query. Recall
    is tunable via n_probe. At 100 TB, persist `assigned` partitioned
    by centroid_id so a query's probes prune to n_probe/n_centroids
    of the files."""
    corpus = drop_null_vectors(embeddings, vec_col).select(
        F.col(id_col), F.col(vec_col).alias("e_vec")
    )
    sample = np.array(
        [
            r[0]
            for r in corpus.select(F.col("e_vec").cast("array<double>"))
            .limit(fit_sample_rows)
            .collect()
        ],
        dtype="float64",
    )
    if sample.size == 0:
        # empty corpus (or all-null vectors): nothing to quantize,
        # nothing to return — mirror the exact scorer's empty result
        return corpus.sparkSession.createDataFrame(
            [], f"query_id long, {id_col} long, cosine double, rank int"
        )
    centers = _lloyd_kmeans(sample, n_centroids, seed, max_iter)
    assigned = corpus.withColumn(
        "centroid_id", _nearest_centroid("e_vec", centers)
    )

    from pac_data_pipeline_spark.session import local_table

    centers_df = local_table(
        embeddings.sparkSession,
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "centroid_id int, c_vec array<double>",
    )
    q_cells = queries.crossJoin(F.broadcast(centers_df)).select(
        "query_id",
        "q_vec",
        "centroid_id",
        (
            _dot("q_vec", "c_vec")
            / F.nullif(_norm("q_vec") * _norm("c_vec"), F.lit(0.0))
        ).alias("c_cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc(), F.col("centroid_id")
    )
    probes = (
        q_cells.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select("query_id", "q_vec", "centroid_id")
    )
    scored = assigned.join(F.broadcast(probes), "centroid_id").select(
        "query_id",
        F.col(id_col),
        (
            _dot("e_vec", "q_vec")
            / F.nullif(_norm("e_vec") * _norm("q_vec"), F.lit(0.0))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def cosine_topk_ivf_grid(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 2,
    n_iter: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """IVF top-k with the FIXED-POINT distributed quantizer — the
    hash-exact evidence tier for the IVF plan shape: the coarse
    quantizer is ext/kmeans' integer-grid Lloyd (deterministic
    min-id init, exact BIGINT distances, integer-ratio centroid
    rounding — every assignment reproducible by an external SQL
    engine), cells carry the integer-grid centroid of their
    MEMBERS, each query probes its ``n_probe`` nearest cells by
    exact BIGINT squared-L2 on the quantized grid (ties → smaller
    cell id), and candidates rank by the sequential-fold cosine.
    The sampled-numpy quantizer (:func:`cosine_topk_ivf`) stays the
    production default — at 100 TB you train the quantizer on a
    bounded sample, not the corpus; THIS variant exists to prove
    the probe/join/rank machinery differentially.

    Scale shape: one clustering run (localCheckpointed, scan-side
    assignment, O(k·dim·partitions) update shuffles), cells
    aggregate to ``n_cells`` rows and broadcast; the probe join is
    corpus ⨝ broadcast(query probes) on the cell id — identical to
    the production IVF's candidate plan.

    ``dim`` defaults to None (the any-width generic Lloyd update);
    callers whose embedding table CONTRACTS a fixed width opt into
    the one-exchange fixed-width update by passing it explicitly —
    a default of 64 would silently truncate wider embeddings'
    centroid updates (try_element_at stays in-bounds, no error)."""
    from pac_data_pipeline_spark.ext.kmeans import (
        _argmin_assign,
        _centroid_frame,
        _lloyd_centroids,
        _quantize,
    )

    # r12: the candidate stage recomputes the final assignment
    # SCAN-SIDE (argmin vs the broadcast final centroid table — a
    # pure deterministic function of the quantized vector, so it
    # reproduces the training assignment bit-for-bit) on a corpus
    # scan that carries the float vector for scoring. This deletes
    # the old assigned-by-vid corpus join: the float vectors reach
    # the probe join without ever crossing an exchange (guide §2.4;
    # §8 — attach the payload without re-shuffling it).
    vecs = (
        embeddings.filter(
            F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
        )
        .select(F.col(id_col).alias("vid"), _quantize(vec_col).alias("q"))
        .localCheckpoint()  # n_iter Lloyd passes + init
    )
    cents = _lloyd_centroids(vecs, n_cells, n_iter, dim)
    assigned = _argmin_assign(
        embeddings.filter(
            F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
        ).select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("e_vec"),
            _quantize(vec_col).alias("q"),
        ),
        cents,
    ).localCheckpoint()  # cells aggregate + the probe-scored join
    cells = _centroid_frame(assigned, dim, "c")
    one_row = F.broadcast(
        cells.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("cluster").alias("cid"), F.col("c"))
                )
            ).alias("cs")
        )
    )
    q = queries.filter(F.col("q_vec").isNotNull()).select(
        "query_id", "q_vec", _quantize("q_vec").alias("qq")
    )
    cell_d = q.crossJoin(one_row).select(
        "query_id",
        "q_vec",
        F.explode(
            F.expr(
                "transform(cs, s -> struct(s.cid AS cid, "
                "aggregate(zip_with(qq, s.c, (a, b) -> (a-b)*(a-b)), "
                "0L, (x, y) -> x + y) AS d))"
            )
        ).alias("e"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("e.d").asc(), F.col("e.cid").asc()
    )
    probes = (
        cell_d.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select("query_id", "q_vec", F.col("e.cid").alias("cluster"))
    )
    scored = assigned.join(F.broadcast(probes), "cluster").select(
        "query_id",
        F.col("vid").alias(id_col),
        (
            _dot("e_vec", "q_vec")
            / F.nullif(_norm("e_vec") * _norm("q_vec"), F.lit(0.0))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank"
        )
    )


def cosine_topk_pq_grid(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 2,
    n_codes: int = 8,
    n_iter: int = 2,
    shortlist: int = 30,
) -> DataFrame:
    """PQ + exact rerank with FIXED-POINT per-subspace codebooks —
    the hash-exact evidence tier for the product-quantization plan
    shape: each of the ``m`` subspaces trains its codebook with the
    integer-grid distributed Lloyd (the x_kmeans contract — min-id
    init, BIGINT distances, integer-ratio centroid rounding),
    vectors encode as their subspace cluster ids, the asymmetric-
    distance score is an exact BIGINT sum of per-subspace
    query→codeword distances (deterministic shortlist: ties →
    smaller id), and the shortlist reranks by TRUE sequential-fold
    cosine — approximation affects only which rows make the
    shortlist, never the reported score, exactly like the
    production PQ. The bounded-sample numpy codebooks
    (:func:`cosine_topk_pq`) stay the production default; THIS
    variant proves the encode/LUT/ADC/shortlist/rerank machinery
    differentially.

    Scale shape: ONE (subspace, cluster)-keyed clustering run trains
    every codebook (scan-side assignment for all m subspaces per
    corpus pass + one O(m·codes·sub_len) update exchange per
    iteration — r12, was m independent chains); per-query LUTs are
    |Q|·n_codes rows and broadcast; the ADC scan touches only the
    m-column codes table (the 100 TB I/O story of PQ) and reranks
    ``shortlist`` float rows per query."""
    from pac_data_pipeline_spark.ext.kmeans import (
        _pq_train_grouped,
        _quantize,
    )

    if dim % m:
        raise ValueError(
            f"dim={dim} not divisible by m={m}: trailing dimensions "
            "would silently drop out of the encoding"
        )
    sub_len = dim // m
    q = queries.filter(F.col("q_vec").isNotNull()).select(
        "query_id", "q_vec"
    )
    # quantize the FULL vector once (the elementwise quantizer
    # commutes with slicing, so slice(q) is each subspace's quantized
    # vector bit-for-bit) and train all m codebooks as one grouped
    # Lloyd chain — m corpus scans per pass collapse to one
    vecs = (
        embeddings.filter(
            F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
        )
        .select(F.col(id_col).alias("vid"), _quantize(vec_col).alias("q"))
        .localCheckpoint()  # n_iter+1 trainer passes
    )
    codes, cells = _pq_train_grouped(vecs, m, sub_len, n_codes, n_iter)
    one_row = F.broadcast(
        cells.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "gid", F.col("cluster").alias("cid"), F.col("c")
                    )
                )
            ).alias("cs")
        )
    )
    luts = []
    for si in range(m):
        lo = si * sub_len + 1
        qsub = q.select(
            "query_id",
            F.expr(f"slice(q_vec, {lo}, {sub_len})").alias("sub"),
        ).select("query_id", _quantize("sub").alias("qq"))
        luts.append(
            qsub.crossJoin(one_row)
            .select(
                "query_id",
                F.explode(
                    F.expr(
                        f"transform(filter(cs, s -> s.gid = {si}), "
                        "s -> struct(s.cid AS cid, "
                        "aggregate(zip_with(qq, s.c, "
                        "(a, b) -> (a-b)*(a-b)), 0L, "
                        "(x, y) -> x + y) AS d))"
                    )
                ).alias("e"),
            )
            .select(
                "query_id",
                F.col("e.cid").alias(f"code_{si}"),
                F.col("e.d").alias(f"d_{si}"),
            )
        )
    # project q away before the ADC joins — the shortlist exchange
    # should carry (vid, codes), not the 64-long quantized payload
    adc = codes.select(
        "vid", *[f"code_{si}" for si in range(m)]
    ).join(F.broadcast(luts[0]), "code_0")
    for si in range(1, m):
        adc = adc.join(F.broadcast(luts[si]), ["query_id", f"code_{si}"])
    adc_d = None
    for si in range(m):
        t = F.col(f"d_{si}")
        adc_d = t if adc_d is None else adc_d + t
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("adc_d").asc(), F.col("vid").asc()
    )
    short = (
        adc.select("query_id", "vid", adc_d.alias("adc_d"))
        .withColumn("__r", F.row_number().over(w_short))
        .filter(F.col("__r") <= shortlist)
        .select("query_id", "vid")
    )
    corpus = drop_null_vectors(embeddings, vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("e_vec")
    )
    # |Q|·shortlist rows broadcast against the corpus scan: the
    # rerank fetches its float vectors with one scan-side broadcast
    # join instead of shuffling the corpus by vid
    scored = (
        corpus.join(F.broadcast(short), "vid")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vid").alias(id_col),
            (
                _dot("e_vec", "q_vec")
                / F.nullif(_norm("e_vec") * _norm("q_vec"), F.lit(0.0))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank"
        )
    )


def cosine_topk_ivfadc_grid(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 2,
    n_codes: int = 8,
    n_iter: int = 2,
    shortlist: int = 30,
) -> DataFrame:
    """IVFADC — the composed IVF + residual-PQ index (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011
    §IV; the FAISS ``IVFx,PQy`` architecture): a coarse quantizer
    routes each vector to a cell, the RESIDUAL (vector − cell
    centroid) is product-quantized with ONE codebook set shared
    across cells, and a query scans only its ``n_probe`` probed
    cells, scoring candidates by asymmetric distance against
    per-(query, cell) lookup tables built from the query's own
    residual in that cell. This is what production ANN serves at
    scale: the inverted lists bound the scan (IVF) and the codes
    bound the I/O (PQ) — the two approximations compose, and
    residual encoding keeps the codebook centered where the data
    actually is inside each cell.

    Fixed-point evidence tier (the x_kmeans determinism contract):
    the coarse quantizer is the integer-grid distributed Lloyd,
    residuals are exact BIGINT differences on that grid, and the
    subspace codebooks re-quantize the integer residuals ×SCALE
    (an exact operation — every residual coordinate is an integer
    ≪ 2^52, so the ×1000 double multiply is exact), giving BIGINT
    ADC distances reproducible by an external SQL engine. The
    shortlist reranks by TRUE sequential-fold cosine, so the
    approximations affect only which rows make the shortlist,
    never a reported score. The bounded-sample numpy tiers
    (:func:`cosine_topk_ivf`, :func:`cosine_topk_pq`) remain the
    production quantizer-training defaults.

    Scale shape: one coarse clustering + ONE grouped residual
    clustering training every subspace codebook (scan-side
    assignment for all m subspaces per corpus pass, one
    O(m·codes·sub_len·partitions) update exchange per iteration —
    r12, was m independent chains); cells and codebooks broadcast
    as 1-row tables; LUTs
    are |Q|·n_probe·n_codes rows and broadcast; the candidate scan
    touches only probed cells' code rows (inverted-list pruning ×
    m-column I/O), and only ``shortlist`` float vectors per query
    are ever reranked."""
    from pac_data_pipeline_spark.ext.kmeans import (
        KMEANS_SCALE,
        _assignments,
        _centroid_frame,
        _pq_train_grouped,
        _quantize,
    )

    if dim % m:
        raise ValueError(
            f"dim={dim} not divisible by m={m}: trailing dimensions "
            "would silently drop out of the encoding"
        )
    sub_len = dim // m
    # the coarse assignment frame ALREADY carries the quantized
    # vector (r12): take (vid, q, cluster) straight from the Lloyd
    # chain instead of kmeans_cells + a vid-keyed corpus re-join —
    # that join shuffled the whole corpus by vid (both sides) and
    # dragged the raw float vectors through the resid checkpoint
    # for the benefit of a |Q|·shortlist-row rerank (guide §2.4/§8:
    # decide with small rows; attach payloads without a shuffle).
    assigned = _assignments(
        embeddings, id_col, vec_col, k=n_cells, n_iter=n_iter, dim=dim
    ).localCheckpoint()  # cells aggregate + residual projection
    cells = _centroid_frame(assigned, dim, "c")
    # residual = quantized vector − its cell's integer centroid:
    # exact BIGINT subtraction. Consumed by the grouped codebook
    # training + the rerank's vid lookup — materialize or every
    # consumer re-derives the coarse clustering (the round-5
    # multi-consumer lesson).
    resid = (
        assigned.join(
            F.broadcast(cells.select(F.col("cluster"), F.col("c"))),
            "cluster",
        )
        .select(
            "vid",
            "cluster",
            F.expr("zip_with(q, c, (a, b) -> a - b)").alias("r"),
        )
        .localCheckpoint()
    )
    # query side: probe the n_probe nearest cells by exact BIGINT
    # grid distance (ties → smaller cell id), carrying each probed
    # cell's centroid so the query residual is computable per cell.
    one_row_cells = F.broadcast(
        cells.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("cluster").alias("cid"), F.col("c"))
                )
            ).alias("cs")
        )
    )
    q = queries.filter(F.col("q_vec").isNotNull()).select(
        "query_id", "q_vec", _quantize("q_vec").alias("qq")
    )
    cell_d = q.crossJoin(one_row_cells).select(
        "query_id",
        "q_vec",
        "qq",
        F.explode(
            F.expr(
                "transform(cs, s -> struct(s.cid AS cid, s.c AS c, "
                "aggregate(zip_with(qq, s.c, (a, b) -> (a-b)*(a-b)), "
                "0L, (x, y) -> x + y) AS d))"
            )
        ).alias("e"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("e.d").asc(), F.col("e.cid").asc()
    )
    probes = (
        cell_d.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select(
            "query_id",
            F.col("e.cid").alias("cluster"),
            # query residual on the codebook grid: the codebooks
            # train on integer residuals re-quantized ×SCALE, so the
            # query residual scales by the same exact factor.
            F.expr(
                f"zip_with(qq, e.c, (a, b) -> (a - b) * {KMEANS_SCALE}L)"
            ).alias("qr"),
        )
        .localCheckpoint()  # m LUT builds + the candidate join
    )
    # train all m residual codebooks as ONE (subspace, cluster)-keyed
    # Lloyd chain (r12; was m independent kmeans_cells runs): the
    # residual re-quantizes ×SCALE exactly on the integer grid, the
    # elementwise quantizer commutes with slicing, and `cluster`
    # rides through as a carry column so the candidate stage attaches
    # probes by cell id alone — the former vid-keyed codes join (a
    # full corpus exchange) is gone.
    rvecs = resid.select("vid", "cluster", _quantize("r").alias("q"))
    codes, rcells = _pq_train_grouped(rvecs, m, sub_len, n_codes, n_iter)
    one_row_books = F.broadcast(
        rcells.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "gid", F.col("cluster").alias("cid"), F.col("c")
                    )
                )
            ).alias("cs")
        )
    )
    luts = []
    for si in range(m):
        lo = si * sub_len + 1
        luts.append(
            probes.select(
                "query_id",
                "cluster",
                F.expr(f"slice(qr, {lo}, {sub_len})").alias("qsub"),
            )
            .crossJoin(one_row_books)
            .select(
                "query_id",
                "cluster",
                F.explode(
                    F.expr(
                        f"transform(filter(cs, s -> s.gid = {si}), "
                        "s -> struct(s.cid AS cid, "
                        "aggregate(zip_with(qsub, s.c, "
                        "(a, b) -> (a-b)*(a-b)), 0L, "
                        "(x, y) -> x + y) AS d))"
                    )
                ).alias("e"),
            )
            .select(
                "query_id",
                "cluster",
                F.col("e.cid").alias(f"code_{si}"),
                F.col("e.d").alias(f"d_{si}"),
            )
        )
    # candidates: only rows in probed cells (inverted-list pruning),
    # scored from their m code columns via the broadcast LUTs.
    cand = codes.select(
        "vid", "cluster", *[f"code_{si}" for si in range(m)]
    ).join(F.broadcast(probes.select("query_id", "cluster")), "cluster")
    adc = cand.join(
        F.broadcast(luts[0]), ["query_id", "cluster", "code_0"]
    )
    for si in range(1, m):
        adc = adc.join(
            F.broadcast(luts[si]), ["query_id", "cluster", f"code_{si}"]
        )
    adc_d = None
    for si in range(m):
        t = F.col(f"d_{si}")
        adc_d = t if adc_d is None else adc_d + t
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("adc_d").asc(), F.col("vid").asc()
    )
    short = (
        adc.select("query_id", "vid", adc_d.alias("adc_d"))
        .withColumn("__r", F.row_number().over(w_short))
        .filter(F.col("__r") <= shortlist)
        .select("query_id", "vid")
    )
    # rerank: |Q|·shortlist rows broadcast against the corpus scan —
    # the float vectors are fetched by ONE scan-side broadcast join,
    # never shuffled (they used to ride the resid checkpoint)
    corpus = drop_null_vectors(embeddings, vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("e_vec")
    )
    scored = (
        corpus.join(F.broadcast(short), "vid")
        .join(F.broadcast(q.select("query_id", "q_vec")), "query_id")
        .select(
            "query_id",
            F.col("vid").alias(id_col),
            (
                _dot("e_vec", "q_vec")
                / F.nullif(_norm("e_vec") * _norm("q_vec"), F.lit(0.0))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank"
        )
    )


def _pq_codebooks(
    sample: "np.ndarray", m: int, n_codes: int, seed: int, max_iter: int
) -> "np.ndarray":
    """Per-subspace k-means codebooks, shape (m, n_codes, dim/m).
    Trained on the same bounded driver-side sample policy as IVF —
    codebook quality saturates at O(100·n_codes) training points, so
    sampling is not a scale compromise."""
    dim = sample.shape[1]
    d = dim // m
    return np.stack(
        [
            _lloyd_kmeans(
                sample[:, j * d : (j + 1) * d], n_codes, seed + j, max_iter
            )
            for j in range(m)
        ]
    )


def _pq_encode(vec_col: str, books: "np.ndarray") -> Column:
    """PQ code array (length m) as a pure JVM expression: for each
    subspace, argmin-L2 over that subspace's codebook — the same
    single-literal nested-fold trick as IVF assignment, repeated per
    subspace. O(m · n_codes · d) = O(n_codes · dim) per row,
    scan-side, zero shuffle."""
    m, n_codes, d = books.shape
    parts = []
    for j in range(m):
        c_lit = (
            "array("
            + ",".join(
                "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in c) + ")"
                for c in books[j]
            )
            + ")"
        )
        sub = f"slice({vec_col}, {j * d + 1}, {d})"
        dist = (
            f"transform({c_lit}, c -> aggregate(zip_with({sub}, c,"
            f" (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
        )
        parts.append(
            f"CAST(array_position({dist}, array_min({dist})) - 1 AS INT)"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def _pq_adc_dot(q_col: str, codes_col: str, books: "np.ndarray") -> Column:
    """Asymmetric-distance dot product: Σ_j q_subj · codebook[j][code_j],
    reconstructed through the codebook literal — the JVM analogue of
    the classic ADC lookup table, evaluated per (query, corpus row)
    with zero shuffle."""
    m, n_codes, d = books.shape
    terms = []
    for j in range(m):
        c_lit = (
            "array("
            + ",".join(
                "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in c) + ")"
                for c in books[j]
            )
            + ")"
        )
        qsub = f"slice({q_col}, {j * d + 1}, {d})"
        cvec = f"element_at({c_lit}, element_at({codes_col}, {j + 1}) + 1)"
        terms.append(
            f"aggregate(zip_with({qsub}, {cvec},"
            f" (x, y) -> CAST(x AS DOUBLE) * y),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return F.expr(" + ".join(terms))


def cosine_topk_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    fit_sample_rows: int = 4096,
    shortlist_factor: int = 4,
) -> DataFrame:
    """Product-quantization ANN with exact rerank — the third scale
    tier after LSH (hash buckets) and IVF (coarse cells).

    PQ compresses each vector to ``m`` sub-space code ids (here
    8×4 bits = 4 bytes vs 256 bytes of float64): at 100 TB the codes
    column is what an exhaustive scoring pass actually reads, a
    ~64× I/O reduction, with the float vectors touched only for the
    ``shortlist_factor·k`` rerank rows per query. Train on a bounded
    driver sample (IVF policy), encode scan-side (JVM fold, zero
    shuffle), score via asymmetric distance against the codebook,
    shortlist per query, then exact-rerank the shortlist so emitted
    cosines are TRUE values — approximation affects only which rows
    make the shortlist, never the reported score. Combine with IVF
    cell pruning for the full FAISS-style IVF-PQ layout."""
    corpus = drop_null_vectors(embeddings, vec_col).select(
        F.col(id_col), F.col(vec_col).alias("e_vec")
    )
    sample = np.array(
        [
            r[0]
            for r in corpus.select(F.col("e_vec").cast("array<double>"))
            .limit(fit_sample_rows)
            .collect()
        ],
        dtype="float64",
    )
    if sample.size == 0:
        return corpus.sparkSession.createDataFrame(
            [], f"query_id long, {id_col} long, cosine double, rank int"
        )
    books = _pq_codebooks(sample, m, n_codes, seed, max_iter)
    encoded = corpus.withColumn("codes", _pq_encode("e_vec", books))

    approx = encoded.crossJoin(
        F.broadcast(queries.select("query_id", "q_vec"))
    ).select(
        "query_id",
        F.col(id_col),
        "e_vec",
        "q_vec",
        (
            _pq_adc_dot("q_vec", "codes", books)
            / F.nullif(_norm("q_vec"), F.lit(0.0))
        ).alias("approx_score"),
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("approx_score").desc(), F.col(id_col).asc()
    )
    shortlisted = (
        approx.withColumn("__r", F.row_number().over(w_short))
        .filter(F.col("__r") <= shortlist_factor * k)
    )
    rerank = shortlisted.select(
        "query_id",
        F.col(id_col),
        (
            _dot("e_vec", "q_vec")
            / F.nullif(_norm("e_vec") * _norm("q_vec"), F.lit(0.0))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
) -> DataFrame:
    """Embedding-cosine near-dup: bucket by sign-LSH over the
    md5-derived Rademacher planes (:func:`portable_hyperplanes`),
    compare within buckets only (id_a < id_b), keep pairs above
    ``threshold``. An external engine reproduces buckets AND
    cosines bit-for-bit."""
    planes = portable_hyperplanes(dim, n_planes)
    sigs = drop_null_vectors(embeddings, vec_col).select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        _sign_signature(vec_col, planes).alias("bucket"),
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.v").alias("v_a"),
        F.col("b.v").alias("v_b"),
    )
    cos = _dot("v_a", "v_b") / F.nullif(_norm("v_a") * _norm("v_b"), F.lit(0.0))
    return pairs.select(
        "id_a", "id_b", F.round(cos, 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def embedding_near_dup_pairs_axis(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
) -> DataFrame:
    """Embedding near-dup with AXIS-ALIGNED sign-LSH: the bucket is
    the sign pattern of the first ``n_planes`` coordinates — the
    degenerate member of the hyperplane family where plane i is
    axis i. It needs no plane matrix;
    :func:`embedding_near_dup_pairs` has the better-conditioned
    buckets (axis signs correlate with coordinate skew)."""
    bits = None
    for i in range(n_planes):
        term = F.when(
            F.col(vec_col)[i] > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    sigs = drop_null_vectors(embeddings, vec_col).select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        bits.cast("long").alias("bucket"),
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.v").alias("v_a"),
        F.col("b.v").alias("v_b"),
    )
    cos = _dot("v_a", "v_b") / F.nullif(_norm("v_a") * _norm("v_b"), F.lit(0.0))
    return pairs.select(
        "id_a", "id_b", F.round(cos, 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


# -- hybrid retrieval fusion --------------------------------------------------


def rrf_fuse(
    legs: dict[str, DataFrame],
    k: int = 60,
    top_k: int = 20,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR
    2009) of multiple retrieval legs — the standard way to combine a
    sparse (BM25) and a dense (embedding-cosine) ranking without
    calibrating their incomparable score scales.

    Each leg is an already-truncated ranked frame (``id_col``,
    ``rank_col`` with ranks 1..n); the fused score is the paper's
    ``Σ_legs 1/(k + rank)`` rendered in fixed-point micro-units —
    ``1_000_000 div (k + rank)`` summed as an exact bigint, which is
    what lets a SQL oracle reproduce the fusion bit-for-bit (the
    exact-rational contract; k=60 per the paper). Ties break on the
    smaller id. A doc absent from a leg contributes nothing for it
    (the paper's convention), and the per-leg rank is carried
    through as a nullable ``rank_<leg>`` column for inspection.

    Scale shape: the legs are top-k outputs — bounded frames
    (hundreds of rows), not corpora — so the union + id rollup +
    final TakeOrderedAndProject are all trivially small; the heavy
    lifting lives in the legs themselves (BM25's filtered token
    stream, ANN's bucketed probes). Fusion adds no corpus scan and
    no unbounded shuffle by construction.
    """
    from functools import reduce

    names = sorted(legs)
    parts = [
        legs[name].select(
            F.col(id_col),
            F.col(rank_col).cast("long").alias("__rank"),
            F.lit(name).alias("__leg"),
        )
        for name in names
    ]
    u = reduce(DataFrame.unionByName, parts)
    scored = u.groupBy(id_col).agg(
        F.sum(F.expr(f"1000000L div ({k} + __rank)")).alias("rrf_micro"),
        *[
            F.max(
                F.when(F.col("__leg") == name, F.col("__rank"))
            ).alias(f"rank_{name}")
            for name in names
        ],
    )
    return scored.orderBy(
        F.desc("rrf_micro"), F.asc(id_col)
    ).limit(top_k)

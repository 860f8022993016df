"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard — the scale path for LLM corpus dedup.

Shuffle budget at 100 TB:
* exact dedup: ONE shuffle on a 32-byte hash (not the document!) —
  map-side the doc collapses to (sha256, id), so shuffle bytes are
  ~48/doc regardless of document size;
* MinHash LSH: signatures are computed map-side (no shuffle), then
  one shuffle on (band_id, band_hash) buckets; candidate pairs come
  from within-bucket joins, never a corpus×corpus cross join;
* SimHash: explode-tokens shuffle is bounded by token count, and the
  band-bucket join mirrors MinHash.

Everything is pure column expressions (xxhash64 / bit ops /
higher-order array functions) — no Python in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pac_data_pipeline_spark.ext.text import TOKEN_SEP, TOKEN_SEP_SQL
from pac_data_pipeline_spark.session import ensure_parallelism


def pin_join_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition on ``keys`` at the session shuffle
    parallelism, as a USER-SPECIFIED exchange AQE will not coalesce.

    AQE's partition coalescing is byte-driven; a verify join whose
    input is a few hundred KB of candidate ids but whose OUTPUT rows
    each pay an array-intersect / exact-distance evaluation gets
    coalesced to one task and serializes minutes of CPU behind one
    core (measured round 11: the SemDeDup pair stage and the SNM
    gram verify both ran as single 2-3 s tasks on a 32-core box —
    guide §2.5, the small-bytes/heavy-CPU corner AQE cannot see).
    The join needs this exchange anyway — pinning it converts the
    implicit coalescible shuffle into an explicit fixed-width one,
    so no extra shuffle is paid and the stage keeps cluster
    parallelism at any scale. Cost: AQE skew-splitting is off for
    the pinned exchange — callers bound per-key work by
    construction (salted keys / windowed buckets) before pinning."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys)


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash: per sha256(text) keep the
    smallest id, count the duplicates."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup keeping the min-id row per content hash."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# -- MinHash + LSH -----------------------------------------------------------


#: Length threshold for the direct-substring gram branch. Below it
#: the O(len²/2) substring scans stay under ~8M char-steps per row
#: (sub-ms); above it the char-array branch's O(len·k) wins. The
#: cutover exists because HOF lambdas run INTERPRETED: per-element
#: slice+array_join costs ~4× per-element substring, so forcing the
#: char-array form on ordinary ~250-char docs regressed the minhash
#: family ~4× at sf0.1 — the hybrid keeps the median-doc fast path
#: AND bounds the pathological one.
_GRAM_DIRECT_MAX = 4096


def _char_gram_sql(name: str, k: int) -> str:
    """Char k-gram array of string expression ``name`` — length-
    adaptive. ``substring(text, i, k)`` per position is O(i)
    (UTF8String scans bytes to the codepoint offset), which made ONE
    --patho 1 MB document cost O(|doc|^2) ~ 5e11 steps in a single
    task; but it is also the FASTEST form for ordinary documents
    (interpreted-HOF per-element cost is all dispatch). So: direct
    substring per position for rows up to ``_GRAM_DIRECT_MAX``
    chars, and for longer rows the let-binding char-array form
    (bind ``split(text, '')`` once via the single-element-transform
    let — the _with_token_ngrams trick — then O(k) slice+join per
    gram). CaseWhen evaluates only the taken branch per row. Both
    branches produce byte-identical arrays (null → [null],
    '' → [''], short strings clamp), pinned by the differential
    gates on every clone."""
    direct = (
        f"transform(sequence(1, greatest(length({name}) - {k} + 1, 1)),"
        f" i -> substring({name}, i, {k}))"
    )
    chararr = (
        f"transform(array(split({name}, '')), c ->"
        f" transform(sequence(1, greatest(size(c) - {k} + 1, 1)),"
        f" i -> array_join(slice(c, i, {k}), '')))[0]"
    )
    return (
        f"CASE WHEN length({name}) <= {_GRAM_DIRECT_MAX}"
        f" THEN {direct} ELSE {chararr} END"
    )


def char_shingles(name: str, k: int = 5) -> Column:
    """Character k-shingles of column ``name`` as a distinct array —
    computed with ``sequence``+``transform``, no explode, no Python."""
    return F.array_distinct(F.expr(_char_gram_sql(name, k)))


def portable_hash60(col: Column) -> Column:
    """Engine-independent 60-bit hash: first 15 hex chars of md5 as
    a positive long — any SQL engine with md5 reproduces it
    bit-for-bit (same trick as portable simhash)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
    portable: bool = False,
) -> DataFrame:
    """One-permutation-hashing MinHash signature (Li et al., NIPS'12):
    hash every shingle ONCE, route it to bucket ``hash mod n``, take
    the min per bucket, densify empty buckets with the global min.

    Why OPH instead of n seeded hash functions: one xxhash64 per
    shingle instead of n (64× less compute at equal variance), and
    the shuffle stays tiny — a document's exploded shingles sit in
    the partition that read it, and ONE partially aggregated
    ``groupBy(id)`` (the global min plus one conditional min per
    bucket) collapses them to a single row per doc before the
    exchange, and the signature is read straight off that row.

    ``portable=True`` swaps xxhash64 for the md5-derived 60-bit hash
    (:func:`portable_hash60`) so an external SQL engine reproduces
    signatures — and therefore LSH buckets and estimates —
    bit-for-bit. Production keeps xxhash64 (~3× cheaper)."""
    # NOTE: no array_distinct — min() is idempotent under duplicate
    # shingles, and deduplicating 300-element string arrays per row
    # costs more than hashing the duplicates.
    sh = F.expr(_char_gram_sql(text_col, shingle_k))
    # null text: the transform yields [null] (greatest() ignores the
    # null size), and while xxhash64 hashes a null input to a
    # value, md5 propagates it. Null shingles carry no content
    # either way, so a null-text document gets no signature.
    exploded = (
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode(sh).alias("s"))
        .filter(F.col("s").isNotNull())
    )
    shingle_hash = (
        portable_hash60(F.col("s")) if portable else F.xxhash64("s")
    )
    hashed = exploded.select(
        F.col(id_col), shingle_hash.alias("h")
    ).withColumn("b", F.pmod("h", F.lit(num_hashes)))
    # one SQL expression, not num_hashes Column calls: built through
    # PySpark Columns, the 64-way plan took about four times as long
    # to construct
    bucket_mins = F.expr(
        "array("
        + ", ".join(f"min(IF(b = {i}, h, NULL))" for i in range(num_hashes))
        + ")"
    )
    assembled = hashed.groupBy(id_col).agg(
        bucket_mins.alias("__mins"), F.min("h").alias("__gmin")
    )
    # empty-bucket probability ≈ (1-1/n)^|shingles| — negligible for
    # real documents; densify with the global min so identical
    # shingle sets still yield identical signatures.
    sig = F.expr("transform(__mins, m -> coalesce(m, __gmin))")
    return assembled.select(F.col(id_col), sig.alias("minhash"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Band the signatures (b×r = signature length) and emit
    candidate pairs that collide in ≥1 band.

    Plan shape: explode to (band_id, band_hash, id) — one shuffle on
    the bucket key; self-join within buckets with id<id to orient
    pairs; distinct to collapse multi-band collisions. Probability a
    pair with Jaccard s collides: 1-(1-s^r)^b (s=0.8 → 0.986).
    ``portable=True`` hashes each band as md5 of the '|'-joined
    component values (SQL-reproducible) instead of xxhash64."""
    band_cols = []
    for b in range(bands):
        lo = b * rows_per_band
        elems = [F.col("minhash")[i] for i in range(lo, lo + rows_per_band)]
        band_hash = (
            portable_hash60(
                F.concat_ws("|", *[e.cast("string") for e in elems])
            )
            if portable
            else F.xxhash64(*elems)
        )
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), band_hash.alias("band_hash"))
        )
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
    bands: int = 16,
    threshold: float = 0.7,
    portable: bool = False,
) -> DataFrame:
    """Full MinHash near-dup pipeline: signature → LSH buckets →
    candidate pairs → estimated-Jaccard filter (fraction of equal
    signature components — unbiased estimator, avoids re-reading
    the documents). ``portable=True`` makes the whole pipeline
    engine-reproducible (md5-derived hashes) so a SQL oracle can
    recompute pairs AND estimates exactly."""
    # signatures are consumed three times; localCheckpoint (not
    # persist) materializes the tiny (id, 64×long) frame once AND
    # lets the ContextCleaner reclaim it when the result frame is
    # dropped — df.persist() entries live in the CacheManager until
    # an explicit unpersist, which leaked across repeated calls in a
    # long-lived session.
    sigs = minhash_signature(
        df, text_col, id_col, num_hashes, shingle_k, portable=portable
    ).localCheckpoint()
    pairs = lsh_candidate_pairs(
        sigs, id_col, bands, num_hashes // bands, portable=portable
    )
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("sig_b"))
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),"
        " 0, (acc, v) -> acc + v)"
    ) / F.lit(float(num_hashes))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


# -- SimHash -----------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash per document, computed without leaving the JVM:
    token → hash, then per-bit signed vote via explode +
    ONE hash aggregation (``bits`` conditional sums), then bit
    reassembly. Shuffle volume = distinct (doc, token) pairs.

    ``portable=False`` (production): xxhash64 token hash, 64 bits.
    ``portable=True``: the token hash is the first 15 hex chars of
    md5 (60 bits, engine-independent — any SQL engine with md5 can
    reproduce it bit-for-bit), so results are differential-testable
    across engines. Requires ``bits <= 60``."""
    if portable and bits > 60:
        raise ValueError("portable simhash carries 60 hash bits max")
    toks = F.explode(
        F.array_distinct(F.split(F.trim(F.col(text_col)), TOKEN_SEP))
    ).alias("tok")
    token_hash = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
        if portable
        else F.xxhash64(F.col("tok"))
    )
    exploded = ensure_parallelism(df).select(F.col(id_col), toks).withColumn(
        "h", token_hash
    )
    votes = exploded.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"getbit(h, {i})") == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc + F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), acc.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bits: int = 64,
    n_chunks: int = 4,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup: band the ``bits``-bit hash into
    ``n_chunks`` equal chunks (pigeonhole: hamming < n_chunks
    guarantees one chunk equal, so with ``max_hamming <= n_chunks-1``
    the banded result EQUALS the exact all-pairs filter; wider
    distances are still usually caught), bucket-join per chunk, then
    exact hamming filter via bit_count(xor). Never all-pairs: the
    join is an equi-join on (chunk_id, chunk value)."""
    if bits % n_chunks:
        raise ValueError("bits must divide evenly into n_chunks")
    width = bits // n_chunks
    mask = (1 << width) - 1
    # the signature feeds BOTH sides of the self-join; localCheckpoint
    # materializes the tiny (id, long) frame once instead of running
    # the explode + bit-vote aggregation twice, and the
    # ContextCleaner reclaims it when the result is dropped (same
    # rationale as minhash_near_dup_pairs above)
    hashes = simhash(
        df, text_col, id_col, bits=bits, portable=portable
    ).localCheckpoint()
    chunks = hashes.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.expr(f"(simhash >> {c * width}) & {mask}").alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "simhash", "ck.chunk_id", "ck.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- connected components (dedup clustering) ---------------------------------


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge set — the step
    that turns pairwise near-dup candidates into dedup GROUPS (keep
    one doc per component). Output ``(id_col, component_id)`` with
    component_id = the smallest member id; nodes without an edge are
    their own component.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond"); each round rewires edges
    toward component minima:

    * large-star: per node u, attach every strictly-larger neighbor
      to m = min(N(u) ∪ {u});
    * small-star: orient edges large→small, then attach each node's
      smaller-or-equal neighborhood (and itself) to its minimum.

    Each phase is one groupBy(collect_set) keyed on the node column,
    and the edge set shrinks monotonically toward a star per
    component (root = component minimum). Convergence needs
    O(log n) rounds where min-label propagation needs O(diameter) —
    on a 1000-chain ~10 rounds instead of 1000. Per-round state is
    the edge list only (never node labels for the whole corpus), so
    isolated nodes cost nothing until the final union: for near-dup
    graphs the iteration runs over the duplicates, not the corpus.
    """
    cur = (
        edges.selectExpr("id_a AS u", "id_b AS v")
        .union(edges.selectExpr("id_b AS u", "id_a AS v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_count = cur.count()
    if prev_count == 0:
        return nodes.select(
            F.col(id_col).alias(id_col),
            F.col(id_col).alias("component_id"),
        )
    for _ in range(max_iter):
        # Each star phase is ONE groupBy(collect_set) + a scan-side
        # explode of the rewired edges (r12): the neighbor set, its
        # min, and the emitted edges all come out of a single
        # exchange per phase — was groupBy(min) + join + distinct
        # per phase (~6 exchanges/round, now 3; per-round results
        # identical, argued inline). collect_set dedupes, so the
        # pre-distincts go too.
        #
        # large-star: per node u attach every strictly-larger
        # neighbor to m = min(N(u) ∪ {u}). Emitted (v, m) always has
        # m ≤ u < v — already oriented big→small and never
        # reflexive, so the old greatest/least re-orientation and
        # u ≠ v filter are no-ops here.
        sym = cur.union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        large = (
            sym.groupBy("u")
            .agg(F.collect_set("v").alias("ns"))
            .select(
                F.explode(
                    F.expr(
                        "transform(filter(ns, v -> v > u), "
                        "v -> struct(v AS u, "
                        "least(u, array_min(ns)) AS v))"
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
        )
        # small-star over the big→small edges: attach N(u) ∪ {u} to
        # m = min(N(u)) (all neighbors are < u here, so min(N(u)) =
        # min(N(u) ∪ {u})); the neighbor equal to m drops via u ≠ v
        # exactly as the old join form did.
        small = (
            large.groupBy("u")
            .agg(F.collect_set("v").alias("ns"))
            .select(
                F.explode(
                    F.expr(
                        "transform(concat(ns, array(u)), "
                        "v -> struct(v AS u, array_min(ns) AS v))"
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint = edge set unchanged by the round. Structural
        # shortcuts ("is it star-shaped?") false-positive on a node
        # pointing at two still-unmerged roots, so compare the sets:
        # equal count + no new row ⟺ equal (both sides distinct).
        n = small.count()
        grew = (
            n != prev_count
            or small.join(cur, ["u", "v"], "left_anti").limit(1).count() > 0
        )
        cur = small
        prev_count = n
        if not grew:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iter} "
            "rounds — raise max_iter (rounds needed ≈ log2 of the "
            "largest component)"
        )
    member = cur.select(F.col("u").alias("id"), F.col("v").alias("label"))
    roots = cur.select(F.col("v").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    labeled = member.unionByName(roots)
    singles = (
        nodes.select(F.col(id_col).alias("id"))
        .join(labeled.select("id"), "id", "left_anti")
        .withColumn("label", F.col("id"))
    )
    return labeled.unionByName(singles).select(
        F.col("id").alias(id_col), F.col("label").alias("component_id")
    )


def near_dup_clusters(
    df: DataFrame,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup clustering on a deterministic candidate graph:
    consecutive-id pairs with exact n-gram Jaccard ≥ threshold form
    the edges (LSH would propose the pairs at scale; consecutive
    pairs keep the oracle exact), then connected components label
    each doc with its keeper (= min id in the component)."""
    a = df.select(F.col(id_col).alias("id_a"))
    b = df.select(F.col(id_col).alias("id_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    edges = ngram_jaccard_pairs(df, pairs, text_col, id_col).filter(
        F.col("jaccard") >= threshold
    )
    return connected_components(df, edges.select("id_a", "id_b"), id_col)


# -- n-gram Jaccard ----------------------------------------------------------


def _with_token_ngrams(
    df: DataFrame, text_col: str, n: int, out_col: str = "grams"
) -> DataFrame:
    """Stage the token array as its own column, THEN build n-grams
    from the attribute: a lambda body re-evaluates any non-attribute
    subtree per element (HOFs run interpreted), so inlining
    split(trim(text)) into the slice() would tokenize the document
    once per n-gram index — O(tokens²) characters per row. Staged,
    the tokenization is once-per-row and the lambda only slices an
    attribute. CollapseProject keeps the multi-referenced non-cheap
    column materialized."""
    # the gram build binds the token array to a lambda variable via
    # a single-element transform (`transform(array(__toks), t ->
    # ...)[0]`): CollapseProject inlines the staged `__toks` =
    # split(...) into every reference site, and measured at sf0.1
    # that re-split (once per consuming expression per row) was ~3×
    # the single-evaluation cost — inside the let-binding every
    # inner reference is the lambda attribute `t`, evaluated once
    # per row no matter how many expressions consume the grams
    return df.withColumn(
        "__toks", F.expr(f"split(trim({text_col}), '{TOKEN_SEP_SQL}')")
    ).withColumn(
        out_col,
        # null text must yield a NULL gram set, not [""]: concat_ws
        # swallows the null slice into an empty string otherwise,
        # and every pair of null docs would "match" with jaccard 1.0
        F.when(
            F.col("__toks").isNotNull(),
            F.expr(
                f"transform(array(__toks), t -> array_distinct("
                f"transform(sequence(1, greatest(size(t) - {n} + 1, 1)),"
                f" i -> concat_ws(' ', slice(t, i, {n})))))[0]"
            ),
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact token n-gram Jaccard for given candidate pairs
    (id_a, id_b) — the verification stage after LSH narrows
    candidates. array_intersect/array_union on distinct n-gram
    sets; per-pair cost linear in document length.

    The gram frame localCheckpoints: both verify sides consume it,
    and Catalyst inlines an unmaterialized subplan into each — the
    pre-r8 plan tokenized the corpus once per side (the
    _jaccard_join_stages lesson applied to the pair-verify
    entrypoint)."""
    docs = (
        _with_token_ngrams(ensure_parallelism(df), text_col, n)
        .select(F.col(id_col), "grams")
        .localCheckpoint()  # 2 consumers: the a- and b-side joins
    )
    a = docs.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    # null text -> null gram set -> UNKNOWN similarity, never a
    # match: without the guard, size(array_intersect(null, null))
    # arithmetic can score two null docs as identical and fuse them
    # into one dedup cluster (caught by the null-fuzz gate)
    jac = F.when(
        F.col("g_a").isNotNull() & F.col("g_b").isNotNull(),
        F.round(inter / F.nullif(union, F.lit(0)), 6),
    )
    return (
        # the id_b join is where the per-pair intersect/union
        # evaluates — pin BOTH inputs so AQE's byte-driven
        # coalescing cannot serialize the verify CPU onto one task
        # (r11 measurement: x_snm_dedup's verify ran as ONE 2.7 s
        # task at local[32]; if AQE broadcasts one side, the other,
        # streamed side keeps the pinned width)
        pin_join_parallelism(pairs.join(a, "id_a"), "id_b")
        .join(pin_join_parallelism(b, "id_b"), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
    )


def _ordered_gram_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
) -> DataFrame:
    """Shared candidate-generation substrate for the set-similarity
    join family (jaccard, containment): each surviving doc's
    DISTINCT n-gram set, dictionary-encoded to longs and sorted by
    the rarest-first total order (corpus frequency, frozen gram
    id). Returns the checkpointed (id, toks, n) frame."""
    # empty/whitespace-only text must be EXCLUDED, not tokenized:
    # split(trim('')) yields [''] whose gram set is {''} — two empty
    # docs would otherwise "match" at jaccard 1.0 (found by the
    # hypothesis completeness test, invisible on generator data)
    #
    # localCheckpoint, not laziness: grams is consumed by the
    # frequency aggregate, the per-doc re-aggregation, AND both
    # verify sides — Catalyst inlines a non-materialized subplan
    # into EVERY consumer, so without the checkpoint the final plan
    # re-scanned and re-tokenized the corpus 6× (the pagerank/
    # triangles lesson; each extra FileScan at 100 TB is a full
    # corpus pass); checkpoint BEFORE the size/null filter, because
    # filtering on size(grams) upstream of the materialization makes
    # Catalyst evaluate the whole gram-build expression twice per
    # row — measured ~3 s of the stage's 4 s at sf0.1. The vocab
    # checkpoint freezes monotonically_increasing_id (it is
    # nondeterministic across evaluations, and two consumers seeing
    # two assignments would silently break set equality downstream);
    # the ordered checkpoint exists because the prefix explode
    # self-joins AND the verify stage reads both sides.
    grams = (
        _with_token_ngrams(
            ensure_parallelism(
                df.filter(
                    F.col(text_col).isNotNull()
                    & (F.trim(F.col(text_col)) != "")
                )
            ),
            text_col,
            n,
        )
        .select(F.col(id_col).alias("id"), "grams")
        .localCheckpoint()
    ).filter(F.col("grams").isNotNull() & (F.size("grams") > 0))
    tok = grams.select("id", F.explode("grams").alias("g"))
    vocab = (
        tok.groupBy("g")
        .agg(F.count(F.lit(1)).alias("f"))
        .withColumn("gid", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    return (
        tok.join(vocab, "g")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("f"), F.col("gid")))
            ).alias("st")
        )
        .select(
            "id",
            F.expr("transform(st, s -> s.gid)").alias("toks"),
            F.size("st").alias("n"),
        )
        .localCheckpoint()
    )


#: Prefix length above which a doc posts single grams instead of
#: gram pairs (pair posting is O(prefix²) per doc — a --patho2
#: megadoc with a 6.4k-gram prefix must not post 20M pairs).
_PAIR_PREFIX_CAP = 64


def _jaccard_join_stages(
    df: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
    n: int,
):
    """EXACT Jaccard-threshold self-join via prefix filtering (the
    AllPairs/PPJoin family, Bayardo et al. / Xiao et al.) — finds
    EVERY pair of documents with n-gram Jaccard ≥ threshold without
    ever forming the all-pairs product, and without LSH's false
    negatives.

    The theorem: sort every document's gram set by one global total
    order; if J(x, y) ≥ t then the SMALLEST common gram w lies
    within both docs' prefixes (all grams of x before w's position
    are non-shared, and x holds ≥ α = ⌈t/(1+t)·(|x|+|y|)⌉ shared
    grams at positions ≥ pos(w), so pos_x(w) ≤ |x| − α + 1; same
    for y). Each side's prefix length substitutes its worst-case
    admissible partner into α — PPJoin's asymmetric prefixes
    (Xiao et al. 2008): the LARGER doc y (partners have |x| ≥
    t·|y|) indexes its first |y| − ⌈t·|y|⌉ + 1 grams, while the
    SMALLER doc x (partners have |y| ≥ |x|, so α ≥
    ⌈2t/(1+t)·|x|⌉) only PROBES with its first
    |x| − ⌈2t/(1+t)·|x|⌉ + 1 — the shorter mid-prefix. Candidates
    = (probe gram of smaller doc) ⋈ (index gram of larger doc),
    and ordering the vocabulary rarest-first makes prefixes carry
    the rarest grams, keeping every bucket small. The asymmetry is
    measured, not cosmetic: at sf0.1 it cuts the prefix join from
    555k to 331k rows and candidates from 444,508 to 314,530
    (−29%) with zero verify-output change (pinned in
    tests/test_scale_patterns.py).

    Shuffle budget: gram-frequency aggregate (pair-keyed, skew-free)
    → frequency join back (AQE broadcasts the vocab side when it
    fits) → per-doc re-aggregation → equi-join on prefix grams →
    exact verify on the candidates only. Every stage is keyed or
    bounded; the only pairwise work is on prefix-bucket candidates,
    which the size filter (t·max(|x|,|y|) ≤ min(|x|,|y|)) prunes
    further.

    Round 11: candidate generation is TWO-TIERED (see the inline
    block) — gram-PAIR posting over +1-extended prefixes for normal
    docs (the Adapt-Join extended-prefix theorem; keeps candidate
    growth linear when the gram space saturates, the regime the
    sf1 scaling clone exposed as a 1.5 decade exponent), single-gram
    posting for tiny docs (a qualifying pair may share only one
    gram) and huge-prefix docs (pair posting is O(prefix²) per doc). This is the exact-answer sibling of MinHash-LSH
    (minhash_near_dup_pairs): LSH when approximate recall is
    acceptable, prefix filtering when the contract is exactness.

    The verify stage intersects DICTIONARY-ENCODED gram sets
    (array<long>), not the gram strings: the frequency aggregate's
    vocab frame assigns each distinct gram a unique long id
    (monotonically_increasing_id, frozen by a localCheckpoint so
    every consumer sees ONE assignment), and Jaccard is invariant
    under any bijective re-labeling of set elements. Per-pair
    verify cost is dominated by copying the two gram arrays into
    the join row and hashing their elements — longs cut that
    constant ~2.5× vs strings (measured 7.8 s → 3.2 s over 444k
    candidates at sf0.1) and shrink the broadcast ~4×. The total
    order for prefixes is (frequency, gram-id): rarest-first, with
    a tiebreak that is arbitrary-but-fixed within the run —
    candidate completeness needs only that both docs sort by the
    SAME total order, and the exact verify makes the final result
    independent of which superset of candidates was generated.

    PPJoin's POSITIONAL filter rides the same join rows for free:
    a shared gram at (1-based) positions (p_a, p_b) bounds the
    overlap by min(p_a, p_b) − 1 (shared grams sorting before it)
    + 1 (itself) + min(|x| − p_a, |y| − p_b) (shared grams after
    it), so any row whose bound falls below α(x, y) − ε cannot
    witness a qualifying pair and drops before the distinct — a
    scan-stage row filter, no extra shuffle. (The groupBy-min
    formulation — the full pair-level min over all shared prefix
    grams — was measured and rejected: on this template-heavy
    corpus it pruned <0.2% beyond the row filter while making the
    pair aggregation ~2× slower than distinct.) All float prefix/
    size bounds carry an explicit ε-guard in the SAFE direction
    (longer prefix / keep the pair): ⌈2t/(1+t)·n⌉ in binary
    floating point can exceed the exact rational at exact-multiple
    boundaries (t=0.4, n=7: 0.8/1.4·7 rounds just above 4), and a
    too-short prefix is a silent false negative the verify stage
    can never repair.
    """
    ordered = _ordered_gram_sets(df, text_col, id_col, n)
    t = threshold
    # ε-guard inside every ceil: the float product must never round
    # UP past the exact rational (that would shorten a prefix — a
    # silent false negative); rounding DOWN only lengthens it
    index_len = (
        F.col("n")
        - F.ceil(F.lit(t) * F.col("n") - F.lit(1e-6)).cast("int")
        + F.lit(1)
    ).cast("int")
    probe_len = (
        F.col("n")
        - F.ceil(
            F.lit(2 * t / (1 + t)) * F.col("n") - F.lit(1e-6)
        ).cast("int")
        + F.lit(1)
    ).cast("int")
    # -- two-tier candidate generation (round 11) ---------------------
    # The single-gram prefix join is Ω(Σ_g a_g·b_g): when the gram
    # space SATURATES (boilerplate floods, template corpora, the
    # fixed-lexicon sf1 scaling clone), every posting list grows
    # linearly with the corpus and candidates grow QUADRATICALLY —
    # measured as a 1.5 wall-time decade exponent at sf0.1→1 before
    # this change. Tier A posts gram PAIRS instead (the extended-
    # prefix theorem, Adapt-Join family — Wang, Li & Feng, SIGMOD
    # 2012): if overlap(x, y) ≥ α ≥ 2 then the 2nd-smallest shared
    # gram w2 sits within the first |x| − α + 2 grams of BOTH docs
    # (the α − 2 shared grams above it bound its position), so every
    # qualifying pair shares a PAIR of grams inside the +1-extended
    # prefixes and the join key becomes (g1, g2) — pair-bucket
    # collision rates stay sparse long after single-gram buckets
    # saturate. Tier B keeps the c=1 single-gram join for the docs
    # the pair tier must not or cannot serve: tiny docs (a
    # qualifying pair with n_a + n_b < 2(1+t)/t may share only ONE
    # gram) and huge-prefix docs (pair posting is quadratic in
    # prefix length — the --patho2 megadoc would post C(6.4k, 2)
    # pairs). Pairs are covered exactly once-or-more: (S, S) by the
    # pair tier, anything touching B by the single-gram tiers; the
    # exact verify downstream dedups and decides.
    small_bound = int(math.ceil(2 * (1 + t) / t))
    base = (
        ordered.withColumn("__ilen", index_len)
        .withColumn("__mlen", probe_len)
        .withColumn(
            "__tier_b",
            (index_len + F.lit(1) > F.lit(_PAIR_PREFIX_CAP))
            | (F.col("n") <= F.lit(small_bound)),
        )
    )
    # one explode serves both single-gram sides (the probe prefix is
    # a PREFIX of the index prefix; position rides along for the
    # positional filter — 0-based from posexplode, 1-based in the
    # bound). The +1 extension only feeds the pair tier.
    pref = base.select(
        "id",
        "n",
        "__mlen",
        "__ilen",
        "__tier_b",
        F.posexplode(F.expr("slice(toks, 1, __ilen + 1)")).alias(
            "pos0", "g"
        ),
    )
    # the probe side is the SMALLER doc of the pair under the
    # (size, id) total order. Completeness: for |y| >= |x| a
    # qualifying pair needs overlap >= ceil(2t/(1+t)·|x|), so it
    # must share a gram between x's mid-prefix and y's index
    # prefix (Xiao et al., PPJoin) — the argument only needs
    # |probe| <= |container|, which the (size, id) tie order
    # preserves on equal sizes. NOTE: for t < 1 the mid-prefix
    # (fraction 2t/(1+t)) is strictly SHORTER than the index
    # prefix (fraction t) even at equal sizes — the two bounds
    # are never "identical", so don't collapse the asymmetric
    # prefixes into one shared width.
    smaller = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )
    size_ok = (
        F.lit(t) * F.col("n_b") <= F.col("n_a") + F.lit(1e-9)
    )
    alpha = (
        F.lit(t) * (F.col("n_a") + F.col("n_b")) / F.lit(1.0 + t)
    )

    # PPJoin positional bound for a shared gram at 1-based positions
    # (pa, pb): overlap ≤ (shared grams sorting before it) + itself
    # + (shared grams after it). A failing row proves the pair
    # misses the threshold; the pair may still enter through another
    # shared gram's row — a conservative, shuffle-free row filter.
    def _ubound(pa: str, pb: str):
        return F.least(F.col(pa), F.col(pb)) + F.least(
            F.col("n_a") - F.col(pa), F.col("n_b") - F.col(pb)
        )

    # ---- tier A: c=2 gram-pair posting over the extended prefixes
    pair_src = base.filter(~F.col("__tier_b")).select(
        "id",
        "n",
        "__mlen",
        F.expr("slice(toks, 1, __ilen + 1)").alias("__pref"),
    )
    pairs = (
        pair_src.select(
            "id",
            "n",
            "__mlen",
            "__pref",
            F.posexplode("__pref").alias("i0", "g1"),
        )
        .select(
            "id",
            "n",
            "__mlen",
            (F.col("i0") + 1).alias("p1"),
            "g1",
            F.posexplode(
                F.expr("slice(__pref, i0 + 2, size(__pref))")
            ).alias("j0", "g2"),
        )
        .select(
            "id",
            "n",
            "__mlen",
            "p1",
            "g1",
            (F.col("p1") + F.col("j0") + 1).alias("p2"),
            "g2",
        )
    )
    pa2 = pairs.filter(F.col("p2") <= F.col("__mlen") + 1).select(
        F.col("id").alias("id_a"),
        F.col("n").alias("n_a"),
        F.col("p1").alias("p1_a"),
        F.col("p2").alias("p2_a"),
        "g1",
        "g2",
    )
    pb2 = pairs.select(
        F.col("id").alias("id_b"),
        F.col("n").alias("n_b"),
        F.col("p1").alias("p1_b"),
        F.col("p2").alias("p2_b"),
        "g1",
        "g2",
    )
    cand_pairs = (
        pa2.join(pb2, ["g1", "g2"])
        .filter(
            smaller
            & size_ok
            & (_ubound("p1_a", "p1_b") + F.lit(1e-9) >= alpha)
            & (_ubound("p2_a", "p2_b") + F.lit(1e-9) >= alpha)
        )
        .select("id_a", "id_b")
    )
    # ---- tier B: c=1 single-gram join wherever a B doc is involved
    a1 = pref.filter(F.col("pos0") < F.col("__mlen")).select(
        F.col("id").alias("id_a"),
        F.col("n").alias("n_a"),
        (F.col("pos0") + 1).alias("p_a"),
        "g",
        F.col("__tier_b").alias("tb_a"),
    )
    b1 = pref.filter(F.col("pos0") < F.col("__ilen")).select(
        F.col("id").alias("id_b"),
        F.col("n").alias("n_b"),
        (F.col("pos0") + 1).alias("p_b"),
        "g",
        F.col("__tier_b").alias("tb_b"),
    )
    c1_filter = smaller & size_ok & (
        _ubound("p_a", "p_b") + F.lit(1e-9) >= alpha
    )
    c1a = (
        a1.filter(F.col("tb_a"))
        .join(b1, "g")
        .filter(c1_filter)
        .select("id_a", "id_b")
    )
    c1b = (
        a1.filter(~F.col("tb_a"))
        .join(b1.filter(F.col("tb_b")), "g")
        .filter(c1_filter)
        .select("id_a", "id_b")
    )
    cand = (
        cand_pairs.unionByName(c1a)
        .unionByName(c1b)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    return ordered, cand


def jaccard_candidate_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The candidate stage of :func:`jaccard_similarity_join`,
    exposed so the prefix filter's pruning power is testable and
    monitorable: |candidates| ≪ n·(n−1)/2 is the property that
    makes the join survive corpus scale (asserted objectively in
    tests/test_scale_patterns.py)."""
    _, cand = _jaccard_join_stages(df, threshold, text_col, id_col, n)
    return cand


def jaccard_similarity_join(
    df: DataFrame,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering
    (AllPairs/PPJoin family) — see :func:`_jaccard_join_stages` for
    the staged algorithm and scale notes; this wrapper runs the
    exact verify over the candidate pairs only, on the
    dictionary-encoded (array<long>) gram sets."""
    ordered, cand = _jaccard_join_stages(df, threshold, text_col, id_col, n)
    ga = ordered.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("g_a"),
        F.col("n").alias("n_a"),
    )
    gb = ordered.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("g_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("g_a", "g_b"))
    # the gram sets are distinct, so |A ∪ B| = |A| + |B| − |A ∩ B| —
    # one set-build per pair instead of two (array_union measured
    # ~40% of verify cost at sf0.1); set sizes ride along from the
    # prefix stage instead of re-measuring the arrays
    union = F.col("n_a") + F.col("n_b") - inter
    jac = inter / F.nullif(union, F.lit(0))
    return (
        # shuffle_hash, not sort-merge: SMJ sorts the array-carrying
        # candidate stream and evaluates the jaccard predicate inside
        # the join condition — measured 4.0 s vs 1.1 s at sf0.1 (the
        # x_lsh_tuning verify lesson); hash build sides are the
        # bounded per-partition gram-set slices
        cand.join(ga.hint("shuffle_hash"), "id_a")
        .join(gb.hint("shuffle_hash"), "id_b")
        # threshold on the raw ratio (exact-int division, engine-
        # portable); round only the emitted column
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def containment_join(
    df: DataFrame,
    threshold: float = 0.7,
    min_grams: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """EXACT set-CONTAINMENT join: every ORDERED pair (A, B) with
    |A ∩ B| / |A| ≥ threshold — the asymmetric near-dup detector
    Jaccard misses by construction (a 50-gram quote inside a
    5000-gram page has Jaccard ≈ 0.01 but containment 1.0): quotes,
    partial copies, pages that engulf another document.

    Candidate theorem (the prefix-filter lemma with α = ⌈t·|A|⌉):
    containment ≥ t means A shares ≥ α grams with B, so the
    smallest common gram sits within A's first |A| − α + 1 elements
    of the global rarity order. The CONTAINER side has no usable
    prefix (its partners can be arbitrarily small), so B joins with
    its FULL gram list — the inverted-index asymmetry the
    decontamination operator already uses; the probe side's rare
    prefix grams keep the bucket lists short. The positional bound
    (min(p_a, p_b) − 1 + 1 + min(|A| − p_a, |B| − p_b) ≥ α − ε)
    rides the join rows as a free row filter, and |B| ≥ ⌈t·|A|⌉
    prunes by size. Verify is exact: intersect the
    dictionary-encoded sets over DISTINCT candidates only,
    shuffle_hash (the jaccard verify lesson).

    ``min_grams`` floors the CONTAINED side (default 5): a 1-gram
    doc is "contained" in every page sharing that gram — noise by
    the metric's own geometry, excluded by contract (mirror the
    floor in any differential oracle). Emits (id_a, id_b,
    containment) where id_a is the contained doc; both directions
    of a pair can appear. All float bounds carry ε-guards in the
    safe direction (longer prefix / keep)."""
    t = threshold
    ordered = _ordered_gram_sets(df, text_col, id_col, n)
    probe_len = (
        F.col("n")
        - F.ceil(F.lit(t) * F.col("n") - F.lit(1e-6)).cast("int")
        + F.lit(1)
    ).cast("int")
    a = (
        ordered.filter(F.col("n") >= min_grams)
        .withColumn("__plen", probe_len)
        .select(
            F.col("id").alias("id_a"),
            F.col("n").alias("n_a"),
            F.posexplode(F.expr("slice(toks, 1, __plen)")).alias(
                "pos0", "g"
            ),
        )
        .select("id_a", "n_a", (F.col("pos0") + 1).alias("p_a"), "g")
    )
    b = ordered.select(
        F.col("id").alias("id_b"),
        F.col("n").alias("n_b"),
        F.posexplode("toks").alias("pos0", "g"),
    ).select("id_b", "n_b", (F.col("pos0") + 1).alias("p_b"), "g")
    alpha = F.ceil(F.lit(t) * F.col("n_a") - F.lit(1e-6))
    ubound = F.least("p_a", "p_b") + F.least(
        F.col("n_a") - F.col("p_a"), F.col("n_b") - F.col("p_b")
    )
    cand = (
        a.join(b, "g")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("n_b") >= alpha)
            & (ubound >= alpha)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ga = ordered.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("g_a"),
        F.col("n").alias("n_a"),
    )
    gb = ordered.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("g_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("g_a", "g_b"))
    cont = inter / F.col("n_a")
    return (
        cand.join(ga.hint("shuffle_hash"), "id_a")
        .join(gb.hint("shuffle_hash"), "id_b")
        .filter(cont >= t)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )


def edit_distance_join(
    df: DataFrame,
    max_dist: int = 2,
    q: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT edit-distance threshold self-join (the Ed-Join family,
    Gravano et al. 2001 count filtering + Xiao et al. 2008 q-gram
    prefixes): every pair of strings with Levenshtein distance ≤
    ``max_dist``, without the all-pairs product — the string-metric
    sibling of :func:`jaccard_similarity_join` for titles, names,
    URLs, and other short keys where token-set similarity is too
    coarse.

    The theorem chain: one edit operation destroys at most ``q``
    positional q-grams, so ed(a, b) ≤ k implies the q-gram BAGS
    share ≥ T = max(|a|,|b|) − q + 1 − k·q grams. Bags become sets
    by numbering each gram's occurrences — the i-th ``"ab"`` in a
    is the element ("ab", i) — under which bag intersection IS set
    intersection, and the smallest-common-element prefix argument
    (see :func:`_jaccard_join_stages`) applies with α = T: both
    sides must share an occurrence-annotated gram among their first
    n_pos − T + 1 ≤ k·q + 1 elements in ANY global total order.
    Rarity-first ordering — corpus frequency, then (gram, occ) as
    the unique tiebreak, no synthetic ids needed — keeps the
    constant-width prefixes on the rarest grams.

    CONTRACT: strings shorter than (k+1)·q characters are EXCLUDED
    (n_pos ≤ k·q makes T < 1 — e.g. ed("ab", "cd") = 2 with zero
    shared grams — so no gram-sharing scheme can be complete; tiny
    strings need a different algorithm, and at corpus scale they
    all-pairs among themselves by the metric's own geometry, which
    is exactly the plan shape this join exists to avoid). Distance
    is per-CODEPOINT (Spark semantics); keep inputs ASCII for
    engine-portable oracles — DuckDB's levenshtein counts bytes.

    Scale shape (the jaccard-join stages one-for-one): gram explode
    → per-element corpus-frequency aggregate → per-string sorted
    re-aggregation (all shuffles keyed by string id or element) →
    constant-width prefix explode → equi-join on (gram, occ) with
    the ±k length filter → exact Levenshtein verify over DISTINCT
    candidates only, strings attached via shuffle_hash joins (SMJ
    would sort the candidate stream; the jaccard verify lesson).
    Emits (id_a, id_b, dist) with id_a < id_b."""
    from pyspark.sql import Window

    k = int(max_dist)
    min_len = (k + 1) * q
    strings = (
        ensure_parallelism(
            df.filter(
                F.col(text_col).isNotNull()
                & (F.length(text_col) >= min_len)
            )
        )
        .select(F.col(id_col).alias("id"), F.col(text_col).alias("s"))
        .localCheckpoint()  # elems below + both verify sides
    )
    elems = (
        strings.withColumn("len", F.length("s"))
        .select(
            "id",
            "len",
            # min_len filter above guarantees length(s) >= q, so the
            # no-greatest sequences stay ascending from 1; same
            # length-adaptive hybrid as _char_gram_sql (substring is
            # O(pos) — quadratic on megadocs, fastest on short rows)
            F.posexplode(
                F.expr(
                    f"CASE WHEN length(s) <= {_GRAM_DIRECT_MAX} THEN"
                    f" transform(sequence(1, length(s) - {q} + 1),"
                    f" i -> substring(s, i, {q}))"
                    f" ELSE transform(array(split(s, '')), c ->"
                    f" transform(sequence(1, size(c) - {q} + 1),"
                    f" i -> array_join(slice(c, i, {q}), '')))[0] END"
                )
            ).alias("i", "g"),
        )
        # occurrence number: the multiset-to-set annotation, ordered
        # by gram position within the string (per-(id, gram) window,
        # never global)
        .withColumn(
            "occ",
            F.row_number().over(
                Window.partitionBy("id", "g").orderBy("i")
            ),
        )
        .select("id", "len", "g", "occ")
        .localCheckpoint()  # freq aggregate + per-string sort
    )
    freq = elems.groupBy("g", "occ").agg(F.count(F.lit(1)).alias("f"))
    prefix_w = k * q + 1
    pref = (
        elems.join(freq, ["g", "occ"])
        .groupBy("id", "len")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("f", "g", "occ"))
                ),
                1,
                prefix_w,
            ).alias("pre")
        )
        .select(
            "id", "len", F.explode("pre").alias("e")
        )
        .select("id", "len", F.col("e.g").alias("g"), F.col("e.occ").alias("occ"))
    )
    a = pref.select(
        F.col("id").alias("id_a"), F.col("len").alias("len_a"), "g", "occ"
    )
    b = pref.select(
        F.col("id").alias("id_b"), F.col("len").alias("len_b"), "g", "occ"
    )
    cand = (
        a.join(b, ["g", "occ"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= k)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = strings.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = strings.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    # thresholded DP (r12): the 3-arg form early-exits once the
    # distance provably exceeds k — O(len·k) per candidate instead
    # of O(len²) — and returns the EXACT distance for every pair it
    # accepts, so the emitted rows are value-identical (the fuzzy
    # band join already used this form; guide §1.2 per-task work).
    dist = F.levenshtein("s_a", "s_b", k)
    return (
        cand.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .filter(dist >= 0)
        .select("id_a", "id_b", dist.cast("int").alias("dist"))
    )


# -- decontamination ----------------------------------------------------------


def decontaminate(
    df: DataFrame,
    contamination: DataFrame,
    n: int = 3,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training documents that overlap an evaluation/benchmark
    set: a doc is contaminated when >= ``min_hits`` of its token
    n-grams appear in the contamination corpus' n-gram set.

    Plan shape: the contamination set collapses to DISTINCT n-grams
    (it is the eval set — small by definition) and BROADCASTS; the
    corpus explodes to (doc, gram) and inner-joins the broadcast
    set, so the fact side never shuffles for the probe. Returns
    (doc_id, n_hits, contaminated); compose with a filter on
    ``NOT contaminated`` to clean the corpus."""
    # explode_outer, deliberately: plain explode over the staged
    # attribute lets InferFiltersFromGenerate add `size(grams) > 0`,
    # and filter pushdown re-inlines the full gram expression below
    # the parallelizing exchange — the whole corpus then tokenizes
    # on the scan's (possibly single) input split, twice. The gram
    # array is never empty (sequence lower bound 1), so outer
    # semantics are identical and the inference is suppressed.
    bad = (
        _with_token_ngrams(ensure_parallelism(contamination), text_col, n)
        .select(F.explode_outer("grams").alias("gram"))
        .distinct()
    )
    doc_grams = _with_token_ngrams(
        ensure_parallelism(df), text_col, n
    ).select(F.col(id_col), F.explode_outer("grams").alias("gram"))
    hits = (
        doc_grams.join(F.broadcast(bad), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def bloom_decontaminate(
    df: DataFrame,
    contamination: DataFrame,
    n: int = 3,
    n_bits: int = 1 << 20,
    n_hashes: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter decontamination — the constant-memory scale path
    beside :func:`decontaminate`'s exact gram join (Bloom 1970).

    Each contamination n-gram sets ``n_hashes`` bit positions
    (``portable_hash60("{j}:{gram}") mod n_bits``); a training gram
    is bloom-POSITIVE when all of its positions are set. No false
    negatives by construction — every doc the exact join flags, this
    flags too (pinned as a property test) — and a tunable
    false-positive rate (~(s/m)^k) in the other direction.

    Why this exists next to the exact join: the exact gram set is
    O(|eval| · tokens) strings on the wire; the bloom filter is a
    FIXED n_bits/8 bytes (128 KiB at the 2^20 default) no matter how
    large the benchmark suite grows — at 100 TB you broadcast the
    bitmap, not the grams. In DataFrame terms the bitmap is the
    distinct set-bit table (≤ n_bits rows, bounded regardless of
    eval size) and membership is a broadcast join on the position —
    the relational rendering of a bitmap probe, which is also what
    keeps the DuckDB oracle hash-exact. The corpus side explodes to
    (doc, gram, j) and never shuffles for the probe; the only
    aggregations are per-(doc, gram) position counts and the per-doc
    rollup.

    Returns (doc_id, n_bloom_hits, contaminated) for every input
    doc; ``n_bloom_hits`` counts a doc's DISTINCT bloom-positive
    grams (the exact join counts occurrence hits — a bloom filter
    answers set membership, so the distinct-gram count is its
    natural unit)."""
    # NULL grams (null text) must drop explicitly: the exact join
    # discards them through equi-join semantics, but concat_ws
    # swallows a null gram into just "{j}" — null-text eval docs
    # would set the three "{j}" positions and every null-text
    # training doc would probe them right back as a phantom hit
    # (the null-fuzz gate's favorite failure class).
    set_bits = (
        _with_token_ngrams(ensure_parallelism(contamination), text_col, n)
        .select(F.explode_outer("grams").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .select(
            F.explode(
                F.array(*[F.lit(j) for j in range(n_hashes)])
            ).alias("j"),
            "gram",
        )
        .select(
            (
                portable_hash60(
                    F.concat_ws(":", F.col("j"), F.col("gram"))
                )
                % n_bits
            ).alias("pos")
        )
        .distinct()
    )
    doc_grams = (
        _with_token_ngrams(ensure_parallelism(df), text_col, n)
        .select(F.col(id_col), F.explode_outer("grams").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    probes = doc_grams.select(
        id_col,
        "gram",
        F.explode(F.array(*[F.lit(j) for j in range(n_hashes)])).alias("j"),
    ).select(
        id_col,
        "gram",
        "j",
        (
            portable_hash60(F.concat_ws(":", F.col("j"), F.col("gram")))
            % n_bits
        ).alias("pos"),
    )
    gram_hits = (
        probes.join(F.broadcast(set_bits), "pos")
        .groupBy(id_col, "gram")
        .agg(F.count_distinct("j").alias("__n_set"))
        .filter(F.col("__n_set") == n_hashes)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
    return (
        df.select(id_col)
        .join(gram_hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bloom_hits", F.lit(0)).cast("bigint").alias(
                "n_bloom_hits"
            ),
            (F.coalesce("n_bloom_hits", F.lit(0)) >= 1).alias(
                "contaminated"
            ),
        )
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY profile — the duplication-aware
    quality signal behind Lee et al. 2022's finding that repeated
    text trains worse: for each doc, the fraction of its distinct
    token n-grams whose FIRST corpus occurrence (min doc id over
    all docs containing the gram) is this doc. A doc assembled from
    already-seen text scores near 0; fresh text scores near 1 —
    compose with a threshold filter to drop low-novelty docs, the
    n-gram-granular complement of whole-doc dedup.

    Scale shape: the staged-token n-gram build is scan-side
    (:func:`_with_token_ngrams` — tokenize once, slice an
    attribute) and runs ONCE: first-occurrence is a gram-partitioned
    window ``min`` over the exploded rows, not a min-aggregate
    joined back — the aggregate+join formulation re-evaluates the
    whole tokenize+explode subplan on the probe side (2 FileScans;
    the partial-agg below the exchange defeats ReusedExchange), so
    the plan here is 1 scan + the gram exchange + the per-doc
    rollup exchange, pinned in tests/test_scale_patterns.py.
    Never a corpus self-join — cross-doc duplication is resolved
    entirely through the gram-key window. Blank and NULL text
    yield no qualifying grams and drop (a doc with no content has
    no novelty to measure); so do docs SHORTER than ``n`` tokens —
    _with_token_ngrams' ``greatest(…, 1)`` floor would hand such a
    doc one sub-``n`` pseudo-gram that can never collide with a
    real n-gram, scoring a fully-duplicated short fragment as
    maximally novel (the inverse of the signal). NULL ids drop
    (min-id ownership needs an id).

    Returns (doc_id, n_grams, n_novel, novelty) with novelty
    floor-rounded to 6 digits (the rational-ratio contract)."""
    from pac_data_pipeline_spark.functions.rounding import floor_round

    grams = (
        _with_token_ngrams(ensure_parallelism(df), text_col, n)
        .filter(F.size("__toks") >= n)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer("grams").alias("gram"),
        )
        .filter(
            F.col("doc_id").isNotNull()
            & F.col("gram").isNotNull()
            & (F.col("gram") != "")
        )
    )
    from pyspark.sql import Window

    w_gram = Window.partitionBy("gram")
    return (
        grams.withColumn("first_doc", F.min("doc_id").over(w_gram))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            floor_round(
                F.col("n_novel") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
    )


def dedup_representatives(
    df: DataFrame,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup cluster REPRESENTATIVE selection: cluster the corpus
    (:func:`near_dup_clusters`), score every doc
    (:func:`~pac_data_pipeline_spark.ext.text.quality_score`), and
    keep the HIGHEST-QUALITY copy per component (ties → smaller id)
    — the curation step naive dedup skips: keep-first/min-id keeps
    an ARBITRARY copy, while a training pipeline wants the cleanest
    one (Lee et al. 2022 dedup keeps one member per cluster; which
    member matters for downstream quality).

    Returns one row per doc: (doc_id, component_id, quality_score,
    keep, n_dup) — ``keep`` marks the representative, ``n_dup`` the
    cluster size, so the same frame drives both the filtered corpus
    (``WHERE keep``) and a dup-mass report (``n_dup > 1``).

    Shuffle shape: the component labeling's existing rounds, ONE
    hash join of the (doc, component) frame with the scan-side
    quality projection on the id, and ONE window shuffle on
    component_id — clusters are near-dup groups (tiny, bounded by
    the dup rate), never a skew risk. NULL-quality docs (NULL text)
    sort NULLS LAST explicitly on BOTH engines — desc-null placement
    is an engine default that diverges (the markov tiebreak lesson).

    The ordering score is the quality formula pinned with the
    shared IEEE floor-round, NOT x_quality_score's engine
    ``round()``: a one-ulp round() divergence is value noise in a
    report column but flips WHICH doc gets ``keep`` when it decides
    an ordering — the same amplification class as the markov
    tiebreak.
    """
    from pyspark.sql import Window

    from pac_data_pipeline_spark.ext.text import quality_parts
    from pac_data_pipeline_spark.functions.rounding import floor_round

    clusters = near_dup_clusters(
        df, threshold=threshold, text_col=text_col, id_col=id_col
    )
    _, score = quality_parts(text_col)
    qual = df.select(
        id_col, floor_round(score, 6).alias("quality_score")
    )
    joined = clusters.join(qual, id_col)
    w = Window.partitionBy("component_id")
    wr = (
        Window.partitionBy("component_id")
        .orderBy(
            F.col("quality_score").desc_nulls_last(), F.asc(id_col)
        )
    )
    return joined.select(
        id_col,
        "component_id",
        "quality_score",
        (F.row_number().over(wr) == 1).alias("keep"),
        F.count(F.lit(1)).over(w).alias("n_dup"),
    )


def lsh_tuning_table(
    df: DataFrame,
    configs: tuple[tuple[int, int], ...] = ((16, 4), (8, 8), (4, 16)),
    num_hashes: int = 64,
    shingle_k: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_fraction: float | None = None,
) -> DataFrame:
    """LSH operating-point table — the parameter-choice tool a
    dedup run needs BEFORE committing a banding to 100 TB: for each
    (bands, rows_per_band) split of one shared MinHash signature,
    the candidate volume, how many candidates verify at exact
    shingle-Jaccard ≥ ``threshold``, precision, and POOLED recall
    (share of the union of verified pairs across all evaluated
    configs — the TREC pooling convention, since exhaustive
    ground truth is exactly the all-pairs join LSH exists to avoid;
    with aligned band splits the most-bands config's candidates are
    a superset, so the pool is complete for the evaluated family).

    Everything is exact integers (counts + ppm floor divisions), so
    a SQL oracle reproduces the table bit-for-bit from the portable
    md5 tier. Scale shape: ONE signature build localCheckpoints and
    serves every config; per-config banding is the standard bucket
    join; exact verification touches only DISTINCT candidates —
    aligned configs nest, so verifying the per-config unions
    separately would re-verify the strictest config's pairs three
    times — and runs on DICTIONARY-style hashed shingle sets
    (arrays of 60-bit md5 longs, not 5-char strings: same Jaccard
    up to negligible 60-bit collisions, which both engines see
    identically, at a fraction of the intersect cost — the
    jaccard-join encoding lesson). The candidate-pair union and the
    per-pair verdicts localCheckpoint (two consumers each). Returns
    one row per config: (bands, rows_per_band, n_candidates,
    n_verified, precision_ppm, pooled_recall_ppm) — ppm NULL where
    the denominator is empty.

    ``sample_fraction`` is the 100 TB workflow in one call: tune on
    a deterministic md5-bucket sample of the corpus (the
    ``domain_mix`` membership convention — a pure function of the
    id, so the same docs are selected on any engine, partitioning,
    or rerun), then run the chosen banding on the full corpus.
    Precision/recall of a banding are per-pair rates, well
    estimated from a sample; the exact verify over the flooded
    config's candidates is quadratic-ish in sample size, which is
    exactly why tuning must NOT run on the full corpus. None (the
    default) keeps the full-corpus table — the differential-oracle
    tier."""
    from functools import reduce

    from pac_data_pipeline_spark.ext.sampling import hash_bucket

    if sample_fraction is not None:
        if not 0.0 < sample_fraction <= 1.0:
            raise ValueError(
                f"sample_fraction must be in (0, 1], got {sample_fraction}"
            )
        n_buckets = 10_000
        df = df.filter(
            hash_bucket(F.col(id_col), n_buckets)
            < int(sample_fraction * n_buckets)
        )

    # ONE scan-side pass builds the per-doc hashed shingle SET, and
    # both the OPH signature and the verify sides derive from it —
    # r12, was: explode every shingle OCCURRENCE, md5 each one, then
    # TWO corpus-shingle aggregation passes (min-per-bucket and
    # collect_set) over the ~3.5k-occurrence-per-doc exploded frame.
    # Sets are ~5× smaller than occurrence lists here (measured ~700
    # distinct of ~3.5k grams/doc at sf0.1), min-per-bucket over the
    # SET equals min over the multiset, and collect_set already
    # discarded multiplicity — so deduping per doc BEFORE md5 is
    # value-identical and deletes ~80% of the md5 CPU plus two full
    # exploded-frame exchanges/aggregations (guide §1.2 per-task
    # work + §2.4 remove shuffles outright; stage evidence in
    # OPTIMIZATION_r12.md). The inner array_distinct dedupes gram
    # STRINGS (saving hashes); the outer one dedupes the hash values
    # themselves, preserving exact set semantics under any md5
    # collision. Docs with NULL ids are dropped up front: the
    # candidate join's id_a < id_b can never be true against a NULL
    # id, so they contribute no pairs on either engine.
    gram = _char_gram_sql(text_col, shingle_k)
    h60 = "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"
    sets = (
        ensure_parallelism(df)
        .filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            F.expr(
                f"array_distinct(transform(array_distinct("
                f"filter({gram}, x -> x IS NOT NULL)), s -> {h60}))"
            ).alias("__sh"),
        )
        .filter(F.size("__sh") > 0)
        .localCheckpoint()  # sigs derivation + both verify sides
    )
    # OPH signature straight from the set: per bucket b, the min
    # hash routed to b (hash mod n), densified with the global min —
    # identical algebra to minhash_signature(portable), evaluated as
    # a scan-side HOF over the ~700-element set instead of a
    # corpus-shingle groupBy.
    sigs = sets.select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(0, {num_hashes - 1}), b -> "
            f"coalesce(array_min(filter(__sh, "
            f"h -> pmod(h, {num_hashes}) = CAST(b AS BIGINT))), "
            f"array_min(__sh)))"
        ).alias("minhash"),
    ).localCheckpoint()  # one banding per config reads it
    shingle_sets = sets.select(F.col(id_col).alias("__id"), "__sh")
    per_config = []
    for bands, rows in configs:
        cand = lsh_candidate_pairs(
            sigs, id_col, bands, rows, portable=True
        )
        per_config.append(
            cand.select(
                F.lit(bands).alias("bands"),
                F.lit(rows).alias("rows_per_band"),
                "id_a",
                "id_b",
            )
        )
    all_pairs = reduce(DataFrame.unionByName, per_config).localCheckpoint()
    a = shingle_sets.select(
        F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")
    )
    b = shingle_sets.select(
        F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # shuffle_hash, not sort-merge: the verify joins carry ~KB-wide
    # shingle arrays per row, and SMJ would SORT that payload on
    # both sides — hash joins move it once, unsorted (the flood
    # config's 100k+ candidates made the two sorts the dominant
    # cost at sf0.1)
    verdicts = (
        all_pairs.select("id_a", "id_b")
        .distinct()
        .join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter / F.nullif(union, F.lit(0)) >= F.lit(threshold)
            ).alias("__verified"),
        )
        .localCheckpoint()  # per-config rollup + pooled count
    )
    all_rows = all_pairs.join(verdicts, ["id_a", "id_b"])
    per = all_rows.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(
            F.when(F.col("__verified"), 1).otherwise(0)
        ).cast("bigint").alias("n_verified"),
    )
    pooled = verdicts.filter(F.col("__verified")).agg(
        F.count(F.lit(1)).alias("__n_pool")
    )
    # every configured row must appear even with zero candidates
    # (the --empty clone contract)
    from pac_data_pipeline_spark.session import local_table

    seed = local_table(
        df.sparkSession,
        [(b, r) for b, r in configs],
        "bands int, rows_per_band int",
    )
    return (
        seed.join(per, ["bands", "rows_per_band"], "left")
        .crossJoin(F.broadcast(pooled))
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce("n_verified", F.lit(0)).cast("bigint").alias(
                "n_verified"
            ),
            F.expr(
                "CASE WHEN coalesce(n_candidates, 0) > 0 THEN"
                " (1000000 * coalesce(n_verified, 0))"
                " div n_candidates END"
            ).alias("precision_ppm"),
            F.expr(
                "CASE WHEN __n_pool > 0 THEN"
                " (1000000 * coalesce(n_verified, 0)) div __n_pool END"
            ).alias("pooled_recall_ppm"),
        )
    )

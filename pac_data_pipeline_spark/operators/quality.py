"""Declarative data-quality checks (deequ/dbt-test-style).

A pipeline that feeds a training run needs machine-checkable gates
between stages: key uniqueness, referential integrity, null rates,
value ranges. Each check compiles to a small aggregate; the report
is the union of one-row summaries, so the whole suite is a handful
of partial-aggregated scans — no check ever materializes the
violating rows unless explicitly asked.

Scale notes: every check is a map-side-combinable aggregate (count /
count-distinct / conditional count). The FK check is a broadcast
anti-join when the parent side is dimension-sized; Spark picks
shuffle-hash automatically past the broadcast threshold. Checks on
the same table share one scan when composed via ``dq_report`` since
each emits an independent 1-row aggregate — Catalyst can't fuse
across unions, but each branch reads only its needed columns
(column pruning keeps the I/O per check minimal).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: tuple[str, ...],
    sensitive_col: str | None = None,
    k_thresholds: tuple[int, ...] = (2, 5, 10),
) -> DataFrame:
    """k-anonymity re-identification audit (Sweeney 2002) over a
    quasi-identifier column set, with Machanavajjhala et al.'s
    l-diversity when a sensitive column is named — the governance
    gate a training-data release runs before shipping records that
    could be joined back to individuals: a row whose quasi-id
    combination is shared by fewer than k rows is re-identifiable
    at confidence 1/|group|.

    One row per threshold k: total rows, equivalence-class count,
    classes below k, rows below k (exact ppm share), the global
    minimum class size, and (with ``sensitive_col``) the minimum
    per-class count of distinct sensitive values — l-diversity 1
    means an attacker who locates the class learns the secret even
    without pinpointing the row. NULL quasi-id values group
    together (groupBy semantics) — correct for this audit, since
    identical NULL patterns are mutually indistinguishable to a
    linking attacker; NULL sensitive values don't count toward
    diversity (count-distinct semantics, both engines).

    Scale shape: ONE shuffle — the equivalence-class aggregate on
    the quasi-id key — then every threshold's counts come out of a
    single pass over the class frame (|classes| rows) as
    conditional aggregates, unpivoted to long rows via the
    explode-of-structs pattern; no per-threshold rescans, nothing
    collects."""
    ldiv = (
        F.count_distinct(F.col(sensitive_col))
        if sensitive_col
        else F.lit(None).cast("bigint")
    )
    classes = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).alias("__n"),
        ldiv.alias("__l"),
    )
    agg_cols = [
        F.sum("__n").alias("__rows"),
        F.count(F.lit(1)).alias("__classes"),
        F.min("__n").alias("__min_class"),
        F.min("__l").alias("__min_l"),
    ]
    for k in k_thresholds:
        agg_cols.append(
            F.sum(F.when(F.col("__n") < k, 1).otherwise(0)).alias(
                f"__c_{k}"
            )
        )
        agg_cols.append(
            F.sum(
                F.when(F.col("__n") < k, F.col("__n")).otherwise(0)
            ).alias(f"__r_{k}")
        )
    tot = classes.agg(*agg_cols)
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.col(f"__c_{k}").alias("classes_below_k"),
                F.col(f"__r_{k}").alias("rows_below_k"),
            )
            for k in k_thresholds
        ]
    )
    return (
        tot.select(
            F.explode(rows).alias("p"),
            "__rows",
            "__classes",
            "__min_class",
            "__min_l",
        )
        .select(
            F.col("p.k").alias("k"),
            F.coalesce("__rows", F.lit(0)).cast("bigint").alias("n_rows"),
            F.col("__classes").cast("bigint").alias("n_classes"),
            F.coalesce("p.classes_below_k", F.lit(0)).cast("bigint").alias(
                "classes_below_k"
            ),
            F.coalesce("p.rows_below_k", F.lit(0)).cast("bigint").alias(
                "rows_below_k"
            ),
            F.expr(
                "CASE WHEN coalesce(__rows, 0) > 0 THEN"
                " (1000000 * coalesce(p.rows_below_k, 0)) div __rows END"
            ).alias("rows_below_ppm"),
            F.col("__min_class").cast("bigint").alias("min_class_size"),
            F.col("__min_l").cast("bigint").alias("min_l_diversity"),
        )
    )


def check_unique(df: DataFrame, cols: tuple[str, ...], name: str) -> DataFrame:
    """Violations = total rows − distinct key rows (0 ⇒ the columns
    form a key)."""
    return df.agg(
        (F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols]))
        .cast("bigint")
        .alias("n_violations")
    ).select(F.lit(name).alias("check_name"), "n_violations")


def check_not_null(df: DataFrame, col: str, name: str) -> DataFrame:
    """Violations = rows where ``col`` IS NULL."""
    return df.agg(
        F.sum(F.col(col).isNull().cast("int")).cast("bigint").alias(
            "n_violations"
        )
    ).select(F.lit(name).alias("check_name"), "n_violations")


def check_in_range(
    df: DataFrame, col: str, lo: float, hi: float, name: str
) -> DataFrame:
    """Violations = non-null values outside [lo, hi]."""
    bad = F.col(col).isNotNull() & (
        (F.col(col) < lo) | (F.col(col) > hi)
    )
    return df.agg(
        F.sum(bad.cast("int")).cast("bigint").alias("n_violations")
    ).select(F.lit(name).alias("check_name"), "n_violations")


def check_referential(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    name: str,
) -> DataFrame:
    """Violations = child rows whose non-null key has no parent row
    (anti-join; broadcast when the parent is dimension-sized)."""
    orphans = child.filter(F.col(child_key).isNotNull()).join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        child_key,
        "left_anti",
    )
    return orphans.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_violations")
    ).select(F.lit(name).alias("check_name"), "n_violations")


def dq_report(checks: list[DataFrame]) -> DataFrame:
    """Union the one-row check summaries into a (check_name,
    n_violations, passed) report."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        "check_name",
        F.coalesce("n_violations", F.lit(0)).alias("n_violations"),
        (F.coalesce("n_violations", F.lit(0)) == 0).alias("passed"),
    )


# -- single-pass fusion -------------------------------------------------------


def viol_unique(*cols: str) -> Column:
    """Violation-count aggregate: rows − distinct keys."""
    return F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols])


def viol_not_null(col: str) -> Column:
    return F.sum(F.col(col).isNull().cast("int"))


def viol_in_range(col: str, lo: float, hi: float) -> Column:
    bad = F.col(col).isNotNull() & ((F.col(col) < lo) | (F.col(col) > hi))
    return F.sum(bad.cast("int"))


def viol_accepted_values(col: str, allowed: tuple) -> Column:
    bad = F.col(col).isNotNull() & ~F.col(col).isin(list(allowed))
    return F.sum(bad.cast("int"))


def viol_expression(bad: Column) -> Column:
    return F.sum(bad.cast("int"))


def fused_checks(df: DataFrame, specs: list[tuple[str, Column]]) -> DataFrame:
    """Every same-table check in ONE partial-aggregated scan.

    ``dq_report``'s union shape reads the table once per check
    (Catalyst cannot fuse aggregates across a union); at 100 TB
    that multiplies the I/O by the number of checks. Here each
    spec is (name, violation-count AGGREGATE expression — the
    ``viol_*`` builders), all evaluated in a single wide aggregate,
    then unpivoted with ``stack`` into the same (check_name,
    n_violations) rows ``dq_report`` consumes. Cross-table checks
    (referential integrity) stay separate by nature."""
    row = df.agg(
        *[
            expr.cast("bigint").alias(f"c{i}")
            for i, (_, expr) in enumerate(specs)
        ]
    )
    pairs = ", ".join(f"'{name}', c{i}" for i, (name, _) in enumerate(specs))
    return row.selectExpr(
        f"stack({len(specs)}, {pairs}) AS (check_name, n_violations)"
    )


def table_checksum(
    df: DataFrame,
    cols: tuple[str, ...],
) -> DataFrame:
    """Order-independent table fingerprint — the migration-validation
    primitive: run it on the source system and the Spark copy and
    compare ONE row (n_rows, checksum, null_cells). Any dropped /
    duplicated / corrupted row changes the sum; row order and
    partitioning cannot (addition commutes).

    Row hash = first 8 hex digits of md5 over the '|'-joined,
    NULL-tagged column values (md5 is standardized — engine-native
    hash functions never agree across systems). Each hash is < 2^32
    and the checksum is their plain BIGINT sum, exact for up to 2^31
    rows (document sharding beyond that: checksum shards by key
    range and sums of sums still commute). NULL is tagged with a
    sentinel distinct from the string 'NULL' so a literal 'NULL'
    string cannot collide with a missing value.

    Scale shape: one scan, one map-side-combinable global agg — the
    shuffle is a single partial-sum row per task.
    """
    tagged = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null\x00"))
        for c in cols
    ]
    rowhash = F.conv(
        F.substring(F.md5(F.concat_ws("|", *tagged)), 1, 8), 16, 10
    ).cast("bigint")
    null_cells = sum(
        F.when(F.col(c).isNull(), 1).otherwise(0) for c in cols
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(rowhash).alias("checksum"),
        F.sum(null_cells).alias("null_cells"),
    )


def table_checksum_sql(table: str, cols: tuple[str, ...]) -> str:
    """The same fingerprint as DuckDB SQL. CAST to VARCHAR must
    produce identical strings on both engines — safe for integer and
    string columns (the intended key/dimension audit set); floats
    and timestamps format differently and belong behind an explicit
    round/format, not in a checksum."""
    tagged = ", ".join(
        f"coalesce(CAST({c} AS VARCHAR), chr(0) || 'null' || chr(0))"
        for c in cols
    )
    nulls = " + ".join(
        f"(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)" for c in cols
    )
    return f"""
        SELECT count(*) AS n_rows,
               CAST(SUM(CAST(concat('0x', substr(md5(
                   concat_ws('|', {tagged})), 1, 8)) AS BIGINT))
                   AS BIGINT) AS checksum,
               CAST(SUM({nulls}) AS BIGINT) AS null_cells
        FROM {table}
    """


def benford_audit(
    df: DataFrame,
    amount_col: str,
    digits: int = 6,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fraud / fabricated-data screen for naturally-occurring
    amounts (real multi-scale amounts follow P(d) = log10(1+1/d);
    invented numbers rarely do).

    Digit extraction is STRING-ON-INTEGER, not log10: amounts scale
    to exact integer cents and the first digit is the first char of
    the BIGINT's decimal rendering — integer-to-string is identical
    on every engine, while floor(log10(x)) flips at power-of-ten
    boundaries when two libms disagree by an ulp. Non-positive and
    NULL amounts drop (Benford is defined on positive magnitudes).

    One map-side-combinable digit aggregation; the expected shares
    and the chi-square contribution compute on the 9-row aggregate.
    ln() ulps absorb in round-``digits`` (the psi_drift discipline).

    Returns one row per observed digit: (digit, n, obs_share,
    benford_share, chi2_term).
    """
    # explicit floor(x*100 + 0.5): Spark's double->bigint cast
    # TRUNCATES while DuckDB's ROUNDS half-even — a 2-decimal value
    # whose double product lands a hair below an integer (0.29*100 =
    # 28.999...96) would flip first digits between engines exactly
    # at power-of-ten boundaries. The shared floor form is one IEEE
    # sequence both engines evaluate identically.
    cents = F.floor(
        F.col(amount_col).cast("double") * 100 + F.lit(0.5)
    ).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counted = (
        df.filter(F.col(amount_col).isNotNull() & (cents > 0))
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = Window.partitionBy()
    obs = F.col("n").cast("double") / F.sum("n").over(total).cast("double")
    exp = F.log(1.0 + 1.0 / F.col("digit").cast("double")) / F.log(
        F.lit(10.0)
    )
    return counted.select(
        "digit",
        "n",
        F.round(obs, digits).alias("obs_share"),
        F.round(exp, digits).alias("benford_share"),
        F.round((obs - exp) * (obs - exp) / exp, digits).alias("chi2_term"),
    )


def benford_audit_sql(
    table: str,
    amount_col: str,
    digits: int = 6,
) -> str:
    """The same audit as DuckDB SQL — identical integer-cents digit
    extraction, window total, and chi-square arithmetic."""
    cents = (
        f"CAST(floor(CAST({amount_col} AS DOUBLE) * 100 + 0.5) AS BIGINT)"
    )
    return f"""
        WITH counted AS (
            SELECT CAST(substr(CAST({cents} AS VARCHAR), 1, 1) AS INT)
                       AS digit,
                   count(*) AS n
            FROM {table}
            WHERE {amount_col} IS NOT NULL AND {cents} > 0
            GROUP BY 1
        )
        SELECT digit,
               CAST(n AS BIGINT) AS n,
               round(CAST(n AS DOUBLE)
                   / CAST(SUM(n) OVER () AS DOUBLE), {digits})
                   AS obs_share,
               round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0),
                   {digits}) AS benford_share,
               round((CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
                      - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
                   * (CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
                      - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
                   / (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)),
                   {digits}) AS chi2_term
        FROM counted
    """

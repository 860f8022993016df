"""WordPiece tokenizer (Schuster & Nakajima 2012; the BERT lineage):
train by likelihood-ratio merges, encode by greedy longest-match —
the THIRD mainstream LLM tokenizer family next to
:func:`ext.text.bpe_train` (GPT lineage, frequency argmax) and
:mod:`ext.unigram` (T5/Llama lineage, unigram-LM EM). All three now
share the same lifecycle contract and differential-test discipline.

Semantics
---------
* **Train** — identical loop shape to BPE (ONE corpus vocab
  collect, then per-round pair counts, argmax and merge rewrite on
  the driver), but the argmax maximizes the WordPiece
  likelihood ratio ``cnt(l,r) / (cnt(l) · cnt(r))`` instead of raw
  pair frequency — merging the pair whose joint occurrence most
  exceeds what its parts' unigram frequencies predict.
* **Float discipline** — the ratio is never materialized as a
  float: the sort key is the EXACT integer quotient
  ``cnt(l,r) · 10^18 div (cnt(l) · cnt(r))`` (Python integers on
  the driver, DuckDB HUGEINT in the oracle). Because
  ``cnt(l,r) ≤ min(cnt(l), cnt(r))``, the quotient is bounded by
  ``10^18 / max(cnt(l), cnt(r)) ≤ 10^18`` — always inside BIGINT —
  and the numerator by ``10^18 · cnt ≤ 10^24``, inside 128-bit.
  Ties on the quantized score break by (left, right) — the BPE
  convention — so the selected merge is integer-deterministic on
  both engines at 1e-18 ratio resolution.
* **Encode** — greedy longest-match-first against the merged piece
  set (single characters are the implicit fallback, so corpus-
  trained encoding never hits an unknown; real WordPiece's [UNK]
  arises only cross-corpus and is out of contract here).

Scale shape: the corpus is touched once (vocab aggregation and
collect); every round runs on the driver's vocab list; the merge
table is an ``n_merges``-row bounded collect; encode is a
scan-stage Arrow map with a capped per-partition word memo — the
bpe_encode shape, zero corpus shuffles.

Reference parity: the reference repo has no tokenizer; extension
surface per SURVEY §2.10 (train-once/apply-everywhere lifecycle as
in pac_data_processor.py:36-118).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

from pac_data_pipeline_spark.ext.text import (
    apply_merge,
    merge_vocab,
    pair_counts,
    py_tokens,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: Ratio quantization: scores are cnt(l,r)*SCALE div (cnt(l)*cnt(r)).
_SCALE = 10**18

#: Per-partition word→piece-count memo bound (the bpe_encode cap).
_MEMO_CAP = 1_000_000

#: Unrolled greedy steps in the SQL oracle = max word length it can
#: encode (each step consumes ≥1 char). Same bound class as the
#: BPE/unigram oracles; words beyond it trip the loud guard.
_N_STEPS = 18


def wordpiece_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` WordPiece merges. Returns (rank, left,
    right, pair_count, score_q) — score_q the exact quantized
    likelihood quotient the argmax ran on. Deterministic given the
    corpus. One Spark action (the vocab collect of
    :func:`ext.text.merge_vocab`); every round — pair and unit
    counts, the argmax, the merge rewrite — runs on the driver, the
    :func:`ext.text.bpe_train` loop with a different argmax."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    vocab = merge_vocab(df, text_col)

    merges = []
    for rank in range(n_merges):
        pairs = pair_counts(vocab)
        if not pairs:
            break
        units: dict[str, int] = {}
        for syms, freq in vocab:
            for u in syms.split(" "):
                units[u] = units.get(u, 0) + freq
        (left, right), cnt, score_q = min(
            (
                (lr, cnt, cnt * _SCALE // (units[lr[0]] * units[lr[1]]))
                for lr, cnt in pairs.items()
            ),
            key=lambda t: (-t[2], t[0]),
        )
        merges.append((rank, left, right, cnt, score_q))
        apply_merge(vocab, left, right)

    from pac_data_pipeline_spark.session import local_table

    return local_table(
        df.sparkSession,
        merges,
        "rank int, left string, right string, pair_count long, "
        "score_q long",
    )


def wordpiece_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy longest-match encode against the trained merge table:
    per word, repeatedly take the longest merged piece that prefixes
    the remaining suffix, falling back to one character. Output
    (id_col, n_tokens_ws, n_tokens_wordpiece). Broadcast piece set,
    Arrow batches, capped per-partition word memo — zero corpus
    shuffles."""
    pieces = {
        r["left"] + r["right"]
        for r in merges.select("left", "right").collect()
    }
    bc = df.sparkSession.sparkContext.broadcast(pieces)
    max_len = max((len(p) for p in pieces), default=1)

    def n_pieces(word: str, vocab: set[str]) -> int:
        n = len(word)
        pos, cnt = 0, 0
        while pos < n:
            m = 1
            for length in range(min(max_len, n - pos), 1, -1):
                if word[pos : pos + length] in vocab:
                    m = length
                    break
            pos += m
            cnt += 1
        return cnt

    def encode(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        vocab = bc.value
        memo: dict[str, int] = {}
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                words = py_tokens(text)
                total = 0
                for w in words:
                    n = memo.get(w)
                    if n is None:
                        if len(memo) >= _MEMO_CAP:
                            memo.clear()
                        n = n_pieces(w, vocab)
                        memo[w] = n
                    total += n
                out.append(
                    {
                        id_col: doc_id,
                        "n_tokens_ws": len(words),
                        "n_tokens_wordpiece": total,
                    }
                )
            yield pd.DataFrame(
                out, columns=[id_col, "n_tokens_ws", "n_tokens_wordpiece"]
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        encode,
        schema=(
            f"{id_col} {id_type}, n_tokens_ws long, "
            "n_tokens_wordpiece long"
        ),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle generators
# ---------------------------------------------------------------------------


def _wordpiece_train_ctes(
    n_merges: int, table: str, text_col: str
) -> list[str]:
    """Unrolled WordPiece training: the bpe_train_sql chain with the
    likelihood-ratio argmax — per round, pair counts AND unit counts
    over the vocab, top-1 by (exact HUGEINT quotient DESC, l, r),
    then the doubled-space rewrite."""
    cte = [
        f"""w0 AS MATERIALIZED (
            SELECT array_to_string([substring(w, i, 1)
                       FOR i IN range(1, len(w) + 1)], ' ') AS syms,
                   freq
            FROM (
                SELECT w, count(*) AS freq FROM (
                    SELECT unnest(list_filter(string_split_regex(
                        trim({text_col}, ' '),
                        '[ \\t\\n\\f\\r]+'), x -> x <> '')) AS w
                    FROM {table} WHERE {text_col} IS NOT NULL
                ) GROUP BY w)
        )"""
    ]
    for k in range(n_merges):
        cte.append(
            f"""p{k} AS MATERIALIZED (
            SELECT u[1] AS l, u[2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (SELECT unnest(list_zip(string_split(syms, ' '),
                   string_split(syms, ' ')[2:])) AS u, freq FROM w{k})
            WHERE u[2] IS NOT NULL GROUP BY 1, 2
        )"""
        )
        cte.append(
            f"""uc{k} AS MATERIALIZED (
            SELECT u, CAST(SUM(freq) AS BIGINT) AS ucnt
            FROM (SELECT unnest(string_split(syms, ' ')) AS u, freq
                  FROM w{k})
            GROUP BY u
        )"""
        )
        cte.append(
            f"""t{k} AS MATERIALIZED (
            SELECT {k} AS rank, l, r, cnt,
                   CAST((CAST(cnt AS HUGEINT) * {_SCALE})
                        // (CAST(la.ucnt AS HUGEINT) * ra.ucnt)
                        AS BIGINT) AS score_q
            FROM p{k}
            JOIN uc{k} la ON la.u = p{k}.l
            JOIN uc{k} ra ON ra.u = p{k}.r
            ORDER BY score_q DESC, l, r LIMIT 1
        )"""
        )
        if k < n_merges - 1:
            cte.append(
                f"""w{k + 1} AS MATERIALIZED (
                SELECT trim(replace(replace(
                         ' ' || replace(syms, ' ', '  ') || ' ',
                         ' ' || (SELECT l FROM t{k}) || '  '
                             || (SELECT r FROM t{k}) || ' ',
                         ' ' || (SELECT l FROM t{k})
                             || (SELECT r FROM t{k}) || ' '),
                       '  ', ' '), ' ') AS syms, freq FROM w{k}
            )"""
            )
    return cte


def wordpiece_train_sql(
    n_merges: int = 8,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """:func:`wordpiece_train` as one DuckDB statement."""
    if n_merges < 1:
        # an empty UNION ALL list would emit 'SELECT * FROM ()' —
        # fail loudly like the hits()/hits_fixture_sql n_iter guards
        raise ValueError("n_merges must be >= 1")
    cte = _wordpiece_train_ctes(n_merges, table, text_col)
    sel = " UNION ALL ".join(
        f"SELECT rank, l AS left, r AS right, cnt AS pair_count, "
        f"score_q FROM t{k}"
        for k in range(n_merges)
    )
    return "WITH " + ",\n".join(cte) + "\nSELECT * FROM (" + sel + ")"


def wordpiece_encode_sql(
    n_merges: int = 8,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_steps: int = _N_STEPS,
) -> str:
    """:func:`wordpiece_encode` (train + greedy longest-match) as one
    DuckDB statement: the train CTEs, a merged-piece table, then
    ``n_steps`` unrolled greedy steps over the DISTINCT word set —
    each step advances every unfinished word by the longest matching
    piece (theta-join on substring = piece, max over piece length)
    or one character. Words longer than ``n_steps`` trip the loud
    guard (the bpe_encode_sql glim pattern)."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    cte = _wordpiece_train_ctes(n_merges, table, text_col)
    pieces = " UNION ALL ".join(
        f"SELECT (SELECT l FROM t{k}) || (SELECT r FROM t{k}) AS piece"
        for k in range(n_merges)
    )
    cte.append(
        f"""vp AS MATERIALIZED (
        SELECT DISTINCT piece FROM ({pieces}) WHERE piece IS NOT NULL
    )"""
    )
    cte.append(
        f"""occ AS MATERIALIZED (
        SELECT {id_col} AS doc_id, unnest(list_filter(string_split_regex(
            trim(coalesce({text_col}, ''), ' '),
            '[ \\t\\n\\f\\r]+'), x -> x <> '')) AS w
        FROM {table}
    )"""
    )
    cte.append(
        f"""wlim AS MATERIALIZED (
        SELECT CASE WHEN max(len(w)) > {n_steps}
               THEN error('wordpiece oracle: word longer than '
                    || '{n_steps} chars exceeds the unrolled '
                    || 'greedy steps') ELSE 1 END AS ok
        FROM occ
    )"""
    )
    cte.append(
        """g0 AS MATERIALIZED (
        SELECT w, 1 AS pos, 0 AS cnt
        FROM (SELECT DISTINCT w FROM occ) CROSS JOIN wlim
    )"""
    )
    for s in range(n_steps):
        cte.append(
            f"""g{s + 1} AS MATERIALIZED (
            SELECT g.w,
                   CASE WHEN g.pos > len(g.w) THEN g.pos
                        ELSE g.pos + coalesce(m.len_m, 1) END AS pos,
                   CASE WHEN g.pos > len(g.w) THEN g.cnt
                        ELSE g.cnt + 1 END AS cnt
            FROM g{s} g LEFT JOIN (
                SELECT g.w, g.pos, max(len(v.piece)) AS len_m
                FROM g{s} g JOIN vp v
                  ON substring(g.w, g.pos, len(v.piece)) = v.piece
                WHERE g.pos <= len(g.w)
                GROUP BY g.w, g.pos
            ) m ON m.w = g.w AND m.pos = g.pos
        )"""
        )
    cte.append(
        f"""nsym AS MATERIALIZED (
        SELECT w, cnt AS n FROM g{n_steps}
    )"""
    )
    cte.append(
        """per AS MATERIALIZED (
        SELECT occ.doc_id, count(*) AS n_ws, SUM(nsym.n) AS n_wp
        FROM occ JOIN nsym USING (w) GROUP BY occ.doc_id
    )"""
    )
    return (
        "WITH " + ",\n".join(cte)
        + f"""
        SELECT d.{id_col} AS doc_id,
               CAST(coalesce(per.n_ws, 0) AS BIGINT) AS n_tokens_ws,
               CAST(coalesce(per.n_wp, 0) AS BIGINT)
                   AS n_tokens_wordpiece
        FROM {table} d LEFT JOIN per ON d.{id_col} = per.doc_id"""
    )

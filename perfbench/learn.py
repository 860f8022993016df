"""Learn the column distributions of a fixture directory into
``profile.json``, the only input of the seeded generator (gen.py).

    python3 perfbench/learn.py <fixture_dir>

The benchmark never reads the fixture at run time: it samples fresh
rows from the marginals recorded here, so any seed gives a new data
set with the fixture's shape. Per column one of:

- ``seq``: the row index (primary keys ``0..n-1``);
- ``fk``: uniform over the referenced table's keys;
- ``fmt``: a format of the row's key (``Supplier#000000042``);
- ``cat``: categorical values with their observed counts;
- ``quant``: 257 quantiles of a numeric column plus its decimals,
  sampled by inverse-CDF interpolation and rounded;
- ``ts``: the same over epoch microseconds, optionally day-truncated;
- ``range``: uniform integers ``[0, hi)`` that scale with the table.

``region`` and ``nation`` are tiny fixed dimensions and are stored
verbatim. ``documents.text`` gets its own model: the word lexicon
with frequencies, the word-count range, and the planted near-dup
(``dup`` marker) and exact-dup rates.
"""

from __future__ import annotations

import json
import os
import re
import sys

import duckdb

VERBATIM = ("region", "nation")
SAMPLED = ("supplier", "customer", "part", "orders", "lineitem", "events", "documents")
FOREIGN_KEYS = {
    "l_orderkey": "orders",
    "l_partkey": "part",
    "l_suppkey": "supplier",
    "o_custkey": "customer",
    "c_nationkey": "nation",
    "s_nationkey": "nation",
}
#: Integer columns that are ids of an entity with no table of its own;
#: their range scales with the table that carries them.
SCALED_RANGES = ("user_id",)
N_QUANTILES = 257


def _decimals(con, src: str, col: str) -> int:
    for d in range(0, 7):
        bad = con.execute(
            f"SELECT count(*) FROM '{src}' WHERE {col} IS NOT NULL "
            f"AND round({col}, {d}) <> {col}"
        ).fetchone()[0]
        if bad == 0:
            return d
    return 6


def _column_spec(con, table: str, src: str, col: str, ctype: str, n: int) -> dict:
    if col in FOREIGN_KEYS:
        return {"kind": "fk", "ref": FOREIGN_KEYS[col]}
    if col in SCALED_RANGES:
        hi = con.execute(f"SELECT max({col}) + 1 FROM '{src}'").fetchone()[0]
        return {"kind": "range", "hi": int(hi)}
    distinct, lo, hi = con.execute(
        f"SELECT count(DISTINCT {col}), min({col}), max({col}) FROM '{src}'"
    ).fetchone()
    if ctype in ("BIGINT", "INTEGER") and distinct == n and lo == 0 and hi == n - 1:
        return {"kind": "seq"}
    if ctype == "VARCHAR":
        m = re.fullmatch(r"([A-Za-z_#]+?)(0*)(\d+)", str(lo))
        if m and distinct == n:
            width = len(m.group(2)) + len(m.group(3))
            return {"kind": "fmt", "prefix": m.group(1), "width": width}
    if distinct <= 200:
        rows = con.execute(
            f"SELECT {col}, count(*) FROM '{src}' GROUP BY 1 ORDER BY 1"
        ).fetchall()
        return {
            "kind": "cat",
            "values": [str(v) if ctype == "TIMESTAMP" else v for v, _ in rows],
            "counts": [c for _, c in rows],
        }
    qs = [i / (N_QUANTILES - 1) for i in range(N_QUANTILES)]
    if ctype == "TIMESTAMP":
        expr = f"epoch_us({col})"
        midnight = con.execute(
            f"SELECT count(*) FROM '{src}' WHERE {col} <> date_trunc('day', {col})"
        ).fetchone()[0] == 0
        vals = con.execute(f"SELECT quantile_disc({expr}, {qs}) FROM '{src}'").fetchone()[0]
        return {"kind": "ts", "quantiles": vals, "day": midnight}
    vals = con.execute(f"SELECT quantile_disc({col}, {qs}) FROM '{src}'").fetchone()[0]
    return {"kind": "quant", "quantiles": vals, "decimals": _decimals(con, src, col)}


def _text_model(con, src: str) -> dict:
    from collections import Counter

    texts = [r[0] for r in con.execute(f"SELECT text FROM '{src}' ORDER BY doc_id").fetchall()]
    words: Counter[str] = Counter()
    lens = []
    near = 0
    for t in texts:
        w = t.split(" ")
        if "dup" in w:
            near += 1
            w = [x for x in w if x != "dup"]
        words.update(w)
        lens.append(len(w))
    exact = con.execute(
        f"SELECT count(*) FROM (SELECT text FROM '{src}' GROUP BY 1 HAVING count(*) > 1)"
    ).fetchone()[0]
    vocab = sorted(words)
    return {
        "vocab": vocab,
        "weights": [words[v] for v in vocab],
        "min_words": min(lens),
        "max_words": max(lens),
        "near_dup_rate": near / len(texts),
        "exact_dup_rate": exact / len(texts),
    }


def learn(fixture: str) -> dict:
    con = duckdb.connect()
    profile: dict = {"tables": {}}
    for t in VERBATIM:
        src = f"{fixture}/{t}.parquet"
        rel = con.execute(f"SELECT * FROM '{src}' ORDER BY 1")
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        types = con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()
        profile["tables"][t] = {
            "verbatim": [dict(zip(cols, r)) for r in rows],
            "types": {c: ty for c, ty, *_ in types},
        }
    for t in SAMPLED:
        src = f"{fixture}/{t}.parquet"
        n = con.execute(f"SELECT count(*) FROM '{src}'").fetchone()[0]
        cols = []
        for col, ctype, *_ in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall():
            if t == "documents" and col in ("text", "n_chars"):
                spec = {"kind": "derived"}
            else:
                spec = _column_spec(con, t, src, col, ctype, n)
            cols.append({"name": col, "type": ctype, **spec})
        entry = {"rows": n, "columns": cols}
        if t == "documents":
            entry["text"] = _text_model(con, src)
        profile["tables"][t] = entry
    return profile


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit("usage: learn.py <fixture_dir>")
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "profile.json")
    with open(out, "w") as fh:
        json.dump(learn(sys.argv[1]), fh, indent=1, default=str)
        fh.write("\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

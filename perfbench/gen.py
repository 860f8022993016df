"""Seeded input generator: samples fresh star-schema tables from the
marginals in ``profile.json`` (see learn.py). The benchmark calls
:func:`generate` with the run's seed and the workload's sizes.

The same seed and sizes give byte-identical tables. Every table is
sampled, never replicated, so near-duplicate pair volume in the
documents grows linearly with the corpus (planted near-dups and exact
dups at the fixture's rates). ``region`` and ``nation`` are fixed
dimensions and are written as learned. The seed and the row counts go
to ``manifest.json`` beside the tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ARROW_TYPES = {
    "BIGINT": pa.int64(),
    "INTEGER": pa.int32(),
    "DOUBLE": pa.float64(),
    "VARCHAR": pa.string(),
    "TIMESTAMP": pa.timestamp("us"),
}
#: Generation order: a foreign key's table comes before its referrer.
ORDER = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem", "events", "documents")
DAY_US = 86_400_000_000


def load_profile() -> dict:
    with open(os.path.join(HERE, "profile.json")) as fh:
        return json.load(fh)


def _inverse_cdf(rng: np.random.Generator, quantiles: list, n: int) -> np.ndarray:
    q = np.asarray(quantiles, dtype=np.float64)
    return np.interp(rng.random(n) * (len(q) - 1), np.arange(len(q)), q)


def _column(rng, spec: dict, n: int, rows: dict, keys: np.ndarray | None, scale: float):
    kind = spec["kind"]
    if kind == "seq":
        return np.arange(n, dtype=np.int64)
    if kind == "fk":
        return rng.integers(0, rows[spec["ref"]], n)
    if kind == "range":
        return rng.integers(0, max(10, round(spec["hi"] * scale)), n)
    if kind == "fmt":
        w = spec["width"]
        return [f"{spec['prefix']}{k:0{w}d}" for k in keys]
    if kind == "cat":
        counts = np.asarray(spec["counts"], dtype=np.float64)
        idx = rng.choice(len(counts), size=n, p=counts / counts.sum())
        values = spec["values"]
        return [values[i] for i in idx]
    if kind == "quant":
        return np.round(_inverse_cdf(rng, spec["quantiles"], n), spec["decimals"])
    if kind == "ts":
        us = _inverse_cdf(rng, spec["quantiles"], n).astype(np.int64)
        return (us // DAY_US) * DAY_US if spec["day"] else us
    raise ValueError(f"unknown column kind {kind!r}")


def _texts(rng: np.random.Generator, model: dict, n: int) -> list[str]:
    vocab = model["vocab"]
    w = np.asarray(model["weights"], dtype=np.float64)
    lens = rng.integers(model["min_words"], model["max_words"] + 1, n)
    words = rng.choice(len(vocab), size=int(lens.sum()), p=w / w.sum())
    kind = rng.random(n)
    back = rng.integers(1, 9, n)
    texts: list[str] = []
    pos = 0
    for i in range(n):
        k = int(lens[i])
        if i >= 8 and kind[i] < model["near_dup_rate"]:
            base = texts[i - back[i]].split(" ")
            base.insert(int(rng.integers(0, len(base) + 1)), "dup")
            texts.append(" ".join(base))
        elif i >= 8 and kind[i] > 1.0 - model["exact_dup_rate"]:
            texts.append(texts[i - back[i]])
        else:
            texts.append(" ".join(vocab[j] for j in words[pos : pos + k]))
        pos += k
    return texts


def _write(path: str, data: dict, types: dict) -> None:
    arrays = {c: pa.array(v, type=ARROW_TYPES[types[c]]) for c, v in data.items()}
    pq.write_table(pa.table(arrays), path)


def generate(out_dir: str, seed: int, scale: dict[str, float], profile: dict | None = None) -> dict:
    """Write every table of ``ORDER`` under ``out_dir``. ``scale``
    maps a table to its size relative to the learned fixture (default
    entry ``"*"``); sampled tables keep at least 10 rows."""
    profile = profile or load_profile()
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    for ti, t in enumerate(ORDER):
        spec = profile["tables"][t]
        rng = np.random.default_rng([seed, ti])
        if "verbatim" in spec:
            data = {c: [r[c] for r in spec["verbatim"]] for c in spec["types"]}
            _write(f"{out_dir}/{t}.parquet", data, spec["types"])
            rows[t] = len(spec["verbatim"])
            continue
        s = scale.get(t, scale["*"])
        n = max(10, round(spec["rows"] * s))
        data: dict = {}
        keys = None
        for col in spec["columns"]:
            if col["kind"] == "derived":
                continue
            data[col["name"]] = _column(rng, col, n, rows, keys, s)
            if col["kind"] == "seq" and keys is None:
                keys = data[col["name"]]
        if t == "documents":
            texts = _texts(rng, spec["text"], n)
            data = {
                "doc_id": data["doc_id"],
                "text": texts,
                "lang": data["lang"],
                "source": data["source"],
                "n_chars": np.fromiter((len(x) for x in texts), dtype=np.int64, count=n),
            }
        _write(f"{out_dir}/{t}.parquet", data, {c["name"]: c["type"] for c in spec["columns"]})
        rows[t] = n
    manifest = {"seed": seed, "scale": scale, "rows": rows}
    with open(f"{out_dir}/manifest.json", "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


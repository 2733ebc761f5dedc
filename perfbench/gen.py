"""Seeded input generator: the benchmark's only source of input data.

The same seed writes byte-identical files (gzip headers carry no mtime,
parquet files carry no timestamps), so two runs of one seed feed the
engine identical bytes. Sizes are fixed; the seed varies only content.

- :func:`write_mr_inputs` writes the ``mr_jsonlines`` inputs plus the
  exact expected output lines of both jobs, so those jobs are checked
  byte for byte.
- :func:`write_catalog` writes a full catalog directory (every table in
  ``catalog.TABLES``: DuckDB's oracle binds them all) whose
  ``documents`` table is a near-duplicate corpus; the other tables hold a
  few schema-correct rows.
"""

from __future__ import annotations

import datetime
import gzip
import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEARTBEAT = "_HEARTBEAT_"


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent, reproducible streams per purpose (adding a stream
    # never shifts the draws of another)
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 3 to 9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _write_gzip(path: str, data: bytes) -> None:
    with open(path, "wb") as raw, gzip.GzipFile(
        filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=1
    ) as gz:
        gz.write(data)


# -- mr_jsonlines -------------------------------------------------------------


def _json_lines(rng: np.random.Generator, names: list[str], n: int, counts: Counter) -> list[str]:
    """``n`` JSON-lines records: 1 to 6 Zipf-chosen field names per line,
    ~5% heartbeat rows, ~2% malformed lines. ``counts`` receives the
    expected field-name counts of the well-formed lines."""
    kind = rng.random(n)
    n_fields = rng.integers(1, 7, size=n)
    picks = rng.choice(len(names), size=int(n_fields.sum()), p=_zipf(len(names), 1.1))
    vals = rng.integers(0, 100_000, size=n)
    lines: list[str] = []
    at = 0
    for i in range(n):
        k = int(n_fields[i])
        idx = picks[at : at + k]
        at += k
        if kind[i] < 0.02:
            # truncated object or bare text: json.loads rejects both
            lines.append(f'{{"{names[idx[0]]}": {int(vals[i])}' if i % 2 else f"not-json-{int(vals[i])}")
            continue
        rec: dict = {}
        if kind[i] < 0.07:
            rec[HEARTBEAT] = 1359516282.5 + int(vals[i])
        for j in idx:
            rec[names[j]] = int(vals[i]) if j % 3 else f"v{int(vals[i]) % 97}"
        counts["lines_read"] += 1
        counts.update(rec.keys())
        lines.append(json.dumps(rec, separators=(",", ":")))
    return lines


def _kv_lines(rng: np.random.Generator, keys: list[str], n: int, sums: Counter) -> list[str]:
    """``n`` ``k\\tv`` lines over Zipf keys, ~1% without a tab."""
    kidx = rng.choice(len(keys), size=n, p=_zipf(len(keys), 1.05))
    vals = rng.integers(0, 1000, size=n)
    bad = rng.random(n) < 0.01
    lines: list[str] = []
    for k, v, b in zip(kidx.tolist(), vals.tolist(), bad.tolist()):
        if b:
            lines.append(f"{keys[k]} {v}")
        else:
            sums[keys[k]] += v
            lines.append(f"{keys[k]}\t{v}")
    return lines


def write_mr_inputs(
    root: str, seed: int, n_files: int, json_lines_per_file: int, kv_lines_per_file: int
) -> dict:
    """Job A input: ``n_files`` gzip JSON-lines files (gzip does not
    split, so one file per core). Job B input: a ``part-*`` directory of
    ``k\\tv`` lines. Returns paths, record counts and the expected output
    of each job as sorted ``k\\tv`` lines."""
    rng = _rng(seed, "mr")
    names = ["f_" + w for w in _words(rng, 500)]
    keys = ["k_" + w for w in _words(rng, 300)]
    a_dir = os.path.join(root, "jsonl")
    b_dir = os.path.join(root, "kv")
    os.makedirs(a_dir, exist_ok=True)
    os.makedirs(b_dir, exist_ok=True)
    counts: Counter = Counter()
    sums: Counter = Counter()
    a_paths = []
    for f in range(n_files):
        path = os.path.join(a_dir, f"events-{f:03d}.json.gz")
        _write_gzip(path, ("\n".join(_json_lines(rng, names, json_lines_per_file, counts)) + "\n").encode())
        a_paths.append(path)
        with open(os.path.join(b_dir, f"part-{f:05d}"), "w") as fh:
            fh.write("\n".join(_kv_lines(rng, keys, kv_lines_per_file, sums)) + "\n")
    expected_a = sorted(f'{json.dumps(k)}\t{v}' for k, v in counts.items())
    expected_b = sorted(f"{k}\t{v}" for k, v in sums.items())
    return {
        "json_paths": a_paths,
        "kv_dir": b_dir,
        "records_a": n_files * json_lines_per_file,
        "records_b": n_files * kv_lines_per_file,
        "expected_a": expected_a,
        "expected_b": expected_b,
    }


# -- catalog (near-dup corpus) -------------------------------------------------


def _corpus(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Zipf-vocabulary documents; ~5% exact copies and ~5% edited copies
    of distinct base documents. The edits chain four deep (base -> edit
    -> edit of the edit ...), so adjacent links clear the 0.6 Jaccard
    threshold while the chain ends do not: connected components need
    several rounds. Every seed gets the same cluster shapes, with ids
    rising along each chain, so the number of rounds does not depend on
    the seed."""
    vocab = _words(rng, 4000)
    p = _zipf(len(vocab), 1.0)
    depth = 4
    n_copy = n_docs // 20
    n_chain = n_docs // (20 * depth)
    n_base = n_docs - n_copy - depth * n_chain
    docs = [[vocab[i] for i in rng.choice(len(vocab), size=int(rng.integers(30, 91)), p=p)] for _ in range(n_base)]
    bases = rng.choice(n_base, size=n_chain + n_copy, replace=False)
    for b in bases[:n_chain]:
        cur = docs[int(b)]
        for _ in range(depth):
            cur = list(cur)
            for pos in rng.choice(len(cur), size=max(2, len(cur) // 25), replace=False):
                cur[int(pos)] = vocab[int(rng.integers(0, len(vocab)))]
            docs.append(cur)
    docs.extend(docs[int(b)] for b in bases[n_chain:])
    return [" ".join(d) for d in docs]


def _ts(days: int) -> datetime.datetime:
    return datetime.datetime(1995, 1, 1) + datetime.timedelta(days=days)


def _small_tables() -> dict[str, pa.Table]:
    """A few schema-correct rows for every table the workloads do not
    read, so the oracle can bind every view."""
    ts = pa.timestamp("us")
    return {
        "region": pa.table({"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["AFRICA", "ASIA"]}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array([0, 1], pa.int32()),
                "n_name": ["ALGERIA", "CHINA"],
                "n_regionkey": pa.array([0, 1], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array([1, 2], pa.int64()),
                "c_name": ["Customer#1", "Customer#2"],
                "c_nationkey": pa.array([0, 1], pa.int32()),
                "c_acctbal": [10.5, 20.25],
                "c_mktsegment": ["BUILDING", "MACHINERY"],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array([1], pa.int64()),
                "s_name": ["Supplier#1"],
                "s_nationkey": pa.array([0], pa.int32()),
                "s_acctbal": [5.5],
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array([1], pa.int64()),
                "p_name": ["green part"],
                "p_brand": ["Brand#12"],
                "p_type": ["STANDARD BRASS"],
                "p_size": pa.array([7], pa.int32()),
                "p_retailprice": [901.0],
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array([1], pa.int64()),
                "o_custkey": pa.array([1], pa.int64()),
                "o_orderstatus": ["O"],
                "o_totalprice": [1000.0],
                "o_orderdate": pa.array([_ts(10)], ts),
                "o_orderpriority": ["1-URGENT"],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array([1], pa.int64()),
                "l_partkey": pa.array([1], pa.int64()),
                "l_suppkey": pa.array([1], pa.int64()),
                "l_linenumber": pa.array([1], pa.int32()),
                "l_quantity": [3.0],
                "l_extendedprice": [2703.0],
                "l_discount": [0.05],
                "l_tax": [0.01],
                "l_returnflag": ["N"],
                "l_linestatus": ["O"],
                "l_shipdate": pa.array([_ts(20)], ts),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([_ts(30)], ts),
                "user_id": pa.array([1], pa.int64()),
                "event_type": ["click"],
                "value": [1.5],
                "props": ['{"a":1}'],
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": pa.array([1], pa.int64()),
                "embedding": pa.array([[0.5] * 64], pa.list_(pa.float32())),
                "label": pa.array([0], pa.int32()),
            }
        ),
    }


def write_catalog(root: str, seed: int, n_docs: int) -> str:
    """Write every catalog table under ``root/catalog``; returns the
    directory (the ``sf_dir`` the registry queries take)."""
    rng = _rng(seed, "docs")
    sf_dir = os.path.join(root, "catalog")
    os.makedirs(sf_dir, exist_ok=True)
    texts = _corpus(rng, n_docs)
    langs = np.array(["en", "de", "fr", "es", "zh"])[
        rng.choice(5, size=n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    tables = _small_tables()
    tables["documents"] = docs
    for name, table in tables.items():
        # one row group, like the reference fixtures: single-split scans
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return sf_dir

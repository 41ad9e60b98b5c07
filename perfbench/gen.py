"""Seeded input generators for the benchmark workloads.

Everything is written with pyarrow (never Spark), so generating inputs does
not warm the JVM the benchmark is about to measure.  The same seed always
gives byte-identical files; a finished tree is marked with a ``DONE`` file
and reused by later runs with the same seed.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The shape of every input (file counts, row counts, which batches drift)
# is fixed; the seed changes names, directory placement and values, so runs
# with different seeds do the same amount of work.
#
# Small-file tree: members per batch, in sibling directories.
SMALL_BATCH_SIZES = [2, 3, 2, 4, 2, 3]
SMALL_DIRS = 4
SMALL_ROWS = 300
SMALL_SINGLETONS = 6
# Large batches: a few batches of a handful of big files.
LARGE_BATCHES = 3
LARGE_FILES_PER_BATCH = 4
LARGE_ROWS_PER_FILE = 35_000

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _labels(rng: np.random.Generator, n: int, vocab: list[str]) -> pa.Array:
    idx = pa.array(rng.integers(0, len(vocab), n, dtype=np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(vocab)).cast(pa.string())


def _ts(rng: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    micros = base + np.sort(rng.integers(0, 90 * 86_400_000_000, n))
    return pa.array(micros, pa.timestamp("us"))


def _cached(root: str, build) -> str:
    """Build ``root`` once; a ``DONE`` marker makes the tree reusable."""
    if os.path.exists(os.path.join(root, "DONE")):
        return root
    shutil.rmtree(root, ignore_errors=True)
    build(root)
    with open(os.path.join(root, "DONE"), "w") as fh:
        fh.write("ok\n")
    return root


# ---------------------------------------------------------------- merges


def _small_table(rng, n: int, first_id: int, kind: str) -> pa.Table:
    cols = {
        "id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "user": pa.array(rng.integers(0, 5000, n, dtype=np.int32)),
        "amount": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "label": _labels(rng, n, _WORDS),
        "ts": _ts(rng, n),
    }
    if kind == "uint":
        # uint32 is outside the arrow probe's pinned type set: smart_batch
        # and merged_df fall back to the Spark footer probe for this file
        cols["flags"] = pa.array(rng.integers(0, 1 << 31, n, dtype=np.uint32))
    if kind == "extra":
        cols["note"] = _labels(rng, n, ["x", "y", "z"])
    return pa.table(cols)


def small_files(root: str, seed: int) -> str:
    """Tree of many small files: mostly 2-4 same-named files per batch in
    sibling directories, with schema-drift batches (one member carries an
    extra column, so the merge takes the intersection path), batches whose
    files have a uint32 column (Spark-probe fallback) and singletons that
    smart_batch must skip."""

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 1])
        manifest = {"batches": {}, "singletons": []}
        next_id = 0
        for b, k in enumerate(SMALL_BATCH_SIZES):
            name = f"part_{b:03d}_{int(rng.integers(0, 1 << 20)):05x}.parquet"
            dirs = sorted(rng.choice(SMALL_DIRS, k, replace=False).tolist())
            kind = "uint" if b % 8 == 3 else "plain"
            drift_member = int(rng.integers(0, k)) if b % 4 == 1 else -1
            members = []
            for j, d in enumerate(dirs):
                t = _small_table(rng, SMALL_ROWS, next_id, "extra" if j == drift_member else kind)
                next_id += SMALL_ROWS
                rel = os.path.join("tree", f"d{d}", name)
                _write(t, os.path.join(out, rel))
                members.append(rel)
            manifest["batches"][name[: -len(".parquet")]] = {
                "paths": members,
                "drift": drift_member >= 0,
            }
        for s in range(SMALL_SINGLETONS):
            rel = os.path.join("tree", f"d{s % SMALL_DIRS}", f"single_{s:02d}.parquet")
            _write(_small_table(rng, SMALL_ROWS, next_id, "plain"), os.path.join(out, rel))
            next_id += SMALL_ROWS
            manifest["singletons"].append(rel)
        with open(os.path.join(out, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)

    return _cached(os.path.join(root, f"small_files-{seed}"), build)


def _large_table(rng, n: int, first_id: int, extra: bool) -> pa.Table:
    cents = rng.integers(-10_000_000, 100_000_000, n)
    cols = {
        "id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "x": pa.array(rng.normal(0.0, 1000.0, n)),
        "name": _labels(rng, n, [f"{a}_{b}" for a in _WORDS[:12] for b in _WORDS[12:24]]),
        "ts": _ts(rng, n),
        "price": pc.cast(pa.array(cents / 100.0), pa.decimal128(12, 2), safe=False),
    }
    if extra:
        cols["tag"] = _labels(rng, n, _WORDS)
    return pa.table(cols)


def large_batches(root: str, seed: int) -> str:
    """A few batches of a handful of large flat files (long, double,
    string, timestamp, decimal); one batch has schema drift."""

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 2])
        manifest = {"batches": {}, "singletons": []}
        next_id = 0
        for b in range(LARGE_BATCHES):
            name = f"chunk_{b:02d}.parquet"
            drift = b == 1
            members = []
            for j in range(LARGE_FILES_PER_BATCH):
                t = _large_table(rng, LARGE_ROWS_PER_FILE, next_id, extra=drift and j == 0)
                next_id += LARGE_ROWS_PER_FILE
                rel = os.path.join("tree", f"day{j}", name)
                _write(t, os.path.join(out, rel))
                members.append(rel)
            manifest["batches"][name[: -len(".parquet")]] = {"paths": members, "drift": drift}
        with open(os.path.join(out, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)

    return _cached(os.path.join(root, f"large_batches-{seed}"), build)


def read_manifest(tree_root: str) -> dict:
    """The generated batches and singletons, with absolute paths."""
    with open(os.path.join(tree_root, "manifest.json")) as fh:
        manifest = json.load(fh)
    for batch in manifest["batches"].values():
        batch["paths"] = [os.path.join(tree_root, p) for p in batch["paths"]]
    manifest["singletons"] = [os.path.join(tree_root, p) for p in manifest["singletons"]]
    return manifest


# ------------------------------------------------------------- analytics

# Row counts of the analytics fixture: the shape of the repository's
# TPC-H-style contract tables at scale factor 0.01.
ANALYTICS_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    # half the contract fixture's 500: the pairwise semdedup and knn
    # oracles grow with its square
    "embeddings": 250,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "old", "new", "big", "green"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _cents(rng, n: int, lo: float, hi: float) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i % 16 == 15:
            # every 16th document is a near-duplicate of an earlier one
            # with up to two words changed; every other one also gets a
            # marker word appended
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            if i % 32 == 15:
                words.append("dup")
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, p=[0.41, 0.14, 0.15, 0.15, 0.15]),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def analytics_tables(root: str, seed: int) -> str:
    """The contract tables (region, nation, customer, supplier, part,
    orders, lineitem, events, documents, embeddings), one parquet file
    each, with the column names and types the contract queries read."""

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 3])
        r = ANALYTICS_ROWS
        n_c, n_s, n_p, n_o, n_l, n_e = (
            r["customer"], r["supplier"], r["part"], r["orders"], r["lineitem"], r["events"],
        )
        pk = np.arange(n_p, dtype=np.int64)
        event_gaps = rng.exponential(30 * 86_400 / n_e, n_e) * 1e6
        tables = {
            "region": pa.table(
                {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
            ),
            "nation": pa.table(
                {
                    "n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
                }
            ),
            "customer": pa.table(
                {
                    "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
                    "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
                    "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int32)),
                    "c_acctbal": _cents(rng, n_c, -999.99, 9999.99),
                    "c_mktsegment": _pick(rng, _SEGMENTS, n_c),
                }
            ),
            "supplier": pa.table(
                {
                    "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
                    "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
                    "s_nationkey": pa.array(rng.integers(0, 25, n_s, dtype=np.int32)),
                    "s_acctbal": _cents(rng, n_s, -999.99, 9999.99),
                }
            ),
            "part": pa.table(
                {
                    "p_partkey": pa.array(pk),
                    "p_name": _pick(rng, [f"{a} {b}" for a in _ADJ for b in _NOUN], n_p),
                    "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_p),
                    "p_type": _pick(rng, _PART_TYPES, n_p),
                    "p_size": pa.array(rng.integers(1, 51, n_p, dtype=np.int32)),
                    "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
                }
            ),
            "orders": pa.table(
                {
                    "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
                    "o_custkey": pa.array(rng.integers(0, n_c, n_o)),
                    "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
                    "o_totalprice": _cents(rng, n_o, 1000.0, 500_000.0),
                    "o_orderdate": _days(rng, n_o, "1995-01-01", "2001-08-01"),
                    "o_orderpriority": _pick(rng, _PRIORITIES, n_o),
                }
            ),
            "lineitem": pa.table(
                {
                    "l_orderkey": pa.array(rng.integers(0, n_o, n_l)),
                    "l_partkey": pa.array(rng.integers(0, n_p, n_l)),
                    "l_suppkey": pa.array(rng.integers(0, n_s, n_l)),
                    "l_linenumber": pa.array(rng.integers(1, 8, n_l, dtype=np.int32)),
                    "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
                    "l_extendedprice": _cents(rng, n_l, 900.0, 105_000.0),
                    "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
                    "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
                    "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
                    "l_linestatus": _pick(rng, ["F", "O"], n_l),
                    "l_shipdate": _days(rng, n_l, "1995-01-02", "2001-11-04"),
                }
            ),
            "events": pa.table(
                {
                    "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
                    "ts": pa.array(
                        np.datetime64("2024-01-01", "us").astype(np.int64)
                        + np.cumsum(event_gaps).astype(np.int64),
                        pa.timestamp("us"),
                    ),
                    "user_id": pa.array(rng.integers(0, 150, n_e)),
                    "event_type": _pick(rng, _EVENT_TYPES, n_e),
                    "value": pa.array(np.round(rng.exponential(50.0, n_e), 2)),
                    "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
                }
            ),
            "documents": _documents(rng, r["documents"]),
            "embeddings": _embeddings(rng, r["embeddings"]),
        }
        for name, table in tables.items():
            _write(table, os.path.join(out, f"{name}.parquet"))

    return _cached(os.path.join(root, f"analytics-{seed}"), build)

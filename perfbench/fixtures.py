"""Seeded inputs for the benchmark workloads.

``write_tables`` generates the ten fixture tables the query surface reads
(``catalog.TPCH_TABLES``) with the same column names, types and value
domains as the sf0.01 test tables of TESTDATA.md: one parquet file per table, one
row group per file, so ``catalog.load_table`` sees the same single-split
scans it sees on those tables.  ``corpus_ids`` picks the seeded FVID video
corpus for the curation pipeline.  Nothing here needs Spark.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

#: row counts of the sf0.01 test tables (documents and embeddings
#: have a floor of 500 rows there)
SF = 0.01
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EMBED_DIM = 64
_NEAR_DUP_FRAC = 0.05


def _ts(start: str, offsets_s: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (offsets_s * 1e6).astype("int64").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < _NEAR_DUP_FRAC:
            # near duplicate: an earlier document with its tail rewritten
            words = texts[int(rng.integers(0, i))].split()
            k = int(rng.integers(1, 3))
            texts.append(" ".join(words[:-k] + ["dup"] * k))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": list(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(size=(10, _EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = 0.15 * centers[labels] + rng.normal(scale=1.0 / np.sqrt(_EMBED_DIM), size=(n, _EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": [row.astype("float32") for row in x],
        "label": labels,
    }


def table_columns(seed: int) -> dict[str, dict]:
    """Column arrays of every table, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_o, n_l, n_e = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    i32 = lambda a: np.asarray(a, dtype="int32")  # noqa: E731
    i64 = lambda a: np.asarray(a, dtype="int64")  # noqa: E731
    order_days = rng.integers(0, 2404, n_o).astype(float) * 86400
    ship_days = rng.integers(0, 2499, n_l).astype(float) * 86400
    return {
        "region": {"r_regionkey": i32(range(5)), "r_name": _REGIONS},
        "nation": {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        },
        "customer": {
            "c_custkey": i64(range(n_c)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": i32(rng.integers(0, 25, n_c)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": list(rng.choice(_SEGMENTS, n_c)),
        },
        "supplier": {
            "s_suppkey": i64(range(n_s)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": i32(rng.integers(0, 25, n_s)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        },
        "part": {
            "p_partkey": i64(range(n_p)),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_p), rng.choice(_NOUN, n_p))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_p)],
            "p_type": list(rng.choice(_TYPES, n_p)),
            "p_size": i32(rng.integers(1, 51, n_p)),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
        },
        "orders": {
            "o_orderkey": i64(range(n_o)),
            "o_custkey": i64(rng.integers(0, n_c, n_o)),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], n_o)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": _ts("1995-01-01", order_days),
            "o_orderpriority": list(rng.choice(_PRIORITIES, n_o)),
        },
        "lineitem": {
            "l_orderkey": i64(rng.integers(0, n_o, n_l)),
            "l_partkey": i64(rng.integers(0, n_p, n_l)),
            "l_suppkey": i64(rng.integers(0, n_s, n_l)),
            "l_linenumber": i32(rng.integers(1, 8, n_l)),
            "l_quantity": rng.integers(1, 51, n_l).astype(float),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": list(rng.choice(["A", "N", "R"], n_l)),
            "l_linestatus": list(rng.choice(["F", "O"], n_l)),
            "l_shipdate": _ts("1995-01-02", ship_days),
        },
        "events": {
            "event_id": i64(range(n_e)),
            "ts": _ts("2024-01-01", np.cumsum(rng.exponential(259.0, n_e))),
            "user_id": i64(rng.integers(0, 150, n_e)),
            "event_type": list(rng.choice(_EVENT_TYPES, n_e)),
            "value": np.maximum(np.round(rng.exponential(50.0, n_e), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        },
        "documents": _documents(rng, ROWS["documents"]),
        "embeddings": _embeddings(rng, ROWS["embeddings"]),
    }


def _arrow_table(cols: dict):
    import pyarrow as pa

    arrays = {}
    for name, values in cols.items():
        if name == "embedding":
            arrays[name] = pa.array([list(v) for v in values], type=pa.list_(pa.float32()))
        else:
            arrays[name] = pa.array(values)
    return pa.table(arrays)


def generator_hash() -> str:
    """Hash of this file: part of the name of every cached input, so a
    changed generator never reuses tables or oracle results made by an
    older one."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def write_tables(out_dir: str, seed: int) -> str:
    """Write the ten tables under ``out_dir`` (one file and one row group
    each) unless a complete set is already there; returns ``out_dir``."""
    import pyarrow.parquet as pq

    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in table_columns(seed).items():
        table = _arrow_table(cols)
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=table.num_rows)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


def corpus_ids(seed: int, clips: int, threshold: float) -> list[str]:
    """Ids of a seeded video corpus with exactly ``clips`` scenes that a
    detector at ``threshold`` tells apart: videos ``s<seed>_v<i>`` in order,
    skipping any that would overshoot.  The ids carry the seed, so each seed
    has its own corpus; the fixed clip count keeps the pipeline's work the
    same across seeds."""
    ids, total, i = [], 0, 0
    while total < clips:
        vid = f"s{seed}_v{i:04d}"
        i += 1
        detectable = scene_counts([vid], threshold)[vid][1]
        if total + detectable <= clips:
            ids.append(vid)
            total += detectable
    return ids


def scene_counts(video_ids: list[str], threshold: float) -> dict[str, tuple[int, int]]:
    """Per video: (scenes the generator made, scenes whose level differs
    from the previous one by more than ``threshold``), read off the frames.
    Levels of generated scenes lie >= 27 grey levels apart and the noise is
    +-3, so a jump of the frame mean by more than 10 is a scene change."""
    from lvm_datapipe_spark import fakevideo

    out = {}
    for vid in video_ids:
        frames = fakevideo.generate(vid).frames
        means = frames.reshape(len(frames), -1).mean(axis=1)
        jumps = np.abs(np.diff(means))
        out[vid] = (1 + int((jumps > 10.0).sum()), 1 + int((jumps > threshold).sum()))
    return out


def tree_hash(root: str) -> str:
    """sha256 over the relative paths and bytes of every file under root."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            path = os.path.join(dirpath, fn)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def seeded_order(names: list[str], seed: int, pass_index: int) -> list[str]:
    """The workload's operation order for one pass: a permutation drawn
    from (seed, pass_index)."""
    rng = np.random.default_rng([seed, pass_index])
    return [names[i] for i in rng.permutation(len(names))]

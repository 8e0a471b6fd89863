"""The ``curation_batch`` corpus: a TPC-H-shaped star schema plus the
``events``, ``documents`` and ``embeddings`` tables, drawn from a fixed
seed with the value domains of the engine's test corpus (TESTDATA.md):
the same column names, types and vocabularies, at half the row counts
of its sf0.1 scale (``SCALE``), so that a checked pass fits one run.

It is built once per checkout under the benchmark's build directory and
reused; ``fingerprints.json`` holds the DuckDB-twin fingerprints of
every curation query over it. Changing anything here changes the
corpus: bump ``VERSION`` and rebuild the fingerprints
(``python3 -m perfbench.curation --fingerprints``).
"""

from __future__ import annotations

import os
import shutil

import numpy as np

VERSION = 2
SEED = 42
SCALE = 0.05  # TESTDATA.md scale factor
# sf0.1 row counts of the test corpus, scaled to SCALE
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
ROWS = {"region": 5, "nation": 25, **{t: int(n * SCALE / 0.1) for t, n in SF01_ROWS.items()}}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
DIM = 64
NEAR_DUP_SHARE = 0.05
EXACT_DUPS = 8


def corpus_dir(build_dir: str) -> str:
    return os.path.join(build_dir, f"corpus-sf{SCALE}-v{VERSION}")


def _ts(days, seconds=None):
    """Microsecond timestamps from 1995-01-01 (or 2024-01-01 with seconds)."""
    if seconds is None:
        base = np.datetime64("1995-01-01T00:00:00", "us")
        return base + days.astype("timedelta64[D]")
    base = np.datetime64("2024-01-01T00:00:00", "us")
    return base + seconds.astype("timedelta64[us]")


def build(out: str) -> str:
    """Write every table as ``<name>.parquet`` under ``out`` (atomic:
    built in a sibling directory and renamed). Returns ``out``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(SEED)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def write(name, cols: dict, types: dict) -> None:
        pq.write_table(pa.table({c: pa.array(v, type=types[c]) for c, v in cols.items()}), f"{tmp}/{name}.parquet")

    def pick(values, n):
        return np.array(values, dtype=object)[rng.integers(0, len(values), n)]

    write("region", {"r_regionkey": np.arange(5), "r_name": REGIONS}, {"r_regionkey": i32, "r_name": s})
    write(
        "nation",
        {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)], "n_regionkey": np.arange(25) % 5},
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    n = ROWS["customer"]
    write(
        "customer",
        {
            "c_custkey": np.arange(n),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n),
            "c_acctbal": rng.integers(-99_999, 1_000_000, n) / 100.0,
            "c_mktsegment": pick(SEGMENTS, n),
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s},
    )
    n = ROWS["supplier"]
    write(
        "supplier",
        {
            "s_suppkey": np.arange(n),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n),
            "s_acctbal": rng.integers(-99_999, 1_000_000, n) / 100.0,
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    n = ROWS["part"]
    write(
        "part",
        {
            "p_partkey": np.arange(n),
            "p_name": [f"{a} {b}" for a, b in zip(pick(ADJECTIVES, n), pick(NOUNS, n))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": pick(PART_TYPES, n),
            "p_size": rng.integers(1, 51, n),
            "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0,
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32, "p_retailprice": f64},
    )
    n = ROWS["orders"]
    write(
        "orders",
        {
            "o_orderkey": np.arange(n),
            "o_custkey": rng.integers(0, ROWS["customer"], n),
            "o_orderstatus": pick(STATUSES, n),
            "o_totalprice": rng.integers(100_191, 50_000_000, n) / 100.0,
            "o_orderdate": _ts(rng.integers(0, 2404, n)),
            "o_orderpriority": pick(PRIORITIES, n),
        },
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64,
         "o_orderdate": pa.timestamp("us"), "o_orderpriority": s},
    )
    n = ROWS["lineitem"]
    write(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, ROWS["orders"], n),
            "l_partkey": rng.integers(0, ROWS["part"], n),
            "l_suppkey": rng.integers(0, ROWS["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n),
            "l_quantity": rng.integers(1, 51, n).astype(float),
            "l_extendedprice": rng.integers(90_068, 10_500_000, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n),
            "l_linestatus": pick(["F", "O"], n),
            "l_shipdate": _ts(rng.integers(1, 2499, n)),
        },
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32, "l_quantity": f64,
         "l_extendedprice": f64, "l_discount": f64, "l_tax": f64, "l_returnflag": s, "l_linestatus": s,
         "l_shipdate": pa.timestamp("us")},
    )
    n = ROWS["events"]
    write(
        "events",
        {
            "event_id": np.arange(n),
            "ts": _ts(None, rng.integers(0, 30 * 86_400 * 1_000_000, n)),
            "user_id": rng.integers(0, 1_500, n),
            "event_type": pick(EVENT_TYPES, n),
            "value": np.minimum(np.round(rng.exponential(60.0, n), 2), 560.21),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        {"event_id": i64, "ts": pa.timestamp("us"), "user_id": i64, "event_type": s, "value": f64, "props": s},
    )
    n = ROWS["documents"]
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), int(k))]) for k in rng.integers(10, 101, n)]
    # near duplicates: a copy of an earlier document with a few words changed
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE):
        if i == 0:
            continue
        words = texts[int(rng.integers(0, i))].split()
        for j in rng.integers(0, len(words), max(1, len(words) // 20)):
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(words)
    for i in rng.choice(np.arange(1, n), EXACT_DUPS, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    write(
        "documents",
        {
            "doc_id": np.arange(n),
            "text": texts,
            "lang": pick(LANGS, n),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": [len(t) for t in texts],
        },
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    n = ROWS["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(
        "embeddings",
        {"vec_id": np.arange(n), "embedding": list(vecs), "label": labels},
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32},
    )
    try:
        os.rename(tmp, out)
    except OSError:  # another run built it first
        shutil.rmtree(tmp, ignore_errors=True)
    return out

"""Seeded input generator for the benchmark.

The engine reads ten parquet tables (``hadoop_3_0_0_beta1_gaia_spark.TABLES``)
with the schemas of the test data (TESTDATA.md). This module synthesizes one *base
unit* of those tables from a seed, with the same column types and value
distributions, then stacks ``replicas`` copies of it with the replica scheme
of ``tools/scale_testdata.py``: fact and dimension keys get a per-replica
stride (``_offset``), region/nation stay fixed, document text gets replica
markers woven in and embeddings get jitter. Where that tool uses fixed
per-replica markers and jitter, the seed drives them here, so the same seed
always gives byte-identical files and another seed gives other files.

The base unit itself is the same for every seed (``BASE_SEED``), as the test
data slice it stands in for is: the seed varies the replica perturbation,
not the size or shape of the work, so runs with different seeds measure the
same amount of work.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Row counts per table at scale factor 1 (the sf0.1 test data sizes x 10).
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
USERS_AT_SF1 = 15_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "anvil", "rod", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
BASE_SEED = 0


def _scale_tool():
    """``tools/scale_testdata.py`` loaded by path (``tools`` is no package)."""
    path = os.path.join(REPO, "tools", "scale_testdata.py")
    spec = importlib.util.spec_from_file_location("scale_testdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _days(start: str, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_unit(seed: int, sf: float) -> dict[str, pa.Table]:
    """One replica-0 unit of every table at scale factor ``sf``, drawn from
    ``seed``."""
    rng = np.random.default_rng([seed, 0])
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_AT_SF1.items()}
    n_users = max(1, int(round(USERS_AT_SF1 * sf)))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )

    k = np.arange(n["customer"])
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(k, i64),
            "c_name": pa.array([f"Customer#{v:09d}" for v in k], s),
            "c_nationkey": pa.array(rng.integers(0, 25, k.size), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k.size), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, k.size), s),
        }
    )

    k = np.arange(n["supplier"])
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(k, i64),
            "s_name": pa.array([f"Supplier#{v:09d}" for v in k], s),
            "s_nationkey": pa.array(rng.integers(0, 25, k.size), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k.size), f64),
        }
    )

    k = np.arange(n["part"])
    names = [
        f"{a} {b}"
        for a, b in zip(
            rng.choice(PART_ADJ, k.size), rng.choice(PART_NOUN, k.size)
        )
    ]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(k, i64),
            "p_name": pa.array(names, s),
            "p_brand": pa.array([f"Brand#{v}" for v in rng.integers(1, 26, k.size)], s),
            "p_type": pa.array(rng.choice(PART_TYPES, k.size), s),
            "p_size": pa.array(rng.integers(1, 51, k.size), i32),
            "p_retailprice": pa.array(np.round(900 + (k % 1000) / 10, 1), f64),
        }
    )

    k = np.arange(n["orders"])
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(k, i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k.size), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], k.size), s),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, k.size), f64),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, k.size)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, k.size), s),
        }
    )

    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, m), f64),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], m), s),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, m)),
        }
    )

    m = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, m))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(m), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, m), i64),
            "event_type": pa.array(rng.choice(EVENT_TYPES, m), s),
            "value": pa.array(np.round(rng.exponential(50.0, m), 2), f64),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, m)], s),
        }
    )

    m = n["documents"]
    texts = [
        " ".join(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(m)
    ]
    # 5% near-duplicates (another document's text plus one marker word) and a
    # few exact copies, as in the test data: the dedup entries need both.
    for i in np.flatnonzero(rng.random(m) < 0.05):
        texts[i] = texts[int(rng.integers(0, m))] + " dup"
    for i in np.flatnonzero(rng.random(m) < 0.002):
        texts[i] = texts[int(rng.integers(0, m))]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(m), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(LANGS, m, p=LANG_P), s),
            "source": pa.array([f"src{i % 20}" for i in range(m)], s),
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    m = n["embeddings"]
    labels = rng.integers(0, N_LABELS, m)
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    mat = rng.normal(0.0, 1.0, (m, EMBED_DIM)) + 0.5 * centroids[labels]
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(m), i64),
            "embedding": _vectors(mat.astype(np.float32)),
            "label": pa.array(labels, i32),
        }
    )
    return out


def _vectors(mat: np.ndarray) -> pa.Array:
    offsets = pa.array(np.arange(0, mat.size + 1, mat.shape[1]), pa.int32())
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), pa.float32()))


def _perturb_documents(tbl: pa.Table, rng: np.random.Generator, k: int) -> pa.Table:
    """Weave seeded replica markers into the text (a quarter of the words),
    so replicas are near- but not exact duplicates of replica 0."""
    out = []
    for t in tbl.column("text").to_pylist():
        words = t.split(" ")
        step = max(3, len(words) // 4)
        for pos in range(step - 1, len(words), step):
            words[pos] = f"r{k}x{int(rng.integers(0, 9973))}"
        out.append(" ".join(words))
    tbl = tbl.set_column(
        tbl.column_names.index("text"), "text", pa.array(out, pa.string())
    )
    return tbl.set_column(
        tbl.column_names.index("n_chars"),
        "n_chars",
        pa.array([len(t) for t in out], pa.int64()),
    )


def _perturb_embeddings(tbl: pa.Table, rng: np.random.Generator) -> pa.Table:
    col = tbl.column("embedding").combine_chunks()
    mat = col.values.to_numpy().reshape(len(col), -1)
    mat = mat + rng.normal(0.0, 0.15, mat.shape).astype(np.float32)
    return tbl.set_column(
        tbl.column_names.index("embedding"), "embedding", _vectors(mat)
    )


def generate(out_dir: str, seed: int, sf: float, replicas: int) -> dict[str, int]:
    """Write ``replicas`` seeded replicas of a base unit at ``sf`` into
    ``out_dir``; return the row count of every table written."""
    tool = _scale_tool()
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, base in base_unit(BASE_SEED, sf).items():
        if name in ("region", "nation"):
            reps = [base]
        else:
            reps = []
            for k in range(replicas):
                r = tool._offset(base, k)
                rng = np.random.default_rng([seed, 1, k])
                if name == "documents" and k > 0:
                    r = _perturb_documents(r, rng, k)
                if name == "embeddings" and k > 0:
                    r = _perturb_embeddings(r, rng)
                reps.append(r)
        big = pa.concat_tables(reps)
        # Bounded row groups, as in the scale tool: one row group is one scan
        # split, and a single split would serialize the scan on one core.
        pq.write_table(
            big, os.path.join(out_dir, f"{name}.parquet"), row_group_size=50_000
        )
        rows[name] = big.num_rows
    return rows


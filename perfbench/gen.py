"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument, writes parquet under a
directory it is given and returns the row counts it wrote, so a record
states its input size. The seed changes values only: row counts, key
cardinalities and items per order are the same for every seed, so a
timing does not move with the seed. Nothing here touches Spark; the
program under test only ever sees the generated files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

# Catalog scale factor per scale. "full" is what the benchmark measures;
# "tiny" is the smoke-test size (same shapes, fewer rows, and no warm-up
# and two timed iterations, the fewest a traced run can split).
SCALES = {
    "full": {"sf": 0.01},
    "tiny": {"sf": 0.002, "warmup": 0, "min_timed": 2},
}


def _write(df: pd.DataFrame, path: str) -> int:
    # microsecond timestamps: Spark's parquet reader rejects NANOS
    df.to_parquet(path, index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)
    return len(df)


# ---------------------------------------------------------------------------
# dag_build: the bronze tables of sources/fixtures.py
# ---------------------------------------------------------------------------

# days the fixture calendar may move: every business date stays before the
# fixtures' extraction time (INGEST), so freshness and checks keep passing
MAX_SHIFT_DAYS = 8


def bronze_now():
    """The build's frozen clock: one day after the fixtures' extraction."""
    from furchild_spark.sources import fixtures as fx

    return fx.INGEST + dt.timedelta(days=1)


def bronze(out_dir: str, seed: int) -> dict[str, int]:
    """The committed fixture rows of ``sources/fixtures.py`` (its own
    generator, its own PRNG seed, so every row, key and item count is the
    committed one), with the business calendar moved by a seed-chosen
    number of days and minutes. ``bronze_fixtures`` reads ``EPOCH`` from
    its module, so it is set for the call and restored after it. Seed 0
    gives the committed fixtures exactly."""
    from furchild_spark.sources import fixtures as fx

    rng = np.random.default_rng(seed)
    shift = dt.timedelta(days=int(rng.integers(0, MAX_SHIFT_DAYS)),
                         minutes=int(rng.integers(0, 60)))
    if seed == 0:
        shift = dt.timedelta(0)
    saved = fx.EPOCH
    fx.EPOCH = saved + shift
    try:
        tables = fx.bronze_fixtures()
    finally:
        fx.EPOCH = saved
    os.makedirs(out_dir, exist_ok=True)
    return {name: _write(pdf, os.path.join(out_dir, f"{name}.parquet"))
            for name, pdf in tables.items()}


# ---------------------------------------------------------------------------
# catalog_headline: the TPC-H-like star schema + events/documents/embeddings
# that the catalog entries read, in the column layout of the sf test sets
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]


def catalog_sizes(sf: float) -> dict[str, int]:
    """Row counts at ``sf``, as in the sf test sets (sf 0.1: 600k
    lineitem, 150k orders, 15k customers, 20k part, 1k supplier, 100k
    events, 5k documents, 2k embeddings)."""
    return {
        "region": 5, "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "lineitem": max(6000, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _dates(rng, n, start, days):
    return (np.datetime64(start) + rng.integers(0, days, n).astype(
        "timedelta64[D]")).astype("datetime64[us]")


def catalog(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The ten tables the catalog reads, at ``sf``. Line items are spread
    over the orders round-robin, so items per order (four) do not depend
    on the seed; 1% of documents are exact copies and 2% near copies of
    another document, for the dedup entries to find."""
    rng = np.random.default_rng(seed)
    n = catalog_sizes(sf)
    n_cust, n_ord, n_line = n["customer"], n["orders"], n["lineitem"]
    n_part, n_supp = n["part"], n["supplier"]

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999, 9999, n_supp)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                              rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    # every customer orders, round-robin then shuffled, so the number of
    # distinct ordering customers does not depend on the seed
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.permutation(np.arange(n_ord) % n_cust).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    lok = np.sort(np.arange(n_line) % n_ord).astype(np.int64)
    # line numbers restart at 1 within each order
    first = np.r_[True, lok[1:] != lok[:-1]]
    idx = np.arange(n_line)
    lnum = idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", 2500)})
    t["events"] = events(rng, n["events"], n["users"])
    t["documents"] = documents(rng, n["documents"])
    n_vec = n["embeddings"]
    labels = np.arange(n_vec) % 10
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64), "embedding": list(vecs),
        "label": labels.astype(np.int32)})
    os.makedirs(out_dir, exist_ok=True)
    return {name: _write(df, os.path.join(out_dir, f"{name}.parquet"))
            for name, df in t.items()}


def events(rng, n: int, n_users: int) -> pd.DataFrame:
    """``n`` events over 30 days of 2024 with distinct microsecond
    timestamps; every user has at least one."""
    offs = np.sort(rng.choice(30 * 86_400_000_000, n, replace=False))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.permutation(np.arange(n) % n_users).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.uniform(0.01, 490, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, n: int) -> pd.DataFrame:
    """``n`` documents of 8 to 89 words; the last 1% are exact copies and
    the 2% before them near copies (one word in ten replaced) of earlier
    documents."""
    n_exact, n_near = n // 100, n // 50
    n_orig = n - n_exact - n_near
    words = [list(rng.choice(_WORDS, k)) for k in rng.integers(8, 90, n_orig)]
    for src in rng.integers(0, n_orig, n_near):
        w = list(words[src])
        for j in range(0, len(w), 10):
            w[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        words.append(w)
    words += [list(words[s]) for s in rng.integers(0, n_orig, n_exact)]
    texts = [" ".join(w) for w in words]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})

"""Seeded input generators for the benchmark.

Everything here is a pure function of ``(seed, size)``: the same arguments
write byte-identical files, so a run can be repeated exactly and two runs
with different seeds see different but equally shaped data.

``tpch_tables`` writes the ten parquet tables the registered queries read
(the TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``), with the column types, value domains and duplicate
structure of the engine's test data: uniform keys and categories, prices
rounded to cents, midnight dates, microsecond event times, a 30-word
vocabulary and 5 % of documents copied from distinct other documents
with a trailing `` dup`` token.

``etl_inputs`` writes the reference pipeline's two inputs: the store-sales
CSV and the extra-data parquet, with the schemas and null rates of the
reference's bundled files.  Keys are unique on both sides; the parquet
side holds every CSV key plus 16 % unmatched keys.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    lo = np.datetime64(start, "D")
    return lo, int((np.datetime64(end, "D") - lo).astype(int))


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo, span = _days(start, end)
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # Each copy gets its own original, so every seed plants the same
    # cluster shape (pairs); two copies of one original would make a
    # 3-cluster that costs the star query extra rounds on about half the
    # seeds.
    dups = rng.choice(n, size=n // 20, replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(n), dups), size=len(dups), replace=False)
    for d, o in zip(dups, originals):
        texts[d] = texts[o] + " dup"
    return texts


def tpch_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten query tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), min(2_000, int(50_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(_cents(rng, 0.0, 0.1, n_li)),
        "l_tax": pa.array(_cents(rng, 0.0, 0.08, n_li)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04")})
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    ev_ts = np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev * 15 // 1000), n_ev), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def _with_nulls(
    rng: np.random.Generator, values: np.ndarray, rate: float, typ: pa.DataType
) -> pa.Array:
    return pa.array(values, typ, mask=rng.random(len(values)) < rate)


def etl_inputs(out_dir: str, seed: int, rows: int) -> tuple[str, str]:
    """Write ``grocery_sales.csv`` (``rows`` rows) and ``extra_data.parquet``;
    return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_extra = rows + rows * 16 // 100
    keys = rng.permutation(n_extra + n_extra // 100)[:n_extra].astype(np.int64)
    store_keys = np.sort(keys[:rows])
    lo, span = _days("2010-02-05", "2012-10-26")
    weeks = lo + (rng.integers(0, span // 7 + 1, rows) * 7).astype("timedelta64[D]")
    dates = np.char.add(weeks.astype(str), "T00:00:00.000")
    f64 = pa.float64()
    store = pa.table({
        "level_0": pa.array(np.arange(rows), pa.int64()),
        "index": pa.array(store_keys, pa.int64()),
        "Store_ID": pa.array(rng.integers(1, 46, rows), pa.int64()),
        "Date": _with_nulls(rng, dates, 39 / 20_000, pa.string()),
        "Dept": pa.array(rng.integers(1, 100, rows), pa.int64()),
        "Weekly_Sales": _with_nulls(
            rng, np.round(rng.lognormal(9.4, 1.2, rows), 2), 38 / 20_000, f64),
    })
    csv_path = os.path.join(out_dir, "grocery_sales.csv")
    pacsv.write_csv(
        store, csv_path,
        pacsv.WriteOptions(quoting_style="none", include_header=True))

    extra_keys = rng.permutation(keys)
    n = n_extra
    extra = {
        "index": pa.array(extra_keys, pa.int64()),
        "IsHoliday": pa.array((rng.random(n) < 0.07).astype(np.int64)),
        "Temperature": pa.array(np.round(rng.uniform(-2.0, 100.0, n), 2)),
        "Fuel_Price": pa.array(np.round(rng.uniform(2.47, 4.47, n), 3)),
    }
    for i in range(1, 6):
        extra[f"MarkDown{i}"] = _with_nulls(
            rng, np.round(rng.exponential(5000.0, n), 2), 1 / n, f64)
    extra["CPI"] = _with_nulls(
        rng, np.round(rng.uniform(126.0, 228.0, n), 6), 47 / 231_522, f64)
    extra["Unemployment"] = _with_nulls(
        rng, np.round(rng.uniform(3.9, 14.3, n), 3), 37 / 231_522, f64)
    extra["Type"] = _with_nulls(rng, rng.integers(1, 4, n).astype(np.float64), 1 / n, f64)
    extra["Size"] = _with_nulls(
        rng, rng.integers(34_000, 220_000, n).astype(np.float64), 1 / n, f64)
    pq_path = os.path.join(out_dir, "extra_data.parquet")
    pq.write_table(pa.table(extra), pq_path)
    return csv_path, pq_path

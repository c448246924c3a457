#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Usage: python3 perfbench/gen_inputs.py <what> <seed> <out_dir>

<what> is one of:
  pixels    MNIST-shaped layer-0 corpus (784 ints 0-255 per example),
            written twice: as keyed reference-format text
            (`<id>\\t<p0> ... <p783>`, one line per example, in
            PIXEL_FILES part files under <out_dir>/pixels_text/) and as
            parquet `(id BIGINT, x ARRAY<DOUBLE>)` with x = pixel/255
            under <out_dir>/pixels_parquet/.
  tables    The registry's fixture tables (TPC-H-ish star schema plus
            events, documents and embeddings; schemas as in FIXTURES.md),
            one <table>.parquet each under <out_dir>/tables/.

The same seed gives byte-identical inputs; sizes do not depend on the
seed, so every seed asks the program for the same amount of work.
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PIXEL_ROWS = 1200
PIXEL_DIMS = 784
PIXEL_FILES = 8

# Fixture scale: rows per table at TABLES_SF, in the proportions of the
# TPC-H-ish fixtures (lineitem = 6,000,000 x sf).
TABLES_SF = 0.01

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def pixel_images(rng: np.random.Generator, n: int) -> np.ndarray:
    """n 28x28 digit-like images as uint8 rows of 784.

    Ten stroke prototypes (the "digits") are drawn from the seed; each
    example is one prototype shifted by up to two pixels, with its
    stroke intensity jittered and a few stroke pixels dropped, so most
    pixels are 0 and strokes sit near 255 as in MNIST.
    """
    protos = np.zeros((10, 28, 28), dtype=np.float64)
    for k in range(10):
        for _ in range(rng.integers(2, 5)):
            (r0, c0), (r1, c1) = rng.integers(5, 23, size=(2, 2))
            for t in np.linspace(0.0, 1.0, 40):
                r = int(round(r0 + t * (r1 - r0)))
                c = int(round(c0 + t * (c1 - c0)))
                protos[k, r - 1:r + 2, c - 1:c + 2] = np.maximum(
                    protos[k, r - 1:r + 2, c - 1:c + 2], 0.6)
                protos[k, r, c] = 1.0
    labels = rng.integers(0, 10, size=n)
    shifts = rng.integers(-2, 3, size=(n, 2))
    gain = rng.uniform(0.75, 1.0, size=n)
    out = np.empty((n, PIXEL_DIMS), dtype=np.uint8)
    for i in range(n):
        img = np.roll(protos[labels[i]], tuple(shifts[i]), axis=(0, 1))
        keep = rng.random((28, 28)) > 0.05
        out[i] = np.floor(255.0 * gain[i] * img * keep).astype(np.uint8).ravel()
    return out


def write_pixels(seed: int, out_dir: str) -> None:
    rng = np.random.default_rng([seed, 1])
    pix = pixel_images(rng, PIXEL_ROWS)
    ids = np.arange(PIXEL_ROWS, dtype=np.int64)
    text_dir = os.path.join(out_dir, "pixels_text")
    pq_dir = os.path.join(out_dir, "pixels_parquet")
    os.makedirs(text_dir, exist_ok=True)
    os.makedirs(pq_dir, exist_ok=True)
    chunks = np.array_split(np.arange(PIXEL_ROWS), PIXEL_FILES)
    for f, rows in enumerate(chunks):
        with open(os.path.join(text_dir, f"part-{f:05d}"), "w") as fh:
            fh.writelines(f"{ids[r]}\t{' '.join(map(str, pix[r].tolist()))}\n"
                          for r in rows)
        x = pa.array(list(pix[rows].astype(np.float64) / 255.0),
                     type=pa.list_(pa.float64()))
        pq.write_table(pa.table({"id": pa.array(ids[rows]), "x": x}),
                       os.path.join(pq_dir, f"part-{f:05d}.parquet"))


def ts_us(days_or_us: np.ndarray, unit: str, start: dt.datetime) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days_or_us.astype(f"timedelta64[{unit}]"),
                    type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def write_tables(seed: int, out_dir: str) -> None:
    rng = np.random.default_rng([seed, 2])
    sf = TABLES_SF
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = int(15000 * sf)
    n_docs = max(500, int(50000 * sf))
    n_vecs = max(500, int(20000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def pick(values, n):
        return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)],
                        type=s)

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(REGIONS, s)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp), f64)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            rng.integers(0, 8, (n_part, 2))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
                                  f64)})
    order_days = rng.integers(0, (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1,
                              n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": ts_us(order_days, "D", dt.datetime(1995, 1, 1)),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    ship_days = rng.integers(0, (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days + 1,
                             n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": ts_us(ship_days, "D", dt.datetime(1995, 1, 2))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": ts_us(ev_us, "us", dt.datetime(2024, 1, 1)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": pa.array(np.round(0.01 + rng.exponential(40.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = []
    for k in range(n_docs):
        if k >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one token
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n_words)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(np.array(LANGS, dtype=object)[
            rng.choice(len(LANGS), n_docs, p=LANG_P)], s),
        "source": pa.array([f"src{k % 20}" for k in range(n_docs)], s),
        "n_chars": pa.array([len(x) for x in texts], i64)})
    emb = rng.normal(size=(n_vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32)})
    tdir = os.path.join(out_dir, "tables")
    os.makedirs(tdir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(tdir, f"{name}.parquet"))


def main() -> int:
    if len(sys.argv) != 4 or sys.argv[1] not in ("pixels", "tables"):
        print(__doc__, file=sys.stderr)
        return 2
    what, seed, out_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    (write_pixels if what == "pixels" else write_tables)(seed, out_dir)
    return 0


if __name__ == "__main__":
    sys.exit(main())

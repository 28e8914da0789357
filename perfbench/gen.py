"""Deterministic input generator for the benchmark.

Two kinds of input:

* ``fixtures(out_dir, sf)`` writes the TPC-H-ish fixture tables the
  ``SparkEntry`` queries read (schemas of FIXTURES.md section B). They
  come from the fixed ``FIXTURE_SEED``, not from ``--seed``: the OLAP
  output checks compare against fingerprints pinned for exactly these
  tables (``expected.json``). The big tables are written as directories
  of ``FILES`` parquet files, the multi-file layout ``Tables`` reads
  as-is; ``single/`` holds one-file copies for the cold
  ``Tables.warmLayout`` measurement.
* ``plays(path, seed, n)`` writes a headerless play-by-play CSV in the
  reference's 25-column layout (``PlaySchema``), drawn from ``--seed``.

Run directly to (re)generate: ``python3 perfbench/gen.py <out_dir> <sf>``.
"""
import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
FILES = 32
BIG = ["customer", "part", "orders", "lineitem", "events", "documents", "embeddings"]
# bump when the generated bytes change: the pinned fingerprints go stale
VERSION = 1

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "large", "hot", "small", "red", "green", "cold", "shiny"]
NOUN = ["anvil", "ring", "bolt", "widget", "gear", "pipe", "spring", "valve"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
TEAMS = ["ARI", "ATL", "BAL", "BUF", "CAR", "CHI", "CIN", "CLE", "DAL", "DEN",
         "DET", "GB", "HOU", "IND", "JAC", "KC", "LA", "MIA", "MIN", "NE",
         "NO", "NYG", "NYJ", "OAK", "PHI", "PIT", "SD", "SEA", "SF", "TB",
         "TEN", "WAS"]


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us") +
                     (np.asarray(seconds) * 1_000_000).astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf):
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    days = int((dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, days + 1, n_ord) * 86400),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_days = int((dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, ship_days + 1, n_li) * 86400)})
    n_users = max(15, int(15_000 * sf))
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", secs),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 10 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i * 20 // n_doc}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return out


def fixtures(out_dir, sf):
    """Write the fixture tables for scale factor ``sf`` into ``out_dir``
    (skipped when a completed copy of this generator version is there)."""
    stamp = os.path.join(out_dir, f"_DONE_v{VERSION}")
    if os.path.exists(stamp):
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(out_dir, "single"))
    for name, tb in _tables(sf).items():
        # one row group per file, like the FIXTURES.md tables
        pq.write_table(tb, os.path.join(out_dir, "single", f"{name}.parquet"),
                       row_group_size=max(1, tb.num_rows))
        if name in BIG:
            d = os.path.join(out_dir, f"{name}.parquet")
            os.makedirs(d)
            step = -(-tb.num_rows // FILES)
            for i in range(FILES):
                pq.write_table(tb.slice(i * step, step),
                               os.path.join(d, f"part-{i:05d}.parquet"))
        else:
            shutil.copy(os.path.join(out_dir, "single", f"{name}.parquet"), out_dir)
    open(stamp, "w").close()


def plays(path, seed, n):
    """Write ``n`` play-by-play rows (headerless CSV, PlaySchema order)
    drawn from ``seed``: drives of consecutive plays, so the derived
    ``PlayType_lag`` sees FirstPlay, Pass and Run."""
    rng = np.random.default_rng(seed)
    rows = []
    game, drive, left = 2015091000, 0, 0
    clock = 3600
    for _ in range(n):
        if left == 0:
            drive += 1
            left = int(rng.integers(1, 9))
            if drive > 20:
                game, drive, clock = game + 1, 1, 3600
        left -= 1
        clock -= int(rng.integers(5, 40))
        qtr = min(4, 1 + (3600 - clock) // 900) if clock > 0 else 5
        kind = "Pass" if rng.random() < 0.57 else "Run"
        day = dt.date(2015, 9, 10) + dt.timedelta(days=int(game - 2015091000) % 110)
        yl, togo = int(rng.integers(1, 100)), int(rng.integers(1, 21))
        down = int(rng.integers(1, 5))
        base = (4.0 if kind == "Run" else 6.5) + 0.03 * yl - 0.2 * down
        gained = int(round(base + rng.normal(0, 6 if kind == "Pass" else 4)))
        pos, dfn = rng.choice(len(TEAMS), 2, replace=False)
        rows.append(",".join(str(v) for v in [
            f"{day.isoformat()}T00:00:00.000Z", game, drive, qtr, down,
            f"{max(clock, 0) // 60 % 15:02d}:00", 0, clock, 0, yl, togo,
            int(rng.integers(-10, 80)), int(gained >= togo), TEAMS[pos], TEAMS[dfn],
            gained, int(rng.random() < 0.03), kind, "NA", "NA", "NA",
            int(rng.integers(0, 40)), int(rng.integers(0, 40)),
            day.month * 100 + day.day, "NA"]))
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")


if __name__ == "__main__":
    fixtures(sys.argv[1], float(sys.argv[2]))

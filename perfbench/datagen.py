"""Seeded input tables for the benchmark.

Every table the declared queries read is generated here from one seed,
with the schemas and value domains of the fixture tables (TPC-H-ish
star schema, an `events` stream, and the `documents`/`embeddings`
LLM-pipeline tables). The same (seed, scale) always yields byte-equal
parquet files; a different seed changes every table.

`backup_ticks` generates the per-tick event batches of the backup
cycle: each tick adds one new day and rewrites a few older days of a
sliding window, the days chosen by the seed.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
WORDS = ("row the query stream value hash batch sort data big filter dup "
         "key agg scan slow table part a merge window order column join "
         "vector fast spark line small customer group").split()
EMB_DIM = 64
EMB_CLUSTERS = 10

EPOCH = dt.datetime(1970, 1, 1)
EVENTS_START = dt.datetime(2024, 1, 1)
DAY_US = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _ts(values_us) -> pa.Array:
    return pa.array(np.asarray(values_us, dtype=np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, end: dt.datetime, n):
    span = (end - start).days
    return _us(start) + rng.integers(0, span + 1, n, dtype=np.int64) * DAY_US


def row_counts(sf: float) -> dict:
    """Rows per table at scale factor `sf` (fixture proportions)."""
    def n(base):
        return max(1, int(round(base * sf)))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def _events(rng, n_rows, n_users, start_us, span_us, first_id=0):
    ts = np.sort(start_us + rng.integers(0, span_us, n_rows, dtype=np.int64))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n_rows, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_rows, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_rows)),
        "value": pa.array(_money(rng, 0.01, 490.0, n_rows)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
    })


def _documents(rng, n_docs):
    texts = []
    for _ in range(n_docs):
        k = int(rng.integers(10, 90))
        texts.append(" ".join(rng.choice(WORDS, k)))
    # a few exact and near duplicates, as crawled corpora have
    for i in range(0, n_docs, 97):
        j = int(rng.integers(0, n_docs))
        if i != j:
            words = texts[j].split()
            if i % 2 == 0 and len(words) > 4:
                words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n_vecs):
    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n_vecs + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def make_tables(seed: int, sf: float) -> dict:
    """All ten query tables, generated from `seed` at scale `sf`."""
    rng = np.random.default_rng([seed, 1])
    c = row_counts(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    nc = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))})
    ns = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = c["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})
    no = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), no)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))})
    nl = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), nl))})
    ne = c["events"]
    t["events"] = _events(rng, ne, max(15, ne // 67), _us(EVENTS_START), 30 * DAY_US)
    t["documents"] = _documents(rng, c["documents"])
    t["embeddings"] = _embeddings(rng, c["embeddings"])
    return t


def write_tables(tables: dict, out_dir) -> None:
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet", compression="snappy")


def backup_ticks(seed: int, n_ticks: int, window: int, rows_per_day: int,
                 changed_per_tick: int, rewrite_span: int):
    """The backup cycle's source history.

    Returns (day_versions, ticks). `day_versions` maps a file key
    `d<day>_v<version>` to that version's events table. `ticks[t]` is
    the list of file keys that make up the source at tick t: the
    `window` newest days, where tick t adds day `window - 1 + t` and
    rewrites `changed_per_tick` of the `rewrite_span` days before it
    (chosen by the seed) with fresh rows, as late updates to recent days
    arrive. Tick 0 is the initial window.
    """
    rng = np.random.default_rng([seed, 2])
    n_users = max(15, rows_per_day // 20)
    versions = {}
    current = {}
    next_id = [0]

    def new_version(day):
        v = current.get(day, -1) + 1
        table = _events(rng, rows_per_day, n_users,
                        _us(EVENTS_START) + day * DAY_US, DAY_US, next_id[0])
        next_id[0] += rows_per_day
        current[day] = v
        versions[f"d{day:03d}_v{v:02d}"] = table

    ticks = []
    for day in range(window):
        new_version(day)
    ticks.append([f"d{d:03d}_v{current[d]:02d}" for d in range(window)])
    for t in range(1, n_ticks):
        newest = window - 1 + t
        new_version(newest)
        older = list(range(newest - rewrite_span, newest))
        for day in sorted(rng.choice(older, changed_per_tick, replace=False)):
            new_version(int(day))
        ticks.append([f"d{d:03d}_v{current[d]:02d}"
                      for d in range(newest - window + 1, newest + 1)])
    return versions, ticks

"""Seeded input generator for the benchmark.

Writes the ten-table layout the engine reads (`<dir>/<name>.parquet`, one
regular file per table): a TPC-H-like star schema plus the `events`,
`documents` and `embeddings` tables. Shapes follow the reference test
corpus: row counts scale with `sf` (lineitem = 6,000,000 x sf), keys are
drawn uniformly with replacement, event times ascend with `event_id`,
5% of documents are near-duplicates (an earlier text plus " dup") and a
few are exact copies, embeddings are random unit vectors in 64 dims.

Column names and parquet types match the reference corpus column for
column. In particular every timestamp (`ts`, `o_orderdate`, `l_shipdate`)
is INT64 TIMESTAMP(MICROS) with isAdjustedToUTC=false, as there, which
Spark reads as TIMESTAMP_NTZ: the benchmark times the engine's NTZ branch
for `events.ts` (`StreamingOps.normalize`, `Tables.eventsWithUs`), not
its branch for TIMESTAMP(NANOS) files read as BIGINT.

The same (seed, sf) always yields byte-identical values, so a run is
reproducible from its seed alone.

    python3 perfbench/datagen.py <out_dir> <sf> <seed> [grow]
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["the", "fast", "key", "order", "sort", "table", "scan", "merge",
         "part", "window", "small", "hash", "join", "batch", "stream",
         "spark", "group", "query", "row", "data", "slow", "filter",
         "customer", "line", "value", "agg", "column", "big", "a", "vector"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["blue", "hot", "small", "old", "cold", "red", "new", "big"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]
FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
GRID_W, GRID_H = 97, 89
GRID_RADIUS = 6  # the reference sf0.001 corpus's, and the median over seeds
RADIUS_ATTEMPTS = 64
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir, name, columns):
    table = pa.table(columns)
    tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    texts = []
    for i in range(n):
        draw = rng.random()
        if i > 0 and draw < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and draw < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = rng.integers(0, len(VOCAB), lengths[i])
            texts.append(" ".join(VOCAB[w] for w in words))
    return texts


def generate(out_dir, sf, seed, grow=1):
    """Writes the corpus for scale factor `sf`; `grow` multiplies every
    table's row count (the corpus floors included), so two corpora that
    differ only in `grow` differ by one size ratio in every table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def rows(per_sf, floor):
        return grow * max(floor, int(round(per_sf * sf)))

    n_cust = rows(150_000, 10)
    n_supp = rows(10_000, 5)
    n_part = rows(200_000, 10)
    n_orders = rows(1_500_000, 10)
    n_line = rows(6_000_000, 40)
    n_events = rows(1_000_000, 10)
    n_docs = rows(50_000, 500)
    n_vecs = rows(20_000, 500)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    part_keys = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": part_keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": _pick(rng, ["P", "O", "F"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_orders) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders)})

    l_order, l_part = _grid_keys(seed, n_orders, n_part, n_line, grow == 1)
    l_lineno = rng.integers(1, 8, n_line)
    order = np.lexsort((l_lineno, l_order))
    flags = rng.integers(0, len(FLAGS), n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order[order].astype("int64"),
        "l_partkey": l_part[order].astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": l_lineno[order].astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [FLAGS[f][0] for f in flags],
        "l_linestatus": [FLAGS[f][1] for f in flags],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US)})

    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_events))),
        "user_id": rng.integers(0, max(2, n_cust // 10), n_events).astype("int64"),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    vecs = rng.standard_normal((n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")),
                              type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype("int32")})


def _positive_cells(ok, pk):
    """The engine's geo grid (graft.tiles.GeoDerive): a cell is
    (orderkey % 97, partkey % 89), scored by the maximum of a hash of its
    line items' keys, and positive when that maximum reaches 0.8."""
    score = (ok * 2654435761 + pk * 40503) % 1000
    cell = (ok % GRID_W) * GRID_H + (pk % GRID_H)
    best = np.full(GRID_W * GRID_H, -1, dtype=np.int64)
    np.maximum.at(best, cell, score)
    return set(np.nonzero(best >= 800)[0].tolist())


def _grid_radius(cells):
    """Largest distance, in 4-neighbour steps, from a component's smallest
    cell to its farthest cell: the rounds min-label propagation needs."""
    seen, radius = set(), 0
    for start in sorted(cells):
        if start in seen:
            continue
        dist, frontier = 0, [start]
        seen.add(start)
        while frontier:
            nxt = []
            for c in frontier:
                x, y = divmod(c, GRID_H)
                for nx, ny in ((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)):
                    n = nx * GRID_H + ny
                    if 0 <= nx < GRID_W and 0 <= ny < GRID_H and n in cells and n not in seen:
                        seen.add(n)
                        nxt.append(n)
            if nxt:
                dist += 1
            frontier = nxt
        radius = max(radius, dist)
    return radius


def _grid_keys(seed, n_orders, n_part, n_line, fix_radius):
    """Line item (orderkey, partkey) draws. The geo flow iterates its
    clustering about once per unit of component radius, and across seeds
    the radius ranged 4 to 8, so the seed changed how much work the flow
    does; with `fix_radius` the draw is repeated, from the seed, until the
    grid has radius GRID_RADIUS, and the seed varies everything else."""
    best = None
    for attempt in range(RADIUS_ATTEMPTS):
        rng = np.random.default_rng([seed, attempt])
        ok = rng.integers(0, n_orders, n_line)
        pk = rng.integers(0, n_part, n_line)
        if not fix_radius:
            return ok, pk
        miss = abs(_grid_radius(_positive_cells(ok, pk)) - GRID_RADIUS)
        if best is None or miss < best[0]:
            best = (miss, ok, pk)
        if miss == 0:
            break
    return best[1], best[2]


def expected_positives(out_dir):
    """Independent count of positive grid cells (the geo flow's threshold
    stage)."""
    t = pq.read_table(os.path.join(out_dir, "lineitem.parquet"),
                      columns=["l_orderkey", "l_partkey"])
    ok = t.column("l_orderkey").to_numpy().astype(np.int64)
    pk = t.column("l_partkey").to_numpy().astype(np.int64)
    return len(_positive_cells(ok, pk))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]),
             int(sys.argv[4]) if len(sys.argv) > 4 else 1)

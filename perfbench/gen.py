"""Seeded input generation for the benchmark.

Everything the engine sees is made here from the workload seed: the ten
catalog tables (same names, columns and types as the fixture catalog the
engine is written against), the query sample and its order, and the
append/delete micro-batches of the ingest phase. Each generator draws
from its own `numpy.random.Generator` derived from (seed, purpose), so
adding a table or a batch never shifts the bytes of another.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
COLORS = "cold small large blue old new hot red".split()
NOUNS = "widget bolt rod anvil ring gizmo plate gear".split()
PTYPES = "ECONOMY PROMO LARGE MEDIUM STANDARD SMALL".split()
SEGMENTS = "FURNITURE MACHINERY BUILDING HOUSEHOLD AUTOMOBILE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click purchase error signup view".split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.38, 0.16, 0.16, 0.15, 0.15]
DIM = 64


def rng(seed, purpose):
    """A generator private to (seed, purpose)."""
    return np.random.default_rng([int(seed), *purpose.encode()])


def sizes(sf):
    """Row counts per table at scale factor `sf` (the fixture catalog's
    scaling: the star schema is linear in sf, the two corpora have a
    floor of 500 rows)."""
    def lin(n):
        return max(1, int(round(n * sf)))
    return {"region": 5, "nation": 25, "customer": lin(150_000),
            "supplier": lin(10_000), "part": lin(200_000),
            "orders": lin(1_500_000), "lineitem": lin(6_000_000),
            "events": lin(1_000_000), "users": lin(15_000),
            "documents": max(500, lin(50_000)),
            "embeddings": max(500, lin(20_000))}


def _days(r, n, lo, hi):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    d = lo_d + r.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(r, n, lo, hi):
    return np.round(r.uniform(lo, hi, n), 2)


def unit_vectors(r, n):
    """`n` random unit vectors of DIM float32 components."""
    x = r.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x


def vector_column(x):
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _texts(r, n):
    lens = r.integers(10, 100, n)
    idx = r.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS, dtype=object)[idx]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at:at + k]))
        at += k
    # ~5% near-duplicates (an earlier text plus a marker token) and a
    # few exact copies, so the dedup and span families find pairs
    for i in range(1, n):
        u = r.random()
        if u < 0.05:
            out[i] = out[int(r.integers(0, i))] + " dup"
        elif u < 0.052:
            out[i] = out[int(r.integers(0, i))]
    return out


def make_tables(sf, seed):
    """The ten catalog tables at scale factor `sf` as pyarrow Tables."""
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = rng(seed, "customer")
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, k, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)]})
    r = rng(seed, "supplier")
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, k, -999.99, 9999.99)})
    r = rng(seed, "part")
    k = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": np.char.add(np.char.add(
            np.array(COLORS)[r.integers(0, 8, k)], " "),
            np.array(NOUNS)[r.integers(0, 8, k)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, k).astype(str)),
        "p_type": np.array(PTYPES)[r.integers(0, 6, k)],
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(k) * 0.1, 1)})
    r = rng(seed, "orders")
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, k, 1000, 500000),
        "o_orderdate": _days(r, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)]})
    r = rng(seed, "lineitem")
    k = n["lineitem"]
    qty = r.integers(1, 51, k).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(20, 2100, k), 2),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _days(r, k, "1995-01-02", "2001-11-04")})
    r = rng(seed, "events")
    k = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86400 * 1_000_000, k))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n["users"], k), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})
    r = rng(seed, "documents")
    k = n["documents"]
    text = _texts(r, k)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": text,
        "lang": np.array(LANGS)[r.choice(5, k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(s) for s in text], pa.int64())})
    r = rng(seed, "embeddings")
    k = n["embeddings"]
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": vector_column(unit_vectors(r, k)),
        "label": pa.array(r.integers(0, 10, k), pa.int32())})
    return t


def shuffled(table, seed, purpose):
    """`table` with its rows in a seeded order."""
    perm = rng(seed, "order:" + purpose).permutation(table.num_rows)
    return table.take(pa.array(perm))


def write_tables(tables, out_dir):
    """One single-row-group parquet file per table, like the fixtures."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tab.num_rows))


def input_bytes(out_dir):
    return sum(os.path.getsize(os.path.join(out_dir, f"{t}.parquet"))
               for t in TABLES)


def sample_queries(strata, per_stratum, seed, purpose, cost=None, tol=0.01):
    """A stratified seeded sample: `per_stratum` names drawn without
    replacement from each stratum (a list of name lists), then the
    whole sample in a seeded order.

    With `cost` (name -> seconds), draws are repeated from the same
    seeded stream until both the sample's summed cost and its median
    cost are within `tol` of the pool's expected figures (sum of the
    stratum means; median of the stratum means), so the queries vary
    with the seed while the pass's total and typical work do not. The
    tolerance is tight because a warm pass's wall moves about five times
    as much as the calibrated cost of the queries in it."""
    r = rng(seed, "sample:" + purpose)
    if cost is not None:
        means = [sum(cost[n] for n in s) / len(s) for s in strata
                 for _ in range(min(per_stratum, len(s)))]
        want_sum, want_med = sum(means), _median(means)
    while True:
        picked = []
        for names in strata:
            k = min(per_stratum, len(names))
            picked += [names[i] for i in sorted(r.choice(len(names), k,
                                                         replace=False))]
        if cost is None:
            break
        c = [cost[n] for n in picked]
        if (abs(sum(c) - want_sum) <= tol * want_sum
                and abs(_median(c) - want_med) <= tol * want_med):
            break
    return [picked[i] for i in r.permutation(len(picked))]


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return (s[(n - 1) // 2] + s[n // 2]) / 2


def ingest_batches(seed, base_ids, n_batches, append_rows, delete_rows,
                   first_new_id):
    """Seeded append and delete micro-batches over an index whose
    bootstrap membership is `base_ids`: batch i appends `append_rows`
    new vectors (fresh ids from `first_new_id`), and every other batch
    deletes `delete_rows` ids drawn from the current membership.
    Returns [(kind, ids, vectors or None)] and the expected final
    membership."""
    r = rng(seed, "ingest")
    live = list(base_ids)
    nxt = first_new_id
    out = []
    for i in range(n_batches):
        if i % 2 == 1:
            pick = r.choice(len(live), delete_rows, replace=False)
            ids = sorted(live[j] for j in pick)
            gone = set(ids)
            live = [x for x in live if x not in gone]
            out.append(("delete", ids, None))
        else:
            ids = list(range(nxt, nxt + append_rows))
            nxt += append_rows
            live += ids
            out.append(("append", ids, unit_vectors(r, append_rows)))
    return out, sorted(live)


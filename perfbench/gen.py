"""Seeded input generator for the benchmark workloads.

Writes one ``{table}.parquet`` (one file, one row group) per table of the
driver testdata schema (``TESTDATA.md``): the TPC-H-like star
(region nation customer supplier part orders lineitem) plus ``events``,
``documents`` and ``embeddings``. Schemas, column types and value
domains follow the testdata tables; every row is drawn fresh from the
seed, so no testdata row is copied. The same seed gives the same
tables, byte for byte in content; the volume (row counts) is fixed per
workload and does not depend on the seed.

Key skew: ``events.user_id``, ``orders.o_custkey`` and ``lineitem.l_partkey``
follow a Zipf-like law, share(rank) proportional to 1 / (rank + 1) ** KEY_SKEW,
over a seeded permutation of the key space, so the hot keys differ per
seed. Wherever it is cheap, the seed changes which rows carry a value and
not how many do (key counts per rank, document lengths, duplicate counts,
languages, labels), so runs on different seeds do the same amount of work. Foreign keys lineitem -> orders -> customer -> nation -> region,
lineitem -> part / supplier all resolve.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bumped whenever generated content changes, so cached input dirs from an
#: older generator are never reused.
GENERATOR_VERSION = 3

#: Zipf exponent of the skewed foreign keys (see module docstring).
KEY_SKEW = 0.5

#: Row counts per volume. ``sf0.1`` and ``sf0.01`` match the testdata
#: scale factors; ``warmup`` is the small input the set-up pass runs on.
VOLUMES = {
    "sf0.1": dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
                  lineitem=600_000, events=100_000, users=1_500,
                  documents=5_000, embeddings=2_000),
    "sf0.01": dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
                   lineitem=60_000, events=10_000, users=150,
                   documents=500, embeddings=500),
    "warmup": dict(customer=150, supplier=10, part=200, orders=1_500,
                   lineitem=6_000, events=1_000, users=15,
                   documents=200, embeddings=200),
}

#: Event-time span of ``events``. The stream replays cut it into 5-day
#: buckets, so 30 days gives the 7 data microbatches of the testdata; the
#: warm-up input spans one day (one data microbatch) to keep set-up short.
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = {"sf0.1": 30, "sf0.01": 30, "warmup": 1}
#: Bucket width of the time-bucketed replays (``_TWS_BUCKET_S`` in
#: ``queries/streaming_queries.py``): one microbatch per epoch-aligned bucket.
REPLAY_BUCKET_S = 432_000

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
#: Language mix per 100 documents, as in the testdata.
LANG_MIX = ("en",) * 41 + ("zh",) * 15 + ("de",) * 15 + ("fr",) * 15 + ("es",) * 14
#: Shares of documents that repeat an earlier document exactly, and that
#: repeat one with a trailing ``dup`` token (the dedup entries' targets).
EXACT_DUP_SHARE = 0.002
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64
N_LABELS = 10

_TS = pa.timestamp("us")
SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", _TS), ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", _TS)]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", _TS), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64()),
                         ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}
TABLES = tuple(SCHEMAS)


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table, so a table's content depends only
    # on the seed and its own volume
    return np.random.default_rng([seed, TABLES.index(table), GENERATOR_VERSION])


def skewed_keys(rng: np.random.Generator, n_keys: int, size: int) -> np.ndarray:
    """``size`` keys in ``[0, n_keys)``, key of rank r getting a share
    proportional to 1 / (r + 1) ** KEY_SKEW. The counts per rank are fixed;
    the seed chooses which key has which rank and the row order."""
    w = 1.0 / np.arange(1, n_keys + 1) ** KEY_SKEW
    counts = np.floor(w / w.sum() * size).astype(np.int64)
    counts[: size - counts.sum()] += 1
    return rng.permutation(np.repeat(rng.permutation(n_keys), counts))


def _fixed(rng: np.random.Generator, values, size: int) -> np.ndarray:
    """``values`` repeated to ``size`` in a seeded order: the seed moves the
    values around but never changes how often each occurs."""
    return rng.permutation(np.resize(np.asarray(values, dtype=object), size))


def _days(rng, start: dt.datetime, end: dt.datetime, size: int) -> np.ndarray:
    n = (end - start).days
    return np.datetime64(start, "us") + rng.integers(0, n + 1, size).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values, size) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), size)]


def build_tables(seed: int, volume: str, tables=TABLES) -> dict[str, pa.Table]:
    """The named tables for (seed, volume). Each table draws from its own
    random stream, so a subset equals the same tables of a full build."""
    return {t: pa.Table.from_pydict(_BUILDERS[t](seed, volume), schema=SCHEMAS[t])
            for t in tables}


def _region(seed: int, volume: str) -> dict:
    return dict(r_regionkey=np.arange(5), r_name=list(REGIONS))


def _nation(seed: int, volume: str) -> dict:
    r = _rng(seed, "nation")
    return dict(
        n_nationkey=np.arange(N_NATIONS),
        n_name=[f"NATION_{i}" for i in range(N_NATIONS)],
        # every region keeps five nations; which five is seeded
        n_regionkey=r.permutation(np.arange(N_NATIONS) % 5),
    )


def _customer(seed: int, volume: str) -> dict:
    r, n = _rng(seed, "customer"), VOLUMES[volume]["customer"]
    return dict(
        c_custkey=np.arange(n),
        c_name=[f"Customer#{i:09d}" for i in range(n)],
        c_nationkey=r.integers(0, N_NATIONS, n),
        c_acctbal=_money(r, -999.99, 9999.99, n),
        c_mktsegment=_pick(r, SEGMENTS, n),
    )


def _supplier(seed: int, volume: str) -> dict:
    r, n = _rng(seed, "supplier"), VOLUMES[volume]["supplier"]
    return dict(
        s_suppkey=np.arange(n),
        s_name=[f"Supplier#{i:09d}" for i in range(n)],
        s_nationkey=r.integers(0, N_NATIONS, n),
        s_acctbal=_money(r, -999.99, 9999.99, n),
    )


def _part(seed: int, volume: str) -> dict:
    r, n = _rng(seed, "part"), VOLUMES[volume]["part"]
    return dict(
        p_partkey=np.arange(n),
        p_name=[f"{a} {b}" for a, b in zip(_pick(r, PART_ADJ, n), _pick(r, PART_NOUN, n))],
        p_brand=[f"Brand#{b}" for b in r.integers(1, 26, n)],
        p_type=_pick(r, PART_TYPES, n),
        p_size=r.integers(1, 51, n),
        p_retailprice=np.round(900.0 + r.integers(0, 1000, n) / 10.0, 1),
    )


def _orders(seed: int, volume: str) -> dict:
    v = VOLUMES[volume]
    r, n = _rng(seed, "orders"), v["orders"]
    return dict(
        o_orderkey=np.arange(n),
        o_custkey=skewed_keys(r, v["customer"], n),
        o_orderstatus=_pick(r, ("F", "O", "P"), n),
        o_totalprice=_money(r, 1000.0, 500000.0, n),
        o_orderdate=_days(r, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n),
        o_orderpriority=_pick(r, PRIORITIES, n),
    )


def _lineitem(seed: int, volume: str) -> dict:
    v = VOLUMES[volume]
    r, n = _rng(seed, "lineitem"), v["lineitem"]
    return dict(
        l_orderkey=r.integers(0, v["orders"], n),
        l_partkey=skewed_keys(r, v["part"], n),
        l_suppkey=r.integers(0, v["supplier"], n),
        l_linenumber=r.integers(1, 8, n),
        l_quantity=r.integers(1, 51, n).astype(float),
        l_extendedprice=_money(r, 900.0, 105000.0, n),
        l_discount=r.integers(0, 11, n) / 100.0,
        l_tax=r.integers(0, 9, n) / 100.0,
        l_returnflag=_pick(r, ("A", "N", "R"), n),
        l_linestatus=_pick(r, ("F", "O"), n),
        l_shipdate=_days(r, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n),
    )


def _events(seed: int, volume: str) -> dict:
    r, n = _rng(seed, "events"), VOLUMES[volume]["events"]
    span_us = EVENT_DAYS[volume] * 86_400 * 1_000_000
    # sorted uniform arrival times, so event_id follows event time as in
    # the testdata; the seed jitters every timestamp
    offs = np.sort(r.integers(0, span_us, n))
    return dict(
        event_id=np.arange(n),
        ts=np.datetime64(EVENT_START, "us") + offs.astype("timedelta64[us]"),
        user_id=skewed_keys(r, VOLUMES[volume]["users"], n),
        event_type=_pick(r, EVENT_TYPES, n),
        value=np.round(r.exponential(50.0, n), 2),
        props=[f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    )


def _documents(seed: int, volume: str) -> dict:
    r, n = _rng(seed, "documents"), VOLUMES[volume]["documents"]
    lens = _fixed(r, np.arange(10, 101), n).astype(np.int64)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[r.integers(0, len(WORDS), k)]) for k in lens]
    # exact counts of duplicates, each copying an earlier original document
    n_exact, n_near = round(n * EXACT_DUP_SHARE), round(n * NEAR_DUP_SHARE)
    dups = r.permutation(np.arange(1, n))[: n_exact + n_near]
    near = set(dups[n_exact:].tolist())
    originals = np.setdiff1d(np.arange(n), dups)
    for i in np.sort(dups):
        src = originals[r.integers(0, np.searchsorted(originals, i))]
        texts[i] = texts[src] + (" dup" if i in near else "")
    return dict(
        doc_id=np.arange(n),
        text=texts,
        lang=_fixed(r, LANG_MIX, n),
        source=[f"src{i % 20}" for i in range(n)],
        n_chars=[len(t) for t in texts],
    )


def _embeddings(seed: int, volume: str) -> dict:
    r, n = _rng(seed, "embeddings"), VOLUMES[volume]["embeddings"]
    centroids = r.standard_normal((N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = _fixed(r, np.arange(N_LABELS), n).astype(np.int64)
    x = r.standard_normal((n, EMBED_DIM))
    x = x / np.linalg.norm(x, axis=1, keepdims=True) + 0.15 * centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return dict(vec_id=np.arange(n), embedding=list(x), label=labels)


_BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
             "supplier": _supplier, "part": _part, "orders": _orders,
             "lineitem": _lineitem, "events": _events, "documents": _documents,
             "embeddings": _embeddings}


def skew_stats(tables: dict[str, pa.Table]) -> dict[str, float]:
    """Share of rows that carry the hottest 1% of keys, per skewed column."""
    out = {}
    for table, col in (("events", "user_id"), ("orders", "o_custkey"),
                       ("lineitem", "l_partkey")):
        if table not in tables:
            continue
        keys = tables[table].column(col).to_numpy()
        counts = np.sort(np.bincount(keys))[::-1]
        top = max(1, len(counts) // 100)
        out[f"{table}.{col}"] = round(float(counts[:top].sum() / len(keys)), 4)
    return out


def ensure(out_dir: str, seed: int, volume: str, tables=TABLES) -> dict:
    """Write ``tables`` for (seed, volume) into ``out_dir`` unless a complete
    copy from this generator version is already there; return its manifest."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("generator_version") == GENERATOR_VERSION:
            return manifest
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = build_tables(seed, volume, tables)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    manifest = {
        "generator_version": GENERATOR_VERSION,
        "seed": seed,
        "volume": volume,
        "rows": {name: t.num_rows for name, t in tables.items()},
        "event_days": EVENT_DAYS[volume],
        "key_skew_exponent": KEY_SKEW,
        "top1pct_key_share": skew_stats(tables),
    }
    if "events" in tables:
        secs = tables["events"].column("ts").cast(pa.int64()).to_numpy() // 1_000_000
        _, rows = np.unique(secs // REPLAY_BUCKET_S, return_counts=True)
        manifest["replay_microbatch_rows"] = rows.tolist()
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    os.rename(tmp, out_dir)
    return manifest

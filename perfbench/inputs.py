"""Seeded input generator.

Writes the ten canonical tables (FIXTURES.md layout and parquet types)
into a fixture directory, derived from ``--seed`` only.  The seed
changes content and row order, never row counts: every table has the
fixed sizes below (the smoke-tier shape of the FIXTURES.md tables), so
the work per operation is comparable across seeds.

- Keys stay dense (``0..N-1``) because the declared queries filter on
  key ranges; foreign keys, measures, dates and categories are drawn
  from the seeded generator within the FIXTURES.md domains.
- Five parts form a chain in the co-order graph that ``x_graph_sssp``
  walks, so its depth (5 hops) and round count do not change with the
  seed.
- The corpus is bag-of-keywords text over a fixed vocabulary whose
  tokens are renamed with a seeded salt (a bijection, so shingle and
  Jaccard structure is preserved); 5% of documents are planted near
  duplicates (an earlier document's text plus one token).
- Embeddings are seeded unit vectors (dim 64) with a label.

``stream_chunks`` builds the seeded event chunks of ``stream_ingest``,
including the out-of-order and late shares.

Each table's row count and a content hash are returned so a run
records exactly which inputs it measured.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 15
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
ADJ = ["blue", "new", "cold", "hot", "red", "small", "green", "old"]
NOUN = ["rod", "gear", "anvil", "widget", "plate", "ring", "bolt", "spring"]
US = 1_000_000
# x_graph_sssp walks the co-order part graph of the orders with
# o_orderkey % 8 == 0 from its smallest part for up to 6 rounds.  A
# chain of SSSP_CHAIN parts hung off part 0 fixes the walk's depth, and
# so its round count, for every seed (unplanted, it is 3 or 4 hops).
SSSP_CHAIN = 5


def _days(start: dt.date, n: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + n.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.permutation(np.arange(25) % 5), pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(npart)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = n["orders"]
    span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, span + 1, no)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    t["lineitem"] = _lineitem(rng, n["lineitem"], no, npart, ns)
    t["events"] = _events(rng, n["events"])
    t["documents"] = _documents(rng, n["documents"])
    ne = n["embeddings"]
    vec = rng.standard_normal((ne, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(ne), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32()),
    })
    return t


def _lineitem(rng, nl, no, npart, ns) -> pa.Table:
    # 0..7 lines per order, topped up to exactly nl rows
    counts = rng.integers(0, 8, no)
    while counts.sum() != nl:
        i = rng.integers(0, no)
        if counts.sum() < nl and counts[i] < 7:
            counts[i] += 1
        elif counts.sum() > nl and counts[i] > 0:
            counts[i] -= 1
    okey = np.repeat(np.arange(no), counts)
    line = np.concatenate([np.arange(1, c + 1) for c in counts if c])
    perm = rng.permutation(nl)
    okey = okey[perm]
    # the chain parts appear only in the chain's orders, each order
    # linking two neighbours of the chain
    part = rng.integers(0, npart - SSSP_CHAIN, nl)
    chain = [0] + list(range(npart - SSSP_CHAIN, npart))
    links = rng.choice([o for o in range(0, no, 8) if counts[o] >= 2], SSSP_CHAIN, replace=False)
    for k, o in enumerate(links):
        rows = np.flatnonzero(okey == o)
        part[rows] = chain[k + 1]
        part[rows[0]] = chain[k]
    span = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(line[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, span + 1, nl)),
    })


def _event_columns(rng, ids: np.ndarray, ts_us: np.ndarray, users: int) -> dict:
    n = len(ids)
    return {
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _events(rng, n) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month = 30 * 86400 * US
    ts = np.sort(start + rng.integers(0, month, n))
    return pa.table(_event_columns(rng, np.arange(n), ts, EVENT_USERS))


def _documents(rng, n) -> pa.Table:
    salt = "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 2))
    words = np.array([w + salt for w in VOCAB])
    dup = "dup" + salt
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " " + dup)
        else:
            texts.append(" ".join(rng.choice(words, rng.integers(10, 100))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def content_hash(table: pa.Table) -> str:
    h = hashlib.sha256()
    for batch in table.to_batches():
        for col in batch.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]


def write_fixture(seed: int, out_dir: str) -> dict[str, dict]:
    """Write the seeded tables as ``<out_dir>/<table>.parquet``; return
    ``{table: {"rows": n, "hash": h}}``."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        manifest[name] = {"rows": table.num_rows, "hash": content_hash(table)}
    return manifest


# ------------------------------------------------------------ stream input

STREAM_USERS = 40
STREAM_EPOCH = np.datetime64("2024-02-01T00:00:00", "us")
CHUNK_SPAN_S = 60  # event time covered by one chunk
LATE_TYPES = ["error", "signup", "view"]  # not referenced by the CEP pattern


def stream_chunks(
    seed: int, first_chunk: int, n_chunks: int, per_chunk: int,
    late_from: int, ooo_max_s: int, ooo_share: float = 0.10, late_share: float = 0.03,
) -> list[pa.Table]:
    """Seeded event chunks ``first_chunk ..`` in arrival order.

    Chunk ``c`` covers event time ``[c, c+1) * CHUNK_SPAN_S`` after
    ``STREAM_EPOCH``; event ids are ``c * per_chunk ..``.  A seeded
    ``ooo_share`` of events arrives out of order (event time moved back
    by less than ``ooo_max_s``) and, from chunk ``late_from`` on, a
    seeded ``late_share`` arrives late (event time in the hour before
    the epoch, behind any watermark by then).  Only event types the CEP
    pattern ignores are displaced, so the pattern query's answer does
    not depend on arrival order.
    """
    epoch = STREAM_EPOCH.astype(np.int64)
    out = []
    for c in range(first_chunk, first_chunk + n_chunks):
        rng = np.random.default_rng([seed, c])
        lo = epoch + c * CHUNK_SPAN_S * US
        ts = np.sort(lo + rng.integers(0, CHUNK_SPAN_S * US, per_chunk))
        cols = _event_columns(rng, np.arange(c * per_chunk, (c + 1) * per_chunk), ts, STREAM_USERS)
        etype = np.asarray(cols["event_type"], dtype=object)
        kinds = rng.random(per_chunk)
        movable = np.isin(etype, LATE_TYPES)
        ooo = movable & (kinds < ooo_share)
        late = movable & (kinds >= ooo_share) & (kinds < ooo_share + late_share) & (c >= late_from)
        ts[ooo] -= rng.integers(1, ooo_max_s * US, ooo.sum())
        ts[late] = epoch - rng.integers(3600 * US, 7200 * US, late.sum())
        # UTC-zoned, as the engine's replay files are (a watermark needs
        # TIMESTAMP, not TIMESTAMP_NTZ)
        cols["ts"] = pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC"))
        out.append(pa.table(cols))
    return out

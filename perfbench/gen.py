"""Seeded input generator for the benchmark.

Everything the engine reads during a benchmark run comes from here:

- ``tables/``: the ten driver-contract tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the column names and
  Parquet types the registry queries expect. Values, row order and the
  row-group split all follow the seed.
- ``bearing/``: a snapshot corpus in the reference's on-disk layout (one
  headerless TSV per snapshot, the file name is the timestamp). Noise
  level, the degraded channel and the onset of degradation follow the
  seed; ``manifest.json`` records the injected fault so the benchmark
  can check the pipeline found it.
- ``bearing_stream/``: the same files plus one late flush file, so the
  zero-delay watermark closes the last episode of the stream.
- ``curation/``: the ``documents`` table split into chunk files, the
  input of the curation stream.

Generation is pure NumPy/PyArrow (no Spark) and is cached per seed.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 7

# table sizes (rows): the row counts of the sf0.1 test tables,
# except documents (2,000 of sf0.1's 5,000; see BASELINE.md)
N_SUPPLIER = 1_000
N_CUSTOMER = 15_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 2_000
N_EMB = 2_000
EMB_DIM = 64

# bearing corpus
BEARING_FILES = 40
BEARING_ROWS = 4096
BEARING_CHANNELS = 4
BEARING_DEGRADE = 25.0  # amplitude factor of the degraded channel

CURATION_CHUNKS = 8

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big "
    "sort query fast"
).split()
_STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "et", "les", "des", "un"],
}
_LANGS = ["en", "de", "es", "fr", "zh"]
_PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(rng, tbl: pa.Table, path: str) -> None:
    """Shuffle rows and cut row groups by the seed."""
    order = rng.permutation(tbl.num_rows)
    tbl = tbl.take(pa.array(order))
    groups = int(rng.integers(1, 5))
    pq.write_table(tbl, path, row_group_size=max(1, -(-tbl.num_rows // groups)))


def _documents(rng) -> pa.Table:
    texts, langs = [], []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 20 and r < 0.04:
            # exact duplicate of an earlier document
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 20 and r < 0.10:
            # near duplicate: an earlier document plus a short suffix
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup" * int(rng.integers(1, 3)))
            langs.append(langs[j])
            continue
        lang = str(rng.choice(_LANGS, p=[0.44, 0.14, 0.14, 0.14, 0.14]))
        n = 3 if r > 0.97 else int(rng.integers(8, 90))
        words = list(rng.choice(_VOCAB, n))
        stops = _STOP.get(lang, [])
        if stops and r < 0.9:
            k = int(rng.integers(1, max(2, n // 5)))
            for pos in rng.integers(0, n, k):
                words[int(pos)] = str(rng.choice(stops))
        texts.append(" ".join(words))
        langs.append(lang)
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_EMB).astype(np.int32)
    cents = rng.normal(size=(10, EMB_DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = rng.normal(size=(N_EMB, EMB_DIM)) / np.sqrt(EMB_DIM)
    vecs += 0.6 * cents[labels]
    # a few near-duplicate vectors so semantic dedup has pairs to drop
    for i in rng.choice(np.arange(50, N_EMB), N_EMB // 20, replace=False):
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.01, size=EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    return pa.table(
        {
            "vec_id": np.arange(N_EMB, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": labels,
        }
    )


def _tables(rng) -> dict[str, pa.Table]:
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, N_EVENTS).astype("timedelta64[us]")
    )
    return {
        "region": pa.table(
            {
                "r_regionkey": i32(range(5)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32(rng.integers(0, 5, 25)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                "s_nationkey": i32(rng.integers(0, 25, N_SUPPLIER)),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                "c_nationkey": i32(rng.integers(0, 25, N_CUSTOMER)),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    N_CUSTOMER,
                ),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(N_PART, dtype=np.int64),
                "p_name": [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (N_PART, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
                "p_type": rng.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], N_PART
                ),
                "p_size": i32(rng.integers(1, 51, N_PART)),
                "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
                "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
                "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
                "o_totalprice": _money(rng, 1000, 500_000, N_ORDERS),
                "o_orderdate": _days(rng, "1995-01-01", 2400, N_ORDERS),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    N_ORDERS,
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
                "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
                "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
                "l_linenumber": i32(rng.integers(1, 8, N_LINEITEM)),
                "l_quantity": qty,
                # whole hundreds: price * (1 - discount) then has at most
                # two decimals, so the queries' round(sum(...), 2) never
                # lands on a tie that summation order could flip
                "l_extendedprice": qty * 100 * rng.integers(9, 22, N_LINEITEM),
                "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
                "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
                "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
                "l_shipdate": _days(rng, "1995-01-02", 2500, N_LINEITEM),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(N_EVENTS, dtype=np.int64),
                "ts": ev_ts,
                "user_id": rng.integers(0, N_USERS, N_EVENTS),
                "event_type": rng.choice(
                    ["click", "error", "purchase", "signup", "view"], N_EVENTS
                ),
                "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
            }
        ),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def _bearing(rng, out: str) -> dict:
    """Snapshot corpus with one channel degrading from a seeded onset."""
    os.makedirs(out)
    channel = int(rng.integers(0, BEARING_CHANNELS))
    onset = int(rng.integers(BEARING_FILES * 3 // 5, BEARING_FILES * 4 // 5))
    sigma = float(rng.uniform(0.8, 1.2))
    for f in range(BEARING_FILES):
        cols = rng.normal(0.0, sigma, size=(BEARING_ROWS, BEARING_CHANNELS))
        if f >= onset:
            cols[:, channel] *= BEARING_DEGRADE
        # one snapshot per minute: the stream's 1-minute windows then
        # see one file each
        stamp = f"2004.02.12.{10 + f // 60:02d}.{f % 60:02d}.00"
        np.savetxt(os.path.join(out, stamp), cols, fmt="%.6f", delimiter="\t")
    return {"channel": channel, "onset_file": onset, "sigma": round(sigma, 6)}


def _order_by_mtime(out: str) -> None:
    """Give the files in ``out`` modification times one second apart, in
    name order. A file stream source takes files oldest first, and files
    written within the same millisecond tie, so their order across
    micro-batches would follow the directory listing. A file that lands
    in a later batch than a newer one falls behind the zero-delay
    watermark and is dropped as late."""
    for k, f in enumerate(sorted(os.listdir(out))):
        t = 1_000_000_000 + k
        os.utime(os.path.join(out, f), (t, t))


def _bearing_stream(src: str, out: str) -> None:
    os.makedirs(out)
    for f in sorted(os.listdir(src)):
        shutil.copyfile(os.path.join(src, f), os.path.join(out, f))
    # stamped past the degraded tail so the watermark closes the episode
    last = BEARING_FILES + 30
    with open(os.path.join(out, f"2004.02.12.{10 + last // 60:02d}.{last % 60:02d}.00"), "w") as fh:
        fh.write("\t".join(["0.0"] * BEARING_CHANNELS) + "\n")
    _order_by_mtime(out)


def _curation(rng, docs: pa.Table, out: str) -> None:
    os.makedirs(out)
    cols = docs.select(["doc_id", "lang", "text"])
    bounds = np.linspace(0, cols.num_rows, CURATION_CHUNKS + 1).astype(int)
    for k in range(CURATION_CHUNKS):
        part = cols.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(out, f"part-{k:05d}.parquet"))
    _order_by_mtime(out)


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def generate(seed: int, root: str) -> tuple[str, dict]:
    """Return (input dir, manifest) for ``seed``, generating if absent."""
    out = os.path.join(root, f"v{VERSION}-seed{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        manifest["cached"] = True
        return out, manifest
    t0 = time.perf_counter()
    # a directory of this process's own, renamed into place when complete:
    # runs that generate the same seed at once never see a partial input
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tables"))
    rng = np.random.default_rng(seed)
    tables = _tables(rng)
    for name, tbl in tables.items():
        _write(rng, tbl, os.path.join(tmp, "tables", f"{name}.parquet"))
    fault = _bearing(rng, os.path.join(tmp, "bearing"))
    _bearing_stream(os.path.join(tmp, "bearing"), os.path.join(tmp, "bearing_stream"))
    _curation(rng, tables["documents"], os.path.join(tmp, "curation"))
    manifest = {
        "seed": seed,
        "fault": fault,
        "tables": {
            name: {
                "rows": tbl.num_rows,
                "bytes": _du(os.path.join(tmp, "tables", f"{name}.parquet")),
            }
            for name, tbl in tables.items()
        },
        "bearing": {
            "files": BEARING_FILES,
            "rows": BEARING_FILES * BEARING_ROWS,
            "channels": BEARING_CHANNELS,
            "bytes": _du(os.path.join(tmp, "bearing")),
        },
        "curation": {"files": CURATION_CHUNKS, "rows": N_DOCS,
                     "bytes": _du(os.path.join(tmp, "curation"))},
        "gen_s": round(time.perf_counter() - t0, 3),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    try:
        os.rename(tmp, out)
    except OSError:
        # another run finished the same seed first; its files are the same
        shutil.rmtree(tmp, ignore_errors=True)
    manifest["cached"] = False
    return out, manifest

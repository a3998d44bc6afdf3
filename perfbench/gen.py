"""Seeded input generator for the benchmark.

`generate(out_dir, seed, scale)` writes the ten input tables the queries
read (`region nation customer supplier part orders lineitem events
documents embeddings`, one parquet file each) at sf0.1 row counts, with
the column types and value domains of the project's synthetic test data.
With `scale > 1` it then expands `documents` and `embeddings` into
`scale` id-offset copies: every copy after the first resamples a share
of each document's tokens and adds noise to each vector, so the copies
are near-duplicates of the originals rather than exact ones. An expanded
table is written as a directory `<name>.parquet/` with one file per copy,
the layout of a sharded corpus, so a scan has one split per copy. The
other tables are not scaled.

The same seed and scale give the same bytes. `generate` returns, per
table, the row count and file size, plus a sha256 fingerprint over all
files in table order.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# sf0.1 row counts
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
             "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
N_NEAR_DUPS = 250      # planted "<copy of another doc> dup" documents
EMB_DIM = 64
TOKEN_RESAMPLE = 0.1   # share of tokens resampled in each scaled copy
VECTOR_NOISE = 0.05    # std-dev of the noise added to each scaled vector

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _relational(rngs):
    n = ROWS
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    r = rngs["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": _keyed_names("Customer", n["customer"]),
        "c_nationkey": r.integers(0, 25, n["customer"], dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n["customer"])]})
    r = rngs["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": _keyed_names("Supplier", n["supplier"]),
        "s_nationkey": r.integers(0, 25, n["supplier"], dtype=np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"])})
    r = rngs["part"]
    pk = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            r.integers(0, 8, n["part"]), r.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n["part"])],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n["part"])],
        "p_size": r.integers(1, 51, n["part"], dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    r = rngs["orders"]
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
        "o_totalprice": _money(r, 1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2405, no) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)]})
    r = rngs["lineitem"]
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, no, nl, dtype=np.int64),
        "l_partkey": r.integers(0, n["part"], nl, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], nl, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, nl),
        "l_discount": _money(r, 0.0, 0.1, nl),
        "l_tax": _money(r, 0.0, 0.08, nl),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
        "l_shipdate": _ts(EPOCH_1995 + r.integers(1, 2499, nl) * DAY_US)})
    r = rngs["events"]
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, ne))),
        "user_id": r.integers(0, 1500, ne, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})
    return out


def _token_ids(rng, n_docs):
    lengths = rng.integers(10, 101, n_docs)
    return np.split(rng.integers(0, len(VOCAB), int(lengths.sum())),
                    np.cumsum(lengths)[:-1])


def _documents(rng):
    nd = ROWS["documents"]
    texts = [" ".join(VOCAB[t] for t in ids) for ids in _token_ids(rng, nd)]
    for tgt, src in zip(rng.choice(nd, N_NEAR_DUPS, replace=False),
                        rng.integers(0, nd, N_NEAR_DUPS)):
        texts[tgt] = texts[src] + " dup"
    ids = np.arange(nd, dtype=np.int64)
    return {"doc_id": ids, "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in ids]}


def _unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _embeddings(rng):
    ne = ROWS["embeddings"]
    return {"vec_id": np.arange(ne, dtype=np.int64),
            "embedding": _unit(rng.standard_normal((ne, EMB_DIM))),
            "label": rng.integers(0, 10, ne, dtype=np.int32)}


def _resample(rng, text):
    words = text.split(" ")
    hits = np.flatnonzero(rng.random(len(words)) < TOKEN_RESAMPLE)
    for i, w in zip(hits, rng.integers(0, len(VOCAB), len(hits))):
        words[i] = VOCAB[w]
    return " ".join(words)


def _docs_table(d, scale, rng):
    nd = len(d["doc_id"])
    ids, texts, langs, sources = [], [], [], []
    for k in range(scale):
        ids.append(d["doc_id"] + k * nd)
        texts += d["text"] if k == 0 else [_resample(rng, t) for t in d["text"]]
        langs.append(d["lang"])
        sources += d["source"]
    return pa.table({
        "doc_id": np.concatenate(ids), "text": texts,
        "lang": np.concatenate(langs), "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings_table(e, scale, rng):
    ne = len(e["vec_id"])
    vecs = [e["embedding"]] + [
        _unit(e["embedding"] + rng.normal(0, VECTOR_NOISE, e["embedding"].shape))
        for _ in range(1, scale)]
    flat = np.concatenate(vecs).reshape(-1)
    offsets = np.arange(0, len(flat) + 1, EMB_DIM, dtype=np.int32)
    return pa.table({
        "vec_id": np.concatenate([e["vec_id"] + k * ne for k in range(scale)]),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(flat, pa.float32())),
        "label": np.tile(e["label"], scale)})


def tables(seed, scale=1):
    """All ten tables as pyarrow Tables, keyed by name."""
    names = TABLES + ["scale"]
    rngs = dict(zip(names, (np.random.default_rng(s) for s in
                            np.random.SeedSequence(seed).spawn(len(names)))))
    out = _relational(rngs)
    out["documents"] = _docs_table(_documents(rngs["documents"]), scale,
                                   rngs["scale"])
    out["embeddings"] = _embeddings_table(_embeddings(rngs["embeddings"]),
                                          scale, rngs["scale"])
    return out


def _files(name, table, scale):
    """(file name, table) pairs of one table: a single file, or one file
    per copy in a directory when the table was expanded."""
    if scale == 1 or name not in ("documents", "embeddings"):
        return [(f"{name}.parquet", table)]
    n = table.num_rows // scale
    return [(os.path.join(f"{name}.parquet", f"part-{k:05d}.parquet"),
             table.slice(k * n, n)) for k in range(scale)]


def generate(out_dir, seed, scale=1):
    """Write every table to `out_dir`; return its per-table stats and
    a fingerprint of the written bytes."""
    digest = hashlib.sha256()
    stats = {}
    for name, table in tables(seed, scale).items():
        size = 0
        for rel, part in _files(name, table, scale):
            path = os.path.join(out_dir, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(part, path, row_group_size=max(1, part.num_rows),
                           compression="snappy")
            with open(path, "rb") as f:
                data = f.read()
            digest.update(rel.encode() + b"\0" + data)
            size += len(data)
        stats[name] = {"rows": table.num_rows, "bytes": size}
    return {"tables": stats, "sha256": digest.hexdigest()}

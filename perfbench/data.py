"""Seeded input generators. The same seed gives byte-identical inputs.

Every generator writes under a directory the caller owns; nothing here
touches Spark — the engine only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sybil_queries / ingest_digest event time axis: unix seconds, the
#: eight weeks before T_END (the reference `uptime` fixture spans now
#: +- 4 weeks; a fixed end keeps the query windows seed-independent)
T_END = 1_700_006_400
T_SPAN = 56 * 86_400
T_START = T_END - T_SPAN

HOSTS = np.array(["h0", "h1", "h2", "h3", "h4"])
STATUSES = np.array(["200", "403", "404", "500", "503"])
WEIGHTS = np.array([1, 10, 100])
ACTIONS = np.array(["pageload", "click", "scroll", "hover", "submit",
                    "login", "logout", "search", "share"])

#: the `groups` set column: subset of {mod2, mod3, mod5} by
#: index divisibility, else {none} (FIXTURES.md, `uptime`)
_GROUP_SETS = [["none"], ["mod2"], ["mod3"], ["mod2", "mod3"], ["mod5"],
               ["mod2", "mod5"], ["mod3", "mod5"], ["mod2", "mod3", "mod5"]]


def uptime_rows(seed: int, n: int) -> pa.Table:
    """The reference's `uptime` fixture: host, status, ping, weight,
    time, index_int and the `groups` set column."""
    rng = np.random.default_rng(seed)
    idx = np.arange(n, dtype=np.int64)
    code = (idx % 2 == 0) * 1 + (idx % 3 == 0) * 2 + (idx % 5 == 0) * 4
    sets = np.empty(len(_GROUP_SETS), dtype=object)
    sets[:] = _GROUP_SETS
    return pa.table({
        "host": HOSTS[rng.integers(0, len(HOSTS), n)],
        "status": STATUSES[rng.integers(0, len(STATUSES), n)],
        "ping": np.abs(rng.normal(60.0, 20.0, n)).astype(np.int64),
        "weight": WEIGHTS[rng.integers(0, len(WEIGHTS), n)],
        "time": T_START + rng.integers(0, T_SPAN, n),
        "index_int": idx,
        "groups": pa.array(list(sets[code]), type=pa.list_(pa.string())),
    })


def ndjson_batches(seed: int, out_dir: str, n_batches: int,
                   rows: int) -> list[str]:
    """`n_batches` NDJSON files of `rows` activity-style events each
    (the `activity` fixture plus host/status/ping and a random 32-hex
    `session` token, which keeps the landing parquet near 45 B/row).
    Returns the paths in ingest order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for b in range(n_batches):
        tokens = rng.bytes(16 * rows).hex()
        cols = zip(
            (T_START + rng.integers(0, T_SPAN, rows)).tolist(),
            HOSTS[rng.integers(0, len(HOSTS), rows)].tolist(),
            STATUSES[rng.integers(0, len(STATUSES), rows)].tolist(),
            np.abs(rng.normal(60.0, 20.0, rows)).astype(np.int64).tolist(),
            WEIGHTS[rng.integers(0, len(WEIGHTS), rows)].tolist(),
            ACTIONS[rng.integers(0, len(ACTIONS), rows)].tolist(),
            rng.integers(1, 5001, rows).tolist(),
            (tokens[i:i + 32] for i in range(0, 32 * rows, 32)))
        path = os.path.join(out_dir, f"batch-{b:04d}.json")
        with open(path, "w") as f:
            f.writelines(
                f'{{"time": {t}, "host": "{h}", "status": "{st}", '
                f'"ping": {p}, "weight": {w}, "action": "{a}", '
                f'"userid": "person{u}", "session": "{s}"}}\n'
                for t, h, st, p, w, a, u, s in cols)
        paths.append(path)
    return paths


#: the corpus documents' token vocabulary (the shape of the testdata
#: `documents` table: 31 lower-case tokens, 10-100 tokens per text)
VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window"])
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def corpus_tables(seed: int, out_dir: str, docs: int, vectors: int,
                  lineitems: int) -> None:
    """The corpus tables the corpus_ops op list reads, in the schema of
    the testdata star schema: `documents`, `embeddings` and `lineitem`,
    one parquet file each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # documents: random token texts; ~4% near-duplicates (a copy with
    # two tokens swapped out) and ~1% exact copies, so the dedup and
    # similarity ops have pairs to find
    texts: list[str] = []
    for i in range(docs):
        r = rng.random()
        if i >= 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 10 and r < 0.05:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), 2):
                toks[j] = str(VOCAB[rng.integers(0, len(VOCAB))])
        else:
            toks = list(VOCAB[rng.integers(0, len(VOCAB),
                                           int(rng.integers(10, 101)))])
        texts.append(" ".join(toks))
    pq.write_table(pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))

    # embeddings: unit-norm 64-d float32, ten loose clusters
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, vectors).astype(np.int32)
    v = centers[label] * 0.6 + rng.normal(0.0, 1.0, (vectors, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label,
    }), os.path.join(out_dir, "embeddings.parquet"))

    # lineitem: TPC-H value ranges, ship dates 1995-01-02..2001-11-04
    n = lineitems
    qty = rng.integers(1, 51, n).astype(np.float64)
    d0 = np.datetime64("1995-01-02", "D").astype(np.int64)
    days = d0 + rng.integers(0, 2498, n)
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, max(1, n // 4), n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(days * 86_400 * 10**6,
                               type=pa.timestamp("us")),
    }), os.path.join(out_dir, "lineitem.parquet"))

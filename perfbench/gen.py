"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and is deterministic: the
same seed writes byte-identical content (checked by `content_hash`). The
engine under test only ever sees the files written here.

Shapes follow the engine's fixture tables (FIXTURES.md §3):

- events: event_id, ts (TIMESTAMP micros, no zone) over 30 days,
  user_id 0-1499, five event_types, value, props '{"k": 0-99}';
- documents: doc_id, text over the fixture's 30-word vocabulary, lang,
  source, n_chars, with a stated exact- and near-duplicate share;
  doc_ids are dense from 0, so every `doc_id % 17 == 0` eval-stride doc
  is present;
- embeddings: vec_id, 64-dim unit float32 vectors, label 0-9;
- the DSL request sequence: one weighted, seeded list of registered
  body names per client.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
N_SOURCES = 20
DIM = 64
N_LABELS = 10
DAY_US = 86_400_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00

# DSL request mix per block of 20 requests: the signal-index bodies the
# reference itself sends, with a minority of document and approximate-kNN
# bodies.
DSL_MIX = [
    ("dsl_search", 5), ("dsl_collapse", 3), ("dsl_collapse_inner", 3),
    ("dsl_aggs", 4), ("dsl_match", 2), ("dsl_multi_match", 1),
    ("dsl_knn_approx", 2),
]


def _rng(seed, stream):
    # independent streams per table so sizes can change independently
    return np.random.default_rng([int(seed), stream])


def events_table(seed, n):
    r = _rng(seed, 1)
    ts = np.sort(T0_US + r.integers(0, 30 * DAY_US, n))
    k = r.integers(0, 100, n)
    props = np.array(['{"k": %d}' % i for i in range(100)], dtype=object)[k]
    value = np.round(r.gamma(2.0, 50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[
            r.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(value),
        "props": pa.array(props, type=pa.string()),
    })


def _words(r, lo=10, hi=100):
    return [VOCAB[i] for i in r.integers(0, len(VOCAB), r.integers(lo, hi + 1))]


def documents_table(seed, n, exact_dup=0.0, near_dup=0.0):
    """`exact_dup` of the docs copy an earlier doc's text verbatim and
    `near_dup` copy one with a single word replaced (a near-duplicate
    the MinHash stage should catch); the rest are fresh."""
    r = _rng(seed, 2)
    texts = []
    kind = r.random(n)
    for i in range(n):
        if i > 0 and kind[i] < exact_dup:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 0 and kind[i] < exact_dup + near_dup:
            w = texts[int(r.integers(0, i))].split(" ")
            w[int(r.integers(0, len(w)))] = "dup"
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(_words(r)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[
            r.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % N_SOURCES) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed, n):
    r = _rng(seed, 3)
    x = r.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, N_LABELS, n, dtype=np.int32)),
    })


def dsl_sequence(seed, clients, length):
    """One request sequence per client. A global sequence of blocks, each
    a seeded shuffle of DSL_MIX, is dealt round-robin to the clients, so
    every prefix the clients complete together has the mix's make-up."""
    r = _rng(seed, 4)
    block = [name for name, n in DSL_MIX for _ in range(n)]
    seq = []
    while len(seq) < clients * length:
        seq += [block[i] for i in r.permutation(len(block))]
    return [seq[c::clients][:length] for c in range(clients)]


def write_parquet(table, path, row_group_rows=None):
    # one row group unless asked: the fixture's single-row-group layout
    pq.write_table(table, path, row_group_size=row_group_rows or len(table),
                   compression="snappy")


def content_hash(paths):
    """SHA-256 over the files' bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# Sizes per workload, and why (see NOTES.md).
SIZES = {
    "asset_etl": {"events": 50_000, "files": 8, "row_group_rows": 2_048},
    "dsl_serving": {"events": 20_000, "documents": 1_000,
                    "embeddings": 500, "clients": 4, "sequence": 1_000},
    "corpus_export": {"documents": 1_500, "exact_dup": 0.10,
                      "near_dup": 0.10},
}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` into directory `out`; returns
    a description of what was written (sizes and content hash)."""
    s = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    files = []
    if workload == "asset_etl":
        # a directory of part files, as a Spark writer leaves it: the
        # scan splits by file and row group
        ev = events_table(seed, s["events"])
        os.makedirs(f"{out}/events.parquet")
        per = -(-len(ev) // s["files"])
        for i in range(s["files"]):
            name = f"events.parquet/part-{i:05d}.parquet"
            write_parquet(ev.slice(i * per, per), f"{out}/{name}",
                          s["row_group_rows"])
            files.append(name)
    elif workload == "dsl_serving":
        write_parquet(events_table(seed, s["events"]), f"{out}/events.parquet")
        write_parquet(documents_table(seed, s["documents"]),
                      f"{out}/documents.parquet")
        write_parquet(embeddings_table(seed, s["embeddings"]),
                      f"{out}/embeddings.parquet")
        with open(f"{out}/requests.json", "w") as f:
            json.dump(dsl_sequence(seed, s["clients"], s["sequence"]), f)
        files += ["events.parquet", "documents.parquet", "embeddings.parquet",
                  "requests.json"]
    elif workload == "corpus_export":
        write_parquet(documents_table(seed, s["documents"], s["exact_dup"],
                                      s["near_dup"]),
                      f"{out}/documents.parquet")
        files.append("documents.parquet")
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return {"sizes": s, "files": files,
            "content_sha256": content_hash([f"{out}/{p}" for p in files])}

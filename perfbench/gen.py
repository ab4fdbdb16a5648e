"""Seeded input generator for the graft benchmark.

Every input a workload reads is derived from ``(workload, seed)`` alone, so
the same seed gives byte-identical inputs and a different seed gives
different ones.  The tables mirror the schema and value distributions of
the engine's sf0.1 test corpus (GA-style ``events`` over January 2024,
``customer``, ``documents`` with a 5% near-duplicate rate, ``embeddings``)
without reading it.  Besides the parquet tables the program reads, each
workload gets a small JSON plan (its lookup keys, its corpus size) that the
benchmark replays.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("churn_daily", "llm_curation")

# sf0.1 shapes (the churn job's cycle cuts fall inside this January window)
N_EVENTS = 100_000
N_USERS = 1_500
N_CUSTOMERS = 15_000
DAY0 = 19723  # 2024-01-01 as epoch day
N_DAYS = 30
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")

# llm corpus: twice the sf0.1 document/embedding counts, same dup rate
N_DOCS = 10_000
DUP_RATE = 0.05
N_VECS = 4_000
DIM = 64
VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))

N_LOOKUPS = 400
LOOKUP_IDS = 16


def _rng(workload, seed, stream):
    salt = sum((i + 1) * ord(c) for i, c in enumerate(workload + "/" + stream))
    return np.random.default_rng([int(seed), salt])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _events(rng, n=N_EVENTS):
    start_us = DAY0 * 86_400_000_000
    ts = np.sort(rng.integers(0, N_DAYS * 86_400_000_000, n)) + start_us
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": np.round(rng.uniform(0.0, 560.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def _events_table(ev):
    return pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in ev["event_type"]], pa.string()),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in ev["k"]], pa.string()),
    })


def _customers(rng):
    n = N_CUSTOMERS
    segs = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, len(segs), n)]),
    })


def ep_day(ts_us):
    return ts_us // 1_000_000 // 86_400


def gen_churn(seed, out):
    rng = _rng("churn_daily", seed, "events")
    ev = _events(rng)
    _write(_events_table(ev), os.path.join(out, "events.parquet"))
    _write(_customers(_rng("churn_daily", seed, "customer")), os.path.join(out, "customer.parquet"))
    lk = _rng("churn_daily", seed, "lookups")
    # ~9% of requested ids name users that never appear
    lookups = [sorted(set(lk.integers(0, int(N_USERS * 1.1), LOOKUP_IDS).tolist()))
               for _ in range(N_LOOKUPS)]
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump({"lookups": lookups}, f)
    return {"events": N_EVENTS, "users": N_USERS, "customers": N_CUSTOMERS,
            "lookups": N_LOOKUPS, "ids_per_lookup": LOOKUP_IDS}


def _documents(rng):
    lens = rng.integers(8, 97, N_DOCS)
    words = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)) for n in lens]
    # near-duplicates: each derives from its OWN earlier base document by a
    # seeded one-word substitution plus a marker token, so every duplicate
    # group is a pair (no exact-copy cliques) at the sf0.1 rate
    n_dup = int(N_DOCS * DUP_RATE)
    dup_pos = np.sort(rng.choice(np.arange(N_DOCS // 2, N_DOCS), n_dup, replace=False))
    bases = rng.choice(np.arange(0, N_DOCS // 2), n_dup, replace=False)
    for p, b in zip(dup_pos, bases):
        toks = words[b].split(" ")
        toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        words[p] = " ".join(toks) + " dup"
    lang_p = np.array([p for _, p in LANGS])
    langs = rng.choice(len(LANGS), N_DOCS, p=lang_p / lang_p.sum())
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(words),
        "lang": pa.array([LANGS[i][0] for i in langs]),
        "source": pa.array(["src%d" % (i % 20) for i in range(N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in words], dtype=np.int64)),
    })


def _embeddings(rng):
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vec = 0.07 * centers[labels] + rng.normal(0.0, 1.0, (N_VECS, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def gen_llm(seed, out):
    _write(_documents(_rng("llm_curation", seed, "documents")),
           os.path.join(out, "documents.parquet"))
    _write(_embeddings(_rng("llm_curation", seed, "embeddings")),
           os.path.join(out, "embeddings.parquet"))
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump({"documents": N_DOCS}, f)
    return {"documents": N_DOCS, "near_duplicates": int(N_DOCS * DUP_RATE),
            "embeddings": N_VECS, "dim": DIM}


def probe_tables(seed, out):
    """Add the tables a traced run's layer probes read and the workload does not."""
    tables = {
        "events.parquet": lambda: _events_table(_events(_rng("probe", seed, "events"))),
        "customer.parquet": lambda: _customers(_rng("probe", seed, "customer")),
        "documents.parquet": lambda: _documents(_rng("probe", seed, "documents")),
        "embeddings.parquet": lambda: _embeddings(_rng("probe", seed, "embeddings")),
    }
    for name, make in tables.items():
        if not os.path.exists(os.path.join(out, name)):
            _write(make(), os.path.join(out, name))


def generate(workload, seed, out):
    """Write the workload's inputs for ``seed`` under ``out``; return their sizes."""
    os.makedirs(out, exist_ok=True)
    gen = {"churn_daily": gen_churn, "llm_curation": gen_llm}[workload]
    return gen(seed, out)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit("usage: gen.py {%s} <seed> <out_dir>" % "|".join(WORKLOADS))
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))

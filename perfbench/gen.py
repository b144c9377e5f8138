"""Seeded input generator for the benchmark.

Writes, under one directory, the parquet tables the workloads read with
the same schemas and value shapes as the engine's test data:

  lineitem.parquet    TPC-H-like line items; `Tables.stocks` derives the
                      6-symbol OHLCV table from them
  documents.parquet   short texts over a 30-word vocabulary, with planted
                      exact copies and " dup"-suffixed near copies
  embeddings.parquet  64-d unit vectors in 10 weakly separated clusters
  ingest/             the index_ingest inputs: per-batch document and
                      vector drops (with planted exact and near copies),
                      probe documents and vectors, and config.json

The same seed and sizes always give byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DIM = 64


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def lineitem(rng, n, first_day, days):
    days = np.datetime64(first_day) + rng.integers(0, days, n).astype("timedelta64[D]")
    flags = rng.integers(0, 6, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(n // 4, 1), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(n // 30, 1), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(n // 600, 1), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(rng.integers(90068, 10499992, n) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(list("AANNRR"))[flags]),
        "l_linestatus": pa.array(np.array(list("FOFOFO"))[flags]),
        "l_shipdate": pa.array(days.astype("datetime64[us]")),
    })


def texts(rng, n):
    lens = rng.integers(10, 101, n)
    return [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in lens]


def documents(rng, n):
    text = texts(rng, n)
    for i in range(20, n, 20):          # near copies of an earlier doc
        text[i] = text[int(rng.integers(0, i))] + " dup"
    for i in range(n // 600):           # a few exact copies
        a, b = sorted(rng.choice(n, 2, replace=False))
        text[b] = text[a]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def vectors(rng, n, centers):
    label = rng.integers(0, len(centers), n)
    v = centers[label] + rng.normal(0, 0.125, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), label


def vec_table(ids, v, label=None):
    cols = {"vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32()))}
    if label is not None:
        cols["label"] = pa.array(label, pa.int32())
    return pa.table(cols)


def doc_table(ids, text):
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(text)})


def ingest(rng, out, docs, emb, centers, sizes):
    """Batches for index_ingest. Base docs are documents[doc_id < base_docs],
    base vectors embeddings[vec_id >= base_vec_from]. Batch b holds new docs
    plus exact and near copies of base docs and of batch b-1's new docs."""
    base_docs, batch, nb = sizes["base_docs"], sizes["batch_docs"], sizes["batches"]
    base_text = docs.column("text").to_pylist()[:base_docs]
    vec_from = 16
    next_id = 100000
    prev_new = []
    for b in range(nb):
        new_text = texts(rng, batch)
        ids = list(range(next_id, next_id + batch))
        next_id += batch
        pool = base_text + prev_new
        planted = []
        for j in range(max(batch // 5, 1)):
            src = pool[int(rng.integers(0, len(pool)))]
            planted.append(src if j % 2 == 0 else src + " zq1 zq2 zq3")
        pids = list(range(next_id, next_id + len(planted)))
        next_id += len(planted)
        _write(doc_table(ids + pids, new_text + planted), f"{out}/docs_b{b}/part-0.parquet")
        v, _ = vectors(rng, sizes["batch_vecs"], centers)
        vids = np.arange(next_id, next_id + len(v))
        next_id += len(v)
        _write(vec_table(vids, v), f"{out}/vecs_b{b}/part-0.parquet")
        prev_new = new_text
    n_vec = emb.num_rows
    takedown = sorted(int(x) for x in rng.choice(
        np.arange(vec_from, min(base_docs, n_vec)), sizes["takedown"], replace=False))
    probe = [base_text[i] for i in takedown] + \
        [base_text[int(rng.integers(0, base_docs))] + " zq1 zq2 zq3" for _ in range(5)] + \
        texts(rng, 5)
    _write(doc_table(range(200000, 200000 + len(probe)), probe), f"{out}/probe_docs.parquet")
    ev = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    nq = len(takedown)
    pv = ev[takedown] + rng.normal(0, 0.01, (nq, DIM)).astype(np.float32)
    _write(vec_table(np.arange(nq), pv), f"{out}/probe_vecs.parquet")
    with open(f"{out}/config.json", "w") as f:
        json.dump({"batches": nb, "base_docs": base_docs, "base_vec_from": vec_from,
                   "probe_vecs": nq, "takedown": ",".join(map(str, takedown))}, f)


def generate(out, seed, sizes):
    rng = np.random.default_rng(seed)
    first_day, days = sizes.get("dates", ("1995-01-02", 2498))
    _write(lineitem(rng, sizes["lineitem"], first_day, days), f"{out}/lineitem.parquet")
    docs = documents(rng, sizes["documents"])
    _write(docs, f"{out}/documents.parquet")
    centers = rng.normal(0, 0.07 / np.sqrt(DIM), (10, DIM))
    v, label = vectors(rng, sizes["embeddings"], centers)
    emb = vec_table(np.arange(len(v)), v, label)
    _write(emb, f"{out}/embeddings.parquet")
    if sizes.get("batches"):
        ingest(rng, f"{out}/ingest", docs, emb, centers, sizes)

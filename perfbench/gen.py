"""Seeded input generator for the benchmark.

Everything the program receives is made here from the seed: the parquet
tables the operators read (`customer`, `part`, `documents`, `embeddings`,
with the schemas of the engine's test tables), the request list of each
workload, the probe and query tables of the batch faces, and the arrival
split of the ingest cycle. The same seed gives byte-identical files.

The tables are a tenth of the engine's sf0.1 test scale (at most 2000 rows
a table, against 15k customers and 20k parts there): the benchmark measures
the engine's per-operation cost, and the dozens of runs a comparison needs
have to fit into an hour on a 4-core box.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 1500
N_PARTS = 2000
N_DOCS = 300
N_VECTORS = 800
DIM = 64

ADJECTIVES = ["small", "large", "red", "blue", "green", "heavy", "light",
              "shiny", "matte", "round", "square", "steel", "brass", "rusty",
              "smooth", "rough", "copper", "plastic", "narrow", "wide", "thick",
              "hollow", "spiral", "frosted"]
NOUNS = ["widget", "bolt", "ring", "gear", "spring", "valve", "pipe", "screw",
         "washer", "bracket", "hinge", "lever", "pulley", "socket", "flange",
         "rivet", "clamp", "nozzle", "gasket", "bearing", "coupler", "sprocket",
         "damper", "fitting"]
MAKERS = ["acme", "globex", "initech", "umbrella", "stark", "wayne", "tyrell",
          "cyberdyne", "wonka", "hooli", "vandelay", "soylent", "oscorp",
          "aperture", "monarch", "gringotts"]
VOCAB = ["a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "data", "column", "join", "small", "big", "customer",
         "query", "order", "group", "filter", "stream", "vector"]
LANGS = ["en"] * 5 + ["de", "fr", "es", "zh"]

# geo_serve requests: an even mix, REQUESTS_PER_FACE of each public face the
# reference serves one request at a time. Nothing public gives the weights
# of the reference's traffic, so no face is weighted above another.
SERVE_FACES = ["fuzzy", "radius", "radius_latlng", "knn", "lookup:shapes",
               "lookup:displays", "lookup:quote_locations", "lookup:local_times"]
REQUESTS_PER_FACE = 2

N_FUZZY_BATCH = 225
N_RADIUS_PROBES = 24
N_IVF_PROBES = 24
N_BM25_QUERIES = 12
N_ARRIVALS = 4          # arrival batches per ingest cycle
STANDING_SHARE = 0.7


def _typo(rng, s):
    """One seeded edit: drop, swap, or substitute a character."""
    if len(s) < 4:
        return s
    i = rng.randrange(1, len(s) - 1)
    op = rng.randrange(3)
    if op == 0:
        return s[:i] + s[i + 1:]
    if op == 1:
        return s[:i - 1] + s[i] + s[i - 1] + s[i + 1:]
    return s[:i] + rng.choice("abcdefghijklmnopqrstuvwxyz") + s[i + 1:]


def _write(table, path):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                   compression="snappy")


def _customers(rng):
    keys = sorted(rng.sample(range(10 * N_CUSTOMERS), N_CUSTOMERS))
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        "c_nationkey": pa.array([rng.randrange(25) for _ in keys], pa.int32()),
        "c_acctbal": pa.array([round(rng.uniform(-999, 9999), 2) for _ in keys],
                              pa.float64()),
        "c_mktsegment": pa.array([rng.choice(["HOUSEHOLD", "MACHINERY",
                                              "FURNITURE", "BUILDING"])
                                  for _ in keys], pa.string()),
    })


def _parts(rng):
    names = []
    for _ in range(N_PARTS):
        words = [rng.choice(ADJECTIVES), rng.choice(NOUNS)]
        if rng.random() < 0.5:
            words.insert(0, rng.choice(MAKERS))
        names.append(" ".join(words))
    return pa.table({
        "p_partkey": pa.array(range(N_PARTS), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{rng.randrange(1, 26)}"
                             for _ in names], pa.string()),
        "p_type": pa.array([rng.choice(["ECONOMY", "SMALL", "STANDARD",
                                        "PROMO"]) for _ in names], pa.string()),
        "p_size": pa.array([rng.randrange(1, 51) for _ in names], pa.int32()),
        "p_retailprice": pa.array([round(900 + i / 10, 1) for i in range(N_PARTS)],
                                  pa.float64()),
    })


def _documents(rng):
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if texts and r < 0.05:           # exact duplicate of an earlier doc
            texts.append(rng.choice(texts))
        elif texts and r < 0.12:         # near duplicate: one token edited
            toks = rng.choice(texts).split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randrange(15, 80))))
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in texts], pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in texts], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng):
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(16)]
    vecs, labels = [], []
    for _ in range(N_VECTORS):
        c = rng.randrange(16)
        v = [x + rng.gauss(0, 0.6) for x in centers[c]]
        n = sum(x * x for x in v) ** 0.5
        vecs.append([x / n for x in v])
        labels.append(c % 4)
    return pa.table({
        "vec_id": pa.array(range(N_VECTORS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _serve_requests(rng, cust_keys, part_names):
    reqs = []
    for face in SERVE_FACES:
        kind, _, table = face.partition(":")
        for _ in range(REQUESTS_PER_FACE):
            if kind == "fuzzy":
                name = rng.choice(part_names)
                q = _typo(rng, name)
                if rng.random() < 0.5:           # auto-complete prefix
                    q = q[:max(4, len(q) - rng.randrange(0, 4))]
                reqs.append({"kind": kind, "query": q, "k": 10})
            elif kind == "radius":
                reqs.append({"kind": kind, "probe": rng.choice(cust_keys),
                             "miles": float(rng.randrange(300, 1500))})
            elif kind == "radius_latlng":
                reqs.append({"kind": kind,
                             "lat": round(rng.uniform(-60, 60), 2),
                             "lng": round(rng.uniform(-170, 170), 2),
                             "miles": float(rng.randrange(500, 2000))})
            elif kind == "knn":
                reqs.append({"kind": kind, "probe": rng.choice(cust_keys),
                             "k": rng.randrange(5, 16)})
            else:
                reqs.append({"kind": kind, "face": table,
                             "id": rng.choice(cust_keys)})
    rng.shuffle(reqs)
    return reqs


def _batch_inputs(rng, cust_keys, part_names):
    fuzzy = [{"qid": i, "query": _typo(rng, rng.choice(part_names))}
             for i in range(N_FUZZY_BATCH)]
    return {
        "fuzzy_queries": fuzzy,
        "fuzzy_k": 10,
        "radius_probes": sorted(rng.sample(cust_keys, N_RADIUS_PROBES)),
        "radius_miles": float(rng.randrange(300, 1000)),
        "knn_miles": float(rng.randrange(800, 2000)),
        "knn_k": rng.randrange(5, 11),
        "ivf_probes": sorted(rng.sample(range(N_VECTORS), N_IVF_PROBES)),
        "ivf_k": 10,
        "ivf_nprobe": 4,
        "bm25_queries": [[q, t] for q in range(N_BM25_QUERIES)
                         for t in sorted(rng.sample(VOCAB[2:], 3))],
        "bm25_k": 10,
    }


def _arrival_split(rng):
    ids = list(range(N_DOCS))
    rng.shuffle(ids)
    n_standing = int(N_DOCS * STANDING_SHARE)
    standing = sorted(ids[:n_standing])
    rest = ids[n_standing:]
    per = len(rest) // N_ARRIVALS
    batches = [sorted(rest[i * per:(i + 1) * per if i < N_ARRIVALS - 1 else None])
               for i in range(N_ARRIVALS)]
    return {"standing": standing, "batches": batches}


def generate(seed, out):
    """Write the tables and `requests.json` for `seed` under `out`."""
    rng = random.Random(seed)
    customer = _customers(rng)
    part = _parts(rng)
    documents = _documents(rng)
    embeddings = _embeddings(rng)
    data = os.path.join(out, "data")
    for name, t in [("customer", customer), ("part", part),
                    ("documents", documents), ("embeddings", embeddings)]:
        _write(t, os.path.join(data, f"{name}.parquet"))
    cust_keys = customer.column("c_custkey").to_pylist()
    part_names = part.column("p_name").to_pylist()
    split = _arrival_split(rng)
    ingest = os.path.join(out, "ingest")
    _write(documents.take(split["standing"]),
           os.path.join(ingest, "standing.parquet"))
    for i, b in enumerate(split["batches"]):
        pq.write_table(documents.take(b),
                       os.path.join(ingest, f"arrival_{i:02d}.parquet"),
                       compression="snappy")
    spec = {
        "seed": seed,
        "serve": _serve_requests(rng, cust_keys, part_names),
        "batch": _batch_inputs(rng, cust_keys, part_names),
        "ingest": split,
    }
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump(spec, f, sort_keys=True, indent=1)
    return spec

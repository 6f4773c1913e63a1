"""Seeded input generator for the pipeline benchmark.

Every workload's inputs are a pure function of ``(workload, seed)``: the
same pair writes byte-identical files (``selftest.py`` checks this).
The program under test only ever sees these files.

Layouts follow the package's on-disk contracts:

* shard results: one parquet file per shard, ``run#{s}.results-{B}``,
  schema ``io.SHARD_RESULTS_SCHEMA``;
* selection scores: a headerless one-column CSV in cartesian order
  (query-major, then shard, then bucket), as ``io.load_*_selection`` read;
* qrels: parquet ``(query, gdocid, rel)`` — relevance judgments the
  pipeline joins in before ``selective.evaluate``;
* documents: parquet ``(doc_id, text)`` with planted near-duplicate
  clusters, plus ``clusters.json`` naming every planted pair.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: input shapes per workload; recorded verbatim in every run's output
SHAPES = {
    "shard_eval": {"queries": 64, "shards": 10, "results_per_shard": 40,
                   "buckets": 1, "t": 4},
    "near_dup": {"docs": 1200, "doc_tokens": 100, "vocab": 6000,
                 "dup_rate": 0.3, "edits": [0, 1, 2, 3, 8, 16]},
}

_WORKLOAD_SALT = {"shard_eval": 1, "near_dup": 3}

RESULTS_BASENAME = "run"
SCORES_CSV = "scores.csv"
QRELS = "qrels.parquet"
DOCS = "docs.parquet"
CLUSTERS = "clusters.json"
MANIFEST = "manifest.json"


def input_rows(workload: str) -> int:
    """Input rows one pass reads — the numerator of ``rows_per_s``."""
    s = SHAPES[workload]
    if workload == "near_dup":
        return s["docs"]
    per_query = s["shards"] * s["buckets"]
    return s["queries"] * per_query * (s["results_per_shard"] + 1)


def query_ids(shape: dict) -> list[int]:
    """Non-contiguous query ids, so the positional CSV zip cannot pass by
    accident of ids equal to row numbers."""
    return [1000 + 3 * i for i in range(shape["queries"])]


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _results_table(rng, shape) -> pa.Table:
    """Per-(query, shard, bucket) result lists. Scores are a per-query
    permutation of distinct values, so no ranking depends on a tie-break."""
    qs = np.array(query_ids(shape), dtype=np.int32)
    S, B, R = shape["shards"], shape["buckets"], shape["results_per_shard"]
    per_query = S * B * R
    query = np.repeat(qs, per_query)
    shard = np.tile(np.repeat(np.arange(S, dtype=np.int32), B * R), len(qs))
    bucket = np.tile(np.repeat(np.arange(B, dtype=np.int32), R), len(qs) * S)
    # score = (distinct rank within the query) / per_query, plus a shard
    # bias so good shards hold good results and selection depth matters
    noise = rng.random((len(qs), per_query))
    bias = rng.random((len(qs), S)).repeat(B * R, axis=1)
    key = np.argsort(np.argsort(noise + bias, axis=1, kind="stable"),
                     axis=1, kind="stable")
    score = ((key + 1) / float(per_query)).ravel()
    # ldocid unique within a shard, gdocid unique overall
    ldocid = np.arange(len(query), dtype=np.int64)
    gdocid = shard.astype(np.int64) * 10_000_000 + ldocid
    # per-(query, shard, bucket) result rank by score desc
    grp = (np.arange(len(query)) // R)
    within = np.lexsort((-score, grp))
    rank = np.empty(len(query), dtype=np.int32)
    rank[within] = np.tile(np.arange(R, dtype=np.int32), len(query) // R)
    return pa.table({
        "query": query, "rank": rank, "ldocid": ldocid, "gdocid": gdocid,
        "score": score, "shard": shard, "bucket": bucket,
    })


def _write_selective(rng, shape, out: str) -> dict:
    table = _results_table(rng, shape)
    B = shape["buckets"]
    shard_col = table.column("shard").to_numpy()
    for s in range(shape["shards"]):
        part = table.filter(pa.array(shard_col == s))
        _write_parquet(part, os.path.join(out, f"{RESULTS_BASENAME}#{s}.results-{B}"))
    # selection scores in cartesian order: correlated with the shard bias
    n = shape["queries"] * shape["shards"] * B
    scores = np.round(rng.random(n), 6)
    with open(os.path.join(out, SCORES_CSV), "w") as f:
        f.write("".join(f"{v!r}\n" for v in scores.tolist()))
    # qrels: relevance rises with score, ~25% relevant overall
    sc = table.column("score").to_numpy()
    rel = (rng.random(len(sc)) < np.clip(sc * 0.5, 0.02, 0.9)).astype(np.int32)
    keep = rel > 0
    _write_parquet(pa.table({
        "query": table.column("query").to_numpy()[keep],
        "gdocid": table.column("gdocid").to_numpy()[keep],
        "rel": rel[keep],
    }), os.path.join(out, QRELS))
    return {"result_rows": table.num_rows, "selection_rows": n,
            "relevant": int(keep.sum())}


def _write_docs(rng, shape, out: str) -> dict:
    """Base documents of random words plus planted near-copies: each copy
    takes a base document and applies a number of single-token
    substitutions drawn from ``edits``, so planted pairs span exact
    duplicates (J = 1) to pairs below the Jaccard threshold that LSH
    still proposes now and then."""
    D, L, V = shape["docs"], shape["doc_tokens"], shape["vocab"]
    n_dup = int(D * shape["dup_rate"])
    n_base = D - n_dup
    base = rng.integers(0, V, size=(n_base, L))
    sources = rng.integers(0, n_base, size=n_dup)
    copies = base[sources].copy()
    edits = rng.choice(shape["edits"], size=n_dup)
    for i in range(n_dup):
        pos = rng.choice(L, size=edits[i], replace=False)
        copies[i, pos] = rng.integers(0, V, size=edits[i])
    tokens = np.concatenate([base, copies])
    # shuffle doc ids so cluster members are not adjacent
    perm = rng.permutation(D)
    doc_id = np.empty(D, dtype=np.int64)
    doc_id[perm] = np.arange(D, dtype=np.int64) * 7 + 11
    text = [" ".join(f"w{t}" for t in row) for row in tokens]
    # a few short documents (fewer tokens than a shingle) exercise the
    # no-shingle exclusion
    for i in rng.choice(n_base, size=3, replace=False):
        text[i] = "w1 w2"
    _write_parquet(pa.table({"doc_id": doc_id, "text": text}),
                   os.path.join(out, DOCS))
    clusters: dict[int, list[int]] = {}
    for i, src in enumerate(sources):
        clusters.setdefault(int(doc_id[src]), []).append(int(doc_id[n_base + i]))
    with open(os.path.join(out, CLUSTERS), "w") as f:
        json.dump({str(k): v for k, v in sorted(clusters.items())}, f)
    return {"planted_copies": n_dup, "clusters": len(clusters)}


def generate(workload: str, seed: int, root: str) -> str:
    """Write the inputs of ``(workload, seed)`` under ``root`` once and
    return their directory; later calls reuse the finished directory.
    The directory name carries a digest of this generator's source, so an
    edited generator never reuses stale inputs."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:10]
    out = os.path.join(root, f"{workload}-{seed}-{digest}")
    if os.path.exists(os.path.join(out, MANIFEST)):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, _WORKLOAD_SALT[workload]])
    shape = SHAPES[workload]
    if workload == "near_dup":
        counts = _write_docs(rng, shape, tmp)
    else:
        counts = _write_selective(rng, shape, tmp)
    with open(os.path.join(tmp, MANIFEST), "w") as f:
        json.dump({"workload": workload, "seed": seed, "shape": shape,
                   "counts": counts}, f, sort_keys=True)
    os.replace(tmp, out)
    return out

"""Independent pandas/numpy oracles for every operation the benchmark
times.

Each oracle re-derives the expected output from the generated files
alone, never from the program's code, and is computed once per run
outside every timed region. ``check_*`` functions compare one pass's
consumed output with the expectation and return a list of mismatch
messages (empty when the output is right).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import CLUSTERS, DOCS, QRELS, RESULTS_BASENAME, SCORES_CSV, query_ids

#: MinHash/LSH parameters the near-dup workload passes to the program
NEAR_DUP = {"num_hashes": 64, "bands": 16, "shingle_size": 5,
            "threshold": 0.5}
#: planted pairs at or above this exact Jaccard must be found: with 16
#: bands of 4 rows an LSH miss at J = 0.9 has probability 0.3439**16 ~ 4e-8
RECALL_FLOOR_J = 0.9
#: allowed |numpy MinHash estimate - emitted Jaccard| per pair: 128
#: permutations give a standard error <= 0.045, so 0.25 is > 5 sigma
MINHASH_TOLERANCE = 0.25
P_AT = (10, 30)


# ---------------------------------------------------------------------------
# comparison helpers
# ---------------------------------------------------------------------------

def _frame_diff(name: str, got: pd.DataFrame, want: pd.DataFrame,
                keys: list[str], float_tol: float = 1e-9) -> list[str]:
    """Order-insensitive full-frame comparison on ``want``'s columns."""
    cols = list(want.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return [f"{name}: missing columns {missing}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    g = got[cols].sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    errs = []
    for c in cols:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if np.issubdtype(wv.dtype, np.floating):
            gv = gv.astype(np.float64)
            bad = ~np.isclose(gv, wv, rtol=0, atol=float_tol, equal_nan=True)
        else:
            bad = gv.astype(wv.dtype) != wv
        if bad.any():
            i = int(np.argmax(bad))
            errs.append(f"{name}: column {c} differs in {int(bad.sum())} rows "
                        f"(first: got {gv[i]!r}, want {wv[i]!r})")
    return errs


def _rank_by(df: pd.DataFrame, group: str, by: list[str], asc: list[bool],
             col: str = "rank") -> pd.DataFrame:
    """0-based rank within ``group`` under a total order given by ``by``."""
    out = df.sort_values([group] + by, ascending=[True] + asc, kind="stable")
    out = out.reset_index(drop=True)
    out[col] = out.groupby(group).cumcount().astype(np.int64)
    return out


# ---------------------------------------------------------------------------
# selective search
# ---------------------------------------------------------------------------

def _load_results(d: str, shape: dict) -> pd.DataFrame:
    B = shape["buckets"]
    parts = [pq.read_table(os.path.join(d, f"{RESULTS_BASENAME}#{s}.results-{B}"))
             .to_pandas() for s in range(shape["shards"])]
    res = pd.concat(parts, ignore_index=True)
    qrels = pq.read_table(os.path.join(d, QRELS)).to_pandas()
    res = res.merge(qrels, on=["query", "gdocid"], how="left")
    res["rel"] = res["rel"].fillna(0).astype(np.int64)
    return res


def _selection(d: str, shape: dict) -> pd.DataFrame:
    """Cartesian (query × shard) zipped with the score CSV by line number,
    ranked per query by score desc then file order."""
    qs = query_ids(shape)
    S = shape["shards"]
    with open(os.path.join(d, SCORES_CSV)) as f:
        scores = [float(line) for line in f if line.strip()]
    sel = pd.DataFrame({
        "query": np.repeat(qs, S),
        "shard": np.tile(np.arange(S), len(qs)),
        "shard_score": scores,
        "_pos": np.arange(len(scores)),
    })
    return _rank_by(sel, "query", ["shard_score", "_pos"], [False, True]).drop(columns="_pos")


def _sweep(joined: pd.DataFrame, num_steps: int) -> pd.DataFrame:
    """P@k and the retrieved count at every depth 1..num_steps: at depth s
    the results whose selection rank is < s, in ascending ``neg_score``
    order."""
    rows = []
    joined = joined.sort_values(["query", "neg_score"], kind="stable")
    for q, g in joined.groupby("query", sort=True):
        rank = g["_sel_rank"].to_numpy()
        rel = g["rel"].to_numpy()
        for step in range(1, num_steps + 1):
            r = rel[rank < step]
            if len(r):
                rows.append({"query": q, "step": step, "num_ret": len(r),
                             **{f"p_{k}": float(r[:k].mean()) for k in P_AT}})
    return pd.DataFrame(rows)


def shard_eval_expected(d: str, shape: dict) -> dict:
    res = _load_results(d, shape)
    sel = _selection(d, shape)
    t = shape["t"]
    chosen_keys = sel[sel["rank"] < t][["query", "shard"]]
    chosen = res.merge(chosen_keys, on=["query", "shard"])
    joined = res.merge(sel.rename(columns={"rank": "_sel_rank"})[
        ["query", "shard", "_sel_rank"]], on=["query", "shard"])
    joined["neg_score"] = -joined["score"]
    evaluation = _sweep(joined, shape["shards"])
    trec = chosen.assign(title="d" + chosen["gdocid"].astype(str))
    trec = _rank_by(trec, "query", ["score", "title"], [False, True])
    trec = trec[trec["rank"] < 1000][["query", "title", "rank", "score"]]
    return {
        "results_summary": _summary(res),
        "selection": sel,
        "select": chosen.drop(columns="rel"),
        "evaluate": evaluation,
        "trec": trec.reset_index(drop=True),
    }


def _summary(res: pd.DataFrame) -> dict:
    out = {"n": int(len(res))}
    for c in ("query", "rank", "ldocid", "gdocid", "shard", "bucket"):
        out[c] = int(res[c].astype(np.int64).sum())
    out["score"] = float(res["score"].sum())
    return out


def check_summary(got: dict, want: dict) -> list[str]:
    errs = [f"load_shard_results: sum({k}) {got[k]!r} != {want[k]!r}"
            for k in want if k != "score" and int(got[k]) != want[k]]
    if not math.isclose(got["score"], want["score"], rel_tol=1e-9):
        errs.append(f"load_shard_results: sum(score) {got['score']} != {want['score']}")
    return errs


def check_selection(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return _frame_diff("load_shard_selection", got, want, ["query", "shard"])


def check_select(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return _frame_diff("select", got, want, ["gdocid"])


def check_evaluate(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return _frame_diff("evaluate", got, want, ["query", "step"], float_tol=1e-12)


def check_trec(path: str, want: pd.DataFrame) -> list[str]:
    """The run file's content and its (query, rank) order, line by line."""
    with open(path) as f:
        lines = f.read().splitlines()
    if len(lines) != len(want):
        return [f"to_trec: {len(lines)} lines, expected {len(want)}"]
    want = want.sort_values(["query", "rank"]).reset_index(drop=True)
    for i, (line, w) in enumerate(zip(lines, want.itertuples(index=False))):
        f = line.split("\t")
        ok = (len(f) == 6 and f[1] == "Q0" and f[5] == "null"
              and int(f[0]) == w.query and f[2] == w.title
              and int(f[3]) == w.rank and float(f[4]) == w.score)
        if not ok:
            return [f"to_trec: line {i} is {line!r}, expected "
                    f"{w.query} Q0 {w.title} {w.rank} {w.score!r} null"]
    return []


# ---------------------------------------------------------------------------
# near-duplicate detection
# ---------------------------------------------------------------------------

def _shingle_sets(texts: dict, n: int) -> dict:
    out = {}
    for doc, text in texts.items():
        toks = text.split()
        if len(toks) >= n:
            out[doc] = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    return out


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


class NumpyMinHash:
    """MinHash with its own hash family (blake2b shingle hashes, 128
    universal permutations mod 2**31 - 1) — independent of the program's
    xxhash64 family."""

    P = (1 << 31) - 1

    def __init__(self, num_perm: int = 128):
        rng = np.random.default_rng(20231101)
        self.a = rng.integers(1, self.P, size=num_perm, dtype=np.uint64)
        self.b = rng.integers(0, self.P, size=num_perm, dtype=np.uint64)

    def signature(self, shingles: set) -> np.ndarray:
        x = np.fromiter(
            (int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(),
                            "little") % self.P for s in shingles),
            dtype=np.uint64, count=len(shingles))
        return ((np.outer(x, self.a) + self.b) % np.uint64(self.P)).min(axis=0)


def near_dup_expected(d: str, shape: dict) -> dict:
    docs = pq.read_table(os.path.join(d, DOCS)).to_pandas()
    texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
    sets = _shingle_sets(texts, NEAR_DUP["shingle_size"])
    with open(os.path.join(d, CLUSTERS)) as f:
        clusters = {int(k): v for k, v in json.load(f).items()}
    planted = []
    for base, copies in clusters.items():
        members = sorted([base] + copies)
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                if a in sets and b in sets:
                    planted.append((a, b, _jaccard(sets[a], sets[b])))
    mh = NumpyMinHash()
    return {
        "texts": texts,
        "sets": sets,
        "must_find": {(a, b) for a, b, j in planted if j >= RECALL_FLOOR_J},
        "signatures": {doc: mh.signature(s) for doc, s in sets.items()},
    }


def check_pairs(got: pd.DataFrame, want: dict) -> list[str]:
    """Every emitted pair: ids ordered and known, exact Jaccard equal to
    the emitted value and above the threshold, numpy MinHash estimate
    close to it; every must-find planted pair present."""
    sets, sigs = want["sets"], want["signatures"]
    errs = []
    seen = set()
    for a, b, j in zip(got["id_a"].tolist(), got["id_b"].tolist(), got["jaccard"].tolist()):
        if not a < b or a not in sets or b not in sets or (a, b) in seen:
            errs.append(f"minhash_dedup_pairs: bad pair ({a}, {b})")
            break
        seen.add((a, b))
        exact = _jaccard(sets[a], sets[b])
        if abs(exact - j) > 1e-12 or exact < NEAR_DUP["threshold"]:
            errs.append(f"minhash_dedup_pairs: ({a}, {b}) jaccard {j}, exact {exact}")
            break
        est = float((sigs[a] == sigs[b]).mean())
        if abs(est - j) > MINHASH_TOLERANCE:
            errs.append(f"minhash_dedup_pairs: ({a}, {b}) jaccard {j}, numpy MinHash {est}")
            break
    missed = want["must_find"] - seen
    if missed:
        errs.append(f"minhash_dedup_pairs: missed {len(missed)} planted pairs "
                    f"with J >= {RECALL_FLOOR_J}, e.g. {sorted(missed)[0]}")
    return errs


def check_representatives(got: pd.DataFrame, pairs: pd.DataFrame, want: dict) -> list[str]:
    """Union-find over the emitted pairs: every document survives except
    the non-minimum members of each component, with its text intact."""
    parent: dict = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"].tolist(), pairs["id_b"].tolist()):
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {x for x in list(parent) if root(x) != x}
    texts = want["texts"]
    expect = set(texts) - losers
    got_ids = got["doc_id"].tolist()
    if len(got_ids) != len(set(got_ids)) or set(got_ids) != expect:
        return [f"dedup_keep_representatives: kept {len(set(got_ids))} docs, "
                f"expected {len(expect)}"]
    bad = [i for i, t in zip(got_ids, got["text"].tolist()) if texts[i] != t]
    return [f"dedup_keep_representatives: text of doc {bad[0]} changed"] if bad else []

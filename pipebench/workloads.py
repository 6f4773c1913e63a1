"""One pass of each workload: the public calls a user's script makes, each
output consumed in full and checked against the oracle.

A pass function takes a :class:`Pass` (session, inputs, expectations) and
a ``tracing.Tracer``; every call into the program sits inside
``tracer.op('<module>.<function>')``. Frames live only in the pass
function's locals, so they are all unreachable once it returns.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from dataproc_spark import io, selective
from dataproc_spark.extensions import dedup
from dataproc_spark.measures import num_retrieved, precision_at

import oracle
from gen import DOCS, QRELS, RESULTS_BASENAME, SCORES_CSV, query_ids

_SUMMED = ("query", "rank", "ldocid", "gdocid", "shard", "bucket", "score")


@dataclass
class Pass:
    """One pass: the session, the inputs, the oracle's expectations, and
    the mismatches found."""

    spark: object
    inputs: str
    out_dir: str
    shape: dict
    want: dict
    errors: list = field(default_factory=list)
    #: near_dup only: the pass's emitted pairs, for verified_per_candidate
    pairs: object = None

    def check(self, errs: list) -> int:
        self.errors.extend(errs)
        return 1 if errs else 0


def _judged(p: Pass, results):
    """Pipeline glue before evaluation: join the relevance judgments and
    add the scalar order key (score descending)."""
    qrels = p.spark.read.parquet(os.path.join(p.inputs, QRELS))
    return (results.join(F.broadcast(qrels), ["query", "gdocid"], "left")
            .withColumn("rel", F.coalesce(F.col("rel"), F.lit(0)))
            .withColumn("neg_score", -F.col("score")))


def shard_eval(p: Pass, tr) -> int:
    """Load, select top-t, evaluate P@k at every depth, export trec_eval."""
    S = p.shape["shards"]
    with tr.op("io.load_shard_results") as op:
        results = io.load_shard_results(
            p.spark, os.path.join(p.inputs, RESULTS_BASENAME), S, p.shape["buckets"])
        op.built()
        # consumed by a full scan (count and every column's sum), not a collect
        row = results.agg(F.count(F.lit(1)).alias("n"),
                          *[F.sum(c).alias(c) for c in _SUMMED]).first()
    failed = p.check(oracle.check_summary(row.asDict(), p.want["results_summary"]))
    with tr.op("io.load_shard_selection") as op:
        sel = io.load_shard_selection(p.spark, query_ids(p.shape), S,
                                      os.path.join(p.inputs, SCORES_CSV))
        op.built()
        got = sel.toPandas()
    failed += p.check(oracle.check_selection(got, p.want["selection"]))
    with tr.op("selective.select") as op:
        chosen = selective.select(sel, results, p.shape["t"])
        op.built()
        got = chosen.toPandas()
    failed += p.check(oracle.check_select(got, p.want["select"]))
    measures = {"rel": [precision_at(k) for k in oracle.P_AT] + [num_retrieved()]}
    with tr.op("selective.evaluate") as op:
        ev = selective.evaluate(sel, _judged(p, results), measures,
                                num_shards=S, order_col="neg_score")
        op.built()
        got = ev.toPandas()
    failed += p.check(oracle.check_evaluate(got, p.want["evaluate"]))
    path = os.path.join(p.out_dir, "run.trec")
    titled = chosen.withColumn("title", F.concat(F.lit("d"), F.col("gdocid")))
    with tr.op("io.to_trec") as op:
        op.built()  # a sink: the call itself is the consuming action
        io.to_trec(titled, path)
    failed += p.check(oracle.check_trec(path, p.want["trec"]))
    return failed


def near_dup(p: Pass, tr) -> int:
    """MinHash-LSH pairs with verified Jaccard, then one survivor per
    connected component."""
    docs = p.spark.read.parquet(os.path.join(p.inputs, DOCS))
    params = oracle.NEAR_DUP
    with tr.op("extensions.dedup.minhash_dedup_pairs") as op:
        pairs = dedup.minhash_dedup_pairs(
            docs, num_hashes=params["num_hashes"], bands=params["bands"],
            shingle_size=params["shingle_size"], threshold=params["threshold"])
        op.built()
        got_pairs = pairs.toPandas()
    failed = p.check(oracle.check_pairs(got_pairs, p.want))
    with tr.op("extensions.dedup.dedup_keep_representatives") as op:
        kept = dedup.dedup_keep_representatives(docs, pairs)
        op.built()
        got = kept.toPandas()
    failed += p.check(oracle.check_representatives(got, got_pairs, p.want))
    p.pairs = got_pairs
    return failed


def lsh_candidates(spark, inputs: str) -> int:
    """LSH candidate pairs under the near-dup parameters, counted through
    the public banding functions (traced runs only, outside any pass)."""
    params = oracle.NEAR_DUP
    docs = spark.read.parquet(os.path.join(inputs, DOCS))
    sigs = dedup.minhash_frame(docs, num_hashes=params["num_hashes"],
                               shingle_size=params["shingle_size"])
    return dedup.lsh_candidates(sigs, bands=params["bands"],
                                num_hashes=params["num_hashes"]).count()


PASSES = {"shard_eval": shard_eval, "near_dup": near_dup}

EXPECTED = {"shard_eval": oracle.shard_eval_expected,
            "near_dup": oracle.near_dup_expected}

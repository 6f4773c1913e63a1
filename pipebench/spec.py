"""The benchmark's definition: workloads, metric names, units, directions
and bounds. ``BENCHMARK.json`` at the repository root is generated from
this module (``python3 pipebench/run.py --write-spec``) and the self-test
checks that the two agree."""

from __future__ import annotations

WORKLOADS = [
    ("shard_eval", "few queries x many shards: the evaluate explode and its "
     "exchange dominate; the only workload that writes (the TREC sink)"),
    ("near_dup", "LLM-data dedup that never touches selective: MinHash "
     "hashing, LSH banding shuffle, connected components"),
]

#: name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "rows_per_s": ("rows/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
    "ok_ratio": ("ratio", "higher", 0.01),
}

#: the public calls of each workload's pass, in pass order
WORKLOAD_OPS = {
    "shard_eval": ["io.load_shard_results", "io.load_shard_selection",
                   "selective.select", "selective.evaluate", "io.to_trec"],
    "near_dup": ["extensions.dedup.minhash_dedup_pairs",
                 "extensions.dedup.dedup_keep_representatives"],
}
OPS = [op for ops in WORKLOAD_OPS.values() for op in ops]

OP_QUANTITIES = {
    "build_s": "s", "exec_s": "s", "jobs": "count", "tasks": "count",
    "task_s": "s", "shuffle_bytes": "bytes", "input_bytes": "bytes",
    "python_tasks": "count",
}

#: name -> (unit, better)
EXTRA_LAYER = {
    "core.get_spark.s": ("s", "lower"),
    "core.warmup.s": ("s", "lower"),
    "first_pass_s": ("s", "lower"),
    "core.persisted_after_pass": ("count", "lower"),
    "selective.evaluate.rows_exploded": ("count", "lower"),
    "extensions.dedup.verified_per_candidate": ("ratio", "higher"),
    "trace_overhead_s": ("s", "lower"),
}


def per_layer() -> dict:
    """name -> (unit, better) for every metric of a traced run."""
    out = {f"{op}.{q}": (unit, "lower")
           for op in OPS for q, unit in OP_QUANTITIES.items()}
    out.update(EXTRA_LAYER)
    return out


def benchmark_json() -> dict:
    return {
        "command": ["python3", "pipebench/run.py"],
        "paths": ["pipebench"],
        "run_seconds": 20,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, (u, b, bd) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, (u, b) in per_layer().items()],
    }

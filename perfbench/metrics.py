"""The benchmark's catalogue: workloads, metrics, units and bounds.

``BENCHMARK.json`` at the repository root is generated from this file
(``python3 perfbench/metrics.py > BENCHMARK.json``) and a test keeps the
two equal.

Every run prints every end-to-end metric, whatever its workload, so the
end-to-end metrics are named by role; ``MEANING`` gives what each role
measures on each workload, under the name a user of that workload would
use.  A per-layer metric belongs to the workloads that call the layer;
runs of the other workloads print it as 0.0 (``layer_metrics``).
"""

from __future__ import annotations

import json

RUN_SECONDS = 5

WORKLOADS = {
    "serve_mixed": "single queries of four filter shapes, point reads and writes on a persistent "
                   "bucketed collection, plus exact 256-query and IVF 16-query batches",
    "dedup_pipeline": "training-data selection, MinHash-LSH pairs and incremental "
                      "near-dup micro-batches: the three dedup cores side by side",
}

# name -> (unit, better, bound).  Times are reference CPU seconds: CPU
# seconds of the whole process tree (common.tree_cpu_s), scaled by the
# host's speed at memory-bound work in the same run (common.HostSpeed).
# On a shared host, wall-clock medians of the same code drifted 2x
# between runs, raw CPU seconds up to 1.5x.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "primary_p50_ref_cpu_s": ("s", "lower", 0.24),
    "secondary_p50_ref_cpu_s": ("s", "lower", 0.24),
    "tertiary_p50_ref_cpu_s": ("s", "lower", 0.24),
    "work_per_ref_cpu_s": ("1/s", "higher", 0.24),
    "recall": ("ratio", "higher", 0.1),
}

# role -> workload -> (name in the workload's own terms, what is measured)
MEANING = {
    "setup_s": {
        w: ("setup_s", "reference CPU seconds from process start to a ready Spark session, "
                       "plus the median of three set-ups (input generation, ingest, index build)")
        for w in WORKLOADS
    },
    "primary_p50_ref_cpu_s": {
        "serve_mixed": ("query_p50_ref_cpu_s", "one query_embedding, all four shapes together"),
        "dedup_pipeline": ("select_p50_ref_cpu_s", "one select_training_documents pass"),
    },
    "secondary_p50_ref_cpu_s": {
        "serve_mixed": ("write_p50_ref_cpu_s", "one upsert of 100 docs or delete of 10 ids"),
        "dedup_pipeline": ("ingest_batch_p50_ref_cpu_s", "one incremental_neardup_batch micro-batch"),
    },
    "tertiary_p50_ref_cpu_s": {
        "serve_mixed": ("ivf_batch_p50_ref_cpu_s", "one query_batch of 16 queries through the IVF index"),
        "dedup_pipeline": ("lsh_p50_ref_cpu_s", "one minhash_lsh_pairs pass"),
    },
    "work_per_ref_cpu_s": {
        "serve_mixed": ("serve_ops_per_ref_cpu_s", "requests per reference CPU second over whole blocks"),
        "dedup_pipeline": ("dedup_docs_per_ref_cpu_s", "n_docs / primary_p50_ref_cpu_s"),
    },
    "recall": {
        "serve_mixed": ("ivf_recall_at_10", "IVF top-10 ids shared with the exact top-10"),
        "dedup_pipeline": ("lsh_pair_recall", "LSH pairs / exact n-gram Jaccard pairs"),
    },
}

# name -> (unit, better, workloads that measure it (None: all), the
# end-to-end metric it should move there)
PER_LAYER = {
    "collection.query_embedding.plain.p50_s": ("s", "lower", ("serve_mixed",), "primary_p50_ref_cpu_s"),
    "collection.query_embedding.where.p50_s": ("s", "lower", ("serve_mixed",), "primary_p50_ref_cpu_s"),
    "collection.query_embedding.contains.p50_s": ("s", "lower", ("serve_mixed",), "primary_p50_ref_cpu_s"),
    "collection.query_embedding.negative.p50_s": ("s", "lower", ("serve_mixed",), "primary_p50_ref_cpu_s"),
    "collection.count.p50_s": ("s", "lower", ("serve_mixed",), "primary_p50_ref_cpu_s"),
    "collection.get_by_id.p50_s": ("s", "lower", ("serve_mixed",), "primary_p50_ref_cpu_s"),
    "collection.add_df.p50_s": ("s", "lower", ("serve_mixed",), "secondary_p50_ref_cpu_s"),
    "collection.delete.p50_s": ("s", "lower", ("serve_mixed",), "secondary_p50_ref_cpu_s"),
    "collection.write_amp": ("ratio", "lower", ("serve_mixed",), "secondary_p50_ref_cpu_s"),
    "collection.space_amp": ("ratio", "lower", ("serve_mixed",), "primary_p50_ref_cpu_s"),
    "filters.rows_per_result": ("ratio", "lower", ("serve_mixed",), "primary_p50_ref_cpu_s"),
    "knn.knn_single.p50_s": ("s", "lower", ("serve_mixed",), "primary_p50_ref_cpu_s"),
    "knn.knn_block.p50_s": ("s", "lower", ("serve_mixed",), "work_per_ref_cpu_s"),
    "collection.query_batch.exact.p50_s": ("s", "lower", ("serve_mixed",), "work_per_ref_cpu_s"),
    "router.routed_search_batch.p50_s": ("s", "lower", ("serve_mixed",), "work_per_ref_cpu_s"),
    "collection.query_batch.ivf.p50_s": ("s", "lower", ("serve_mixed",), "tertiary_p50_ref_cpu_s"),
    "ann.IVFIndex.search_batch.p50_s": ("s", "lower", ("serve_mixed",), "tertiary_p50_ref_cpu_s"),
    "ann.probed_rows_per_query": ("count", "lower", ("serve_mixed",), "tertiary_p50_ref_cpu_s"),
    "ann.IVFIndex.build_s": ("s", "lower", ("serve_mixed",), "setup_s"),
    "pipeline.select_training_documents.p50_s": ("s", "lower", ("dedup_pipeline",), "primary_p50_ref_cpu_s"),
    "pipeline.gates.p50_s": ("s", "lower", ("dedup_pipeline",), "primary_p50_ref_cpu_s"),
    "dedup.ngram_jaccard_pairs.p50_s": ("s", "lower", ("dedup_pipeline",), "primary_p50_ref_cpu_s"),
    "dedup.connected_components.p50_s": ("s", "lower", ("dedup_pipeline",), "primary_p50_ref_cpu_s"),
    "dedup.minhash_signatures.p50_s": ("s", "lower", ("dedup_pipeline",), "tertiary_p50_ref_cpu_s"),
    "dedup.minhash_lsh_pairs.p50_s": ("s", "lower", ("dedup_pipeline",), "tertiary_p50_ref_cpu_s"),
    "dedup.lsh_candidates": ("count", "lower", ("dedup_pipeline",), "tertiary_p50_ref_cpu_s"),
    "dedup.lsh_verify_yield": ("ratio", "higher", ("dedup_pipeline",), "tertiary_p50_ref_cpu_s"),
    "streaming.ingest.incremental_neardup_batch.p50_s": ("s", "lower", ("dedup_pipeline",), "secondary_p50_ref_cpu_s"),
    "streaming.ingest.state_bytes": ("bytes", "lower", ("dedup_pipeline",), "secondary_p50_ref_cpu_s"),
    "streaming.ingest.space_amp": ("ratio", "lower", ("dedup_pipeline",), "secondary_p50_ref_cpu_s"),
    # every workload: each op's own wall time outside the layer calls it
    # makes, and traced minus untraced primary wall p50 in the same run
    "trace.op_self_p50_s": ("s", "lower", None, "primary_p50_ref_cpu_s"),
    "trace.overhead_s": ("s", "lower", None, "primary_p50_ref_cpu_s"),
}


def layer_metrics(workload: str) -> list[str]:
    """The per-layer metrics a workload measures; the rest read 0.0."""
    return [k for k, (_u, _b, w, _m) in PER_LAYER.items() if w is None or workload in w]


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w, "why": why} for w, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": k, "unit": u, "better": b, "bound": bound}
            for k, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": k, "unit": u, "better": b} for k, (u, b, _w, _m) in PER_LAYER.items()
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))

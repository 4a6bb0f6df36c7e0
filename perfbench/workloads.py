"""The benchmark's workloads: named sets of registry queries.

A pass runs a workload's queries once, in an order fixed by the seed. The
query set itself never depends on the seed, so every seed measures the same
work. Queries that read the engine's fixtures through a hard-coded absolute
path, or write under a hard-coded temp path, are left out: the benchmark
reads and writes only inside its own checkout. See README.md for why each
workload exists and which layers it stresses.
"""
import random

WORKLOADS = {
    # Read-only. The paper's own traffic (xlsx decode, the financial-statement
    # union, the notes sectionizer) and TPC-H-style analytics, where
    # planning, codegen, scheduling and source decode dominate, beside the
    # LLM-pipeline operators: CPU-heavy kernels (graft.plans: doc_repetition,
    # brute-force and IVF vector top-k, RAG and hybrid retrieval) and a
    # shuffle-heavy LSH dedup. Lake and streaming stay idle.
    "warehouse_corpus": [
        "a_financial_union", "calk_sectionizer", "xlsx_info_lookup",
        "q01_pricing_summary", "q05_region_revenue", "olap_cube_orders",
        "image_hash_features",
        "doc_repetition", "dedup_minhash_lsh", "ann_topk_cosine",
        "ann_ivf_topk", "ann_ivf_trained_topk", "rag_retrieve_e2e",
    ],
    # Writes beside reads, through SnapshotTable, SnapshotFileIO and
    # Streaming: a streaming upsert (foreachBatch micro-batches merged into a
    # snapshot table), commits, a merge-on-read delete, optimize with expire
    # and vacuum, orphan GC, and stats- and bloom-pruned reads. Eager build
    # work dominates.
    "lake_stream": [
        "streaming_upsert_state", "snapshot_mor_delete", "snapshot_optimize_vacuum",
        "snapshot_orphan_gc", "snapshot_stats_prune", "snapshot_bloom_prune",
    ],
}


def order(workload, seed):
    """The workload's queries in the order the seed fixes for every pass."""
    names = list(WORKLOADS[workload])
    random.Random(f"{workload}:{seed}").shuffle(names)
    return names

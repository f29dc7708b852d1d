"""The benchmark's workloads: named lists of oracle-paired registry entries.

Each workload stresses different layers (see README.md for why each entry
is in its list and which layer metrics it should move).
"""

WORKLOADS: dict[str, list[str]] = {
    # Python-worker kernels and eager build-time loops: LSH bucketing and a
    # numpy mapInPandas quantized near-duplicate join (gate_recall_eval),
    # shingling and MinHash, BPE merge rounds, a degree-ordered triangle
    # count over a checkpointed edge list.
    "llm_curation": [
        "gate_recall_eval",
        "dedup_minhash_sigs",
        "bpe_train",
        "triangle_count",
    ],
    # Build-time commits to the snapshot log and a schema-merging versioned
    # read (snapshot_evolution_read), streaming micro-batches, the key-value store, and
    # a medallion pipeline that lands a file and materializes catalog zones:
    # many small jobs and disk writes.
    "lakehouse_commits": [
        "snapshot_evolution_read",
        "stream_dedup_within_watermark",
        "kv_store_roundtrip",
        "civil_pipeline_e2e",
    ],
}

#: the fixed input tables, a verbatim copy of the repository's sf0.01 test
#: data (lineitem = 60,000 rows), relative to this directory
DATA_DIR = "data/sf0.01"

#: the calibration query of traced runs (min-of-3 before and after the passes)
FLAGSHIP = "pricing_summary"

"""Workloads and corpora. The query lists, corpus and reason for each
workload are documented in README.md; keep the two in step."""

# corpus key -> scale factor for corpus.base (sf 0.1 ≈ 600k lineitems)
CORPORA = {"sf0.1": 0.1, "sf0.01": 0.01, "sf0.001": 0.001}

# `warmup`: unreported passes after the first one; pass times fall steeply
# over them while the JIT compiles (measured on a 4-vCPU Xeon VM).
# `pass_seconds`: about how long a warm pass takes there, so that
# --seconds buys one measured pass per `pass_seconds`.
WORKLOADS = {
    # The reference's own surface: row counts, column-aggregate
    # fingerprints, row-hash diffs, CDC/SCD2, with q1 as the control. At
    # sf0.1 every table is one row group, so one task carries each scan
    # stage: exec-layer work lands almost 1:1 on latency; no memos.
    "recon_sf01": {
        "corpus": "sf0.1", "churn": False, "warmup": 3, "pass_seconds": 2.5,
        "queries": [
            ("recon_rowcount", "Recon"),
            ("recon_colagg_fingerprint", "Recon"),
            ("recon_hash_diff", "Recon"),
            ("scd2_history", "Changes"),
            ("q1_pricing_summary", "Relational"),
        ],
    },
    # Memo consumers of Text, Vectors and Graph, each pass on a fresh copy
    # of the corpus in a new directory after MemoRegistry.evict of the
    # retired one: memo builds, construct-time jobs and eviction are paid
    # on every pass. text_bpe_segment reads Text's BPE memo; dedup_clusters
    # builds Text's minhash memo on its way.
    "corpus_churn": {
        "corpus": "sf0.01", "churn": True, "warmup": 5, "pass_seconds": 1.5,
        "queries": [
            ("text_bpe_segment", "Text"),
            ("embed_pca_power", "Vectors"),
            ("dedup_clusters", "Graph"),
        ],
    },
}

"""Workload definitions: which registered queries a pass runs.

Every query runs as ``fn(spark, sf_dir)`` and is then materialized with
the ``noop`` sink, as ``bench.py`` does. The seed only permutes the
order; the query set and the input bytes are the same for every seed.
See README.md for why each workload exists.
"""

from __future__ import annotations

import random

SF = 0.1
DATA_SEED = 42
# sha256 (datagen.digest) of the project's seed-42 sf0.1 fixture files,
# which datagen.py reproduces byte for byte.
SEED42_DIGEST = "a7ac6a15929c44a2c45adcd33244a87a7f5d99b9316c79d5e601b07945e1d139"

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Driver-side construction and job orchestration: a leg-composed
    # IVF retrain report (parallel_legs), brute-force and IVF search, an
    # IVF-store append, the semantic-assign memo chain, and BM25 and
    # hybrid search.
    "ann_curation": (
        "ivf_retrain",
        "knn_bruteforce",
        "knn_ivf",
        "knn_ivf_append",
        "dedup_semantic",
        "decontaminate_semantic",
        "bm25_search",
        "hybrid_search",
    ),
    # AvailableNow micro-batches, state-store commits, sink and store
    # writes, and one applyInPandasWithState machine.
    "streaming": (
        "stream_hb_session",
        "stream_liveness_state",
        "stream_node_last_seen",
        "stream_dedup_exact",
        "stream_event_dispatch",
        "stream_trending",
        "stream_distinct_users",
        "stream_hot_keys",
        "stream_ivf_assign",
        "stream_ohlc",
        "stream_embedding_drift",
    ),
}


def order(workload: str, seed: int) -> list[str]:
    """The workload's queries in the order the seed fixes."""
    names = list(WORKLOADS[workload])
    random.Random(seed).shuffle(names)
    return names

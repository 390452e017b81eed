"""What the benchmark runs: workloads, input sizes, traced functions.

Metric names, units and bounds live in ``BENCHMARK.json`` at the checkout
root; ``run.py`` reads them from there and fails a run that does not
produce every one. ``README.md`` beside this file says what each metric
measures and which end-to-end metric each per-layer metric should move.
"""

from __future__ import annotations

import json
import os

WORKLOADS = ("crawl_ingest", "corpus_curate")

# The queries corpus_curate runs, in pass order: the connected-components
# curation query and an iterative graph query (both dominated by eager
# jobs during plan construction), then the two Python-boundary kernels
# (the SemDeDup pandas cogroup and the Arrow-batched numpy top-k). Label
# propagation stands in for hits_hubs_authorities, which has the same
# per-round convergence collect but takes twice as long per pass, leaving
# room for only one warm pass in a run.
CORPUS_QUERIES = (
    "dedup_components",
    "label_propagation_communities",
    "semdedup_prune",
    "ann_brute_force_topk_np",
)

# Input sizes. "bench" is the measured size; "smoke" is the smallest
# input, for the harness self-check. A cycle is one crawl round with its
# dashboard refresh and page-load burst, or one pass over CORPUS_QUERIES;
# the first cycle of a run is the cold one. The run length is this fixed
# amount of work, the same on every commit.
SIZES = {
    "bench": {
        "docs": 500, "vecs": 500, "orders": 1500, "lineitems": 6000,
        "domains": 8, "new_per_round": 6, "relist": 3,
        "rounds": 3, "page_loads": 2, "passes": 2,
    },
    "smoke": {
        "docs": 120, "vecs": 120, "orders": 300, "lineitems": 1200,
        "domains": 5, "new_per_round": 3, "relist": 2,
        "rounds": 2, "page_loads": 2, "passes": 2,
    },
}

# Public functions wrapped with spans in the traced run:
# (module under crawlingbigdatavisionaid_spark, attribute, span name).
TRACED = (
    ("crawl.pipeline", "crawl_batch", "crawl.crawl_batch"),
    ("sources.merge", "merge_append", "sources.merge_append"),
    ("dashboard", "refresh_gold", "dashboard.refresh_gold"),
    ("dashboard", "serve", "dashboard.serve"),
    ("operators.components", "connected_components", "operators.components.connected_components"),
    ("operators.neardup", "jaccard_pairs", "operators.neardup.jaccard_pairs"),
    ("operators.neardup", "shingle_rows", "operators.neardup.shingle_rows"),
    ("operators.similarity", "semdedup_keep", "operators.similarity.semdedup_keep"),
    ("operators.similarity", "brute_force_topk_np", "operators.similarity.brute_force_topk_np"),
)
OPERATORS = tuple(name for _, _, name in TRACED if name.startswith("operators."))


def load_benchmark(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)

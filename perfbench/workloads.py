"""The benchmark's workloads and the per-layer metrics a traced run reports.

A traced run of any workload reports every metric in LAYER_UNITS; a layer
the workload never calls reads 0 there."""

import json
import os

from perfbench.analytics import Analytics
from perfbench.crawl import Crawl

WORKLOADS = {w.name: w for w in (Crawl, Analytics)}

LAYER_UNITS = {
    **Crawl.LAYER_UNITS,
    **Analytics.LAYER_UNITS,
    "spark.cpu_util": "1",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.shuffle_mb": "MB",
    "trace.overhead_frac": "1",
    "peak_rss_mb": "MB",
}

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def load_fingerprints() -> dict:
    """Recorded input fingerprints (plus DuckDB result hashes) by workload
    and seed; ``run.py --record-fingerprints N`` rewrites them."""
    with open(FINGERPRINTS) as f:
        return json.load(f)

"""The read workload: a fixed list of catalog queries.

The catalog splits into three slices:

- ``corpus_curation``: the ``doc_*``, ``embedding_*``, ``media_*`` and
  ``domain_*`` families plus the sketch queries (``simhash_fingerprints``,
  ``minhash_near_dups``, ``ngram_jaccard_blocked``, ``hll_distinct_sketch``,
  ``cms_heavy_hitters``, ``kmv_priority_overlap``,
  ``bloom_prefilter_revenue``): 59 queries;
- ``marts_refresh``: the other queries whose builder calls into
  ``linkmerce_spark.marts``, plus the ``scd2_*`` and ``allocation_*``
  families: 61 queries;
- ``catalog_point``: the other 72 queries.

Only ``marts_refresh`` is timed (README.md says why). A pass runs a
fixed subset of the slice, listed below by name so that every commit
times the same ops; a run fails when a listed query is missing from
the catalog.
"""

from __future__ import annotations

import random

TIMED = {
    # Every 7th mart of the name-sorted slice from the 7th, plus
    # coupang_option_master: an odd op count, and six light marts of
    # similar latency, so that the median op lies inside that cluster
    # rather than on the gap to the three heavier ones.
    "marts_refresh": (
        "cj_invoice_order", "coupang_option_master", "coupang_report_daily",
        "google_report_daily", "meta_report_daily", "rfm_order_count",
        "scd2_order_priority", "smartstore_max_delivery_fee", "stock_cost_mom",
    ),
}


def timed_ops(queries: dict, workload: str, seed: int) -> list[str]:
    """The queries a pass of ``workload`` runs, in the seed's order."""
    names = list(TIMED[workload])
    missing = [name for name in names if name not in queries]
    if missing:
        raise SystemExit(f"timed queries missing from the catalog: {missing}")
    random.Random(seed).shuffle(names)
    return names

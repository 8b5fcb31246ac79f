"""The benchmark's workloads: which gates each runs, and why.

A gate is one catalog query, ``QUERIES[name].fn(spark, data_dir)`` followed
by ``.toPandas()``.  Each list keeps one or two gates of the family the
workload stands for.  The whole family would not fit: one run of a workload
(set-up, a cold pass, four warm passes, teardown) has to stay near 45 s, and
set-up alone takes 15-20 s on 4 cores.  A warm pass over the full families
takes about 40 s (tables), 50 s (curation) and 40 s (streaming) on the sf0.01
testdata, and a cold pass about twice that.

Left out, by workload:

- tables: the other 21 TPC-H gates, the 8 window / grouping-set / semi-join /
  range-join gates and the other 6 ``shape_*`` gates.  ``q1_pricing_summary``
  stands for the Catalyst-only plans; ``shape_vectorize`` is the paper's
  DcaTable/vectorize surface, which only workload/shapes.py reaches.
- curation: classifier_auc_docs, dedup_components, kneser_ney3_heldout_docs,
  dedup_minhash_lsh, bpe_encode_docs, pagerank_event_hotspots,
  ccnet_buckets_docs, bloom_filter_orders and qdigest_quantiles_prices.
  ``semantic_dedup_auto`` has all three traits of the family: driver loops,
  pins, and rows across the JVM-Python Arrow boundary.  Alone, its cold pass
  (about 7 s on 4 cores) was the least steady end-to-end figure.
  ``url_dedup_docs`` is the family's cheapest warm gate (under 1 s) with a
  large cold cost (about 3 s): it lengthens the cold pass to about 10 s for
  under 4 s of warm passes per run.
- streaming: streaming_kn_score_docs, streaming_bloom_orders,
  streaming_incremental_dedup, streaming_purchase_clicks,
  streaming_user_totals_stateful, streaming_session_windows,
  streaming_qdigest_prices and streaming_tumbling_hourly.
  ``streaming_dedup_events`` keeps micro-batches and the state store at a
  cost that fits one run.
"""

from __future__ import annotations

import os

# The test tables of TESTDATA.md at scale factor 0.01 (seed 42), copied
# unchanged: ten parquet files, 60,000 lineitem rows, every table under the
# operators' 65,536-row collect caps.  tools/check_correctness.py checks the
# catalog at the same scale.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.01")

# bench.py's warm-up gates: JVM JIT, codegen, parquet footers and the
# Python worker pool, all part of set-up
WARMUP = ("q6_forecast_revenue", "multimodal_decode")

# why each workload was chosen: the "why" of its entry in BENCHMARK.json
WORKLOADS: dict[str, tuple[str, ...]] = {
    "tables": ("q1_pricing_summary", "shape_vectorize"),
    "curation": ("semantic_dedup_auto", "url_dedup_docs"),
    "streaming": ("streaming_dedup_events",),
}

"""Names, units and directions of every metric the benchmark prints.

BENCHMARK.json lists the same metrics; test_pure.py keeps the two in
step.
"""

from __future__ import annotations

from ledger import check_metric_name, check_metric_unit

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pages_per_s", "pages/s", "higher"),
    ("cpu_ms_per_page", "ms", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("bytes_written_per_page", "B", "lower"),
]

# spans the benchmark records around calls into each layer, with the
# phase whose spans feed the per-layer metrics
LAYER_SPANS = [
    ("sources.pagegen.synth_pages", "setup"),
    ("operators.parse.pages_extract_text", "timed"),
    ("operators.parse.scrape_pages", "timed"),
    ("operators.parse.pages_to_nodes", "timed"),
    ("compiler.match_nodes", "timed"),
    ("operators.dedup.minhash_signature", "timed"),
    ("frontier.crawl.crawl", "timed"),
]

SPAN_FIELDS = [
    ("wall_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("jvm_cpu_s", "s", "lower"),
    ("py_cpu_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_read_bytes", "B", "lower"),
    ("shuffle_write_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
    ("tasks", "count", "lower"),
    ("task_max_over_median", "ratio", "lower"),
    ("wall_spread", "ratio", "lower"),
    ("cpu_spread", "ratio", "lower"),
]

PATTERN_KEYS = ("links", "term", "p_id", "title")

# counters a span records itself (span name -> counter, unit, better)
SPAN_COUNTERS = [
    ("sources.pagegen.synth_pages", "pages", "count", "higher"),
    ("operators.parse.pages_extract_text", "pages_dropped", "count", "lower"),
    *[("operators.parse.scrape_pages", f"matches.{k}", "count", "higher")
      for k in PATTERN_KEYS],
    ("operators.parse.pages_to_nodes", "rows_written", "count", "lower"),
    *[("compiler.match_nodes", f"matches.{k}", "count", "higher")
      for k in PATTERN_KEYS],
    ("operators.dedup.minhash_signature", "rows", "count", "higher"),
]

# counters read from the crawl's own per-wave output (workloads.Crawl.counters)
CRAWL_COUNTERS = [
    ("frontier.crawl.crawl.spark_jobs_per_wave", "count", "lower"),
    ("frontier.crawl.schedule_s", "s", "lower"),
    ("frontier.crawl.seen_frontier_cuckoo_s", "s", "lower"),
    ("frontier.crawl.bloom_build_s", "s", "lower"),
    ("frontier.crawl.prev_wave_drain_s", "s", "lower"),
    ("frontier.crawl.fetch_log_drain_s", "s", "lower"),
    ("frontier.bands.rows_read_per_scheduled", "ratio", "lower"),
    ("frontier.bands.rows_written", "count", "lower"),
    ("frontier.bands.frontier_size", "count", "higher"),
    ("frontier.seen.new_ratio", "ratio", "higher"),
    ("frontier.seen.seen_to_candidates", "ratio", "higher"),
    ("frontier.seen.bloom_est_fp", "ratio", "lower"),
    ("frontier.seen.cuckoo_probe_waves", "count", "higher"),
    ("frontier.seen.shuffle_waves", "count", "lower"),
    ("frontier.seen.pruned_waves", "count", "higher"),
    ("frontier.seen.broadcast_waves", "count", "higher"),
]

RUN_COUNTERS = [
    ("trace.pages_per_s", "pages/s", "higher"),
    ("ledger.executor_cpu_total_s", "s", "lower"),
    ("ledger.executor_cpu_attributed_frac", "ratio", "higher"),
]

PER_LAYER = (
    [(f"{span}.{f}", unit, better)
     for span, _phase in LAYER_SPANS for f, unit, better in SPAN_FIELDS]
    + [(f"{span}.{c}", unit, better) for span, c, unit, better in SPAN_COUNTERS]
    + CRAWL_COUNTERS
    + RUN_COUNTERS
)

for _name, _unit, _better in END_TO_END + PER_LAYER:
    check_metric_name(_name)
    check_metric_unit(_unit)

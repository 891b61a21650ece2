"""The benchmark's workloads: a scale for the generated inputs and the
registry queries one pass runs. Every query here has a DuckDB oracle, so
each execution is checked by value hash."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]


# Each workload has an odd number of queries. Every query runs once per
# warm pass, so with an even count the median warm latency would fall
# between two queries' latencies and move with which of them is faster;
# with an odd count it falls among the executions of the middle query.
WORKLOADS = {
    w.name: w
    for w in (
        # Overhead-bound: plan construction, Catalyst planning, per-job
        # scheduling, fixture writes and micro-batch overhead dominate, while
        # the text operators and Python workers are not touched. Batch
        # relational queries plus the write, list and micro-batch paths of
        # the same sources/catalog layers. A data-path kernel should show no
        # change here; a change that speeds reads at the cost of writes or
        # streaming state should. Five relational queries keep a run, cold
        # pass included, within the per-run time budget.
        Workload(
            "olap_ingest_sf0.01",
            0.01,
            (
                "forecast_revenue",  # tpch_plans
                "priority_status_pivot",  # core_plans
                "table_checksum",  # integrity_plans
                "value_percentiles",  # window_plans
                "tumbling_hourly",  # event_plans
                "streaming_tumbling_hourly",  # bounded stream with state
                "pipe_csv_roundtrip",  # sources write + read, once-per-process fixture
                "compaction_roundtrip",  # small-file compaction
                "delete_by_key_audit",  # upsert-module delete on a store
            ),
        ),
        # Operator path: tokenizer regex passes, keyword tagging, the SimHash
        # self-join, the heavy-hitter pandas UDF, an eager pin(), the ANN
        # recall guard's collects, and two per-document regex and quality
        # scans. About twice the task time of the workload above, but at
        # 1,000 documents most of it is per-job work: about 10% of the warm
        # time grows with the input.
        Workload(
            "corpus_sf0.02",
            0.02,
            (
                "word_frequency",
                "doc_quality",
                "keyword_tagging",
                "tf_idf_top_terms",
                "token_heavy_hitters",
                "simhash_near_dup_md5",
                "ann_ivf_topk",
                "pii_redact",
                "quality_band_filter",
            ),
        ),
    )
}

"""The benchmark's workloads: which registry queries, and how they run.

Left out of every workload, because pass 1 does different work from
later passes in one process:
  - the `Sinks.once` write-once round-trips (q58-q60, q72, q73, q75,
    q85) write their sink only the first time they run;
  - the streaming queries (q108, q163, q330, q331) keep checkpoint and
    sink state between runs.
"""

EXCLUDED = {
    "q58_source_csv_roundtrip": "Sinks.once: writes on pass 1 only",
    "q59_source_textlines": "Sinks.once: writes on pass 1 only",
    "q60_source_jsonlines": "Sinks.once: writes on pass 1 only",
    "q72_source_orc_roundtrip": "Sinks.once: writes on pass 1 only",
    "q73_source_partitioned_pruning": "Sinks.once: writes on pass 1 only",
    "q75_bucketed_join": "Sinks.once: writes on pass 1 only",
    "q85_source_xml_roundtrip": "Sinks.once: writes on pass 1 only",
    "q108_streaming_sessionize": "streaming: state carries across runs",
    "q163_stream_stream_join": "streaming: state carries across runs",
    "q330_stream_watermark_tumbling": "streaming: state carries across runs",
    "q331_stream_static_enrich": "streaming: state carries across runs",
}

# Each workload lists groups of queries. The seed shuffles the groups;
# a group keeps its order because its queries share one Memo build, and
# the first of them pays it. `nominal_pass_s` is a pass's wall on a
# 4-core host; `--seconds` divided by it gives the timed pass count.
# Sizes fit a run of about a minute on a 4-core host, where one Spark
# query costs 0.3-3 s of mostly fixed overhead even on small data.
WORKLOADS = {
    # Dask-dataframe-style queries on the sf0.01 star schema: per query
    # the wall is mostly table load, schema inference, Catalyst and job
    # dispatch, so load and planning changes show here.
    "dataframe-api": {
        "sink": "noop", "nominal_pass_s": 3.0,
        "groups": [[q] for q in """
            q01_flagship_agg q07_join_inner q18_window_cumulative
            q35_json_extract q66_pivot""".split()],
    },
    # Multi-job loops, each result written as parquet: the
    # candidate/verify prefix-filter join and the k-means family that
    # shares one memoized model. Jobs, exchanges, Memo builds, executor
    # work and the write path.
    "iterative-tail": {
        "docs": 200, "sink": "parquet", "nominal_pass_s": 6.0,
        "groups": [
            ["q228_prefix_filter_join"],
            ["q214_kmeans", "q286_cluster_agreement",
             "q317_uncertainty_sampling"]],
    },
}

for _w in WORKLOADS.values():
    assert not {q for g in _w["groups"] for q in g} & set(EXCLUDED)

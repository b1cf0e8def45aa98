"""The benchmark's workloads: fixed key lists from the registry
(``__spark_entry__.queries()``), each run over a seeded row permutation of
the sf0.1 test data. README.md records why each key list was chosen and what
was trimmed to fit the run budget.
"""

WORKLOADS = {
    # Executor-bound: the paper's map -> shuffle -> reduce surface, as the
    # Catalyst word count and as the verbatim Python mapf/reducef shim that
    # runs in Python workers, plus a count of 3-step event paths (a
    # map -> shuffle -> reduce built in the engine's plans layer).
    "mr_text": ("word_count", "mr_wordcount_shim", "event_path_trigrams"),
    # Writes beside reads: a micro-batch sink whose every batch reads its
    # ManifestTable, merges the batch's partial counts in and publishes.
    "stream_ingest": ("stream_quality_filter",),
}

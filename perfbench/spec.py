"""What the benchmark runs and reports: workloads, their inputs, and
every metric with its unit. ``BENCHMARK.json`` lists the same names;
``test_smoke.py`` keeps the two in step."""

from __future__ import annotations

#: dedup, similarity and text queries over ``documents``/``embeddings``
#: (registry name prefixes)
LLM_MIX = ("q44", "q71", "q111")

#: scale factor of the generated tables the query mix reads. The larger
#: sf0.1 does not fit: every run starts a JVM, warms each query up and
#: times several passes, and a comparison needs tens of runs per
#: workload within a fixed time budget (about an hour). The queries'
#: time is mostly fixed per-job cost: at sf0.05 a pass takes about 1.2x
#: as long as at sf0.01.
QUERY_SF = 0.01
#: rows landed per daily batch in medallion_refresh: one day of sf0.1
#: ``events`` (100 000 rows over 30 days in the fixture contract)
EVENTS_PER_DAY = 3333
# Mix of a batch. Only UPDATE_SHARE has evidence in the repository; the
# rest are assumptions that no data backs (the fixture ``events`` table
# has no late rows, no duplicates and near-uniform users). README.md,
# "Traffic assumptions", shows how the lakehouse metrics move with them
# (``sensitivity.py``).
#: updates to earlier keys, as a share of a day's new rows; the
#: repository's lakehouse volume rehearsal (scripts/soak_cold_pipeline.py)
#: merges a 10%-update batch
UPDATE_SHARE = 0.10
#: assumption: share of updates aimed at recent keys (key age drawn from
#: an exponential with a mean of two days of keys); the rest pick any
#: earlier key uniformly
RECENT_SHARE = 0.7
#: assumption: late rows for 1-7 days back, as a share of a day's new rows
LATE_SHARE = 0.03
#: assumption: exact duplicate lines, as a share of a batch's good rows
DUP_SHARE = 0.01
#: untimed passes of a query mix before timing starts. The JVM keeps
#: compiling for minutes: on a 4-vCPU host each query's latency still
#: falls by about a quarter from its second to its sixth execution and
#: by as much again over the ten after. Timed passes start after the steepest
#: part of that curve (the first pass takes about three times as long
#: as a warm one)
WARMUP_PASSES = 2
#: seconds of one warm pass of the mix on the seed code (4-vCPU host).
#: A run times ``round(--seconds / NOMINAL_PASS_S)`` passes: the count is
#: fixed, not set by how fast the passes go, so every code version runs
#: the same ops at the same point of the warm-up
NOMINAL_PASS_S = 4.0
#: untimed batches landed and refreshed before timing starts: the first
#: creates the tables, the second runs the MERGE path once, so the timed
#: refreshes are the third and fourth (with one warm-up batch the first
#: timed refresh still ran on a cold JIT: the median refresh of five
#: quiet runs ranged 20%, against 6% with two)
WARMUP_BATCHES = 2
#: compaction + vacuum run inside every this-many-th refresh. No data
#: sets the cadence; the reference instead sets Delta autoCompact on its
#: tables (compaction after writes once small files pile up). Two is the
#: cadence at which one run holds both kinds of refresh.
COMPACT_EVERY = 2
#: timed batches of an untraced run: one plain and one compacting
#: refresh. The count is fixed, not set by ``--seconds``, so every code
#: version refreshes the same batches (about 25 s with their reads on a
#: 4-vCPU host).
TIMED_BATCHES = 2
#: traced flags of the timed batches of a traced run. Each kind of
#: refresh (plain, compacting) runs once traced and once untraced; the
#: traced one comes first for one kind and last for the other, so steady
#: growth of the tables cancels out of ``trace.overhead_s``.
TRACED_PATTERN = (True, False, False, True)
#: times each read of medallion_refresh runs after a timed refresh (once
#: after a warm-up one)
READ_REPEATS = 5
#: versions kept by vacuum: enough for the time-travel read of the
#: version before the current refresh
VACUUM_RETAIN = 3

WORKLOADS = ("llm_curation", "medallion_refresh")

END_TO_END = {
    "setup_s": "s",
    "query_geomean_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}


def _per_query(prefixes) -> dict[str, str]:
    out = {}
    for q in prefixes:
        out[f"plans.build_s.{q}"] = "s"
        out[f"plans.exec_s.{q}"] = "s"
        out[f"spark.jobs.{q}"] = "count"
        out[f"spark.tasks.{q}"] = "count"
    return out


PER_LAYER = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    **_per_query(LLM_MIX),
    "spark.jobs.refresh": "count",
    "spark.tasks.refresh": "count",
    "catalog.load_table_s": "s",
    "catalog.load_table_calls": "count",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "operators.bpe_s": "s",
    "lakehouse.merge_s": "s",
    "lakehouse.append_s": "s",
    "lakehouse.overwrite_s": "s",
    "lakehouse.compact_s": "s",
    "lakehouse.vacuum_s": "s",
    "lakehouse.read_s": "s",
    "lakehouse.table_changes_s": "s",
    "lakehouse.commits": "count",
    "lakehouse.bytes_written": "bytes",
    "lakehouse.partitions_rewritten": "count",
    "lakehouse.partitions_touched": "count",
    "lakehouse.rewrite_useful_ratio": "ratio",
    "lakehouse.live_files": "count",
    "lakehouse.write_amp": "ratio",
    "lakehouse.space_amp": "ratio",
    "streaming.trigger_s": "s",
    "streaming.discover_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.input_rows": "count",
    "streaming.quarantined_rows": "count",
    "pipelines.build_gold_s": "s",
    "pipelines.refresh_max_s": "s",
    "trace.overhead_s": "s",
}

#: per-layer counts that must repeat exactly between two runs of the
#: same code and seed (checked by ``repeat_check.py``)
REPEATABLE = tuple(
    name for name in PER_LAYER
    if name.startswith("spark.") or name in (
        "lakehouse.commits", "lakehouse.bytes_written",
        "lakehouse.partitions_rewritten", "lakehouse.partitions_touched",
        "catalog.load_table_calls", "streaming.input_rows",
        "streaming.quarantined_rows")
)

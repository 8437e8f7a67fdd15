"""The two workloads. Each is a closed loop with one client: the next
op starts when the previous one has finished.

- :func:`query_mix` runs ``llm_curation``: registry queries round-robin
  in a seed-shuffled order, each built by its ``builder`` and executed
  into the ``noop`` sink.
- :func:`medallion_refresh` lands daily event batches and refreshes the
  silver and gold tables through the streaming MERGE and the medallion
  pipeline, then reads the tables it just wrote.

Both warm up first (part of set-up), then time a fixed number of ops,
then check correctness outside the timed ops. The query mix times
``round(seconds / spec.NOMINAL_PASS_S)`` passes, about ``seconds`` on the
seed code; a refresh does more work the more batches came before it, so
medallion_refresh times a fixed number of batches whatever ``seconds``
says. Either way every code version runs the same ops. With tracing on,
timed ops run both untraced and traced, so the per-layer numbers and
the tracing overhead come from one run.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

import datagen
import spec


@dataclass
class Ctx:
    spark: object
    data_dir: str
    run_dir: str
    seed: int
    seconds: float
    tracer: object | None  # tracing.Tracer when the run is traced
    jobs: object | None  # tracing.JobCounter when the run is traced
    listener: object | None = None
    batch_rows: int = spec.EVENTS_PER_DAY
    memory: object | None = None  # run.PeakRss of the Python process and its JVM


@dataclass
class Outcome:
    warmup_s: float = 0.0
    #: op kind → untraced latencies of timed ops
    samples: dict = field(default_factory=dict)
    #: op kind → latencies of traced timed ops
    traced_samples: dict = field(default_factory=dict)
    #: per-layer values measured in traced ops: kind → list of dicts
    layer_obs: dict = field(default_factory=dict)
    #: per-layer values that are properties of the whole run
    layer_run: dict = field(default_factory=dict)
    #: peak RSS over the timed ops (MB)
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


def _layer_values(ctx: Ctx, root: int) -> dict[str, float]:
    """Per-layer values of one traced op from the spans below ``root``."""
    out: dict[str, float] = {}

    def add(name, v):
        out[name] = out.get(name, 0.0) + v

    for name, (own, incl, calls) in ctx.tracer.self_times(root).items():
        if name == "catalog.load_table":
            add("catalog.load_table_s", own)
            add("catalog.load_table_calls", calls)
        elif name.startswith("operators."):
            add(name.rsplit(".", 1)[0] + "_s", own)
        elif name == "pipelines.medallion.build_gold":
            add("pipelines.build_gold_s", incl)
        elif name.startswith("lakehouse."):
            method = name.split(".", 1)[1]
            bucket = {"append_txn": "append", "append_if_new": "append",
                      "compact_to_size": "compact"}.get(method, method)
            if bucket in ("merge", "append", "overwrite", "compact", "vacuum",
                          "read", "table_changes"):
                add(f"lakehouse.{bucket}_s", own)
    return out


def _timed(ctx: Ctx, out: Outcome, kind: str, traced: bool, fn) -> float | None:
    """Run one timed op; returns its latency (None if it failed). A traced
    op also records its per-layer values and Spark job range."""
    if traced:
        ctx.tracer.enabled = True
        first_job = ctx.jobs.mark()
    out.attempted += 1
    lat = None
    try:
        with (ctx.tracer.span(f"op.{kind}", root=True) if ctx.tracer
              else contextlib.nullcontext()) as root:
            t0 = time.perf_counter()
            extra = fn() or {}
            lat = time.perf_counter() - t0
    except Exception:  # a failed op is counted, the run goes on
        out.fail(f"{kind}: {traceback.format_exc(limit=3)}")
    finally:
        if traced:
            ctx.tracer.enabled = False
    if lat is None:
        return None
    (out.traced_samples if traced else out.samples).setdefault(kind, []).append(lat)
    if traced:
        obs = _layer_values(ctx, root)
        obs.update(extra)
        obs["_jobs"] = (first_job, ctx.jobs.mark())
        out.layer_obs.setdefault(kind, []).append(obs)
    return lat


def _untimed(out: Outcome, what: str, fn) -> bool:
    """Run one warm-up op; its time counts toward set-up."""
    out.attempted += 1
    t0 = time.perf_counter()
    try:
        fn()
        return True
    except Exception:
        out.fail(f"{what}: {traceback.format_exc(limit=3)}")
        return False
    finally:
        out.warmup_s += time.perf_counter() - t0


def _variants(ctx: Ctx, i: int) -> list[bool]:
    """Traced flags of the timed runs of op ``i``: untraced only, or an
    untraced/traced pair whose order alternates."""
    if ctx.tracer is None:
        return [False]
    return [False, True] if i % 2 == 0 else [True, False]


# --------------------------------------------------------------- query mix
def query_mix(ctx: Ctx, prefixes: tuple[str, ...]) -> Outcome:
    from football_lakehouse_spark.plans import registry

    spark, out = ctx.spark, Outcome()
    by_prefix = {n.split("_")[0]: s for n, s in registry.REGISTRY.items()}
    specs = [by_prefix[p] for p in prefixes]
    order = [specs[i] for i in np.random.default_rng(ctx.seed).permutation(len(specs))]

    def run_query(s):
        def op():
            b0 = time.perf_counter()
            df = s.builder(spark, ctx.data_dir)
            b1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return {"build_s": b1 - b0, "exec_s": time.perf_counter() - b1}
        return op

    # warm-up passes: JIT, file listing and schema caches. The first
    # collects the results the correctness check compares; the others run
    # the timed op itself, so its code path is warm too
    results: dict[str, tuple] = {}
    t0 = time.perf_counter()
    for p in range(spec.WARMUP_PASSES):
        for s in order:
            out.attempted += 1
            try:
                if p == 0:
                    df = s.builder(spark, ctx.data_dir)
                    results[s.name] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    run_query(s)()
            except Exception:
                out.fail(f"{s.name} (warm-up): {traceback.format_exc(limit=3)}")
            spark.catalog.clearCache()
    out.warmup_s = time.perf_counter() - t0

    # a fixed number of passes for a given --seconds, so every code
    # version runs the same ops at the same point of the JVM's warm-up
    passes = max(1, round(ctx.seconds / spec.NOMINAL_PASS_S))
    ctx.memory.reset()
    for i in range(passes * len(order)):
        s = order[i % len(order)]
        for traced in _variants(ctx, i + i // len(order)):
            _timed(ctx, out, s.name, traced, run_query(s))
            spark.catalog.clearCache()
    out.peak_rss_mb = ctx.memory.peak_mb()

    import oracle

    con = oracle.duck_connection(ctx.data_dir)
    for s in order:
        if s.name not in results:
            continue
        cols, rows = results[s.name]
        out.attempted += 1
        try:
            if s.oracle_sf is None:
                why = oracle.compare(cols, rows, s.oracle, con)
            else:
                # oracle literals are pinned to another scale: the result
                # must instead be non-empty and identical on a second run
                df = s.builder(spark, ctx.data_dir)
                again = [tuple(r) for r in df.collect()]
                spark.catalog.clearCache()
                why = None
                if not rows or len(again) != len(rows):
                    why = f"row count {len(rows)} then {len(again)}"
                elif oracle.result_hash(cols, again) != oracle.result_hash(cols, rows):
                    why = "result hash differs between two runs"
                out.layer_run[f"hash.{s.name}"] = oracle.result_hash(cols, rows)
            if why:
                out.fail(f"{s.name}: {why}")
        except Exception:
            out.fail(f"{s.name} (check): {traceback.format_exc(limit=3)}")
    con.close()
    return out


# ------------------------------------------------------- medallion refresh
class Landing:
    """Seeded generator of daily JSON batches, and the ground truth they
    imply. Each batch holds one day of new events plus updates to earlier
    keys (mostly recent ones), late rows for older days, exact duplicate
    lines and one corrupt line."""

    def __init__(self, landing_dir: str, seed: int, users: int, rows_per_day: int):
        self.dir = landing_dir
        self.rows_per_day = rows_per_day
        self.rng = np.random.default_rng([seed, 7])
        self.users = users
        self.next_id = 0
        self.keys: list[int] = []  # every landed key, in landing order
        self.state: dict[int, tuple] = {}  # key → latest good row
        self.landed: list[tuple] = []  # (batch, event_id, ts, user, type, value)
        self.corrupt = 0

    def _new_rows(self, n: int, start: dt.datetime, days: float) -> list[dict]:
        ev = datagen.event_rows(self.rng, n, self.next_id, self.users, start, days)
        self.next_id += n
        return [
            {"event_id": int(ev["event_id"][i]), "ts": ev["ts"][i],
             "user_id": int(ev["user_id"][i]), "event_type": str(ev["event_type"][i]),
             "value": float(ev["value"][i]), "props": ev["props"][i]}
            for i in range(n)
        ]

    def land(self, batch: int) -> dict:
        rng, n = self.rng, self.rows_per_day
        day = datagen.EVENTS_START + dt.timedelta(days=batch)
        rows = self._new_rows(n, day, 1.0)
        late = []
        if batch > 0:
            for back in rng.integers(1, min(7, batch) + 1, int(n * spec.LATE_SHARE)):
                late += self._new_rows(1, day - dt.timedelta(days=int(back)), 1.0)
        updates = []
        if self.keys:
            k = len(self.keys)
            want = min(k, int(n * spec.UPDATE_SHARE))
            recent = k - 1 - np.minimum(k - 1, rng.exponential(2 * n, want).astype(int))
            anywhere = rng.integers(0, k, want)
            picks = np.where(rng.random(want) < spec.RECENT_SHARE, recent, anywhere)
            for key in dict.fromkeys(self.keys[i] for i in picks):
                old = self.state[key]
                ts = old["ts"] + np.timedelta64(int(rng.integers(1, 600_000_000)), "us")
                day_end = np.datetime64(old["ts"], "D") + np.timedelta64(1, "D")
                updates.append({**old,
                                "ts": min(ts, day_end - np.timedelta64(1, "us")),
                                "event_type": datagen.EVENT_TYPES[rng.integers(0, 5)],
                                "value": round(old["value"] + float(rng.integers(1, 1000)) / 100, 2)})
        good = rows + late + updates
        dups = [good[i] for i in rng.integers(0, len(good), int(len(good) * spec.DUP_SHARE))]

        files: dict[str, list[str]] = {}
        for r in good + dups:
            date = str(np.datetime64(r["ts"], "D"))
            line = json.dumps({**r, "ts": str(np.datetime64(r["ts"], "us"))})
            files.setdefault(date, []).append(line)
        today = str(np.datetime64(day, "D"))
        files.setdefault(today, []).append('{"event_id": 1, "ts": "2024-01-0')
        self.corrupt += 1

        landed_bytes = 0
        for date, lines in sorted(files.items()):
            d = os.path.join(self.dir, f"snapshot_date={date}")
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"b{batch:05d}.json")
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            landed_bytes += os.path.getsize(path)

        new_keys = [r["event_id"] for r in rows + late]
        self.keys += new_keys
        for r in good:
            self.state[r["event_id"]] = r
            self.landed.append((batch, r["event_id"], r["ts"], r["user_id"],
                                r["event_type"], r["value"]))
        lookup = updates[0] if updates else rows[0]
        return {
            "bytes": landed_bytes,
            "inserts": len(new_keys),
            "updates": len(updates),
            "partitions": {str(np.datetime64(r["ts"], "D")) for r in good},
            "lookup": lookup["event_id"],
            "rows": len(self.state),
        }

    def landed_table(self) -> pa.Table:
        cols = list(zip(*self.landed))
        return pa.table({
            "batch": pa.array(cols[0], pa.int64()),
            "event_id": pa.array(cols[1], pa.int64()),
            "ts": pa.array(np.array(cols[2], dtype="datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(cols[3], pa.int64()),
            "event_type": pa.array(cols[4], pa.string()),
            "value": pa.array(cols[5], pa.float64()),
        })


def _data_files(root: str) -> dict[str, int]:
    """Every parquet data file under ``root`` with its size."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _log_entries(root: str) -> int:
    return sum(len([f for f in files if f.endswith(".json")])
               for d, _dirs, files in os.walk(root) if d.endswith("_log"))


def medallion_refresh(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from football_lakehouse_spark.lakehouse.tables import LakehouseTable
    from football_lakehouse_spark.pipelines import medallion
    from football_lakehouse_spark.streaming import ingest

    spark, out = ctx.spark, Outcome()
    lake = os.path.join(ctx.run_dir, "lake")
    landing = Landing(os.path.join(ctx.run_dir, "landing"), ctx.seed,
                      datagen.users_for(0.1), ctx.batch_rows)
    os.makedirs(landing.dir, exist_ok=True)
    checkpoint = os.path.join(ctx.run_dir, "checkpoint")
    silver = LakehouseTable(spark, lake, "silver", "event", partition_by=["snapshot_date"])
    silver.enable_change_feed()
    quarantine = LakehouseTable(spark, lake, "silver", "event_quarantine")
    live_state = LakehouseTable(spark, lake, "gold", "fact_live_state")
    form = LakehouseTable(spark, lake, "gold", "fact_live_form")

    def to_silver(batch):
        return batch.select(
            "event_id", F.col("ts").alias("event_ts"), "user_id", "event_type",
            "value", F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
            "snapshot_date", "_rescue")

    streams_done = [0]

    def refresh(batch: int) -> dict:
        ingest.merge_stream_into_table(
            spark, landing.dir, checkpoint, silver, keys=("event_id",),
            order_desc=("event_ts", "event_id"), transform=to_silver,
            quarantine_table=quarantine)
        medallion.build_gold(spark, silver, live_state, form)
        if batch % spec.COMPACT_EVERY == 0:
            silver.compact_to_size()
            for t in (silver, quarantine, live_state, form):
                t.vacuum(retain_last=spec.VACUUM_RETAIN)
        streams_done[0] += 1

    def reads(info: dict, v_before: int, v_merge: int, rows_before: int):
        def point():
            got = silver.read().where(F.col("event_id") == info["lookup"]).select(
                "event_ts", "event_type", "value").collect()
            want = landing.state[info["lookup"]]
            if [tuple(r) for r in got] != [(want["ts"].astype(dt.datetime),
                                             want["event_type"], want["value"])]:
                raise AssertionError(f"point lookup {info['lookup']}: {got}")

        def time_travel():
            n = silver.read(version=v_before).count()
            if n != rows_before:
                raise AssertionError(f"time travel to v{v_before}: {n} rows, "
                                     f"expected {rows_before}")

        def changes():
            got = dict(silver.table_changes(v_before, v_merge)
                       .groupBy("change_type").count().collect())
            want = {"insert": info["inserts"], "update_preimage": info["updates"],
                    "update_postimage": info["updates"]}
            if {k: v for k, v in got.items() if v} != {k: v for k, v in want.items() if v}:
                raise AssertionError(f"table_changes: {got}, expected {want}")

        return (("point_lookup", point), ("time_travel", time_travel),
                ("table_changes", changes))

    def cycle(batch: int, timed: bool, traced: bool) -> None:
        info = landing.land(batch)
        v_before = silver.current_version() if silver.exists() else -1
        rows_before = info["rows"] - info["inserts"]
        files_before = _data_files(lake)
        commits_before = _log_entries(lake)
        quarantined_before = quarantine.read().count() if traced and quarantine.exists() else 0
        if timed:
            first = len(ctx.listener.progress) if ctx.listener else 0
            lat = _timed(ctx, out, "refresh", traced, lambda: refresh(batch))
        else:
            lat = 0.0 if _untimed(out, f"refresh {batch}", lambda: refresh(batch)) else None
        if lat is None:
            return
        v_merge = v_before + 1  # the MERGE is the first silver commit of a refresh
        written = {p: n for p, n in _data_files(lake).items() if p not in files_before}
        if timed and traced:
            ctx.listener.wait_terminated(streams_done[0])
            prog = ctx.listener.progress[first:]

            def dur(*keys):
                return sum(p["durationMs"].get(k, 0) for p in prog for k in keys) / 1e3

            merge_commit = os.path.join(silver.log_root, f"{v_merge:020d}.json")
            with open(merge_commit) as f:
                added = json.load(f)["add"]
            out.layer_obs["refresh"][-1].update({
                "streaming.trigger_s": dur("triggerExecution"),
                "streaming.discover_s": dur("latestOffset", "getBatch"),
                "streaming.add_batch_s": dur("addBatch"),
                "streaming.commit_s": dur("commitOffsets", "walCommit"),
                "streaming.input_rows": sum(p["numInputRows"] for p in prog),
                "streaming.quarantined_rows": quarantine.read().count() - quarantined_before,
                "lakehouse.commits": _log_entries(lake) - commits_before,
                "lakehouse.bytes_written": sum(written.values()),
                "lakehouse.partitions_rewritten": len({os.path.dirname(a) for a in added}),
                "lakehouse.partitions_touched": len(info["partitions"]),
            })
        run = out.layer_run
        if timed:
            run["bytes_written"] = run.get("bytes_written", 0) + sum(written.values())
            run["bytes_landed_timed"] = run.get("bytes_landed_timed", 0) + info["bytes"]
        run["bytes_landed"] = run.get("bytes_landed", 0) + info["bytes"]
        if v_before < 0:
            return
        repeats = spec.READ_REPEATS if timed else 1
        for kind, fn in reads(info, v_before, v_merge, rows_before) * repeats:
            if timed:
                _timed(ctx, out, kind, traced, fn)
            else:
                _untimed(out, f"{kind} {batch}", fn)

    for b in range(spec.WARMUP_BATCHES):
        cycle(b, timed=False, traced=False)

    pattern = spec.TRACED_PATTERN if ctx.tracer else (False,) * spec.TIMED_BATCHES
    ctx.memory.reset()
    for i, traced in enumerate(pattern):
        cycle(spec.WARMUP_BATCHES + i, timed=True, traced=traced)
    out.peak_rss_mb = ctx.memory.peak_mb()

    # end state: silver, gold live state and quarantine against DuckDB
    import oracle

    out.attempted += 1
    try:
        silver_rows = [tuple(r) for r in silver.read().select(
            "event_id", "event_ts", "user_id", "event_type", "value").collect()]
        gold_rows = [tuple(r) for r in live_state.read().select(
            "user_id", "last_event_type", "total_value", "n_events",
            "last_seen_ts").collect()]
        problems = oracle.medallion_mismatches(
            landing.landed_table(), silver_rows, gold_rows,
            quarantine.read().count(), landing.corrupt)
        for p in problems:
            out.fail(p)
        live = [silver, quarantine, live_state, form]
        out.layer_run["lakehouse.live_files"] = len(silver.current_files())
        out.layer_run["live_bytes"] = sum(
            os.path.getsize(os.path.join(t.data_root, f))
            for t in live for f in t.current_files())
    except Exception:
        out.fail(f"end state: {traceback.format_exc(limit=3)}")
    return out

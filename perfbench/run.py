"""Lakehouse benchmark: one run of one workload.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` in a private directory under ``.perfbench_tmp/`` (deleted at
exit), starts a ``local[<cpus>]`` Spark session sized to the host, warms
up, times ops (``round(--seconds / spec.NOMINAL_PASS_S)`` passes of the
query mix, a fixed number of refreshes in medallion_refresh), checks the
outputs and
prints one JSON object as the last line of standard output:

- ``--trace 0``: the end-to-end metrics (``spec.END_TO_END``);
- ``--trace 1``: the per-layer metrics (``spec.PER_LAYER``), with the
  spans written to ``.perfbench_out/``.

The line before it is a JSON object of run metadata (load average, CPU
steal, sample counts, failures). See README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import spec  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

#: driver heap ceiling; the run takes less when free memory is short
MAX_HEAP_MB = 1536
#: driver young generation
YOUNG_MB = 256


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _heap_mb() -> int:
    with open("/proc/meminfo") as f:
        avail = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable"))
    return max(512, min(MAX_HEAP_MB, avail // 1024 // 3))


class PeakRss:
    """Peak resident memory of a set of processes over a window: ``reset``
    sets each one's high-water mark back to its current RSS, ``peak_mb``
    sums the marks reached since."""

    def __init__(self, pids: list[int]):
        self.pids = pids

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def peak_mb(self) -> float:
        kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        return kb / 1024


def _steal_s() -> float:
    """CPU time the hypervisor gave to others while this VM wanted to
    run, summed over CPUs since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return steal / os.sysconf("SC_CLK_TCK")


def _geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _isolate(run_dir: str) -> None:
    """Point every scratch location of the run at ``run_dir``."""
    for sub in ("scratch", "spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["FLS_SCRATCH_ROOT"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None
    os.chdir(run_dir)


def _start_session(run_dir: str, cpus: int, heap: int):
    from football_lakehouse_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            # a fixed heap and young generation: G1 would otherwise size
            # both from GC pause times, so peak RSS would follow host
            # speed; fixed, RSS follows the data the program keeps (the
            # heap is not pre-touched)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{heap}m "
                f"-XX:NewSize={YOUNG_MB}m -XX:MaxNewSize={YOUNG_MB}m"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the job/task counter resolves stage info after the run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str,
        out_dir: str, query_sf: float = spec.QUERY_SF,
        batch_rows: int = spec.EVENTS_PER_DAY) -> tuple[dict, dict]:
    """One run; returns ``(result, metadata)``."""
    _isolate(run_dir)
    data_dir = os.path.join(run_dir, "data")
    if workload != "medallion_refresh":
        datagen.generate(data_dir, query_sf, seed)

    t0 = time.perf_counter()
    import football_lakehouse_spark.plans  # noqa: F401  (registers every query)
    t1 = time.perf_counter()
    heap = _heap_mb()
    spark = _start_session(run_dir, _cpus(), heap)
    try:
        spark.range(1).count()
        t2 = time.perf_counter()
        tracer = jobs = listener = None
        if trace:
            tracer = tracing.Tracer(f"{workload}-{seed}-{uuid.uuid4().hex[:8]}")
            tracer.install()
            jobs = tracing.JobCounter(spark)
            listener = tracing.make_progress_listener()
            spark.streams.addListener(listener)
        memory = PeakRss([os.getpid(), spark.sparkContext._gateway.proc.pid])
        ctx = workloads.Ctx(spark, data_dir, run_dir, seed, seconds, tracer, jobs,
                            listener, batch_rows, memory)
        if workload == "llm_curation":
            out = workloads.query_mix(ctx, spec.LLM_MIX)
        else:
            out = workloads.medallion_refresh(ctx)
        setup = {"session.import_s": t1 - t0, "session.start_s": t2 - t1,
                 "session.warmup_s": out.warmup_s}
        job_counts = {}
        if trace:
            ranges = [(kind, obs["_jobs"]) for kind, lst in out.layer_obs.items()
                      for obs in lst]
            for (kind, _), counts in zip(ranges, jobs.resolve([r for _, r in ranges])):
                job_counts.setdefault(kind, []).append(counts)
            tracer.uninstall()
    finally:
        _stop_session(spark)

    meta = {
        "workload": workload, "seed": seed, "trace": int(trace), "cpus": _cpus(),
        "heap_mb": heap, "query_sf": query_sf, "batch_rows": batch_rows,
        "samples": {k: len(v) for k, v in out.samples.items()},
        "medians": {k: statistics.median(v) for k, v in out.samples.items()},
        "problems": out.problems,
        **{k: v for k, v in out.layer_run.items() if k.startswith("hash.")},
    }
    if trace:
        metrics = _per_layer(out, setup, job_counts)
        meta["job_counts"] = job_counts
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{tracer.run_id}.json"))
    else:
        metrics = _end_to_end(workload, out, setup)
        if workload != "medallion_refresh":
            pooled = sorted(v for lst in out.samples.values() for v in lst)
            meta["query_tail"] = _tail(pooled)
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    return result, meta


def _tail(pooled: list[float]) -> dict:
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it."""
    n = len(pooled)
    for p in (99, 95, 90, 75, 50):
        idx = math.ceil(n * p / 100) - 1
        if n - 1 - idx >= 10:
            return {"percentile": p, "seconds": pooled[idx], "samples": n}
    return {"percentile": None, "seconds": None, "samples": n}


def _end_to_end(workload: str, out, setup: dict) -> dict:
    samples = out.samples
    if workload == "medallion_refresh":
        reads = {k: v for k, v in samples.items() if k != "refresh"}
        query_geomean = _geomean([statistics.median(v) for v in reads.values()])
        pass_s = statistics.median(samples["refresh"])
    else:
        query_geomean = _geomean([statistics.median(v) for v in samples.values()])
        pass_s = sum(statistics.median(v) for v in samples.values())
    values = {
        "setup_s": sum(setup.values()),
        "query_geomean_s": query_geomean,
        "pass_s": pass_s,
        "peak_rss_mb": out.peak_rss_mb,
    }
    return {k: {"value": values[k], "unit": u} for k, u in spec.END_TO_END.items()}


def _per_layer(out, setup: dict, job_counts: dict) -> dict:
    values = {name: 0.0 for name in spec.PER_LAYER}
    values.update(setup)
    for kind, obs_list in out.layer_obs.items():
        keys = {k for obs in obs_list for k in obs if not k.startswith("_")}
        for k in keys:
            med = statistics.median(obs.get(k, 0.0) for obs in obs_list)
            if k in ("build_s", "exec_s"):
                values[f"plans.{k}.{kind.split('_')[0]}"] = med
            elif k in values:
                values[k] += med
    for kind, counts in job_counts.items():
        label = "refresh" if kind == "refresh" else kind.split("_")[0]
        if f"spark.jobs.{label}" in values:
            values[f"spark.jobs.{label}"] = statistics.median(c[0] for c in counts)
            values[f"spark.tasks.{label}"] = statistics.median(c[1] for c in counts)
    if "refresh" in out.traced_samples:
        values["pipelines.refresh_max_s"] = max(out.traced_samples["refresh"])
    run = out.layer_run
    if run.get("bytes_landed"):
        values["lakehouse.write_amp"] = run["bytes_written"] / run["bytes_landed_timed"]
        values["lakehouse.space_amp"] = run.get("live_bytes", 0) / run["bytes_landed"]
        values["lakehouse.live_files"] = run.get("lakehouse.live_files", 0)
        touched = sum(o["lakehouse.partitions_touched"] for o in out.layer_obs["refresh"])
        rewritten = sum(o["lakehouse.partitions_rewritten"] for o in out.layer_obs["refresh"])
        values["lakehouse.rewrite_useful_ratio"] = touched / rewritten if rewritten else 0.0
    traced = {k: statistics.median(v) for k, v in out.traced_samples.items()}
    plain = {k: statistics.median(v) for k, v in out.samples.items() if k in traced}
    if traced:
        values["trace.overhead_s"] = (_geomean(list(traced.values()))
                                      - _geomean(list(plain.values())))
    return {k: {"value": values[k], "unit": u} for k, u in spec.PER_LAYER.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--query-sf", type=float, default=spec.QUERY_SF,
                    help="scale factor of the query mix's tables (the smoke test uses 0.001)")
    ap.add_argument("--batch-rows", type=int, default=spec.EVENTS_PER_DAY,
                    help="new events per medallion batch (the smoke test uses a few hundred)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(1, root)  # the package under test, from the checkout
    run_dir = os.path.join(root, ".perfbench_tmp",
                           f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    load_start, steal_start = os.getloadavg()[0], _steal_s()
    try:
        result, meta = run(args.workload, args.seed, args.seconds, bool(args.trace),
                           run_dir, os.path.join(root, ".perfbench_out"), args.query_sf,
                           args.batch_rows)
    finally:
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
    meta["loadavg_start"] = load_start
    meta["loadavg_end"] = os.getloadavg()[0]
    meta["steal_s"] = _steal_s() - steal_start
    print(json.dumps(meta))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

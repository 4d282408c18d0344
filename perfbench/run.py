"""Ingest-lifecycle benchmark: drives ``runner.run_job_file`` on generated
job YAML for one workload and prints one JSON result line.

    python3 perfbench/run.py --workload bulk_csv_backfill --seed 1 \
        --seconds 20 --trace 0

Run it from the repository root. Everything it writes stays under
``.perfbench_work/`` (inputs, targets, Spark scratch; removed at exit) and
``.perfbench_traces/`` (span dumps of traced runs). See perfbench/README.md
for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS, JobCheck, Round  # noqa: E402

#: input generations per run; setup_s takes their median, and the copies
#: must be byte-identical
GEN_REPS = 2
#: driver JVM heap; the 1 GiB default adds enough GC time to the dedup
#: jobs to double their run-to-run spread
DRIVER_MEMORY = "2g"
#: consumer reads after each job; the job's read time is their median
READ_REPS = 3
#: dedup quality floors, set below the values measured on the seeds used
#: while the benchmark was built (recall ~0.99, no false drops)
MIN_DUP_RECALL = 0.95
MAX_FALSE_DROP = 0.01


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples above
    it (the median when there are too few samples for any tail)."""
    n = len(samples)
    for pct in (99, 95, 90, 75):
        if n * (100 - pct) / 100 >= 10:
            return statistics.quantiles(samples, n=100,
                                        method="inclusive")[pct - 1], pct
    return statistics.median(samples), 50


def digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def start_spark(work: Path, nproc: int):
    scratch = work / "spark"
    scratch.mkdir(parents=True, exist_ok=True)
    # every temp file (Python's, the JVMs', Spark's block manager) stays
    # inside the work dir; no JVM writes its perf-data file to /tmp
    os.environ["TMPDIR"] = str(scratch)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}")
    tempfile.tempdir = None
    from dativo_ingest_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM's stdin (it exits on
    EOF) and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    sys.path.insert(0, str(ROOT))
    from dativo_ingest_spark import runner  # fails outside a checkout

    work = ROOT / ".perfbench_work" / f"{wl.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    nproc = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark = start_spark(work, nproc)
        session_s = time.perf_counter() - T_START
        result = measure(spark, runner, wl, work, args, nproc, session_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": result.pop("report")}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


def measure(spark, runner, wl, work: Path, args, nproc: int,
            session_s: float) -> dict:
    gen_s, digests = [], set()
    for rep in range(GEN_REPS):
        out = work / f"inputs{rep}"
        t = time.perf_counter()
        units = wl.generate(out, args.seed)
        gen_s.append(time.perf_counter() - t)
        digests.add(digest(out))
        if rep:
            shutil.rmtree(out)
    inputs = work / "inputs0"
    setup_s = session_s + statistics.median(gen_s)
    problems = [] if len(digests) == 1 else ["generator not deterministic"]

    rec = None
    if args.trace:
        from spans import Recorder

        rec = Recorder(spark)
        rec.install()

    jobs: list[dict] = []
    rounds: list[Round] = []
    profiles: list[dict] = []
    stored_ratio = None
    rnd = None
    t_end = None
    try:
        # the first job is the cold one and the second warms the JIT up;
        # the window opens after the cold job and stays open until round 0
        # has landed the units its storage figure is taken at and enough
        # warm jobs have run (two in a traced run: one of each kind)
        need_warm = 2 if rec is not None else 1
        while t_end is None or time.perf_counter() < t_end or (
                stored_ratio is None) or sum(
                    j["kind"] == "warm" for j in jobs) < need_warm:
            if rnd is None or rnd.done == len(rnd.units):
                if rnd is not None:
                    close_round(wl, rnd, jobs, problems)
                rnd = Round(wl, spark, inputs, units,
                            work / f"round{len(rounds)}")
                rounds.append(rnd)
            unit = rnd.land()
            kind = ("cold" if not jobs else "load" if rnd.done == 1
                    else "warmup" if len(jobs) == 1 else "warm")
            n_warm = sum(j["kind"] == "warm" for j in jobs)
            traced = rec is not None and kind == "warm" and n_warm % 2 == 0
            job = run_one(spark, runner, wl, rnd, unit, rec if traced
                          else None, profiles)
            job.update(kind=kind, round=rnd)
            jobs.append(job)
            if stored_ratio is None and rnd.done == min(wl.stored_after,
                                                        len(rnd.units)):
                stored_ratio = wl.stored_bytes(rnd) / rnd.source_bytes
            if t_end is None:
                t_end = time.perf_counter() + args.seconds
        close_round(wl, rnd, jobs, problems)
    finally:
        if rec is not None:
            rec.uninstall()
            traces = ROOT / ".perfbench_traces"
            traces.mkdir(exist_ok=True)
            rec.dump(str(traces / f"{wl.name}-{args.seed}.json"))

    failed = [j for j in jobs if not j["ok"]]
    problems += [j["why"] for j in failed[:5]]
    # timings cover every job that ran to the end, failed checks included
    warm = [j for j in jobs if j["kind"] == "warm" and not j["raised"]]
    quality = wl.quality(rounds)
    if quality and (quality["dup_recall"] < MIN_DUP_RECALL
                    or quality["false_drop_ratio"] > MAX_FALSE_DROP):
        problems.append(f"dedup quality {quality}")
    if not warm:
        problems.append("no warm job completed")
        warm = [j for j in jobs if not j["raised"]] or jobs
    secs = [j["seconds"] for j in warm]
    job_tail, tail_pct = tail(secs)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_job_s": (jobs[0]["seconds"], "s"),
        "job_p50_s": (statistics.median(secs), "s"),
        "job_tail_s": (job_tail, "s"),
        "rows_per_s": (sum(j["rows"] for j in warm) / sum(secs), "rows/s"),
        "read_p50_s": (statistics.median(j["read_s"] for j in warm), "s"),
        "stored_bytes_per_input_byte": (stored_ratio, "ratio"),
        "peak_rss_mb": (peak_rss_mb(spark), "MB"),
    }
    report = {
        "workload": wl.name,
        **{k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "job_fail_ratio": {"value": len(failed) / len(jobs),
                           "unit": "ratio"},
        **{k: {"value": v, "unit": "ratio"} for k, v in quality.items()},
        "job_tail_percentile": tail_pct,
        "job_seconds": [round(j["seconds"], 3) for j in jobs],
        "read_seconds": [round(j["read_s"], 3) for j in jobs],
        "job_kinds": [j["kind"] for j in jobs],
        "warm_jobs": len(warm),
        "rounds": len(rounds), "problems": problems,
        "inputs": wl.properties(),
        "host": {"nproc": nproc, "master": spark.sparkContext.master,
                 "defaultParallelism":
                     spark.sparkContext.defaultParallelism,
                 "spark": spark.version, "seed": args.seed,
                 "python": sys.version.split()[0]},
    }
    if rec is not None:
        metrics, overhead = layer_metrics(jobs, profiles)
        if not all(p["jobs_match"] for p in profiles):
            problems.append("span job counts differ from the DAGScheduler")
        if not profiles:
            problems.append("no traced job")
        report["trace_overhead_s"] = overhead
        out_metrics = metrics
    else:
        out_metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in e2e.items()}
    return {"correct": not problems, "attempted": len(jobs),
            "failed": len(failed), "metrics": out_metrics, "report": report}


def run_one(spark, runner, wl, rnd: Round, unit, rec, profiles) -> dict:
    job = {"rows": unit.rows, "ok": True, "why": "", "raised": False,
           "traced": rec is not None}
    if rec is not None:
        j0, n0 = rec.next_job_id(), len(rec.spans)
        rec.active = True
    t = time.perf_counter()
    try:
        res = runner.run_job_file(spark, str(rnd.job_yaml),
                                  state_root=str(rnd.state))
    except Exception as exc:  # a raising job counts as failed, run goes on
        res = None
        job.update(ok=False, raised=True,
                   why=f"raised {type(exc).__name__}: {exc}"[:300])
    job["seconds"] = time.perf_counter() - t
    if rec is not None:
        rec.active = False
        j1 = rec.next_job_id()
        profile = rec.harvest(rec.spans[n0:])
        layers = profile.layers()
        layers.setdefault("sinks.table_commit", {})["live_files"] = sum(
            live_files(root, branch) for root, branch in rec.tables)
        rec.tables.clear()
        layers["job"] = {"dag_jobs": j1 - j0, **wl.layer_extras(rnd)}
        profiles.append({"layers": layers, "source_bytes": unit.bytes,
                         "seconds": job["seconds"],
                         "jobs_match": profile.jobs() == j1 - j0})
    if res is not None:
        check = wl.check_job(rnd, unit, res)
        if not check.ok:
            job.update(ok=False, why=check.why)
    reads = []
    for _ in range(READ_REPS):
        t = time.perf_counter()
        try:
            check = wl.read(rnd, unit)
        except Exception as exc:  # noqa: BLE001 - reported as a failed job
            check = JobCheck(False, f"read raised {exc}"[:300])
        reads.append(time.perf_counter() - t)
        if not check.ok:
            break
    job["read_s"] = statistics.median(reads)
    if job["ok"] and not check.ok:
        job.update(ok=False, why=check.why)
    return job


def close_round(wl, rnd: Round, jobs: list[dict],
                problems: list[str]) -> None:
    """Run the round's end-state check. A mismatch no job check of the
    round explains fails the round's last job."""
    try:
        check = wl.check_round(rnd)
    except Exception as exc:  # noqa: BLE001 - reported as a failed job
        check = JobCheck(False, f"raised {exc}"[:300])
    if check.ok:
        return
    mine = [j for j in jobs if j["round"] is rnd]
    if all(j["ok"] for j in mine):
        mine[-1].update(ok=False, why=f"round check: {check.why}")
    else:
        problems.append(f"round check: {check.why}")


def live_files(root: str, branch: str) -> int:
    from dativo_ingest_spark.sinks import table_commit

    table = table_commit.FsTable(root)
    return len(table.snapshot(table.current_version(branch)).files)


#: per-layer metrics, reported as ``<layer>.<key>``: (layer, key in the
#: layer aggregate, unit). ``spark`` sums every layer of the job.
LAYER_METRICS = (
    ("sinks.parquet_sink", "executor_cpu_s", "s"),
    ("sinks.parquet_sink", "executor_run_s", "s"),
    ("sinks.parquet_sink", "spill_bytes", "bytes"),
    ("sinks.parquet_sink", "spark_jobs", "count"),
    ("sinks.parquet_sink", "output_files", "count"),
    ("sinks.parquet_sink", "output_bytes", "bytes"),
    ("operators.validation", "wall_s", "s"),
    ("sources.csv_source", "wall_s", "s"),
    ("sources.csv_source", "spark_jobs", "count"),
    ("sources.jsonl_source", "wall_s", "s"),
    ("sources.jsonl_source", "spark_jobs", "count"),
    ("sinks.table_commit", "wall_s", "s"),
    ("sinks.table_commit", "spark_jobs", "count"),
    ("sinks.table_commit", "files_rewritten", "count"),
    ("sinks.table_commit", "bytes_written_per_input_byte", "ratio"),
    ("sinks.table_commit", "live_files", "count"),
    ("operators.dedup", "wall_s", "s"),
    ("operators.dedup", "spark_jobs", "count"),
    ("operators.dedup", "executor_run_s", "s"),
    ("operators.dedup", "shuffle_bytes", "bytes"),
    ("operators.dedup", "index_rows", "count"),
    ("runner", "self_s", "s"),
    ("runner", "spark_jobs", "count"),
    ("runner", "driver_s", "s"),
    ("config", "wall_s", "s"),
    ("operators.incremental", "wall_s", "s"),
    ("operators.incremental", "calls", "count"),
    ("spark", "jobs_per_job", "count"),
    ("spark", "stages_per_job", "count"),
    ("spark", "executor_run_s", "s"),
    ("spark", "shuffle_bytes", "bytes"),
    ("spark", "spill_bytes", "bytes"),
)


def _layer_value(p: dict, layer: str, key: str) -> float:
    layers = p["layers"]
    if layer == "spark":
        if key == "jobs_per_job":
            return layers["job"]["dag_jobs"]
        src = {"stages_per_job": "stages"}.get(key, key)
        return sum(m.get(src, 0) for name, m in layers.items()
                   if name != "job")
    if layer == "operators.dedup" and key == "index_rows":
        return layers["job"].get("index_rows", 0)
    m = layers.get(layer, {})
    if key == "bytes_written_per_input_byte":
        return m.get("bytes_written", 0) / p["source_bytes"]
    return m.get(key, 0)


def layer_metrics(jobs: list[dict], profiles: list[dict]
                  ) -> tuple[dict, float | None]:
    """Median over traced warm jobs of each per-layer metric, and the
    tracing overhead (traced minus untraced warm-job median)."""
    metrics = {}
    for layer, key, unit in LAYER_METRICS:
        vals = [_layer_value(p, layer, key) for p in profiles] or [0]
        metrics[f"{layer}.{key}"] = {"value": statistics.median(vals),
                                     "unit": unit}
    warm = [j for j in jobs if j["kind"] == "warm" and not j["raised"]]
    traced = [j["seconds"] for j in warm if j["traced"]]
    plain = [j["seconds"] for j in warm if not j["traced"]]
    overhead = (statistics.median(traced) - statistics.median(plain)
                if traced and plain else None)
    metrics["trace.overhead_s"] = {"value": overhead or 0.0, "unit": "s"}
    return metrics, overhead


if __name__ == "__main__":
    sys.exit(main())

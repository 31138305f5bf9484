"""Medallion benchmark: drives the batch CLI, the streaming mode and
the text admission gate in-process on local[N], checks every output
against the seeded generator, and prints one JSON result line.

    python3 perfbench/run.py --workload batch_small_files --seed 1 --seconds 1 --trace 0

Run it from the repository root. With ``--trace 0`` the result holds
the end-to-end metrics; with ``--trace 1`` a traced run (spans around
each layer, Spark's local event log) gives the per-layer metrics.
Human-readable lines go before the JSON line; Spark's logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

LAYERS = ["run", "bronze", "silver", "gold", "ack997", "ingest", "gold_stream", "merge",
          "text_admission", "dedup"]
# layer -> names of the (file count, bytes) metrics of the directories it wrote
_WRITTEN = ("files_written", "bytes_written")
OUTPUTS = {"silver": _WRITTEN, "gold": _WRITTEN, "ack997": _WRITTEN,
           "merge": ("state_files", "state_bytes"), "dedup": ("index_files", "index_bytes")}
MERGES = ["summary", "partner", "eligibility", "claim_status", "quality", "kpis", "detail"]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_usage(dirs: list[str]) -> tuple[int, int]:
    """(files, bytes) under ``dirs``, leaving out the hidden ``.crc``
    checksums the local file system writes beside each file."""
    files = size = 0
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                if not n.startswith("."):
                    files += 1
                    size += os.path.getsize(os.path.join(base, n))
    return files, size


def _env(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``, and
    cap the driver heap at 2g in place of the program's 8g default: with
    8g the heap grows until a collection happens, so the peak RSS follows
    GC timing (2.4-4.7 GB over ten cadence_stream seeds), not the work."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYSPARK_PYTHON": sys.executable,
    })


def _start_session(work: str, trace: bool):
    from ai_fabric_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until no child is left."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 60
    while len(procstat.tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)


def _measured(workload, k: int, tracer=None):
    """One run with its tree CPU and peak RSS, then its correctness check."""
    cpu0 = procstat.tree_cpu_s()
    with procstat.PeakRss() as rss:
        r = workload.run(k, tracer=tracer)
    cpu = procstat.tree_cpu_s() - cpu0
    problems = workload.check(r)
    for p in problems:
        print(f"CHECK FAILED run {k}: {p}", file=sys.stderr)
    return r, cpu, rss.peak_mb


def _layer_metrics(tracer, stats, runs) -> dict[str, float]:
    """Per-layer metrics of the traced runs (median over runs)."""
    per_run: list[dict[str, float]] = []
    for run_id, r in runs:
        m: dict[str, float] = {}
        spans = [i for i, s in enumerate(tracer.spans) if s.run == run_id]

        def jobs_in(pred) -> list[int]:
            return [j for i in spans if pred(i) for j in tracer.spans[i].jobs]

        def wall(pred) -> float:
            return sum(tracer.spans[i].wall for i in tracer.outermost(lambda s: s.run == run_id and pred(s)))

        for layer in LAYERS:
            outer = tracer.outermost(lambda s, layer=layer: s.run == run_id and s.layer == layer)
            jobs = jobs_in(lambda i, layer=layer: tracer.in_layer(i, layer))
            m[f"{layer}.wall_s"] = sum(tracer.spans[i].wall for i in outer)
            m[f"{layer}.self_s"] = sum(tracer.self_time(i) for i in outer)
            m[f"{layer}.jobs"] = len(jobs)
            m[f"{layer}.tasks"] = sum(stats[j].tasks for j in jobs)
            m[f"{layer}.task_cpu_s"] = sum(stats[j].cpu_s for j in jobs)
            m[f"{layer}.shuffle_bytes"] = sum(stats[j].shuffle_bytes for j in jobs)
        # the CLI's own jobs: those started outside every layer call
        m["run.jobs"] = len(jobs_in(lambda i: tracer.spans[i].name == "run"))
        landing = sum(stats[j].landing_bytes for j in jobs_in(lambda i: True))
        m["run.landing_read_amplification"] = landing / r.landed_bytes if r.landed_bytes else 0.0
        for name in MERGES:
            m[f"gold_stream.merge_{name}_s"] = wall(lambda s, n=f"gold_stream.merge_{name}": s.name == n)
        for name in ("append", "overwrite", "upsert"):
            m[f"merge.{name}_s"] = wall(lambda s, n=f"merge.{name}": s.name == n)
        m["dedup.sig_store_append_s"] = wall(lambda s: s.name == "dedup.sig_store_append")
        for layer, (files, size) in OUTPUTS.items():
            m[f"{layer}.{files}"], m[f"{layer}.{size}"] = _dir_usage(r.outputs.get(layer, []))
        m["text_admission.admitted"] = r.admitted
        m["text_admission.rejected"] = r.rejected
        per_run.append(m)
    return {k: _median([m[k] for m in per_run]) for k in per_run[0]}


def _patch_layers(tracer) -> None:
    from ai_fabric_etl_spark.operators.merge import ParquetMergeTable
    from ai_fabric_etl_spark.pipeline import bronze, gold, silver
    from ai_fabric_etl_spark.streaming import gold_stream, text_admission
    from ai_fabric_etl_spark.x12 import ack997

    for module, layer, names in [
        (bronze, "bronze", ["read_bronze", "write_bronze"]),
        (silver, "silver", ["parse_to_silver", "write_silver", "silver_with_parsed"]),
        (gold, "gold", ["build_all_marts", "write_marts"]),
        (ack997, "ack997", ["generate_acks", "write_ack_files"]),
        (gold_stream, "gold_stream", [f"merge_{m}_batch" for m in MERGES]),
    ]:
        for fn in names:
            tracer.patch(module, fn, f"{layer}.{fn.removesuffix('_batch')}")
    tracer.patch(text_admission, "sig_store_append", "dedup.sig_store_append")
    for method, name in (("append", "append"), ("overwrite", "overwrite"), ("merge", "upsert")):
        tracer.patch(ParquetMergeTable, method, f"merge.{name}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ai_fabric_etl_spark")):
        print(f"program not found: {ROOT}/ai_fabric_etl_spark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(args, work: str) -> int:
    _env(work)
    trace = bool(args.trace)
    probe = procstat.cpu_probe_s()
    t = time.perf_counter()
    spark = _start_session(work, trace)
    setup = {"session.start_s": time.perf_counter() - t}
    tracer = None
    runs, cpu, rss = [], [], []
    attempted = failed = 0
    try:
        workload = WORKLOADS[args.workload](spark, args.seed, os.path.join(work, "data"))
        t = time.perf_counter()
        workload.prepare()
        setup["session.prepare_s"] = time.perf_counter() - t
        if trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            _patch_layers(tracer)
        start, k = time.perf_counter(), 0
        while k == 0 or time.perf_counter() - start < args.seconds:
            run_id = f"run{k}"
            if tracer:
                tracer.run = run_id
            attempted += workload.BATCHES
            try:
                r, c, m = _measured(workload, k, tracer)
            except Exception:  # noqa: BLE001 - a raising run fails all its batches
                traceback.print_exc()
                failed += workload.BATCHES
            else:
                runs.append((run_id, r))
                cpu.append(c)
                rss.append(m)
                failed += r.failed
            k += 1
    finally:
        if tracer:
            tracer.unpatch()
        _stop_session(spark)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        wanted = json.load(fh)["per_layer" if trace else "end_to_end"]
    results = [r for _, r in runs]
    if trace:
        from spans import read_event_log

        stats = read_event_log(os.path.join(work, "eventlog"), tracer)
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
        # with no successful run every layer reports 0 and the result is incorrect
        metrics = _layer_metrics(tracer, stats, runs) if runs else {m["name"]: 0.0 for m in wanted}
        metrics.update(setup)
        metrics["host.cpu_probe_s"] = probe
        metrics["trace.run_s"] = _median([r.wall_s for r in results])
    else:
        metrics = {
            "setup_s": sum(setup.values()),
            "run_s": _median([r.wall_s for r in results]),
            "batch_latency_s": _median([r.batch_latency_s for r in results]),
            "silver_ready_s": _median([r.silver_ready_s for r in results]),
            "acks_ready_s": _median([r.acks_ready_s for r in results]),
            "cpu_s": _median(cpu),
            "peak_rss_mb": _median(rss),
        }
    failed_ratio = failed / attempted
    for name, value in sorted(metrics.items()):
        print(f"{args.workload} {name} = {value:.6g}")
    print(f"{args.workload} failed_ratio = {failed_ratio:.6g} ({failed}/{attempted}); "
          f"host.cpu_probe_s = {probe:.4g}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. Generates the inputs for ``--seed``,
starts the engine's Spark session on ``local[$SPARK_GRAFT_CPUS]`` (all
cores when unset), warms the workload up while checking its outputs,
measures whole passes until ``--seconds`` have elapsed, and prints one
JSON object as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Every time is wall time less the host's CPU steal (``ledger.granted``),
so that a neighbour taking the shared host's cores does not read as a
slower program. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``;
``--trace 1`` turns on the event log, job groups and a streaming
listener and reports the per-layer metrics instead. The line before it
carries provenance (seed, cores, versions, input hashes) and detail
figures such as per-op-kind latency quantiles with their sample counts.

All scratch lives under ``.perfbench_work/`` in the repository root and
is removed at exit. ``--smoke`` runs every workload once on tiny inputs,
traced and untraced, and checks that every metric named in
``BENCHMARK.json`` is printed with its unit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "equity_volatility_lakehouse_platform_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
STAGE_LAYERS = ("plans.silver", "plans.features", "plans.mlprep_plans")
QUERY_LAYERS = ("plans.relational", "plans.windows", "plans.dedup", "plans.similarity", "plans.text")
ACID_OPS = ("append", "merge", "delete_update", "compact", "read")


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or len(os.sched_getaffinity(0))


def _capped(xs: list[float], cap: float) -> list[float]:
    """A failed op (``inf``) counts beyond every sample: it reads as
    ``cap``, the whole measuring window, which no op can exceed."""
    return [cap if math.isinf(x) else x for x in xs]


def _quantile(xs: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a Beta-weighted
    mean of all order statistics. Op latencies are a mixture of a few
    op kinds with gaps between them, so the plain sample median jumps
    with whichever kind lands on the middle rank; this estimate moves
    smoothly."""
    if not xs:
        return 0.0
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    t = np.linspace(0.0, 1.0, 20_001)
    mid = (t[1:] + t[:-1]) / 2
    log_pdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(weights @ x)


def _start_spark(work: str, cpus: int, trace: bool):
    from equity_volatility_lakehouse_platform_spark.session import get_spark

    for sub in ("local", "tmp", "scratch", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["EVLP_SCRATCH_DIR"] = os.path.join(work, "scratch")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Without this the launcher JVM that spark-submit starts writes /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # -Xms pins the heap at its maximum: otherwise the JVM's resident size
    # depends on when G1 happens to grow the heap, and peak_rss_mb spread
    # by a third between runs of the same code.
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Dlog4j2.level=error -Xms2g -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _end_to_end(out, setup_s: float, rss_mb: float) -> dict[str, float]:
    cap = out.measure_s
    ops = [x for k, xs in out.samples.items() if k != "pass" for x in xs]
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "pass_s": statistics.median(_capped(out.samples["pass"], cap)),
        "op_p50_ms": 1e3 * _quantile(_capped(ops, cap), 0.5),
    }


def _per_layer(out, spans, costs, cpus: int, listener) -> dict[str, float]:
    """Per-layer metrics of the measured phase, per pass unless noted."""
    from perfbench.ledger import JobCost

    measured = [s for s in spans if s.phase.startswith("measure")]
    passes = max(len(out.samples["pass"]), 1)
    m: dict[str, float] = {}

    for layer in STAGE_LAYERS:
        per_pass: dict[int, float] = {}
        cost = JobCost()
        for s in measured:
            if s.layer == layer:
                per_pass[s.pass_no] = per_pass.get(s.pass_no, 0.0) + s.seconds
                cost.add(costs.get(s.sid, JobCost()))
        m[f"{layer}.wall_s"] = statistics.median(per_pass.values()) if per_pass else 0.0
        m[f"{layer}.cpu_s"] = cost.cpu_s / passes
        m[f"{layer}.gc_s"] = cost.gc_s / passes
        m[f"{layer}.tasks"] = cost.tasks / passes
        m[f"{layer}.shuffle_mb"] = cost.shuffle_mb / passes
        m[f"{layer}.spill_mb"] = cost.spill_mb / passes

    # Analyst latency per plan module: builder call to completion.
    for layer in QUERY_LAYERS:
        per_query: dict[tuple, float] = {}
        for s in measured:
            if s.layer == layer:
                per_query[(s.pass_no, s.name)] = per_query.get((s.pass_no, s.name), 0.0) + s.seconds
        m[f"{layer}.p50_ms"] = 1e3 * statistics.median(per_query.values()) if per_query else 0.0

    builds = [s for s in measured if s.phase.endswith(":build")]
    m["plans.build_ms"] = 1e3 * statistics.median([s.seconds for s in builds]) if builds else 0.0
    m["plans.build_jobs"] = float(sum(costs[s.sid].jobs for s in builds if s.sid in costs))

    total = JobCost()
    for s in measured:
        total.add(costs.get(s.sid, JobCost()))
    wall = sum(s.seconds for s in measured)
    m["sources.readers.input_mb"] = total.input_mb / passes
    m["sources.readers.scan_tasks"] = total.scan_tasks / passes
    m["exec.cpu_util"] = total.cpu_s / (wall * cpus) if wall else 0.0

    acid = [s for s in measured if s.layer == "sources.acid"]
    for op in ACID_OPS:
        xs = [s.seconds for s in acid if s.name == op]
        m[f"sources.acid.{op}_ms"] = 1e3 * statistics.median(xs) if xs else 0.0
    for k in ("files_live", "versions", "bytes_written_mb", "write_amp"):
        m[f"sources.acid.{k}"] = float(out.extra.get(k, 0.0))

    stream = [s for s in measured if s.layer == "streaming.events_stream"]
    batches = [ms for s in stream for ms in listener.batch_ms.get(s.sid, [])]
    m["streaming.events_stream.apply_s"] = statistics.median([s.seconds for s in stream]) if stream else 0.0
    m["streaming.events_stream.batch_ms"] = statistics.median(batches) if batches else 0.0
    m["streaming.events_stream.batches"] = len(batches) / len(stream) if stream else 0.0
    return m


def _steal_share(spans, setup_steal: float, setup_busy: float) -> dict[str, float]:
    """Share of the asked-for vCPU time the host withheld, in set-up and
    in the measured ops."""
    measured = [s for s in spans if s.phase.startswith("measure")]
    steal = sum(s.steal for s in measured)
    busy = sum(s.busy for s in measured)
    return {
        "setup": setup_steal / (setup_steal + setup_busy) if setup_busy else 0.0,
        "measure": steal / (steal + busy) if busy else 0.0,
        "measure_wall_s": sum(s.t1 - s.t0 for s in measured),
    }


def _detail(out) -> dict:
    """Figures the result line has no room for: per-kind latency
    quantiles with their sample counts, and bronze space figures."""
    cap = out.measure_s
    d = {
        "measure_s": out.measure_s,
        "cpu_s_per_pass": out.cpu_s / len(out.samples["pass"]),
        "ops_failed_frac": out.failed / max(out.attempted, 1),
    }
    for kind, xs in out.samples.items():
        xs = _capped(xs, cap)
        d[kind] = {"n": len(xs), "p50_ms": 1e3 * _quantile(xs, 0.5)}
        # The highest of these percentiles that leaves >= 10 samples beyond it.
        tail = next((q for q in (0.99, 0.9, 0.75) if len(xs) * (1 - q) >= 10), None)
        if tail:
            d[kind][f"p{round(tail * 100)}_ms"] = 1e3 * _quantile(xs, tail)
    d.update(out.extra)
    return d


def run(args) -> int:
    t_start = _process_age_s()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # not perfbench/, whose module names could shadow others
    from perfbench import datagen
    from perfbench.ledger import (
        AttributionError, Tracer, granted, host_cpu_s, parse_event_log, peak_rss_mb,
    )
    from perfbench.workloads import WORKLOADS, Context, Outcome

    busy0, steal0 = host_cpu_s()

    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    spark = None
    try:
        from equity_volatility_lakehouse_platform_spark.plans import (
            all_oracles, all_queries, load_all,
        )

        load_all()
        phases = {"imports_s": _process_age_s() - t_start}
        scale = datagen.TINY if args.tiny else datagen.FULL
        input_dir = os.path.join(work, "inputs")
        datagen.generate(input_dir, args.seed, scale)
        datagen.generate(os.path.join(work, "inputs_again"), args.seed, scale)
        hashes = datagen.file_hashes(input_dir)
        if hashes != datagen.file_hashes(os.path.join(work, "inputs_again")):
            print("perfbench: inputs are not deterministic for one seed", file=sys.stderr)
            return 3
        shutil.rmtree(os.path.join(work, "inputs_again"))

        phases["inputs_s"] = _process_age_s() - t_start - sum(phases.values())
        cpus = _cpus()
        spark = _start_spark(work, cpus, bool(args.trace))
        phases["session_s"] = _process_age_s() - t_start - sum(phases.values())
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(
            spark=spark, tracer=tracer, input_dir=input_dir, work_dir=work,
            seed=args.seed, seconds=args.seconds, tiny=args.tiny,
            queries=all_queries(), oracles=all_oracles(),
        )
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        workload = WORKLOADS[args.workload]()
        out = Outcome()
        workload.warm_and_check(ctx, out)
        setup_wall_s = _process_age_s() - t_start
        phases["warm_and_check_s"] = setup_wall_s - sum(phases.values())
        busy1, steal1 = host_cpu_s()
        setup_s = granted(setup_wall_s, busy1 - busy0, steal1 - steal0)
        workload.measure(ctx, out)
        rss = peak_rss_mb(os.getpid())
        e2e = _end_to_end(out, setup_s, rss)
        provenance = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "tiny": args.tiny, "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "local_cpus": cpus,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "inputs_sha256": hashes,
        }
        detail = _detail(out)
        detail["setup_phases"] = phases
        detail["setup_wall_s"] = setup_wall_s
        detail["steal_share"] = _steal_share(tracer.spans, steal1 - steal0, busy1 - busy0)
        if args.trace:
            tracer.drain()
            _stop_spark(spark)
            spark = None
            log_dir = os.path.join(work, "eventlog")
            try:
                costs = parse_event_log(log_dir, tracer.spans)
            except AttributionError as exc:
                print(f"perfbench: attribution guard failed: {exc}", file=sys.stderr)
                return 4
            finally:
                shutil.rmtree(log_dir, ignore_errors=True)
            metrics = _per_layer(out, tracer.spans, costs, cpus, tracer.listener)
            detail["build_jobs_by_query"] = {
                s.name: costs[s.sid].jobs
                for s in tracer.spans
                if s.phase.endswith(":build") and costs.get(s.sid) and costs[s.sid].jobs
            }
            detail["traced_end_to_end"] = e2e
            detail["unattributed_jobs"] = 0
            units = _units("per_layer")
        else:
            metrics = e2e
            units = _units("end_to_end")
        correct = not out.mismatches
        for msg in out.mismatches:
            print(f"perfbench: {msg}", file=sys.stderr)
        print(json.dumps({"provenance": provenance, "detail": detail}))
        print(json.dumps({
            "correct": correct,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def smoke() -> int:
    """Every workload once on tiny inputs, untraced and traced; checks
    that each run is correct and prints every metric with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bad = 0
    for w in bench["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            try:
                res = json.loads(proc.stdout.strip().splitlines()[-1])
                want = {m["name"]: m["unit"] for m in bench[section]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                ok = proc.returncode == 0 and res["correct"] and got == want and all(
                    isinstance(v["value"], (int, float)) for v in res["metrics"].values()
                )
            except (IndexError, ValueError, KeyError):
                ok = False
            print(f"{'ok  ' if ok else 'FAIL'} {w['name']} trace={trace}")
            if not ok:
                bad += 1
                print(proc.stderr[-3000:], file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    # A terminated run still stops its JVM and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs, one pass")
    p.add_argument("--smoke", action="store_true", help="run the smoke test")
    args = p.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

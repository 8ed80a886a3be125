"""Benchmark entry point.

    python3 perfbench/run.py --workload reads_interactive --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Generates its tables under
``perfbench/.work/data`` (once per checkout), starts one Spark session on
``local[$SPARK_GRAFT_CPUS]`` (default: all cores), sets the workload up,
then drives it with one client for ``--seconds // round_s`` whole rounds
(``round_s`` is a constant of each workload; see README.md). The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The end-to-end metrics are CPU seconds of
the process tree, per call and for set-up; the line before the result
carries the run metadata, wall-clock figures included. Any wrong
result, and on a traced run a dominant layer other than the workload's
stated one, makes the exit code non-zero. All scratch output stays under
``perfbench/.work``; a traced run also writes its spans to
``perfbench/.work/traces``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: data scale (fraction of TPC-H SF1 row counts)
SF = 0.01

#: the layer group each workload's time should be dominated by
DOMINANT = {
    "reads_interactive": "build+plan",
    "corpus_pipelines": "exec+py4j",
    "maintenance_writes": "mor+writer+materialize",
}


def _proc_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _tree_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and every
    process below it (the JVM and its Python workers), reaped children
    included. The kernel books time the hypervisor gives this guest's CPUs
    to other guests as steal, and time spent waiting for a CPU as no time
    at all, so this figure grows less with the host's load than wall time
    does; it still follows the host's CPU speed."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        # after the name: state, ppid, ... utime, stime, cutime, cstime
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
        kids.setdefault(int(fields[1]), []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _configure_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the package write inside the
    run directory, and retain every job and stage for the trace."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "local"), os.path.join(run_dir, "scratch")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedJobs=1000000 --conf spark.ui.retainedStages=1000000 "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.hadoop.hadoop.tmp.dir={tmp} pyspark-shell"
    )


def _loop(wl, rng, rounds: int, tr, records: list, trace: bool = False) -> float:
    """Run ``rounds`` whole rounds and return their wall time. The round
    count is fixed before the run starts, so every run makes the same
    calls whatever the load on the machine. Each record holds the call's
    name, wall time, check result, whether it was traced, and the CPU
    seconds the process tree used during it. With ``trace``, tracing is on
    for every other call of each member, the choice flipping each round,
    so traced and untraced calls of a member alternate."""
    t_start = time.perf_counter()
    parity: dict[str, int] = {}
    for r in range(rounds):
        for call in wl.round(rng):
            if call.prepare:
                call.prepare()
            traced = trace and (parity.setdefault(call.name, len(parity)) + r) % 2 == 1
            c0 = _tree_cpu_s()
            t0 = time.perf_counter()
            try:
                tr.active = traced
                with tr.call(len(records), call.name):
                    out = call.run(tr)
                tr.active = False
                dt = time.perf_counter() - t0
                cpu = _tree_cpu_s() - c0
                ok = bool(call.check(out))
            except Exception:  # noqa: BLE001 — a raising call is a failed call
                tr.active = False
                dt = time.perf_counter() - t0
                cpu = _tree_cpu_s() - c0
                ok = False
                traceback.print_exc(file=sys.stderr)
            if not ok:
                print(f"# FAILED call {call.name}", file=sys.stderr)
            records.append((call.name, dt, ok, traced, cpu))
    return time.perf_counter() - t_start


def _overhead(records: list) -> tuple[float, float, float]:
    """Untraced and traced calls per second of call time, and the tracing
    overhead: the geometric mean over members of the traced over the
    untraced median latency, minus one."""
    import numpy as np

    by_flag: list[dict] = [{}, {}]
    for name, dt, _, traced, _ in records:
        by_flag[traced].setdefault(name, []).append(dt)
    cps = [sum(map(len, d.values())) / max(sum(map(sum, d.values())), 1e-9) for d in by_flag]
    ratios = [np.median(by_flag[1][g]) / np.median(by_flag[0][g]) for g in by_flag[0] if g in by_flag[1]]
    return cps[0], cps[1], (float(np.exp(np.mean(np.log(ratios)))) - 1.0 if ratios else 0.0)


def _rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the JVM it talks to."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                mb += int(line.split()[1]) / 1024.0
    return mb


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end.
    The JVM exits when its stdin closes; py4j's own ``shutdown`` is not
    called because it can block on callback-server threads."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DOMINANT))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the data scale (smoke test)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "linqonsteroids_spark")):
        print("perfbench: run from a checkout that holds linqonsteroids_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import numpy as np

    import datagen
    import workloads
    from tracing import Tracer

    sf = args.sf if args.sf is not None else SF
    data_dir = datagen.ensure(os.path.join(WORK, "data", f"sf{sf:g}"), sf)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    _configure_env(run_dir)
    rng = np.random.default_rng(args.seed)
    if os.environ.get("PERFBENCH_CORRUPT") == "1":
        # test hook: gate results lose a row (or gain a column) before
        # they are checked, so every checked gate call must fail
        check_gate = workloads.GateWorkload.check_gate
        workloads.GateWorkload.check_gate = lambda self, g, pdf: check_gate(
            self, g, pdf.iloc[1:] if len(pdf) else pdf.assign(corrupt=1))

    steal0 = _proc_stat()
    t0 = time.perf_counter()
    cpu0 = _tree_cpu_s()
    from linqonsteroids_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        # Python-worker warm-up, as the package's own bench does
        spark.range(8).repartition(4).mapInPandas(lambda it: it, schema="id long").count()
        session_s = time.perf_counter() - t0
        tr = Tracer(spark)
        wl = workloads.make(args.workload, spark, data_dir, run_dir)
        wl.setup(tr)
        setup_wall_s = time.perf_counter() - t0
        setup_cpu_s = _tree_cpu_s() - cpu0
        oracle_bad = wl.oracle_mismatches()
        for g in oracle_bad:
            print(f"# FAILED oracle {g}: result differs from DuckDB", file=sys.stderr)
        for g in wl.warm_failed:
            print(f"# FAILED warm-up call {g}", file=sys.stderr)

        records: list = []
        rounds = max(2 if args.trace else 1, int(args.seconds // wl.round_s))
        if args.trace:
            tr.install()
            try:
                elapsed = _loop(wl, rng, rounds, tr, records, trace=True)
            finally:
                tr.uninstall()
            trace = tr.report(sum(r[3] for r in records), len(records))
        else:
            elapsed = _loop(wl, rng, rounds, tr, records)
        storage_mb = _storage_mb(spark)
        rss_mb = _rss_mb(spark)
        fin = wl.finish(space_amp=bool(args.trace))
        steal1 = _proc_stat()
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    lat, cpu = [r[1] for r in records], [r[4] for r in records]
    failed = sum(not r[2] for r in records) + len(oracle_bad) + len(wl.warm_failed) + fin["failed"]
    attempted = len(records) + len(wl.oracles) + wl.warm_calls + 1
    p50, p90 = (float(x) for x in np.percentile(lat, [50, 90]))
    per_gate: dict[str, dict] = {}
    for name, dt, ok, _, c in records:
        g = per_gate.setdefault(name, {"calls": 0, "failed": 0, "lat_s": [], "cpu_s": []})
        g["calls"] += 1
        g["failed"] += not ok
        g["lat_s"].append(round(dt, 4))
        g["cpu_s"].append(round(c, 2))
    d_steal, d_total = steal1[0] - steal0[0], steal1[1] - steal0[1]
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "sf": sf, "nproc": len(os.sched_getaffinity(0)), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "steal_share": d_steal / d_total if d_total else 0.0,
        "storage_mb_end": storage_mb, "peak_rss_mb": rss_mb,
        "rounds": rounds, "measured_s": elapsed, "calls": len(records),
        "call_p50_s": p50, "call_p90_s": p90, "calls_above_p90": sum(x > p90 for x in lat),
        "calls_per_s": len(records) / elapsed, "setup_wall_s": setup_wall_s, "setup_cpu_s": setup_cpu_s,
        "oracle_checked": sorted(wl.oracles), "oracle_failed": oracle_bad,
        "session_s": session_s, "first_call_s": wl.first_call_s, "per_gate": per_gate,
    }

    ok = failed == 0
    if args.trace:
        untraced_cps, traced_cps, overhead = _overhead(records)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in trace["metrics"].items()}
        metrics["storage.blocks_mb"] = {"value": storage_mb, "unit": "MB"}
        metrics["mor.space_amp"] = {"value": fin.get("space_amp", 0.0), "unit": "ratio"}
        metrics["failed_share"] = {"value": failed / attempted, "unit": "ratio"}
        metrics["trace.untraced_calls_per_s"] = {"value": untraced_cps, "unit": "1/s"}
        metrics["trace.traced_calls_per_s"] = {"value": traced_cps, "unit": "1/s"}
        metrics["trace.overhead"] = {"value": overhead, "unit": "ratio"}
        groups = trace["group_shares"]
        dominant = max(groups, key=groups.get)
        meta.update(group_shares=groups, dominant=dominant, expected_dominant=DOMINANT[args.workload],
                    layer_self_s=trace["layer_self_s"], traced_per_gate=trace["per_gate"])
        print(f"# layer self-time shares: {json.dumps(groups)}; dominant {dominant}", file=sys.stderr)
        if dominant != DOMINANT[args.workload]:
            print(f"# FAILED traffic check: {args.workload} should be dominated by "
                  f"{DOMINANT[args.workload]}, measured {dominant}", file=sys.stderr)
            ok = False
        out_dir = os.path.join(WORK, "traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"meta": meta, "metrics": metrics, "spans": trace["spans"]}, f)
    else:
        metrics = {
            "cpu_s_per_call": {"value": sum(cpu) / len(cpu), "unit": "s"},
            "setup_s": {"value": setup_cpu_s, "unit": "s"},
        }
    print(json.dumps({"meta": meta}))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    try:
        code = main()
    except Exception:  # noqa: BLE001 — exit below, without waiting on py4j threads
        traceback.print_exc()
        code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    # py4j callback-server threads can outlive the JVM; do not wait on them
    os._exit(code)

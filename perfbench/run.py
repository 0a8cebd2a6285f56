#!/usr/bin/env python3
"""Extraction-first benchmark of subgraph_extractor_spark.

Usage (from any directory)::

    python3 perfbench/run.py --workload extraction --seed 1 --seconds 22 --trace 0

Runs one workload (see ``workloads.py``) in this process on
``local[N]``, N = min(4, nproc), through the library's public entry
points.  Set-up (Spark session start, input generation from the seed,
the pre-seeded dataset state and the workload's warm-up operations) is
timed as ``setup_s``; then operations run back to back (a closed loop
with one client) in whole rounds of the workload's operation mix, each
operation checked against the generator's own arrays.  The number of
rounds is fixed by ``--seconds`` and the workload's nominal round time,
so every run measures the same operation sequence, however fast it is.

With ``--trace 0`` the last stdout line is a JSON object with every
end-to-end metric; with ``--trace 1`` it holds the per-layer metrics of
a traced run (every other operation traced, offset by one each round,
so the tracing overhead is measured in the same run and JVM state), and the full trace
is written to ``.perfbench_out/trace-<workload>-seed<seed>.json``.

All inputs, outputs and Spark scratch files live under
``.perfbench_work/`` at the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s"),
    ("op_s_p50", "s"),
    ("op_s_tail", "s"),
    ("ops_per_s", "1/s"),
    ("rows_per_s", "1/s"),
    ("space_amp", "ratio"),
    ("bytes_per_row", "B"),
    ("peak_rss_mb", "MB"),
]


# Measured rounds at least, however short --seconds is: op_s_tail is a
# median over rounds, and a traced run balances its traced and untraced
# operations over two rounds.
MIN_ROUNDS = 2


def measured_rounds(seconds: float, round_s: float) -> int:
    """Rounds that take about ``seconds`` at the workload's nominal round
    time (``ROUND_S``, measured on a 4-vCPU VM).  The count does not
    depend on how fast a run goes: the operations get faster as the JVM
    warms, so a run that stopped on the clock would add its fastest
    round only when it was already fast, and its medians would follow
    the number of rounds it reached."""
    return max(MIN_ROUNDS, round(seconds / round_s))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 first)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree() -> set[int]:
    """This process and all its descendants: the JVM and the Python
    workers it forks."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (fields := _stat(int(pid))) is not None:
            parent[int(pid)] = int(fields[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def tree_peak_rss() -> dict[int, tuple[str, int]]:
    """Peak resident set size (VmHWM, bytes) and command name of each
    process of the tree."""
    peaks = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            peaks[pid] = (fields["Name"].strip(), int(fields["VmHWM"].split()[0]) * 1024)
    return peaks


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, summed over
    CPUs since boot (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the library from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # The session's heap cap (default 8g).  The inputs need far less, and
    # under the default the JVM's peak RSS follows its heap-growth
    # heuristics more than the program's working set.
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} pyspark-shell"
    )
    # No /tmp/hsperfdata_<user>/<pid> file from the launcher or driver JVM.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.chdir(work)  # spark-warehouse/, derby.log and friends land here
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, work: str) -> dict:
    import layers
    from spans import Tracer
    from workloads import WORKLOADS, NoProbe

    t_setup = time.perf_counter()
    from subgraph_extractor_spark.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        for i in wl.WARMUP:
            wl.check(i, wl.op(i))
        r = len(wl.ROUND)
        setup_s = time.perf_counter() - t_setup

        tracer = Tracer(spark) if args.trace else None
        ops = []
        attempted = failed = 0
        n_rounds = measured_rounds(args.seconds, wl.ROUND_S)
        if tracer is not None:
            # An even number, so the traced and the untraced operations
            # hold the same mix (the trace alternates its offset by round).
            n_rounds += n_rounds % 2
        n_ops = n_rounds * r
        i = 0
        while i < n_ops and (i % r or wl.has_round()):
            rnd, pos = divmod(i, r)
            # Every other operation is traced, offset by one each round, so
            # over two rounds the traced and the untraced operations hold
            # the same mix and interleave in time (the JVM keeps warming).
            traced = tracer is not None and (pos + rnd) % 2 == 0
            if tracer is not None:
                tracer.unpatch()
                if traced:
                    layers.install(tracer)
                wl.probe = tracer if traced else NoProbe()
            attempted += 1
            kind = wl.kind(i)
            try:
                if traced:
                    with tracer.operation(i, kind):
                        out = wl.op(i)
                    wall = tracer.records[-1].wall
                    with tracer.side(i):
                        result = wl.check(i, out)
                        for key in ("rows_written", "pairs_out"):
                            if key in result:
                                tracer.count(key, result[key])
                else:
                    t = time.perf_counter()
                    out = wl.op(i)
                    wall = time.perf_counter() - t
                    result = wl.check(i, out)
                ops.append(
                    {"round": rnd, "kind": kind, "wall": wall, "result": result,
                     "traced": traced}
                )
            except Exception:  # a failed operation or check; keep measuring
                failed += 1
                traceback.print_exc()
            i += 1
        # Before the read-back, whose Python data-source workers are not
        # part of the measured operations.
        peak_rss = tree_peak_rss()
        # The read-back queries of the committed export are untimed,
        # checked operations of traced runs, which report their layer
        # metrics.  Untraced runs skip them and their cold start of
        # several seconds, which no end-to-end metric includes.
        if tracer is not None:
            tracer.unpatch()
            wl.probe = tracer
            try:
                with tracer.side(tracer.records[-1].op):
                    attempted += wl.finish()
            except Exception:
                attempted += 1
                failed += 1
                traceback.print_exc()
        shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        stop_spark(spark)

    return {
        "ops": ops,
        "round_size": r,
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "get_spark_s": get_spark_s,
        "peak_rss": peak_rss,
        "tracer": tracer,
        "cores": cores,
        "shuffle_partitions": shuffle_partitions,
    }


def end_to_end(m: dict) -> dict:
    ops = m["ops"]
    walls = [o["wall"] for o in ops]
    busy = sum(walls)
    rounds = defaultdict(list)
    for o in ops:
        rounds[o["round"]].append(o["wall"])
    # The table state after the first round.
    state = [o["result"] for o in ops if o["round"] == 0 and "referenced_bytes" in o["result"]]
    if state:  # extraction: the incremental table directory
        space_amp = state[-1]["disk_bytes"] / state[-1]["referenced_bytes"]
        bytes_per_row = state[-1]["referenced_bytes"] / state[-1]["committed"]
    else:  # operators read their generated inputs; no table directory
        space_amp = 1.0
        bytes_per_row = sum(o["result"]["input_bytes"] for o in ops) / sum(
            o["result"]["rows"] for o in ops
        )
    return {
        "setup_s": m["setup_s"],
        "op_s_p50": statistics.median(walls),
        "op_s_tail": statistics.median(max(w) for w in rounds.values()),
        "ops_per_s": len(walls) / busy,
        "rows_per_s": sum(o["result"]["rows"] for o in ops) / busy,
        "space_amp": space_amp,
        "bytes_per_row": bytes_per_row,
        "peak_rss_mb": sum(b for _, b in m["peak_rss"].values()) / 1e6,
    }


def untraced_walls(m: dict) -> list[float]:
    return [o["wall"] for o in m["ops"] if not o["traced"]]


def write_trace(args, m: dict, metrics: dict, conditions: dict) -> None:
    """Persist the traced run and print its self-time table, with the
    part of the operation wall time no span covers on its own line."""
    import layers

    tracer = m["tracer"]
    ops = tracer.records
    n = len(ops)
    ids = {r.op for r in ops}
    self_times = {k: v / n for k, v in tracer.self_times(ids).items()}
    check_times = {k: v / n for k, v in tracer.self_times(ids, side=True).items()}
    wall = sum(r.wall for r in ops) / n
    print(f"# traced ops: {n}; mean self time per op by span:")
    for name, v in sorted(self_times.items(), key=lambda kv: -kv[1]):
        if name != "op":
            print(f"#   {name:<34} {v:.6f} s")
    print(f"#   {'(uncovered by any layer span)':<34} {self_times.get('op', 0.0):.6f} s")
    print(f"#   {'sum of self times':<34} {sum(self_times.values()):.6f} s")
    print(f"#   {'operation wall time':<34} {wall:.6f} s")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "conditions": conditions,
        "per_layer": metrics,
        "per_layer_units": dict(layers.PER_LAYER),
        "op_wall_s_mean": wall,
        "self_time_s_per_op": self_times,
        "uncovered_s_per_op": self_times.get("op", 0.0),
        "check_self_time_s_per_op": check_times,
        "untraced_op_walls": untraced_walls(m),
        "ops": [
            {
                "op": r.op,
                "kind": r.kind,
                "wall": r.wall,
                "jobs": r.jobs,
                "stages": r.stages,
                "shuffle_bytes": r.shuffle_bytes,
                "counts": dict(r.counts),
                "sql_executions": [e.description for e in r.execs],
            }
            for r in ops
        ],
        "spans": tracer.dump(),
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"# trace written to {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "subgraph_extractor_spark", "__init__.py")):
        print(
            "perfbench: no subgraph_extractor_spark package next to perfbench/",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    load_start = os.getloadavg()
    steal_start = cpu_steal_s()
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    try:
        prepare_env(work)
        m = measure(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    if not m["ops"]:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    if args.trace and not (m["tracer"] and m["tracer"].records):
        print("perfbench: no traced operation completed", file=sys.stderr)
        return 1
    conditions = {
        "nproc": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "master": f"local[{m['cores']}]",
        "shuffle_partitions": m["shuffle_partitions"],
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "cpu_steal_s": round(cpu_steal_s() - steal_start, 2),
    }
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print("# conditions: " + json.dumps(conditions))
    e2e = end_to_end(m)
    print("# peak RSS by process (MB): " + ", ".join(
        f"{name}[{pid}] {b / 1e6:.0f}" for pid, (name, b) in sorted(m["peak_rss"].items())
    ))
    r, n_rounds = m["round_size"], m["ops"][-1]["round"] + 1
    print("# op walls (s), one round a line:")
    for k in range(n_rounds):
        print("#   " + " ".join(
            f"{o['kind']}={o['wall']:.3f}" for o in m["ops"] if o["round"] == k
        ))
    print(
        f"# ops: attempted={m['attempted']} failed={m['failed']} "
        f"failed_frac={m['failed'] / m['attempted']:.4f}; op_s_tail is the "
        f"median over {n_rounds} rounds of the slowest of {r} operations "
        f"(about p{100 * (r - 0.5) / r:.0f})"
    )
    for kind in dict.fromkeys(o["kind"] for o in m["ops"]):
        ws = [o["wall"] for o in m["ops"] if o["kind"] == kind]
        print(f"# {kind}: {len(ws)} ops, op_s p50 {statistics.median(ws):.4f}, "
              f"min {min(ws):.4f}, max {max(ws):.4f}")
    if args.trace:
        import layers

        metrics = layers.layer_metrics(m["tracer"], untraced_walls(m))
        metrics["session.get_spark_s"] = m["get_spark_s"]
        write_trace(args, m, metrics, conditions)
        units = dict(layers.PER_LAYER)
    else:
        metrics = e2e
        units = dict(END_TO_END)
    for name, value in metrics.items():
        print(f"{name:<50} {value:.6g} {units[name]}")
    print(
        json.dumps(
            {
                "correct": m["failed"] == 0,
                "attempted": m["attempted"],
                "failed": m["failed"],
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

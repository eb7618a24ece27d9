"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer ones.
The line before it records the host (CPU steal, load) and the per-operation
times, job and task counts; the same record is appended to
perfbench/.work/runs.jsonl.

Everything the run writes (inputs, graph outputs, Spark scratch, the event
log) lives under perfbench/.work/<workload>-<pid>/ and is deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("kg_build", "kg_ingest")
GUARD_WAIT_S = 60


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def wait_for_quiet_host(ledger) -> None:
    """Refuse to time next to another Spark JVM or pytest run: wait up to
    GUARD_WAIT_S for them to end, then exit with code 3."""
    deadline = time.monotonic() + GUARD_WAIT_S
    while True:
        others = ledger.competing_processes()
        if not others:
            return
        if time.monotonic() > deadline:
            print("refusing to time: other Spark or pytest processes run:", file=sys.stderr)
            for o in others:
                print("  " + o, file=sys.stderr)
            sys.exit(3)
        time.sleep(2)


def remove_dead_runs(work_root: str) -> None:
    """Delete run directories left by runs whose process no longer exists."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import aperag_spark  # noqa: F401
        import tests.reference_port  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.abspath(aperag_spark.__file__)) != os.path.join(ROOT, "aperag_spark"):
        print(f"aperag_spark was imported from outside {ROOT}", file=sys.stderr)
        return 2
    from perfbench import kg, ledger

    wait_for_quiet_host(ledger)
    work_root = os.path.join(ROOT, "perfbench", ".work")
    remove_dead_runs(work_root)
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Spark scratch and temp files inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    cpu0, load0 = ledger.cpu_times(), ledger.loadavg()
    t0 = time.time()
    try:
        res = kg.WORKLOADS[args.workload](work, args.seed, args.seconds, bool(args.trace))
    finally:
        kg.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": round(time.time() - t0, 3),
        "steal": round(ledger.steal_share(cpu0, ledger.cpu_times()), 4),
        "loadavg_start": load0,
        "loadavg_end": ledger.loadavg(),
        "ops": res["ops"],
        "problems": res["problems"][:20],
        "metrics": res["metrics"],
        "per_layer": res.get("per_layer"),
    }
    with open(os.path.join(work_root, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    for p in res["problems"][:20]:
        print("check failed: " + p, file=sys.stderr)
    if args.trace:
        units, values = kg.per_layer_units(), res["per_layer"]
    else:
        units, values = kg.END_TO_END_UNITS, res["metrics"]
    print(json.dumps({"run": record}, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0 and not res["problems"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

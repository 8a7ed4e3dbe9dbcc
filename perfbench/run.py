"""Benchmark of the CDC engine: one seeded workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans recorded around calls into each module from
``perfbench/trace.py``). Human-readable lines come first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--workload all`` runs every workload in turn
(one JVM at a time) and ``--compare-trace`` runs one workload untraced and
traced and prints the tracing overhead per end-to-end metric.

Exits non-zero without printing a result when the engine package cannot be
imported (e.g. a directory holding only the benchmark).

The process started by the command only supervises: it runs the benchmark
in a child process, adopts every process the child leaves behind (the Spark
JVM, Python workers), and kills and reaps them before it exits, on every
path out, so no process outlives a run. A child that runs past
``DEADLINE_S`` per workload run is killed and the run fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import E2E, WORKLOADS, Run  # noqa: E402

DEADLINE_S = 170.0
CHILD_ENV = "PERFBENCH_CHILD"  # set in the supervised child (and inherited by its children)
PR_SET_CHILD_SUBREAPER = 36


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def _reap_all() -> None:
    """Kill and reap every child until none is left. As a subreaper this
    process inherits the orphans of each one it kills, so the loop reaches
    the whole tree."""
    while True:
        for pid in _children():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def supervise(argv: list[str], deadline_s: float) -> int:
    """Run this script as a child with ``argv``; return its exit code after
    every process under it has ended."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # without it, only direct children are reaped

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    child = None
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                                 env={**os.environ, CHILD_ENV: "1"})
        try:
            return child.wait(deadline_s)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {deadline_s:.0f}s; killed", file=sys.stderr)
            return 1
    finally:
        _reap_all()
        if child is not None:  # a killed child leaves its scratch behind
            work = os.path.join(ROOT, ".perfbench_work")
            for d in os.listdir(work) if os.path.isdir(work) else ():
                if d.endswith(f"-{child.pid}"):
                    shutil.rmtree(os.path.join(work, d), ignore_errors=True)


def _subrun(args, workload: str, trace: int) -> tuple[dict, dict]:
    """Run one workload in a child process; returns (result, traced e2e)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    if args.tiny:
        cmd.append("--tiny")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
    lines = out.strip().splitlines()
    print("\n".join(lines[:-1]), flush=True)
    e2e = next((json.loads(l[len("E2E "):]) for l in lines if l.startswith("E2E ")), {})
    return json.loads(lines[-1]), e2e


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs (self-tests)")
    ap.add_argument("--cpus", type=int, default=None, help="local[N]; default: nproc - 1")
    ap.add_argument("--tamper", action="store_true",
                    help="change the table behind the feed's back; parity must fail")
    ap.add_argument("--compare-trace", action="store_true",
                    help="run untraced then traced; print traced minus untraced")
    args = ap.parse_args(argv)
    if not os.environ.get(CHILD_ENV):
        runs = len(WORKLOADS) if args.workload == "all" else 1 + args.compare_trace
        return supervise(sys.argv[1:] if argv is None else list(argv), DEADLINE_S * runs)

    # the engine must come from this checkout, not from elsewhere on the path
    try:
        import couch_to_mongo_spark
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(couch_to_mongo_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine package found outside {ROOT}", file=sys.stderr)
        return 2

    if args.workload == "all":
        results = {w: _subrun(args, w, args.trace)[0] for w in WORKLOADS}
        merged = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
        }
        print(json.dumps(merged))
        return 0
    if args.compare_trace:
        plain, _ = _subrun(args, args.workload, 0)
        traced_result, traced = _subrun(args, args.workload, 1)
        print("tracing overhead (traced - untraced):")
        for k, unit in E2E:
            a, b = plain["metrics"][k]["value"], traced.get(k, 0.0)
            print(f"  {k:24s} {b - a:+12.4f} {unit:6s} ({(b - a) / a:+.1%})" if a else
                  f"  {k:24s} n/a")
        print(json.dumps(traced_result))
        return 0

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace),
              tiny=args.tiny, cpus=args.cpus, tamper=args.tamper)
    result = run.execute()
    info = run.info
    print(f"perfbench {args.workload} seed={args.seed} local[{run.cpus}] "
          f"window={run.t1 - run.t0:.2f}s input_gen={info['gen_s']:.2f}s "
          f"session={info['session_s']:.2f}s bootstrap={['%.2f' % b for b in info['bootstrap_s']]} "
          f"prefeed={info['prefeed_s']:.2f}s view={info['view_s']:.2f}s "
          f"reads={info['read_phase_s']:.2f}s parity={info['parity_s']:.2f}s")
    if "gen_lateness_max_s" in info:
        print(f"  generator lateness: p50 {info['gen_lateness_p50_s']:.4f}s "
              f"max {info['gen_lateness_max_s']:.4f}s")
    print(f"  samples: {info['samples']}")
    for k, xs in (("apply", run.apply_s), ("read_cycle", run.read_cycle_s)):
        print(f"  {k} s: {' '.join(f'{x:.3f}' for x in xs)}")
    for k, unit in E2E:
        print(f"  {k:24s} {info['e2e'][k]:14.4f} {unit}")
    for k in ("parity_primary", "parity_view"):
        if k in info:
            print(f"  {k}: {info[k]}")
    for e in run.errors:
        print(f"  ERROR {e[:300]}")
    if args.trace:
        print("E2E " + json.dumps(info["e2e"]))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

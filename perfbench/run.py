"""Benchmark entry point.

    python3 perfbench/run.py --workload dwh --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. It generates the seeded inputs,
computes the correct outputs with DuckDB, then starts one fresh worker
process (``worker.py``) that sets up a session and runs the workload,
each pass followed by the workload's control (plain Spark SQL of the
same shape, see ``workloads.py``). It checks every request's output,
and prints one JSON object as the last line of stdout:

* ``--trace 0``: the end-to-end metrics. ``setup_s`` is the time from
  process start to the end of the first pass (a session, then one cold
  pass), scaled to a reference host speed by the controls.
  ``pass_x_p50`` and ``pass_x_tail`` are the median and tail of
  the measured passes' times, each over the mean of the two controls
  run on either side of it in the same session;
* ``--trace 1``: the workload process, traced; the per-layer metrics,
  as means over its measured passes, its median pass-to-control ratio
  (``trace.pass_x_p50``, which against ``pass_x_p50`` of an untraced
  run of the same seed gives the tracing overhead) and the peak memory
  of its process tree, polled every 0.2 s. The spans go to
  ``perfbench/.work/``.

Per-pass seconds go to stderr. Everything it writes stays under
``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import LAYER_UNITS  # noqa: E402
from workloads import (  # noqa: E402
    WARMUP_PASSES,
    WORKLOADS,
    expected_digests,
    table_rows,
)

CHILD_TIMEOUT_S = 150


def child_env(tmp: str) -> dict[str, str]:
    """Keep the child's Python, JVM and Spark scratch files in ``tmp``."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    return env


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared between the Python
    daemon and the workers it forks count once in the sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _session(sid: int) -> set[int]:
    """Live processes of session ``sid``: a worker started as a session
    leader, its JVM and the Python workers, which leave the worker's
    process group but not its session."""
    out = set()
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[3]) == sid:
                        out.add(int(name))
            except (OSError, IndexError, ValueError):
                pass
    return out


def run_child(args: list[str], run_dir: str, poll_mem: bool = False) -> float:
    """Run one worker to completion; returns its tree's peak memory in MB.

    The worker exits without stopping its session; the JVM and Python
    workers it leaves behind are killed and waited for."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--t0", repr(time.time()), *args]
    with open(os.path.join(run_dir, "worker.log"), "ab") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=child_env(tmp),
                                stdout=log, stderr=log, start_new_session=True)
    peak = 0
    deadline = time.time() + CHILD_TIMEOUT_S
    try:
        while proc.poll() is None:
            if time.time() > deadline:
                raise RuntimeError(f"worker exceeded {CHILD_TIMEOUT_S}s")
            if poll_mem:
                peak = max(peak, sum(_pss(p) for p in _session(proc.pid)))
            time.sleep(0.2)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        _reap(_session(proc.pid))
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "worker.log"), "rb") as fh:
            sys.stderr.write(fh.read()[-4000:].decode(errors="replace"))
        raise RuntimeError(f"worker exited with {proc.returncode}")
    return peak / (1024 * 1024)


def _reap(pids: set[int], timeout_s: float = 10.0) -> None:
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.time() + timeout_s
    while pids and time.time() < end:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    if pids:
        raise RuntimeError(f"processes {sorted(pids)} did not exit")


def pass_ratios(passes: list[dict]) -> list[float]:
    """Each measured pass's time over the mean of the two controls
    around it: the one after the pass before and the one after it."""
    return [
        passes[i]["s"] / statistics.fmean((passes[i - 1]["control_s"], passes[i]["control_s"]))
        for i in range(WARMUP_PASSES, len(passes))
    ]


def scaled_setup_s(result: dict, control_ref_s: float) -> float:
    """Session set-up plus the cold first pass, scaled from this run's
    host speed, the median control around the measured passes, to a
    host where the control takes ``control_ref_s``."""
    host_s = statistics.median(p["control_s"] for p in result["passes"][WARMUP_PASSES - 1:])
    return (result["session_s"] + result["first_pass_s"]) * control_ref_s / host_s


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with min(10, n/4) samples beyond it, and
    that percentile. Ten samples beyond it once the run has 40 or more;
    a quarter of them before that, so the value stays above the median."""
    s = sorted(samples)
    beyond = min(10, len(s) // 4)
    i = len(s) - 1 - beyond
    return s[i], 100.0 * (i + 1) / len(s)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    workload = WORKLOADS[args.workload]
    data = gen.generate(args.seed, workload.factor, os.path.join(WORK, "data"),
                        workload.sizes)
    expected = expected_digests(args.workload, data)
    rows_per_pass = sum(table_rows(data, r.tables) for r in workload.requests)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = os.path.join(run_dir, "result.json")
        peak_mb = run_child(
            ["--result", res, "--workload", args.workload, "--data", data,
             "--out", os.path.join(run_dir, "out"), "--seconds", str(args.seconds)]
            + (["--trace"] if args.trace else []),
            run_dir,
            poll_mem=bool(args.trace),
        )
        result = _load(res)
        if args.trace:
            shutil.copy(os.path.join(run_dir, "trace.json"),
                        os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    runs = [r for p in result["passes"] for r in p["runs"]]
    failed = failed_runs(runs, expected)
    passes = result["passes"]
    measured = passes[WARMUP_PASSES:]
    ratios = pass_ratios(passes)
    sys.stderr.write(
        f"perfbench {args.workload} seed={args.seed}: session {result['session_s']:.2f} s, "
        f"first pass {result['first_pass_s']:.2f} s, {len(ratios)} measured passes "
        f"after {WARMUP_PASSES}, {rows_per_pass} input rows per pass\n"
        f"  pass s    {_fmt(p['s'] for p in passes)}\n"
        f"  control s {_fmt(p['control_s'] for p in passes)}\n"
    )
    for i, req in enumerate(workload.requests):
        sys.stderr.write(f"  {req.key} s {_fmt(p['runs'][i]['s'] for p in passes)}\n")
    if args.trace:
        metrics = traced_metrics(result["session_s"], measured, ratios)
        metrics["mem.peak_mb"] = (peak_mb, "MB")
    else:
        tail_x, tail_pct = tail(ratios)
        sys.stderr.write(f"  pass_x_tail is p{tail_pct:.0f} of {len(ratios)}; setup_s is "
                         f"scaled to a control of {workload.control_ref_s} s\n")
        metrics = {
            "setup_s": (scaled_setup_s(result, workload.control_ref_s), "s"),
            "pass_x_p50": (statistics.median(ratios), "x"),
            "pass_x_tail": (tail_x, "x"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def failed_runs(runs: list[dict], expected: dict[str, str]) -> int:
    """Requests that raised or whose output digest is not the expected one."""
    failed = 0
    for r in runs:
        if "error" in r:
            sys.stderr.write(f"{r['key']} failed:\n{r['error']}\n")
            failed += 1
        elif r["digest"] != expected[r["key"]]:
            sys.stderr.write(f"{r['key']} returned a wrong output\n")
            failed += 1
    return failed


def traced_metrics(session_s: float, measured: list[dict],
                   ratios: list[float]) -> dict[str, tuple[float, str]]:
    """Per-layer means over the traced passes, and their median ratio
    to the control."""
    out = {"session.start_s": (session_s, "s")}
    for name, unit in LAYER_UNITS.items():
        out[name] = (statistics.fmean(p["layers"][name] for p in measured), unit)
    out["trace.pass_x_p50"] = (statistics.median(ratios), "x")
    return out


def _fmt(xs) -> str:
    return " ".join(f"{x:.2f}" for x in xs)


def _load(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


if __name__ == "__main__":
    raise SystemExit(main())

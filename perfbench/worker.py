"""The benchmark's Spark-side process: one fresh session per process.

    python3 perfbench/worker.py --t0 EPOCH --result FILE \\
        --workload NAME --data DIR --out DIR --seconds S [--trace]

``--t0`` is when the parent started this process, so ``session_s``
runs from process start to a ``get_spark`` session that has finished
one action. The worker then runs the workload in a closed loop of
passes, each running every request once and then the workload's
control: the warm-up passes (the first is ``first_pass_s``), then
passes until ``--seconds`` have elapsed. Each request and each control
is timed alone; outputs are digested afterwards, outside the timed
region. With ``--trace`` every pass after the warm-up is traced and
its per-layer metrics, which leave out the control, are recorded. The
result is one JSON file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from spans import Tracer

    from node_etl_spark.session import get_spark

    tracer = Tracer()
    tracer.active = args.trace
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
        spark.range(1).count()
    tracer.active = False
    result: dict = {"session_s": time.time() - args.t0}
    try:
        result.update(run_workload(spark, tracer, args))
    finally:
        if args.trace:
            tracer.write(os.path.join(os.path.dirname(args.result), "trace.json"))
        with open(args.result, "w", encoding="utf-8") as fh:
            json.dump(result, fh)
    # the parent kills the JVM: a graceful stop would add seconds to
    # every run and measures nothing
    sys.stdout.flush()
    os._exit(0)


def run_workload(spark, tracer, args) -> dict:
    from status import StatusReader
    from workloads import WARMUP_PASSES, WORKLOADS, Runner, digest

    workload = WORKLOADS[args.workload]
    runner = Runner(spark, args.data, args.out)
    reader = StatusReader(spark)
    if args.trace:
        tracer.install(spark)
    passes: list[dict] = []

    def one_pass(traced: bool) -> None:
        pass_id = len(passes)
        if traced:
            last_job, rdds = reader.last_job_id(), reader.persistent_rdds()
            tracer.pass_id, tracer.active = pass_id, True
        runs = []
        for req in workload.requests:
            run: dict = {"key": req.key}
            t = time.perf_counter()
            try:
                output = runner.run(req, tracer)
                run["s"] = time.perf_counter() - t
                run["digest"] = digest(*output())
            except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
                run["s"] = time.perf_counter() - t
                run["error"] = traceback.format_exc(limit=3)
            runs.append(run)
        rec = {"runs": runs, "s": sum(r["s"] for r in runs)}
        if traced:
            rec["layers"] = tracer.layer_metrics(
                pass_id, rec["s"], reader.stats_since(last_job),
                reader.persistent_rdds() - rdds,
            )
            tracer.active = False
        t = time.perf_counter()
        runner.control(workload)
        rec["control_s"] = time.perf_counter() - t
        passes.append(rec)

    for _ in range(WARMUP_PASSES):
        one_pass(traced=False)
    start = time.perf_counter()
    while time.perf_counter() - start < args.seconds:
        one_pass(traced=args.trace)
    return {"first_pass_s": passes[0]["s"], "passes": passes}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()

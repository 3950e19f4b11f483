"""One benchmark run in a fresh process: set up, measure, check, report.

Started by ``run.py`` with the run environment already set; writes its
result as JSON to ``--out``. Set-up (``setup_s``) counts from the
moment ``run.py`` spawned this process until the workload is ready:
interpreter start, ``get_spark``, the registry import, building the
inputs and one priming pass of the workload's own calls on small inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _session():
    from map_reduce_project_spark import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            # every job and stage of a run stays in the status store,
            # so the ledger's end-of-pass dump sees all of them
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--small", action="store_true")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()

    from perfbench.ledger import JvmProbe, Pass, Tracer, median
    from perfbench.metrics import WORKLOAD_LAYER
    from perfbench.workloads import WORKLOADS

    t_build = time.time()
    spark = _session()
    build_s = time.time() - t_build
    probe = JvmProbe(spark)
    wl = WORKLOADS[args.workload](spark, args.seed, args.workdir)
    attempted = failed = 0
    errors: dict[str, str] = {}

    def tally(p, checks):
        """A call fails when it raises or its output check fails."""
        nonlocal attempted, failed
        attempted += len(p.calls)
        failed += len(set(p.errors) | set(checks))
        errors.update(p.errors)
        errors.update(checks)

    # priming pass on small inputs; the timed inputs are built after it
    prime_in = wl.inputs(small=True)
    with Pass(probe, None, args.log, wl.name) as prime:
        wl.prime(prime, prime_in)
    tally(prime, {})
    prime_s = prime.wall_s
    prime_walls = {c["name"]: c["end"] - c["start"] for c in prime.calls}
    del prime, prime_in
    inp = wl.inputs(small=args.small)
    setup_s = time.time() - args.t0

    def timed_pass(tracer=None):
        p = Pass(probe, tracer, args.log, wl.name)
        with p:
            wl.run(p, inp, traced=tracer is not None)
        return p

    metrics: dict[str, float] = {}
    layers: dict[str, float] = {}  # this workload's per-call layers
    passes = []
    if args.trace:
        tracer = Tracer(f"{args.workload}-s{args.seed}")
        p = timed_pass(tracer)
        checks = wl.check(p, inp)
        tally(p, checks)
        totals = p.ledger()
        nproc = int(os.environ["SPARK_GRAFT_CPUS"])
        total_cpu, py_cpu = p.cpu_s
        if not (p.errors or checks):
            measured = wl.layer(p, inp) | {
                "pyworker.cpu_s": py_cpu,
                "pyworker.share": py_cpu / total_cpu if total_cpu else 0.0,
            }
            # only the layers this workload's calls exercise
            layers = {k: v for k, v in measured.items()
                      if args.workload in WORKLOAD_LAYER[k][3]}
        metrics.update({
            "spark.jobs": totals["jobs"],
            "spark.stages": totals["stages"],
            "spark.tasks": totals["tasks"],
            "spark.tasks_failed": totals["tasks_failed"],
            "spark.exec_run_s": totals["exec_run_s"],
            "spark.exec_cpu_s": totals["exec_cpu_s"],
            "spark.core_busy": totals["exec_run_s"] / (p.wall_s * nproc),
            "spark.shuffle_write_mb": totals["shuffle_write_mb"],
            "spark.shuffle_read_mb": totals["shuffle_read_mb"],
            "spark.spill_mb": totals["spill_mb"],
            "spark.input_mb": totals["input_mb"],
            "spark.error_lines": totals["error_lines"],
            "driver.nojob_s": totals["nojob_s"],
            "driver.self_s": totals["self_s"],
            "driver.construct_s": totals["construct_s"],
            "driver.construct_jobs": totals["construct_jobs"],
            "jvm.gc_s": totals["gc_s"],
            "jvm.gc_count": totals["gc_count"],
            "storage.residue_mb": totals["residue_peak_mb"],
            "storage.residue_rdds": max(c["residue_rdds"] for c in p.calls),
            "session.build_s": build_s,
            "trace.overhead_s": p.trace_s,
        })
        passes.append(p)
    else:
        deadline = time.time() + args.seconds
        while True:
            p = timed_pass()
            tally(p, wl.check(p, inp))
            passes.append(p)
            p.results.clear()
            if time.time() >= deadline:
                break
        metrics.update({
            "setup_s": setup_s,
            "wall_s": median([q.wall_s for q in passes]),
            "cpu_s": median([q.cpu_s[0] for q in passes]),
        })
    # every result consumed and dropped; no GC is forced
    last = passes[-1]
    last.results.clear()
    residue_mb, residue_rdds = probe.storage()
    if args.trace:
        metrics["peak_rss_mb"] = probe.tree.vmhwm_mb()
        metrics["residue_mb"] = residue_mb
        metrics["error_rate"] = failed / attempted
        trace_path = os.path.join(
            args.workdir, "traces",
            f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        tracer.write(trace_path)

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": len(passes),
        "pass_walls_s": [q.wall_s for q in passes],
        "setup_parts_s": {"session": build_s, "prime": prime_s,
                          "total": setup_s},
        "prime_walls_s": prime_walls,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "metrics": metrics,
        "layers": layers,
        "calls": last.calls,
        "residue_rdds_end": residue_rdds,
        "java_version": spark.sparkContext._jvm.System.getProperty(
            "java.version"),
        "spark_version": spark.version,
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True, default=str)
    # run.py ends the JVM and its workers and clears their directories
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload graph-fixpoint --seed 1 \
        --seconds 12 --trace 0

Runs one workload (``graph-fixpoint`` or ``curation-registry``, see
``workloads.py``) in a fresh child process on
``local[nproc]`` and prints, as the last line of standard output, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``, the latter after a line with the workload's own per-call
layers (``metrics.WORKLOAD_LAYER``). ``--small`` runs the timed pass on
the priming inputs (the self-test mode).

Everything a run writes stays under ``.bench_work/`` at the root of the
checkout: Spark's local and temporary directories, the generated star
schema, checkpoints, the Spark log, the full result (with the run
environment) and, for traced runs, the spans as JSON lines.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "map_reduce_project_spark")
WORKDIR = os.path.join(ROOT, ".bench_work")
CHILD_TIMEOUT_S = 170
DRIVER_MEMORY = "3g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _source_digest() -> str:
    """Hash of the program's Python sources: identifies the code under
    test where the checkout carries no git metadata."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(PACKAGE):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_rev() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True)
    return out.stdout.strip() or None


def environment() -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": _nproc(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "loadavg": list(os.getloadavg()),
        "git_rev": _git_rev(),
        "source_digest": _source_digest(),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(b")") + 2 :].split()
        # a zombie has ended; only its parent's wait is missing
        if int(fields[3]) == sid and fields[0] != b"Z":
            pids.append(int(name))
    return pids


def _stop_session(sid: int) -> None:
    """Kill whatever the child left (JVM, Python daemon, workers: all in
    the child's session) and wait until every process has ended."""
    for _ in range(100):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes of session {sid} did not end")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"perfbench: no program sources at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.metrics import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still ends its child's processes (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    dirs = {d: os.path.join(WORKDIR, d)
            for d in ("spark-local", "tmp", "logs", "results")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    log = os.path.join(dirs["logs"], f"{tag}.log")
    out = os.path.join(dirs["results"], f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_SCRATCH": dirs["tmp"],
        "TMPDIR": dirs["tmp"],
        # JVMs keep their temporary files and no perf-data file in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the program by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    env_start = environment()
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", WORKDIR, "--log", log, "--out", out,
        "--t0", repr(time.time()),
    ] + (["--small"] if args.small else [])
    with open(log, "wb") as logf:
        child = subprocess.Popen(cmd, stdout=logf, stderr=logf, env=env,
                                 cwd=WORKDIR, start_new_session=True)
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_session(child.pid)
            child.wait()
            for d in ("spark-local", "tmp", "ckpt", "data"):
                shutil.rmtree(os.path.join(WORKDIR, d), ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: run {why}; see {log}", file=sys.stderr)
        return 1
    with open(out) as f:
        result = json.load(f)
    result["environment"] = env_start | {
        "loadavg_end": list(os.getloadavg()),
        "java": result.pop("java_version"),
    }
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    for name, err in sorted(result["errors"].items()):
        print(f"perfbench: FAILED {name}: {err.strip().splitlines()[-1]}")
    print(f"perfbench: {tag} passes={result['passes']} "
          f"env={json.dumps(result['environment'], sort_keys=True)}")
    if args.trace:
        print(f"perfbench: layers {json.dumps(result['layers'], sort_keys=True)}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            name: {"value": value, "unit": _unit(name)}
            for name, value in sorted(result["metrics"].items())
        },
    }))
    return 0


def _unit(name: str) -> str:
    from perfbench.metrics import END_TO_END, PER_LAYER

    return (END_TO_END.get(name) or PER_LAYER[name])[0]


if __name__ == "__main__":
    sys.exit(main())

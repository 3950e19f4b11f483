"""Self-tests of the benchmark.

    python3 perfbench/selftest.py          # spec checks, then every workload
    python3 perfbench/selftest.py --spec   # spec checks only (no Spark)

The spec checks read ``BENCHMARK.json`` against the benchmark contract
and against ``metrics.py``: at most 16 end-to-end and 128 per-layer
metrics, valid and unique names and units, and every per-layer metric,
shared or one workload's own, naming the end-to-end metric it moves
and the workloads it measures.
Then each workload runs end to end on its small inputs, untraced and
traced, with every output check on; and ``run.py`` must refuse to run,
quickly and without a result, in a directory holding only the
benchmark.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import (  # noqa: E402
    END_TO_END,
    PER_LAYER,
    WORKLOAD_LAYER,
    WORKLOADS,
)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def check_spec(path: str) -> list[str]:
    """Contract violations in the benchmark description, if any."""
    bad = []
    if os.path.getsize(path) > 64 * 1024:
        bad.append("BENCHMARK.json is over 64 KiB")
    with open(path) as f:
        spec = json.load(f)
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end",
            "per_layer"}
    if set(spec) != keys:
        bad.append(f"keys {sorted(spec)} are not {sorted(keys)}")
        return bad
    paths = spec["paths"]
    if not 1 <= len(paths) <= 16 or not all(
        PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        for p in paths
    ):
        bad.append(f"bad paths {paths}")
    cmd = spec["command"]
    if not 1 <= len(cmd) <= 32 or any(
        len(c) > 200 or c.startswith("/") or ".." in c.split("/")
        for c in cmd
    ):
        bad.append(f"bad command {cmd}")
    rs = spec["run_seconds"]
    if not (isinstance(rs, int) and 1 <= rs <= 60):
        bad.append(f"run_seconds {rs!r} is not a whole number in 1..60")

    names = []
    wl = spec["workloads"]
    if not 2 <= len(wl) <= 8:
        bad.append(f"{len(wl)} workloads, not 2..8")
    for w in wl:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            bad.append(f"bad workload entry {w}")
        names.append(w["name"])
    if tuple(n for n in names) != WORKLOADS:
        bad.append(f"workloads {names} differ from metrics.py {WORKLOADS}")

    e2e, layer = spec["end_to_end"], spec["per_layer"]
    if not 1 <= len(e2e) <= 16:
        bad.append(f"{len(e2e)} end-to-end metrics, not 1..16")
    if not 1 <= len(layer) <= 128:
        bad.append(f"{len(layer)} per-layer metrics, not 1..128")
    for m in e2e:
        if set(m) != {"name", "unit", "better", "bound"}:
            bad.append(f"bad end-to-end entry {m}")
            continue
        if not 0 < m["bound"] <= 0.25:
            bad.append(f"{m['name']}: bound {m['bound']} not in (0, 0.25]")
        if END_TO_END.get(m["name"]) != (m["unit"], m["better"]):
            bad.append(f"{m['name']}: differs from metrics.py")
    setup = [m for m in e2e if m["name"] == "setup_s"]
    if not setup or (setup[0]["unit"], setup[0]["better"]) != ("s", "lower"):
        bad.append("no setup_s metric in s, lower is better")
    elif setup[0]["bound"] < max(m["bound"] for m in e2e):
        bad.append("setup_s does not have the largest bound")
    for m in layer:
        if set(m) != {"name", "unit", "better"}:
            bad.append(f"bad per-layer entry {m}")
            continue
        entry = PER_LAYER.get(m["name"])
        if entry is None or entry[:2] != (m["unit"], m["better"]):
            bad.append(f"{m['name']}: differs from metrics.py")
            continue
        moves, where = entry[2], entry[3]
        if moves is not None and moves not in END_TO_END:
            bad.append(f"{m['name']}: moves unknown metric {moves}")
        if not where or not where <= set(WORKLOADS):
            bad.append(f"{m['name']}: names no known workload")
    if {m["name"] for m in layer} != set(PER_LAYER):
        bad.append("per-layer metrics differ from metrics.py")
    for name, (unit, better, moves, where) in WORKLOAD_LAYER.items():
        if not (NAME.match(name) and UNIT.match(unit) and moves in END_TO_END
                and better in ("lower", "higher") and len(where) == 1
                and where <= set(WORKLOADS)):
            bad.append(f"bad workload layer entry {name}")
        if name in PER_LAYER or name in END_TO_END:
            bad.append(f"{name} is listed twice")
    for m in e2e + layer:
        names.append(m["name"])
        if not UNIT.match(m.get("unit", "")):
            bad.append(f"bad unit {m.get('unit')!r}")
        if m.get("better") not in ("lower", "higher"):
            bad.append(f"{m.get('name')}: better is not lower/higher")
    for n in names:
        if not NAME.match(n):
            bad.append(f"bad name {n!r}")
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        bad.append(f"names used twice: {sorted(dupes)}")
    return bad


def _run(args: list[str], cwd: str = ROOT) -> tuple[int, str, float]:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py"] + args, cwd=cwd,
        capture_output=True, text=True, timeout=240,
    )
    return out.returncode, out.stdout, time.time() - t0


def check_runs() -> list[str]:
    bad = []
    for w in WORKLOADS:
        for trace, want in (("0", set(END_TO_END)), ("1", set(PER_LAYER))):
            code, out, secs = _run(["--workload", w, "--seed", "7",
                                    "--seconds", "1", "--trace", trace,
                                    "--small"])
            print(f"selftest: {w} trace={trace} exit={code} {secs:.0f}s")
            if code != 0:
                bad.append(f"{w} trace={trace}: exit {code}")
                continue
            lines = out.strip().splitlines()
            res = json.loads(lines[-1])
            if trace == "1":
                own = {n for n, e in WORKLOAD_LAYER.items() if w in e[3]}
                shown = json.loads(next(
                    ln for ln in lines if ln.startswith("perfbench: layers ")
                )[len("perfbench: layers "):])
                # small graph inputs carry only the chain of the trio
                if not shown or not set(shown) <= own:
                    bad.append(f"{w}: workload layers differ from metrics.py")
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                bad.append(f"{w} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                bad.append(f"{w} trace={trace}: {res['failed']} failed")
            if set(res["metrics"]) != want:
                bad.append(f"{w} trace={trace}: metric names differ")
    # a directory with only the benchmark must be refused, fast
    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out, secs = _run(["--workload", WORKLOADS[0], "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare)
    if code == 0 or out.strip():
        bad.append(f"bare directory: exit {code}, printed {out!r}")
    print(f"selftest: bare directory exit={code} {secs:.1f}s")
    return bad


def main() -> int:
    bad = check_spec(os.path.join(ROOT, "BENCHMARK.json"))
    if "--spec" not in sys.argv and not bad:
        bad += check_runs()
    for b in bad:
        print(f"selftest: FAIL {b}")
    print("selftest: ok" if not bad else f"selftest: {len(bad)} failures")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Fast self-test of the benchmark itself (small inputs, short runs).

    python3 perfbench/selftest.py [--jobs 2]

Checks that

1. every workload, untraced and traced, prints a result line with
   every metric of its mode, each with its unit, and no failure; in
   the traced run, each layer the workload is meant to exercise reads
   non-zero (``EXERCISED``);
2. a deliberately corrupted result (one dropped row) is counted as a
   failure, shows in ``failed_frac`` and is charged at the watchdog
   cap in ``first_pass_s``;
3. ``aria_epoch_loop`` takes the distributed epoch loop and
   ``aria_ycsb_ref`` the local path;
4. in a directory holding only ``BENCHMARK.json`` and this directory,
   the benchmark exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layers import METRICS as PER_LAYER  # noqa: E402
from run import END_TO_END, ITEM_CAP_S, WORK, WORKLOADS  # noqa: E402

SEED = 5

# Per-layer metrics each workload must move in its traced run: a probe
# that silently reads 0 (a renamed plan node or metric, a patch that no
# longer takes effect) fails here. ``None`` means "non-zero"; a number
# is the exact value wanted.
EXERCISED: dict[str, dict[str, float | None]] = {
    "olap_exec": {"codegen.compiles": None, "exec.jobs": None,
                  "scan.input_records": None, "collect.rows": None},
    "llm_pipeline": {"scan.spread_exchanges": None, "udf.python_rows": None,
                     "materialize.blocks": None, "build.jobs": None},
    "aria_epoch_loop": {"aria.epochs": WORKLOADS["aria_epoch_loop"]["max_epochs"],
                        "aria.jobs_per_epoch": None,
                        "exec.shuffle_write_bytes": None},
    "aria_ycsb_ref": {"aria.epochs": None, "aria.install_s": None},
}


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT,
        seed: int = SEED) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--scale", "0.001", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    return p.returncode, result


def check_metrics(workload: str, trace: int, rc: int, res: dict | None) -> list[str]:
    want = PER_LAYER if trace else END_TO_END
    tag = f"{workload} trace={trace}"
    if rc != 0 or res is None:
        return [f"{tag}: exit {rc}, result {res}"]
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: result keys {sorted(res)}")
    if res["attempted"] < 1 or res["failed"] != 0 or not res["correct"]:
        errs.append(f"{tag}: attempted={res['attempted']} failed={res['failed']}")
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    if got != want:
        errs.append(f"{tag}: metrics/units differ from {want}: {got}")
    if trace:
        for name, exact in EXERCISED[workload].items():
            value = res["metrics"].get(name, {}).get("value", 0)
            if (exact is None and not value > 0) or (exact is not None and value != exact):
                errs.append(f"{tag}: {name} = {value}, wants "
                            f"{'> 0' if exact is None else exact}")
    return errs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--jobs", type=int, default=2)
    jobs = ap.parse_args().jobs
    errors: list[str] = []

    cases = [(w, t) for w in WORKLOADS for t in (0, 1)]
    with ThreadPoolExecutor(jobs) as pool:
        futures = {c: pool.submit(run, *c) for c in cases}
        # another seed, so the corrupted runs' trace records do not
        # overwrite the ones read below
        corrupt = {t: pool.submit(run, "llm_pipeline", t, "--corrupt", seed=SEED + 1)
                   for t in (0, 1)}
        for (w, t), fut in futures.items():
            errors += check_metrics(w, t, *fut.result())
        (rc, res), (rc0, res0) = corrupt[1].result(), corrupt[0].result()
    if rc != 0 or res is None or res["failed"] != 1 or res["correct"] or not (
        res["metrics"]["failed_frac"]["value"] == 1 / res["attempted"]
    ):
        errors.append(f"corrupted result not counted: exit {rc}, {res}")
    # the dropped row is in the first pass, so that pass pays the cap
    if rc0 != 0 or res0 is None or res0["failed"] != 1 or not (
        res0["metrics"]["first_pass_s"]["value"] >= ITEM_CAP_S
    ):
        errors.append(f"corrupted result not charged at the cap: exit {rc0}, {res0}")

    for workload in ("aria_epoch_loop", "aria_ycsb_ref"):
        with open(os.path.join(WORK, "traces", f"{workload}-seed{SEED}-trace0.json")) as f:
            paths = {r.get("aria.path") for r in json.load(f)["items"]}
        if paths != {WORKLOADS[workload]["path"]}:
            errors.append(f"{workload}: took {paths}, wants {WORKLOADS[workload]['path']}")

    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res = run("llm_pipeline", 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or res is not None:
        errors.append(f"bare directory: exit {rc}, result {res}")

    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

"""CDC-core benchmark entry point.

    python3 cdcbench/run.py --workload backfill|tail --seed N --seconds S --trace 0|1

Run from the repository root. Generates the seeded changelog in its own
process (cached per workload, seed and benchmark source under
``cdcbench/_work``), then runs the measured process and relays its
output; the last stdout line is the result JSON. Work is fixed per
workload: ``--seconds`` is recorded, never used to bound a loop.
``--trace 1`` reports per-layer metrics; its
``trace.overhead_share`` compares the measured drain's wall with that of
the latest untraced run of the same workload, seed and source (a hash of
the ``.py`` files of ``gnarly_spark`` and ``cdcbench``), recorded in
``cdcbench/_work/untraced.jsonl``. When there is none, the traced run
first starts an untraced measured process on the same data that stops
after its drain.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
RUN_TIMEOUT_S = 175  # whole invocation, both measured processes included
KEEP_CACHED = 3  # generated changelogs kept per workload
UNTRACED = os.path.join(WORK, "untraced.jsonl")

sys.path.insert(0, ROOT)

from cdcbench.workloads import WORKLOADS  # noqa: E402


def fail(msg: str) -> None:
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def generate(workload: str, seed: int) -> str:
    # keyed by the benchmark's source too: a changed generator or workload
    # never reuses stale files
    data = os.path.join(WORK, "data", f"{workload}-{seed}-{source_hash('cdcbench')}")
    if os.path.exists(os.path.join(data, "DONE")):
        return data
    cached = sorted(
        (os.path.join(WORK, "data", d) for d in os.listdir(os.path.join(WORK, "data"))
         if d.startswith(f"{workload}-")),
        key=os.path.getmtime,
    )
    for old in cached[: max(0, len(cached) - KEEP_CACHED + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"),
         "--workload", workload, "--seed", str(seed), "--out", data],
        check=True, stdout=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S,
    )
    return data


def measure(args, data: str, trace: int, deadline: float, extra=()) -> tuple[int, list[str]]:
    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--data", data, "--work", os.path.join(WORK, f"run-{args.workload}"),
    ]
    p = subprocess.Popen([*cmd, *extra], stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    return p.returncode, out.splitlines()


def source_hash(*dirs: str) -> str:
    """Short hash of the ``.py`` files under ``dirs`` of the checkout."""
    h = hashlib.sha256()
    for d in dirs:
        for f in sorted(glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def drain_wall(lines: list[str]) -> float:
    detail = next(ln for ln in lines if ln.startswith("detail "))
    return json.loads(detail[len("detail "):])["measure_wall_s"]


def untraced_wall(key: str) -> float | None:
    """Measured-drain wall of the latest untraced run recorded for ``key``
    (workload, seed and source hash), or None."""
    if not os.path.exists(UNTRACED):
        return None
    with open(UNTRACED) as f:
        walls = [r["measure_wall_s"] for r in map(json.loads, f) if r.get("key") == key]
    return walls[-1] if walls else None


def main() -> None:
    ap = argparse.ArgumentParser(description="CDC-core benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", action="store_true",
                    help="perturb the expected checksum: the run must fail")
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    if not os.path.isdir(os.path.join(ROOT, "gnarly_spark")):
        fail(f"gnarly_spark package not found under {ROOT}; run from a full checkout")
    os.makedirs(os.path.join(WORK, "data"), exist_ok=True)
    data = generate(args.workload, args.seed)

    key = f"{args.workload}-{args.seed}-{source_hash('gnarly_spark', 'cdcbench')}"
    extra = ["--inject-fault"] if args.inject_fault else []
    if args.trace:
        ref = untraced_wall(key)
        if ref is None:
            # no untraced run of this seed and code here yet: an untraced
            # drain on the same data, as the reference
            code, lines = measure(args, data, 0, deadline, ["--drain-only"])
            if code != 0:
                fail("untraced reference run failed")
            ref = drain_wall(lines)
        extra += ["--untraced-wall", str(ref)]
    code, lines = measure(args, data, args.trace, deadline, extra)
    if code == 0 and not args.trace and not args.inject_fault:
        with open(UNTRACED, "a") as f:
            f.write(json.dumps({"key": key, "measure_wall_s": drain_wall(lines)}) + "\n")
    for line in lines:
        print(line)
    sys.exit(code)


if __name__ == "__main__":
    main()

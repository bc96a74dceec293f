"""Interleaved A/B of one benchmark command between two checkouts.

Usage: python tools/run_bench_ab.py <parent_dir> <change_dir> [pairs]
       [--json out.json] [-- command ...]

Runs the command (default ``python bench.py``) once in each checkout
per pair, each run a fresh process, alternating which side goes first:
odd pairs run the parent first, even pairs the change. ``{seed}`` in
the command is replaced by the pair number (1..pairs), so

    python tools/run_bench_ab.py ../parent . 10 --json ab.json -- \\
        python3 perfbench/run.py --workload agent_etl --seed {seed} \\
        --seconds 10 --trace 0

runs ten interleaved perfbench pairs. A run's result is the last
stdout line that parses as a JSON object (``bench.py`` and
``perfbench/run.py`` both end with one).

The JSON file holds ``runs`` (seed, workload, side, rc, wall, result)
and a ``summary``. For every numeric leaf of the results (dotted path,
e.g. ``metrics.cpu_s_per_op.value``) the summary gives both medians,
the parent's q1-q3 and ``change_wins``: the pairs on which the change
read lower, out of the pairs where both sides have the value (ties
count for neither). ``failed`` is, per side, the operations the runs
report as failed plus the runs that exited non-zero or printed no
result.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time

SIDES = ("parent", "change")


def run_once(workdir: str, cmd: list[str]) -> dict:
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=workdir, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stderr[-2000:])
    result = json.loads(lines[-1]) if lines else None
    return {"rc": proc.returncode, "wall": time.time() - t0, "result": result}


def numeric_leaves(obj, prefix: str = "") -> dict[str, float]:
    if isinstance(obj, dict):
        out = {}
        for k, v in obj.items():
            out.update(numeric_leaves(v, f"{prefix}{k}."))
        return out
    if isinstance(obj, (int, float)) and not isinstance(obj, bool):
        return {prefix[:-1]: obj}
    return {}


def summarize(runs: list[dict]) -> dict:
    failed = dict.fromkeys(SIDES, 0)
    # metric -> seed -> side -> value
    values: dict[str, dict[int, dict[str, float]]] = {}
    for r in runs:
        res = r["result"] or {}
        failed[r["side"]] += (r["rc"] != 0 or not res) + res.get("failed", 0)
        for name, v in numeric_leaves(res).items():
            by_seed = values.setdefault(name, {})
            by_seed.setdefault(r["seed"], {})[r["side"]] = v
    metrics = {}
    for name, by_seed in sorted(values.items()):
        side = {s: [v[s] for v in by_seed.values() if s in v] for s in SIDES}
        pairs = [v for v in by_seed.values() if len(v) == 2]
        wins = sum(v["change"] < v["parent"] for v in pairs)
        rec = {f"{s}_median": statistics.median(side[s] or [None]) for s in SIDES}
        if len(side["parent"]) > 1:
            q1, _, q3 = statistics.quantiles(side["parent"], method="inclusive")
            rec["parent_q1_q3"] = [q1, q3]
        metrics[name] = {**rec, "change_wins": f"{wins}/{len(pairs)}"}
    return {"metrics": metrics, "failed": failed}


def main() -> None:
    raw = sys.argv[1:]
    cmd = [sys.executable, "bench.py"]
    if "--" in raw:
        i = raw.index("--")
        raw, cmd = raw[:i], raw[i + 1 :]
        if not cmd:
            raise SystemExit("-- needs a command")
    out_path = None
    if "--json" in raw:
        i = raw.index("--json")
        if i + 1 >= len(raw):
            raise SystemExit("--json needs an output path")
        out_path = raw[i + 1]
        del raw[i : i + 2]
    if len(raw) not in (2, 3):
        raise SystemExit(__doc__)
    dirs = dict(zip(SIDES, raw[:2]))
    pairs = int(raw[2]) if len(raw) > 2 else 10
    workload = cmd[cmd.index("--workload") + 1] if "--workload" in cmd else None
    runs: list[dict] = []
    for seed in range(1, pairs + 1):
        order = SIDES if seed % 2 else SIDES[::-1]
        for side in order:
            argv = [a.replace("{seed}", str(seed)) for a in cmd]
            rec = {"seed": seed, "workload": workload, "side": side}
            rec.update(run_once(dirs[side], argv))
            runs.append(rec)
            print(json.dumps({k: rec[k] for k in ("seed", "side", "rc", "wall")}))
            sys.stdout.flush()
    summary = summarize(runs)
    print(json.dumps(summary))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(
                {"command": cmd, "dirs": dirs, "runs": runs, "summary": summary},
                f,
                indent=1,
            )


if __name__ == "__main__":
    main()

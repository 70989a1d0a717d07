"""Run the benchmark over several seeds and summarise each metric's spread.

    python3 perfbench/repeat.py --workload ingest --seeds 1-10 --out runs.jsonl

Each run is ``perfbench/run.py`` in a child process with the run length from
BENCHMARK.json; its result line and the record it prints on standard error
(environment, engines, phase times, per-operation times) are appended to
``--out`` as JSON. The summary
gives, per metric, the median and the interquartile distance as a share of
the median, next to the metric's bound (the benchmark aims for a spread under
a third of it). ``--summarise FILE...`` prints the summary of earlier runs.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summarise(records: list[dict], bounds: dict) -> str:
    lines = []
    for w in sorted({r["workload"] for r in records}):
        rs = [r for r in records if r["workload"] == w]
        failed = sum(r["result"]["failed"] for r in rs)
        lines.append(f"{w}: {len(rs)} runs, {failed} failed checks, "
                     f"run wall median {statistics.median(r['wall_s'] for r in rs):.1f} s")
        for name in rs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in rs]
            spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
            bound = bounds.get(name)
            lines.append(f"  {name:32s} median {statistics.median(vals):14.4f}  spread {spread:6.3f}"
                         + (f"  bound {bound}" if bound is not None else ""))
    return "\n".join(lines)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", action="append", default=[])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", type=Path)
    p.add_argument("--summarise", type=Path, nargs="+")
    args = p.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    if args.summarise:
        records = [json.loads(line) for f in args.summarise for line in f.read_text().splitlines() if line]
        print(summarise(records, bounds))
        return 0
    records = []
    for seed in seeds(args.seeds):
        for w in args.workload or [x["name"] for x in spec["workloads"]]:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
                cwd=HERE.parent, capture_output=True, text=True, timeout=900,
            )
            if proc.returncode != 0:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
                return 1
            rec = {"workload": w, "seed": seed, "trace": args.trace, "wall_s": time.perf_counter() - t0,
                   "result": json.loads(proc.stdout.strip().splitlines()[-1]),
                   "detail": next((json.loads(line) for line in proc.stderr.splitlines()
                                   if line.startswith('{"env"')), None)}
            records.append(rec)
            if args.out:
                with args.out.open("a") as f:
                    f.write(json.dumps(rec) + "\n")
            print(f"{w} seed {seed}: {rec['wall_s']:.0f} s, correct={rec['result']['correct']}", flush=True)
    print(summarise(records, bounds))
    return 0


if __name__ == "__main__":
    sys.exit(main())

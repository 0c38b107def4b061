"""Self-test of the benchmark, on sf0.001-sized inputs.

Checks that the generator is deterministic, that one pass of every
workload prints every metric BENCHMARK.json names with its unit (both
``--trace 0`` and ``--trace 1``), and that a planted wrong result is
counted as failed. Run from the root of a checkout:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--tiny", *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_generator() -> None:
    with tempfile.TemporaryDirectory(dir=".") as tmp:
        a, b, c = (os.path.join(tmp, x) for x in "abc")
        gen.write_dataset(a, 1, 0.1, 100)
        gen.write_dataset(b, 1, 0.1, 100)
        gen.write_dataset(c, 2, 0.1, 100)
        for name in sorted(os.listdir(a)):
            ha, hb, hc = (gen.row_hash(os.path.join(d, name)) for d in (a, b, c))
            if ha != hb:
                raise SystemExit(f"generator: {name} differs for the same seed")
            rows = {gen.pq.read_metadata(os.path.join(d, name)).num_rows for d in (a, c)}
            if len(rows) != 1:
                raise SystemExit(f"generator: {name} row count depends on the seed")
            if ha == hc and name not in ("region.parquet", "nation.parquet"):
                raise SystemExit(f"generator: {name} is the same for a new seed")


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    check_generator()
    for w in spec["workloads"]:
        for trace in (0, 1):
            res = _run(w["name"], trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                raise SystemExit(f"{w['name']} --trace {trace}: metrics {got} != {want[trace]}")
            if not res["correct"] or res["failed"]:
                raise SystemExit(f"{w['name']} --trace {trace}: {res['failed']} failed")
            print(f"ok {w['name']} --trace {trace}: {len(got)} metrics, {res['attempted']} attempted")
    for w in spec["workloads"]:
        res = _run(w["name"], 0, "--plant-wrong")
        if res["correct"] or res["failed"] < 1:
            raise SystemExit(f"{w['name']}: planted wrong result not counted as failed")
        print(f"ok {w['name']} --plant-wrong: {res['failed']} failed of {res['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

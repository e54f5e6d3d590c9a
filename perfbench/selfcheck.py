#!/usr/bin/env python3
"""Self-checks of the benchmark, from the repository root:

    python3 perfbench/selfcheck.py [--no-smoke]

1. The generators are deterministic per seed (and the seed matters).
2. The metric names and units run.py prints match BENCHMARK.json.
3. A smoke run of every workload (small metastore, the smallest tables,
   one-second measurement), untraced and traced, passes its output checks
   and prints exactly the metrics BENCHMARK.json names.
"""
import hashlib
import glob
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    return cond


def digest(d):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(d, "*"))):
        h.update(os.path.basename(f).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def main():
    ok = True
    for size in gen.CATALOG_SIZES:
        ok &= check(gen.catalog_spec(7, size) == gen.catalog_spec(7, size)
                    and gen.catalog_spec(7, size) != gen.catalog_spec(8, size),
                    f"catalog spec '{size}' is a function of the seed")
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")
                                     if os.path.isdir(os.path.join(ROOT, ".bench_build"))
                                     else None) as t:
        gen.write_tables(os.path.join(t, "a"))
        gen.write_tables(os.path.join(t, "b"))
        ok &= check(digest(os.path.join(t, "a")) == digest(os.path.join(t, "b")),
                    "query tables are byte-identical across generations")

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    layers = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    ok &= check(e2e == [tuple(x) for x in run.END_TO_END], "end-to-end metrics match BENCHMARK.json")
    ok &= check(layers == run.per_layer_metrics(run.WORKLOADS),
                "per-layer metrics match BENCHMARK.json")
    ok &= check(all(w["name"] in run.WORKLOADS for w in spec["workloads"]),
                "every BENCHMARK.json workload exists in run.py")

    if "--no-smoke" not in sys.argv:
        for name in run.WORKLOADS:
            for trace, want in ((0, e2e), (1, layers)):
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                    "--workload", name, "--seed", "1", "--seconds", "1",
                                    "--trace", str(trace), "--smoke"],
                                   cwd=ROOT, capture_output=True, text=True, timeout=900)
                last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
                try:
                    res = json.loads(last)
                except ValueError:
                    res = {}
                good = (p.returncode == 0 and res.get("correct") is True
                        and res.get("failed") == 0 and res.get("attempted", 0) >= 1
                        and [(n, m["unit"]) for n, m in res["metrics"].items()]
                        == [(w[0], w[1]) for w in want])
                ok &= check(good, f"smoke run {name} --trace {trace}"
                            + ("" if good else f": exit {p.returncode}, {p.stderr[-500:]}"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

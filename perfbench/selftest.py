"""Tests of the benchmark itself, run from the repository root:

    python3 perfbench/selftest.py

Runs the harness's attribution checks (harness/src/perfbench/SelfTest.scala:
a known call gets the same exact job count on every repetition, jobs from
threads started in a span land in that span, nesting is recorded) twice in
separate JVMs and requires the same counts both times, then checks the
Python side: self times, the per-layer table and the digest canonical form.
"""

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import expect  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


DOUBLES = (0.1, 23.0, -0.0, 123456789.0, 1e-9, 2.675, 1 / 3, -7.25e12, 5e-324)


def jvm_selftest():
    jar = os.path.abspath(build.build())
    data = os.path.abspath(run.data_dir())
    work = os.path.abspath(os.path.join(build.build_dir(), "work", f"selftest-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        r = subprocess.run(run.java_cmd(jar, "perfbench.SelfTest",
                                        [data, work, *map(repr, DOUBLES)], work),
                           cwd=work, capture_output=True, text=True, timeout=run.TIMEOUT_S)
        if r.returncode != 0:
            sys.exit("JVM selftest failed:\n" + r.stdout[-2000:] + r.stderr[-4000:])
        return json.loads(r.stdout.strip().splitlines()[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def python_checks():
    spans = [{"id": 1, "parent": 0, "dur_s": 3.0}, {"id": 2, "parent": 1, "dur_s": 1.0},
             {"id": 3, "parent": 1, "dur_s": 0.5}]
    st = {s["id"]: s["self_s"] for s in layers.with_self_times(spans)}
    assert st == {1: 1.5, 2: 1.0, 3: 0.5}, st
    names = [m for m, _ in layers.METRICS]
    assert len(names) == len(set(names)) <= 128, "per-layer names must be unique, at most 128"
    with open(os.path.join(run.HERE, "..", "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer"]]
    assert declared == names, "BENCHMARK.json per_layer differs from layers.METRICS"


def main():
    first, second = jvm_selftest(), jvm_selftest()
    assert first == second, f"job counts differ between JVMs: {first} vs {second}"
    python_checks()
    mine = [expect.canon_double(x) for x in DOUBLES]
    assert mine == first["canon"], f"canonical doubles differ: {mine} vs {first['canon']}"
    print(json.dumps({"selftest": "ok", **first}))


if __name__ == "__main__":
    main()

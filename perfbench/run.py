"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload report_etl --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
harness (see build.py) and generates the fixture tables (gen_data.py);
later runs reuse both. Everything the run writes stays under the build
directory ($CARGO_TARGET_DIR, default .bench_build): the per-run work
directory is deleted at exit, and a result file stamped with provenance is
kept under results/ (compare.py compares two of them).

With --trace 0 the printed metrics are the end-to-end ones, with --trace 1
the per-layer ones; see perfbench/README.md for what each one means.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen_data  # noqa: E402
import layers  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("report_etl", "query_mix", "corpus_stream")
# One fixture dataset for every workload, generated once per checkout.
DATA = {"sf": 0.001, "docs": 1000, "seed": 42}
DATA_VERSION = "sf0.001-d1000-s42-v1"
XMX = "3g"
TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 400
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Provenance two results must share to be compared: everything but the git
# rev (comparing revs is the point), the seed (it only reorders inputs),
# loadavg and steal (recorded, flagged by compare.py).
PROVENANCE_MATCH = ("cpus", "shuffle_partitions", "sf_dir", "xmx", "jvm", "spark",
                    "workload", "seconds", "trace", "params")

E2E_UNITS = {"setup_s": "s", "ok_frac": "share", "op_p50_s": "s", "items_per_s": "1/s",
             "part_a_s": "s", "part_b_s": "s", "op_geomean_s": "s"}


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def cpu_times():
    """(steal, total) jiffies over all cpus; steal is time the hypervisor
    gave to other guests, so it marks co-tenant noise in a run."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except OSError:
        return 0, 0


def data_dir():
    out = os.path.join(build.build_dir(), "data", DATA_VERSION)
    if not os.path.exists(os.path.join(out, ".ok")):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(out, DATA["sf"], DATA["docs"], DATA["seed"])
        open(os.path.join(out, ".ok"), "w").close()
    return out


def source_rev():
    """git rev when the checkout is a repository, else a hash of the sources."""
    if os.path.isdir(".git"):
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return "src-" + os.path.basename(os.path.dirname(build.build())).split("-", 1)[1]


def java_cmd(jar, main, args, work, extra_props=(), jvm_opts=()):
    cp = jar + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    props = ["-Dsun.net.httpserver.nodelay=true",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dperfbench.expected=" + os.path.join(HERE, "expected", "query_mix.tsv"),
             *extra_props]
    return ["java", "-Xmx" + XMX, "-XX:-UsePerfData", *jvm_opts, *opens, *props,
            "-cp", cp, main, *args]


def wait_jvm(p, timeout_s):
    """Wait for the JVM; return (exit status, rusage), killing it on timeout."""
    status, rusage = None, None
    deadline = time.time() + timeout_s
    try:
        while status is None and time.time() < deadline:
            pid, st, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                status, rusage = st, ru
            else:
                time.sleep(0.05)
    finally:
        if status is None:  # timed out or interrupted: never leave the JVM behind
            p.kill()
            os.wait4(p.pid, 0)
    if status is None:
        raise RuntimeError(f"harness JVM exceeded {timeout_s}s")
    return os.waitstatus_to_exitcode(status), rusage


def class_archive(jar, data):
    """The JVM class-data archive for this build, made once after the
    build by a JVM that runs every workload's set-up (`perfbench.Main
    train`). Runs that map it skip loading and verifying the Spark and
    engine classes again, which takes seconds of each run's set-up."""
    jsa = os.path.join(os.path.dirname(jar), "harness.jsa")
    if os.path.exists(jsa):
        return jsa
    work = os.path.abspath(os.path.join(build.build_dir(), "work", f"train-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tmp = jsa + f".{os.getpid()}.tmp"
    cmd = java_cmd(jar, "perfbench.Main", ["train", "1", "0", "0", data, work, "-", "0"], work,
                   jvm_opts=["-XX:ArchiveClassesAtExit=" + tmp])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        code, _ = wait_jvm(subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT),
                           TRAIN_TIMEOUT_S)
    if code != 0 or not os.path.exists(tmp):
        with open(os.path.join(work, "jvm.log")) as fh:
            raise RuntimeError(f"class-archive JVM exited {code}:\n{fh.read()[-4000:]}")
    os.replace(tmp, jsa)
    shutil.rmtree(work, ignore_errors=True)
    return jsa


def run_jvm(workload, seed, seconds, trace, extra_props=()):
    """Launch the harness JVM; return (raw result dict, peak RSS MB, work dir)."""
    jar = os.path.abspath(build.build())
    data = os.path.abspath(data_dir())
    jsa = class_archive(jar, data)
    work = os.path.abspath(os.path.join(
        build.build_dir(), "work", f"{workload}-{seed}-{trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    launch_ms = str(int(time.time() * 1000))
    args = [workload, str(seed), str(seconds), str(trace), data, work, result_path, launch_ms]
    cmd = java_cmd(jar, "perfbench.Main", args, work, extra_props,
                   jvm_opts=["-XX:SharedArchiveFile=" + jsa])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        code, rusage = wait_jvm(
            subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT), TIMEOUT_S)
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"harness JVM exited {code}:\n{tail}")
    with open(result_path) as fh:
        raw = json.load(fh)
    return raw, rusage.ru_maxrss / 1024.0, work


def end_to_end(raw):
    attempted = max(1, raw["attempted"])
    m = dict(raw["e2e"])
    m["setup_s"] = raw["setup_s"]
    m["ok_frac"] = 1.0 - len(raw["failures"]) / attempted
    return {k: {"value": m[k], "unit": E2E_UNITS[k]} for k in E2E_UNITS}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # turn SIGTERM into an exception so run_jvm stops its JVM before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        sys.exit("perfbench: no engine sources (src/main/scala) here; "
                 "run from the repository root")

    load_in, cpu_in = loadavg(), cpu_times()
    raw, rss_mb, work = run_jvm(a.workload, a.seed, a.seconds, a.trace)
    load_out, cpu_out = loadavg(), cpu_times()
    steal = (cpu_out[0] - cpu_in[0]) / max(1, cpu_out[1] - cpu_in[1])
    failures = raw["failures"]
    if a.trace:
        spans = layers.read_spans(os.path.join(work, "spans.jsonl"))
        metrics = layers.per_layer(spans, raw, rss_mb)
    else:
        spans = None
        metrics = end_to_end(raw)
    # a metric with no successful sample is NaN: printed as null, and the
    # run is not correct
    for v in metrics.values():
        if not (isinstance(v["value"], (int, float)) and math.isfinite(v["value"])):
            v["value"] = None
    correct = not failures and all(v["value"] is not None for v in metrics.values())

    provenance = {
        "cpus": raw["cpus"], "shuffle_partitions": raw["shuffle_partitions"],
        "sf_dir": DATA_VERSION, "rev": source_rev(), "xmx": XMX,
        "jvm": raw["java_version"], "spark": raw["spark_version"],
        "loadavg_entry": load_in, "loadavg_exit": load_out, "cpu_steal_share": steal,
        "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "workload": a.workload, "params": raw.get("params", {})}
    os.makedirs(os.path.join(build.build_dir(), "results"), exist_ok=True)
    stem = os.path.join(build.build_dir(), "results",
                        f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}")
    record = {"provenance": provenance, "metrics": metrics, "correct": correct,
              "attempted": raw["attempted"], "failures": failures,
              "named": raw.get("named", {}), "setup": raw.get("setup", {}),
              "samples": raw.get("samples", {}), "peak_rss_mb": rss_mb}
    if spans is not None:
        shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
        record["layers"] = layers.summary(spans)
        same = [k for k in PROVENANCE_MATCH if k != "trace"] + ["rev", "seed"]
        record["trace_overhead"] = layers.overhead(build.build_dir(), provenance, raw, same)
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()

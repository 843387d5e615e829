"""Per-layer metrics from a traced run's spans.

A span is one timed call into a layer (see harness/src/perfbench/Trace.scala):
name, layer, start/end, parent span, run id, and the Spark jobs, stages and
task metrics the listener attributed to it. Self time is a span's duration
minus the durations of its child spans.

Every per-layer metric is normalised per unit of the workload's own loop
(per ETL cycle, per query pass, per micro-batch), so counts such as jobs
per cycle repeat exactly from run to run. Layers a workload does not call
report 0.
"""

import collections
import glob
import json
import os

PACKS = ("Pipeline", "TextOps", "Similarity", "Graph", "Curation", "Corpus", "Vocab")
PACK_METRICS = (
    ("busy_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_s", "s"), ("cpu_s", "s"), ("driver_gap_s", "s"), ("core_util", "share"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
    ("materialized_blocks", "count"), ("materialized_mb", "MB"))

# (metric, unit), in the order BENCHMARK.json lists them.
METRICS = [
    ("HttpIngest.busy_s", "s"), ("HttpIngest.requests", "count"),
    ("HttpIngest.retries", "count"), ("HttpIngest.useful_ratio", "share"),
    ("HttpIngest.overhead_ms", "ms"), ("fixture.service_ms", "ms"),
    ("PrismaConnector.busy_s", "s"), ("PrismaConnector.jobs", "count"),
    ("PrismaConnector.stages", "count"), ("PrismaConnector.tasks", "count"),
    ("PrismaConnector.task_s", "s"), ("PrismaConnector.driver_gap_s", "s"),
    ("PrismaConnector.files_out", "count"), ("PrismaConnector.bytes_out", "bytes"),
    *[(f"queries.{p}.{m}", u) for p in PACKS for m, u in PACK_METRICS],
    ("queries.gc_s", "s"), ("queries.spill_mb", "MB"),
    ("IncrementalCorpus.ingest_s", "s"), ("IncrementalCorpus.jobs", "count"),
    ("IncrementalCorpus.task_s", "s"), ("IncrementalCorpus.driver_gap_s", "s"),
    ("IncrementalCorpus.shuffle_write_mb", "MB"), ("IncrementalCorpus.maintain_s", "s"),
    ("IncrementalCorpus.snapshot_jobs", "count"),
    ("state.bytes", "bytes"), ("state.files", "count"), ("state.write_amp", "ratio"),
    ("TieredStore.uncompacted_batches", "count"), ("TieredStore.buckets", "count"),
    ("jvm.gc_s", "s"), ("jvm.peak_rss_mb", "MB"), ("setup.session_s", "s"),
    ("setup.warm_s", "s"), ("setup.fixture_s", "s"), ("failed_frac", "share"),
]
MB = 1024.0 * 1024.0


def read_spans(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def with_self_times(spans):
    child = collections.defaultdict(float)
    for s in spans:
        child[s["parent"]] += s["dur_s"]
    for s in spans:
        s["self_s"] = s["dur_s"] - child[s["id"]]
    return spans


def _sum(spans, key):
    return sum(s[key] for s in spans)


def _gap(spans):
    return sum(max(0.0, s["dur_s"] - s["job_union_s"]) for s in spans)


def per_layer(spans, raw, rss_mb):
    """The per-layer metrics of one traced run, as {name: {value, unit}}."""
    cpus = raw["cpus"]
    units = max(1, raw.get("units", 1))
    timed = [s for s in spans if s["start_ms"] >= raw["measure_start_ms"]]
    by = collections.defaultdict(list)
    for s in timed:
        by[s["layer"]].append(s)
    v = dict.fromkeys((m for m, _ in METRICS), 0.0)

    http = by["HttpIngest"]
    v["HttpIngest.busy_s"] = _sum(http, "dur_s") / units
    pc = by["PrismaConnector"]
    for k, key in (("busy_s", "dur_s"), ("jobs", "jobs"), ("stages", "stages"),
                   ("tasks", "tasks"), ("task_s", "task_s")):
        v[f"PrismaConnector.{k}"] = _sum(pc, key) / units
    v["PrismaConnector.driver_gap_s"] = _gap(pc) / units

    gc = spill = 0.0
    for p in PACKS:
        ss = by[f"queries.{p}"]
        busy = _sum(ss, "dur_s")
        pre = f"queries.{p}."
        for k in ("jobs", "stages", "tasks", "task_s", "cpu_s"):
            v[pre + k] = _sum(ss, k) / units
        v[pre + "busy_s"] = busy / units
        v[pre + "driver_gap_s"] = _gap(ss) / units
        v[pre + "core_util"] = _sum(ss, "task_s") / (busy * cpus) if busy else 0.0
        v[pre + "shuffle_write_mb"] = _sum(ss, "shuffle_write_b") / MB / units
        v[pre + "shuffle_read_mb"] = _sum(ss, "shuffle_read_b") / MB / units
        v[pre + "materialized_blocks"] = sum(
            s["attrs"].get("materialized_blocks", 0) for s in ss) / units
        v[pre + "materialized_mb"] = sum(
            s["attrs"].get("materialized_b", 0) for s in ss) / MB / units
        gc += _sum(ss, "gc_s")
        spill += _sum(ss, "spill_b")
    v["queries.gc_s"] = gc / units
    v["queries.spill_mb"] = spill / MB / units

    inc = by["IncrementalCorpus"]
    ingest = [s for s in inc if s["name"] == "ingestBatch"]
    v["IncrementalCorpus.ingest_s"] = _sum(ingest, "dur_s") / units
    v["IncrementalCorpus.jobs"] = _sum(ingest, "jobs") / units
    v["IncrementalCorpus.task_s"] = _sum(ingest, "task_s") / units
    v["IncrementalCorpus.driver_gap_s"] = _gap(ingest) / units
    v["IncrementalCorpus.shuffle_write_mb"] = _sum(ingest, "shuffle_write_b") / MB / units
    snaps = [s for s in inc if s["name"] == "snapshot"]
    v["IncrementalCorpus.snapshot_jobs"] = _sum(snaps, "jobs") / max(1, len(snaps))

    for k, x in raw.get("layers", {}).items():
        v[k] = x
    setup = raw.get("setup", {})
    v["jvm.gc_s"] = raw["jvm_gc_s"]
    v["jvm.peak_rss_mb"] = rss_mb
    v["setup.session_s"] = setup.get("session_s", 0.0)
    v["setup.warm_s"] = setup.get("warm_s", 0.0)
    v["setup.fixture_s"] = setup.get("fixture_s", 0.0)
    v["failed_frac"] = len(raw["failures"]) / max(1, raw["attempted"])
    return {m: {"value": float(v[m]), "unit": u} for m, u in METRICS}


def summary(spans):
    """Per layer and per span name: count, total and self seconds."""
    out = collections.defaultdict(lambda: {"spans": 0, "total_s": 0.0, "self_s": 0.0,
                                           "jobs": 0})
    for s in with_self_times(spans):
        for key in (s["layer"], f'{s["layer"]}/{s["name"]}'):
            o = out[key]
            o["spans"] += 1
            o["total_s"] += s["dur_s"]
            o["self_s"] += s["self_s"]
            o["jobs"] += s["jobs"]
    return dict(out)


def overhead(build_dir, provenance, raw, same):
    """Traced minus untraced end-to-end numbers, against the latest untraced
    result in this build directory whose provenance agrees on the keys
    `same` (the caller's: same code, seed and settings)."""
    best = None
    pattern = f'{provenance["workload"]}-*-trace0-*.json'
    for f in glob.glob(os.path.join(build_dir, "results", pattern)):
        with open(f) as fh:
            r = json.load(fh)
        if all(r["provenance"].get(k) == provenance.get(k) for k in same):
            if best is None or os.path.getmtime(f) > best[0]:
                best = (os.path.getmtime(f), f, r)
    if best is None:
        return {"note": "no untraced result with the same provenance yet; "
                        "run the same command with --trace 0 first"}
    base = best[2]["metrics"]
    out = {"untraced_result": os.path.basename(best[1])}
    for k, x in dict(raw["e2e"], setup_s=raw["setup_s"]).items():
        if k in base:
            u = base[k]["value"]
            out[k] = {"traced": x, "untraced": u, "delta": x - u,
                      "share": (x - u) / u if u else None}
    return out

"""Turn the JVM's raw run record into the benchmark's metrics.

End-to-end metrics come from an untraced run, per-layer metrics from a
traced run of the same work; the tracing overhead compares the two.
Every helper here is pure: it reads the record dict and returns numbers.
"""

import math
import statistics

# The public entry points timed per call, and the warehouse query modules.
ENTRY_POINTS = ["ops.AnnIndex.search", "ops.AnnIndex.searchRerank",
                "ops.TextIndex.search", "ops.DedupIndex.queryBatch",
                "ops.LmModel.scoreBatch", "ops.QualityModel.scoreBatch",
                "ops.IngestionGate.decide", "ops.IngestionGate.gateBatch",
                "ops.TextIndex.append"]
MODULES = ["ops.Analytics", "ops.Clean", "ops.Dimensional", "ops.Joins",
           "ops.Events", "ops.Quality"]
BUILDS = ["AnnIndex", "TextIndex", "DedupIndex", "LmModel", "QualityModel"]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def op_seconds(op):
    return (op["end_us"] - op["start_us"]) / 1e6


def primary(op):
    """Ops that make the end-to-end latency: every op, except intake's
    read-after-write probes, which are reported per layer."""
    return not op["kind"].startswith("probe_")


def tail(latencies):
    """(percentile, value): the highest percentile with at least ten ops
    beyond it. Below eleven ops there is none; the maximum stands in."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return 100, xs[-1]
    return math.floor(100 * (n - 10) / n), xs[n - 11]


def quarter_ratio(ops, value):
    """Median `value` over the last quarter of each pass divided by the
    median over its first quarter, pooled over passes. Each value is first
    divided by its kind's median (the kind is the call, without its
    input), so a seeded order of unlike ops reads 1.0 and only a change
    over time moves it. A kind run once per pass always reads 1.0."""
    def kind(o):
        return o["kind"].split("/")[0]
    by_kind = {}
    for o in ops:
        by_kind.setdefault(kind(o), []).append(value(o))
    med = {k: _median(v) for k, v in by_kind.items()}
    first, last = [], []
    for p in sorted({o["pass"] for o in ops}):
        seq = [value(o) / med[kind(o)] if med[kind(o)] else 1.0
               for o in ops if o["pass"] == p]
        q = max(1, len(seq) // 4)
        first += seq[:q]
        last += seq[-q:]
    return _median(last) / _median(first) if first and _median(first) else 1.0


def drift(ops):
    """Op latency drift within a pass (see `quarter_ratio`)."""
    return quarter_ratio(ops, op_seconds)


def timed_ops(rec):
    return [o for o in rec["ops"] if o["pass"] > 0 and primary(o)]


def end_to_end(rec, failed):
    ops = timed_ops(rec)
    passes = rec["passes"]
    lat = [op_seconds(o) for o in ops]
    pct, tail_v = tail(lat)
    m = {
        "setup_s": (_median([r["total_s"] for r in rec["setup"]]), "s"),
        "run_s": (_median([p["s"] for p in passes]), "s"),
        "ops_per_s": (len(ops) / sum(p["s"] for p in passes), "1/s"),
        "op_p50_s": (_median(lat), "s"),
    }
    info = {"op_tail_s": tail_v, "op_tail_percentile": pct,
            "op_tail_samples": len(lat),
            "op_drift": drift(ops), "failed": failed, "attempted": len(ops)}
    return m, info


def _union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Per span name: total duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ch = [(c["start_us"], c["end_us"]) for c in kids.get(s["id"], [])]
        own = (s["end_us"] - s["start_us"]) - _union_ms(ch)
        out[s["name"]] = out.get(s["name"], 0) + own
    return out


def per_layer(rec, failed, attempted, untraced_run_s):
    """`untraced_run_s` is run_s of an untraced run of the same workload
    and seed (None when there is none; the overhead then reads 0)."""
    traced = [o for o in rec["ops"] if o["traced"]]
    spark = {s["op"]: s for s in rec["op_spark"]}
    jobs = {}
    for j in rec["jobs"]:
        if j["end_ms"] >= 0:
            jobs.setdefault(j["op"], []).append((j["start_ms"], j["end_ms"]))
    spans = [s for s in rec["spans"] if s["op"] >= 0]

    def gap_ms(o):
        wall = (o["end_us"] - o["start_us"]) / 1e3
        return max(0.0, wall - _union_ms(jobs.get(o["id"], [])))

    def sp(o, key):
        return spark.get(o["id"], {}).get(key, 0)

    n = max(1, len(traced))
    ids = {o["id"] for o in traced}
    wall_ms = sum(op_seconds(o) * 1e3 for o in traced)
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    for key, name, unit in [("jobs", "spark.jobs", "count"),
                            ("stages", "spark.stages", "count"),
                            ("tasks", "spark.tasks", "count"),
                            ("exec_run_ms", "spark.exec_run_ms", "ms"),
                            ("shuffle_write_bytes", "spark.shuffle_write_bytes", "bytes"),
                            ("shuffle_read_bytes", "spark.shuffle_read_bytes", "bytes"),
                            ("spill_bytes", "spark.spill_bytes", "bytes"),
                            ("input_bytes", "spark.input_bytes", "bytes"),
                            ("output_bytes", "spark.output_bytes", "bytes")]:
        put(name, sum(sp(o, key) for o in traced) / n, unit)
    gaps = [gap_ms(o) for o in traced]
    put("spark.driver_gap_ms", _mean(gaps), "ms")
    put("spark.driver_gap_frac", sum(gaps) / wall_ms if wall_ms else 0.0, "ratio")
    # driver-side analysis + optimization + planning of every query an op ran
    put("catalyst.plan_ms", sum(
        p["plan_ms"] for p in rec["plans"] for o in traced
        if o["start_us"] <= p["start_ms"] * 1000 <= o["end_us"]) / n, "ms")

    put("spark.input_bytes_growth", quarter_ratio(
        [o for o in traced if primary(o)], lambda o: sp(o, "input_bytes")), "ratio")

    disk = rec.get("disk_samples", [])
    traced_disk = [d for d in disk if d["after_op"] in ids]
    def files(d):
        return sum(x["files"] for x in d["dirs"] if x["dir"] != "accepted")
    def nbytes(d, only=None):
        return sum(x["bytes"] for x in d["dirs"]
                   if (x["dir"] == only if only else x["dir"] != "accepted"))
    if traced_disk:
        put("index.files", files(traced_disk[-1]), "count")
        put("index.files_growth", files(traced_disk[-1]) - files(traced_disk[0]), "count")
        put("index.bytes_on_disk", nbytes(traced_disk[-1]), "bytes")
        gate_ops = [o for o in traced if o["group"] == "ops.IngestionGate.gateBatch"]
        put("sources.accepted_bytes",
            nbytes(traced_disk[-1], "accepted") / max(1, len(gate_ops)), "bytes")
    else:
        for name, unit in [("index.files", "count"), ("index.files_growth", "count"),
                           ("index.bytes_on_disk", "bytes"),
                           ("sources.accepted_bytes", "bytes")]:
            put(name, 0, unit)

    st = [s for s in rec.get("storage_samples", []) if s["after_op"] in ids]
    put("storage.persistent_rdds", st[-1]["persistent_rdds"] if st else 0, "count")
    put("storage.mem_bytes", st[-1]["mem_bytes"] if st else 0, "bytes")
    put("storage_retained_mb", rec["storage_end"]["mem_bytes"] / 1e6, "MB")

    # self time per op of the benchmark-side span classes
    own = self_times(spans)
    put("self.op_ms", sum(v for k, v in own.items() if k.startswith("op:")) / 1e3 / n, "ms")
    put("self.call_ms", sum(v for k, v in own.items() if k.startswith("ops.")) / 1e3 / n, "ms")
    put("self.action_ms", own.get("spark.action", 0) / 1e3 / n, "ms")

    for g in ENTRY_POINTS + MODULES:
        os_ = [o for o in traced if o["group"] == g]
        # entry points also called inside another op (TextIndex.append
        # after a gate batch) are timed by their span
        if not os_ and any(s["name"] == g for s in spans):
            calls = [s for s in spans if s["name"] == g]
            put(f"{g}.latency_ms", _median([(s["end_us"] - s["start_us"]) / 1e3 for s in calls]), "ms")
            put(f"{g}.jobs", 0, "count")
            put(f"{g}.driver_gap_ms", 0, "ms")
            continue
        put(f"{g}.latency_ms", _median([op_seconds(o) * 1e3 for o in os_]), "ms")
        put(f"{g}.jobs", _mean([sp(o, "jobs") for o in os_]), "count")
        put(f"{g}.driver_gap_ms", _mean([gap_ms(o) for o in os_]), "ms")

    setup_steps = {}
    for r in rec["setup"]:
        for s in r["steps"]:
            setup_steps.setdefault(s["name"], []).append(s["s"])
    for b in BUILDS:
        put(f"build.{b}.write_s", _median(setup_steps.get(b, [])), "s")
    put("build.open_tables_s", _median(setup_steps.get("open_tables", [])), "s")
    put("session_s", rec["session_s"], "s")
    put("warmup_s", rec.get("warmup_s", 0.0), "s")

    run_s = _median([p["s"] for p in rec["passes"]])
    put("trace.overhead_frac",
        run_s / untraced_run_s - 1 if untraced_run_s else 0.0, "ratio")
    ops = timed_ops(rec)
    put("op_tail_s", tail([op_seconds(o) for o in ops])[1], "s")
    put("op_drift", drift(ops), "ratio")
    put("failed_frac", failed / attempted if attempted else 0.0, "ratio")
    put("host.probe_before_s", rec["host_probe_before_s"], "s")
    put("host.probe_after_s", rec["host_probe_after_s"], "s")
    return m

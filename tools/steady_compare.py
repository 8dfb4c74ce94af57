#!/usr/bin/env python3
"""Steady-vs-steady bench regression gate (round-5 verdict item 5).

Compares the post-JIT median-of-3 `steady` maps of two bench runs and
flags per-query regressions beyond a ratio threshold. One-shot times on
a loaded host swing ±40% uniformly (the round-4/5 lesson); the steady
medians are the numbers stable enough to gate on.

Usage:
    python3 tools/steady_compare.py OLD.json NEW.json [--threshold 1.3]
                                    [--floor 0.15] [--cpus N]

A query only FAILS the gate when its ratio exceeds the threshold AND its
new steady time exceeds the floor — sub-150 ms medians are scheduler
noise, not plans. A flagged query is a candidate, not a verdict: confirm
with a same-window A/B (probe the query on the old commit in a worktree,
contemporaneously) before treating it as a code regression — steady
medians still drift with host load, just far less than one-shots.

Accepts either the driver's BENCH_r{N}.json wrapper (reads .parsed) or a
raw one-line bench JSON (as printed by graft.Bench, possibly embedded in
captured stdout — the last '{"metric":...}' line wins).

Steady times depend on the core count (parallel-friendly queries run
1.3-1.5x slower at 4 cores than at 32), so each side's core count is
printed and the gate refuses to compare two runs at different counts:
compare a 4-core run (every main's default) against a 4-core baseline
such as BENCH_r19_c4.json. A wrapper carries its `cpus`; a raw bench
JSON carries none, so give the count it ran at (graft.Bench's
SPARK_GRAFT_CPUS, default 4) with --cpus N. The gate also refuses when
one side's count is known and the other's is not.

Exit code 1 if any shared query's steady time regressed beyond the
threshold, 2 if the core counts differ or only one is known, 0
otherwise (new/missing queries are reported, not failed).
"""
import json
import re
import sys


def load_bench(path):
    """(bench JSON, core count or None) of a wrapper or raw bench output."""
    text = open(path).read()
    try:
        doc = json.loads(text)
        if isinstance(doc, dict) and "parsed" in doc:
            return doc["parsed"] or {}, doc.get("cpus")
        if isinstance(doc, dict):
            return doc, None
    except json.JSONDecodeError:
        pass
    # captured stdout: find the last metric line
    lines = [l for l in text.splitlines() if l.lstrip().startswith('{"metric"')]
    if not lines:
        raise SystemExit(f"{path}: no bench JSON found")
    return json.loads(lines[-1].strip()), None


def main():
    argv = sys.argv[1:]
    thr, floor, raw_cpus = 1.3, 0.15, None
    args = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--threshold" or a.startswith("--threshold="):
            if "=" in a:
                thr = float(a.split("=", 1)[1])
            elif i + 1 < len(argv):
                thr = float(argv[(i := i + 1)])
            else:
                raise SystemExit("--threshold needs a value\n" + __doc__)
        elif a == "--floor" or a.startswith("--floor="):
            if "=" in a:
                floor = float(a.split("=", 1)[1])
            elif i + 1 < len(argv):
                floor = float(argv[(i := i + 1)])
            else:
                raise SystemExit("--floor needs a value\n" + __doc__)
        elif a == "--cpus" or a.startswith("--cpus="):
            if "=" in a:
                raw_cpus = int(a.split("=", 1)[1])
            elif i + 1 < len(argv):
                raw_cpus = int(argv[(i := i + 1)])
            else:
                raise SystemExit("--cpus needs a value\n" + __doc__)
        elif a.startswith("--"):
            raise SystemExit(f"unknown flag {a}\n" + __doc__)
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        raise SystemExit(__doc__)
    (old, cpus_o), (new, cpus_n) = (load_bench(p) for p in args)
    cpus_o = raw_cpus if cpus_o is None else cpus_o
    cpus_n = raw_cpus if cpus_n is None else cpus_n
    print(f"cpus: old {cpus_o if cpus_o is not None else 'unknown'}, "
          f"new {cpus_n if cpus_n is not None else 'unknown'}")
    if (cpus_o is None) != (cpus_n is None):
        print("REFUSED: one run's core count is unknown; give a raw bench "
              "JSON's count with --cpus N (graft.Bench's SPARK_GRAFT_CPUS, "
              "default 4).")
        return 2
    if cpus_o != cpus_n:
        print(f"REFUSED: the runs used different core counts ({cpus_o} vs "
              f"{cpus_n}); steady times are not comparable across them. "
              f"Compare against a baseline recorded at {cpus_n} cores.")
        return 2
    so, sn = old.get("steady", {}), new.get("steady", {})
    shared = sorted(set(so) & set(sn))
    regressions = []
    # Window-heat normalization (round 17): when both runs carry the
    # parallel-load calibration row (`calib_par`, a fixed 32-partition
    # shuffle-aggregate), the flag gate runs on ratio/heat where
    # heat = calib_par_new/calib_par_old — the r16 driver window drifted
    # untouched queries 1.40-1.46x while the scalar calib read equal, so
    # raw steady ratios alone are not adjudicable under multi-core load.
    # Raw ratios still print; heat is capped at >=1.0 so a COOLER new
    # window can never excuse a genuine regression.
    cp_o, cp_n = old.get("calib_par", 0) or 0, new.get("calib_par", 0) or 0
    heat = max(1.0, cp_n / cp_o) if cp_o > 0 and cp_n > 0 else 1.0
    if heat > 1.0:
        print(f"window heat (calib_par {cp_o:.3f} -> {cp_n:.3f}): "
              f"normalizing flag gate by {heat:.2f}x")
    if heat > 1.5:
        print("WARNING: window heat > 1.5x - a normalized PASS here is weak "
              "evidence (driver-bound queries over-correct); re-run in a "
              "cooler window for a definitive read")
    elif heat > 1.0:
        # round-18 (r17 ADVICE): normalization divides EVERY query's ratio
        # by the shuffle-agg heat factor, which over-corrects driver-bound
        # / single-threaded queries — caveat any normalized pass, not just
        # the >1.5x ones.
        print("note: heat > 1.0x - normalized ratios over-correct "
              "driver-bound/single-threaded queries; confirm a normalized "
              "pass near the threshold with a same-window A/B")
    # Mid-run heat-trace analysis (round 18, the r17 verdict's item 1):
    # Bench interleaves a fixed-work ~80 ms probe every 20 queries and
    # emits [query-index, seconds] pairs as `heat_trace`. A transient
    # that arrives and leaves INSIDE the one-shot loop (the r17
    # q157-q178 span) is invisible to the end-of-run calib rows but
    # lights up the probes that bracket it. Flag any probe > 1.3x the
    # run's median probe and name the bracketed query-index span.
    def heat_spans(doc, label):
        trace = doc.get("heat_trace") or []
        if len(trace) < 3:
            return
        vals = sorted(v for _, v in trace)
        med = vals[len(vals) // 2]
        if med <= 0:
            return
        hot = [(i, v) for i, v in trace if v > 1.3 * med]
        if hot:
            spans = ", ".join(f"probe@q{i} {v:.3f}s ({v / med:.1f}x med)"
                              for i, v in hot)
            print(f"HEAT-TRACE [{label}]: median probe {med:.3f}s; hot: "
                  f"{spans} - one-shot inflation of queries bracketed by a "
                  f"hot probe is WINDOW HEAT, not code")
        else:
            print(f"heat_trace [{label}]: flat (median {med:.3f}s, "
                  f"max {vals[-1] / med:.2f}x med) - one-shot span "
                  f"inflation in this run cannot be blamed on mid-loop "
                  f"host load")
    heat_spans(old, "old")
    heat_spans(new, "new")

    # Parallel heat-trace analysis (round 19): the r18 driver artifact
    # showed the SCALAR probe blind to multi-core contention — a span
    # inflated 2-10x while scalar probes read near-normal and only the
    # end-of-run calib_par recorded the heat. Bench now interleaves a
    # small calib_par-shaped probe too (`heat_trace_par`); same span
    # logic, tighter threshold is unnecessary (parallel probes swing
    # more, keep 1.3x vs median).
    def par_heat_spans(doc, label):
        trace = doc.get("heat_trace_par") or []
        if len(trace) < 3:
            return
        vals = sorted(v for _, v in trace)
        med = vals[len(vals) // 2]
        if med <= 0:
            return
        hot = [(i, v) for i, v in trace if v > 1.3 * med]
        if hot:
            spans = ", ".join(f"probe@q{i} {v:.3f}s ({v / med:.1f}x med)"
                              for i, v in hot)
            print(f"PAR-HEAT-TRACE [{label}]: median par probe {med:.3f}s; "
                  f"hot: {spans} - MULTI-CORE window heat around those "
                  f"query indexes (the failure mode the scalar probes "
                  f"cannot see)")
        else:
            print(f"heat_trace_par [{label}]: flat (median {med:.3f}s, "
                  f"max {vals[-1] / med:.2f}x med)")
    par_heat_spans(old, "old")
    par_heat_spans(new, "new")
    norm_hdr = f" {'norm':>7}" if heat > 1.0 else ""
    print(f"{'query':<30} {'old':>8} {'new':>8} {'ratio':>7}{norm_hdr}")
    for q in shared:
        a, b = so[q], sn[q]
        norm_col = ""
        if a <= 0 or b <= 0:
            flag = " (errored run)"
            ratio = float("nan")
        else:
            ratio = b / a
            normed = ratio / heat
            if heat > 1.0:
                norm_col = f" {normed:>7.2f}"
            bad = normed > thr and b > floor
            flag = ("  <-- REGRESSION" if bad
                    else "  (over threshold, under floor)" if normed > thr
                    else "  (raw over threshold, window heat)"
                    if ratio > thr else "")
            if bad:
                regressions.append((q, a, b, ratio))
        print(f"{q:<30} {a:>8.3f} {b:>8.3f} {ratio:>7.2f}{norm_col}{flag}")
    only_old = sorted(set(so) - set(sn))
    only_new = sorted(set(sn) - set(so))
    if only_old:
        print(f"left steady top-15 (old only): {', '.join(only_old)}")
    if only_new:
        print(f"entered steady top-15 (new only): {', '.join(only_new)}")
    tot_o, tot_n = old.get("value"), new.get("value")
    if tot_o and tot_n:
        print(f"one-shot totals (host-noise-sensitive): {tot_o:.1f}s -> {tot_n:.1f}s "
              f"({old.get('queries') and len(old['queries'])}/{new.get('queries') and len(new['queries'])} slow queries reported)")
    if regressions:
        print(f"\n{len(regressions)} steady regression(s) beyond {thr}x")
        return 1
    print(f"\nno steady regression beyond {thr}x across {len(shared)} shared queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The graft benchmark: one command that builds the engine, generates
seeded inputs, runs one workload in one Spark driver (local[4], one
closed-loop client), checks every output and prints the metrics.

    python3 graftbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end set;
with --trace 1 they are the per-layer set, and the full span/job record
is written to graftbench/traces/<workload>-seed<seed>.json.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

import duckdb

import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compile the library and the benchmark (one sbt project, see
    build.sbt) unless the sources are unchanged since the last build;
    return the runtime classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building the engine and the benchmark with sbt")
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "writeClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        raise RuntimeError(f"sbt build failed (rc={rc}); see {TARGET}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def run_jvm(cp, a, inputs, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "graftbench.Main", "--workload", a.workload,
           "--inputs", inputs, "--work", work, "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"the engine run exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"the engine run failed (rc={rc}):\n{tail}")
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks

def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _content(rel):
    """(sorted column names, dtypes, row count, order-insensitive hash)."""
    cols = rel.columns
    types = dict(zip(cols, [str(t) for t in rel.types]))
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x01".join(_canon(r[i]) for i in order)
                  for r in rel.fetchall())
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return sorted(cols), types, len(rows), h


def check_warehouse(rec, inputs):
    """The result table each op wrote must match the query's DuckDB oracle
    in columns, dtypes, row count and content. Returns the failed op ids
    and the misses."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(inputs, "tables", f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    expected, report = {}, {}
    for q, sql in rec["oracle_sql"].items():
        try:
            want = _content(con.sql(sql))
            got = _content(con.sql(
                f"SELECT * FROM '{rec['results_dir']}/{q}/*.parquet'"))
            ok = want == got
            report[q] = "ok" if ok else f"mismatch spark={got} oracle={want}"
            expected[q] = want[2] if ok else None
        except Exception as e:  # a missing or unreadable result is a miss
            report[q] = f"error {e}"
            expected[q] = None
    bad = {o["id"] for o in rec["ops"]
           if not o["ok"] or expected.get(o["kind"]) is None}
    return bad, {q: r for q, r in report.items() if r != "ok"}


def _rowset(cols, rows):
    """Sorted column names and the sorted canonical rows, numbers compared
    by value whatever their type on either side."""
    def canon(v):
        if v is None or isinstance(v, (bool, str)):
            return _canon(v)
        return repr(float(v))
    order = sorted(range(len(cols)), key=lambda j: cols[j])
    return sorted(cols), sorted("\x01".join(canon(r[j]) for j in order)
                                for r in rows)


def _distmicro(x, c):
    """The engine's integer micro-unit squared L2 (Advanced8.distMicroSql)."""
    return (f"CAST(ROUND((list_dot_product({x}, {x}) - 2 * list_dot_product({x}, {c})"
            f" + list_dot_product({c}, {c})) * 1000000) AS BIGINT)")


def ann_reference(ix, queries, nprobe, k):
    """AnnIndex.search replayed over the persisted index tables: probe the
    nprobe nearest lists by rounded cosine, take every vector assigned to
    them, rank by the summed per-block code distances (adist, cand)."""
    return f"""
    WITH q AS (SELECT qid, v FROM '{queries}'),
    cent AS (SELECT cid AS c_id, cv FROM '{ix}/centroids/*.parquet'),
    aff AS (
      SELECT qid, c_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        ROUND(list_dot_product(v, cv) / (sqrt(list_dot_product(v, v))
          * sqrt(list_dot_product(cv, cv))), 6) DESC, c_id) AS crank
      FROM q, cent),
    candp AS (
      SELECT DISTINCT a.qid, s.vec_id AS cand
      FROM aff a JOIN '{ix}/assigned/*.parquet' s ON s.c_id = a.c_id
      WHERE a.crank <= {nprobe}),
    codes AS (
      SELECT vec_id, b, MIN(code) AS code
      FROM read_parquet('{ix}/codes/*/*.parquet', hive_partitioning = true)
      GROUP BY vec_id, b),
    sub AS (SELECT qid, b, list_slice(v, 16 * b + 1, 16 * b + 16) AS sv
            FROM q, (SELECT unnest(range(0, 4)) AS b)),
    dtab AS (
      SELECT s.qid, s.b, cb.cid, {_distmicro("s.sv", "cb.cv")} AS dm
      FROM sub s JOIN '{ix}/codebook/*.parquet' cb ON cb.b = s.b),
    ad AS (
      SELECT x.qid, x.cand, SUM(d.dm) AS adist
      FROM candp x JOIN codes c ON c.vec_id = x.cand
      JOIN dtab d ON d.qid = x.qid AND d.b = c.b AND d.cid = c.code
      GROUP BY x.qid, x.cand)
    SELECT qid, cand, adist, CAST(ROW_NUMBER() OVER (PARTITION BY qid
      ORDER BY adist, cand) AS INTEGER) AS rnk
    FROM ad QUALIFY rnk <= {k}"""


def serve_reference(con, rec, plan, inputs, call, i):
    """(columns, rows) the serve call `call` on pool input `i` must
    return: the engine's own DuckDB oracle on the same inputs, or for ANN
    a replay of the read path over the persisted index."""
    args = plan["serve_args"]
    corpus = f"{inputs}/tables/documents.parquet"
    queries = f"{inputs}/serve/queries_{i}.parquet"
    ix = f"{rec['serve_dir']}/ann"
    if call == "ann_search":
        sql = (f"SELECT qid, rnk, cand, CAST(adist AS DOUBLE) / 1e6 AS approx_dist FROM ("
               f"{ann_reference(ix, queries, args['ann_nprobe'], args['ann_k'])})")
    elif call == "ann_search_rerank":
        # AnnIndex.searchRerank: nprobe and shortlist sized from the list count
        n_lists = con.sql(f"SELECT COUNT(*) FROM '{ix}/centroids/*.parquet'").fetchone()[0]
        nprobe = max(1, min(n_lists, math.ceil(args["rerank_frac"] * n_lists)))
        short = max(args["ann_k"], args["rerank_shortlist_per_probe"] * nprobe)
        sql = f"""
        WITH sh AS ({ann_reference(ix, queries, nprobe, short)}),
        er AS (
          SELECT sh.qid, sh.cand, {_distmicro("q.v", "CAST(e.embedding AS DOUBLE[])")} AS ed
          FROM sh JOIN '{queries}' q ON q.qid = sh.qid
          JOIN '{inputs}/tables/embeddings.parquet' e ON e.vec_id = sh.cand)
        SELECT qid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ed, cand)
          AS INTEGER) AS rnk, cand, CAST(ed AS DOUBLE) / 1e6 AS exact_dist
        FROM er QUALIFY rnk <= {args['ann_k']}"""
    else:
        if call == "text_search":
            con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{corpus}'")
            sql = rec["oracle_sql"][call]
            # q146's fixed query terms, swapped for this input's terms
            fixed = "'dup', 'vector', 'spark'"
            if fixed not in sql:
                raise RuntimeError("q146's oracle no longer names its query terms")
            terms = ", ".join(f"'{t}'" for t in plan["term_sets"][i])
            sql = sql.replace(fixed, terms)
        else:
            # arriving docs carry n_chars as the engine derives it
            con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{corpus}' "
                    "UNION ALL BY NAME SELECT doc_id, text, "
                    "CAST(length(text) AS BIGINT) AS n_chars "
                    f"FROM '{inputs}/serve/docs_{i}.parquet'")
            sql = rec["oracle_sql"][call]
            if call == "gate_decide":
                sql = f"SELECT doc_id FROM ({sql})"
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


def _project(result, cols):
    """`result`'s rows on the columns `cols` (a missing column fails)."""
    at = [result["columns"].index(c) for c in cols]
    return _rowset(cols, [[r[j] for j in at] for r in result["rows"]])


def check_serve(rec, inputs, plan):
    """Every serve call must return exactly what its reference returns on
    the same input (`serve_reference`), on the reference's columns, and
    the reference must not be empty."""
    con = duckdb.connect()
    got = {r["op"]: r for r in rec["results"]}
    want, misses, bad, notes = {}, {}, set(), {}
    for o in rec["ops"]:
        call, i = o["kind"].split("/")
        if o["kind"] not in want:
            try:
                cols, rows = serve_reference(con, rec, plan, inputs, call, int(i))
                want[o["kind"]] = (cols, _rowset(cols, rows))
            except Exception as e:  # a reference that cannot run is a miss
                want[o["kind"]] = None
                misses[o["kind"]] = f"reference error {e}"
        w = want[o["kind"]]
        try:
            same = w is not None and _project(got[o["id"]], w[0]) == w[1]
        except (KeyError, ValueError):  # no result, or a missing column
            same = False
        if not o["ok"] or not same or not w[1][1]:
            bad.add(o["id"])
            misses.setdefault(o["kind"], "differs from its reference"
                              if o["ok"] else o["note"])
        notes.setdefault(o["kind"], o["note"])
    digest = hashlib.sha256(json.dumps(notes, sort_keys=True).encode())
    return bad, {"result_digest": digest.hexdigest()[:16],
                 "serve_misses": misses}


def check_intake(rec):
    """Each batch admits exactly what the pure `decide` predicted for it on
    the same state, the accepted sink holds no duplicate doc_id and
    exactly the admitted docs, and the read-after-write probes repeat."""
    predicted = rec["predicted_admitted"]
    bad, admitted, probes, batch_no = set(), {}, {}, {}
    for o in rec["ops"]:
        if o["kind"].startswith("gate_batch"):
            i = batch_no.get(o["pass"], 0)
            batch_no[o["pass"]] = i + 1
            n = int(o["note"].split("=")[1]) if o["ok"] else -1
            admitted[o["pass"]] = admitted.get(o["pass"], 0) + max(n, 0)
            if n != predicted[i]:
                bad.add(o["id"])
        else:
            ref = probes.setdefault(o["kind"], o["note"])
            if not o["ok"] or o["note"] != ref:
                bad.add(o["id"])
    for c in rec["pass_checks"]:
        p = c["pass"]
        if not (c["accepted_rows"] == c["accepted_distinct"]
                == c["accepted_dedup_read"] == admitted.get(p, -1)):
            last = max(o["id"] for o in rec["ops"] if o["pass"] == p)
            bad.add(last)
    return bad, {"predicted_admitted": predicted}


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WHY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    if not os.path.isdir(LIB_SRC):
        log(f"engine sources not found at {os.path.relpath(LIB_SRC)}; "
            "run from a full checkout")
        return 2
    stamp = source_stamp()
    cp = build(stamp)
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "in")
        t0 = time.time()
        plan = gen.generate(a.workload, a.seed, inputs)
        t1 = time.time()
        rec = run_jvm(cp, a, inputs, os.path.join(work, "jvm"),
                      os.path.join(work, "out.json"))
        t2 = time.time()
        if a.workload == "warehouse":
            bad, detail = check_warehouse(rec, inputs)
        elif a.workload == "serve":
            bad, detail = check_serve(rec, inputs, plan)
        else:
            bad, detail = check_intake(rec)
        phases = {"generate_s": t1 - t0, "engine_s": t2 - t1,
                  "check_s": time.time() - t2}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    timed = [o for o in rec["ops"] if o["pass"] > 0]
    failed = len({o["id"] for o in timed} & bad)
    warm_bad = sum(1 for o in rec["ops"] if o["pass"] == 0 and o["id"] in bad)
    e2e, info = metrics.end_to_end(rec, failed)
    info.update(detail)
    info.update({"workload": a.workload, "why": plan["why"],
                 "input_rows": plan["input_rows"],
                 "host_probe_s": [rec["host_probe_before_s"],
                                  rec["host_probe_after_s"]],
                 "passes": [round(p["s"], 3) for p in rec["passes"]],
                 "session_s": rec["session_s"],
                 "setup_reps": [{"total_s": round(r["total_s"], 3),
                                 **{x["name"]: round(x["s"], 3) for x in r["steps"]}}
                                for r in rec["setup"]],
                 "warmup_s": rec.get("warmup_s"), "warmup_failed": warm_bad,
                 "phases_s": phases})
    traces = os.path.join(HERE, "traces")
    os.makedirs(traces, exist_ok=True)
    # untraced run_s per (workload, seed, sources): the base of a later
    # traced run's trace.overhead_frac; a base from other sources is absent
    base_file = os.path.join(traces, "untraced_run_s.json")
    key = f"{a.workload}/{a.seed}/{stamp}"
    bases = {}
    if os.path.exists(base_file):
        with open(base_file) as f:
            bases = json.load(f)
    if a.trace:
        chosen = metrics.per_layer(rec, failed, len(timed), bases.get(key))
        info["untraced_run_s"] = bases.get(key)
        path = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"metrics": {k: v[0] for k, v in chosen.items()},
                       "self_us": metrics.self_times(rec["spans"]),
                       "spans": rec["spans"], "jobs": rec["jobs"],
                       "op_spark": rec["op_spark"], "ops": rec["ops"],
                       "disk_samples": rec["disk_samples"],
                       "storage_samples": rec["storage_samples"]}, f)
        info["trace_file"] = os.path.relpath(path, ROOT)
    else:
        chosen = e2e
        bases[key] = e2e["run_s"][0]
        with open(base_file, "w") as f:
            json.dump(bases, f, sort_keys=True)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0 and warm_bad == 0,
        "attempted": len(timed), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft warehouse engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        --seconds <s> --trace <0|1>

It compiles the engine's sources and the harness under `perfbench/scala`
into `.bench_build/`, generates the fixture and the seeded inputs there,
runs the workload in one JVM on local[<all cores>], checks every output
against the engine's DuckDB oracle SQL, and prints one line per metric and,
last, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the spans go to `.bench_build/results/`.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import pickle
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import gen_fixture  # noqa: E402
import gen_months  # noqa: E402

FIXTURE_SCALE = 0.01
HEAP = "3g"
BUDGET_S = 170  # a run must end within 180 s
MB = 1048576.0

WORKLOADS = {
    "warehouse_sql": {
        "queries": [
            "q01_ingest", "q02_incremental", "q03_filter", "q05_source",
            "q10_join_broadcast", "q11_join_sortmerge", "q12_join_star",
            "q13_join_outer", "q14_join_semi", "q20_agg_group",
            "q22_agg_distinct", "q24_agg_rollup", "q27_agg_cube",
            "q30_win_rank", "q31_win_lag", "q88_subquery", "q90_sql"],
        "tables": ["customer", "lineitem", "nation", "orders", "part",
                   "region", "supplier"],
    },
    "iterative_graph": {
        "queries": ["q114_pagerank", "q201_kcore", "q139_triangles",
                    "q257_sssp", "q255_hits", "q83_dup_groups"],
        "tables": ["customer", "documents", "lineitem", "orders", "part",
                   "supplier"],
        "copurchase": True,
    },
    "ingest_monthly": {"months": 12, "redeliveries": 3, "tables": []},
    "stream_state": {
        "queries": ["q259_stream_late", "q119_stream_join",
                    "q222_stream_quota", "q249_stream_cdc"],
        "tables": ["customer", "events"],
    },
}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("wall_nosort_s", "s"),
              ("query_p50_s", "s"), ("query_tail_s", "s"),
              ("rows_per_s", "rows/s"), ("failed_ratio", "1"),
              ("peak_storage_mb", "MB")]
# The end-to-end metrics in the JSON line (BENCHMARK.json's `end_to_end`);
# the others are printed above it. failed_ratio is 0 on a healthy run and
# travels as "failed"/"attempted". query_p50_s and query_tail_s on
# stream_state (four latencies whose middle and top move with the seeded
# order), rows_per_s on ingest_monthly (the rows landed vary with the seeded
# months) and peak_storage_mb on stream_state spread too widely over seeds
# to bound a change; wall_s carries rows_per_s's signal.
GATED = ("setup_s", "wall_s", "wall_nosort_s")

PER_LAYER = {
    "setup.session_s": "s", "setup.warmup_s": "s", "setup.copurchase_s": "s",
    "ops.construct_s": "s", "ops.construct_jobs": "count",
    "ops.cut_jobs": "count", "ops.driver_action_jobs": "count",
    "ops.cut_peak_mb": "MB",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.task_run_s": "s",
    "exec.cpu_share": "1", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "plans.sort_s": "s", "plans.sort_jobs": "count",
    "sources.scan_s": "s", "sources.read_records": "count",
    "sources.read_mb": "MB", "sources.read_amplification": "1",
    "sinks.conform_s": "s", "sinks.dedup_s": "s", "sinks.append_s": "s",
    "sinks.raw_zone_s": "s", "sinks.readback_s": "s",
    "sinks.written_mb": "MB", "sinks.files_written": "count",
    "sinks.write_amplification": "1", "sinks.guard_rows": "count",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "trace.overhead_s": "s", "trace.self_sum_s": "s",
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the engine's own build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if not m:
        die("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return Path(m.group(1))


def compile_scala(jars, sources, out, classpath=""):
    """Compile `sources` into `out` unless their digest is unchanged."""
    stamp = out / ".stamp"
    key = digest(sources, extra=classpath)
    if stamp.exists() and stamp.read_text() == key:
        return
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={WORK}", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + [str(s) for s in sources], cwd=ROOT,
                       capture_output=True, text=True)
    if r.returncode != 0:
        die(f"compile failed:\n{r.stdout[-4000:]}{r.stderr[-4000:]}", 1)
    stamp.write_text(key)


def build(jars):
    """Engine classes from src/main/scala, harness classes from
    perfbench/scala, each rebuilt only when its sources change."""
    engine = WORK / "classes" / "engine"
    bench = WORK / "classes" / "bench"
    compile_scala(jars, list((ROOT / "src" / "main").rglob("*.scala")),
                  engine)
    compile_scala(jars, list((HERE / "scala").rglob("*.scala")), bench,
                  classpath=str(engine))
    return [bench, engine]


def fixture():
    """The fixture tables, generated once per generator version."""
    out = WORK / f"fixture-sf{FIXTURE_SCALE}"
    stamp = out / ".stamp"
    key = digest([HERE / "gen_fixture.py"], extra=str(FIXTURE_SCALE))
    if not (stamp.exists() and stamp.read_text() == key):
        shutil.rmtree(out, ignore_errors=True)
        rows = gen_fixture.write(str(out), FIXTURE_SCALE)
        (out / "rows.json").write_text(json.dumps(rows))
        stamp.write_text(key)
    return out, json.loads((out / "rows.json").read_text())


def query_order(workload, seed):
    queries = list(WORKLOADS[workload].get("queries", []))
    random.Random(f"{workload}:{seed}").shuffle(queries)
    return queries


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_opts(run_dir):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    flags = [f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData"]
    for p in opens:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # every scratch file the engine or Spark writes stays in the run dir
    return flags + [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/spark-warehouse",
        f"-Dderby.system.home={run_dir}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def run_jvm(classpath, run_dir, args, deadline):
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + jvm_opts(run_dir) + [
        "-cp", ":".join(str(c) for c in classpath), "graftperf.Harness"]
    log = open(run_dir / "jvm.log", "w")
    t0 = time.time()
    proc = subprocess.Popen(
        cmd + ["--t0-ms", str(int(t0 * 1000))] + args, cwd=run_dir,
        stdout=log, stderr=subprocess.STDOUT)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"harness timed out; log in {run_dir}/jvm.log", 1)
    finally:
        log.close()
    if proc.returncode != 0:
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        die(f"harness exited {proc.returncode}:\n{tail}", 1)
    return json.loads((run_dir / "result.json").read_text())


# ---------------------------------------------------------------- checks

def _same(a, b):
    """Cell equality as the engine's oracle gate defines it: no int/float
    coercion, doubles equal to 1e-12 relative, NaN equals NaN."""
    if a is None or b is None:
        return a is None and b is None
    a, b = _instant(a), _instant(b)
    if isinstance(a, Decimal) or isinstance(b, Decimal):
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) / max(abs(a), abs(b), 1e-12) < 1e-12
    if isinstance(a, float) != isinstance(b, float):
        return False
    return a == b


def _instant(v):
    """Dates compare equal to the midnight timestamp of the same day."""
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return datetime.datetime(v.year, v.month, v.day)
    return v


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            [tuple(r[i] for i in order) for r in cur.fetchall()])


def _oracle_rows(con, sql, fixture_dir):
    """The oracle answer, computed once per (SQL text, fixture): some
    oracles (q201's k-core) take DuckDB most of a minute."""
    key = hashlib.sha256(
        (sql + (fixture_dir / ".stamp").read_text()).encode()).hexdigest()
    cache = WORK / "oracle" / f"{key}.pickle"
    if cache.exists():
        return pickle.loads(cache.read_bytes())
    answer = _rows(con, sql)
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_bytes(pickle.dumps(answer))
    return answer


def check_queries(run_dir, fixture_dir, queries):
    """Name -> error string for every query whose output differs from its
    oracle SQL (queries without one only need an output)."""
    import duckdb
    oracle = json.loads((run_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in gen_fixture.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture_dir}/{t}.parquet')")
    bad = {}
    for q in queries:
        out = run_dir / "check" / q
        if not out.exists():
            continue  # the harness already reported why it has no output
        try:
            gc, got = _rows(con, f"SELECT * FROM read_parquet('{out}/*.parquet')")
            if q not in oracle:
                continue
            wc, want = _oracle_rows(con, oracle[q], fixture_dir)
        except Exception as e:  # noqa: BLE001 - reported as a failure
            bad[q] = f"check error: {e}"
            continue
        if gc != wc:
            bad[q] = f"columns {gc} != {wc}"
        elif len(got) != len(want):
            bad[q] = f"rows {len(got)} != {len(want)}"
        else:
            for i, (g, w) in enumerate(zip(got, want)):
                j = next((j for j in range(len(gc)) if not _same(g[j], w[j])),
                         None)
                if j is not None:
                    bad[q] = f"row {i} col {gc[j]}: {g[j]!r} != {w[j]!r}"
                    break
    return bad


WAREHOUSE_COLUMNS = [
    "hvfhs_license_num", "dispatching_base_num", "request_datetime",
    "on_scene_datetime", "pickup_datetime", "dropoff_datetime",
    "pu_location_id", "do_location_id", "sales_tax", "congestion_surcharge",
    "airport_fee", "tips", "driver_pay"]

CONFORMED = """
SELECT hvfhs_license_num, dispatching_base_num,
       CAST(request_datetime AS TIMESTAMP) AS request_datetime,
       CAST(on_scene_datetime AS TIMESTAMP) AS on_scene_datetime,
       CAST(pickup_datetime AS TIMESTAMP) AS pickup_datetime,
       CAST(dropoff_datetime AS TIMESTAMP) AS dropoff_datetime,
       CAST(PULocationID AS INTEGER) AS pu_location_id,
       CAST(DOLocationID AS INTEGER) AS do_location_id,
       sales_tax, congestion_surcharge, airport_fee, tips, driver_pay
FROM read_parquet({files})"""


def check_warehouse(run_dir, manifest):
    """The final warehouse must equal the conformed union of the distinct
    months delivered: same rows, natural key unique (so every re-delivery
    landed nothing). Returns an error string or None."""
    import duckdb
    wh = run_dir / "pass0" / "warehouse"
    if not wh.exists():
        return "no warehouse written"
    files = sorted({d["file"] for d in manifest["deliveries"]})
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE VIEW want AS " + CONFORMED.format(files=files))
    con.execute(f"CREATE VIEW got AS SELECT {', '.join(WAREHOUSE_COLUMNS)} "
                f"FROM read_parquet('{wh}/*.parquet')")
    n_want, = con.execute("SELECT count(*) FROM want").fetchone()
    n_got, n_keys = con.execute(
        "SELECT count(*), count(DISTINCT (dispatching_base_num, "
        "request_datetime)) FROM got").fetchone()
    if n_got != n_want:
        return f"warehouse rows {n_got} != {n_want} expected"
    if n_keys != n_got:
        return f"natural key not unique: {n_got} rows, {n_keys} keys"
    diff, = con.execute("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL "
                        "SELECT * FROM got)").fetchone()
    return f"{diff} expected rows missing" if diff else None


# ---------------------------------------------------------------- metrics

def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n); with ten samples or fewer, the maximum."""
    s = sorted(xs)
    k = max(len(s) - 11, 0) if len(s) > 10 else len(s) - 1
    pct = 100.0 * k / (len(s) - 1) if len(s) > 1 else 100.0
    return s[k], pct, len(s)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(launches, rows_per_pass, attempted, failed):
    """Medians over the run's launches; each launch gives one cold pass."""
    cold = [r["passes"][0] for r in launches]
    wall = med([p["wall_s"] for p in cold])
    tails = [tail([x["s"] for x in p["latencies"]]) for p in cold]
    m = {
        "setup_s": med([r["jvm_s"] + sum(r["setup"].values())
                        for r in launches]),
        "wall_s": wall,
        "wall_nosort_s": med([p["wall_nosort_s"] for p in cold]),
        "query_p50_s": med([med([x["s"] for x in p["latencies"]])
                            for p in cold]),
        "query_tail_s": med([t[0] for t in tails]),
        "rows_per_s": med([rows_per_pass(p) / p["wall_s"] for p in cold]),
        "failed_ratio": failed / attempted,
        "peak_storage_mb": med([p["peak_storage_mb"] for p in cold]),
    }
    info = {"query_tail_pct": tails[0][1], "query_tail_n": tails[0][2],
            "launches": len(launches)}
    return m, info


def per_layer(res, fixture_rows, delivered_bytes):
    """Layer counters of the traced cold pass; the tracing overhead is the
    traced minus the untraced warm pass."""
    cold, plain_warm, traced_warm = res["passes"]
    m = dict(cold["layers"])
    for k, v in res["setup"].items():
        m[f"setup.{k}"] = v
    m["sources.read_amplification"] = (
        m["sources.read_records"] / fixture_rows if fixture_rows else 0.0)
    m["sinks.written_mb"] = cold["sink_bytes"] / MB
    m["sinks.files_written"] = cold["sink_files"]
    m["sinks.write_amplification"] = (
        cold["sink_bytes"] / delivered_bytes if delivered_bytes else 0.0)
    m["sinks.guard_rows"] = max(p["guard_rows"] for p in res["passes"])
    m["trace.overhead_s"] = traced_warm["wall_s"] - plain_warm["wall_s"]
    return m


# ---------------------------------------------------------------- runs

def run_workload(name, seed, seconds, trace, classpath, fx_dir, fx_rows):
    """Launch the harness until `seconds` have been measured (at least
    once; a traced run launches once), check every launch's outputs and
    return (record, attempted, failed)."""
    started = time.time()
    spec = WORKLOADS[name]
    run_dir = WORK / "runs" / f"{name}-seed{seed}-trace{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    queries = query_order(name, seed)
    args = ["--workload", name, "--seed", str(seed),
            "--queries", ",".join(queries),
            "--tables", ",".join(spec["tables"]),
            "--copurchase", "1" if spec.get("copurchase") else "0",
            "--fixture", str(fx_dir), "--trace", str(trace),
            "--cpus", str(cpus())]
    manifest = None
    if "months" in spec:
        manifest = gen_months.write(str(fx_dir), str(run_dir / "months"),
                                    seed, spec["months"],
                                    spec["redeliveries"])
        with open(run_dir / "deliveries.tsv", "w") as f:
            for d in manifest["deliveries"]:
                f.write(f"{int(d['redelivery'])}\t{d['month']}\t{d['file']}\n")
        args += ["--deliveries", str(run_dir / "deliveries.tsv")]

    launches, errors, attempted, failed = [], {}, 0, 0
    last = 0.0
    while not launches or (not trace and time.time() - started < seconds
                           and time.time() - started + last < BUDGET_S):
        t0 = time.time()
        out = run_dir / f"launch{len(launches)}"
        res = run_jvm(classpath, out, args + ["--out", str(out)],
                      started + BUDGET_S)
        bad = {e["query"]: e["error"] for p in res["passes"]
               for e in p["errors"]}
        if manifest:
            wrong = check_warehouse(out, manifest)
            if wrong:
                bad["warehouse"] = wrong
            attempted += len(manifest["deliveries"])
            failed += len(manifest["deliveries"]) if wrong else len(bad)
        else:
            bad.update(check_queries(out, fx_dir, queries))
            attempted += len(queries)
            failed += len(bad)
        errors.update(bad)
        launches.append(res)
        last = time.time() - t0

    if manifest:
        fixture_rows = sum(d["rows"] for d in manifest["deliveries"])
        delivered = sum(d["bytes"] for d in manifest["deliveries"])
        rows_per_pass = lambda p: p["rows_landed"]  # noqa: E731
    else:
        fixture_rows = sum(fx_rows[t] for t in spec["tables"])
        delivered = 0
        rows_per_pass = lambda p: fixture_rows  # noqa: E731
    e2e, info = end_to_end(launches, rows_per_pass, attempted, failed)
    res = launches[0]
    record = {"workload": name, "seed": seed, "trace": trace,
              "cpus": res["cpus"], "heap_mb": res["heap_mb"],
              "fixture": f"generated sf{FIXTURE_SCALE}",
              "spark": res["spark"], "query_order": queries,
              "errors": errors, "end_to_end": e2e, **info,
              "latencies_s": [{x["query"]: x["s"] for x in
                               r["passes"][0]["latencies"]}
                              for r in launches]}
    if trace:
        cold = res["passes"][0]
        record["per_layer"] = per_layer(res, fixture_rows, delivered)
        for k in ("tables_read", "spans", "jobs_per_query",
                  "batches_per_query"):
            record[k] = cold[k]
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    out = results / f"{name}-seed{seed}-trace{trace}.json"
    out.write_text(json.dumps(record, indent=1))
    shutil.rmtree(run_dir, ignore_errors=True)
    return record, attempted, failed


def report(record, trace):
    name = record["workload"]
    for q, e in sorted(record["errors"].items()):
        print(f"[{name}] FAILED {q}: {e}")
    for k, unit in END_TO_END:
        extra = ""
        if k == "query_tail_s":
            extra = (f"  (p{record['query_tail_pct']:.1f} of "
                     f"{record['query_tail_n']} samples)")
        print(f"[{name}] {k} = {record['end_to_end'][k]:.6g} {unit}{extra}")
    if trace:
        for k, unit in PER_LAYER.items():
            print(f"[{name}] {k} = {record['per_layer'][k]:.6g} {unit}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir() or \
            not (ROOT / "build.sbt").is_file():
        die(f"no engine sources under {ROOT}; run from a checkout")
    start = time.time()
    jars = spark_jars()
    if not jars.is_dir():
        die(f"Spark jars not found at {jars}")
    classpath = build(jars) + [f"{jars}/*"]
    fx_dir, fx_rows = fixture()
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    metrics, attempted, failed = {}, 0, 0
    units = dict(END_TO_END) if not a.trace else PER_LAYER
    for name in names:
        record, att, fail = run_workload(name, a.seed, a.seconds, a.trace,
                                         classpath, fx_dir, fx_rows)
        report(record, a.trace)
        attempted += att
        failed += fail
        values = record["per_layer"] if a.trace else record["end_to_end"]
        prefix = f"{name}/" if a.workload == "all" else ""
        for k, unit in units.items():
            if a.trace or k in GATED:
                metrics[prefix + k] = {"value": values[k], "unit": unit}
    print(f"perfbench: done in {time.time() - start:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

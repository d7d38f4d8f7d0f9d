#!/usr/bin/env python3
"""End-to-end benchmark of the engine.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (into the checkout; later runs reuse the build while the
sources are unchanged). Each run then:

1. draws the workload's input tables from the bundled copy of the
   engine's sf0.01 test fixture (`fixture/sf0.01`): a seeded sample of
   90% of each table's rows, kept in the fixture's row order;
2. starts one JVM running `e2ebench.Harness`, which starts a Spark
   session sized to the machine's cores, builds the workload's derived
   inputs (a `BenchScale` replica of the sample, CSV shards), warms every
   op kind up, and runs closed-loop clients for `--seconds`;
3. checks every op's result against the engine's DuckDB twin SQL (or, for
   ingest, a read-back aggregate against DuckDB over the source);
4. prints a summary to stderr and, as the last stdout line, one JSON
   object with `correct`, `attempted`, `failed` and `metrics`: the
   end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
   metrics with `--trace 1`.

Everything a run writes goes under `.bench_build/` in the checkout and
is removed when the run ends, except the build and the last result file
of each workload.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
SAMPLE_SHARE = 0.9

# Fixture tables each workload samples, the replica factor the engine's
# BenchScale applies to the sample (sf0.01 has 60k lineitem and 15k
# orders rows), and the number of times set-up builds its derived inputs
# (the median build is reported).
WORKLOADS = {
    "olap_concurrent": {"tables": ["lineitem", "orders"], "copies": 10,
                        "repeats": 3, "concurrent": True},
    "ingest_csv": {"tables": ["lineitem"], "copies": 2, "repeats": 3},
}
QUERY_KINDS = ["q01_agg_by_type", "q02_rollup_month", "q03_yoy_window",
               "q04_topn_percentiles"]
ALL_KINDS = QUERY_KINDS + ["ingest"]
HARNESS_TIMEOUT_S = 150


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so an edited engine or harness
    is rebuilt and an unchanged one is not."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the last build matches the sources.
    Returns (classpath, jvm options, oracle SQL by query name)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found: run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    launch = os.path.join(BUILD, "launch.txt")
    oracle = os.path.join(BUILD, "oracle_sql.json")
    stamp = source_stamp()
    fresh = (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp
             and os.path.isfile(launch) and os.path.isfile(oracle))
    if not fresh:
        if shutil.which("sbt") is None:
            fail("sbt not found")
        log("building engine and harness (sbt compile)")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            fail("sbt build failed")
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch)
        cp, jopts = read_launch(launch)
        subprocess.run(["java", *jopts, "-cp", cp, "graft.OracleDump", oracle],
                       check=True, stdin=subprocess.DEVNULL, stdout=sys.stderr)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f}s")
    cp, jopts = read_launch(launch)
    with open(oracle) as f:
        twins = json.load(f)
    missing = [k for k in QUERY_KINDS if k not in twins]
    if missing:
        fail(f"no oracle SQL for {missing}")
    return cp, jopts, {k: twins[k] for k in QUERY_KINDS}


def read_launch(path):
    lines = [l for l in open(path).read().split("\n") if l]
    return lines[0], lines[1:]


# ---------------------------------------------------------------- oracle

def canon(v):
    """Canonical text of one value; mirrors e2ebench/Canon.scala."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return canon_double(float(v))
    if isinstance(v, str):
        return (v.replace("\\", "\\\\").replace("\n", "\\n")
                .replace("\x1f", "\\u"))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return str(v)


def canon_double(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Inf" if d > 0 else "-Inf"
    if d == math.floor(d) and abs(d) < 2.0 ** 53:
        return str(int(d))
    bits = struct.unpack(">Q", struct.pack(">d", d))[0]
    return "d" + format(bits, "x")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    h.update(("\x1f".join(columns[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(("\x1f".join(canon(r[i]) for i in order) + "\n").encode())
    return h.hexdigest()


def sample(fixture, out_dir, seed, tables):
    """Writes a seeded sample of SAMPLE_SHARE of each fixture table's rows,
    in the fixture's row order, to out_dir."""
    import numpy as np
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    for t in tables:
        tab = pq.read_table(os.path.join(fixture, f"{t}.parquet"))
        keep = rng.choice(tab.num_rows, int(tab.num_rows * SAMPLE_SHARE),
                          replace=False)
        pq.write_table(tab.take(np.sort(keep)),
                       os.path.join(out_dir, f"{t}.parquet"),
                       compression="snappy")


def duck(input_dir, cpus):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {cpus}")
    for t in ("lineitem", "orders"):
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.isfile(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def expected_digests(result, oracle_sql, cpus):
    """Oracle digest per (kind, input dir) the harness used."""
    want = {}
    for op in result["ops"]:
        key = (op["kind"], op["input"])
        if key in want:
            continue
        if op["kind"] == "ingest":
            sql = open(os.path.join(HERE, "readback.sql")).read().replace(
                "{table}", "lineitem")
        else:
            sql = oracle_sql[op["kind"]]
        con = duck(op["input"], cpus)
        rel = con.sql(sql)
        want[key] = digest(rel.columns, rel.fetchall())
        con.close()
    return want


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def kind_medians(ops):
    by = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(o["latency_s"])
    return {k: median(v) for k, v in by.items()}


def tail(ops):
    """Latency over the median of its own kind, pooled over the ops, at the
    90th percentile: (ratio, percentile, samples beyond it). A run holds
    too few ops for a higher percentile to rest on 10 samples beyond it."""
    med = kind_medians(ops)
    r = [o["latency_s"] / med[o["kind"]] for o in ops]
    if len(r) < 2:
        return r[0], 90.0, 0
    p = statistics.quantiles(r, n=10, method="inclusive")[-1]
    return p, 90.0, sum(1 for x in r if x > p)


def end_to_end(res, ops, wall):
    s = res["setup"]
    ratio, _, _ = tail(ops)
    return {
        "setup_s": s["session_s"] + s["replica_s"] + s["csv_s"] + s["warmup_s"],
        "latency.p50_s": geomean(kind_medians(ops).values()),
        "latency.tail_ratio": ratio,
        "rows_per_s": sum(o["fact_rows"] for o in ops) / wall,
        "rss_after_gc_mb": res["memory_mb"]["rss_after_gc_mb"],
    }


def per_layer(res, names, untraced, traced, timed_all):
    m = {f"setup.{k}": v for k, v in res["setup"].items()}
    for n in names:
        if n.split(".")[0] in ("exec", "queries", "plans", "sources",
                               "Caches", "jvm", "self"):
            vals = [o["layers"].get(n, 0.0) for o in traced]
            m[n] = sum(vals) / len(vals) if vals else 0.0
    m["jvm.peak_rss_mb"] = res["memory_mb"]["peak_rss_mb"]
    base = kind_medians(untraced)
    with_trace = kind_medians(traced)
    both = [k for k in base if k in with_trace]
    m["trace.overhead_ratio"] = (
        geomean([with_trace[k] for k in both])
        / geomean([base[k] for k in both]) - 1.0) if both else 0.0
    m["trace.spans"] = float(len(res["spans"]))
    _, pct, n = tail(untraced)
    m["latency.tail_pct"] = pct
    m["latency.tail_samples"] = float(n)
    bad = sum(1 for o in timed_all if not o["ok"])
    m["ops.failed_ratio"] = bad / len(timed_all) if timed_all else 0.0
    for k in ALL_KINDS:
        m[f"ops.{k}.p50_s"] = base.get(k, 0.0)
    return m


# ---------------------------------------------------------------- run

def run_harness(cmd, env, logfile):
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                             stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0:
        sys.stderr.write(open(logfile).read()[-6000:])
        fail(f"harness exited with {rc}")


def main():
    # Turn a termination request into an exception, so the harness JVM
    # is killed and its work directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # For the harness's own tests: sample another fixture directory, or
    # replace one kind's expected digest with a wrong one.
    ap.add_argument("--data", default=FIXTURE, help=argparse.SUPPRESS)
    ap.add_argument("--wrong-expected", help=argparse.SUPPRESS)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    cp, jopts, oracle_sql = build()

    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[a.workload]
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        sample(a.data, data, a.seed, wl["tables"])
        log(f"sampled {wl['tables']} in {time.time() - t0:.2f}s")
        malformed = random.Random(a.seed).randint(200, 600)
        out = os.path.join(work, "result.json")
        cmd = ["java", "-XX:-UsePerfData",
               "-Duser.timezone=UTC",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               *jopts, "-cp", cp, "e2ebench.Harness",
               "--workload", a.workload, "--data", data, "--work", work,
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--seed", str(a.seed), "--out", out, "--cpus", str(cpus),
               "--clients", str(cpus if wl.get("concurrent") else 1),
               "--copies", str(wl["copies"]),
               "--setup-repeats", str(wl["repeats"]),
               "--malformed", str(malformed),
               "--readback-sql", os.path.join(HERE, "readback.sql")]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        t0 = time.time()
        run_harness(cmd, env, os.path.join(work, "harness.log"))
        log(f"harness ran in {time.time() - t0:.1f}s")
        res = json.load(open(out))

        t0 = time.time()
        want = expected_digests(res, oracle_sql, cpus)
        if a.wrong_expected:
            for key in want:
                if key[0] == a.wrong_expected:
                    want[key] = "0" * 64
        log(f"oracle ran in {time.time() - t0:.1f}s")
        for o in res["ops"]:
            o["ok"] = (not o["error"] and not o["problems"]
                       and o["digest"] == want[(o["kind"], o["input"])])
            if not o["ok"]:
                log(f"op {o['id']} {o['kind']} ({o['phase']}) failed: "
                    f"{o['error'] or '; '.join(o['problems']) or 'result differs from oracle'}")
        last = os.path.join(BUILD, f"last-{a.workload}-trace{a.trace}")
        shutil.copy(out, last + ".json")
        shutil.copy(os.path.join(work, "harness.log"), last + ".log")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    timed = [o for o in res["ops"] if o["phase"] != "warmup"]
    good = [o for o in timed if o["ok"]]
    if not timed:
        fail("no op completed in the timed phase")
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = per_layer(
            res, names,
            [o for o in good if o["phase"] == "untraced"],
            [o for o in good if o["phase"] == "traced"], timed)
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = end_to_end(res, good, res["wall_s"]) if good else {}
    missing = [n for n in names if n not in values]
    if missing:
        fail(f"metrics not produced: {missing}")
    kinds = kind_medians([o for o in good if o["phase"] != "traced"])
    log(f"{a.workload}: {len(timed)} ops, {len(timed) - len(good)} failed; "
        + ", ".join(f"{k} p50 {v:.3f}s" for k, v in sorted(kinds.items())))
    print(json.dumps({
        "correct": all(o["ok"] for o in res["ops"]),
        "attempted": len(timed),
        "failed": len(timed) - len(good),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))


if __name__ == "__main__":
    main()

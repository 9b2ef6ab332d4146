#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload tick|dashboard --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (class path cached under `.bench_build/`,
rebuilt when a source file changes). Each run starts from an empty work
directory, generates its corpus from the seed, runs the workload in a
fresh JVM (`graftbench.Main`), checks every result, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer metrics, which come from spans and a Spark listener.
`--workload all` runs every workload untraced and traced on one seed and
prints every metric by name with its unit, the failing ops, the
layer-sum check and the tracing overhead.

Workload membership, and the engine queries left out with the reason,
are in `perfbench/membership.json`; the JVM refuses to run when an
engine query is in no workload or in two.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
REPO = os.path.dirname(BENCH)
STATE = os.path.join(REPO, ".bench_build")
CLASSPATH = os.path.join(STATE, "perfbench-classpath.txt")
STAMP = os.path.join(STATE, "perfbench-stamp.txt")
WORKLOADS = ("tick", "dashboard")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
RUN_LIMIT_S = 170          # every run must end within 180 s
BUILD_LIMIT_S = 840        # the building run may take 900 s
HEAP = "3g"
STAGE_REPS = 3             # staging repeats; the median counts in setup_s
# Spark 4 on JDK 17 outside spark-submit needs these (the repo's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# --- build ---------------------------------------------------------------

def source_files():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Class path of the harness, building engine and harness first when
    any source changed since the cached build."""
    if not (os.path.isfile(os.path.join(REPO, "build.sbt")) and os.path.isfile(
            os.path.join(REPO, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        raise BenchError(f"no engine sources under {REPO}: run from the root "
                         "of a graft checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh, open(CLASSPATH) as fc:
            if fh.read().strip() == stamp:
                cp = fc.read().strip()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt")
    t = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        raise BenchError("sbt build timed out")
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if "scala-2.13" + os.sep + "classes" in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise BenchError(f"sbt build failed (exit {p.returncode})")
    log(f"built in {time.time() - t:.0f} s")
    with open(CLASSPATH, "w") as fh:
        fh.write(cps[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


# --- one JVM run ---------------------------------------------------------

def membership():
    with open(os.path.join(BENCH, "membership.json")) as fh:
        m = json.load(fh)
    lines = []
    for w in WORKLOADS:
        lines += [f"{w}\t{op}" for op in m["workloads"][w]["ops"]]
    for group in m["excluded"]:
        lines += [f"excluded\t{op}" for op in group["ops"]]
    return m, lines


def host_cpu():
    """(served, stolen) jiffies over all CPUs, as graftbench.HostCpu reads
    them: stolen is time the hypervisor held back a runnable vCPU."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], (f[7] if len(f) > 7 else 0)


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def stage(workload, seed, work):
    """Generate the run's corpus; staging is repeated and the median
    time returned, the first copy kept."""
    import corpus
    times = []
    for i in range(STAGE_REPS):
        if workload == "tick":
            dest = os.path.join(work, "tick-base" if i == 0 else f"stage-{i}")
            t = time.perf_counter()
            corpus.tick_base(dest, seed)
        else:
            dest = os.path.join(work, "corpus" if i == 0 else f"stage-{i}")
            t = time.perf_counter()
            corpus.analytics(dest, seed)
        times.append(time.perf_counter() - t)
        if i:
            shutil.rmtree(dest)
    return statistics.median(times)


def run_jvm(cp, workload, seed, seconds, trace, work, deadline):
    """Stage and run one workload in a fresh JVM from an empty work
    directory; returns the JVM's record with the staging time added."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    stage_s = stage(workload, seed, work)
    _, lines = membership()
    with open(os.path.join(work, "membership.tsv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.isfile(java):
        java = "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    served, stolen = host_cpu()
    launched_us = time.time_ns() // 1000
    cmd = [java, *opens, f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-cp", cp, "graftbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--work", work, "--launched-us", str(launched_us),
           "--launch-cpu", f"{served},{stolen}",
           "--cores", str(cores)]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(5.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise BenchError(f"{workload} run exceeded its time limit")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise BenchError(f"{workload} JVM exited with {code}")
    with open(os.path.join(work, "record.json")) as fh:
        record = json.load(fh)
    setup = record["setup"]
    setup["stage_s"] = stage_s
    setup["setup_s"] = (stage_s + setup["first_result"]["net_s"] +
                        setup["warmup"]["net_s"])
    return record


# --- result checks -------------------------------------------------------

def _cell(v):
    """Canonical text of one result value, the same for a Spark cell (as
    the JVM dumped it) and a DuckDB cell: numbers compare by value (an
    integral double equals the integer), floats to 9 decimals, NaN as
    NULL, dates as midnight timestamps."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        if f.is_integer() and abs(f) < 1e15:
            return str(int(f))
        return repr(round(f, 9))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        if "$ts" in v:
            return _cell(datetime.datetime.fromisoformat(v["$ts"]))
        if "$bin" in v:
            return v["$bin"]
        if "$struct" in v:
            return "(" + ",".join(_cell(x) for x in v["$struct"]) + ")"
        if "$map" in v:
            return "{" + ",".join(sorted(f"{_cell(k)}={_cell(x)}"
                                         for k, x in v["$map"])) + "}"
        return "(" + ",".join(_cell(x) for x in v.values()) + ")"  # struct
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, datetime.timedelta):
        return repr(v.total_seconds())
    return str(v)


def canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted("|".join(_cell(r[i]) for i in order) for r in rows))


def read_result(path):
    with open(path) as fh:
        cols = json.loads(fh.readline())
        rows = [json.loads(ln) for ln in fh if ln.strip()]
    return cols, rows


def oracle_check(work, data_dir, oracle_sql, ops):
    """op -> problem text for every op whose dumped result differs from
    the DuckDB oracle (ops without an oracle must return rows)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{p}/*.parquet')")
    problems = {}
    for op in ops:
        path = os.path.join(work, "results", f"{op}.jsonl")
        if not os.path.isfile(path):
            continue            # never succeeded: counted from its errors
        cols, rows = read_result(path)
        if op not in oracle_sql:
            if not rows:
                problems[op] = "no oracle and no rows"
            continue
        try:
            cur = con.execute(oracle_sql[op])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:      # the oracle itself failed
            problems[op] = f"oracle error: {e}"[:300]
            continue
        sc, sr = canonical(cols, rows)
        oc, orr = canonical(ocols, orows)
        if sc != oc:
            problems[op] = f"columns {sc} != oracle {oc}"
        elif len(sr) != len(orr):
            problems[op] = f"{len(sr)} rows != oracle {len(orr)}"
        elif sr != orr:
            diff = [(a, b) for a, b in zip(sr, orr) if a != b]
            problems[op] = f"{len(diff)} rows differ, first {diff[0]}"[:300]
    return problems


# --- metrics -------------------------------------------------------------

def tail(values):
    """(value, percentile, samples, beyond) for the highest percentile with
    at least ten samples beyond it; the maximum when there are fewer."""
    s = sorted(values)
    n = len(s)
    i = n - 11 if n > 10 else n - 1
    return s[i], round(100.0 * (i + 1) / n, 1), n, n - 1 - i


def per_op_latency(record):
    """op key -> net latencies in the window: an op is a named query, or
    for the pipeline one of the timed ticks."""
    out = {}
    if "ticks" in record:
        for k, t in enumerate(record["ticks"]):
            out[f"tick{k}"] = [t["net_s"]]
    else:
        for s in record["ops"]:
            out.setdefault(s["op"], []).append(s["net_s"])
    return out


def pass_seconds(record):
    """Summed net op seconds of each timed pass (the pipeline's timed
    ticks are one pass)."""
    if "ticks" in record:
        return [sum(t["net_s"] for t in record["ticks"])]
    passes = {}
    for s in record["ops"]:
        passes[s["pass"]] = passes.get(s["pass"], 0.0) + s["net_s"]
    return list(passes.values())


def end_to_end(record):
    lat = per_op_latency(record)
    meds = [statistics.median(v) for v in lat.values()]
    samples = [x for v in lat.values() for x in v]
    tv, tp, tn, tb = tail(meds)
    m = {
        "setup_s": record["setup"]["setup_s"],
        "first_result_s": record["setup"]["first_result"]["net_s"],
        "op_p50_s": statistics.median(meds),
        "ops_per_min": 60.0 * len(samples) / sum(samples),
        "pass_s": statistics.median(pass_seconds(record)),
    }
    # reported with the run, not as a benchmark metric: a run holds too
    # few ops for a percentile with ten samples beyond it
    info = {"op_tail": {"value_s": tv, "percentile": tp, "ops": tn,
                        "beyond": tb}}
    return m, info


def load_benchmark():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def per_layer(record, bench):
    """Per-layer figures of a traced run; 0 where the workload does not
    exercise the layer. Times are seconds per op (per tick on the
    pipeline), medians over the window."""
    names = [m["name"] for m in bench["per_layer"]]
    out = {n: 0.0 for n in names}
    setup = record["setup"]
    out["setup.session_s"] = setup["session"]["net_s"]
    out["setup.stage_s"] = setup["stage_s"]
    out["setup.warmup_s"] = setup["warmup"]["net_s"]
    ops = record.get("ops") or record.get("ticks")
    n = len(ops)
    cores = record["cores"]

    def mean(key):
        return sum(o.get(key, 0.0) for o in ops) / n

    for k in ("jobs", "stages", "tasks"):
        out[f"query.{k}"] = mean(k)
    for k in ("input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb"):
        out[f"exec.{k}"] = mean(k)
    busy = sum(o.get("task_run_s", 0.0) for o in ops)
    wall = sum(o["lat_s"] for o in ops)
    out["exec.task_busy_frac"] = busy / (wall * cores)
    out["exec.skew_max"] = max(o.get("skew_max", 1.0) for o in ops)
    out["exec.gc_s"] = record["window"]["gc_s"] / n
    sums = []
    if "ticks" in record:
        steps = {"sources.shard_s": ["tick.shard_s"],
                 "sources.acquire_s": ["tick.acquire_s"],
                 "sinks.append_s": ["tick.append_s"],
                 "operators.refresh_s": [f"tick.refresh.{p}_s" for p in
                                         ("latest_per_key", "vwap", "ohlc_bars",
                                          "incremental_batch")],
                 "pipeline.alerts_s": ["tick.alerts_s"]}
        for name, keys in steps.items():
            out[name] = statistics.median(sum(t.get(k, 0.0) for k in keys)
                                          for t in ops)
        out["sources.fetch_attempts_per_key"] = (
            sum(t.get("landed", 0) for t in ops) /
            max(1, sum(t.get("fetch_attempts", 0) for t in ops)))
        out["sources.quarantined"] = mean("quarantined")
        out["sinks.files_per_tick"] = mean("files_added")
        out["sinks.bytes_written_mb"] = mean("bytes_added") / 1048576.0
        out["sinks.table_files"] = ops[-1].get("table_files", 0)
        ys = [t["net_s"] for t in ops]
        if len(ys) > 1:
            xm, ym = (len(ys) - 1) / 2, statistics.mean(ys)
            out["pipeline.tick_slope_s"] = (
                sum((i - xm) * (y - ym) for i, y in enumerate(ys)) /
                sum((i - xm) ** 2 for i in range(len(ys))))
        for t in ops:
            parts = sum(v for k, v in t.items()
                        if k.startswith("tick.") and k.endswith("_s"))
            sums.append(abs(t["span_s"] - parts) / t["span_s"])
    else:
        for k in ("construct", "plan", "exec"):
            out[f"query.{k}_s"] = mean(f"{k}_s")
        for s in ops:
            parts = sum(s.get(f"{k}_s", 0.0) for k in ("construct", "plan", "exec"))
            sums.append(abs(s["lat_s"] - parts) / s["lat_s"])
        lat = per_op_latency(record)
        for name in names:
            if name.startswith("op.") and name.endswith("_s"):
                op = name[3:-2]
                if op in lat:
                    out[name] = statistics.median(lat[op])
    out["trace.layer_sum_err"] = max(sums) if sums else 0.0
    return {k: v for k, v in out.items() if k in names}


# --- one run, end to end -------------------------------------------------

def run_once(workload, seed, seconds, trace, start):
    cp = build()
    work = os.path.join(STATE, "work", workload)
    load0 = loadavg()
    # the limit counts from after the build: only the building run may
    # take longer than RUN_LIMIT_S
    deadline = min(time.time(), start + BUILD_LIMIT_S) + RUN_LIMIT_S - 10
    record = run_jvm(cp, workload, seed, seconds, trace, work, deadline)
    m, _ = membership()
    ops = m["workloads"][workload]["ops"]
    data = os.path.join(work, "tick" if workload == "tick" else "corpus")
    wrong = oracle_check(work, data, record.get("oracle_sql", {}), ops)
    failed_ops = dict(wrong)
    if workload == "tick":
        samples = record["ticks"]
        bad = [t for t in samples if t.get("error") or t.get("problems")]
        for t in bad:
            failed_ops.setdefault("tick", t.get("error") or "; ".join(t["problems"]))
        failed = len(bad) + (1 if wrong and samples and samples[-1] not in bad else 0)
    else:
        samples = record["ops"]
        failed = 0
        for s in samples:
            if s.get("error") or not s.get("stable", False) or s["op"] in wrong:
                failed += 1
                failed_ops.setdefault(s["op"], s.get("error") or wrong.get(
                    s["op"], "result changed between passes"))
    bench = load_benchmark()
    if trace:
        metrics = per_layer(record, bench)
        units = {x["name"]: x["unit"] for x in bench["per_layer"]}
        info = {}
    else:
        metrics, info = end_to_end(record)
        units = {x["name"]: x["unit"] for x in bench["end_to_end"]}
        metrics = {k: v for k, v in metrics.items() if k in units}
    health = dict(record["health"], load_start=load0, load_end=loadavg())
    # raw wall-clock medians beside the net ones the metrics use
    health["op_wall_p50_s"] = statistics.median(
        o["lat_s"] for o in (record.get("ops") or record["ticks"]))
    summary = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "failed_ops": failed_ops, "health": health, "warmup": record["warmup"],
        "listener_quiet": record.get("listener_quiet"), **info,
    }
    log("run: " + json.dumps(summary, sort_keys=True))
    result = {
        "correct": failed == 0 and bool(samples),
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    summary["passes_s"] = pass_seconds(record)
    return result, summary


def run_all(seed, seconds):
    """Every workload, untraced then traced, on one seed: every metric
    by name and unit, failing ops, layer-sum check, tracing overhead."""
    rows = []
    for w in WORKLOADS:
        plain, s0 = run_once(w, seed, seconds, False, time.time())
        traced, s1 = run_once(w, seed, seconds, True, time.time())
        rows.append((w, plain, traced, s0, s1))
    print(f"{'workload':10} {'metric':28} {'value':>12}  unit")
    for w, plain, traced, s0, s1 in rows:
        for k, v in plain["metrics"].items():
            print(f"{w:10} {k:28} {v['value']:12.4f}  {v['unit']}")
        er = plain["failed"] / plain["attempted"]
        print(f"{w:10} {'error_rate':28} {er:12.4f}  ratio "
              f"({plain['failed']}/{plain['attempted']})")
        for op, why in sorted(s0["failed_ops"].items()):
            print(f"{w:10}   failing op {op}: {why}")
        for k, v in traced["metrics"].items():
            print(f"{w:10} {k:28} {v['value']:12.4f}  {v['unit']}")
        err = traced["metrics"].get("trace.layer_sum_err", {}).get("value", 0.0)
        over = (statistics.median(s1["passes_s"]) /
                statistics.median(s0["passes_s"]) - 1)
        print(f"{w:10} layer-sum check: worst op off by {100 * err:.2f}% "
              f"({'pass' if err <= 0.05 else 'FAIL'}, limit 5%); "
              f"tracing overhead {100 * over:+.1f}% of pass_s")
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=list(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    try:
        seconds = a.seconds if a.seconds is not None else load_benchmark()["run_seconds"]
        if a.workload == "all":
            run_all(a.seed, seconds)
            return 0
        result, _ = run_once(a.workload, a.seed, seconds, bool(a.trace), start)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""graft benchmark: one command runs one workload, checks its
outputs and prints every metric by name, with its unit.

    python3 perfbench/run.py --workload <registry|ingest> --seed <n> \\
        --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each exists; METRICS.md has the
details):
  registry  one timed `Memo.fill`, then every 10th registered query
            (`SparkEntry.queries` in name order) on a generated sf0.01
            corpus, in an order shuffled by the seed
  ingest    a `DedupFeatureStore` built from a seeded corpus, then
            cycles of fold, verdict, `ReferencePipeline.run` +
            `RunLog.successReport` and a compaction, on seeded batches

Spark runs in one JVM as local[nproc] with a fixed maximum heap;
one client runs one operation at a time (closed loop). A workload's
pass is repeated until --seconds have been measured, at least once.

Outputs are checked: each query's first result against its DuckDB
oracle SQL (`SparkEntry.oracleSql`) on the same tables, repeated
executions against the first one's digest, ingest verdicts and counts
against what the generator built into the inputs. An operation that
throws, times out or returns a wrong result is counted failed.

The last stdout line is one JSON object with correct, attempted,
failed and the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The full record of a run (host, per-operation timings,
spans) goes to .perfbench/artifacts/<workload>-seed<n>-trace<t>.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import datagen  # noqa: E402

STATE = os.path.join(build.ROOT, ".perfbench")
HEAP = "2g"
# the JVM is stopped this long after its launch; the build (skipped
# when the sources are unchanged) and the input generation come before
DEADLINE_S = 150
# ingest inputs generated per run; a run uses one cycle per pass
INGEST_CYCLES = 12
# The query corpus is fixed, as a reference corpus would be: --seed
# orders the operations (and generates the ingest batches), so runs
# with different seeds differ in order, not in data-dependent work
# such as k-means iteration counts.
CORPUS_SEED = 42


def cores():
    return len(os.sched_getaffinity(0))


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_model():
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"


def tail_metric(values):
    """Highest whole percentile with at least ten samples beyond it,
    as (value, percentile, samples); the maximum when there are too
    few samples for any."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    for p in range(99, 0, -1):
        k = math.ceil(p * n / 100)
        if n - k >= 10:
            return xs[k - 1], p, n
    return xs[-1], 100, n


# ------------------------------------------------------------ checking

def oracle_check(data, work, names, log):
    """Compare each kept Spark result with the oracle SQL run by DuckDB
    on the same tables, by the rules of the repository's own compare
    (`tools/selfcheck.py`: columns sorted by name, rows sorted, no
    array or struct cells, dtypes equal, floats bit-identical). Queries
    are checked concurrently, one DuckDB connection each. Oracle
    results are kept under .perfbench/oracle, keyed by the SQL and the
    input bytes, so a repeated corpus is queried once. Returns
    {name: error or None}."""
    import pandas as pd
    from concurrent.futures import ThreadPoolExecutor
    sys.path.insert(0, os.path.join(build.ROOT, "tools"))
    import selfcheck
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    views = "".join(
        f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}';"
        for t in selfcheck.TABLES)
    inputs = hashlib.sha256()
    for t in selfcheck.TABLES:
        with open(os.path.join(data, t + ".parquet"), "rb") as fh:
            inputs.update(fh.read())
    cache = os.path.join(STATE, "oracle")
    os.makedirs(cache, exist_ok=True)

    def expected(con, name):
        key = hashlib.sha256(inputs.digest() + oracle[name].encode()).hexdigest()
        path = os.path.join(cache, f"{name}-{key[:16]}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        want = selfcheck.canon(con.sql(oracle[name]).df())
        want.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return want

    def check(name):
        con = datagen.connect(threads=1)
        try:
            con.execute(views)
            got = selfcheck.canon(con.sql(
                f"SELECT * FROM '{os.path.join(work, 'results', name)}/*.parquet'").df())
            want = expected(con, name)
            if list(got.columns) != list(want.columns):
                return f"columns {list(got.columns)} != {list(want.columns)}"
            if len(got) != len(want):
                return f"{len(got)} rows != oracle {len(want)}"
            for c in got.columns:
                if str(got[c].dtype) != str(want[c].dtype):
                    return f"column {c}: dtype {got[c].dtype} != {want[c].dtype}"
                for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
                    if not selfcheck.cells_equal(x, y):
                        return f"column {c} row {i}: {x!r} != oracle {y!r}"
            return None
        except Exception as e:  # an oracle that cannot be compared fails
            return f"{type(e).__name__}: {e}"
        finally:
            con.close()

    with ThreadPoolExecutor(cores()) as pool:
        out = dict(zip(names, pool.map(check, names)))
    for name, err in sorted(out.items()):
        if err:
            print(f"perfbench: WRONG {name}: {err}", file=log)
    return out


def check_queries(ops, data, work, log):
    """Mark query/fill ops wrong where the oracle disagrees or a repeat
    execution's digest differs from the first execution's."""
    first = {}
    for o in ops:
        if o["kind"] == "query" and o["ok"] and o["pass"] == 0:
            first[o["name"]] = o["digest"]
    verdict = oracle_check(data, work, sorted(first), log)
    for o in ops:
        if o["kind"] == "fill" and o["ok"] and o["extra"]["failed"] != "0":
            o["ok"], o["err"] = False, "memo fills failed: " + o["extra"]["errors"]
        if o["kind"] != "query" or not o["ok"]:
            continue
        if verdict.get(o["name"]):
            o["ok"], o["err"] = False, "wrong result: " + verdict[o["name"]]
        elif o["digest"] != first.get(o["name"]):
            o["ok"], o["err"] = False, "wrong result: differs from first execution"


def cycle_of(op):
    """Ingest cycle index of an operation named `<kind>_<cycle>`."""
    return int(op["name"].rsplit("_", 1)[1])


def check_ingest(ops, exp):
    def rows(s):
        return sorted(tuple(r.split(",")) for r in s.split(";")) if s else []

    def want(lst):
        return sorted((str(i), st, str(h)) for i, st, h in lst)

    for o in ops:
        if not o["ok"]:
            continue
        kind, c = o["kind"], cycle_of(o)
        err = None
        if kind in ("fold", "verdict"):
            key = "fold" if kind == "fold" else "probe"
            if rows(o["extra"]["verdicts"]) != want(exp[key][c]):
                err = f"{kind} verdicts differ from the generator's"
        elif kind == "cycle":
            e, x = exp["cycle"][c], o["extra"]
            for k in ("inserted", "report_runs", "report_success"):
                if int(x[k]) != e[k]:
                    err = f"{k} {x[k]} != expected {e[k]}"
                    break
        if err:
            o["ok"], o["err"] = False, "wrong result: " + err


# ------------------------------------------------------------- metrics

def op_latencies(ops):
    """Latencies (ms) of the operations that succeeded: queries, folds,
    verdicts, ingest cycles and compactions. The memo fill is a step of
    the pass and counts in wall_s only."""
    return [o["ms"] for o in ops if o["ok"] and o["kind"] != "fill"]


def end_to_end(res, ops, setup):
    lat = op_latencies(ops)
    return {
        "setup_s": (setup["total"], "s"),
        "wall_s": (statistics.median(res["pass_walls"]), "s"),
        "op_geomean_ms": (statistics.geometric_mean(lat) if lat else 0.0, "ms"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res, ops, setup, exp, ncores, work):
    """Per-layer metrics of a traced run."""
    zero = dict.fromkeys(["jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                          "scan_mb", "shuffle_write_mb", "shuffle_read_mb",
                          "spill_mb", "out_mb"], 0.0)
    L = {k: res["layers"].get(k, zero)
         for k in ("operators", "plans", "exec", "memo", "store", "upsert")}
    med = lambda xs: statistics.median(xs) if xs else 0.0

    def p90(xs):
        xs = sorted(xs)
        return xs[max(0, math.ceil(0.9 * len(xs)) - 1)] if xs else 0.0

    q = [o for o in ops if o["kind"] == "query" and o["ok"]]
    fills = [o for o in ops if o["kind"] == "fill" and o["extra"]]
    exec_s = sum(o["parts"].get("exec", 0) for o in q) / 1e3
    fill_s = sum(o["parts"].get("memo", 0) for o in fills) / 1e3
    ex = lambda k: sum(float(o["extra"].get(k, 0)) for o in q)
    m = {
        "session.start_s": setup["session"],
        "tables.resolve_s": setup["tables"],
        "operators.build_s": sum(o["parts"].get("operators", 0) for o in q) / 1e3,
        "operators.build_p90_ms": p90([o["parts"].get("operators", 0) for o in q]),
        "operators.build_jobs": L["operators"]["jobs"],
        "operators.build_task_s": L["operators"]["task_s"],
        "plans.s": sum(o["parts"].get("plans", 0) for o in q) / 1e3,
        "plans.analysis_s": ex("analysis_ms") / 1e3,
        "plans.optimize_s": ex("optimize_ms") / 1e3,
        "plans.physical_s": ex("physical_ms") / 1e3,
        "plans.exchanges": ex("exchanges"),
        "plans.joins_smj": ex("joins_smj"),
        "plans.joins_bhj": ex("joins_bhj"),
        "exec.s": exec_s,
        "exec.slot_util": L["exec"]["task_s"] / (exec_s * ncores) if exec_s else 0.0,
        "memo.fill_s": fill_s,
        "memo.fill_busy_s": sum(float(o["extra"]["busy_s"]) for o in fills),
        "memo.fill_task_s": L["memo"]["task_s"],
        "memo.fill_jobs": L["memo"]["jobs"],
        "memo.fill_failed": sum(int(o["extra"].get("failed", 0))
                                for o in ops if o["kind"] == "fill"),
        "memo.slot_util": L["memo"]["task_s"] / (fill_s * ncores) if fill_s else 0.0,
        "memo.cached_mb": max([float(o["extra"]["cached_mb"]) for o in fills] or [0.0]),
        "jvm.heap_after_gc_peak_mb": res["heap_after_gc_peak_mb"],
    }
    for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "scan_mb",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"exec.{k}"] = L["exec"][k]
    # covered share of each query's wall by its three layer spans
    cover = [sum(o["parts"].values()) / o["ms"] for o in q if o["ms"] > 0]
    m["trace.query_cover_min"] = min(cover) if cover else 0.0
    # store / upsert (ingest)
    st = lambda k: [o["parts"]["store"] for o in ops if o["kind"] == k and o["ok"]]
    cyc = [o for o in ops if o["kind"] == "cycle" and o["ok"]]
    m["store.build_s"] = setup["store_build"]
    m["store.fold_p50_ms"] = med(st("fold"))
    m["store.verdict_p50_ms"] = med(st("verdict"))
    m["store.compact_s"] = sum(st("compact")) / 1e3
    m["store.bytes_written_mb"] = L["store"]["out_mb"]
    store = os.path.join(work, "store")
    store_files = data_files(store)
    m["store.files"] = len(store_files)
    sizes = os.path.join(store, "sizes")
    m["store.gen_dirs"] = len([d for d in os.listdir(sizes)
                               if d.startswith("ingest_gen=")]) if os.path.isdir(sizes) else 0
    m["upsert.cycle_p50_ms"] = med([o["parts"]["upsert"] for o in cyc])
    m["upsert.rows_inserted"] = sum(int(o["extra"]["inserted"]) for o in cyc)
    m["upsert.bytes_written_mb"] = L["upsert"]["out_mb"]
    # amplification: bytes of the generated input files stand for the
    # user data (fold batches and event windows ingested; plus the seed
    # corpus and the pre-landed window for what is live at the end)
    offered = skipped = ingested = 0
    for o in ops:
        if not exp or not o["ok"] or o["kind"] not in ("fold", "cycle"):
            continue
        c = cycle_of(o)
        if o["kind"] == "fold":
            ingested += exp["user_bytes"]["fold"][c]
        else:
            e = exp["cycle"][c]
            ingested += e["user_bytes"]
            offered += e["offered"]
            skipped += e["offered"] - int(o["extra"]["inserted"])
    m["upsert.skip_ratio"] = skipped / offered if offered else 0.0
    written = (L["store"]["out_mb"] + L["upsert"]["out_mb"]) * 1e6
    m["ingest.write_amp"] = written / ingested if ingested else 0.0
    live = ingested + (exp["user_bytes"]["seed"] + exp["user_bytes"]["prev"]
                       if exp else 0)
    on_disk = sum(map(os.path.getsize,
                      store_files + data_files(os.path.join(work, "target"))))
    m["ingest.space_amp"] = on_disk / live if live else 0.0
    out = {}
    for k, v in m.items():
        if k.endswith(("_s", ".s")):
            unit = "s"
        elif k.endswith("_ms"):
            unit = "ms"
        elif k.endswith("_mb"):
            unit = "MB"
        elif k.endswith(("slot_util", "skip_ratio", "_amp", "cover_min")):
            unit = "ratio"
        else:
            unit = "count"
        out[k] = (float(v), unit)
    return out


def self_times(spans):
    """Seconds of self time per span name: a span's duration minus the
    part of it that its child spans (same operation, parent = its name)
    cover. Layer calls never overlap, so children are summed."""
    dur = lambda sp: (sp[4] - sp[3]) / 1e9
    child = {}
    for sp in spans:
        if sp[2]:
            child[(sp[0], sp[2])] = child.get((sp[0], sp[2]), 0.0) + dur(sp)
    out = {}
    for sp in spans:
        own = dur(sp) - (0.0 if sp[2] else child.get((sp[0], sp[1]), 0.0))
        out[sp[1]] = out.get(sp[1], 0.0) + own
    return out


def data_files(path):
    """Data files under `path`, leaving out Spark's `_SUCCESS` markers
    and `.crc` checksums."""
    return [os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files if not f.startswith((".", "_"))]


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("registry", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    log = sys.stderr
    ncores = cores()
    load_before = load1()

    build.build(log)
    t_compiled = time.time()
    work = os.path.join(STATE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    con = datagen.connect()
    exp = None
    if a.workload == "registry":
        datagen.tables(con, data, CORPUS_SEED)
    else:
        exp = datagen.ingest_inputs(con, os.path.join(data, "ingest"), a.seed,
                                    INGEST_CYCLES)
    con.close()

    t_inputs = time.time()
    cmd = (["java"] + build.ADD_OPENS +
           [f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "graftbench.GraftBench",
            f"workload={a.workload}", f"data={data}", f"work={work}",
            f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}",
            f"cores={ncores}"])
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        t_launch = time.time()
        p = subprocess.Popen(cmd + [f"launched={int(t_launch * 1000)}"], cwd=work,
                             stdout=jl, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the benchmark JVM exceeded the run deadline")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: the benchmark JVM exited with {rc}")
    t_jvm = time.time()
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    ops = res["ops"]
    if a.workload == "registry":
        check_queries(ops, data, work, log)
    else:
        check_ingest(ops, exp)
    t_check = time.time()
    setup = res["setup"]
    metrics = (per_layer(res, ops, setup, exp, ncores, work) if a.trace
               else end_to_end(res, ops, setup))
    tail, pct, n = tail_metric(op_latencies(ops))
    info = {"op_p50_ms": statistics.median(op_latencies(ops)) if n else 0.0,
            "op_tail_ms": tail, "op_tail_percentile": pct, "op_samples": n}
    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        print(f"perfbench: FAILED {o['kind']} {o['name']}: {o['err']}", file=log)
    load_after = load1()
    line = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    host = {"nproc": ncores, "cpu": cpu_model(), "heap": HEAP,
            "load1_before": load_before, "load1_after": load_after,
            "contended": max(load_before, load_after) > ncores}
    if host["contended"]:
        print(f"perfbench: host load {max(load_before, load_after)} exceeds "
              f"{ncores} cores; figures are contended", file=log)
    art = dict(line, workload=a.workload, seed=a.seed, seconds=a.seconds,
               trace=a.trace, host=host,
               run_phases_s={"build": t_compiled - t_start,
                             "inputs": t_inputs - t_compiled,
                             "jvm": t_jvm - t_launch, "check": t_check - t_jvm},
               fail_ratio=len(failed) / len(ops),
               setup_phases_s=setup, pass_walls=res["pass_walls"], layers=res["layers"],
               ops=ops, spans=res["spans"], self_time_s=self_times(res["spans"]),
               **info)
    adir = os.path.join(STATE, "artifacts")
    os.makedirs(adir, exist_ok=True)
    art["wall_s"] = statistics.median(res["pass_walls"])
    # tracing overhead: this run's wall against the untraced run of the
    # same workload and seed, when one was made in this checkout
    other = os.path.join(adir, f"{a.workload}-seed{a.seed}-trace{1 - a.trace}.json")
    if os.path.exists(other):
        with open(other) as fh:
            w = json.load(fh)["wall_s"]
        art["trace_overhead_s"] = (art["wall_s"] - w) * (1 if a.trace else -1)
    with open(os.path.join(adir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as fh:
        json.dump(art, fh, indent=1)
    print(json.dumps(line))


if __name__ == "__main__":
    main()

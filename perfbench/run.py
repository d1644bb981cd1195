#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, one Spark process,
`local[<cores>]`, a closed loop with one client and one op in flight.

    python3 perfbench/run.py --workload star_catalog --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark's Scala side with sbt (`perfbench/build.sbt`) and computes the
lanes' expected outputs with DuckDB; later runs reuse both while the
sources and tables are unchanged. Each run generates its inputs
from the seed under a per-run scratch root (the lanes read the fixed
tables under `perfbench/data/`), checks every op's output,
deletes the scratch root, prints a one-line summary with every metric
and its unit, and ends with one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` reruns the timed window with spans and
counters and reports the per-layer metrics, and writes the spans and
counters to `.bench_out/trace-<workload>.json`. The exit code is 0 only
when every output was correct. See NOTES.md for the method.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen_netflix  # noqa: E402
import stats  # noqa: E402

# star_catalog: seven of the reference's post-load star queries over the
# star schema (graft.queries.Analytics; all sixteen did not fit the run
# budget, NOTES.md) and a versioned-catalog commit feed read as a stream,
# the reads beside the writes. iterative: four graph loops. The commit
# feed takes about five star lanes' time, so it sits in the workload
# whose median op is a star lane, not in one whose median it would
# decide; the star lanes are chosen so that the two middle ones of a
# pass take about the same time.
STAR_LANES = [
    "q01_pricing_summary", "q04_count_distinct", "q05_top_parts",
    "q07_star_join", "q09_semi_join", "q11_running_total",
    "q12_union_counts"]
CATALOG_LANES = ["q342_commit_feed"]
ITERATIVE_LANES = ["q118_triangle_count", "q190_clustering_coeff",
                   "q226_adamic_adar", "q327_ktruss"]
ALL_LANES = STAR_LANES + CATALOG_LANES + ITERATIVE_LANES

# warm: untimed passes (lanes) or loads (ingest) before timing; fewer
# leave the JIT unsettled (after two warm loads the timed loads still fell
# by a fifth from the first to the fifth), more do not fit the run budget.
# passes: the fewest timed passes, so the median pass sets aside one
# disturbed by the host.
# `ingest` is not in BENCHMARK.json: every load fails its check on a
# parser defect at this commit (NOTES.md, Findings); it stays runnable.
WORKLOADS = {
    "star_catalog": {"warm": 1, "passes": 3,
                     "lanes": STAR_LANES + CATALOG_LANES},
    "iterative": {"warm": 2, "passes": 4, "lanes": ITERATIVE_LANES},
    "ingest": {"warm": 4, "passes": 4, "ratings": 400_000},
}
# The lanes' tables: the engine's TPC-H-shaped test fixtures at scale
# 0.01 (seed 42), copied unchanged; only the seven tables the lanes read.
DATA = HERE / "data" / "sf0.01"
# The reference corpus: 100,480,507 ratings, read in splits of Spark's
# default 128 MiB. The ingest corpus is read in splits scaled down by the
# same ratio, so the text splits cut its files as they cut the reference's.
REFERENCE_RATINGS = 100_480_507
REFERENCE_SPLIT_BYTES = 128 << 20
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 170
MB = float(1 << 20)

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------ build

def build():
    """Compiles the engine and the benchmark's Scala side and computes
    the lanes' expected outputs when the sources, build files, tables or
    lanes changed; returns (classpath, directory of expected outputs)."""
    engine = ROOT / "src" / "main" / "scala"
    if not (engine / "graft" / "SparkEntry.scala").is_file():
        fail(f"engine sources not found under {engine}")
    if not any(DATA.glob("*.parquet")):
        fail(f"lane tables not found under {DATA}")
    sources = sorted(p for d in (engine, HERE / "src", DATA)
                     for p in d.rglob("*") if p.is_file())
    sources += [HERE / "build.sbt", HERE / "project" / "build.properties",
                ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    digest = hashlib.sha256(",".join(ALL_LANES).encode())
    for p in sources:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0")
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    out = ROOT / ".bench_build"
    cp_file, oracle_file = out / "classpath.txt", out / "oracle_sql.json"
    oracle_dir = out / "oracle"
    classes = HERE / "target" / "scala-2.13" / "classes"
    if ((out / "stamp").is_file() and (out / "stamp").read_text() == stamp
            and cp_file.is_file() and oracle_dir.is_dir()
            and classes.is_dir()):
        return cp_file.read_text().strip(), oracle_dir
    (out / "stamp").unlink(missing_ok=True)

    (out / "tmp").mkdir(parents=True, exist_ok=True)
    sbt_opts = f"-Xmx2g -Djava.io.tmpdir={out / 'tmp'}"
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        sbt_opts += (" -Dsbt.override.build.repos=true -Dsbt.offline=true"
                     f" -Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=sbt_opts)
    log = out / "build.log"
    with open(log, "w") as f:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=f, timeout=BUILD_TIMEOUT_S)
    lines = [ln.strip() for ln in log.read_text().splitlines() if ln.strip()]
    if rc != 0 or not lines or str(classes) not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    classpath = lines[-1]
    rc = run_child(java_cmd(classpath, out) + [
        "mode=oracle-sql", f"out={oracle_file}"], cwd=out, timeout=120)
    if rc != 0:
        fail("could not list the lanes' oracle SQL")
    shutil.rmtree(oracle_dir, ignore_errors=True)
    oracle_outputs(DATA, oracle_dir, ALL_LANES,
                   json.loads(oracle_file.read_text()))
    cp_file.write_text(classpath)
    (out / "stamp").write_text(stamp)
    return classpath, oracle_dir


def java_cmd(classpath, tmp):
    return (["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
             "perfbench.Main"])


_children = []


def run_child(cmd, cwd, timeout, env=None, stdout=None):
    """Runs a child in its own process group; kills the whole group on
    timeout or on our own termination, and always waits for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or
                         subprocess.DEVNULL, stderr=subprocess.STDOUT,
                         start_new_session=True)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {cmd[0]} timed out after {timeout} s",
              file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        _children.remove(p)


def _terminate(signum, _frame):
    for p in list(_children):
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


# ------------------------------------------------------------------ inputs

def oracle_outputs(data, oracle_dir, lanes, oracle_sql):
    """Runs each lane's DuckDB twin over the same tables; one parquet
    file of expected rows per lane."""
    import duckdb
    oracle_dir.mkdir()
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    for f in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM "
                    f"read_parquet('{f}')")
    for lane in lanes:
        if lane not in oracle_sql:
            fail(f"lane {lane} has no oracle SQL")
        con.execute(f"COPY ({oracle_sql[lane]}) TO "
                    f"'{oracle_dir / (lane + '.parquet')}' (FORMAT PARQUET)")
    con.close()


# ------------------------------------------------------------------ metrics

def end_to_end(res):
    """Medians over the timed window's passes (a load is one ingest
    pass), so one pass slowed by the host moves no metric much. Storage
    at an op's end also holds blocks of earlier ops that the cleaner has
    not released yet, which only add: each op (lane or load) counts with
    its least value over the passes, and the peak is over ops."""
    timed = [o for o in res["ops"] if o["phase"] == "timed"]
    passes = {}
    storage = {}
    for o in timed:
        passes.setdefault(o["pass"], []).append(o)
        storage.setdefault(o["name"], []).append(o["storage_bytes"])
    work = statistics.median(sum(o.get("rows", 1) for o in p)
                             for p in passes.values())
    busy = statistics.median(sum(o["s"] for o in p) for p in passes.values())
    peak = max(min(v) for v in storage.values())
    return {
        "setup_s": (res["setup_s"], "s"),
        "throughput": (work / busy, "1/s"),
        "op_p50_s": (statistics.median(o["s"] for o in timed), "s"),
        "peak_storage_mb": (peak / MB, "MB"),
    }


def per_layer(workload, res, n_cores):
    traced = [o for o in res["ops"] if o["phase"] == "traced"]
    timed = [o for o in res["ops"] if o["phase"] == "timed"]
    n = len(traced)

    def total(key):
        return sum(o["counters"].get(key, 0.0) for o in traced)

    def mean(key, scale=1.0):
        return total(key) / n / scale

    def peak(key, scale=1.0):
        return max(o["counters"].get(key, 0.0) for o in traced) / scale

    spans = res.get("spans", [])
    span_s = {}
    for s in spans:
        span_s[s["name"]] = span_s.get(s["name"], 0) + \
            (s["end_ns"] - s["start_ns"]) / 1e9
    selfs = stats.self_times(spans)
    traced_s = sum(o["s"] for o in traced)
    stage_s = total("spark.stage_s")
    work_t = sum(o.get("rows", 1) for o in traced) / traced_s
    work_u = sum(o.get("rows", 1) for o in timed) / sum(o["s"] for o in timed)
    m = {
        "spark.jobs_per_op": (mean("spark.jobs"), "count"),
        "spark.stages": (mean("spark.stages"), "count"),
        "spark.tasks": (mean("spark.tasks"), "count"),
        "spark.task_s": (mean("spark.task_s"), "s"),
        "spark.busy_ratio": (total("spark.task_s") / (traced_s * n_cores),
                             "ratio"),
        "spark.serial_stage_share": (
            total("spark.serial_stage_s") / stage_s if stage_s else 0.0,
            "ratio"),
        "spark.shuffle_mb": (mean("spark.shuffle_bytes", MB), "MB"),
        "spark.spill_mb": (mean("spark.spill_bytes", MB), "MB"),
        "spark.gc_s": (mean("spark.gc_s"), "s"),
        "trace.overhead_pct": (100.0 * (work_u - work_t) / work_u, "%"),
        "self.harness_s": (selfs.get("op", 0) / 1e9 / n, "s"),
        "self.lane_build_s": (selfs.get("lane.build", 0) / 1e9 / n, "s"),
        "self.lane_execute_s": (selfs.get("lane.execute", 0) / 1e9 / n, "s"),
        "self.spark_job_s": (selfs.get("spark.job", 0) / 1e9 / n, "s"),
        "catalyst.analysis_ms": (mean("catalyst.analysis_ms"), "ms"),
        "catalyst.optimization_ms": (mean("catalyst.optimization_ms"), "ms"),
        "catalyst.planning_ms": (mean("catalyst.planning_ms"), "ms"),
        "queries.agg_s": (mean("queries.agg_s"), "s"),
        "sources.scan_s": (mean("sources.scan_s"), "s"),
        "sources.rows_read": (mean("sources.rows_read"), "count"),
        "io.output_rows": (mean("io.output_rows"), "count"),
        "io.bytes_written_mb": (mean("io.output_bytes", MB), "MB"),
        "io.files_created": (mean("io.files_created"), "count"),
        "storage.retained_mb": (peak("storage.retained_bytes", MB), "MB"),
        "storage.retained_rdds": (peak("storage.retained_rdds"), "count"),
        "derived.entries": (peak("derived.entries"), "count"),
        "derived.held_mb": (peak("derived.held_bytes", MB), "MB"),
    }
    if workload == "ingest":
        for name in ("ingest.parse", "ingest.dim_movie",
                     "ingest.dim_customer", "ingest.dim_date", "ingest.fact",
                     "io.write"):
            m[name + "_s"] = (span_s.get(name, 0.0) / n, "s")
        rows = traced[0].get("rows", 0)
        lines = rows + res.get("malformed_lines", 0)
        m["ingest.parse_rows"] = (mean("ingest.parse_rows"), "count")
        m["ingest.parse_yield"] = (mean("ingest.parse_rows") / lines, "ratio")
        m["ingest.input_splits"] = (mean("ingest.input_splits"), "count")
        m["io.files_written"] = (mean("io.files_written"), "count")
        m["io.bytes_per_fact_row"] = (mean("io.bytes_written") / rows, "B")

    def pass_busy(phase):
        busy = {}
        for o in res["ops"]:
            if o["phase"] == phase:
                busy[o["pass"]] = busy.get(o["pass"], 0.0) + o["s"]
        return [busy[k] for k in sorted(busy)]

    m["derived.builds"] = (total("derived.builds") / len(pass_busy("traced")),
                           "count")
    m["derived.cold_s"] = (pass_busy("warm")[0]
                           - statistics.median(pass_busy("timed")), "s")
    batches = res.get("streaming_batch_s", [])
    m["streaming.batches"] = (mean("streaming.batches"), "count")
    m["streaming.batch_p50_s"] = (stats.median(batches), "s")
    m["streaming.batch_max_s"] = (max(batches, default=0.0), "s")
    for lane in ALL_LANES:
        secs = [o["s"] for o in timed if o["name"] == lane]
        m[f"lane.{lane}_s"] = (stats.median(secs), "s")
    return m


def verify(workload, res):
    """Marks every op right or wrong; returns the wrong ops' messages."""
    errors = []
    oracle = res.get("oracle", {})
    for o in res["ops"]:
        msg = o["error"]
        if msg is None and workload != "ingest":
            want = oracle.get(o["name"])
            if want is None or want.startswith("error"):
                msg = f"no oracle digest ({want})"
            elif o.get("digest") != want:
                msg = f"output digest {o.get('digest')} != oracle {want}"
        o["wrong"] = msg is not None
        if msg:
            errors.append(f"{o['phase']} op {o['id']} {o['name']}: {msg}")
    return errors


def jvm_timeout(seconds, trace):
    """Seconds the benchmark JVM may run: start-up and warm-up, then one
    timed window (two when tracing) of at least three passes and
    `seconds` of busy time, with room for a host twice as slow; at most
    RUN_LIMIT_S, the time a whole run may take once built."""
    return min(60 + (1 + trace) * 2 * max(seconds, 25), RUN_LIMIT_S)


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    wl = WORKLOADS[args.workload]
    n_cores = cores()

    classpath, oracle_dir = build()
    runs = ROOT / ".bench_run"
    scratch = runs / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    try:
        opts = [f"workload={args.workload}", f"seed={args.seed}",
                f"seconds={args.seconds}", f"trace={args.trace}",
                f"cores={n_cores}", f"warm={wl['warm']}",
                f"passes={wl['passes']}",
                f"scratch={scratch}", f"out={scratch / 'result.json'}"]
        malformed = 0
        if args.workload == "ingest":
            corpus = scratch / "corpus"
            exp = gen_netflix.generate(corpus, wl["ratings"], args.seed)
            malformed = exp["malformed_lines"]
            expect = {k: exp[k] for k in ("fact_rows", "customers", "movies",
                                          "rating_sum", "mix_checksum")}
            expect["dates"] = gen_netflix.DIM_DATE_ROWS
            split = REFERENCE_SPLIT_BYTES * wl["ratings"] // REFERENCE_RATINGS
            opts += [f"corpus={corpus}", f"split_bytes={split}",
                     "expect=" + ",".join(f"{k}:{v}" for k, v in expect.items())]
        else:
            opts += [f"data={DATA}", f"oracle={oracle_dir}",
                     "lanes=" + ",".join(wl["lanes"])]
        launch_ms = int(time.time() * 1000)
        with open(scratch / "jvm.log", "w") as log:
            rc = run_child(java_cmd(classpath, scratch / "tmp")
                           + opts + [f"launch_ms={launch_ms}"],
                           cwd=scratch, stdout=log,
                           timeout=jvm_timeout(args.seconds, args.trace))
        result = scratch / "result.json"
        if rc != 0 or not result.is_file():
            tail = (scratch / "jvm.log").read_text().splitlines()[-25:]
            sys.stderr.write("\n".join(tail) + "\n")
            fail(f"benchmark JVM failed (exit {rc})")
        res = json.loads(result.read_text())
        res["malformed_lines"] = malformed
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            runs.rmdir()
        except OSError:
            pass

    if res["passes"]:
        print("perfbench: passes (busy/wall s): " + ", ".join(
            f"{p['phase']} {p['busy_s']:.2f}/{p['wall_s']:.2f}"
            for p in res["passes"]), file=sys.stderr)
    lane_s = {}
    for o in res["ops"]:
        if o["phase"] == "timed":
            lane_s.setdefault(o["name"], []).append(o["s"])
    print("perfbench: timed ops (s): " + ", ".join(
        f"{k} " + " ".join(f"{x:.3f}" for x in v)
        for k, v in sorted(lane_s.items())), file=sys.stderr)
    errors = verify(args.workload, res)
    for e in errors[:20]:
        print(f"perfbench: WRONG {e}", file=sys.stderr)
    timed = [o for o in res["ops"] if o["phase"] == "timed"]
    attempted = len(timed)
    failed = sum(o["wrong"] for o in timed)
    e2e = end_to_end(res)
    secs = [o["s"] for o in timed]
    t = stats.tail(secs)
    summary = [f"{k}={v:.6g} {u}" for k, (v, u) in e2e.items()]
    summary.insert(3, f"op_tail_s={t[1]:.6g} s (p{t[0]:.0f}, n={t[2]})"
                   if t else f"op_tail_s=n/a (n={len(secs)} < "
                   f"{stats.MIN_TAIL_SAMPLES})")
    summary.append(f"error_rate={failed / attempted:.6g} ({failed}/"
                   f"{attempted})")
    print(f"{args.workload} [local[{n_cores}], heap {HEAP}, "
          f"n={attempted}]: " + ", ".join(summary))
    if args.trace:
        metrics = per_layer(args.workload, res, n_cores)
        out = ROOT / ".bench_out"
        out.mkdir(exist_ok=True)
        (out / f"trace-{args.workload}.json").write_text(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "per_layer": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()},
            "self_s": {k: v / 1e9 for k, v in
                       stats.self_times(res.get("spans", [])).items()},
            "ops": [o for o in res["ops"] if o["phase"] == "traced"],
            "spans": res.get("spans", [])}, indent=1))
    else:
        metrics = e2e
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())

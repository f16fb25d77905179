#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON summary line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for the metric definitions):

  reference_etl  the reference's whole job: seeded listings CSV through
                 CsvIngest.readWithCorrupt + deadLetterSplit into a
                 three-branch Pipeline.run (raw and per-key aggregate
                 parquet sinks in Truncate mode, a dead-letter sink)
  query_mix      registered operators: q*/window_* batch queries, a
                 stream_* twin (AvailableNow), and memo-index consumers
                 (basket_pairs, pipeline_corpus_curation into a parquet
                 sink), each pass paying its own index builds

The first run in a checkout builds the engine and the harness with sbt
(perfbench/build.sbt depends on the repository root) and generates the
tables; later runs reuse both while the sources are unchanged. Each run
starts one JVM, sets up its session with a warm-up pass on small inputs
(setup_s), then runs passes over the workload until --seconds have gone,
each pass on a fresh hard-linked copy of the tables. Outputs of the last
pass are checked against DuckDB afterwards. --trace 1 attaches the Spark
listener to every other pass and reports the per-layer metrics; its
spans go to perfbench/work/trace/<workload>-seed<seed>.json.

The last line of stdout is {"correct", "attempted", "failed", "metrics"}.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import gen  # noqa: E402  (sibling modules of this script)
import pyarrow.parquet as pq  # noqa: E402
import verify  # noqa: E402

WORKLOADS = ("reference_etl", "query_mix")
TABLE_SCALE = 0.003         # lineitem ~18k rows, documents 150, events 3k
CSV_ROWS = 200000           # reference_etl input rows (~16 MB)
SMALL_SCALE, SMALL_CSV_ROWS = 0.001, 5000   # --small (self-test) inputs
RUN_LIMIT_S = 170           # the JVM is stopped past this (build excluded)
# A fixed heap and young generation keep the RSS high-water mark from
# following the collector's adaptive sizing, which varies run to run.
JVM_HEAP, JVM_YOUNG = "3g", "768m"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def _fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness when the sources changed; returns the
    path of the JVM argument file holding the classpath."""
    bdir = os.path.join(WORK, "build")
    stamp, argfile = os.path.join(bdir, "stamp"), os.path.join(bdir, "cp.args")
    fp = _fingerprint()
    if os.path.exists(argfile) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                return argfile
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    log("building engine and harness with sbt ...")
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.forcestart=false",
             "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        raise SystemExit(f"sbt build failed (rc={p.returncode}); see {bdir}/sbt.log")
    with open(argfile, "w") as f:
        f.write("-cp\n" + json.dumps(lines[-1].strip()) + "\n")
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return argfile


# ---- inputs -----------------------------------------------------------------

def ensure_tables(name, scale):
    d = os.path.join(WORK, "data", name)
    done = os.path.join(d, ".done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(d, scale)
        open(done, "w").close()
    return d


def ensure_csv(name, seed, rows):
    path = os.path.join(WORK, "data", f"{name}.csv")
    meta = path + ".json"
    if os.path.exists(meta):
        with open(meta) as f:
            m = json.load(f)
        if m.get("seed") == seed and m.get("rows") == rows:
            return path, m
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path, gen.listings_csv(path, seed, rows)


def table_rows(d):
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for f in os.listdir(d) if f.endswith(".parquet"))


# ---- the JVM run --------------------------------------------------------------

def steal_ticks():
    """CPU time stolen by the hypervisor so far, in clock ticks."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def run_jvm(argfile, jargs, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = tmp
    # keep the engine's scratch under java.io.tmpdir (inside this run dir)
    env["SPARK_GRAFT_SCRATCH_MIN_GB"] = str(1 << 30)
    cmd = (["java", f"@{argfile}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
              "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "perfbench.Main"] + jargs)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=out,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("harness JVM overran the run limit; killed")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            tail = f.read()[-1500:]
        raise SystemExit(f"harness JVM failed (rc={rc}):\n{tail}")


# ---- metrics ----------------------------------------------------------------

def end_to_end(res, input_rows):
    untraced = [p for p in res["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in untraced]
    op_walls = [o["wall_s"] for p in untraced for o in p["ops"]]
    wall = statistics.median(walls)
    return {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "query_p50_s": statistics.median(op_walls),
        "rows_per_s": input_rows / wall,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def metric_units(kind):
    """{metric: unit} of one metric list of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def per_layer(res, units):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    out = {}
    for name in units:
        vals = [p["layers"].get(name, 0.0) for p in traced]
        out[name] = statistics.median(vals) if vals else 0.0
    t_wall = statistics.median(p["wall_s"] for p in traced)
    u_wall = statistics.median(p["wall_s"] for p in untraced[1:] or untraced)
    out["trace.traced_wall_s"] = t_wall
    out["trace.untraced_wall_s"] = u_wall
    out["trace.overhead_s"] = t_wall - u_wall
    return {k: out[k] for k in units}


def self_times(spans):
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_ms"]
    return [dict(s, self_ms=max(0.0, s["dur_ms"] - child.get(s["id"], 0.0)))
            for s in spans]


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs (self-test only; not comparable)")
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("no graft sources next to perfbench/: nothing to benchmark")

    argfile = build()
    deadline = time.time() + RUN_LIMIT_S

    scale = SMALL_SCALE if a.small else TABLE_SCALE
    tables = ensure_tables(f"tables_{scale}", scale)
    csv, meta = ensure_csv("listings", a.seed,
                           SMALL_CSV_ROWS if a.small else CSV_ROWS)

    # fresh run directory: no sink, warehouse or result survives a run
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_json = os.path.join(run_dir, "result.json")
    ddl = ", ".join(f"{c} {t}" for c, t in gen.LISTING_COLUMNS)
    jargs = ["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--tables", tables, "--csv", csv, "--csv_schema", ddl,
             "--key_col", gen.KEY_COLUMN, "--sum_col", gen.SUM_COLUMN,
             "--work", run_dir, "--out", out_json]
    steal0 = steal_ticks()
    run_jvm(argfile, jargs, run_dir, deadline)
    steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    with open(out_json) as f:
        res = json.load(f)

    # ---- correctness (untimed) ----
    attempted = sum(len(p["ops"]) for p in res["passes"])
    failed = sum(1 for p in res["passes"] for o in p["ops"] if o["error"])
    problems = [f"{o['name']}: {o['error']}" for p in res["passes"]
                for o in p["ops"] if o["error"]][:3]
    if a.workload == "reference_etl":
        typed = [(c, {"long": "BIGINT", "int": "INTEGER"}.get(t, t.upper()))
                 for c, t in gen.LISTING_COLUMNS if t != "string"]
        fails = verify.check_etl(csv, os.path.join(run_dir, "sink"), typed,
                                 gen.KEY_COLUMN, gen.SUM_COLUMN,
                                 meta["planted_bad"])
        input_rows = meta["rows"]
    else:
        verdicts = verify.check_queries(tables, os.path.join(run_dir, "results"),
                                        res["order"], res["oracle"])
        fails = [f"{k}: {v}" for k, v in verdicts.items() if v]
        input_rows = table_rows(tables)
        log(f"oracle-checked {sum(1 for k in verdicts if k in res['oracle'])}"
            f"/{len(verdicts)} operations")
        # every pass must pay its own index builds
        fails += [f"pass {p['index']} built no index table" for p in res["passes"]
                  if p["layers"].get("index.builds", 0) <= 0]
    failed += len(fails)
    problems += fails[:3]
    for pmsg in problems:
        log(f"FAILED {pmsg}"[:300])

    # run hygiene: flag contention instead of silently timing through it
    if res["spark_contenders_start"] or res["spark_contenders_end"]:
        log("WARNING: another Spark JVM was running; timings are suspect")
    if steal_s > 0.05 * (time.time() - t_start):
        log(f"WARNING: {steal_s:.1f} s of CPU stolen by the host during the run")

    if a.trace:
        units = metric_units("per_layer")
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in per_layer(res, units).items()}
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        trace_path = os.path.join(WORK, "trace", f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "per_layer": {k: m["value"] for k, m in metrics.items()},
                       "passes": res["passes"],
                       "spans": self_times(res["spans"])}, f)
        log(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    else:
        units = metric_units("end_to_end")
        e2e = end_to_end(res, input_rows)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}

    passes = res["passes"]
    cpu = sum(p["cpu_s"] for p in passes)
    wall = sum(p["wall_s"] for p in passes)
    print(f"workload={a.workload} seed={a.seed} passes={len(passes)} "
          f"ops/pass={len(passes[0]['ops'])} cores={res['cores']} "
          f"cpu/wall={cpu / wall:.2f} steal_s={steal_s:.1f} "
          f"run_s={time.time() - t_start:.1f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()

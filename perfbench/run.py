#!/usr/bin/env python3
"""graft's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload generate --seed 1 --seconds 20 --trace 0

Builds graft and the JVM driver (perfbench/build.py), runs one workload as
a closed loop with one client in one local[nproc] Spark session, checks
every output, and prints the metrics as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1 (which
also writes the span file under .bench_out/). `--workload all` runs every
workload BENCHMARK.json lists, in turn. perfbench/README.md explains
each number.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("generate", "corpus_pipeline", "registry_sf")
DATA_DIR = os.path.join("perfbench", "data", "sf0.01")
# A fixed, pre-touched heap: without it VmHWM follows G1's heap sizing,
# which varied by 20 % between runs of the same workload, so peak_rss_mb
# moves with off-heap memory (state stores, Netty, metaspace, code cache).
DRIVER_HEAP = "2g"
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_driver(root, scratch, workload, seed, seconds, trace, limit_s):
    """Run the JVM driver; return its raw record (None if it failed)."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    raw_path = os.path.join(scratch, "raw.json")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-XX:+AlwaysPreTouch",
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", build.classpath(root), "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--root", scratch, "--out", raw_path,
              "--data", os.path.join(root, DATA_DIR)])
    log_path = os.path.join(scratch, "driver.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=out, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            log(f"driver exceeded {limit_s:.0f} s and was stopped")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(raw_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        log(f"driver exited with {proc.returncode}")
        return None
    with open(raw_path) as fh:
        return json.load(fh)


def canon(df):
    """Order-insensitive form of a result, as tools/check_correctness.py."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same(got, want):
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False
    if g.equals(w):
        return True
    return all((g[c].astype(str).values == w[c].astype(str).values).all() for c in g.columns)


def oracle_frames(root, names, sqls):
    """DuckDB replays of the oracles over the benchmark's tables, cached in
    the build directory by (SQL, input bytes)."""
    import duckdb
    import pandas as pd
    data = os.path.join(root, DATA_DIR)
    tables = sorted(glob.glob(os.path.join(data, "*.parquet")))
    h = hashlib.sha256()
    for t in tables:
        with open(t, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    cache = os.path.join(build.build_dir(root), "oracles")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {os.path.basename(t)[:-8]} AS SELECT * FROM '{t}'")
    frames = {}
    for name in names:
        key = hashlib.sha256(sqls[name].encode() + h.digest()).hexdigest()[:32]
        path = os.path.join(cache, f"{name}-{key}.pkl")
        if not os.path.exists(path):
            t0 = time.time()
            con.sql(sqls[name]).df().to_pickle(path + ".part")
            os.replace(path + ".part", path)
            log(f"oracle {name} replayed in {time.time() - t0:.1f} s")
        frames[name] = pd.read_pickle(path)
    return con, frames


def check_queries(root, raw):
    """Compare every registered query's parquet output with its DuckDB oracle;
    returns {span id: result rows} and marks wrong outputs as failed."""
    ops = [o for o in metrics.op_spans(raw) if "output" in o["attrs"]]
    if not ops:
        return {}
    sqls = raw["info"]["oracle_sql"]
    names = sorted({o["attrs"]["name"] for o in ops})
    missing = [n for n in names if n not in sqls]
    con, frames = oracle_frames(root, [n for n in names if n in sqls], sqls)
    rows = {}
    for o in ops:
        a = o["attrs"]
        if not a["ok"]:
            continue
        if a["name"] in missing:
            a["ok"], a["problem"] = False, "no oracle"
            continue
        got = con.sql(f"SELECT * FROM '{a['output']}/*.parquet'").df()
        rows[o["id"]] = len(got)
        if not same(got, frames[a["name"]]):
            a["ok"], a["problem"] = False, "result differs from the DuckDB oracle"
    return rows


def disclosure(root, raw):
    lines = 0
    for f in glob.glob(os.path.join(root, "src", "main", "**", "*.scala"), recursive=True):
        with open(f, "rb") as fh:
            lines += fh.read().count(b"\n")
    commit = os.environ.get("GRAFT_COMMIT")
    if not commit and os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return dict(raw["host"], commit=commit or "unknown", src_main_scala_lines=lines,
                **raw["load"])


def run_one(root, workload, seed, seconds, trace, limit_s):
    scratch = os.path.join(root, ".bench_run", f"{workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        raw = run_driver(root, scratch, workload, seed, seconds, trace, limit_s)
        if raw is None:
            return None
        rows_out = check_queries(root, raw)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    counted = [o for o in metrics.op_spans(raw) if o["attrs"]["phase"] != "probe"]
    problems = [f"{o['attrs']['name']}: {o['attrs']['problem']}" for o in metrics.op_spans(raw)
                if not o["attrs"]["ok"]]
    problems += [f"{c['name']}: {c['problem']}" for c in raw["checks"] if c["problem"]]
    failed = sum(1 for o in counted if not o["attrs"]["ok"])
    if trace:
        values = metrics.per_layer(raw, rows_out)
        out = os.path.join(root, ".bench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"trace-{workload}-seed{seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": workload, "seed": seed, "spans": metrics.trace_spans(raw)}, fh)
        log(f"span file: {os.path.relpath(path, root)}")
    else:
        values = metrics.end_to_end(raw)
    units = unit_map()
    info = {"workload": workload, "seed": seed, "trace": trace,
            "failed_op_share": failed / len(counted) if counted else 1.0,
            "latency": metrics.latency_summary(raw),
            "op_walls_s": op_walls(raw),
            "host": disclosure(root, raw), "workload_info": {
                k: v for k, v in raw["info"].items() if k != "oracle_sql"},
            "problems": problems[:20]}
    print(json.dumps({"info": info}))
    for name, v in values.items():
        log(f"{workload:16s} {name:42s} {v:14.4f} {units.get(name, '')}")
    for p in problems[:20]:
        log(f"PROBLEM {p}")
    return {"correct": not problems, "attempted": len(counted), "failed": failed,
            "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in values.items()}}


def op_walls(raw):
    """Every wall of every op by name, in run order from the warm-up on."""
    out = {}
    for o in metrics.op_spans(raw):
        if o["attrs"]["phase"] in ("warmup", "timed", "traced"):
            out.setdefault(o["attrs"]["name"], []).append(round(metrics.wall(o), 3))
    return out


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def unit_map():
    s = spec()
    return {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    t0 = time.time()
    try:
        build.ensure_built(root)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    built_s = time.time() - t0
    # a run that had to compile gets the first-run allowance
    limit = (FIRST_RUN_LIMIT_S if built_s > 5 else RUN_LIMIT_S) - built_s
    results = {}
    names = [w["name"] for w in spec()["workloads"]] if a.workload == "all" else [a.workload]
    for w in names:
        r = run_one(root, w, a.seed, a.seconds, a.trace, limit)
        if r is None:
            return 1
        results[w] = r
    if a.workload == "all":
        for w, r in results.items():
            print(json.dumps(dict(workload=w, **r)))
    else:
        print(json.dumps(results[a.workload]))
    return 0


if __name__ == "__main__":
    # turn SIGTERM into SystemExit so the driver JVM is stopped and the
    # scratch root removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())

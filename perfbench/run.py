#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and
the repository's main sources with sbt into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, starts one JVM that warms up every operation
(dumping outputs), then drives closed-loop passes over the workload's
operations for at least `--seconds`. Outputs are checked afterwards:
query and stream results against the DuckDB oracle, ETL sinks against
the corpus generator's own counts.

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; the full run artifact is written
to `.bench_out/`.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
JVM_TIMEOUT_S = 170
# the JVM's heap ceiling; the initial heap is left at its default, so
# the heap grows only as far as the program needs
HEAP = "3g"
# inputs are generated this many times and the median time is kept
SETUP_REPS = 3
# the query workloads' tables: scale factor and a fixed seed (the run's
# seed orders the operations instead)
TABLE_SF = 0.1
TABLE_SEED = 42
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

sys.dont_write_bytecode = True  # write nothing outside the run's own dirs
sys.path.insert(0, HERE)
import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def config():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources (src/main/scala) to build")
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           f"-Dsbt.global.base={BUILD}/sbt-global",
           f"-Dsbt.boot.directory={BUILD}/sbt-global/boot",
           "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    log("building harness and program sources with sbt")
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: sbt build failed ({p.returncode})")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------- harness

def harness(cp, work, args):
    """Runs one perfbench.Harness JVM in `work` on all usable cores and
    returns its artifact."""
    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(work, "harness.json")
    for d in ("tmp", "stream-scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Harness",
              "--work", work, "--out", out, "--cpus", str(cpus)] + args)
    env = dict(os.environ, SPARK_GRAFT_STREAM_SCRATCH=f"{work}/stream-scratch",
               SPARK_GRAFT_CPUS=str(cpus))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- inputs

def make_inputs(wl, work, seed):
    """Generates the workload's inputs SETUP_REPS times into fresh
    directories; returns (input dir, expected counts, seconds per rep)."""
    times, expected, path = [], None, None
    for r in range(SETUP_REPS):
        path = os.path.join(work, f"input{r}")
        t0 = time.perf_counter()
        if wl["kind"] == "etl":
            expected = gen_corpus.generate(path, wl["corpus_scale"], seed)
        else:
            # the tables are fixed; the seed orders the operations
            expected = gen_tables.generate(path, TABLE_SF, TABLE_SEED)
        times.append(time.perf_counter() - t0)
        if r < SETUP_REPS - 1:
            shutil.rmtree(path)
    return path, expected, times


# ---------------------------------------------------------------- checks

def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(ops, oracle_sql, data, results):
    """{op: None if the Spark result equals the DuckDB oracle's, else
    the cause}. Canonicalization is scripts/check_oracle.py's."""
    import duckdb
    co = _load_check_oracle()
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for name in ops:
        res = os.path.join(results, name)
        if name not in oracle_sql:
            out[name] = "no oracle SQL"
            continue
        if not os.path.isdir(res):
            out[name] = "no result dumped"
            continue
        try:
            sql = oracle_sql[name]
            o_schema = con.execute(sql).arrow().schema
            o_rows = con.execute(sql).fetchall()
            s_sql = f"SELECT * FROM '{res}/*.parquet'"
            s_schema = con.execute(s_sql).arrow().schema
            s_rows = con.execute(s_sql).fetchall()
        except Exception as e:  # noqa: BLE001
            out[name] = f"{type(e).__name__}: {e}"
            continue
        o_types = {f.name: co.type_key(f.type) for f in o_schema}
        s_types = {f.name: co.type_key(f.type) for f in s_schema}
        oc, orows = co.canon(o_rows, list(o_schema.names))
        sc, srows = co.canon(s_rows, list(s_schema.names))
        if o_types != s_types:
            out[name] = f"types differ oracle={o_types} spark={s_types}"
        elif oc != sc:
            out[name] = f"columns differ oracle={oc} spark={sc}"
        elif len(orows) != len(srows):
            out[name] = f"rowcount oracle={len(orows)} spark={len(srows)}"
        elif orows != srows:
            out[name] = "row values differ"
        else:
            out[name] = None
    return out


def _csv_rows(d):
    import csv
    n = 0
    for name in sorted(os.listdir(d)):
        if name.endswith(".csv"):
            with open(os.path.join(d, name), newline="", encoding="utf-8") as f:
                n += max(0, sum(1 for _ in csv.reader(f)) - 1)
    return n


def _lines(d, prefix=""):
    n = 0
    for name in sorted(os.listdir(d)):
        if name.startswith("part-"):
            with open(os.path.join(d, name), encoding="utf-8") as f:
                n += sum(1 for line in f if line.startswith(prefix))
    return n


def check_etl(out_dir, expected):
    """None if every sink holds the expected rows, else the cause."""
    if not os.path.isdir(out_dir):
        return "no sinks written"
    bad = []
    for table, want in expected["tables"].items():
        got = {"csv": _csv_rows(f"{out_dir}/csv/{table}"),
               "sql": _lines(f"{out_dir}/sql/{table}", "INSERT INTO ")}
        bad += [f"{table}.{k}={v} want {want}" for k, v in got.items() if v != want]
    jsonl = _lines(f"{out_dir}/clean_jsonl")
    if jsonl != expected["clean"]:
        bad.append(f"clean_jsonl={jsonl} want {expected['clean']}")
    return "; ".join(bad) or None


def check_etl_stages(stages, expected):
    """None if every traced stage pass counted the rows and per-rule
    drops the corpus generator expects, else the cause."""
    want = {"ingest.rows_out": expected["merged"],
            "ingest.dup_dropped": expected["raw"] - expected["merged"],
            "clean.rows_out": expected["clean"]}
    want.update({f"clean.dropped.{k}": v for k, v in expected["dropped"].items()})
    bad = [f"{k}={s[k]:g} want {v}" for s in stages for k, v in want.items() if s[k] != v]
    return "; ".join(bad) or None


# ---------------------------------------------------------------- metrics

def end_to_end(art, setup_s, n_fail):
    passes = [p["sec"] for p in art["passes"] if not p["traced"]]
    ops = [o["sec"] for o in art["ops"] if not o["traced"]]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "op_p50_s": (stats.percentile(ops, 0.5), "s"),
        "success_ratio": (1.0 - n_fail / art["attempted"], "ratio"),
        "peak_heap_after_gc_mb": (art["peak_heap_after_gc_mb"], "MB"),
    }


def per_layer(art, names):
    traced = [p["layers"] for p in art["passes"] if p["traced"]]
    untraced = [p["sec"] for p in art["passes"] if not p["traced"]]
    stages = art.get("stage_passes") or []

    def med(rows, k):
        vals = [r[k] for r in rows if k in r]
        return statistics.median(vals) if vals else 0.0
    out = {}
    for name, unit in names:
        if name == "trace.overhead":
            v = (statistics.median([p["sec"] for p in art["passes"] if p["traced"]])
                 / statistics.median(untraced))
        elif name == "jvm.peak_rss_mb":
            v = art["peak_rss_mb"]
        elif name == "tables.load_s":
            v = sum(art.get("tables_load", {}).values())
        elif name.split(".")[0] in ("ingest", "clean", "star", "writers"):
            v = med(stages, name)
        else:
            v = med(traced, name)
        out[name] = (v, unit)
    return out


def op_tail(ops):
    """The highest percentile of the pooled operation latencies with at
    least ten samples beyond it, or None when the pool is too small."""
    level = stats.tail_level(len(ops))
    return None if level is None else {"level": level, "value": stats.percentile(ops, level)}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cfg = config()
    wl = cfg["workloads"][args.workload]
    cp = build()

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t_setup0 = time.time()
        data, expected, gen_times = make_inputs(wl, work, args.seed)
        ops = wl.get("ops", [])
        launch = time.time()
        art = harness(cp, work, [
            "--kind", wl["kind"], "--ops", ",".join(ops), "--data", data,
            "--seconds", str(args.seconds), "--seed", str(args.seed),
            "--trace", str(args.trace)])

        t_check0 = time.time()
        fails = {f["op"]: f"{f['phase']}: {f['class']}: {f['message']}"
                 for f in art["failures"]}
        if wl["kind"] == "etl":
            for phase, d in (("check", "etl/check"), ("timed", "etl/run")):
                if phase == "check" and not os.path.isdir(os.path.join(work, d)):
                    continue  # untraced ETL runs have no warm-up pass
                cause = check_etl(os.path.join(work, d), expected)
                if cause:
                    fails.setdefault(f"etl:{phase}", f"{phase} sinks: {cause}")
            cause = check_etl_stages(art.get("stage_passes") or [], expected)
            if cause:
                fails.setdefault("etl:stages", f"traced stage counts: {cause}")
        else:
            for name, cause in check_queries(ops, art["oracle_sql"], data,
                                             os.path.join(work, "results")).items():
                if cause:
                    fails.setdefault(name, f"oracle mismatch: {cause}")
        check_s = time.time() - t_check0
        # attempted: warm-up executions plus timed ones; an operation whose
        # output is wrong fails on every execution
        wrong = {k.split(":")[0] for k in fails}
        warm_per_op = (art["attempted"] - len(art["ops"])) // len(art["ops_list"])
        n_fail = sum(1 for o in art["ops"] if o["name"] in wrong)
        n_fail += warm_per_op * len(wrong & set(art["ops_list"]))
        setup_s = (statistics.median(gen_times)
                   + (art["first_op_epoch_ms"] / 1e3 - launch) + check_s)

        if args.trace:
            metrics = per_layer(art, [(m["name"], m["unit"]) for m in cfg_per_layer()])
        else:
            metrics = end_to_end(art, setup_s, n_fail)
        artifact = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "ops": ops,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "failures": fails, "expected": expected if wl["kind"] == "etl" else None,
            "setup": {"input_reps_s": gen_times,
                      "jvm_to_first_op_s": art["first_op_epoch_ms"] / 1e3 - launch,
                      "check_s": check_s, "session_s": art["session_s"],
                      "warmup_s": art["warmup_s"]},
            "session_conf": art["session_conf"], "health": art["health"],
            "passes": art["passes"], "op_times": art["ops"],
            "op_tail": op_tail([o["sec"] for o in art["ops"] if not o["traced"]]),
            "stage_passes": art.get("stage_passes"),
            "tables_load": art.get("tables_load"),
            "total_s": time.time() - t_setup0,
        }
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump(artifact, f, indent=1)
        for k, cause in sorted(fails.items()):
            log(f"FAILED {k}: {cause}")
        h = art["health"]
        log(f"health: steal {h['steal_pct']:.1f}% loadavg {h['loadavg_start']}"
            f"->{h['loadavg_end']} calib {h['calib_s']:.3f} s")
        for k, (v, u) in metrics.items():
            print(f"{k} = {v:.6g} {u}")
        print(json.dumps({
            "correct": not fails, "attempted": int(art["attempted"]),
            "failed": int(n_fail),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def cfg_per_layer():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


if __name__ == "__main__":
    main()

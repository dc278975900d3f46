#!/usr/bin/env python3
"""Seeded benchmark for the graft warehouse engine.

    python3 perfbench/run.py --workload nightly_load|forecast_weekly|headline_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark (perfbench/build.sbt, output under .bench_build/); inputs are
generated from the seed and cached per (workload, seed). The benchmark JVM
(graft.perfbench.Main) runs the workload; this script checks every dumped
output against the DuckDB oracle with tools/check.py's comparison, then
prints the metrics. The last stdout line is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. The lines before it are for people: workload-specific
figures, the tracing overhead, the run's environment and any failure.
"""
import argparse
import atexit
import hashlib
import json
import math
import multiprocessing as mp
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import types

sys.dont_write_bytecode = True  # leave no __pycache__ next to tools/check.py
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Engine session settings a caller's environment could otherwise override.
SCRUBBED_ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_BYPASS_THRESHOLD",
                "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "SPARK_GRAFT_EXTRA_CONFS")
SETUPS = 5
JVM_TIMEOUT_S = 170
JVM_HEAP = "3g"
# Per-layer metrics of forecast_weekly, which is runnable by hand but not in
# BENCHMARK.json (see perfbench/README.md): its spans, minus plan_s.
FORECAST_PER_LAYER = [
    *(f"{span}.{f}" for span in ("forecast.sesJob", "forecast.holtJob", "forecast.arimaJob",
                                 "functions.sql_arima_auto")
      for f in ("wall_s", "jobs", "tasks", "task_s", "gap_s", "cpu_util", "shuffle_mb")),
    "forecast.arimaJob.max_task_s", "functions.sql_arima_auto.max_task_s",
    "functions.sql_arima_auto.fit_yield", "GraftSession.local.wall_s", "tracing.overhead_ratio"]
UNITS = {"wall_s": "s", "task_s": "s", "gap_s": "s", "plan_s": "s", "max_task_s": "s",
         "shuffle_mb": "MB", "mb_written": "MB", "cpu_util": "ratio", "fit_yield": "ratio",
         "overhead_ratio": "ratio"}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"# {msg}", flush=True)


# ------------------------------------------------------------------ build

def source_stamp(root):
    paths = ["perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        paths += [os.path.relpath(os.path.join(d, f), root)
                  for d, _, files in os.walk(os.path.join(root, top)) for f in files]
    h = hashlib.sha256()
    for rel in sorted(paths):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compiles engine + benchmark once per source state; returns the
    classpath and the source stamp."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"], stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    t = time.time()
    with open(os.path.join(out, "build.log"), "w") as logf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
                           stderr=logf, text=True, timeout=840)
        logf.write(r.stdout)
    lines = [ln.strip() for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench_" not in lines[-1].split(":")[0]:
        fail(f"build failed (see {out}/build.log)", 1)
    classpath = lines[-1]
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"built engine + benchmark in {time.time() - t:.1f} s")
    return classpath, stamp


# ------------------------------------------------------------------ checks

def load_check_module(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check  # tools/check.py: the DuckDB oracle comparison
    return check


class _OnceCon:
    """A DuckDB connection that replays each distinct oracle SQL once: the
    warm-up dump and the final re-dump of a query share one replay."""

    def __init__(self, con):
        self.con, self.frames = con, {}

    def execute(self, sql):
        if sql not in self.frames:
            self.frames[sql] = self.con.execute(sql).df()
        frame = self.frames[sql]
        return types.SimpleNamespace(df=frame.copy)


def _check_worker(args):
    corpus, results, names = args
    check = sys.modules.get("check")
    check._init(corpus, results, 1)
    check._CON = _OnceCon(check._CON)
    return [check.check_one(n) for n in names]


def check_oracles(check, corpus, results, oracles, jobs):
    """Runs tools/check.py's comparison for the dumped outputs in `oracles`
    ({name: SQL}, also written to oracle_sql.json in `results`); names that
    share a SQL go to one worker. Returns {name: (ok, lines)}."""
    if not oracles:
        return {}
    by_sql = {}
    for n, sql in sorted(oracles.items()):
        by_sql.setdefault(sql, []).append(n)
    groups = sorted(by_sql.values())
    chunks = [[n for g in groups[i::jobs] for n in g] for i in range(min(jobs, len(groups)))]
    if len(chunks) == 1:
        out = _check_worker((corpus, results, chunks[0]))
    else:
        with mp.get_context("fork").Pool(len(chunks)) as pool:
            out = [r for part in pool.map(_check_worker, [(corpus, results, c) for c in chunks]) for r in part]
    return {n: (kind == "pass", lines) for n, kind, lines in out}


ARIMA_CONFIG = re.compile(r"^\(([0-4]), ([01]), ([0-4])\)$")


def check_arima(corpus, results, names, min_weeks=5):
    """ARIMA fits have no independent replay (the repository pins them with
    golden CSVs of the engine's own output on the repository's test corpora), so on a
    generated corpus they are checked for shape: the profile set equals the
    DuckDB-derived set of profiles with more than `min_weeks` weekly points,
    every config lies in the 5x2x5 grid, values are finite, the bounds are
    prediction -/+ 1.96 x std_error, and all ARIMA outputs agree exactly."""
    if not names:
        return {}
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    expected = {r[0] for r in con.execute(f"""
        SELECT p_brand FROM read_parquet('{corpus}/lineitem.parquet') l
        JOIN read_parquet('{corpus}/part.parquet') p ON l_partkey = p_partkey
        WHERE l_shipdate < TIMESTAMP '2001-06-01'
        GROUP BY p_brand HAVING count(DISTINCT date_trunc('week', l_shipdate)) > {min_weeks}""").fetchall()}
    out, frames = {}, {}
    for n in names:
        df = pd.read_parquet(os.path.join(results, n)).sort_values("profile_name", ignore_index=True)
        frames[n] = df
        problems = []
        got = set(df.profile_name)
        if got != expected:
            problems.append(f"profiles differ: missing {sorted(expected - got)[:5]}, extra {sorted(got - expected)[:5]}")
        if not df.best_config.map(lambda s: bool(ARIMA_CONFIG.match(str(s)))).all():
            problems.append("best_config outside the (p<5, d<2, q<5) grid")
        num = df[["mse", "prediction", "std_error", "lower_bound", "upper_bound"]]
        if not num.map(lambda v: math.isfinite(v)).all().all():
            problems.append("non-finite fit values")
        elif not ((df.mse >= 0) & (df.std_error >= 0)).all():
            problems.append("negative mse or std_error")
        elif not ((df.lower_bound == df.prediction - 1.96 * df.std_error)
                  & (df.upper_bound == df.prediction + 1.96 * df.std_error)).all():
            problems.append("bounds are not prediction -/+ 1.96 x std_error")
        out[n] = (not problems, [f"[{'pass ' if not problems else 'FAIL '}] {n}: rows={len(df)} arima shape"
                                 + ("" if not problems else " -- " + "; ".join(problems))])
    ref = names[0] if names else None
    for n in names[1:]:
        if not frames[n].equals(frames[ref]):
            out[n] = (False, out[n][1] + [f"[FAIL ] {n}: differs from {ref}"])
    return out


def inject_wrong_row(results, name):
    """Test hook: corrupts one value of one dumped output."""
    import pandas as pd
    p = os.path.join(results, name)
    df = pd.read_parquet(p)
    col = next(c for c in df.columns if pd.api.types.is_numeric_dtype(df[c]))
    df.loc[0, col] = df.loc[0, col] + 1
    shutil.rmtree(p)
    os.makedirs(p)
    df.to_parquet(os.path.join(p, "part-0.parquet"), index=False)


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs):
    """(percentile, value) of the highest percentile with at least ten samples
    above it, or None when there are too few samples."""
    n = len(xs)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, sorted(xs)[max(0, math.ceil(p / 100 * n) - 1)]


def op_groups(res, workload):
    """Timed operations of the run as {group id: [op]}: a nightly cycle or a
    forecast refresh is one group; a headline sweep of 18 queries is one."""
    groups = {}
    for o in res["ops"]:
        if not o["timed"]:
            continue
        g = o["id"].split(".")[0] if workload == "headline_mix" else o["id"]
        groups.setdefault(g, []).append(o)
    return groups


def step_times(res, workload):
    steps = {}
    for o in res["ops"]:
        if not o["timed"]:
            continue
        if workload == "headline_mix":
            steps.setdefault(o["id"].split(".", 1)[1], []).append(o["wall_s"])
        else:
            for s in o["steps"]:
                steps.setdefault(s["name"], []).append(s["wall_s"])
    return steps


def end_to_end(res, workload):
    groups = op_groups(res, workload)
    walls = [sum(o["wall_s"] for o in ops) for ops in groups.values()]
    steps = step_times(res, workload)
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "op_s": (median(walls), "s"),
        "step_geomean_s": (geomean([median(v) for v in steps.values()]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }, walls, steps


def per_layer(res, workload, names):
    """Per-layer metrics from the traced operations' spans: fields are summed
    within one operation (one sweep for headline_mix) and the median over
    operations is reported; 0 where the workload does not reach the layer."""
    cores = res["info"]["cores"]
    traced_ops = {o["id"] for o in res["ops"] if o["traced"]}
    by_name, by_layer = {}, {}
    layers = res["extras"].get("layers", {})
    for s in res["spans"]:
        if s["op"] not in traced_ops:
            continue
        group = s["op"].split(".")[0] if workload == "headline_mix" else s["op"]
        by_name.setdefault(s["name"], {}).setdefault(group, []).append(s["fields"])
        if workload == "headline_mix":  # each query's op span is its layer's
            by_layer.setdefault(layers[s["op"].split(".", 1)[1]], {}).setdefault(group, []).append(s["fields"])

    def summarise(groups):
        out = {}
        for per_op in groups.values():
            tot = {}
            for fields in per_op:
                for k, v in fields.items():
                    tot[k] = max(tot.get(k, 0.0), v) if k == "max_task_s" else tot.get(k, 0.0) + v
            w = tot.get("wall_s", 0.0)
            tot["cpu_util"] = tot.get("task_s", 0.0) / (w * cores) if w > 0 else 0.0
            for k, v in tot.items():
                out.setdefault(k, []).append(v)
        return {k: median(v) for k, v in out.items()}

    spans = {n: summarise(g) for n, g in by_name.items()}
    rows = {n: summarise(g) for n, g in by_layer.items()}
    vals = {}
    for name in names:
        if name == "GraftSession.local.wall_s":
            vals[name] = median(res["setup_s"])
        elif name == "tracing.overhead_ratio":
            units = op_groups(res, workload).values()
            on = [sum(o["wall_s"] for o in ops) for ops in units if ops[0]["traced"]]
            off = [sum(o["wall_s"] for o in ops) for ops in units if not ops[0]["traced"]]
            vals[name] = median(on) / median(off) - 1 if on and off else 0.0
        elif name == "functions.sql_arima_auto.fit_yield":
            groups = res["extras"].get("profile_groups")
            vals[name] = res["extras"]["arima_auto_rows"] / groups if groups else 0.0
        else:
            owner, field = name.rsplit(".", 1)
            vals[name] = {**spans, **rows}.get(owner, {}).get(field, 0.0)
    return vals


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bench_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) or not os.path.exists(bench_file):
        fail("run from the repository root: the engine sources (src/main/scala/graft) are missing")
    with open(bench_file) as f:
        spec = json.load(f)
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)

    classpath, stamp = build(root, out)
    t = time.time()
    inputs = os.path.join(out, "inputs", f"{a.workload}-s{a.seed}")
    manifest = gen.generate(a.workload, a.seed, inputs)
    gen_s = time.time() - t

    work = os.path.join(out, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if a.workload == "headline_mix":  # the engine's boundary-oracle dumps (graft.OracleIo.dir)
        atexit.register(shutil.rmtree, f"/tmp/graft_oracle_io/{os.path.basename(inputs)}", True)
    env = {k: v for k, v in os.environ.items() if k not in SCRUBBED_ENV}
    cores = len(os.sched_getaffinity(0))
    # Class-data sharing: the first benchmark JVM of a build archives the
    # classes it loaded (Spark's come from ~300 jars); later JVMs map the
    # archive and start in about 4 s instead of 10-13 s on 4 cores.
    cds = os.path.join(out, f"cds-{stamp[:16]}.jsa")
    cds_new = not os.path.exists(cds)
    cds_flag = f"-XX:ArchiveClassesAtExit={cds}.tmp" if cds_new else f"-XX:SharedArchiveFile={cds}"
    cmd = ["java", cds_flag, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--inputs", inputs, "--work", work, "--cores", str(cores),
           "--setups", str(SETUPS)]
    os.makedirs(work)
    jvm_log = os.path.join(work, "jvm.log")
    t = time.time()
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    jvm_s = time.time() - t
    if cds_new and rc == 0 and os.path.exists(cds + ".tmp"):
        for old in os.listdir(out):
            if old.startswith("cds-") and old.endswith(".jsa"):
                os.remove(os.path.join(out, old))
        os.replace(cds + ".tmp", cds)
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        with open(jvm_log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc}); log kept in {jvm_log}", 1)
    with open(result_file) as f:
        res = json.load(f)
    if a.workload == "forecast_weekly":
        res["extras"]["profile_groups"] = manifest["info"]["profile_groups"]
    if a.workload == "nightly_load":
        res["extras"]["backfill_records"] = sum(manifest["info"]["backfill"][k] for k in ("square", "shopify", "qb"))

    # ---- correctness, outside every timed window
    t = time.time()
    check = load_check_module(root)
    results = os.path.join(work, "results")
    oracles = res["oracles"]
    oracle_sql = {k: v["sql"] for k, v in oracles.items() if v["kind"] == "oracle"}
    with open(os.path.join(results, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    if os.environ.get("PERFBENCH_INJECT_WRONG_ROW"):  # corrupts the check of the first timed operation
        inject_wrong_row(results, next(c for o in res["ops"] if o["timed"] for c in o["checks"] if c in oracle_sql))
    verdict = check_oracles(check, inputs, results, oracle_sql, jobs=max(1, min(4, cores // 2)))
    verdict.update(check_arima(inputs, results, [k for k, v in oracles.items() if v["kind"] == "arima"]))
    verdict.update({k: (os.path.isdir(os.path.join(results, k)), [f"[rows ] {k}: no oracle, rows-only"])
                    for k, v in oracles.items() if v["kind"] == "rows"})
    check_s = time.time() - t
    bad_checks = sorted(k for k, (ok, _) in verdict.items() if not ok)
    # an operation fails on an exception, on a failed check, or when a check
    # it points at was never dumped (its re-dump threw)
    failed_ops = [o for o in res["ops"] if o["error"] or not o["checks"]
                  or any(c not in verdict or not verdict[c][0] for c in o["checks"])]
    for k in bad_checks:
        for ln in verdict[k][1]:
            log(ln)
    for o in failed_ops:
        log(f"FAILED operation {o['id']}: {o['error'] or 'output mismatch: ' + ', '.join(o['checks'])}")

    # ---- metrics
    e2e, walls, steps = end_to_end(res, a.workload)
    n_ops = len(walls)
    ex = res["extras"]
    info = res["info"]
    log(f"{a.workload} seed={a.seed} cores={info['cores']} nproc={info['nproc']} java='{info['java']}' "
        f"spark={info['spark']} input_bytes={manifest['bytes']} input_rows={json.dumps(manifest['info'].get('rows', {}))}")
    log("session confs " + " ".join(f"{k}={v}" for k, v in sorted(info["confs"].items())))
    log(f"setup samples {[round(x, 3) for x in res['setup_s']]}; JVM start to first session {res['cold_start_s']:.2f} s")
    untimed = {}
    for o in res["ops"]:
        if not o["timed"]:
            g = o["id"].split(".")[0]
            untimed[g] = untimed.get(g, 0.0) + o["wall_s"]
    log("untimed warm-up and re-dump walls " + " ".join(f"{g}={v:.2f}" for g, v in untimed.items()))
    tl = tail(walls)
    log(f"operations: {n_ops} timed groups, median {median(walls):.4f} s"
        + (f", p{tl[0]} {tl[1]:.4f} s" if tl else "") + f"; oracle checks {len(verdict) - len(bad_checks)}/{len(verdict)} pass"
        + f" ({sum(1 for v in oracles.values() if v['kind'] == 'rows')} rows-only)")
    named = {}
    if a.workload == "nightly_load":
        named = {"cycle_s": median(walls), "demand_query_s": median(steps.get("analytics.WeeklyDemand", [])),
                 "backfill_records_per_s": ex["backfill_records"] / ex["backfill_s"],
                 "stored_bytes_per_input_byte": ex["warehouse_bytes"] / ex["source_bytes"]}
    elif a.workload == "forecast_weekly":
        named = {"refresh_s": median(walls)}
    else:
        named = {"sweep_s": median(walls), "query_geomean_s": e2e["step_geomean_s"][0]}
    units = op_groups(res, a.workload).values()
    log(f"per operation: JVM cpu_s={median([sum(o['cpu_s'] for o in ops) for ops in units]):.4f}, "
        f"host steal_s={median([sum(o['steal_s'] for o in ops) for ops in units]):.4f} (all CPUs)")
    log("workload metrics " + " ".join(f"{k}={v:.4f}" for k, v in named.items()))
    log("step medians " + " ".join(f"{k}={median(v):.4f}" for k, v in sorted(steps.items())))
    attempted = len(res["ops"])
    log(f"error_rate={len(failed_ops) / attempted:.4f} ({len(failed_ops)}/{attempted}); "
        f"generate {gen_s:.1f} s, benchmark JVM {jvm_s:.1f} s, checks {check_s:.1f} s")
    if a.trace:
        gated = any(w["name"] == a.workload for w in spec["workloads"])
        names = [m["name"] for m in spec["per_layer"]] if gated else FORECAST_PER_LAYER
        vals = per_layer(res, a.workload, names)
        metrics = {n: {"value": vals[n], "unit": UNITS.get(n.rsplit(".", 1)[1], "count")} for n in names}
        with open(os.path.join(out, f"spans-{a.workload}.json"), "w") as f:
            json.dump({"ops": res["ops"], "spans": res["spans"]}, f)
        log(f"tracing overhead: traced ops {vals['tracing.overhead_ratio'] * 100:+.1f} % vs untraced ops")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]}

    shutil.rmtree(work, ignore_errors=True)  # kept only when the JVM failed
    print(json.dumps({"correct": not failed_ops, "attempted": attempted, "failed": len(failed_ops),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

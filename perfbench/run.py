#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
program and the harness (perfbench/harness, an sbt build that depends on
the program's own build) and reuses the build while the sources are
unchanged. Each run generates its input tables from the seed, starts one
JVM that sets up, measures and records (graftbench.Main), then checks the
program's outputs against DuckDB and against the harness's own models,
outside the timed window. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Any failed check prints
correct=false and exits 1. Workloads and metrics: perfbench/METRICS.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_data  # noqa: E402

WORKLOADS = ("olap_tpch", "pipeline_ops", "served_short", "dml_mixed")
E2E = ("setup_s", "round_s", "stmts_per_s", "read_p50_ms", "read_p75_ms", "peak_rss_mb")
UNITS = {"setup_s": "s", "round_s": "s", "stmts_per_s": "1/s", "read_p50_ms": "ms",
         "read_p75_ms": "ms", "peak_rss_mb": "MB"}
SF = 0.02           # scale factor of the generated tables
# Engine JVM heap limit. The heap starts small and grows as the engine needs
# it, so peak RSS follows the engine's heap use as well as native memory.
JVM_MEM = ["-Xmx2g", "-XX:-UsePerfData"]
BUILD_TIMEOUT = 840
RUN_LIMIT = 170     # seconds a run may take, not counting a build


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build; a change forces a rebuild."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/*.properties", "project/*.scala",
            "src/main/**/*", "perfbench/harness/build.sbt",
            "perfbench/harness/project/*.properties", "perfbench/harness/src/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(root, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(root, bdir):
    stamp = source_stamp(root)
    stamp_file = os.path.join(bdir, "build.stamp")
    launch = os.path.join(bdir, "launch.txt")
    if os.path.exists(launch) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp \
            and all(os.path.exists(p) for p in open(launch).readline().strip().split(os.pathsep)):
        return launch
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    if os.path.exists(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env["SBT_OPTS"] = " ".join(opts)
    # every JVM the sbt script starts keeps its temp files in the checkout
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        # own process group: the sbt script starts a JVM that must not outlive it
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                             cwd=os.path.join(root, "perfbench", "harness"), env=env,
                             stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -9
    if rc != 0:
        fail(f"build failed, see {log}")
    shutil.copy(os.path.join(root, "perfbench", "harness", "target", "launch.txt"), launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


def run_jvm(launch, args, run_dir, timeout):
    lines = open(launch).read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_MEM + [f"-Djava.io.tmpdir={tmp}"] + opts + \
        ["-cp", cp, "graftbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def cpu_times():
    """Host CPU jiffies (all fields, steal) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]
    except (OSError, ValueError, IndexError):
        return None


# ---------------------------------------------------------------- checks

def duck(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        if name == "events":
            con.execute(f"CREATE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, "
                        f"user_id, event_type, value, props FROM read_parquet('{p}')")
        else:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(df):
    """Columns by name, rows sorted; values as comparable strings."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        else:
            df[c] = df[c].map(lambda v: str(list(v)) if isinstance(v, (list, np.ndarray))
                              else ("NULL" if v is None or (isinstance(v, float) and math.isnan(v))
                                    else str(v)))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check_oracles(con, out_dir, report):
    """Every query result must equal DuckDB's answer to its oracle SQL."""
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    bad = []
    names = report["checks"].get("results_failed", []) + report["checks"].get("without_oracle", [])
    bad += [f"{n}: no result or no oracle" for n in names]
    for name, sql in sorted(oracles.items()):
        res = os.path.join(out_dir, "results", name)
        if not os.path.isdir(res):
            continue
        try:
            got, want = canon(pd.read_parquet(res)), canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001 — any failure is a check failure
            bad.append(f"{name}: {e}")
            continue
        if list(got.columns) != list(want.columns) or not got.equals(want):
            bad.append(f"{name}: result differs from DuckDB "
                       f"({len(got)} vs {len(want)} rows)")
    return bad, len(oracles)


def norm(v):
    if v is None:
        return "NULL"
    if hasattr(v, "isoformat"):
        return str(v).replace("T", " ")
    s = str(v)
    try:
        return repr(round(float(s), 6))
    except ValueError:
        return s.replace("T", " ")


def check_served(con, out_dir):
    """Every recorded served read must equal DuckDB's answer to its text."""
    bad, n = [], 0
    with open(os.path.join(out_dir, "served_reads.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            n += 1
            want = [[norm(v) for v in r] for r in con.execute(rec["sql"]).fetchall()]
            got = [[norm(v) for v in r] for r in rec["rows"]]
            if "order by" not in rec["sql"]:
                want, got = sorted(want), sorted(got)
            if want != got:
                bad.append(f"{rec['sql'][:100]}: got {got[:2]} want {want[:2]}")
    if n == 0:
        bad.append("no served reads recorded")
    return bad, n


def checks(workload, data_dir, out_dir, report):
    con = duck(data_dir)
    if workload in ("olap_tpch", "pipeline_ops"):
        return check_oracles(con, out_dir, report)
    if workload == "served_short":
        return check_served(con, out_dir)
    c = report["checks"]
    bad = [k for k in ("table_equals_model", "reopen_equals_model", "matview_equals_query")
           if not c.get(k)]
    return [f"{k}: {c.get(k.replace('equals_model', 'diff').replace('equals_query', 'diff'))}"
            for k in bad], 3


# ---------------------------------------------------------------- main

T_START = time.time()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a graft checkout: no build.sbt / src/main/scala here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(bdir, exist_ok=True)

    launch = build(root, bdir)
    run_end = time.time() + RUN_LIMIT
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    gen_data.write(data_dir, a.seed, SF)
    t_jvm = time.time()
    cpu0 = cpu_times()
    rc = run_jvm(launch, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--data", data_dir, "--out", run_dir],
                 run_dir, run_end - time.time() - 10)
    report_path = os.path.join(run_dir, "report.json")
    if rc != 0 or not os.path.exists(report_path):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.err")).read()[-4000:])
        fail(f"harness exited with {rc}; logs in {run_dir}", 1)
    report = json.load(open(report_path))
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to other guests while the JVM ran
    steal = round((cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]), 4) \
        if cpu0 and cpu1 else None

    t0 = time.time()
    bad, checked = checks(a.workload, data_dir, run_dir, report)
    if report["failed"]:
        bad.append(f"{report['failed']} of {report['attempted']} operations failed: "
                   f"{report['extra']['errors']}")
    correct = not bad
    prov = dict(report["provenance"], sf=SF, checks_s=round(time.time() - t0, 3), checked=checked,
                jvm_s=round(t0 - t_jvm, 3), prepare_s=round(t_jvm - T_START, 3),
                host_steal_frac=steal)
    print("provenance " + json.dumps(prov, sort_keys=True))
    print("extra " + json.dumps(report["extra"], sort_keys=True))
    for b in bad:
        print(f"CHECK FAILED {b}")
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(report["layers"].items())}
    else:
        metrics = {k: {"value": report["e2e"][k], "unit": UNITS[k]} for k in E2E}
    for k, m in metrics.items():
        print(f"  {k:<40} {m['value']:>14.6g} {m['unit']}")
    # inputs, warehouses and spark scratch are not needed once checked
    for p in glob.glob(os.path.join(run_dir, "warehouse-*")) + \
            [os.path.join(run_dir, d) for d in ("data", "spark-local", "tmp", "results")]:
        shutil.rmtree(p, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


LAYER_UNITS = {"wire.bytes_per_stmt": "B", "plancache.hit_ratio": "ratio",
               "commit.write_amp": "ratio", "dml.space_amp": "ratio",
               "trace.overhead_frac": "ratio", "lock.write_held_frac": "ratio",
               "lock.queue_len_mean": "count", "commit.live_files": "count",
               "text.passes": "count"}


def layer_unit(name):
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    for suffix, unit in (("_mb", "MB"), ("_per_stmt", "count"), ("_s", "s")):
        if name.endswith(suffix) and "ms_" not in name.split(".")[-1]:
            return unit
    return "ms"


if __name__ == "__main__":
    main()

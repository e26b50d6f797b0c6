#!/usr/bin/env python3
"""graft's benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload <contract_sf0.01|lake_rw> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness
(perfbench/build.sbt, which compiles graft's src/main with it),
generates the input tables and builds lake_rw's history table; later
runs reuse all three while their sources are unchanged. Everything it
writes lives under .perfbench/ in the checkout. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import lake  # noqa: E402
import metrics  # noqa: E402

SCALES = {"sf0.01": 0.01, "sf0.1": 0.1}
JVM_HEAP = "8g"                          # graft's own default driver heap
TAIL_Q = 0.7
MIN_OPS = metrics.min_samples(TAIL_Q)   # >= 10 samples beyond the p70
MAX_SECONDS_FACTOR = 6                   # timed loop cap while reaching MIN_OPS
JVM_TIMEOUT_S = 150                      # from JVM spawn; the build is extra
HISTORY_TIMEOUT_S = 600

# contract_sf0.01: a frozen sample of the contract's floor-dominated
# rows plus its streaming-engine row. The floor rows: measured at commit
# b9b2da6 (4 cores, sf0.01, warm), the 150 rows at or below the
# contract's median latency sorted by latency, every 30th from the 16th.
# q_stream_exec stands for the stream rows, the contract's tail at every
# scale; at 1 op in 6 it stays beyond the p70 the run reports.
CONTRACT_ROWS = [
    "q_schema_evolution", "q_transition_matrix", "q_theilsen",
    "q_token_pack", "q_set_ops_all", "q_stream_exec",
]

LAKE_BASE_ROWS = 30_000
LAKE_WARM_ROUNDS = 1                    # every op kind once
LAKE_PLAN_OPS = 600

WORKLOADS = {
    "contract_sf0.01": {"kind": "contract", "data": "sf0.01"},
    "lake_rw": {"kind": "lake", "data": "sf0.1"},
}
E2E = [("setup_s", "s"), ("op_p50_s", "s"), ("op_p70_s", "s"),
       ("ops_per_s", "1/s")]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness with graft (sbt, offline) unless the sources
    are unchanged since the last build; return the run classpath."""
    srcs = (glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
            + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
            + [os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project/build.properties")])
    key = tree_hash([p for p in srcs if os.path.isfile(p)])
    stamp = os.path.join(WORK, "build", "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["key"] == key:
            return got["classpath"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser(
                           "~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.forcestart=false "
                       "-Xmx2g")
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if ln.endswith(".jar") or "classes" in ln]
    if rc != 0 or not cp or "/" not in cp[-1]:
        fail(f"build failed (see {log})")
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def data(scale):
    """Generate the input tables for `scale` once per generator version."""
    import gen_data
    out = os.path.join(WORK, "data", scale)
    key = tree_hash([os.path.join(HERE, "gen_data.py")])
    stamp = os.path.join(out, ".stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(out, SCALES[scale])
        with open(stamp, "w") as f:
            f.write(key)
    return out


def history(classpath):
    """lake_rw's history table (see lake.history), built once per build
    and input; runs copy it. Returns the table's directory and the
    build's result (its appends' latencies by version)."""
    data_dir = data(WORKLOADS["lake_rw"]["data"])
    key = tree_hash([os.path.join(WORK, "build", "classpath.json"),
                     os.path.join(data_dir, ".stamp"),
                     os.path.join(HERE, "lake.py"), __file__])
    out = os.path.join(WORK, "history")
    table = os.path.join(out, "warehouse", "hist")
    stamp = os.path.join(out, ".stamp")
    res = os.path.join(out, "result.json")
    if os.path.exists(stamp) and open(stamp).read() == key:
        with open(res) as f:
            return table, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    ids, cents = event_cents(data_dir)
    plan_file = os.path.join(out, "plan.txt")
    with open(plan_file, "w") as f:
        f.write("\n".join(lake.history_plan(ids, cents, LAKE_BASE_ROWS)) + "\n")
    rc, _ = run_jvm(classpath, out, [
        "workload=history", f"data={data_dir}", f"plan={plan_file}",
        f"out={out}", "seconds=0", f"cpus={os.cpu_count() or 1}", "trace=0",
        "min_ops=0", "max_seconds=0"], time.time() + HISTORY_TIMEOUT_S)
    if rc != 0 or not os.path.exists(res):
        fail(f"history build exited {rc} (see {out}/jvm.log)")
    with open(res) as f:
        built = json.load(f)
    if built["head_version"] != lake.HISTORY_WRITES:
        fail(f"history table ends at version {built['head_version']}, "
             f"not {lake.HISTORY_WRITES}")
    for d in ("tmp", "local"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(key)
    return table, built


def contract_plan(seed):
    """Check pass and warm pass in a seeded order, then timed passes,
    each a fresh seeded permutation of the rows."""
    rng = random.Random(seed)
    rows = list(CONTRACT_ROWS)
    rng.shuffle(rows)
    lines = [f"check {r}" for r in rows] + [f"warm {r}" for r in rows]
    for p in range(200):
        rng.shuffle(rows)
        lines += [f"op {p} {r}" for r in rows]
    return lines


def event_cents(data_dir):
    import pyarrow.parquet as pq
    import numpy as np
    t = pq.read_table(os.path.join(data_dir, "events.parquet"),
                      columns=["event_id", "value"])
    ids = t.column("event_id").to_numpy()
    order = np.argsort(ids)
    cents = np.round(t.column("value").to_numpy() * 100).astype(np.int64)
    return ids[order], cents[order]


def run_jvm(classpath, rundir, args, deadline):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rundir, "local"))
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false",
              f"-Dspark.local.dir={os.path.join(rundir, 'local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(rundir, 'warehouse')}",
              "-cp", classpath, "perfbench.Harness"] + args)
    log = open(os.path.join(rundir, "jvm.log"), "w")
    spawn_ms = time.time() * 1000
    proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=log,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    log.close()
    return rc, spawn_ms


def oracle_check(data_dir, dump, oracle, rows):
    """The contract's DuckDB oracle compare (scripts/selfcheck.py, as
    is) over the rows dumped during set-up; returns failed row names."""
    with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
        json.dump({r: oracle[r] for r in rows}, f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "selfcheck.py"),
                        data_dir, dump] + rows, capture_output=True, text=True)
    failed = [ln.split()[1].rstrip(":") for ln in p.stdout.splitlines()
              if ln.startswith("FAIL")]
    if p.returncode != 0 and not failed:
        failed = ["selfcheck: " + (p.stderr.strip().splitlines() or ["error"])[-1]]
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala"))
            and os.path.isfile(os.path.join(ROOT, "scripts/selfcheck.py"))):
        fail(f"no graft sources under {ROOT} (run from the repository root)")
    wl = WORKLOADS[a.workload]
    classpath = build()
    # every workload's inputs, so only a checkout's first run prepares
    hist, hist_res = history(classpath)
    data_dir = data(wl["data"])
    rundir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    out = os.path.join(rundir, "out")
    if wl["kind"] == "contract":
        plan = contract_plan(a.seed)
        model = None
    else:
        ids, cents = event_cents(data_dir)
        plan, model = lake.plan(a.seed, ids, cents, LAKE_BASE_ROWS,
                                LAKE_WARM_ROUNDS, LAKE_PLAN_OPS)
        shutil.copytree(hist, os.path.join(out, "warehouse", f"t{a.seed}"))
    plan_file = os.path.join(rundir, "plan.txt")
    with open(plan_file, "w") as f:
        f.write("\n".join(plan) + "\n")
    cpus = os.cpu_count() or 1
    rc, spawn_ms = run_jvm(classpath, rundir, [
        f"workload={wl['kind']}", f"data={data_dir}", f"plan={plan_file}",
        f"out={out}", f"seconds={a.seconds}", f"cpus={cpus}",
        f"trace={a.trace}", f"min_ops={MIN_OPS}",
        f"max_seconds={MAX_SECONDS_FACTOR * a.seconds}"],
        time.time() + JVM_TIMEOUT_S)
    res_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        tail = open(os.path.join(rundir, "jvm.log")).read().splitlines()[-15:]
        fail(f"harness exited {rc}:\n" + "\n".join(tail))
    with open(res_file) as f:
        res = json.load(f)
    ops = res["ops"]
    problems = list(res.get("setup_errors", []))
    problems += [f"op {o['i']} {o['kind']} {o['name']}: {o['err']}"
                 for o in ops if not o["ok"]]
    bad_ops = {o["i"] for o in ops if not o["ok"]}
    if wl["kind"] == "contract":
        failed_rows = oracle_check(data_dir, os.path.join(out, "dump"),
                                   oracle_sql(classpath, rundir),
                                   sorted(CONTRACT_ROWS))
        problems += [f"oracle mismatch: {r}" for r in failed_rows]
        bad_ops |= {o["i"] for o in ops if o["name"] in failed_rows}
    else:
        bad = lake.check(model, ops)
        problems += bad
        bad_ops |= {int(b.split()[1]) for b in bad}
    lat = [o["lat_s"] for o in ops]
    e2e = {
        "setup_s": (res["first_timed_epoch_ms"] - spawn_ms) / 1000,
        "op_p50_s": metrics.percentile(lat, 0.5),
        "op_p70_s": metrics.percentile(lat, TAIL_Q),
        "ops_per_s": len(ops) / res["timed_wall_s"],
    }
    report = {"seed": a.seed, "workload": a.workload, "ops": len(ops),
              "p70_samples_beyond": metrics.beyond(lat, TAIL_Q),
              "setup": {k: res.get(k) for k in ("session_start_s", "warmup_s",
                                                "warm_pass_s")},
              "p50_by_kind": {k: [len(v), metrics.percentile(v, 0.5)]
                              for k, v in by_kind(ops).items()},
              "problems": problems[:20]}
    if a.trace:
        values = traced_metrics(a, res, ops, out, wl["kind"], cpus, hist_res)
        values["fail_ratio"] = len(bad_ops) / len(ops)
        values["jvm.rss_peak_mb"] = res["rss_peak_mb"]
        units = {m["name"]: m["unit"] for m in bench_spec()["per_layer"]}
    else:
        values = e2e
        units = dict(E2E)
    print(json.dumps(report), file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": len(ops),
        "failed": len(bad_ops),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    shutil.rmtree(rundir, ignore_errors=True)
    sys.exit(0 if not problems else 1)


def by_kind(ops):
    out = {}
    for o in ops:
        out.setdefault(o["kind"] if o["kind"] != "query" else o["name"],
                       []).append(o["lat_s"])
    return out


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def oracle_sql(classpath, rundir):
    """SparkEntry.oracleSql, dumped once per build."""
    path = os.path.join(WORK, "build", "oracle_sql.json")
    if not os.path.exists(path) or os.path.getmtime(path) < os.path.getmtime(
            os.path.join(WORK, "build", "classpath.json")):
        subprocess.run(["java", "-cp", classpath, "perfbench.OracleDump", path],
                       cwd=rundir, check=True, capture_output=True)
    with open(path) as f:
        return json.load(f)


def traced_metrics(a, res, ops, out, kind, cpus, hist_res):
    spans = [json.loads(ln) for ln in open(os.path.join(out, "spans.jsonl"))]
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    stem = os.path.join(traces, f"{a.workload}-seed{a.seed}")
    shutil.copy(os.path.join(out, "spans.jsonl"), stem + ".spans.jsonl")
    m = metrics.per_layer(res, spans, cpus)
    table, wall = metrics.layer_table(spans)
    lines = [f"{'span (self time)':<26}{'ms':>12}{'share':>8}"]
    for name, ms in sorted(table.items(), key=lambda kv: -kv[1]):
        lines.append(f"{name:<26}{ms:>12.1f}{ms / wall:>8.1%}")
    lines.append(f"{'traced op wall':<26}{wall:>12.1f}")
    with open(stem + ".layers.txt", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines), file=sys.stderr)
    if kind == "contract":
        m["trace.overhead"] = metrics.trace_overhead(ops, lambda o: o["name"])
        share = lambda *names: sum(table.get(n, 0.0) for n in names) / wall
        m["floor.build_share"] = share("build")
        m["floor.plan_share"] = share("plan.analysis", "plan.optimization",
                                      "plan.planning")
        m["floor.jobs_share"] = share("job", "stage", "stream.batch")
        m["floor.driver_gap_share"] = share("execute", "op")
        lk = {}
    else:
        m["trace.overhead"] = metrics.trace_overhead(ops, lambda o: o["kind"])
        lk = lake_metrics(res, ops, hist_res)
    for k in LAKE_KEYS:
        m[k] = lk.get(k, 0.0)
    for k in FLOOR_KEYS:
        m.setdefault(k, 0.0)
    return m


LAKE_KEYS = ["lake.write_p50_s", "lake.write_p70_s", "lake.read_p50_s",
             "lake.read_p70_s", "lake.space_amp", "lake.head_version",
             "versioned.commit_slope_ms", "versioned.bytes_written",
             "versioned.files_written"]
FLOOR_KEYS = ["floor.build_share", "floor.plan_share", "floor.jobs_share",
              "floor.driver_gap_share"]


def lake_metrics(res, ops, hist_res):
    writes = [o for o in ops if "version" in o]
    reads = [o["lat_s"] for o in ops if "version" not in o]
    wl = [o["lat_s"] for o in writes]
    versions = res["head_version"] + 1
    return {
        "lake.write_p50_s": metrics.percentile(wl, 0.5),
        "lake.write_p70_s": metrics.percentile(wl, TAIL_Q),
        "lake.read_p50_s": metrics.percentile(reads, 0.5),
        "lake.read_p70_s": metrics.percentile(reads, TAIL_Q),
        "lake.space_amp": res["table_bytes"] / res["plain_head_bytes"],
        "lake.head_version": res["head_version"],
        # over the history build's second half (versions 151-299): a
        # warm JVM and three whole compaction cycles
        "versioned.commit_slope_ms": metrics.slope_per_100(
            [(v, ms) for v, ms in hist_res["append_ms"]
             if v > lake.HISTORY_WRITES // 2]),
        "versioned.bytes_written": res["table_bytes"] / versions,
        "versioned.files_written": res["table_files"] / versions,
    }


if __name__ == "__main__":
    main()

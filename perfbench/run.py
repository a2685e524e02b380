#!/usr/bin/env python3
"""Layered Iceberg benchmark for the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. W is write_mix, operator_suite, or `all` (every workload, untraced then traced, with the
tracing overhead). The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The full artifact (environment
stamp, percentiles, sample counts, per-kind latencies, spans) is written to
.bench_state/results/. Exit code 0 when every operation was correct, 1 when
any check failed, 2 when the benchmark could not run at all.

The engine is compiled from ../src/main/scala together with the benchmark
(sbt, offline), the input tables are generated from a fixed generator seed
(gen_data.py), and all state lives under .bench_state/ in the checkout.
See NOTES.md for the workloads and the layer -> metric -> workload map.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import platform
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_state")

WORKLOADS = ["write_mix", "operator_suite"]
SCALE = 0.05         # write_mix
SUITE_SCALE = 0.01   # operator_suite
CORES = 4
HEAP = "3g"
RUN_TIMEOUT_S = 170

E2E = [("setup_s", "s"), ("read_p50_s", "s"), ("ops_per_s", "1/s"),
       ("heap_retained_mb", "MB")]
SUITE_QUERIES = ["p01_train_corpus", "p02_corpus_to_iceberg", "d06_dedup_clusters",
                 "d07_incremental_dedup", "t07_decontaminate"]
LAYERS = (
    [("plan.self_s", "s"), ("plan.cache_hit_ratio", "ratio"),
     ("plan.manifests_decoded", "count"), ("plan.manifests_pruned", "count"),
     ("plan.data_files_planned", "count"), ("plan.delete_files_planned", "count"),
     ("plan.file_keep_ratio", "ratio"), ("metadata.parse_s", "s"),
     ("manifests.list_decode_s", "s"), ("manifests.entry_decode_us", "us"),
     ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
     ("catalyst.planning_s", "s"),
     ("exec.job_s", "s"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
     ("exec.gc_s", "s"), ("exec.tasks", "count"), ("exec.stages", "count"),
     ("exec.core_busy_ratio", "ratio"), ("exec.idle_core_s", "s"),
     ("exec.input_bytes", "B"), ("exec.input_records", "count"),
     ("exec.live_row_ratio", "ratio"), ("exec.shuffle_read_bytes", "B"),
     ("exec.shuffle_write_bytes", "B"), ("exec.spill_bytes", "B"),
     ("commit.append_s", "s"), ("commit.delete_s", "s"), ("commit.update_s", "s"),
     ("commit.merge_s", "s"), ("commit.delete_equality_s", "s"),
     ("commit.job_s", "s"), ("commit.driver_s", "s"),
     ("commit.files_added", "count"), ("commit.data_bytes", "B"),
     ("commit.delete_bytes", "B"), ("commit.metadata_bytes", "B"),
     ("commit.metadata_json_bytes", "B"),
     ("maint.compact_s", "s"), ("maint.expire_s", "s"), ("maint.bytes_rewritten", "B")]
    + [(f"operator.{q}_s", "s") for q in SUITE_QUERIES])



def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_child(cmd, cwd, timeout, env=None):
    """Runs a child in its own process group; on timeout the whole group is
    killed and waited for, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout}s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compiles engine + benchmark with sbt when their sources changed."""
    sources = (glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
               + glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True)
               + [p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**/*"),
                                       recursive=True) if os.path.isfile(p)]
               + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project/build.properties")])
    if not glob.glob(os.path.join(ROOT, "src/main/scala/graft/*.scala")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    stamp = digest(sources)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(STATE, "build.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read().strip() == stamp:
        return classes
    log("compiling engine and benchmark (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HERE, 800, env)
    if rc != 0:
        fail(f"sbt compile failed with exit code {rc}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def data_dirs():
    """Generated source tables, made once per checkout and generator version."""
    sys.path.insert(0, HERE)
    import gen_data
    ver = digest([os.path.join(HERE, "gen_data.py")])
    out = {}
    for sf, table in ((SCALE, "orders"), (SUITE_SCALE, "documents")):
        d = os.path.join(STATE, "data", ver, f"{table}-sf{sf}")
        if not os.path.exists(os.path.join(d, "_done")):
            log(f"generating sf{sf} {table}")
            shutil.rmtree(d, ignore_errors=True)
            gen_data.main(d, sf, names=[table])
            open(os.path.join(d, "_done"), "w").close()
        out[sf] = d
    for old in glob.glob(os.path.join(STATE, "data", "*")):
        if os.path.basename(old) != ver:
            shutil.rmtree(old, ignore_errors=True)
    return out[SCALE], out[SUITE_SCALE], ver


def engine_build():
    """From the engine's build.sbt: the Spark jar directory it compiles
    against and the JVM options its `run` uses (the JDK 17 --add-opens
    list and the -D settings; the heap is the benchmark's own)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        b = f.read()
    jars = re.search(r'unmanagedBase := file\("([^"]+)"\)', b).group(1)
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", b, re.S).group(1)
    java_opts = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)", b, re.S).group(1)
    opts = [f"--add-opens={m}=ALL-UNNAMED" for m in re.findall(r'"([^"]+)"', opens)]
    opts += [o for o in re.findall(r'"(-D[^"]+)"', java_opts)]
    return jars, opts


def jvm(classes, args, timeout):
    work = os.path.join(STATE, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jars, opts = engine_build()
    cmd = (["java", *opts, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    return run_child(cmd, ROOT, timeout)


def canon(v):
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def rows_canon(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def oracle_check(work, suite_dir, data_ver):
    """Compares each suite query's first result with the DuckDB oracle, the
    way scripts/check.py does. DuckDB answers are cached per (SQL, data)."""
    import duckdb
    import pyarrow.parquet as pq
    sqls = json.load(open(os.path.join(work, "oracle_sql.json")))
    cache = os.path.join(STATE, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    bad = {}
    for q, sql in sorted(sqls.items()):
        key = hashlib.sha256((data_ver + str(SUITE_SCALE) + sql).encode()).hexdigest()[:24]
        cf = os.path.join(cache, f"{q}-{key}.json")
        if os.path.exists(cf):
            want = json.load(open(cf))
        else:
            if con is None:
                con = duckdb.connect()
                con.sql("SET threads TO 4")
                for t in glob.glob(os.path.join(suite_dir, "*.parquet")):
                    name = os.path.basename(t)[:-len(".parquet")]
                    con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
            res = con.sql(sql)
            names = list(res.columns)
            want = {"names": sorted(names), "rows": [list(r) for r in rows_canon(names, res.fetchall())]}
            with open(cf + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(cf + ".tmp", cf)
        pdir = os.path.join(work, "results", q)
        if not glob.glob(os.path.join(pdir, "*.parquet")):
            bad[q] = "no result written"
            continue
        tb = pq.read_table(pdir)
        names = list(tb.column_names)
        rows = list(zip(*[tb.column(c).to_pylist() for c in names])) if names else []
        if sorted(names) != want["names"]:
            bad[q] = f"columns {sorted(names)} != {want['names']}"
        elif [list(r) for r in rows_canon(names, rows)] != want["rows"]:
            bad[q] = "rows differ from the DuckDB oracle"
    return bad


def cpu_times():
    """(steal, total) CPU jiffies of the machine from /proc/stat; None where
    there is no such file."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def steal_share(before, after):
    """Share of the machine's CPU time the host gave to others meanwhile."""
    if before is None or after is None or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def env_stamp(jres, data_dir, suite_dir, steal):
    import duckdb
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    con = duckdb.connect()

    def rows(d):
        return {os.path.basename(t)[:-8]: con.sql(f"SELECT count(*) FROM '{t}'").fetchone()[0]
                for t in sorted(glob.glob(os.path.join(d, "*.parquet")))}
    e = dict(jres.get("env", {}))
    e.update({"nproc": os.cpu_count(), "driver_heap_xmx": HEAP, "git_commit": commit,
              "host": platform.node(), "python": platform.python_version(),
              "duckdb": duckdb.__version__,
              "data_dir": os.path.relpath(data_dir, ROOT), "data_rows": rows(data_dir),
              "suite_data_dir": os.path.relpath(suite_dir, ROOT),
              "suite_data_rows": rows(suite_dir), "cpu_steal_share": steal})
    return e


def run_one(workload, seed, seconds, trace, classes, data_dir, suite_dir, data_ver):
    work = os.path.join(STATE, "work")
    common = {"data": data_dir, "suite_data": suite_dir, "cores": CORES}
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results = os.path.join(STATE, "results")
    tag = f"{workload}-seed{seed}-trace{trace}"
    out = os.path.join(work, "result.json")
    cpu0 = cpu_times()
    rc = jvm(classes, dict(common, workload=workload, seed=seed, seconds=seconds,
                           trace=trace, work=work, out=out,
                           spans=os.path.join(results, tag + "-spans.jsonl")),
             RUN_TIMEOUT_S)
    steal = steal_share(cpu0, cpu_times())
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload} run failed with exit code {rc}")
    jres = json.load(open(out))
    attempted, failed = jres["attempted"], jres["failed"]
    failures = list(jres["failures"])
    if workload == "operator_suite":
        for q, why in oracle_check(work, suite_dir, data_ver).items():
            failures.append(f"{q}: {why}")
            failed += jres["ops_by_kind"].get(q, {}).get("n", 0)
    failed = min(failed, attempted)
    art = dict(jres, failed=failed, failures=failures[:20],
               env=env_stamp(jres, data_dir, suite_dir, steal))
    art["e2e_extra"]["failed_ops_ratio"] = failed / attempted if attempted else 1.0
    if trace:
        art["tracing_overhead"] = tracing_overhead(workload, seed, jres, results)
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(art, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return art


def tracing_overhead(workload, seed, traced, results):
    """Traced end-to-end figures minus the untraced run's: the same seed when
    that run exists in this checkout, otherwise the latest untraced run."""
    same = os.path.join(results, f"{workload}-seed{seed}-trace0.json")
    cands = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(results, f"{workload}-seed*-trace0.json")), key=os.path.getmtime)
    if not cands:
        return {"note": "no untraced run of this workload in this checkout yet"}
    base = json.load(open(cands[-1]))
    return {"untraced_seed": base["seed"],
            "delta": {k: traced["e2e"][k] - base["e2e"][k] for k, _ in E2E},
            "ratio": {k: traced["e2e"][k] / base["e2e"][k] for k, _ in E2E if base["e2e"][k]}}


def summary(art, trace):
    w = art["workload"]
    lines = [f"== {w} seed={art['seed']} trace={int(trace)}: {art['attempted']} ops, "
             f"{art['failed']} failed, {art['rounds']} rounds in {art['loop_s']:.1f}s"]
    for k, u in E2E:
        lines.append(f"  {k:<24} {art['e2e'][k]:>14.6g} {u}")
    for k, v in art["e2e_extra"].items():
        lines.append(f"  {k:<24} {v:>14.6g}")
    t = art["tail"]
    hs = t["highest_supported"]
    lines.append(f"  read_tail_s is p{round(t['percentile'] * 100)} of {t['read_samples']} reads "
                 f"({t['beyond']} beyond; highest percentile with ten beyond: "
                 f"{f'p{round(hs * 100)}' if hs else 'none'})")
    if trace:
        for k, u in LAYERS:
            lines.append(f"  {k:<34} {art['layers'].get(k, 0.0):>14.6g} {u}")
        lines.append(f"  tracing overhead: {json.dumps(art['tracing_overhead'])}")
    for f in art["failures"][:5]:
        lines.append(f"  FAILED {f}")
    return "\n".join(lines)


def contract_line(art, trace):
    if trace:
        metrics = {k: {"value": art["layers"].get(k, 0.0), "unit": u} for k, u in LAYERS}
    else:
        metrics = {k: {"value": art["e2e"][k], "unit": u} for k, u in E2E}
    return {"correct": art["failed"] == 0, "attempted": art["attempted"],
            "failed": art["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated benchmark still stops and waits for its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classes = build()
        data_dir, suite_dir, data_ver = data_dirs()
        if a.workload != "all":
            art = run_one(a.workload, a.seed, a.seconds, a.trace, classes,
                          data_dir, suite_dir, data_ver)
            print(summary(art, a.trace))
            line = contract_line(art, a.trace)
            print(json.dumps(line), flush=True)
            sys.exit(0 if line["correct"] else 1)
        ok = True
        report = {}
        for w in WORKLOADS:
            for trace in (0, 1):
                art = run_one(w, a.seed, a.seconds, trace, classes,
                              data_dir, suite_dir, data_ver)
                print(summary(art, trace), flush=True)
                ok &= art["failed"] == 0
                report[f"{w}/trace{trace}"] = contract_line(art, trace)
        print(json.dumps(report), flush=True)
        sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

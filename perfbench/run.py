#!/usr/bin/env python3
"""graft benchmark: one workload, timed end to end, or split by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft source tree. The first run builds the engine
and the harness (``perfbench/build.sbt``, an sbt build that depends on the
root project); later runs reuse the build while the sources are unchanged.

A run:
  1. generates the workload's inputs from the seed (``gen.py``), several
     times, to time set-up;
  2. starts one JVM on ``local[nproc]`` (``GraftSession.local``) whose
     harness sets up a session several times, runs one untimed pass that
     writes every op's output for the check, then runs whole passes over
     the op set, one op at a time (a closed loop with one client), for at
     least ``--seconds``; with ``--trace 1`` untraced and traced passes
     alternate (listeners attached for the traced ones only), and it times
     the expression kernels;
  3. checks the outputs: the DuckDB oracle (``tools/check_oracle.py``) for
     query workloads, generator-known counts for ``pipelines``;
  4. prints one JSON line: the end-to-end metrics untraced, or the
     per-layer metrics traced. The full record (op samples, spans, checks,
     configuration) is written under ``.perfbench/records/``.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

SETUPS = 3
# inputs per workload: query tables at scale factor `sf` (sf 0.1 = 600k
# lineitem rows); `pipelines` adds generated Olympic bronze data
WORKLOADS = {
    "relational": {"sf": 0.01},
    "pipelines": {"sf": 0.04, "only": ["documents"], "athletes": 10_000},
}
# which layer metric should move which end-to-end metric, on which workload
LAYER_MAP = {
    "queries": {"metrics": ["queries.build_s", "queries.build_jobs"],
                "moves": ["op_p50_s", "wall_s"], "on": ["relational"], "flat_on": ["pipelines"]},
    "catalyst+plans": {"metrics": ["plan.analysis_s", "plan.optimization_s", "plan.planning_s"],
                       "moves": ["op_p50_s"], "on": ["relational"], "flat_on": []},
    "scheduler/driver": {"metrics": ["exec.jobs", "exec.stages", "exec.tasks", "driver.gap_s"],
                         "moves": ["wall_s"], "on": ["relational"], "flat_on": ["cpu_s everywhere"]},
    "executors": {"metrics": ["exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.busy_frac"],
                  "moves": ["cpu_s", "wall_s"], "on": ["pipelines"], "flat_on": []},
    "shuffle": {"metrics": ["shuffle.read_mb", "shuffle.write_mb", "exec.spill_mb"],
                "moves": ["wall_s", "peak_rss_mb"], "on": ["relational", "pipelines"],
                "flat_on": []},
    "sources": {"metrics": ["sources.input_mb", "sources.input_rows", "sources.write_s",
                            "sources.output_mb"],
                "moves": ["output_mb", "wall_s"], "on": ["pipelines"],
                "flat_on": ["relational (noop sink)"]},
    "caches": {"metrics": ["caches.peak_stored_mb"], "moves": ["peak_rss_mb", "wall_s"],
               "on": ["pipelines"], "flat_on": ["relational"]},
    "expressions": {"metrics": ["expressions.<kernel>.rows_per_s"], "moves": ["cpu_s"],
                    "on": ["pipelines (curation text kernels)"], "flat_on": ["relational"]},
    "pipeline": {"metrics": ["pipeline.olympic.<output>.write_s",
                             "pipeline.curation.corpus.write_s",
                             "pipeline.curation.funnel.write_s"],
                 "moves": ["wall_s"], "on": ["pipelines"], "flat_on": ["relational"]},
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, names in os.walk(base):
            if "target" in d.split(os.sep):
                continue
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles the engine and the harness; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("digest") == digest:
            return b["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1], "build_s": time.time() - t0}, f)
    return cp[-1]


def heap():
    """The Tier-1 SPARK_DRIVER_MEM: half of RAM in GiB, clamped to 2..8."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def generate(workload, seed, data_dir):
    """Writes the inputs; returns (seconds, expected pipeline counts)."""
    cfg = WORKLOADS[workload]
    shutil.rmtree(data_dir, ignore_errors=True)
    t0 = time.perf_counter()
    tables = gen.tables(os.path.join(data_dir, "tables"), seed, cfg["sf"], cfg.get("only"))
    expected = None
    if "athletes" in cfg:
        expected = gen.olympic(os.path.join(data_dir, "bronze"), seed, cfg["athletes"])
    return time.perf_counter() - t0, {"tables": tables, "pipelines": expected}


def dir_mb(path):
    return sum(os.path.getsize(f) for f in glob.glob(f"{path}/**/*.parquet", recursive=True)) / 1e6


def check_queries(tables_dir, check_dir, ops):
    """DuckDB oracle via tools/check_oracle.py; rows-only ops need >= 1 row."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        tables_dir, check_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    wrong, rows_only, seen = {}, {}, set()
    for line in p.stdout.splitlines():
        m = re.match(r"(OK|FAIL|ERROR|ROWS-ONLY)\s+(\S+?):?\s(.*)", line)
        if not m:
            continue
        kind, name, rest = m.groups()
        seen.add(name)
        if kind in ("FAIL", "ERROR"):
            wrong[name] = rest.strip()[:300]
        elif kind == "ROWS-ONLY":
            rows = int(rest.split()[0])
            rows_only[name] = rows
            if rows < 1:
                wrong[name] = "rows-only check: empty output"
    for name in ops:
        if name not in seen:
            wrong[name] = "no output checked"
    return wrong, {"oracle_checked": len(seen) - len(rows_only), "rows_only": rows_only}


def check_pipelines(out_dir, expected):
    """Gold row counts and per-rule failure-case counts must equal what the
    generator produced; the curated corpus must hold the funnel's final
    (dedup) count, split across the funnel's split rows."""
    import pyarrow.dataset as ds
    import pyarrow.compute as pc
    wrong, seen = {}, {}

    def read(path):
        return ds.dataset(path, format="parquet", partitioning="hive").to_table()

    for name, rows in expected["rows"].items():
        try:
            got = read(f"{out_dir}/olympic/gold/{name}").num_rows
        except Exception as e:  # missing output counts as wrong, never as a crash
            got = f"unreadable: {e}"
        seen[name] = got
        if got != rows:
            wrong[f"olympic.{name}"] = f"rows {got} != generated {rows}"
    for name, rules in expected["failure_cases"].items():
        try:
            t = read(f"{out_dir}/olympic/failure_cases/{name}")
            got = dict(zip(*[c.to_pylist() for c in
                             pc.value_counts(t["failed_check"]).flatten()]))
        except Exception as e:
            got = {"unreadable": str(e)}
        seen[name] = got
        if got != rules:
            wrong[f"olympic.{name}"] = f"failure cases {got} != injected {rules}"
    try:
        funnel = read(f"{out_dir}/curation/funnel").to_pydict()
        stages = dict(zip(funnel["stage"], funnel["n_docs"]))
        corpus = read(f"{out_dir}/curation/corpus")
        splits = {k: v for k, v in stages.items() if k.startswith("5_")}
        seen["curation"] = {"funnel": stages, "corpus_rows": corpus.num_rows}
        if corpus.num_rows != stages.get("4_dedup") or sum(splits.values()) != corpus.num_rows:
            wrong["curation.corpus"] = f"corpus rows {corpus.num_rows} != funnel {stages}"
    except Exception as e:
        wrong["curation.corpus"] = f"unreadable: {e}"
    return wrong, seen


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds through the `finally` below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no graft source tree at {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    digest = source_digest()
    classpath = build(digest)
    started = time.time()  # the run proper, after any build, ends within 180 s
    data_dir = os.path.join(WORK, "data")
    out_dir = os.path.join(WORK, "out")
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    for d in (out_dir, tmp):
        os.makedirs(d)

    gen_s = []
    for _ in range(SETUPS):
        s, inputs = generate(a.workload, a.seed, data_dir)
        gen_s.append(s)

    cores = len(os.sched_getaffinity(0))
    mem = heap()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
        f"-Dderby.system.home={tmp}", "-cp", classpath, "graft.perfbench.Harness",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data_dir, "--out", out_dir,
        "--cores", str(cores), "--setups", str(SETUPS)]
    log_path = os.path.join(out_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, 160 - (time.time() - started)))
        except subprocess.TimeoutExpired:
            fail("harness timed out")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(os.path.join(out_dir, "record.json")) as f:
        rec = json.load(f)

    if a.workload == "pipelines":
        result_dir = os.path.join(out_dir, "pipelines")
        wrong, check = check_pipelines(result_dir, inputs["pipelines"])
    else:
        result_dir = os.path.join(out_dir, "check")
        wrong, check = check_queries(os.path.join(data_dir, "tables"), result_dir, rec["ops"])
    for name, err in rec["check_pass_failures"].items():
        wrong.setdefault(name, err)

    e2e = dict(rec["end_to_end"])
    e2e["setup_s"] = statistics.median(g + s for g, s in zip(gen_s, rec["setup_session_s"]))
    e2e["output_mb"] = dir_mb(result_dir)
    failed = sum(1 for s in rec["samples"] if s["error"]) + len(rec["check_pass_failures"])
    attempted = len(rec["samples"]) + len(rec["ops"])
    values = rec["per_layer"] if a.trace else e2e
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not measured: {missing}")

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "source_digest": digest, "commit": os.environ.get("GIT_COMMIT") or git_commit(),
        "cores": cores, "heap": mem, "spark_version": rec["spark_version"],
        "inputs": inputs, "generate_s": gen_s, "end_to_end": e2e,
        "wrong_ops": wrong, "failed_ops": failed, "checks": check,
        "layer_map": LAYER_MAP, **{k: v for k, v in rec.items() if k != "end_to_end"},
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(WORK, "records", f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1)
    spans = os.path.join(out_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(WORK, "records", f"{name}-spans.jsonl"))
    if wrong:
        print(f"perfbench: wrong outputs: {json.dumps(wrong)[:2000]}", file=sys.stderr)
    print(json.dumps({
        "correct": not wrong, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. It builds the harness in `perfbench/`
against the repository's own build (sbt, offline; skipped when the sources
are unchanged), writes the synthetic input tables once, runs the workload in
one JVM (`perfbench.Main`), checks every query's output, and prints the
metrics. The last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Every metric, with
its sample count and the run's provenance, is printed on the lines before
it and written to `.bench_build/results/`.

`--workload all` runs every workload in turn and prints no JSON line.

Names and definitions of workloads and metrics: perfbench/README.md.
"""
import argparse
import hashlib
import itertools
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ["olap_mix", "llm_index_serve", "stream_ingest"]
SF = 0.01
# whole-run budget: the run must end well inside 180 s
RUN_LIMIT_S = 170
JVM_HEAP = "3g"
# A run measures `--seconds` worth of timed passes: the count is
# round(seconds / nominal pass time), at least 3 so the pass median is a
# median. A fixed count, not a deadline, so every run of a workload does
# the same work. Nominal times are the workloads' median pass times on a
# 4-core x86 VM.
NOMINAL_PASS_S = {"olap_mix": 11.5, "llm_index_serve": 3.3,
                  "stream_ingest": 6.0}
MB = 1 << 20
# Queries whose empty result is the right answer at this data set. An
# empty result matches an empty oracle answer whatever the query does, so
# any other query that returns 0 rows fails the output check.
VACUOUS_ALLOWLIST = set()

# Spark on JDK 17 outside spark-submit needs these, as the engine's own
# build passes them to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_layout():
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                "scripts/oracle_check.py", "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            die(f"{rel} not found: run from a checkout of the repository")


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt unless the sources are
    unchanged; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return _read_cp(cp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser(
            "~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
        "-Djna.tmpdir=" + os.path.join(BUILD, "tmp"),
        "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"), "-Xmx2g"])
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"writeClasspath {cp_file}"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0 or not os.path.exists(cp_file):
        die(f"build failed (sbt exit {r.returncode}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return _read_cp(cp_file)


def _read_cp(path):
    with open(path) as f:
        return ":".join(line.strip() for line in f if line.strip())


def data_dir():
    return datagen.write(
        os.path.join(BUILD, "data", f"sf{SF}-v{datagen.VERSION}"), SF)


def pass_count(workload, seconds, trace):
    """Traced runs take at least 5 passes: one to let the JIT settle, then
    untraced, traced, traced, untraced."""
    return max(5 if trace else 3, round(seconds / NOMINAL_PASS_S[workload]))


def load1():
    return os.getloadavg()[0]


def cpu_steal_s():
    """CPU time the hypervisor gave to other guests since boot, summed over
    this machine's CPUs (Linux; None elsewhere). Over a run, it tells a slow
    host from slow code."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(cp, workload, seed, seconds, trace, out_dir, deadline):
    """Run perfbench.Main; return (raw record, launch epoch seconds)."""
    os.makedirs(out_dir, exist_ok=True)
    scratch = os.path.join(out_dir, "scratch")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A run is too short for C2 to reach steady state; C1 alone cuts
    # set-up by about a third and keeps C2 compiler threads off the cores.
    cmd += [f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={scratch}", "-cp", cp, "perfbench.Main",
            "--workload", workload,
            "--data", data_dir(), "--out", out_dir,
            "--scratch", scratch, "--seed", str(seed),
            "--passes", str(pass_count(workload, seconds, trace)),
            "--trace", "1" if trace else "0", "--cpus", str(os.cpu_count())]
    # the JVM's scratch space stays inside the run directory
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS")}
    launched = time.time()
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out_dir, stdout=log, env=env,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{workload}: JVM ran past the time limit; see {out_dir}")
    if code != 0:
        die(f"{workload}: JVM exited {code}; see {out_dir}/jvm.log")
    with open(os.path.join(out_dir, "raw.json")) as f:
        return json.load(f), launched


def in_pass(t, p):
    return p["start"] <= t <= p["end"]


def analyze(raw, launched):
    """Every metric of one run, from the raw record: (metrics {name:
    (value, unit, samples)}, per-query median latencies)."""
    passes = raw["passes"]
    timed = [p for p in passes if not p["traced"]] or passes
    execs = [e for e in raw["execs"] if e["pass"] > 0]
    jobs = [j for j in raw["jobs"] if j["end"] is not None]
    batches = raw["batches"]
    m = {}

    def put(name, value, unit, samples):
        m[name] = (value, unit, samples)

    def tail_pair(prefix, xs):
        """p50, p90 when the tail rule allows it, and the rule's tail."""
        put(f"{prefix}_p50_s", M.median(xs), "s", len(xs))
        tail = M.tail_percentile(len(xs))
        if tail is not None and tail >= 90.0:
            put(f"{prefix}_p90_s", M.percentile(xs, 90.0), "s", len(xs))
        if tail is not None:
            put(f"{prefix}_tail_s", M.percentile(xs, tail), f"s@p{tail:g}",
                len(xs))

    def per_pass(fn, unit):
        vals = [fn(p) for p in passes]
        return M.median(vals), unit, len(vals)

    def jobs_in(p):
        return [j for j in jobs if in_pass(j["start"], p)]

    def batches_in(p):
        return [b for b in batches if in_pass(b["start"], p)]

    def job_sum(key, unit, scale=1.0):
        return per_pass(lambda p: sum(j[key] for j in jobs_in(p)) * scale,
                        unit)

    # end to end
    put("setup_s", raw["setup_end"] / 1e3 - launched, "s", 1)
    pass_s = [(p["end"] - p["start"]) / 1e3 for p in timed]
    put("pass_s", M.median(pass_s), "s", len(pass_s))
    timed_ids = {p["pass"] for p in timed}
    lat = [(e["end"] - e["start"]) / 1e3 for e in execs
           if e["ok"] and e["pass"] in timed_ids]
    tail_pair("latency", lat)
    tb = [b for p in timed for b in batches_in(p)]
    trig = [b["trigger_ms"] / 1e3 for b in tb]
    if trig:
        tail_pair("batch", trig)
        rows = sum(b["input_rows"] for b in tb)
        wbytes = sum(j["write_bytes"] for p in timed for j in jobs_in(p))
        put("write_bytes_per_row", wbytes / rows if rows else float("nan"),
            "B/row", len(tb))
    put("retained_heap_mb", raw["heap_used_bytes"] / MB, "MB", 1)

    # layers: per-pass totals, median over the run's passes
    put("queries.build_s", *per_pass(lambda p: sum(
        e["built"] - e["start"] for e in execs
        if e["pass"] == p["pass"]) / 1e3, "s"))
    for phase in ("analysis", "optimization", "planning"):
        put(f"plans.{phase}_s", *per_pass(lambda p, ph=phase: sum(
            r[f"{ph}_ms"] for r in raw["plans"]
            if in_pass(r["start"], p)) / 1e3, "s"))
    put("exec.jobs", *per_pass(lambda p: len(jobs_in(p)), "count"))
    put("exec.stages", *job_sum("stages", "count"))
    put("exec.tasks", *job_sum("tasks", "count"))
    put("exec.task_run_s", *job_sum("run_ms", "s", 1e-3))
    put("exec.task_cpu_s", *job_sum("cpu_ns", "s", 1e-9))
    put("exec.gc_s", *job_sum("gc_ms", "s", 1e-3))
    failed_tasks = sum(j["failed_tasks"] for j in raw["jobs"])
    put("exec.failed_tasks", failed_tasks, "count", len(raw["jobs"]))
    put("exec.driver_gap_s", *per_pass(lambda p: M.driver_gap(
        p["start"], p["end"],
        [(j["start"], j["end"]) for j in jobs_in(p)]) / 1e3, "s"))
    put("shuffle.write_bytes", *job_sum("shuffle_write", "B"))
    put("shuffle.read_bytes", *job_sum("shuffle_read", "B"))
    put("shuffle.spill_bytes", *job_sum("spill", "B"))
    put("io.read_bytes", *job_sum("read_bytes", "B"))
    put("io.read_rows", *job_sum("read_rows", "rows"))
    put("io.write_bytes", *job_sum("write_bytes", "B"))
    put("io.write_rows", *job_sum("write_rows", "rows"))
    before, warm, after = (raw["memo_before"], raw["memo_warm"],
                           raw["memo_timed"])
    built = [k for k in warm if before.get(k) != warm[k]]
    put("memo.builds", len(built), "count", 1)
    put("memo.build_s", sum(warm[k] for k in built), "s", len(built))
    put("memo.timed_builds",
        sum(1 for k in after if warm.get(k) != after[k]), "count", 1)
    put("memo.cached_mb", raw["cached_bytes"] / MB, "MB", 1)
    put("stream.batches", *per_pass(lambda p: len(batches_in(p)), "count"))
    for key in ("add_batch", "query_planning", "wal_commit",
                "latest_offset"):
        put(f"stream.{key}_s", *per_pass(lambda p, k=key: sum(
            b[f"{k}_ms"] for b in batches_in(p)) / 1e3, "s"))
    n_b = sum(len(batches_in(p)) for p in passes)
    in_batch = sum(1 for p in passes for j in jobs_in(p) if any(
        b["start"] <= j["start"] <= b["start"] + b["trigger_ms"]
        for b in batches_in(p)))
    put("stream.jobs_per_batch", in_batch / n_b if n_b else 0.0,
        "count", n_b)
    by_query = {}
    for e in execs:
        if e["ok"]:
            by_query.setdefault(e["query"], []).append(
                (e["end"] - e["start"]) / 1e3)
    q_med = {q: M.median(v) for q, v in by_query.items()}
    in_run = {mod["module"]: mod["queries"] for mod in raw["modules"]}
    for mod in raw["all_modules"]:
        qs = in_run.get(mod, [])
        put(f"family.{mod}_s", sum(q_med.get(q, 0.0) for q in qs), "s",
            len(qs))
    if raw["trace"]:
        traced = [(p["end"] - p["start"]) / 1e3 for p in passes
                  if p["traced"]]
        if traced:
            settled = [(p["end"] - p["start"]) / 1e3 for p in timed
                       if p["pass"] > 1]
            put("trace.overhead_s", M.median(traced) - M.median(settled),
                "s", len(passes))
        spans = list(raw["spans"])
        ids = itertools.count(max([s["id"] for s in spans], default=0) + 1)
        on = [p for p in passes if p["traced"]]
        batch_spans = [{"id": next(ids), "name": "stream.batch",
                        "start": b["start"],
                        "end": b["start"] + b["trigger_ms"]}
                       for p in on for b in batches_in(p)]
        job_spans = [{"id": next(ids), "name": "exec.job",
                      "start": j["start"], "end": j["end"]}
                     for p in on for j in jobs_in(p)]
        # batches join the tree first, so a job inside a batch nests under it
        spans += M.attach(spans, batch_spans)
        spans += M.attach(spans, job_spans)
        st = M.self_times(spans)
        n_traced = max(1, len(traced))
        for name in ("query", "queries.build", "exec.run", "exec.job",
                     "stream.batch"):
            put(f"self.{name}_s", sum(st[s["id"]] for s in spans
                                      if s["name"] == name)
                / 1e3 / n_traced, "s", n_traced)
    return m, q_med


def read_result(con, sql):
    """(columns, rows) of a query's answer, canonicalised as the oracle
    check does."""
    from oracle_check import canon
    df = con.execute(sql).fetchdf()
    try:
        df = canon(df)
    except TypeError:  # unorderable cells (arrays): keep name order only
        df = df[sorted(df.columns)]
    return list(df.columns), list(df.itertuples(index=False, name=None))


def oracle_fingerprints(oracle_sql, ddir):
    """Fingerprints of the DuckDB oracle answers, cached per data set."""
    cache_path = os.path.join(ddir, "..", f"oracle-{os.path.basename(ddir)}"
                              f"-duckdb{duckdb.__version__}.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = duckdb.connect()
    for t in datagen.TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ddir}/{t}.parquet'")
    fresh = False
    out = {}
    for name, sql in oracle_sql.items():
        key = hashlib.sha256(sql.encode()).hexdigest()
        if cache.get(name, {}).get("sql") != key:
            cache[name] = {"sql": key,
                           "fp": M.fingerprint(*read_result(con, sql))}
            fresh = True
        out[name] = cache[name]["fp"]
    if fresh:
        with open(cache_path, "w") as f:
            json.dump(cache, f, indent=0, sort_keys=True)
    return out


def result_fingerprints(out_dir, names):
    """{query: (fingerprint, row count)} of the warm-pass results."""
    con = duckdb.connect()
    out = {}
    for n in names:
        d = os.path.join(out_dir, "results", n)
        if os.path.isdir(d):
            cols, rows = read_result(
                con, f"SELECT * FROM read_parquet('{d}/*.parquet')")
            out[n] = (M.fingerprint(cols, rows), len(rows))
    return out


def check_outputs(raw, out_dir):
    """({query: problem} for every query whose warm-pass output differs
    from its expected fingerprint or is empty, {query: row count})."""
    warm = {e["query"]: e for e in raw["execs"] if e["pass"] == 0}
    got = result_fingerprints(out_dir, [q for q, e in warm.items()
                                        if e["ok"]])
    oracle = oracle_fingerprints(raw["oracle_sql"], data_dir())
    bad = {}
    for q, e in warm.items():
        fp, rows = got.get(q, (None, None))
        if not e["ok"]:
            bad[q] = "threw: " + (e["error"] or "")[:200]
        elif q not in oracle:
            bad[q] = "no oracle SQL registered, so the output is unchecked"
        elif fp != oracle[q]:
            bad[q] = f"fingerprint {fp} != oracle {oracle[q]}"
        elif rows == 0 and q not in VACUOUS_ALLOWLIST:
            bad[q] = "0 rows, so the output check cannot fail"
    return bad, {q: rows for q, (_, rows) in got.items()}


def provenance(raw, seed, load_start, steal_start):
    commit = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    steal_end = cpu_steal_s()
    return {"seed": seed, "nproc": os.cpu_count(),
            "shuffle_width": raw["width"], "load1_start": load_start,
            "load1_end": load1(),
            "cpu_steal_s": None if steal_start is None or steal_end is None
            else round(steal_end - steal_start, 2),
            "jvm": raw["jvm"],
            "spark": raw["spark_version"], "git_commit": commit,
            "source_sha256": source_stamp(), "data_sf": SF,
            "data_version": datagen.VERSION}


def run_one(cp, workload, seed, seconds, trace, started):
    load_start, steal_start = load1(), cpu_steal_s()
    out_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{int(trace)}")
    shutil.rmtree(out_dir, ignore_errors=True)
    raw, launched = run_jvm(cp, workload, seed, seconds, trace, out_dir,
                            started + RUN_LIMIT_S)
    m, q_med = analyze(raw, launched)
    bad, q_rows = check_outputs(raw, out_dir)
    attempted = len(raw["execs"])
    threw = [e for e in raw["execs"] if not e["ok"]]
    for e in threw:
        if e["pass"] != 0:
            bad[f"{e['query']} (pass {e['pass']})"] = "threw: " + e["error"]
    failed_tasks = m["exec.failed_tasks"][0]
    failed = len(threw) + failed_tasks + sum(
        1 for why in bad.values() if not why.startswith("threw"))
    m["error_rate"] = (failed / attempted, "ratio", attempted)
    if failed_tasks:
        bad["exec.failed_tasks"] = f"{failed_tasks} task(s) failed"
    if m["memo.timed_builds"][0] > 0:
        bad["memo.timed_builds"] = (
            f"{m['memo.timed_builds'][0]} FrameMemo build(s) inside timed "
            "passes")
    result = {"workload": workload, "trace": trace,
              "provenance": provenance(raw, seed, load_start, steal_start),
              "metrics": {k: {"value": v, "unit": u, "samples": n}
                          for k, (v, u, n) in sorted(m.items())},
              "query_median_s": q_med, "query_rows": q_rows,
              "output_problems": bad,
              "attempted": attempted, "failed": failed}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{workload}-seed{seed}-trace{int(trace)}.json"),
              "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"== {workload} seed={seed} trace={int(trace)} "
          + " ".join(f"{k}={v}" for k, v in result["provenance"].items()))
    for k, (v, u, n) in sorted(m.items()):
        print(f"   {k:<28} {v:>14.6g} {u:<8} n={n}")
    for q, why in sorted(bad.items()):
        print(f"   OUTPUT PROBLEM {q}: {why}")
    return result, m


def selected(m, names):
    return {k: {"value": m[k][0], "unit": m[k][1]} for k in names if k in m}


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    check_layout()
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    spec = bench_spec()
    seconds = spec["run_seconds"] if a.seconds is None else a.seconds
    cp = build()
    data_dir()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    if a.workload == "all":
        for w in names:
            run_one(cp, w, a.seed, seconds, bool(a.trace), time.time())
        return
    # the time limit starts after the build, which only a checkout's
    # first run pays
    result, m = run_one(cp, a.workload, a.seed, seconds, bool(a.trace),
                        time.time())
    keys = [x["name"] for x in spec["per_layer" if a.trace
                                    else "end_to_end"]]
    print(json.dumps({"correct": not result["output_problems"],
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": selected(m, keys)}))


if __name__ == "__main__":
    main()

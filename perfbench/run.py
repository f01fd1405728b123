#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the harness on first use
(perfbench/build.sbt: the program's sources plus perfbench/src),
generates the workload's input from the seed, starts ONE fresh JVM in a
fresh working directory (so CWD-relative `target/...` lakes, dials and
indexes never carry over between runs), and checks every operation's
output against DuckDB. The last stdout line is the result JSON; with
`--trace 0` it holds the end-to-end metrics, with `--trace 1` the
per-layer metrics. Everything else goes to stderr.

Derived files live under `.perfbench/` in the checkout: the build stamp,
generated inputs and their DuckDB expectations (cached per
(workload, seed); neither is part of any timed figure), and one JSON
record per run with the raw trace and the load/steal readings.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_papers  # noqa: E402
import spans  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
# Lab2Queries (reached through SparkEntry) reads this fixture relative to
# the working directory when it initializes.
STOPWORDS_REL = os.path.join("src", "test", "resources", "stopwords.txt")
LIFECYCLE_DATA = os.path.join(HERE, "data", "sf0.1")

CORES = len(os.sched_getaffinity(0))  # local[nproc], nproc shuffle partitions
# No -Xms: the heap starts small and grows, up to 2 GB, as the working set
# and the collector's pace need, so VmHWM (peak_rss_mb) follows what the
# program holds instead of reading the heap size.
HEAP_MAX = "2g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 800

with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as _f:
    WORKLOADS = json.load(_f)["workloads"]

LAB2_SPANS = ["read", "text", "tfidf", "similarity", "top1", "catmatrix", "sinks"]
LIFECYCLE_QUERIES = WORKLOADS["lifecycle_sf01"]["queries"]
LIFECYCLE_SPANS = [q.split("_")[0] for q in LIFECYCLE_QUERIES]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".properties"))]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, env=None, stdout=None):
    """Run a child in its own process group; kill the group on timeout and
    always wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def ensure_build(env):
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sql_file = os.path.join(STATE, "lab2_sql.json")
    stamp = source_stamp()
    if (os.path.exists(cp_file) and os.path.exists(sql_file)
            and os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    log("building the harness (sbt)")
    t = time.time()
    rc = run_child(["sbt", "-batch", "-Dsbt.server.autostart=false",
                    "compile", "writeClasspath"], HERE, BUILD_TIMEOUT_S, env)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    cp = open(cp_file).read().strip()
    # Lab2Queries reads its fixtures relative to the working directory:
    # dump the Task-1 oracle SQL template from the checkout root
    rc = run_child(java_cmd(cp, tmp=STATE) + [
        "perfbench.Harness", "sql", STOPWORDS_REL, sql_file], ROOT, 120, env)
    if rc != 0:
        fail("could not dump the Lab2Queries oracle SQL")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t:.1f} s")
    return cp


def java_cmd(cp, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xmx{HEAP_MAX}", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp]


# ------------------------------------------------------------ noise record

def load_and_steal():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "steal_jiffies": cpu[7] if len(cpu) > 7 else 0,
            "total_jiffies": sum(cpu)}


# ------------------------------------------------------------------ inputs

def input_key(workload, seed):
    """Cache key of a generated input: the seed plus the generator's code
    and parameters, so a changed generator never reuses a stale file."""
    h = hashlib.sha256(json.dumps(gen_papers.PARAMS[workload], sort_keys=True).encode())
    with open(gen_papers.__file__, "rb") as f:
        h.update(f.read())
    return f"{workload}-{seed}-{h.hexdigest()[:12]}"


def lab2_input(workload, seed):
    d = os.path.join(STATE, "inputs")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{input_key(workload, seed)}.jsonl")
    if not os.path.exists(path):
        gen_papers.generate(workload, seed, path)
    return path


def cached_json(name, compute):
    """compute(), stored once under .perfbench/expected/<name>.json."""
    d = os.path.join(STATE, "expected")
    os.makedirs(d, exist_ok=True)
    f = os.path.join(d, f"{name}.json")
    if os.path.exists(f):
        with open(f) as fh:
            return json.load(fh)
    value = compute()
    with open(f + ".tmp", "w") as fh:
        json.dump(value, fh)
    os.replace(f + ".tmp", f)
    return value


def lab2_expected(workload, seed, path):
    """DuckDB expectations, cached per input, oracle SQL and checker."""
    with open(os.path.join(STATE, "lab2_sql.json"), "rb") as fh:
        raw_template = fh.read()
    with open(checks.__file__, "rb") as fh:
        sql_key = hashlib.sha256(raw_template + fh.read()).hexdigest()[:8]
    return cached_json(f"{input_key(workload, seed)}-{sql_key}",
                       lambda: checks.lab2_expected(json.loads(raw_template), path))


# ------------------------------------------------------------------ checks

def observe(out_dir):
    """lab2 sink outputs of one operation, or None when they are missing
    or malformed (the operation then counts as failed)."""
    try:
        return checks.lab2_observed(out_dir)
    except (OSError, ValueError, IndexError) as e:
        log(f"cannot read {out_dir}: {e}")
        return None


def check_lab2(raw, expected, traced):
    """Returns (attempted, failed, run samples, observed of the traced op)."""
    attempted = failed = 0
    samples = []
    first = None
    for op in raw["ops"]:
        attempted += 1
        ok = op["ok"]
        if ok:
            obs = observe(op["out"])
            bad = checks.lab2_mismatches(expected, obs) if obs else ["unreadable output"]
            if bad:
                log(f"output mismatch in {os.path.basename(op['out'])}: {bad}")
                ok = False
            first = first or obs
        if ok:
            samples.append(op)
        else:
            failed += 1
    tobs = None
    if traced:
        attempted += 1
        op = raw["trace"]["ops"][0]
        ok = op["ok"]
        if ok:
            tobs = observe(op["out"])
            bad = checks.lab2_mismatches(expected, tobs) if tobs else ["unreadable output"]
            # the composed layer calls must reproduce Lab2Pipeline.run
            if tobs and (first is None or checks.lab2_mismatches(first, tobs)):
                bad.append("differs from the untraced Lab2Pipeline.run output")
            if bad:
                log(f"traced output mismatch: {bad}")
                ok = False
        if not ok:
            failed += 1
    return attempted, failed, samples, tobs


def lifecycle_expected(oracle_sql):
    """Oracle hashes per query, cached by the SQL text: these oracles read
    only the fixed input tables."""
    def compute():
        con = checks.oracle_connection(LIFECYCLE_DATA)
        try:
            return {q: checks.canon_hash(con.execute(sql).fetchdf())
                    for q, sql in oracle_sql.items()}
        finally:
            con.close()
    key = hashlib.sha256(json.dumps(oracle_sql, sort_keys=True).encode()).hexdigest()[:16]
    return cached_json(f"lifecycle-{key}", compute)


def check_lifecycle(raw):
    """Each query's output against the registry's oracle."""
    expected = lifecycle_expected(raw["oracle_sql"])
    ops = list(raw["ops"])
    if raw["trace"]:
        ops += raw["trace"]["ops"]
    attempted = failed = 0
    ok_by_op = []
    for op in ops:
        attempted += 1
        q = os.path.basename(op["out"])
        ok = op["ok"]
        if ok and q in expected:
            try:
                got = checks.query_output_hash(op["out"])
            except OSError as e:
                got = f"unreadable ({e})"
            if got != expected[q]:
                log(f"{q}: output {got} != oracle {expected[q]}")
                ok = False
        elif ok:
            log(f"{q}: no oracle SQL")
            ok = False
        failed += 0 if ok else 1
        ok_by_op.append(ok)
    return attempted, failed, ok_by_op


# ----------------------------------------------------------------- metrics

def main():
    # a terminated run still stops its JVM (run_child kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; known: {sorted(WORKLOADS)}")
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isfile(os.path.join(ROOT, STOPWORDS_REL)):
        fail("run from the root of a full checkout (program sources not found)")
    lab2 = a.workload.startswith("lab2_")

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    os.makedirs(STATE, exist_ok=True)
    cp = ensure_build(env)

    noise = {"start": load_and_steal()}
    if lab2:
        t = time.time()
        papers = lab2_input(a.workload, a.seed)
        expected = lab2_expected(a.workload, a.seed, papers)
        log(f"input + expectations ready in {time.time() - t:.1f} s")
        args = ["--input", papers]
    else:
        # fixed input: the seed does not change the lifecycle slice
        args = ["--input", LIFECYCLE_DATA, "--queries", ",".join(LIFECYCLE_QUERIES)]

    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, os.path.dirname(STOPWORDS_REL)))
    os.makedirs(os.path.join(work, "tmp"))
    shutil.copy(os.path.join(ROOT, STOPWORDS_REL), os.path.join(work, STOPWORDS_REL))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    raw_path = os.path.join(work, "raw.json")
    try:
        rc = run_child(java_cmd(cp, os.path.join(work, "tmp")) + [
            "perfbench.Harness", "run", "--workload", a.workload,
            "--warmup", str(WORKLOADS[a.workload]["warmup_ops"]),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(CORES), "--stopwords", os.path.join(work, STOPWORDS_REL),
            "--out", raw_path, *args], work, JVM_TIMEOUT_S, env)
        if rc != 0 or not os.path.exists(raw_path):
            fail(f"harness exited with {rc}", 1)
        with open(raw_path) as f:
            raw = json.load(f)
        if lab2:
            attempted, failed, samples, tobs = check_lab2(raw, expected, a.trace == 1)
            runs = [op["wall_s"] for op in samples]
            cpus = [op["cpu_s"] for op in samples]
        else:
            attempted, failed, ok_by_op = check_lifecycle(raw)
            # one operation per query; a pass's run_s sums its queries, and
            # a pass with a failed query gives no sample
            per = len(LIFECYCLE_SPANS)
            passes = [list(zip(raw["ops"][i:i + per], ok_by_op[i:i + per]))
                      for i in range(0, len(raw["ops"]), per)]
            passes = [[op for op, _ in p] for p in passes if all(ok for _, ok in p)]
            runs = [sum(op["wall_s"] for op in p) for p in passes]
            cpus = [sum(op["cpu_s"] for op in p) for p in passes]
    finally:
        noise["end"] = load_and_steal()
        shutil.rmtree(work, ignore_errors=True)

    if not runs or min(runs) <= 0:
        fail("no successful operation", 1)
    e2e = end_to_end(raw, runs, cpus)
    if a.trace == 0:
        metrics = e2e
    else:
        metrics = per_layer(raw, tobs if lab2 else None, e2e["run_s"][0])
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "noise": noise, "attempted": attempted, "failed": failed,
              "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "fail_ratio": failed / attempted, "samples_s": runs,
              "metrics": {k: v for k, (v, _) in metrics.items()}, "raw": raw}
    rec_dir = os.path.join(STATE, "runs")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f)
    for k, (v, u) in e2e.items():
        log(f"{k:12s} {v:12.4f} {u}")
    log(f"fail_ratio   {failed / attempted:12.4f} ratio  "
        f"({failed} of {attempted} operations failed or mismatched)")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def end_to_end(raw, runs, cpus):
    """(value, unit) of each end-to-end metric; runs and cpus hold the
    successful operations' wall and CPU seconds."""
    run_s = statistics.median(runs)
    return {
        "setup_s": (raw["setup_s"], "s"),
        "run_s": (run_s, "s"),
        "cpu_s": (statistics.median(cpus), "s"),
        "docs_per_s": (raw["input_docs"] / run_s, "docs/s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }


def per_layer(raw, traced_obs, untraced_run_s):
    t = raw["trace"]
    layer, written = spans.layer_metrics(t, LAB2_SPANS + LIFECYCLE_SPANS)
    units = dict(spans.SPAN_FIELDS)
    out = {k: (v, units[k.split(".", 1)[1]]) for k, v in layer.items() if "." in k}
    out["unattributed_s"] = (layer["unattributed_s"], "s")
    c = t["counts"]
    traced_s = (t["t1_ms"] - t["t0_ms"]) / 1e3
    out["trace_overhead_s"] = (traced_s - untraced_run_s, "s")
    # candidate pairs as the program's join counted them; the unpruned
    # formula is only a cross-check
    pairs = c.get("similarity.candidate_pairs", 0)
    unpruned = c.get("similarity.unpruned_pairs", 0)
    if pairs != unpruned:
        log(f"similarity join emitted {pairs} rows; an unpruned join emits {unpruned}")
    keys = traced_obs["keys"] if traced_obs else 0
    out.update({
        "read.rows": (c.get("read.rows", 0), "count"),
        "text.tokens": (c.get("text.tokens", 0), "count"),
        "tfidf.vocab": (c.get("tfidf.vocab", 0), "count"),
        "tfidf.entries": (c.get("tfidf.entries", 0), "count"),
        "similarity.candidate_pairs": (pairs, "count"),
        "similarity.useful_ratio": (c["top1.matched"] / pairs if pairs else 0, "ratio"),
        "catmatrix.keys": (keys, "count"),
        "catmatrix.nonzero_ratio": (traced_obs["nonzero_cells"] / keys ** 2 if keys else 0,
                                    "ratio"),
        "sinks.bytes": (written.get("sinks", 0), "bytes"),
    })
    for q in LIFECYCLE_SPANS:
        out[f"{q}.bytes_written_mb"] = (written.get(q, 0) / spans.MB, "MB")
    return out


if __name__ == "__main__":
    main()

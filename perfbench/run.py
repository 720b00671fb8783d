#!/usr/bin/env python3
"""graft benchmark: end-to-end MEDS ETL and corpus dedup, plus a traced run.

    python3 perfbench/run.py --workload meds_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness (sbt); later
runs reuse the build while the sources are unchanged. The last line of
standard output is the JSON result; the full record of every run, with its
provenance, is written under perfbench/.work/results/. See README.md for the
workloads and every metric.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
LOGS = os.path.join(WORK, "logs")
CONFIG = os.path.join(ROOT, "configs", "preprocess_example.yaml")
XMX = "4g"
GEN_REPEATS = 3

# Inputs per workload: table -> generator arguments (see gen.py).
INPUTS = {
    "meds_etl": {"events": {"copies": 1}},
    "corpus_dedup": {"documents": {"copies": 1}, "embeddings": {"copies": 1}},
}

# What spark-submit passes to a JVM on JDK 17 (as the repository's build.sbt).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# Process groups of running children, killed if this process is terminated.
CHILDREN = set()


def terminate(signum, _frame):
    for pgid in CHILDREN:
        os.killpg(pgid, signal.SIGKILL)
    sys.exit(128 + signum)


def run_proc(cmd, log_name, timeout, cwd=ROOT, env=None, meanwhile=None):
    """Runs ``cmd`` to completion (killing its whole process group on
    timeout), calling ``meanwhile()`` while it runs; stderr goes to a log
    file. Returns (exit code, stdout)."""
    os.makedirs(LOGS, exist_ok=True)
    with open(os.path.join(LOGS, log_name), "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=log,
                             start_new_session=True)
        CHILDREN.add(p.pid)
        try:
            if meanwhile:
                meanwhile()
            out, _ = p.communicate(timeout=timeout)
        except BaseException as e:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            if isinstance(e, subprocess.TimeoutExpired):
                return -1, ""
            raise
        finally:
            CHILDREN.discard(p.pid)
    return p.returncode, out.decode(errors="replace")


def java(cp, main, args):
    return ["java", *ADD_OPENS, f"-Xmx{XMX}", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={TMP}", f"-Djava.io.tmpdir={TMP}", "-cp", cp, main, *args]


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles graft and the harness once per source state; returns the
    classpath and the build info (oracle SQL, JVM and Spark versions)."""
    out = os.path.join(WORK, "build")
    digest = source_digest()
    stamp, cp_file, info_file = (os.path.join(out, n) for n in ("stamp", "classpath", "info.json"))
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read(), json.load(open(info_file))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        # resolve only from the local cache, through the user's repository
        # list when there is one (the way the repository's tests are run)
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    rc, stdout = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export perfbench/Runtime/fullClasspath"],
                          "build.log", 840, cwd=HERE, env=env)
    # `export` prints the classpath as the last line that names jars
    lines = [l.strip() for l in stdout.splitlines() if ".jar" in l]
    if rc != 0 or not lines:
        die(f"build failed (exit {rc}); see {LOGS}/build.log")
    cp = lines[-1]
    os.makedirs(TMP, exist_ok=True)
    rc, _ = run_proc(java(cp, "graftbench.Harness", ["oracle", info_file]), "oracle.log", 120)
    if rc != 0:
        die(f"oracle SQL dump failed (exit {rc}); see {LOGS}/oracle.log")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, json.load(open(info_file))


# ------------------------------------------------------------- workloads

def make_inputs(workload, seed, repeats):
    """Generates the workload's inputs ``repeats`` times (the same files each
    time); returns the input dir, row counts and the median CPU seconds of
    one generation."""
    import gen
    in_dir = os.path.join(WORK, "run", workload, "in")
    times = []
    for _ in range(repeats):
        t = time.process_time()
        rows = gen.generate(INPUTS[workload], seed, in_dir)
        times.append(time.process_time() - t)
    return in_dir, rows, statistics.median(times)


def fresh_dir(*parts):
    d = os.path.join(WORK, "run", *parts)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def etl_output(con, out_dir, r6):
    """q_meds_pipeline's output projection over Main's written data/."""
    return con.sql(f"SELECT patient_id, epoch_us(time) AS time_us, code, "
                   f"{r6} AS numeric_value FROM '{out_dir}/data/*.parquet'").df()


def meds_etl(cp, info, seed, seconds):
    """graft.Main calls in one JVM: a verified warm-up call, then timed calls
    until ``seconds`` have passed."""
    import oracle
    in_dir, rows, gen_s = make_inputs("meds_etl", seed, GEN_REPEATS)
    out = fresh_dir("meds_etl", "out")
    gate = os.path.join(out, "gate")
    con = oracle.connect(in_dir)
    want = {}

    def meanwhile():
        want["rows"] = con.sql(info["sql"]["q_meds_pipeline"]).df()
        open(gate, "w").close()

    rc, _ = run_proc(java(cp, "graftbench.Harness", ["etl", CONFIG, in_dir, out, str(seconds), gate]),
                     "meds_etl.log", 165, meanwhile=meanwhile)
    if rc != 0:
        die(f"harness exit {rc}; see {LOGS}/meds_etl.log")
    res = json.load(open(os.path.join(out, "result.json")))

    def check(call):
        if call["error"]:
            return call["error"]
        rows_written = json.loads(call["summary"])["data_rows"]
        if rows_written != len(want["rows"]):
            return f"summary data_rows {rows_written}, oracle {len(want['rows'])}"
        return oracle.compare(etl_output(con, os.path.join(out, call["dir"]),
                                         info["r6_numeric_value"]), want["rows"])

    verify_err = check(res["verify"])
    calls = [{"seconds": c["seconds"], "cpu_s": c["cpu_s"],
              "error": f"verify failed: {verify_err}" if verify_err else check(c)} for c in res["calls"]]
    return summarise(gen_s + res["setup_cpu_s"], calls, rows["events"]), calls, rows, \
        {"verify_error": verify_err}


def summarise(setup_cpu_s, units, input_rows):
    """End-to-end metrics from the timed units (calls or sweeps), each with
    its wall ``seconds`` and its JVM ``cpu_s``."""
    cpu_s = statistics.median(u["cpu_s"] for u in units)
    return {"setup_s": setup_cpu_s, "cpu_s": cpu_s, "input_rows_per_cpu_s": input_rows / cpu_s,
            "wall_s": statistics.median(u["seconds"] for u in units)}


def oracle_results(in_dir, info, queries, gate):
    """The oracle's rows of each query over ``in_dir`` (or why it failed),
    then opens the harness's gate. Runs while the JVM warms up."""
    import oracle
    con = oracle.connect(in_dir)
    want = {}
    for q in queries:
        try:
            want[q] = con.sql(info["sql"][q]).df()
        except Exception as e:  # a broken oracle fails the check, not the run
            want[q] = f"oracle SQL failed: {e}"
    open(gate, "w").close()
    return want


def verify_dedup(want, out, verify):
    """Oracle compare of each verify-sweep output; query -> error or None."""
    import pandas as pd
    import oracle
    errs = {}
    for c in verify:
        q = c["query"]
        if c["error"] or isinstance(want[q], str):
            errs[q] = c["error"] or want[q]
        else:
            errs[q] = oracle.compare(pd.read_parquet(os.path.join(out, "verify", q)), want[q])
    return errs


def check_calls(calls, verify, verify_errs):
    """Marks each call failed unless it matches the verified reference."""
    ref = {c["query"]: (c["rows"], c["hash"]) for c in verify}
    for c in calls:
        if not c["error"]:
            if verify_errs[c["query"]]:
                c["error"] = f"verify failed: {verify_errs[c['query']]}"
            elif (c["rows"], c["hash"]) != ref[c["query"]]:
                c["error"] = f"rows/hash {c['rows']}/{c['hash']} != verified {ref[c['query']]}"
    return calls


DEDUP_QUERIES = ("q_dedup_exact", "q_minhash_sigs", "q_dedup_minhash", "q_dedup_jaccard",
                 "q_containment", "q_dedup_cluster", "q_simhash_pairs", "q_line_dedup",
                 "q_cross_dedup", "q_semdedup", "q_lof_scalable", "q_ann_ivf_kmeans")


def corpus_dedup(cp, info, seed, seconds):
    """The dedup/ANN queries, each built then written to a noop sink, in one
    warm session, until ``seconds`` have passed."""
    in_dir, rows, gen_s = make_inputs("corpus_dedup", seed, GEN_REPEATS)
    out = fresh_dir("corpus_dedup", "out")
    gate = os.path.join(out, "gate")
    want = {}
    rc, _ = run_proc(java(cp, "graftbench.Harness", ["sweep", in_dir, out, str(seconds), gate]),
                     "corpus_dedup.log", 160,
                     meanwhile=lambda: want.update(oracle_results(in_dir, info, DEDUP_QUERIES, gate)))
    if rc != 0:
        die(f"harness exit {rc}; see {LOGS}/corpus_dedup.log")
    res = json.load(open(os.path.join(out, "result.json")))
    errs = verify_dedup(want, out, res["verify"])
    calls = [c for s in res["sweeps"] for c in check_calls(s["calls"], res["verify"], errs)]
    metrics = summarise(gen_s + res["setup_cpu_s"], res["sweeps"], rows["documents"])
    return metrics, calls, rows, {
        "session": res["session"], "verify_errors": {q: e for q, e in errs.items() if e},
        "query_s": {q: [c["seconds"] for c in calls if c["query"] == q] for q in DEDUP_QUERIES}}


def traced(cp, info, seed):
    """The traced run over both workloads; per-layer metrics."""
    import oracle
    etl_in, etl_rows, _ = make_inputs("meds_etl", seed, 1)
    dedup_in, dedup_rows, _ = make_inputs("corpus_dedup", seed, 1)
    out = fresh_dir("trace")
    gate = os.path.join(out, "gate")
    want = {}

    def meanwhile():
        con = oracle.connect(etl_in)
        want["q_meds_pipeline"] = con.sql(info["sql"]["q_meds_pipeline"]).df()
        want.update(oracle_results(dedup_in, info, DEDUP_QUERIES, gate))

    t = time.perf_counter()
    rc, _ = run_proc(java(cp, "graftbench.Harness", ["trace", CONFIG, etl_in, dedup_in, out, gate]),
                     "trace.log", 165, meanwhile=meanwhile)
    if rc != 0:
        die(f"harness exit {rc} after {time.perf_counter() - t:.0f} s; see {LOGS}/trace.log")
    res = json.load(open(os.path.join(out, "result.json")))
    con = oracle.connect(etl_in)
    calls = [{"query": d, "error": oracle.compare(
        etl_output(con, os.path.join(out, d), info["r6_numeric_value"]), want["q_meds_pipeline"])}
        for d in ("etl_verify", "etl_traced")]
    dd = res["dedup"]
    errs = verify_dedup(want, out, dd["verify"])
    calls += check_calls(dd["traced"], dd["verify"], errs)
    shutil.copy(os.path.join(out, "spans.json"), os.path.join(WORK, "results", "spans-latest.json"))
    rows = {"meds_etl": etl_rows, "corpus_dedup": dedup_rows}
    return res["metrics"], calls, rows, {"session": res["session"]}


# ------------------------------------------------------------ provenance

def provenance(args, info, rows):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = git.stdout.strip() if git.returncode == 0 else None
    return {
        "nproc": os.cpu_count(),
        "mem_total_bytes": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
        "machine": platform.machine(),
        "hostname": platform.node(),
        "jvm": info["versions"]["jvm"],
        "spark": info["versions"]["spark"],
        "xmx": XMX,
        "seed": args.seed,
        "git_commit": commit,
        "source_digest": source_digest(),
        "input_rows": rows,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, terminate)
    for need in ("build.sbt", "configs/preprocess_example.yaml", "src/main/scala/graft/Main.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    os.makedirs(TMP, exist_ok=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)

    cp, info = build()
    if args.trace:
        metrics, calls, rows, extra = traced(cp, info, args.seed)
    else:
        run = meds_etl if args.workload == "meds_etl" else corpus_dedup
        metrics, calls, rows, extra = run(cp, info, args.seed, args.seconds)
    shutil.rmtree(TMP, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        die(f"metrics not measured: {missing}")
    failed = sum(1 for c in calls if c["error"])
    result = {
        "correct": failed == 0,
        "attempted": len(calls),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    record = {"workload": args.workload, "trace": args.trace, "seconds": args.seconds,
              "provenance": provenance(args, info, rows), "result": result, "measured": metrics,
              "errors": [c for c in calls if c["error"]], **extra}
    name = f"{args.workload}-trace{args.trace}-seed{args.seed}-{int(time.time() * 1000)}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

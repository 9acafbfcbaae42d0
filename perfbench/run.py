#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the JVM driver with
sbt on first use (outputs under .bench_build/ and perfbench/target/),
generates propensity-ref's inputs from the seed (query-mix reads the sf0.1
testdata under perfbench/testdata), runs one JVM (perfbench.Main), checks
the outputs, and prints every metric by name, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 an untraced JVM of the same seed
runs first, then the traced one, and the metrics are the per-layer ones
(see BENCHMARK.json and perfbench/NOTES.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LIB_SRC = os.path.join(ROOT, "src", "main")
TESTDATA = os.path.join(HERE, "testdata", "sf0.1")
WORKLOADS = ("propensity-ref", "query-mix")
RUN_LIMIT_S = 170
FAMILIES = ("relational", "profile", "features", "eval", "pipeline", "llm", "align", "similarity")

JAVA_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "sources.sha256"), os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    # the build resolves nothing (Spark comes from unmanaged jars): keep
    # sbt and coursier off the network whatever the caller's environment
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"], cwd=HERE, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=env)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"sbt build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def run_jvm(cp, a, data, work, traced, deadline):
    """One perfbench.Main run in `work`; returns its result record."""
    os.makedirs(os.path.join(work, "tmp"))
    log, result = os.path.join(work, "jvm.log"), os.path.join(work, "result.json")
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
           "perfbench.Main", "--workload", a.workload, "--data", data, "--work", work,
           "--seconds", str(a.seconds), "--trace", "1" if traced else "0", "--seed", str(a.seed),
           "--out", result]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"JVM run failed ({rc}); log in {log}")
    res = json.load(open(result))
    if "finish_error" in res["facts"]:
        fail("collecting outputs failed: " + res["facts"]["finish_error"])
    return res


def loop_ops(trace, traced=None):
    ops = [s for s in trace["spans"] if s["name"] == "op" and s["parent"] == -1]
    return [s for s in ops if traced is None or s["traced"] == traced]


def dur(s):
    return (s["t1"] - s["t0"]) / 1e6


def children(trace, span):
    return [s for s in trace["spans"] if s["parent"] == span["id"]]


def cpu(s):
    return s["cpu_us"] / 1e6


def top_ops(trace, traced=None):
    """The cold op and the loop ops."""
    return [s for s in trace["spans"] if s["name"] in ("op", "cold") and s["parent"] == -1
            and (traced is None or s["traced"] == traced)]


def end_to_end(res, quality):
    """Gated metrics. Set-up and op costs are CPU seconds of the JVM's
    threads other than the JIT compiler's: on a shared VM the hypervisor
    steals a varying share of the CPUs, which moves wall times between
    runs far more than it moves CPU time. Failed ops count like the
    others (and make the run incorrect)."""
    tr = res["trace"]
    ops = loop_ops(tr)
    cold = next(s for s in tr["spans"] if s["name"] == "cold")
    return {
        "setup_s": stats.median([r["cpu_s"] for r in res["setups"]]),
        "op_cpu_s": sum(cpu(s) for s in ops) / len(ops),
        "cold_cpu_s": cpu(cold),
        "peak_heap_mb": res["peak_heap_mb"],
        "quality": quality,
    }


def per_layer(res, twin):
    """Per-layer metrics of a traced run; `twin` is the untraced run of
    the same seed that trace.overhead compares it with."""
    tr = res["trace"]
    jobs, plans = tr["jobs"], tr["plans"]
    traced = loop_ops(tr, traced=True)
    spans = tr["spans"]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def per_op(f):
        return mean([f(s, stats.within(s, jobs), stats.within(s, plans)) for s in traced])

    def named(name):
        return [s for s in spans if s["name"] == name and s["traced"]]

    def med_self(name):
        xs = [stats.self_time(s, children(tr, s)) / 1e6 for s in named(name)]
        return stats.median(xs) if xs else 0.0

    def jobs_in(name):
        return mean([len(stats.within(s, jobs)) for s in named(name)])

    m = {
        "sessions.start_s": stats.median([r["start_s"] for r in res["setups"]]),
        "sessions.warmup_s": stats.median([r["warmup_s"] for r in res["setups"]]),
        "spark.plan_s": per_op(lambda s, j, p: sum(x["plan_ms"] for x in p) / 1e3),
        "spark.driver_gap_s": per_op(lambda s, j, p: stats.driver_gap(s, j) / 1e6),
        "spark.jobs": per_op(lambda s, j, p: len(j)),
        "spark.stages": per_op(lambda s, j, p: sum(x["stages"] for x in j)),
        "spark.tasks": per_op(lambda s, j, p: sum(x["tasks"] for x in j)),
        "spark.task_s": per_op(lambda s, j, p: sum(x["task_ms"] for x in j) / 1e3),
        "spark.shuffle_write_bytes": per_op(lambda s, j, p: sum(x["shuffle_write"] for x in j)),
        "spark.shuffle_read_bytes": per_op(lambda s, j, p: sum(x["shuffle_read"] for x in j)),
        "spark.spill_bytes": per_op(lambda s, j, p: sum(x["spill"] for x in j)),
        "io.bytes_written": per_op(lambda s, j, p: sum(x["bytes_written"] for x in j)),
        "io.files_written": per_op(lambda s, j, p: sum(x["files"] for x in p)),
        "jvm.gc_s": mean([s["gc_ms"] / 1e3 for s in traced]),
        "queries.plan_share": 0.0,
        "queries.jobs_per_query": 0.0,
        "dp.clean_s": med_self("dp.clean"),
        "pipeline.features_s": med_self("pipeline.features"),
        "model.cv_fit_s": med_self("model.cv_fit"),
        "model.cv_jobs": jobs_in("model.cv_fit"),
        "model.persist_s": med_self("model.persist"),
        "model.score_s": med_self("model.score"),
        "eval.metrics_s": med_self("eval.metrics"),
        "similarity.build_s": med_self("similarity.build"),
        "similarity.build_jobs": jobs_in("similarity.build"),
        "similarity.search_s": med_self("similarity.search"),
        "similarity.search_jobs": jobs_in("similarity.search"),
        "similarity.candidates_per_query": res["facts"].get("candidates_per_query", 0.0),
        "similarity.index_bytes_per_vector": res["facts"].get("index_bytes_per_vector", 0.0),
    }
    for fam in FAMILIES:
        xs = [dur(s) for s in loop_ops(tr) if s["attrs"].get("family") == fam]
        m[f"queries.{fam}.p50_s"] = stats.median(xs) if xs else 0.0
    queries = [s for s in traced if s["attrs"].get("family") not in (None, "similarity")]
    if queries:
        m["queries.plan_share"] = (sum(sum(x["plan_ms"] for x in stats.within(s, plans)) for s in queries)
                                   / 1e3 / sum(dur(s) for s in queries))
        m["queries.jobs_per_query"] = stats.median([len(stats.within(s, jobs)) for s in queries])
    # the traced ops' (cold op and loop) CPU time over the untraced twin's,
    # and the share of it the listeners' own callbacks took
    observed = sum(cpu(s) for s in top_ops(tr, traced=True))
    untraced = sum(cpu(s) for s in top_ops(twin["trace"]))
    m["trace.overhead"] = observed / untraced - 1.0
    m["trace.listener_share"] = tr["listener_cpu_us"] / 1e6 / observed
    return m


UNITS = {"per_s": "1/s", "_s": "s", "_bytes": "bytes", "_mb": "MB", "_share": "ratio",
         "overhead": "ratio", "listener_share": "ratio", "bytes_per_vector": "bytes", "bytes_written": "bytes",
         "quality": "ratio"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def aliases(workload, res, quality, steal):
    """The workload's own names for its figures, wall times included (they
    are printed, not gated: see NOTES.md)."""
    tr = res["trace"]
    ops = loop_ops(tr)
    cold = next(s for s in tr["spans"] if s["name"] == "cold")
    setup_wall = stats.median([r["start_s"] + r["warmup_s"] for r in res["setups"]])
    jit = sum(s["jit_us"] for s in ops) / 1e6
    out = [("steal_share", f"{steal:.3f} (CPU time the hypervisor took from this VM during the run)"),
           ("setup_wall_s", f"{setup_wall:.4f} s wall (median of {len(res['setups'])} set-ups)"),
           ("jit_share", f"{jit / (jit + sum(cpu(s) for s in ops)):.3f} of the loop ops' JVM CPU "
                         f"({jit:.3f} s), left out of op_cpu_s")]
    if workload == "propensity-ref":
        return out + [
            ("pipeline_s", f"{stats.median([dur(s) for s in ops]):.4f} s wall (median of {len(ops)} passes)"),
            ("pipeline_first_s", f"{dur(cold):.4f} s wall"),
            ("model_auc", f"{quality:.4f}")]
    queries = [dur(s) for s in ops if s["attrs"].get("family") != "similarity"]
    search = [dur(s) for s in tr["spans"] if s["name"] == "similarity.search"]
    build = [dur(s) for s in tr["spans"] if s["name"] == "similarity.build"]
    q, tail = stats.tail_percentile(queries)
    return out + [
        ("query_p50_s", f"{stats.median(queries):.4f} s wall (median of {len(queries)} samples)"),
        ("query_p90_s", f"{tail:.4f} s wall (p{100 * q:.0f} of {len(queries)} samples: the highest "
                        "percentile up to p90 with 10 samples beyond it)" if q else
                        f"n/a ({len(queries)} samples: no percentile has 10 samples beyond it)"),
        ("queries_per_s", f"{len(queries) / sum(queries):.4f} 1/s wall"),
        ("index_build_s", f"{build[0]:.4f} s wall" if build else "n/a"),
        ("search_p50_s", f"{stats.median(search):.4f} s wall (median of {len(search)} samples)"
         if search else "n/a"),
        ("recall_at_10", f"{quality:.4f}"),
    ]


def steal_jiffies():
    """(steal, total) CPU jiffies of the whole VM from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def run_checks(workload, data, facts, rule_auc):
    """The workload's output checks and its quality figure; a check that
    cannot run at all is one failed check."""
    try:
        if workload == "propensity-ref":
            return checks.propensity(data, facts, rule_auc)
        cs, quality = checks.recall(data, facts)
        return checks.query_mix(data, facts["checks"]) + cs, quality
    except Exception as e:
        return [("checks", False, f"{type(e).__name__}: {e}")], 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB_SRC, "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found: run from the repository root")
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.workload == "propensity-ref":
            data = os.path.join(work, "data")
            rule_auc = gen.propensity(data, a.seed)
        else:
            data, rule_auc = TESTDATA, None
        twin = run_jvm(cp, a, data, os.path.join(work, "twin"), False, deadline) if a.trace else None
        before = steal_jiffies()
        res = run_jvm(cp, a, data, os.path.join(work, "run"), a.trace == 1, deadline)
        after = steal_jiffies()
        steal = ((after[0] - before[0]) / max(1, after[1] - before[1])) if before and after else 0.0
        cs, quality = run_checks(a.workload, data, res["facts"], rule_auc)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed_ops = [s for s in top_ops(res["trace"]) if s["attrs"].get("failed")]
    failed_checks = [c for c in cs if not c[1]]
    attempted = len(top_ops(res["trace"])) + len(cs)
    failed = len(failed_ops) + len(failed_checks)
    for name, ok, detail in cs:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for s in failed_ops:
        print(f"op FAIL {s['name']} {s['attrs'].get('query', '')}")
    metrics = end_to_end(res, quality) if a.trace == 0 else per_layer(res, twin)
    for name, txt in aliases(a.workload, res, quality, steal) + [("error_rate", f"{failed / attempted:.4f}")]:
        print(f"{a.workload} {name} = {txt}")
    for name, v in metrics.items():
        print(f"metric {name} = {v:.6g} {unit(name)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Product-path benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload asset_etl|dsl_serving|corpus_export \
        --seed N --seconds S --trace 0|1

It builds the engine and the harness from source (first run only; the
build lands in .bench_build/), generates the workload's inputs from the
seed (.bench_data/), runs one JVM on local[4] (perfbench.Main), checks
every output against the engine's registered DuckDB mirrors, and prints
one JSON line: the end-to-end metrics with --trace 0, the per-layer
split (and tracing overhead) with --trace 1. The line before it carries
the run metadata and each workload's own figures. Exits non-zero when
any op failed or any output mismatched its mirror. See NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

HEAP = "3g"
DEADLINE_S = 170  # the whole run, build excluded, ends well within 180 s


def declared_metrics(root):
    """{name: unit} of the end-to-end and per-layer metrics, as
    BENCHMARK.json at the repository root lists them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must name a Spark distribution")
    return home


def source_digest(root):
    """SHA-256 over the engine's and the harness's sources and build
    files: the build stamp, and the run's source identity."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, home):
    """Compile the engine and harness once per source state."""
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "perfbench", "scala-2.13", "classes")
    stamp = os.path.join(out, "stamp")
    digest = source_digest(root)
    if os.path.isdir(classes) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return classes
    log("perfbench: building engine and harness (sbt compile)")
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "compile"], cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def inputs(root, workload, seed):
    """The workload's inputs for `seed`, generated once per generator
    version: the same seed always gives the same bytes."""
    d = os.path.join(root, ".bench_data", f"{workload}-s{seed}")
    marker = os.path.join(d, "inputs.json")
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        generator = hashlib.sha256(f.read()).hexdigest()
    if os.path.exists(marker):
        desc = json.load(open(marker))
        if desc.get("generator") == generator:
            return d, desc
    shutil.rmtree(d, ignore_errors=True)
    t = time.time()
    desc = gen.generate(workload, seed, d)
    desc["generator"] = generator
    desc["generate_s"] = time.time() - t
    with open(marker, "w") as f:
        json.dump(desc, f)
    return d, desc


def run_jvm(root, classes, home, workload, data, work, seconds, trace, budget):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed-size heap and the throughput collector: no heap resizing
    # while the timed window runs
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{home}/jars/*", "perfbench.Main",
            "--workload", workload, "--data", data, "--out", work,
            "--seconds", str(seconds), "--trace", str(trace)]
    if workload == "dsl_serving":
        cmd += ["--requests", os.path.join(data, "requests.json")]
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=lf)
        try:
            code = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(logf) as lf:
            log("".join(lf.readlines()[-40:]))
        return None, f"JVM exited with {code}"
    return json.load(open(os.path.join(work, "result.json"))), None


def dir_size(d):
    """(data files, bytes) under `d`, not counting hidden and `_` marker
    files."""
    n = b = 0
    for dp, _, fs in os.walk(d):
        for f in fs:
            if not f.startswith(".") and not f.startswith("_"):
                n += 1
                b += os.path.getsize(os.path.join(dp, f))
    return n, b


def per_layer(res, good):
    """Per-layer figures: the median over the window's successful traced
    ops, plus the traced set-up's artifact builds and the tracing
    overhead."""
    t = res["traced"]
    ops = [o for o in good if o["traced"]]
    plain = [o["ms"] for o in good if not o["traced"]]
    layers = stats.layer_self_ms(t["spans"])
    execs = stats.op_exec_totals(t["stages"])
    jobs = {}
    for _, op, span in t["jobs"]:
        per = jobs.setdefault(op, {})
        per[span] = per.get(span, 0) + 1
    root_ms = {s[2]: (s[5] - s[4]) / 1e6 for s in t["spans"] if s[1] == 0}
    sinks = {o["id"]: dir_size(o["sink_dir"]) for o in ops if o["sink_dir"]}

    def med(f):
        return stats.median([f(o["id"]) for o in ops])

    def self_ms(layer):
        return med(lambda i: layers.get(i, {}).get(layer, 0.0))

    def jobs_in(layer):
        return med(lambda i: jobs.get(i, {}).get(layer, 0))

    def ex(k):
        return med(lambda i: execs.get(i, {}).get(k, 0))

    traced_p50 = stats.median([o["ms"] for o in ops])
    plain_p50 = stats.median(plain) or 1.0
    return {
        "sources.build_ms": self_ms("sources.build"),
        "sources.input_bytes": ex("input_bytes"),
        "sources.input_rows": ex("input_rows"),
        "sources.scan_tasks": ex("scan_tasks"),
        "assets.build_ms": self_ms("assets.build"),
        "assets.build_jobs": jobs_in("assets.build"),
        "dsl.env_ms": self_ms("dsl.env"),
        "dsl.env_jobs": jobs_in("dsl.env"),
        "dsl.compile_ms": self_ms("dsl.compile"),
        "plan.ms": self_ms("plan"),
        "text.build_ms": self_ms("text.build"),
        "text.build_jobs": jobs_in("text.build"),
        "exec.ms": self_ms("exec"),
        "exec.jobs": med(lambda i: sum(jobs.get(i, {}).values())),
        "exec.stages": ex("stages"),
        "exec.tasks": ex("tasks"),
        "exec.task_ms": ex("task_ms"),
        "exec.task_cpu_ms": ex("task_cpu_ms"),
        "exec.core_util": med(lambda i: execs.get(i, {}).get("task_ms", 0)
                              / (root_ms[i] * res["meta"]["cores"])),
        "exec.shuffle_read_bytes": ex("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": ex("shuffle_write_bytes"),
        "exec.spill_bytes": ex("spill_bytes"),
        "exec.skew": ex("skew"),
        "exec.sched_wait_ms": ex("sched_wait_ms"),
        "exec.failed_tasks": ex("failed_tasks"),
        "sink.write_ms": self_ms("sink.write"),
        "sink.bytes_written": med(lambda i: sinks.get(i, (0, 0))[1]),
        "sink.files_written": med(lambda i: sinks.get(i, (0, 0))[0]),
        "artifacts.build_ms": sum(root_ms[i] for i in t["warmup_ops"]),
        "artifacts.cached_bytes": t["cached_bytes"],
        "jvm.gc_ms": stats.median([o["gc_ms"] for o in ops]),
        # traced ÷ untraced: ops interleaved in one window; set-up and
        # heap from a fresh untraced and a fresh traced set-up
        "trace.overhead.setup_s": (res["session_s"] + t["setup_s"])
        / (res["session_s"] + t["fresh_setup_s"]),
        "trace.overhead.op_p50_ms": traced_p50 / plain_p50,
        "trace.overhead.throughput": plain_p50 / traced_p50,
        "trace.overhead.heap_retained_mb": t["heap_mb"] / t["fresh_heap_mb"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources "
             "(build.sbt, src/main/scala/graft) are not here")
    home = spark_home()
    classes = build(root, home)
    started = time.time()
    data, desc = inputs(root, a.workload, a.seed)
    work = os.path.join(root, ".bench_work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res, err = run_jvm(root, classes, home, a.workload, data, work, a.seconds,
                       a.trace, DEADLINE_S - (time.time() - started))
    if res is None:
        fail(err, code=1)
    jvm_s = time.time() - started

    # correctness, outside every timed window: each sink and each
    # reference page against its DuckDB mirror; each op's page was already
    # matched against its kind's reference in the JVM
    con = oracle.connect(data, os.path.join(work, "tmp"))
    mismatched = oracle.check(con, res["oracle_sql"],
                              res["sink_checks"] + res["references"])
    bad_kinds = {r["kind"] for r in res["references"] if r["dir"] in mismatched}
    win = res["window"]["ops"]
    warm = res["warmup_ops"]
    failed_ops = [o for o in win if not o["ok"] or o["kind"] in bad_kinds
                  or o["sink_dir"] in mismatched] \
        + [o for o in warm if o["kind"] in bad_kinds or o["sink_dir"] in mismatched]
    attempted, failed = len(win) + len(warm), len(failed_ops)
    log(f"perfbench: inputs and JVM {jvm_s:.1f} s, oracle check "
        f"{time.time() - started - jvm_s:.1f} s")
    for d, problems in mismatched.items():
        log(f"perfbench: oracle mismatch in {d}: {'; '.join(problems)}")
    for o in failed_ops[:5]:
        log(f"perfbench: op {o['id']} ({o['kind']}) failed: "
            f"{o.get('error') or 'its output mismatched the mirror'}")

    # failed ops give no latency sample
    failed_ids = {o["id"] for o in failed_ops}
    good = [o for o in win if o["id"] not in failed_ids]
    ok_ms = [o["ms"] for o in good]
    p50 = stats.median(ok_ms)
    sizes = desc["sizes"]
    if a.workload == "dsl_serving":
        wall = (res["window"]["end_ns"] - res["window"]["start_ns"]) / 1e9
        throughput = len(ok_ms) / wall if wall > 0 else 0.0
    else:
        items = sizes["events"] if a.workload == "asset_etl" else sizes["documents"]
        throughput = items / (p50 / 1e3) if p50 else 0.0
    e2e = {"setup_s": res["session_s"] + res["setup_warmup_s"],
           "op_p50_ms": p50, "throughput": throughput,
           "heap_retained_mb": res["heap_retained_mb"]}
    end_to_end, layered = declared_metrics(root)
    metrics, units = (per_layer(res, good), layered) if a.trace else (e2e, end_to_end)

    # the run's metadata and each workload's own figures, by the names
    # the benchmark's notes use
    tl = stats.tail(ok_ms)
    own = {"setup_s": (e2e["setup_s"], "s"),
           "heap_retained_mb": (e2e["heap_retained_mb"], "MB"),
           "op_fail_ratio": (failed / attempted, "ratio")}
    if a.workload == "asset_etl":
        own["etl_events_per_s"] = (throughput, "events/s")
    elif a.workload == "corpus_export":
        own["export_docs_per_s"] = (throughput, "docs/s")
    else:
        own["dsl_p50_ms"] = (p50, "ms")
        own["dsl_rps"] = (throughput, "req/s")
        if tl:
            own["dsl_tail_ms"] = (tl[1], "ms")
    by_kind = {}
    for o in good:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    meta = dict(res["meta"], workload=a.workload, seed=a.seed,
                seconds=a.seconds, trace=a.trace, git_sha=git_sha(root),
                source_sha256=source_digest(root), inputs=desc,
                session_s=res["session_s"], setup_warmup_s=res["setup_warmup_s"],
                timed_ops=len(ok_ms),
                tail_percentile=tl[0] if tl else None,
                p50_ms_by_kind={k: stats.median(v) for k, v in sorted(by_kind.items())})
    if a.trace:
        roots = {s[2]: (s[3], (s[5] - s[4]) / 1e6)
                 for s in res["traced"]["spans"] if s[1] == 0}
        meta["artifacts_build_ms_by_entry"] = dict(
            roots[i] for i in res["traced"]["warmup_ops"])
    print(json.dumps({"meta": meta, "workload_metrics": {
        k: {"value": v, "unit": u} for k, (v, u) in own.items()}}))
    with open(os.path.join(root, ".bench_work",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(res, f)
    correct = failed == 0 and not mismatched
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if correct else 1)


def git_sha(root):
    """HEAD of the checkout, when it is a git work tree; the source digest
    identifies the code either way."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


if __name__ == "__main__":
    main()

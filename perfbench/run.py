#!/usr/bin/env python3
"""Run one benchmark workload on the program in this checkout.

  python3 perfbench/run.py --workload analyst_sql|daily_cycle
                           --seed N --seconds S --trace 0|1

Builds the harness together with the program's sources (once per source
state, into .bench_build/), generates the seeded inputs, runs the workload
closed-loop with one client on local[nproc], checks the outputs against the
program's DuckDB oracle SQL and prints every metric with its unit. The last
line of stdout is the JSON result. Exits non-zero when any op fails or any
check does not match.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(BUILD, "harness", "scala-2.13", "classes")
JAR = os.path.join(BUILD, "harness.jar")
CDS = os.path.join(BUILD, "harness.jsa")
# the Spark installation: $SPARK_HOME, else the one whose spark-submit is on PATH
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "/")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# Input sizes. analyst_sql: the star-schema tables at scale factor 0.002
# (12,000 lineitem rows), far below the sf0.1 the workload was sized at:
# one warm sf0.1 pass of the 20 queries takes 20-40 s on 4 cores, and the
# run set must fit its time budget. At this size a query's cost is mostly
# the engine's fixed cost per job (planning, codegen, scheduling), not its
# operators' per-row work. daily_cycle: a corpus of 150 base documents in 8
# ciphered copies (1,200 documents and vectors) landed over 6 days of 200
# documents, each day a fold and a takedown. The harness replays 2 days
# untimed as history, so the window's first day compacts; the 3 days after
# it leave room for a window of several days on a faster host.
INPUTS = {
    "analyst_sql": dict(sf=0.002, base=100, copies=2, days=0),
    "daily_cycle": dict(sf=0.001, base=150, copies=8, days=6),
}
JVM_HEAP = "3g"
TIME_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
MEMBERS = ["dedup", "tfidf", "ann", "curate"]
DEDUP_STAGES = ["q_dedup_minhash", "q_sim_jaccard", "q_dedup_cluster", "q_dedup_survivors",
                "q_ann_lsh"]
TEXT_STAGES = ["q_text_tfidf", "q_text_keyphrases"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Hash of everything the build compiles (not sbt's own output dirs)."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if not (d == HARNESS and x in ("target", "project")))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HARNESS, "project", "build.properties"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile harness + program with sbt, unless this exact source state
    was built already; then pack the classes into a jar and record a class
    data sharing archive of one short run, which cuts every later run's
    JVM and Spark start-up (classes load in the cold first set-up and the
    warm-up, which no reported number includes)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala in this checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java are required")
    if not os.path.isdir(SPARK_JARS):
        fail("no Spark installation: set SPARK_HOME")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = sources_digest()
        stamp = os.path.join(BUILD, "harness.stamp")
        if os.path.exists(JAR) and os.path.exists(stamp) and open(stamp).read() == want:
            return 0.0
        t0 = time.time()
        for f in (stamp, JAR, CDS):
            if os.path.exists(f):
                os.remove(f)
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = "-Dsbt.offline=true -Xmx2g"
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        # keep sbt's scratch (server socket, file watcher, JVM perf data) in the checkout
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["SBT_OPTS"] = f"{env.get('SBT_OPTS') or opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as lf:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HARNESS, env=env, stdout=lf, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            with open(log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            fail("build failed")
        with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
            for d, _, files in sorted(os.walk(CLASSES)):
                for f in sorted(files):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
        os.replace(JAR + ".tmp", JAR)
        in_dir, work = os.path.join(BUILD, "cds-in"), os.path.join(BUILD, "cds-run")
        gen.generate(in_dir, 1, **INPUTS["analyst_sql"])
        # set-up and the warm-up pass load the classes; no window is needed
        if harness("analyst_sql", 1, 0, 0, in_dir, work, [f"-XX:ArchiveClassesAtExit={CDS}"]) != 0:
            print("perfbench: no class data sharing archive; runs start without it",
                  file=sys.stderr)
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
        with open(stamp, "w") as f:
            f.write(want)
        return time.time() - t0


def harness(workload, seed, seconds, trace, in_dir, work, jvm_flags, timeout=TIME_LIMIT_S):
    """Run the harness JVM on generated inputs; its log is work/harness.log.
    Returns the exit code, or "timeout"."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
              "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC"] + jvm_flags
           + ["-cp", f"{JAR}:{SPARK_JARS}/*", "perfbench.Main",
              "--workload", workload, "--in", in_dir, "--out", work,
              "--seconds", str(seconds), "--trace", str(trace),
              "--seed", str(seed)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(os.path.join(work, "harness.log"), "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return "timeout"


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def du_mb(path):
    n = 0
    for d, _, files in os.walk(path):
        n += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n / 1e6


def end_to_end(workload, res, ops):
    """The user-facing metrics. Every workload reports each of them; what
    an op and a cycle are depends on the workload (README.md)."""
    cyc = [c for c in res["cycles"] if c["kind"] in ("pass", "day")]
    if workload == "daily_cycle":
        lat = [o["s"] for o in ops if o["name"].startswith(("ops.incr.fold.", "ops.incr.delete."))]
    else:
        lat = [o["s"] for o in ops if o["name"].startswith("ops.relational.")]
    # op_p90_s is printed but not a BENCHMARK.json metric: one run has 20
    # (analyst_sql) or 8 (daily_cycle) op latencies, too few samples beyond
    # a p90 to bound it
    return {
        "setup_s": (med(res["setup_s"]), "s"),
        "op_p50_s": (med(lat), "s"),
        "cycle_s": (med([c["s"] for c in cyc]), "s"),
    }, pct(lat, 0.9), len(lat), len(cyc)


def per_layer(workload, res, ops, spans, work, cpv):
    def named(prefix):
        return [o for o in ops if o["name"].startswith(prefix)]

    def s_of(prefix):
        return [o["s"] for o in named(prefix)]

    m = {}
    m["sources.catalog.register_s"] = (med(res["register_s"]), "s")
    m["sources.catalog.recover_s"] = (med(s_of("sources.catalog.recover")), "s")
    land = named("streaming.ingest.land")
    days = [c for c in res["cycles"] if c["kind"] == "day"]
    land_s = sum(o["s"] for o in land)
    m["streaming.ingest.land_s"] = (med([o["s"] for o in land]), "s")
    m["streaming.ingest.rows_per_s"] = (sum(c["docs"] for c in days) / land_s if land_s else 0.0, "1/s")
    m["streaming.ingest.files_written"] = (
        res["extra"].get("streaming.ingest.files_written", 0.0) / len(days) if days else 0.0, "count")

    rel_ops = {o["id"] for o in named("ops.relational.")}
    rel = named("ops.relational.")
    m["ops.relational.plan_s"] = (med([s["end_ms"] - s["start_ms"] for s in spans
                                       if s["name"] == "plan" and s["op"] in rel_ops]) / 1e3, "s")
    m["ops.relational.exec_s"] = (med([s["end_ms"] - s["start_ms"] for s in spans
                                       if s["name"] == "exec" and s["op"] in rel_ops]) / 1e3, "s")
    m["ops.relational.scan_mb"] = (statistics.fmean([o["in_b"] for o in rel]) / 1e6 if rel else 0.0, "MB")
    m["ops.relational.shuffle_mb"] = (statistics.fmean([o["shr_b"] for o in rel]) / 1e6 if rel else 0.0, "MB")
    m["ops.relational.stages"] = (statistics.fmean([o["stages"] for o in rel]) if rel else 0.0, "count")

    for mem in MEMBERS:
        m[f"ops.incr.fold_s.{mem}"] = (med(s_of(f"ops.incr.fold.{mem}")), "s")
        m[f"ops.incr.delete_s.{mem}"] = (med(s_of(f"ops.incr.delete.{mem}")), "s")
        m[f"ops.incr.report_s.{mem}"] = (med(s_of(f"ops.incr.report.{mem}")), "s")
        m[f"ops.incr.state_mb.{mem}"] = (du_mb(os.path.join(work, "warehouse", mem))
                                         if workload == "daily_cycle" else 0.0, "MB")
    comp = named("ops.incr.compact.")
    # per day, a mean: a member merges only on every third day
    m["ops.incr.compact_s"] = (sum(o["s"] for o in comp) / len(days) if days else 0.0, "s")
    m["ops.incr.max_files_per_bucket"] = (res["extra"].get("ops.incr.max_files_per_bucket", 0.0), "count")
    folds = named("ops.incr.fold.")
    m["ops.incr.input_mb_per_fold"] = (med([o["in_b"] / 1e6 for o in folds]), "MB")
    m["ops.incr.output_mb_per_fold"] = (med([o["out_b"] / 1e6 for o in folds]), "MB")

    for q in DEDUP_STAGES:
        m[f"ops.dedup.stage_s.{q}"] = (med(s_of(f"ops.dedup.{q}")), "s")
    for q in TEXT_STAGES:
        m[f"ops.text.stage_s.{q}"] = (med(s_of(f"ops.text.{q}")), "s")
    dd = named("ops.dedup.")
    surv = res["extra"].get("surviving_docs", 0.0)
    m["ops.dedup.shuffle_mb_per_kdoc"] = (
        sum(o["shr_b"] for o in dd) / 1e6 / (surv / 1e3) if dd and surv else 0.0, "MB")
    m["ops.dedup.candidates_per_verified"] = (cpv or 0.0, "ratio")

    for k in ("h64", "rollfp"):
        m[f"functions.{k}_rows_per_s"] = (res["extra"].get(f"functions.{k}_rows_per_s", 0.0), "1/s")

    e = res["engine"]
    wall = res["wall_s"]
    cpu_s = e["cpu_ns"] / 1e9
    m["engine.shuffle_mb"] = ((e["shr_b"]) / 1e6, "MB")
    m["engine.spill_mb"] = (e["spill_b"] / 1e6, "MB")
    m["engine.tasks"] = (e["tasks"], "count")
    m["engine.executor_cpu_s"] = (cpu_s, "s")
    m["engine.cpu_util"] = (cpu_s / (wall * res["cores"]), "ratio")
    m["engine.gc_s"] = (e["gc_ms"] / 1e3, "s")
    m["trace.fence_frac"] = (e["fence_s"] / wall, "ratio")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build_s = build()
    t_start = time.time()  # the time limit applies from here; a first build may take longer
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    in_dir = os.path.join(BUILD, "in", tag)
    work = os.path.join(BUILD, "run", tag)
    try:
        info = gen.generate(in_dir, a.seed, **INPUTS[a.workload])
        print(f"inputs: seed {a.seed} digest {info['digest'][:16]} {info['bytes']} bytes in "
              f"{info['files']} files; rows {info['rows']}; cycles {info['cycles']}"
              + (f"; build {build_s:.1f} s" if build_s else ""))
        cds = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
        rc = harness(a.workload, a.seed, a.seconds, a.trace, in_dir, work, cds,
                     max(10, TIME_LIMIT_S - (time.time() - t_start)))
        log = os.path.join(work, "harness.log")
        if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            fail(f"harness exited with {rc}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        with open(os.path.join(work, "ops.jsonl")) as f:
            ops = [json.loads(x) for x in f if x.strip()]
        # correctness, outside the timed window
        survivors = None
        if a.workload == "daily_cycle":
            with open(os.path.join(in_dir, "schedule.json")) as f:
                sched = {e["cycle"]: e for e in json.load(f)}
            with open(os.path.join(work, "cycles_done.json")) as f:
                done = json.load(f)
            landed = set()
            for c in done:
                if sched[c]["kind"] == "fold":
                    landed |= set(pq.read_table(os.path.join(in_dir, sched[c]["emb"]),
                                                columns=["vec_id"]).column(0).to_pylist())
            gone = {i for c in done if sched[c]["kind"] == "takedown" for i in sched[c]["ids"]}
            survivors = landed - gone
        con = check.connect(os.path.join(in_dir, "tables"), survivors)
        checks = check.check_all(con, work)
        bad = {k: v for k, v in checks.items() if v}
        for k, v in sorted(checks.items()):
            print(f"check {k}: {'ok' if not v else 'MISMATCH ' + v}")
        e2e, p90, n_ops, n_cycles = end_to_end(a.workload, res, ops)
        attempted = res["attempted"] + len(checks)
        failed = res["failed"] + len(bad)
        if a.trace:
            with open(os.path.join(work, "spans.jsonl")) as f:
                spans = [json.loads(x) for x in f if x.strip()]
            with open(os.path.join(work, "oracle_sql.json")) as f:
                osql = json.load(f)
            mh = osql.get("q_dedup_minhash") or osql.get("q_dedup_incr")
            cpv = check.candidates_per_verified(con, mh) if mh else None
            metrics = per_layer(a.workload, res, ops, spans, work, cpv)
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.spans.jsonl"))
        else:
            metrics = e2e
        con.close()
        if a.workload == "daily_cycle":
            print(f"compactions that merged in the window: {res['extra']['ops.incr.compactions']:g}"
                  f" (4 members, {n_cycles} days)")
        print(f"window {res['wall_s']:.2f} s, {n_ops} timed ops, {n_cycles} cycles, "
              f"{res['failed']} failed ops, {len(bad)} failed checks; JVM phases end at "
              + ", ".join(f"{k} {v:.1f} s" for k, v in res["phases"].items())
              + f"; run total {time.time() - t_start:.1f} s")
        if a.trace:
            for k, (v, u) in e2e.items():
                print(f"(traced) {k} = {v:.6g} {u}")
        for k, (v, u) in metrics.items():
            print(f"{k} = {v:.6g} {u}")
        print(f"op_p90_s = {p90:.6g} s (not bounded)")
        print(f"failed_frac = {failed / max(attempted, 1):.6g}")
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(in_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

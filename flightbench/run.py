#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 flightbench/run.py --workload caa_punctuality --seed 1 \
        --seconds 10 --trace 0

Builds the graft library and the load generator with sbt (cached by a hash
of the sources), generates the CAA input from the seed (the star-schema
workload reads the sf0.1 Parquet snapshot in `sf0.1/`; its seed permutes
the op order only), runs the measured JVM (`graft.bench.BenchMain`, outside sbt) with a fixed heap,
checks every result, and prints one JSON object as the last line of
stdout: `--trace 0` gives the end-to-end metrics, `--trace 1` the
per-layer ones. Exits non-zero without a result when the repository's
sources are missing or a step fails. See README.md.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_caa  # noqa: E402
import stats  # noqa: E402

MB = 1048576.0
MAX_CPUS = 4
SF_DIR = os.path.join(HERE, "sf0.1")

# Per workload: timed rounds per measured second (a round runs every
# pinned name once; the op count is fixed for a given --seconds, never
# cut short by a clock), set-ups per run, and heap.
WORKLOADS = {
    "caa_punctuality": {"rounds_per_s": 0.32, "setups": 5, "heap": "3g"},
    "flight_olap": {"rounds_per_s": 0.12, "setups": 3, "heap": "3g"},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[flightbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """sbt build of the library plus load generator; returns the runtime classpath.
    Reuses the previous build while no source file changed."""
    files = source_files()
    missing = [f for f in files if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"repository sources not found next to the benchmark: {missing[:3]}")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cache = os.path.join(HERE, "target", "bench-build.json")
    if os.path.isfile(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp and all(os.path.exists(p) for p in c["classpath"]):
            return c["classpath"], False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    # sbt's global state (boot jars, compiler bridge) stays in the checkout
    global_base = os.path.join(HERE, "target", "sbt-global")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dsbt.global.base={global_base}",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"sbt build failed with code {p.returncode}")
    classpath = p.stdout.strip().splitlines()[-1].split(os.pathsep)
    if not all(os.path.exists(x) for x in classpath):
        fail("sbt did not report a usable classpath")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    log(f"build took {time.time() - t0:.1f} s")
    return classpath, True


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total


def cpu_ticks():
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat;
    steal is time the host gave this machine's CPUs to someone else."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    steal = f[7] if len(f) > 7 else 0
    return sum(f[:3]) + sum(f[4:7]) + steal, steal


def local_path(uri):
    return urllib.parse.unquote(urllib.parse.urlparse(uri).path)


def input_bytes(jvm, wh):
    """Bytes each name's plan reads (the files of `Dataset.inputFiles`,
    taken on the warm pass), and the bytes of the distinct input files
    outside the warehouse directory `wh` (which is measured on its own)."""
    size = {local_path(f): 0 for fs in jvm["inputs"].values() for f in fs}
    for f in size:
        size[f] = os.path.getsize(f)
    per_name = {n: sum(size[local_path(f)] for f in fs) for n, fs in jvm["inputs"].items()}
    outside = sum(v for f, v in size.items()
                  if os.path.commonpath([os.path.abspath(f), os.path.abspath(wh)])
                  != os.path.abspath(wh))
    return per_name, outside


def run_jvm(classpath, args, work, heap, cpus, deadline):
    cmd = ["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC",
        f"-XX:ParallelGCThreads={cpus}", f"-XX:ConcGCThreads={max(1, cpus // 4)}",
        f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join(classpath), "graft.bench.BenchMain"] + args
    with open(os.path.join(work, "jvm.log"), "w") as out:
        try:
            p = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=out,
                               stderr=subprocess.STDOUT,
                               timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("the measured JVM did not finish in time")
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the measured JVM exited with code {p.returncode}")
    return cmd


def generate(workload, seed, work, trace):
    """Write the workload's inputs; return (input dir, expected CAA
    results or None, tables dir, CSV sample). The traced run of either
    workload also times the CSV splitter and the media decoders, so it
    gets both a CSV file and the Parquet snapshot."""
    tables = csv_sample = expected = None
    if workload == "caa_punctuality":
        inp = os.path.join(work, "caa")
        expected = gen_caa.generate(inp, seed)
        csv_sample = os.path.join(inp, sorted(os.listdir(inp))[0])
        if trace:
            tables = SF_DIR
    else:
        inp = tables = SF_DIR
        if trace:
            sample = os.path.join(work, "caa_sample")
            gen_caa.generate(sample, seed, n_files=1)
            csv_sample = os.path.join(sample, os.listdir(sample)[0])
    return inp, expected, tables, csv_sample


def check_results(workload, jvm, work, expected, tables):
    """Names whose warm result failed its correctness check -> problems."""
    bad = {}
    results = os.path.join(work, "results")
    if workload == "caa_punctuality":
        for name, fn in (("Delay", checks.check_delay), ("Late", checks.check_late)):
            path = os.path.join(results, f"{name}.txt")
            if not os.path.isfile(path):
                bad[name] = ["no result written"]
                continue
            with open(path) as fh:
                lines = fh.read().splitlines()
            p = fn(lines, expected[name.lower()])
            if p:
                bad[name] = p
        return bad
    con = checks.oracle_connection(tables)
    names = sorted({o["name"] for o in jvm["ops"]})
    for name in names:
        sql = jvm["oracles"].get(name)
        if sql is None:
            continue  # no oracle: held to identical digests on every op
        p = checks.check_oracle(con, os.path.join(results, name), sql)
        if p:
            bad[name] = p
    return bad


def op_ok(op, warm_digest, bad_names):
    return (not op["error"] and op["caps_fired"] == 0 and op["name"] not in bad_names
            and op["digest"] == warm_digest.get(op["name"]))


def end_to_end(jvm, timed, name_bytes, store_bytes):
    walls = [o["wall_s"] for o in timed]
    by_name = {}
    for o in timed:
        by_name.setdefault(o["name"], []).append(o["wall_s"])
    # the closed loop's rate over a typical round (every name once, each
    # at its own median), which one slow op cannot move much
    k = len(by_name)
    round_s = sum(stats.median(v) for v in by_name.values())
    round_bytes = sum(name_bytes.get(n, 0) for n in by_name)
    return {
        "setup_s": (stats.median([s["setup_s"] for s in jvm["setups"]]), "s"),
        "query_p50_s": (stats.median(walls), "s"),
        "query_p90_s": (stats.quantile(walls, 0.9), "s"),
        "query_geomean_s": (stats.geomean_of_medians(by_name), "s"),
        "throughput_qps": (k / round_s, "1/s"),
        "input_mb_per_s": (round_bytes / MB / round_s, "MB/s"),
        "live_heap_mb": (jvm["live_heap_mb"], "MB"),
        "warehouse_mb": (store_bytes / MB, "MB"),
    }


def per_layer(jvm, traced, untraced):
    n = len(traced)
    c = jvm["counters"]["timed"]
    exec_s = sum(o["exec_s"] for o in traced)

    def mean(key):
        return sum(o[key] for o in traced) / n

    def med_by_name(ops):
        d = {}
        for o in ops:
            d.setdefault(o["name"], []).append(o["wall_s"])
        return {k: stats.median(v) for k, v in d.items()}

    mt, mu = med_by_name(traced), med_by_name(untraced)
    m = {
        "sessions.start_s": (stats.median([s["session_s"] for s in jvm["setups"]]), "s"),
        "operators.artifact_s.bucketed_lineitem_orders": (
            jvm["artifacts"].get("bucketed_lineitem_orders", 0.0), "s"),
        "operators.artifact_failures": (len(jvm["artifact_failures"]), "count"),
        "sources.csv_split_ns_per_line": (jvm["direct"]["sources.csv_split_ns_per_line"], "ns"),
        "sources.scan_mb": (c["bytes_read"] / MB / n, "MB"),
        "sources.rows_examined_per_row_out": (
            c["records_read"] / max(1, sum(o["rows"] for o in traced)), "ratio"),
        "operators.build_s": (mean("build_s"), "s"),
        "operators.eager_jobs": (c["eager_jobs"] / n, "count"),
        "catalyst.plan_s": (mean("plan_s"), "s"),
        "catalyst.exchanges": (mean("exchanges"), "count"),
        "catalyst.broadcasts": (mean("broadcasts"), "count"),
        "catalyst.file_scans": (mean("file_scans"), "count"),
        "exec.run_s": (exec_s / n, "s"),
        "exec.jobs": (c["jobs"] / n, "count"),
        "exec.stages": (c["stages"] / n, "count"),
        "exec.tasks": (c["tasks"] / n, "count"),
        "exec.task_run_s": (c["task_run_ms"] / 1e3 / n, "s"),
        "exec.task_busy_share": (c["task_run_ms"] / 1e3 / (exec_s * jvm["cpus"]), "ratio"),
        "exec.stage_wait_s": (c["stage_wait_ms"] / 1e3 / n, "s"),
        "exec.shuffle_write_mb": (c["shuffle_write"] / MB / n, "MB"),
        "exec.shuffle_read_mb": (c["shuffle_read"] / MB / n, "MB"),
        "exec.spill_mb": (c["spill"] / MB / n, "MB"),
        "functions.decode_mb_per_s": (jvm["direct"]["functions.decode_mb_per_s"], "MB/s"),
        "streaming.batches": (jvm["streaming"]["batches"], "count"),
        "streaming.batch_s": (jvm["streaming"]["batch_s"], "s"),
        "jvm.gc_s": (mean("gc_s"), "s"),
        "trace.overhead_frac": (
            stats.geomean([mt[k] / mu[k] for k in mt]) - 1.0, "ratio"),
    }
    return m


def main():
    # a terminated run still stops and waits for its child processes:
    # subprocess.run kills its child when the wait is interrupted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25.0,
                    help="measured time the op count is sized for")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    cfg = WORKLOADS[a.workload]
    reps = max(2, round(a.seconds * cfg["rounds_per_s"]))
    classpath, built = build()
    # a run ends within 180 s of its start, or of the build's end
    deadline = (time.time() if built else started) + 165.0

    cpus = max(1, min(MAX_CPUS, os.cpu_count() or 1))
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        inp, expected, tables, csv_sample = generate(a.workload, a.seed, work, a.trace)
        gen_s = time.time() - t0
        args = ["--workload", a.workload, "--input", inp, "--work", work,
                "--seed", str(a.seed), "--reps", str(reps),
                "--setups", str(cfg["setups"]), "--cpus", str(cpus),
                "--trace", str(a.trace)]
        if tables:
            args += ["--tables", tables]
        if csv_sample:
            args += ["--csv-sample", csv_sample]
        load_before, ticks_before = os.getloadavg(), cpu_ticks()
        t0 = time.time()
        cmd = run_jvm(classpath, args, work, cfg["heap"], cpus, deadline)
        jvm_s = time.time() - t0
        load_after, ticks_after = os.getloadavg(), cpu_ticks()
        busy = ticks_after[0] - ticks_before[0]
        steal_share = (ticks_after[1] - ticks_before[1]) / busy if busy else 0.0
        with open(os.path.join(work, "jvm.json")) as fh:
            jvm = json.load(fh)
        wh = os.path.join(work, "wh")
        t0 = time.time()
        bad = check_results(a.workload, jvm, work, expected, tables)
        check_s = time.time() - t0
        warm = {o["name"]: o["digest"] for o in jvm["ops"]
                if o["pass"] == "warm" and not o["error"]}
        timed = [o for o in jvm["ops"] if o["pass"] == "timed" and not o["traced"]]
        traced = [o for o in jvm["ops"] if o["pass"] == "timed" and o["traced"]]
        # a memoized artifact missing after its build counts as a failed op
        failed = sum(1 for o in timed if not op_ok(o, warm, bad)) + len(jvm["artifact_failures"])
        attempted = len(timed) + len(jvm["artifact_failures"])
        for name, problems in sorted(bad.items()):
            log(f"check failed: {name}: {'; '.join(problems[:3])}")
        for t in jvm["artifact_failures"]:
            log(f"artifact missing after its build: {t}")
        for o in jvm["ops"]:
            if o["error"]:
                log(f"op failed: {o['id']} {o['name']}: {o['error']}")
        # settings and host state of this run, to diagnose drift
        print(json.dumps({
            "host": {"nproc": os.cpu_count(), "loadavg_before": load_before,
                     "loadavg_after": load_after, "steal_share": round(steal_share, 4),
                     "python": platform.python_version()},
            "jvm": {"heap": cfg["heap"], "gc_threads": cpus,
                    "args": jvm["jvm_args"], "spark": jvm["spark_conf"]},
            "steadiness": {
                "op_count": "fixed: rounds x names, not a duration",
                "rounds": reps, "warm_pass": "every name once, untimed",
                "measured_jvm": "separate from sbt's, -Xms = -Xmx",
                "local_slots_and_gc_threads": cpus, "load_threads": 1,
                "setups_per_run": cfg["setups"],
                "forced_gc_before_each_round": True},
            "input_generation_s": round(gen_s, 3), "jvm_s": round(jvm_s, 3),
            "check_s": round(check_s, 3),
            "jvm_phases_s": {k: round(jvm[f"{k}_s"], 3) for k in (
                "jvm_start", "setup_wall", "warm_wall", "timed_wall", "after_timed")},
            "timed_ops": len(timed), "p90_sample_count": len(timed),
            "names": sorted({o["name"] for o in timed}),
            "failed_checks": sorted(bad),
            "artifact_failures": jvm["artifact_failures"],
        }))
        if a.trace:
            metrics = per_layer(jvm, traced, timed)
            spans = os.path.join(HERE, ".work", "traces", f"{a.workload}-{a.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copyfile(jvm["spans"], spans)
            log(f"spans: {spans}")
        else:
            name_bytes, in_bytes = input_bytes(jvm, wh)
            metrics = end_to_end(jvm, timed, name_bytes, in_bytes + dir_bytes(wh))
            metrics["success_rate"] = ((attempted - failed) / attempted, "ratio")
        result = {
            "correct": failed == 0 and not bad,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        log(f"cmd: {' '.join(cmd[:3])} ... ({len(cmd)} args)")
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Repository benchmark: the reference's topologies as running streams,
plus a registry batch sweep.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.sh)
into $CARGO_TARGET_DIR (default .bench_build), generates the seeded input
tables (perfbench/gen.py), runs one workload in one JVM, checks its
outputs, and prints as the last stdout line one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("geo-stream", "registry-batch")
JVM_TIMEOUT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src/main"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (os.path.join(BENCH, "build.sh"), os.path.join(ROOT, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Builds into <build_dir>/classes unless the sources are unchanged;
    returns the class directory and the sources digest."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no program sources under src/main/scala/graft")
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    digest = sources_digest()
    if (os.path.exists(stamp) and open(stamp).read() == digest
            and os.path.exists(classes + ".jars")):
        return classes, digest
    log("building program and benchmark")
    t0 = time.time()
    # build.sh runs the compiler as a child of bash: a process group of its
    # own lets a terminated run stop both
    proc = subprocess.Popen(["bash", os.path.join(BENCH, "build.sh"), classes],
                            cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        if proc.wait() != 0:
            raise SystemExit(f"perfbench: build failed (exit {proc.returncode})")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return classes, digest


def tables(build_dir, seed):
    gen = os.path.join(BENCH, "gen.py")
    with open(gen, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(build_dir, "data", version, f"seed{seed}")
    if not os.path.isdir(out):
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), out, str(seed)],
                       check=True)
    return out


def run_jvm(classes, args, build_dir, data, work, cpus):
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(classes + ".jars") as fh:
        jars = fh.read().strip()
    # The heap starts small and grows as the run needs it, so peak_rss_mb
    # follows the memory the program uses. Without the adaptive size policy
    # the parallel collector grows the heap when too little of it is free
    # after a collection, not on measured pause times, so the peak repeats
    # across runs (on a 4-core host G1 gave it run-to-run spreads of
    # 0.15-0.28, this collector 0.04-0.07).
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-Xss16m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(build_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Main", args.workload,
              str(args.seed), str(args.seconds), str(args.trace), data, work,
              str(cpus), str(int(time.time() * 1000))])
    logf = os.path.join(build_dir, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    os.makedirs(os.path.dirname(logf), exist_ok=True)
    with open(logf, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            out = ""
            log(f"workload JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(logf) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"perfbench: workload JVM failed (exit {proc.returncode}), log {logf}")
    return json.loads(lines[-1])


def oracle_check(check_dir, data):
    """Runs tools/check.py on the registry outputs; returns (checked, failed)."""
    res = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                          check_dir, data, "--strict"],
                         capture_output=True, text=True, timeout=120)
    rows = [l for l in res.stdout.splitlines() if l.startswith(("PASS ", "FAIL "))]
    for l in rows:
        if l.startswith("FAIL "):
            log(f"oracle check: {l}")
    if not rows:
        sys.stderr.write(res.stdout[-2000:] + res.stderr[-2000:])
        return 1, 1
    return len(rows), sum(1 for l in rows if l.startswith("FAIL "))


def update_json(path, f):
    """Applies f to the JSON object stored at path (or {}) and stores the
    result atomically; returns what f returns."""
    doc = {}
    if os.path.exists(path):
        with open(path) as fh:
            doc = json.load(fh)
    out = f(doc)
    with open(path + ".tmp", "w") as fh:
        json.dump(doc, fh)
    os.replace(path + ".tmp", path)
    return out


def counts_repeat(records, workload, seed, counts):
    """Records this run's deterministic counters under its seed. Returns 1
    while every run of this build and workload has reproduced the counters
    of the earlier runs with the same seed, else 0."""
    def step(doc):
        seeds = doc.setdefault("seeds", {})
        prev = seeds.setdefault(str(seed), counts)
        if prev != counts:
            log(f"deterministic counters moved for seed {seed}: {prev} -> {counts}")
            doc["moved"] = True
        return 0.0 if doc.get("moved") else 1.0
    return update_json(os.path.join(records, f"counts-{workload}.json"), step)


def tracing_overhead(records, workload, seed, sweep_s, traced):
    """Untraced runs record their sweep_s; a traced run divides its own
    sweep_s by that of the untraced run of the same seed, or by the median
    over the recorded seeds. 0 while no untraced run of this build is
    recorded."""
    def step(doc):
        if not traced:
            doc[str(seed)] = sweep_s
            return None
        base = doc.get(str(seed)) or (statistics.median(doc.values()) if doc else 0.0)
        return sweep_s / base if base else 0.0
    return update_json(os.path.join(records, f"sweep-{workload}.json"), step)


def main():
    # a terminated run still stops its JVM (the finally clauses below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes, digest = build(build_dir)
    records = os.path.join(build_dir, "records", digest[:16])
    os.makedirs(records, exist_ok=True)
    data = tables(build_dir, args.seed)
    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    try:
        res = run_jvm(classes, args, build_dir, data, work, cpus)
        attempted, failed = res["attempted"], res["failed"]
        if res["check_dir"]:
            n, bad = oracle_check(res["check_dir"], data)
            attempted += n
            failed += bad
        if args.trace:
            spans = os.path.join(work, "spans.json")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(build_dir, "logs",
                                                f"spans-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    got = res["metrics"]
    got["ok_ratio"] = [1.0 - failed / max(attempted, 1), "ratio"]
    got["bench.counts_repeat"] = [
        counts_repeat(records, args.workload, args.seed, res["counts"]), "bool"]
    ratio = tracing_overhead(records, args.workload, args.seed, got["sweep_s"][0], args.trace)
    if args.trace:
        got["bench.tracing_overhead_ratio"] = [ratio, "ratio"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": got.get(m["name"], [0.0])[0], "unit": m["unit"]}
               for m in wanted}
    extra = sorted(set(got) - {m["name"] for m in spec["per_layer"] + spec["end_to_end"]})
    if extra:
        log(f"metrics not in BENCHMARK.json: {extra}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

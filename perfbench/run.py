#!/usr/bin/env python3
"""graft benchmark: one command, seeded workloads, end-to-end and per-layer
metrics.

    python3 perfbench/run.py --workload serve_cached --seed 1 --seconds 10 --trace 0

Run from the repository root.  The first run builds the program and the
benchmark (sbt, offline) into the checkout; later runs reuse the build while
the sources are unchanged.  Inputs are generated from --seed by
perfbench/gen.py, the measurement runs in one JVM (graft.perfbench.Main),
and the last line of stdout is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics.
The line before it carries the details (checks, sizes, session posture).
See perfbench/README.md.
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

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

# input sizes per workload (see README.md for why these sizes)
CORPUS_FILES = {"serve_cached": 300, "serve_append": 300, "index_build": 300}
# The serve workloads serve one base corpus, generated from this fixed seed
# and indexed once per checkout and source state; --seed drives their
# request stream and append batches.
BASE_CORPUS_SEED = 1017
REQUESTS = 6000
APPEND_BATCHES = 40
APPEND_FILES = 3
# the traced index_build run's one write cycle: batches appended, then
# compacted
CYCLE_BATCHES = 2
HEAP = "2g"
JVM_TIMEOUT_S = 170       # a run ends within 180 s ...
FIRST_RUN_TIMEOUT_S = 800  # ... except one that also builds the base artifact
BUILD_TIMEOUT_S = 600

END_TO_END = ["setup_s", "startup_ms", "op_p50_ms", "op_p75_ms", "ops_per_s",
              "rss_peak_mb"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


PROGRAM_SOURCES = ("build.sbt", "project", "src/main")
BENCH_SOURCES = ("perfbench/build.sbt", "perfbench/project", "perfbench/src")
# what the base artifact of the serve workloads is made from, besides the
# program: its corpus generator and its index options (ServeWorkload.BaseOpts,
# Dim)
BASE_SOURCES = ("perfbench/gen.py",
                "perfbench/src/main/scala/graft/perfbench/ServeWorkload.scala")


def source_files(roots):
    out = []
    for rel in roots:
        p = os.path.join(ROOT, rel)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return out


def source_hash(roots=PROGRAM_SOURCES + BENCH_SOURCES):
    h = hashlib.sha256()
    for p in source_files(roots):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def classpath_file():
    return os.path.join(HERE, "target", "classpath.txt")


def build(stamp):
    """Compile the program and the benchmark with sbt unless the build of
    these exact sources is already in the checkout.  Returns seconds spent."""
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(classpath_file()) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return 0.0
    t = time.time()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's temporary files and its (unused) server socket stay in the checkout
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       f" -Dsbt.offline=true -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp}"
                       " -Xmx2g")
    log("building program and benchmark (sbt) ...")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(classpath_file()):
        raise SystemExit(f"[perfbench] build failed (rc={rc}); see {BUILD}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return time.time() - t


def commit():
    """HEAD of the repository this checkout is, or None outside git."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return None
    if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
        return out[1]
    return None


def generate(workload, seed, work, base, trace):
    """Write the run's inputs under `work`; returns (meta, seconds)."""
    import gen
    t = time.time()
    corpus_dir = os.path.join(work, "corpus")
    if workload.startswith("serve_"):
        # the base artifact is reused; its corpus is only generated to build it
        # (a traced run builds it too, stage by stage)
        if not os.path.exists(base + ".done") or not os.path.exists(base + ".json") \
                or trace:
            stats, pairs = gen.corpus(BASE_CORPUS_SEED, corpus_dir, CORPUS_FILES[workload])
            with open(base + ".json", "w") as f:
                json.dump({"stats": stats, "pairs": pairs}, f)
        with open(base + ".json") as f:
            b = json.load(f)
        stats, pairs = b["stats"], [tuple(p) for p in b["pairs"]]
    else:
        stats, pairs = gen.corpus(seed, corpus_dir, CORPUS_FILES[workload])
    reqs, mix = gen.requests(seed, REQUESTS, pairs)
    gen.write_jsonl(os.path.join(work, "requests.jsonl"), reqs)
    appends, append_bytes = [], 0
    batches = APPEND_BATCHES if workload == "serve_append" else \
        CYCLE_BATCHES if workload == "index_build" and trace else 0
    if batches:
        appends, append_bytes = gen.append_batches(
            seed, os.path.join(work, "appends"), batches, APPEND_FILES)
    meta = {"seed": seed, "corpus": stats, "requests": len(reqs), "mode_mix": mix,
            "appends": appends, "append_bytes": append_bytes}
    with open(os.path.join(work, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta, time.time() - t


def java_cmd(args, work):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    with open(classpath_file()) as f:
        cp = f.read().strip()
    return ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=256m",
            "-Dspark.ui.enabled=false", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "graft.perfbench.Main", *args]


def run_jvm(cmd, log_path, timeout):
    """Run the JVM in its own process group; kill the group on timeout or
    when this process is told to stop, and wait for it either way."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CORPUS_FILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft sources under {ROOT} (build.sbt, src/main/scala/graft)")
        return 2

    stamp = source_hash()
    build_s = build(stamp)
    t_start = T0 + build_s  # process start, less the one-time build

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the base artifact depends on the program, the corpus and the index
    # options, not on the rest of the benchmark's code
    base = os.path.join(BUILD, "base", f"{source_hash(PROGRAM_SOURCES + BASE_SOURCES)}-"
                        f"{BASE_CORPUS_SEED}-{CORPUS_FILES['serve_cached']}")
    os.makedirs(os.path.dirname(base), exist_ok=True)
    try:
        meta, gen_s = generate(a.workload, a.seed, work, base, a.trace)
        out = os.path.join(work, "result.json")
        cmd = java_cmd(["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--work", work, "--base", base, "--out", out], work)
        t_jvm = time.time()
        limit = JVM_TIMEOUT_S if os.path.exists(base + ".done") or \
            not a.workload.startswith("serve_") else FIRST_RUN_TIMEOUT_S
        rc = run_jvm(cmd, os.path.join(work, "jvm.log"),
                     max(30.0, limit - (time.time() - t_start)))
        keep = os.path.join(BUILD, f"last-{a.workload}.log")
        shutil.copy(os.path.join(work, "jvm.log"), keep)
        if rc != 0 or not os.path.exists(out):
            log(f"benchmark JVM failed (rc={rc}); log kept at {keep}")
            return 3
        with open(out) as f:
            res = json.load(f)
        if a.trace:
            kept = os.path.join(BUILD, "traces")
            os.makedirs(kept, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(kept, f"{a.workload}-{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if not a.trace:
        # set-up counts from process start: input generation, JVM and session
        # start, then the workload's own set-up (median of its repetitions)
        pre = (t_jvm - t_start) + res["posture"]["jvm_start_s"] \
            + res["posture"]["session_start_s"]
        metrics["setup_s"]["value"] = pre + metrics["setup_s"]["value"]
        missing = [m for m in END_TO_END if m not in metrics]
        if missing:
            raise SystemExit(f"[perfbench] missing metrics {missing}")
    checks_ok = all(c["ok"] for c in res["checks"])
    correct = checks_ok and res["failed"] == 0
    details = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               "trace": a.trace, "commit": commit(), "source_hash": stamp,
               "build_s": round(build_s, 3), "gen_s": round(gen_s, 3),
               "failed_frac": res["failed"] / max(1, res["attempted"]),
               "inputs": {k: v for k, v in meta.items() if k != "appends"},
               "posture": res["posture"], "details": res["details"],
               "checks_failed": [c for c in res["checks"] if not c["ok"]],
               "checks": len(res["checks"])}
    print(json.dumps(details))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

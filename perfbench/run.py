#!/usr/bin/env python3
"""graft benchmark: one command that builds the program, runs a workload
against graft's public API, checks the outputs and prints one JSON line.

    python3 perfbench/run.py --workload replay|tail|corpus --seed N \
        --seconds S --trace 0|1

Run it from the repository root. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer ones (see README.md). The program is compiled
from `src/main/scala` with the Scala compiler shipped in Spark's jars
directory (`$SPARK_HOME/jars`, else the one beside `spark-submit`), into
`$CARGO_TARGET_DIR` (default `.bench_build`); inputs, outputs and traces
go to `.bench_work/<workload>`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import workloads as wl

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
WORK = ROOT / ".bench_work"
# task threads: the host's cores, at most four, so every host runs the
# same plan widths; PERFBENCH_CORES=1 gives the single-thread baseline
CORES = int(os.environ.get("PERFBENCH_CORES", min(4, len(os.sched_getaffinity(0)))))
HEAP = "3g"
JVM_TIMEOUT_S = 150

REPLAY_LINES = 40000
CORPUS_DOCS = 2000
TAIL_RATE_FILES = 10      # files per second, open loop
TAIL_PER_FILE = 50        # messages per file
TAIL_WARM_S = 8           # untimed lead-in, in seconds of schedule
TAIL_BACKLOG_S = 10       # the backlog bound, in seconds of offered input

END_TO_END = [("items_per_s", "1/s"), ("cpu_us_per_item", "us"), ("setup_s", "s"),
              ("retained_mb", "MB"), ("latency_p50_ms", "ms")]
OPS = ["exact", "neardup", "clusters", "bm25"]
PER_LAYER = (
    [("rainerscript.parse_ms", "ms"), ("rainerscript.activate_ms", "ms"),
     ("rainerscript.plan_nodes", "count"), ("rainerscript.ruleset_cpu_us_per_item", "us"),
     ("sources.scan_cpu_us_per_item", "us"), ("sources.decode_cpu_us_per_item", "us"),
     ("sources.sink_cpu_us_per_item", "us"), ("sources.input_bytes_per_item", "B"),
     ("sources.output_bytes_per_item", "B"), ("sources.jobs_per_pass", "count"),
     ("templates.render_cpu_us_per_item", "us")]
    + [(f"operators.{o}_{m}", u) for o in OPS
       for m, u in (("ms", "ms"), ("task_cpu_ms", "ms"), ("shuffle_bytes", "B"),
                    ("tasks", "count"))]
    + [("operators.neardup_candidate_pairs", "count"),
       ("operators.neardup_verified_pairs", "count"),
       ("operators.neardup_recall", "ratio"), ("operators.clusters_jobs", "count"),
       ("streaming.trigger_ms_p50", "ms"), ("streaming.planning_ms_p50", "ms"),
       ("streaming.offsets_ms_p50", "ms"), ("streaming.addbatch_ms_p50", "ms"),
       ("streaming.commit_ms_p50", "ms"), ("streaming.state_commit_ms_p50", "ms"),
       ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
       ("streaming.rows_per_batch_p50", "count"), ("streaming.generator_late_ms_p90", "ms"),
       ("streaming.latency_p90_ms", "ms"),
       ("spark.task_cpu_us_per_item", "us"), ("spark.non_task_cpu_us_per_item", "us"),
       ("spark.gc_ms_per_pass", "ms"), ("spark.jobs_per_pass", "count"),
       ("spark.shuffle_write_bytes_per_item", "B"), ("spark.shuffle_read_bytes_per_item", "B"),
       ("spark.spill_bytes", "B"), ("spark.tasks_per_pass", "count")])

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the one beside a
    spark-submit on PATH; it must hold the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if Path(d, "spark-submit").is_file()]
    for h in homes:
        if h and any(Path(h, "jars").glob("scala-compiler-*.jar")):
            return Path(h, "jars")
    fail("no Spark jars directory with a Scala compiler; set SPARK_HOME")


def scalac(out, jars, classpath, sources, stamp):
    """Compile `sources` into `out` unless `stamp` says it already holds them."""
    stamp_file = out.with_suffix(".stamp")
    if out.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    compiler = [str(j) for n in ("scala-compiler", "scala-library", "scala-reflect")
                for j in sorted(jars.glob(f"{n}-*.jar"))]
    tmp = out.with_suffix(".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = out.with_suffix(".args")
    args.write_text("\n".join(str(s) for s in sources) + "\n", encoding="utf-8")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
                        "-d", str(tmp), "-cp", classpath, f"@{args}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"compiling into {out.name} failed:\n{r.stdout[-4000:]}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)


def build():
    """Class directories of the program and of the benchmark's harness."""
    src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not src:
        fail(f"no program sources under {ROOT / 'src/main/scala'}")
    harness = sorted((BENCH / "scala").glob("*.scala"))
    jars_dir = spark_jars()
    jars = str(jars_dir / "*")
    BUILD.mkdir(parents=True, exist_ok=True)
    prog, tool = BUILD / "program", BUILD / "harness"
    program_stamp = digest(src)
    scalac(prog, jars_dir, jars, src, program_stamp)
    scalac(tool, jars_dir, f"{prog}:{jars}", harness, digest(harness, program_stamp))
    return f"{tool}:{prog}:{jars}"


# ---------------------------------------------------------------- JVM

def jvm_command(classpath, work, workload, items, seconds, trace):
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Dspark.hadoop.hadoop.tmp.dir={work / 'hadoop-tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *ADD_OPENS, "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--work", str(work), "--items", str(items),
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(CORES)]


def jvm_env():
    # no setting of the caller's reaches the session; shuffle partitions
    # follow GraftSession's documented sizing rule (one per task thread on
    # a local host), since streaming runs without AQE to coalesce them
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(CORES)
    return env


def start_jvm(cmd, work, stdin):
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = open(work / "jvm.log", "w", encoding="utf-8")
    return subprocess.Popen(cmd, stdin=stdin, stdout=subprocess.PIPE, stderr=log,
                            env=jvm_env(), text=True, encoding="utf-8"), log


def finish_jvm(proc, log, deadline):
    try:
        rest = proc.communicate(timeout=max(1.0, deadline - time.time()))[0]
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("the JVM ran past its time limit")
    finally:
        log.close()
    if proc.returncode != 0:
        fail(f"the JVM failed (exit {proc.returncode}); see {log.name}")
    return rest


def pct(xs, p):
    s = sorted(xs)
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# ---------------------------------------------------------------- workloads

def run_closed(workload, args, classpath, work):
    if workload == "replay":
        expected = wl.gen_replay(work, args.seed, REPLAY_LINES)
        items = REPLAY_LINES
    else:
        meta = wl.gen_corpus(work, args.seed, CORPUS_DOCS)
        items = CORPUS_DOCS
    cmd = jvm_command(classpath, work, workload, items, args.seconds, args.trace)
    proc, log = start_jvm(cmd, work, subprocess.DEVNULL)
    finish_jvm(proc, log, time.time() + JVM_TIMEOUT_S)
    metrics = json.loads((work / "metrics.json").read_text(encoding="utf-8"))
    if workload == "replay":
        return metrics, wl.check_replay(work, expected)
    checks, recall = wl.check_corpus(work, meta)
    metrics["operators.neardup_recall"] = recall
    return metrics, checks


def run_tail(args, classpath, work):
    warm = TAIL_WARM_S * TAIL_RATE_FILES
    n_files = warm + int(round(args.seconds * TAIL_RATE_FILES))
    files, meta = wl.gen_tail(work, args.seed, n_files, TAIL_PER_FILE)
    total = n_files * TAIL_PER_FILE
    stage, indir = work / "stage", work / "in"
    stage.mkdir(parents=True)
    indir.mkdir(parents=True)
    cmd = jvm_command(classpath, work, "tail", total, args.seconds, args.trace)
    proc, log = start_jvm(cmd, work, subprocess.PIPE)
    deadline = time.time() + JVM_TIMEOUT_S
    due, wrote = [], []
    try:
        ready = []
        reader = threading.Thread(target=lambda: ready.append(proc.stdout.readline()))
        reader.start()
        reader.join(timeout=90)
        if not ready or ready[0].strip() != "READY":
            raise RuntimeError(f"the stream did not start; see {log.name}")

        def send(line):
            proc.stdin.write(line + "\n")
            proc.stdin.flush()

        # open loop: file k is due at t0 + k / rate whatever the stream does
        t0 = time.time() + 0.5
        for k, content in enumerate(files):
            d = t0 + k / TAIL_RATE_FILES
            if k == warm:
                time.sleep(max(0.0, d - time.time()))
                send(f"MARK {(n_files - warm) * TAIL_PER_FILE}")
            time.sleep(max(0.0, d - time.time()))
            name = f"f{k:05d}.log"
            (stage / name).write_text(content, encoding="utf-8")
            os.rename(stage / name, indir / name)
            due.append(d * 1000.0)
            wrote.append(time.time() * 1000.0)
        send(f"END {total}")
    except (OSError, RuntimeError) as e:
        proc.kill()
        proc.wait()
        log.close()
        fail(str(e))
    finish_jvm(proc, log, deadline)

    metrics = json.loads((work / "metrics.json").read_text(encoding="utf-8"))
    progress = json.loads((work / "progress.json").read_text(encoding="utf-8"))
    commit = {p["batch"]: p["start_ms"] + p["trigger_ms"] for p in progress}
    batch_of = wl.file_batches(work / "ck" / "messages")
    commits = [commit.get(batch_of.get(f"f{k:05d}.log"), float("inf"))
               for k in range(n_files)]
    lat = [commits[k] - due[k] for k in range(warm, n_files)]
    if any(x == float("inf") for x in lat):
        fail("a timed file has no committed micro-batch")
    backlog = TAIL_PER_FILE * sum(1 for c in commits if c > due[-1])
    metrics["latency_p50_ms"] = statistics.median(lat)
    metrics["streaming.latency_p90_ms"] = pct(lat, 0.9)
    metrics["items_per_s"] = (n_files - warm) * TAIL_PER_FILE / (
        (max(commits[warm:]) - due[warm]) / 1000.0)
    metrics["streaming.generator_late_ms_p90"] = pct(
        [w - d for w, d in zip(wrote, due)], 0.9)
    checks = wl.check_tail(work, meta, backlog,
                           TAIL_BACKLOG_S * TAIL_RATE_FILES * TAIL_PER_FILE)
    return metrics, checks


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["replay", "tail", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build()
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    if args.workload == "tail":
        metrics, checks = run_tail(args, classpath, work)
    else:
        metrics, checks = run_closed(args.workload, args, classpath, work)
    (work / "checks.json").write_text(json.dumps(checks, indent=1, ensure_ascii=False),
                                      encoding="utf-8")
    (work / "all_metrics.json").write_text(json.dumps(metrics, indent=1), encoding="utf-8")
    failed = [c for c in checks if not c["ok"]]
    for c in failed:
        print(f"perfbench: check {c['check']} failed: {c['detail']}", file=sys.stderr)
    # the byte-exact write checks of replay fail on a known program fault
    # (a second LF after every record); every other check must pass
    correct = all(c["check"].startswith("write:") for c in failed)
    names = PER_LAYER if args.trace else END_TO_END
    result = {"correct": correct, "attempted": len(checks), "failed": len(failed),
              "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u}
                          for n, u in names}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()

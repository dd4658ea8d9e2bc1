#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, every result checked.

    python3 perfbench/run.py --workload {tpch,curation,ingest} --seed N \\
        --seconds S --trace {0,1} [--corpus {bench,tiny}] [--expected FILE] [--record]

Run from the repository root. Builds the engine and the benchmark from source
(perfbench/build.py), writes the seeded corpus once, then runs one JVM: a
single client in a closed loop over the workload's catalog operations (see
perfbench/README.md). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. The full result,
with the host it ran on, is kept under .bench_build/perfbench/out/.

--corpus tiny and --expected exist for the benchmark's own tests; --record
rewrites the corpus's entries of expected.json from this run's outputs.
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
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import layers  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
OUT = build.OUT
EXPECTED = BENCH / "expected.json"
WORKLOADS = ("tpch", "curation", "ingest")
# A run must end within 180 s; past this the JVM is stopped and the run fails.
JVM_TIMEOUT_S = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb():
    """-Xms = -Xmx: a quarter of the host's memory, 2 to 4 GB."""
    return max(2, min(4, mem_total_kb() // (4 * 1024 * 1024)))


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def git_commit():
    """HEAD of the checkout, or None when it is not a git repository."""
    if not (ROOT / ".git").exists():
        return None
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def java(classes, main, args, log, timeout):
    """Run a JVM main to completion in its own process group."""
    tmp = OUT / "work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    heap = f"{heap_gb()}g"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{classes}:{build.spark_classpath()}", main, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=ROOT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def corpus_dir(classes, name):
    """The seeded corpus, written once per generator version."""
    gen = b"".join((BENCH / "src" / "perfbench" / f).read_bytes()
                   for f in ("Corpus.scala", "Generate.scala"))
    d = OUT / "corpus" / f"{name}-{hashlib.sha256(gen).hexdigest()[:12]}"
    if not d.exists():
        for stale in d.parent.glob(f"{name}-*"):
            shutil.rmtree(stale)
        d.parent.mkdir(parents=True, exist_ok=True)
        print(f"[perfbench] writing corpus {name}", file=sys.stderr, flush=True)
        rc = java(classes, "perfbench.Generate", [name, str(d)], OUT / "generate.log", 600)
        if rc != 0 or not d.exists():
            raise RuntimeError(f"corpus generation failed (see {OUT / 'generate.log'})")
    return d


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--corpus", default="bench", choices=("bench", "tiny"))
    ap.add_argument("--expected", type=Path, default=EXPECTED)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    load_before = loadavg()
    steal0, total0 = cpu_jiffies()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    try:
        corpus = corpus_dir(classes, a.corpus)
    except RuntimeError as e:
        fail(str(e))

    work = OUT / "work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (OUT / "out").mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-{a.corpus}-seed{a.seed}-trace{a.trace}"
    raw = work / "result.json"
    # set-up is timed from here: the benchmark JVM's launch.
    launch_ms = int(time.time() * 1000)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--corpus", str(corpus), "--work", str(work),
            "--out", str(raw), "--launch-ms", str(launch_ms)]
    if not a.record:
        expected = json.loads(a.expected.read_text())[a.corpus]
        tsv = work / "expected.tsv"
        tsv.write_text("".join(f"{k}\t{v['rows']}\t{v['digest']}\n" for k, v in expected.items()))
        args += ["--expected", str(tsv)]

    log = OUT / "out" / f"{tag}.log"
    rc = java(classes, "perfbench.Main", args, log, JVM_TIMEOUT_S)
    shutil.rmtree(work / "tmp", ignore_errors=True)
    if rc != 0 or not raw.exists():
        tail = log.read_text(errors="replace").splitlines()[-20:] if log.exists() else []
        fail(f"JVM {'timed out' if rc is None else f'exited with {rc}'}; log {log}:\n"
             + "\n".join(tail))
    res = json.loads(raw.read_text())

    attempted, failed, failures = layers.failures(res)
    if a.record:
        record(a.expected, a.corpus, res)
    correct = not failures
    # The final line carries exactly the metrics BENCHMARK.json names; the
    # result file keeps every metric.
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.trace == "1":
        metrics = layers.per_layer(res)
        reported = [m["name"] for m in spec["per_layer"]]
    else:
        metrics = layers.end_to_end(res)
        reported = [m["name"] for m in spec["end_to_end"]]
    steal1, total1 = cpu_jiffies()
    res["host"] = {
        "nproc": os.cpu_count(), "mem_total_kb": mem_total_kb(),
        "machine": platform.machine(), "kernel": platform.release(),
        "java": res["java_version"], "spark": res["spark_version"],
        "git_commit": git_commit(), "build": classes.name,
        "heap": f"-Xms{heap_gb()}g -Xmx{heap_gb()}g",
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        # Share of CPU time the hypervisor gave to other guests during the run.
        "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
    }
    res["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    res["failures"] = [{"id": o["id"], "name": o["name"], "error": o["error"]} for o in failures]
    artifact = OUT / "out" / f"{tag}.json"
    artifact.write_text(json.dumps(res))

    for o in failures:
        print(f"FAILED {o['name']} (op {o['id']}): {o['error']}")
    print(f"workload={a.workload} seed={a.seed} passes={len(res['passes'])} "
          f"ops={attempted} failed={failed} result={artifact}")
    for k, (v, u) in metrics.items():
        print(f"{k:<26} {v:14.6f} {u}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: res["metrics"][k] for k in reported}}))


def record(path, corpus, res):
    """Store every catalog operation's rows and digest as the expectation."""
    seen = {}
    for o in layers.all_ops(res):
        if o["name"] == layers.ETL:
            continue
        prev = seen.setdefault(o["name"], (o["rows"], o["digest"]))
        if prev != (o["rows"], o["digest"]) or o["error"]:
            fail(f"{o['name']} is not deterministic or failed: {prev} vs {o}")
    data = json.loads(path.read_text()) if path.exists() else {}
    entries = data.setdefault(corpus, {})
    entries.update({k: {"rows": r, "digest": d} for k, (r, d) in seen.items()})
    data[corpus] = dict(sorted(entries.items()))
    path.write_text(json.dumps(data, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()

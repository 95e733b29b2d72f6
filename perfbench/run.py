#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload ingest|orderbook --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark's JVM harness (perfbench/harness) with sbt; later runs reuse the
build while the sources are unchanged. Every run:

  1. starts the seeded load generator (gen.py) as a WebSocket server;
  2. starts the engine's streaming job (harness) against it, setting the
     session and stream up several times (setup_s is their median);
  3. sends a fixed-rate phase (warm-up, then S measured seconds) and then a
     burst at the generator's top speed;
  4. reads the checkpoint and the sink's files, checks every output and
     prints one JSON line: correct, attempted, failed and metrics.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
engine also records progress and stage events, and the metrics are the
per-layer ones (see NOTES.md). Everything the run writes stays under
.perfbench/ in the repository root.
"""

import argparse
import hashlib
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

import frames  # noqa: E402
import metrics  # noqa: E402

# Sized for a 4-core machine running the engine at local[4]. The fixed rate
# sits well below the capacity measured for each job, also at batches capped
# by maxRowsPerTrigger (the cap applies to every batch, so it must leave room
# to catch up after the slow first batches). Each burst stays far below the
# source's buffer (2^20 rows) and fills one or two even batches.
WORKLOADS = {
    "ingest": dict(rate=5000, warmup=25.0, burst=30_000, max_rows=15_000),
    "orderbook": dict(rate=2000, warmup=20.0, burst=10_000, max_rows=10_000),
}
BURSTS = 3          # drain_fps is the median over this many bursts
SETUPS = 3          # setup_s is the median of this many session + stream set-ups
PARTITIONS = 8      # Kafka-shaped topic partitions
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-Xmx3g", "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
            "-XX:CompileThresholdScaling=0.25"]
RUN_LIMIT_S = 170   # a run (after the build) must end within this

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class Failure(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- build -------------------------------------------------------------------

def source_files():
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "harness" / "build.sbt", HERE / "harness" / "project",
             HERE / "harness" / "src"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            for p in sorted(r.rglob("*")):
                if p.is_file() and "target" not in p.relative_to(r).parts:
                    yield p


def build():
    """Compile engine + harness when their sources changed; return the classpath."""
    missing = [p for p in ("build.sbt", "src/main/scala/graft") if not (ROOT / p).exists()]
    if missing:
        raise Failure(f"engine sources not found under {ROOT}: {', '.join(missing)}")
    digest = hashlib.sha1()
    for p in source_files():
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    fingerprint = digest.hexdigest()
    stamp = WORK / "classpath.json"
    if stamp.exists():
        cached = json.loads(stamp.read_text())
        if cached["fingerprint"] == fingerprint:
            return cached["classpath"]
    sbt = shutil.which("sbt")
    if not sbt:
        raise Failure("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    log("building engine and harness (sbt compile)")
    t = time.time()
    with open(WORK / "build.log", "w") as out:
        res = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE / "harness", env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
        out.write(res.stdout)
    lines = [ln for ln in res.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if res.returncode != 0 or not lines:
        raise Failure(f"build failed (exit {res.returncode}); see {WORK / 'build.log'}")
    log(f"built in {time.time() - t:.0f} s")
    stamp.write_text(json.dumps({"fingerprint": fingerprint, "classpath": lines[-1]}))
    return lines[-1]


# -- processes ---------------------------------------------------------------

class Proc:
    """A child speaking one line per message on stdin/stdout."""

    def __init__(self, name, cmd, stderr_path, **kw):
        self.name = name
        self.err = open(stderr_path, "w")
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.err, text=True, bufsize=1, **kw)
        self.lines = queue.Queue()
        self.seen = []
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            self.seen.append(line)
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def expect(self, word, deadline):
        """Next line starting with `word`, split on whitespace."""
        while True:
            left = deadline - time.time()
            if left <= 0:
                raise Failure(f"{self.name}: timed out waiting for {word}")
            try:
                line = self.lines.get(timeout=left)
            except queue.Empty:
                continue
            if line is None:
                raise Failure(f"{self.name} exited (code {self.p.wait()}) "
                              f"before {word}; see {self.err.name}")
            parts = line.split(" ", 2)
            if parts[0] == word:
                return parts

    def close(self, grace=20):
        try:
            self.p.stdin.close()
        except OSError:
            pass
        try:
            self.p.wait(grace)
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
        self.err.close()


def committed(checkpoint):
    """End offset of the newest committed epoch (0 before any commit)."""
    try:
        done = [int(n) for n in os.listdir(checkpoint / "commits") if n.isdigit()]
    except FileNotFoundError:
        return 0
    if not done:
        return 0
    return metrics.end_offset(checkpoint / "offsets" / str(max(done)))


def wait_committed(checkpoint, n, deadline):
    while committed(checkpoint) < n:
        if time.time() > deadline:
            raise Failure(f"frames not committed in time: {committed(checkpoint)} of {n}")
        time.sleep(0.05)


# -- one run -----------------------------------------------------------------

def run(workload, seed, seconds, trace):
    cfg = WORKLOADS[workload]
    WORK.mkdir(exist_ok=True)
    classpath = build()
    start = time.time()
    deadline = start + RUN_LIMIT_S
    rundir = WORK / "run"
    shutil.rmtree(rundir, ignore_errors=True)
    (rundir / "tmp").mkdir(parents=True)
    procs = []
    # the frames the checks expect, rebuilt from the seed while the engine starts
    total = frames.phase1_frames(cfg["rate"], cfg["warmup"], seconds) + BURSTS * cfg["burst"]
    pool = ThreadPoolExecutor(1)
    expected = pool.submit(frames.BODIES[workload], seed, total, cfg["rate"])
    try:
        # orderbook: the generator also writes the update stream, from which
        # the engine computes OrderBook.batchReference after the run
        updates = ["--input", str(rundir / "input.jsonl")] if workload == "orderbook" else []
        gen_cmd = [sys.executable, str(HERE / "gen.py"), "--workload", workload,
                   "--seed", str(seed), "--rate", str(cfg["rate"]),
                   "--warmup", str(cfg["warmup"]), "--seconds", str(seconds),
                   "--burst", str(cfg["burst"]), "--bursts", str(BURSTS), *updates]
        gen = Proc("generator", gen_cmd, rundir / "gen.log")
        procs.append(gen)
        port = gen.expect("PORT", deadline)[1]
        log(f"{time.time() - start:5.1f} s generator ready")

        cores = len(os.sched_getaffinity(0))
        java = shutil.which("java")
        if not java:
            raise Failure("java not found on PATH")
        jvm_cmd = [java, *JVM_OPTS,
                   *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
                   f"-Djava.io.tmpdir={rundir / 'tmp'}", f"-Dspark.local.dir={rundir / 'tmp'}",
                   f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
                   "-cp", classpath, "graft.perfbench.Harness",
                   "--workload", workload, "--url", f"ws://127.0.0.1:{port}/",
                   "--dir", str(rundir), "--trace", str(trace), "--setups", str(SETUPS),
                   "--max-rows", str(cfg["max_rows"]), "--partitions", str(PARTITIONS),
                   "--cores", str(cores), *updates]
        spawn = time.time()
        jvm = Proc("engine", jvm_cmd, rundir / "engine.log", cwd=rundir,
                   env=dict(os.environ, SPARK_LOCAL_DIRS=str(rundir / "tmp")))
        procs.append(jvm)

        setups = []
        for k in range(1, SETUPS + 1):
            begin = spawn if k == 1 else float(jvm.expect("BEGIN", deadline)[2]) / 1000
            ready = float(jvm.expect("READY", deadline)[2]) / 1000
            connected = float(gen.expect("CONN", deadline)[2]) / 1000
            setups.append(max(ready, connected) - begin)
            jvm.send("NEXT" if k < SETUPS else "RUN")

        log(f"{time.time() - start:5.1f} s set up {SETUPS} times: "
            + ", ".join(f"{x:.2f}" for x in setups) + " s")
        checkpoint = rundir / f"checkpoint-{SETUPS}"
        gen.send("GO")
        n1 = int(gen.expect("PHASE1", deadline)[1])
        wait_committed(checkpoint, n1, deadline)
        log(f"{time.time() - start:5.1f} s fixed-rate phase committed")
        for k in range(1, BURSTS + 1):
            gen.send("BURST")
            gen.expect("BURST", deadline)
            wait_committed(checkpoint, n1 + k * cfg["burst"], deadline)
        end = time.time()
        log(f"{end - start:5.1f} s bursts committed")
        jvm.send("STOP")
        jvm.expect("DONE", deadline)
        gen.send("QUIT")
        report = json.loads(" ".join(gen.expect("REPORT", deadline)[1:]))
        for p in procs:
            p.close()
    except Failure:
        for p in procs:
            log(f"{p.name} said: " + "".join(p.seen[-20:]))
        raise
    finally:
        for p in procs:
            if p.p.poll() is None:
                p.p.kill()
                p.p.wait()
        pool.shutdown()

    run_info = dict(workload=workload, seed=seed, rate=cfg["rate"], warmup=cfg["warmup"],
                    seconds=seconds, burst=cfg["burst"], bursts=BURSTS, partitions=PARTITIONS,
                    cores=cores, setups=setups, spawn=spawn, end=end,
                    checkpoint=checkpoint, sink=rundir / f"sink-{SETUPS}", rundir=rundir,
                    gen=report, expected=expected.result())
    log(f"{time.time() - start:5.1f} s engine stopped")
    result = metrics.evaluate(run_info, trace)
    log(f"{time.time() - start:5.1f} s outputs checked")
    if trace:
        metrics.report_trace(run_info, result, WORK)
    else:
        (WORK / f"last-{workload}.json").write_text(json.dumps(result))
    shutil.rmtree(rundir, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured seconds of the fixed-rate phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace)
    except Failure as e:
        log(f"error: {e}")
        sys.exit(1)
    except Exception:  # a check or parse that could not complete: no result
        log("error:\n" + traceback.format_exc())
        sys.exit(1)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()

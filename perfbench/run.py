#!/usr/bin/env python3
"""Job-level benchmark for the graft library.

    python3 perfbench/run.py --workload etl_catalog|curate_batch|nightly|all
        [--seed 1] [--seconds 25] [--trace 0|1]
    python3 perfbench/run.py --test          # the benchmark's own tests
    python3 perfbench/run.py --pin           # re-pin output hashes (seed 1)

Run from the repository root. The first run compiles the library's
sources together with the benchmark (perfbench/build.sbt, offline sbt);
later runs reuse the build while no source file changed. Each run
generates its inputs from the seed, starts a local[nproc] Spark session,
times the workload's library calls in a closed loop for --seconds, checks
the outputs, prints a run record, and prints one JSON result as the last
line of stdout. It exits non-zero when the build, the run or an output
check fails. See perfbench/README.md for the workloads and metrics.
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
LIB = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.stamp")
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
GOLDEN = os.path.join(HERE, "golden.json")
WORKLOADS = ["etl_catalog", "curate_batch", "nightly"]
DEFAULT_SEED = 1
HEAP = "1g"
RUN_TIMEOUT_S = 170

# end-to-end metrics (untraced run) and per-layer metrics (traced run),
# as BENCHMARK.json lists them
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("job_s", "s"),
              ("rows_per_s", "1/s"), ("peak_rss_mb", "MB")]
PER_LAYER = [("etl.wall_s", "s"), ("etl.tasks", "count"),
             ("etl.core_busy", "ratio"), ("etl.task_skew", "ratio"),
             ("etl.shuffle_mb", "MB"), ("etl.scan_mb", "MB"),
             ("etl.write_mb", "MB"), ("job.tasks", "count"),
             ("job.core_busy", "ratio"), ("job.shuffle_mb", "MB"),
             ("job.spill_mb", "MB"), ("spark.codegen_ms", "ms"),
             ("spark.gc_s", "s"), ("spark.storage_mb_peak", "MB"),
             ("trace.overhead_s", "s")]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_proc(cmd, cwd, env, timeout, logfile):
    """Run a child in its own process group; on timeout kill the whole
    group and wait for it, so nothing outlives the benchmark."""
    with open(logfile, "ab") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_stamp():
    h = hashlib.sha256()
    roots = [LIB, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + repos] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    if not os.path.isdir(os.path.join(LIB, "graft")):
        log("perfbench: library sources not found at src/main/scala/graft; "
            "run from the repository root")
        sys.exit(2)
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    os.makedirs(TARGET, exist_ok=True)
    logfile = os.path.join(TARGET, "build.log")
    log("perfbench: building (sbt compile) ...")
    t0 = time.time()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
                  HERE, sbt_env(), 840, logfile)
    if rc != 0 or not os.path.exists(CLASSPATH):
        log(f"perfbench: build failed (rc={rc}); see {logfile}")
        sys.exit(2)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")


def run_tests():
    build()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "-Dsbt.server.autostart=false", "test"],
                  HERE, sbt_env(), 840, "/dev/stdout")
    sys.exit(0 if rc == 0 else 1)


def jvm(workload, seed, seconds, trace, work, result):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -Xms = -Xmx: the heap is sized once, so peak RSS tracks the work
    # rather than when the collector chose to grow the heap
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0",
            "--work", work, "--result", result]
    rc = run_proc(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S,
                  os.path.join(work, "jvm.log"))
    if rc != 0 or not os.path.exists(result):
        log(f"perfbench: {workload} failed (rc={rc}); "
            f"see {os.path.relpath(os.path.join(work, 'jvm.log'), ROOT)}")
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        log(tail)
        sys.exit(1)
    with open(result) as f:
        return json.load(f)


def git_commit():
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                  capture_output=True, text=True,
                                  timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            pass
    return "none (not a git checkout)"


def named_metrics(w, m):
    """The per-workload names of the end-to-end numbers."""
    calls = m["calls"]
    out = {}
    if w == "etl_catalog":
        out["etl_s"] = (calls["etl.endToEnd"]["median_s"], "s")
        out["embed_s"] = (calls["embed.embedDocuments"]["median_s"], "s")
        s = calls["embed.search"]
        out["search_ms_p50"] = (s["median_s"] * 1000, "ms")
        if s["tail"]:
            t = s["tail"]
            out["search_ms_tail"] = (
                t["value_s"] * 1000, f"ms (p{t['percentile']}, n={t['n']})")
    elif w == "curate_batch":
        out["curate_s"] = (m["job_s"], "s")
    else:
        out["night_s"] = (m["job_s"], "s")
    out["rows_per_s"] = (m["rows_per_s"], f"1/s ({m['main_rows']} rows)")
    out["peak_rss_mb"] = (m["peak_rss_mb"], "MB")
    return out


def run_one(workload, seed, seconds, trace, pin=False):
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    t0 = time.time()
    m = jvm(workload, seed, seconds, trace, work,
            os.path.join(work, "result.json"))

    fails = list(m["checks_failed"])
    golden = {}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            golden = json.load(f)
    if pin:
        golden[workload] = {"seed": seed, "nproc": os.cpu_count(),
                            "hashes": m["hashes"]}
        with open(GOLDEN, "w") as f:
            json.dump(golden, f, indent=2, sort_keys=True)
            f.write("\n")
    elif seed == DEFAULT_SEED:
        want = golden.get(workload, {}).get("hashes")
        if want is None:
            fails.append("no committed output hashes for this workload")
        else:
            for k, v in sorted(want.items()):
                if m["hashes"].get(k) != v:
                    fails.append(f"output {k}: hash {m['hashes'].get(k)} "
                                 f"!= committed {v}")

    extra = m["extra_attempts"]
    extra_failed = sum(1 for e in extra if e["error"])
    record = {
        "workload": workload, "seed": seed, "traced": bool(trace),
        "seconds": seconds, "nproc": os.cpu_count(),
        "heap": HEAP, "spark": m["spark_version"], "jdk": m["jdk"],
        "git_commit": git_commit(), "source_stamp": source_stamp()[:16],
        "inputs": m["inputs"], "storage_pool_mb": m["pool_mb"],
        "wall_s": round(time.time() - t0, 1),
    }
    print("run record: " + json.dumps(record, sort_keys=True))
    for k, (v, unit) in named_metrics(workload, m).items():
        print(f"  {k:16s} {v:12.4f} {unit}")
    builds = m["standing_build_s"]
    how = (f"session {m['session_s']:.2f} s + standing build median of "
           f"{len(builds)}" if any(builds) else "session start; no standing state")
    print(f"  {'setup_s':16s} {m['setup_s']:12.4f} s ({how})")
    print(f"  {'cold_s':16s} {m['cold_s']:12.4f} s")
    attempted = m["attempted"]
    print(f"  {'failed_share':16s} {extra_failed / attempted:12.4f} "
          f"({extra_failed} failed / {attempted} attempted)")
    for e in extra:
        status = "failed: " + e["error"] if e["error"] else "succeeded"
        print(f"  extra attempt {e['name']}: {status}")
    for c, s in sorted(m["calls"].items()):
        tail = s["tail"]
        ts = f" p{tail['percentile']}={tail['value_s']:.4f}" if tail else ""
        print(f"  call {c}: median {s['median_s']:.4f} s n={s['n']}{ts} "
              f"cold {s['cold_s']:.4f} s")
    for f in fails:
        print(f"  CHECK FAILED: {f}")

    if trace:
        layers = m["layers"]
        metrics = {k: {"value": layers["per_layer"][k], "unit": u}
                   for k, u in PER_LAYER}
        for c, ms in layers["calls"].items():
            print(f"  layer {c}: " + ", ".join(
                f"{k}={v:.4g}" for k, v in sorted(ms.items())))
        for k, v in layers["ratios"].items():
            print(f"  ratio {k}: {v:.4g}")
        splits = list(layers["stage_split"].items())
        splits += [(f"setup {c}", sp) for c, sp in
                   m.get("setup_stage_split", {}).items()]
        for c, split in splits:
            for st, v in sorted(split.items()):
                print(f"  stage {c}.{st}: task_s={v['task_s']:.3f} "
                      f"core_busy={v['core_busy']:.3f} "
                      f"(spark stages {v['spark_stages_last_job']})")
        if splits:
            print("  beside X26Profile's r19 split (sf1, 32 cores, steady s): "
                  + ", ".join(f"{k}={v}" for k, v in
                              layers["r19_x26profile_split_s"].items()))
        for c, v in sorted(m.get("setup_calls", {}).items()):
            print(f"  set-up {c}.wall_s: {v:.4f}")
        print(f"  tracing overhead: traced {layers['traced_job_s']:.4f} s vs "
              f"untraced {layers['untraced_job_s']:.4f} s per job")
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
    result = {"correct": not fails, "attempted": attempted - len(extra),
              "failed": 0, "metrics": metrics}
    artifact = dict(record=record, result=result, raw=m, checks_failed=fails)
    name = f"{workload}-seed{seed}-trace{1 if trace else 0}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    return result


def main():
    # a terminated benchmark still stops and waits for its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--test", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if a.test:
        run_tests()
    build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    if a.pin:
        a.seed = DEFAULT_SEED
    results = {w: run_one(w, a.seed, a.seconds, a.trace, a.pin) for w in names}
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{w}.{k}": v for w, r in results.items()
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final))
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The graft benchmark: one workload, one Spark process, checked outputs.

  python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Steps:

  1. build the program and the harness from source with sbt (skipped
     when the sources are unchanged since the last build);
  2. generate the seeded inputs (gen.py; cached per seed);
  3. run graftbench.Main in one JVM on Spark local[N], N = min(4, cpus):
     set-up three times, then whole passes of the workload for S seconds
     (at least one);
  4. check every pass's outputs (check.py), outside the timed window;
  5. print one JSON line: correct, attempted, failed and the metrics —
     the end-to-end metrics, or with --trace 1 the per-layer metrics
     (also written to .bench_out/trace-<workload>-s<seed>.json).

Exits non-zero when the program cannot be built or run, or when any
operation failed (threw, or produced a wrong output).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("tidy_sf01", "annotate_sf01", "dedup_corpus", "curation_stream")
RUN_LIMIT_S = 170      # the whole run, build excluded
BUILD_LIMIT_S = 850
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if not os.path.isfile(f):
            fail(f"missing build input {os.path.relpath(f, ROOT)}")
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    fp = source_fingerprint()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fp:
            return cached["classpath"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline resolution from the pre-warmed caches, as the repo's own build runs
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + f" -Dsbt.offline=true -Xmx2g -Djava.io.tmpdir={tmp}"))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
                timeout=BUILD_LIMIT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
        lf.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if "graftbench" in ln and "classes" in ln
             and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {os.path.relpath(log, ROOT)}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def inputs(seed):
    """Generated inputs for a seed, made once and reused."""
    d = os.path.join(DATA, f"seed{seed}")
    if not os.path.exists(os.path.join(d, "done")):
        import gen
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        gen.main(tmp, seed)
        open(os.path.join(tmp, "done"), "w").close()
        os.rename(tmp, d)
    return d


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    t_start = time.monotonic()
    data = inputs(a.seed)
    out = os.path.join(OUT, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={out}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main", "--workload", a.workload,
              "--data", data, "--out", out, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cpus", str(cpus())])
    log = os.path.join(out, "jvm.log")
    # a terminated benchmark must not leave its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as lf, subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT) as proc:
        try:
            proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish within {RUN_LIMIT_S} s; see {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_path = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        fail(f"benchmark process exited {proc.returncode}; see {log}")
    with open(result_path) as f:
        result = json.load(f)

    t_jvm = time.monotonic()
    import check
    bad = check.check(result, data, out)
    attempted = failed = 0
    times, walls = [], []
    for ps in result["passes"]:
        for o in ps["ops"]:
            attempted += 1
            err = o["error"] if not o["ok"] else bad.get((ps["index"], o["name"]))
            if err:
                failed += 1
                print(f"graftbench: pass {ps['index']} {o['name']} failed: {err}", file=sys.stderr)
            else:
                times.append(o["seconds"])
        walls.append(ps["wall_s"])

    probe = result.get("probe_stream")
    if probe:
        # the traced run's streaming probe is a curation replay: check it too
        bad_streams = check.check_curation(probe["check"], data, os.path.join(out, probe["dir"]))
        for o in probe["ops"]:
            attempted += 1
            err = o["error"] if not o["ok"] else bad_streams.get(o["name"].split(".")[0])
            if err:
                failed += 1
                print(f"graftbench: streaming probe {o['name']} failed: {err}", file=sys.stderr)

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(result["per_layer"].items())}
        trace_path = os.path.join(OUT, f"trace-{a.workload}-s{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({k: result[k] for k in ("workload", "cpus", "setup_s", "peak_rss_mb",
                                              "per_layer", "op_features", "probe_features",
                                              "spans", "probe_spans")}, f, indent=1)
    else:
        metrics = {
            "setup_s": {"value": statistics.median(result["setup_s"]), "unit": "s"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "op_p50_s": {"value": hd_median(times) if times else 0.0, "unit": "s"},
        }
    print(f"graftbench: inputs+jvm {t_jvm - t_start:.1f} s, checks {time.monotonic() - t_jvm:.1f} s",
          file=sys.stderr)
    for d in os.listdir(out):
        if d.startswith("pass") or d in ("probe", "tmp", "spark-local"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(1 if failed else 0)


def hd_median(xs):
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted mean of the order statistics. With a handful of unlike
    operations the plain median jumps with whichever op sits in the
    middle; this estimate moves less (tidy_sf01, six seeds: quartile
    spread 0.15 of the median against 0.22)."""
    import numpy as np
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a = (n + 1) / 2.0
    grid = np.linspace(0.0, 1.0, 20001)
    pdf = grid ** (a - 1) * (1 - grid) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    return float(np.diff(np.interp(np.arange(n + 1) / n, grid, cdf)) @ x)


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_mrows_s"):
        return "Mrows/s"
    if name.endswith("_s") or ".source_s." in name or ".stage_s." in name:
        return "s"
    if name.endswith(("_precision", "_amplification", "_per_job")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()

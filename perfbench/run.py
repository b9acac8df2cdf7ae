#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the harness and graft's sources with sbt (once per source state),
generates the workload's inputs from the seed, runs the harness JVM at
local[n] (n = min(4, nproc)), checks the outputs with DuckDB outside the
timed phase, writes the full record under perfbench/out/records/, and
prints one JSON object as the last line of standard output. With
--trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
WORKLOADS = ("incident_daily", "text_curation", "vector_graph")
DRIVER_MEMORY = "3g"
# A fixed young generation (eden 384 MB, two 192 MB survivor spaces) whose
# survivor spaces let objects age before promotion: the resident set does
# not follow the collector's adaptive sizing or the timing of premature
# promotion, and less than a third of it is eden the harness sized.
YOUNG_GEN = "768m"
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compiles once per source state; returns the runtime classpath."""
    stamp = os.path.join(OUT, "build", "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(OUT, "build", "sbt.log")
    with open(log, "w") as f:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
                           stderr=f, text=True, timeout=800)
        f.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if (p.returncode != 0 or not lines
            or not all(os.path.exists(x) for x in lines[-1].split(os.pathsep))):
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def cds_flags(digest):
    """Class-data sharing: the first run of a build dumps the classes it
    loaded to an archive, later runs map it, which cuts JVM and session
    start-up by several seconds. A mismatched archive is ignored."""
    archive = os.path.join(OUT, "build", f"classes-{digest[:16]}.jsa")
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}"]
    return [f"-XX:ArchiveClassesAtExit={archive}"]


def quantile(xs, q):
    """Linear-interpolated quantile of the samples (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(rec):
    t = rec["timed"]
    samples = t["samples"]
    return {
        "setup_s": metric(rec["setup"]["setup_s"], "s"),
        "rows_per_s": metric(t["rows"] / t["seconds"], "rows/s"),
        "batch_p50_s": metric(quantile(samples, 0.5), "s"),
        "batch_p90_s": metric(quantile(samples, 0.9), "s"),
        "peak_rss_mb": metric(rec["peak_rss_mb"], "MB"),
    }


def per_layer(rec):
    units = {".wall_s": "s", ".plan_s": "s", ".driver_s": "s", ".exec_cpu_s": "s",
             ".jobs": "count", ".tasks": "count", ".failed_tasks": "count",
             ".core_util": "ratio", ".shuffle_write_mb": "MB", ".spill_mb": "MB",
             "native_frac": "ratio", "rr_exchanges": "count", "topk_rewrites": "count",
             "persisted_mb": "MB", "old_gen_peak_mb": "MB"}
    out = {k: metric(v, next(u for s, u in units.items() if k.endswith(s)))
           for k, v in rec["layers"].items()}
    ref, traced = rec["timed"], rec["traced_phase"]
    out["trace.overhead_frac"] = metric(
        1 - (traced["rows"] / traced["seconds"]) / (ref["rows"] / ref["seconds"]), "ratio")
    return out


def stamp(args, cores, digest, rec):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")) and shutil.which("git"):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True).stdout.strip() or None
    return {"commit": commit, "source_sha256": digest, "seed": args.seed,
            "workload": args.workload, "seconds": args.seconds,
            "traced": bool(args.trace), "nproc": os.cpu_count(),
            "local": f"local[{cores}]", "driver_memory": DRIVER_MEMORY,
            "jvm": rec["versions"]["java"], "spark": rec["versions"]["spark"],
            "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    java = shutil.which("java")
    if java is None:
        fail("java not found on PATH")
    digest = source_digest()
    classpath = build(digest)
    start = time.monotonic()  # the build is not part of a run's time limit

    cores = max(1, min(4, os.cpu_count() or 1))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    input_dir = os.path.join(OUT, "input", tag)
    work = os.path.join(OUT, "work", tag)
    for d in (input_dir, work):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    phases = {}
    try:
        gen.generate(args.workload, args.seed, input_dir)
        phases["generate_s"] = time.monotonic() - start
        raw = os.path.join(work, "record.json")
        cmd = ([java] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
               + [f"-Xms{DRIVER_MEMORY}", f"-Xmx{DRIVER_MEMORY}", "-XX:+UseParallelGC",
                  f"-XX:NewSize={YOUNG_GEN}", f"-XX:MaxNewSize={YOUNG_GEN}",
                  "-XX:-UseAdaptiveSizePolicy", "-XX:SurvivorRatio=2",
                  "-XX:InitialTenuringThreshold=15", "-XX:MaxTenuringThreshold=15",
                  f"-Djava.io.tmpdir={work}"] + cds_flags(digest) + ["-cp", classpath,
                  "graftbench.Main", "--workload", args.workload, "--input", input_dir,
                  "--work", work, "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--cores", str(cores), "--out", raw])
        log = os.path.join(OUT, "records", f"{tag}.log")
        with open(log, "w") as f:
            try:
                p = subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                                   timeout=max(10, RUN_LIMIT_S - (time.monotonic() - start)))
            except subprocess.TimeoutExpired:
                fail(f"harness exceeded the run time limit, see {log}")
        if p.returncode != 0 or not os.path.exists(raw):
            fail(f"harness exited with {p.returncode}, see {log}")
        with open(raw) as f:
            rec = json.load(f)
        phases["harness_s"] = time.monotonic() - start - phases["generate_s"]
        if not rec["timed"]["samples"]:
            fail(f"no timed unit succeeded: {rec['failures'][:3]}")

        results = checks.run_checks(rec["checks"])
        phases["checks_s"] = time.monotonic() - start - phases["generate_s"] - phases["harness_s"]
        thrown = {x["step"] for x in rec["failures"]}
        failed = len(rec["failures"]) + sum(
            1 for r in results if not r["ok"] and r["step"] not in thrown)
        attempted = rec["attempted"]
        metrics = per_layer(rec) if args.trace else end_to_end(rec)
        full = {"stamp": stamp(args, cores, digest, rec), "attempted": attempted,
                "failed": failed, "error_rate": failed / attempted,
                "step_failures": rec["failures"], "checks": results,
                "end_to_end": end_to_end(rec),
                "per_layer": per_layer(rec) if args.trace else None,
                "sample_count": len(rec["timed"]["samples"]), "phases_s": phases,
                "raw": rec}
        for c in full["raw"]["checks"]:
            c.pop("sql", None)
        with open(os.path.join(OUT, "records", f"{tag}.json"), "w") as f:
            json.dump(full, f, indent=1)
    finally:
        shutil.rmtree(input_dir, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    for r in results:
        if not r["ok"]:
            print(f"check failed: {r['step']} ({r['kind']}): {r['detail']}", file=sys.stderr)
    for x in rec["failures"]:
        print(f"step failed: {x['step']}: {x['error']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

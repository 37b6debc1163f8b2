#!/usr/bin/env python3
"""graft stream benchmark: one run of one workload.

    python3 perfbench/run.py --workload route_open --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds graft and the harness from source
(sbt, offline) into `.bench_build/` on first use, generates the seeded
inputs (cached per seed), runs the stream in one JVM, checks every
delivered record against `oracle.py`, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer ones. See README.md.
"""

import argparse
import collections
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import traffic  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

# The workloads. `rate` > 0 is an open loop in lines/s; `rate` 0 drains
# repeated backlogs of the whole input set. Why each exists: README.md.
WORKLOADS = {
    "route_open": dict(enrich=False, rate=4000, lines_per_file=500,
                       warm_units=80, nft_frac=0.5, max_files_per_trigger=0),
    "enrich_drain": dict(enrich=True, rate=0, lines_per_file=5000, files=20,
                         warm_units=2, nft_frac=0.75, max_files_per_trigger=10),
}
# An open-loop run is invalid, not slow, past these: the generator fell
# behind its schedule, or more than this much load was queued when the
# window closed (a stream that keeps up holds about one batch, <1 s).
LATE_LIMIT_MS = 250
BACKLOG_LIMIT_S = 2.0

# What the JVM measures in every run. Only the steady ones are
# end-to-end metrics (BENCHMARK.json); a traced run reports all of them
# as `traced.<name>`.
RUN_METRICS = ("setup_s", "latency_p50_ms", "latency_p90_ms", "lines_per_s", "rss_peak_mb")

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + harness once per source state; return the classpath."""
    stamp = os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == digest:
            return cp.strip()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: graft's build.sbt is missing; run from a full checkout")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("building graft and the harness (sbt)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def inputs_for(workload, seed, seconds):
    """Generate (or reuse) the seeded inputs; return (dir, manifest)."""
    w = WORKLOADS[workload]
    files = w.get("files") or (
        w["warm_units"] + -(-seconds * w["rate"] // w["lines_per_file"]))
    d = os.path.join(BUILD, "inputs", f"{workload}-s{seed}-f{files}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        m = traffic.write_inputs(tmp, seed, files, w["lines_per_file"], w["nft_frac"])
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(m, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(manifest) as f:
        return d, json.load(f)


def run_jvm(cp, workload, inputs, manifest, args):
    w = WORKLOADS[workload]
    work = os.path.join(BUILD, "run", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cores = max(1, (os.cpu_count() or 2) - 1)
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.StreamBench",
            "--inputs", inputs, "--work", work, "--result", result,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--files", str(len(manifest["files"])),
            "--lines-per-file", str(manifest["lines_per_file"]),
            "--blacklist", ",".join(manifest["blacklist"]),
            "--enrich", "1" if w["enrich"] else "0", "--rate", str(w["rate"]),
            "--warm-units", str(w["warm_units"]),
            "--max-files-per-trigger", str(w["max_files_per_trigger"]),
            "--sink-sleep-ms", str(args.plant_sink_sleep_ms),
            "--drop-record", "1" if args.plant_drop_record else "0"]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=jlog,
                              stderr=subprocess.STDOUT,
                              timeout=DEADLINE_S)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: {workload} run failed")
    with open(result) as f:
        return work, json.load(f)


def check(inputs, manifest, res, enrich, work):
    """Multiset diff of the sink against the oracle over committed files."""
    tokens = oracle.load_tokens(os.path.join(inputs, "tokens.json")) if enrich else None
    # a backlog rep's file `r<rep>_<file>` is a link to input `<file>`
    bases = [n.split("_", 1)[1] if n.startswith("r") else n for n in res["committed"]]
    per_file = oracle.expected(sorted({os.path.join(inputs, "logs", b) for b in bases}),
                               manifest["blacklist"], tokens)
    want = collections.Counter()
    for b in bases:
        want.update(per_file[os.path.join(inputs, "logs", b)])
    got = oracle.read_sink(os.path.join(work, "sink"))
    return oracle.compare(want, got), sum(got.values())


def sink_layers(work, res, records, lines_per_file):
    files = size = 0
    for d, _, names in os.walk(os.path.join(work, "sink")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    lines = len(res["committed"]) * lines_per_file
    return {"sinks.files_per_batch": files / max(1, res["batches"]),
            "sinks.bytes_per_line": size / max(1, lines),
            "sinks.records_per_line": records / max(1, lines)}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # positive controls (test_perfbench.py): a planted regression each
    ap.add_argument("--plant-sink-sleep-ms", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--plant-drop-record", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    cp = build()
    inputs, manifest = inputs_for(args.workload, args.seed, args.seconds)
    work, res = run_jvm(cp, args.workload, inputs, manifest, args)
    (attempted, failed), records = check(
        inputs, manifest, res, WORKLOADS[args.workload]["enrich"], work)

    valid = res["drained"]
    if WORKLOADS[args.workload]["rate"] > 0:
        if res["late_max_ms"] > LATE_LIMIT_MS:
            log(f"invalid run: generator ran {res['late_max_ms']:.0f} ms late")
            valid = False
        limit = BACKLOG_LIMIT_S * WORKLOADS[args.workload]["rate"] / manifest["lines_per_file"]
        if res["backlog_end_files"] > limit:
            log(f"invalid run: {res['backlog_end_files']} files queued at window end")
            valid = False
    if failed:
        log(f"{failed} of {attempted} records missing or extra")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        values = dict(res["layers"])
        values.update(sink_layers(work, res, records, manifest["lines_per_file"]))
        values["generator.late_max_ms"] = res["late_max_ms"]
        values["generator.backlog_end_files"] = res["backlog_end_files"]
        values["generator.lines"] = res["lines_published"]
        for k in RUN_METRICS:
            values[f"traced.{k}"] = res[k]
    else:
        values = res
        log(f"latency p50 {res['latency_p50_ms']:.0f} ms, p90 {res['latency_p90_ms']:.0f} ms")
    names = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": bool(valid and failed == 0), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

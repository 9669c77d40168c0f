#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload kernel_loops --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source (sbt, offline) on first
use, runs one measured process at local[nproc], checks every output and
prints, as the last line of stdout, one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See
perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("kernel_loops", "fresh_graph", "graph_queries")
DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 880    # a run that builds first may take 900 s
HEAP = "4g"
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Digest of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("src", "main"), os.path.join("perfbench", "harness")]
    for top in tops:
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            for f in fs if "target" not in os.path.relpath(d, root).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work, digest, deadline):
    """Compile the program and the harness with sbt; return the runtime
    classpath. Skipped when the sources (`digest`) are unchanged since
    the last build in this checkout."""
    stamp = os.path.join(work, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got["digest"] == digest:
            return got["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench", "harness"), env=env,
                           stdout=out, stderr=subprocess.STDOUT,
                           timeout=max(10, deadline - time.time()))
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        fail("build failed, see " + log)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1].strip()}, fh)
    return cps[-1].strip()


def meminfo_kb():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def box(raw, root, digest):
    """Descriptor of the machine, the build and the inputs of a result."""
    tables = raw["info"].get("tables") or {}
    fresh = [o for o in raw["ops"] if o["kind"] == "fresh"]
    if fresh:
        tables = {"undirected": {"V": fresh[0]["extra"].get("V"), "E": fresh[0]["extra"].get("E")},
                  "repo_link_edges": fresh[0]["extra"].get("edges")}
    if raw["workload"] == "graph_queries":
        tables = {"lineitem_rows": raw["info"].get("lineitem_rows"),
                  "graph": "src = l_orderkey % 1000, dst = l_partkey % 1000"}
    return {
        "nproc": os.cpu_count(), "jvm_cores": raw["cores"], "mem_total_kb": meminfo_kb(),
        "xmx": HEAP, "jdk": raw["jdk"], "spark": raw["spark_version"],
        "git_commit": git_commit(root), "source_digest": digest,
        "seed": raw["seed"] if raw["workload"] != "graph_queries" else "n/a (fixed input)",
        "session": raw["info"].get("session"), "tables": tables,
    }


def untraced_results(work, workload):
    """Raw results of the untraced runs of a workload kept in this
    checkout, the base the tracing overhead is measured against."""
    d = os.path.join(work, "results")
    out = []
    for f in sorted(os.listdir(d)):
        if f.startswith(workload + "-seed") and f.endswith("-trace0.raw.json"):
            with open(os.path.join(d, f)) as fh:
                out.append(json.load(fh))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject", default="",
                    help="corrupt one op kind's output before its check (tests only)")
    args = ap.parse_args()

    start = time.time()
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            fail("run from the root of a checkout of the program: %s is missing" % need)
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    built = os.path.exists(os.path.join(work, "classpath.json"))
    digest = source_digest(root)
    classpath = build(root, work, digest, start + BUILD_DEADLINE_S - 60)
    deadline = time.time() + (DEADLINE_S - (time.time() - start) if built else DEADLINE_S)

    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    out = os.path.join(work, "results", tag + ".raw.json")
    if os.path.exists(out):
        os.remove(out)
    java = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
            + ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "harness", "log4j2.properties"),
               "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed), "--scale", args.scale,
               "--work", work])
    log = os.path.join(work, "results", tag + ".log")
    prep_s = None
    with open(log, "w") as err:
        try:
            t = time.time()
            p = subprocess.run(java + ["--mode", "prep"], stdout=err, stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.time()))
            prep_s = time.time() - t
            if p.returncode == 0:
                cmd = java + ["--mode", "run", "--seconds", str(args.seconds),
                              "--trace", str(args.trace), "--data", os.path.join(HERE, "data"),
                              "--out", out]
                if args.inject:
                    cmd += ["--inject", args.inject]
                p = subprocess.run(cmd, stdout=err, stderr=subprocess.STDOUT,
                                   timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("run exceeded its time limit, see " + log)
    if p.returncode != 0 or not os.path.exists(out):
        fail("harness exited with %d, see %s" % (p.returncode, log))
    with open(out) as fh:
        raw = json.load(fh)

    with open(os.path.join(HERE, "golden.json")) as fh:
        golden = json.load(fh)
    attempted, failed, details = metrics.accounting(raw, golden)
    for d in details:
        print("failed: " + d, file=sys.stderr)
    if args.trace:
        values = metrics.per_layer(raw, raw["cores"], untraced_results(work, args.workload))
    else:
        values = metrics.end_to_end(raw)
    print("box: " + json.dumps(dict(box(raw, root, digest), prep_s=prep_s), sort_keys=True))
    ops = {}
    for o in raw["ops"]:
        ops.setdefault(o["kind"], []).append(round(o["s"], 4))
    print("ops_s: " + json.dumps(ops))
    if args.trace:
        selft = metrics.self_time_by_name(raw["spans"])
        print("self_ms: " + json.dumps(selft))
        with open(os.path.join(work, "results", tag + ".spans.json"), "w") as fh:
            json.dump({"spans": raw["spans"], "self_ms": selft}, fh)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, printing one JSON result line.

    python3 perfbench/run.py --workload <batch|kse_stream> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft together with the
harness (sbt, offline); the build is cached under .bench_build/ and redone
when its sources change. The inputs are the sf0.1 tables committed under
perfbench/data/, checked against their checksums on every run. The seed
sets the key order of every pass and, for kse_stream, where duplicates,
poison pills and out-of-order events are injected.

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 prints
the per-layer metrics and writes the span trees into the run's artifact
(.bench_build/results/), plus the tracing overhead against the latest
untraced run of the same workload. See perfbench/NOTES.md.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch", "kse_stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            glob.glob(os.path.join(base, "**", "*.scala"), recursive=True) +
            glob.glob(os.path.join(base, "**", "*.sbt"), recursive=True) +
            glob.glob(os.path.join(base, "**", "*.properties"), recursive=True))
        for f in files:
            if "/target/" in f:
                continue
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {cmd[0]}")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile graft's sources with the harness; return the run classpath."""
    srcs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    if not os.path.isdir(srcs[0]):
        fail("graft sources (src/main/scala) not found next to perfbench/")
    out = os.path.join(BUILD, "classes")
    stamp, cp_file = out + ".stamp", out + ".classpath"
    digest = tree_hash(srcs)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                       cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}), see {log}")
    cp = next((l for l in reversed(lines) if "classes" in l and os.pathsep in l), "")
    if not cp:
        fail(f"no classpath in build output, see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def data():
    """The sf0.1 tables, checked against their committed checksums."""
    base = os.path.join(HERE, "data", "sf0.1")
    sums = os.path.join(base, "SHA256SUMS")
    if not os.path.exists(sums):
        fail(f"{os.path.relpath(sums, ROOT)} not found")
    for line in open(sums):
        want, name = line.split()
        path = os.path.join(base, name)
        if not os.path.exists(path):
            fail(f"table {name} missing from {os.path.relpath(base, ROOT)}")
        with open(path, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != want:
                fail(f"table {name} differs from its checksum")
    return base


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-refs", help="write the digests of one pass to this file")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    tables = data()

    stamp = time.strftime("%Y%m%dT%H%M%S")
    results = os.path.join(BUILD, "results")
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    for d in (results, tmp):
        os.makedirs(d, exist_ok=True)
    kind = "refs" if a.make_refs else f"trace{a.trace}"
    artifact = os.path.join(results, f"{a.workload}-seed{a.seed}-{kind}-{stamp}.json")
    cmd = (["java", "-Xmx4g", "-XX:+UseParallelGC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", tables, "--work", work,
            "--artifact", artifact, "--refs", os.path.join(HERE, "refs", "batch_sf0.1.tsv")])
    if a.make_refs:
        cmd += ["--make-refs", os.path.abspath(a.make_refs)]
    try:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=sys.stderr,
                       stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(artifact):
        fail(f"benchmark JVM failed (rc={rc})")
    art = json.load(open(artifact))

    if a.trace:
        measured = art["per_layer"]
        wanted = spec["per_layer"]
        untraced = sorted(glob.glob(os.path.join(results, f"{a.workload}-seed*-trace0-*.json")),
                          key=os.path.getmtime)
        if untraced:
            base = json.load(open(untraced[-1]))["end_to_end"]
            overhead = {k: art["end_to_end"][k] / v - 1 for k, v in base.items()
                        if v and k in art["end_to_end"]}
            art["tracing_overhead"] = overhead
            with open(artifact, "w") as fh:
                json.dump(art, fh)
            print("tracing overhead vs " + os.path.basename(untraced[-1]) + ": " +
                  ", ".join(f"{k} {v:+.1%}" for k, v in overhead.items()), file=sys.stderr)
    else:
        measured = art["end_to_end"]
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = measured.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"probe median {art['probe_median_s']:.4f} s, {art['passes']} passes, "
          f"artifact {os.path.relpath(artifact, ROOT)}", file=sys.stderr)
    print(json.dumps({"correct": art["failed"] == 0, "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

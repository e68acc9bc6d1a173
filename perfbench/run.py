#!/usr/bin/env python3
"""The repo's benchmark: two seeded workloads over one Spark JVM.

    python3 perfbench/run.py --workload osm_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM driver from source with sbt (offline), later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed
(untimed, cached under perfbench/out/inputs), the JVM runs the workload in a
closed loop, then every output is checked against the generator's truth or a
DuckDB oracle. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "out")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")

# input sizes: a run (set-up, measurement, checks) has to end within 180 s
# and a round of 48 runs within an hour, also on a machine at half speed
OSM_MB = 64.0
WARM_OSM_MB = 2.0
CORPUS_DOCS = 1500
WARM_CORPUS_DOCS = 150
TABLES_SF = 0.01
PROBE_SHARE = 1 / 20  # share of each group's Registry probes in the traced pass

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """The classpath of the built program plus driver (sbt, offline)."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail(f"no program sources under {PROGRAM_SRC}: run from the root of a checkout")
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # the first spark-submit on the PATH that sits in a distribution with jars/
        homes = [os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
                 for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.exists(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if os.path.isdir(os.path.join(h, "jars"))]
        if not homes:
            fail("SPARK_HOME is not set and no Spark distribution is on the PATH")
        env["SPARK_HOME"] = homes[0]
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark driver with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(r.stdout[-3000:])
        fail(f"build failed (rc={r.returncode}); see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def heap():
    """ROADMAP's tier-1 heap: half of physical memory in GB, within [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java(cp, args, out_log, timeout):
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={WORK}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(out_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM timed out after {timeout} s; see {out_log}")
    if p.returncode != 0:
        fail(f"JVM exited with {p.returncode}; see {out_log}")
    return stdout


def registry_names(cp):
    f = os.path.join(BUILD, "names.txt")
    if not (os.path.exists(f) and os.path.getmtime(f) >= os.path.getmtime(
            os.path.join(BUILD, "stamp.txt"))):
        out = java(cp, ["names"], os.path.join(BUILD, "names.log"), 120)
        with open(f, "w") as fh:
            fh.write(out)
    with open(f) as fh:
        return [l.split("\t")[0] for l in fh.read().splitlines() if l.strip()]


# ------------------------------------------------------------------ inputs

def cached(kind, seed, size, make):
    """Generated inputs keyed by kind, seed and size; the two most recent of
    each kind are kept."""
    base = os.path.join(WORK, "inputs")
    d = os.path.join(base, f"{kind}-{seed}-{size}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        make(d)
        open(os.path.join(d, "done"), "w").close()
    os.utime(d)
    others = sorted((os.path.join(base, e) for e in os.listdir(base)
                     if e.startswith(kind + "-") and os.path.join(base, e) != d),
                    key=os.path.getmtime)
    for o in others[:-1]:
        shutil.rmtree(o, ignore_errors=True)
    return d


def osm_input(seed):
    def make(d):
        gen.gen_osm(seed, d, OSM_MB)
        gen.gen_osm(seed + 1_000_003, os.path.join(d, "warm"), WARM_OSM_MB)
        os.replace(os.path.join(d, "warm", "map.osm"), os.path.join(d, "warm.osm"))
    return cached("osm", seed, OSM_MB, make)


def corpus_input(seed):
    def make(d):
        gen.gen_corpus(seed, d, CORPUS_DOCS)
        gen.gen_corpus(seed + 1_000_003, os.path.join(d, "warm"), WARM_CORPUS_DOCS)
    return cached("corpus", seed, CORPUS_DOCS, make)


def tables_input(seed):
    return cached("tables", seed, TABLES_SF, lambda d: gen.gen_tables(seed, d, TABLES_SF))


# --------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["osm_etl", "corpus_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    with open(bench_file) as f:
        bench = json.load(f)
    cp = build()
    started = time.time()  # a run may take 180 s, not counting the first build

    cores = len(os.sched_getaffinity(0))
    out = os.path.join(WORK, f"run-{a.workload}")
    for d in (out, os.path.join(WORK, "tmp")):  # a killed run leaves both behind
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out)
    args = ["--workload", a.workload, "--out", out, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--seed", str(a.seed)]
    if a.workload == "osm_etl":
        inp = osm_input(a.seed)
    else:
        inp = corpus_input(a.seed)
        if a.trace:
            sample = metrics.sample_probes(registry_names(cp), PROBE_SHARE)
            with open(os.path.join(out, "probes.txt"), "w") as f:
                f.write("\n".join(sample) + "\n")
            args += ["--probes", os.path.join(out, "probes.txt"),
                     "--probe-input", tables_input(a.seed)]
    args += ["--input", inp]

    java(cp, args, os.path.join(out, "jvm.log"), 170 - (time.time() - started))
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    verdict = checks.check(a.workload, run, inp, out)
    res = metrics.result(a.workload, run, verdict, bench, a.trace == 1)
    if a.trace:
        artifact = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        with open(artifact, "w") as f:
            json.dump(metrics.trace_artifact(run, res), f, indent=1)
        log(f"trace written to {artifact}")
    for line in metrics.summary(a.workload, run, res, verdict, cores):
        print(line)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Library warehouse benchmark: one workload, one seed, one result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload reports --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark program from source (sbt, offline)
into .bench_build/, with a class-data-sharing archive that a short
training run writes there, starts one JVM that sets the workload up and runs
its timed closed loop, runs the DuckDB correctness checks on the
outputs it left, and prints as its last stdout line one JSON object
with "correct", "attempted", "failed" and "metrics". Each run works in
a fresh directory under .bench_run/ that is deleted afterwards; traced
runs (--trace 1) write their spans and per-layer table to .bench_out/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
DEADLINE_S = 175  # every run must end within 180 s
BUILD_DEADLINE_S = 880  # ... or 900 s when it builds

WORKLOADS = ("reports", "corpus")
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for dirpath, dirnames, names in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(deadline):
    """Compiles the library and the benchmark once per source digest,
    packs the class directories into jars and records the class-data-
    sharing archive; returns the runtime classpath, the digest and
    whether this call built."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("digest") == digest:
            return saved["classpath"], digest, False
    os.makedirs(BUILD, exist_ok=True)
    log("building the library and the benchmark with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(1, deadline - time.time()))
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = pack_classes(lines[-1].strip())
    train_archive(cp, deadline)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, digest, True


def pack_classes(cp):
    """Class-data sharing maps classes only from jars, so each class
    directory on the classpath is packed into a jar of its own."""
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for dirpath, dirnames, names in os.walk(entry):
                    dirnames.sort()
                    for n in sorted(names):
                        path = os.path.join(dirpath, n)
                        z.write(path, os.path.relpath(path, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train_archive(cp, deadline):
    """Writes the class-data-sharing archive every run maps at start-up:
    the classes a one-second corpus run loads, already parsed and
    verified. Without it (a failed training run) runs load every class
    from the jars."""
    log("writing the class-data-sharing archive")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with run_dir("train") as rd:
        try:
            run_jvm(cp, "corpus", 0, 1, 0, rd, deadline,
                    [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds*=off"])
        except SystemExit as e:
            log(f"no class-data-sharing archive: {e}")


@contextlib.contextmanager
def run_dir(name):
    """A fresh directory under .bench_run/, deleted afterwards."""
    path = os.path.join(RUNS, f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def run_jvm(cp, workload, seed, seconds, trace, rd, deadline, flags=()):
    """Runs one workload in a JVM working in `rd`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(rd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the session settings, Spark's local dir included, are made in Main.scala.
    # The JIT stops at C1: a JVM that lives a minute never reaches the
    # optimizing compiler's steady state, and with it the operations' CPU
    # time kept falling through the whole loop (see perfbench/README.md).
    # Compiler threads live as long as the JVM, so Main.scala can take
    # their CPU time out of the loop's.
    cmd = [java, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:TieredStopAtLevel=1",
           "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}",
           f"-Dgraft.artifact.root={os.path.join(rd, 'artifacts')}"] + list(flags)
    if not flags and os.path.isfile(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--run-dir", rd,
            "--trace-out", OUT, "--inputs", os.path.join(HERE, "data")]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    proc = subprocess.Popen(cmd, cwd=rd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: the run did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    with open(os.path.join(rd, "result.json")) as f:
        return json.load(f)


def family(dtype):
    k = dtype.kind
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "datetime"}.get(k, "other")


def compare(got, want):
    """The repository's oracle compare rules: columns by name, rows
    sorted, exact values, and matching dtype families. Returns None
    when equal, else the reason."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns differ: {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    if len(got) == 0:
        return None
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    for c in g.columns:
        a, b = g[c], w[c]
        if family(a.dtype) != family(b.dtype):
            return f"column {c}: dtype {a.dtype} vs {b.dtype}"
        if not ((a.isna() == b.isna()).all() and (a.dropna().values == b.dropna().values).all()):
            return f"column {c}: values differ"
    return None


def oracle_failures(checks):
    if not checks:
        return 0
    import duckdb
    failed = 0
    for c in checks:
        con = duckdb.connect()
        try:
            for name, path in c["views"].items():
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            got = con.execute(f"SELECT * FROM read_parquet('{c['got']}/*.parquet')").fetchdf()
            want = con.execute(c["sql"]).fetchdf()
            why = compare(got, want)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"error: {e}"
        finally:
            con.close()
        if why:
            failed += 1
            log(f"check FAILED {c['name']}: {why}")
    return failed


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def one_run(a, deadline):
    """Builds if needed and runs the workload. A run that built may take
    until START + BUILD_DEADLINE_S, any other `deadline`."""
    cp, digest, built = build(START + BUILD_DEADLINE_S)
    if built:
        deadline = START + BUILD_DEADLINE_S
    with run_dir(f"{a.workload}-{a.seed}-{a.trace}") as rd:
        res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, rd, deadline)
        log(f"JVM done after {time.time() - START:.1f} s")
        failed = res["failed"] + oracle_failures(res["oracle"])
        log(f"oracle checks done after {time.time() - START:.1f} s")
    attempted = res["attempted"]
    metrics = {k: res["metrics"][k] for k in res["metric_order"]}
    if not a.trace:  # failed DuckDB checks count here, so it is computed last
        metrics["ok_rate"] = {"value": 1.0 - failed / attempted, "unit": "ratio"}
    info = dict(res["info"], git_commit=git_commit(), source_digest=digest,
                class_data_sharing=os.path.isfile(ARCHIVE), oracle_checks=len(res["oracle"]))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="run untraced then traced and report the tracing overhead")
    a = ap.parse_args()
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise SystemExit(f"perfbench: {f} not found; run from the root of a full checkout")
    if a.overhead:
        a.trace = 0
        _, plain_info = one_run(a, START + DEADLINE_S)
        a.trace = 1
        traced, _ = one_run(a, time.time() + DEADLINE_S)
        p, t = plain_info, traced["metrics"]
        print(json.dumps({
            "workload": a.workload, "seed": a.seed,
            "p50_ms": p["p50_ms"], "trace.p50_ms": t["trace.p50_ms"]["value"],
            "p50_overhead": t["trace.p50_ms"]["value"] / p["p50_ms"] - 1,
            "ops_per_s": p["ops_per_s"], "trace.ops_per_s": t["trace.ops_per_s"]["value"],
            "throughput_overhead": p["ops_per_s"] / t["trace.ops_per_s"]["value"] - 1}))
        return
    result, info = one_run(a, START + DEADLINE_S)
    print(json.dumps({"info": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Full-result benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the program (`src/main/scala`)
and the harness (`perfbench/scala`) into `.bench_build/` when their
sources changed, runs one workload in one JVM, checks the outputs, and
prints one JSON line as the last line of stdout: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Everything a
run writes stays under `.bench_build/`. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

HERE = Path(__file__).resolve().parent
JVM_TIMEOUT_S = 170
# the module opens Spark needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm_opts(build_dir):
    """Heap and stack for Spark and scalac; no perf-data file, and the JVM's
    temporary files (extracted native libraries, Spark's artifact dirs)
    inside the checkout."""
    tmp = build_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["-Xmx3g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    die("no Spark jars: set SPARK_HOME")


def build(root, build_dir, jars):
    """Compiles program and harness with the Scala compiler that ships
    in the Spark jars; skipped when the sources are unchanged."""
    sources = sorted(root.glob("src/main/scala/**/*.scala")) + sorted(HERE.glob("scala/**/*.scala"))
    digest = hashlib.sha256()
    for f in sources:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    classes = build_dir / "classes"
    stamp_file = build_dir / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    args_file = build_dir / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in sources) + "\n")
    t0 = time.time()
    proc = subprocess.run(
        ["java", *jvm_opts(build_dir), "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-cp", cp, f"@{args_file}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-5000:])
        die("compilation failed")
    stamp_file.write_text(stamp)
    print(f"perfbench: compiled {len(sources)} sources in {time.time() - t0:.0f}s", file=sys.stderr)
    return classes


def dir_bytes(path):
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file() and not f.is_symlink())


def run_jvm(classes, jars, jvm_args, env, log_path):
    cmd = (["java", *jvm_opts(classes.parent)]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.PerfBench"] + jvm_args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        # a terminated benchmark must not leave its JVM behind
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def prepare(root):
    """Checks the checkout, builds, and returns (classes, jars, build dir)."""
    if not (root / "src" / "main" / "scala").is_dir() or not (root / "build.sbt").is_file():
        die("no program sources (src/main/scala, build.sbt): run from the repository root")
    if not (HERE / "corpus" / "lineitem.parquet").is_file():
        die("missing perfbench/corpus")
    build_dir = root / ".bench_build"
    build_dir.mkdir(exist_ok=True)
    jars = spark_jars(root)
    return build(root, build_dir, jars), jars, build_dir


def fresh_run_dirs(build_dir):
    """Empties the run's directories: `scratch` is the program's scratch
    root, `work` holds Spark's local dirs and the stream inputs."""
    run_dir = build_dir / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    scratch, work = run_dir / "scratch", run_dir / "work"
    scratch.mkdir(parents=True)
    work.mkdir()
    return run_dir, scratch, work


def jvm_env(scratch):
    env = dict(os.environ)
    env["SPARK_GRAFT_SCRATCH"] = str(scratch)
    return env


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")
    classes, jars, build_dir = prepare(root)
    run_dir, scratch, work = fresh_run_dirs(build_dir)
    artifact = run_dir / "artifact.json"
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--corpus", str(HERE / "corpus"),
                "--scratch", str(scratch), "--work", str(work), "--out", str(artifact),
                "--expected", str(HERE / "expected" / f"{a.workload}.json")]
    code = run_jvm(classes, jars, jvm_args, jvm_env(scratch), run_dir / "jvm.log")
    if code is None:
        die(f"the JVM ran past {JVM_TIMEOUT_S}s; log in {run_dir / 'jvm.log'}")
    if not artifact.exists():
        die(f"the JVM exited {code} without an artifact; log in {run_dir / 'jvm.log'}")
    art = json.loads(artifact.read_text())
    # bytes the run left under the program's scratch root after the JVM exited
    scratch_left_mb = dir_bytes(scratch) / (1024.0 * 1024.0)
    art["scratch_left_mb"] = scratch_left_mb
    kept = build_dir / "artifacts"
    kept.mkdir(exist_ok=True)
    (kept / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(art))

    attempted, failed, correct = metrics.count_failures(art.get("attempted", 0), art.get("failures", []))
    e2e = metrics.end_to_end(art)
    if e2e is None:
        for f in art.get("failures", []):
            print(f"perfbench: FAIL {f['op']}: {f['reason']}", file=sys.stderr)
        die("no timed pass completed")
    if a.trace:
        values = metrics.per_layer(art, art["n_cpu"], scratch_left_mb)
        wanted = spec["per_layer"]
    else:
        values = e2e["metrics"]
        wanted = spec["end_to_end"]
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "tail_percentile": e2e["tail_percentile"], "op_samples": e2e["op_samples"],
        "ops_failed_frac": failed / attempted, "scratch_left_mb": scratch_left_mb,
        "setup_s": art["setup_s"], "warmup_pass_s": art.get("warmup_pass_s"),
        "canary_s": art.get("canary_s"), "failures": art.get("failures", []),
    }
    print("perfbench: " + json.dumps(summary), file=sys.stderr)
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()

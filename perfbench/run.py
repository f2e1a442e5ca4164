#!/usr/bin/env python3
"""Loader-first benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <load_fresh|load_rewave>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark (its
own sbt project in this directory, compiling the engine modules from
../src/main/scala) and caches the classpath; later runs start the JVM
directly. Inputs are generated from the seed inside the run. Everything
the run writes stays under perfbench/.work and perfbench/target.

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer metrics. The lines before it print every metric
by name and unit with the run's sample count and box context. The exit
code is non-zero if any operation failed or any output check did not
match its reference.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala", "graft")
MODULES = ["sources", "functions", "operators", "streaming", "plans"]
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(HERE, "target", "bench-classpath.txt")
WORKLOADS = ("load_fresh", "load_rewave")
HEAP = "3g"
RUN_LIMIT_S = 170

sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # a run writes only under .work and target


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def say(msg):
    """A summary line on stdout; the JSON record is always the last one."""
    print(msg, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    for m in MODULES:
        files += sorted(glob.glob(os.path.join(ENGINE, m, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build with sbt if the sources changed since the cached build."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            d, cp = fh.read().split("\n", 1)
        if d == digest:
            return cp.strip()
    log("building (sbt compile)")
    # the build resolves nothing from the network: the Scala toolchain
    # comes from the local caches, Spark from its installation
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    return cp


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cp, args, t0_ms, work):
    tmp = os.path.join(work, "tmp")
    derby = os.path.join(work, "derby-home")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(derby, exist_ok=True)
    # A fixed set of JIT compiler threads: cpu_s subtracts their CPU,
    # which a thread that exits would take with it. Two of them, a fixed
    # heap and the parallel collector (no concurrent GC threads) leave
    # the pass more of the 4 cores while the JIT is still compiling; on
    # the 4-core host they halved wall_s's spread over five seeds.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:CICompilerCount=2", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={derby}",
           f"-Dderby.stream.error.file={os.path.join(derby, 'derby.log')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--t0-ms", str(t0_ms)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"JVM exceeded {RUN_LIMIT_S}s and was stopped")
        return 124


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def tail_percentile(n):
    """Highest percentile with at least ten samples beyond it."""
    if n < 11:
        return None
    return int(100 * (1 - 10 / n))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(ENGINE):
        log(f"engine sources not found at {os.path.relpath(ENGINE, os.getcwd())}; "
            "run from the root of a checkout")
        return 2
    cp = classpath()

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0_ms = int(time.time() * 1000)
    rc = run_jvm(cp, args, t0_ms, work)
    result_path = os.path.join(work, "result.json")
    if not os.path.exists(result_path):
        log(f"no result (JVM exit code {rc})")
        return rc or 1
    with open(result_path) as fh:
        res = json.load(fh)

    samples = res["samples"]
    mismatches = 0
    failed_checks = []
    for s in samples:
        for c in s["failed_checks"]:
            failed_checks.append(f"{s['parent']}:{c}")
    mismatches += len(failed_checks)

    import replay
    exp = replay.expected(os.path.join(work, "data"), rewave=args.workload == "load_rewave")
    for s in samples:
        outs = s["outputs"]
        if not outs:
            continue
        got = replay.table_hash(outs["variant_transcript"])
        if got != exp["vt_hash"]:
            mismatches += 1
            failed_checks.append(f"{s['parent']}:variant_transcript_hash "
                                 f"(rows {got[0]} vs {exp['vt_hash'][0]})")
        n = replay.fasta_records(outs["polyphen"])
        if n != exp["nonsynonymous"]:
            mismatches += 1
            failed_checks.append(f"{s['parent']}:polyphen_records ({n} vs {exp['nonsynonymous']})")
    say(f"replay: {exp['vt_hash'][0]} VARIANT_TRANSCRIPT rows, "
        f"{exp['nonsynonymous']} nonsynonymous")

    if args.trace:
        # the pass's spans run one after another inside the traced pass's
        # clock, so their sum may not exceed it (the genome span runs
        # before the pass and is left out)
        pl = res["per_layer"]
        traced = [s for s in samples if s["parent"] == "traced" and s["ok"]]
        span_sum = sum(v or 0.0 for k, v in pl.items() if k.endswith(".wall_ms")
                       and not k.startswith("sources.fasta_genome")) / 1000.0
        if traced:
            say(f"traced pass wall_s={traced[0]['wall_s']:.4f}; its spans' wall_ms sum to "
                f"{span_sum:.4f} s")
            if span_sum > traced[0]["wall_s"] + 0.001:
                mismatches += 1
                failed_checks.append("traced:span_sum<=wall_s")

    timed = [s for s in samples if s["ok"] and s["parent"].startswith("iter-")]
    attempted = int(res["attempted"])
    # a pass that threw outside any span (restore, checks) still failed
    failed = max(int(res["failed"]), sum(1 for s in samples if not s["ok"]))
    correct = mismatches == 0 and failed == 0 and rc == 0 and len(timed) > 0

    def summary(name, unit, xs):
        xs = [x for x in xs if x is not None]
        if not xs:
            say(f"{name}: no samples")
            return
        q1, q3 = quartiles(xs)
        tp = tail_percentile(len(xs))
        tail = f"p{tp}={sorted(xs)[int(len(xs) * tp / 100)]:.4f}" if tp else \
            f"max={max(xs):.4f} (no percentile has 10 samples beyond it at N={len(xs)})"
        say(f"{name} [{unit}] median={statistics.median(xs):.4f} q1={q1:.4f} q3={q3:.4f} "
            f"{tail} N={len(xs)}")

    e2e = {
        "wall_s": ("s", [s["wall_s"] for s in timed]),
        "cpu_s": ("s", [s["cpu_s"] for s in timed]),
        "setup_s": ("s", [res["setup_s"]]),
        "retained_heap_mb": ("MB", [s["retained_heap_mb"] for s in timed]),
    }
    for name, (unit, xs) in e2e.items():
        summary(name, unit, xs)
    summary("jit_s (JIT compiler threads, not in cpu_s)", "s", [s["jit_s"] for s in timed])
    say(f"error_rate [ratio] {failed / max(1, attempted):.4f} ({failed} of {attempted} span invocations)")
    say(f"mismatches [count] {mismatches}" + (f": {failed_checks[:10]}" if failed_checks else ""))
    say("box: loadavg " + " ".join(f"{s['loadavg']:.2f}" for s in timed)
        + " | stretch " + " ".join(f"{s['stretch']:.3f}" for s in timed)
        + " | spin_ms " + " ".join(f"{s['spin_ms']:.1f}" for s in timed))
    if timed:
        facts = timed[-1]["facts"]
        say("counters: " + ", ".join(f"{k}={v:g}" for k, v in sorted(facts.items())))

    if args.trace:
        if any(v is None for v in pl.values()):
            correct = False
        metrics = {k: {"value": v if v is not None else 0.0, "unit": unit_of(k)}
                   for k, v in sorted(pl.items())}
        say(f"tracing overhead [s] {pl.get('trace.overhead_s')}")
        for k, m in metrics.items():
            say(f"{k} [{m['unit']}] {m['value']}")
    else:
        metrics = {}
        for name, (unit, xs) in e2e.items():
            xs = [x for x in xs if x is not None]
            metrics[name] = {"value": statistics.median(xs) if xs else 0.0, "unit": unit}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def unit_of(key):
    suffix = key.rsplit(".", 1)[1]
    return {"wall_ms": "ms", "cpu_ms": "ms", "plan_ms": "ms", "task_max_ms": "ms",
            "gc_ms": "ms", "tasks": "count", "exchanges": "count",
            "shuffle_bytes": "bytes", "spill_bytes": "bytes", "overhead_s": "s"}.get(suffix, "ratio")


if __name__ == "__main__":
    sys.exit(main())

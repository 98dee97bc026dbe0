#!/usr/bin/env python3
"""graft's benchmark: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload {edf_ingest,interactive,batch_heavy}
        --seed N --seconds S --trace {0,1}

Run from the root of the repository. The first run compiles the program and
the benchmark (see build.py). Every op's result is checked. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. The line before it holds details that are not
bound-checked (tail latency, EDF read latency, ingest MiB/s, nproc, load
average, failures). Raw observations, spans and metrics of the run are kept
under .bench_build/perfbench/out/.

    python3 perfbench/run.py --write-reference

recomputes perfbench/reference.tsv, the query-result fingerprints the
correctness check compares against. Run it only when a query's semantics
change on purpose, and say which and why.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("edf_ingest", "interactive", "batch_heavy")
REFERENCE = os.path.join("perfbench", "reference.tsv")
OUT_ROOT = os.path.join(build.BUILD_ROOT, "out")
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat: the host taking
    CPU time away from this machine shows as steal."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def run_jvm(classpath, workload, seed, seconds, trace, work, out_file, write_reference, deadline):
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed-size heap with the throughput collector: no concurrent GC
    # threads competing with the four task threads, and a peak RSS that
    # does not depend on when the heap happened to grow
    cmd += ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}", "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", out_file,
            "--cores", str(nproc()), "--reference", os.path.abspath(REFERENCE)]
    if write_reference:
        cmd += ["--write-reference", "1"]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # the scratch directories must stay inside the run's work dir
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_MASTER")}
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.readlines()[-40:]
        raise RuntimeError(f"benchmark JVM ended with {code}:\n" + "".join(tail))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-reference", action="store_true")
    args = ap.parse_args()
    if not args.write_reference and not args.workload:
        ap.error("--workload is required")
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    # counted after the build: the first run in a checkout also compiles
    deadline = time.time() + RUN_LIMIT_S

    if args.write_reference:
        return write_reference(classpath, args.seed)

    load_start = loadavg()
    ticks_start = cpu_ticks()
    raw = one_run(classpath, args.workload, args.seed, args.seconds, args.trace, False, deadline)
    ticks_end = cpu_ticks()
    failed_ops = [o for o in raw["ops"] if not o["ok"]]
    attempted = len(raw["ops"])
    out_dir = os.path.join(OUT_ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    spans = raw.pop("spans", [])
    if args.trace:
        values, detail = metrics.per_layer(raw, spans)
    else:
        values, detail = metrics.end_to_end(raw)
    detail.update({
        "workload": args.workload, "seed": args.seed, "nproc": raw["cores"],
        "table_scale": raw["table_scale"],
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "cpu_steal_frac": ((ticks_end[0] - ticks_start[0]) / (ticks_end[1] - ticks_start[1])
                           if ticks_end[1] > ticks_start[1] else 0.0),
        "jvm_loadavg_start": raw["loadavg_start"], "jvm_loadavg_end": raw["loadavg_end"],
        "ops_failed_frac": len(failed_ops) / attempted,
        "failures": [{"op": o["name"], "pass": o["pass"], "error": o.get("error", "")}
                     for o in failed_ops[:20]],
        "out_dir": out_dir,
    })
    result = {
        "correct": not failed_ops,
        "attempted": attempted,
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "raw.json"), "w") as fh:
        json.dump(raw, fh)
    if args.trace:
        with open(os.path.join(out_dir, "spans.json"), "w") as fh:
            json.dump(spans, fh)
    with open(os.path.join(out_dir, "metrics.json"), "w") as fh:
        json.dump({"detail": detail, "result": result}, fh, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


def write_reference(classpath, seed):
    """Fingerprint every query of both query workloads into REFERENCE."""
    lines, scales = [], []
    for w in ("interactive", "batch_heavy"):
        raw = one_run(classpath, w, seed, 1, 0, True, time.time() + RUN_LIMIT_S)
        bad = [(o["name"], o.get("error")) for o in raw["ops"] if not o["ok"]]
        if bad:
            print(f"[perfbench] {w}: {len(bad)} ops failed: {bad[:5]}", file=sys.stderr)
            return 1
        lines += raw["reference"]
        scales.append(f"{w} {raw['table_scale']}")
    with open(REFERENCE, "w") as fh:
        fh.write("# query\trows\tschema\thash (python3 perfbench/run.py --write-reference)\n")
        fh.write(f"# tables: perfbench.Gen, fixed seed, scale {', '.join(scales)}; nproc {raw['cores']}\n")
        fh.write("\n".join(sorted(set(lines))) + "\n")
    print(f"[perfbench] wrote {REFERENCE}: {len(set(lines))} queries")
    return 0


def one_run(classpath, workload, seed, seconds, trace, write_reference, deadline):
    """Run the JVM in a scratch directory that is removed afterwards."""
    work = os.path.abspath(os.path.join(build.BUILD_ROOT, f"run-{workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out_file = os.path.join(work, "raw.json")
        run_jvm(classpath, workload, seed, seconds, trace, work, out_file, write_reference, deadline)
        with open(out_file) as fh:
            raw = json.load(fh)
        for key, name in (("spans", "spans.json"), ("reference", "reference.tsv")):
            path = os.path.join(work, name)
            if os.path.exists(path):
                with open(path) as fh:
                    raw[key] = json.load(fh) if key == "spans" else fh.read().splitlines()
        return raw
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still stops its JVM (run_jvm's finally kills it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)

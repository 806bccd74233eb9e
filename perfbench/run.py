#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (plain scalac
from the Spark distribution the build already uses), runs the harness JVM
for one workload, checks every op's output, and prints the metrics. The
last stdout line is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Every run is also saved, stamped, under
<build dir>/results/ for perfbench/compare.py.

--record merges the observed output checks into perfbench/expected.json
(see the README) instead of checking against it.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("interactive", "heavy_loops", "pubg_stream")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The Spark jar directory, as the sbt build declares it (or SPARK_HOME)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("cannot find the Spark jars (build.sbt unmanagedBase or SPARK_HOME)")


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(srcs, out, classpath, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
           "@" + argfile]
    with open(log, "a") as lf:
        if subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode:
            fail(f"compile failed, see {log}")


def digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile src/main/scala, then the harness against it; each output
    directory is keyed by its sources' digest and reused while they match."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no engine sources at {main_src}; run from a full checkout")
    cp_jars = os.path.join(spark_jars(), "*")
    main_files, bench_files = sources(main_src), sources(os.path.join(BENCH, "src"))
    main_out = os.path.join(build_dir(), "main-" + digest(main_files))
    bench_out = os.path.join(build_dir(), "bench-" + digest(main_files + bench_files))
    for out, files, cp in ((main_out, main_files, cp_jars),
                           (bench_out, bench_files, os.pathsep.join([main_out, cp_jars]))):
        if os.path.exists(out + ".done"):
            continue
        shutil.rmtree(out, ignore_errors=True)
        t = time.time()
        print(f"compiling {len(files)} sources into {os.path.relpath(out, ROOT)} ...", flush=True)
        scalac(files, out, cp, out + ".log")
        open(out + ".done", "w").close()
        print(f"compiled in {time.time() - t:.1f} s", flush=True)
    return os.pathsep.join([bench_out, main_out, cp_jars]), os.path.basename(bench_out)


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def run_jvm(classpath, a, work, out):
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           *([f"-XX:ActiveProcessorCount={a.cores}"] if a.cores else []),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(BENCH, "data"),
            "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, text=True,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s")
    for line in stdout.splitlines():
        print("  " + line)
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {p.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def op_ok(op, expected):
    if op.get("error"):
        return False
    exp = expected.get(op["query"])
    if exp is None:  # stream ops carry their own check
        return True
    c = op["check"]
    if c.get("rows") != exp["rows"] or c.get("schema") != exp["schema"]:
        return False
    return not exp["stable"] or c.get("checksum") == exp["checksum"]


def pass_times(ops, key=None):
    """Median over passes of the summed op latency (optionally per key)."""
    by = {}
    for o in ops:
        k = (o["pass"], key(o) if key else None)
        by[k] = by.get(k, 0.0) + o["latency_s"]
    groups = {}
    for (_, k), v in by.items():
        groups.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in groups.items()}


def op_samples(workload, ops):
    """The latencies the percentiles are taken over. A batch pass runs every
    query of the mix once, so a batch op's sample is its query's mean over
    the run's passes: the percentiles then rank the mix's queries, and do
    not move when two queries of near-equal cost trade places between
    passes. Stream batches are all alike and count one by one."""
    if workload == "pubg_stream":
        return [o["latency_s"] for o in ops]
    by = {}
    for o in ops:
        by.setdefault(o["query"], []).append(o["latency_s"])
    return [statistics.fmean(v) for v in by.values()]


def summarize(rec, a, launch, expected, bench):
    ops = rec["ops"]
    oks = [op_ok(o, expected) for o in ops]
    stream = rec.get("stream_check")
    if stream is not None and not stream["ok"]:
        oks = [False] * len(ops)  # the landed output of every batch is in doubt
    failed = oks.count(False)
    lat = [o["latency_s"] for o in ops]
    wall = pass_times(ops)[None]
    e2e = {
        "setup_s": rec["setup_end_ms"] / 1000.0 - launch,
        "wall_s": wall,
        "op_p50_s": statistics.median(op_samples(a.workload, ops)),
        # linear interpolation between order statistics (numpy's default)
        "op_p90_s": statistics.quantiles(op_samples(a.workload, ops), n=10,
                                         method="inclusive")[8],
    }
    families = pass_times(ops, key=lambda o: o["family"]) if a.workload == "heavy_loops" else {}
    layer = {}
    if a.trace:
        for k in sorted({k for o in ops for k in o["layers"]}):
            layer[k] = statistics.fmean(o["layers"].get(k, 0) for o in ops)
        for k, v in rec.get("layer_self_s", {}).items():
            layer[f"self.{k}_s"] = v / len(ops)
    for f in ("bpe", "graph", "suffix_array", "release", "near_dup"):
        layer[f"family.{f}_s"] = families.get(f, 0.0)
    names = [m["name"] for m in bench["end_to_end"]] if a.trace == 0 else \
        [m["name"] for m in bench["per_layer"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    values = dict(e2e, **layer)
    metrics = {n: {"value": values.get(n, 0.0), "unit": units[n]} for n in names}
    return oks, {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }, e2e, families, layer, lat


def record_expected(rec, path):
    """Merge observed checks into expected.json; a checksum that differs
    from an earlier recording marks the query unstable."""
    exp = {}
    if os.path.exists(path):
        with open(path) as f:
            exp = json.load(f)
    for o in rec["ops"]:
        c = o["check"]
        if o.get("error") or "checksum" not in c:
            continue
        e = exp.get(o["query"])
        if e is None:
            exp[o["query"]] = {"rows": c["rows"], "checksum": c["checksum"],
                               "schema": c["schema"], "stable": True}
        elif (e["rows"], e["schema"]) != (c["rows"], c["schema"]):
            fail(f"{o['query']}: rows or schema differ between recordings")
        elif e["checksum"] != c["checksum"]:
            e["stable"] = False
    with open(path, "w") as f:
        json.dump(dict(sorted(exp.items())), f, indent=1)
        f.write("\n")


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def untraced_wall(res_dir, build_id):
    """Median wall_s of the saved untraced runs of this workload and build."""
    walls = []
    for name in os.listdir(res_dir):
        with open(os.path.join(res_dir, name)) as f:
            r = json.load(f)
        if r["trace"] == 0 and r.get("build") == build_id:
            walls.append(r["e2e"]["wall_s"])
    return (statistics.median(walls), len(walls)) if walls else None


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="merge the observed output checks into expected.json")
    p.add_argument("--cores", type=int, default=0,
                   help="run the engine as if the host had this many cores "
                        "(default: all); used to test that expected.json holds "
                        "at other partition counts")
    a = p.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_json) as f:
        bench = json.load(f)
    classpath, build_id = build()
    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    work = os.path.join(build_dir(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        launch = time.time()
        rec = run_jvm(classpath, a, work, os.path.join(work, "record.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()[0]
    cpu_end = cpu_times()
    steal = None
    if cpu_start and cpu_end and cpu_end[1] > cpu_start[1]:
        steal = (cpu_end[0] - cpu_start[0]) / (cpu_end[1] - cpu_start[1])
    expected_path = os.path.join(BENCH, "expected.json")
    if a.record:
        record_expected(rec, expected_path)
    with open(expected_path) as f:
        expected = json.load(f)
    oks, result, e2e, families, layer, lat = summarize(rec, a, launch, expected, bench)

    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "commit": git_commit(), "build": build_id, "nproc": nproc,
        "xmx": JVM_HEAP, "max_heap_mb": rec["max_heap_mb"],
        "spark_version": rec["spark_version"], "local_cores": rec["cores"],
        "load1_start": load_start, "load1_end": load_end, "steal_share": steal,
        "busy_host": load_start > 1.5 * nproc or (steal or 0.0) > 0.05,
        "time": time.time(),
        "fail_ratio": result["failed"] / result["attempted"],
        "op_samples": len(op_samples(a.workload, rec["ops"])),
    }
    saved = dict(stamp, result=result, e2e=e2e, families=families,
                 per_layer=layer, stream_check=rec.get("stream_check"),
                 ops=[[o["query"], o["pass"], o["latency_s"], ok] for o, ok in zip(rec["ops"], oks)],
                 spans=rec.get("spans", []),
                 errors=sorted({f"{o['query']}: {o['error']}" for o in rec["ops"] if o.get("error")}))
    res_dir = os.path.join(build_dir(), "results", a.workload)
    os.makedirs(res_dir, exist_ok=True)
    res_file = os.path.join(res_dir, f"seed{a.seed}-trace{a.trace}-{int(stamp['time'] * 1000)}.json")
    with open(res_file, "w") as f:
        json.dump(saved, f)

    print(f"workload {a.workload}  seed {a.seed}  commit {stamp['commit'][:12]}  "
          f"nproc {nproc}  -Xmx{JVM_HEAP}  spark {stamp['spark_version']}")
    print(f"load1 start {load_start:.2f}  end {load_end:.2f}  cpu steal "
          + (f"{steal:.1%}" if steal is not None else "n/a")
          + ("  BUSY HOST" if stamp["busy_host"] else ""))
    print(f"ops {len(lat)} (p50 and p90 from {stamp['op_samples']} samples)  failed {result['failed']}  "
          f"fail_ratio {stamp['fail_ratio']:.4f}")
    for e in saved["errors"]:
        print(f"  error {e}")
    if rec.get("stream_check"):
        print(f"stream check {rec['stream_check']}")
    for k, v in e2e.items():
        print(f"  {k:<40} {v:12.4f} s")
    if not a.trace:
        for k, v in sorted(families.items()):
            print(f"  family.{k}_s{'':<{31 - len(k)}} {v:12.4f} s")
    if a.trace:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        for k, v in sorted(layer.items()):
            unit = units.get(k, "s" if k.endswith("_s") else "")
            print(f"  {k:<40} {v:12.4f} {unit}")
        base = untraced_wall(res_dir, build_id)
        if base is None:
            print("  tracing overhead: no saved untraced run of this build to compare with")
        else:
            print(f"  tracing overhead: traced wall_s {e2e['wall_s']:.4f} s - untraced median "
                  f"{base[0]:.4f} s over {base[1]} runs = {e2e['wall_s'] - base[0]:+.4f} s")
    print(f"saved {os.path.relpath(res_file, ROOT)}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()

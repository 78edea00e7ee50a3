#!/usr/bin/env python3
"""The repo benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repo root. It builds the program and the benchmark's JVM
entry point from source (sbt, offline) into `.bench_build/perfbench`,
generates the workload's inputs from the seed, runs the benchmark JVM
(`perfbench.Main`) on `local[N]` with
N = the usable cores, checks every op's output, and prints one JSON line
last: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes stays under `.bench_build/perfbench`. The full
record of a run (raw timings, spans, host provenance) is written to
`.bench_build/perfbench/<workload>-seed<N>-trace<T>.json`.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_snap  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# The workloads BENCHMARK.json lists, and two more that run by hand: a
# run of either takes about twice as long as a listed one.
WORKLOADS = ["ego_golden", "query_suite"]
MANUAL = ["hub_graph", "stream_replay"]
# query_suite's table size: 0.5 → 30 000 lineitem rows, 5 000 events.
# stream_replay uses 10 000 events, enough for its interval join to match.
TABLE_SCALE = 0.5
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        full = os.path.join(ROOT, base)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and perfbench.Main; returns the runtime classpath."""
    srcs = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    key = tree_hash(srcs)
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and open(stamp + ".key").read() == key:
        return open(stamp).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_OPTS=(os.environ.get("JAVA_OPTS", "") + " -XX:-UsePerfData").strip())
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                              "compile", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.exit(f"build failed (rc={rc}); see {os.path.join(BUILD, 'build.log')}")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), stamp)
    with open(stamp + ".key", "w") as f:
        f.write(key)
    log(f"built in {time.time() - t0:.1f} s")
    return open(stamp).read().strip()


def generate(workload, seed, data):
    """Write the inputs (cached per seed and generator version) and return
    (expected answers, generator facts)."""
    scale = TABLE_SCALE if workload == "query_suite" else 1.0
    key = tree_hash(["perfbench/gen_snap.py", "perfbench/gen_tables.py"]) + f"-{scale}"
    stamp = os.path.join(data, ".expected.json")
    if os.path.exists(stamp):
        saved = json.load(open(stamp))
        if saved["key"] == key:
            return saved["expected"], saved["gen"]
    shutil.rmtree(data, ignore_errors=True)
    t0 = time.time()
    gen = {}
    if workload in ("ego_golden", "hub_graph"):
        specs = gen_snap.ego_specs(seed)
        ego_ratio = max(gen_snap.graph_stats(e)["sum_deg2"] / len(e) for _, e, *_ in specs)
        if workload == "ego_golden":
            texts = gen_snap.write(specs, seed, data)
            expected = gen_snap.expected_golden(texts)
        else:
            specs = gen_snap.hub_spec(seed)
            texts = gen_snap.write(specs, seed, data)
            expected = gen_snap.expected_hub(texts)
        stats = [gen_snap.graph_stats(e) for _, e, *_ in specs]
        gen = {"edge_lines": 2 * sum(s["edges"] for s in stats),
               "sum_deg2": sum(s["sum_deg2"] for s in stats),
               "triangles": sum(s["triangles"] for s in stats)}
        if workload == "hub_graph":
            gen["wedge_ratio_vs_ego_golden"] = (gen["sum_deg2"] * 2 / gen["edge_lines"]) / ego_ratio
            assert gen["wedge_ratio_vs_ego_golden"] >= 10, gen
    else:
        tables = gen_tables.write(seed, data, scale)
        expected = gen_tables.expected_streams(tables["events"]) if workload == "stream_replay" else {}
    gen["s"] = time.time() - t0
    with open(stamp, "w") as f:
        json.dump({"key": key, "expected": expected, "gen": gen}, f)
    return expected, gen


# ------------------------------------------------------------------ host

def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_heap():
    """The tier-1 formula: half of RAM in GiB, clamped to [2, 8]."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def proc_stat():
    try:
        f = open("/proc/stat").readline().split()[1:]
        v = [int(x) for x in f]
        return sum(v[:8]), v[7] if len(v) > 7 else 0
    except OSError:
        return 0, 0


def other_jvms(own):
    """{pid: (cmd, cpu ticks)} of every java process that is not ours."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in own:
            continue
        try:
            cmd = open(f"/proc/{pid}/cmdline", "rb").read().split(b"\0")
            if not cmd or not os.path.basename(cmd[0].decode(errors="replace")).startswith("java"):
                continue
            st = open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()
            main = next((c.decode(errors="replace") for c in cmd[1:] if c and not c.startswith(b"-")
                         and b"/" not in c and b":" not in c), "?")
            out[int(pid)] = (main, int(st[11]) + int(st[12]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def git_head():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, env=env,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ------------------------------------------------------------------- run

def run_jvm(cp, workload, data, work, seconds, trace, cpus, heap):
    out = os.path.join(work, "result.json")
    for d in ("out", "alias", "ckpt", "replay", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEM=heap,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_NETWORK_TIMEOUT", None)
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--data", data,
              "--work", work, "--out", out, "--seconds", str(seconds), "--trace", str(trace)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"benchmark JVM timed out; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"benchmark JVM failed (rc={rc}); see {work}/jvm.log")
    return json.load(open(out)), proc.pid


def checks(workload, res, expected, data, work):
    """(attempted, failed, detail) over the timed ops."""
    ops = res["ops"]
    out = os.path.join(work, "out")
    passes = sorted({o["pass"] for o in ops})
    if workload == "ego_golden":
        bad = check.check_golden(out, passes, expected) | check.stale_loads(res)
        failed = sum(1 for o in ops if o["pass"] in bad)
        return len(ops), failed, {"failed_passes": sorted(bad)}
    if workload == "hub_graph":
        bad = check.check_hub(out, passes, expected)
        failed = sum(1 for o in ops if o["pass"] in bad)
        return len(ops), failed, {"failed_passes": sorted(bad)}
    if workload == "query_suite":
        digests = json.load(open(os.path.join(out, "digests.json")))
        bad, report = check.check_queries(out, data, digests)
        failed = sum(1 for o in ops if (o["pass"], o["name"]) in bad)
        return len(ops), failed, {"queries": report}
    streams = json.load(open(os.path.join(out, "streams.json")))
    bad = check.check_streams(streams, expected)
    failed = sum(1 for o in ops if (o["pass"], o["name"]) in bad)
    return len(ops), failed, {"streams": streams, "expected": expected}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + MANUAL)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("no program sources next to perfbench/ (expected build.sbt and src/main/scala/graft)")

    cp = build()
    work = os.path.join(BUILD, f"{a.workload}-seed{a.seed}")
    data = os.path.join(work, "data")
    expected, gen = generate(a.workload, a.seed, data)

    cpus, heap = cpu_count(), jvm_heap()
    load0, stat0, t0 = os.getloadavg(), proc_stat(), time.time()
    jvms0 = other_jvms({os.getpid()})
    res, pid = run_jvm(cp, a.workload, data, work, a.seconds, a.trace, cpus, heap)
    stat1, load1 = proc_stat(), os.getloadavg()
    jvms1 = other_jvms({os.getpid(), pid})
    busy = {p: (c, jvms1[p][1] - t) for p, (c, t) in jvms0.items() if p in jvms1}
    busy = {p: v for p, v in busy.items() if v[1] > 0}
    total = stat1[0] - stat0[0]
    host = {
        "cpus": cpus, "nproc": os.cpu_count(), "heap": heap,
        "jdk": res["jvm"]["java_version"], "spark": res["jvm"]["spark_version"], "git_head": git_head(),
        "steal_frac": (stat1[1] - stat0[1]) / total if total else 0.0,
        "loadavg_start": load0, "loadavg_end": load1, "wall_s": time.time() - t0,
        "other_jvms_cpu_ticks": {str(p): v for p, v in busy.items()},
    }
    host["clean"] = not busy

    attempted, failed, detail = checks(a.workload, res, expected, data, work)
    e2e = metrics.end_to_end(res)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "host": host, "gen": gen, "end_to_end": e2e, "attempted": attempted,
              "failed": failed, "checks": detail, "result": res}
    if a.trace:
        record["per_layer"] = metrics.per_layer(res, gen)
        names = metrics.PER_LAYER if a.workload in WORKLOADS else sorted(record["per_layer"])
        shown = {n: {"value": record["per_layer"][n], "unit": metrics.unit(n)} for n in names}
    else:
        shown = {n: {"value": e2e[n], "unit": u} for n, u in metrics.END_TO_END}
    with open(os.path.join(BUILD, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    p90 = e2e["op_p90_s"]
    print(f"{a.workload}: ops={e2e['ops']} op_p50_s={e2e['op_p50_s']:.4f} "
          f"op_p90_s={'withheld (<10 samples beyond)' if p90 is None else f'{p90:.4f}'} "
          f"pass_s={e2e['pass_s']:.4f} setup_s={e2e['setup_s']:.4f} "
          f"live_heap_mb={e2e['live_heap_mb']:.1f} failed_frac={failed / attempted:.4f} "
          f"steal={host['steal_frac']:.4f} clean={host['clean']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": shown}))


if __name__ == "__main__":
    main()

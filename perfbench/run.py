#!/usr/bin/env python3
"""graft benchmark: one named workload, one seed, one result line.

    python3 perfbench/run.py --workload cdc_steady|curation_batch \\
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (see
build.py), generates the workload's inputs from the seed, runs it in
one JVM on local[min(4, nproc)], checks the outputs, prints a readable
report on stderr and, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1,
its per-layer metrics, from a run with bench-owned listeners attached
(a layer a workload does not exercise reads 0). Everything it writes
stays under the build dir and .bench_work/ in the checkout.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("cdc_steady", "curation_batch")
CORES = max(1, min(4, os.cpu_count() or 1))
XMX = "3g"
# curation_batch tables: sf0.1-shaped, at this fraction of its row counts,
# and a tiny set for the warm-up pass
CURATION_SCALE = 0.1
WARM_SCALE = 0.003
# the whole run must end within 180 s; the JVM gets what is left of it
DEADLINE_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return float("nan")


def run_jvm(classes, work, args, deadline):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{XMX}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("JVM run exceeded its time budget")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited with {code}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_curation(tables, out, deadline):
    """Check every consumer output in `out` against its DuckDB oracle
    (`out`/oracle_sql.json) with the repo's own correctness gate,
    tools/check.py. Returns (outputs checked, failure lines); a gate
    that ends without a verdict counts as one failure."""
    done = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), tables, out],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=max(deadline - time.time(), 1))
    counts, fails = {}, []
    section = None
    for line in done.stdout.splitlines():
        head = re.match(r"(PASS|ROWS-ONLY|FAIL) \((\d+)\)", line)
        if head:
            section = head.group(1)
            counts[section] = int(head.group(2))
        elif section == "FAIL" and line.startswith("  "):
            fails.append(f"oracle {line.strip()}"[:400])
    if (done.returncode != 0 and not fails) or len(fails) != counts.get("FAIL", 0):
        return sum(counts.values()) + 1, fails + [f"tools/check.py exited {done.returncode}: "
                                                  f"{done.stdout[-300:]}"]
    return sum(counts.values()), fails


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    try:
        classes = build.build(ROOT)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    deadline = time.time() + DEADLINE_S
    load_start = load1()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", work, "--cores", str(CORES)]
        datagen_s = 0.0
        tables = None
        if a.workload == "curation_batch":
            import gen_tables
            t0 = time.time()
            tables = os.path.join(work, "tables")
            gen_tables.generate(a.seed, CURATION_SCALE, tables)
            warm = os.path.join(work, "warm-tables")
            gen_tables.generate(a.seed + 1, WARM_SCALE, warm)
            datagen_s = time.time() - t0
            jvm_args += ["--tables", tables, "--warm-tables", warm]
        res = run_jvm(classes, work, jvm_args, deadline)
        m = res["metrics"]
        if a.workload == "curation_batch":
            m["setup.datagen_s"] = datagen_s
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])

        if a.workload == "curation_batch":
            checked, bad = check_curation(tables, os.path.join(work, "curation-out"), deadline)
            attempted += checked
            failed += len(bad)
            failures += bad

        m["setup_s"] = sum(m.get(k, 0.0) for k in
                           ("setup.session_s", "setup.datagen_s", "setup.warmup_s"))
        m["error_rate"] = failed / max(attempted, 1)
        info = res["info"]
        info.update({"load1_start_outer": load_start, "load1_end_outer": load1(),
                     "wall_s": round(time.time() - t_start, 1)})
        log(f"{a.workload} seed={a.seed} trace={a.trace} "
            + " ".join(f"{k}={v}" for k, v in info.items()))
        for k in sorted(m):
            log(f"  {k} = {m[k]:.6g}")
        log(f"  attempted={attempted} failed={failed} error_rate={m['error_rate']:.4g}")
        for why in failures:
            log(f"  FAILED {why}")

        metrics = {x["name"]: {"value": float(m.get(x["name"], 0.0)), "unit": x["unit"]}
                   for x in wanted}
        missing = [x["name"] for x in spec["end_to_end"] if x["name"] not in m]
        if not a.trace and missing:
            raise RuntimeError(f"end-to-end metrics not measured: {missing}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    except Exception as e:
        log(f"run failed: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())

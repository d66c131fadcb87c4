#!/usr/bin/env python3
"""The graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the library and
the harness (perfbench/build.py). Each run gets a fresh directory under
`.bench_build/runs/` holding its own copy of the sf0.1 tables, Spark
warehouse, local and checkpoint directories. What stays there after the
run: `result.json` (every metric, the correctness checks, run details),
`spans.jsonl` (traced runs) and `jvm.log`.

The last line on standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}} with
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

Maintenance: `--make-digests --results <dir>` records the expected result
digests of the batch workloads and writes each result as parquet in the
layout `tools/check.py` compares against the DuckDB oracle.
"""
import argparse
import datetime
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def data_dir(scale: str) -> str:
    """The generated tables at `scale`: SPARK_GRAFT_SF_DIR if set, else the
    directory TESTDATA.md lists for that scale factor."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        for line in f:
            m = re.match(r"\|\s*" + re.escape(scale) + r"\s*\|\s*`([^`]+)`", line)
            if m:
                return m.group(1).rstrip("/")
    raise SystemExit(f"run: no sf{scale} directory in TESTDATA.md")


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-digests", action="store_true")
    ap.add_argument("--results")
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    w = cfg["workloads"].get(a.workload)
    if w is None:
        raise SystemExit(f"run: unknown workload {a.workload!r}")
    classpath = build.build()

    stamp = datetime.datetime.now().strftime("%Y%m%d-%H%M%S-%f")
    out = os.path.join(build.BUILD, "runs",
                       f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}")
    data = os.path.join(out, "data")
    os.makedirs(os.path.join(out, "tmp"))
    os.makedirs(data)
    src = data_dir(cfg["data_scale"])
    for name in sorted(os.listdir(src)):
        if name.endswith(".parquet"):
            shutil.copy2(os.path.join(src, name), data)

    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", out, "--data", data, "--cpus", str(cfg["cpus"]),
            "--queries", ",".join(w.get("queries", [])),
            "--digests", os.path.join(HERE, "expected_digests.json")]
    for k, v in w.get("params", {}).items():
        args += ["--p." + k, str(v)]
    if a.make_digests:
        args += ["--make-digests", "1"]
    if a.results:
        args += ["--results", os.path.abspath(a.results)]
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # A fixed-size heap: heap growth decisions otherwise differ from JVM
    # to JVM and show up as run-to-run spread.
    cmd = (["java", f"-Xms{cfg['heap']}", f"-Xmx{cfg['heap']}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={out}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", classpath, "graftbench.Main"] + args)

    t0 = time.time()
    ticks0 = cpu_ticks()
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    for d in os.listdir(out):
        if d not in ("result.json", "spans.jsonl", "jvm.log"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    rel = os.path.relpath(out, ROOT)
    if code is None:
        print(f"run: timed out after {TIMEOUT_S}s; see {rel}/jvm.log", file=sys.stderr)
        return 1
    result_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_file):
        print(f"run: harness exited with {code}; see {rel}/jvm.log", file=sys.stderr)
        return 1
    with open(result_file) as f:
        rec = json.load(f)
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests during the run: the
        # first thing to look at when wall-clock figures spread.
        rec["info"]["host_steal_pct"] = 100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        with open(result_file, "w") as f:
            json.dump(rec, f)
    for msg in rec["failures"][:20]:
        print(f"check failed: {msg}", file=sys.stderr)
    # The result line carries exactly the metrics BENCHMARK.json names.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    measured = rec["per_layer" if a.trace else "end_to_end"]
    names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names
               if not isinstance(v := measured.get(n, {}).get("value"), (int, float))
               or isinstance(v, bool) or not math.isfinite(v)]
    if missing:
        print(f"run: no value for {missing}; see {rel}/result.json", file=sys.stderr)
        return 1
    print(f"record: {rel}/result.json ({time.time() - t0:.1f}s)")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"],
                      "metrics": {n: measured[n] for n in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

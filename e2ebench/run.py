#!/usr/bin/env python3
"""End-to-end benchmark of graft's xova CLI and curation pipeline.

    python3 e2ebench/run.py --workload tc_rows|bda_chans|curation \
        --seed N --seconds S --trace 0|1 [--probe avg_uvw|state_bytes]

Run from the repository root. Builds the program from source (build.py),
generates the workload's input from the seed (cached by seed and shape),
then starts one fresh JVM that sets up a Spark session, makes one cold
pass and steady passes for S seconds, and checks every pass's output.
The last stdout line is the result JSON; the line before it carries the
run metadata. README.md in this directory defines every metric.
"""
import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# Input shapes. The sizes are set by the time budget: every run starts a
# fresh JVM (about 5 s to a ready session) and pays a cold pass (about
# 3x a warm one) before its steady passes; see README.md. bda_chans is
# not in BENCHMARK.json (a run of even this 32-antenna shape takes 60-130 s
# on 4 cores) and is run by hand.
WORKLOADS = {
    "tc_rows": {"nant": 64, "ntime": 4, "nscans": 1},
    "bda_chans": {"nant": 32, "ntime": 8, "nscans": 2},
    "curation": {"docs": 10000},
}
# steady passes per run at least (a traced run interleaves untraced and
# traced passes, so it needs two of each)
MIN_PASSES = {0: 2, 1: 4}
HEAP = "2g"
GEN_TIMEOUT_S = 60
RUN_TIMEOUT_S = 110
# Spark 4 on JDK 17 outside spark-submit (the list build.sbt passes)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Sensitivity probes (README.md): settings that exist in the program today.
PROBES = {
    # skips the fixms rewrite: ops.fixms.* read 0, disk_write_mb drops by the rewrite
    "avg_uvw": {"extra": "--average-uvw-coordinates"},
    # a 4 MB aggregation-state budget derives an exchange wider than the
    # session's, so a repartition replaces the map-side combine
    "state_bytes": {"conf": "spark.graft.avg.statePartitionBytes=4194304"},
}


def jvm(classpath, work, args, log, timeout):
    """Run the benchmark JVM; return its stdout. -XX:-UsePerfData keeps the
    JVM from writing its perf-data file outside the checkout."""
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.e2ebench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(log, "a") as err:
        cmd += ["--launched", str(int(time.time() * 1000))]
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM ({args['mode']}) exceeded {timeout} s")
    if r.returncode != 0:
        tail = Path(log).read_text()[-3000:]
        raise SystemExit(f"benchmark JVM ({args['mode']}) exited {r.returncode}:\n{tail}")
    return r.stdout


def git_sha(root):
    if not (root / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--probe", choices=sorted(PROBES))
    a = ap.parse_args()
    if a.seed < 0:
        ap.error("--seed must be >= 0")

    root = Path.cwd().resolve()
    bdir = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    bdir = (bdir if bdir.is_absolute() else root / bdir).resolve()
    bdir.mkdir(parents=True, exist_ok=True)
    _, classpath = build.build(root, bdir)

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[a.workload]
    work = bdir / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = bdir / "jvm.log"
    log.write_text("")
    common = {"cores": cores, "work": work}

    # input, cached by (build, workload shape, seed): the generator calls
    # program code, so a rebuilt program regenerates its inputs.
    # Generated outside every metric.
    shape = "-".join(f"{k}{v}" for k, v in sorted(wl.items()))
    inputs = bdir / "inputs" / build.stamp(bdir)[:12]
    for old in (bdir / "inputs").glob("*"):
        if old != inputs:
            shutil.rmtree(old, ignore_errors=True)
    inp = inputs / f"{a.workload}-{shape}-s{a.seed}"
    if not (inp / "input.json").is_file():
        shutil.rmtree(inp, ignore_errors=True)
        tmp = inp.with_name(inp.name + ".tmp")
        inputs.mkdir(parents=True, exist_ok=True)
        shutil.rmtree(tmp, ignore_errors=True)
        gen = {"mode": "gen", "workload": a.workload, "seed": a.seed, "out": tmp}
        if a.workload == "curation":
            gen["sf1"] = root / "fixtures" / "sf1"
        gen.update(wl)
        jvm(classpath, work, {**common, **gen}, log, GEN_TIMEOUT_S)
        tmp.rename(inp)
    facts = json.loads((inp / "input.json").read_text())

    probe = PROBES.get(a.probe, {})
    run = {"mode": "run", "workload": a.workload, "input": inp,
           "seconds": a.seconds, "trace": a.trace, "min_passes": MIN_PASSES[a.trace],
           "rows": facts["rows"], "extra": probe.get("extra", ""),
           "conf": probe.get("conf", "")}
    if a.workload == "tc_rows":
        # cross baselines x 2 DDIDs x scans x 8 s bins of 2 s dumps per scan
        bins = -(-(wl["ntime"] // wl["nscans"]) // 4)
        run["expect_rows"] = wl["nant"] * (wl["nant"] - 1) // 2 * 2 * wl["nscans"] * bins
    out = jvm(classpath, work, {**common, **run}, log, RUN_TIMEOUT_S)
    res = json.loads([l for l in out.splitlines() if l.startswith("RESULT ")][-1][7:])
    shutil.rmtree(work, ignore_errors=True)

    wall = median(res["wall"])
    if a.trace:
        metrics = {k: (median(v), unit_of(k)) for k, v in res["layers"].items()}
        metrics["trace_overhead_s"] = (median(res["traced_wall"]) - wall, "s")
    else:
        metrics = {
            "wall_s": (wall, "s"),
            "cold_wall_s": (res["cold_wall"], "s"),
            "setup_s": (res["setup"], "s"),
            "rows_per_s": (facts["rows"] / wall, "rows/s"),
            "cpu_s": (median(res["cpu"]), "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
            "disk_write_mb": (median(res["write_mb"]), "MB"),
        }
    meta = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "probe": a.probe, "nproc": cores,
        "master": f"local[{cores}]", "xmx": HEAP, "jvm": res["jvm"],
        "spark": res["spark"], "git_sha": git_sha(root),
        "python": platform.python_version(), "input": facts,
        "passes": res["passes"], "cold_wall_s": res["cold_wall"],
        "wall_samples": res["wall"],
        "digest": res["digest"], "failures": res["failures"],
    }
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": not res["failures"] and res["failed"] == 0,
        "attempted": res["passes"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if last in ("jobs", "tasks", "codegen_compiles"):
        return "count"
    return "ratio"


if __name__ == "__main__":
    main()

"""map2db end-to-end benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The benchmark generates the workload's
map from the seed (``genmap.py``; outside every timed window and
outside ``setup_s``), then drives ``pipeline.map2db`` in one process at
``local[<cores>]``:

``--trace 0``  set-up, one cold conversion (it also warms the JIT), then
               conversions for ``--seconds`` seconds, at least
               ``MIN_TIMED``; medians of the timed conversions are
               reported.
``--trace 1``  the layer-by-layer run of ``trace_run.py``.

Host steal on a shared machine stretches wall time by tens of percent
(on a shared 4-vCPU host, up to 48% of the CPU was stolen during single
conversions), so
every reported time (``wall_s``, ``cold_wall_s``, ``setup_s``, and
``features_per_s`` through ``wall_s``) is steal-adjusted: the measured
wall scaled by cpu / (cpu + steal) over the same window, where cpu is
the process tree's CPU time and steal the host's ``/proc/stat`` steal
delta.  Raw wall, steal and load sit beside it in each record.

Every conversion's output is read back and checked against the
generator's per-table counts and the canonical digest recorded for the
seed in ``digests.json`` (for a seed not recorded there, against the
run's first conversion).  A conversion that raises or mismatches counts
as failed.  The last line of stdout is the result object; earlier lines
hold one record per conversion with the host steal and load around it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path[:0] = [str(HERE), str(ROOT)]

import outcheck  # noqa: E402
import procstat  # noqa: E402

STEAL_AT_START = procstat.steal_s()

MIN_TIMED = 2


def process_age_s() -> float:
    """Seconds since this process started (resolution: one clock tick)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return uptime - start_ticks / procstat.HZ


def prepare_env() -> None:
    """Keep every file Spark, the JVM and tempfile write inside WORK,
    and size the session to this host's cores."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData: no hsperfdata file under /tmp from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def adjusted(wall: float, cpu: float, steal: float) -> float:
    """Wall time scaled to the CPU the host delivered: of the cpu + steal
    CPU-seconds the process tree was runnable for, the hypervisor ran
    only cpu.  Equals wall when nothing is stolen."""
    return wall * cpu / (cpu + steal) if cpu > 0 else wall


def start_session():
    """get_spark (incl. package shipping); returns (spark, setup) where
    setup holds the raw and steal-adjusted seconds from process start to
    session ready."""
    from map2db_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    raw = process_age_s()
    cpu, steal = procstat.tree_cpu_s(), procstat.steal_s() - STEAL_AT_START
    return spark, {"raw_s": raw, "cpu_s": cpu, "steal_s": steal,
                   "wait_s": procstat.tree_wait_s(), "adj_s": adjusted(raw, cpu, steal)}


def stop_session(spark) -> None:
    """Stop the session and its gateway JVM, then wait until the JVM and
    every process under it (the pyspark daemon and workers) has ended."""
    from pyspark import SparkContext

    started = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes did not exit")
        time.sleep(0.05)


def load_map(workload: str, seed: int, side: int | None = None) -> tuple[str, dict]:
    """Generate (or reuse) the seeded map; returns (path, metadata).
    Cached maps are keyed by the generator's source, so an edited
    generator never reuses a stale map."""
    import genmap

    maps = WORK / "maps"
    maps.mkdir(parents=True, exist_ok=True)
    stem = maps / f"{workload}-{seed}-{side or 'full'}-{generator_hash()}"
    path, meta_path = f"{stem}.map", Path(f"{stem}.json")
    if not meta_path.exists():
        meta = genmap.generate(workload, seed, path, side)
        meta_path.write_text(json.dumps(meta))
    return path, json.loads(meta_path.read_text())


def generator_hash() -> str:
    return hashlib.sha256((HERE / "genmap.py").read_bytes()).hexdigest()[:12]


def recorded_digest(workload: str, seed: int) -> str | None:
    """The digest recorded for this seed by record_digests.py, if any."""
    table = json.loads((HERE / "digests.json").read_text())
    if table.get("generator") != generator_hash():
        raise RuntimeError("digests.json was recorded for another genmap.py;"
                           " re-record it with record_digests.py")
    return table["digests"].get(workload, {}).get(str(seed))


class Checker:
    """Per-conversion output check: generator counts + canonical digest."""

    def __init__(self, meta: dict, digest: str | None):
        self.expected = meta["expected_counts"]
        self.digest = digest

    def problems(self, summary: dict) -> list[str]:
        out = []
        if summary["counts"] != self.expected:
            out.append(f"counts {summary['counts']} != expected {self.expected}")
        if self.digest is None:
            self.digest = summary["digest"]
        elif summary["digest"] != self.digest:
            out.append(f"digest {summary['digest'][:16]} != {self.digest[:16]}")
        return out


def out_paths(workload: str, sink: str) -> tuple[str, str]:
    (WORK / "out").mkdir(parents=True, exist_ok=True)
    out = WORK / "out" / (f"{workload}.db" if sink == "sqlite" else workload)
    return str(out), str(out) + ".config.toml"


def clear(*paths: str) -> None:
    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)


def convert(spark, src: str, meta: dict, checker: Checker) -> dict:
    """One timed map2db conversion + its (untimed) output check."""
    from map2db_spark.pipeline import map2db

    sink = meta["sink"]
    out, config = out_paths(meta["workload"], sink)
    clear(out, config)
    procstat.reset_hwm()
    steal0, load0, cpu0 = procstat.steal_s(), procstat.load1(), procstat.tree_cpu_s()
    wait0 = procstat.tree_wait_s()
    t0 = time.perf_counter()
    error = None
    try:
        map2db(spark, src, out, sink)
    except Exception as exc:  # a failed conversion is counted, not fatal
        error = f"{type(exc).__name__}: {exc}"
    wall = time.perf_counter() - t0
    cpu, steal = procstat.tree_cpu_s() - cpu0, procstat.steal_s() - steal0
    sample = {
        "wall_s": wall,
        "wall_adj_s": adjusted(wall, cpu, steal),
        "cpu_s": cpu,
        "steal_s": steal,
        "wait_s": procstat.tree_wait_s() - wait0,
        "load1": [load0, procstat.load1()],
        "driver_peak_rss_mb": procstat.hwm_mb(),
    }
    if error is None:
        sample["output_bytes"] = outcheck.output_bytes(out, config)
        summary = outcheck.read_output(sink, out)
        sample["rows"] = sum(summary["counts"].values())
        sample["problems"] = checker.problems(summary)
    else:
        sample["problems"] = [error]
    return sample


def end_to_end(workload: str, seed: int, seconds: float) -> dict:
    spark, setup = start_session()
    src, meta = load_map(workload, seed)
    checker = Checker(meta, recorded_digest(workload, seed))
    samples = []

    def run(phase: str) -> dict:
        s = convert(spark, src, meta, checker)
        s["phase"] = phase
        samples.append(s)
        print(json.dumps(s), flush=True)
        return s

    cold = run("cold")
    timed = []
    t_end = time.perf_counter() + seconds
    while len(timed) < MIN_TIMED or time.perf_counter() < t_end:
        timed.append(run("timed"))
    stop_session(spark)

    failed = sum(1 for s in samples if s["problems"])
    good = [s for s in timed if not s["problems"]] or timed

    def med(key: str) -> float:
        vals = [s[key] for s in good if key in s]
        return statistics.median(vals) if vals else 0.0

    wall = med("wall_adj_s")
    metrics = {
        "wall_s": (wall, "s"),
        "features_per_s": (med("rows") / wall, "features/s"),
        "cpu_s": (med("cpu_s"), "CPU-s"),
        "cold_wall_s": (cold["wall_adj_s"], "s"),
        "setup_s": (setup["adj_s"], "s"),
        "driver_peak_rss_mb": (med("driver_peak_rss_mb"), "MB"),
        "output_bytes": (med("output_bytes"), "bytes"),
    }
    print(json.dumps({"input": meta, "setup": setup}), flush=True)
    return {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "map2db_spark" / "pipeline.py").is_file():
        print(f"map2db_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    prepare_env()
    import genmap

    if args.workload not in genmap.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(genmap.WORKLOADS)}")
    if args.trace:
        import trace_run

        result = trace_run.traced(args.workload, args.seed)
    else:
        result = end_to_end(args.workload, args.seed, args.seconds)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

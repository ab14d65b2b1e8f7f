"""Layer-by-layer traced run (``run.py --trace 1``).

The run composes the pipeline from the package's public functions, the
way ``pipeline.map2db`` does, and times each call from outside the
package:

- before each layer is called, its input is materialized with
  ``localCheckpoint``, so a layer's span holds only its own work;
- each call runs under its own ``setJobGroup``; that group's stage and
  task metrics are read from the status store
  (``sc._jsc.sc().statusStore()``, which works with the UI disabled).
  Its ``executorCpuTime`` counts JVM threads only, so each span also
  records the CPU of the whole process tree (``*.tree_cpu_s``), which
  includes the Python workers that run the decode, consolidate and
  merge kernels;
- the decode kernel is also timed in this process, on one core, over
  every non-empty tile (byte parse vs geometry prep);
- spans and counters stay in memory and are written to
  ``.work/trace-<workload>-<seed>.json`` when the run ends.

Before the traced pass the run makes one cold and one untraced warm
conversion; ``trace.overhead_s`` is the sum of the traced layer spans
minus that untraced ``wall_s``.  The traced output is checked like every
other conversion, and on SQLite workloads the same final rows are also
written through the parquet sink and must give the same digest.
"""

from __future__ import annotations

import json
import sqlite3
import statistics
import time

import outcheck
import procstat
import run as bench
from pyspark.sql import functions as F

from map2db_spark.operators.consolidate import assign_ids, consolidate
from map2db_spark.operators.decode import parse_tile_payload, tile_feature_rows
from map2db_spark.operators.linemerge import merge_lines, merge_stats
from map2db_spark.pipeline import load_features
from map2db_spark.sinks import sqlite_sink
from map2db_spark.sinks.parquet_sink import write_manifest, write_parquet
from map2db_spark.sinks.toml_sink import write_config
from map2db_spark.sources.header import build_manifest, nonempty, read_header

# metric -> unit, in report order; every name is always reported, and a
# layer a workload bypasses reads 0
METRICS = {
    "session.get_spark_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "header.read_header_s": "s",
    "header.manifest_s": "s",
    "header.tiles": "count",
    "header.tiles_nonempty": "count",
    "decode.wall_s": "s",
    "decode.executor_cpu_s": "CPU-s",
    "decode.executor_run_s": "s",
    "decode.tree_cpu_s": "CPU-s",
    "decode.tasks": "count",
    "decode.task_max_s": "s",
    "decode.task_median_s": "s",
    "decode.features_out": "count",
    "decode.rejects": "count",
    "decode_kernel.parse_s": "s",
    "decode_kernel.prep_s": "s",
    "decode_kernel.features_per_s": "features/s",
    "consolidate.wall_s": "s",
    "consolidate.executor_cpu_s": "CPU-s",
    "consolidate.tree_cpu_s": "CPU-s",
    "consolidate.shuffle_write_bytes": "bytes",
    "consolidate.rows_in": "count",
    "consolidate.rows_out": "count",
    "consolidate.multi_groups": "count",
    "consolidate.violations": "count",
    "assign_ids.wall_s": "s",
    "linemerge.wall_s": "s",
    "linemerge.executor_cpu_s": "CPU-s",
    "linemerge.tree_cpu_s": "CPU-s",
    "linemerge.lines_in": "count",
    "linemerge.still_multi": "count",
    "sink.wall_s": "s",
    "sink.executor_cpu_s": "CPU-s",
    "sink.tree_cpu_s": "CPU-s",
    "sink.driver_s": "s",
    "sink.vtag_order_s": "s",
    "sink.toml_s": "s",
    "sink.bytes": "bytes",
    "trace.steal_s": "CPU-s",
    "trace.overhead_s": "s",
}


class Tracer:
    """In-memory spans; each span is one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    def span(self, name: str, fn, *args):
        """Run fn(*args) as span ``name``; returns fn's result."""
        group = f"perfbench.{name}.{len(self.spans)}"
        self.sc.setJobGroup(group, name, False)
        steal0, cpu0 = procstat.steal_s(), procstat.tree_cpu_s()
        t0 = time.time()
        try:
            result = fn(*args)
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.append({
            "name": name, "group": group, "start": t0, "end": t1,
            "wall_s": t1 - t0, "steal_s": procstat.steal_s() - steal0,
            "tree_cpu_s": procstat.tree_cpu_s() - cpu0,
            **stage_metrics(self.sc, group),
        })
        return result

    def total(self, prefix: str, key: str = "wall_s") -> float:
        return sum(s[key] for s in self.spans if s["name"].startswith(prefix))

    def driver_s(self, name: str) -> float:
        """Call wall minus the wall its stages span (union of intervals)."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            covered, cur = 0.0, None
            for a, b in sorted(s["stage_intervals"]):
                if cur is None or a > cur[1]:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur:
                covered += cur[1] - cur[0]
            total += max(0.0, s["wall_s"] - covered)
        return total


def stage_metrics(sc, group: str) -> dict:
    """Stage and task metrics of one job group from the status store."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids = sorted({sid for job in tracker.getJobIdsForGroup(group)
                        for sid in tracker.getJobInfo(job).stageIds})
    out = {"executor_cpu_s": 0.0, "executor_run_s": 0.0, "shuffle_write_bytes": 0,
           "stage_intervals": [], "last_stage_task_s": []}
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue  # skipped: its output was reused
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        sub, comp = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and comp.isDefined():
            out["stage_intervals"].append(
                (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
        out["last_stage_task_s"] = [
            tasks.apply(i).duration().get() / 1e3 for i in range(tasks.size())
            if tasks.apply(i).duration().isDefined()
        ]
    return out


def kernel_in_process(src: str, header, manifest) -> dict:
    """Decode every non-empty tile in this process on one core: once
    parse only, once parse + geometry prep."""
    tiles = []
    with open(src, "rb") as f:
        for r in manifest.itertuples(index=False):
            f.seek(r.offset)
            tiles.append((f.read(r.end_offset - r.offset), int(r.level),
                          int(r.minzoom), int(r.maxzoom), int(r.tile_x), int(r.tile_y)))
    t0 = time.process_time()
    for buf, lv, mnz, mxz, tx, ty in tiles:
        parse_tile_payload(buf, lv, mnz, mxz, tx, ty, header.ptags, header.wtags,
                           header.debuginfo)
    parse_s = time.process_time() - t0
    t0 = time.process_time()
    features = 0
    for buf, lv, mnz, mxz, tx, ty in tiles:
        rows = tile_feature_rows(buf, lv, mnz, mxz, tx, ty, header.ptags,
                                 header.wtags, header.debuginfo, header.is_dbl)
        features += sum(1 for r in rows if r[0] != "reject")
    full_s = time.process_time() - t0
    return {"decode_kernel.parse_s": parse_s,
            "decode_kernel.prep_s": full_s - parse_s,
            "decode_kernel.features_per_s": features / full_s}


def traced_layers(spark, tr: Tracer, src: str, meta: dict) -> dict:
    """The traced pass; returns its counters."""
    sink = meta["sink"]
    out, config = bench.out_paths(meta["workload"], sink)
    bench.clear(out, config)
    c: dict = dict.fromkeys(METRICS, 0)

    header = tr.span("header.read_header", read_header, src)
    manifest = tr.span("header.manifest",
                       lambda: nonempty(build_manifest(spark, src, header)).localCheckpoint())
    c["header.tiles"] = sum(sf.tile_count for sf in header.subfiles)
    c["header.tiles_nonempty"] = manifest.count()

    raw = tr.span("decode", lambda: load_features(spark, src, header).localCheckpoint())
    c["decode.rejects"] = raw.where(F.col("ftype") == "reject").count()
    feats = raw.where(F.col("ftype") != "reject").localCheckpoint()
    c["decode.features_out"] = feats.count()

    if header.is_dbl:
        cons = tr.span("consolidate", lambda: consolidate(feats, header).localCheckpoint())
        c["consolidate.rows_in"] = feats.where("fid IS NOT NULL").count()
        c["consolidate.rows_out"] = cons.count()
        c["consolidate.multi_groups"] = (
            feats.groupBy("ftype", "fid").count().where("count > 1").count())
        c["consolidate.violations"] = cons.where("violation IS NOT NULL").count()
        lines = cons.where(F.col("ftype") == "line").localCheckpoint()
        c["linemerge.lines_in"] = lines.count()
        merged = tr.span("linemerge", lambda: merge_lines(lines).localCheckpoint())
        c["linemerge.still_multi"] = int(
            merge_stats(merged).collect()[0]["multi_count2"] or 0)
        final = cons.where(F.col("ftype") != "line").unionByName(
            merged.drop("was_multi", "still_multi_after_merge",
                        "still_multi_after_snap", "has_loop")).localCheckpoint()
    else:
        final = tr.span("assign_ids", lambda: assign_ids(feats).select(
            "ftype", "fid", "level", "minz", "maxz", "layer", "tags", "vtags", "geom",
            F.lit(None).cast("string").alias("violation")).localCheckpoint())

    vtag_cols = tr.span("sink.vtag_order", sqlite_sink.vtag_key_order, feats)
    if sink == "sqlite":
        with sqlite3.connect(out) as dbc:
            dbc.execute("PRAGMA journal_mode=MEMORY;")
            dbc.execute("PRAGMA synchronous=OFF;")
            sqlite_sink.prepare_db(dbc)
            tr.span("sink.metadata", sqlite_sink.write_metadata, dbc, header, src)
            tr.span("sink.write_features", sqlite_sink.write_features, dbc, final,
                    vtag_cols)
            sqlite_sink.finalize(dbc)
        c["sink.driver_s"] = tr.driver_s("sink.write_features")
    else:
        tr.span("sink.write_parquet", write_parquet, final, out)
        tr.span("sink.metadata", write_manifest, out, src, header, vtag_cols)
        c["sink.driver_s"] = tr.driver_s("sink.write_parquet")
    if header.is_dbl:
        seen: list[str] = []
        for ftype in ("point", "line", "area"):
            seen += [k for k in vtag_cols.get(ftype, []) if k not in seen]
        tr.span("sink.toml", write_config, config, out, header.dbl_license, header, seen)
    c["sink.bytes"] = outcheck.output_bytes(out, config)
    return {"counters": c, "final": final, "out": out, "header": header,
            "manifest": manifest}


def trace_file(workload: str, seed: int, side: int | None = None):
    return bench.WORK / f"trace-{workload}-{seed}{f'-side{side}' if side else ''}.json"


def traced(workload: str, seed: int) -> dict:
    spark, setup = bench.start_session()
    try:
        return report(spark, setup["raw_s"], workload, seed)
    finally:
        bench.stop_session(spark)


def report(spark, setup_s: float, workload: str, seed: int, side: int | None = None) -> dict:
    """Untraced conversions, the traced pass and the in-process kernel
    on one session; returns the result object."""
    jvm = procstat.jvm_pid()
    src, meta = bench.load_map(workload, seed, side)
    checker = bench.Checker(meta, None if side else bench.recorded_digest(workload, seed))
    samples = [bench.convert(spark, src, meta, checker) for _ in range(2)]
    untraced_wall = samples[-1]["wall_s"]

    tr = Tracer(spark)
    res = traced_layers(spark, tr, src, meta)
    c = res["counters"]
    problems = [p for s in samples for p in s["problems"]]
    traced_out = outcheck.read_output(meta["sink"], res["out"])
    problems += [f"traced: {p}" for p in checker.problems(traced_out)]
    if meta["sink"] == "sqlite":
        # sink parity at benchmark scale: the same final rows via parquet
        pq_out = str(bench.WORK / "out" / f"{workload}.parity")
        bench.clear(pq_out)
        write_parquet(res["final"], pq_out)
        if outcheck.read_output("parquet", pq_out)["digest"] != traced_out["digest"]:
            problems.append("sink parity: parquet digest != sqlite digest")

    kernel = kernel_in_process(src, res["header"], res["manifest"].toPandas())

    decode = next(s for s in tr.spans if s["name"] == "decode")
    tasks = decode["last_stage_task_s"]
    c.update(kernel)
    c.update({
        "session.get_spark_s": setup_s,
        "session.jvm_peak_rss_mb": procstat.hwm_mb(jvm) if jvm else 0.0,
        "header.read_header_s": tr.total("header.read_header"),
        "header.manifest_s": tr.total("header.manifest"),
        "decode.wall_s": decode["wall_s"],
        "decode.executor_cpu_s": decode["executor_cpu_s"],
        "decode.executor_run_s": decode["executor_run_s"],
        "decode.tree_cpu_s": decode["tree_cpu_s"],
        "decode.tasks": len(tasks),
        "decode.task_max_s": max(tasks, default=0.0),
        "decode.task_median_s": statistics.median(tasks) if tasks else 0.0,
        "consolidate.wall_s": tr.total("consolidate"),
        "consolidate.executor_cpu_s": tr.total("consolidate", "executor_cpu_s"),
        "consolidate.tree_cpu_s": tr.total("consolidate", "tree_cpu_s"),
        "consolidate.shuffle_write_bytes": tr.total("consolidate", "shuffle_write_bytes"),
        "assign_ids.wall_s": tr.total("assign_ids"),
        "linemerge.wall_s": tr.total("linemerge"),
        "linemerge.executor_cpu_s": tr.total("linemerge", "executor_cpu_s"),
        "linemerge.tree_cpu_s": tr.total("linemerge", "tree_cpu_s"),
        "sink.wall_s": tr.total("sink."),
        "sink.executor_cpu_s": tr.total("sink.", "executor_cpu_s"),
        "sink.tree_cpu_s": tr.total("sink.", "tree_cpu_s"),
        "sink.vtag_order_s": tr.total("sink.vtag_order"),
        "sink.toml_s": tr.total("sink.toml"),
        "trace.steal_s": tr.total("", "steal_s"),
        "trace.overhead_s": tr.total("") - untraced_wall,
    })

    trace_path = trace_file(workload, seed, side)
    trace_path.write_text(json.dumps(
        {"input": meta, "untraced_wall_s": untraced_wall, "spans": tr.spans,
         "counters": c, "problems": problems}, indent=1))
    print(json.dumps({"input": meta, "problems": problems, "trace": str(trace_path)}),
          flush=True)
    attempted = len(samples) + 1
    failed = sum(1 for s in samples if s["problems"]) + (
        1 if any(p.startswith(("traced", "sink parity")) for p in problems) else 0)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": c[k], "unit": u} for k, u in METRICS.items()},
    }

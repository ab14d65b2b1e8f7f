"""The benchmark's own tests:  python3 -m pytest perfbench -q

Small maps (``side`` z10 tiles per edge) keep them quick; the traced
run shares one Spark session across workloads.
"""

from __future__ import annotations

import collections
import hashlib
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import genmap  # noqa: E402
import run as bench  # noqa: E402

SIDE = 8


def _sha(path: str) -> str:
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


@pytest.mark.parametrize("workload", sorted(genmap.WORKLOADS))
def test_generator_is_byte_deterministic_per_seed(workload, tmp_path):
    a = genmap.generate(workload, 3, str(tmp_path / "a.map"), SIDE)
    b = genmap.generate(workload, 3, str(tmp_path / "b.map"), SIDE)
    c = genmap.generate(workload, 4, str(tmp_path / "c.map"), SIDE)
    assert _sha(tmp_path / "a.map") == _sha(tmp_path / "b.map") == a["map_sha256"]
    assert a == b
    assert c["map_sha256"] != a["map_sha256"]


@pytest.mark.parametrize("workload", sorted(genmap.WORKLOADS))
def test_expected_counts_hold_for_the_decoder(workload, tmp_path):
    """The generator's by-construction counts equal what the decode
    kernel keeps: every feature survives, none is rejected."""
    from map2db_spark.operators.decode import tile_feature_rows
    from map2db_spark.sources.header import read_header

    path = str(tmp_path / "m.map")
    meta = genmap.generate(workload, 5, path, SIDE)
    header = read_header(path)
    data = Path(path).read_bytes()
    rows = collections.Counter()
    fids = collections.defaultdict(set)
    for sf in header.subfiles:
        base = sf.offset
        offs = [int.from_bytes(data[base + 5 * i: base + 5 * i + 5], "big") & 0x7F_FFFF_FFFF
                for i in range(sf.tile_count)] + [sf.length]
        for i in range(sf.tile_count):
            buf = data[base + offs[i]: base + offs[i + 1]]
            if not buf:
                continue
            tx = sf.minx + i % sf.x_count
            ty = sf.miny + i // sf.x_count
            for r in tile_feature_rows(buf, sf.level, sf.minzoom, sf.maxzoom, tx, ty,
                                       header.ptags, header.wtags, header.debuginfo,
                                       header.is_dbl):
                rows[r[0]] += 1
                fids[r[0]].add(r[1])
    assert rows["reject"] == 0
    got = {f"{k}s": (len(fids[k]) if meta["dbl"] else rows[k])
           for k in ("point", "line", "area")}
    assert got == meta["expected_counts"]
    assert meta["features"] == sum(got.values())
    if workload == "dbl_crosstile_sqlite":
        assert meta["sightings"] > meta["features"]  # cross-tile + multi-level


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nondbl_parquet",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def traced_results():
    bench.prepare_env()
    import trace_run

    spark, setup = bench.start_session()
    try:
        yield {w: trace_run.report(spark, setup["raw_s"], w, 1, SIDE)
               for w in genmap.WORKLOADS}
    finally:
        bench.stop_session(spark)


def test_traced_run_reports_every_layer_metric(traced_results):
    import trace_run

    for workload, res in traced_results.items():
        assert res["correct"], workload
        assert res["failed"] == 0
        assert set(res["metrics"]) == set(trace_run.METRICS), workload
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert "trace.overhead_s" in m
        for key in ("decode.wall_s", "decode.features_out", "decode.tasks",
                    "decode_kernel.parse_s", "decode_kernel.features_per_s",
                    "sink.wall_s", "sink.vtag_order_s", "sink.bytes",
                    "header.tiles_nonempty", "session.get_spark_s"):
            assert m[key] > 0, (workload, key)


def test_bypassed_layers_read_zero(traced_results):
    m = {w: {k: v["value"] for k, v in r["metrics"].items()}
         for w, r in traced_results.items()}
    cross, tiled, nondbl = (m["dbl_crosstile_sqlite"], m["dbl_tiled_parquet"],
                            m["nondbl_parquet"])
    assert cross["consolidate.multi_groups"] > 0
    assert tiled["consolidate.multi_groups"] == 0
    assert tiled["consolidate.rows_in"] == tiled["consolidate.rows_out"] > 0
    for key in ("linemerge.wall_s", "linemerge.lines_in", "linemerge.still_multi",
                "consolidate.wall_s", "consolidate.rows_in"):
        assert nondbl[key] == 0, key
    assert nondbl["assign_ids.wall_s"] > 0
    assert cross["assign_ids.wall_s"] == tiled["assign_ids.wall_s"] == 0
    assert nondbl["sink.toml_s"] == 0 and cross["sink.toml_s"] > 0


def test_sqlite_drain_only_on_sqlite_workloads(traced_results):
    """The write_features span (the SQLite drain) exists only where the
    sink is SQLite; every workload orders vtag keys."""
    import json

    import trace_run

    for workload in traced_results:
        spans = json.loads(trace_run.trace_file(workload, 1, SIDE).read_text())["spans"]
        names = {s["name"] for s in spans}
        assert "sink.vtag_order" in names
        has_drain = "sink.write_features" in names
        assert has_drain == (genmap.WORKLOADS[workload].sink == "sqlite"), workload

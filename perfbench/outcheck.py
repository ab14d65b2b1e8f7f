"""Read a conversion's output back and reduce it to per-table counts and
a canonical digest that does not depend on the sink.

A row's canonical form is (table, fid, level, minz, maxz, layer, tags,
vtags, geom WKB): tags as their JSON list, vtags as sorted (key, text)
pairs, the geometry as hex.  The digest is the SHA-256 of the sorted
rows, so the SQLite database and the parquet dataset of one conversion
give the same digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import sqlite3

TABLES = ("points", "lines", "areas")
PK = {"points": "m2db_pnum", "lines": "m2db_lnum", "areas": "m2db_anum"}
FIXED = ("m2db_level", "m2db_minz", "m2db_maxz", "m2db_layer_num", "m2db_tags",
         "m2db_geometry")


def _row(table, fid, level, minz, maxz, layer, tags, vtags, geom) -> str:
    return json.dumps(
        [table, int(fid), int(level), int(minz), int(maxz), int(layer),
         list(tags), sorted((k, str(v)) for k, v in vtags), bytes(geom).hex()],
        ensure_ascii=False,
    )


def sqlite_rows(path: str) -> list[str]:
    rows = []
    with sqlite3.connect(path) as db:
        for table in TABLES:
            cols = [r[1] for r in db.execute(f"PRAGMA table_info({table})")]
            extra = [c for c in cols if c != PK[table] and c not in FIXED]
            sel = ",".join(f'"{c}"' for c in [PK[table], *FIXED, *extra])
            for r in db.execute(f"SELECT {sel} FROM {table}"):
                vtags = [(k, v) for k, v in zip(extra, r[7:]) if v is not None]
                rows.append(_row(table, r[0], r[1], r[2], r[3], r[4],
                                 json.loads(r[5]), vtags, r[6]))
    return rows


def parquet_rows(out_dir: str) -> list[str]:
    import pyarrow.dataset as ds

    rows = []
    for table in TABLES:
        path = os.path.join(out_dir, table)
        if not any(n.startswith("level=") for n in os.listdir(path)):
            continue  # a table with no rows writes no partition
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
            columns=["fid", "level", "minz", "maxz", "layer", "tags", "vtags", "geom"]
        )
        for r in t.to_pylist():
            rows.append(_row(table, r["fid"], r["level"], r["minz"], r["maxz"],
                             r["layer"], r["tags"] or [], r["vtags"] or [],
                             r["geom"]))
    return rows


def summarize(rows: list[str]) -> dict:
    counts = dict.fromkeys(TABLES, 0)
    h = hashlib.sha256()
    for r in sorted(rows):
        counts[json.loads(r)[0]] += 1
        h.update(r.encode())
        h.update(b"\n")
    return {"counts": counts, "digest": h.hexdigest()}


def read_output(sink: str, out: str) -> dict:
    return summarize(sqlite_rows(out) if sink == "sqlite" else parquet_rows(out))


def output_bytes(*paths: str) -> int:
    """Bytes of every file under the given files or directories."""
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total

"""Record the canonical output digest of each (workload, seed) map.

    python3 perfbench/record_digests.py FIRST LAST [WORKLOAD ...]

Converts the full-size map of every seed in FIRST..LAST once, checks
the per-table counts against the generator's, and writes the digests to
``digests.json`` together with the generator's source hash.  Re-record
after a change to ``genmap.py`` or a deliberate change of the program's
output; ``run.py`` refuses digests recorded for another generator.
"""

from __future__ import annotations

import json
import sys

import run as bench


def main(argv: list[str]) -> int:
    first, last = int(argv[0]), int(argv[1])
    import genmap

    workloads = argv[2:] or sorted(genmap.WORKLOADS)
    bench.prepare_env()
    path = bench.HERE / "digests.json"
    table = json.loads(path.read_text())
    if table.get("generator") != bench.generator_hash():
        table = {"generator": bench.generator_hash(), "digests": {}}
    spark, _ = bench.start_session()
    try:
        for workload in workloads:
            for seed in range(first, last + 1):
                src, meta = bench.load_map(workload, seed)
                checker = bench.Checker(meta, None)
                sample = bench.convert(spark, src, meta, checker)
                if sample["problems"]:
                    print(workload, seed, sample["problems"], file=sys.stderr)
                    return 1
                table["digests"].setdefault(workload, {})[str(seed)] = checker.digest
                print(workload, seed, checker.digest, flush=True)
    finally:
        bench.stop_session(spark)
    path.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

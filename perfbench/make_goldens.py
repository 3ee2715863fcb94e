"""Rewrite `goldens.json` from the DuckDB oracles.

    python3 perfbench/make_goldens.py DATA_DIR [DATA_DIR ...]

For each data directory (one parquet file per catalog table), runs the
oracle of every call of every workload in DuckDB and stores its
fingerprint under the directory's name, with the parquet file sizes that
guard it.  No Spark is started.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gate, workloads  # noqa: E402


def main(dirs: list[str]) -> None:
    try:
        with open(gate.GOLDENS_PATH) as fh:
            goldens = json.load(fh)
    except FileNotFoundError:
        goldens = {}
    from secdb_spark.registry import all_queries

    queries = all_queries()
    for sf_dir in dirs:
        con = gate.duck_views(sf_dir)
        try:
            checks = {
                c.id: gate.live_golden(c, con)
                for w in workloads.WORKLOADS
                for c in workloads.calls(w, queries)
            }
        finally:
            con.close()
        goldens[os.path.basename(sf_dir.rstrip("/"))] = {
            "data": gate.data_identity(sf_dir),
            "checks": checks,
        }
    with open(gate.GOLDENS_PATH, "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])

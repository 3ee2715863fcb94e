"""Python workers import secdb_spark from any working directory: a
Python-UDF op runs in a fresh process whose cwd is outside the repo and
whose environment has no PYTHONPATH, so the workers can import the
package only if the session ships it to them."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from conftest import SF_DIR

REPO = str(Path(__file__).resolve().parent.parent)


def test_python_udf_op_runs_from_foreign_cwd(tmp_path):
    script = tmp_path / "run_op.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            from secdb_spark.registry import all_queries
            from secdb_spark.session import get_spark

            spark = get_spark("foreign-cwd", shuffle_partitions=2)
            # src_xbrl_etl parses filings in a Python UDF that references
            # secdb_spark.operators.sources_sinks
            df = all_queries()["src_xbrl_etl"](spark, {SF_DIR!r})
            print("ROWS", df.count())
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_GRAFT_WAREHOUSE"] = str(tmp_path / "warehouse")
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-6000:]
    rows = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, out.stdout

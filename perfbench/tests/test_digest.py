import json
import os
import subprocess
import sys
import textwrap
from datetime import datetime

import pandas as pd
import pytest

from perfbench.digest import frame_digest, rows_digest
from perfbench.workloads import data_dir

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
ROWS = [
    (1, "a", 0.5, datetime(2024, 1, 1)),
    (2, "b", None, datetime(2024, 1, 2, 3)),
    (3, None, 1.25, datetime(2024, 1, 3)),
]
COLS = ["id", "name", "score", "ts"]


def test_digest_ignores_row_and_column_order():
    base = rows_digest(COLS, ROWS)
    assert rows_digest(COLS, ROWS[::-1]) == base
    swapped = [(r[1], r[0], r[3], r[2]) for r in ROWS]
    assert rows_digest(["name", "id", "ts", "score"], swapped) == base


def test_digest_matches_a_duckdb_style_frame():
    # DuckDB hands back float64 for an integer column with nulls and NaN for
    # missing floats; the canonical form must not tell them apart.
    frame = pd.DataFrame({
        "id": [3.0, 1.0, 2.0],
        "name": [None, "a", "b"],
        "score": [1.25, 0.5, float("nan")],
        "ts": pd.to_datetime([datetime(2024, 1, 3), datetime(2024, 1, 1), datetime(2024, 1, 2, 3)]),
    })
    assert frame_digest(frame) == rows_digest(COLS, ROWS)


def test_digest_sees_a_changed_value():
    changed = [ROWS[0], ROWS[1], (3, None, 1.2501, datetime(2024, 1, 3))]
    assert rows_digest(COLS, changed) != rows_digest(COLS, ROWS)


_SPARK_DIGEST = textwrap.dedent("""
    import sys
    sys.path.insert(0, {root!r})
    from data_integration_exercise_spark.registry import queries
    from data_integration_exercise_spark.session import get_session
    from perfbench.digest import rows_digest
    spark = get_session("perfbench-digest-test")
    df = queries()[{key!r}](spark, {data!r})
    rows = df.collect()
    print(spark.sparkContext.master, rows_digest(df.columns, rows))
    spark.stop()
""")


@pytest.mark.skipif(not os.path.isdir(data_dir()), reason="sf0.1 testdata not present")
def test_digest_is_the_same_on_two_and_four_cores(tmp_path):
    key = "agg_pricing_summary"
    with open(os.path.join(ROOT, "perfbench", "expected.json")) as fh:
        expected = json.load(fh)[key]
    for cpus in ("2", "4"):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, TMPDIR=str(tmp_path))
        out = subprocess.run(
            [sys.executable, "-c", _SPARK_DIGEST.format(root=ROOT, key=key, data=data_dir())],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300, check=True,
        ).stdout.split()
        assert out == [f"local[{cpus}]", expected]

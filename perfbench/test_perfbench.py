"""Self-tests of the benchmark's generator and output check.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]
os.environ["TZ"] = "UTC"  # collected timestamps compare as UTC
time.tzset()

import oracle  # noqa: E402
from inputs import transcripts  # noqa: E402

# parse-class shares of the log-line shapes (inputs.transcripts docstring)
CLASS_MIX = {"unknown": 0.0103, "error": 0.198, "timing": 0.198, "info": 0.198,
             "request": 0.396}
MIX_TOLERANCE = 0.015  # absolute, per class, at 20k turns


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from log_analysis_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark("perfbench-test", master="local[2]",
                  extra_conf={"spark.driver.memory": "1g", "spark.local.dir": str(local)})
    yield s
    s.stop()


def _write(spark, path, n, seed, prose_frac=0.0) -> str:
    transcripts(spark, n, seed, prose_frac, partitions=2).write.mode(
        "overwrite").parquet(str(path))
    return f"{path}/*.parquet"


def test_same_seed_same_input(spark):
    a = transcripts(spark, 3000, seed=7, prose_frac=0.3).collect()
    b = transcripts(spark, 3000, seed=7, prose_frac=0.3).collect()
    assert a == b


def test_other_seed_other_rows_same_mix(spark, tmp_path):
    con = oracle.connect(str(tmp_path), 2)
    g1 = _write(spark, tmp_path / "s1", 20_000, seed=1)
    g2 = _write(spark, tmp_path / "s2", 20_000, seed=2)
    (same,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{g1}') a JOIN read_parquet('{g2}') b"
        " USING (conv_id, turn_idx) WHERE a.text = b.text AND a.ts = b.ts"
    ).fetchone()
    assert same < 20  # equal only by hash coincidence
    for glob in (g1, g2):
        exp = oracle.expected(con, glob)
        for cls, share in CLASS_MIX.items():
            assert abs(exp.classes[cls] / exp.turns - share) < MIX_TOLERANCE, cls


def test_check_catches_a_dropped_routed_row(spark, tmp_path):
    from log_analysis_spark.plans.pipeline import run_pipeline

    con = oracle.connect(str(tmp_path), 2)
    glob = _write(spark, tmp_path / "in", 2000, seed=3, prose_frac=0.2)
    exp = oracle.expected(con, glob)
    res = run_pipeline(spark, spark.read.parquet(str(tmp_path / "in")),
                       str(tmp_path / "out"), parse_impl="native")
    hourly, conv = res.hourly_rollup.collect(), res.conv_counts.collect()

    def run_check():
        return oracle.check(exp, res.per_sink_counts, res.n_turns, hourly, conv,
                            oracle.routed_stats(con, res.routed_path))

    assert run_check() == []

    victim = next(Path(res.routed_path).glob("sink=errors/*.parquet"))
    table = pq.read_table(victim)
    pq.write_table(table.slice(1), victim)  # drop the first routed row
    bad = run_check()
    assert len(bad) == 1 and bad[0].startswith("routed sink stats")

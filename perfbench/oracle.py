"""Independent DuckDB oracle for the pipeline's outputs, and the check.

The expected results are computed by DuckDB from the same generated
parquet the pipeline reads, reusing the repository's DuckDB parse SQL
(``log_analysis_spark.oracles``) and its sink ``CASE``
(``__spark_entry__._SINK_TAG``).  A run's results are compared on:

* per sink: row count, ``sum(turn_idx)`` and distinct ``conv_id``, read
  from the routed parquet files on disk;
* ``per_sink_counts`` and ``sum(per_sink_counts) == turns``;
* the ``(sink, role, tool, hour)`` rollup and the per-conversation counts.
"""

from __future__ import annotations

import calendar
from dataclasses import dataclass

import duckdb

from __spark_entry__ import _SINK_TAG
from log_analysis_spark.datagen import TOOL_REGISTRY_SQL
from log_analysis_spark.oracles import _DUCK_PARSED

# turns → parsed (repository SQL) → sink tag → enriched role; the tool
# registry's ``role`` overrides the turn's role on a match, as in
# operators/enrich.py.
_TAGGED = f"""
WITH {_DUCK_PARSED.strip()},
tagged AS (
  SELECT p.*, {_SINK_TAG} AS sink FROM parsed p
),
routed AS (
  SELECT t.conv_id, t.turn_idx, t.sink, t.turn_class, t.tool, t.ts,
         COALESCE(tr.role, t.role) AS role
  FROM tagged t
  LEFT JOIN ({TOOL_REGISTRY_SQL}) tr ON t.tool = tr.tool
)
"""

_SINK_STATS = (
    "SELECT sink, count(*), sum(turn_idx), count(DISTINCT conv_id)"
    " FROM {src} GROUP BY sink"
)


def connect(work_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": threads, "memory_limit": "1GB"})
    con.execute(f"SET temp_directory = '{work_dir}/duckdb_tmp'")
    return con


def routed_glob(routed_path: str) -> str:
    return f"{routed_path}/sink=*/*.parquet"


def sink_stats(con, relation: str) -> dict[str, tuple[int, int, int]]:
    """Per-sink (rows, sum(turn_idx), distinct conv_id) of ``relation``."""
    return {
        s: (int(n), int(k), int(c))
        for s, n, k, c in con.execute(_SINK_STATS.format(src=relation)).fetchall()
    }


def routed_stats(con, routed_path: str) -> dict[str, tuple[int, int, int]]:
    """``sink_stats`` of the routed parquet files under ``routed_path``."""
    return sink_stats(
        con, f"read_parquet('{routed_glob(routed_path)}', hive_partitioning = true)"
    )


@dataclass
class Expected:
    turns: int
    per_sink: dict[str, tuple[int, int, int]]
    hourly: dict[tuple, int]
    conv: dict[str, int]
    classes: dict[str, int]

    def per_sink_counts(self) -> dict[str, int]:
        return {s: v[0] for s, v in self.per_sink.items()}


def expected(con, input_glob: str) -> Expected:
    """The oracle's results for the generated table at ``input_glob``."""
    con.execute(
        f"CREATE OR REPLACE VIEW transcripts AS SELECT * FROM read_parquet('{input_glob}')"
    )
    con.execute(f"CREATE OR REPLACE TEMP TABLE routed AS {_TAGGED} SELECT * FROM routed")
    per_sink = sink_stats(con, "routed")
    hourly = {
        (s, r, t, int(h)): int(n)
        for s, r, t, h, n in con.execute(
            "SELECT sink, role, tool, epoch(date_trunc('hour', ts)), count(*)"
            " FROM routed GROUP BY ALL"
        ).fetchall()
    }
    conv = dict(con.execute("SELECT conv_id, count(*) FROM routed GROUP BY 1").fetchall())
    classes = dict(
        con.execute("SELECT turn_class, count(*) FROM routed GROUP BY 1").fetchall()
    )
    (turns,) = con.execute("SELECT count(*) FROM routed").fetchone()
    con.execute("DROP TABLE routed")
    return Expected(
        turns=int(turns),
        per_sink=per_sink,
        hourly=hourly,
        conv={k: int(v) for k, v in conv.items()},
        classes={k: int(v) for k, v in classes.items()},
    )


def _epoch(dt) -> int:
    # collected Spark timestamps are naive datetimes in the process time
    # zone, which the benchmark pins to UTC
    return calendar.timegm(dt.timetuple())


def check(
    exp: Expected,
    per_sink_counts: dict[str, int],
    n_turns: int,
    hourly_rows: list,
    conv_rows: list,
    routed: dict[str, tuple[int, int, int]],
) -> list[str]:
    """Mismatches between one run's results and the oracle; empty if none."""
    bad: list[str] = []
    want = exp.per_sink_counts()
    if per_sink_counts != want:
        bad.append(f"per_sink_counts {per_sink_counts} != {want}")
    if sum(per_sink_counts.values()) != exp.turns or n_turns != exp.turns:
        bad.append(
            f"sum(per_sink)={sum(per_sink_counts.values())} n_turns={n_turns}"
            f" != turns={exp.turns}"
        )
    if routed != exp.per_sink:
        bad.append(f"routed sink stats {routed} != {exp.per_sink}")
    hourly = {
        (r["sink"], r["role"], r["tool"], _epoch(r["hour"])): r["n"] for r in hourly_rows
    }
    if hourly != exp.hourly:
        diff = set(hourly.items()) ^ set(exp.hourly.items())
        bad.append(f"hourly rollup differs in {len(diff)} entries")
    conv = {r["conv_id"]: r["n"] for r in conv_rows}
    if conv != exp.conv:
        diff = set(conv.items()) ^ set(exp.conv.items())
        bad.append(f"conv counts differ in {len(diff)} entries")
    return bad

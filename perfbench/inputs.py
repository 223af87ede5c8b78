"""Seeded transcripts generator for the pipeline benchmark.

Reproduces the five text shapes of ``log_analysis_spark.datagen`` (request,
timing, error, info, garbled) and adds free-text prose turns.  Every field
is pure column arithmetic over ``spark.range``: each row draws its values
from ``xxhash64(id, seed, k)`` for a per-field constant ``k``, so the same
seed yields the same table and no Python touches a row.

Conversation layout follows ``datagen.synth_transcripts``: the first
``HOT_FRACTION`` of ids spread over ``HOT_CONVS`` conversations, the rest
fill ``TURNS_PER_CONV``-turn blocks, so ``(conv_id, turn_idx)`` is unique
and dense without a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Short common words; none of them contains a parse marker (``ms``,
# ``responses``, ``(``, ``path:``, ``|&|``), so prose parses as ``unknown``.
PROSE_WORDS = (
    "the of and to in is was for on are with as his they be at one have this "
    "from or had by word but what some we can out other were all there when "
    "up use your how said an each she which do their time if will way about "
    "many then them write would like so these her long make thing see him "
    "two has look more day could go come did number sound no most people my "
    "over know water than call first who may down side been now find any new "
    "work part take get place made live where after back little only round "
    "man year came show every good me give our under name very through just "
    "form sentence great think say help low line differ turn cause much mean "
    "before move right boy old too same tell does set three want air well"
).split()

HOT_CONVS = 5
HOT_FRACTION = 0.10
TURNS_PER_CONV = 50
GARBLED_PER_10K = 103  # ~1/97, the datagen garbled share
PROSE_MIN_WORDS = 50
PROSE_MAX_WORDS = 650
TS_BASE = 1704067200  # 2024-01-01T00:00:00Z
TS_SPAN_S = 3 * 86400


def _pick(idx: Column, values: list[str]) -> Column:
    """``values[idx]`` for a 0-based integer column."""
    return F.element_at(F.array(*[F.lit(v) for v in values]), (idx + 1).cast("int"))


def transcripts(
    spark: SparkSession,
    n_turns: int,
    seed: int,
    prose_frac: float = 0.0,
    partitions: int | None = None,
) -> DataFrame:
    """``(conv_id, turn_idx, role, text, tool, ts)`` rows drawn from ``seed``.

    ``prose_frac`` of the turns (by hash, not by position) carry
    ``PROSE_MIN_WORDS``..``PROSE_MAX_WORDS`` words of prose instead of a log
    line.  Class mix of the log lines is datagen's: ~1% garbled, then
    error / timing / info at 1/5 each and request at 2/5.
    """
    eid = F.col("id")

    def draw(k: int, m: int) -> Column:
        return F.pmod(F.xxhash64(eid, F.lit(seed), F.lit(k)), F.lit(m))

    n_hot = int(n_turns * HOT_FRACTION)
    n_convs = max(n_turns // TURNS_PER_CONV, HOT_CONVS + 1)
    tpc = max((n_turns - n_hot) // (n_convs - HOT_CONVS), 1)
    hot = eid < F.lit(n_hot)
    conv_key = F.when(hot, eid % HOT_CONVS).otherwise(
        HOT_CONVS + F.floor((eid - n_hot) / tpc)
    )
    turn_idx = F.when(hot, F.floor(eid / HOT_CONVS)).otherwise((eid - n_hot) % tpc)

    is_prose = draw(1, 1000) < F.lit(int(round(prose_frac * 1000)))
    garbled = draw(2, 10000) < F.lit(GARBLED_PER_10K)
    shape = draw(3, 5)  # 0 error, 1 timing, 2 info, 3-4 request
    v = draw(4, 1_000_000_007)  # source of every sub-field of a log line

    err_text = F.concat(
        F.lit("ERROR! HttpError: request failed with an HTTP code of "),
        _pick(v % 4, ["404", "500", "401", "400"]),
        F.lit(" attempt: "), (v % 3 + 1).cast("string"),
        F.lit(" (BESUtil.cc:"), (200 + v % 100).cast("string"), F.lit(")"),
    )
    timing_text = F.concat(
        F.lit("Profile timing: "),
        _pick(v % 3, ["TheBESKeys::TheKeys", "DmrppArray::read", "CurlHandlePool::get"]),
        F.lit(" - Time to gather "), (v % 20 + 1).cast("string"),
        F.lit(" responses: "), (v % 5000).cast("string"), F.lit(".5 ms"),
    )
    info_text = F.concat(
        F.lit("BESLog::info() - Memory Cache "),
        _pick(v % 3, ["hit", "miss", "put"]),
        F.lit(", path: /data/d"), (v % 50).cast("string"), F.lit(".h5"),
    )
    req_text = F.concat(
        (F.lit(1700000000) + v).cast("string"),
        F.lit("|&|inst-"), (v % 4).cast("string"),
        F.lit("|&|"), (10000 + v % 8).cast("string"),
        F.lit("|&|request|&|GET /hyrax/ngap/c"), (v % 30).cast("string"),
        F.lit(" "), _pick(v % 5, ["404", "200", "200", "500", "200"]),
    )
    vocab = F.array(*[F.lit(w) for w in PROSE_WORDS])
    n_words = PROSE_MIN_WORDS + draw(5, PROSE_MAX_WORDS - PROSE_MIN_WORDS + 1)
    prose_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words.cast("int")),
            lambda i: F.element_at(
                vocab,
                (F.pmod(F.xxhash64(eid, F.lit(seed), i), F.lit(len(PROSE_WORDS))) + 1)
                .cast("int"),
            ),
        ),
        " ",
    )

    text = (
        F.when(is_prose, prose_text)
        .when(garbled, F.concat(F.lit("### garbled "), v.cast("string"), F.lit(" ###")))
        .when(shape == 0, err_text)
        .when(shape == 1, timing_text)
        .when(shape == 2, info_text)
        .otherwise(req_text)
    )
    role = (
        F.when(is_prose, F.when(v % 2 == 0, "user").otherwise("assistant"))
        .when(garbled, "auditor")
        .when(shape == 0, "assistant")
        .when(shape == 1, "tool")
        .when(shape == 2, "system")
        .otherwise("user")
    )
    tool = F.when(
        ~is_prose & ~garbled & (shape == 1),
        F.concat(F.lit("tool-"), (v % 8).cast("string")),
    ).otherwise(F.lit("-"))

    df = spark.range(0, n_turns, 1, partitions or spark.sparkContext.defaultParallelism)
    return df.select(
        F.concat(F.lit("conv-"), F.lpad(conv_key.cast("string"), 6, "0")).alias("conv_id"),
        turn_idx.cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_seconds(F.lit(TS_BASE) + draw(6, TS_SPAN_S)).alias("ts"),
    )


def measure_properties(con, input_glob: str, classes: dict[str, int]) -> dict:
    """Measured workload properties of a generated table, via DuckDB.

    Text-length mean and p99 (bytes), class mix (``classes`` holds the
    parse-class counts), share of turns in the ``HOT_CONVS`` largest
    conversations, and share of tool turns.
    """
    src = f"read_parquet('{input_glob}')"
    n, mean_len, p99_len, tool_share = con.execute(
        f"SELECT count(*), avg(strlen(text)), quantile_disc(strlen(text), 0.99),"
        f" avg(CASE WHEN tool <> '-' THEN 1 ELSE 0 END) FROM {src}"
    ).fetchone()
    (hot,) = con.execute(
        f"SELECT sum(k) / {n} FROM (SELECT count(*) AS k FROM {src}"
        f" GROUP BY conv_id ORDER BY k DESC LIMIT {HOT_CONVS})"
    ).fetchone()
    return {
        "turns": int(n),
        "text_bytes_mean": round(float(mean_len), 1),
        "text_bytes_p99": int(p99_len),
        "class_mix": {k: round(v / n, 4) for k, v in sorted(classes.items())},
        "hot_conv_share": round(float(hot), 4),
        "tool_share": round(float(tool_share), 4),
    }

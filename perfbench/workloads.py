"""The benchmark's two workloads, as lists of operations.

An operation builds a DataFrame through the engine's public entry points;
the runner materializes it through the ``noop`` sink inside the timed
region and checks it afterwards, outside timing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# query_mix: declared queries on the generated sf0.1 tables, one client
# running them one at a time.  Batch queries: scan + aggregate and window
# top-k (TPC-H shapes), Theta sketches (eleven jobs: driver round trips).
# Stream queries, each drained to completion inside the registry call:
# streaming dedup and a tumbling window, both keeping their state in state
# stores.  An odd number of operations puts query_p50_s on one operation's
# latencies rather than between two.  A steady pass takes about seven
# seconds on four cores.
QUERY_MIX = (
    "q01_scan_filter_agg",
    "q17_window_topk",
    "ext_theta_distinct",
)
STREAMS = (
    "ext_stream_dedup",
    "ext_stream_window",
)

# shuffle_exchange: seeded incompressible records (id plus xxhash64
# payload columns, 72 bytes a row).  The repartition and the groupBy move
# SHUFFLE_ROWS records, which stay in memory; the sort moves SORT_ROWS,
# more than a default (1 GiB) Spark driver's execution memory holds, so it
# spills and merges.
SHUFFLE_ROWS = 3_000_000
SORT_ROWS = 6_000_000
SHUFFLE_PAYLOAD_COLS = 7


@dataclass
class Op:
    name: str
    build: Callable[[SparkSession], DataFrame]
    # returns None when the output is right, else what is wrong
    check: Callable[[SparkSession, DataFrame], str | None]
    # must report at least one micro-batch (stream queries)
    streams: bool = False


def query_mix_ops(data_dir: str) -> list[Op]:
    """The query_mix registry queries, each checked against its DuckDB oracle."""
    import __spark_entry__ as entry
    from tests.parity import compare_frames, duckdb_connection

    fns, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb_connection(data_dir)

    def op(name: str, streams: bool) -> Op:
        def check(spark: SparkSession, df: DataFrame) -> str | None:
            result = compare_frames(name, df.toPandas(), con.sql(oracles[name]).df())
            return None if result.ok else result.detail

        return Op(name, lambda spark: fns[name](spark, data_dir), check, streams)

    return [op(n, False) for n in QUERY_MIX] + [op(n, True) for n in STREAMS]


def _records(spark: SparkSession, seed: int, rows: int) -> DataFrame:
    payload = [
        F.xxhash64("id", F.lit(seed), F.lit(i)).alias(f"h{i}") for i in range(SHUFFLE_PAYLOAD_COLS)
    ]
    return spark.range(rows).select("id", *payload)


def _digest(df: DataFrame) -> tuple[int, int]:
    """(rows, xor of a per-row hash): equal for any order of the same rows."""
    return tuple(df.agg(F.count("*"), F.bit_xor(F.xxhash64(*df.columns))).first())


def _sorted_digest(df: DataFrame, key: str) -> tuple[int, int, bool]:
    """(rows, xor of ``h1``, output ordered by ``key``) in one pass over the
    sorted output, partition by partition in partition order."""

    def scan(batches):
        from pyspark import TaskContext

        n, x, ok, first, last = 0, 0, True, None, None
        for b in batches:
            k = b.column(key).to_numpy()
            if len(k) == 0:
                continue
            ok = ok and bool(np.all(k[1:] >= k[:-1])) and (last is None or k[0] >= last)
            first = k[0] if first is None else first
            last = k[-1]
            n += len(k)
            x ^= int(np.bitwise_xor.reduce(b.column("h1").to_numpy()))
        row = {"p": TaskContext.get().partitionId(), "n": n, "x": x, "ok": ok, "first": first, "last": last}
        yield pa.RecordBatch.from_pylist([row], schema=arrow_schema)

    arrow_schema = pa.schema(
        [(c, pa.int64()) for c in ("p", "n", "x")]
        + [("ok", pa.bool_())]
        + [(c, pa.int64()) for c in ("first", "last")]
    )
    schema = "p long, n long, x long, ok boolean, first long, last long"
    parts = sorted((r.asDict() for r in df.mapInArrow(scan, schema).collect()), key=lambda r: r["p"])
    nonempty = [p for p in parts if p["n"]]
    ordered = all(p["ok"] for p in nonempty) and all(
        a["last"] <= b["first"] for a, b in zip(nonempty, nonempty[1:])
    )
    return sum(p["n"] for p in parts), _xor(p["x"] for p in parts), ordered


def _xor(values) -> int:
    out = 0
    for v in values:
        out ^= v
    return out


def shuffle_ops(seed: int) -> list[Op]:
    """Three exchanges of the seeded records: hash repartition (write and
    read phases), high-cardinality groupBy (map-side combine shrinks what is
    shuffled) and a global sort that spills and merges."""
    groups = SHUFFLE_ROWS // 8
    expected: dict[str, tuple[int, int]] = {}

    def source(spark: SparkSession, what: str) -> tuple[int, int]:
        """(rows, xor of a per-row hash) of the repartition and groupBy input
        ("all"), or (rows, xor of h1) of it ("h1") and of the sort input
        ("sort").  The smaller input is a prefix of the larger one."""
        if not expected:
            src = _records(spark, seed, SORT_ROWS)
            small = F.col("id") < SHUFFLE_ROWS
            row = src.agg(
                F.count_if(small),
                F.bit_xor(F.when(small, F.xxhash64(*src.columns))),
                F.bit_xor(F.when(small, F.col("h1"))),
                F.count("*"),
                F.bit_xor("h1"),
            ).first()
            expected.update(all=(row[0], row[1]), h1=(row[0], row[2]), sort=(row[3], row[4]))
        return expected[what]

    def check_repartition(spark: SparkSession, df: DataFrame) -> str | None:
        want, got = source(spark, "all"), _digest(df)
        return None if got == want else f"rows/checksum {got} != input {want}"

    def check_groupby(spark: SparkSession, df: DataFrame) -> str | None:
        want = source(spark, "h1")
        got = tuple(df.agg(F.sum("n"), F.bit_xor("x")).first())
        return None if got == want else f"sum(count)/xor(h1) {got} != input {want}"

    def check_sort(spark: SparkSession, df: DataFrame) -> str | None:
        n, x, ordered = _sorted_digest(df, "h0")
        if not ordered:
            return "output not ordered by h0"
        want = source(spark, "sort")
        return None if (n, x) == want else f"rows/xor(h1) {(n, x)} != input {want}"

    return [
        Op(
            "repartition",
            lambda spark: _records(spark, seed, SHUFFLE_ROWS).repartition("h0"),
            check_repartition,
        ),
        Op(
            "groupby",
            lambda spark: _records(spark, seed, SHUFFLE_ROWS)
            .groupBy(F.pmod("h0", F.lit(groups)).alias("g"))
            .agg(F.count("*").alias("n"), F.bit_xor("h1").alias("x")),
            check_groupby,
        ),
        Op("sort", lambda spark: _records(spark, seed, SORT_ROWS).orderBy("h0"), check_sort),
    ]

"""Differential test: the DuckDB-SQL XXH64 generator vs Spark's
``xxhash64`` (org.apache.spark.sql.catalyst.expressions.XxHash64).

The generator (functions/xxh64_sql.py) exists so hash-valued operators
(the exact-dedup fingerprints) get exact DuckDB oracles; it must
reproduce Spark bit-for-bit across every XXH64 code path: empty input,
tail-only (<32 bytes), stripe boundary (32/33), multi-stripe, every
tail remainder class (8/4/1-byte rounds), and multi-byte UTF-8.
"""

from __future__ import annotations

import random
import string

import duckdb
import pytest
from pyspark.sql import functions as F

from datapatterns_spark.functions.xxh64_sql import (
    hash_int_steps,
    xxh64_str_sql,
)


def _spark_hashes(spark, samples, extra=None):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "id int, s string"
    )
    col = F.xxhash64("s") if extra is None else F.xxhash64("s", F.lit(extra))
    return {r["id"]: r["h"] for r in df.select("id", col.alias("h")).collect()}


def _duck_hashes(samples, sql):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INT, s VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(i, s) for i, s in enumerate(samples)]
    )
    return dict(con.execute(sql).fetchall())


def _corpus() -> list[str]:
    rnd = random.Random(7)
    fixed = [
        "",            # len 0: seed+P5 path only
        "a", "abc",    # single-byte tail only
        "abcd",        # exactly one 4-byte round
        "abcdefgh",    # exactly one 8-byte round
        "x" * 31,      # max tail without a stripe
        "y" * 32,      # exactly one stripe, empty tail
        "z" * 33,      # stripe + 1-byte tail
        "w" * 100,     # 3 stripes + every tail class
        "Ünïcødé ÉË",  # 2-byte UTF-8
        "日本語テキスト",  # 3-byte UTF-8
        "emoji \U0001f600\U0001f680 end",  # 4-byte UTF-8 (astral plane)
        "\U0001f600" * 9,  # 36 bytes of pure 4-byte sequences
        "tab\tand\nnewline",
    ]
    alphabet = string.printable[:94] + "éüßΩ日\U0001f680"
    return fixed + [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(0, 120)))
        for _ in range(30)
    ]


def test_xxh64_sql_matches_spark(spark):
    samples = _corpus()
    want = _spark_hashes(spark, samples)
    got = _duck_hashes(samples, xxh64_str_sql("t", ["id"], "s"))
    assert got == want


def test_xxh64_sql_int_fold_matches_spark(spark):
    """xxhash64(s, lit(0)) — the SimHash form: hashInt folds onto the
    string hash."""
    samples = _corpus()[:20]
    want = _spark_hashes(spark, samples, extra=0)
    sql = xxh64_str_sql(
        "t", ["id"], "s", signed=False, extra_steps=hash_int_steps(0)
    )
    # unsigned HUGEINT out -> signed for comparison
    got = {
        i: (h - (1 << 64) if h >= (1 << 63) else h)
        for i, h in _duck_hashes(samples, sql).items()
    }
    assert got == want


@pytest.mark.parametrize("seed", [0, 1, 42, 0x5EED])
def test_xxh64_sql_seeds(spark, seed):
    """Non-default seeds hit the same code paths with different lane
    inits; Spark exposes only seed 42 via F.xxhash64, so cross-check
    the seed plumbing through the expression form."""
    samples = ["", "abc", "x" * 40]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "id int, s string"
    )
    want = {
        r["id"]: r["h"]
        for r in df.select(
            "id", F.expr(f"xxhash64(s)").alias("h")
        ).collect()
    } if seed == 42 else None
    got = _duck_hashes(samples, xxh64_str_sql("t", ["id"], "s", seed=seed))
    if want is not None:
        assert got == want
    else:
        # different seeds must produce different hashes for non-empty
        base = _duck_hashes(samples, xxh64_str_sql("t", ["id"], "s", seed=42))
        assert got[1] != base[1]

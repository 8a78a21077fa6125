"""XXH64 folds as pure DuckDB SQL — oracle support for Spark's ``xxhash64``.

The synthetic generators (``sources/transcripts.py``,
``sources/stock.py``) derive every field from Spark's ``F.xxhash64``
(XxHash64 expression, seed 42) over integer and long children.  DuckDB
has no xxhash, so the twins in :mod:`.transcripts_sql` and
:mod:`.stock_sql` regenerate those tables with the SQL this module
generates (a single SELECT pipeline, no macros, so each oracle is
one statement), bit-for-bit:

* 64-bit wrapping arithmetic on ``HUGEINT`` (128-bit): products are
  split ``x*y mod 2^64 = (x_lo*y + ((x_hi*y) mod 2^32)*2^32) mod 2^64``
  so no intermediate exceeds 2^97;
* each child folds in through Spark's specialized single-block
  ``hashInt``/``hashLong`` forms, each algorithm step one chained CTE,
  keeping generated text linear in the step count instead of
  exponential in nesting depth;
* seed folds of constant children are precomputed in Python
  (:func:`xxh64_int_py`).

``tests/test_transcripts_sql.py`` checks the regenerated tables
against Spark's.
"""

from __future__ import annotations

P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
M64 = 1 << 64
M32 = 1 << 32


# --------------------------------------------------------------------------
# expression helpers (all operate on HUGEINT SQL text, values < 2^64)
# --------------------------------------------------------------------------
def _mm(x: str, y: str) -> str:
    """(x*y) mod 2^64 for HUGEINT exprs already reduced below 2^64."""
    return (
        f"((({x}) % {M32}) * ({y}) + "
        f"(((({x}) // {M32}) * ({y})) % {M32}) * {M32}) % {M64}"
    )


def _mmc(x: str, c: int) -> str:
    """(x*constant) mod 2^64 — the constant splits at generation time."""
    lo, hi = c % M32, c // M32
    return f"((({x}) * {lo} + ((({x}) * {hi}) % {M32}) * {M32}) % {M64})"


def _rotl(x: str, r: int) -> str:
    return f"((({x}) * {1 << r} + ({x}) // {1 << (64 - r)}) % {M64})"


def _xor(a: str, b: str) -> str:
    return f"xor(({a})::HUGEINT, ({b})::HUGEINT)::HUGEINT"


def _avalanche_steps() -> list[str]:
    """The fmix finalizer as chained step templates over ``{h}``."""
    return [
        _xor("{h}", f"({{h}}) // {1 << 33}"),
        _mmc("{h}", P2),
        _xor("{h}", f"({{h}}) // {1 << 29}"),
        _mmc("{h}", P3),
        _xor("{h}", f"({{h}}) // {1 << 32}"),
    ]


def chain_steps(base: str, keys: list[str], steps: list[str],
                prefix: str) -> tuple[str, str]:
    """Render step templates (each referencing the running hash as
    ``{h}``) as a chain of CTEs ``<prefix>1..N`` reading from relation
    ``base`` and carrying ``keys``.  Returns
    ``(", name AS (...)..." fragment, last_name)``."""
    kcols = ", ".join(keys)
    sep = ", " if kcols else ""
    frag, prev = "", base
    for i, step in enumerate(steps):
        name = f"{prefix}{i + 1}"
        expr = step.format(h="h")
        frag += (
            f", {name} AS (SELECT {kcols}{sep}({expr})::HUGEINT AS h"
            f" FROM {prev})\n"
        )
        prev = name
    return frag, prev


def hash_int_steps(value: int | str) -> list[str]:
    """Spark XxHash64 folding steps for a 4-byte int child:
    ``hashInt(value, seed={h})`` over an unsigned running hash.
    ``value`` may be a Python int or a SQL expression (a NON-NEGATIVE
    int column — Java's ``input & 0xFFFFFFFFL`` reduces to a plain mod
    then)."""
    if isinstance(value, str):
        u32 = f"(({value})::HUGEINT % {M32})"
    else:
        u32 = f"{value % M32}::HUGEINT"
    return [
        f"(({{h}}) + {P5} + 4) % {M64}",
        _xor("{h}", _mmc(u32, P1)),
        f"(({_mmc(_rotl('{h}', 23), P2)} + {P3}) % {M64})",
        *_avalanche_steps(),
    ]


def hash_long_steps(value_expr: str) -> list[str]:
    """Spark XxHash64 folding steps for an 8-byte long child:
    ``hashLong(value_expr, seed={h})``; ``value_expr`` is an unsigned
    HUGEINT expression valid in every chained CTE (i.e. built from
    carried columns)."""
    return [
        f"(({{h}}) + {P5} + 8) % {M64}",
        _xor("{h}", _mmc(_rotl(_mm(value_expr, str(P2)), 31), P1)),
        f"(({_mmc(_rotl('{h}', 27), P1)} + {P4}) % {M64})",
        *_avalanche_steps(),
    ]


# --------------------------------------------------------------------------
# pure-Python folds (constant precomputation + independent oracle model)
# --------------------------------------------------------------------------
def _avalanche_py(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) % M64
    h ^= h >> 29
    h = (h * P3) % M64
    h ^= h >> 32
    return h


def _rotl_py(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) % M64


def xxh64_int_py(value: int, seed: int) -> int:
    """Spark ``XXH64.hashInt`` (4-byte child fold) in pure Python."""
    h = (seed + P5 + 4) % M64
    h ^= ((value % M32) * P1) % M64
    h = (_rotl_py(h, 23) * P2 + P3) % M64
    return _avalanche_py(h)


def multi_hash_sql(
    input_sql: str,
    keys: list[str],
    specs: list[tuple[str, str, list[str]]],
    prefix: str,
) -> str:
    """Chain several hash computations over one relation.

    ``specs``: ``(out_col, init_expr, step_templates)`` per hash — each
    runs as its own CTE chain (init -> steps referencing ``{h}``), and
    every completed ``out_col`` is carried so later specs and the final
    SELECT can use it.  Returns a full ``WITH ... SELECT keys+outs``
    statement (single statement, macro-free)."""
    kcols = ", ".join(keys)
    sql = f"WITH {prefix}b AS (SELECT {kcols} FROM {input_sql})\n"
    carry: list[str] = []
    prev = f"{prefix}b"
    for idx, (out, init, steps) in enumerate(specs):
        kc = keys + carry
        sql += (
            f", {prefix}i{idx} AS (SELECT {', '.join(kc)}, ({init})::HUGEINT AS h"
            f" FROM {prev})\n"
        )
        frag, prev = chain_steps(f"{prefix}i{idx}", kc, steps, f"{prefix}s{idx}_")
        sql += frag
        sql += (
            f", {prefix}o{idx} AS (SELECT {', '.join(kc)}, h AS {out} FROM {prev})\n"
        )
        prev = f"{prefix}o{idx}"
        carry.append(out)
    sql += f"SELECT {', '.join(keys + carry)} FROM {prev}"
    return sql

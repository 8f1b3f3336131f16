"""Reusable column expressions shared across operators — all pure
Catalyst (JVM-side, codegen-friendly); no Python row path."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD_PRIME = 1_000_000_007
# 2^31-1: largest Mersenne prime whose a*h products stay inside int64
# (a, h < 2^31 -> a*h < 2^62) — minhash permutation modulus
MINHASH_PRIME = (1 << 31) - 1


def money(col: str | Column) -> Column:
    """Exact decimal money math (oracle-parity rule)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,4)")


def words(text: str | Column) -> Column:
    """Lowercased single-space tokenization — semantics chosen to match
    DuckDB's STR_SPLIT(text, ' ') exactly (consecutive spaces yield
    empty tokens) so every oracle shares one tokenizer definition."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(c), " ")


def word_ngrams(ws: Column, n: int = 3) -> Column:
    """Distinct word n-grams as an array<string>; empty array when the
    doc has fewer than n words. transform() over sequence() — one pass,
    no explode until the caller wants one.

    Pass a MATERIALIZED array column (project ``words(text)`` behind
    its own alias first), not ``words(text)`` inline: inlining
    duplicates the split expression into every element_at of the
    lambda (n+2 copies), and at n=5 that costs ~16 s of driver-side
    plan/codegen work per fresh plan (measured; the ws-projection
    barrier drops the identical query to ~2 s — see c27)."""
    return F.when(
        F.size(ws) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(ws, (i + j + 1).cast("int")) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def md5_hash60(col: str | Column) -> Column:
    """Deterministic, ENGINE-PORTABLE 60-bit string hash: the first 15
    hex digits of md5 as a non-negative bigint. Chosen over
    ``xxhash64`` for the dedup signature family because the oracle
    harness must replay signatures bit-for-bit in DuckDB SQL —
    ``('0x' || substr(md5(x), 1, 15))::BIGINT`` is the exact twin
    (verified value-identical across engines). 60 bits keeps every
    downstream product (permutation a*h with a < 2^31 after ``% p``)
    inside int64."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def rolling_hash(text: Column, length: int = 64) -> Column:
    """Polynomial rolling hash (mod 1e9+7) over the first ``length``
    chars — document fingerprinting. aggregate() keeps it JVM-side."""
    chars = F.split(F.substring(F.lower(text), 1, length), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % MOD_PRIME,
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns in double — sequential
    left-to-right summation (deterministic, matches DuckDB)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# ---------------------------------------------------------------------------
# Skew handling: salted two-phase aggregation
# ---------------------------------------------------------------------------


def salted_agg(df, keys: list[str], aggs: dict[str, str], salt: int = 16):
    """Two-phase aggregation for skewed keys: phase 1 groups on
    (keys + random salt) so one hot key spreads over ``salt``
    reducers; phase 2 merges the partials on the true keys.

    ``aggs`` maps column -> 'sum' | 'count' | 'min' | 'max' (the
    re-aggregatable functions; avg is expressed as sum+count by the
    caller). AQE's skew-join handling covers joins; this covers the
    groupBy-on-a-hot-key case AQE can't split.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    salted = df.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    phase1_aggs = []
    for col, fn in aggs.items():
        if fn == "count":
            phase1_aggs.append(F.count(F.lit(1)).alias(f"_p_{col}"))
        else:
            phase1_aggs.append(getattr(F, fn)(col).alias(f"_p_{col}"))
    p1 = salted.groupBy(*keys, "_salt").agg(*phase1_aggs)
    merge = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
    phase2_aggs = [
        merge[fn](f"_p_{col}").alias(f"{fn}_{col}") for col, fn in aggs.items()
    ]
    return p1.groupBy(*keys).agg(*phase2_aggs)


# ---------------------------------------------------------------------------
# Temporal as-of join (union-merge plan)
# ---------------------------------------------------------------------------


def asof_join(left, right, on, left_time: str, right_time: str,
              *, tolerance_seconds: float | None = None):
    """Backward-inclusive as-of join: each left row picks the LATEST
    right row with the same key whose ``right_time`` <= the left row's
    ``left_time`` (optionally within ``tolerance_seconds``). Right
    columns other than key/time are appended; unmatched left rows get
    NULLs, every left row survives (left-join semantics).

    Plan shape (the reason this exists instead of join+filter+argmax):
    tag both sides, union them, and resolve the match with ONE
    ``last(payload_struct, ignorenulls=True)`` running window over
    (key) ordered by (time, side). That is a single hash partition on
    the key plus a within-partition sort — linear in rows, never
    quadratic in per-key fan-out, and exactly the shuffle a 100 TB
    merge join would do. Right rows sort before left rows at equal
    times (inclusive semantics). The payload travels as one struct so a
    legitimately-NULL right field can't fall through to an older row.

    Determinism contract: (key, right_time) must be unique on the right
    side — pre-dedup with a row_number if it isn't (equal-time right
    rows would otherwise tie on sort order).

    r17 (guide §2.3 narrower exchanges): the left's OWN key/time
    columns are the merge columns — the right side aliases its key and
    time INTO them — instead of duplicating them behind ``__k``/``__t``
    tags. Two fewer columns ride the union, the key exchange, the sort
    and the window; left rows pass through untouched, right rows are
    dropped after the window, so the output is identical.
    """
    lkey, rkey = (on, on) if isinstance(on, str) else on
    payload = [c for c in right.columns if c not in (rkey, right_time)]
    reserved = {"__side", "__p"}
    if bad := reserved & set(left.columns) | reserved & set(right.columns):
        raise ValueError(f"asof_join reserves column names {sorted(bad)}")
    if clash := set(payload) & set(left.columns):
        raise ValueError(
            f"right payload column(s) {sorted(clash)} collide with left "
            "columns — rename one side before joining (the output keeps "
            "all left columns and appends the right payload)"
        )
    lt = left.select("*", F.lit(1).alias("__side"))
    # the right's key/time take the LEFT's types before the union, so
    # unionByName cannot widen the output's left columns (an int key
    # meeting a bigint one would widen to bigint). A right key outside the
    # left key's type equals no left key: its row is dropped before the
    # cast, never turned into a NULL key. __rt keeps the right's own
    # type for the tolerance check.
    ktype = left.schema[lkey].dataType
    if right.schema[rkey].dataType != ktype:
        right = right.filter(
            F.col(rkey).isNull() | F.col(rkey).try_cast(ktype).isNotNull()
        )
    rt = right.select(
        F.col(rkey).cast(ktype).alias(lkey),
        F.col(right_time).cast(left.schema[left_time].dataType).alias(left_time),
        F.lit(0).alias("__side"),
        F.struct(
            F.col(right_time).alias("__rt"), *[F.col(c) for c in payload]
        ).alias("__p"),
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = (
        Window.partitionBy(lkey)
        .orderBy(F.col(left_time).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("__p", F.last("__p", ignorenulls=True).over(w))
    if tolerance_seconds is not None:
        in_tol = (
            F.col(left_time).cast("double")
            - F.col("__p.__rt").cast("double")
        ) <= F.lit(float(tolerance_seconds))
        u = u.withColumn("__p", F.when(in_tol, F.col("__p")))
    return u.filter(F.col("__side") == 1).select(
        *left.columns, *[F.col(f"__p.{c}").alias(c) for c in payload]
    )

"""Relational operators (SURVEY.md §2.B data ops + §2.C implicit ETL ops).

The reference's ETL script (``core.clj:138-197``) is a REPL-style
pipeline over three CSVs; its dataflow decomposes into the operators
below. Each is expressed declaratively so Catalyst plans it (pushdown,
pruning, join selection all free).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetric_diff(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """B3 — tagged symmetric difference of two key sets.

    Reference: ``diff`` at ``data.clj:17-30`` — a merge scan over two
    SORTED seqs emitting ``[:left x]`` / ``[:right y]`` tags. The
    sortedness there is an implementation detail (O(n+m) merge); the
    semantics are a full-outer join keeping only the null-sides. Spark
    picks sort-merge join itself for large inputs — same algorithm,
    distributed.

    Returns ``(key, side)`` with side ∈ {'left','right'}.
    """
    left = a.select(F.col(key)).distinct().withColumn("_l", F.lit(1))
    right = b.select(F.col(key)).distinct().withColumn("_r", F.lit(1))
    return (
        left.join(right, key, "full_outer")
        .filter(F.col("_l").isNull() | F.col("_r").isNull())
        .select(
            key,
            F.when(F.col("_r").isNull(), F.lit("left"))
            .otherwise(F.lit("right"))
            .alias("side"),
        )
    )


def anti_join(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """C5 — keys of ``a`` absent from ``b``.

    Reference: the "missing keywords" computation at ``core.clj:167``
    (one side of the B3 diff). ``left_anti`` join: no row of ``a`` is
    ever duplicated and the build side only needs the key column —
    Catalyst broadcasts it when small.
    """
    return a.join(b, key, "left_anti")


def zero_pad_union(
    matrix_wide: DataFrame, all_keys: DataFrame, key: str
) -> DataFrame:
    """C6 — append all-zero rows for keys missing from the wide matrix
    so the matrix domain is complete.

    Reference: ``visits'`` assembly at ``core.clj:169-172`` (manually
    conjures zero rows for the missing keywords). Expressed as a
    right join against the full key dimension + null→0 fill — one
    pass, no driver-side row construction.
    """
    if "_present" in matrix_wide.columns:
        raise ValueError(
            "zero_pad_union reserves the column name '_present'; rename it"
        )
    value_cols = [c for c in matrix_wide.columns if c != key]
    types = {f.name: f.dataType for f in matrix_wide.schema.fields}
    # zero-fill ONLY the padded rows (marked absent via the sentinel):
    # a blanket na.fill would also clobber genuine NULL cells in rows
    # that were already present, which the reference never does (it
    # only conjures zero rows for MISSING keys, core.clj:169-172)
    marked = matrix_wide.withColumn("_present", F.lit(True))
    joined = marked.join(all_keys.select(key).distinct(), key, "right_outer")
    return joined.select(
        key,
        *[
            F.when(
                F.col("_present").isNull(), F.lit(0).cast(types[c])
            )
            .otherwise(F.col(c))
            .alias(c)
            for c in value_cols
        ],
    )


def unpivot(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """C8 — wide → long (the reference's pre-pivoted ``visits.csv``
    matrix → numeric matrix at ``core.clj:180-185``).

    Uses the native ``DataFrame.unpivot`` (Spark ≥3.4): a narrow
    generator, no shuffle — each input row fans out to
    ``len(value_cols)`` output rows within its partition.
    """
    return df.unpivot(
        ids=list(id_cols),
        values=list(value_cols),
        variableColumnName=var_name,
        valueColumnName=value_name,
    )


def filter_nonzero(df: DataFrame, col: str) -> DataFrame:
    """C2 — drop rows whose click-count is zero.

    Reference filters on the STRING "0" (``core.clj:146,157``) because
    its CSV layer is stringly-typed; with real schemas the predicate
    is numeric. Pushed down to the scan (check ``PushedFilters``).
    """
    return df.filter(F.col(col) != 0)


def micros_to_currency(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    """C4 — Google-Ads-style micro-units → currency (×1e-6), reference
    ``core.clj:154-155,164-165``."""
    return df.withColumn(out or col, F.col(col).cast("double") * F.lit(1e-6))


def upsert(
    base: DataFrame,
    updates: DataFrame,
    key: str,
    validate_unique: bool = False,
) -> DataFrame:
    """MERGE/upsert over plain DataFrames: a key present in
    ``updates`` has its row REPLACED WHOLESALE (an update row may
    legitimately set a column to NULL — it wins); new keys insert;
    untouched keys survive. Output keeps ``base``'s column order.

    Shape: one full-outer join on the key + per-row pick — the
    lakehouse MERGE INTO reduced to its relational core. At scale the
    join shuffles both sides on the key once; with bucketed storage on
    the key (see tests/test_storage.py) even that shuffle disappears.

    PRECONDITION: ``updates`` must be unique per key — duplicate
    update keys would multiply output rows (SQL MERGE raises on
    multiple matches). Pass ``validate_unique=True`` to enforce it
    with one extra aggregation job.
    """
    base_types = dict(zip(base.columns, [f.dataType for f in base.schema.fields]))
    upd_types = dict(
        zip(updates.columns, [f.dataType for f in updates.schema.fields])
    )
    if base_types != upd_types:
        raise ValueError(
            f"upsert requires matching schemas (base {base.schema.simpleString()}, "
            f"updates {updates.schema.simpleString()})"
        )
    reserved = [
        c for c in base.columns if c in ("_hit", "_u_key") or c.startswith("_u_")
    ]
    if reserved:
        raise ValueError(
            f"upsert reserves column names '_hit' and '_u_*'; rename {reserved}"
        )
    if validate_unique:
        dup = (
            updates.groupBy(key).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(f"updates has duplicate values of key '{key}'")
    u = updates.select(
        F.col(key).alias("_u_key"),
        F.lit(True).alias("_hit"),
        *[F.col(c).alias(f"_u_{c}") for c in updates.columns if c != key],
    )
    # null-safe key equality: a plain equi-join never matches NULL
    # keys, so an update for base's NULL-key row would INSERT a
    # duplicate instead of replacing it — violating the replace
    # contract above
    merged = base.join(u, F.col(key).eqNullSafe(F.col("_u_key")), "full_outer")
    return merged.select(
        *[
            F.coalesce(F.col(key), F.col("_u_key")).alias(key)
            if c == key
            else F.when(F.col("_hit").isNotNull(), F.col(f"_u_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in base.columns
        ],
    )


def scd2_intersect_join(
    a: DataFrame,
    b: DataFrame,
    key: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Bitemporal SCD2 × SCD2 join — the warehouse conformance op
    that answers "which attribute COMBINATIONS were true, and when":
    equi-join two validity-interval histories on the business key and
    emit each pair of overlapping slices with the INTERSECTED
    validity window. ``valid_to`` NULL means the slice is still open
    (+∞): intersected bounds are NULL-aware — from = greatest of the
    froms, to = least of the tos with NULL as +∞ (NULL only when
    both sides are open) — and empty intersections are dropped.

    Columns: ``key``, ``valid_from``/``valid_to`` get the intersected
    window; every other column of ``a`` and ``b`` rides through (they
    must not collide — rename upstream, as any conformance pipeline
    does).

    Scale shape: ONE equi-join on the business key — per-key
    histories are short by nature (slices per key, not events per
    key), so the fan-out is bounded and no range-binning is needed
    (contrast j03, where intervals join WITHOUT an equi-key and the
    bins carry the selectivity). Skewed keys inherit the x12 salting
    remedy unchanged."""
    ac = [c for c in a.columns if c not in (key, valid_from, valid_to)]
    bc = [c for c in b.columns if c not in (key, valid_from, valid_to)]
    dup = set(ac) & set(bc)
    if dup:
        raise ValueError(f"colliding attribute columns: {sorted(dup)}")
    left = a.select(
        key,
        *ac,
        F.col(valid_from).alias("_fa"),
        F.col(valid_to).alias("_ta"),
    )
    right = b.select(
        key,
        *bc,
        F.col(valid_from).alias("_fb"),
        F.col(valid_to).alias("_tb"),
    )
    new_from = F.greatest("_fa", "_fb")
    new_to = (
        F.when(F.col("_ta").isNull(), F.col("_tb"))
        .when(F.col("_tb").isNull(), F.col("_ta"))
        .otherwise(F.least("_ta", "_tb"))
    )
    return (
        left.join(right, key)
        .withColumn("_from", new_from)
        .withColumn("_to", new_to)
        .filter(F.col("_to").isNull() | (F.col("_from") < F.col("_to")))
        .select(
            key,
            *ac,
            *bc,
            F.col("_from").alias(valid_from),
            F.col("_to").alias(valid_to),
        )
    )

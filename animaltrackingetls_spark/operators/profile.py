"""Column profiling — the data-quality audit a pipeline runs before it
trusts a table (null rates, cardinalities, value ranges per column).

The reference audits its tables ad hoc (full-table duplicate scan,
catch_duplicates_script.py:55-67; per-load record counts into the
inventory, inventory.py:28-66); this operator is the systematic form.

Plan shape: ONE aggregation pass over the scan computes every
column's statistics as parallel aggregate expressions (count / count
distinct / min / max are all partial-aggregatable, so map-side combine
reduces each partition to one row before the single-row final
aggregate); the per-column unpivot then happens on that one row —
driver-trivial. The exact ``countDistinct`` over k columns plans as an
Expand (k rows per input row) feeding one shuffle; at 100 TB switch
``exact_distinct=False`` for ``approx_count_distinct`` (HLL sketches,
no Expand, mergeable map-side) — same output shape, estimated
cardinalities (and no DuckDB oracle, since the sketch isn't portable).

Values are surfaced as strings so one result schema covers all column
types; doubles are NOT formatting-stable across engines (Java
scientific notation differs from C printf), so profile numeric columns
as ints/decimals or accept engine-local min/max rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Per-column profile: ``(col_name, n_rows, n_null, n_distinct,
    min_value, max_value)`` — one output row per profiled column.
    NULLs are excluded from n_distinct/min/max (SQL aggregate
    semantics); min/max are rendered as strings.
    """
    cols = columns if columns is not None else list(df.columns)
    if not cols:
        raise ValueError("profile_columns needs at least one column")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")

    distinct_of = (
        F.countDistinct if exact_distinct else F.approx_count_distinct
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"_nn_{c}"),
            distinct_of(col).alias(f"_nd_{c}"),
            F.min(col).cast("string").alias(f"_mn_{c}"),
            F.max(col).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)

    entries = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"_nn_{c}")).alias("n_null"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_mn_{c}").alias("min_value"),
            F.col(f"_mx_{c}").alias("max_value"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*entries)).alias("p")).select("p.*")


def _quote_ident(name: str) -> str:
    """Double-quote an SQL identifier (DuckDB/ANSI escaping) so names
    with spaces, quotes, or reserved words round-trip."""
    return '"' + name.replace('"', '""') + '"'


def _quote_literal(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


def profile_oracle_sql(table: str, columns: list[str]) -> str:
    """DuckDB twin of :func:`profile_columns` (exact mode): one UNION ALL
    branch per column, same aggregate semantics and string rendering.
    Identifiers are quoted so any valid Spark column name is
    expressible."""
    branches = []
    t = _quote_ident(table)
    for c in columns:
        qc = _quote_ident(c)
        branches.append(
            f"""
            SELECT {_quote_literal(c)} AS col_name,
                   count(*) AS n_rows,
                   count(*) - count({qc}) AS n_null,
                   count(DISTINCT {qc}) AS n_distinct,
                   CAST(min({qc}) AS VARCHAR) AS min_value,
                   CAST(max({qc}) AS VARCHAR) AS max_value
            FROM {t}
            """
        )
    return " UNION ALL ".join(branches)


# IEEE-754 total-order trick: XOR a negative double's bit pattern with
# 0x7FFF... so that the int64 view sorts exactly like java.lang.Double
# .compare (-0.0 < 0.0, NaN greatest) — the order Spark's `percentile`
# sorts its value→count map by.
_SIGN_EXPAND = 0x7FFFFFFFFFFFFFFF


def _doubles_to_ordkeys(v):
    """float64 ndarray → int64 keys whose ascending order is Java
    Double.compare order and whose equality is Double.equals (NaN
    payloads canonicalized first, like doubleToLongBits)."""
    import numpy as np

    nan = np.isnan(v)
    if nan.any():
        v = np.where(nan, np.float64("nan"), v)
    bits = np.ascontiguousarray(v, dtype=np.float64).view(np.int64)
    return np.where(bits < 0, bits ^ np.int64(_SIGN_EXPAND), bits)


def _ordkeys_to_doubles(k):
    import numpy as np

    bits = np.where(k < 0, k ^ np.int64(_SIGN_EXPAND), k)
    return np.ascontiguousarray(bits, dtype=np.int64).view(np.float64)


def _exact_quantiles_arrow(df: DataFrame, columns: list[str],
                           probs: tuple[float, ...]) -> DataFrame:
    """Arrow twin of ``agg(percentile(c, probs) for c in columns)`` —
    same partial/final shape as Spark's ``Percentile`` aggregate
    (per-partition value→count partials, one final merge task, memory
    bounded by DISTINCT cardinality at both levels) with the JVM
    OpenHashMap/boxed-Double machinery replaced by numpy: per-partition
    ``np.unique`` over the int64 total-order view, a narrow
    (col_id, key, count) exchange, and one vectorized merge +
    interpolation task.  Returns a ONE-ROW frame with an
    ``array<double>`` column ``_q_{c}`` per input column.

    Bit parity with the JVM aggregate (pinned in tests): values first
    cast to double — order-preserving for every numeric type, and
    doubles that collide under the cast merge into one key, which
    leaves the weighted CDF (hence every interpolated quantile)
    unchanged; keys ordered/equated exactly like boxed Doubles via the
    total-order bit view (NaN collapsed, -0.0 < 0.0); interpolation is
    Spark's ``(higher-pos)*lower + (pos-lower)*higher`` with the same
    Long/Double arithmetic order; position index lookup is the same
    first-accumulated-count-≥-target search.
    """
    ncols = len(columns)
    plist = [float(p) for p in probs]
    num = df.select(*[F.col(c).cast("double").alias(c) for c in columns])

    def _partial(batches):
        import numpy as np
        import pyarrow as pa

        acc: list[list] = [[] for _ in range(ncols)]
        for batch in batches:
            for j in range(ncols):
                col = batch.column(j)
                if col.null_count:
                    col = col.drop_null()
                if len(col):
                    acc[j].append(col)
        cids, keys, cnts = [], [], []
        for j, chunks in enumerate(acc):
            if not chunks:
                continue
            v = pa.chunked_array(chunks).combine_chunks().to_numpy(
                zero_copy_only=False
            )
            u, c = np.unique(_doubles_to_ordkeys(v), return_counts=True)
            cids.append(np.full(len(u), j, dtype=np.int32))
            keys.append(u)
            cnts.append(c.astype(np.int64))
        if cids:
            yield pa.record_batch(
                {
                    "cid": pa.array(np.concatenate(cids), type=pa.int32()),
                    "k": pa.array(np.concatenate(keys), type=pa.int64()),
                    "cnt": pa.array(np.concatenate(cnts), type=pa.int64()),
                }
            )

    out_fields = [f"_q_{c}" for c in columns]

    def _final(batches):
        import math

        import numpy as np
        import pyarrow as pa

        cid_parts, key_parts, cnt_parts = [], [], []
        for batch in batches:
            cid_parts.append(batch.column(0).to_numpy(zero_copy_only=False))
            key_parts.append(batch.column(1).to_numpy(zero_copy_only=False))
            cnt_parts.append(batch.column(2).to_numpy(zero_copy_only=False))
        if cid_parts:
            cid = np.concatenate(cid_parts)
            key = np.concatenate(key_parts)
            cnt = np.concatenate(cnt_parts)
        else:
            cid = key = cnt = None
        row = []
        for j in range(ncols):
            if cid is None:
                row.append(None)
                continue
            sel = cid == j
            if not sel.any():
                row.append(None)
                continue
            # merge the per-partition (key, count) partials: sort pairs
            # then sum runs — argsort+reduceat measured 5x faster than
            # np.unique(return_inverse) on the ~distinct-sized merge
            # (stability is irrelevant: tied keys' counts are summed)
            ks, cs = key[sel], cnt[sel]
            order = np.argsort(ks, kind="quicksort")
            sk, sc = ks[order], cs[order]
            brk = np.empty(len(sk), dtype=bool)
            brk[0] = True
            np.not_equal(sk[1:], sk[:-1], out=brk[1:])
            starts = np.flatnonzero(brk)
            u = sk[starts]
            counts = np.add.reduceat(sc, starts)
            acc = np.cumsum(counts)
            dv = _ordkeys_to_doubles(u)
            maxpos = float(int(acc[-1]) - 1)
            qs = []
            for p in plist:
                pos = maxpos * p
                lo = math.floor(pos)
                hi = math.ceil(pos)
                li = int(np.searchsorted(acc, lo + 1, side="left"))
                lval = float(dv[li])
                if lo == hi:
                    qs.append(lval)
                    continue
                hi_ix = int(np.searchsorted(acc, hi + 1, side="left"))
                hval = float(dv[hi_ix])
                # Spark's Percentile skips interpolation when the two
                # keys are EQUAL as values, not only when they are the
                # same key: -0.0 and 0.0 are distinct keys but equal,
                # and a position between them returns the lower, -0.0
                if hi_ix == li or lval == hval:
                    qs.append(lval)
                    continue
                qs.append((float(hi) - pos) * lval + (pos - float(lo)) * hval)
            row.append(qs)
        yield pa.record_batch(
            {
                f: pa.array([row[j]], type=pa.list_(pa.float64()))
                for j, f in enumerate(out_fields)
            }
        )

    partial = num.mapInArrow(_partial, "cid int, k long, cnt long")
    schema = ", ".join(
        "`" + f.replace("`", "``") + "` array<double>" for f in out_fields
    )
    # hash-partition on a constant key: one final partition WITHOUT the
    # local sort a round-robin repartition(1) would pay, and without
    # collapsing the upstream partial pass the way coalesce(1) would
    return partial.repartition(1, F.lit(0)).mapInArrow(_final, schema)


def profile_quantiles(
    df: DataFrame,
    columns: list[str],
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    exact: bool = True,
    accuracy: int = 10000,
    round_digits: int = 6,
) -> DataFrame:
    """Numeric distribution profile: ``(col_name, prob, q)`` — one row
    per (column, probability), linear-interpolated (SQL
    ``PERCENTILE_CONT`` / R-7) quantiles.

    Plan shape: ONE aggregation pass computes every column's quantile
    array as parallel aggregate expressions on a single result row; the
    unpivot to rows is driver-trivial. Two modes with an honest scale
    split:

    * ``exact=True``: the Arrow twin of Spark's ``percentile``
      aggregate (``_exact_quantiles_arrow``). A partial pass builds a
      value→count table per partition (``np.unique`` over each
      column's doubles), a narrow ``(col_id, key, count)`` exchange
      sends them to ONE final task, and that task merges the counts
      and interpolates. Memory is bounded by the column's DISTINCT
      cardinality at both levels, not by row count: right for
      bounded-cardinality metrics (prices, scores, sizes) at any row
      scale; wrong for ~unique doubles at 100 TB (use ``exact=False``
      there). The output is bit-identical to the JVM aggregate (pinned
      in tests) and DuckDB-replayable (``quantile_cont``); the
      ``round_digits`` rounding is insurance, not a fudge.
    * ``exact=False``: ``approx_percentile`` — Greenwald-Khanna
      sketch, O(accuracy) memory regardless of cardinality, mergeable
      map-side. The 100 TB default; rank error ≤ 1/accuracy (pinned in
      tests), no oracle (the sketch isn't portable).
    """
    if not columns:
        raise ValueError("profile_quantiles needs at least one column")
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    # Both modes cast to double, which would turn a string column into
    # NULLs that silently drop out; Spark's `percentile` raises instead.
    types = {f.name: f.dataType for f in df.schema.fields}
    non_numeric = [c for c in columns if not isinstance(types[c], NumericType)]
    if non_numeric:
        raise ValueError(f"columns are not numeric: {non_numeric}")
    if not probs or not all(0.0 <= p <= 1.0 for p in probs):
        raise ValueError(f"probs must be within [0, 1], got {probs!r}")

    if exact:
        # r16: Arrow twin of the JVM `percentile` aggregate — same
        # partial/final shape and bit-identical output (see
        # _exact_quantiles_arrow), numpy instead of the boxed-Double
        # OpenHashMap build/merge that dominated the near-unique
        # l_extendedprice column (583k distinct / 600k rows).
        one = _exact_quantiles_arrow(df, columns, probs)
    else:
        plist = ", ".join(repr(float(p)) for p in probs)
        aggs = []
        for c in columns:
            qc = "`" + c.replace("`", "``") + "`"
            fn = (
                f"approx_percentile(CAST({qc} AS DOUBLE), "
                f"array({plist}), {int(accuracy)})"
            )
            aggs.append(F.expr(fn).alias(f"_q_{c}"))
        one = df.agg(*aggs)

    entries = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.lit(float(p)).alias("prob"),
            F.round(F.col(f"_q_{c}")[i].cast("double"), round_digits)
            .alias("q"),
        )
        for c in columns
        for i, p in enumerate(probs)
    ]
    return one.select(F.explode(F.array(*entries)).alias("e")).select("e.*")


def quantiles_oracle_sql(
    table: str,
    columns: list[str],
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    round_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`profile_quantiles` (exact mode):
    ``quantile_cont`` over the same probability list, zipped unnests,
    same rounding."""
    plist = ", ".join(repr(float(p)) for p in probs)
    t = _quote_ident(table)
    branches = []
    for c in columns:
        qc = _quote_ident(c)
        branches.append(
            f"""
            SELECT {_quote_literal(c)} AS col_name,
                   CAST(unnest([{plist}]) AS DOUBLE) AS prob,
                   unnest(list_transform(quantile_cont({qc}, [{plist}]),
                          x -> round(CAST(x AS DOUBLE), {round_digits})))
                     AS q
            FROM {t}
            """
        )
    return " UNION ALL ".join(branches)


def profile_diff(
    before: DataFrame,
    after: DataFrame,
    columns: list[str] | None = None,
    null_ratio_tolerance: float = 0.05,
    distinct_ratio_tolerance: float = 0.5,
    exact_distinct: bool = True,
) -> DataFrame:
    """Snapshot drift report: profile two versions of the same table and
    flag per-column changes a pipeline should refuse to silently ingest
    — the systematic form of "the upstream changed something" detection
    (the reference trusts its source blindly; at 100 TB an upstream
    schema/semantics drift poisons every downstream job for days).

    One row per (column, check): null-ratio delta, distinct-count ratio,
    min/max boundary movement, plus row-count change as a ``_table_``
    row. ``flagged`` marks checks outside tolerance:

    * ``null_ratio``   — |after − before| > ``null_ratio_tolerance``
    * ``distinct``     — after/before outside
                         [1−t, 1/(1−t)] for t = ``distinct_ratio_tolerance``
    * ``range``        — min or max string-rendered value changed
                         (informational only, never flagged: ranges move
                         legitimately with new data)
    * ``rows``         — informational, never flagged

    Columns present in only one snapshot appear as ``schema`` rows,
    always flagged — the loudest drift there is.
    """
    if not 0 <= null_ratio_tolerance <= 1:
        raise ValueError(f"null_ratio_tolerance in [0,1], got {null_ratio_tolerance}")
    if not 0 < distinct_ratio_tolerance < 1:
        raise ValueError(
            f"distinct_ratio_tolerance in (0,1), got {distinct_ratio_tolerance}"
        )
    if columns is not None:
        ghost = [
            c for c in columns
            if c not in before.columns and c not in after.columns
        ]
        if ghost:
            # a typo'd column must not masquerade as schema drift
            raise ValueError(f"columns in neither snapshot: {ghost}")
    shared = [
        c for c in (columns or before.columns)
        if c in before.columns and c in after.columns
    ]
    only_before = [
        c for c in (columns or before.columns)
        if c in before.columns and c not in after.columns
    ]
    only_after = [
        c for c in (columns or after.columns)
        if c in after.columns and c not in before.columns
        and (columns is None or c in columns)
    ]
    spark = before.sparkSession
    if not shared:
        # total schema replacement: no profiles to join, only the
        # (always-flagged) schema rows + the row-count row
        rows = (
            [("_table_", "rows", str(before.count()), str(after.count()), False)]
            + [(c, "schema", "present", "MISSING", True) for c in only_before]
            + [(c, "schema", "MISSING", "present", True) for c in only_after]
        )
        return spark.createDataFrame(
            rows, "col_name string, check string, before string, "
                  "after string, flagged boolean"
        )
    # each profile is one aggregation pass over its table, materialized
    # ONCE (k-row localCheckpoint): the join, the row-count reads, and
    # the returned frame all reuse it instead of re-scanning the table
    b = profile_columns(before, shared, exact_distinct=exact_distinct).localCheckpoint(eager=True).select(
        "col_name",
        F.col("n_rows").alias("b_rows"),
        F.col("n_null").alias("b_null"),
        F.col("n_distinct").alias("b_distinct"),
        F.col("min_value").alias("b_min"),
        F.col("max_value").alias("b_max"),
    )
    a = profile_columns(after, shared, exact_distinct=exact_distinct).localCheckpoint(eager=True).select(
        "col_name",
        F.col("n_rows").alias("a_rows"),
        F.col("n_null").alias("a_null"),
        F.col("n_distinct").alias("a_distinct"),
        F.col("min_value").alias("a_min"),
        F.col("max_value").alias("a_max"),
    )
    j = b.join(a, "col_name")  # both sides are #columns rows — trivial
    b_nr = F.col("b_null") / F.greatest(F.col("b_rows"), F.lit(1))
    a_nr = F.col("a_null") / F.greatest(F.col("a_rows"), F.lit(1))
    d_ratio = F.col("a_distinct") / F.greatest(F.col("b_distinct"), F.lit(1))
    lo = 1.0 - distinct_ratio_tolerance
    checks = j.select(
        "col_name",
        F.explode(
            F.array(
                F.struct(
                    F.lit("null_ratio").alias("check"),
                    F.round(b_nr, 6).cast("string").alias("before"),
                    F.round(a_nr, 6).cast("string").alias("after"),
                    (F.abs(a_nr - b_nr) > null_ratio_tolerance).alias("flagged"),
                ),
                F.struct(
                    F.lit("distinct").alias("check"),
                    F.col("b_distinct").cast("string").alias("before"),
                    F.col("a_distinct").cast("string").alias("after"),
                    (
                        # a column NULL in BOTH snapshots (0 distinct on
                        # each side) has no drift to flag
                        (F.col("b_distinct") + F.col("a_distinct") > 0)
                        & ((d_ratio < lo) | (d_ratio > 1.0 / lo))
                    ).alias("flagged"),
                ),
                F.struct(
                    F.lit("range").alias("check"),
                    F.concat_ws("..", "b_min", "b_max").alias("before"),
                    F.concat_ws("..", "a_min", "a_max").alias("after"),
                    F.lit(False).alias("flagged"),
                ),
            )
        ).alias("c"),
    ).select("col_name", "c.check", "c.before", "c.after", "c.flagged")
    # row counts come from the checkpointed profiles — no table re-scan
    br = b.select(F.col("b_rows")).first()[0]
    ar = a.select(F.col("a_rows")).first()[0]
    extra_rows = (
        [("_table_", "rows", str(br), str(ar), False)]
        + [(c, "schema", "present", "MISSING", True) for c in only_before]
        + [(c, "schema", "MISSING", "present", True) for c in only_after]
    )
    extra = spark.createDataFrame(
        extra_rows, "col_name string, check string, before string, "
                    "after string, flagged boolean"
    )
    return checks.unionByName(extra)


class DriftDetected(ValueError):
    """A snapshot drift gate refused a load. ``.diff_rows`` carries the
    flagged (col_name, check, before, after) rows for the reject log."""

    def __init__(self, flagged_rows):
        self.diff_rows = flagged_rows
        lines = ", ".join(
            f"{r['col_name']}/{r['check']}: {r['before']} -> {r['after']}"
            for r in flagged_rows
        )
        super().__init__(
            f"drift gate: {len(flagged_rows)} flagged check(s) — {lines}. "
            "Inspect profile_diff output; widen tolerances or update the "
            "reference snapshot to accept the change deliberately."
        )


def assert_no_drift(
    reference: DataFrame,
    batch: DataFrame,
    columns: list[str] | None = None,
    null_ratio_tolerance: float = 0.05,
    distinct_ratio_tolerance: float = 0.5,
    exact_distinct: bool = True,
) -> DataFrame:
    """The GATE form of :func:`profile_diff` — the cleaning tier's
    flag-rows convention applied to whole-table drift: profile both
    snapshots, and if ANY check is flagged (null-ratio jump, distinct
    collapse/explosion, schema add/drop), raise :class:`DriftDetected`
    carrying the flagged rows so the caller can log them to its reject
    sink; otherwise return the full diff frame for the audit trail.

    The collect is bounded by construction: the diff has at most
    (checks × columns) + 1 rows, never data rows.
    """
    diff = profile_diff(
        reference,
        batch,
        columns=columns,
        null_ratio_tolerance=null_ratio_tolerance,
        distinct_ratio_tolerance=distinct_ratio_tolerance,
        exact_distinct=exact_distinct,
    )
    flagged = diff.filter(F.col("flagged")).collect()
    if flagged:
        raise DriftDetected(flagged)
    return diff

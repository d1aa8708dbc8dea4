"""Dataset versioning — snapshot diff and slowly-changing-dimension
history, the operations a recurring-crawl training corpus needs to
answer "what changed since the last build?" without re-reading what
didn't.

The reference re-ingests each day's full extract and reconciles by
counting (monarch_etl/inventory.py:28-66 records per-load counts;
catch_duplicates_script.py:55-67 re-scans for duplicates); the
systematic form is a keyed diff between the previous and current
snapshots (added/removed/changed) and, over time, an SCD2 interval
table giving each key's attribute state as of any timestamp.

Scale design (100 TB posture):

* ``corpus_diff`` digests the compared columns INSIDE the scan
  projection (one md5 per row, codegen), so the full-outer join
  shuffles ``(key, digest)`` — a few dozen bytes/row — never the
  document payloads. The join itself is the one unavoidable shuffle
  (both sides are corpus-sized; nothing to broadcast), and AQE handles
  skewed keys. ``include_unchanged=False`` (default) keeps the OUTPUT
  proportional to the churn, not the corpus.
* ``scd2_from_history`` is one shuffle on the key (window) followed by
  an aggregate on ``(key, version)`` that reuses the same partitioning
  (no second exchange; asserted in tests), then a second window over
  the already-aggregated (small) version rows.
* Everything is built-in expressions — no Python in any hot path — and
  every output is deterministic, so the whole module is DuckDB-oracle
  replayable (hash-checked, not rows-only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_NULL_SENTINEL = "\x00<NULL>\x00"
_SEP = "\x00|\x00"


def row_digest(cols: list[str], out: str = "digest") -> Column:
    """md5 over the listed columns, NULL-safe, order-sensitive, and
    UNAMBIGUOUS: each column renders as ``<length>:<value>`` (NULL
    becomes a sentinel no real rendering matches), so neither a NULL
    swap (``('a', NULL)`` vs ``(NULL, 'a')``) nor separator bytes
    EMBEDDED IN VALUES can make distinct rows digest identically — a
    plain separator join collided on values containing the separator
    (round-10 review finding; raw crawled text can carry NUL bytes).

    Portability contract (MEASURED, round 10): the DuckDB twin
    (:func:`row_digest_sql`) is byte-identical for string, integral,
    boolean, date, and timestamp columns. It is NOT for float/double —
    Java renders the shortest round-trip decimal while C-family
    formatting renders the exact binary expansion, and neither engine
    can produce the other's form — so the diff itself stays correct
    for float columns (both sides digest in Spark) but a DuckDB oracle
    over them will mismatch; keep float columns out of hash-checked
    compare sets or pre-round them to a fixed scale."""
    return F.md5(
        F.concat_ws(_SEP, *[_rendered(c) for c in cols])
    ).alias(out)


def _rendered(c: str) -> Column:
    """One column's unambiguous digest part: ``<length>:<value>`` with
    NULL -> sentinel; never NULL itself. Shared by :func:`row_digest`
    and corpus_diff's join-key rendering."""
    s = F.col(c).cast("string")
    return F.coalesce(
        F.concat(F.length(s).cast("string"), F.lit(":"), s),
        F.lit(_NULL_SENTINEL),
    )


def row_digest_sql(cols: list[str]) -> str:
    """The DuckDB expression twin of :func:`row_digest` (same sentinel,
    separator, and length-prefixed rendering; see that docstring for
    the measured type-portability contract). ``||`` rather than
    ``concat`` because DuckDB's concat SKIPS NULLs while Spark's
    propagates them — the NULL path must reach the sentinel. The NUL
    guard bytes are spelled ``chr(0)`` because a literal ``\\x00``
    terminates a DuckDB string literal at the parser."""
    null_s = "(chr(0) || '<NULL>' || chr(0))"
    sep = "(chr(0) || '|' || chr(0))"
    parts = ", ".join(
        f"coalesce((CAST(length(CAST({c} AS VARCHAR)) AS VARCHAR)"
        f" || ':' || CAST({c} AS VARCHAR)), {null_s})"
        for c in cols
    )
    return f"md5(concat_ws({sep}, {parts}))"


def _unique_key_guard(
    df: DataFrame, key_cols: list[str], digest_col: str, side: str
) -> DataFrame:
    """Fold a duplicate-key assertion into ``digest_col``: a
    count-over-keys window whose ``assert_true`` fails the job on the
    first key appearing twice in a snapshot. Free at scale BY
    CONSTRUCTION: the window needs hashpartitioning(keys) + sort(keys),
    which is exactly what the downstream sort-merge join requires of
    this side, so Catalyst plans ONE exchange + one sort for both (the
    plan is pinned in tests/test_versioning.py). The guard is spliced
    into the digest expression (``when(assert.isNull(), digest)``)
    because a free-standing unused column would be pruned before it
    ever evaluated."""
    w = Window.partitionBy(F.col("_jk"))
    msg = F.concat(
        F.lit(f"corpus_diff: duplicate key in {side} snapshot: "),
        F.concat_ws(
            ",", *[F.coalesce(F.col(c).cast("string"), F.lit("NULL"))
                   for c in key_cols]
        ),
    )
    guard = F.assert_true(F.count(F.lit(1)).over(w) == 1, msg)
    digest = (
        F.when(guard.isNull(), F.col(digest_col))
        .otherwise(F.lit(None).cast("string"))
        .alias(digest_col)
    )
    return df.select(*key_cols, "_jk", digest)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
    assert_unique: bool = True,
) -> DataFrame:
    """Keyed snapshot diff: one row per key present in either snapshot,
    tagged ``added`` (new only), ``removed`` (old only), ``changed``
    (both, compared columns differ), or ``unchanged`` (both, equal —
    emitted only with ``include_unchanged=True``, since at corpus scale
    the unchanged set IS the corpus).

    Output: ``key_cols..., change, old_digest, new_digest`` — digests
    are md5 over ``compare_cols`` (default: all shared non-key
    columns), carried so a downstream join can fetch changed payloads
    from the NEW snapshot only.

    Keys must be unique within each snapshot (it's a snapshot, not a
    log). With ``assert_unique=True`` (default) a per-side
    count-over-keys guard raises on the first duplicate instead of
    silently fanning rows out through the full-outer join; the guard
    window reuses the exchange + sort the join itself requires of each
    side, so it costs no extra shuffle (see :func:`_unique_key_guard`).
    ``assert_unique=False`` skips the guard for inputs already
    dedup-certified upstream."""
    if not key_cols:
        raise ValueError("corpus_diff needs at least one key column")
    reserved = {"change", "old_digest", "new_digest"} & set(key_cols)
    if reserved:
        raise ValueError(
            f"corpus_diff reserves output columns {sorted(reserved)}; "
            "rename the key columns"
        )
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(key_cols)]
    # KEY-ONLY snapshots (every column is a key — membership tables like
    # a dedup index's bands) degenerate to a PRESENCE diff: rows are
    # added/removed/unchanged, 'changed' is impossible by construction,
    # digests are a constant (round 12; formerly a hard error, which
    # made key-only group members un-pumpable).
    for side, df in (("old", old), ("new", new)):
        missing = [c for c in key_cols + compare_cols if c not in df.columns]
        if missing:
            raise ValueError(f"{side} snapshot lacks columns: {missing}")

    # NULL-SAFE key matching (round-10 review finding): a plain equi
    # join never matches NULL keys, so an identical NULL-keyed row in
    # both snapshots misreported as added+removed (and churned on every
    # diff). Joining on the RENDERED key string — the same
    # length-prefixed NULL-sentinel form the digest uses, injective and
    # never NULL — gives exact null-safe semantics while staying a
    # plain equi-join, so the uniqueness guard's window (partitioned by
    # the same rendering) still shares ONE exchange per side with the
    # join (plan-pinned); Spark's native <=> join would rewrite the
    # keys internally and forfeit that reuse.
    jk = F.concat_ws(_SEP, *[_rendered(k) for k in key_cols]).alias("_jk")
    if compare_cols:
        old_digest = row_digest(compare_cols, "old_digest")
        new_digest = row_digest(compare_cols, "new_digest")
    else:  # presence diff: constant digests, never unequal
        old_digest = F.lit("-").alias("old_digest")
        new_digest = F.lit("-").alias("new_digest")
    o = old.select(*key_cols, jk, old_digest).alias("o")
    n = new.select(*key_cols, jk, new_digest).alias("n")
    if assert_unique:
        o = _unique_key_guard(o, key_cols, "old_digest", "old").alias("o")
        n = _unique_key_guard(n, key_cols, "new_digest", "new").alias("n")
    joined = o.join(n, F.col("o._jk") == F.col("n._jk"), "full_outer")
    key_out = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
        for k in key_cols
    ]
    change = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = joined.select(*key_out, change.alias("change"),
                        "old_digest", "new_digest")
    if not include_unchanged:
        out = out.filter(F.col("change") != "unchanged")
    return out


def corpus_diff_summary(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """``(change, n)`` counts including ``unchanged`` — the one-line
    churn report (map-side partial agg on top of the diff join)."""
    d = corpus_diff(old, new, key_cols, compare_cols,
                    include_unchanged=True)
    return d.groupBy("change").agg(F.count(F.lit(1)).alias("n"))


def scd2_from_history(
    df: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
    tie_col: str | None = None,
) -> DataFrame:
    """Collapse an append-only event history into SCD2 intervals: one
    row per (key, consecutive attribute state) with
    ``valid_from`` (first observation of the state), ``valid_to``
    (start of the next state; NULL = still current), 1-based
    ``version``, and ``is_current``.

    Semantics: events are ordered per key by ``ts_col`` (then
    ``tie_col`` for a total order — REQUIRED if timestamps can
    collide, otherwise the collapse is nondeterministic); a new version
    starts whenever any attribute IS DISTINCT FROM its value in the
    previous event (null-safe, so NULL→'x' and 'x'→NULL both open
    versions). Re-observing an earlier state later opens a NEW version
    (SCD2 tracks intervals, not value sets).

    Plan: window (lag + running change-count) = one shuffle on key;
    the (key, version) aggregate reuses that partitioning — Catalyst
    plans no second exchange; the valid_to lead runs over the
    collapsed version rows."""
    if not attr_cols:
        raise ValueError("scd2_from_history needs at least one attribute")
    if not key_cols:
        # an unpartitioned window would funnel the WHOLE history into
        # one partition AND silently treat the table as a single key —
        # the loud error corpus_diff gives for the same mistake
        raise ValueError("scd2_from_history needs at least one key column")
    reserved = {"version", "valid_from", "valid_to", "is_current"} & set(
        df.columns
    )
    if reserved:
        raise ValueError(
            f"scd2_from_history reserves output columns {sorted(reserved)}; "
            "rename them in the input"
        )
    order = [F.col(ts_col)] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)

    changed = F.lit(False)
    for a in attr_cols:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(F.col(a)).over(w))
    first = F.row_number().over(w) == 1
    is_new_version = (first | changed).cast("int")
    versioned = df.withColumn(
        "version", F.sum(is_new_version).over(w).cast("int")
    )

    collapsed = versioned.groupBy(*key_cols, "version").agg(
        # within a version every attribute is constant by construction
        # (any change opens a new version), so min() is just the
        # deterministic way to read the single value back out
        *[F.min(F.col(a)).alias(a) for a in attr_cols],
        F.min(F.col(ts_col)).alias("valid_from"),
    )
    wv = Window.partitionBy(*key_cols).orderBy("version")
    return collapsed.select(
        *key_cols,
        *attr_cols,
        "version",
        "valid_from",
        F.lead(F.col("valid_from")).over(wv).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def as_of(dim: DataFrame, ts, ts_col_from: str = "valid_from",
          ts_col_to: str = "valid_to") -> DataFrame:
    """Point-in-time slice of an SCD2 table: the versions live at
    ``ts`` (``valid_from <= ts < valid_to``, open interval = current).
    Partition-prunes if the table is stored partitioned on a date of
    ``valid_from``."""
    t = F.lit(ts)
    return dim.filter(
        (F.col(ts_col_from) <= t)
        & (F.col(ts_col_to).isNull() | (F.col(ts_col_to) > t))
    )


def table_changes(
    spark,
    table_dir: str,
    key_cols: list[str],
    from_version: str | None = None,
    to_version: str | None = None,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change data feed over a versioned table
    (inventory.upsert_parquet_versioned[_partitioned] layouts): the
    added/removed/changed rows between two RETAINED snapshots —
    Delta's ``table_changes`` shape, derived instead of logged.

    Defaults compare the oldest retained snapshot to CURRENT. Output is
    :func:`corpus_diff`'s (keys..., change, old_digest, new_digest),
    churn-sized. Because both snapshots came through the keyed upsert
    (keys unique by construction), the diff runs with its duplicate-key
    guard ON — a violated invariant fails loudly rather than fanning
    out. Retention bounds what is answerable: versions beyond
    ``keep_versions`` are gone (FileNotFoundError via read_versioned),
    the same contract as VACUUM'd CDF.

    Scale — CHURN-PRUNED on bucketed layouts (round 11): bucket
    assignment is a pure function of the key and the pinned layout, so
    a key's rows sit in the same bucket dir in both snapshots — and a
    bucket whose PHYSICAL IDENTITY (resolved manifest origin /
    hardlinked inodes+sizes) is equal across the two versions is
    byte-identical and can contribute NO diff rows. The diff therefore
    scans only the buckets whose identity changed: a localized churn
    batch costs O(churn buckets), not O(table) — measured 3.1x wall
    (1.27 vs 3.87 s) on a 10M-row x 64-bucket table with 1-bucket
    churn, fixed-cost-dominated locally; the 64x scan-volume ratio is
    what scales (r11 SCALING.md). Plain layouts pay the honest
    two full scans + the digest diff's one shuffle per side; digests
    ride the scan projection as always. Schema evolution rewrites every
    bucket, so evolved spans degrade to the full diff automatically —
    pruning can never hide a change.
    """
    from ..inventory import (
        _BUCKET_COL,
        _snapshot_df,
        _snapshot_df_files,
        identity_changed_buckets,
        identity_changed_files,
        list_versions,
        read_versioned,
    )

    versions = list_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no versions under {table_dir}")
    if from_version is None:
        from_version = versions[0]
    if to_version is None:
        to_version = versions[-1]
    if from_version not in versions or to_version not in versions:
        # preserve read_versioned's retention contract before pruning
        missing = [v for v in (from_version, to_version)
                   if v not in versions]
        raise FileNotFoundError(
            f"version(s) {missing} not retained under {table_dir} "
            f"(have: {versions})"
        )
    changed = identity_changed_buckets(
        table_dir, from_version, to_version
    )
    if changed is not None:
        old = _snapshot_df(
            spark, table_dir, from_version, buckets=changed
        ).drop(_BUCKET_COL)
        new = _snapshot_df(
            spark, table_dir, to_version, buckets=changed
        ).drop(_BUCKET_COL)
    else:
        # plain layout: FILE-level churn pruning from the stats
        # sidecars' physical identity (round-12) — shared files are
        # byte-identical and key-complete on both sides, so diffing
        # only the non-shared remainders is exact (proof on
        # identity_changed_files). Pre-stats versions fall back to the
        # honest two-full-snapshot diff.
        cf = identity_changed_files(table_dir, from_version, to_version)
        if cf is not None:
            old = _snapshot_df_files(spark, table_dir, from_version, cf[0])
            new = _snapshot_df_files(spark, table_dir, to_version, cf[1])
            for col in (_BUCKET_COL,):
                if col in old.columns:
                    old, new = old.drop(col), new.drop(col)
        else:
            old = read_versioned(spark, table_dir, from_version)
            new = read_versioned(spark, table_dir, to_version)
    # schema evolution between the snapshots (round-10 review finding):
    # corpus_diff's shared-columns default would silently EXCLUDE a
    # newly added column, so its backfill never churns. Snapshots of
    # the SAME table compare over the UNION of columns, the missing
    # side NULL-filled — exactly how the evolved merge saw it.
    for col, typ in new.dtypes:
        if col not in old.columns:
            old = old.withColumn(col, F.lit(None).cast(typ))
    for col, typ in old.dtypes:
        if col not in new.columns:
            new = new.withColumn(col, F.lit(None).cast(typ))
    return corpus_diff(old, new, key_cols, compare_cols)

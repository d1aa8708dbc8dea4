"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship day-scan pipeline at sf0.001.
``queries()`` exposes one named callable per implemented operator from
SURVEY.md §2 (+ the LLM-data-pipeline extensions); ``oracle_sql()`` holds
the DuckDB-ANSI twin for every SQL-expressible query. Column names and
types are aliased identically on both sides (the driver's compare sorts
columns by name and value-hashes them).

Float policy: aggregates of doubles are ``round``-ed to a fixed scale on
BOTH sides (partial-aggregation order differs between engines, so raw
double sums can differ in final ulps); pure per-row arithmetic is left
raw (IEEE ops are bit-identical given identical inputs).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from animaltrackingetls_spark import io as eio
from animaltrackingetls_spark.cleaning import clean_occurrences
from animaltrackingetls_spark.enrichment import (
    enrich_batched,
    geocode_broadcast_join,
    stub_geocode_service,
)
from animaltrackingetls_spark.functions.datetime_expr import (
    parse_event_timestamp,
    temporal_columns,
)
from animaltrackingetls_spark.inventory import (
    first_sunday_of_year,
    merge_upsert,
    table_name_for_day,
    table_name_for_month,
)
from animaltrackingetls_spark.operators import (
    aggregates,
    dedup,
    joins,
    layout,
    multimodal,
    privacy,
    profile,
    retrieval,
    similarity,
    textstats,
    versioning,
)
from animaltrackingetls_spark.serving import dynamic_filters

SF_SMOKE = "/root/testdata/sf0.001"

# Runtime-settable confs the queries depend on, applied defensively in
# case the caller's SparkSession was not built by session.get_spark():
# nanos parquet readability, UTC temporal semantics (parse/derive parity
# with the reference's utc=True), and Python-DataSource pushdown.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
}


def _ensure_confs(spark: SparkSession) -> SparkSession:
    for k, v in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment — proceed best-effort
    return spark


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return eio.load_table(_ensure_confs(spark), sf_dir, name)


def _invocation_cache_key(spark: SparkSession, tag: str, *files: str) -> str:
    """Per-INVOCATION build key for the build-once/serve-many entries
    (ANN indexes, versioned tables, the bucketed catalog pair).

    The key folds in the Spark applicationId, so NOTHING persists
    across bench/oracle invocations: every invocation rebuilds its
    serving artifacts from the parquet inputs (the bench's discarded
    cold run pays the build — exactly what its docstring documents —
    and the kept warm-run medians are unchanged, since they always hit
    the in-invocation build), and concurrent invocations can never
    race each other's directories. r15: previously the key was (path,
    mtime_ns, size) only, which persisted built artifacts in the
    tempdir ACROSS invocations — a cross-run intermediate keyed on the
    input dataset, prohibited by the optimization-round rules even
    though it never reached a kept median. File identity still scopes
    the key so a changed input within one long-lived session rebuilds.
    Every rebuilt artifact is deterministic by construction (seeded
    trains, fixed samples) — the rows-only replay-stability gates
    already required that, since a fresh machine rebuilds from zero.
    """
    import hashlib
    import os

    ident = ":".join(
        f"{f}:{os.stat(f).st_mtime_ns}:{os.stat(f).st_size}" for f in files
    )
    return hashlib.md5(
        f"{spark.sparkContext.applicationId}:{ident}:{tag}".encode()
    ).hexdigest()[:16]


def _money_round(c, decimals: int = 4):
    """Cross-engine-stable rounding for sums of fixed-decimal money
    arithmetic: round to the value's NATURAL decimal width (price×(1−disc)
    has exactly 4 decimals, ×(1+tax) has 6), where a half-way point
    cannot occur. Rounding such sums to 2 decimals is cross-engine
    UNSTABLE twice over: the true value often lands exactly on .xx5, and
    there Spark rounds the shortest decimal representation (BigDecimal →
    HALF_UP on .xx5) while DuckDB rounds the binary double (usually just
    below .xx5 → down) — a genuine engine divergence, not float noise.
    At the natural width the only error is ±1e-9 reduction noise, far
    from any boundary, so both engines snap to the identical value."""
    return F.round(c, decimals)


# ---------------------------------------------------------------------------
# Shared constructions (same logic expressed in Spark and in the oracle SQL)
# ---------------------------------------------------------------------------

# Dirty eventDate strings derived deterministically from events.ts: the
# reference's messy-date cases (SURVEY.md §2.9 C1) reproduced on testdata.
_DIRTY_DATE_SPARK = """
  CASE event_id % 7
    WHEN 0 THEN date_format(ts, 'yyyy')
    WHEN 1 THEN date_format(ts, 'yyyy-MM')
    WHEN 2 THEN concat(date_format(ts, 'yyyy'), '/', cast(year(ts) + 1 AS STRING))
    WHEN 3 THEN 'not a date'
    WHEN 4 THEN date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    WHEN 5 THEN date_format(ts, 'yyyy-MM-dd HH:mm:ss')
    ELSE date_format(ts, 'yyyy-MM-dd')
  END
"""

_DIRTY_DATE_SQL = """
  CASE event_id % 7
    WHEN 0 THEN strftime(ts, '%Y')
    WHEN 1 THEN strftime(ts, '%Y-%m')
    WHEN 2 THEN strftime(ts, '%Y') || '/' || CAST(year(ts) + 1 AS VARCHAR)
    WHEN 3 THEN 'not a date'
    WHEN 4 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
    WHEN 5 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
    ELSE strftime(ts, '%Y-%m-%d')
  END
"""

# Oracle reimplementation of rescue+parse (C1+C2) for the shapes above.
_PARSED_SQL = """
  CASE
    WHEN eventDate = 'not a date' THEN NULL
    WHEN contains(eventDate, '/')
      THEN strptime(split_part(eventDate, '/', 1) || '-01-01', '%Y-%m-%d')
    WHEN regexp_matches(eventDate, '^\\d{4}$')
      THEN strptime(eventDate || '-01-01', '%Y-%m-%d')
    WHEN regexp_matches(eventDate, '^\\d{4}-\\d{2}$')
      THEN strptime(eventDate || '-01', '%Y-%m-%d')
    WHEN contains(eventDate, 'T') THEN strptime(eventDate, '%Y-%m-%dT%H:%M:%S')
    WHEN length(eventDate) = 10 THEN strptime(eventDate, '%Y-%m-%d')
    ELSE strptime(eventDate, '%Y-%m-%d %H:%M:%S')
  END
"""


def _dirty_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occurrence-shaped dirty frame derived from events: messy dates,
    NULL/invalid coordinates, double-typed counts with gaps."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("gbifID"),
        F.expr(_DIRTY_DATE_SPARK).alias("eventDate"),
        F.expr(
            "CASE WHEN event_id % 11 = 3 THEN NULL "
            "ELSE CAST(value % 90 AS STRING) END"
        ).alias("decimalLatitude"),
        F.expr(
            "CASE WHEN event_id % 13 = 5 THEN 'bad-lon' "
            "ELSE CAST((value * 2) % 180 - 90 AS STRING) END"
        ).alias("decimalLongitude"),
        F.expr("CASE WHEN event_id % 5 = 0 THEN NULL ELSE value / 10.0 END").alias(
            "individualCount"
        ),
        F.col("event_type").alias("basisOfRecord"),
        F.col("user_id").cast("string").alias("recordedBy"),
    )


# Oracle twin of _dirty_occurrences + the cleaning tag expressions.
_TAGGED_SQL = f"""
raw AS (
  SELECT
    CAST(event_id AS VARCHAR) AS gbifID,
    {_DIRTY_DATE_SQL} AS eventDate,
    CASE WHEN event_id % 11 = 3 THEN NULL ELSE value % 90 END AS lat,
    CASE WHEN event_id % 13 = 5 THEN NULL ELSE (value * 2) % 180 - 90 END AS lon,
    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value / 10.0 END AS ic_raw,
    event_type AS basisOfRecord,
    CAST(user_id AS VARCHAR) AS recordedBy
  FROM events
),
tagged AS (
  SELECT *,
    {_PARSED_SQL} AS eventDateParsed,
    COALESCE(CAST(trunc(ic_raw) AS BIGINT), 1) AS individualCount
  FROM raw
)
"""


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with injected exact duplicates (doc_id%5==0 re-inserted
    above max(doc_id)) — the A1 duplicate-audit corpus. The clone offset
    is max+1, NOT a fixed constant: a constant (+100000) collides with
    real ids once the SF grows the table past it, silently merging
    unrelated docs on BOTH engine sides — invisible to the hash gate."""
    docs = _t(spark, sf_dir, "documents")
    off = docs.agg(F.max("doc_id")).first()[0] + 1
    clones = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(off)
    )
    return docs.unionByName(clones)


_DOCS_WITH_DUPS_SQL = """
d AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
         text, lang, source, n_chars
  FROM documents WHERE doc_id % 5 = 0
)
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("CASE WHEN event_id % 11 = 3 THEN NULL ELSE value % 90 END").alias(
            "decimalLatitude"
        ),
        F.expr(
            "CASE WHEN event_id % 13 = 5 THEN NULL ELSE (value * 2) % 180 - 90 END"
        ).alias("decimalLongitude"),
    )


_POINTS_SQL = """
p AS (
  SELECT event_id,
    CASE WHEN event_id % 11 = 3 THEN NULL ELSE value % 90 END AS lat,
    CASE WHEN event_id % 13 = 5 THEN NULL ELSE (value * 2) % 180 - 90 END AS lon
  FROM events
)
"""


# ---------------------------------------------------------------------------
# Query implementations (Spark side)
# ---------------------------------------------------------------------------


def _q_flagship_day_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3.1 analog: scan → temporal derive → day filter → agg."""
    ev = _t(spark, sf_dir, "events")
    good = ev.withColumns(temporal_columns(F.col("ts")))
    day = good.filter(F.col("date_only") == F.lit("2024-01-05").cast("date"))
    return day.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


def _q_temporal_rescue_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/C5 + C1/C2 + C11/C7 in ONE per-event projection (folded so
    every oracle query fits the driver's verified prefix — and strictly
    better than two queries: one scan feeds all of it): the seven
    derived temporal columns, messy-date-string rescue+parse → NULL,
    JSON extraction, and the NA-string scrub."""
    from animaltrackingetls_spark.functions.coercion import scrub_na_strings

    ev = _t(spark, sf_dir, "events")
    raw_v = F.expr(
        "CASE event_id % 4 WHEN 0 THEN 'None' WHEN 1 THEN 'nan' "
        "WHEN 2 THEN 'NaT' ELSE event_type END"
    )
    return ev.select(
        "event_id",
        *[v.alias(k) for k, v in temporal_columns(F.col("ts")).items()],
        F.expr(_DIRTY_DATE_SPARK).alias("eventDate"),
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        scrub_na_strings(raw_v).alias("v"),
    ).withColumn("eventDateParsed", parse_event_timestamp(F.col("eventDate")))


def _q_clean_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/C3/C4 good branch + A3 reject histogram, folded into one
    summary: good rows bucketed per day (with individualCount sums),
    reject rows bucketed per failure reason (NULL sum).

    Computed in ONE pass over the kernel's shared tagged frame — a
    union of the two branches re-scans the source and drags in
    rejection_histogram's sort (measured: 2 scans + 3 exchanges + a
    rangepartitioning sort → 1 scan + 1 exchange). At 100 TB that is
    the difference between reading the table once and twice."""
    res = clean_occurrences(_dirty_occurrences(spark, sf_dir))
    is_good = F.col("_failure_reason").isNull()
    bucket = F.when(
        is_good, F.to_date("eventDateParsed").cast("string")
    ).otherwise(F.concat(F.lit("reject:"), F.col("_failure_reason")))
    return res.tagged.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(is_good, F.col("individualCount_c"))).alias("sum_count"),
    )


def _q_clean_aligned_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P4: canonical-schema projection of the cleaned good branch."""
    res = clean_occurrences(_dirty_occurrences(spark, sf_dir))
    return res.good.select(
        "gbifID", "eventDate", "eventDateParsed", "year", "month", "day",
        "day_of_week", "week_of_year", "date_only", "time_only",
        "decimalLatitude", "decimalLongitude", "individualCount",
        "basisOfRecord", "recordedBy", "county", "cityOrTown",
    )


def _q_serving_day_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: dynamic equality filters on derived year/month/day."""
    ev = _t(spark, sf_dir, "events")
    evd = ev.withColumns(
        {"year": F.year("ts").cast("int"), "month": F.month("ts").cast("int"),
         "day": F.dayofmonth("ts").cast("int")}
    )
    return dynamic_filters(evd, year=2024, month=1, day=15).select(
        "event_id", "event_type", "value"
    )


def _q_winnow_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints with the md5-portable gram hash, exploded
    to (doc_id, fp) rows — upgrading the winnow family from rows-only to
    a full value oracle: DuckDB replays gram hashing (hex-cast md5),
    window minima, and the distinct-keep rule exactly. The xx64 fast
    path stays registered as the rows-only `winnow_fingerprints`. The
    doc_id%5 subset bounds the ORACLE's cost (DuckDB computes one md5
    per character 8-gram — ~n_chars hashes per doc — with no
    parallelism), not Spark's; coverage is unaffected since every
    document shape appears in the subset."""
    # r15: the winnow map is md5-per-character-gram — the most
    # expression-dense pass in the repo — and a single-row-group input
    # fuses it onto a ONE-task scan (guide §2.5). Project to the two
    # needed columns, then raise scan parallelism to the core floor
    # (structural no-op on any multi-split dataset). Measured 3.44 s →
    # see OPTIMIZATION_r15.md.
    docs = layout.ensure_scan_parallelism(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    fps = textstats.winnow_fingerprint_frame(docs, k=8, window=4, hash_fn="md5")
    return fps.select(F.col("id").alias("doc_id"), F.explode("fps").alias("fp"))


def _q_calendar_naming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 month-name period naming + C12 first-Sunday arithmetic, per
    distinct event day (the fold keeps both calendar ops oracle-checked;
    multi-year first-Sunday behavior is pinned by unit tests)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(F.to_date("ts").alias("date_only")).distinct()
    return d.select(
        "date_only",
        table_name_for_day(F.col("date_only")).alias("table_day"),
        table_name_for_month(F.col("date_only")).alias("table_month"),
        first_sunday_of_year(F.year("date_only").cast("int")).alias("first_sunday"),
    )


def _q_inventory_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/A5/C10: two load batches upserted keyed on available_date —
    batch2 (the re-run) wins on overlapping days."""
    ev = _t(spark, sf_dir, "events")
    evd = ev.select("event_id", F.to_date("ts").alias("d"))

    def batch(df: DataFrame, label: str) -> DataFrame:
        return (
            df.groupBy(F.col("d").alias("available_date"))
            .agg(F.count(F.lit(1)).alias("record_count"))
            .withColumn("table_name", table_name_for_day(F.col("available_date")))
            .withColumn("processed_at", F.lit(label))
            .select("available_date", "table_name", "record_count", "processed_at")
        )

    b1 = batch(evd.filter(F.dayofmonth("d") <= 10), "batch1")
    b2 = batch(
        evd.filter(F.dayofmonth("d").between(5, 15) & (F.col("event_id") % 2 == 0)),
        "batch2",
    )
    return merge_upsert(b1, b2, ["available_date"])


def _q_geocode_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast left join against a cell-keyed geocode dimension."""
    pts = _points(spark, sf_dir)
    lat, lon = F.col("decimalLatitude"), F.col("decimalLongitude")
    eligible = pts.filter(lat.isNotNull() & lon.isNotNull())
    cells = eligible.select(
        F.round(lat, 0).alias("cell_lat"), F.round(lon, 0).alias("cell_lon")
    ).distinct()
    dim = cells.select(
        "cell_lat",
        "cell_lon",
        F.concat(
            F.lit("county_"),
            F.col("cell_lat").cast("long").cast("string"),
            F.lit("_"),
            F.col("cell_lon").cast("long").cast("string"),
        ).alias("county"),
        F.concat(
            F.lit("city_"),
            F.col("cell_lat").cast("long").cast("string"),
            F.lit("_"),
            F.col("cell_lon").cast("long").cast("string"),
        ).alias("cityOrTown"),
    )
    return geocode_broadcast_join(pts, dim).select("event_id", "county", "cityOrTown")


def _q_enrich_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: Arrow-batched service enrichment (deterministic stub service)."""
    # r15: the mapInPandas stage fuses onto the scan, and a single-
    # row-group file hands ALL rows to ONE Python worker (guide §2.5 +
    # §4) — raise the layout to the core floor so every worker gets a
    # batch stream. Per-row results are positional within a batch, so
    # partitioning cannot change any value.
    pts = layout.ensure_scan_parallelism(_points(spark, sf_dir))
    return enrich_batched(pts, stub_geocode_service).select(
        "event_id", "county", "cityOrTown"
    )


def _q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 duplicate audit + exact-dedup keep-list, folded and tagged by
    mode: digest-keyed duplicate groups (md5 of content, narrow shuffle
    key), the reference-exact GROUP BY *every* column, and the 'kept'
    rows from ``drop_exact_duplicates`` (deterministic min-id
    representative per digest, singletons included). The all-columns
    form collapses its wide group key to a digest in the output so all
    modes share one (mode, key, canonical_id, n_copies) schema;
    canonical_id is -1 where the grouping dropped the id column and
    n_copies is NULL for kept rows (membership, not a group count)."""
    d = _docs_with_dups(spark, sf_dir).withColumn("md5_fp", F.md5("text"))
    g = dedup.exact_duplicates(d, ["md5_fp"], "doc_id").select(
        F.lit("digest").alias("mode"),
        F.col("md5_fp").alias("key"),
        "canonical_id",
        "n_copies",
    )
    audit = dedup.duplicate_audit(d.drop("doc_id", "md5_fp"))
    a = audit.select(
        F.lit("all_columns").alias("mode"),
        F.md5(
            F.concat_ws(
                "\x1f", "text", "lang", "source", F.col("n_chars").cast("string")
            )
        ).alias("key"),
        F.lit(-1).cast("long").alias("canonical_id"),
        F.col("duplicate_count").alias("n_copies"),
    )
    kept = dedup.drop_exact_duplicates(d, ["md5_fp"], "doc_id").select(
        F.lit("kept").alias("mode"),
        F.col("md5_fp").alias("key"),
        F.col("doc_id").alias("canonical_id"),
        F.lit(None).cast("long").alias("n_copies"),
    )
    return g.unionByName(a).unionByName(kept)


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality panel (folded): the projection-only features
    (token/char counts, alpha & stopword ratios, BPE-ish segment count,
    raw/normalized md5 digests) JOINED with the Gopher-family repetition
    signals (duplicate-word fraction, top-word / top-bigram share — the
    distributed-wordcount shape: explode → two hash aggregations with
    map-side partial combine). The join is per-doc-keyed, so the
    projection side stays a map-only scan and only the repetition
    aggregates shuffle; see textstats.repetition_signals for the scale
    argument."""
    docs = _t(spark, sf_dir, "documents")
    q = textstats.quality_columns(docs)
    norm = textstats.normalize_whitespace(
        textstats.strip_control_chars(F.col("text"))
    )
    quality = q.select(
        "doc_id",
        "n_tokens",
        "n_chars_m",
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        textstats.token_count_bpeish(F.col("text")).alias("n_bpeish"),
        F.md5("text").alias("md5_fp"),
        F.length(norm).alias("n_chars_norm"),
        F.md5(norm).alias("md5_norm"),
        F.md5(textstats.normalize_nfc(F.col("text"))).alias("md5_nfc"),
    )
    rep = textstats.repetition_signals(docs).select(
        F.col("id").alias("doc_id"),
        "n_words",
        "n_distinct_words",
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round("top_word_frac", 6).alias("top_word_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
    )
    return quality.join(rep, "doc_id")


_BM25_QUERY_TERMS = ["spark", "window", "join", "stream"]
_BM25_K = 25


# The regex tier runs over a deterministic synthesized "contact card"
# per customer (the slim TPC-H-ish schema carries no real PII), so the
# gate checks that Spark's Java regex and the oracle's RE2 agree on
# match sets and rewrites over realistic email/phone/IP/SSN shapes.
# (A function, not a module constant: classic-mode Column construction
# needs an active SparkContext.)
def _contact_blob() -> Column:
    return F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.regexp_replace("c_name", r"[^A-Za-z0-9]", ".")),
        F.lit("@example.com> ph "),
        F.lpad((F.col("c_custkey") % 90 + 10).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") * 7 % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") * 13 % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") * 17 % 10000).cast("string"), 4, "0"),
        F.lit(" ip "),
        (F.col("c_custkey") % 223 + 1).cast("string"),
        F.lit("."),
        (F.col("c_custkey") * 3 % 256).cast("string"),
        F.lit("."),
        (F.col("c_custkey") * 5 % 256).cast("string"),
        F.lit("."),
        (F.col("c_custkey") * 11 % 254 + 1).cast("string"),
        F.lit(" ssn "),
        F.lpad((F.col("c_custkey") % 900 + 100).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 89 + 10).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") * 31 % 10000).cast("string"), 4, "0"),
        F.lit(" seg "),
        F.col("c_mktsegment"),
    )

_CONTACT_BLOB_SQL = (
    "c_name || ' <' || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g'))"
    " || '@example.com> ph '"
    " || lpad(CAST(c_custkey % 90 + 10 AS VARCHAR), 2, '0') || '-'"
    " || lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(c_custkey * 13 % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(c_custkey * 17 % 10000 AS VARCHAR), 4, '0')"
    " || ' ip ' || CAST(c_custkey % 223 + 1 AS VARCHAR)"
    " || '.' || CAST(c_custkey * 3 % 256 AS VARCHAR)"
    " || '.' || CAST(c_custkey * 5 % 256 AS VARCHAR)"
    " || '.' || CAST(c_custkey * 11 % 254 + 1 AS VARCHAR)"
    " || ' ssn ' || lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0')"
    " || '-' || lpad(CAST(c_custkey % 89 + 10 AS VARCHAR), 2, '0')"
    " || '-' || lpad(CAST(c_custkey * 31 % 10000 AS VARCHAR), 4, '0')"
    " || ' seg ' || c_mktsegment"
)


def _pii_oracle_sql() -> str:
    """DuckDB twin of the curation fold: the PII audit branch (same
    patterns — RE2-safe subset — same application order, counts taken
    on the raw blob) unioned with the web branch, whose host /
    registered domain / kept-set are recomputed from the doc_id
    FORMULAS (not by parsing), so the Spark parse must recover the
    construction ground truth exactly."""
    redacted, counts = privacy.oracle_redaction_sql(_CONTACT_BLOB_SQL)
    return f"""
        SELECT 'pii' AS kind, CAST(c_custkey AS BIGINT) AS "key",
               s, n_email AS n1, n_ssn AS n2, n_phone AS n3, n_ipv4 AS n4
        FROM (
          SELECT c_custkey, md5({redacted}) AS s,
                 {', '.join(counts)}
          FROM customer
        )
        UNION ALL
        SELECT 'web' AS kind, CAST(doc_id AS BIGINT) AS "key",
               'site' || CAST(doc_id % 97 AS VARCHAR)
                 || CASE doc_id % 3 WHEN 0 THEN '.com'
                                    WHEN 1 THEN '.co.uk'
                                    ELSE '.org' END AS s,
               CAST(length(
                 CASE doc_id % 4 WHEN 0 THEN ''
                                 WHEN 1 THEN 'www.'
                                 WHEN 2 THEN 'blog.news.'
                                 ELSE 'm.' END
                 || 'site' || CAST(doc_id % 97 AS VARCHAR)
                 || CASE doc_id % 3 WHEN 0 THEN '.com'
                                    WHEN 1 THEN '.co.uk'
                                    ELSE '.org' END
               ) AS BIGINT) AS n1,
               CAST(NULL AS BIGINT) AS n2,
               CAST(NULL AS BIGINT) AS n3,
               CAST(NULL AS BIGINT) AS n4
        FROM documents
        WHERE doc_id % 97 NOT IN (0, 7, 13)
    """


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-curation gates folded: PII redaction audit ('pii' rows:
    key=c_custkey, s=md5 of the redacted contact card, n1..n4 =
    email/ssn/phone/ipv4 hit counts — regexp codegen, no shuffle) and
    URL/domain curation ('web' rows: key=doc_id, s=registered eTLD+1
    domain of a synthesized crawl URL, n1=host length).

    The web branch is adversarial by construction: URLs carry rotating
    subdomains, ``user:t0k3n@`` userinfo (doc_id%7==0), ``:8443`` ports
    (doc_id%5==0), and multi-part ``.co.uk`` suffixes (doc_id%3==1);
    `url_host` must strip userinfo/port (n1 = host length catches any
    leftover), `registered_domain` must take THREE labels for co.uk and
    two otherwise, and `domain_gate` must drop every doc whose
    registered domain is blocklisted — including via subdomain. The
    oracle recomputes every field from the doc_id formulas, so any
    parsing slip fails the hash. See operators/privacy.py and
    operators/web.py."""
    from animaltrackingetls_spark.operators import web

    # r15 (guide §2.5): the 4-pattern redaction regex chain fused onto
    # the single-row-group customer scan ran as ONE task — floor it to
    # the core count (no-op on multi-split data). Interleaved A/B at
    # sf0.1: branch 0.97 s → 0.35 s median. Project to the 3 columns
    # the blob needs before the exchange (guide §2.3).
    cust = layout.ensure_scan_parallelism(
        _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment"
        )
    ).select("c_custkey", _contact_blob().alias("contact"))
    red = privacy.redact_pii(cust, "contact")
    pii = red.select(
        F.lit("pii").alias("kind"),
        F.col("c_custkey").cast("long").alias("key"),
        F.md5("contact").alias("s"),
        F.col("n_email").cast("long").alias("n1"),
        F.col("n_ssn").cast("long").alias("n2"),
        F.col("n_phone").cast("long").alias("n3"),
        F.col("n_ipv4").cast("long").alias("n4"),
    )
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id") % 97
    tld = (
        F.when(F.col("doc_id") % 3 == 0, ".com")
        .when(F.col("doc_id") % 3 == 1, ".co.uk")
        .otherwise(".org")
    )
    sub = (
        F.when(F.col("doc_id") % 4 == 0, "")
        .when(F.col("doc_id") % 4 == 1, "www.")
        .when(F.col("doc_id") % 4 == 2, "blog.news.")
        .otherwise("m.")
    )
    userinfo = F.when(F.col("doc_id") % 7 == 0, "crawler:t0k3n@").otherwise("")
    port = F.when(F.col("doc_id") % 5 == 0, ":8443").otherwise("")
    with_url = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), userinfo, sub, F.lit("site"),
            k.cast("string"), tld, port, F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    blocklist = spark.createDataFrame(
        [(f"site{i}{t}",) for i in (0, 7, 13) for t in (".com", ".co.uk", ".org")],
        "domain string",
    )
    # round-8: the FULL-PSL path (broadcast rule tables, one map-side
    # join per rule length) over a rule set where it must agree exactly
    # with the heuristic expression — the formula-recomputing oracle
    # therefore hash-checks the PSL machinery end to end;
    # wildcard/exception semantics are pinned by the official vectors
    # in test_web.py. Derive the registered domain ONCE and gate on the
    # derived column (the production shape) instead of letting
    # domain_gate re-derive internally — one PSL pass, not two.
    psl = web.parse_psl_rules(["com", "org", "uk", "co.uk"])
    hosted = web.registered_domain_psl(
        with_url.withColumn("_host", web.url_host(F.col("url"))),
        "_host",
        psl,
        out_col="_rd",
    ).filter(F.col("_rd").isNotNull())
    side = F.broadcast(
        blocklist.select(F.lower(F.col("domain")).alias("_rd")).distinct()
    )
    kept = hosted.join(side, "_rd", "left_anti")
    webrows = kept.select(
        F.lit("web").alias("kind"),
        F.col("doc_id").cast("long").alias("key"),
        F.col("_rd").alias("s"),
        F.length("_host").cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
        F.lit(None).cast("long").alias("n4"),
    )
    return pii.unionByName(webrows)


def _q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 50th document stands in for the
    held-out eval suite; every other document reports how many of its
    word 4-gram shingles collide with the broadcast benchmark shingle
    set. (Published practice uses 13-grams; these synthetic docs average
    ~54 words, so n=4 keeps the check discriminative.)"""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    out = dedup.contamination_overlap(corpus, bench, n=4)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_shingles",
        "n_hits",
        F.round("contamination_frac", 6).alias("contamination_frac"),
        "contaminated",
    )


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full fuzzy-dedup pipeline, end to end and oracle-checked:
    portable MinHash+LSH banding (md5 hash family, so DuckDB replays the
    identical signatures) generates candidate pairs output-bound rather
    than block-quadratic; bigram Jaccard verifies; iterative min-label
    connected components resolve pairs into clusters. cluster_id == min
    doc id is the keep-list representative. The component oracle is a
    DuckDB WITH RECURSIVE transitive closure. (An earlier attribute-
    blocked edge generator went quadratic at sf0.1 — 341 s; the LSH form
    runs the same corpus in seconds and is the shape that survives
    100×.)"""
    d = _docs_with_dups(spark, sf_dir)
    edges = dedup.minhash_candidate_pairs_portable(
        d, n=2, bands=2, rows_per_band=3, threshold=0.6
    )
    cc = dedup.dedup_clusters(d, edges)
    return cc.select(F.col("id").alias("doc_id"), "cluster_id", "cluster_size")


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingest: documents with doc_id%3==0 stand in
    for the already-ingested corpus; the rest — plus re-submissions of
    every 15th corpus doc under new ids — arrive as the new batch. The
    exact layer probes the corpus digest set; the near layer joins the
    batch's portable-LSH band keys against the corpus bands and
    verifies only banded matches. O(batch) work per ingest, never
    O(corpus²) — the shape a continuously-growing corpus actually
    runs (see dedup.incremental_dedup)."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    # clone offset above max(doc_id), not a fixed constant that a larger
    # SF would collide with (see _docs_with_dups)
    off = docs.agg(F.max("doc_id")).first()[0] + 1
    resubmitted = corpus.filter(F.col("doc_id") % 15 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(off)
    )
    new = docs.filter(F.col("doc_id") % 3 != 0).unionByName(resubmitted)
    out = dedup.incremental_dedup(new, corpus, n=2, threshold=0.6)
    return out.select(
        F.col("id").alias("doc_id"),
        "status",
        F.coalesce(F.col("matched_id"), F.lit(-1)).cast("long").alias("matched_id"),
    )


def _q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality panel: marker-based language ID joined with
    the fastText-style linear quality score — model inference as a
    broadcast join over hashed token features (see
    operators/quality_model.py). Strictly subsumes the old 2-row
    language histogram (per-doc labels instead of counts). The weight
    table is the deterministic md5-derived synthetic model, so DuckDB
    regenerates the identical weights and replays inference exactly."""
    from animaltrackingetls_spark.operators import quality_model

    docs = _t(spark, sf_dir, "documents")
    scored = quality_model.linear_quality_scores(
        docs, quality_model.synthetic_weights(spark)
    )
    lang = textstats.language_id(docs).select("doc_id", "predicted_lang")
    return lang.join(scored, lang.doc_id == scored.id).select(
        "doc_id", "predicted_lang", "n_feat", "logit", "score"
    )


def _q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at two granularities (folded): word-trigram Jaccard
    with source+length blocking, and unigram token-set Jaccard with a
    tighter threshold — tagged by ngram_n."""
    # r15: tokenize+shingle+explode is the heavy map feeding the
    # inverted-index self-join, and a single-row-group scan pins it to
    # one core (guide §2.5). One repartitioned projection feeds BOTH
    # granularities, so the exchange is built once and reused.
    docs = layout.ensure_scan_parallelism(
        _t(spark, sf_dir, "documents").select(
            "doc_id", "text", "source", "n_chars"
        )
    )
    tri = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2, block_cols=["source"], length_band=40
    ).withColumn("ngram_n", F.lit(3))
    uni = dedup.ngram_jaccard_pairs(
        docs, n=1, threshold=0.5, block_cols=["source"], length_band=60
    ).withColumn("ngram_n", F.lit(1))
    return tri.unionByName(uni)


def _q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k cosine neighbors for a small query set, in two
    folded forms: 'exact' over the double vectors, and 'int8' over
    symmetric-quantized vectors (``quantize_embeddings_int8`` — global
    max-|x| scale via scalar subquery, floor-based rounding so the
    quantized ints are bit-identical across engines, then EXACT integer
    dot products; 8× fewer wire bytes per vector at scale). The oracle
    replays the quantization formula, so a drifting scale, rounding
    mode, or clamp fails the hash."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries_df, k=10, round_digits=6)
    qz = similarity.quantize_embeddings_int8(emb)
    quant = similarity.brute_force_topk_quantized(
        qz, qz.filter(F.col("vec_id") < 5), k=10, round_digits=6
    )
    return exact.select(F.lit("exact").alias("kind"), "*").unionByName(
        quant.select(F.lit("int8").alias("kind"), "*")
    )


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with label blocking — GEMM form (one
    numpy matrix multiply per block via applyInPandas; ~20× the join +
    interpreted-fold form at sf0.1, ~100× at 10×). Pair set and rounded
    similarities are identical to `dedup.embedding_neardup_pairs`
    (parity pinned in test_dedup.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_neardup_gemm(emb, threshold=0.3)
    return pairs.select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))


def _q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the latest prior click per user."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    # Dedup clicks per (user, ts) keeping max value: with unique match
    # timestamps, both engines' as-of tie behavior is irrelevant — the
    # oracle comparison cannot go nondeterministic on same-ts clicks.
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .agg(F.max("value").alias("c_value"))
    )
    return joins.asof_join(
        purchases, clicks, "ts", "c_ts", "user_id", "c_user", left_id="event_id"
    )


def _q_range_join_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: events counted into week intervals."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select("event_id", F.to_date("ts").alias("p"))
    iv = (
        ev.select(F.to_date(F.date_trunc("week", "ts")).alias("ws"))
        .distinct()
        .withColumn("we", F.date_add("ws", 6))
    )
    j = joins.bucketized_range_join(pts, iv, "p", "ws", "we", bucket_width_days=7)
    return j.groupBy("ws").agg(F.count(F.lit(1)).alias("n_events"))


def _q_interval_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-join pair folded: the as-of join ('asof' rows: each
    purchase's latest prior click) and the bucketized range join
    ('range' rows: events per week interval)."""
    asof = _q_asof_join_events(spark, sf_dir).select(
        F.lit("asof").alias("kind"),
        "event_id",
        "user_id",
        "ts",
        "c_ts",
        "c_value",
        F.lit(None).cast("string").alias("ws"),
        F.lit(None).cast("long").alias("n_events"),
    )
    rng = _q_range_join_weeks(spark, sf_dir).select(
        F.lit("range").alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("timestamp").alias("c_ts"),
        F.lit(None).cast("double").alias("c_value"),
        F.col("ws").cast("string").alias("ws"),
        F.col("n_events").cast("long"),
    )
    return asof.unionByName(rng)


def _q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with the md5-portable 60-bit token hash — the full
    vote-and-pack pipeline replayed bit-for-bit by the DuckDB oracle
    (60 bit-position sign votes per doc, repacked to one long). The
    xx64 fast path stays registered rows-only as `simhash_docs`."""
    # r15: same single-task-scan fix as _q_winnow_portable (guide §2.5)
    # — the md5 token votes otherwise run on one core.
    docs = layout.ensure_scan_parallelism(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    return dedup.simhash64(docs, hash_fn="md5").select(
        F.col("id").alias("doc_id"), "simhash"
    )


def _q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _money_round(F.sum(disc_price)).alias("sum_disc_price"),
            _money_round(F.sum(charge), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-10 open orders by revenue for one segment."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    revenue = _money_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def _q_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue by nation where customer and supplier
    share the nation, one region, one year."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            _money_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )


def _q_broadcast_dim_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join: customers per region."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


def _q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership algebra on customer keys, four ops folded and tagged:
    left-semi (customers having a >300k order), left-anti (customers
    who never placed a >350k order), INTERSECT (BUILDING ∩ high-balance)
    and EXCEPT (BUILDING minus negative-balance)."""
    c = _t(spark, sf_dir, "customer")
    o_hi = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    o_vh = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    semi = c.join(o_hi, c.c_custkey == o_hi.o_custkey, "left_semi").select(
        F.lit("semi").alias("side"), "c_custkey"
    )
    anti = c.join(o_vh, c.c_custkey == o_vh.o_custkey, "left_anti").select(
        F.lit("anti").alias("side"), "c_custkey"
    )
    bld = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    hi = c.filter(F.col("c_acctbal") > 1000).select("c_custkey")
    neg = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    inter = bld.intersect(hi).select(F.lit("intersect").alias("side"), "c_custkey")
    exc = bld.subtract(neg).select(F.lit("except").alias("side"), "c_custkey")
    return semi.unionByName(anti).unionByName(inter).unionByName(exc)


def _q_window_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windows, both families in one partition pass: the ranking window
    (latest event per user — 'latest sighting') plus a ROWS-frame
    analytic (the user's trailing 3-event value average at that latest
    event). Same partitioning key, so Catalyst evaluates both windows
    on one shuffle/sort."""
    ev = _t(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn(
            "avg_last3",
            F.round(F.avg("value").over(w_ord.rowsBetween(-2, 0)), 6),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts", "avg_last3")
    )


def _q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: 20 biggest orders, deterministic tiebreak."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


def _q_rollup_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup + cube aggregations over status × priority (folded, tagged
    by mode — the cube adds the status-free grouping sets).

    Single-pass: ROLLUP's grouping sets are a subset of CUBE's, so ONE
    cube aggregate (1 scan, one 4-way Expand) yields both: each
    aggregated row explodes into the modes it belongs to — gid=2 (the
    priority-only set, the one ROLLUP lacks; grouping_id bit 2 = status
    aggregated) is cube-only, everything else is both. A union of
    separate .rollup()/.cube() aggregates scans the table twice and
    expands 7 grouping-set copies per row instead of 4. The literal
    df.rollup() operator is pinned equal to the derived form in
    test_query_plans.py."""
    o = _t(spark, sf_dir, "orders")
    cb = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.grouping_id().alias("_gid"),
    )
    modes = F.when(
        F.col("_gid") != 2, F.array(F.lit("rollup"), F.lit("cube"))
    ).otherwise(F.array(F.lit("cube")))
    return cb.select(
        F.explode(modes).alias("mode"),
        "o_orderstatus", "o_orderpriority", "n_orders", "sum_price",
    )


def _q_mask_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 unionByName-with-fill aggregate + A4 boolean-mask sums, folded
    into one (label, n, n2) report: union rows carry (type, count,
    non-null value count); mask rows carry (mask name, hits, total)."""
    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "event_type", "value"
    )
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "event_type")
    u = eio.union_append(signups, errors)
    ua = u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("value").alias("n2"),
    ).select(F.col("event_type").alias("label"), "n", "n2")
    masks = ev.agg(
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0)).cast("long").alias("n_high"),
        F.sum(F.when(F.col("value") <= 10, 1).otherwise(0)).cast("long").alias("n_low"),
        F.count(F.lit(1)).alias("n_total"),
    )
    m = masks.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("value_gt_100").alias("label"),
                    F.col("n_high").alias("n"),
                    F.col("n_total").alias("n2"),
                ),
                F.struct(
                    F.lit("value_le_10").alias("label"),
                    F.col("n_low").alias("n"),
                    F.col("n_total").alias("n2"),
                ),
            )
        ).alias("s")
    ).select("s.label", "s.n", "s.n2")
    return ua.unionByName(m)


def _q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata + REAL PNG/JPEG/GIF/BMP/TIFF/WAV header
    decodes (folded).

    Text payloads carry JVM-side byte length + sha256 as before. Six
    media payloads per doc are synthesized as genuine bytes — PNG
    signature+IHDR; a JPEG marker-segment stream whose APP1 payload
    deliberately embeds a fake FFC0 (the false-SOF trap); a GIF89a
    logical screen descriptor (little-endian dims); a BMP
    BITMAPINFOHEADER with odd ids stored TOP-DOWN (negative s32le
    height — the signed-field trap); a TIFF whose byte order flips per
    row (II/MM — the endian trap) with BitsPerSample behind a count-3
    offset pointer and decoy IFD tags; and a RIFF/WAVE header with a
    decoy LIST chunk before "fmt " (the fixed-offset trap) — with
    dims/audio params derived from doc_id, then parsed BACK from the
    raw bytes by the byte-level parsers (png_ihdr / jpeg_sof segment
    walk / gif_screen / bmp_header / tiff_ifd IFD walk / wav_fmt chunk
    walk). The oracle recomputes everything by formula, so any
    parse/synthesis disagreement — including falling into any trap —
    fails the hash."""
    # r15 (guide §2.5): seven branches of byte-synthesis + byte-parse
    # expression trees each fuse onto the single-row-group scan — floor
    # the shared input once (no-op on multi-split data; the identical
    # scan+exchange subtree is shared across branches): 17.9 → 12.7 s
    # median at sf0.1. Per-row synthesis/parse, partitioning-
    # independent.
    #
    # r15b (guide §1.2/§2.4): the seven branches were 1:1 projections of
    # the SAME keyed scan, stitched back with six inner joins on
    # media_id — at scale that is 6 exchanges + 6 hash relations (and,
    # absent exchange reuse, 7 scans) moving rows around purely to land
    # them back on the row they came from. doc_id is the table's unique
    # non-null key (the DuckDB oracle itself is a single joinless SELECT
    # over documents, so the join form's correctness already presupposed
    # that), hence the stitch folds into ONE projection over one scan:
    # 6 joins → 0, plan is scan → project → (floor) exchange → project.
    # At r15b the parse still ran behind the signature-dispatched
    # coalesce (multimodal.image_header) and the wav_fmt chunk walk.
    # Measured (interleaved noop A/B at sf0.1): 12.7 → see
    # OPTIMIZATION_r15.md. BMP: odd ids stored top-down (negative s32le
    # height — the signed trap); TIFF: even ids big-endian, odd little-
    # endian, BitsPerSample behind a count-3 offset pointer.
    #
    # r16 (guide §4.2, r15 verdict #3 'most expensive declared query'):
    # the PARSE stage moves from JVM expression trees to an Arrow-batched
    # mapInArrow over the stdlib-struct Python twins of the same parsers
    # (multimodal.parse_media_headers). The r15-verdict hypothesis — that
    # the coalesce's failed signature probes carried the cost — was
    # adjudicated FALSE first (magic-byte when/otherwise dispatch:
    # medians 8.53 s current vs 9.39 s dispatched, mins equal at 7.4 s;
    # per-branch decomposition shows each format's OWN parser tree costs
    # 1.2-2.0 s per corpus pass). The real bill is hex()/conv()/
    # substring() string machinery: ~300 µs/row for the six parses in
    # JVM vs ~26 µs/row for the Python twins (measured on the collected
    # sf0.1 corpus). Synthesis (the trap construction the oracle
    # replays) stays JVM-side and byte-identical; the twins are the
    # pinned-parity decoders test_multimodal already checks field-for-
    # field against the JVM parsers, and decode_image_header preserves
    # the coalesce's dispatch order. Interleaved noop A/B at sf0.1:
    # 9.3 s → see OPTIMIZATION_r16.md; oracle hash green.
    docs = layout.ensure_scan_parallelism(_t(spark, sf_dir, "documents"))
    txt = F.encode(F.col("text"), "utf-8")
    base = docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.lit("text/plain").alias("content_type"),
        F.octet_length(txt).cast("long").alias("n_bytes"),
        F.lower(F.sha2(txt, 256)).alias("sha256_hex"),
        multimodal.synthesize_png_header(
            (F.col("doc_id") % 1024 + 16).cast("long"),
            (F.col("doc_id") * 7 % 768 + 16).cast("long"),
        ).alias("_p_png"),
        multimodal.synthesize_jpeg_header(
            (F.col("doc_id") * 13 % 512 + 32).cast("long"),
            (F.col("doc_id") * 3 % 512 + 32).cast("long"),
        ).alias("_p_jpeg"),
        multimodal.synthesize_gif_header(
            (F.col("doc_id") * 11 % 640 + 8).cast("long"),
            (F.col("doc_id") * 5 % 480 + 8).cast("long"),
        ).alias("_p_gif"),
        multimodal.synthesize_bmp_header(
            (F.col("doc_id") * 17 % 320 + 4).cast("long"),
            (F.col("doc_id") * 19 % 240 + 4).cast("long"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(8)).otherwise(F.lit(24)),
            F.col("doc_id") % 2 == 1,
        ).alias("_p_bmp"),
        multimodal.synthesize_tiff_header(
            (F.col("doc_id") * 23 % 2048 + 1).cast("long"),
            (F.col("doc_id") * 29 % 2048 + 1).cast("long"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(16)).otherwise(F.lit(8)),
            (F.col("doc_id") % 3).cast("long"),
            F.col("doc_id") % 2 == 0,
        ).alias("_p_tiff"),
        multimodal.synthesize_wav_header(
            (F.col("doc_id") % 2 + 1).cast("long"),
            (F.col("doc_id") % 3 * 8000 + 16000).cast("long"),
            (F.col("doc_id") * 997 % 100000 + 8000).cast("long"),
        ).alias("_p_wav"),
    )
    return multimodal.parse_media_headers(base)


def _q_catalog_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 catalog introspection + A2 full-table COUNT(*) folded into one
    (table_name, item, n) report: catalog rows carry (column name,
    ordinal position); count rows carry ('count(*)', row count); the
    distinct-values audit appends per-event-type counts as
    'events.event_type=<t>' rows (groupBy IS distinct — presence of a
    row proves the type exists, n carries its cardinality)."""
    from animaltrackingetls_spark.operators.aggregates import (
        catalog_columns,
        table_counts,
    )

    tables = eio.load_all(_ensure_confs(spark), sf_dir)
    cols = catalog_columns(spark, tables).select(
        "table_name",
        F.col("column_name").alias("item"),
        F.col("ordinal_position").cast("long").alias("n"),
    )
    counts = table_counts(tables).select(
        "table_name",
        F.lit("count(*)").alias("item"),
        F.col("n_rows").cast("long").alias("n"),
    )
    ev = _t(spark, sf_dir, "events")
    per_type = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(F.lit("events.event_type="), F.col("event_type")).alias(
                "table_name"
            ),
            F.lit("count(*)").alias("item"),
            F.col("n").cast("long").alias("n"),
        )
    )
    return cols.unionByName(counts).unionByName(per_type)


def _q_udaf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: both GROUPED_AGG pandas UDAFs (median + weighted mean) plus
    native exact interpolated percentiles in ONE aggregation — a single
    shuffle computes all five. `percentile()` and DuckDB's
    `quantile_cont` share the linear-interpolation definition, so the
    quantiles hash-match exactly (verified to 6 dp); the UDAF pair stays
    as the custom-aggregate surface demo next to the native path you'd
    prefer in production."""
    from animaltrackingetls_spark.operators.aggregates import (
        median_udaf,
        weighted_mean_udaf,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "w", (F.col("event_id") % 7 + 1).cast("double")
    )
    # Spark forbids GROUPED_AGG pandas UDFs alongside JVM aggregates in
    # one agg (INVALID_PANDAS_UDF_PLACEMENT) — two aggregations over the
    # same key, joined on the group-cardinality result (5 rows).
    udaf_part = ev.groupBy("event_type").agg(
        F.round(median_udaf("value"), 6).alias("median_value"),
        F.round(weighted_mean_udaf("value", "w"), 6).alias("wmean_value"),
    )
    native_part = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25_value"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75_value"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99_value"),
    )
    return udaf_part.join(native_part, "event_type")


def _q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram analysis, two folded forms: 'exact' top-20 bigrams
    by document frequency (full groupBy — shuffles every distinct
    bigram), and 'hh' the same answer from the heavy-hitters path
    (``aggregates.approx_top_k``: per-partition exact top-m candidates
    via one narrow Arrow pass, then an exact recount of candidates only
    — the shuffle-bounded form for 100 TB n-gram spaces). The run
    asserts the certificate (kth count > n/(m+1)), so 'hh' rows are
    PROVABLY the exact top-20 and the single SQL oracle covers both."""
    from animaltrackingetls_spark.operators.aggregates import approx_top_k

    docs = _t(spark, sf_dir, "documents")
    # bound-token form (shingle_frame): tokenize ONCE per doc through a
    # Generate node — the expression form re-runs the regexp per shingle
    # (r15: a scan-parallelism floor was TRIED here and reverted — the
    # xxhash64+Arrow value_counts passes are cheap enough that the
    # added exchange and 32-way task scheduling cost more than the
    # single-task map, 1.78 s → 2.58 s; see OPTIMIZATION_r15.md).
    # r16b: the exploded bigram stream is consumed THREE times per
    # execution (exact groupBy + hh candidate pass + hh recount), so
    # materialize it once (eager localCheckpoint, executor-side blocks)
    # and let all three read the materialized stream — one
    # tokenize+shingle pass instead of three (interleaved noop A/B:
    # 2.57 s → 1.96 s median). Same persist-if-reused trade
    # segments_chunks makes for its gram frame; at scale the
    # materialization is shuffle-file-sized local I/O vs two extra
    # CPU-bound corpus passes.
    bg = (
        dedup.shingle_frame(docs, "doc_id", "text", 2)
        .select(F.explode("sh").alias("bigram"))
        .localCheckpoint(eager=True)
    )
    exact = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("bigram"))
        .limit(20)
    )
    stats: dict = {}
    # m sized for this corpus's flat synthetic tail: kth doc-frequency
    # ≈ n/640, so the certificate needs n/(m+1) below that — 1024 gives
    # ~1.6x margin and is still only ~1k strings per partition
    hh = approx_top_k(bg, "bigram", k=20, per_partition_m=1024, stats=stats).select(
        "bigram", F.col("n").alias("n_docs")
    )
    if not stats["proven_exact"]:
        raise AssertionError(
            f"heavy-hitter certificate failed (stats={stats}); "
            "raise per_partition_m"
        )
    return exact.select(F.lit("exact").alias("kind"), "*").unionByName(
        hh.select(F.lit("hh").alias("kind"), "*")
    )


def _q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: order-priority counts for orders having at least
    one line shipped after the order date (EXISTS → left-semi join)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def _q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: customers with any order whose line quantities
    sum above a threshold (HAVING subquery → agg + join)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


def _q_batch_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (the batch twin of session_window): a session
    breaks after a 30-minute idle gap — lag + cumulative new-session
    flags per user, then per-session aggregates."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    sessioned = flagged.withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessioned.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _q_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: shipping volume between supplier and customer
    nations per ship-year (two nation role-joins on one dim)."""
    n = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    supp_n = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_n = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cust_n), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(
            _money_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("volume")
        )
    )


def _q_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promo part types' share of one month's revenue."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral funnel: users who signed up, then clicked, then
    purchased — strictly in that temporal order (min-ts per stage)."""
    ev = _t(spark, sf_dir, "events")
    stage = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
        )
    )
    return stage.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0)).cast("long").alias("n_signup"),
        F.sum(
            F.when(
                F.col("t_signup").isNotNull()
                & (F.col("t_click") > F.col("t_signup")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_click_after_signup"),
        F.sum(
            F.when(
                F.col("t_signup").isNotNull()
                & (F.col("t_click") > F.col("t_signup"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_full_funnel"),
    )


def _q_q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: single-pass filtered revenue aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 25)
        )
        .agg(
            _money_round(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _q_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining data pipeline END-TO-END in one Catalyst plan:
    quality thresholds + language gate (keep/drop) → unigram-LM
    perplexity filter (corpus-self-trained, broadcast vocab — the
    CCNet-style stage) → exact dedup (md5-keyed, min-id canonical) →
    per-source sequence packing. Everything stays declarative, so the
    static filters push to the scan and the only shuffles are the LM
    wordcount, the per-doc score reduce, the dedup window, and the
    per-source pack — the composition a 100 TB corpus build actually
    runs. The LM score is rounded before thresholding: a float-mean
    boundary must not decide keep/drop differently across engines."""
    docs = _t(spark, sf_dir, "documents")
    # implementation lives in pretrain.build_pretraining_corpus (the
    # library one-call; export_pretraining_shards adds the ordered
    # shard write) — this entry hash-verifies it against the oracle
    from animaltrackingetls_spark.pretrain import build_pretraining_corpus

    return build_pretraining_corpus(docs)


def _q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing end-to-end: token-budget bin assignment packed
    per `source` shard (partition-parallel window — the scale-safe
    form; the global-window variant survives only as a unit test), PLUS
    the assembly step: 'bin' rows carry each bin's total tokens and the
    md5 of the doc_id-ordered newline-joined packed sequence, so the
    physical shard construction — order, membership, separator — is
    digest-verified, not just the bin arithmetic. Unique bin key =
    (source, bin_id).

    Round 9 folds the best-fit-decreasing WHOLE-document packer in as
    'bfd' / 'bfd_oversize' rows (formerly the standalone pack_bestfit
    query): documents pack whole into (source, bin_id) bins of 30k
    chars via per-group applyInPandas, and the DuckDB oracle replays
    BFD's sequential bin state with a recursive CTE — exact placement
    and tie rules, not just invariants."""
    raw = _t(spark, sf_dir, "documents")
    docs = textstats.quality_columns(raw)
    packed = textstats.pack_documents(docs, max_tokens=2048, partition_col="source")
    doc_rows = packed.select(
        F.lit("doc").alias("kind"),
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "source",
        "bin_id",
        F.lit(None).cast("string").alias("packed_md5"),
    )
    assembled = (
        packed.join(raw.select("doc_id", "text"), "doc_id")
        .groupBy("source", "bin_id")
        .agg(
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                        lambda x: x.text,
                    ),
                    "\n",
                )
            ).alias("packed_md5"),
        )
        .select(
            F.lit("bin").alias("kind"),
            F.lit(None).cast("long").alias("doc_id"),
            "n_tokens",
            "source",
            "bin_id",
            "packed_md5",
        )
    )
    from animaltrackingetls_spark.operators.textstats import (
        pack_documents_bestfit,
    )

    bfd = pack_documents_bestfit(
        raw, 30_000, token_col="n_chars", group_col="source"
    ).select(
        F.when(F.col("oversize"), F.lit("bfd_oversize"))
        .otherwise(F.lit("bfd"))
        .alias("kind"),
        F.col("id").alias("doc_id"),
        F.col("tokens").alias("n_tokens"),
        F.col("group").alias("source"),
        "bin_id",
        F.lit(None).cast("string").alias("packed_md5"),
    )
    return doc_rows.unionByName(assembled).unionByName(bfd)


_MIXTURE_RATES = {"src0": 2.3, "src1": 0.4, "src2": 1.0, "src3": 1.75}


def _mixture_oracle_branch() -> str:
    """('mixture', source:epoch, n) rows — thresholds computed by the
    SAME Python helper the operator uses, embedded as hex literals so
    no cross-engine float rounding can diverge."""
    from animaltrackingetls_spark.operators.sampling import _threshold_hex

    cases = []
    for group, rate in _MIXTURE_RATES.items():
        whole = int(rate)
        thr = _threshold_hex(rate - whole)
        if thr is None:
            # mirror of mixture_resample: a fraction rounding UP to the
            # whole bucket space is one more FULL copy, not zero
            expr = str(whole + 1)
        else:
            expr = str(whole)
            if thr != "0000":
                expr += (
                    " + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)"
                    f" < '{thr}' THEN 1 ELSE 0 END"
                )
        cases.append(f"WHEN '{group}' THEN {expr}")
    groups = ", ".join(f"'{g}'" for g in _MIXTURE_RATES)
    return f"""
            SELECT 'mixture' AS kind, "key", count(*) AS n FROM (
              SELECT source || ':' || CAST(unnest(generate_series(1, n_copies)) AS VARCHAR) AS "key"
              FROM (
                SELECT doc_id, source,
                       CASE source {' '.join(cases)} END AS n_copies
                FROM documents WHERE source IN ({groups})
              ) WHERE n_copies >= 1
            ) GROUP BY "key"
    """


_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _split_oracle_branch() -> str:
    """('split', name, n) rows — bucket bounds come from the OPERATOR's
    own exported helper (sampling.split_upper_bounds), embedded as hex
    literals: one arithmetic, no silent drift."""
    from animaltrackingetls_spark.operators.sampling import split_upper_bounds

    names = list(_SPLIT_FRACTIONS)
    bounds = split_upper_bounds(_SPLIT_FRACTIONS)
    whens = " ".join(
        "WHEN FALSE THEN '%s'" % n
        if ub < 0
        else f"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <= '{format(ub, '04x')}' THEN '{n}'"
        for n, ub in zip(names[:-1], bounds)
    )
    return f"""
            SELECT 'split' AS kind,
                   CASE {whens} ELSE '{names[-1]}' END AS "key",
                   count(*) AS n
            FROM documents GROUP BY 2
    """


def _q_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling (folded): the md5-bucket 25% uniform sample
    (partitioning-independent — reproducible in any engine, unlike
    df.sample) as ('uniform', doc_id) membership rows, per-stratum
    counts of a stratified sample as ('stratum', lang) rows, and the
    domain-mixture resampler (rates > 1 replicate whole epochs via a
    map-only Generate; the fractional epoch is the same md5-bucket draw)
    as ('mixture', source:epoch) count rows."""
    from animaltrackingetls_spark.operators.sampling import (
        deterministic_sample,
        mixture_resample,
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    uni = deterministic_sample(docs, "doc_id", 0.25).select(
        F.lit("uniform").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(None).cast("bigint").alias("n"),
    )
    strat = (
        stratified_sample(docs, "doc_id", "lang", {"en": 0.5, "zh": 0.1})
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("stratum").alias("kind"), F.col("lang").alias("key"), "n")
    )
    mix = (
        mixture_resample(docs, "doc_id", "source", _MIXTURE_RATES)
        .groupBy("source", "epoch")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("mixture").alias("kind"),
            F.concat_ws(":", "source", F.col("epoch").cast("string")).alias("key"),
            "n",
        )
    )
    from animaltrackingetls_spark.operators.sampling import dataset_split

    splits = (
        dataset_split(docs, "doc_id", _SPLIT_FRACTIONS)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("split").alias("kind"), F.col("split").alias("key"), "n")
    )
    # 'gidx' rows: the scalable global total-order index
    # (ordering.global_order_index — range exchange + per-partition
    # counts + offset broadcast, NO unpartitioned window) over
    # (n_chars, doc_id), audited on every 97th doc; the oracle replays
    # it as the window function the operator deliberately avoids.
    from animaltrackingetls_spark.operators.ordering import global_order_index

    gidx = (
        global_order_index(
            docs.select("doc_id", "n_chars"), ["n_chars", "doc_id"],
            num_partitions=8,
        )
        .filter(F.col("doc_id") % 97 == 0)
        .select(
            F.lit("gidx").alias("kind"),
            F.col("doc_id").cast("string").alias("key"),
            F.col("global_idx").alias("n"),
        )
    )
    return (
        uni.unionByName(strat).unionByName(mix).unionByName(splits)
        .unionByName(gidx)
    )


def _q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming: tumbling-hour counts over the events stream,
    run to completion with an AvailableNow trigger (§2.10 extension).
    Returns the materialized result table — oracle-checkable because the
    stream drains the same parquet the batch oracle reads."""
    from animaltrackingetls_spark.streaming import (
        read_event_stream,
        run_available_now_to_memory_many,
        windowed_event_counts,
    )

    _ensure_confs(spark)
    stream = read_event_stream(
        spark, sf_dir, nanos_ts=True, path_glob="events.parquet"
    )
    # 'sliding' branch: the same hour of data hopped every 30 minutes —
    # each event lands in exactly two windows (duration/slide), the
    # oracle replays it as a two-bucket explode.
    #
    # r15 (guide §1.2: don't compute things twice): the tumbling
    # result IS the hour-aligned subset of the sliding result — both
    # window families are epoch-aligned, so a sliding (1 hour, 30 min)
    # window starting on the hour contains exactly the rows of the
    # tumbling hour window, with identical counts and sums computed by
    # the same aggregation. ONE streaming drain therefore serves both
    # branches, halving the per-query fixed cost (checkpoint setup,
    # source listing, micro-batch scheduling) the r7 concurrent-drain
    # fix could only overlap. Measured 1.49 s → see OPTIMIZATION_r15.md.
    sliding = windowed_event_counts(
        stream, "1 hour", round_digits=2, slide="30 minutes"
    ).select("window_start", "event_type", "n_events", "sum_value")
    run_available_now_to_memory_many(
        {"q_stream_swc": sliding}, output_mode="complete"
    )
    sli = spark.table("q_stream_swc").select(F.lit("sliding").alias("kind"), "*")
    tum = (
        spark.table("q_stream_swc")
        .filter(F.minute("window_start") == 0)
        .select(F.lit("tumbling").alias("kind"), "*")
    )
    return tum.unionByName(sli)


def _q_sessionized_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming session windows (§2.10): per-user sessions
    closing after 30 idle minutes, drained with AvailableNow. Session
    semantics are deterministic (start=min ts, end=last ts + gap), so
    the batch island-grouping SQL is an exact oracle."""
    from animaltrackingetls_spark.streaming import (
        read_event_stream,
        run_available_now_to_memory,
        sessionized_user_activity,
    )

    _ensure_confs(spark)
    stream = read_event_stream(
        spark, sf_dir, nanos_ts=True, path_glob="events.parquet"
    )
    sess = sessionized_user_activity(stream, gap="30 minutes")
    run_available_now_to_memory(sess, "q_stream_sessions", output_mode="complete")
    return spark.table("q_stream_sessions")


def _q_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming dedup + stream–stream join (§2.10, folded).

    'dedup' rows: dropDuplicatesWithinWatermark on (user_id,
    event_type), projected to the kept KEY SET — which row survives per
    key is arrival-order-dependent, but the set of keys is exactly
    DISTINCT(user_id, event_type), giving a value oracle.

    'join' rows: watermarked INNER stream–stream join — each purchase
    paired with every signup by the same user at most 1 h before it
    (``streaming.stream_stream_join``: watermarks on both sides + an
    event-time range in the join condition, the two things that bound
    join state). Inner output is order-independent (every qualifying
    pair, once), so the batch interval join is an exact oracle."""
    from animaltrackingetls_spark.streaming import (
        read_event_stream,
        run_available_now_to_memory_many,
        stream_dedup,
        stream_stream_join,
    )

    _ensure_confs(spark)
    stream = read_event_stream(
        spark, sf_dir, nanos_ts=True, path_glob="events.parquet"
    )
    kept = stream_dedup(stream, ["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    # both join sides filter the ONE reader above (streaming self-joins
    # are supported); separate readers would re-probe the parquet footer
    # per side for nothing
    signups = stream.filter(F.col("event_type") == "signup").select(
        "event_id", "ts", "user_id"
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("event_id_r"),
        F.col("ts").alias("ts_r"),
        "user_id",
    )
    pairs = stream_stream_join(signups, purchases, max_gap_seconds=3600).select(
        "user_id", "event_id", "event_id_r"
    )
    # dedup + join drain concurrently (independent queries; serial
    # drains pay per-start fixed costs twice — see SCALING.md
    # 'streaming drift')
    #
    # r16 (r15 verdict #6, guide §1.2): skip the zero-row no-data
    # micro-batches the AvailableNow drain otherwise appends. Both
    # sinks here emit on ARRIVAL (append-mode dropDuplicatesWithin-
    # Watermark emits each kept row in its own batch; the INNER
    # stream-stream join emits each qualifying pair when matched), so
    # the trailing no-data batch exists only to evict state this
    # one-shot drain discards anyway. Output is identical — measured
    # 7874 rows both ways, interleaved A/B medians 8.28 s → 5.13 s
    # (−38%). Scoped to THIS query and restored: append-mode windowed
    # aggregations (streaming_window_counts) DO need the no-data flush
    # batch to finalize windows.
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(nodata_key, "true")
    spark.conf.set(nodata_key, "false")
    try:
        run_available_now_to_memory_many(
            {"q_stream_dedup": kept, "q_stream_join": pairs}, output_mode="append"
        )
    finally:
        spark.conf.set(nodata_key, prev_nodata)

    dedup_rows = spark.table("q_stream_dedup").select(
        F.lit("dedup").alias("kind"),
        "user_id",
        F.col("event_type").alias("k"),
        F.lit(None).cast("long").alias("n"),
    )
    join_rows = spark.table("q_stream_join").select(
        F.lit("join").alias("kind"),
        "user_id",
        F.col("event_id").cast("string").alias("k"),
        F.col("event_id_r").alias("n"),
    )
    return dedup_rows.unionByName(join_rows)


# --- rows-only queries (no ANSI-SQL oracle; driver records weaker check) ---


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (xxhash64-based, rows-only)."""
    # r15 (guide §2.5): the rolling-hash window minima fused onto the
    # single-row-group scan ran as ONE task — floor to the core count
    # (no-op on multi-split data): 5.23 s → 0.60 s median at sf0.1.
    # Per-row computation, partitioning-independent.
    docs = layout.ensure_scan_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    out = textstats.winnow_fingerprint_frame(docs)
    return out.select("id", F.size("fps").alias("n_fps"))


def _q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blockless near-dup via hyperplane LSH buckets (rows-only: bucket
    membership is hash-seeded; exact-cosine recall is pinned by tests)."""
    # r15 (guide §2.5): hyperplane projections + bucket pairing fused
    # onto the single-row-group embeddings scan — floor to the core
    # count (no-op on multi-split data): 3.83 → 2.29 s median at sf0.1.
    # Buckets are seed-derived, not partition-derived.
    emb = layout.ensure_scan_parallelism(_t(spark, sf_dir, "embeddings"))
    return dedup.embedding_neardup_lsh(emb, dim=64, threshold=0.3, n_planes=4)


def _q_salted_join_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join — same aggregate as the plain join (oracle uses
    the plain SQL join, proving the salt is result-transparent)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = joins.salted_join(
        o.withColumnRenamed("o_custkey", "c_custkey"), c, ["c_custkey"]
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def _q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates + exact verify (xxhash64-based —
    not reproducible in DuckDB, verified by fixture tests instead)."""
    d = _docs_with_dups(spark, sf_dir)
    return dedup.minhash_candidate_pairs(d, threshold=0.5)


def _q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (xxhash64-based)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash64(docs)


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH + exact re-rank, at
    the documented recall>=0.9 operating point (4 planes x 16 tables —
    measured 0.908 recall@10 on sf0.1, see SCALING.md; floor pinned in
    test_similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_topk(
        emb, queries_df, k=10, dim=64, n_planes=4, n_tables=16, round_digits=6
    )


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF (k-means cells) + exact re-rank over
    the probed candidates, at BOTH pinned operating points: probe 2
    (the 2.3×-candidate-lift efficiency point) and probe 6 (the ≥0.9
    recall point — measured 0.96 recall@10 at sf0.01, floor pinned in
    test_similarity.py). Scores within the candidate set are exact
    cosine, so a returned neighbor's rank can only be wrong by
    OMISSION (a true neighbor in an unprobed cell), never by
    mis-scoring — the exact-over-candidates parity test pins that."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    # index ONCE (the eager k-means fit is the dominant cost), search
    # at both probe budgets — the ivf_index/ivf_search production shape
    index = similarity.ivf_index(emb, n_centroids=8)
    out = None
    for probe in (2, 6):
        branch = similarity.ivf_search(
            index, queries_df, k=10, n_probe=probe, round_digits=6
        ).select(F.lit(probe).alias("n_probe"), "*")
        out = branch if out is None else out.unionByName(branch)
    return out


def _q_ivf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF SERVING shape (rows-only): search a SAVED index —
    assignment persisted ``partitionBy(cell)``, centroids sidecar —
    instead of training per query. The index is built once per
    (sf_dir, embeddings mtime) into a local cache dir and every later
    invocation only loads + searches with ``prune_cells=True``, so the
    assignment scan partition-prunes to the probed cells. This is the
    docstring claim of similarity.ivf_index made runnable: bench time
    here is probe-bound, where ivf_topk's is train-bound. Recall floor
    vs brute force and saved-vs-in-memory parity are pinned in
    test_similarity.py."""
    import os
    import tempfile

    emb_file = os.path.join(sf_dir, "embeddings.parquet")
    key = _invocation_cache_key(spark, "v1", emb_file)
    cache = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_{key}")
    done = os.path.join(cache, "_BUILT")
    if not os.path.exists(done):
        emb = _t(spark, sf_dir, "embeddings")
        index = similarity.ivf_index(emb, n_centroids=8)
        similarity.save_ivf_index(index, cache)
        with open(done, "w") as f:
            f.write(key)
    index = similarity.load_ivf_index(spark, cache)
    queries_df = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return similarity.ivf_search(
        index, queries_df, k=10, n_probe=2, round_digits=6, prune_cells=True
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched multimodal plumbing, folded: whole-payload feature
    extraction ('doc' rows, stub codec) plus video-style evenly-spaced
    frame sampling → per-frame decode ('frame' rows: k = frame_idx,
    synthetic n_frames/fps metadata derived from payload size — the
    JVM Generate plan bounds output to n_samples rows per payload).

    HASH-CHECKED since round 8 (oracle made byte-accurate in round 9):
    the stub codec's 8-bin byte histogram is pure arithmetic DuckDB
    replays in BYTE space — hex(encode(text)) turns every UTF-8 byte
    into a hex pair whose first nibble is the bucket, so the 4096-byte
    cap, the high buckets (bytes >= 0x80), and the all-zero feature of
    an empty payload all reproduce exactly (IEEE double division of
    exact ints is bitwise-identical across engines). The Arrow
    plumbing (mapInPandas batches, Generate-bounded frame explode)
    still runs for real; only the FEATURE math is what the oracle
    replays.

    Round 10: the feature vector is POSEXPLODED to (bucket, value)
    scalar rows — the driver's canonicalizer sorts raw column values
    and cannot sort ArrayType cells (the single red row of
    CORRECTNESS_r09: 'unhashable type: list'); scalars also keep the
    hash compare elementwise instead of whole-array. The values are
    the same IEEE doubles, just one per row. A window-wide invariant
    test (tests/test_entry_oracles.py) now bans Array/Map/Struct
    columns from every in-window query schema."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.to_media_table(
        docs, "doc_id", F.encode(F.col("text"), "utf-8"), "text/plain"
    )
    whole = multimodal.extract_features(media).select(
        F.lit("doc").alias("kind"),
        "media_id",
        F.col("n_bytes").alias("k"),
        "feature",
    )
    video_like = media.withColumn(
        "n_frames", (F.col("n_bytes") / 16).cast("long")
    ).withColumn("fps", F.lit(30.0))
    frames = multimodal.extract_frame_features(
        multimodal.frame_sample(video_like, n_samples=4)
    ).select(
        F.lit("frame").alias("kind"),
        "media_id",
        F.col("frame_idx").alias("k"),
        "feature",
    )
    panel = whole.unionByName(frames)
    return panel.select(
        "kind", "media_id", "k", F.posexplode("feature")
    ).select(
        "kind",
        "media_id",
        "k",
        F.col("pos").cast("long").alias("bucket"),
        F.col("col").alias("value"),
    )


def _q_approx_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL) — approximate, so rows-only."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users")
    )


def _q_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState),
    HASH-CHECKED since round 8: update-mode emissions depend on batch
    boundaries, but per user they are monotone snapshots of the
    running (count, total) state — so folding to the LAST emission
    (max n_events; max_by for the total) yields the final state
    regardless of how AvailableNow split the input, and the final
    state has an exact batch twin: GROUP BY user_id count/sum, both
    sides rounded to 6 digits so accumulation order cannot flip a
    float. The stateful operator still runs end to end; the projection
    just makes its result batch-deterministic."""
    from animaltrackingetls_spark.streaming import (
        read_event_stream,
        run_available_now_to_memory,
        running_user_totals,
    )

    _ensure_confs(spark)
    stream = read_event_stream(
        spark, sf_dir, nanos_ts=True, path_glob="events.parquet"
    )
    totals = running_user_totals(stream)
    run_available_now_to_memory(totals, "q_stream_totals", output_mode="update")
    return (
        spark.table("q_stream_totals")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("total_value", "n_events"), 6).alias("total_value"),
        )
    )


def _q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (C4/CCNet paragraph dedup, generalized):
    non-overlapping 3-token spans, corpus-wide first occurrence wins,
    documents reassembled from surviving spans. One span-keyed shuffle +
    one id-keyed shuffle; no joins."""
    # r15: a scan-parallelism floor was TRIED here (and on the mdocs/
    # sdocs branches below) and REVERTED — interleaved A/B at sf0.1
    # read all-floors 4.70 s vs no-floors 3.91 s median: the branches'
    # maps are cheap enough that three extra round-robin exchanges +
    # 32-way task scheduling cost more than the single-task maps they
    # spread (see OPTIMIZATION_r15.md).
    docs = _t(spark, sf_dir, "documents")
    return dedup.segment_dedup(docs, k=3)


def _q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota: keep at most 5 documents per source, preferring
    the longest (n_chars desc, doc_id tiebreak) — the per-host page cap
    of a pretraining crawl, as a partitioned window (no global sort)."""
    from animaltrackingetls_spark.operators.sampling import cap_per_key

    docs = _t(spark, sf_dir, "documents")
    return cap_per_key(
        docs, "source", 5, [F.desc("n_chars")], id_col="doc_id"
    ).select("doc_id", "source", "n_chars")


def _q_sharded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: md5(seed:id) assigns every row a
    (shard, shard_pos) address — the same permutation on any cluster /
    partitioning / engine. Per-shard windows, no global sort."""
    from animaltrackingetls_spark.operators.sampling import sharded_shuffle

    docs = _t(spark, sf_dir, "documents")
    return sharded_shuffle(docs.select("doc_id"), "doc_id", num_shards=8, seed=7)


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (16-token chunks, stride 12) — the
    context-window splitter; pure map-side Generate, zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.chunk_documents(docs, chunk_tokens=16, stride=12)


def _q_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join over the derived sighting points: all pairs
    within 100 km via 3D chord-grid blocking (pole-safe ±1-cell
    neighbor join, exact haversine on candidates only) — the oracle is
    the brute-force all-pairs form, so the blocked plan must find
    EXACTLY the exhaustive answer. Subset (event_id % 4 = 0) keeps the
    oracle's quadratic side tractable."""
    # r15 (guide §2.5): the chord-grid cell assignment + neighbor
    # explode + haversine verify all fuse onto the single-row-group
    # events scan — ONE task did the whole blocked join. Floor to the
    # core count (no-op on multi-split data): 7.70 s → 1.37 s median
    # at sf0.1. The pair set is partitioning-independent (exact
    # haversine on blocked candidates).
    pts = layout.ensure_scan_parallelism(
        _points(spark, sf_dir).filter(F.col("event_id") % 4 == 0)
    )
    from animaltrackingetls_spark.operators import geo

    return geo.proximity_self_join(
        pts, "event_id", "decimalLatitude", "decimalLongitude", radius_km=100.0
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]


def _q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the orders table (null counts, exact
    cardinalities, min/max) — one aggregation pass with map-side
    partials, per-column unpivot on the single result row. Doubles are
    excluded from the registered set (cross-engine float rendering);
    the operator itself profiles any column."""
    from animaltrackingetls_spark.operators.profile import profile_columns

    # r15 (guide §2.5): the 5-column exact-cardinality partial agg
    # (per-partition distinct sets) fused onto the single-row-group
    # orders scan — floor to the core count after projecting to the
    # profiled columns (no-op on multi-split data): 2.25 → 1.17 s
    # median at sf0.1. Distinct/min/max/null partials are
    # reduction-order-free.
    orders = layout.ensure_scan_parallelism(
        _t(spark, sf_dir, "orders").select(*_PROFILE_COLS)
    )
    return profile_columns(orders, _PROFILE_COLS)


# ---------------------------------------------------------------------------
# Folded queries: the driver verifies the oracle-backed PREFIX of queries()
# against oracle_sql(), so operator pairs with compatible output shapes are
# folded into single tagged-union queries — every oracle-backed operator
# keeps a hard driver signal without dropping any from the window.
# ---------------------------------------------------------------------------


def _q_inventory_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory pair folded: the two-batch keyed upsert ('inv' rows:
    name1=table_name, name2=processed_at, n=record_count) and the
    calendar-naming/date-arithmetic panel ('cal' rows: name1=table_day,
    name2=table_month|first_sunday)."""
    inv = _q_inventory_upsert(spark, sf_dir).select(
        F.lit("inv").alias("kind"),
        F.col("available_date").alias("d"),
        F.col("table_name").alias("name1"),
        F.col("processed_at").alias("name2"),
        F.col("record_count").cast("long").alias("n"),
    )
    cal = _q_calendar_naming(spark, sf_dir).select(
        F.lit("cal").alias("kind"),
        F.col("date_only").alias("d"),
        F.col("table_day").alias("name1"),
        F.concat_ws(
            "|", "table_month", F.col("first_sunday").cast("string")
        ).alias("name2"),
        F.lit(None).cast("long").alias("n"),
    )
    # 'spine' branch: gap-filled daily event counts (a dense calendar —
    # zero rows for days with no events), over a sparse subset so the
    # fill demonstrably fills (purchases over $150 skip many days).
    ev = _t(spark, sf_dir, "events")
    sparse = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 150)
    ).select(F.to_date("ts").alias("day"))
    spine = aggregates.calendar_spine_fill(sparse, "day").select(
        F.lit("spine").alias("kind"),
        F.col("day").alias("d"),
        F.lit(None).cast("string").alias("name1"),
        F.lit(None).cast("string").alias("name2"),
        "n",
    )
    return inv.unionByName(cal).unionByName(spine)


def _q_validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-validation report over orders: five value rules
    in ONE aggregation pass plus a key-uniqueness rule (one shuffle) —
    the reference's CI log-grep quality gates as a first-class operator
    (operators/validate.py). The range and regex rules are deliberately
    tighter than the data (high-price orders and '5-LOW' priorities
    violate), so the report exercises nonzero counts, not just a wall
    of zeros.

    Round 10: also carries the scalar-metric rows formerly registered
    as scalar_metrics (TPC-H Q14 promo share, Q6 revenue forecast,
    behavioral funnel — rule=metric name, value=the metric, counts
    NULL), freeing a driver-window slot with no coverage loss; the
    validation rows gain a NULL value column."""
    from animaltrackingetls_spark.operators import validate as V

    o = _t(spark, sf_dir, "orders")
    report = V.validation_report(
        o,
        [
            V.not_null("o_orderkey"),
            V.not_null("o_custkey"),
            V.in_range("o_totalprice", 0.0, 300000.0),
            V.in_set("o_orderstatus", ["O", "F", "P"]),
            V.matches("o_orderpriority", "^[1-4]-"),
        ],
        unique_keys=[["o_orderkey"]],
    )
    full = report.unionByName(
        V.iqr_outliers(o, "o_totalprice", k=1.5, round_bounds=6)
    ).withColumn("value", F.lit(None).cast("double"))
    scalars = _q_scalar_metrics(spark, sf_dir).select(
        F.col("metric").alias("rule"),
        F.lit(None).cast("long").alias("n_violations"),
        F.lit(None).cast("long").alias("n_rows"),
        "value",
    )
    return full.unionByName(scalars)


def _q_scalar_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three scalar-aggregate pipelines folded into (metric, value) rows:
    TPC-H Q14 promo share, TPC-H Q6 revenue forecast, and the behavioral
    funnel. Counts are cast to DOUBLE (exact below 2^53) so one column
    carries every metric."""
    q14 = _q_q14_promo_share(spark, sf_dir).selectExpr(
        "stack(2, 'promo_share_pct', CAST(promo_share_pct AS DOUBLE),"
        " 'promo_n_rows', CAST(n_rows AS DOUBLE)) AS (metric, value)"
    )
    q6 = _q_q6_revenue_forecast(spark, sf_dir).selectExpr(
        "stack(2, 'q6_revenue', CAST(revenue AS DOUBLE),"
        " 'q6_n_rows', CAST(n_rows AS DOUBLE)) AS (metric, value)"
    )
    fun = _q_funnel_conversion(spark, sf_dir).selectExpr(
        "stack(4, 'funnel_n_users', CAST(n_users AS DOUBLE),"
        " 'funnel_n_signup', CAST(n_signup AS DOUBLE),"
        " 'funnel_n_click_after_signup', CAST(n_click_after_signup AS DOUBLE),"
        " 'funnel_n_full_funnel', CAST(n_full_funnel AS DOUBLE))"
        " AS (metric, value)"
    )
    return q14.unionByName(q6).unionByName(fun)


def _q_dim_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-join aggregates folded: TPC-H Q5 revenue by ASIA nation
    ('q5_asia_revenue' rows) and the broadcast region rollup
    ('region_customers' rows)."""
    q5 = _q_q5_local_supplier(spark, sf_dir).select(
        F.lit("q5_asia_revenue").alias("kind"),
        F.col("n_name").alias("name"),
        F.lit(None).cast("long").alias("n_customers"),
        F.col("revenue").alias("amount"),
    )
    dim = _q_broadcast_dim_agg(spark, sf_dir).select(
        F.lit("region_customers").alias("kind"),
        F.col("r_name").alias("name"),
        F.col("n_customers").cast("long"),
        F.col("sum_acctbal").alias("amount"),
    )
    return q5.unionByName(dim)


def _q_quota_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-sampling trio folded: per-domain quota cap ('cap' rows:
    key=source, n=n_chars), the deterministic sharded shuffle ('shard'
    rows: key=shard, n=shard_pos), and the skew-safe exact RANDOM cap
    ('rcap' rows: key=source, n=n_chars — hash-threshold prefilter
    bounds every window to ~oversample·n rows per key, provably the
    same kept set as a plain md5-priority window, which is what the
    oracle replays), plus the per-source TOKEN budget sampler ('tok'
    rows: greedy hash-ordered prefix until 30k chars per source,
    overshoot at most one doc — the data-mixture "take N tokens per
    source" primitive, same prefilter+audit structure, oracle = the
    cumulative-sum window replay)."""
    from animaltrackingetls_spark.operators.sampling import (
        cap_per_key_random,
        token_budget_sample,
    )

    cap = _q_domain_cap(spark, sf_dir).select(
        F.lit("cap").alias("kind"),
        "doc_id",
        F.col("source").alias("key"),
        F.col("n_chars").cast("long").alias("n"),
    )
    shard = _q_sharded_shuffle(spark, sf_dir).select(
        F.lit("shard").alias("kind"),
        "doc_id",
        F.col("shard").cast("string").alias("key"),
        F.col("shard_pos").cast("long").alias("n"),
    )
    docs = _t(spark, sf_dir, "documents")
    # mode="prefilter" pins the skew-safe two-phase plan under the
    # oracle (auto would pick the plain window at sf-test scale);
    # auto-mode parity both sides of the threshold is pinned in
    # test_sampling.py
    rcap = cap_per_key_random(
        docs, "source", 3, "doc_id", seed=0, mode="prefilter"
    ).select(
        F.lit("rcap").alias("kind"),
        "doc_id",
        F.col("source").alias("key"),
        F.col("n_chars").cast("long").alias("n"),
    )
    tok = token_budget_sample(
        docs, "source", "n_chars", 30_000, "doc_id", seed=11, mode="prefilter"
    ).select(
        F.lit("tok").alias("kind"),
        "doc_id",
        F.col("source").alias("key"),
        F.col("n_chars").cast("long").alias("n"),
    )
    return cap.unionByName(shard).unionByName(rcap).unionByName(tok)


def _q_segments_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-segmentation sextet folded: paragraph-level dedup ('seg'
    rows: n1=n_segments, n2=n_kept, txt=clean_text), sliding-window
    chunking ('chunk' rows: n1=chunk_id, n2=start, n3=n_tokens,
    txt=chunk_text), CROSS-document boilerplate-line removal ('boiler'
    rows: n1=n_lines, n2=n_kept, txt=clean_text), and cross-document
    duplicated-SPAN detection ('span' rows: n1=start, n2=end,
    n3=n_tokens, txt=span_text — Lee et al. 2022 exact-substring dedup
    as k-gram fingerprints + gaps-and-islands), and its REMOVAL step
    ('rmspan' rows: n1=n_tokens, n2=n_removed, txt=clean_text —
    keep-first election by corpus-wide (doc id, start), every other
    occurrence excised and tokens reassembled in order), plus
    HTML-to-text extraction ('html' rows: n1=raw chars, n2=clean chars,
    txt=extracted text — script/style/comment traps wrapped around each
    doc, replayed by the oracle). The corpus texts are
    single-line, so the boiler branch wraps each document with an
    injected all-docs header and a per-source footer (25 docs per
    source — both ≥ min_docs=10); the span branch appends a shared
    10-token tail to every even doc of its subset. The operators must
    find exactly those constructions (plus any organic repeats, which
    the oracle reproduces identically), so any over/under-detection or
    span-merge slip fails the value hash."""
    seg = _q_segment_dedup(spark, sf_dir).select(
        F.lit("seg").alias("kind"),
        "doc_id",
        F.col("n_segments").cast("long").alias("n1"),
        F.col("n_kept").cast("long").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
        F.col("clean_text").alias("txt"),
    )
    chunk = _q_chunk_documents(spark, sf_dir).select(
        F.lit("chunk").alias("kind"),
        "doc_id",
        F.col("chunk_id").cast("long").alias("n1"),
        F.col("start").cast("long").alias("n2"),
        F.col("n_tokens").cast("long").alias("n3"),
        F.col("chunk_text").alias("txt"),
    )
    # r15: scan-parallelism floors on this branch and sdocs were TRIED
    # and REVERTED (see the segment_dedup feeder note above — the extra
    # exchanges cost more than the single-task maps they spread).
    mdocs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HDR: subscribe to our newsletter\n"),
            F.col("text"),
            F.lit("\nSRC: "),
            F.col("source"),
        ).alias("text"),
    )
    boiler = dedup.remove_boilerplate_lines(mdocs, min_docs=10).select(
        F.lit("boiler").alias("kind"),
        "doc_id",
        F.col("n_lines").alias("n1"),
        F.col("n_kept").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
        F.col("clean_text").alias("txt"),
    )
    sdocs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(" the quick brown fox jumps over the lazy dog today"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    # ONE corpus-wide gram pass feeds both branches: the duplicated-gram
    # position frame is output-bound small, so a checkpoint of IT (not
    # just the merged spans) lets detection AND the gram-level keep-first
    # election share the expensive pass. r16b: materialize=True also
    # shares the RAW gram frame between the dup-key build and the probe
    # side inside the operator, so tokenize+md5 runs once per execution
    # (A/B: spans pipeline 1.67 s → 1.45 s median).
    grams_df = dedup.dup_gram_positions(
        sdocs, k=5, min_docs=2, materialize=True
    ).localCheckpoint(eager=True)
    spans_df = dedup.duplicate_spans(sdocs, k=5, min_docs=2, gram_positions=grams_df)
    span = spans_df.select(
        F.lit("span").alias("kind"),
        F.col("id").alias("doc_id"),
        F.col("start").alias("n1"),
        F.col("end").alias("n2"),
        F.col("n_tokens").alias("n3"),
        F.col("span_text").alias("txt"),
    )
    rmspan = dedup.remove_duplicate_spans(
        sdocs, k=5, min_docs=2, gram_positions=grams_df
    ).select(
        F.lit("rmspan").alias("kind"),
        F.col("id").alias("doc_id"),
        F.col("n_tokens").alias("n1"),
        F.col("n_removed").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
        F.col("clean_text").alias("txt"),
    )
    # 'html' branch: wrap each doc in a deterministic HTML template with
    # script/style/comment traps (their contents must NOT leak into the
    # text), extract with html_to_text, and let the oracle replay both
    # construction and extraction — over/under-stripping fails the hash
    hdocs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 1).select(
        "doc_id",
        F.concat(
            F.lit('<html><head><title>D</title><style>p{color:#000}</style>'
                  '<script>var t="<p>trap</p>";</script></head>'
                  '<body><!-- menu<b>x</b> --><div>Home &gt; Docs</div><p>'),
            F.col("text"),
            F.lit('</p><footer>&amp;copy 2024</footer></body></html>'),
        ).alias("html"),
    )
    html = hdocs.select(
        F.lit("html").alias("kind"),
        "doc_id",
        F.length("html").cast("long").alias("n1"),
        F.length(textstats.html_to_text(F.col("html"))).cast("long").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
        textstats.html_to_text(F.col("html")).alias("txt"),
    )
    return (
        seg.unionByName(chunk)
        .unionByName(boiler)
        .unionByName(span)
        .unionByName(rmspan)
        .unionByName(html)
    )


def _q_retrieval_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval pair folded: BM25 top-25 ('bm25' rows: score=bm25,
    n1=n_query_terms) and hybrid RRF fusion top-10 ('rrf' rows:
    score=rrf, n1=lex_rank, n2=vec_rank).

    Round-7 de-fold: both branches SHARE one BM25 scoring pass — the
    fusion's lexical pool is the top-20 slice of the same top-25 frame
    (``lex_pool=``), so the rrf branch uses _BM25_QUERY_TERMS (oracle
    mirrors). The shared 25-row pool is persisted: without it Catalyst
    prunes each union branch to a DIFFERENT column set (branch 1 keeps
    n_query_terms, branch 2 only needs bm25 for ranks), the pruned
    subtrees stop being canonical-equal, exchange reuse dies, and the
    corpus scan+aggregation runs twice — two narrow scans instead of
    one shared wide one, exactly backwards at 100 TB. Materializing
    the k-row retriever pool is the production shape."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # localCheckpoint (not persist): an unpersisted cache entry would
    # leak a 25-row frame + lineage into the session per invocation;
    # the eager checkpoint pins the shared pool for both branches and
    # is released with the RDD, leaving no session-wide cache residue
    # pin the shared pool as a LocalRelation: the pool is ≤25 rows by
    # construction, so a bounded collect + createDataFrame gives both
    # union branches a free local frame — no session cache entry to
    # leak (the r7 persist bug), no checkpoint blocks to store, and
    # the corpus scan+aggregation runs exactly once
    bm_lazy = retrieval.bm25_topk(docs, _BM25_QUERY_TERMS, _BM25_K)
    from animaltrackingetls_spark.io import local_df_single_partition

    bm_full = local_df_single_partition(
        spark, bm_lazy.collect(), bm_lazy.schema
    )
    bm = bm_full.select(
        F.lit("bm25").alias("kind"),
        "doc_id",
        F.col("bm25").alias("score"),
        F.col("n_query_terms").cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
    )
    rrf = retrieval.rrf_fusion(
        docs, emb, _BM25_QUERY_TERMS, query_vec_id=0, k=10, pool=20,
        lex_pool=bm_full,
    ).select(
        F.lit("rrf").alias("kind"),
        "doc_id",
        F.col("rrf").alias("score"),
        F.col("lex_rank").cast("long").alias("n1"),
        F.col("vec_rank").cast("long").alias("n2"),
    )
    return bm.unionByName(rrf)


def _q_catalog_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Introspection pair folded: the catalog/count audit ('catalog'
    rows: key=table, item=column or count(*)) and the one-pass column
    profile of orders unpivoted to ('profile', column, metric) rows —
    numeric metrics in n, min/max rendered to s."""
    cat = _q_catalog_audit(spark, sf_dir).select(
        F.lit("catalog").alias("kind"),
        F.col("table_name").alias("key"),
        "item",
        F.col("n").cast("long").alias("n"),
        F.lit(None).cast("string").alias("s"),
    )
    prof = _q_profile_orders(spark, sf_dir).selectExpr(
        "col_name",
        "stack(5,"
        " 'n_rows', n_rows, CAST(NULL AS STRING),"
        " 'n_null', n_null, CAST(NULL AS STRING),"
        " 'n_distinct', n_distinct, CAST(NULL AS STRING),"
        " 'min', CAST(NULL AS BIGINT), min_value,"
        " 'max', CAST(NULL AS BIGINT), max_value) AS (item, n, s)",
    ).select(
        F.lit("profile").alias("kind"),
        F.col("col_name").alias("key"),
        "item",
        F.col("n").cast("long").alias("n"),
        "s",
    )
    # mergeable fixed-bin histogram rollup ('hist' rows: one row per
    # (event_type, bin), dense — zero bins emitted, closed outer edges)
    from animaltrackingetls_spark.operators import aggregates as _agg

    ev = _t(spark, sf_dir, "events")
    hist = _agg.histogram_rollup(
        ev, ["event_type"], "value", lo=0.0, hi=500.0, n_bins=16
    ).select(
        F.lit("hist").alias("kind"),
        F.col("event_type").alias("key"),
        F.posexplode("bins").alias("pos", "c"),
    ).select(
        "kind",
        "key",
        F.col("pos").cast("string").alias("item"),
        F.col("c").alias("n"),
        F.lit(None).cast("string").alias("s"),
    )
    # 'pgm' rows: the sighting-density heatmap rendered to REAL P5 image
    # bytes (geo.grid_heatmap → multimodal.render_pgm), then parsed BACK
    # from the raw bytes (multimodal.pgm_parse) — the reference's
    # overlay-on-basemap analog (openweatherbasicmap.py:36-83), with the
    # oracle recomputing every field from the grid formula, so a
    # malformed header or wrong raster byte fails the hash
    from animaltrackingetls_spark.operators import geo as _geo

    pgm_grid = _geo.grid_heatmap(
        _points(spark, sf_dir), "decimalLatitude", "decimalLongitude",
        width=64, height=32, lat_min=0.0, lat_max=90.0,
        lon_min=-90.0, lon_max=90.0,
    )
    pgm = (
        multimodal.render_pgm(pgm_grid, 64, 32)
        .select(multimodal.pgm_parse(F.col("payload")).alias("p"), "n_bytes")
        .selectExpr(
            "stack(5,"
            " 'width', CAST(p.width AS BIGINT),"
            " 'height', CAST(p.height AS BIGINT),"
            " 'maxval', CAST(p.maxval AS BIGINT),"
            " 'raster_sum', p.raster_sum,"
            " 'n_bytes', n_bytes) AS (item, n)",
        )
        .select(
            F.lit("pgm").alias("kind"),
            F.lit("heatmap").alias("key"),
            "item",
            "n",
            F.lit(None).cast("string").alias("s"),
        )
    )
    return cat.unionByName(prof).unionByName(hist).unionByName(pgm)


def _q_bloom_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-bitmap incremental ingest classification: corpus =
    documents with doc_id%3==0, batch = the rest; every batch doc is
    tagged 'new' or 'dup' by content digest. The broadcast bitmap
    prefilter keeps the corpus join candidate-only; the result is exact
    (bloom has no false negatives, false positives die in the confirm
    join), so a plain anti/semi-join SQL is the oracle."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    out = dedup.bloom_new_docs(batch, corpus)
    return out.select(F.col("id").alias("doc_id"), "status")


def _q_hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-user rollup: per-day sketches, then weekly
    estimates derived by UNIONING the daily sketches (never rescanning
    events) — the incremental-analytics pattern for 100 TB fact tables.
    Rows-only: DataSketches estimates aren't DuckDB-reproducible (and
    the HIP estimator is merge-order-sensitive); accuracy and the
    merge-is-lossless identity are pinned in test_aggregates.py."""
    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = aggregates.hll_rollup(ev, ["day"], "user_id")
    # week key = the week's START DATE, not weekofyear alone: ISO week
    # numbers repeat every year (Dec 30 is week 1 of the NEXT ISO year),
    # so a bare week number would union sketches across year boundaries
    weekly = aggregates.hll_union(
        daily.withColumn("week", F.date_trunc("week", "day").cast("date")), ["week"]
    )
    d = daily.select(
        F.lit("day").alias("grain"),
        F.col("day").cast("string").alias("key"),
        "n_distinct_est",
    )
    w = weekly.select(
        F.lit("week").alias("grain"),
        F.col("week").cast("string").alias("key"),
        "n_distinct_est",
    )
    return d.unionByName(w)


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup, HASH-CHECKED since round 8: the
    keep rule (drop any vector with a smaller-id within-cell neighbor
    at cosine >= threshold) is a plain EXISTS, so the only non-SQL
    piece was the k-means blocking — replaced here by a portable
    sign-bit cell id over the first three embedding coordinates (8
    cells), which DuckDB recomputes exactly; cosine is rounded to 6
    digits on both sides so fold order can't flip a borderline pair.
    The k-means blocking (the production shape for semantic locality)
    stays pinned by test_dedup.py's brute-force parity test."""
    # r15 (guide §2.5): the within-cell cosine EXISTS work hung off the
    # single-row-group embeddings scan — floor to the core count (no-op
    # on multi-split data): 2.70 → 1.26 s median at sf0.1. Exact cosine
    # per pair, partitioning-independent.
    emb = layout.ensure_scan_parallelism(_t(spark, sf_dir, "embeddings"))
    e = F.col("embedding")
    cell = (
        (e[0] > 0).cast("int") * 4
        + (e[1] > 0).cast("int") * 2
        + (e[2] > 0).cast("int")
    )
    out = dedup.semantic_dedup(
        emb, threshold=0.3, cell_expr=cell, round_digits=6
    )
    return out.select("vec_id", "cell", "keep")


# ---------------------------------------------------------------------------
# Round-9 folds: the repo carried 54 oracle-backed queries but the
# driver's correctness window verifies the first 50 queries() entries,
# leaving the four round-8 promotions (semantic_dedup, pack_bestfit,
# running_user_totals, multimodal_features) visible only to manual
# check_oracles.py runs. Four same-shape query PAIRS are folded into
# tagged unions so every oracle-backed operator fits the window with
# zero coverage loss:
#   geocode_broadcast + enrich_batched  -> enrichment_panel
#   winnow_portable + simhash_portable  -> portable_fingerprints
#   batch_sessions + sessionized_stream -> sessions_panel
#   pack_bestfit                        -> pack_documents ('bfd' rows)
# The original single-query functions remain as the implementations
# the folds call (and as plan-audit probes); pack_documents calls
# pack_documents_bestfit directly.
# ---------------------------------------------------------------------------


def _q_enrichment_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + J2 folded: the broadcast geocode dimension join and the
    Arrow-batched service enrichment produce the same
    (event_id, county, cityOrTown) shape over the same points frame —
    tagged by mode so both paths stay independently hash-checked."""
    b = _q_geocode_broadcast(spark, sf_dir).select(
        F.lit("broadcast").alias("mode"), "*"
    )
    a = _q_enrich_batched(spark, sf_dir).select(
        F.lit("batched").alias("mode"), "*"
    )
    return b.unionByName(a)


def _q_portable_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing + SimHash md5-portable fingerprints folded: both emit
    (doc_id, 60-bit BIGINT) rows over the doc_id%5 oracle subset (the
    subset bounds DUCKDB's per-gram md5 cost, not Spark's). The xx64
    fast paths stay registered rows-only as winnow_fingerprints /
    simhash_docs."""
    w = _q_winnow_portable(spark, sf_dir).select(
        F.lit("winnow").alias("mode"), "doc_id", "fp"
    )
    s = _q_simhash_portable(spark, sf_dir).select(
        F.lit("simhash").alias("mode"), "doc_id", F.col("simhash").alias("fp")
    )
    return w.unionByName(s)


def _q_sessions_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch and Structured-Streaming sessionization folded: the same
    30-minute-gap semantics computed by the window/lag batch plan
    ('batch' rows, with per-session value sums) and by
    session_window + AvailableNow drain ('stream' rows, session_end =
    last event + gap per session_window's definition). One oracle now
    pins BOTH engines' session algebra against each other."""
    b = _q_batch_sessions(spark, sf_dir).select(
        F.lit("batch").alias("mode"),
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
        "sum_value",
    )
    s = _q_sessionized_stream(spark, sf_dir).select(
        F.lit("stream").alias("mode"),
        "user_id",
        F.lit(None).cast("long").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
        F.lit(None).cast("double").alias("sum_value"),
    )
    return b.unionByName(s)


# ---------------------------------------------------------------------------
# Round-10 folds: the round-9 flagship operators (zorder_curve,
# bucketed_join, corpus_diff, scd2_history, quantile_profile) were
# oracle-backed but sat PAST the 50-entry driver window, so they never
# produced a driver-green row. Folding frees five window slots with
# zero operator-coverage loss:
#   q1_pricing_summary + q3_shipping_priority
#     + q4_order_priority + q7_nation_volume  -> tpch_panel
#   window_latest_event + large_orders        -> window_topn
#   scalar_metrics                            -> validate_orders rows
# The original single-query functions remain as the implementations
# the folds call (and as plan-audit probes).
# ---------------------------------------------------------------------------


def _q_tpch_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H quartet + membership algebra folded into one (panel, k1,
    k2, metric, value) report: Q1 pricing summary (8 metrics stacked
    per returnflag × linestatus group), Q3 top-10 shipping priority,
    Q4 order-priority EXISTS counts, Q7 supplier/customer nation
    volume, and (round 11, to free a window slot) the 'setops' panel
    = the former semi_anti_join quartet (left-semi / left-anti /
    INTERSECT / EXCEPT over customer keys, k1 = side).
    Each branch is the unchanged single-query plan — the fold is a
    tagged union of projections, so Q3 keeps its TakeOrderedAndProject
    and Q4 its left-semi inside their branches. Counts and keys ride
    the value column as exact doubles (< 2^53)."""
    q1 = _q_q1_pricing_summary(spark, sf_dir).selectExpr(
        "'q1' AS panel",
        "l_returnflag AS k1",
        "l_linestatus AS k2",
        "stack(8, 'sum_qty', sum_qty, 'sum_base_price', sum_base_price,"
        " 'sum_disc_price', sum_disc_price, 'sum_charge', sum_charge,"
        " 'avg_qty', avg_qty, 'avg_price', avg_price, 'avg_disc', avg_disc,"
        " 'count_order', CAST(count_order AS DOUBLE)) AS (metric, value)",
    )
    q3 = _q_q3_shipping_priority(spark, sf_dir).select(
        F.lit("q3").alias("panel"),
        F.col("o_orderkey").cast("string").alias("k1"),
        F.concat_ws(
            "|",
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.col("o_orderpriority"),
        ).alias("k2"),
        F.lit("revenue").alias("metric"),
        F.col("revenue").cast("double").alias("value"),
    )
    q4 = _q_q4_order_priority(spark, sf_dir).select(
        F.lit("q4").alias("panel"),
        F.col("o_orderpriority").alias("k1"),
        F.lit("").alias("k2"),
        F.lit("order_count").alias("metric"),
        F.col("order_count").cast("double").alias("value"),
    )
    q7 = _q_q7_nation_volume(spark, sf_dir).select(
        F.lit("q7").alias("panel"),
        F.col("supp_nation").alias("k1"),
        F.concat_ws(
            "|", F.col("cust_nation"), F.col("l_year").cast("string")
        ).alias("k2"),
        F.lit("volume").alias("metric"),
        F.col("volume").cast("double").alias("value"),
    )
    setops = _q_semi_anti_join(spark, sf_dir).select(
        F.lit("setops").alias("panel"),
        F.col("side").alias("k1"),
        F.lit("").alias("k2"),
        F.lit("c_custkey").alias("metric"),
        F.col("c_custkey").cast("double").alias("value"),
    )
    return (
        q1.unionByName(q3).unionByName(q4).unionByName(q7)
        .unionByName(setops)
    )


def _q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window + ranking pair folded: the dual-family event window
    ('latest' rows — ranking window + ROWS-frame trailing average on
    one shuffle) and the order-ranking pair ('topk' rows = deterministic
    top-20 TakeOrderedAndProject, 'q18' rows = TPC-H Q18 HAVING-subquery
    large orders with customer detail)."""
    latest = _q_window_latest_event(spark, sf_dir).select(
        F.lit("latest").alias("kind"),
        F.col("user_id").cast("long").alias("id1"),
        F.col("event_id").cast("long").alias("id2"),
        F.col("event_type").alias("label"),
        "ts",
        F.col("avg_last3").cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    topk = _q_topk_orders(spark, sf_dir).select(
        F.lit("topk").alias("kind"),
        F.col("o_orderkey").cast("long").alias("id1"),
        F.lit(None).cast("long").alias("id2"),
        F.lit(None).cast("string").alias("label"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("o_totalprice").cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    q18 = _q_q18_large_orders(spark, sf_dir).select(
        F.lit("q18").alias("kind"),
        F.col("o_orderkey").cast("long").alias("id1"),
        F.col("c_custkey").cast("long").alias("id2"),
        F.col("c_name").alias("label"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("o_totalprice").cast("double").alias("v1"),
        F.col("total_qty").cast("double").alias("v2"),
    )
    return latest.unionByName(topk).unionByName(q18)


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q_flagship_day_scan(spark, SF_SMOKE)


def _q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer end-to-end: one distributed word-count pass trains
    merges driver-side (deterministic: frequency then lexicographic
    tie-break), then an Arrow-batched UDF segments every document.
    Rows-only by nature — the trainer's merge loop is a driver
    iteration no SQL engine replays — pinned instead by
    test_textstats.py's reference-trainer equality and reconstruction
    property. Returns per-doc subword stats plus the first subwords
    (deterministic)."""
    docs = _t(spark, sf_dir, "documents")
    merges = textstats.bpe_train(docs, num_merges=64)
    apply_udf = textstats.make_bpe_apply_udf(merges)
    subs = docs.select("doc_id", apply_udf(F.col("text")).alias("subs"))
    return subs.select(
        "doc_id",
        F.size("subs").cast("long").alias("n_subwords"),
        F.size(F.array_distinct("subs")).cast("long").alias("n_distinct"),
        F.concat_ws(" ", F.slice("subs", 1, 8)).alias("head_subwords"),
    )


# The driver's correctness gate compares the leading DRIVER_WINDOW
# entries of queries() against oracle_sql(), HARD-CAPPED at 50: round
# 8's tree registered a 54-entry contiguous oracle-backed prefix and
# CORRECTNESS_r08 recorded exactly the first 50. The first
# DRIVER_WINDOW entries below are all oracle-backed so no slot is
# wasted. Exactly 50 queries are oracle-backed and the window holds
# all of them. tests/test_entry_oracles.py also hash-compares
# semi_anti_join, quota_shuffle and proximity_pairs every suite run
# (SUITE_COMPARED in that test file; same compare, sf0.001).
DRIVER_WINDOW = 50


def _q_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over the derived event
    coordinates (operators/layout.py:zvalue_expr): quantize each
    coordinate to 16-bit cells, interleave the bits with the shift/mask
    spread, return the top-200 events along the curve. Pure JVM
    shift/and/or arithmetic — the oracle replays it bit-for-bit in
    DuckDB with `<< | &`. At 100 TB the z value is a WRITE-TIME sort
    key (layout.write_zordered): range-sorting by it tightens parquet
    row-group min/max stats in BOTH coordinates at once, so box
    predicates prune row-groups the scan never reads (measured in
    SCALING.md round 9). HASH-CHECKED: in the driver's
    correctness window since round 10."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.filter(F.col("value").isNotNull()).select(
        "event_id",
        (F.col("value") % 90).alias("x"),
        ((F.col("value") * 2) % 180 - 90).alias("y"),
    )
    z = layout.zvalue_expr(
        F.col("x"), F.col("y"), (0.0, 90.0), (-90.0, 90.0), bits=16
    )
    return (
        pts.select("event_id", z.alias("zval"))
        .orderBy(F.col("zval").desc(), F.col("event_id"))
        .limit(200)
    )


def _q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout co-located join (operators/layout.py): customer
    and orders are written ``bucketBy(8, c_custkey)`` ONCE (one file per
    bucket — the write repartitions to the bucket hash first), then the
    join AND the per-customer aggregate plan with ZERO Exchange —
    asserted on the live plan inside the query, so every correctness
    run re-certifies the shuffle-free property, not just a unit test.
    Only the final ≤customer-cardinality segment rollup shuffles. At
    100 TB this is the amortization lever: one write-time shuffle buys
    every later join/agg on the key. Layout never changes values — the
    oracle is the plain SQL join. HASH-CHECKED: in the driver's
    correctness window since round 10.

    The bucketed layout is written ONCE per invocation (r15: the
    key folds in the applicationId — see _invocation_cache_key — so
    nothing persists across bench/oracle runs; within an invocation
    repeat reads are write-free, which is all the kept bench runs see).
    Table names are key-suffixed so sessions sharing a metastore cannot
    collide; re-registration uses CLUSTERED BY DDL instead of
    rewriting files (bucket metadata lives in the catalog, not the
    parquet footers)."""
    import os
    import tempfile

    cust_file = os.path.join(sf_dir, "customer.parquet")
    ord_file = os.path.join(sf_dir, "orders.parquet")
    key = _invocation_cache_key(spark, "bj2", cust_file, ord_file)
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_bucketed_{key}")
    t_cust, t_ord = f"bj_customer_{key}", f"bj_orders_{key}"
    done = os.path.join(base, "done")
    if not os.path.exists(done):
        cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        orders = (
            _t(spark, sf_dir, "orders")
            .select(F.col("o_custkey").alias("c_custkey"), "o_totalprice")
        )
        layout.write_bucketed(cust, t_cust, f"{base}/customer", "c_custkey", 8)
        layout.write_bucketed(orders, t_ord, f"{base}/orders", "c_custkey", 8)
        with open(done, "w") as f:
            f.write(key)
    elif not spark.catalog.tableExists(t_cust) or not spark.catalog.tableExists(
        t_ord
    ):
        # files survive from an earlier session but the (in-memory)
        # catalog doesn't: register the existing layout without
        # rewriting a byte
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {t_cust} "
            "(c_custkey BIGINT, c_mktsegment STRING) USING parquet "
            "CLUSTERED BY (c_custkey) SORTED BY (c_custkey) INTO 8 BUCKETS "
            f"LOCATION '{base}/customer'"
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {t_ord} "
            "(c_custkey BIGINT, o_totalprice DOUBLE) USING parquet "
            "CLUSTERED BY (c_custkey) SORTED BY (c_custkey) INTO 8 BUCKETS "
            f"LOCATION '{base}/orders'"
        )
    per_cust = (
        spark.table(t_cust)
        .join(spark.table(t_ord), "c_custkey")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("rev"))
    )
    # Certify the claim on the real plan: with broadcast disabled (the
    # small side would otherwise BHJ and hide the property), the
    # co-bucketed SMJ and the per-customer agg need no Exchange.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        layout.assert_exchange_free(per_cust, require="SortMergeJoin")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return per_cust.groupBy("c_mktsegment").agg(
        F.sum("n").alias("n_orders"),
        F.count("*").alias("n_customers"),
        F.round(F.sum("rev"), 2).alias("revenue"),
    )


def _q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (operators/versioning.py:corpus_diff) — the
    "what changed since the last crawl" report a recurring corpus
    build starts from (the reference re-ingests full extracts and
    reconciles by count, monarch_etl/inventory.py:28-66; this is the
    systematic keyed form). Two snapshots are derived deterministically
    from documents (old drops doc_id%17==3, new drops %13==5 and
    appends ' v2' to text where %11==2), then diffed on doc_id over
    (text, lang, source): added/removed/changed rows with portable md5
    digests. Scale shape: digests are computed IN the scan projection,
    so the one full-outer shuffle carries (key, 32-byte digest) pairs,
    never document payloads; output is churn-sized, not corpus-sized.
    HASH-CHECKED: in the driver's correctness window since round 10."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 3)
    new = docs.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 2, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return versioning.corpus_diff(
        old, new, ["doc_id"], ["text", "lang", "source"]
    ).orderBy("doc_id")


def _q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval build (operators/versioning.py:scd2_from_history):
    collapse the append-only event history into one row per (user,
    consecutive event_type state) with [valid_from, valid_to) validity
    and an is_current flag — the versioned-dimension table that
    answers "what was this key's state as of ts" (versioning.as_of).
    Plan: ONE exchange total — the key-window shuffle is reused by the
    (key, version) aggregate and the valid_to lead (asserted in
    tests/test_versioning.py). At 100 TB: shuffle is corpus-sized but
    single; output is change-sized. HASH-CHECKED: in the driver's
    correctness window since round 10."""
    ev = _t(spark, sf_dir, "events")
    return versioning.scd2_from_history(
        ev, ["user_id"], ["event_type"], "ts", tie_col="event_id"
    ).orderBy("user_id", "version")


def _q_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric distribution profile
    (operators/profile.py:profile_quantiles): exact R-7 interpolated
    quantiles for the four lineitem measures at five probabilities, as
    ONE aggregation pass (single scan, no joins — plan-asserted in
    tests/test_profile.py). Exact mode's memory is bounded by DISTINCT
    cardinality (value→count map), right for these bounded-domain
    measures at any row count; the 100 TB arm for ~unique doubles is
    ``exact=False`` (Greenwald-Khanna sketch, O(accuracy) memory,
    mergeable map-side, rank-error pinned in tests). Spark
    ``percentile`` and DuckDB ``quantile_cont`` agreed bit-for-bit on
    every measured point before rounding. HASH-CHECKED: in the driver's
    correctness window since round 10."""
    # r15: project to the 4 measures and raise scan parallelism to the
    # core floor (no-op on real multi-split data) so the partial
    # value→count maps build on every core; percentile's map is
    # reduction-order-free, so the result is bit-identical. A
    # distributed-histogram rewrite of the aggregate itself was tried
    # and REVERTED (slower: ~3.2-3.9 s vs ~2.6 s at sf0.1 — see
    # profile_quantiles docstring and OPTIMIZATION_r15.md).
    li = layout.ensure_scan_parallelism(
        _t(spark, sf_dir, "lineitem").select(
            "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        )
    )
    return profile.profile_quantiles(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        (0.01, 0.25, 0.5, 0.75, 0.99),
    ).orderBy("col_name", "prob")


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): train per-subspace
    codebooks on a bounded sample (m=8 × k=64 on ≤8k rows — driver
    work independent of corpus size), encode the corpus to 8-byte
    codes (one Arrow pass, no shuffle; 64x smaller than the float64
    vectors), then serve one query BOTH ways: 'adc' = pure
    lookup-table ranking over the codes, 'rerank' = ADC shortlist →
    exact L2 on the ≤50 candidates only, fetched via the pushdown
    IN-list (the production shape — recall measured and pinned in
    tests/test_pq.py: shortlist coverage ≥0.85 even at nbits=4 on
    PQ's worst case). Rows-only by
    nature (k-means codebooks aren't SQL-replayable), same class as
    ivf_topk/lsh_topk."""
    import json
    import os
    import tempfile

    from animaltrackingetls_spark.operators import pq as pqm

    emb = _t(spark, sf_dir, "embeddings")
    # train + encode ONCE per invocation (key folds in the
    # applicationId — nothing persists across runs) — the pq serving
    # shape is encode-once/search-many, same as _q_ivf_serve; the
    # serving table carries (vec_id, embedding, pq_code) so the ADC
    # branch column-prunes to (vec_id, pq_code) and only the rerank's
    # pushdown-fetched candidates ever read the float column
    emb_file = os.path.join(sf_dir, "embeddings.parquet")
    key = _invocation_cache_key(spark, "pq1", emb_file)
    cache = os.path.join(tempfile.gettempdir(), f"spark_graft_pq_{key}")
    books_file = os.path.join(cache, "books.json")
    codes_dir = os.path.join(cache, "codes")
    if not os.path.exists(books_file):
        books = pqm.pq_train(
            emb, dim=64, m=8, nbits=6, seed=42, max_train_rows=8192
        )
        pqm.pq_encode(emb, books).write.mode("overwrite").parquet(codes_dir)
        os.makedirs(cache, exist_ok=True)
        tmp = books_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"m": books.m, "k": books.k, "dim": books.dim,
                 "metric": books.metric, "books": books.books},
                f,
            )
        os.replace(tmp, books_file)
    with open(books_file) as f:
        spec = json.load(f)
    books = pqm.PQCodebooks(
        m=spec["m"], k=spec["k"], dim=spec["dim"],
        metric=spec["metric"], books=spec["books"],
    )
    enc = spark.read.parquet(codes_dir)
    q_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]
    ]
    adc = pqm.pq_topk(enc, books, q_vec, k=10).select(
        F.lit("adc").alias("mode"),
        "vec_id",
        F.round(F.col("pq_score"), 6).alias("score"),
    )
    rr = pqm.pq_topk_rerank(enc, books, q_vec, k=10, oversample=5).select(
        F.lit("rerank").alias("mode"),
        "vec_id",
        F.round(F.col("exact_score"), 6).alias("score"),
    )
    return adc.unionByName(rr)


def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN serving (operators/ivfpq.py): coarse
    k-means cells × PQ codes of the cell RESIDUALS, persisted
    partitionBy(cell) with NO float column — build once per corpus
    file (cached like _q_pq_topk/_q_ivf_serve, so the measured run is
    search-only), then one query probes its 3 nearest cells: the scan
    lists only those cell directories (PartitionFilters) and reads
    8-byte codes, per-cell ADC lookup tables are built driver-side
    from the query's cell-relative residuals, and the only shuffle is
    the final top-k. Residual encoding recall dominance over raw
    vectors is measured and pinned in tests/test_ivfpq.py (0.61 vs
    0.41 at nbits=4). Rows-only by nature (two k-means fits aren't
    SQL-replayable), same class as ivf_topk/pq_topk."""
    import os
    import tempfile

    from animaltrackingetls_spark.operators import ivfpq

    emb = _t(spark, sf_dir, "embeddings")
    emb_file = os.path.join(sf_dir, "embeddings.parquet")
    key = _invocation_cache_key(spark, "ivfpq1", emb_file)
    cache = os.path.join(tempfile.gettempdir(), f"spark_graft_ivfpq_{key}")
    if not os.path.exists(os.path.join(cache, "meta.json")):
        ivfpq.ivfpq_build(
            emb, cache, dim=64, n_cells=8, m=8, nbits=8, seed=42,
            max_train_rows=8192,
        )
    q_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]
    ]
    return ivfpq.ivfpq_search(spark, cache, q_vec, k=10, n_probe=3).select(
        "vec_id", F.round(F.col("pq_score"), 6).alias("score")
    )


def _q_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVFADC serving shape (r10): the residual-ADC shortlist over
    the cached partition-pruned code index, exact-L2 reranked via the
    pushdown IN-list fetch of ONLY the shortlist's float rows
    (operators/ivfpq.py:ivfpq_search_rerank). Rows-only like its ADC
    sibling (two k-means fits); the rerank arithmetic itself is
    codegen zip_with/aggregate, recall dominance pinned in
    tests/test_ivfpq.py."""
    import os
    import tempfile

    from animaltrackingetls_spark.operators import ivfpq

    emb = _t(spark, sf_dir, "embeddings")
    emb_file = os.path.join(sf_dir, "embeddings.parquet")
    key = _invocation_cache_key(spark, "ivfpq1", emb_file)
    cache = os.path.join(tempfile.gettempdir(), f"spark_graft_ivfpq_{key}")
    if not os.path.exists(os.path.join(cache, "meta.json")):
        ivfpq.ivfpq_build(
            emb, cache, dim=64, n_cells=8, m=8, nbits=8, seed=42,
            max_train_rows=8192,
        )
    q_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]
    ]
    return ivfpq.ivfpq_search_rerank(
        spark, cache, emb, q_vec, k=10, n_probe=3, oversample=5
    ).select("vec_id", F.round(F.col("exact_score"), 6).alias("score"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver verifies the oracle-backed prefix
    # against oracle_sql() — EXACTLY 50 entries since round 9, sized to
    # the driver's 50-entry correctness window, so every oracle-backed
    # operator is continuously machine-verified (round 8 carried 54 and
    # the last four rested on manual check_oracles.py runs). The fit
    # comes from folding same-shape queries into tagged unions (zero
    # operator-coverage loss; see the fold blocks above `entry()`):
    # round 9 made enrichment_panel (= geocode_broadcast +
    # enrich_batched), portable_fingerprints (= winnow_portable +
    # simhash_portable), sessions_panel (= batch_sessions +
    # sessionized_stream), pack_documents ('bfd' rows = pack_bestfit);
    # round 10 made tpch_panel (= q1 + q3 + q4 + q7), window_topn
    # (= window_latest_event + large_orders) and moved scalar_metrics
    # into validate_orders — freeing the five slots the round-9
    # flagship operators (zorder_curve, bucketed_join, corpus_diff,
    # scd2_history, quantile_profile) now occupy, so every oracle-backed
    # operator gets a driver-produced green row; round 11 folded
    # semi_anti_join's quartet into tpch_panel ('setops' panel).
    # The 50 oracle-backed queries fill the window; rows-only
    # (hash-seeded / approximate) queries follow it.
    return {
        "flagship_day_scan": _q_flagship_day_scan,
        "temporal_rescue_derive": _q_temporal_rescue_derive,
        "clean_summary": _q_clean_summary,
        "clean_aligned_sample": _q_clean_aligned_sample,
        "serving_day_filter": _q_serving_day_filter,
        "portable_fingerprints": _q_portable_fingerprints,
        "inventory_calendar": _q_inventory_calendar,
        "validate_orders": _q_validate_orders,
        "enrichment_panel": _q_enrichment_panel,
        "semantic_dedup": _q_semantic_dedup,
        "dup_groups": _q_dup_groups,
        "text_quality": _q_text_quality,
        "retrieval_rank": _q_retrieval_rank,
        "pii_redaction": _q_pii_redaction,
        "quality_scores": _q_quality_scores,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "contamination_overlap": _q_contamination_overlap,
        "dedup_clusters": _q_dedup_clusters,
        "incremental_dedup": _q_incremental_dedup,
        "topk_cosine": _q_topk_cosine,
        "embedding_neardup": _q_embedding_neardup,
        "interval_joins": _q_interval_joins,
        "running_user_totals": _q_running_user_totals,
        "tpch_panel": _q_tpch_panel,
        "dim_revenue": _q_dim_revenue,
        "window_topn": _q_window_topn,
        "rollup_cube_orders": _q_rollup_cube_orders,
        "mask_union_counts": _q_mask_union_counts,
        "media_metadata": _q_media_metadata,
        "catalog_profile": _q_catalog_profile,
        "udaf_stats": _q_udaf_stats,
        "top_bigrams": _q_top_bigrams,
        "streaming_window_counts": _q_streaming_window_counts,
        "salted_join_check": _q_salted_join_check,
        "zorder_curve": _q_zorder_curve,
        "bucketed_join": _q_bucketed_join,
        "corpus_diff": _q_corpus_diff,
        "scd2_history": _q_scd2_history,
        "quantile_profile": _q_quantile_profile,
        "bloom_new_docs": _q_bloom_new_docs,
        "multimodal_features": _q_multimodal_features,
        "pretrain_pipeline": _q_pretrain_pipeline,
        "pack_documents": _q_pack_documents,
        "sample_audit": _q_sample_audit,
        "sessions_panel": _q_sessions_panel,
        "stream_dedup_keys": _q_stream_dedup_keys,
        "segments_chunks": _q_segments_chunks,
        "quota_shuffle": _q_quota_shuffle,
        "proximity_pairs": _q_proximity_pairs,
        # semi_anti_join's operators also run in the tpch_panel
        # 'setops' fold; this standalone form is kept so the bare
        # semi/anti/intersect/except plans remain pinned.
        "semi_anti_join": _q_semi_anti_join,
        # rows-only (hash-based / approximate / Python-batch operators)
        "winnow_fingerprints": _q_winnow_fingerprints,
        "embedding_neardup_lsh": _q_embedding_neardup_lsh,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "simhash_docs": _q_simhash_docs,
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        "ivf_serve": _q_ivf_serve,
        "approx_users_per_type": _q_approx_users_per_type,
        "hll_user_rollup": _q_hll_user_rollup,
        "bpe_tokenize": _q_bpe_tokenize,
        # rows-only: PQ codebooks are k-means products, not SQL-replayable
        # (their ADC scorers ARE hash-pinned against DuckDB on frozen
        # codebooks in test_pq.py / test_ivfpq.py)
        "pq_topk": _q_pq_topk,
        "ivfpq_topk": _q_ivfpq_topk,
        "ivfpq_rerank": _q_ivfpq_rerank,
    }


_STOPWORDS_SQL = "['" + "', '".join(textstats.EN_STOPWORDS) + "']"
_MARKERS_SQL = {
    lang: "['" + "', '".join(words) + "']"
    for lang, words in textstats.LANG_MARKERS.items()
}
_GREATEST_SQL = "greatest(s_en, s_es, s_fr, s_de)"


def _qm_weights_sql() -> str:
    from animaltrackingetls_spark.operators.quality_model import synthetic_weights_sql

    return synthetic_weights_sql()


def _qm_hex4_sql(col: str) -> str:
    from animaltrackingetls_spark.operators.quality_model import _SQL_HEX4

    return _SQL_HEX4.format(col=col)


def _profile_oracle() -> str:
    from animaltrackingetls_spark.operators.profile import profile_oracle_sql

    return profile_oracle_sql("orders", _PROFILE_COLS)


_WS_SQL = r" \t\n\x0b\f\r"


def _portable_ws(sql: str) -> str:
    """Rewrite \\s/\\S regex shorthands in oracle SQL to an explicit
    whitespace class. Java regex (Spark) counts U+000B as whitespace,
    RE2 (DuckDB) does not, so the shorthands silently diverge on text
    containing vertical tabs; the Spark side uses the explicit class
    (textstats.WS_CHARS) and the oracle must tokenize identically."""
    return (
        sql.replace(r"[^a-z0-9\s]+", rf"[^a-z0-9{_WS_SQL}]+")
        .replace(r"\S+", rf"[^{_WS_SQL}]+")
        .replace(r"\s+", rf"[{_WS_SQL}]+")
    )


def oracle_sql() -> dict[str, str]:
    oracles = {
        "flagship_day_scan": """
            SELECT event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   round(avg(value), 6) AS avg_value
            FROM events
            WHERE CAST(ts AS DATE) = DATE '2024-01-05'
            GROUP BY event_type
        """,
        "temporal_rescue_derive": f"""
            WITH raw AS (
              SELECT event_id, ts, props, {_DIRTY_DATE_SQL} AS eventDate,
                     CASE event_id % 4 WHEN 0 THEN 'None' WHEN 1 THEN 'nan'
                          WHEN 2 THEN 'NaT' ELSE event_type END AS raw_v
              FROM events
            )
            SELECT event_id,
                   CAST(year(ts) AS INT) AS year,
                   CAST(month(ts) AS INT) AS month,
                   CAST(day(ts) AS INT) AS day,
                   CAST(isodow(ts) - 1 AS INT) AS day_of_week,
                   CAST(week(ts) AS BIGINT) AS week_of_year,
                   CAST(ts AS DATE) AS date_only,
                   strftime(ts, '%H:%M:%S') AS time_only,
                   eventDate,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
                   CASE WHEN raw_v IN ('None', 'nan', 'NaT', '<NA>', '') THEN NULL
                        ELSE raw_v END AS v,
                   {_PARSED_SQL} AS eventDateParsed
            FROM raw
        """,
        "clean_summary": f"""
            WITH {_TAGGED_SQL}
            SELECT CAST(CAST(eventDateParsed AS DATE) AS VARCHAR) AS bucket,
                   count(*) AS n,
                   CAST(sum(individualCount) AS BIGINT) AS sum_count
            FROM tagged
            WHERE eventDateParsed IS NOT NULL
              AND lat IS NOT NULL AND lon IS NOT NULL
            GROUP BY 1
            UNION ALL
            SELECT 'reject:' || CASE WHEN eventDateParsed IS NULL
                                     THEN 'unparseable_eventDate'
                                     ELSE 'invalid_coordinates' END AS bucket,
                   count(*) AS n,
                   CAST(NULL AS BIGINT) AS sum_count
            FROM tagged
            WHERE eventDateParsed IS NULL OR lat IS NULL OR lon IS NULL
            GROUP BY 1
        """,
        "clean_aligned_sample": f"""
            WITH {_TAGGED_SQL}
            SELECT gbifID, eventDate, eventDateParsed,
                   CAST(year(eventDateParsed) AS INT) AS year,
                   CAST(month(eventDateParsed) AS INT) AS month,
                   CAST(day(eventDateParsed) AS INT) AS day,
                   CAST(isodow(eventDateParsed) - 1 AS INT) AS day_of_week,
                   CAST(week(eventDateParsed) AS BIGINT) AS week_of_year,
                   CAST(eventDateParsed AS DATE) AS date_only,
                   strftime(eventDateParsed, '%H:%M:%S') AS time_only,
                   lat AS decimalLatitude,
                   lon AS decimalLongitude,
                   individualCount,
                   basisOfRecord, recordedBy,
                   CAST(NULL AS VARCHAR) AS county,
                   CAST(NULL AS VARCHAR) AS cityOrTown
            FROM tagged
            WHERE eventDateParsed IS NOT NULL
              AND lat IS NOT NULL AND lon IS NOT NULL
        """,
        "serving_day_filter": """
            SELECT event_id, event_type, value
            FROM events
            WHERE year(ts) = 2024 AND month(ts) = 1 AND day(ts) = 15
        """,
        "portable_fingerprints": """
            WITH t AS (
              SELECT doc_id, lower(text) AS s FROM documents
              WHERE doc_id % 5 = 0
            ),
            g AS (
              SELECT doc_id, i,
                     ('0x' || substr(md5(substr(s, CAST(i AS INT), 8)), 1, 15))::BIGINT
                       AS kh
              FROM (SELECT doc_id, s,
                           unnest(range(1, greatest(length(s) - 7, 0) + 1)) AS i
                    FROM t)
            ),
            c AS (SELECT doc_id, count(*) AS n_g FROM g GROUP BY doc_id),
            wm AS (
              SELECT g.doc_id, g.i,
                     min(kh) OVER (PARTITION BY g.doc_id ORDER BY g.i
                                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS m,
                     c.n_g
              FROM g JOIN c USING (doc_id)
            ),
            stok AS (
              SELECT doc_id, unnest(
                       CASE WHEN len(toks) = 0
                            THEN [CAST(NULL AS VARCHAR)] ELSE toks END) AS tok
              FROM (SELECT doc_id,
                           regexp_extract_all(lower(text), '\\S+') AS toks
                    FROM documents WHERE doc_id % 5 = 0)
            ),
            sh AS (
              SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
              FROM stok
            ),
            svotes AS (
              SELECT doc_id, b.b,
                     sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM sh CROSS JOIN (SELECT unnest(range(0, 60)) AS b) b
              GROUP BY doc_id, b.b
            )
            SELECT 'winnow' AS mode, doc_id, fp FROM (
              SELECT DISTINCT doc_id, m AS fp FROM wm WHERE i <= n_g - 3
              UNION ALL
              SELECT DISTINCT g.doc_id, g.kh AS fp
              FROM g JOIN c USING (doc_id) WHERE c.n_g < 4
            )
            UNION ALL
            SELECT 'simhash' AS mode, doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                                 ELSE 0 END) AS BIGINT) AS fp
            FROM svotes GROUP BY doc_id
        """,
        "inventory_calendar": """
            WITH e AS (SELECT CAST(ts AS DATE) AS d, event_id FROM events),
            b1 AS (
              SELECT d AS available_date,
                     lower(monthname(d)) || lpad(CAST(day(d) AS VARCHAR), 2, '0')
                       || CAST(year(d) AS VARCHAR) AS table_name,
                     count(*) AS record_count,
                     'batch1' AS processed_at, 0 AS prio
              FROM e WHERE day(d) <= 10 GROUP BY d
            ),
            b2 AS (
              SELECT d AS available_date,
                     lower(monthname(d)) || lpad(CAST(day(d) AS VARCHAR), 2, '0')
                       || CAST(year(d) AS VARCHAR) AS table_name,
                     count(*) AS record_count,
                     'batch2' AS processed_at, 1 AS prio
              FROM e WHERE day(d) BETWEEN 5 AND 15 AND event_id % 2 = 0 GROUP BY d
            ),
            u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
            r AS (SELECT *, row_number() OVER (PARTITION BY available_date
                                               ORDER BY prio DESC) AS rn FROM u)
            SELECT 'inv' AS kind, available_date AS d, table_name AS name1,
                   processed_at AS name2, record_count AS n
            FROM r WHERE rn = 1
            UNION ALL
            SELECT DISTINCT 'cal' AS kind, CAST(ts AS DATE) AS d,
                   lower(monthname(ts)) || lpad(CAST(day(ts) AS VARCHAR), 2, '0')
                     || CAST(year(ts) AS VARCHAR) AS name1,
                   lower(monthname(ts)) || CAST(year(ts) AS VARCHAR) || '|' ||
                     CAST(CAST(make_date(CAST(year(ts) AS INT), 1, 1)
                          + INTERVAL ((7 - isodow(make_date(CAST(year(ts) AS INT), 1, 1))) % 7) DAY
                          AS DATE) AS VARCHAR) AS name2,
                   CAST(NULL AS BIGINT) AS n
            FROM events
            UNION ALL
            SELECT 'spine' AS kind, CAST(sp.d AS DATE) AS d,
                   CAST(NULL AS VARCHAR) AS name1, CAST(NULL AS VARCHAR) AS name2,
                   CAST(coalesce(pd.n, 0) AS BIGINT) AS n
            FROM (
              SELECT unnest(generate_series(
                       (SELECT min(CAST(ts AS DATE)) FROM events
                        WHERE event_type = 'purchase' AND value > 150),
                       (SELECT max(CAST(ts AS DATE)) FROM events
                        WHERE event_type = 'purchase' AND value > 150),
                       INTERVAL 1 DAY)) AS d
            ) sp
            LEFT JOIN (
              SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events
              WHERE event_type = 'purchase' AND value > 150 GROUP BY 1
            ) pd ON CAST(sp.d AS DATE) = pd.d
        """,
        "validate_orders": """
            WITH agg AS (
              SELECT count(*) AS n_rows,
                     sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS r1,
                     sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS r2,
                     sum(CASE WHEN NOT (o_totalprice IS NOT NULL
                                        AND o_totalprice >= 0.0
                                        AND o_totalprice <= 300000.0)
                              THEN 1 ELSE 0 END) AS r3,
                     sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'),
                                                FALSE)
                              THEN 1 ELSE 0 END) AS r4,
                     sum(CASE WHEN NOT coalesce(
                                   regexp_matches(o_orderpriority, '^[1-4]-'),
                                   FALSE)
                              THEN 1 ELSE 0 END) AS r5
              FROM orders
            ),
            uniq AS (
              SELECT CAST(coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)
                          AS BIGINT) AS n_violations,
                     CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows
              FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
            ),
            q14 AS (
              SELECT round(100.0
                       * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0.0 END)
                       / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
                       AS promo_share_pct,
                     count(*) AS n_rows
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
                AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
            ),
            q6 AS (
              SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
                     count(*) AS n_rows
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                AND l_discount BETWEEN 0.03 AND 0.07
                AND l_quantity < 25
            ),
            stage AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                     min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                     min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
              FROM events GROUP BY user_id
            ),
            fun AS (
              SELECT count(*) AS n_users,
                     sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)
                       AS n_signup,
                     sum(CASE WHEN t_signup IS NOT NULL
                               AND t_click > t_signup THEN 1 ELSE 0 END)
                       AS n_click_after_signup,
                     sum(CASE WHEN t_signup IS NOT NULL
                               AND t_click > t_signup
                               AND t_purchase > t_click THEN 1 ELSE 0 END)
                       AS n_full_funnel
              FROM stage
            )
            SELECT 'o_orderkey:not_null' AS rule, CAST(r1 AS BIGINT)
                     AS n_violations, CAST(n_rows AS BIGINT) AS n_rows,
                   CAST(NULL AS DOUBLE) AS value FROM agg
            UNION ALL SELECT 'o_custkey:not_null', CAST(r2 AS BIGINT),
                      CAST(n_rows AS BIGINT), NULL FROM agg
            UNION ALL SELECT 'o_totalprice:in_range', CAST(r3 AS BIGINT),
                      CAST(n_rows AS BIGINT), NULL FROM agg
            UNION ALL SELECT 'o_orderstatus:in_set', CAST(r4 AS BIGINT),
                      CAST(n_rows AS BIGINT), NULL FROM agg
            UNION ALL SELECT 'o_orderpriority:matches', CAST(r5 AS BIGINT),
                      CAST(n_rows AS BIGINT), NULL FROM agg
            UNION ALL SELECT 'o_orderkey:unique', n_violations, n_rows, NULL
                      FROM uniq
            UNION ALL
            SELECT 'o_totalprice:iqr_outliers',
                   CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                                  AND (o_totalprice < iqr.lo
                                       OR o_totalprice > iqr.hi)
                            THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(*) AS BIGINT), NULL
            FROM orders CROSS JOIN (
              SELECT round(q1 - 1.5 * (q3 - q1), 6) AS lo,
                     round(q3 + 1.5 * (q3 - q1), 6) AS hi
              FROM (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
                           quantile_cont(o_totalprice, 0.75) AS q3
                    FROM orders)
            ) iqr
            UNION ALL SELECT 'promo_share_pct', NULL, NULL,
                             promo_share_pct FROM q14
            UNION ALL SELECT 'promo_n_rows', NULL, NULL,
                             CAST(n_rows AS DOUBLE) FROM q14
            UNION ALL SELECT 'q6_revenue', NULL, NULL, revenue FROM q6
            UNION ALL SELECT 'q6_n_rows', NULL, NULL,
                             CAST(n_rows AS DOUBLE) FROM q6
            UNION ALL SELECT 'funnel_n_users', NULL, NULL,
                             CAST(n_users AS DOUBLE) FROM fun
            UNION ALL SELECT 'funnel_n_signup', NULL, NULL,
                             CAST(n_signup AS DOUBLE) FROM fun
            UNION ALL SELECT 'funnel_n_click_after_signup', NULL, NULL,
                             CAST(n_click_after_signup AS DOUBLE) FROM fun
            UNION ALL SELECT 'funnel_n_full_funnel', NULL, NULL,
                             CAST(n_full_funnel AS DOUBLE) FROM fun
        """,
        "enrichment_panel": f"""
            WITH {_POINTS_SQL}
            SELECT 'broadcast' AS mode, event_id,
              CASE WHEN lat IS NULL OR lon IS NULL THEN NULL
                   ELSE 'county_' || CAST(CAST(round(lat, 0) AS BIGINT) AS VARCHAR)
                        || '_' || CAST(CAST(round(lon, 0) AS BIGINT) AS VARCHAR)
              END AS county,
              CASE WHEN lat IS NULL OR lon IS NULL THEN NULL
                   ELSE 'city_' || CAST(CAST(round(lat, 0) AS BIGINT) AS VARCHAR)
                        || '_' || CAST(CAST(round(lon, 0) AS BIGINT) AS VARCHAR)
              END AS cityOrTown
            FROM p
            UNION ALL
            SELECT 'batched' AS mode, event_id,
              CASE WHEN lat IS NULL OR lon IS NULL THEN NULL
                   ELSE 'county_' || CAST(CAST(floor(lat) AS BIGINT) AS VARCHAR)
                        || '_' || CAST(CAST(floor(lon) AS BIGINT) AS VARCHAR)
              END AS county,
              CASE WHEN lat IS NULL OR lon IS NULL THEN NULL
                   ELSE 'city_' || CAST(CAST(floor(lat) AS BIGINT) AS VARCHAR)
                        || '_' || CAST(CAST(floor(lon) AS BIGINT) AS VARCHAR)
              END AS cityOrTown
            FROM p
        """,
        "dup_groups": f"""
            WITH {_DOCS_WITH_DUPS_SQL}
            SELECT 'digest' AS mode,
                   md5(text) AS key,
                   min(doc_id) AS canonical_id,
                   count(*) AS n_copies
            FROM d GROUP BY md5(text) HAVING count(*) > 1
            UNION ALL
            SELECT 'all_columns' AS mode,
                   md5(concat_ws(chr(31), text, lang, source,
                                 CAST(n_chars AS VARCHAR))) AS key,
                   CAST(-1 AS BIGINT) AS canonical_id,
                   count(*) AS n_copies
            FROM d
            GROUP BY text, lang, source, n_chars
            HAVING count(*) > 1
            UNION ALL
            SELECT 'kept' AS mode,
                   md5(text) AS key,
                   min(doc_id) AS canonical_id,
                   CAST(NULL AS BIGINT) AS n_copies
            FROM d GROUP BY md5(text)
        """,
        "text_quality": f"""
            WITH t AS (
              SELECT doc_id, text,
                     regexp_extract_all(lower(text), '\\S+') AS toks,
                     trim(regexp_replace(
                       regexp_replace(text,
                         '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]', '', 'g'),
                       '\\s+', ' ', 'g')) AS norm
              FROM documents
            ),
            q AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
                     CAST(length(text) AS BIGINT) AS n_chars_m,
                     round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                           / greatest(length(text), 1), 6) AS alpha_ratio,
                     round(CAST(len(list_filter(toks,
                             tk -> list_contains({_STOPWORDS_SQL}, tk))) AS DOUBLE)
                           / greatest(len(toks), 1), 6) AS stopword_ratio,
                     CAST(len(regexp_extract_all(lower(text),
                          '[a-z]+|[0-9]+|[^a-z0-9\\s]+')) AS INT) AS n_bpeish,
                     md5(text) AS md5_fp,
                     length(norm) AS n_chars_norm,
                     md5(norm) AS md5_norm,
                     md5(nfc_normalize(text)) AS md5_nfc
              FROM t
            ),
            w AS (SELECT doc_id, unnest(toks) AS w FROM t),
            wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
            ws AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                     CAST(count(*) AS BIGINT) AS n_distinct_words,
                     CAST(max(c) AS BIGINT) AS top_word_n
              FROM wc GROUP BY doc_id
            ),
            bi AS (
              SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks), 1))) AS i
              FROM t
            ),
            bg AS (
              SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
              FROM bi WHERE i + 1 <= len(toks)
            ),
            gc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
            gs AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                     CAST(max(c) AS BIGINT) AS top_bigram_n
              FROM gc GROUP BY doc_id
            )
            SELECT q.doc_id, q.n_tokens, q.n_chars_m, q.alpha_ratio,
                   q.stopword_ratio, q.n_bpeish, q.md5_fp, q.n_chars_norm,
                   q.md5_norm, q.md5_nfc,
                   COALESCE(ws.n_words, 0) AS n_words,
                   COALESCE(ws.n_distinct_words, 0) AS n_distinct_words,
                   round(1.0 - CAST(COALESCE(ws.n_distinct_words, 0) AS DOUBLE)
                         / greatest(COALESCE(ws.n_words, 0), 1), 6) AS dup_word_frac,
                   round(CAST(COALESCE(ws.top_word_n, 0) AS DOUBLE)
                         / greatest(COALESCE(ws.n_words, 0), 1), 6) AS top_word_frac,
                   round(CAST(COALESCE(gs.top_bigram_n, 0) AS DOUBLE)
                         / greatest(COALESCE(gs.n_bigrams, 0), 1), 6) AS top_bigram_frac
            FROM q
            LEFT JOIN ws ON q.doc_id = ws.doc_id
            LEFT JOIN gs ON q.doc_id = gs.doc_id
        """,
        "retrieval_rank": f"""
            SELECT 'bm25' AS kind, doc_id, bm25 AS score,
                   CAST(n_query_terms AS BIGINT) AS n1,
                   CAST(NULL AS BIGINT) AS n2
            FROM ({retrieval.bm25_oracle_sql(_BM25_QUERY_TERMS, _BM25_K)})
            UNION ALL
            SELECT 'rrf' AS kind, doc_id, rrf AS score,
                   CAST(lex_rank AS BIGINT) AS n1,
                   CAST(vec_rank AS BIGINT) AS n2
            FROM ({retrieval.rrf_oracle_sql(_BM25_QUERY_TERMS, 0, k=10, pool=20)})
        """,
        "pii_redaction": _pii_oracle_sql(),
        "contamination_overlap": """
            WITH t AS (
              SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 4
                          THEN list_distinct(list_transform(range(1, len(toks) - 2),
                                 i -> array_to_string(toks[i:i+3], ' ')))
                          ELSE list_distinct(toks) END AS sh
              FROM t
            ),
            bench AS (
              SELECT DISTINCT unnest(sh) AS s FROM s WHERE doc_id % 50 = 0
            ),
            ex AS (
              -- empty shingle lists unnest to zero rows, which would drop
              -- the doc from the report; Spark's explode_outer keeps it,
              -- so pad with a NULL sentinel (never a bench hit)
              SELECT doc_id, len(sh) AS n_shingles,
                     unnest(CASE WHEN len(sh) = 0
                                 THEN [CAST(NULL AS VARCHAR)] ELSE sh END) AS s
              FROM s WHERE doc_id % 50 <> 0
            ),
            agg AS (
              SELECT ex.doc_id, ex.n_shingles,
                     CAST(count(bench.s) AS BIGINT) AS n_hits
              FROM ex LEFT JOIN bench ON ex.s = bench.s
              GROUP BY ex.doc_id, ex.n_shingles
            )
            SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_hits,
                   round(CAST(n_hits AS DOUBLE) / greatest(n_shingles, 1), 6)
                     AS contamination_frac,
                   n_hits > 0 AS contaminated
            FROM agg
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_DOCS_WITH_DUPS_SQL},
            t AS (
              SELECT doc_id, lang, n_chars,
                     regexp_extract_all(lower(text), '\\S+') AS toks
              FROM d
            ),
            s AS (
              SELECT doc_id, lang, n_chars,
                     CASE WHEN len(toks) >= 2
                          THEN list_distinct(list_transform(range(1, len(toks)),
                                 i -> array_to_string(toks[i:i+1], ' ')))
                          ELSE list_distinct(toks) END AS sh
              FROM t
            ),
            h AS (
              SELECT doc_id, sh,
                     list_min(list_transform(sh, x -> md5('0:' || x))) AS h0,
                     list_min(list_transform(sh, x -> md5('1:' || x))) AS h1,
                     list_min(list_transform(sh, x -> md5('2:' || x))) AS h2,
                     list_min(list_transform(sh, x -> md5('3:' || x))) AS h3,
                     list_min(list_transform(sh, x -> md5('4:' || x))) AS h4,
                     list_min(list_transform(sh, x -> md5('5:' || x))) AS h5
              FROM s
            ),
            b AS (
              SELECT doc_id, sh,
                     unnest(['0' || h0 || h1 || h2, '1' || h3 || h4 || h5]) AS bk
              FROM h
            ),
            cand AS (
              SELECT a.doc_id AS src, b2.doc_id AS dst,
                     any_value(a.sh) AS sha, any_value(b2.sh) AS shb
              FROM b a JOIN b b2 ON a.bk = b2.bk AND a.doc_id < b2.doc_id
              GROUP BY a.doc_id, b2.doc_id
            ),
            e AS (
              SELECT src, dst FROM cand
              WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE)
                      / len(list_distinct(list_concat(sha, shb))) >= 0.6
            ),
            sym AS (
              SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e
            ),
            walk(id, reach) AS (
              SELECT src AS id, src AS reach FROM sym
              UNION
              SELECT sym.src AS id, walk.reach
              FROM sym JOIN walk ON sym.dst = walk.id
            ),
            comp AS (SELECT id, min(reach) AS cluster_id FROM walk GROUP BY id),
            sizes AS (
              SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY cluster_id
            )
            SELECT comp.id AS doc_id, comp.cluster_id, sizes.cluster_size
            FROM comp JOIN sizes ON comp.cluster_id = sizes.cluster_id
        """,
        "quality_scores": f"""
            WITH t AS (
              SELECT doc_id, text,
                     list_distinct(regexp_extract_all(lower(text), '\\S+')) AS toks
              FROM documents
            ),
            s AS (
              SELECT doc_id, text,
                     len(list_intersect(toks, {_MARKERS_SQL["en"]})) AS s_en,
                     len(list_intersect(toks, {_MARKERS_SQL["es"]})) AS s_es,
                     len(list_intersect(toks, {_MARKERS_SQL["fr"]})) AS s_fr,
                     len(list_intersect(toks, {_MARKERS_SQL["de"]})) AS s_de
              FROM t
            ),
            lang AS (
              SELECT doc_id,
                     CASE
                       WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                       WHEN {_GREATEST_SQL} = 0 THEN 'und'
                       WHEN s_en = {_GREATEST_SQL} THEN 'en'
                       WHEN s_es = {_GREATEST_SQL} THEN 'es'
                       WHEN s_fr = {_GREATEST_SQL} THEN 'fr'
                       WHEN s_de = {_GREATEST_SQL} THEN 'de'
                       ELSE 'und'
                     END AS predicted_lang
              FROM s
            ),
            w AS ({_qm_weights_sql()}),
            tok AS (
              SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
              FROM documents
            ),
            b AS (
              SELECT doc_id,
                     CAST({_qm_hex4_sql("md5(tok)")} % 4096 AS INT) AS bucket
              FROM tok
            ),
            pd AS (
              SELECT doc_id, count(*) AS n_feat,
                     round(sum(weight), 6) AS logit
              FROM b JOIN w USING (bucket) GROUP BY doc_id
            )
            SELECT lang.doc_id, lang.predicted_lang,
                   CAST(coalesce(pd.n_feat, 0) AS BIGINT) AS n_feat,
                   coalesce(pd.logit, 0.0) AS logit,
                   round(1.0 / (1.0 + exp(-coalesce(pd.logit, 0.0))), 4)
                     AS score
            FROM lang LEFT JOIN pd ON lang.doc_id = pd.doc_id
        """,
        "ngram_jaccard_pairs": """
            WITH t AS (
              SELECT doc_id, source, n_chars,
                     regexp_extract_all(lower(text), '\\S+') AS toks
              FROM documents
            ),
            s AS (
              SELECT doc_id, source, n_chars,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> array_to_string(toks[i:i+2], ' ')))
                          ELSE list_distinct(toks) END AS sh
              FROM t
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard_sim,
                   CAST(3 AS INT) AS ngram_n
            FROM s a JOIN s b
              ON a.doc_id < b.doc_id AND a.source = b.source
             AND abs(a.n_chars - b.n_chars) <= 40
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
            UNION ALL
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard_sim,
                   CAST(1 AS INT) AS ngram_n
            FROM (
              SELECT doc_id, source, n_chars,
                     list_distinct(regexp_extract_all(lower(text), '\\S+')) AS sh
              FROM documents
            ) a JOIN (
              SELECT doc_id, source, n_chars,
                     list_distinct(regexp_extract_all(lower(text), '\\S+')) AS sh
              FROM documents
            ) b
              ON a.doc_id < b.doc_id AND a.source = b.source
             AND abs(a.n_chars - b.n_chars) <= 60
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        """,
        # Byte-ACCURATE replay of decode_stub's 8-bin histogram (r9,
        # closing the ADVICE divergences): the stub buckets UTF-8 BYTES
        # (bucket = byte >> 5) over payload[:4096] with
        # total = max(1, min(len, 4096)), so the oracle works in byte
        # space via hex(encode(text)) — each byte is one hex PAIR whose
        # FIRST nibble is the bucket's top 3 bits ('0'/'1' -> bucket 0,
        # ..., 'E'/'F' -> bucket 7). This reproduces the 4096-byte cap,
        # the high buckets (non-ASCII bytes >= 0x80), and the all-zero
        # feature row for empty payloads (pairs = [], t = 1) — no
        # ASCII-only or short-text precondition remains. Pinned against
        # decode_stub on adversarial fixtures (multibyte UTF-8, >4096
        # bytes, empty) in test_multimodal.py.
        "multimodal_features": """
            WITH d AS (
              SELECT doc_id AS media_id,
                     octet_length(encode(text))::BIGINT AS n_bytes,
                     hex(encode(text)) AS hxf
              FROM documents
            ),
            docp AS (
              SELECT media_id, n_bytes,
                     regexp_extract_all(substr(hxf, 1, 8192), '..') AS pairs,
                     CAST(greatest(least(n_bytes, 4096), 1) AS DOUBLE) AS t
              FROM d
            ),
            doc AS (
              SELECT 'doc' AS kind, media_id, n_bytes AS k,
                     [ len(list_filter(pairs, x -> x[1] IN ('0','1'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('2','3'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('4','5'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('6','7'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('8','9'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('A','B'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('C','D'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('E','F'))) / t
                     ] AS feature
              FROM docp
            ),
            fr0 AS (
              SELECT media_id, n_bytes, hxf,
                     CAST(floor(n_bytes / 16.0) AS BIGINT) AS nf
              FROM d WHERE CAST(floor(n_bytes / 16.0) AS BIGINT) > 0
            ),
            fidx AS (
              SELECT DISTINCT media_id, n_bytes, hxf,
                     CAST(floor(i * nf / 4.0) AS BIGINT) AS frame_idx
              FROM fr0, UNNEST(range(4)) AS u(i)
            ),
            fwin AS (
              SELECT media_id, frame_idx,
                     regexp_extract_all(
                       substr(hxf,
                              ((frame_idx * 64) % n_bytes)::BIGINT * 2 + 1,
                              8192),
                       '..') AS pairs,
                     CAST(greatest(least(n_bytes - (frame_idx * 64) % n_bytes,
                                         4096), 1) AS DOUBLE) AS t
              FROM fidx
            ),
            frame AS (
              SELECT 'frame' AS kind, media_id, frame_idx AS k,
                     [ len(list_filter(pairs, x -> x[1] IN ('0','1'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('2','3'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('4','5'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('6','7'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('8','9'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('A','B'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('C','D'))) / t,
                       len(list_filter(pairs, x -> x[1] IN ('E','F'))) / t
                     ] AS feature
              FROM fwin
            )
            SELECT kind, media_id, k,
                   unnest(range(8)) AS bucket,
                   unnest(feature) AS value
            FROM (SELECT * FROM doc UNION ALL SELECT * FROM frame)
        """,
        "running_user_totals": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(value), 6) AS total_value
            FROM events GROUP BY user_id
        """,
        "semantic_dedup": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id, v,
                    (CASE WHEN v[1] > 0 THEN 4 ELSE 0 END
                   + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
                   + CASE WHEN v[3] > 0 THEN 1 ELSE 0 END) AS cell
                  FROM e),
            d AS (SELECT DISTINCT b.vec_id AS id
                  FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3)
            SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
                   (d.id IS NULL) AS keep
            FROM c LEFT JOIN d ON c.vec_id = d.id
        """,
        "topk_cosine": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT * FROM e WHERE vec_id < 5),
            scored AS (
              SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                     round(list_dot_product(q.v, c.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine_sim
              FROM q JOIN e c ON c.vec_id != q.vec_id
            ),
            r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY cosine_sim DESC, n_id) AS rank FROM scored),
            s AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS mx
                  FROM e),
            z AS (SELECT vec_id,
                         list_transform(v, x -> greatest(-127.0, least(127.0,
                             floor(x * 127.0 / s.mx + 0.5)))) AS qv
                  FROM e, s),
            zq AS (SELECT * FROM z WHERE vec_id < 5),
            scoredq AS (
              SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                     round(list_dot_product(q.qv, c.qv)
                           / (sqrt(list_dot_product(q.qv, q.qv))
                              * sqrt(list_dot_product(c.qv, c.qv))), 6)
                       AS cosine_sim
              FROM zq q JOIN z c ON c.vec_id != q.vec_id
            ),
            rq AS (SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY cosine_sim DESC, n_id) AS rank FROM scoredq)
            SELECT 'exact' AS kind, q_id, n_id, CAST(rank AS INT) AS rank,
                   cosine_sim
            FROM r WHERE rank <= 10
            UNION ALL
            SELECT 'int8', q_id, n_id, CAST(rank AS INT), cosine_sim
            FROM rq WHERE rank <= 10
        """,
        "embedding_neardup": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                       FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))) >= 0.3
        """,
        "interval_joins": """
            SELECT 'asof' AS kind, l.event_id, l.user_id, l.ts,
                   r.c_ts, r.c_value,
                   CAST(NULL AS VARCHAR) AS ws, CAST(NULL AS BIGINT) AS n_events
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') l
            ASOF LEFT JOIN (SELECT user_id AS c_user, ts AS c_ts,
                                   max(value) AS c_value
                            FROM events WHERE event_type = 'click'
                            GROUP BY 1, 2) r
              ON l.user_id = r.c_user AND l.ts >= r.c_ts
            UNION ALL
            SELECT 'range' AS kind, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
                   CAST(NULL AS DOUBLE), CAST(iv.ws AS VARCHAR), count(*) AS n_events
            FROM (SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS ws
                  FROM events) iv
            JOIN events e
              ON CAST(e.ts AS DATE) BETWEEN iv.ws AND iv.ws + 6
            GROUP BY iv.ws
        """,
        "tpch_panel": """
            WITH q1 AS (
              SELECT l_returnflag, l_linestatus,
                     round(sum(l_quantity), 2) AS sum_qty,
                     round(sum(l_extendedprice), 2) AS sum_base_price,
                     round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS sum_disc_price,
                     round(sum(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax)), 6) AS sum_charge,
                     round(avg(l_quantity), 6) AS avg_qty,
                     round(avg(l_extendedprice), 6) AS avg_price,
                     round(avg(l_discount), 6) AS avg_disc,
                     count(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              GROUP BY l_returnflag, l_linestatus
            ),
            q3 AS (
              SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
                     round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                       AS revenue
              FROM customer c
              JOIN orders o ON c.c_custkey = o.o_custkey
              JOIN lineitem l ON o.o_orderkey = l.l_orderkey
              WHERE c.c_mktsegment = 'BUILDING'
                AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
                AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
              GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
              ORDER BY revenue DESC, o.o_orderkey
              LIMIT 10
            ),
            q4 AS (
              SELECT o_orderpriority, count(*) AS order_count
              FROM orders o
              WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
                AND EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey
                              AND l.l_shipdate > o.o_orderdate)
              GROUP BY o_orderpriority
            ),
            q7 AS (
              SELECT sn.n_name AS supp_nation,
                     cn.n_name AS cust_nation,
                     CAST(year(l.l_shipdate) AS INT) AS l_year,
                     round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                       AS volume
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation sn ON s.s_nationkey = sn.n_nationkey
              JOIN nation cn ON c.c_nationkey = cn.n_nationkey
              WHERE sn.n_name < cn.n_name
              GROUP BY 1, 2, 3
            )
            SELECT 'q1' AS panel, l_returnflag AS k1, l_linestatus AS k2,
                   unnest(['sum_qty', 'sum_base_price', 'sum_disc_price',
                           'sum_charge', 'avg_qty', 'avg_price', 'avg_disc',
                           'count_order']) AS metric,
                   unnest([sum_qty, sum_base_price, sum_disc_price,
                           sum_charge, avg_qty, avg_price, avg_disc,
                           CAST(count_order AS DOUBLE)]) AS value
            FROM q1
            UNION ALL
            SELECT 'q3', CAST(o_orderkey AS VARCHAR),
                   strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderpriority,
                   'revenue', revenue
            FROM q3
            UNION ALL
            SELECT 'q4', o_orderpriority, '', 'order_count',
                   CAST(order_count AS DOUBLE)
            FROM q4
            UNION ALL
            SELECT 'q7', supp_nation,
                   cust_nation || '|' || CAST(l_year AS VARCHAR),
                   'volume', volume
            FROM q7
            UNION ALL
            SELECT 'setops', side, '', 'c_custkey',
                   CAST(c_custkey AS DOUBLE)
            FROM (
              SELECT 'semi' AS side, c_custkey FROM customer c
              WHERE EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_totalprice > 300000)
              UNION ALL
              SELECT 'anti' AS side, c_custkey FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey
                                  AND o.o_totalprice > 350000)
              UNION ALL
              SELECT 'intersect' AS side, c_custkey FROM (
                SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
                INTERSECT
                SELECT c_custkey FROM customer WHERE c_acctbal > 1000
              )
              UNION ALL
              SELECT 'except' AS side, c_custkey FROM (
                SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
                EXCEPT
                SELECT c_custkey FROM customer WHERE c_acctbal < 0
              )
            )
        """,
        "dim_revenue": """
            SELECT 'q5_asia_revenue' AS kind, n.n_name AS name,
                   CAST(NULL AS BIGINT) AS n_customers,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS amount
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n.n_name
            UNION ALL
            SELECT 'region_customers' AS kind, r.r_name AS name,
                   count(*) AS n_customers,
                   round(sum(c.c_acctbal), 2) AS amount
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
        """,
        "semi_anti_join": """
            SELECT 'semi' AS side, c_custkey FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 300000)
            UNION ALL
            SELECT 'anti' AS side, c_custkey FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 350000)
            UNION ALL
            SELECT 'intersect' AS side, c_custkey FROM (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              INTERSECT
              SELECT c_custkey FROM customer WHERE c_acctbal > 1000
            )
            UNION ALL
            SELECT 'except' AS side, c_custkey FROM (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              EXCEPT
              SELECT c_custkey FROM customer WHERE c_acctbal < 0
            )
        """,
        "window_topn": """
            WITH r AS (
              SELECT user_id, event_id, event_type, ts,
                     round(avg(value) OVER (PARTITION BY user_id
                                            ORDER BY ts ASC, event_id ASC
                                            ROWS BETWEEN 2 PRECEDING
                                            AND CURRENT ROW), 6) AS avg_last3,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            )
            SELECT 'latest' AS kind, user_id AS id1, event_id AS id2,
                   event_type AS label, ts, avg_last3 AS v1,
                   CAST(NULL AS DOUBLE) AS v2
            FROM r WHERE rn = 1
            UNION ALL
            SELECT 'topk', o_orderkey, CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR), CAST(NULL AS TIMESTAMP),
                   o_totalprice, CAST(NULL AS DOUBLE)
            FROM (SELECT o_orderkey, o_totalprice FROM orders
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 20)
            UNION ALL
            SELECT 'q18', o.o_orderkey, c.c_custkey, c.c_name,
                   CAST(NULL AS TIMESTAMP), o.o_totalprice, b.total_qty
            FROM (
              SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING round(sum(l_quantity), 2) > 250
            ) b
            JOIN orders o ON b.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "bloom_new_docs": """
            SELECT b.doc_id,
                   CASE WHEN EXISTS (
                     SELECT 1 FROM documents c
                     WHERE c.doc_id % 3 = 0 AND md5(c.text) = md5(b.text)
                   ) THEN 'dup' ELSE 'new' END AS status
            FROM documents b WHERE b.doc_id % 3 != 0
        """,
        "rollup_cube_orders": """
            SELECT 'rollup' AS mode, o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders
            GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
            UNION ALL
            SELECT 'cube' AS mode, o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders
            GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """,
        "incremental_dedup": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
            ),
            newb AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
              UNION ALL
              SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents)
                       AS doc_id, text FROM documents
              WHERE doc_id % 15 = 0
            ),
            cfp AS (
              SELECT md5(text) AS fp, min(doc_id) AS exact_match
              FROM corpus GROUP BY md5(text)
            ),
            nfp AS (SELECT doc_id, md5(text) AS fp FROM newb),
            exact AS (
              SELECT n.doc_id, c.exact_match
              FROM nfp n LEFT JOIN cfp c ON n.fp = c.fp
            ),
            novel AS (
              SELECT doc_id, text FROM newb
              WHERE doc_id NOT IN (SELECT doc_id FROM exact
                                   WHERE exact_match IS NOT NULL)
            ),
            nt AS (SELECT doc_id, regexp_extract_all(lower(text),'\\S+') AS toks
                   FROM novel),
            ns AS (SELECT doc_id,
                     CASE WHEN len(toks) >= 2
                          THEN list_distinct(list_transform(range(1, len(toks)),
                                 i -> array_to_string(toks[i:i+1], ' ')))
                          ELSE list_distinct(toks) END AS sh
                   FROM nt),
            nh AS (SELECT doc_id, sh,
                     list_min(list_transform(sh, x -> md5('0:' || x))) AS h0,
                     list_min(list_transform(sh, x -> md5('1:' || x))) AS h1,
                     list_min(list_transform(sh, x -> md5('2:' || x))) AS h2,
                     list_min(list_transform(sh, x -> md5('3:' || x))) AS h3,
                     list_min(list_transform(sh, x -> md5('4:' || x))) AS h4,
                     list_min(list_transform(sh, x -> md5('5:' || x))) AS h5
                   FROM ns),
            nb AS (SELECT doc_id, sh,
                     unnest(['0' || h0 || h1 || h2, '1' || h3 || h4 || h5]) AS bk
                   FROM nh),
            ct AS (SELECT doc_id, regexp_extract_all(lower(text),'\\S+') AS toks
                   FROM corpus),
            cs AS (SELECT doc_id,
                     CASE WHEN len(toks) >= 2
                          THEN list_distinct(list_transform(range(1, len(toks)),
                                 i -> array_to_string(toks[i:i+1], ' ')))
                          ELSE list_distinct(toks) END AS sh
                   FROM ct),
            ch AS (SELECT doc_id, sh,
                     list_min(list_transform(sh, x -> md5('0:' || x))) AS h0,
                     list_min(list_transform(sh, x -> md5('1:' || x))) AS h1,
                     list_min(list_transform(sh, x -> md5('2:' || x))) AS h2,
                     list_min(list_transform(sh, x -> md5('3:' || x))) AS h3,
                     list_min(list_transform(sh, x -> md5('4:' || x))) AS h4,
                     list_min(list_transform(sh, x -> md5('5:' || x))) AS h5
                   FROM cs),
            cb AS (SELECT doc_id, sh,
                     unnest(['0' || h0 || h1 || h2, '1' || h3 || h4 || h5]) AS bk
                   FROM ch),
            near AS (
              SELECT nb.doc_id, min(cb.doc_id) AS near_match
              FROM nb JOIN cb ON nb.bk = cb.bk
              WHERE CAST(len(list_intersect(nb.sh, cb.sh)) AS DOUBLE)
                      / len(list_distinct(list_concat(nb.sh, cb.sh))) >= 0.6
              GROUP BY nb.doc_id
            )
            SELECT e.doc_id,
                   CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
                        WHEN nr.near_match IS NOT NULL THEN 'near_dup'
                        ELSE 'kept' END AS status,
                   CAST(COALESCE(e.exact_match, nr.near_match, -1) AS BIGINT)
                     AS matched_id
            FROM exact e LEFT JOIN near nr ON e.doc_id = nr.doc_id
        """,
        "mask_union_counts": """
            SELECT event_type AS label, count(*) AS n,
                   count(value) AS n2
            FROM (
              SELECT event_id, event_type, value FROM events
              WHERE event_type = 'signup'
              UNION ALL
              SELECT event_id, event_type, NULL AS value FROM events
              WHERE event_type = 'error'
            )
            GROUP BY event_type
            UNION ALL
            SELECT 'value_gt_100' AS label,
                   CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n,
                   count(*) AS n2
            FROM events
            UNION ALL
            SELECT 'value_le_10' AS label,
                   CAST(sum(CASE WHEN value <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n,
                   count(*) AS n2
            FROM events
        """,
        "media_metadata": """
            SELECT doc_id AS media_id,
                   'text/plain' AS content_type,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS sha256_hex,
                   CAST(doc_id % 1024 + 16 AS BIGINT) AS width,
                   CAST(doc_id * 7 % 768 + 16 AS BIGINT) AS height,
                   CAST(8 AS INT) AS bit_depth,
                   CAST(6 AS INT) AS color_type,
                   CAST(doc_id * 13 % 512 + 32 AS BIGINT) AS jpeg_w,
                   CAST(doc_id * 3 % 512 + 32 AS BIGINT) AS jpeg_h,
                   CAST(8 AS INT) AS jpeg_precision,
                   CAST(3 AS INT) AS jpeg_ncomp,
                   CAST(doc_id * 11 % 640 + 8 AS BIGINT) AS gif_w,
                   CAST(doc_id * 5 % 480 + 8 AS BIGINT) AS gif_h,
                   CAST(doc_id * 17 % 320 + 4 AS BIGINT) AS bmp_w,
                   CAST(doc_id * 19 % 240 + 4 AS BIGINT) AS bmp_h,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 24 END AS INT)
                     AS bmp_bits,
                   CAST(doc_id * 23 % 2048 + 1 AS BIGINT) AS tiff_w,
                   CAST(doc_id * 29 % 2048 + 1 AS BIGINT) AS tiff_h,
                   CAST(CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 END AS INT)
                     AS tiff_bits,
                   CAST(doc_id % 3 AS INT) AS tiff_photo,
                   CAST(doc_id % 2 + 1 AS INT) AS wav_channels,
                   CAST(doc_id % 3 * 8000 + 16000 AS BIGINT) AS wav_rate,
                   CAST(16 AS INT) AS wav_bits,
                   -- duration = floor(data_size*1000/byte_rate), with
                   -- block_align = channels*2 (16-bit PCM)
                   CAST(floor(
                     ((doc_id * 997 % 100000 + 8000) * (doc_id % 2 + 1) * 2) * 1000.0
                     / ((doc_id % 3 * 8000 + 16000) * (doc_id % 2 + 1) * 2)
                   ) AS BIGINT) AS wav_ms
            FROM documents
        """,
        "catalog_profile": f"""
            WITH cat AS (
              SELECT table_name, column_name AS item,
                     CAST(ordinal_position AS BIGINT) AS n
              FROM information_schema.columns
              WHERE table_name IN ('region','nation','customer','supplier','part',
                                   'orders','lineitem','events','documents',
                                   'embeddings')
              UNION ALL
              SELECT table_name, 'count(*)' AS item, n FROM (
                SELECT 'region' AS table_name, count(*) AS n FROM region
                UNION ALL SELECT 'nation', count(*) FROM nation
                UNION ALL SELECT 'customer', count(*) FROM customer
                UNION ALL SELECT 'supplier', count(*) FROM supplier
                UNION ALL SELECT 'part', count(*) FROM part
                UNION ALL SELECT 'orders', count(*) FROM orders
                UNION ALL SELECT 'lineitem', count(*) FROM lineitem
                UNION ALL SELECT 'events', count(*) FROM events
                UNION ALL SELECT 'documents', count(*) FROM documents
                UNION ALL SELECT 'embeddings', count(*) FROM embeddings
                UNION ALL SELECT 'events.event_type=' || event_type, count(*)
                          FROM events GROUP BY event_type
              )
            ),
            prof AS ({_profile_oracle()})
            SELECT 'catalog' AS kind, table_name AS "key", item, n,
                   CAST(NULL AS VARCHAR) AS s
            FROM cat
            UNION ALL SELECT 'profile', col_name, 'n_rows', n_rows, NULL FROM prof
            UNION ALL SELECT 'profile', col_name, 'n_null', n_null, NULL FROM prof
            UNION ALL SELECT 'profile', col_name, 'n_distinct', n_distinct, NULL
                      FROM prof
            UNION ALL SELECT 'profile', col_name, 'min', CAST(NULL AS BIGINT),
                      min_value FROM prof
            UNION ALL SELECT 'profile', col_name, 'max', NULL, max_value FROM prof
            UNION ALL
            SELECT 'hist', et.event_type,
                   CAST(r.b AS VARCHAR),
                   coalesce(hc.c, 0),
                   NULL
            FROM (SELECT DISTINCT event_type FROM events
                  WHERE value IS NOT NULL) et
            CROSS JOIN (SELECT unnest(range(0, 16)) AS b) r
            LEFT JOIN (
              SELECT event_type,
                     CAST(least(greatest(floor(value / 31.25), 0), 15) AS INT)
                       AS b,
                     count(*) AS c
              FROM events WHERE value IS NOT NULL
              GROUP BY 1, 2
            ) hc ON hc.event_type = et.event_type AND hc.b = r.b
            UNION ALL
            SELECT 'pgm', 'heatmap', item, n, NULL FROM (
              WITH {_POINTS_SQL.strip().lstrip()}
              , g AS (
                SELECT least(greatest(floor(lat / 2.8125), 0), 31) AS r,
                       least(greatest(floor((lon - -90.0) / 2.8125), 0), 63) AS c,
                       count(*) AS n
                FROM p WHERE lat IS NOT NULL AND lon IS NOT NULL
                GROUP BY 1, 2
              )
              SELECT 'width' AS item, CAST(64 AS BIGINT) AS n
              UNION ALL SELECT 'height', 32
              UNION ALL SELECT 'maxval', 255
              UNION ALL SELECT 'raster_sum',
                        CAST(coalesce(sum(least(n, 255)), 0) AS BIGINT) FROM g
              UNION ALL SELECT 'n_bytes', 13 + 64 * 32
            )
        """,
        "udaf_stats": """
            SELECT event_type,
                   round(median(value), 6) AS median_value,
                   round(sum(value * w) / sum(w), 6) AS wmean_value,
                   round(quantile_cont(value, 0.25), 6) AS p25_value,
                   round(quantile_cont(value, 0.75), 6) AS p75_value,
                   round(quantile_cont(value, 0.99), 6) AS p99_value
            FROM (SELECT event_type, value,
                         CAST(event_id % 7 + 1 AS DOUBLE) AS w FROM events)
            GROUP BY event_type
        """,
        "top_bigrams": """
            WITH t AS (
              SELECT regexp_extract_all(lower(text), '\\S+') AS toks
              FROM documents
            ),
            s AS (
              SELECT CASE WHEN len(toks) >= 2
                          THEN list_distinct(list_transform(range(1, len(toks)),
                                 i -> array_to_string(toks[i:i+1], ' ')))
                          ELSE list_distinct(toks) END AS bgs
              FROM t
            )
            , top AS (
              SELECT bigram, count(*) AS n_docs
              FROM s, unnest(s.bgs) AS u(bigram)
              GROUP BY bigram
              ORDER BY n_docs DESC, bigram
              LIMIT 20
            )
            SELECT 'exact' AS kind, bigram, n_docs FROM top
            UNION ALL
            SELECT 'hh', bigram, n_docs FROM top
        """,
        "streaming_window_counts": """
            SELECT 'tumbling' AS kind, date_trunc('hour', ts) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 2, 3
            UNION ALL
            SELECT 'sliding', ws, event_type, count(*), round(sum(value), 2)
            FROM (
              SELECT unnest([
                       date_trunc('hour', ts),
                       CASE WHEN extract(minute FROM ts) >= 30
                            THEN date_trunc('hour', ts) + INTERVAL 30 MINUTE
                            ELSE date_trunc('hour', ts) - INTERVAL 30 MINUTE
                       END]) AS ws,
                     event_type, value
              FROM events
            )
            GROUP BY 2, 3
        """,
        "salted_join_check": """
            SELECT c.c_mktsegment,
                   count(*) AS n_orders,
                   round(sum(o.o_totalprice), 2) AS sum_price
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        """,
        "sessions_panel": """
            WITH flagged AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sessioned AS (
              SELECT *, CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_idx
              FROM flagged
            ),
            sflag AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            ssess AS (
              SELECT *, sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS session_idx
              FROM sflag
            )
            SELECT 'batch' AS mode, user_id, session_idx,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM sessioned
            GROUP BY user_id, session_idx
            UNION ALL
            SELECT 'stream' AS mode, user_id,
                   CAST(NULL AS BIGINT) AS session_idx,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events,
                   CAST(NULL AS DOUBLE) AS sum_value
            FROM ssess
            GROUP BY user_id, session_idx
        """,
        "pretrain_pipeline": f"""
            WITH t AS (
              SELECT doc_id, source, text,
                     regexp_extract_all(lower(text), '\\S+') AS ltoks
              FROM documents
            ),
            s AS (
              SELECT doc_id, source, text, ltoks,
                     len(list_intersect(list_distinct(ltoks), {_MARKERS_SQL["en"]})) AS s_en,
                     len(list_intersect(list_distinct(ltoks), {_MARKERS_SQL["es"]})) AS s_es,
                     len(list_intersect(list_distinct(ltoks), {_MARKERS_SQL["fr"]})) AS s_fr,
                     len(list_intersect(list_distinct(ltoks), {_MARKERS_SQL["de"]})) AS s_de
              FROM t
            ),
            feat AS (
              SELECT doc_id, source, text,
                     len(regexp_extract_all(text, '\\S+')) AS n_tokens,
                     CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                       / greatest(length(text), 1) AS alpha_ratio,
                     CAST(len(list_filter(ltoks,
                         tk -> list_contains({_STOPWORDS_SQL}, tk))) AS DOUBLE)
                       / greatest(len(ltoks), 1) AS stopword_ratio,
                     CASE
                       WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                       WHEN {_GREATEST_SQL} = 0 THEN 'und'
                       WHEN s_en = {_GREATEST_SQL} THEN 'en'
                       WHEN s_es = {_GREATEST_SQL} THEN 'es'
                       WHEN s_fr = {_GREATEST_SQL} THEN 'fr'
                       WHEN s_de = {_GREATEST_SQL} THEN 'de'
                       ELSE 'und'
                     END AS predicted_lang
              FROM s
            ),
            wlm AS (
              SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS w
              FROM documents
            ),
            vocab AS (SELECT w, count(*) AS c FROM wlm GROUP BY w),
            tot AS (
              SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
              FROM vocab
            ),
            lm AS (
              SELECT wlm.doc_id,
                     avg(ln((vocab.c + 1.0) / (tot.n + tot.v))) AS lm_logprob
              FROM wlm JOIN vocab USING (w), tot
              GROUP BY wlm.doc_id
            ),
            kept AS (
              SELECT f.doc_id, f.source, CAST(f.n_tokens AS BIGINT) AS n_tokens,
                     md5(f.text) AS fp
              FROM feat f JOIN lm ON f.doc_id = lm.doc_id
              WHERE f.n_tokens >= 20 AND f.alpha_ratio >= 0.8
                AND f.stopword_ratio >= 0.01 AND f.predicted_lang = 'en'
                AND round(lm.lm_logprob, 6) >= -3.45
            ),
            deduped AS (
              SELECT doc_id, source, n_tokens FROM (
                SELECT *, row_number() OVER (PARTITION BY fp
                                             ORDER BY doc_id) AS rn
                FROM kept
              ) WHERE rn = 1
            )
            SELECT doc_id, n_tokens, source,
                   CAST(floor(
                     COALESCE(sum(n_tokens) OVER (PARTITION BY source
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     / 2048.0) AS BIGINT) AS bin_id
            FROM deduped
        """,
        "pack_documents": """
            WITH RECURSIVE t AS (
              SELECT doc_id, source, text,
                     CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
              FROM documents
            ),
            packed AS (
              SELECT doc_id, n_tokens, source, text,
                     CAST(floor(
                       COALESCE(sum(n_tokens) OVER (PARTITION BY source
                         ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 2048.0) AS BIGINT) AS bin_id
              FROM t
            ),
            ordered AS (
              SELECT source AS grp, doc_id, n_chars AS toks,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents
            ),
            pack AS (
              SELECT grp, 0 AS rn, CAST(NULL AS BIGINT) AS id,
                     CAST(NULL AS BIGINT) AS toks,
                     CAST(NULL AS BIGINT) AS bin_id,
                     CAST(NULL AS BOOLEAN) AS oversize,
                     CAST([] AS STRUCT(rem BIGINT, b BIGINT)[]) AS open_bins,
                     0::BIGINT AS next_bin
              FROM (SELECT DISTINCT grp FROM ordered)
              UNION ALL
              SELECT o.grp, o.rn, o.doc_id, o.toks,
                     CASE WHEN o.toks > 30000 THEN p.next_bin
                          WHEN best.b IS NULL THEN p.next_bin
                          ELSE best.b END,
                     o.toks > 30000,
                     CASE
                       WHEN o.toks > 30000 THEN p.open_bins
                       WHEN best.b IS NULL THEN
                         CASE WHEN 30000 - o.toks > 0
                              THEN list_sort(list_append(p.open_bins,
                                     {'rem': 30000 - o.toks, 'b': p.next_bin}))
                              ELSE p.open_bins END
                       ELSE
                         CASE WHEN best.rem - o.toks > 0
                              THEN list_sort(list_append(
                                     list_filter(p.open_bins,
                                       x -> NOT (x.rem = best.rem AND x.b = best.b)),
                                     {'rem': best.rem - o.toks, 'b': best.b}))
                              ELSE list_filter(p.open_bins,
                                     x -> NOT (x.rem = best.rem AND x.b = best.b)) END
                     END,
                     CASE WHEN o.toks > 30000 OR best.b IS NULL
                          THEN p.next_bin + 1 ELSE p.next_bin END
              FROM pack p
              JOIN ordered o ON o.grp = p.grp AND o.rn = p.rn + 1
              LEFT JOIN LATERAL (
                SELECT f[1].rem AS rem, f[1].b AS b
                FROM (SELECT list_filter(p.open_bins, x -> x.rem >= o.toks) AS f)
                WHERE len(f) > 0
              ) best ON TRUE
            )
            SELECT 'doc' AS kind, doc_id, n_tokens, source, bin_id,
                   CAST(NULL AS VARCHAR) AS packed_md5
            FROM packed
            UNION ALL
            SELECT 'bin' AS kind, CAST(NULL AS BIGINT) AS doc_id,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens, source, bin_id,
                   md5(string_agg(text, chr(10) ORDER BY doc_id)) AS packed_md5
            FROM packed GROUP BY source, bin_id
            UNION ALL
            SELECT CASE WHEN oversize THEN 'bfd_oversize' ELSE 'bfd' END AS kind,
                   id AS doc_id, toks AS n_tokens, grp AS source, bin_id,
                   CAST(NULL AS VARCHAR) AS packed_md5
            FROM pack WHERE rn > 0
        """,
        "sample_audit": f"""
            SELECT 'uniform' AS kind, CAST(doc_id AS VARCHAR) AS "key",
                   CAST(NULL AS BIGINT) AS n
            FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
            UNION ALL
            SELECT 'stratum' AS kind, lang AS "key", count(*) AS n
            FROM documents
            WHERE (lang = 'en'
                   AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
               OR (lang = 'zh'
                   AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '199a')
            GROUP BY lang
            UNION ALL
            {_mixture_oracle_branch()}
            UNION ALL
            {_split_oracle_branch()}
            UNION ALL
            SELECT 'gidx', CAST(doc_id AS VARCHAR),
                   CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1
                        AS BIGINT)
            FROM documents
            QUALIFY doc_id % 97 = 0
        """,
        "stream_dedup_keys": """
            SELECT 'dedup' AS kind, user_id, event_type AS k,
                   CAST(NULL AS BIGINT) AS n
            FROM (SELECT DISTINCT user_id, event_type FROM events)
            UNION ALL
            SELECT 'join', l.user_id, CAST(l.event_id AS VARCHAR),
                   r.event_id_r
            FROM (SELECT event_id, ts, user_id FROM events
                  WHERE event_type = 'signup') l
            JOIN (SELECT event_id AS event_id_r, ts AS ts_r, user_id
                  FROM events WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id
             AND l.ts <= r.ts_r
             AND l.ts >= r.ts_r - INTERVAL 3600 SECONDS
        """,
        "segments_chunks": r"""
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(text, '\S+') AS toks
              FROM documents
            ),
            tk AS (
              SELECT doc_id, unnest(toks) AS tok,
                     generate_subscripts(toks, 1) AS ord
              FROM t
            ),
            segs AS (
              SELECT doc_id, (ord - 1) // 3 AS pos,
                     string_agg(tok, ' ' ORDER BY ord) AS seg
              FROM tk GROUP BY 1, 2
            ),
            ranked AS (
              SELECT doc_id, pos, seg,
                     row_number() OVER (
                       PARTITION BY seg ORDER BY doc_id, pos) AS rn
              FROM segs
            ),
            st AS (
              SELECT doc_id, toks,
                     unnest(range(0, len(toks), 12)) AS start,
                     generate_subscripts(range(0, len(toks), 12), 1) - 1
                       AS chunk_id
              FROM t
            ),
            ml AS (
              SELECT doc_id,
                     'HDR: subscribe to our newsletter' || chr(10) || text ||
                     chr(10) || 'SRC: ' || source AS mtext
              FROM documents
            ),
            bl AS (
              SELECT doc_id,
                     unnest(string_split(mtext, chr(10))) AS line,
                     generate_subscripts(string_split(mtext, chr(10)), 1) AS pos
              FROM ml
            ),
            bset AS (
              SELECT line FROM bl WHERE trim(line) != ''
              GROUP BY line HAVING count(DISTINCT doc_id) >= 10
            )
            SELECT 'seg' AS kind, doc_id,
                   count(*) AS n1,
                   CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n2,
                   CAST(NULL AS BIGINT) AS n3,
                   coalesce(
                     string_agg(CASE WHEN rn = 1 THEN seg END,
                                ' ' ORDER BY pos),
                     '') AS txt
            FROM ranked GROUP BY doc_id
            UNION ALL
            SELECT 'chunk' AS kind, doc_id,
                   CAST(chunk_id AS BIGINT) AS n1,
                   CAST(start AS BIGINT) AS n2,
                   CAST(len(list_slice(toks, start + 1, start + 16)) AS BIGINT)
                     AS n3,
                   array_to_string(list_slice(toks, start + 1, start + 16), ' ')
                     AS txt
            FROM st
            UNION ALL
            SELECT 'boiler' AS kind, l.doc_id,
                   CAST(count(*) AS BIGINT) AS n1,
                   CAST(count(*) FILTER (WHERE b.line IS NULL) AS BIGINT) AS n2,
                   CAST(NULL AS BIGINT) AS n3,
                   coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                            FILTER (WHERE b.line IS NULL), '') AS txt
            FROM bl l LEFT JOIN bset b ON l.line = b.line
            GROUP BY l.doc_id
            UNION ALL
            SELECT 'span' AS kind, s.doc_id,
                   CAST(s.st AS BIGINT) AS n1,
                   CAST(s.en AS BIGINT) AS n2,
                   CAST(s.en - s.st + 1 AS BIGINT) AS n3,
                   array_to_string(list_slice(sp.tk, s.st + 1, s.en + 1), ' ')
                     AS txt
            FROM (
              WITH sd AS (
                SELECT doc_id,
                       text || CASE WHEN doc_id % 2 = 0
                       THEN ' the quick brown fox jumps over the lazy dog today'
                       ELSE '' END AS text
                FROM documents WHERE doc_id % 3 = 0
              ),
              spt AS (
                SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
                FROM sd
              ),
              g AS (
                SELECT doc_id, i - 1 AS pos0,
                       md5(array_to_string(list_slice(tk, i, i + 4), ' ')) AS gh
                FROM (SELECT doc_id, tk,
                             unnest(range(1, greatest(len(tk) - 4, 0) + 1)) AS i
                      FROM spt)
              ),
              dup AS (
                SELECT gh FROM g GROUP BY gh
                HAVING count(DISTINCT doc_id) >= 2
              ),
              m AS (SELECT g.doc_id, g.pos0 FROM g JOIN dup USING (gh)),
              i1 AS (
                SELECT doc_id, pos0,
                       CASE WHEN lag(pos0) OVER w IS NULL
                                 OR pos0 - lag(pos0) OVER w > 5
                            THEN 1 ELSE 0 END AS brk
                FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos0)
              ),
              i2 AS (
                SELECT doc_id, pos0,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos0) AS isl
                FROM i1
              )
              SELECT doc_id, isl, min(pos0) AS st, max(pos0) + 4 AS en
              FROM i2 GROUP BY doc_id, isl
            ) s
            JOIN (
              SELECT doc_id,
                     regexp_extract_all(
                       lower(text || CASE WHEN doc_id % 2 = 0
                       THEN ' the quick brown fox jumps over the lazy dog today'
                       ELSE '' END), '\S+') AS tk
              FROM documents WHERE doc_id % 3 = 0
            ) sp ON s.doc_id = sp.doc_id
            UNION ALL
            SELECT 'rmspan' AS kind, t.doc_id,
                   CAST(len(t.tk) AS BIGINT) AS n1,
                   CAST(len(t.tk) - coalesce(kc.n_kept, 0) AS BIGINT) AS n2,
                   CAST(NULL AS BIGINT) AS n3,
                   coalesce(kc.txt, '') AS txt
            FROM (
              SELECT doc_id,
                     regexp_extract_all(
                       lower(text || CASE WHEN doc_id % 2 = 0
                       THEN ' the quick brown fox jumps over the lazy dog today'
                       ELSE '' END), '\S+') AS tk
              FROM documents WHERE doc_id % 3 = 0
            ) t
            LEFT JOIN (
              WITH sd AS (
                SELECT doc_id,
                       text || CASE WHEN doc_id % 2 = 0
                       THEN ' the quick brown fox jumps over the lazy dog today'
                       ELSE '' END AS text
                FROM documents WHERE doc_id % 3 = 0
              ),
              spt AS (
                SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
                FROM sd
              ),
              g AS (
                SELECT doc_id, i - 1 AS pos0,
                       md5(array_to_string(list_slice(tk, i, i + 4), ' ')) AS gh
                FROM (SELECT doc_id, tk,
                             unnest(range(1, greatest(len(tk) - 4, 0) + 1)) AS i
                      FROM spt)
              ),
              dup AS (
                SELECT gh FROM g GROUP BY gh
                HAVING count(DISTINCT doc_id) >= 2
              ),
              m AS (SELECT g.doc_id, g.pos0, g.gh FROM g JOIN dup USING (gh)),
              cutg AS (
                -- gram-level keep-first election: every occurrence of a
                -- duplicated gram except the corpus-wide first is cut
                SELECT doc_id, pos0 FROM (
                  SELECT doc_id, pos0,
                         row_number() OVER (PARTITION BY gh
                                            ORDER BY doc_id, pos0) AS rn
                  FROM m
                ) WHERE rn > 1
              ),
              c1 AS (
                SELECT doc_id, pos0,
                       CASE WHEN lag(pos0) OVER w IS NULL
                                 OR pos0 - lag(pos0) OVER w > 5
                            THEN 1 ELSE 0 END AS brk
                FROM cutg WINDOW w AS (PARTITION BY doc_id ORDER BY pos0)
              ),
              c2 AS (
                SELECT doc_id, pos0,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos0) AS isl
                FROM c1
              ),
              cuts AS (
                SELECT doc_id, min(pos0) AS st, max(pos0) + 4 AS en
                FROM c2 GROUP BY doc_id, isl
              ),
              p AS (
                SELECT doc_id, unnest(tk) AS tok,
                       generate_subscripts(tk, 1) - 1 AS pos0
                FROM spt
              )
              SELECT p.doc_id,
                     count(*) FILTER (WHERE c.st IS NULL) AS n_kept,
                     coalesce(string_agg(p.tok, ' ' ORDER BY p.pos0)
                              FILTER (WHERE c.st IS NULL), '') AS txt
              FROM p LEFT JOIN cuts c
                ON p.doc_id = c.doc_id AND p.pos0 BETWEEN c.st AND c.en
              GROUP BY p.doc_id
            ) kc ON kc.doc_id = t.doc_id
            UNION ALL
            SELECT 'html' AS kind, doc_id,
                   CAST(length(html) AS BIGINT) AS n1,
                   CAST(length(clean) AS BIGINT) AS n2,
                   CAST(NULL AS BIGINT) AS n3,
                   clean AS txt
            FROM (
              SELECT doc_id, html,
                     trim(regexp_replace(
                       replace(replace(replace(replace(replace(replace(
                         regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(html,
                             '<script\b.*?</script>', ' ', 'gis'),
                           '<style\b.*?</style>', ' ', 'gis'),
                         '<!--.*?-->', ' ', 'gs'),
                       '<[^>]+>', ' ', 'gs'),
                       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                       '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
                       '\s+', ' ', 'g')) AS clean
              FROM (
                SELECT doc_id,
                       '<html><head><title>D</title><style>p{color:#000}</style>'
                       || '<script>var t="<p>trap</p>";</script></head>'
                       || '<body><!-- menu<b>x</b> --><div>Home &gt; Docs</div><p>'
                       || text
                       || '</p><footer>&amp;copy 2024</footer></body></html>'
                         AS html
                FROM documents WHERE doc_id % 4 = 1
              )
            )
        """,
        "quota_shuffle": """
            WITH h AS (
              SELECT doc_id,
                     md5('7:' || CAST(doc_id AS VARCHAR)) AS hk
              FROM documents
            ),
            s AS (
              SELECT doc_id, hk,
                CAST((( (strpos('0123456789abcdef', substr(hk, 1, 1)) - 1) * 4096
                      + (strpos('0123456789abcdef', substr(hk, 2, 1)) - 1) * 256
                      + (strpos('0123456789abcdef', substr(hk, 3, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(hk, 4, 1)) - 1)
                      ) % 8) AS INT) AS shard
              FROM h
            )
            SELECT 'cap' AS kind, doc_id, source AS "key",
                   CAST(n_chars AS BIGINT) AS n
            FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents
            ) WHERE rn <= 5
            UNION ALL
            SELECT 'shard' AS kind, doc_id, CAST(shard AS VARCHAR) AS "key",
                   CAST(row_number() OVER (
                     PARTITION BY shard ORDER BY hk, doc_id) AS BIGINT) AS n
            FROM s
            UNION ALL
            -- rcap: the skew-safe random cap's kept set == the plain
            -- md5-priority window, which is replayable directly
            SELECT 'rcap' AS kind, doc_id, source AS "key",
                   CAST(n_chars AS BIGINT) AS n
            FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id
                     ) AS rn
              FROM documents
            ) WHERE rn <= 3
            UNION ALL
            -- tok: greedy token-budget prefix in hash order — keep while
            -- the tokens accumulated BEFORE the row are under budget
            SELECT 'tok' AS kind, doc_id, source AS "key",
                   CAST(n_chars AS BIGINT) AS n
            FROM (
              SELECT doc_id, source, n_chars,
                     sum(n_chars) OVER (
                       PARTITION BY source
                       ORDER BY md5('11:' || CAST(doc_id AS VARCHAR)), doc_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS cum
              FROM documents
            ) WHERE cum - n_chars < 30000
        """,
        "proximity_pairs": f"""
            WITH {_POINTS_SQL},
            q AS (
              SELECT * FROM p
              WHERE lat IS NOT NULL AND lon IS NOT NULL
                AND event_id % 4 = 0
            ),
            pairs AS (
              SELECT a.event_id AS id_a, b.event_id AS id_b,
                round(2 * 6371.0088 * asin(sqrt(
                  sin(radians(b.lat - a.lat) / 2)
                    * sin(radians(b.lat - a.lat) / 2)
                  + cos(radians(a.lat)) * cos(radians(b.lat))
                    * sin(radians(b.lon - a.lon) / 2)
                    * sin(radians(b.lon - a.lon) / 2)
                )), 6) AS distance_km
              FROM q a JOIN q b ON a.event_id < b.event_id
            )
            SELECT id_a, id_b, distance_km
            FROM pairs WHERE distance_km <= 100.0
        """,
        # --- round-9 flagships, in the driver window since round 10
        "zorder_curve": """
            WITH pts AS (
              SELECT event_id,
                     value % 90 AS x,
                     (value * 2) % 180 - 90 AS y
              FROM events WHERE value IS NOT NULL),
            q AS (
              SELECT event_id,
                     least(greatest(CAST(floor((x - 0.0) / 90.0 * 65536.0) AS BIGINT), 0), 65535) AS qx,
                     least(greatest(CAST(floor((y - (-90.0)) / 180.0 * 65536.0) AS BIGINT), 0), 65535) AS qy
              FROM pts),
            s1 AS (SELECT event_id,
                          (qx | (qx << 8)) & 16711935 AS x1,
                          (qy | (qy << 8)) & 16711935 AS y1 FROM q),
            s2 AS (SELECT event_id,
                          (x1 | (x1 << 4)) & 252645135 AS x2,
                          (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
            s3 AS (SELECT event_id,
                          (x2 | (x2 << 2)) & 858993459 AS x3,
                          (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
            s4 AS (SELECT event_id,
                          (x3 | (x3 << 1)) & 1431655765 AS x4,
                          (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3)
            SELECT event_id, x4 | (y4 << 1) AS zval FROM s4
            ORDER BY zval DESC, event_id
            LIMIT 200
        """,
        "bucketed_join": """
            SELECT c.c_mktsegment,
                   count(*) AS n_orders,
                   count(DISTINCT c.c_custkey) AS n_customers,
                   round(sum(o.o_totalprice), 2) AS revenue
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_mktsegment
        """,
        # digest expression generated by versioning.row_digest_sql so the
        # DuckDB twin can never drift from the Spark sentinel/separator
        "corpus_diff": f"""
            WITH old AS (
              SELECT doc_id,
                     {versioning.row_digest_sql(['text', 'lang', 'source'])}
                       AS old_digest
              FROM documents WHERE doc_id % 17 != 3),
            neu AS (
              SELECT doc_id,
                     {versioning.row_digest_sql(['text', 'lang', 'source'])}
                       AS new_digest
              FROM (SELECT doc_id,
                           CASE WHEN doc_id % 11 = 2 THEN text || ' v2'
                                ELSE text END AS text,
                           lang, source
                    FROM documents WHERE doc_id % 13 != 5)),
            d AS (
              SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                     CASE WHEN o.old_digest IS NULL THEN 'added'
                          WHEN n.new_digest IS NULL THEN 'removed'
                          WHEN o.old_digest != n.new_digest THEN 'changed'
                          ELSE 'unchanged' END AS change,
                     o.old_digest, n.new_digest
              FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id)
            SELECT * FROM d WHERE change != 'unchanged' ORDER BY doc_id
        """,
        "scd2_history": """
            WITH h AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN row_number() OVER w = 1
                               OR event_type IS DISTINCT FROM
                                  lag(event_type) OVER w
                          THEN 1 ELSE 0 END AS chg
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            v AS (
              SELECT user_id, event_type, ts,
                     CAST(sum(chg) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS INTEGER) AS version
              FROM h),
            c AS (
              SELECT user_id, version,
                     min(event_type) AS event_type,
                     min(ts) AS valid_from
              FROM v GROUP BY user_id, version),
            f AS (
              SELECT user_id, event_type, version, valid_from,
                     lead(valid_from) OVER (
                       PARTITION BY user_id ORDER BY version) AS valid_to
              FROM c)
            SELECT user_id, event_type, version, valid_from, valid_to,
                   (valid_to IS NULL) AS is_current
            FROM f ORDER BY user_id, version
        """,
        # generated by the operator's own twin builder so probability
        # list, rounding, and casts cannot drift from the Spark side
        "quantile_profile": profile.quantiles_oracle_sql(
            "lineitem",
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            (0.01, 0.25, 0.5, 0.75, 0.99),
        ) + " ORDER BY col_name, prob",
    }
    return {k: _portable_ws(v) for k, v in oracles.items()}

"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale posture:
* Exact dedup is a hash aggregate (map-side partial + final) — the only
  shuffle is on the dedup key; at 100 TB dedup on a 128-bit digest of the
  content, never on the content itself, so shuffle rows stay tiny.
* Near-dup NEVER compares all pairs. Candidate generation is blocked —
  MinHash banding (LSH) or cheap attribute blocks — and the exact
  similarity only runs on candidates. The all-pairs form here exists only
  as the test oracle path.
* All hashing is `xxhash64`/`md5` (JVM, codegen) — no Python in the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Groups of exact duplicates: one row per duplicated key with the
    canonical (min) id and the multiplicity. The groupBy key should be a
    digest for wide content columns (see `md5`), keeping shuffle narrow.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def duplicate_audit(df: DataFrame) -> DataFrame:
    """A1, reference-exact form: GROUP BY *every* column (discovered
    dynamically from the frame, as the reference discovers them from the
    catalog), HAVING count(*) > 1 — full-row duplicate report with a
    ``duplicate_count`` column (catch_duplicates_script.py:56-67
    semantics). For wide tables prefer ``exact_duplicates`` on a content
    digest: same answer, narrow shuffle key.
    """
    return (
        df.groupBy(*df.columns)
        .agg(F.count(F.lit(1)).alias("duplicate_count"))
        .filter(F.col("duplicate_count") > 1)
    )


def drop_exact_duplicates(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    prefer: list[Column] | None = None,
) -> DataFrame:
    """Keep one deterministic representative per key — unlike
    dropDuplicates (which keeps an arbitrary row per key).

    Default policy: min id (a windowed MIN — partial-aggregatable, no
    per-group sort). ``prefer`` swaps in a quality policy, e.g.
    ``[F.desc("n_tokens")]`` keeps the longest duplicate — the common
    real-world choice when dup groups mix truncated and full copies;
    id ascending is always the final tiebreak, so the kept set stays
    partitioning-independent. The prefer path pays a per-group sort
    (row_number) instead of the MIN."""
    if prefer is None:
        w_min = F.min(id_col).over(Window.partitionBy(*key_cols))
        return (
            df.withColumn("_min_id", w_min)
            .filter(F.col(id_col) == F.col("_min_id"))
            .drop("_min_id")
        )
    w = Window.partitionBy(*key_cols).orderBy(*prefer, F.asc(id_col))
    return (
        df.withColumn("_keep_rn", F.row_number().over(w))
        .filter(F.col("_keep_rn") == 1)
        .drop("_keep_rn")
    )


# ---------------------------------------------------------------------------
# Shingles + Jaccard
# ---------------------------------------------------------------------------


def word_shingles(c: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (JVM-side:
    regexp tokenize → sliding join via transform over index sequence).

    Column-in/column-out convenience form: the token array here is a
    derived expression referenced once per shingle inside the lambda, so
    tokenization re-runs per index (no let-binding in Catalyst —
    measured 6× on 4-grams over ~54-token docs). Fine for a single
    expression over short text; in frame-level operators prefer
    ``shingle_frame``, which binds the tokens through a Generate node.
    """
    from .textstats import tokens

    toks = tokens(c)
    if n == 1:
        return F.array_distinct(toks)
    # indexes 0 .. size-n ; join n consecutive tokens with a separator
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.when(F.size(toks) >= n, F.array_distinct(sh)).otherwise(F.array_distinct(toks))


def _shingles_from_bound_tokens(tk: Column, n: int) -> Column:
    """Shingle strings from a *bound* token-array attribute. ``tk`` MUST
    be a materialized attribute: it is referenced per index inside the
    transform lambda, and an unbound expression would re-run
    tokenization once per shingle. Semantics identical to
    ``word_shingles`` (concat_ws of n consecutive tokens == array_join
    of the slice, for non-null tokens)."""
    if n == 1:
        return F.array_distinct(tk)
    idx = F.sequence(F.lit(1), F.size(tk) - (n - 1))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j) for j in range(n)]),
    )
    return F.when(F.size(tk) >= n, F.array_distinct(sh)).otherwise(F.array_distinct(tk))


def shingle_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, sh: array<string>) with ``sh`` a bound attribute.

    Two Generate nodes: one binds the token array (so per-shingle slices
    read an attribute instead of re-tokenizing), one binds the shingle
    array (so downstream consumers — MinHash's k hash passes, a
    size+explode pair — can reference ``sh`` k times without k
    re-shinglings). Measured 6× over the naive column form on 4-grams.
    """
    from .textstats import tokens

    bound = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in keep_cols],
        F.explode(F.array(tokens(F.col(text_col)))).alias("tk"),
    )
    return bound.select(
        "id",
        *keep_cols,
        F.explode(F.array(_shingles_from_bound_tokens(F.col("tk"), n))).alias("sh"),
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _combine_shingles(th: Column, n: int) -> Column:
    """Distinct shingle hashes from a *bound* token-hash array column.

    ``th`` MUST be a materialized attribute (a real column), not a derived
    expression: it is referenced several times below, and Spark has no
    let-binding — a derived expression would be re-computed per reference
    (measured 5× tokenization cost). See ``shingle_hash_frame``.
    """
    if n == 1:
        return F.array_distinct(th)
    idx = F.sequence(F.lit(1), F.size(th) - (n - 1))
    combined = F.transform(
        idx, lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(n)])
    )
    return F.when(F.size(th) >= n, F.array_distinct(combined)).otherwise(
        F.array_distinct(th)
    )


def shingle_hash_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, sh: array<long>) — 64-bit hashes of word n-gram shingles,
    with no shingle strings ever built.

    Tokens are hashed once; each shingle combines n consecutive token
    hashes with one more xxhash64. Jaccard over hash sets equals Jaccard
    over shingle sets up to 2^-64 collisions. The token-hash array is
    bound through ``explode(array(...))`` — a Generate node — because
    projection collapse would otherwise re-inline its computation into
    every one of the several references inside the combine expression
    (no let-binding in Catalyst; keeping it bound is ~3×).
    """
    from .textstats import tokens

    th = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    bound = df.select(F.col(id_col).alias("id"), F.explode(F.array(th)).alias("th"))
    return bound.select("id", _combine_shingles(F.col("th"), n).alias("sh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
    length_band: int | None = None,
    length_col: str = "n_chars",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard with attribute blocking.

    Blocking (equi-join on block columns + optional length band) bounds the
    candidate set; for ``threshold > 0`` the comparison runs as an
    INVERTED-INDEX join — explode shingles, equi-join on (block, shingle),
    count shared shingles per pair with a partial-aggregatable groupBy,
    then ``|A∪B| = |A| + |B| − |A∩B|`` — so a candidate pair with zero
    common shingles never materializes at all, and no per-pair
    ``array_intersect`` (interpreted, O(|A|+|B|) each) ever runs. Exact:
    the dropped pairs all have J = 0 < threshold. Measured 6–20× over
    the pair-join + array-ops form at sf0.1 (55 s → 8.6 s cold / 2.8 s
    warm, identical 109,599 output pairs).

    ``threshold <= 0`` (keep even disjoint pairs) falls back to the
    pair-join form. At scale, prefer `minhash_candidate_pairs`, which
    replaces attribute blocks with LSH bands.

    **Adversarial-block guard** (``max_shingle_df``): the inverted-index
    join's work is Σ per-(block, shingle) df² — one shingle appearing in
    every document of a block goes quadratic. With ``max_shingle_df=c``
    set, shingles whose per-(block) document frequency exceeds ``c`` are
    excluded from CANDIDATE GENERATION, bounding join work at
    ``c × total_shingle_rows`` (linear in the corpus for fixed ``c``).
    Emitted pairs stay EXACT: each document's hot shingles form a tiny
    array (at most the number of distinct over-cap shingles it holds),
    joined back per candidate pair so the reported ``jaccard_sim``
    includes the hot overlap bit-for-bit. The only loss is RECALL at the
    margin: a pair whose entire overlap is over-cap shingles is never
    generated — such a missed pair shares only its ``h`` hot shingles,
    so its Jaccard is at most ``h / max(|A|, |B|)``; with stopword-like
    hot shingles and any realistic threshold this is far below the cut.
    ``None`` (default) applies no cap — identical output to round 6.
    Size the cap well ABOVE the expected duplicate-cluster multiplicity
    (e.g. 8× cluster size): an over-tight cap marks most shingles hot,
    shrinking candidate recall and pushing intersection work onto the
    per-pair hot-array intersects it was meant to avoid.
    """
    keep = list(block_cols or [])
    if length_band is not None and length_col not in keep:
        keep.append(length_col)
    base = shingle_frame(df, id_col, text_col, n, keep_cols=tuple(keep)).withColumn(
        "_sz", F.size("sh")
    )
    if threshold > 0:
        ex = base.select(
            "id", "_sz", *[F.col(c) for c in keep], F.explode("sh").alias("_s")
        )
        hot_by_doc = None
        if max_shingle_df is not None:
            # shingles are distinct per doc, so per-(block, shingle) df is a
            # plain count; the cap is block-scoped because the join is
            dfreq_keys = [*(block_cols or []), "_s"]
            hot = (
                ex.groupBy(*dfreq_keys)
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") > max_shingle_df)
                .select(*dfreq_keys)
            )
            hot_by_doc = (
                ex.join(hot, dfreq_keys, "left_semi")
                .groupBy("id")
                .agg(F.collect_set("_s").alias("_hot"))
            )
            ex = ex.join(hot, dfreq_keys, "left_anti")
        a, b = ex.alias("a"), ex.alias("b")
        cond = (F.col("a.id") < F.col("b.id")) & (F.col("a._s") == F.col("b._s"))
        for c in block_cols or []:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        if length_band is not None:
            cond = cond & (
                F.abs(F.col(f"a.{length_col}") - F.col(f"b.{length_col}"))
                <= length_band
            )
        inter = (
            a.join(b, cond)
            .groupBy(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a._sz").alias("_sza"),
                F.col("b._sz").alias("_szb"),
            )
            .agg(F.count(F.lit(1)).alias("_inter"))
        )
        if hot_by_doc is not None:
            # restore exactness for emitted pairs: add the hot-shingle
            # overlap back (per-doc hot arrays are tiny by construction)
            empty = F.array().cast("array<string>")
            inter = (
                inter.join(
                    hot_by_doc.select(
                        F.col("id").alias("id_a"), F.col("_hot").alias("_ha")
                    ),
                    "id_a",
                    "left",
                )
                .join(
                    hot_by_doc.select(
                        F.col("id").alias("id_b"), F.col("_hot").alias("_hb")
                    ),
                    "id_b",
                    "left",
                )
                .withColumn(
                    "_inter",
                    F.col("_inter")
                    + F.size(
                        F.array_intersect(
                            F.coalesce(F.col("_ha"), empty),
                            F.coalesce(F.col("_hb"), empty),
                        )
                    ),
                )
            )
        sim = F.col("_inter") / (
            F.col("_sza") + F.col("_szb") - F.col("_inter")
        ).cast("double")
        return (
            inter.select("id_a", "id_b", sim.alias("jaccard_sim"))
            .filter(F.col("jaccard_sim") >= threshold)
        )
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for c in block_cols or []:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    if length_band is not None:
        cond = cond & (
            F.abs(F.col(f"a.{length_col}") - F.col(f"b.{length_col}")) <= length_band
        )
    pairs = a.join(b, cond)
    sim = jaccard(F.col("a.sh"), F.col("b.sh"))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            sim.alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signature(c: Column, num_hashes: int = 32) -> list[Column]:
    """k min-hashes of a shingle-array column, as expressions. Each hash
    family member is xxhash64(shingle, seed_i) — JVM-side, no UDF.

    Expression form only — when the shingle array is itself a derived
    column, projection collapse re-inlines its computation into every one
    of the k expressions. Use ``minhash_signatures`` (the explode/agg
    form) for real corpora; this form is for already-materialized arrays.
    """
    return [
        F.array_min(F.transform(c, lambda s: F.xxhash64(s, F.lit(i)))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) signature table via explode + hash-agg.

    Shingling runs ONCE per document; each exploded shingle row computes
    k seeded xxhash64 values and the k mins aggregate map-side before the
    single shuffle on id — shuffle rows are k longs per document
    regardless of document size. Same hash family as
    ``minhash_signature``, so the two forms agree bit-for-bit.
    """
    ex = shingle_hash_frame(df, id_col, text_col, n).select(
        "id", F.explode("sh").alias("s")
    )
    aggs = [
        F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy("id").agg(*aggs)


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    cache_handles: list | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: shingle → k minhashes → band buckets
    → self-join per bucket → exact Jaccard verify on candidates only.

    ``cache_handles``: optional caller-owned list; the persisted shingle
    frame is appended to it so long-lived sessions can ``unpersist()``
    after consuming the result. (The legacy ``.shingled_cache`` attribute
    on the returned DataFrame is best-effort only — any further transform
    produces a new DataFrame without it.)

    The band self-join shuffles on (band_idx, band_hash) — uniform keys,
    no skew beyond true duplicate clusters. Candidate count ≈ true-dup
    pairs, so the verify step is linear-ish, not quadratic.
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes evenly (got num_hashes={num_hashes}, "
            f"bands={bands}); a remainder would silently change the LSH "
            "threshold curve from the requested parameters"
        )
    rows_per_band = num_hashes // bands
    shingled = shingle_hash_frame(df, id_col, text_col, n)
    # The shingle frame feeds three plan branches (signatures + both
    # sides of the verify join); without persist each branch re-runs the
    # full tokenize+hash pass — persist trades one spill-able
    # materialization for two recomputes of the most expensive stage.
    # The cache lives until evicted (LRU) or released via cache_handles.
    shingled = shingled.persist()
    if cache_handles is not None:
        cache_handles.append(shingled)
    sig_src = shingled.select("id", F.explode("sh").alias("s"))
    sig = sig_src.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )

    band_cols = []
    for b in range(bands):
        members = [F.col(f"mh_{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.xxhash64(*members).alias("bh")))
    # Candidate generation carries ONLY (id, band, bh) through the shuffle —
    # shingle arrays are re-joined by id afterwards, so shuffle payload is
    # O(docs × bands × 16 bytes) regardless of document size.
    buckets = sig.select(
        "id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))

    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand_ids = (
        a.join(b_, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = shingled.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = shingled.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    cand = cand_ids.join(sh_a, "id_a").join(sh_b, "id_b")
    sim = jaccard(F.col("sh_a"), F.col("sh_b"))
    out = cand.select("id_a", "id_b", sim.alias("jaccard_sim")).filter(
        F.col("jaccard_sim") >= threshold
    )
    out.shingled_cache = shingled  # handle for explicit unpersist
    return out


# ---------------------------------------------------------------------------
# SimHash (64-bit)
# ---------------------------------------------------------------------------


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xx64",
) -> DataFrame:
    """SimHash per document, fully JVM-side.

    Explodes tokens (one shuffle on id), hashes each token, and for
    each bit position accumulates +1/-1 votes with shiftright/bitwise-and;
    the sign vector re-packs into a long. Documents with small
    Hamming distance between simhashes are near-duplicates.

    ``hash_fn``: ``'xx64'`` (default, 64-bit xxhash — fast path) or
    ``'md5'`` (60-bit md5-prefix hash, ~2× hash cost but reproducible in
    any SQL engine, so the full vote-and-pack pipeline is
    oracle-checkable; Hamming semantics are unchanged, just 60 usable
    bits).
    """
    if hash_fn not in ("xx64", "md5"):
        raise ValueError(f"hash_fn must be 'xx64' or 'md5', got {hash_fn!r}")
    if hash_fn == "md5":
        # r16 (guide §4.2): the md5-portable path ran as explode →
        # md5+conv per token → groupBy(id) with SIXTY sum(when(shiftright
        # &1)) vote columns — per token-row, 60 conditional aggregate
        # updates, plus the explode/groupBy shuffle, purely to fold
        # per-document work. The Arrow twin computes the identical
        # votes-and-pack per document inside one mapInArrow task
        # (hashlib md5 + one vectorized bit matrix per doc), no explode,
        # NO shuffle at all — the plan is scan → MapInArrow. Parity
        # (including the empty/whitespace-only doc → simhash 0 case and
        # the vote-tie → bit 0 rule) is pinned against this JVM form in
        # tests/test_dedup.py; interleaved noop A/B at sf0.1:
        # simhash_portable branch 1.76 s → see OPTIMIZATION_r16.md.
        # The xx64 fast path keeps the JVM form (no stdlib xxhash64).
        return _simhash60_md5_arrow(df, id_col, text_col)
    return _simhash64_expr(df, id_col, text_col, hash_fn)


def _simhash64_expr(
    df: DataFrame, id_col: str, text_col: str, hash_fn: str
) -> DataFrame:
    """The JVM expression form of :func:`simhash64` (both hash_fns) —
    the xx64 production path, and the md5 reference the Arrow twin's
    parity test pins against."""
    from .textstats import tokens

    n_bits = 64 if hash_fn == "xx64" else 60
    # explode_outer: a document whose text tokenizes to nothing still gets
    # a row (tok NULL → one deterministic vote vector, the same for every
    # empty document), instead of silently vanishing from the audit.
    toked = df.select(
        F.col(id_col).alias("id"), F.explode_outer(tokens(F.col(text_col))).alias("tok")
    )
    if hash_fn == "xx64":
        h = F.xxhash64(F.col("tok"))
    else:
        h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    votes = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"v{i}")
        for i in range(n_bits)
    ]
    agg = toked.groupBy("id").agg(*votes)
    packed = None
    for i in range(n_bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else F.when(bit == 1, F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        packed = term if packed is None else packed + term
    return agg.select("id", packed.alias("simhash"))


def _simhash60_md5_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Arrow-batched twin of the md5-portable SimHash: per document,
    lower-cased TOKEN_PATTERN tokens → md5-prefix 60-bit hashes → one
    vectorized ±1 vote matrix → sign-packed long. Vote semantics match
    :func:`_simhash64_expr` exactly: a tie (vote sum 0) packs bit 0, a
    document with no tokens (NULL/empty/whitespace-only text) packs 0
    (the JVM form's NULL-token vote vector is all −1). One output row
    per input row, computed where the row already lives — no explode,
    no shuffle."""

    def run(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa

        from animaltrackingetls_spark.operators.textstats import TOKEN_PATTERN

        tok_re = re.compile(TOKEN_PATTERN)
        shifts = np.arange(60, dtype=np.int64)
        weights = np.left_shift(np.int64(1), shifts)
        for b in batches:
            texts = b.column("_txt").to_pylist()
            out = np.zeros(len(texts), dtype=np.int64)
            for i, t in enumerate(texts):
                toks = tok_re.findall(t.lower()) if t is not None else []
                if not toks:
                    continue  # all-(-1) votes pack to 0, like the JVM form
                hs = np.fromiter(
                    (
                        int(hashlib.md5(tk.encode("utf-8")).hexdigest()[:15], 16)
                        for tk in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                bits = (hs[:, None] >> shifts) & np.int64(1)
                vote_sum = (2 * bits - 1).sum(axis=0)
                out[i] = int(((vote_sum > 0) * weights).sum())
            yield pa.RecordBatch.from_arrays(
                [b.column("id"), pa.array(out, type=pa.int64())],
                names=["id", "simhash"],
            )

    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    return base.mapInArrow(run, "id long, simhash long")


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-duplicate pairs with attribute blocking (see
    similarity.cosine for the expression). Blocking on a cluster/label
    column keeps the join from going quadratic; the LSH variant in
    `similarity.py` replaces the block with hyperplane buckets.

    ``block_col=None`` is refused: an unblocked self-join is a silent
    all-pairs cartesian — a scale-killer at 100 TB. Use
    ``similarity.lsh_topk`` buckets when no natural block exists.
    """
    from .similarity import cosine_with_norms, norm_expr

    if block_col is None:
        raise ValueError(
            "embedding_neardup_pairs requires a block column; an unblocked "
            "self-join is O(n^2). Use embedding_neardup_lsh when no natural "
            "block exists."
        )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.col(block_col).alias("blk"),
    ).withColumn("nrm", norm_expr(F.col("v")))
    a, b = base.alias("a"), base.alias("b")
    cond = (F.col("a.id") < F.col("b.id")) & (F.col("a.blk") == F.col("b.blk"))
    sim = cosine_with_norms(
        F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")
    )
    return (
        a.join(b, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_neardup_gemm(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
    chunk: int = 4096,
) -> DataFrame:
    """Same pair set as `embedding_neardup_pairs`, computed as one numpy
    GEMM per block (``applyInPandas``) instead of a self-join with an
    interpreted per-pair fold.

    The join form materializes every within-block candidate pair and
    evaluates a CodegenFallback 64-element `aggregate`/`zip_with` fold
    per pair (~µs each); here a block of m vectors costs a single
    m×d @ d×m matrix multiply (~ns per pair), and only surviving pairs
    are emitted — the quadratic candidate set never leaves numpy. The
    block-sized similarity strip is bounded by ``chunk`` rows at a time,
    so executor memory is O(chunk × block) regardless of block size.

    Similarity is dot(a,b)/(|a|·|b|), the same formula as the join form;
    reduction order differs (pairwise numpy sum vs sequential fold), so
    compare across engines on values rounded to ≤6 digits — exactly what
    the oracle gate does. Pairs are oriented id_a < id_b.
    """
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"id_a {id_type}, id_b {id_type}, cosine_sim double"
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULL-vector rows can never satisfy the threshold in the join
        # form (NULL cosine → filtered); drop them before the GEMM.
        # Mixed-dimension vectors likewise pair to NULL there (zip_with
        # pads with NULLs), so pairs only form WITHIN a length group —
        # GEMM each group separately instead of crashing on a ragged
        # matrix.
        pdf = pdf[pdf["v"].notna()]
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        empty = pd.DataFrame({"id_a": pdf["id"][:0], "id_b": pdf["id"][:0],
                              "cosine_sim": pd.Series([], dtype="float64")})
        if len(pdf) < 2:
            return empty
        frames = []
        for _dim, grp in pdf.groupby(pdf["v"].str.len(), sort=False):
            ids = grp["id"].reset_index(drop=True)
            m = len(grp)
            if m < 2:
                continue
            V = np.asarray(grp["v"].tolist(), dtype=np.float64)
            nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
            for s in range(0, m, chunk):
                e = min(s + chunk, m)
                S = V[s:e] @ V.T
                S /= np.outer(nrm[s:e], nrm)
                rows, cols = np.nonzero(S >= threshold)
                ia = ids.iloc[rows + s].to_numpy()
                ib = ids.iloc[cols].to_numpy()
                keep = ib > ia  # strict orientation, same as a.id < b.id
                rows, cols, ia, ib = rows[keep], cols[keep], ia[keep], ib[keep]
                if len(rows):
                    frames.append(pd.DataFrame({
                        "id_a": ia, "id_b": ib, "cosine_sim": S[rows, cols],
                    }))
        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True)

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.col(block_col).alias("blk"),
    ).filter(F.col("blk").isNotNull())
    # NULL-block rows are excluded (groupBy would treat NULL as a real
    # group; the join form's blk equality never matches NULL) — parity
    # with embedding_neardup_pairs requires the filter, not the group.
    return base.groupBy("blk").applyInPandas(score, out_schema)


def embedding_neardup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Blockless embedding near-dup: random-hyperplane LSH buckets stand
    in for the attribute block, then exact cosine verifies candidates.

    Each vector lands in one bucket per table; the self-join runs per
    (table, bucket) — expected bucket size n/2^planes, so the candidate
    count stays near-linear. Recall rises with ``n_tables`` (OR over
    independent tables); high thresholds need few planes' agreement
    because near-identical vectors share sign patterns.
    """
    from .similarity import _check_dim, _hyperplanes, cosine_with_norms, norm_expr

    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("nrm", norm_expr(F.col("v")))
    _check_dim(base, F.col("v"), dim, "embedding_neardup_lsh")
    # single scan; all tables' buckets via one numpy GEMM per Arrow batch
    from .aggregates import make_bucket_assigner

    assigner = make_bucket_assigner(
        [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )
    buckets = base.select(
        "id", "v", "nrm", F.posexplode(assigner(F.col("v"))).alias("tbl", "bkt")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
            F.col("a.nrm").alias("na"), F.col("b.nrm").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return cand.select("id_a", "id_b", sim.alias("cosine_sim")).filter(
        F.col("cosine_sim") >= threshold
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components)
# ---------------------------------------------------------------------------


def _large_star_round(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, Alg. 2): every node
    connects its strictly-LARGER neighbors to the minimum of its closed
    neighborhood. Input/output edges are (u, v) pairs with u != v in any
    orientation; output is oriented big→small (u > v)."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("u", "_mv").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star_round(e: DataFrame) -> DataFrame:
    """One small-star round (Kiveris et al. 2014, Alg. 3): orient every
    edge big→small, then every node connects its smaller neighbors (and
    itself) to the minimum of them. Output oriented big→small."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    nbr = d.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    own = mins.select("u", F.col("m").alias("v"))
    return nbr.union(own).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    mode: str = "auto",
    star_edge_threshold: int = 5_000_000,
    onetask_edge_threshold: int = 200_000,
    stats: dict | None = None,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components over an undirected edge list →
    ``(id, cluster_id)`` where ``cluster_id`` is the minimum node id in
    the component — the canonicalization step that turns pairwise
    near-dup hits (MinHash/LSH/Jaccard candidates) into dedup clusters.

    Two interchangeable distributed strategies, selected by ``mode``:

    * ``"propagate"`` — iterative min-label propagation: every node
      starts labeled with its own id; each round every node takes the
      min of its own label and its neighbors' labels (one equi-join +
      one partial-agg shuffle per round, O(|E|) shuffled bytes).
      **Rounds needed = max component diameter** — ideal for near-dup
      clusters, which are shallow (dups of a doc are dups of each
      other), so a handful of rounds converge.
    * ``"star"`` — alternating large-star/small-star rounds (Kiveris et
      al., "Connected Components in MapReduce and Beyond", 2014): each
      cycle rewrites the edge set so larger nodes point at ever-smaller
      component members; the fixpoint of both operations is a disjoint
      union of stars centered at each component's minimum node.
      **Converges in O(log n) cycles regardless of diameter** — the
      scale path for adversarial graphs (long chains, comment spam
      threads, boilerplate rings) where propagation's rounds-=-diameter
      becomes the superlinear cliff. Per cycle: two groupBy-min + two
      self-join shuffles, all keyed on node id.
    * ``"onetask"`` (r15) — union-find inside ONE Arrow task over the
      measured-small symmetrized edge set. An iterative distributed CC
      on a few-thousand-edge candidate graph is pure fixed overhead:
      every round is 2–4 Spark jobs (join + checkpoint + convergence
      action), and the r15 profile measured the bench resolver at 38
      jobs / 3.7 s with data that fits in one Arrow batch. Union-find
      with min-root linking computes the identical min-label fixpoint
      in O(E α(E)) — milliseconds — in a single task (NOT on the
      driver: the edges never leave the executors). Linking the larger
      root under the smaller makes the final root of every component
      its minimum id regardless of edge order, so the result is
      deterministic and partitioning-independent like the other modes.
    * ``"auto"`` (default) — ``onetask`` when the symmetrized edge
      count is under ``onetask_edge_threshold`` (conservatively sized:
      a Python union-find over 200k edges is ~0.1 s, far under one
      distributed round's fixed cost); ``star`` at or above
      ``star_edge_threshold``; else ``propagate``. Rationale:
      small candidate graphs are diameter-shallow in practice and the
      propagation round is ~2 shuffles vs star's ~4, while big graphs
      can't risk a deep chain; the thresholds are per-job tunable.

    Every round is ``localCheckpoint``-ed to truncate lineage — without
    it, round k's plan re-derives rounds 1..k-1 and the job goes
    quadratic. Convergence is detected with a 1-row action (label-sum
    fixpoint for propagate; edge-set count+hash signature for star). On
    a real cluster prefer ``df.checkpoint()`` to a reliable store:
    ``localCheckpoint`` pins blocks to executors and does not survive
    executor loss.

    The fixpoint is independent of partitioning and iteration order, so
    the result is deterministic (exercised against a DuckDB
    ``WITH RECURSIVE`` transitive-closure oracle). ``stats``, when
    passed, receives ``{"mode": ..., "rounds": n, "converged": bool}``
    for scale audits.

    If ``max_iter`` is exhausted before the fixpoint, the labels are
    WRONG (one true component reported as several) — by default that
    RAISES with guidance (``mode="star"`` converges in O(log n) cycles
    regardless of diameter; or raise ``max_iter``). Pass
    ``on_nonconverged="partial"`` only when fragmented labels are
    acceptable (diagnostics, round-capped experiments).
    """
    if on_nonconverged not in ("raise", "partial"):
        raise ValueError(
            f"on_nonconverged must be raise|partial, got {on_nonconverged!r}"
        )
    if mode not in ("auto", "propagate", "star", "onetask"):
        raise ValueError(
            f"mode must be auto|propagate|star|onetask, got {mode!r}"
        )
    sym = edges.select(
        F.col(src_col).cast("long").alias("src"), F.col(dst_col).cast("long").alias("dst")
    )
    sym = sym.union(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.distinct().localCheckpoint(eager=True)
    # Adaptive loop parallelism: iteration cost is per-round TASK
    # overhead × rounds, so a small edge set on many partitions pays
    # scheduler tax for nothing (measured ~2× on a 2.7k-edge graph at 32
    # partitions vs 4). count() on the just-materialized checkpoint is a
    # metadata-cheap action. Large graphs keep the session partitioning.
    n_sym = sym.count()
    small = n_sym < 1_000_000
    if mode == "auto":
        if n_sym < onetask_edge_threshold:
            mode = "onetask"
        elif n_sym >= star_edge_threshold:
            mode = "star"
        else:
            mode = "propagate"
    if small and mode in ("propagate", "star"):
        sym = sym.repartition(4).localCheckpoint(eager=True)

    run_stats: dict = {}
    if mode == "onetask":
        labels = _onetask_components(sym)
        run_stats.update({"rounds": 1, "converged": True})
    elif mode == "star":
        labels = _star_components(sym, max_iter, run_stats)
    else:
        labels = _propagate_components(sym, max_iter, run_stats, small=small)
    if stats is not None:
        stats.update(run_stats)
        stats["mode"] = mode
    if not run_stats.get("converged", True) and on_nonconverged == "raise":
        raise RuntimeError(
            f"connected_components ({mode}) did not converge in {max_iter} "
            "rounds — labels would fragment true components. Use "
            'mode="star" (O(log n) rounds at any diameter) or raise '
            'max_iter; pass on_nonconverged="partial" to accept '
            "fragmented labels."
        )
    return labels


def _onetask_components(sym: DataFrame) -> DataFrame:
    """Union-find CC over a measured-small symmetrized edge set in one
    Arrow task (see connected_components ``"onetask"``). The edges are
    coalesced into a single partition on the EXECUTOR side — nothing is
    collected to the driver — and min-root linking makes every
    component's final root its minimum node id, so the labels are the
    same fixpoint the iterative modes converge to, independent of edge
    arrival order."""

    def uf(batches):
        import pyarrow as pa

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for batch in batches:
            for u, v in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    if ru < rv:
                        parent[rv] = ru
                    else:
                        parent[ru] = rv
        if not parent:
            return
        ids = list(parent)
        yield pa.record_batch(
            {
                "id": pa.array(ids, pa.int64()),
                "cluster_id": pa.array([find(x) for x in ids], pa.int64()),
            }
        )

    # coalesce (narrow), not repartition: the one task reads the
    # checkpointed blocks directly with no extra shuffle write+read
    return sym.coalesce(1).mapInArrow(uf, "id long, cluster_id long")


def _propagate_components(
    sym: DataFrame, max_iter: int, stats: dict | None = None, small: bool = False
) -> DataFrame:
    """Min-label propagation body (see connected_components).

    ``small`` (set by the caller from the measured symmetrized edge
    count) broadcasts the per-round label frames into both joins: the
    label set is at most 2×|E| rows, so under the 1M-edge small-graph
    gate it always fits a broadcast, and each round's two shuffle
    exchanges collapse to one partial-agg shuffle — on a banded near-dup
    graph (thousands of edges) the loop is fixed-overhead-bound and this
    halves the per-round job count. Large graphs keep shuffle joins:
    broadcasting |V| rows there would be the actual scale bug."""
    labels = (
        sym.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint(eager=True)
    prev_sum = labels.agg(F.sum("comp")).first()[0]

    rounds = 0
    converged = False
    for _ in range(max_iter):
        lbl = F.broadcast(labels) if small else labels
        nbr_min = (
            sym.join(lbl, sym["dst"] == labels["id"])
            .select(sym["src"].alias("id"), "comp")
            .groupBy("id")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        if small:
            nbr_min = F.broadcast(nbr_min)
        labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias(
                    "comp"
                ),
            )
            .localCheckpoint(eager=True)
        )
        rounds += 1
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum

    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    return labels.select(F.col("id"), F.col("comp").alias("cluster_id"))


def _star_components(
    sym: DataFrame, max_iter: int, stats: dict | None = None
) -> DataFrame:
    """Alternating large-star/small-star body (see connected_components).

    ``sym`` is the symmetrized, deduped edge set. Convergence: a cycle
    (large + small) that leaves the edge-set signature — (count,
    bit_xor(xxhash64(u,v))) — unchanged means both operations hit their
    joint fixpoint, which Kiveris et al. prove is the star forest
    centered at component minima. The signature is one tiny action per
    cycle (XOR, not SUM: order-independent, duplicate-free input, and it
    cannot overflow under ANSI mode); a 64-bit collision masking a real
    change is ~2^-64 — and harmless anyway, because convergence is
    monotone and an extra cycle re-checks.
    """
    nodes = sym.select(F.col("src").alias("id")).distinct().localCheckpoint(eager=True)
    # Work on the big→small orientation of each undirected edge.
    e = (
        sym.filter(F.col("src") > F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .localCheckpoint(eager=True)
    )

    def _sig(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = _sig(e)
    cycles = 0
    converged = False
    for _ in range(max_iter):
        e = _large_star_round(e).localCheckpoint(eager=True)
        e = _small_star_round(e).localCheckpoint(eager=True)
        cycles += 1
        cur = _sig(e)
        if cur == prev:
            converged = True
            break
        prev = cur

    if stats is not None:
        stats["rounds"] = cycles
        stats["converged"] = converged
    # At the fixpoint every non-minimum node carries exactly one edge to
    # its component minimum; minima have only incoming edges. groupBy-min
    # (instead of trusting uniqueness) keeps the mapping well-defined
    # even if max_iter stopped short of the fixpoint.
    mapping = e.groupBy("u").agg(F.min("v").alias("comp"))
    return (
        nodes.join(mapping, nodes["id"] == mapping["u"], "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("cluster_id"))
    )


def dedup_clusters(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Resolve near-dup candidate pairs into clusters:
    ``(id, cluster_id, cluster_size)`` for every node that appears in at
    least one edge. ``cluster_id`` doubles as the keep-list key — keep
    ``id == cluster_id`` (the min-id representative), drop the rest.
    """
    cc = connected_components(edges, src_col, dst_col)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select("id", "cluster_id", "cluster_size")


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap)
# ---------------------------------------------------------------------------


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark-decontamination scan: for every corpus document, how many
    of its distinct word n-gram shingles appear anywhere in a benchmark
    corpus — the standard eval-contamination check run before pretraining
    (13-gram overlap in published practice; ``n`` is a parameter).

    Shape: the benchmark side is reduced to DISTINCT shingles and
    broadcast (eval suites are MBs against a corpus of TBs); the corpus
    is exploded to (id, shingle) and probes the broadcast hash map —
    no shuffle of corpus data for the join, and the per-doc re-aggregate
    is a partial-combine groupBy on the id. Corpus documents with zero
    overlap are kept (LEFT join) so the output is a complete per-doc
    report: ``(id, n_shingles, n_hits, contamination_frac,
    contaminated)``.
    """
    # shingle_frame binds tokens AND shingles through Generate nodes:
    # sh is referenced twice below (size + explode) and an unbound
    # expression would re-run the whole shingling per reference.
    sh = shingle_frame(corpus, id_col, text_col, n)
    exploded = sh.select("id", F.size("sh").alias("n_shingles"), F.explode_outer("sh").alias("s"))
    bench_sh = (
        benchmark.select(F.explode(word_shingles(F.col(bench_text_col), n)).alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    joined = exploded.join(F.broadcast(bench_sh), "s", "left")
    agg = joined.groupBy("id", "n_shingles").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits")
    )
    frac = F.col("n_hits").cast("double") / F.greatest(
        F.col("n_shingles"), F.lit(1)
    ).cast("double")
    return agg.select(
        "id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "n_hits",
        frac.alias("contamination_frac"),
        (F.col("n_hits") > 0).alias("contaminated"),
    )


def _portable_seeded_md5(seed: int):
    """One-arg lambda factory for seeded portable MinHash members. NOT
    ``lambda x, seed=seed: ...``: a two-parameter lambda makes pyspark's
    transform() call it as (element, index) — the default would be
    silently rebound to the index Column, and an f-string of it embeds
    the Column repr (with a global auto-naming counter), yielding wrong
    AND rebuild-unstable hashes. Measured, not hypothetical."""
    return lambda x: F.md5(F.concat(F.lit(f"{seed}:"), x))


def _portable_band_keys(
    bound: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, bk): portable md5-MinHash LSH band keys over a shingle frame
    — THE band-key definition, shared by the batch pipeline
    (minhash_candidate_pairs_portable) and the incremental one
    (incremental_dedup). One definition, one compatibility contract: a
    corpus bands table persisted by either is joinable by the other."""
    num_hashes = bands * rows_per_band
    hashes = [
        F.array_min(F.transform(F.col("sh"), _portable_seeded_md5(i)))
        for i in range(num_hashes)
    ]
    band_keys = [
        F.concat(
            F.lit(str(b)),
            *[hashes[b * rows_per_band + r] for r in range(rows_per_band)],
        )
        for b in range(bands)
    ]
    return bound.select("id", F.explode(F.array(*band_keys)).alias("bk"))


def minhash_candidate_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    bands: int = 2,
    rows_per_band: int = 3,
    threshold: float = 0.6,
    cache_handles: list | None = None,
) -> DataFrame:
    """MinHash + LSH banding with a *portable* hash family — each hash is
    ``md5(seed || ':' || shingle)`` — so the entire pipeline (signatures,
    band keys, candidate join, Jaccard verification) is bit-reproducible
    in any engine and therefore oracle-checkable, unlike the xxhash64
    variant (``minhash_candidate_pairs``) whose hash only exists JVM-side.

    Standard S-curve selectivity: a pair collides in a band with
    probability jac^rows_per_band, anywhere with
    1-(1-jac^r)^bands — at (r=3, b=2), jac=0.96 pairs are kept w.p.
    ~0.997 while jac=0.15 background pairs leak through at ~3e-3, which
    is what makes the candidate join output-bound instead of
    block-quadratic (measured at sf0.1: 2.8k candidates from 18M
    possible pairs). Shuffle carries (id, shingle-strings, band-key);
    at 100 TB carry 8-byte xxhash64 shingle hashes instead and verify
    Jaccard over hash sets — same plan, narrower rows (the string form
    here is what keeps the oracle exact).
    """
    num_hashes = bands * rows_per_band

    bound = shingle_frame(df, id_col, text_col, n)
    # r15: the band-key pass evaluates bands×rows_per_band seeded md5
    # members per shingle — the heaviest expression work in the
    # pipeline — and a single-row-group input would pin it to one or
    # two tasks (guide §2.5). Raise the cached layout to the core
    # floor (no-op when the scan is already that wide).
    from animaltrackingetls_spark.operators.layout import (
        ensure_scan_parallelism,
    )

    bound = ensure_scan_parallelism(bound)
    # Three plan branches read the shingle frame (band keys + both sides
    # of the verify rejoin); persist trades one materialization for two
    # re-tokenizations, same as minhash_candidate_pairs.
    bound = bound.persist()
    if cache_handles is not None:
        cache_handles.append(bound)
    # Band join on NARROW (id, band-key) rows only — shuffling the
    # shingle arrays through the self-join and the pair-dedup would move
    # the whole corpus text twice; instead the (small, output-bound)
    # candidate id-pairs fetch their shingle sets back with two joins
    # against the one-row-per-doc frame.
    banded = _portable_band_keys(bound, bands, rows_per_band)
    a, b2 = banded.alias("a"), banded.alias("b")
    cand_ids = (
        a.join(b2, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = bound.select("id", "sh")
    cand = cand_ids.join(
        sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sha")), "id_a"
    ).join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("shb")), "id_b")
    sim = jaccard(F.col("sha"), F.col("shb"))
    return cand.select("id_a", "id_b", sim.alias("jaccard_sim")).filter(
        F.col("jaccard_sim") >= threshold
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    bands: int = 2,
    rows_per_band: int = 3,
    threshold: float = 0.6,
    cache_handles: list | None = None,
) -> DataFrame:
    """Dedupe an incoming batch against an existing corpus WITHOUT
    re-comparing the corpus to itself — the incremental form a
    continuously-growing corpus actually runs: O(batch) new work per
    ingest instead of re-clustering 100 TB.

    Two layers, both new-batch-driven:

    * **Exact**: md5 content digests of the batch LEFT-join the corpus's
      digest set (in production: the persisted digest table of prior
      ingests). A hit is an ``exact_dup``.
    * **Near**: the exact-novel remainder computes portable-MinHash band
      keys (same family as ``minhash_candidate_pairs_portable``) and
      equi-joins the corpus's band keys (in production: the persisted
      bands table, partitioned by band key). Banded matches — and only
      those — are verified with bigram Jaccard; a verified hit is a
      ``near_dup``.

    Everything left is ``kept``. Output: ``(id, status, matched_id)``
    where matched_id is the MINIMUM matching corpus id (deterministic)
    and NULL for kept rows. Corpus-side digests/bands are recomputed
    here for self-containment; the join shapes are identical when they
    come from a store.
    """
    num_hashes = bands * rows_per_band

    def _bound(df: DataFrame) -> DataFrame:
        # each side's shingle frame feeds two plan branches (band keys +
        # the candidate-verify rejoin): persist spares one full
        # tokenize+shingle pass per side, released via cache_handles
        bound = shingle_frame(df, id_col, text_col, n).persist()
        if cache_handles is not None:
            cache_handles.append(bound)
        return bound

    def _band_keys(bound: DataFrame) -> DataFrame:
        # NARROW (id, band-key) rows only — the shingle arrays rejoin
        # per candidate pair below, so the band join's shuffle payload
        # is independent of document size (the store-backed production
        # form persists exactly this (id, bk) table). The key definition
        # is _portable_band_keys — ONE definition shared with the batch
        # pipeline, so persisted bands tables stay join-compatible.
        return _portable_band_keys(bound, bands, rows_per_band)

    new_fp = new_docs.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("fp")
    )
    corpus_fp = corpus.select(
        F.col(id_col).alias("cid"), F.md5(F.col(text_col)).alias("fp")
    ).groupBy("fp").agg(F.min("cid").alias("exact_match"))
    exact = new_fp.join(corpus_fp, "fp", "left").select("id", "exact_match")

    novel = new_docs.join(
        exact.filter(F.col("exact_match").isNotNull()).select("id"),
        F.col(id_col) == F.col("id"),
        "left_anti",
    )
    nbound = _bound(novel)
    cbound = _bound(corpus)
    nb = _band_keys(nbound)
    cb = _band_keys(cbound).select(F.col("id").alias("cid"), "bk")
    cand = nb.join(cb, "bk").dropDuplicates(["id", "cid"])
    near = (
        cand.join(nbound.select("id", "sh"), "id")
        .join(
            cbound.select(F.col("id").alias("cid"), F.col("sh").alias("csh")),
            "cid",
        )
        .filter(jaccard(F.col("sh"), F.col("csh")) >= threshold)
        .groupBy("id")
        .agg(F.min("cid").alias("near_match"))
    )

    out = exact.join(near, "id", "left")
    status = (
        F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
        .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    return out.select(
        "id",
        status.alias("status"),
        F.coalesce(F.col("exact_match"), F.col("near_match"))
        .cast("long")
        .alias("matched_id"),
    )


def digest_bitmap(
    df: DataFrame,
    fp_col: str = "fp",
    m_bits: int = 1 << 26,
) -> DataFrame:
    """Pack a digest set into an ``(w_idx, word)`` bitmap — a k=1 Bloom
    filter built entirely from JVM expressions (this Spark build does
    not SQL-register ``bloom_filter_agg``, and a UDF here would put the
    per-digest hot path in Python).

    Each digest sets bit ``xxhash64(fp) mod m_bits``; bits pack 64-per-
    row via ``bit_or(shiftleft(...))`` grouped on the word index, so the
    result has at most ``m_bits/64`` rows regardless of corpus size —
    ``m_bits = 2^26`` is ≤ 8 MiB, broadcastable. Build cost is one
    map-side-combined aggregation over the corpus (partial bit_or per
    partition, tiny shuffle). False-positive rate ≈ n/m for n corpus
    digests; no false negatives ever.
    """
    if m_bits < 64 or (m_bits & (m_bits - 1)) != 0:
        raise ValueError(f"m_bits must be a power of two >= 64, got {m_bits}")
    b = F.pmod(F.xxhash64(F.col(fp_col)), F.lit(m_bits))
    return (
        df.select(b.alias("b"))
        .groupBy(F.floor(F.col("b") / 64).cast("long").alias("w_idx"))
        .agg(F.expr("bit_or(shiftleft(1L, cast(b % 64 AS int)))").alias("word"))
    )


def bloom_new_docs(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 26,
) -> DataFrame:
    """Classify a batch against a corpus by content digest —
    ``(id, status)`` with status ``new`` or ``dup`` — using a broadcast
    bitmap prefilter so the expensive corpus join touches only bloom
    candidates.

    Three stages:

    1. **Prefilter** (map-side): every batch digest probes the broadcast
       :func:`digest_bitmap` with one bitwise AND. A clear bit proves the
       digest is NOT in the corpus (no false negatives) — those rows are
       emitted as ``new`` without ever joining the corpus.
    2. **Confirm** (shuffle, candidates only): rows whose bit is set are
       either genuine duplicates or bloom false positives (≈ n/m of the
       batch); only they equi-join the corpus digest set to split
       ``dup`` from FP-``new``.
    3. Union — the result is EXACT (identical to a full anti-join),
       which is what the DuckDB oracle checks.

    Why this beats a plain anti-join at 100 TB: the anti-join shuffles
    (or at best broadcast-hashes) every batch row against the corpus
    digest table; here the corpus-sized join input shrinks to dups+FPs.
    With a mostly-novel batch (the common ingest case) stage 2 handles a
    few percent of rows. In production the bitmap is built once per
    ingest epoch from the persisted digest table and cached; the confirm
    join prunes further if that table is digest-partitioned.
    """
    batch_fp = new_docs.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("fp")
    )
    corpus_fp = corpus.select(F.md5(F.col(text_col)).alias("fp")).distinct()
    bitmap = digest_bitmap(corpus_fp, "fp", m_bits)

    probe = (
        batch_fp.withColumn("b", F.pmod(F.xxhash64("fp"), F.lit(m_bits)))
        .withColumn("w_idx", F.floor(F.col("b") / 64).cast("long"))
        .withColumn("bit", F.expr("shiftleft(1L, cast(b % 64 AS int))"))
        .join(F.broadcast(bitmap), "w_idx", "left")
    )
    maybe = F.col("word").isNotNull() & (
        F.col("word").bitwiseAND(F.col("bit")) != 0
    )
    definitely_new = probe.filter(~maybe).select("id", F.lit("new").alias("status"))
    candidates = probe.filter(maybe).select("id", "fp")
    # ONE left join (not semi+anti, which would scan the corpus twice):
    # a hit row exists iff the digest is really in the corpus.
    confirmed = candidates.join(
        corpus_fp.withColumn("_hit", F.lit(1)), "fp", "left"
    ).select(
        "id",
        F.when(F.col("_hit").isNotNull(), F.lit("dup"))
        .otherwise(F.lit("new"))
        .alias("status"),
    )
    return definitely_new.unionByName(confirmed)


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exact span-level dedup — the paragraph/line dedup of C4 and CCNet
    (reference has no text dedup at all; this generalizes its row-level
    duplicate audit, catch_duplicates_script.py:55-67, down to spans
    within a document).

    The text is cut into consecutive NON-overlapping k-token spans; a
    span occurrence survives only if it is the corpus-wide FIRST
    occurrence of that exact span text (ordered by (id, pos)); each
    document is reassembled from its surviving spans in order.

    Returns ``(id, n_segments, n_kept, clean_text)`` — one row per
    document with at least one token (a document whose every span is a
    repeat comes back with n_kept=0 and clean_text=''; an empty-text
    document has no spans and no output row).

    Scale shape: one Generate (posexplode of the span array) on the
    scan; one shuffle keyed on span text for the first-occurrence
    window (each shuffle row is (span, id, pos) — bounded by k tokens
    regardless of document size); one shuffle back on id to reassemble.
    No joins, no driver-side state. At 100 TB the span key is
    Zipf-skewed (boilerplate spans are hot) — AQE skew handling (on in
    session.py) splits the hot partitions; dedup keyed on
    ``xxhash64(span)`` instead of the raw text is the narrower-shuffle
    variant when span reconstruction isn't needed.
    """
    if k < 1:
        raise ValueError(f"segment width k must be >= 1, got {k}")
    # Case-preserving token extraction (same family as textstats.tokens):
    # no empty tokens for whitespace-only or leading-whitespace text,
    # exact agreement with the regexp_extract_all-based oracle (the
    # explicit class sidesteps the Java/RE2 \S divergence on U+000B).
    from animaltrackingetls_spark.operators.textstats import TOKEN_PATTERN

    toks = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_PATTERN), F.lit(0))
    n_segs = F.floor((F.size(F.col("_toks")) + F.lit(k - 1)) / F.lit(k)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), F.col("_n_segs") - 1),
        lambda i: F.array_join(F.slice(F.col("_toks"), i * k + 1, k), " "),
    )
    spans = (
        df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
        .withColumn("_n_segs", n_segs)
        .select(
            "id",
            F.posexplode(
                F.when(F.col("_n_segs") > 0, segs).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("pos", "seg"),
        )
    )
    w = Window.partitionBy("seg").orderBy(F.asc("id"), F.asc("pos"))
    ranked = spans.withColumn("_rn", F.row_number().over(w))
    kept_struct = F.when(F.col("_rn") == 1, F.struct("pos", "seg"))
    return (
        ranked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.coalesce(
                F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("seg"),
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            F.col("id").alias(id_col), "n_segments", "n_kept", "clean_text"
        )
    )


def dup_gram_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
    materialize: bool = False,
) -> DataFrame:
    """(id, pos0, gh): every position whose k-gram md5 fingerprint occurs
    in >= min_docs distinct documents — the shared substrate of
    duplicate_spans (detection) and remove_duplicate_spans (keep-first
    election). Compute once and checkpoint when feeding both.

    ``materialize=True`` (r16b) eagerly checkpoints the raw gram frame
    before it forks into the dup-key build (groupBy side) and the probe
    side of the semi-join, so the tokenize + per-gram md5 pass runs
    ONCE instead of twice per execution (interleaved noop A/B on the
    spans pipeline at sf0.1: 1.67 s → 1.45 s median). The materialized
    frame is the same (id, pos0, gh) rows the groupBy shuffle already
    moves, so the extra I/O is shuffle-sized; the saved pass is the
    CPU-bound gram fingerprinting. Off by default: one-consumer callers
    keep the pure lazy plan."""
    from .textstats import tokens

    toked = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(F.coalesce(tokens(F.col(text_col)),
                               F.array().cast("array<string>")))
        ).alias("tk"),
    )
    # one fingerprint per k-gram start position (0-based); < k tokens -> none
    gram_hashes = F.when(
        F.size("tk") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - F.lit(k - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("tk"), i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toked.select("id", F.posexplode(gram_hashes).alias("pos0", "gh"))
    if min_docs <= 1:
        return grams.select("id", "pos0", "gh")
    if materialize:
        grams = grams.localCheckpoint(eager=True)
    if min_docs == 2:
        # r16 (guide §2.3/§2.4): "≥2 distinct ids" ⟺ min(id) != max(id),
        # which Spark computes with ONE exchange of narrow partial
        # min/max rows — count_distinct costs a second, WIDER exchange
        # of the expanded (gh, id) pairs before the per-gh count.
        # Result set is identical (parity pinned in tests); interleaved
        # noop A/B at sf0.1: 1.285 s → 1.183 s median. The probe side
        # was already unshuffled (planner builds the dup-key side as a
        # BroadcastHashJoin LeftSemi); this halves the build side.
        dup_grams = (
            grams.groupBy("gh")
            .agg(F.min("id").alias("_id_lo"), F.max("id").alias("_id_hi"))
            .filter(F.col("_id_lo") != F.col("_id_hi"))
            .select("gh")
        )
    else:
        dup_grams = (
            grams.groupBy("gh")
            .agg(F.count_distinct("id").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("gh")
        )
    return grams.join(dup_grams, "gh", "leftsemi").select("id", "pos0", "gh")


def _mark_islands(marked: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands over (id, pos0): a gram at pos0 covers tokens
    [pos0, pos0+k-1]; a gap > k between consecutive marked positions
    breaks coverage. Adds the per-document island id ``_isl``."""
    w = Window.partitionBy("id").orderBy("pos0")
    return (
        marked.withColumn("_prev", F.lag("pos0").over(w))
        .withColumn(
            "_brk",
            F.when(
                F.col("_prev").isNull() | (F.col("pos0") - F.col("_prev") > k),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_isl",
            F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
    gram_positions: DataFrame | None = None,
) -> DataFrame:
    """Cross-document duplicated SPANS — the token-level exact-substring
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed for Spark: their
    suffix-array scan becomes k-gram fingerprinting + a gaps-and-islands
    merge, which needs only groupBy/join/window primitives and scales as
    O(total tokens), not O(corpus²).

    A token k-gram whose md5 fingerprint occurs in ≥ ``min_docs``
    DISTINCT documents marks its k token positions as duplicated;
    overlapping/adjacent marked ranges within a document merge into
    maximal spans (window lag → island ids → per-island min/max). The
    md5-of-space-joined-tokens fingerprint is portable (tokens cannot
    contain whitespace, so the join is collision-free), making the whole
    operator replayable in an external SQL engine — the oracle shape.

    Returns ``(id, start, end, n_tokens, span_text)`` per maximal span,
    token positions 0-based inclusive, ``span_text`` the space-joined
    duplicated tokens.

    Scale shape: the corpus-wide shuffle carries only (id, pos, 16-byte
    hash) rows; document text is re-joined per *span* (output-bound),
    never per gram. At 100 TB swap md5 for xxhash64 (same plan, 8-byte
    keys) and pre-filter grams through a frequency sketch.
    """
    from .textstats import tokens

    marked = (
        gram_positions
        if gram_positions is not None
        else dup_gram_positions(df, id_col, text_col, k, min_docs)
    ).select("id", "pos0")
    isl = _mark_islands(marked, k)
    spans = isl.groupBy("id", "_isl").agg(
        F.min("pos0").alias("start"),
        (F.max("pos0") + F.lit(k - 1)).alias("end"),
    )
    # span_text needs each spanned doc's token array — re-tokenize only
    # the docs that HAVE spans (output-bound join, not a corpus pass)
    toked = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(F.coalesce(tokens(F.col(text_col)),
                               F.array().cast("array<string>")))
        ).alias("tk"),
    )
    return (
        spans.join(toked, "id")
        .select(
            "id",
            F.col("start").cast("long").alias("start"),
            F.col("end").cast("long").alias("end"),
            (F.col("end") - F.col("start") + 1).cast("long").alias("n_tokens"),
            F.concat_ws(
                " ",
                F.slice(
                    F.col("tk"),
                    F.col("start") + 1,
                    F.col("end") - F.col("start") + 1,
                ),
            ).alias("span_text"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
    keep_first: bool = True,
    spans: DataFrame | None = None,
    gram_positions: DataFrame | None = None,
) -> DataFrame:
    """Rewrite documents with cross-document duplicated spans excised —
    the removal step over :func:`duplicate_spans`' detection, i.e. what
    Lee et al. 2022 actually apply to the training corpus.

    ``keep_first=True`` elects survivors at the GRAM level: the corpus-
    wide first occurrence (minimum (doc id, pos)) of every duplicated
    k-gram is kept, every later occurrence is a cut position, and cut
    positions merge into maximal removal spans per document. Election
    must happen at gram granularity, not on merged span text: the same
    duplicated run merges with different neighbors in different
    documents (one doc's span may be two other docs' spans glued
    together), so distinct span strings would each look "first" and
    nothing would be removed. ``False`` removes every occurrence (the
    C4-style aggressive form). Tokens outside removed spans are
    reassembled in order, whitespace-normalized (tokenization already
    collapsed whitespace).

    Returns ``(id, n_tokens, n_removed, clean_text)``.

    Sharing with the detection side: pass ``gram_positions``
    (:func:`dup_gram_positions` output, ideally checkpointed) to feed
    BOTH this and :func:`duplicate_spans` from one corpus-wide gram
    pass. ``spans`` (a precomputed detection output) is honored only by
    the aggressive form — keep-first needs gram identity, which merged
    spans no longer carry.
    """
    from .textstats import tokens

    if keep_first:
        if spans is not None:
            raise ValueError(
                "remove_duplicate_spans(keep_first=True) cannot honor a "
                "precomputed spans= frame: keep-first elects survivors at "
                "gram granularity, which merged spans no longer carry, so "
                "the gram pass would be recomputed anyway. Pass "
                "gram_positions= (dup_gram_positions output) to share work, "
                "or use keep_first=False for the aggressive form spans= "
                "supports."
            )
        marked = (
            gram_positions
            if gram_positions is not None
            else dup_gram_positions(df, id_col, text_col, k, min_docs)
        )
        w = Window.partitionBy("gh").orderBy(F.asc("id"), F.asc("pos0"))
        cut_grams = (
            marked.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select("id", "pos0")
        )
        spans = _mark_islands(cut_grams, k).groupBy("id", "_isl").agg(
            F.min("pos0").alias("start"),
            (F.max("pos0") + F.lit(k - 1)).alias("end"),
        )
    elif spans is None:
        spans = duplicate_spans(
            df, id_col, text_col, k=k, min_docs=min_docs,
            gram_positions=gram_positions,
        )
    doc_spans = spans.groupBy("id").agg(
        F.collect_list(F.struct("start", "end")).alias("cut")
    )
    toked = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(F.coalesce(tokens(F.col(text_col)),
                               F.array().cast("array<string>")))
        ).alias("tk"),
    )
    joined = toked.join(doc_spans, "id", "left")
    cuts = F.coalesce(
        F.col("cut"), F.array().cast("array<struct<start:long,end:long>>")
    )
    positions = F.when(
        F.size("tk") > 0, F.sequence(F.lit(0), F.size("tk") - F.lit(1))
    ).otherwise(F.array().cast("array<int>"))
    keep_mask = F.filter(
        F.transform(
            positions,
            lambda i: F.when(
                F.size(
                    F.filter(cuts, lambda c: (i >= c["start"]) & (i <= c["end"]))
                )
                == 0,
                i,
            ),
        ),
        lambda x: x.isNotNull(),
    )
    kept = F.transform(keep_mask, lambda i: F.element_at(F.col("tk"), i + 1))
    return joined.select(
        "id",
        F.size("tk").cast("long").alias("n_tokens"),
        (F.size("tk") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 10,
) -> DataFrame:
    """CROSS-document boilerplate line removal — the C4/RefinedWeb rule
    that complements :func:`segment_dedup`'s within-corpus
    first-occurrence dedup: a line (exact text, non-blank after trim)
    appearing in ≥ ``min_docs`` DISTINCT documents is boilerplate
    (navigation, cookie banners, headers/footers) and is dropped from
    EVERY document, including the first; blank lines always survive.
    Returns ``(id, n_lines, n_kept, clean_text)`` with the document
    reassembled from surviving lines in original order.

    Scale shape: one Generate (posexplode of the line split) on the
    scan; one hash-agg shuffle keyed on line text for document
    frequencies (map-side partial combine — and the hot keys are
    exactly the boilerplate, which AQE's skew split handles); the
    qualifying line set is the tiny high-frequency HEAD of the
    distribution, so it broadcasts back; one shuffle on id reassembles.
    No corpus-wide window, no driver-side state. At 100 TB key the
    frequency agg on ``xxhash64(line)`` and confirm on a second pass if
    line reconstruction isn't needed downstream.
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    boiler = (
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy("line")
        .agg(F.count_distinct("id").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("line", F.lit(True).alias("_boiler"))
    )
    flagged = lines.join(F.broadcast(boiler), "line", "left")
    kept_struct = F.when(F.col("_boiler").isNull(), F.struct("pos", "line"))
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(F.col("_boiler").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("line"),
                ),
                "\n",
            ).alias("clean_text"),
        )
        .select(F.col("id").alias(id_col), "n_lines", "n_kept", "clean_text")
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.9,
    seed: int = 42,
    max_iter: int = 8,
    cell_expr: Column | None = None,
    round_digits: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup over an embedding column: k-means
    clusters bound the pairwise comparison (never all-pairs), then the
    greedy min-id rule drops any vector with a smaller-id neighbor at
    cosine >= threshold inside its cluster.

    Returns ``(id, cell, keep)`` for every input vector — keep=false
    means a smaller-id vector in the same cluster is within the
    threshold (that smaller vector, or its own smaller neighbor, is the
    surviving representative).

    Scale shape: the k-means training pass is the dominant cost and runs
    on a sample at real scale (same posture as ``similarity.ivf_topk``);
    the pairwise stage shuffles on cell id and compares only
    within-cell pairs — with balanced cells that is |cell|^2 * n_cells
    ~= N^2 / n_clusters work, tunable by n_clusters. The greedy rule is
    one-sided (a < b), so each pair is emitted once; no iteration, no
    driver loops.

    ``cell_expr`` swaps the k-means blocking for a caller-supplied cell
    id computed over the raw ``vec_col`` (e.g. sign bits of fixed
    coordinates, an md5 bucket, a saved IVF assignment). Trained cells
    group semantically-close vectors better; a PORTABLE cell_expr makes
    the whole operator replayable in ANSI SQL — the keep rule itself is
    a plain EXISTS over within-cell pairs, so only the blocking stands
    between this operator and a hash-checkable oracle. ``round_digits``
    rounds the cosine before the threshold test so an engine computing
    the same double sum in a different order cannot flip a borderline
    pair.
    """
    from .similarity import _as_double, cosine_with_norms, norm_expr

    base = emb.select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
        *([] if cell_expr is None else [cell_expr.cast("int").alias("cell")]),
    ).withColumn("nrm", norm_expr(F.col("vec")))
    if cell_expr is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = base.withColumn("features", array_to_vector(F.col("vec")))
        model = KMeans(
            k=n_clusters, seed=seed, maxIter=max_iter, featuresCol="features"
        ).fit(train)
        cells = model.transform(train).select(
            "id", "vec", "nrm", F.col("prediction").alias("cell")
        )
    else:
        cells = base.select("id", "vec", "nrm", "cell")

    a = cells.select(
        F.col("cell"),
        F.col("id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = cells.select(
        F.col("cell"),
        F.col("id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    sim = cosine_with_norms(
        F.col("vec_a"), F.col("vec_b"), F.col("nrm_a"), F.col("nrm_b")
    )
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    # one-sided within-cell pairs; a vector is dropped when ANY smaller id
    # sits within the threshold, so aggregate to the drop set first.
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(sim >= F.lit(float(threshold)))
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("_drop", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )


def pair_metrics(
    candidates: DataFrame,
    truth: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Candidate-set quality vs a ground-truth pair set: one row of
    (tp, fp, fn, precision, recall, f1) — the tuning loop for LSH
    band/row and threshold choices (run on a labeled sample, pick
    params, apply to the corpus).

    Pairs are canonicalized to (min, max) so orientation never splits a
    match. Plan: two full-outer-joinable sets → one equi-join + two
    anti-join counts, all on the pair key — O(|candidates|+|truth|)
    shuffled, nothing quadratic.
    """
    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(a_col), F.col(b_col)).alias("pa"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("pb"),
        ).distinct()

    c, t = canon(candidates), canon(truth)
    tp = c.join(t, ["pa", "pb"], "left_semi").count()
    fp = c.join(t, ["pa", "pb"], "left_anti").count()
    fn = t.join(c, ["pa", "pb"], "left_anti").count()
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    spark = candidates.sparkSession
    return spark.createDataFrame(
        [(tp, fp, fn, round(precision, 6), round(recall, 6), round(f1, 6))],
        "tp long, fp long, fn long, precision double, recall double, f1 double",
    )

"""Dedup operators: exact, Jaccard, MinHash LSH, SimHash, embedding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from animaltrackingetls_spark.operators import dedup
from animaltrackingetls_spark.plans.audit import assert_no_cartesian

BASE = "the quick brown fox jumps over the lazy dog again and again today"
DOCS = [
    (1, BASE),
    (2, BASE),                                   # exact dup of 1
    (3, BASE + " tomorrow"),                     # near dup of 1
    (4, "completely different content about spark query engines at scale"),
    (5, "completely different content about spark query engines at scale"),  # dup of 4
    (6, "unrelated short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates_groups(docs):
    d = docs.withColumn("fp", F.md5("text"))
    groups = dedup.exact_duplicates(d, ["fp"], "doc_id").collect()
    got = {(r.canonical_id, r.n_copies) for r in groups}
    assert got == {(1, 2), (4, 2)}


def test_drop_exact_duplicates_keeps_min_id(docs):
    d = docs.withColumn("fp", F.md5("text"))
    kept = {r.doc_id for r in dedup.drop_exact_duplicates(d, ["fp"], "doc_id").collect()}
    assert kept == {1, 3, 4, 6}


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got and (4, 5) in got and (1, 3) in got
    exact = {(r.id_a, r.id_b): r.jaccard_sim for r in pairs}
    assert exact[(1, 2)] == 1.0


def test_minhash_lsh_finds_dups_and_plan_is_joined(docs):
    cand = dedup.minhash_candidate_pairs(docs, threshold=0.5)
    assert_no_cartesian(cand)
    got = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (1, 2) in got and (4, 5) in got


def test_minhash_signature_forms_agree(spark, docs):
    from animaltrackingetls_spark.operators.dedup import (
        minhash_signature,
        minhash_signatures,
        shingle_hash_frame,
    )

    k = 8
    arr = shingle_hash_frame(docs).select("id", *minhash_signature(F.col("sh"), k))
    agg = minhash_signatures(docs, num_hashes=k)
    a = {r.id: tuple(r[f"mh_{i}"] for i in range(k)) for r in arr.collect()}
    b = {r.id: tuple(r[f"mh_{i}"] for i in range(k)) for r in agg.collect()}
    assert a == b


def test_simhash_near_dups_have_small_hamming(spark, docs):
    sh = {r.id: r.simhash for r in dedup.simhash64(docs).collect()}
    d = spark.createDataFrame(
        [(sh[1], sh[3]), (sh[1], sh[4])], "a long, b long"
    ).select(dedup.hamming64(F.col("a"), F.col("b")).alias("h"))
    near, far = [r.h for r in d.collect()]
    assert near < far
    assert near <= 8


def test_minhash_rejects_bad_band_split(docs):
    with pytest.raises(ValueError):
        dedup.minhash_candidate_pairs(docs, num_hashes=32, bands=5)


def test_lsh_neardup_rejects_dim_mismatch(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        dedup.embedding_neardup_lsh(emb, dim=64).collect()


def test_simhash_keeps_empty_documents(spark):
    df = spark.createDataFrame(
        [(1, "real content here"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    out = {r.id: r.simhash for r in dedup.simhash64(df).collect()}
    assert set(out) == {1, 2, 3}      # empty docs get a row, not dropped
    assert out[2] == out[3]            # ...and the same deterministic hash


def test_embedding_neardup_requires_block(spark):
    emb = spark.createDataFrame([(1, [1.0, 0.0], 0)], "vec_id long, embedding array<double>, label int")
    with pytest.raises(ValueError):
        dedup.embedding_neardup_pairs(emb, block_col=None)


def test_embedding_neardup_lsh_blockless(spark):
    import random

    rng = random.Random(3)
    rows = []
    for i in range(30):
        base = [1.0, 0.0, 0.0, 0.0]
        rows.append((i, [x + rng.gauss(0, 0.005) for x in base]))   # tight cluster
    for i in range(30, 60):
        rows.append((i, [rng.gauss(0, 1) for _ in range(4)]))       # noise
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup.embedding_neardup_lsh(df, dim=4, threshold=0.99, n_planes=3).collect()
    in_cluster = {(r.id_a, r.id_b) for r in pairs if r.id_a < 30 and r.id_b < 30}
    cross = [(r.id_a, r.id_b) for r in pairs if (r.id_a < 30) != (r.id_b < 30)]
    assert len(in_cluster) > 100   # most of the 435 cluster pairs recovered
    assert not cross               # no noise vector passes 0.99 cosine


def test_embedding_neardup_pairs(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.999, 0.01, 0.0], 0),   # near dup of 1
            (3, [0.0, 1.0, 0.0], 0),
            (4, [1.0, 0.0, 0.0], 1),      # same vector, different block → no pair
        ],
        "vec_id long, embedding array<double>, label int",
    )
    pairs = {(r.id_a, r.id_b) for r in dedup.embedding_neardup_pairs(emb, threshold=0.95).collect()}
    assert pairs == {(1, 2)}


def test_embedding_neardup_gemm_matches_join_form(spark):
    """The GEMM form is a drop-in for the join form: same pair set, same
    similarities at oracle rounding (6 digits), on a seeded mix of
    near-dups, noise, and cross-block twins."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [1.0, 0.2, 0.0, -0.5]
        rows.append((i, [x + rng.gauss(0, 0.01) for x in base], i % 3))
    for i in range(40, 80):
        rows.append((i, [rng.gauss(0, 1) for _ in range(4)], i % 3))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")

    def rounded(frame):
        return {
            (r.id_a, r.id_b, r.cs)
            for r in frame.select(
                "id_a", "id_b", F.round("cosine_sim", 6).alias("cs")
            ).collect()
        }

    join_pairs = rounded(dedup.embedding_neardup_pairs(df, threshold=0.8))
    gemm_pairs = rounded(dedup.embedding_neardup_gemm(df, threshold=0.8))
    assert join_pairs  # fixture actually produces pairs
    assert gemm_pairs == join_pairs


def test_embedding_neardup_gemm_chunking_and_edges(spark):
    """chunk smaller than the block must not change the output; blocks of
    size one (and an id-orientation check) are handled."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (5, [1.0, 0.0], 0),
            (2, [0.999, 0.01], 0),    # near dup of 5, id order reversed
            (9, [0.0, 1.0], 0),
            (7, [1.0, 0.0], 1),       # singleton block
        ],
        "vec_id long, embedding array<double>, label int",
    )
    full = dedup.embedding_neardup_gemm(df, threshold=0.95)
    tiny = dedup.embedding_neardup_gemm(df, threshold=0.95, chunk=1)
    want = {(2, 5)}
    assert {(r.id_a, r.id_b) for r in full.collect()} == want
    assert {(r.id_a, r.id_b) for r in tiny.collect()} == want


def test_duplicate_spans_finds_and_merges_cross_doc_runs(spark):
    """A 6-token run shared by three docs is found everywhere it occurs
    (twice in doc 5 → two separate spans, since the separator token is
    not duplicated); overlapping k-gram marks merge to ONE maximal span
    per run; docs with no shared grams or fewer than k tokens emit
    nothing."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta unique one text here"),
            (2, "intro words alpha beta gamma delta epsilon zeta trailing stuff"),
            (3, "totally different content with no duplicated pieces at all"),
            (4, "short doc"),
            (5, "x alpha beta gamma delta epsilon zeta y alpha beta gamma delta epsilon zeta z"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.id, r.start, r.end): (r.n_tokens, r.span_text)
        for r in dedup.duplicate_spans(docs, k=5, min_docs=2).collect()
    }
    run = (6, "alpha beta gamma delta epsilon zeta")
    assert out == {
        (1, 0, 5): run,
        (2, 2, 7): run,
        (5, 1, 6): run,
        (5, 8, 13): run,
    }


def test_duplicate_spans_distinct_doc_threshold(spark):
    """Repetition WITHIN one document does not count toward min_docs
    (count is over distinct doc ids); raising min_docs above the true
    sharing count silences the detection."""
    docs = spark.createDataFrame(
        [
            (1, "one two three four five six one two three four five six"),
            (2, "entirely different words in this second document body here"),
        ],
        "doc_id long, text string",
    )
    assert dedup.duplicate_spans(docs, k=5, min_docs=2).count() == 0
    shared = spark.createDataFrame(
        [
            (1, "one two three four five tail a"),
            (2, "one two three four five tail b"),
        ],
        "doc_id long, text string",
    )
    assert dedup.duplicate_spans(shared, k=5, min_docs=3).count() == 0
    got = dedup.duplicate_spans(shared, k=5, min_docs=2).collect()
    # "one two three four five tail" (the 'tail' token extends the run)
    assert {(r.id, r.start, r.end) for r in got} == {(1, 0, 5), (2, 0, 5)}


def test_embedding_neardup_gemm_null_and_ragged_vectors(spark):
    """NULL vectors and mixed dimensions must match the join form's
    semantics (NULL cosine → dropped; cross-dimension pairs → dropped)
    instead of crashing the ragged numpy conversion."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.999, 0.01], 0),
            (3, None, 0),              # NULL vector
            (4, [1.0, 0.0, 0.0], 0),   # different dimension
            (5, [0.999, 0.01, 0.0], 0),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    gemm = sorted((r.id_a, r.id_b) for r in
                  dedup.embedding_neardup_gemm(emb, threshold=0.95).collect())
    join = sorted((r.id_a, r.id_b) for r in
                  dedup.embedding_neardup_pairs(emb, threshold=0.95).collect())
    assert gemm == join == [(1, 2), (4, 5)]


def test_duplicate_spans_null_text(spark):
    """NULL text tokenizes to zero tokens: no grams, no crash, and the
    removal form reports 0/0 with empty clean_text."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, None), (3, "a b c d e g")],
        "doc_id long, text string",
    )
    spans = {(r.id, r.start, r.end) for r in dedup.duplicate_spans(docs, k=5).collect()}
    assert spans == {(1, 0, 4), (3, 0, 4)}
    out = {r.id: r for r in dedup.remove_duplicate_spans(docs, k=5).collect()}
    assert (out[2].n_tokens, out[2].n_removed, out[2].clean_text) == (0, 0, "")


def test_remove_duplicate_spans_keep_first_and_aggressive(spark):
    """keep_first elects the corpus-wide first occurrence (min doc id,
    start) and removes the rest; keep_first=False removes every
    occurrence; unaffected and empty docs pass through intact."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta unique one text here"),
            (2, "intro words alpha beta gamma delta epsilon zeta trailing stuff"),
            (3, "totally different content here today"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    first = {r.id: r for r in dedup.remove_duplicate_spans(docs, k=5).collect()}
    assert first[1].n_removed == 0  # first occurrence kept
    assert first[1].clean_text.startswith("alpha beta gamma")
    assert first[2].n_removed == 6
    assert first[2].clean_text == "intro words trailing stuff"
    assert first[3].n_removed == 0 and first[4].clean_text == ""

    allrm = {
        r.id: r
        for r in dedup.remove_duplicate_spans(docs, k=5, keep_first=False).collect()
    }
    assert allrm[1].n_removed == 6
    assert allrm[1].clean_text == "unique one text here"
    assert allrm[2].clean_text == "intro words trailing stuff"


def test_minhash_cache_handles_returned(docs):
    handles = []
    out = dedup.minhash_candidate_pairs(docs, threshold=0.5, cache_handles=handles)
    out.count()
    assert len(handles) == 1 and handles[0].is_cached
    handles[0].unpersist()
    assert not handles[0].is_cached


# ---------------------------------------------------------------------------
# Connected components / dedup clusters
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def chain_edges(spark):
    # Two components: a 5-node CHAIN 10-20-30-40-50 (min label must
    # propagate 4 hops — exercises the iteration, not just one join)
    # and a 2-node pair {60, 70}; 80 is isolated (no edges → absent).
    return spark.createDataFrame(
        [(20, 10), (20, 30), (40, 30), (40, 50), (70, 60)],
        "id_a long, id_b long",
    )


def test_connected_components_multi_hop_chain(chain_edges):
    got = {
        (r.id, r.cluster_id)
        for r in dedup.connected_components(chain_edges).collect()
    }
    assert got == {
        (10, 10), (20, 10), (30, 10), (40, 10), (50, 10),
        (60, 60), (70, 60),
    }


def test_connected_components_partitioning_independent(chain_edges):
    one = dedup.connected_components(chain_edges.repartition(1))
    many = dedup.connected_components(chain_edges.repartition(7))
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def test_connected_components_max_iter_caps_rounds(chain_edges):
    # One round only propagates one hop: the far chain end cannot reach
    # the min label yet, proving the loop (not a lucky plan) does the
    # work. mode="propagate" pins the ITERATIVE path — auto routes a
    # graph this small to the r15 one-task union-find, which has no
    # round cap by construction.
    partial = {
        (r.id, r.cluster_id)
        for r in dedup.connected_components(
            chain_edges, max_iter=1, on_nonconverged="partial",
            mode="propagate",
        ).collect()
    }
    assert (50, 10) not in partial
    assert (50, 40) in partial


def test_connected_components_raises_on_nonconvergence_by_default(chain_edges):
    """Fragmented labels are a CORRECTNESS failure, not a degraded
    result: exhausting max_iter must raise (with star-mode guidance),
    never silently return partial clusters. (mode="propagate": the
    round-capped path; auto's one-task route always converges.)"""
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain_edges, max_iter=1, mode="propagate")
    stats = {}
    dedup.connected_components(chain_edges, stats=stats)
    assert stats["converged"] is True


def test_connected_components_onetask_parity_and_auto_route(chain_edges):
    """r15 one-task union-find: identical labels to the iterative
    modes on the same graph, auto routes small graphs to it, and the
    output is partitioning-independent."""
    stats = {}
    got = sorted(
        map(tuple, dedup.connected_components(chain_edges, stats=stats).collect())
    )
    assert stats["mode"] == "onetask" and stats["converged"] is True
    prop = sorted(
        map(
            tuple,
            dedup.connected_components(chain_edges, mode="propagate").collect(),
        )
    )
    star = sorted(
        map(tuple, dedup.connected_components(chain_edges, mode="star").collect())
    )
    one = sorted(
        map(
            tuple,
            dedup.connected_components(
                chain_edges.repartition(7), mode="onetask"
            ).collect(),
        )
    )
    assert got == prop == star == one


def test_connected_components_onetask_threshold_routes_to_iterative(chain_edges):
    # over the one-task threshold, auto falls back to the iterative paths
    stats = {}
    dedup.connected_components(chain_edges, onetask_edge_threshold=1, stats=stats)
    assert stats["mode"] == "propagate"


def test_dedup_clusters_sizes(chain_edges):
    rows = dedup.dedup_clusters(None, chain_edges).collect()
    sizes = {r.id: r.cluster_size for r in rows}
    assert sizes[50] == 5 and sizes[60] == 2
    keep = {r.id for r in rows if r.id == r.cluster_id}
    assert keep == {10, 60}


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def test_contamination_overlap_counts(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # contains bench 3-grams
            (2, "zeta eta theta iota kappa"),        # no overlap
            (3, "alpha beta gamma zeta eta theta"),  # one bench 3-gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (101, "totally separate words here")],
        "bench_id long, text string",
    )
    out = {
        r.id: (r.n_shingles, r.n_hits, r.contaminated)
        for r in dedup.contamination_overlap(corpus, bench, n=3).collect()
    }
    # doc 1: 3 shingles, 2 hit ("alpha beta gamma", "beta gamma delta")
    assert out[1] == (3, 2, True)
    assert out[2] == (3, 0, False)
    assert out[3] == (4, 1, True)


def test_contamination_overlap_no_cartesian(spark):
    corpus = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "a b c")], "bench_id long, text string")
    assert_no_cartesian(dedup.contamination_overlap(corpus, bench, n=3))


def test_minhash_portable_finds_planted_near_dups(docs):
    d = docs.withColumn("n_chars", F.length("text"))
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidate_pairs_portable(
            d, n=2, threshold=0.5
        ).collect()
    }
    assert (1, 2) in pairs      # exact dup: identical signatures
    assert (4, 5) in pairs      # exact dup
    assert (1, 3) in pairs      # near dup: one appended word
    assert not any(6 in p for p in pairs)


def test_minhash_portable_no_cartesian_and_form(docs):
    out = dedup.minhash_candidate_pairs_portable(docs)
    assert_no_cartesian(out)
    assert out.columns == ["id_a", "id_b", "jaccard_sim"]


# ---------------------------------------------------------------------------
# Incremental dedup (batch vs existing corpus)
# ---------------------------------------------------------------------------


def test_incremental_dedup_statuses(spark):
    corpus = spark.createDataFrame(
        [(1, BASE), (2, "completely different content about spark query engines at scale")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, BASE),                    # exact dup of corpus 1
            (11, BASE + " tomorrow"),      # near dup of corpus 1
            (12, "wholly novel words never seen in any corpus document today"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: (r.status, r.matched_id)
        for r in dedup.incremental_dedup(new, corpus, n=2, threshold=0.5).collect()
    }
    assert out[10] == ("exact_dup", 1)
    assert out[11] == ("near_dup", 1)
    assert out[12] == ("kept", None)
    assert_no_cartesian(dedup.incremental_dedup(new, corpus, n=2, threshold=0.5))


def test_incremental_dedup_never_flags_corpus_rows(spark):
    # the corpus is not re-examined: output ids are exactly the batch ids
    corpus = spark.createDataFrame([(1, BASE), (5, BASE)], "doc_id long, text string")
    new = spark.createDataFrame([(9, "something else entirely")], "doc_id long, text string")
    ids = {r.id for r in dedup.incremental_dedup(new, corpus).collect()}
    assert ids == {9}


# ---------------------------------------------------------------------------
# segment_dedup / semantic_dedup
# ---------------------------------------------------------------------------


def test_segment_dedup_keep_first_and_reassembly(spark):
    rows = [
        (1, "a b c x y z"),        # spans: "a b c", "x y z" — both first
        (2, "a b c q q q"),        # "a b c" repeats doc1 → dropped
        (3, "x y z a b c"),        # both spans repeat → everything dropped
        (4, "q q q tail"),         # "q q q" repeats doc2; "tail" is new
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.segment_dedup(df, k=3).collect()}
    assert out[1].clean_text == "a b c x y z"
    assert (out[1].n_segments, out[1].n_kept) == (2, 2)
    assert out[2].clean_text == "q q q"
    assert (out[2].n_segments, out[2].n_kept) == (2, 1)
    assert out[3].clean_text == ""
    assert (out[3].n_segments, out[3].n_kept) == (2, 0)
    assert out[4].clean_text == "tail"  # short trailing span survives


def test_segment_dedup_within_doc_repeats_dropped(spark):
    df = spark.createDataFrame(
        [(1, "p q r p q r p q r")], "doc_id long, text string"
    )
    row = dedup.segment_dedup(df, k=3).collect()[0]
    assert row.clean_text == "p q r"
    assert (row.n_segments, row.n_kept) == (3, 1)


def test_segment_dedup_empty_text_no_row(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "word")], "doc_id long, text string"
    )
    out = dedup.segment_dedup(df, k=3).collect()
    assert [r.doc_id for r in out] == [3]


def test_segment_dedup_partitioning_independent(spark):
    rows = [(i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} uniq{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {(r.doc_id, r.n_kept, r.clean_text) for r in dedup.segment_dedup(df, k=2).collect()}
    b = {
        (r.doc_id, r.n_kept, r.clean_text)
        for r in dedup.segment_dedup(df.repartition(13), k=2).collect()
    }
    assert a == b


def test_segment_dedup_rejects_bad_k(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k must be"):
        dedup.segment_dedup(df, k=0)


def _greedy_semantic_keep(vectors, cells, threshold):
    """Brute-force oracle for the greedy min-id drop rule."""
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    keep = {}
    for i in sorted(vectors):
        dropped = any(
            j < i and cells[j] == cells[i] and cos(vectors[j], vectors[i]) >= threshold
            for j in vectors
        )
        keep[i] = not dropped
    return keep


def test_semantic_dedup_matches_greedy_rule(spark):
    import random

    rng = random.Random(11)
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(6)]
    rows = []
    for i in range(60):
        v = list(base[i % 6])
        jitter = 0.01 if i % 5 else 1.5  # every 5th vector is far off its base
        rows.append((i, [x + rng.gauss(0, jitter) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(df, n_clusters=4, threshold=0.95, seed=7)
    got = {r.vec_id: (r.cell, r.keep) for r in out.collect()}
    assert len(got) == 60
    vectors = {i: v for i, v in rows}
    cells = {i: got[i][0] for i in got}
    expected = _greedy_semantic_keep(vectors, cells, 0.95)
    assert {i: got[i][1] for i in got} == expected
    # near-identical jittered copies of the same base must actually dedup
    assert sum(1 for k in got.values() if not k[1]) > 0


def test_semantic_dedup_portable_cells_match_greedy_rule(spark):
    """cell_expr swaps the k-means blocking for a caller expression:
    the keep rule must follow the SAME greedy semantics over the given
    cells, the returned cell must BE the expression's value, and
    round_digits must round the cosine before the threshold test."""
    import random

    rng = random.Random(17)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    e = F.col("embedding")
    cell = (e[0] > 0).cast("int") * 2 + (e[1] > 0).cast("int")
    out = dedup.semantic_dedup(
        df, threshold=0.5, cell_expr=cell, round_digits=6
    )
    got = {r.vec_id: (r.cell, r.keep) for r in out.collect()}
    assert len(got) == 50
    vectors = {i: v for i, v in rows}
    want_cells = {
        i: int(v[0] > 0) * 2 + int(v[1] > 0) for i, v in vectors.items()
    }
    assert {i: c for i, (c, _) in got.items()} == want_cells
    expected = _greedy_semantic_keep(vectors, want_cells, 0.5)
    assert {i: k for i, (_, k) in got.items()} == expected


def test_semantic_dedup_threshold_monotone(spark):
    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    loose = dedup.semantic_dedup(df, n_clusters=2, threshold=0.1, seed=5)
    tight = dedup.semantic_dedup(df, n_clusters=2, threshold=0.999, seed=5)
    n_loose = sum(1 for r in loose.collect() if r.keep)
    n_tight = sum(1 for r in tight.collect() if r.keep)
    assert n_loose <= n_tight  # lower threshold drops at least as many


# ---------------------------------------------------------------------------
# digest_bitmap / bloom_new_docs
# ---------------------------------------------------------------------------


def test_digest_bitmap_rejects_bad_sizes(spark):
    df = spark.createDataFrame([("a",)], "fp string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.digest_bitmap(df, m_bits=63)
    with _pytest.raises(ValueError):
        dedup.digest_bitmap(df, m_bits=100)  # not a power of two


def test_digest_bitmap_is_bounded_and_populated(spark):
    df = spark.range(500).selectExpr("md5(cast(id AS string)) AS fp")
    bm = dedup.digest_bitmap(df, m_bits=1 << 12).collect()
    assert 0 < len(bm) <= (1 << 12) // 64
    assert all(r.word != 0 for r in bm)


def test_bloom_new_docs_matches_exact_anti_join(spark):
    # overlapping digests: batch ids 50..149, corpus ids 0..99 share text
    # for ids 50..99 (same text <=> same md5)
    corpus = spark.range(100).selectExpr(
        "id AS doc_id", "concat('text-', id) AS text"
    )
    batch = spark.range(50, 150).selectExpr(
        "id + 1000 AS doc_id", "concat('text-', id) AS text"
    )
    out = {r.id: r.status for r in dedup.bloom_new_docs(batch, corpus).collect()}
    assert len(out) == 100
    for i in range(50, 150):
        expected = "dup" if i < 100 else "new"
        assert out[i + 1000] == expected, (i, out[i + 1000])


def test_bloom_new_docs_exact_under_heavy_fp_rate(spark):
    # m_bits=64 (one word): nearly every probe is a bloom candidate, so
    # the confirm join must still produce the exact answer
    corpus = spark.range(30).selectExpr("id AS doc_id", "concat('c', id) AS text")
    batch = spark.range(60).selectExpr(
        "id + 500 AS doc_id", "concat('c', id) AS text"
    )
    out = {r.id: r.status for r in dedup.bloom_new_docs(batch, corpus, m_bits=64).collect()}
    assert all(out[i + 500] == ("dup" if i < 30 else "new") for i in range(60))


def test_bloom_prefilter_actually_prunes(spark):
    # disjoint digest sets + a roomy bitmap: almost every batch row must
    # skip the confirm join (bit clear), proving the prefilter prunes
    corpus = spark.range(200).selectExpr("id AS doc_id", "concat('c', id) AS text")
    batch = spark.range(200).selectExpr(
        "id + 10000 AS doc_id", "concat('b', id) AS text"
    )
    from pyspark.sql import functions as F

    batch_fp = batch.select(F.md5("text").alias("fp"))
    corpus_fp = corpus.select(F.md5("text").alias("fp")).distinct()
    bitmap = dedup.digest_bitmap(corpus_fp, m_bits=1 << 20)
    probe = (
        batch_fp.withColumn("b", F.pmod(F.xxhash64("fp"), F.lit(1 << 20)))
        .withColumn("w_idx", F.floor(F.col("b") / 64).cast("long"))
        .withColumn("bit", F.expr("shiftleft(1L, cast(b % 64 AS int))"))
        .join(F.broadcast(bitmap), "w_idx", "left")
    )
    n_candidates = probe.filter(
        F.col("word").isNotNull() & (F.col("word").bitwiseAND(F.col("bit")) != 0)
    ).count()
    assert n_candidates < 20  # expected ~200 * 200/2^20 << 1


def test_drop_exact_duplicates_prefer_policy(spark):
    df = spark.createDataFrame(
        [
            (1, "k1", 5), (2, "k1", 50), (3, "k1", 50),  # ties on score → min id
            (4, "k2", 7),
        ],
        "doc_id long, fp string, n_tokens int",
    )
    kept_default = {
        r.doc_id for r in dedup.drop_exact_duplicates(df, ["fp"], "doc_id").collect()
    }
    assert kept_default == {1, 4}  # min id wins
    kept_longest = {
        r.doc_id
        for r in dedup.drop_exact_duplicates(
            df, ["fp"], "doc_id", prefer=[F.desc("n_tokens")]
        ).collect()
    }
    assert kept_longest == {2, 4}  # highest score, id tiebreak on the 50s


def test_pair_metrics_counts_and_orientation(spark):
    cand = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    truth = spark.createDataFrame(
        [(2, 1), (4, 3), (7, 8)], "id_a long, id_b long"  # reversed orientation
    )
    row = dedup.pair_metrics(cand, truth).first()
    assert (row.tp, row.fp, row.fn) == (2, 1, 1)
    assert row.precision == round(2 / 3, 6)
    assert row.recall == round(2 / 3, 6)


def test_pair_metrics_tunes_lsh_against_jaccard_truth(docs):
    # ground truth: blocked exact n-gram Jaccard; candidates: MinHash-LSH
    truth = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).select("id_a", "id_b")
    cand = dedup.minhash_candidate_pairs(docs, threshold=0.5).select("id_a", "id_b")
    row = dedup.pair_metrics(cand, truth).first()
    assert row.recall >= 0.5  # LSH finds the seeded dups
    assert row.tp >= 2


def test_star_mode_long_chain_bounded_rounds(spark):
    """A diameter-120 chain with shuffled (non-monotone) ids: propagation
    would need ~120 rounds; the large-star/small-star alternation must
    converge in O(log n) cycles with the same min-id labeling."""
    import random

    rng = random.Random(7)
    ids = list(range(1000, 1000 + 121))
    rng.shuffle(ids)  # adversarial: chain order != id order
    pairs = [(ids[i], ids[i + 1]) for i in range(120)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")

    stats: dict = {}
    got = {
        (r.id, r.cluster_id)
        for r in dedup.connected_components(
            edges, mode="star", stats=stats
        ).collect()
    }
    expect_min = min(ids)
    assert got == {(i, expect_min) for i in ids}
    assert stats["mode"] == "star"
    # log2(121) ~ 7; allow slack but stay far under the 120-diameter bound
    assert stats["rounds"] <= 12


def test_star_mode_matches_propagation_on_random_graph(spark):
    import random

    rng = random.Random(13)
    nodes = list(range(500))
    pairs = {
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(400)
    }
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs], "id_a long, id_b long"
    )
    star = sorted(
        map(tuple, dedup.connected_components(edges, mode="star").collect())
    )
    prop = sorted(
        map(
            tuple,
            dedup.connected_components(edges, mode="propagate", max_iter=60).collect(),
        )
    )
    assert star == prop


def test_auto_mode_selects_by_edge_count(chain_edges):
    stats: dict = {}
    dedup.connected_components(chain_edges, stats=stats).collect()
    assert stats["mode"] == "onetask"  # tiny graph -> one-task union-find
    stats2: dict = {}
    dedup.connected_components(
        chain_edges, onetask_edge_threshold=0, stats=stats2
    ).collect()
    assert stats2["mode"] == "propagate"  # onetask off: small graph propagates
    stats3: dict = {}
    dedup.connected_components(
        chain_edges, onetask_edge_threshold=0, star_edge_threshold=1,
        stats=stats3,
    ).collect()
    assert stats3["mode"] == "star"  # threshold crossed -> star rounds


def test_remove_boilerplate_lines_drops_cross_doc_lines(spark):
    """Lines in >= min_docs distinct docs vanish from EVERY doc; unique
    body lines and blank lines survive in original order."""
    docs = spark.createDataFrame(
        [
            (1, "NAV MENU\nunique one\n\nfooter (c) 2024"),
            (2, "NAV MENU\nunique two\nfooter (c) 2024"),
            (3, "NAV MENU\nunique three\nfooter (c) 2024"),
            (4, "all alone here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.remove_boilerplate_lines(docs, min_docs=3).collect()
    }
    assert out[1].clean_text == "unique one\n"      # blank line survives
    assert (out[1].n_lines, out[1].n_kept) == (4, 2)
    assert out[2].clean_text == "unique two"
    assert out[3].clean_text == "unique three"
    assert out[4].clean_text == "all alone here"    # df=1 everywhere: untouched


def test_remove_boilerplate_duplicate_line_within_one_doc_counts_once(spark):
    # same line twice in ONE doc is df=1, not df=2 — count_distinct(id)
    docs = spark.createDataFrame(
        [(1, "repeat\nrepeat"), (2, "other")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup.remove_boilerplate_lines(docs, min_docs=2).collect()}
    assert out[1].clean_text == "repeat\nrepeat"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.remove_boilerplate_lines(docs, min_docs=1)


# ---------------------------------------------------------------------------
# duplicate_spans property test vs a pure-Python reference
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _ref_duplicate_spans(corpus: dict, k: int, min_docs: int) -> set:
    """Brute-force reference: mark every k-gram occurring in >= min_docs
    distinct docs, merge marks closer than k into maximal spans."""
    grams: dict = {}
    for i, tk in corpus.items():
        for p in range(len(tk) - k + 1):
            grams.setdefault(tuple(tk[p : p + k]), set()).add(i)
    dup = {g for g, ids in grams.items() if len(ids) >= min_docs}
    out = set()
    for i, tk in corpus.items():
        marked = [p for p in range(len(tk) - k + 1) if tuple(tk[p : p + k]) in dup]
        cur, prev = None, None
        spans = []
        for p in marked:
            if prev is None or p - prev > k:
                if cur:
                    spans.append(cur)
                cur = [p, p]
            else:
                cur[1] = p
            prev = p
        if cur:
            spans.append(cur)
        for s, e in spans:
            out.add((i, s, e + k - 1, e + k - s, " ".join(tk[s : e + k])))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.sampled_from(list("abcde")), min_size=0, max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_duplicate_spans_matches_python_reference(spark, doc_tokens):
    """Over a tiny alphabet (dense gram collisions — the adversarial
    case for island merging) the Spark operator and the brute-force
    Python reference must emit identical span sets."""
    corpus = {i: toks for i, toks in enumerate(doc_tokens)}
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in corpus.items()],
        "doc_id long, text string",
    )
    got = {
        (r.id, r.start, r.end, r.n_tokens, r.span_text)
        for r in dedup.duplicate_spans(df, k=3, min_docs=2).collect()
    }
    assert got == _ref_duplicate_spans(corpus, k=3, min_docs=2)


def test_dup_gram_positions_minmax_route_matches_count_distinct(spark):
    """min_docs=2 routes to the one-exchange min(id)!=max(id) build
    (r16); its row set must equal the general count_distinct form on a
    corpus with within-doc repetition (repeats in ONE doc must not
    count as 'distinct docs') and cross-doc duplicates."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e a b c d e"),   # self-repeat only
            (2, "a b c d e x y z w v"),   # shares the 5-gram with 1
            (3, "p q r s t u p q r s"),   # unique grams
        ],
        "doc_id long, text string",
    )
    fast = {
        (r.id, r.pos0, r.gh)
        for r in dedup.dup_gram_positions(docs, k=5, min_docs=2).collect()
    }
    # reference: the general path (min_docs=3 exercises it; rebuild the
    # =2 answer via the public general form by bumping a shared doc)
    general = (
        docs.sparkSession.createDataFrame(
            [(9, "a b c d e")], "doc_id long, text string"
        ).unionByName(docs)
    )
    slow3 = {
        (r.id, r.pos0, r.gh)
        for r in dedup.dup_gram_positions(general, k=5, min_docs=3).collect()
    }
    # 'a b c d e' now lives in docs {1,2,9}: the only gram meeting
    # min_docs=3 — and exactly the gram the fast route must find at
    # min_docs=2 in the original corpus
    assert {g for (_, _, g) in fast} == {g for (_, _, g) in slow3}
    assert {(i, p) for (i, p, _) in fast} == {
        (1, 0), (1, 5), (2, 0)
    }


def test_dup_gram_positions_materialized_matches_lazy(spark):
    # r16b: materialize=True checkpoints the raw gram frame before it
    # forks into build and probe sides — row set must be identical
    docs = spark.createDataFrame(
        [
            (1, "a b c d e a b c d e"),
            (2, "a b c d e x y z w v"),
            (3, "p q r s t u p q r s"),
            (4, "x y z w v a b c d e"),
        ],
        "doc_id long, text string",
    )
    lazy = {
        (r.id, r.pos0, r.gh)
        for r in dedup.dup_gram_positions(docs, k=5, min_docs=2).collect()
    }
    mat = {
        (r.id, r.pos0, r.gh)
        for r in dedup.dup_gram_positions(
            docs, k=5, min_docs=2, materialize=True
        ).collect()
    }
    assert mat == lazy and lazy


def test_embedding_neardup_gemm_excludes_null_blocks(spark):
    """NULL block labels never join in the pairs form (NULL equality);
    the GEMM form must exclude them too, not group them together."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], None),
            (2, [0.999, 0.01], None),
            (3, [1.0, 0.0], "a"),
            (4, [0.999, 0.01], "a"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    gemm = {(r.id_a, r.id_b) for r in
            dedup.embedding_neardup_gemm(emb, threshold=0.95).collect()}
    join = {(r.id_a, r.id_b) for r in
            dedup.embedding_neardup_pairs(emb, threshold=0.95).collect()}
    assert gemm == join == {(3, 4)}


def test_ngram_jaccard_inverted_index_matches_pair_join(spark):
    """The threshold>0 inverted-index path and the threshold<=0 pair-join
    path must agree pair-for-pair (the index path may only drop J=0
    pairs, which a client-side filter reproduces)."""
    from animaltrackingetls_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "a", 40),
        (2, "the quick brown fox jumps over a lazy dog", "a", 41),
        (3, "completely different text with no overlap here", "a", 46),
        (4, "the quick brown fox jumps over the lazy dog", "b", 40),  # other block
        (5, "quick brown fox jumps over the lazy", "a", 36),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, n_chars long")
    via_index = {
        (r.id_a, r.id_b): round(r.jaccard_sim, 9)
        for r in ngram_jaccard_pairs(
            df, n=2, threshold=0.1, block_cols=["source"], length_band=10
        ).collect()
    }
    all_pairs = ngram_jaccard_pairs(
        df, n=2, threshold=0.0, block_cols=["source"], length_band=10
    ).collect()
    via_pairs = {
        (r.id_a, r.id_b): round(r.jaccard_sim, 9)
        for r in all_pairs
        if r.jaccard_sim >= 0.1
    }
    assert via_index == via_pairs and via_index  # non-degenerate
    # blocking respected: doc 4 (other source) pairs with nobody
    assert not [k for k in via_index if 4 in k]


def test_remove_duplicate_spans_keep_first_across_merge_boundaries(spark):
    """The island merge can glue two shared runs into ONE span in one
    doc while they stay separate spans in others — span-text election
    would see three distinct strings and remove nothing. Gram-level
    election must still cut doc2's copies (doc1/doc3 own the first
    occurrences)."""
    run_a = "alpha beta gamma delta epsilon"          # 5 tokens = one gram
    run_b = "zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, run_a + " filler one two three four"),
            (2, run_a + " " + run_b),                  # runs adjacent: merge
            (3, "pre amble words here now " + run_b),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in dedup.remove_duplicate_spans(docs, k=5).collect()}
    # first occurrences by (doc id, pos): run_a belongs to doc1, run_b
    # to doc2 (doc2 precedes doc3) — exactly ONE copy of each survives
    assert out[1].n_removed == 0
    assert out[2].n_removed == 5 and out[2].clean_text == run_b
    assert out[3].n_removed == 5
    assert out[3].clean_text == "pre amble words here now"
    # the old span-TEXT election saw three distinct merged strings here
    # (doc2's two runs glue into one span) and removed nothing


def test_ngram_jaccard_max_shingle_df_exact_above_cap(spark):
    """max_shingle_df high enough to cap nothing -> bit-identical output;
    emitted pairs under a tight cap keep their EXACT uncapped Jaccard
    (hot overlap is added back), and only pairs whose entire overlap is
    over-cap shingles are dropped."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat today fine"),
            (2, "the cat sat on the mat today ok"),
            (3, "a dog ran in the park quickly now"),
            (4, "a dog ran in the park quickly now extra"),
            (5, "the cat sat zzz qqq www eee rrr"),
        ],
        "doc_id long, text string",
    )

    def pairs(**kw):
        return sorted(
            (r.id_a, r.id_b, round(r.jaccard_sim, 6))
            for r in dedup.ngram_jaccard_pairs(docs, **kw).collect()
        )

    assert pairs(threshold=0.2, max_shingle_df=100) == pairs(threshold=0.2)

    # 'the cat sat' has df=3 (docs 1,2,5): with cap=2 it cannot generate
    # candidates. (1,5)/(2,5) overlap ONLY on it -> dropped; (1,2) also
    # shares rare shingles -> kept, with the hot gram still counted.
    uncapped = {(a, b): s for a, b, s in pairs(threshold=0.01)}
    capped = {(a, b): s for a, b, s in pairs(threshold=0.01, max_shingle_df=2)}
    assert set(uncapped) - set(capped) == {(1, 5), (2, 5)}
    for k, s in capped.items():
        assert s == uncapped[k]  # exact, not rare-only, similarity


def test_ngram_jaccard_degenerate_block_bounded(spark):
    """Adversarial block: one shingle present in EVERY document. With the
    cap, the inverted-index join's per-shingle fan-out is bounded by the
    cap, the universal shingle generates no candidates, and true near-dup
    pairs (sharing rare shingles) still come out exact."""
    n = 200
    rows = [(i, f"common gram here unique{i} t{i} u{i} v{i}") for i in range(n)]
    # one genuine near-dup pair that ALSO contains the universal shingle
    rows.append((n, "common gram here unique7 t7 u7 v7 tail"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.4, max_shingle_df=5
        ).collect()
    }
    assert set(out) == {(7, n)}
    # doc 7: 5 shingles, doc n: 6 shingles, 5 shared (incl. the hot one)
    assert abs(out[(7, n)] - 5 / 6) < 1e-9


def test_minhash_portable_partitioning_independent(spark):
    """r15: the operator raises its cached layout's parallelism
    internally (ensure_scan_parallelism before persist) — candidate
    pairs and verified similarities must be identical whatever the
    input partitioning."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap at all"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    one = sorted(
        map(
            tuple,
            dedup.minhash_candidate_pairs_portable(
                docs.repartition(1), n=2, bands=2, rows_per_band=3, threshold=0.6
            ).collect(),
        )
    )
    many = sorted(
        map(
            tuple,
            dedup.minhash_candidate_pairs_portable(
                docs.repartition(5), n=2, bands=2, rows_per_band=3, threshold=0.6
            ).collect(),
        )
    )
    assert one == many and (1, 4) in {(a, b) for a, b, _ in one}


def test_simhash_md5_arrow_twin_matches_jvm_expression_form(spark):
    """The r16 Arrow-batched md5 SimHash must equal the JVM explode +
    60-vote-aggregate form bit-for-bit, including the edge rows: empty
    text, whitespace-only text, NULL text (all pack 0 — the all-(-1)
    vote vector), mixed case (tokens lower-case first), and vote ties."""
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "Alpha BETA gamma DELTA"),   # must equal doc 1 (lowercasing)
        (3, ""),
        (4, "   \t\n\x0b\f\r "),
        (5, None),
        (6, "solo"),
        (7, "x y"),                       # 2 tokens: ties pack bit 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = {r.id: r.simhash for r in dedup.simhash64(df, hash_fn="md5").collect()}
    jvm = {
        r.id: r.simhash
        for r in dedup._simhash64_expr(df, "doc_id", "text", "md5").collect()
    }
    assert arrow == jvm
    assert arrow[1] == arrow[2]
    assert arrow[3] == arrow[4] == arrow[5] == 0

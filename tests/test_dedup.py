"""Dedup operator semantics on the documents fixture (sf0.001) plus
hand-built near-dup cases. MinHash-LSH is validated against exact n-gram
Jaccard (no false positives; recall on true dups)."""

from __future__ import annotations

from pyspark.sql import functions as F

from uma_etl_iis_loader_spark.io import read_fixture
from uma_etl_iis_loader_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill and the rain falls quietly outside the house"
)


def _docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, BASE.replace("quietly", "loudly")),  # near-dup of 1
        (4, "completely different text about spark query engines and shuffles"),
        (5, "Yet another unrelated document mentioning parquet column pruning"),
        (6, BASE + " extra trailing sentence appended here"),  # near-dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_identical_texts(spark):
    out = {r.keep_id: r.dup_count for r in exact_dedup(_docs(spark)).collect()}
    assert out[1] == 2  # docs 1 and 2 share a fingerprint
    assert sum(out.values()) == 6


def test_exact_dedup_keeps_distinct_cyrillic_docs(spark, tmp_path):
    """The canonical form keeps Unicode letters: two distinct Russian
    documents must not share a fingerprint (an ASCII-only canonical form
    maps both to md5("") and merges them), while case and punctuation
    variants of one document still do. The same fingerprint decides the
    zero-gram verify of dedup_increment, so distinct short Russian docs
    must both survive there too."""
    from uma_etl_iis_loader_spark.operators.dedup import (
        build_minhash_index,
        dedup_increment,
    )

    docs = spark.createDataFrame(
        [
            (1, "Привет, мир!"),
            (2, "Добрый вечер"),
            (3, "привет   мир"),
        ],
        "doc_id long, text string",
    )
    out = {r.keep_id: r.dup_count for r in exact_dedup(docs).collect()}
    assert out == {1: 2, 2: 1}

    idx = str(tmp_path / "idx")
    short = spark.createDataFrame([(10, "да")], "doc_id long, text string")
    build_minhash_index(short, idx, num_hashes=16, bands=4)
    shard = spark.createDataFrame(
        [(11, "ну"), (12, "ДА")], "doc_id long, text string"
    )
    got = dedup_increment(
        shard, idx, num_hashes=16, bands=4, update_index=False
    )
    assert {r.doc_id for r in got["survivors"].collect()} == {11}


def test_ngram_jaccard_finds_near_dups(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert (1, 6) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def _path_plans(docs, threshold):
    """The two lazy ngram_jaccard_pairs path builders over one gram
    table: (naive inverted-index join, PPJoin prefix filter)."""
    from uma_etl_iis_loader_spark.operators.dedup import (
        _df_ordered_grams,
        _gram_table,
        _naive_pairs,
        _prefix_pairs,
    )

    g = _gram_table(docs, "doc_id", "text", 3, False)
    return (
        _naive_pairs(g, threshold),
        _prefix_pairs(_df_ordered_grams(g), threshold),
    )


def test_prefix_filter_matches_naive_inverted_index(spark, sf_dir):
    """PPJoin prefix-filtered path must return EXACTLY the naive join's
    pairs — on the hand-built corpus and on the real documents fixture."""
    for docs, t in [
        (_docs(spark), 0.5),
        (read_fixture(spark, sf_dir, "documents"), 0.35),
    ]:
        naive, fast = _path_plans(docs, t)
        assert set(map(tuple, fast.collect())) == set(
            map(tuple, naive.collect())
        )


def test_minhash_lsh_matches_exact_jaccard(spark):
    docs = _docs(spark)
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, n=5, threshold=0.5, char_level=True
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, n=5, threshold=0.5, char_level=True
        ).collect()
    }
    # verify step kills false positives → LSH output ⊆ exact
    assert lsh <= exact
    # 16 bands × 4 rows at jaccard ≥ 0.5 → collision prob ≈ 1-(1-0.5^4)^16 ≈ 0.65/pair;
    # identical docs (jaccard 1.0) always collide
    assert (1, 2) in lsh
    assert len(lsh) >= len(exact) - 1  # at most one borderline pair missed


def _docs_with_empties(spark):
    """_docs plus zero-gram documents (empty / shorter than n): they
    share the sentinel MinHash signature, so they bucket-collide with
    each other — operator and reference must agree on dropping them."""
    rows = [(7, ""), (8, "ab"), (9, ""), (10, None)]
    return _docs(spark).unionByName(
        spark.createDataFrame(rows, "doc_id long, text string")
    )


def test_minhash_lsh_grouped_equals_join_verify(spark):
    """LAW: the per-bucket Arrow verify emits the IDENTICAL pair set as
    the candidate-pair-join reference (tests/dedup_reference.py) —
    including on zero-gram docs, where the operator filters the sentinel
    bucket before bucketing and the reference drops the same pairs via
    0/0→NULL Jaccard."""
    from dedup_reference import minhash_join_verify_pairs

    docs = _docs_with_empties(spark)
    kw = dict(num_hashes=64, bands=16, n=5, threshold=0.5, char_level=True)
    grouped = {
        (r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, **kw).collect()
    }
    join = {
        (r.id_a, r.id_b)
        for r in minhash_join_verify_pairs(docs, **kw).collect()
    }
    assert grouped == join and len(grouped) > 0
    # no sentinel pairs: empty docs never pair under either strategy
    assert all(a < 7 and b < 7 for a, b in grouped)


def test_minhash_lsh_sig_margin_preserves_pairs(spark):
    """The estimate-first cascade with a generous margin (0.35 → false-
    negative bound exp(-2·0.35²·64) ≈ 1e-7 per pair) emits the same
    pair set as the exhaustive verify."""
    docs = _docs(spark)
    kw = dict(num_hashes=64, bands=16, n=5, threshold=0.5, char_level=True)
    base = {
        (r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, **kw).collect()
    }
    casc = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, sig_margin=0.35, **kw).collect()
    }
    assert casc == base


def _persistent_rdd_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_lsh_pin_releases_both_caches(spark):
    """Both internal caches (signature frame + collision-stats frame)
    are released before the call returns: the only NEW persisted RDD
    after the call is the localCheckpoint of the pair output itself, and
    the session's CacheManager holds nothing.

    Accounting diffs persistent-RDD ID SETS rather than totals: in a
    shared long-suite session the ContextCleaner unpersists earlier
    tests' orphaned RDDs asynchronously, so a global count can shift
    mid-test (observed full-suite flake); ids created by THIS test are
    strongly referenced and immune to that cleanup."""
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    out = minhash_lsh_pairs(_docs(spark), num_hashes=64, bands=16, n=5,
                            threshold=0.5)
    assert len(_persistent_rdd_ids(spark) - before) == 1  # checkpoint only
    assert _cache_manager_empty(spark)
    assert out.count() > 0


def test_failing_action_releases_caches(spark):
    """A raise inside the operators' own actions (here: the gram UDF
    meeting an integer text column) must not leave cached intermediates
    behind in the session — the prefix-filter Jaccard path and MinHash
    LSH each hold caches across an action that fails."""
    import pytest

    spark.catalog.clearCache()
    bad = spark.createDataFrame(
        [(1, 11), (2, 22), (3, 33)], "doc_id long, text long"
    )
    with pytest.raises(Exception):
        ngram_jaccard_pairs(bad, threshold=0.7)
    assert _cache_manager_empty(spark)
    with pytest.raises(Exception):
        minhash_lsh_pairs(bad)
    assert _cache_manager_empty(spark)


def test_minhash_lsh_chained_subset_and_closure(spark):
    """Representative chaining above max_bucket: (a) chained pairs ⊆
    unbounded pairs (never a false positive), (b) on a duplicate FAMILY
    (one bucket, all pairs qualify) the star edges reach every member,
    so connected_components restores the family cluster exactly."""
    from uma_etl_iis_loader_spark.operators.dedup import (
        connected_components,
    )

    # a 10-copy family (identical docs: every pair J=1.0) + distinct noise
    rows = [(i, BASE) for i in range(1, 11)] + [
        (11, "unrelated words about columnar storage and row groups"),
        (12, "another distinct text mentioning adaptive query execution"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=64, bands=16, n=5, threshold=0.5, char_level=True)
    full = minhash_lsh_pairs(docs, **kw)
    chained = minhash_lsh_pairs(docs, max_bucket=4, **kw)
    sf = {(r.id_a, r.id_b) for r in full.collect()}
    sc = {(r.id_a, r.id_b) for r in chained.collect()}
    assert sc <= sf
    assert len(sc) < len(sf)  # the family bucket really chained (9 < 45)
    comp_full = {(r.node, r.comp) for r in connected_components(full).collect()}
    comp_chained = {
        (r.node, r.comp) for r in connected_components(chained).collect()
    }
    assert comp_full == comp_chained


def test_minhash_lsh_candidate_budget_guard(spark):
    """max_candidate_pairs raises BEFORE verify work with the measured
    mass and the banding recipe; a sufficient budget (and the chaining-
    adjusted mass) passes."""
    import pytest

    docs = _docs(spark)
    kw = dict(num_hashes=64, bands=16, n=5, threshold=0.5, char_level=True)
    with pytest.raises(RuntimeError, match="16 bands x 4 rows"):
        minhash_lsh_pairs(docs, max_candidate_pairs=1, **kw)
    assert _cache_manager_empty(spark)  # the guard's raise releases caches
    # generous budget: runs to completion
    assert (
        minhash_lsh_pairs(docs, max_candidate_pairs=10_000, **kw).count() > 0
    )
    # chaining ceiling shrinks the budgeted mass: a 10-copy family is
    # 45 pairs/bucket unbounded but 9 with max_bucket=4 — a budget
    # between the two passes only with chaining accounted
    fam = spark.createDataFrame(
        [(i, BASE) for i in range(1, 11)], "doc_id long, text string"
    )
    with pytest.raises(RuntimeError, match="candidate budget exceeded"):
        minhash_lsh_pairs(fam, max_candidate_pairs=200, **kw)
    assert (
        minhash_lsh_pairs(
            fam, max_candidate_pairs=200, max_bucket=4, **kw
        ).count()
        > 0
    )


def test_lsh_bucket_stats_predict_candidate_pairs(spark, tmp_path):
    """The telemetry's candidate_pairs equals the pair join's actual
    pre-distinct candidate volume (Σ n·(n−1)/2 over colliding buckets),
    identical docs land in one bucket per band, and the persisted-index
    face agrees with the from-docs face."""
    from uma_etl_iis_loader_spark.operators.dedup import (
        build_minhash_index,
        lsh_bucket_balance,
        lsh_bucket_stats,
        lsh_index_bucket_stats,
    )

    docs = _docs(spark)
    kw = dict(num_hashes=64, bands=16, n=5, char_level=True)
    stats = lsh_bucket_stats(docs, **kw)
    bal = lsh_bucket_balance(stats)
    # docs 1 and 2 are identical -> they share all 16 band buckets, so
    # candidate mass is at least 16 pairs
    assert bal["candidate_pairs"] >= 16
    assert bal["max_bucket"] >= 2 and bal["n_buckets"] >= 16
    # cross-check against the raw band-entry self-join count
    from uma_etl_iis_loader_spark.operators.dedup import (
        _band_entries,
        minhash_signature,
    )

    sigs = minhash_signature(docs, "doc_id", "text", 64, 5, True)
    be = _band_entries(sigs, 16, 4)
    raw = (
        be.alias("a").join(be.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id")).count()
    )
    assert bal["candidate_pairs"] == raw

    # persisted-index face matches (index built from the same corpus,
    # char-level 5-grams are not the index default -> pass explicitly)
    idx = str(tmp_path / "lshidx")
    build_minhash_index(docs, idx, num_hashes=64, bands=16, n=5,
                        char_level=True)
    bal2 = lsh_bucket_balance(lsh_index_bucket_stats(spark, idx))
    assert bal2 == bal

    # bounded accounting: a 10-copy family fills one size-10 bucket per
    # band; with ceiling 4 each counts 9 chain comparisons, not 45 —
    # the same arithmetic the in-operator budget guard applies
    fam = spark.createDataFrame(
        [(i, BASE) for i in range(1, 11)], "doc_id long, text string"
    )
    fs = lsh_bucket_stats(fam, **kw)
    assert lsh_bucket_balance(fs)["candidate_pairs"] == 16 * 45
    assert lsh_bucket_balance(fs, max_bucket=4)["candidate_pairs"] == 16 * 9


def test_simhash_flags_exact_and_near(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(_docs(spark), max_hamming=3).collect()
    }
    assert (1, 2) in pairs  # identical text → identical signature
    assert not any(4 in p or 5 in p for p in pairs)


def test_fixture_dedup_runs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert exact_dedup(docs).count() > 0
    assert minhash_lsh_pairs(docs, n=5, char_level=True).count() >= 0


def test_embedding_cosine_tiled_matches_crossjoin(spark, sf_dir):
    """The tiled block-matmul self-join is EXACT: identical pair set to
    the crossJoin reference (tests/dedup_reference.py) on the
    embeddings fixture, at a mid threshold
    where qualifying pairs sit barely above t (the regime where LSH
    cannot be used and the exact path must carry the load)."""
    from dedup_reference import crossjoin_cosine_pairs

    from uma_etl_iis_loader_spark.operators.dedup import embedding_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in crossjoin_cosine_pairs(emb, threshold=0.45).collect()
    }
    for blocks in (1, 4, 8):
        tiled = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs(
                emb, threshold=0.45, blocks=blocks
            ).collect()
        }
        assert tiled == exact, blocks
        assert all(a < b for a, b in tiled)


def test_adaptive_path_selection(spark, sf_dir, monkeypatch):
    """The threshold picks the naive inverted-index join below the
    cutoff and PPJoin prefix filtering at/above it — pinned by which
    builder runs and by plan shape: the prefix path carries the
    df-ordering aggregate (a collect_list over the (df, gram) order),
    the naive path does not."""
    from uma_etl_iis_loader_spark.operators import dedup

    docs = read_fixture(spark, sf_dir, "documents")
    built = []
    for name in ("_naive_pairs", "_prefix_pairs"):
        real = getattr(dedup, name)

        def spy(*a, _name=name, _real=real):
            built.append(_name)
            return _real(*a)

        monkeypatch.setattr(dedup, name, spy)
    assert 0.35 < dedup.PREFIX_FILTER_MIN_THRESHOLD <= 0.7
    hi = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.7)
    dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.35)
    assert built == ["_prefix_pairs", "_naive_pairs"]
    monkeypatch.undo()

    naive, prefix = _path_plans(docs, 0.7)
    naive_plan = naive._jdf.queryExecution().optimizedPlan().toString()
    prefix_plan = prefix._jdf.queryExecution().optimizedPlan().toString()
    # the prefix path's signature operator: df-ordered gram reassembly
    assert "collect_list" not in naive_plan  # naive: no ordering aggregate
    assert "collect_list" in prefix_plan  # prefix: (df, gram) reassembly
    # and both paths stay exact: adaptive output == naive output
    assert sorted(map(tuple, hi.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_connected_components_shapes(spark):
    """Chains, stars, isolated pairs — every node labeled with the min id
    reachable; empty input keeps the (node, comp) schema."""
    from uma_etl_iis_loader_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (30, 31), (30, 32), (32, 33)],
        "id_a long, id_b long",
    )
    out = sorted(map(tuple, connected_components(pairs).collect()))
    assert out == [
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
        (30, 30), (31, 30), (32, 30), (33, 30),
    ]
    empty = connected_components(spark.createDataFrame([], "id_a long, id_b long"))
    assert empty.columns == ["node", "comp"] and empty.count() == 0


def test_connected_components_matches_union_find(spark):
    """Randomized graph vs a driver-side union-find reference — pins the
    exact-components claim (the recursive-CTE oracle checks the same
    property at the query level). A 60-node path buried in the random
    edges also exercises >1 propagation round (pointer-jump collapse)."""
    import random

    from uma_etl_iis_loader_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges = {(rng.randrange(200), rng.randrange(200)) for _ in range(150)}
    edges |= {(i, i + 1) for i in range(300, 360)}  # long path component
    edges = [(a, b) for a, b in edges if a != b]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = sorted((n, find(n)) for n in parent)

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = sorted(map(tuple, connected_components(pairs).collect()))
    assert got == expected


def test_deduplicate_corpus_keeps_one_per_component(spark):
    from uma_etl_iis_loader_spark.operators.dedup import deduplicate_corpus

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in deduplicate_corpus(docs, pairs).collect()
    )
    # component {1,2,3} -> keep 1; {5,6} -> keep 5; unpaired 4,7 kept
    assert kept == [1, 4, 5, 7]


def test_connected_components_string_ids(spark):
    """Ids keep their input type — string/UUID doc ids must cluster, not
    silently cast to NULL (which would make deduplicate_corpus a no-op)."""
    from uma_etl_iis_loader_spark.operators.dedup import (
        connected_components,
        deduplicate_corpus,
    )

    pairs = spark.createDataFrame(
        [("aa", "bb"), ("bb", "cc"), ("xx", "yy")], "id_a string, id_b string"
    )
    exp = [("aa", "aa"), ("bb", "aa"), ("cc", "aa"), ("xx", "xx"), ("yy", "xx")]
    assert sorted(map(tuple, connected_components(pairs).collect())) == exp
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in ["aa", "bb", "cc", "xx", "yy", "zz"]],
        "doc_id string, text string",
    )
    kept = sorted(r.doc_id for r in deduplicate_corpus(docs, pairs).collect())
    assert kept == ["aa", "xx", "zz"]


def test_incremental_index_parity_and_idempotence(spark, sf_dir, tmp_path):
    """Persisted-index incremental dedup: (1) pair recall parity — the
    incremental run's pairs restricted to (old,new)+(new,new) equal the
    batch LSH run's pairs over the full corpus (same seeded hash family,
    same banding); (2) idempotence — re-incrementing the same shard finds
    every doc a dup of the corpus copy, zero survivors."""
    from uma_etl_iis_loader_spark.operators.dedup import (
        build_minhash_index,
        dedup_increment,
        minhash_lsh_pairs,
    )

    docs = read_fixture(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    idx = str(tmp_path / "lsh_index")
    kw = dict(num_hashes=64, bands=16, n=3, char_level=False)

    build_minhash_index(old, idx, **kw)
    out = dedup_increment(new, idx, threshold=0.35, **kw)

    batch = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.35, **kw).collect()
    }
    batch_old_new = {(a, b) for a, b in batch if a < 250 <= b}
    batch_new_new = {(a, b) for a, b in batch if a >= 250}
    got_old = {
        (min(r.id_old, r.id_new), max(r.id_old, r.id_new))
        for r in out["pairs_old"].collect()
    }
    got_new = {(r.id_a, r.id_b) for r in out["pairs_new"].collect()}
    assert got_old == batch_old_new
    assert got_new == batch_new_new

    # survivor contract: dropped ⇔ has a corpus match or a smaller-id
    # shard match
    dropped = {b for _, b in got_new} | {max(a, b) for a, b in got_old}
    surv = {r.doc_id for r in out["survivors"].collect()}
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    assert surv == new_ids - dropped

    # idempotence: the survivors were appended to the index, so the same
    # shard re-incremented (without re-appending) dies entirely
    again = dedup_increment(new, idx, threshold=0.35, update_index=False, **kw)
    assert again["survivors"].count() == 0


def test_dedup_increment_telemetry_counts_colliding_buckets_only(spark):
    """The ingest guard's n_buckets telemetry matches the batch guard's
    colliding-bucket semantics: singleton shard buckets with zero
    candidate mass (no index collision, <2 shard members) are excluded.
    A shard of one index-dup + two distinct docs must report at most
    `bands` buckets (the dup's collisions), not every shard (band,
    bucket) group."""
    import tempfile

    from uma_etl_iis_loader_spark.operators.dedup import (
        build_minhash_index,
        dedup_increment,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(0, base)], "doc_id long, text string"
    )
    shard = spark.createDataFrame(
        [
            (10, base),  # exact dup of the indexed doc: collides per band
            (11, "completely unrelated first text about gardening tools"),
            (12, "another disjoint document discussing maritime law"),
        ],
        "doc_id long, text string",
    )
    idx = tempfile.mkdtemp(prefix="dedup_telem_") + "/idx"
    kw = dict(num_hashes=16, bands=4, n=3, char_level=False)
    build_minhash_index(corpus, idx, **kw)
    out = dedup_increment(
        shard, idx, threshold=0.5, update_index=False,
        max_candidate_pairs=10_000, **kw
    )
    t = out["telemetry"]
    # the dup collides in every band (identical text -> identical
    # signature); the two distinct docs' singleton buckets contribute
    # zero mass and must not inflate the count
    assert t["candidate_mass"] >= 4
    assert 1 <= t["n_buckets"] <= 4  # never the ~12 total shard groups
    assert t["max_new"] >= 1 and t["max_old"] >= 1


def test_dedup_increment_fails_loudly_on_bands_without_grams(spark):
    """A band entry whose id has no gram row means the index's two tables
    diverged (external corruption — the grams-first write order cannot
    produce it). The verify join must raise, not silently drop the
    candidate and wave the duplicate through."""
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.operators.dedup import (
        build_minhash_index,
        dedup_increment,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox document number {i} with shared words")
         for i in range(5)],
        "doc_id long, text string",
    )
    idx = tempfile.mkdtemp(prefix="dedup_corrupt_") + "/idx"
    kw = dict(num_hashes=16, bands=4, n=3, char_level=False)
    build_minhash_index(docs, idx, **kw)
    # corrupt: clone every band entry under a phantom id with no gram row
    bands = spark.read.parquet(f"{idx}/bands")
    bands.withColumn("id", F.col("id") + 10_000).write.mode(
        "append"
    ).partitionBy("band").parquet(f"{idx}/bands")

    with pytest.raises(Exception, match="LSH index corrupt"):
        dedup_increment(
            docs, idx, threshold=0.35, update_index=False, **kw
        )["pairs_old"].count()


def test_semantic_dedup_planted_near_dups(spark, sf_dir):
    """SemDeDup-style cluster-scoped dedup: planted near-identical
    vectors are dropped (min id survives), distinct vectors retained,
    and the cluster-scoped pair set is a SUBSET of the global exact
    cosine pairs (the method's documented recall trade)."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.dedup import (
        embedding_cosine_pairs,
        semantic_dedup,
    )

    emb = read_fixture(spark, sf_dir, "embeddings", split=False).limit(400)
    # plant: clone 5 vectors under new ids with a tiny deterministic bend
    clones = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x, i: x + F.when(i == 0, 0.001).otherwise(0.0)
            ).cast("array<float>").alias("embedding"),
            "label",
        )
    )
    full = emb.unionByName(clones)
    out = semantic_dedup(full, n_clusters=8, threshold=0.99)
    surv = {r.vec_id for r in out["survivors"].select("vec_id").collect()}
    for i in range(5):
        assert i in surv  # original kept (min id)
        assert i + 1_000_000 not in surv  # clone dropped
    # subset law vs the global exact pair set at the same threshold
    sem = {(r.id_a, r.id_b) for r in out["pairs"].collect()}
    glob = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            full, id_col="vec_id", vec_col="embedding", threshold=0.99
        ).collect()
    }
    assert sem <= glob
    assert len(sem) >= 5  # every planted clone pair found (same cluster)


def test_canonical_per_cluster_picks_best_score(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import canonical_per_cluster

    # two clusters + a singleton; scores make the HIGHEST-quality (not
    # min-id) member the survivor in cluster 1
    assignments = spark.createDataFrame(
        pd.DataFrame(
            {
                "node": [1, 2, 3, 10, 11, 99],
                "comp": [1, 1, 1, 10, 10, 99],
            }
        )
    )
    scores = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 10, 11, 99],
                "q": [0.2, 0.9, 0.5, 0.7, 0.7, 0.1],
            }
        )
    )
    rows = {
        r["node"]: r
        for r in canonical_per_cluster(
            assignments, scores, id_col="doc_id", score_col="q"
        ).collect()
    }
    assert len(rows) == 6
    # cluster 1: node 2 wins on score despite not being min id
    for n in (1, 2, 3):
        assert rows[n]["keep_id"] == 2
    assert rows[2]["is_canonical"] and not rows[1]["is_canonical"]
    # cluster 10: score tie 0.7 == 0.7 → min id 10 wins
    assert rows[10]["keep_id"] == 10 and rows[11]["keep_id"] == 10
    # singleton keeps itself
    assert rows[99]["keep_id"] == 99 and rows[99]["is_canonical"]


def test_canonical_per_cluster_missing_scores_rank_lowest(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import canonical_per_cluster

    assignments = spark.createDataFrame(
        pd.DataFrame({"node": [1, 2, 3], "comp": [1, 1, 1]})
    )
    # node 1 and 3 have no score row at all — node 2 (scored) must win;
    # an all-unscored cluster falls back to min id
    scores = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "q": [0.01]})
    )
    rows = {
        r["node"]: r["keep_id"]
        for r in canonical_per_cluster(
            assignments, scores, id_col="doc_id", score_col="q"
        ).collect()
    }
    assert rows == {1: 2, 2: 2, 3: 2}
    no_scores = spark.createDataFrame(
        pd.DataFrame({"doc_id": [999], "q": [1.0]})
    )
    rows2 = {
        r["node"]: r["keep_id"]
        for r in canonical_per_cluster(
            assignments, no_scores, id_col="doc_id", score_col="q"
        ).collect()
    }
    assert rows2 == {1: 1, 2: 1, 3: 1}


def test_canonical_per_cluster_plan_partial_agg(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import canonical_per_cluster

    assignments = spark.createDataFrame(
        pd.DataFrame({"node": [1, 2], "comp": [1, 1]})
    )
    scores = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "q": [0.5, 0.6]})
    )
    plan = (
        canonical_per_cluster(assignments, scores, id_col="doc_id", score_col="q")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the max_by aggregate must combine map-side (partial_max_by before
    # the exchange) and nothing may cartesian
    assert "partial_max_by" in plan or "partial_maxby" in plan.lower()
    assert "CartesianProduct" not in plan


def test_deduplicate_corpus_with_scores_keeps_best(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import deduplicate_corpus

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 9],
                "text": ["dup a", "dup b", "dup c", "loner"],
            }
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2], "id_b": [2, 3]})
    )
    scores = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 9], "q": [0.1, 0.9, 0.5, 0.2]})
    )
    # default: min id survives
    kept_min = {
        r["doc_id"] for r in deduplicate_corpus(docs, pairs).collect()
    }
    assert kept_min == {1, 9}
    # scored: the best-quality member survives instead
    kept_best = {
        r["doc_id"]
        for r in deduplicate_corpus(
            docs, pairs, scores=scores, score_col="q"
        ).collect()
    }
    assert kept_best == {2, 9}


def test_dedup_sentence_spans_c4(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import dedup_sentence_spans

    A = "s1. s2. s3"
    B = "t1. t2. t3"
    C = "u1. u2. u3"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [f"{A}. {B}", f"{B}. {C}", f"{A}. {B}"],
            }
        )
    )
    rows = {r["doc_id"]: r for r in dedup_sentence_spans(docs).collect()}
    # doc 1 is first everywhere: keeps both spans, text unchanged
    assert rows[1]["text"] == f"{A}. {B}"
    assert rows[1]["n_spans"] == 2 and rows[1]["n_spans_kept"] == 2
    # doc 2: span B already seen in doc 1 -> only C survives
    assert rows[2]["text"] == C
    assert rows[2]["n_spans"] == 2 and rows[2]["n_spans_kept"] == 1
    # doc 3 duplicates doc 1 entirely -> nothing survives
    assert rows[3]["text"] == "" and rows[3]["n_spans_kept"] == 0
    # ragged tail (< span sentences) is a chunk of its own
    docs2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [7], "text": ["a. b. c. d"]})
    )
    r7 = dedup_sentence_spans(docs2).collect()[0]
    assert r7["n_spans"] == 2 and r7["text"] == "a. b. c. d"


def test_dedup_sentence_spans_deterministic_first(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import dedup_sentence_spans

    # same span in many docs under heavy parallelism: the SMALLEST
    # doc_id must keep it, every time
    span = "x1. x2. x3"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(range(20)), "text": [span] * 20}
        )
    ).repartition(8)
    for _ in range(2):
        rows = {
            r["doc_id"]: r["n_spans_kept"]
            for r in dedup_sentence_spans(docs).collect()
        }
        assert rows[0] == 1
        assert all(v == 0 for k, v in rows.items() if k > 0)

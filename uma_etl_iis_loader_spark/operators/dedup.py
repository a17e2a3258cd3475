"""Deduplication operators for large-scale training-data pipelines.

One implementation per capability, trading recall for cost (all
shuffle-safe, no driver collect):

- ``exact_dedup``          — canonical-form fingerprint groupBy. O(n).
- ``ngram_jaccard_pairs``  — exact word-n-gram Jaccard. The threshold
                             picks between PPJoin prefix filtering and a
                             naive inverted-index join (same output). The
                             verify step of choice.
- ``minhash_lsh_pairs``    — MinHash signatures + banded LSH bucketing,
                             exact Jaccard verified per bucket in an Arrow
                             kernel: the 100 TB path. Cost ∝ n × (members
                             per colliding bucket).
- ``simhash_pairs``        — 64-bit SimHash + banded Hamming candidates.
- ``embedding_cosine_pairs`` — exact near-dup by embedding cosine (tiled
                             block-matmul self-join; for web scale use the
                             IVF/LSH bucketing in operators/similarity.py
                             first).
- ``semantic_dedup``       — cluster-scoped embedding near-dup (SemDeDup
                             shape): k-means the space, compare only
                             within clusters — linear-ish at web scale,
                             cross-cluster near-dups traded away.

``connected_components`` turns any of the pair outputs into the cluster
assignment a dedup pipeline actually applies (keep ``node == comp``, the
min id per component).

All pair outputs are (id_a < id_b) canonical, ids only — similarity scores
stay internal so cross-engine float noise can't flip a comparison result.
The pair generators return materialized outputs (``localCheckpoint``) and
hold their cached intermediates only inside ``lifetime.persisted`` blocks,
so nothing stays cached after a call returns or raises.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from .lifetime import persisted


def _simhash_pandas_udf(gram_n: int):
    """Vectorized SimHash64 as an Arrow-batched Pandas UDF.

    The pure column-expression version (functions.text.simhash64) is
    semantically identical but folds 64 bit-counters per token through
    interpreted nested lambdas — measured ~35 ms/doc. This UDF does the
    same majority vote in numpy at ~0.1 ms/doc; the hash is blake2b-8byte
    (deterministic across workers, unlike Python's seeded str hash).
    """
    @F.pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.uint64)
        shifts = np.arange(64, dtype=np.uint64)
        for i, t in enumerate(texts):
            words = (t or "").lower().split()
            grams = {
                " ".join(words[j : j + gram_n])
                for j in range(max(len(words) - gram_n + 1, 0))
            }
            if not grams:
                continue
            h = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(g.encode(), digest_size=8).digest(),
                        "little",
                    )
                    for g in grams
                ),
                dtype=np.uint64,
                count=len(grams),
            )
            ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            sig = ((ones * 2 > len(grams)).astype(np.uint64) << shifts).sum()
            out[i] = sig
        return pd.Series(out.view(np.int64))

    return simhash


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct canonical text: (fingerprint, keep_id, dup_count).
    keep_id = min id (deterministic survivor pick)."""
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _grams_udf(n: int, char_level: bool):
    """Distinct n-gram extraction as an Arrow-batched Pandas UDF — same
    semantics as functions.text.{char,word}_ngrams (lowercase, distinct,
    first-seen order irrelevant downstream) but ~20x faster than the
    interpreted transform-over-sequence column expression."""

    @F.pandas_udf("array<string>")
    def grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            t = (t or "").lower()
            if char_level:
                gs = {t[i : i + n] for i in range(max(len(t) - n + 1, 0))}
            else:
                w = t.split()
                gs = {
                    " ".join(w[i : i + n])
                    for i in range(max(len(w) - n + 1, 0))
                }
            out.append(list(gs))
        return pd.Series(out)

    return grams


def _gram_table(
    docs: DataFrame, id_col: str, text_col: str, n: int, char_level: bool
) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("id"),
        _grams_udf(n, char_level)(F.col(text_col)).alias("grams"),
    )


# Threshold cutoff between the two exact paths of ngram_jaccard_pairs: at
# t ≥ 0.6 the PPJoin prefix is ≤ ~40% of each doc's grams and candidate
# pruning beats the naive join's hot-gram quadratic blowup; below it the
# prefix covers most of the doc (at t=0.35 it is ~65%), so the extra
# df-ordering shuffle + verify join cost more than they prune. Measured on
# the fixture corpus (tools/bench_ngram_paths.py).
PREFIX_FILTER_MIN_THRESHOLD = 0.6


def _naive_pairs(g: DataFrame, threshold: float) -> DataFrame:
    """Lazy naive inverted-index join over an ``(id, grams)`` table:
    count the grams each pair shares and keep Jaccard ≥ ``threshold``.
    ``sz`` rides along so no size joins are needed after the pair count
    (functionally dependent on id — a free groupBy key)."""
    inv = g.select(
        "id", F.size("grams").alias("sz"), F.explode("grams").alias("gram")
    )
    a, b = inv.alias("a"), inv.alias("b")
    return (
        a.join(b, "gram")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(
            F.col("shared")
            / (F.col("sz_a") + F.col("sz_b") - F.col("shared"))
            >= threshold
        )
        .select("id_a", "id_b")
    )


def _df_ordered_grams(g: DataFrame) -> DataFrame:
    """``(id, grams, sz)`` with each doc's grams re-assembled in ascending
    (df, gram) order — rarest first, the global total order the PPJoin
    prefix is taken in."""
    inv = g.select("id", F.explode("grams").alias("gram"))
    freq = inv.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        inv.join(freq, "gram")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "gram"))).alias("og"))
        .select(
            "id",
            F.col("og").getField("gram").alias("grams"),
            F.size("og").alias("sz"),
        )
    )


def _prefix_pairs(ordered: DataFrame, threshold: float) -> DataFrame:
    """Lazy PPJoin over :func:`_df_ordered_grams` output: join prefixes,
    apply the size filter, verify candidates on the full gram arrays."""
    # ⌈t·sz⌉ with an epsilon so float noise can't round 7.0 up to 8 and
    # shorten the prefix (a too-short prefix loses exactness; one token
    # extra only costs candidates).
    prefix_len = (
        F.col("sz") - F.ceil(threshold * F.col("sz") - 1e-9) + 1
    ).cast("int")
    pre = ordered.select(
        "id", "sz", F.explode(F.slice("grams", F.lit(1), prefix_len)).alias("gram")
    )
    a, b = pre.alias("a"), pre.alias("b")
    candidates = (
        a.join(b, "gram")
        .filter(F.col("a.id") < F.col("b.id"))
        # size filter: Jaccard ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)
        .filter(
            F.least("a.sz", "b.sz")
            >= threshold * F.greatest("a.sz", "b.sz") - 1e-9
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ga = ordered.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = ordered.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    return (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(
            F.size(F.array_intersect("grams_a", "grams_b"))
            / F.size(F.array_union("grams_a", "grams_b"))
            >= threshold
        )
        .select("id_a", "id_b")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    char_level: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ≥ ``threshold``.

    Two exact paths with identical output; the threshold picks one:

    - t ≥ ``PREFIX_FILTER_MIN_THRESHOLD``: PPJoin-style prefix filtering
      (Chaudhuri et al. 2006 / Vernica et al. SIGMOD'10 MapReduce
      set-similarity). Each doc's grams are ordered by ascending document
      frequency and only the prefix of length |x| − ⌈t·|x|⌉ + 1 is
      exploded — any pair with Jaccard ≥ t must share a prefix token.
      Prefixes join, the size filter min ≥ t·max applies, and candidates
      are verified with exact intersect/union on the full gram arrays.
      The join intermediate shrinks from Σ(posting list)² pair rows to
      rare-token collisions: the hot-gram path for dedup-grade
      thresholds.
    - below it: the naive inverted-index join, because the prefix then
      covers most grams and pruning can't pay for its df-ordering
      shuffle.

    The output is materialized (``localCheckpoint``) before returning,
    and the gram intermediate is released, on success or failure.
    """
    g = _gram_table(docs, id_col, text_col, n, char_level)
    if threshold >= PREFIX_FILTER_MIN_THRESHOLD:
        # reused by the prefix explode and twice by the verify join
        held, build = _df_ordered_grams(g), _prefix_pairs
    else:
        # the self-join reads the gram table twice and both size() and
        # explode() read the UDF column: without a materialization
        # barrier Catalyst's project-collapse evaluates the gram UDF four
        # times (four ArrowEvalPython nodes)
        held, build = g, _naive_pairs
    with persisted(held):
        return build(held, threshold).localCheckpoint(eager=True)


def _minhash_sig_udf(num_hashes: int):
    """Vectorized MinHash signature as an Arrow-batched Pandas UDF.

    One blake2b-8byte base hash per gram, then the classic universal-hash
    permutation family h_i(x) = (a_i*x + b_i) mod 2^61-1 vectorized in
    numpy — (num_hashes × grams) mins per doc in a single matrix op. The
    pure-JVM alternative (array_min over transform per seed) evaluates
    num_hashes × grams interpreted lambda calls per row: measured ~40x
    slower at sf0.1.
    """
    p = (1 << 61) - 1
    rng = np.random.default_rng(42)  # fixed seed: deterministic across runs
    a = rng.integers(1, p, size=num_hashes, dtype=np.uint64)
    b = rng.integers(0, p, size=num_hashes, dtype=np.uint64)

    @F.pandas_udf("array<bigint>")
    def sig(grams: pd.Series) -> pd.Series:
        # Grams are Zipf-distributed (char 3-grams: a few hundred
        # distinct values cover millions of occurrences), so hash and
        # permute each DISTINCT gram once per task and gather per doc:
        # memoized blake2b + a (num_hashes × n_distinct) permuted-column
        # table replace a per-occurrence blake2b call and a per-doc
        # multiply/mod matrix (r12 shape: ~0.8 s → ~0.2 s over sf0.1's
        # 713k gram occurrences / 377 distinct). min over the same
        # values → bit-identical signatures. The memo is per-task state
        # (closure rebuilt per task); cap it so an adversarial
        # distinct-gram corpus can't balloon worker memory.
        gram_idx: dict = {}
        perm = np.empty((num_hashes, 0), dtype=np.uint64)
        sentinel = np.full(num_hashes, np.iinfo(np.int64).max)

        def extend_table(new):
            # hash + permute a LIST of new distinct grams in one shot —
            # the permuted table grows once per Arrow batch, never per
            # doc (a per-doc concatenate is O(docs × distinct) copying)
            nonlocal perm
            base = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(g.encode(), digest_size=8).digest(),
                        "little",
                    )
                    for g in new
                ),
                dtype=np.uint64,
                count=len(new),
            )
            # universal-hash permutations; mod 2^61-1 keeps values in
            # int64 range after the wrap-around multiply
            cols = (a[:, None] * base[None, :] + b[:, None]) % np.uint64(p)
            perm = np.concatenate([perm, cols], axis=1)

        out = []
        for gs in grams:
            if gs is None or len(gs) == 0:
                out.append(sentinel)
                continue
            new = [g for g in gs if g not in gram_idx]
            if new:
                if len(gram_idx) > 2_000_000:
                    gram_idx.clear()
                    perm = np.empty((num_hashes, 0), dtype=np.uint64)
                    new = list(gs)
                start = len(gram_idx)
                for j, g in enumerate(new):
                    gram_idx[g] = start + j
                extend_table(new)
            idx = np.fromiter(
                (gram_idx[g] for g in gs), dtype=np.intp, count=len(gs)
            )
            out.append(perm[:, idx].min(axis=1).astype(np.int64))
        return pd.Series(out)

    return sig


def minhash_signature(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
    char_level: bool = True,
) -> DataFrame:
    """(id, grams, sig: array<bigint>, fp) — MinHash signature per
    document. ``fp`` is the canonical-text fingerprint: zero-gram
    documents (text shorter than n) all share the sentinel signature, so
    their verify step compares fingerprints instead of gram sets —
    identical short docs dedup, distinct ones never collapse."""
    return docs.select(
        F.col(id_col).alias("id"),
        _grams_udf(n, char_level)(F.col(text_col)).alias("grams"),
        fingerprint(text_col).alias("fp"),
    ).select(
        "id", "grams", _minhash_sig_udf(num_hashes)(F.col("grams")).alias("sig"),
        "fp",
    )


def _band_entries(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band, bucket) LSH entries: bucket = hash of the band's
    row-slice of the signature (band id mixed in so buckets never collide
    across bands)."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return sigs.select(
        "id",
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        b, F.slice(F.col("sig"), b * rows + 1, rows).cast("string")
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _chained_mass_expr(m, max_bucket: int | None):
    """Per-bucket candidate mass: m·(m−1)/2, or m−1 above the
    representative-chaining ceiling."""
    per_bucket = m * (m - 1) / 2
    if max_bucket is not None:
        per_bucket = F.when(m > max_bucket, (m - 1).cast("double")).otherwise(
            per_bucket
        )
    return per_bucket


def _raise_lsh_budget(
    mass: int,
    n_buckets: int,
    max_m: int,
    max_candidate_pairs: int,
    max_bucket: int | None,
    bands: int,
    rows: int,
    threshold: float,
) -> None:
    raise RuntimeError(
        f"LSH candidate budget exceeded: {mass} candidate pairs "
        f"(budget {max_candidate_pairs}) at banding {bands} bands x "
        f"{rows} rows, threshold {threshold} "
        f"({n_buckets} colliding buckets, largest "
        f"{max_m} docs, max_bucket={max_bucket}). Options: "
        f"(a) fewer/wider bands (rows per band up) raises the "
        f"collision s-curve and cuts candidate mass, (b) set or "
        f"lower max_bucket to verify giant buckets by "
        f"representative chaining (m-1 comparisons), (c) raise "
        f"max_candidate_pairs if the mass is genuinely budgeted."
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    char_level: bool = True,
    max_bucket: int | None = None,
    sig_margin: float | None = None,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified.

    bands×rows = num_hashes; a pair collides if any band's row-slice
    matches exactly. Candidates are verified with exact gram Jaccard, so
    the output has no false positives — LSH only bounds recall.

    Verify runs per bucket in an Arrow kernel (``mapInPandas`` over
    (band, bucket)-sorted partitions): each colliding doc's gram array
    is shuffled ONCE PER BUCKET MEMBERSHIP (Σ m rows), never once per
    candidate pair (Σ m²/2 rows), and no candidate self-join exists;
    ``distinct`` runs on the small PASSING pair set. Measured at the 10x
    scale step's recall-tuned operating point (sf10, 500k docs, 5.3M
    candidates): a candidate-join verify took 131 s, this one 30 s, same
    pairs. Zero-gram docs (text shorter than n) are filtered before
    bucketing: they share the sentinel signature, so at web scale they
    would form ONE corpus-wide bucket per band, and their 0/0 Jaccard
    could never pass anyway.

    The output is materialized (``localCheckpoint``) before returning;
    both internal caches — the signature/gram frame and the
    per-(band, bucket) collision stats — are released on every exit,
    including a raise.

    Scale knobs (both preserve "no false positives"; both are recall-
    side and off by default so the default output is exactly the
    banded-collision ∩ exact-Jaccard set):

    - ``max_bucket``: buckets larger than this are verified by
      REPRESENTATIVE CHAINING — the bucket's min id is exact-verified
      against each other member (m−1 comparisons instead of m²/2). A
      bucket whose members share a full band slice is overwhelmingly
      one duplicate family; downstream ``connected_components`` (the
      consumer of this operator's output) restores the family's pair
      closure from the star edges. Deviation: a pair (x, y) in a giant
      bucket with J(x,y) ≥ threshold but J(rep,·) < threshold for x or
      y is missed — bounded-recall trade, law-tested (chained ⊆
      unbounded; component equality on dup-family fixtures).
    - ``sig_margin``: estimate-first cascade inside the kernel — a
      pair's Jaccard is first estimated from the already-computed
      MinHash signatures (matching-position fraction, unbiased); pairs
      estimating below ``threshold − sig_margin`` skip the exact gram
      intersection. False-negative probability per true pair is
      ≤ exp(−2·sig_margin²·num_hashes) (Hoeffding; ≈1e-4 at margin 0.35
      with 64 hashes, ≈0.6% at 0.2) — worthwhile when docs are long
      (grams ≫ num_hashes); at gram counts comparable to num_hashes
      the estimate costs what it saves, leave it off.

    ``max_candidate_pairs``: fail-fast budget guard — the collision-stats
    aggregation that sizes the verify shuffle also measures the
    candidate mass (Σ m·(m−1)/2, or m−1 above the chaining ceiling) and
    raises BEFORE any verify work if it exceeds the budget, naming the
    measured mass and the banding recipe. Use it anywhere a
    recall-tuned banding meets an uncurated corpus.

    Scale: the bucket shuffle keys on (band, band_hash) — web-scale safe
    because bucket sizes concentrate around duplicates; the three knobs
    above are the answer for corpora where they don't (boilerplate-
    dense web crawls). The verify's shuffle degree is PINNED from the
    collision stats (candidate mass / colliding member rows) rather
    than inherited from ``spark.sql.shuffle.partitions`` or AQE
    coalescing, so the verify plan is identical run-to-run and scales
    its task count with the measured work, not a static config.
    """
    rows = num_hashes // bands
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, n, char_level)
    gram_cols = ["id", "grams"] + (["sig"] if sig_margin is not None else [])
    nonempty = sigs.select(*gram_cols).filter(F.size("grams") > 0)
    banded = _band_entries(sigs.filter(F.size("grams") > 0), bands, rows)
    # singleton buckets (the overwhelming majority) drop here while rows
    # are still (id, band, bucket) — a count agg whose result is
    # collision-sized (AQE broadcasts it back); gram arrays join in ONLY
    # for the colliding survivor set, so no shuffle ever moves documents
    # for non-colliding entries. The stats frame is driver-summarized
    # ONCE: the same aggregation serves the budget guard AND pins the
    # verify shuffle's partition count (below).
    bstats = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bsize"))
        .filter(F.col("bsize") >= 2)
    )
    with persisted(sigs, bstats):
        bs = F.col("bsize")
        summ = bstats.agg(
            F.coalesce(
                F.sum(_chained_mass_expr(bs, max_bucket)), F.lit(0.0)
            ).alias("mass"),
            F.coalesce(F.max(bs), F.lit(0)).alias("max_m"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.coalesce(F.sum(bs), F.lit(0)).alias("members"),
        ).collect()[0]
        mass, members_n = int(summ["mass"]), int(summ["members"])
        if max_candidate_pairs is not None and mass > max_candidate_pairs:
            _raise_lsh_budget(
                mass, int(summ["n_buckets"]), int(summ["max_m"]),
                max_candidate_pairs, max_bucket, bands, rows, threshold,
            )
        # verify-shuffle degree PINNED from the collision stats instead
        # of inheriting spark.sql.shuffle.partitions / AQE coalescing
        # (run-to-run plan variance): balance by candidate mass (the
        # kernel's work unit, ~100k exact-Jaccard comparisons per task)
        # with a member-row floor (gram-array shuffle volume, ~25k
        # member rows per task). The spread-work floor is ~1k member
        # rows per task up to the cluster parallelism — data-derived,
        # so a small collision set no longer fans out to 32 near-empty
        # Arrow tasks just because 32 cores exist (r12: 6.8k members
        # at sf0.1 → 7 tasks, verify 1.0-1.4 s → 0.8 s, identical
        # pairs), while any corpus with ≥1k members/core still uses
        # every core. An explicit numPartitions also stops AQE from
        # re-coalescing the exchange differently across runs.
        nparts = min(
            4096,
            max(
                min(
                    docs.sparkSession.sparkContext.defaultParallelism,
                    -(-members_n // 1_000),
                ),
                -(-mass // 100_000),
                -(-members_n // 25_000),
                1,
            ),
        )
        members = banded.join(
            bstats.select("band", "bucket"), ["band", "bucket"]
        ).join(nonempty, "id")

        id_dt = sigs.schema["id"].dataType.simpleString()
        kern = _bucket_verify_stream_kernel(threshold, max_bucket, sig_margin)
        # mapInPandas over (band, bucket)-sorted partitions instead of
        # applyInPandas: one pandas frame per ~10k-row Arrow batch, not
        # one per bucket — per-group frame construction dominated on
        # small-bucket corpora (measured sf1: 45 s applyInPandas ->
        # 5.3 s streaming, same pairs; sf10 recall point: 34 s vs 131 s
        # for a candidate-join verify).
        return (
            members.repartition(nparts, "band", "bucket")
            .sortWithinPartitions("band", "bucket")
            .mapInPandas(kern, f"id_a {id_dt}, id_b {id_dt}")
            .distinct()
            .localCheckpoint(eager=True)
        )


def _bucket_verify_stream_kernel(
    threshold: float, max_bucket: int | None, sig_margin: float | None
):
    """Streaming per-bucket exact-Jaccard verify for
    :func:`minhash_lsh_pairs`: a ``mapInPandas`` kernel over partitions sorted by (band, bucket). Buckets are cut at
    sort change-points inside each Arrow batch (a bucket spanning batch
    boundaries is carried forward — memory is bounded by the largest
    single bucket, the same bound ``applyInPandas`` had); emits the
    (id_a < id_b) pairs whose exact gram Jaccard ≥ threshold.
    Python-side set intersection over the deduped gram arrays — the
    shuffle saving (grams once per bucket membership, not per candidate
    pair) dwarfs the interpreted pair loop, which runs on
    collision-sized groups only. Deterministic: members sorted by id
    within each bucket, so chaining's representative is the bucket min
    and emitted pairs are canonical."""
    est_floor = threshold - sig_margin if sig_margin is not None else None

    def _emit(frame: pd.DataFrame) -> pd.DataFrame:
        b = frame["band"].to_numpy()
        k = frame["bucket"].to_numpy()
        ids_all = frame["id"].to_numpy()
        grams_all = frame["grams"].to_numpy()
        sig_all = frame["sig"].to_numpy() if sig_margin is not None else None
        cuts = np.flatnonzero((b[1:] != b[:-1]) | (k[1:] != k[:-1])) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(frame)]))
        out_a: list = []
        out_b: list = []
        for s, e in zip(starts, ends):
            m = e - s
            if m < 2:
                continue
            order = np.argsort(ids_all[s:e], kind="stable") + s
            ids = ids_all[order]
            if sig_all is None:
                # exact-only path: grams materialize for every member
                grams = [frozenset(grams_all[i]) for i in order]
            else:
                # cascade path: frozensets build LAZILY — only members
                # reaching an exact verify pay the set construction
                # (on a boilerplate-light corpus the estimate kills
                # most candidates, so most members never build one)
                grams = [None] * m
                sigm = np.array([np.asarray(sig_all[i]) for i in order])

            def gset(i: int) -> frozenset:
                g = grams[i]
                if g is None:
                    g = grams[i] = frozenset(grams_all[order[i]])
                return g

            def check(i: int, j: int) -> None:
                ga, gb = gset(i), gset(j)
                inter = len(ga & gb)
                if inter / (len(ga) + len(gb) - inter) >= threshold:
                    out_a.append(ids[i])
                    out_b.append(ids[j])

            chained = max_bucket is not None and m > max_bucket
            # row-sweep the signature estimate: ONE vectorized numpy
            # comparison of member i against all later members (the
            # per-PAIR numpy call this replaces cost more than the
            # frozenset intersection it skipped — measured x1.75 SLOWER
            # than no cascade at the sf10 recall point; the sweep makes
            # the estimate ~free, m array ops per bucket, not m²/2)
            if chained:
                if sig_all is not None:
                    ok = (sigm[1:] == sigm[0]).mean(axis=1) >= est_floor
                    js = (np.flatnonzero(ok) + 1).tolist()
                else:
                    js = range(1, m)
                for j in js:  # representative chain on min id
                    check(0, j)
            else:
                for i in range(m - 1):
                    if sig_all is not None:
                        ok = (
                            (sigm[i + 1:] == sigm[i]).mean(axis=1)
                            >= est_floor
                        )
                        js = (np.flatnonzero(ok) + i + 1).tolist()
                    else:
                        js = range(i + 1, m)
                    for j in js:
                        check(i, j)
        return pd.DataFrame({"id_a": out_a, "id_b": out_b})

    def verify(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            b = pdf["band"].to_numpy()
            k = pdf["bucket"].to_numpy()
            # the trailing bucket may continue in the next batch: hold it
            not_last = np.flatnonzero((b != b[-1]) | (k != k[-1]))
            last_start = int(not_last[-1]) + 1 if len(not_last) else 0
            carry = pdf.iloc[last_start:]
            if last_start:
                out = _emit(pdf.iloc[:last_start])
                if len(out):
                    yield out
        if carry is not None and len(carry):
            out = _emit(carry)
            if len(out):
                yield out

    return verify


def lsh_bucket_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    char_level: bool = True,
) -> DataFrame:
    """(band, bucket, n_docs) occupancy of every non-singleton LSH
    bucket under the given banding — the candidate-mass telemetry for
    :func:`minhash_lsh_pairs` (``ivf_cell_stats``'s analogue for the
    dedup family). One signature pass + one count agg; singleton
    buckets (the overwhelming majority) are filtered out, so the result
    is collision-sized, not corpus-sized."""
    rows = num_hashes // bands
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, n, char_level)
    return (
        _band_entries(sigs, bands, rows)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


def lsh_index_bucket_stats(spark, path: str) -> DataFrame:
    """Bucket occupancy straight from a PERSISTED LSH index's bands
    table — no signature recompute (the cheap face for monitoring a
    live incremental index)."""
    from .index_pointer import resolve_table

    return (
        spark.read.parquet(resolve_table(path, "bands"))
        .groupBy("band", "bucket")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


def lsh_bucket_balance(stats: DataFrame, max_bucket: int | None = None) -> dict:
    """Driver summary over :func:`lsh_bucket_stats` /
    :func:`lsh_index_bucket_stats` — a bounded aggregation collect (one
    row), never the bucket rows themselves:

    - ``candidate_pairs``: Σ n·(n−1)/2 over colliding buckets — THE
      pre-flight cost predictor for the verify join (the 100x scale
      step measured this growing ~quadratically in duplicate-family
      size at a recall-oriented banding; re-band — or set
      ``minhash_lsh_pairs``'s chaining ceiling — until this number fits
      the budget, THEN run the pair join);
    - ``n_buckets`` (colliding), ``max_bucket``, ``mean_bucket``.

    Pass ``max_bucket`` (the chaining ceiling you would hand
    ``minhash_lsh_pairs``) to get the BOUNDED path's mass — buckets
    above the ceiling count m−1 representative-chain comparisons
    instead of m·(m−1)/2 — i.e. exactly the accounting the in-operator
    ``max_candidate_pairs`` guard applies.
    """
    row = stats.agg(
        F.coalesce(
            F.sum(_chained_mass_expr(F.col("n_docs"), max_bucket)), F.lit(0.0)
        ).alias("cp"),
        F.count(F.lit(1)).alias("nb"),
        F.coalesce(F.max("n_docs"), F.lit(0)).alias("mx"),
        F.coalesce(F.avg("n_docs"), F.lit(0.0)).alias("mean"),
    ).collect()[0]
    return {
        "candidate_pairs": int(row["cp"]),
        "n_buckets": int(row["nb"]),
        "max_bucket": int(row["mx"]),
        "mean_bucket": float(row["mean"]),
    }


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    gram_n: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures, banded into ``bands``
    16-bit chunks (pigeonhole: hamming ≤ bands-1 guarantees a band match),
    verified with exact popcount of XOR. The output is materialized
    (``localCheckpoint``); the signature cache is released on every
    exit."""
    width = 64 // bands
    sigs = docs.select(
        F.col(id_col).alias("id"),
        _simhash_pandas_udf(gram_n)(F.col(text_col)).alias("sig"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("sig"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                .alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    chunks = sigs.select(
        "id", "sig", F.explode(band_structs).alias("bb")
    ).select("id", "sig", "bb.band", "bb.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    out = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
        .filter(
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= max_hamming
        )
        .select("id_a", "id_b")
    )
    with persisted(sigs):
        return out.localCheckpoint(eager=True)


def embedding_cosine_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    blocks: int = 8,
) -> DataFrame:
    """Exact near-dup pairs by embedding cosine ≥ threshold, as a blocked
    self-join.

    Each vector is hashed into one of ``blocks`` blocks and replicated to
    the ``blocks`` tile-pairs containing its block; each (i ≤ j) tile runs
    ONE normalized numpy matmul over its two blocks and emits only the
    qualifying pairs. Exact mid-threshold dense all-pairs similarity is
    Θ(n²·d) *compute* by concentration-of-measure (near-orthogonal vectors
    give LSH no recall/pruning headroom at e.g. t=0.45), but tiling
    changes what's *shuffled*: n·blocks replicated vectors instead of the
    n²/2 joined pair rows a crossJoin materializes, and the per-pair work
    drops from an Arrow-kernel row call to a BLAS inner loop. Size
    ``blocks`` so 2·(n/blocks) vectors fit an executor (at 100 TB:
    blocks ≈ n·d·8B / 100 MB tiles). Ids must be integral.
    """
    v = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    id_type = dict(v.dtypes)["id"]
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"tiled cosine pair join requires an integral id column "
            f"(got {id_type}); hash non-integral ids to int64 first"
        )

    # tile-pair ids (i ≤ j) each row participates in: (i, blk) for i < blk,
    # (blk, blk), (blk, j) for j > blk — `blocks` tiles per row.
    tiles = F.array(
        *[
            F.struct(F.lit(i).alias("ti"), F.lit(j).alias("tj"))
            for i in range(blocks)
            for j in range(i, blocks)
        ]
    )
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(blocks))
    replicated = (
        v.withColumn("blk", blk.cast("int"))
        .withColumn(
            "tile",
            F.explode(
                F.filter(
                    tiles,
                    lambda t: (t["ti"] == F.col("blk"))
                    | (t["tj"] == F.col("blk")),
                )
            ),
        )
        .select(
            F.col("tile.ti").alias("ti"),
            F.col("tile.tj").alias("tj"),
            "blk",
            "id",
            "vec",
        )
    )

    def tile_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = int(pdf["ti"].iloc[0]), int(pdf["tj"].iloc[0])

        def mat(rows: pd.DataFrame):
            ids = rows["id"].to_numpy(dtype=np.int64)
            m = np.stack([np.asarray(x, dtype=np.float64) for x in rows["vec"]])
            norms = np.linalg.norm(m, axis=1)
            return ids, m / np.where(norms == 0, 1.0, norms)[:, None]

        if ti == tj:
            ids, m = mat(pdf.drop_duplicates("id"))
            sims = m @ m.T
            ia, ib = np.triu_indices(len(ids), k=1)
            keep = sims[ia, ib] >= threshold
            a_ids, b_ids = ids[ia[keep]], ids[ib[keep]]
        else:
            ra, rb = pdf[pdf["blk"] == ti], pdf[pdf["blk"] == tj]
            if len(ra) == 0 or len(rb) == 0:
                return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
            ids_a, ma = mat(ra)
            ids_b, mb = mat(rb)
            ia, ib = np.nonzero(ma @ mb.T >= threshold)
            a_ids, b_ids = ids_a[ia], ids_b[ib]
        return pd.DataFrame(
            {"id_a": np.minimum(a_ids, b_ids), "id_b": np.maximum(a_ids, b_ids)}
        )

    return (
        replicated.groupBy("ti", "tj")
        .applyInPandas(tile_kernel, "id_a long, id_b long")
        .filter(F.col("id_a") < F.col("id_b"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) labeling of the near-dup pair graph — the step
    that turns PAIRS into a deduplicated corpus: keep one document per
    component (the canonical survivor is ``node == component``, the min
    id — same deterministic pick as ``exact_dedup``).

    Algorithm: iterative min-label propagation with pointer jumping.
    Each round every node takes the min of (its label, its neighbors'
    labels) — then labels shortcut through themselves (``comp := comp of
    comp``), which collapses label chains geometrically, so rounds are
    O(log diameter) rather than O(diameter); near-dup components are
    small and dense (diameter ≤ 3-4 in practice), giving 2-3 rounds.
    Each round is two shuffles (neighbor groupBy-min, label self-join)
    over (node, comp) pairs ONLY — edge payloads are never re-shuffled,
    and the input lineage is pinned once up front so iterations never
    re-execute the (potentially expensive) pair-generation plan above
    this operator. At 100 TB the same loop runs with edges partitioned
    by src; the alternating large-star/small-star contraction of
    Kiveris et al. ("Connected Components in MapReduce and Beyond") is
    the further rung if components themselves are huge — for dedup
    graphs (bounded cluster size) the simple propagation is the right
    cost profile.

    Convergence is detected (a round that changes no label ends the
    loop; ``max_iter`` is a guard, not the expected exit), making the
    result exact — matching a recursive-CTE reachability oracle — not
    an approximation.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        # pin: iterations must not re-execute the pair-generation lineage
        .localCheckpoint(eager=True)
    )
    # init already folds in round 1's neighbor-min: comp = min(node, N(node))
    # (every node of the pair graph appears as src in the symmetric edges)
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "nbr_min").alias("comp"),
        )
    )
    for it in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("comp").alias("dst_comp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_comp").alias("nbr_comp"))
            .select(F.col("src").alias("node"), "nbr_comp")
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
            F.col("comp").alias("prev"),
        )
        # pointer jumping: comp := min(comp, comp's comp)
        jumped = stepped.join(
            labels.select(F.col("node").alias("comp"), F.col("comp").alias("comp2")),
            "comp",
            "left",
        ).select(
            "node",
            F.least(F.col("comp"), F.coalesce("comp2", "comp")).alias("comp"),
            "prev",
        )
        # checkpoint each round BEFORE the convergence probe: the probe
        # then counts over the materialized rows (~50 ms) and the next
        # round builds on them, instead of the probe job re-executing
        # the accumulated round lineage and the final consumer paying it
        # again (r12 A/B at sf0.1, identical labels: 1.0-1.9 s →
        # 0.8-1.0 s; at scale the probe materializes the same
        # (node, comp) rows either way, so this is also the
        # no-re-execution shape)
        jumped = jumped.localCheckpoint(eager=True)
        changed = jumped.filter(F.col("comp") != F.col("prev")).limit(1).count()
        labels = jumped.drop("prev")
        if changed == 0:
            break
    return labels.select("node", "comp")


def deduplicate_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    scores: DataFrame | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Apply a near-dup pair set to a corpus: keep ONE survivor per
    connected component plus every document in no pair at all. This is
    the end-state a dedup pipeline writes; the pair generators above
    (Jaccard / MinHash-LSH / SimHash / embedding-cosine) are its input.

    Survivor pick: min id by default (same deterministic rule as
    exact_dedup); pass ``scores`` — an (id_col, score_col) frame, e.g.
    ``functions.text.quality_score`` output — to keep the HIGHEST-scored
    member instead (via :func:`canonical_per_cluster`, tie → min id),
    so dedup never discards the cleanest copy.

    One anti-join against the non-survivor set (|paired docs| −
    |components|). Join strategy is left to AQE: on lightly-duplicated
    corpora the set is tiny and broadcasts at runtime; on heavily
    deduplicated web corpora it is O(corpus) and MUST shuffle — forcing a
    broadcast here would OOM the driver exactly when dedup matters most.
    """
    comps = connected_components(pairs)
    if scores is None:
        losers = comps.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias(id_col)
        )
    else:
        losers = (
            canonical_per_cluster(
                comps, scores, id_col=id_col, score_col=score_col
            )
            .filter(~F.col("is_canonical"))
            .select(F.col("node").alias(id_col))
        )
    return docs.join(losers, id_col, "left_anti")


def canonical_per_cluster(
    assignments: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware survivor selection over near-dup clusters: for each
    connected component pick the member with the HIGHEST score (ties →
    smallest id — fully deterministic), the step a corpus pipeline runs
    between clustering and the final keep/drop write. ``deduplicate_corpus``
    keeps the min id — correct but arbitrary; real curation keeps the
    best-quality representative (e.g. ``functions.text.quality_score``
    or a model score) so dedup never discards the cleanest copy.

    ``assignments`` is ``connected_components`` output (node, comp);
    ``scores`` is (id_col, score_col). Members missing a score rank
    below every scored member (−inf), never above. Returns one row per
    member: (node, comp, keep_id, is_canonical).

    Scale shape: one shuffle joining scores onto members by id, one
    ``max_by`` aggregation per component (partial/map-side — the struct
    max combines associatively; giant components reduce tree-wise, no
    per-component row materialization), and one broadcast-or-shuffle
    join (AQE's call) of the |components|-sized keep table back onto
    members. Nothing is ever collected."""
    sc = scores.select(
        F.col(id_col).alias("node"),
        F.col(score_col).cast("double").alias("__score"),
    )
    members = assignments.select("node", "comp").join(sc, "node", "left")
    keep = members.groupBy("comp").agg(
        F.max_by(
            "node",
            F.struct(
                F.coalesce(F.col("__score"), F.lit(float("-inf"))).alias("s"),
                (-F.col("node")).alias("tie"),
            ),
        ).alias("keep_id")
    )
    return members.join(keep, "comp").select(
        "node",
        "comp",
        "keep_id",
        (F.col("node") == F.col("keep_id")).alias("is_canonical"),
    )


def dedup_sentence_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 3,
) -> DataFrame:
    """Corpus-wide sentence-span deduplication — the OTHER half of the
    public C4 recipe (``functions/text.c4_kept_lines`` is the per-page
    line filter; this is the global "remove all but one occurrence of
    any three-sentence span" pass): split each document into sentences
    at the deterministic ``'. '`` boundary, group consecutive sentences
    into NON-overlapping ``span``-sized chunks, keep only the FIRST
    occurrence of each chunk text corpus-wide (first = smallest
    (doc_id, chunk_idx) — deterministic under any partitioning), and
    reassemble each document from its surviving chunks in order.
    Returns (id, text, n_spans, n_spans_kept); documents whose every
    span was seen earlier come back with empty text (callers filter).

    Sentence/segment normalization is documented convention: chunks
    rejoin with ``'. '``, so runs of other whitespace around sentence
    boundaries do not survive — same contract as the TFDS C4
    implementation, which operates on sentence lists, not raw offsets.

    Scale shape: spans EXPLODE (rows ∝ corpus sentences / span); first
    occurrence is a row_number window partitioned by
    ``(xxhash64(chunk_text), chunk_text)`` — the rows already carry the
    span text through the exchange for reassembly, so including it in
    the key costs no extra bytes and makes the keep/drop decision
    collision-proof (hash-only partitioning would drop a distinct span
    that collides in 64 bits, a real event at 10¹⁰+ spans); the hash
    prefix keeps exchange key comparison cheap. Reassembly is one
    partial-agg'able sort-struct collect per doc. No driver
    participation anywhere."""
    # projection barrier: materialize the sentence array once per row —
    # the per-chunk slice below would otherwise re-run the split per
    # chunk (the loop-invariant-in-lambda trap measured across the
    # gram family; slicing a materialized column attribute is a cheap
    # element copy)
    sent_rows = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.split(F.col(text_col), r"\. ").alias("__sents"),
    )
    sents = F.col("__sents")
    n_chunks = F.ceil(F.size(sents) / F.lit(span)).cast("int")
    chunks = sent_rows.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(
                    ". ", F.slice(sents, i * span + 1, span)
                ),
            )
        ).alias("chunk_idx", "chunk_text"),
    )
    w = Window.partitionBy(
        F.xxhash64("chunk_text"), F.col("chunk_text")
    ).orderBy("__id", "chunk_idx")
    kept = (
        chunks.withColumn("__rn", F.row_number().over(w))
        .withColumn("__first", F.col("__rn") == 1)
        .drop("__rn")
    )
    return kept.groupBy("__id").agg(
        F.concat_ws(
            ". ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__first"),
                            F.struct("chunk_idx", "chunk_text"),
                        )
                    )
                ),
                lambda s: s.chunk_text,
            ),
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("__first").cast("long")).alias("n_spans_kept"),
    ).withColumnRenamed("__id", id_col)


# ---------------------------------------------------------------------------
# incremental dedup: persisted MinHash-LSH index for a growing corpus
# ---------------------------------------------------------------------------


def _write_index_state(
    sigs: DataFrame, path: str, bands: int, rows: int, mode: str
) -> None:
    """Persist LSH state as two tables, GRAMS FIRST then BANDS.

    The two writes are not atomic; the order makes a crash between them
    safe: an id present in grams but absent from bands simply generates
    no candidates (as if the append never happened) and the replay
    re-appends it. The reverse order would leave band entries whose
    gram lookup fails — candidates silently vanishing in the verify
    join; ``dedup_increment`` additionally fails loudly on that state.
    """
    from .index_pointer import append_commit_check, resolve_table, writer_guard

    writer_guard(path, "grams")
    writer_guard(path, "bands")
    grams_dir = resolve_table(path, "grams")
    bands_dir = resolve_table(path, "bands")
    sigs.select("id", "grams", "fp").write.mode(mode).parquet(grams_dir)
    _band_entries(sigs, bands, rows).write.mode(mode).partitionBy(
        "band"
    ).parquet(bands_dir)
    # post-write: close the guard's check-then-write window (a
    # compaction that started during the two Spark writes above)
    append_commit_check(path, "grams", grams_dir)
    append_commit_check(path, "bands", bands_dir)


def build_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    char_level: bool = True,
) -> None:
    """Persist the LSH state of a corpus so future shards dedup against
    it WITHOUT re-scanning the corpus: ``<path>/bands`` (band, bucket,
    id; partitioned by band) and ``<path>/grams`` (id, grams — stored
    once, NOT per band entry, so gram storage is O(corpus), not
    O(corpus×bands)). Signatures are deterministic (seeded hash family),
    so entries appended later by ``dedup_increment`` are mutually
    consistent with these."""
    rows = num_hashes // bands
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, n, char_level)
    with persisted(sigs):
        _write_index_state(sigs, path, bands, rows, "overwrite")


def append_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    char_level: bool = True,
) -> None:
    """Append the given docs' LSH state to an existing index (same
    deterministic signature family as ``build_minhash_index``). Used by
    callers that must order their own durable write BEFORE the index
    append (see streaming/cdc.DedupIngestMaintainer) — the index must
    only learn about documents that are already committed downstream, or
    a replay after a mid-batch crash sees every doc match its own
    indexed copy and silently drops it."""
    rows = num_hashes // bands
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, n, char_level)
    with persisted(sigs):
        _write_index_state(sigs, path, bands, rows, "append")


def _verify_jaccard(ga, gb, fp_a, fp_b):
    """Gram-set Jaccard for candidate verification. Both-empty compares
    CANONICAL-TEXT FINGERPRINTS (1.0 iff equal): the naive
    size(∩)/size(∪) yields 0/0 = NULL there, which a >= threshold filter
    silently drops — zero-gram docs (empty/whitespace text, or text
    shorter than n) share the sentinel MinHash signature, so they always
    bucket-collide, including with their own indexed copy on a replay,
    and a NULL verdict would let every replay re-append them forever. A
    blanket 1.0 would be the opposite failure: DISTINCT sub-n documents
    ("xy" vs "qz") silently collapsing into one — real data loss."""
    return F.when(
        (F.size(ga) == 0) & (F.size(gb) == 0),
        F.when(fp_a == fp_b, F.lit(1.0)).otherwise(F.lit(0.0)),
    ).otherwise(F.size(F.array_intersect(ga, gb)) / F.size(F.array_union(ga, gb)))


def dedup_increment(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    char_level: bool = True,
    update_index: bool = True,
    max_candidate_pairs: int | None = None,
) -> dict[str, DataFrame]:
    """Dedup a NEWLY LANDED shard against the persisted index + itself,
    and (by default) append the surviving docs' LSH state to the index —
    the daily-ingest shape at 100 TB, where the existing corpus is only
    touched through the (band, bucket)-bucketed index join + a gram
    lookup for candidate ids, never re-signatured.

    Returns:
      - ``pairs_old``: (id_new, id_old) verified dups vs the corpus
      - ``pairs_new``: (id_a, id_b) verified dups within the shard
      - ``survivors``: new docs that match no corpus doc and no
        smaller-id shard doc. Direct-match semantics: on transitive
        CHAINS (a~b, b~c, a≁c) this keeps more than the batch
        connected-components dedup — for chain-y corpora run
        ``connected_components`` over the returned pairs instead.
        Idempotence law (pytest-pinned): incrementing the same shard
        again yields zero survivors — including for ZERO-GRAM documents
        (empty/whitespace text, or text shorter than n), whose verify
        compares canonical-text fingerprints when both gram sets are
        empty: identical short docs dedup (and replays match their own
        indexed copy — the naive 0/0 = NULL verdict would re-append them
        forever), while DISTINCT sub-n docs never collapse.

    Candidate generation is IDENTICAL to the batch ``minhash_lsh_pairs``
    (same seeded hash family, same banding), so incremental pair recall
    equals the batch run's — pinned by the parity test.

    ``max_candidate_pairs``: fail-fast budget guard — when set, one
    count aggregation measures the batch's candidate mass
    (Σ over colliding buckets of m_new·m_old + m_new·(m_new−1)/2,
    shard-vs-index plus within-shard) BEFORE the verify joins run, and
    raises with the measured mass and the banding recipe if over
    budget — one boilerplate-heavy shard at a recall-tuned banding
    should be a one-line error, not a stalled ingest. The measured
    telemetry is returned under the ``"telemetry"`` key (a plain dict:
    ``candidate_mass``, ``n_buckets``, ``max_new``, ``max_old``);
    ``None`` when the guard is off (no extra index scan). ``n_buckets``
    counts MASS-CONTRIBUTING buckets only (an index collision, or ≥2
    shard members) — the batch guard's colliding-bucket semantics, not
    every shard (band, bucket) group.
    """
    spark = new_docs.sparkSession
    rows = num_hashes // bands
    sigs = minhash_signature(
        new_docs, id_col, text_col, num_hashes, n, char_level
    )
    banded_new = _band_entries(sigs, bands, rows)

    from .index_pointer import resolve_table

    idx_bands = spark.read.parquet(resolve_table(index_path, "bands"))
    idx_grams = spark.read.parquet(resolve_table(index_path, "grams"))

    with persisted(sigs, banded_new):
        telemetry = None
        if max_candidate_pairs is not None:
            new_cnt = banded_new.groupBy("band", "bucket").agg(
                F.count(F.lit(1)).alias("m_new")
            )
            # count_distinct: duplicate index rows (benign replayed-append
            # residue, see the loud-guard comment below) must not inflate mass
            old_cnt = idx_bands.groupBy("band", "bucket").agg(
                F.count_distinct("id").alias("m_old")
            )
            mn, mo = F.col("m_new"), F.coalesce(F.col("m_old"), F.lit(0))
            stat = (
                new_cnt.join(old_cnt, ["band", "bucket"], "left")
                # mass-contributing buckets only (m_new·m_old + m_new·(m_new−1)/2
                # > 0 ⇔ index collision or ≥2 shard members) — singleton shard
                # buckets with zero candidate mass are excluded so n_buckets
                # matches the batch guard's colliding-bucket semantics
                .filter((mo >= 1) | (mn >= 2))
                .agg(
                    F.coalesce(
                        F.sum(mn * mo + mn * (mn - 1) / 2), F.lit(0.0)
                    ).alias("mass"),
                    F.coalesce(F.max(mn), F.lit(0)).alias("max_new"),
                    F.coalesce(F.max(mo), F.lit(0)).alias("max_old"),
                    F.count(F.lit(1)).alias("n_buckets"),
                )
                .collect()[0]
            )
            telemetry = {
                "candidate_mass": int(stat["mass"]),
                "n_buckets": int(stat["n_buckets"]),
                "max_new": int(stat["max_new"]),
                "max_old": int(stat["max_old"]),
            }
            if telemetry["candidate_mass"] > max_candidate_pairs:
                raise RuntimeError(
                    f"LSH ingest candidate budget exceeded: "
                    f"{telemetry['candidate_mass']} candidate pairs (budget "
                    f"{max_candidate_pairs}) for this shard at banding "
                    f"{bands} bands x {rows} rows, threshold {threshold} "
                    f"(largest shard bucket {telemetry['max_new']}, largest "
                    f"colliding index bucket {telemetry['max_old']}). The "
                    f"shard is boilerplate-heavy for this banding — re-band "
                    f"(fewer/wider bands), pre-clean the shard, or raise "
                    f"the budget."
                )

        # vs the existing corpus: bucket join against the index, gram-verify.
        # The index side arrives band-partitioned; only buckets colliding with
        # the new shard survive the join (shuffle ∝ shard + matches).
        cand_old = (
            banded_new.select(F.col("id").alias("id_new"), "band", "bucket")
            .join(
                idx_bands.select(F.col("id").alias("id_old"), "band", "bucket"),
                ["band", "bucket"],
            )
            .select("id_new", "id_old")
            .distinct()
        )
        # LEFT join + loud guard: a band entry whose gram row is missing means
        # the index's two tables diverged (should be impossible with the
        # grams-first write order — fail fast instead of silently passing the
        # duplicate through). distinct() tolerates duplicate gram rows, the
        # benign residue of a replayed append.
        pairs_old = (
            cand_old.join(
                sigs.select(
                    F.col("id").alias("id_new"),
                    F.col("grams").alias("ga"),
                    F.col("fp").alias("fpa"),
                ),
                "id_new",
            )
            .join(
                idx_grams.select(
                    F.col("id").alias("id_old"),
                    F.col("grams").alias("gb"),
                    F.col("fp").alias("fpb"),
                ),
                "id_old",
                "left",
            )
            .filter(
                # assert_true returns NULL when the predicate holds and raises
                # otherwise; as a FILTER predicate it sits in the data path,
                # so column pruning can't optimize the check away.
                F.assert_true(
                    F.col("gb").isNotNull(),
                    F.concat(
                        F.lit(
                            "LSH index corrupt: band entry without grams for id "
                        ),
                        F.col("id_old").cast("string"),
                    ),
                ).isNull()
            )
            .withColumn(
                "jac",
                _verify_jaccard(F.col("ga"), F.col("gb"), F.col("fpa"), F.col("fpb")),
            )
            .filter(F.col("jac") >= threshold)
            .select("id_new", "id_old")
            .distinct()
        )

        # within the shard: the batch pipeline on the new docs only
        la, lb = banded_new.alias("a"), banded_new.alias("b")
        cand_new = (
            la.join(lb, ["band", "bucket"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        ga = sigs.select(
            F.col("id").alias("id_a"),
            F.col("grams").alias("grams_a"),
            F.col("fp").alias("fp_a"),
        )
        gb = sigs.select(
            F.col("id").alias("id_b"),
            F.col("grams").alias("grams_b"),
            F.col("fp").alias("fp_b"),
        )
        pairs_new = (
            cand_new.join(ga, "id_a")
            .join(gb, "id_b")
            .withColumn(
                "jac",
                _verify_jaccard(
                    F.col("grams_a"), F.col("grams_b"),
                    F.col("fp_a"), F.col("fp_b"),
                ),
            )
            .filter(F.col("jac") >= threshold)
            .select("id_a", "id_b")
            .distinct()
        )

        # pin the (small) pair sets eagerly: downstream consumers and the
        # index append must not re-run the joins once the caches are gone
        pairs_old = pairs_old.localCheckpoint(eager=True)
        pairs_new = pairs_new.localCheckpoint(eager=True)

        dropped = pairs_old.select(F.col("id_new").alias(id_col)).unionByName(
            pairs_new.select(F.col("id_b").alias(id_col))
        )
        survivors = new_docs.join(dropped, id_col, "left_anti")

        if update_index:
            surv_ids = survivors.select(F.col(id_col).alias("id"))
            keep_sigs = sigs.join(surv_ids, "id", "left_semi")
            with persisted(keep_sigs):
                _write_index_state(keep_sigs, index_path, bands, rows, "append")

    return {
        "pairs_old": pairs_old,
        "pairs_new": pairs_new,
        "survivors": survivors,
        "telemetry": telemetry,
    }


def compact_minhash_index(spark, path: str) -> None:
    """Deduplicate replay residue in the append-only LSH index (replayed
    appends can leave identical (id, grams) / (id, band, bucket) rows —
    harmless for correctness, wasteful for the bucket join) and rewrite
    each table into fewer files. Generation-pointer swap per table
    (``operators/index_pointer``, shared with
    ``similarity.compact_ivf_index``): the next generation is written
    beside the live one and the pointer file flips atomically, so
    concurrent READERS (incremental_minhash_dedup / streaming ingest
    mid-scan, or resolving just before the flip) always see a complete
    table — the replaced generation stays on disk until the NEXT
    compaction (test-pinned). Grams first (same crash-ordering contract
    as the appends: bands ⊆ grams always holds for any id). Concurrent
    WRITERS are still excluded: an append into the old generation after
    the flip is dropped from the live view — appends and compaction
    share one maintenance owner."""
    from .index_pointer import heal_legacy, resolve_table, swap_table

    for sub in ("grams", "bands"):  # grams first: see _write_index_state
        heal_legacy(path, sub)
        live = resolve_table(path, sub)
        df = spark.read.parquet(live).distinct()

        def write_next(dst: str, _df=df, _sub=sub) -> None:
            w = _df.write.mode("overwrite")
            if _sub == "bands":
                w = w.partitionBy("band")
            w.parquet(dst)

        swap_table(path, sub, write_next)


# ---------------------------------------------------------------------------
# semantic dedup — cluster-scoped embedding near-dup (the published
# SemDeDup recipe: k-means the embedding space, then compare pairs only
# WITHIN each cluster; cross-cluster near-dups are traded away, which is
# what makes the method linear-ish at web scale).
# ---------------------------------------------------------------------------


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, DataFrame]:
    """Cluster-scoped embedding dedup:

    1. assign every vector to its nearest deterministic centroid (the
       same seeded no-randomness centroids the IVF index uses — one
       narrow mapInPandas matmul, no shuffle);
    2. inside each cluster, exact pairwise cosine ≥ ``threshold``
       (applyInPandas per cluster: cost Σ|cluster|² instead of n² —
       raise ``n_clusters`` to bound the largest cluster at scale);
    3. survivors = min-id per matched pair chain (direct-match
       semantics, as dedup_increment: a doc is dropped iff a smaller-id
       near-duplicate shares its cluster).

    Returns ``pairs`` (id_a < id_b) and ``survivors``. Cross-cluster
    near-duplicates are NOT found — the deliberate recall trade the
    method makes for linearity; the global tiled
    ``embedding_cosine_pairs`` remains the exact alternative.
    """
    import numpy as np

    from .similarity import _assign_centroid, _ivf_centroids

    c = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("cvec"))
    cent_mat = _ivf_centroids(
        c.select(F.col("id").alias("neighbor_id"), "cvec"), n_clusters
    )
    assigned = _assign_centroid(
        c.select(F.col("id").alias("neighbor_id"), "cvec"),
        cent_mat,
        "neighbor_id",
        "cvec",
        1,
    ).select(F.col("neighbor_id").alias("id"), "cvec", "centroid_id")

    def cluster_pairs(pdf):
        if len(pdf) < 2:
            return pdf.iloc[0:0][[]].assign(id_a=[], id_b=[])
        ids = pdf["id"].to_numpy(dtype=np.int64)
        vm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cvec"]])
        norms = np.linalg.norm(vm, axis=1)
        vm = vm / np.where(norms == 0, 1.0, norms)[:, None]
        sims = vm @ vm.T
        ia, ib = np.where(np.triu(sims >= threshold, k=1))
        a, b = ids[ia], ids[ib]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        # strict lo < hi: duplicate-id input (replay residue) would
        # otherwise emit (x, x) rows whose id_b-drop removes EVERY copy
        # of the document instead of keeping one survivor
        keep = lo < hi
        import pandas as pd

        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    # ids unique per input row ⇒ each (id_a, id_b) pair arises from at
    # most one cluster (n=1 assignment) — no distinct() shuffle needed
    pairs = (
        assigned.groupBy("centroid_id")
        .applyInPandas(cluster_pairs, "id_a long, id_b long")
        .localCheckpoint(eager=True)
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = emb.join(dropped, id_col, "left_anti")
    return {"pairs": pairs, "survivors": survivors}

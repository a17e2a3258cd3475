"""Exact repeated-passage detection — substring-level dedup.

Near-dup operators (MinHash/SimHash in operators/dedup.py) judge WHOLE
documents; training corpora also need the orthogonal signal of exact
repeated SPANS inside otherwise-distinct documents (boilerplate,
licenses, quoted passages). The published formulation builds a corpus
suffix array and extracts repeated substrings over a length threshold;
the distributed re-expression used here is fixed-length token shingles:
a span is repeated iff every k-token window inside it is repeated, so
marking repeated windows and merging consecutive ones recovers maximal
repeated passages of length ≥ k without any global suffix structure.

Scale design (100 TB):
- the shingle table is one row per corpus token — the big intermediate.
  With ``hashed=True`` (production default) the shuffle key is an 8-byte
  xxhash64, not the k-token string: shuffle bytes ∝ tokens × 8.
- the repeated-key set (count of distinct docs ≥ min_docs) is tiny
  relative to the corpus (only actual repeats survive), and the
  df-filter aggregation partial-aggregates map-side before its shuffle.
- span merging is a per-document window over the marked positions —
  partitions bounded by document length, no global sort.

Adjudication note: the registered query runs ``hashed=False`` (string
keys) so a DuckDB oracle can replicate it exactly (DuckDB has no
xxhash64); hash-key/string-key output equivalence is pinned in
tests/test_passages.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .lifetime import persisted


def shingle_positions(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = True,
) -> DataFrame:
    """(id, pos, key): one row per k-token window start position.
    Documents with fewer than k whitespace tokens emit nothing (no
    window exists). ``key`` is xxhash64 of the space-joined window
    (``hashed=True``) or the window text itself."""
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    base = (
        docs.select(F.col(id_col).alias("id"), words.alias("ws"))
        .withColumn("n", F.size("ws"))
        .filter(F.col("n") >= k)
    )
    sg = F.array_join(F.slice(F.col("ws"), F.col("pos") + 1, k), " ")
    key = F.xxhash64(sg) if hashed else sg
    return base.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.col("n") - k)).alias("pos"),
        "ws",
    ).select("id", "pos", key.alias("key"))


def _mark(sh: DataFrame, rep_keys: DataFrame) -> DataFrame:
    """(id, pos, rep): each shingle position flagged iff its key is in
    ``rep_keys`` — the one marking join behind both faces."""
    rep = rep_keys.select("key").withColumn("__r", F.lit(True))
    return sh.join(rep, "key", "left").select(
        "id", "pos", F.coalesce(F.col("__r"), F.lit(False)).alias("rep")
    )


def _repeated_marks(sh: DataFrame, min_docs: int) -> DataFrame:
    """Lazy batch marking over a shingle table: a window is repeated iff
    its key occurs in ≥ ``min_docs`` distinct documents."""
    rep = (
        sh.groupBy("key")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
    )
    return _mark(sh, rep)


def _marked_to_outputs(marked, k: int):
    """Shared reduction behind both the batch and incremental faces —
    one implementation, so a change to span semantics can't silently
    diverge the two (their parity is this module's headline law)."""
    stats = marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.col("rep").cast("long")).alias("n_repeated"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    spans = (
        marked.filter(F.col("rep"))
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "grp")
        .agg(
            F.min("pos").alias("start_word"),
            (F.max("pos") + F.lit(k - 1)).alias("end_word"),
        )
        .select("id", "start_word", "end_word")
    )
    return {"stats": stats, "spans": spans}


def repeated_passages(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = True,
) -> dict[str, DataFrame]:
    """Cross-document exact repeated passages.

    Returns:
      - ``stats``: (id, n_shingles, n_repeated) per document with ≥ k
        tokens — how much of the doc sits inside cross-doc repeats.
      - ``spans``: (id, start_word, end_word) maximal repeated passages
        (inclusive word indices; end = last window start + k - 1).
        Consecutive repeated window positions merge into one span, so a
        passage of m ≥ k repeated tokens reports once, not m - k + 1
        times.

    A window is repeated iff its key occurs in ≥ ``min_docs`` DISTINCT
    documents (within-doc self-repeats don't count — they're the
    repetition signal quality_score already captures). The marked-
    position table is checkpointed so stats and spans don't re-run the
    corpus-wide shuffle twice.
    """
    sh = shingle_positions(docs, k, id_col, text_col, hashed)
    # the tokenize+explode subtree (one row per corpus token) feeds both
    # the df-count aggregation and the mark join: held so the dominant
    # cost runs once. localCheckpoint for the marks, NOT a cache: marked
    # is corpus-sized (one row per token window), so a collect-to-local
    # is off the table and a session-lifetime cache would tax every later
    # query's analysis (CacheManager matches each new plan against every
    # cached plan — measured r12). The checkpoint loses AQE's runtime
    # broadcast of the mark join, but truncates the lineage to a leaf
    # for both downstream consumers.
    with persisted(sh):
        marked = _repeated_marks(sh, min_docs).localCheckpoint(eager=True)
    return _marked_to_outputs(marked, k)


# ---------------------------------------------------------------------------
# incremental face: persisted shingle index for a growing corpus — the
# daily-ingest shape (mirrors operators/dedup.build_minhash_index /
# dedup_increment: the corpus is only ever touched through its compact
# index, never re-tokenized).
# ---------------------------------------------------------------------------


def build_shingle_index(
    docs: DataFrame,
    path: str,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the corpus's shingle state as ``<path>/keys``:
    (key: xxhash64 long, nd: distinct-doc count). O(distinct shingles)
    8-byte keys + a count — the compact summary that lets future shards
    compute cross-corpus repeated passages without re-reading the corpus.
    Appends by ``passages_increment`` add (key, nd) rows; readers SUM nd
    per key, so the index is append-only (compact periodically with an
    overwrite rewrite if the append count grows large)."""
    from .index_pointer import resolve_table, writer_guard

    writer_guard(path, "keys")
    sh = shingle_positions(docs, k, id_col, text_col, hashed=True)
    (
        sh.groupBy("key")
        .agg(F.count_distinct("id").alias("nd"))
        .write.mode("overwrite")
        .parquet(resolve_table(path, "keys"))
    )


def passages_increment(
    new_docs: DataFrame,
    index_path: str,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    update_index: bool = True,
) -> dict[str, DataFrame]:
    """Repeated-passage detection for a NEWLY LANDED shard against the
    persisted corpus index + the shard itself.

    A shard window is repeated iff the combined distinct-document count
    (corpus nd from the index + distinct shard docs) reaches
    ``min_docs`` — EXACTLY the batch ``repeated_passages`` semantics
    over (corpus ∪ shard) restricted to shard documents, because the
    corpus and shard document sets are disjoint (parity pytest-pinned).

    Scale: the shard is tokenized once; the index join ships 8-byte
    keys; corpus text is never touched. ``update_index=True`` appends
    the shard's (key, nd) rows AFTER computing the outputs (the marked
    table is checkpointed first, so the outputs can't observe the
    shard's own append — same discipline as dedup_increment).

    Replay semantics: re-appending the same shard inflates nd counts,
    which can only flip windows TOWARD "repeated" (conservative: more
    flagged, never lost passages). For exactly-once ingestion wrap the
    call in a committed-batch marker like streaming/cdc's
    DedupIngestMaintainer does for the LSH index."""
    from .index_pointer import resolve_table, writer_guard

    spark = new_docs.sparkSession
    sh = shingle_positions(new_docs, k, id_col, text_col, hashed=True)
    nd_new = sh.groupBy("key").agg(F.count_distinct("id").alias("nd_new"))
    idx = (
        spark.read.parquet(resolve_table(index_path, "keys"))
        .groupBy("key")
        .agg(F.sum("nd").alias("nd_old"))
    )
    rep = nd_new.join(idx, "key", "left").filter(
        F.col("nd_new") + F.coalesce(F.col("nd_old"), F.lit(0)) >= min_docs
    )
    # shard tokenized ONCE: the shingle table feeds the nd_new
    # aggregation, the mark join, and (via nd_new) the index append
    with persisted(sh):
        marked = _mark(sh, rep).localCheckpoint(eager=True)
        if update_index:
            writer_guard(index_path, "keys")
            nd_new.withColumnRenamed("nd_new", "nd").write.mode(
                "append"
            ).parquet(resolve_table(index_path, "keys"))
        nd_out = nd_new.withColumnRenamed("nd_new", "nd").localCheckpoint(
            eager=True
        )
    out = _marked_to_outputs(marked, k)
    # the shard's own (key, nd) rows — computed from the SAME held
    # shingle table, so callers that manage the index append themselves
    # (streaming/cdc.PassagesIngestMaintainer's idempotent single-file
    # append) don't re-tokenize the shard
    out["nd"] = nd_out
    return out


def compact_shingle_index(spark, path: str) -> None:
    """Rewrite the append-only (key, nd) log into one summed row per key
    — same answers, fewer files/rows. Generation-pointer swap
    (``operators/index_pointer``, shared with the LSH/IVF compactors):
    concurrent READERS always see a complete table (the replaced
    generation survives until the next compaction); the pointer flip is
    the atomic commit point. WRITERS (the update_index append) remain
    single-owner with compaction."""
    from .index_pointer import heal_legacy, resolve_table, swap_table

    heal_legacy(path, "keys")
    live = resolve_table(path, "keys")
    compacted = (
        spark.read.parquet(live)
        .groupBy("key")
        .agg(F.sum("nd").alias("nd"))
    )
    swap_table(
        path, "keys",
        lambda dst: compacted.write.mode("overwrite").parquet(dst),
    )

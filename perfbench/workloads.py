"""The benchmark workloads.

Each workload prepares its seeded inputs (``prepare``, part of set-up),
runs one job iteration through the program's public functions
(``iterate``, the timed region; every call into a layer sits in a
tracer span), checks an iteration's outputs outside the timed region
(``check``, a list of error strings).

- ``etl_sync``: the reference job: set-up does the full t1 load; each
  iteration is a re-sync (REST fetch, ``run_etl`` seeded from the
  written t1 tables, every output written as parquet).
- ``corpus_dedup``: the curation path on the production dedup operators.
- ``warehouse_reads``: six read-only registry queries, oracle-checked.
"""

from __future__ import annotations

import decimal
import json
import os
import random
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import inputs


def fingerprint(df: DataFrame) -> DataFrame:
    """Order-insensitive content fingerprint (rows, hash sum, hash xor)
    over every column, so the consuming action prunes nothing. Doubles
    are rounded to 6 places (the oracle comparison's precision) so float
    summation order cannot flip it."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, T.MapType):
            c = F.to_json(c)
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        cols.append(c)
    h = F.xxhash64(*cols)
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.shiftright(h, 24)), F.lit(0)).alias("hsum"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("hxor"),
    )


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, seed: int, work_dir: str, cores: int):
        self.spark, self.seed, self.work, self.cores = spark, seed, work_dir, cores
        self.input_rows = 0
        self.input_bytes = 0
        self.counts: dict[str, float] = {}

    def prepare(self) -> None:
        """Generate the seeded inputs (part of set-up)."""
        raise NotImplementedError

    def load(self, tracer) -> None:
        """One-off set-up after ``prepare``: fixture materialization."""

    def warm_up(self, tracer) -> None:
        """Untimed iteration of the workload itself, before timing starts."""
        self.check(self.iterate(-1, tracer))

    def iterate(self, i: int, tracer):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        return []

    def sizes(self) -> dict:
        return {"rows": self.input_rows, "bytes": self.input_bytes}


# ---------------------------------------------------------------------------
# etl_sync
# ---------------------------------------------------------------------------

ETL_OUTPUTS = (
    "system_state", "faculties", "departments", "specialities",
    "student_groups", "employees", "departments_employees", "auditories",
    "schedule_json_storage", "schedule_events", "schedule_quarantine",
    "occupancy_index",
)
# run_etl's ``initial`` keys: the re-sync is seeded from these t1 tables
ETL_SEEDS = ETL_OUTPUTS[:9]


class FileFetcher:
    """In-process REST fetcher for ``sources.rest.fetch_manifest``: serves
    each URL from a snapshot file written at set-up. Pickled into the
    Python workers without its cache; each worker loads the file once."""

    def __init__(self, path: str):
        self.path = path
        self._pages: dict[str, str] | None = None

    def __getstate__(self):
        return {"path": self.path, "_pages": None}

    def __call__(self, url: str) -> str:
        if self._pages is None:
            with open(self.path, encoding="utf-8") as f:
                self._pages = json.load(f)
        return self._pages[url]


class EtlSync(Workload):
    name = "etl_sync"

    def prepare(self) -> None:
        snaps = inputs.iis_snapshots(self.seed)
        self.expected = snaps["expected"]
        self.snaps = {}
        for tag in ("t1", "t2"):
            snap = snaps[tag]
            path = os.path.join(self.work, f"pages_{tag}.json")
            pages = {inputs.doc_url(n, t): doc for (n, t), doc in snap["docs"].items()}
            with open(path, "w", encoding="utf-8") as f:
                json.dump(pages, f, ensure_ascii=False)
            manifest = [(n, t, inputs.doc_url(n, t)) for (n, t) in snap["docs"]]
            self.snaps[tag] = (snap["api"], manifest, FileFetcher(path))
        # an iteration ingests the t2 snapshot
        self.input_rows = snaps["sizes"]["t2_rows"]
        self.input_bytes = snaps["sizes"]["t2_bytes"]
        self.reference_fp: dict | None = None

    def _fetch(self, tag: str, tracer) -> list[tuple]:
        from uma_etl_iis_loader_spark.sources.rest import fetch_manifest

        _, manifest, fetcher = self.snaps[tag]
        with tracer.span("sources.fetch") as sp:
            df = self.spark.createDataFrame(
                manifest, "entity_name string, entity_type string, url string"
            )
            rows = fetch_manifest(df, fetcher=fetcher, max_concurrency=self.cores).collect()
            if sp is not None:
                sp.counts["requests"] = len(rows)
                sp.counts["failed_requests"] = sum(r.payload is None for r in rows)
                sp.counts["payload_bytes"] = sum(len((r.payload or "").encode()) for r in rows)
        return [(r.entity_name, r.entity_type, r.payload) for r in rows]

    def _sync(self, tag, tracer, out_dir, initial_dir=None, outputs=ETL_OUTPUTS):
        from uma_etl_iis_loader_spark.io import write_snapshot
        from uma_etl_iis_loader_spark.plans.etl_job import run_etl

        api = dict(self.snaps[tag][0], schedules=self._fetch(tag, tracer))
        phase = "full" if initial_dir is None else "resync"
        with tracer.span(f"etl_job.{phase}_build"):
            initial = None
            if initial_dir is not None:
                initial = {
                    k: self.spark.read.parquet(os.path.join(initial_dir, k))
                    for k in ETL_SEEDS
                }
            ts = inputs.T1_TS if initial is None else inputs.T2_TS
            out = run_etl(self.spark, api, now_ts=ts, initial=initial)
            frames = {k: out[k] for k in outputs}
        with tracer.span(f"io.{phase}_write"):
            for k, df in frames.items():
                write_snapshot(df, os.path.join(out_dir, k))

    def load(self, tracer) -> None:
        """The full t1 load every iteration re-syncs from. Only the tables
        the re-sync reads are written: the fact outputs are checked on
        every iteration's t2 snapshot instead, and a run's time budget
        has no room for three more cold writes."""
        self.t1_dir = os.path.join(self.work, "t1")
        self._sync("t1", tracer, self.t1_dir, outputs=ETL_SEEDS)
        stats = self._stats("t1", self.t1_dir, ETL_SEEDS)
        self.load_errors = self._count_errors("t1", stats)
        self.t1_counts = (stats["student_groups"][2], stats["student_groups"][3])

    def iterate(self, i: int, tracer):
        out = os.path.join(self.work, f"t2_{i}")
        self._sync("t2", tracer, out, initial_dir=self.t1_dir)
        return out

    def _stats(self, tag: str, root: str, tables=ETL_OUTPUTS) -> dict:
        """Per written table: rows, an order-insensitive content hash and
        the rows whose valid_from / valid_to is the sync time (SCD2 opens
        and closes). Read with pyarrow, so checking starts no Spark job."""
        import datetime as dt

        import pyarrow.parquet as pq

        stamp = dt.datetime.fromisoformat(inputs.T1_TS if tag == "t1" else inputs.T2_TS)
        stats = {}
        for k in tables:
            rows = pq.read_table(os.path.join(root, k)).to_pylist()
            h = sum(hash(repr(sorted(r.items()))) for r in rows) & ((1 << 64) - 1)
            opened = sum(r.get("valid_from") == stamp for r in rows)
            closed = sum(r.get("valid_to") == stamp for r in rows)
            stats[k] = (len(rows), h, opened, closed)
        return stats

    def _count_errors(self, tag: str, stats: dict) -> list[str]:
        exp = self.expected[tag]
        errors = [
            f"{tag}.{k}: {stats[k][0]} rows, planted {n}"
            for k, n in exp["rows"].items() if k in stats and stats[k][0] != n
        ]
        _, _, o, c = stats["student_groups"]
        if (o, c) != (exp["scd2_opened"], exp["scd2_closed"]):
            errors.append(f"{tag} SCD2 opened/closed {o}/{c}, planted "
                          f"{exp['scd2_opened']}/{exp['scd2_closed']}")
        return errors

    def check(self, out) -> list[str]:
        try:
            stats = self._stats("t2", out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        errors = self.load_errors + self._count_errors("t2", stats)
        if self.reference_fp is None:
            self.reference_fp = stats
        elif stats != self.reference_fp:
            diff = sorted(k for k in stats if stats[k] != self.reference_fp[k])
            errors.append(f"fingerprints differ from the first iteration: {diff}")
        o1, c1 = self.t1_counts
        self.counts = {
            "etl_job.rows_in": self.input_rows,
            "etl_job.scd2_opened": o1 + stats["student_groups"][2],
            "etl_job.scd2_closed": c1 + stats["student_groups"][3],
            "etl_job.quarantined": stats["schedule_quarantine"][0],
        }
        return errors


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

CORPUS_FILES = 4  # the corpus lands as a few parquet files, as a crawl shard would


def char_grams(text: str, n: int = 3) -> set[str]:
    """Character n-gram set, as ``minhash_lsh_pairs`` defines it."""
    t = (text or "").lower()
    return {t[i:i + n] for i in range(max(len(t) - n + 1, 0))}


def survivors_of(ids, pairs) -> set:
    """Reference ``deduplicate_corpus``: keep the min id of each connected
    component of the pair graph, plus every unpaired document."""
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}


class CorpusDedup(Workload):
    name = "corpus_dedup"

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        c = inputs.corpus(self.seed)
        self.planted = c
        self.text = {i: t for i, t, _ in c["docs"]}
        path = os.path.join(self.work, "corpus")
        os.makedirs(path, exist_ok=True)
        docs = c["docs"]
        step = -(-len(docs) // CORPUS_FILES)
        for j in range(CORPUS_FILES):
            chunk = docs[j * step:(j + 1) * step]
            pq.write_table(
                pa.table({
                    "doc_id": pa.array([d[0] for d in chunk], pa.int64()),
                    "text": [d[1] for d in chunk],
                    "lang": [d[2] for d in chunk],
                }),
                os.path.join(path, f"part-{j}.parquet"),
            )
        self.docs = self.spark.read.parquet(path)
        self.input_rows = c["sizes"]["docs"]
        self.input_bytes = c["sizes"]["bytes"]
        self.reference_fp = None

    def iterate(self, i: int, tracer):
        from uma_etl_iis_loader_spark.functions.text import quality_score, tokenize_stemmed
        from uma_etl_iis_loader_spark.operators.dedup import (
            deduplicate_corpus,
            exact_dedup,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )

        docs = self.docs
        with tracer.span("dedup.exact"):
            exact = (
                exact_dedup(docs).filter(F.col("dup_count") > 1)
                .select("keep_id", "dup_count").collect()
            )
        with tracer.span("dedup.ngram_jaccard"):
            ngram = ngram_jaccard_pairs(docs).collect()
        with tracer.span("dedup.minhash_lsh"):
            lsh_df = minhash_lsh_pairs(docs)
            lsh = lsh_df.collect()
        with tracer.span("dedup.apply"):
            survivors = deduplicate_corpus(docs, lsh_df)
            kept = survivors.select("doc_id").collect()
        with tracer.span("text.quality_tokenize"):
            fp = fingerprint(
                survivors.select(
                    "doc_id",
                    quality_score("text").alias("quality"),
                    tokenize_stemmed("text").alias("lexemes"),
                )
            ).collect()[0]
        return {
            "exact": {r.keep_id: r.dup_count for r in exact},
            "ngram": {(r.id_a, r.id_b) for r in ngram},
            "lsh": {(r.id_a, r.id_b) for r in lsh},
            "kept": {r.doc_id for r in kept},
            "fp": tuple(fp),
        }

    def check(self, out) -> list[str]:
        errors = []
        planted = {g[0]: len(g) for g in self.planted["exact_groups"]}
        if out["exact"] != planted:
            extra = {k: v for k, v in out["exact"].items() if planted.get(k) != v}
            errors.append(
                f"exact_dedup: {len(out['exact'])} duplicate groups, planted "
                f"{len(planted)}; {len(extra)} differ (e.g. {sorted(extra.items())[:3]})"
            )
        missed = [p for p in self.planted["near_pairs"] if p not in out["ngram"]]
        if missed:
            errors.append(f"ngram_jaccard_pairs missed {len(missed)} planted pairs: {missed[:3]}")
        t = self.text
        grams = {}

        def jac(a, b, fn):
            ga = grams.setdefault((fn, a), fn(t[a]))
            gb = grams.setdefault((fn, b), fn(t[b]))
            return inputs.jaccard(ga, gb)

        bad = [p for p in out["ngram"] if jac(*p, inputs.word_grams) < inputs.NGRAM_THRESHOLD]
        if bad:
            errors.append(f"ngram_jaccard_pairs: {len(bad)} pairs below threshold: {bad[:3]}")
        bad = [p for p in out["lsh"] if jac(*p, char_grams) < 0.5]
        if bad:
            errors.append(f"minhash_lsh_pairs: {len(bad)} pairs below threshold: {bad[:3]}")
        if out["kept"] != survivors_of(t, out["lsh"]):
            errors.append(f"deduplicate_corpus kept {len(out['kept'])} docs, expected "
                          f"{len(survivors_of(t, out['lsh']))}")
        if self.reference_fp is None:
            self.reference_fp = out["fp"]
        elif out["fp"] != self.reference_fp:
            errors.append("survivor quality/lexeme fingerprint differs from the first iteration")
        self.counts = {"dedup.pairs": len(out["lsh"])}
        return errors

    def lsh_candidates(self) -> int:
        """Σ m(m−1)/2 over colliding LSH buckets (trace only, once)."""
        from uma_etl_iis_loader_spark.operators.dedup import (
            lsh_bucket_balance,
            lsh_bucket_stats,
        )

        return lsh_bucket_balance(lsh_bucket_stats(self.docs))["candidate_pairs"]


# ---------------------------------------------------------------------------
# warehouse_reads
# ---------------------------------------------------------------------------

QUERIES = (
    "flagship_occupancy",
    "agg_pricing_summary",
    "topk_orders_per_customer",
    "window_lag_running_total",
    "asof_join_order_state",
    "grouping_analytics",
)


def _canon(v):
    if isinstance(v, float):
        return "nan" if v != v else f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if v is None:
        return "NULL"
    return str(v)


def rowset(cols, rows) -> list[tuple]:
    """Order-insensitive row representation, columns sorted by name; rows
    are ordered by their non-float values first, so a float that differs
    in its last place cannot move its row."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: (
        "|".join(_canon(v) for v in r if not isinstance(v, float)),
        "|".join(_canon(v) for v in r),
    ))


def _places(x: float) -> int:
    return max(0, -decimal.Decimal(repr(x)).as_tuple().exponent)


def same_value(a, b) -> bool:
    """Equal at 6 decimal places, or, for two floats, at most one unit
    apart in the last decimal place they show. A double sum rounded to k
    places lands one unit of place k apart on two engines when its exact
    value is a rounding tie (e.g. 365853933.1650 rounded to 2 places),
    because the engines add the doubles in different orders."""
    if _canon(a) == _canon(b):
        return True
    if isinstance(a, float) and isinstance(b, float) and a == a and b == b:
        return abs(a - b) <= 1.000001 * 10.0 ** -max(_places(a), _places(b))
    return False


def first_difference(got: list[tuple], want: list[tuple]):
    """The first pair of rows (got, want) that differ, or None."""
    if len(got) != len(want):
        return (f"{len(got)} rows", f"{len(want)} rows")
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(same_value(a, b) for a, b in zip(g, w)):
            return g, w
    return None


class WarehouseReads(Workload):
    name = "warehouse_reads"

    def prepare(self) -> None:
        self.dir = os.path.join(self.work, "warehouse")
        sizes = inputs.write_warehouse(self.seed, self.dir)
        self.input_rows, self.input_bytes = sizes["rows"], sizes["bytes"]

    def load(self, tracer) -> None:
        from uma_etl_iis_loader_spark.plans.fixtures import materialize_schedule_fixture

        materialize_schedule_fixture(self.spark, self.dir)

    def iterate(self, i: int, tracer, frames: dict | None = None):
        """One pass over the queries; ``frames``, if given, receives each
        query's DataFrame (the warm-up keeps them for the oracle check)."""
        from uma_etl_iis_loader_spark.plans.registry import QUERIES as REGISTRY

        order = random.Random(self.seed * 1_000_003 + i).sample(QUERIES, len(QUERIES))
        fps = {}
        for q in order:
            with tracer.span(f"queries.{q}"):
                with tracer.span("build"):
                    df = REGISTRY[q](self.spark, self.dir)
                    fp = fingerprint(df)
                with tracer.span("exec"):
                    fps[q] = tuple(fp.collect()[0])
            if frames is not None:
                frames[q] = df
        return fps

    def warm_up(self, tracer) -> None:
        """The untimed iteration, then the once-per-run oracle check of
        the same DataFrames; their fingerprints are the reference every
        timed iteration must reproduce."""
        frames: dict = {}
        self.reference = self.iterate(-1, tracer, frames)
        self.check_oracles(frames)

    def check_oracles(self, frames: dict) -> None:
        """Compare each query's rows with its DuckDB oracle."""
        import duckdb

        from uma_etl_iis_loader_spark.plans.registry import ORACLES

        con = duckdb.connect()
        con.execute(f"SET threads = {self.cores}")
        for t in inputs.WAREHOUSE_TABLES:
            path = os.path.join(self.dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.oracle_errors = []
        for q in QUERIES:
            df = frames[q]
            got = rowset(df.columns, [tuple(r) for r in df.collect()])
            res = con.execute(ORACLES[q])
            want = rowset([d[0] for d in res.description], res.fetchall())
            diff = first_difference(got, want)
            if diff is not None:
                self.oracle_errors.append(
                    f"{q}: differs from its DuckDB oracle: Spark {diff[0]}, DuckDB {diff[1]}")
        con.close()

    def check(self, fps) -> list[str]:
        return self.oracle_errors + [
            f"{q}: fingerprint differs from the oracle-checked result"
            for q in QUERIES if fps[q] != self.reference[q]
        ]


WORKLOADS = {w.name: w for w in (EtlSync, CorpusDedup, WarehouseReads)}

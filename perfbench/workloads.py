"""The workloads. Each drives the public ``rehiver_spark`` API
closed-loop from one client: ``generate`` writes the inputs, ``load``
ingests them, ``step`` runs one operation, times it into the recorder
and checks its answer.
Spans wrap each call into a layer; with a disabled tracer they record
nothing, so traced and untraced runs execute the same calls.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import statistics
import time
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

import checks
from gen import (GLOB_PATTERNS, SCAN_DAYS, SCAN_WIDTHS, Catalog, Corpus, Embeddings,
                 EventLake, LookupStream, jaccard, shingle_set)
from rehiver_spark import (Engine, SnapshotStore, TimePartitioner, date_schema,
                           detect_changes, ensure_parallelism, exact_dedup, fuzzy_dedup, glob_match,
                           lsh_cosine_neardup, minhash_neardup_pairs, read_matching,
                           write_partitioned)
from rehiver_spark.functions.globs import PathMatcher
from rehiver_spark.operators.dedup import (connected_components, lsh_candidates,
                                           minhash_signatures, shingles)
from rehiver_spark.operators.vectorops import adaptive_plane_count
from rehiver_spark.sources.catalog import dedup_catalog

now = time.perf_counter


class Recorder:
    """Timing samples by name, plus checked-operation counts. ``prefix``
    lets a traced run keep traced and untraced samples apart."""

    def __init__(self, log):
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.prefix = ""
        self.log = log

    def sample(self, name: str, value: float) -> None:
        self.samples[self.prefix + name].append(value)

    def check(self, what: str, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.log(f"check failed: {what}: {'; '.join(errs)}")

    def median(self, name: str) -> float | None:
        """Median of a sample, or None if the run took none."""
        xs = self.samples.get(name)
        return statistics.median(xs) if xs else None


def data_files(root: str) -> dict[str, int]:
    """Relative path -> size of every data file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def plan_node_count(df, names: tuple[str, ...]) -> dict[str, int]:
    """Physical-plan nodes by name in ``df``'s executed plan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    heads = [re.sub(r"^[\s:+\-*]*(\(\d+\)\s*)?", "", ln).split(" ")[0]
             for ln in text.splitlines()]
    return {n: sum(h == n for h in heads) for n in names}


def scan_files_read(df) -> int:
    """Sum of the ``numFiles`` SQL metric over the file scans of an
    executed query, through adaptive plans and query stages."""
    total, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics().get("numFiles")
            if m.isDefined():
                total += m.get().value()
        kids = node.children()
        stack.extend(kids.apply(k) for k in range(kids.size()))
    return total


class Workload:
    #: fewest steps a run makes, however long they take
    min_steps = 3
    #: a traced run alternates blocks of this many traced and untraced steps
    trace_block = 1
    #: the sample whose traced and untraced medians give the tracing overhead
    op_sample = ""

    def __init__(self, spark, seed: int, rec: Recorder, tracer):
        self.spark, self.seed, self.rec, self.tr = spark, seed, rec, tracer

    def generate(self, root: str) -> None:
        """Write this seed's inputs under ``root`` (numpy and pyarrow only)."""
        raise NotImplementedError

    def load(self) -> None:
        """Bring the last generated inputs into the program: the one-time
        ingest a user pays before the first operation."""

    def warmup(self) -> None:
        raise NotImplementedError

    def step(self, i: int) -> None:
        raise NotImplementedError

    def end_to_end(self) -> dict[str, float]:
        """The generic end-to-end metrics from this workload's samples."""
        raise NotImplementedError

    def report(self) -> dict[str, tuple[float, str]]:
        """The workload's own named metrics, with units."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
class SyncRounds(Workload):
    """rehiver's core loop over a churning S3 listing, plus Zipf metadata
    lookups through the engine's cache."""

    N_KEYS = 50_000
    BUCKETS = 32
    LOOKUPS = 10_000
    LOOKUP_CHUNK = 2_000
    WORKING_SET = 4_000
    CACHE_SIZE = 1_000
    BUCKET = "bench-bucket"

    def generate(self, root: str) -> None:
        self.root = root
        self.cat = Catalog(self.seed, self.N_KEYS)
        self.cat.write_listing(os.path.join(root, "listing-0"))
        self.lookups = LookupStream(self.cat, self.WORKING_SET)

    def load(self) -> None:
        self.store = SnapshotStore(self.spark, os.path.join(self.root, "state"),
                                   n_buckets=self.BUCKETS)
        self.store.save(dedup_catalog(self.spark.read.parquet(
            os.path.join(self.root, "listing-0"))))
        self.engine = Engine(self.spark)
        self.engine.metadata_cache(fetcher=self.lookups.fetch, max_size=self.CACHE_SIZE)

    def warmup(self) -> None:
        self.step(-1)

    def step(self, i: int) -> None:
        ch = self.cat.mutate()
        cache = self.engine.metadata_cache()
        ws = set(self.lookups.ids.tolist())
        for k, key_id in zip(self.cat.keys(ch["changed_ids"]), ch["changed_ids"].tolist()):
            if key_id in ws:
                cache.invalidate(self.BUCKET, k)
        self.lookups.refresh()
        path = os.path.join(self.root, f"listing-{self.cat.round}")
        rows = self.cat.write_listing(path)
        got = self.sync_round(path, rows)
        got["readback"] = self.store.load().count()
        self.rec.check("catalog round", checks.check_round(got, self.cat.truth(), ch))
        self.lookup_burst()

    def sync_round(self, path: str, listing_rows: int) -> dict:
        tr, spark = self.tr, self.spark
        t0 = now()
        with tr.span("catalog_sync.round"):
            with tr.span("catalog.dedup_catalog") as c:
                cur = dedup_catalog(spark.read.parquet(path)).persist()
                n = cur.count()
            c.update({"catalog.listing_rows": listing_rows, "catalog.dedup_rows": n})
            with tr.span("globs.glob_match") as c:
                matched = cur.filter(glob_match("key", GLOB_PATTERNS)).count()
            c["globs.matched_ratio"] = matched / n
            with tr.span("partitions.apply"):
                parsed = date_schema().apply(cur, "key")
                parsed.write.format("noop").mode("overwrite").save()
            with tr.span("partitions.valid_filter") as c:
                valid = parsed.filter("_valid").count()
            c["partitions.invalid_keys"] = n - valid
            with tr.span("changes.load"):
                prev = self.store.load()
            with tr.span("changes.detect") as c:
                changes = detect_changes(cur, prev)
                counts = {r["change_type"]: r["count"]
                          for r in changes.groupBy("change_type").count().collect()}
            t_ready = now()
            with tr.span("changes.save") as s:
                self.store.save(cur)
        t1 = now()
        cur.unpersist()
        if tr.enabled:
            c.update({f"changes.{k}": counts.get(k, 0) for k in ("added", "modified", "deleted")})
            nodes = plan_node_count(changes, ("Exchange", "Sort"))
            c["changes.detect_exchanges"] = nodes["Exchange"]
            c["changes.detect_sorts"] = nodes["Sort"]
            vdir = os.path.join(self.store.state_dir, f"v{self.store.latest_version()}")
            s["changes.state_files_per_bucket"] = len(data_files(vdir)) / self.BUCKETS
        self.rec.sample("sync_round_s", t1 - t0)
        self.rec.sample("changes_ready_s", t_ready - t0)
        return {"unique_keys": n, "valid_keys": valid, "glob_matched": matched,
                "changes": counts}

    def lookup_burst(self) -> None:
        keys = self.lookups.draw(self.LOOKUPS)
        cache = self.engine.metadata_cache()
        hits0, ev0 = cache.stats.hits, cache.stats.evictions
        get = self.engine.get_object_metadata
        values = []
        with self.tr.span("metacache.burst") as c:
            t0 = now()
            for k in range(0, len(keys), self.LOOKUP_CHUNK):
                tc = now()
                values += [get(self.BUCKET, key) for key in keys[k:k + self.LOOKUP_CHUNK]]
                self.rec.sample("lookups_per_s", self.LOOKUP_CHUNK / (now() - tc))
            t = now() - t0
        c.update({"metacache.get_us": t / len(keys) * 1e6,
                  "metacache.hit_ratio": (cache.stats.hits - hits0) / len(keys),
                  "metacache.evictions": cache.stats.evictions - ev0})
        self.rec.check("metadata lookups", checks.check_lookups(keys, values, self.lookups.truth))

    def report(self):
        m = self.rec.median
        return {"sync_round_s": (m("sync_round_s"), "s"),
                "changes_ready_s": (m("changes_ready_s"), "s"),
                "lookups_per_s": (m("lookups_per_s"), "1/s")}


# ---------------------------------------------------------------------------
class LakeScans(Workload):
    """Range and glob-scoped aggregates over a day-partitioned event
    lake, with one-day appends interleaved."""

    N_EVENTS = 250_000
    APPEND_EVERY = 6
    #: every GLOB_EVERY-th query is glob-scoped; the others cycle through
    #: SCAN_WIDTHS. The mix is fixed so that the seed moves only where
    #: the queries land, never how many of each kind a run makes.
    GLOB_EVERY = 5
    PART_COLS = ["year", "month", "day"]

    def generate(self, root: str) -> None:
        self.root = root
        self.events = EventLake(self.seed, self.N_EVENTS)
        self.events.write_base(os.path.join(root, "events-src"))

    def load(self) -> None:
        self.lake = os.path.join(self.root, "lake")
        with self.tr.span("writer.write_partitioned"):
            write_partitioned(self.spark.read.parquet(os.path.join(self.root, "events-src")),
                              self.lake, self.PART_COLS)
        self.files = data_files(self.lake)
        self.qrng = np.random.default_rng(self.seed + 1)
        self.n_appends = 0
        self.n_queries = 0

    def warmup(self) -> None:
        for w in SCAN_WIDTHS:
            self.range_query(w)
        self.glob_query()
        self.append()

    def step(self, i: int) -> None:
        if i % self.APPEND_EVERY == self.APPEND_EVERY - 1:
            self.append()
            return
        q = self.n_queries
        self.n_queries += 1
        if q % self.GLOB_EVERY == self.GLOB_EVERY - 1:
            self.glob_query()
        else:
            ranges = q - q // self.GLOB_EVERY
            self.range_query(SCAN_WIDTHS[ranges % len(SCAN_WIDTHS)])

    @staticmethod
    def _agg(df):
        return df.agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))

    def _run(self, q, lo: int, hi: int, label: str, t0: float) -> None:
        with self.tr.span("scan.exec") as c:
            row = q.collect()[0]
        t = now() - t0
        want_n, want_s = self.events.range_truth(lo, hi)
        self.rec.sample("scan_s", t)
        self.rec.sample(f"scan_{label}_s", t)
        self.rec.sample("rows_scanned", want_n)
        self.rec.check(f"scan {label} days {lo}-{hi}",
                       checks.check_scan(row["n"], row["s"], want_n, want_s))
        if self.tr.enabled:
            read = scan_files_read(q)
            c["scan.files_read"] = read
            c["scan.files_pruned_ratio"] = 1 - read / len(self.files)

    def range_query(self, width: int) -> None:
        lo = int(self.qrng.integers(0, SCAN_DAYS - width + 1))
        hi = lo + width - 1
        day = lambda d: dt.datetime.combine(EventLake.date(d), dt.time())  # noqa: E731
        t0 = now()
        with self.tr.span("scan.query"):
            with self.tr.span("scan.plan"):
                tp = TimePartitioner("daily")
                q = self._agg(self.spark.read.parquet(self.lake)
                              .filter(tp.range_filter(day(lo), day(hi))))
                q._jdf.queryExecution().executedPlan()
            self._run(q, lo, hi, f"{width}d", t0)

    def glob_query(self) -> None:
        month = int(self.qrng.integers(1, 13))
        pattern = f"year={EventLake.date(0).year}/month={month}/**/*.parquet"
        lo, hi = EventLake.month_days(month)
        t0 = now()
        with self.tr.span("scan.query"):
            with self.tr.span("reader.read_matching"):
                q = self._agg(read_matching(self.spark, self.lake, pattern))
                q._jdf.queryExecution().executedPlan()
            self._run(q, lo, hi, "glob", t0)
        if self.tr.enabled:
            rels = sorted(data_files(self.lake))
            with self.tr.span("globs.path_matcher") as c:
                PathMatcher().match(rels, pattern)
            c["reader.files_walked"] = len(rels)

    def append(self) -> None:
        day = int(self.qrng.integers(0, SCAN_DAYS))
        rows = int(self.events.count.mean())
        path = os.path.join(self.root, f"append-{self.n_appends}")
        self.n_appends += 1
        self.events.write_append(path, day, rows)
        t0 = now()
        with self.tr.span("writer.append") as c:
            write_partitioned(self.spark.read.parquet(path), self.lake, self.PART_COLS,
                              mode="append")
        t = now() - t0
        files = data_files(self.lake)
        new = set(files) - set(self.files)
        self.files = files
        self.rec.sample("append_s", t)
        self.rec.sample("ingest_rows_per_s", rows / t)
        self.rec.check("append wrote files", [] if new else ["no new file in the lake"])
        c.update({"writer.files_written": len(new),
                  "writer.bytes_per_row": sum(files[f] for f in new) / rows})

    def report(self):
        m = self.rec.median
        xs = sorted(self.rec.samples.get("scan_s", []))
        out = {"scan_p50_s": (m("scan_s"), "s"),
               "ingest_rows_per_s": (m("ingest_rows_per_s"), "1/s"),
               **{f"scan_{w}_p50_s": (m(f"scan_{w}_s"), "s")
                  for w in [*(f"{w}d" for w in SCAN_WIDTHS), "glob"]}}
        if xs:
            out["scan_rows_per_s"] = (sum(self.rec.samples["rows_scanned"]) / sum(xs), "1/s")
        # the highest percentile with at least 10 samples beyond it
        if len(xs) > 10:
            k = len(xs) - 11
            out[f"scan_tail_s (p{100 * (k + 1) / len(xs):.0f} of {len(xs)})"] = (xs[k], "s")
        return out


# ---------------------------------------------------------------------------
class DedupPipeline(Workload):
    """A text pipeline, exact_dedup and then fuzzy_dedup over the exact
    keepers, alternating with lsh_cosine_neardup over planted-cluster
    embeddings."""

    name = "dedup_pipeline"
    op_sample = "fuzzy_dedup_s"
    min_steps = 2
    trace_block = 2
    N_DOCS = 2_000
    N_VECS = 3_000
    DIM = 64
    JACCARD = 0.8
    COSINE = 0.95
    # planted pairs this far above the threshold must be found
    JACCARD_CLEAR, COSINE_CLEAR = 0.85, 0.98
    MIN_RECALL = 0.9

    def generate(self, root: str) -> None:
        self.corpus = Corpus(self.seed, self.N_DOCS)
        self.vectors = Embeddings(self.seed, self.N_VECS, self.DIM)
        self.corpus_path = os.path.join(root, "corpus")
        self.vec_path = os.path.join(root, "embeddings")
        self.corpus.write(self.corpus_path)
        self.vectors.write(self.vec_path)
        texts = self.corpus.by_id
        # exact copies are gone before fuzzy_dedup runs; near copies stay
        self.planted_text = [
            (a, b) for a, b in self.corpus.near_pairs
            if jaccard(shingle_set(texts[a]), shingle_set(texts[b])) >= self.JACCARD_CLEAR]
        self.planted_vec = [(a, b) for a, b, c in self.vectors.planted_pairs()
                            if c >= self.COSINE_CLEAR]

    def warmup(self) -> None:
        self.text_pass()
        self.vector_pass()

    def step(self, i: int) -> None:
        if i % 2 == 0:
            self.text_pass()
        else:
            self.vector_pass()

    def text_pass(self) -> None:
        df = self.spark.read.parquet(self.corpus_path)
        t0 = now()
        with self.tr.span("dedup.exact_dedup"):
            kept = exact_dedup(df).filter("is_keeper").select("doc_id", "text").persist()
            n_kept = kept.count()
        t1 = now()
        with self.tr.span("dedup.fuzzy_dedup"):
            rows = fuzzy_dedup(kept, threshold=self.JACCARD).select(
                "doc_id", "cluster_id", "is_keeper").collect()
        t2 = now()
        self.rec.sample("exact_dedup_s", t1 - t0)
        self.rec.sample("fuzzy_dedup_s", t2 - t1)
        self.rec.sample("pipeline_docs_per_s", self.corpus.n_docs / (t2 - t0))
        self.rec.check("exact_dedup", checks.check_exact_dedup(n_kept, self.corpus.exact_keepers()))
        cluster_of = {r["doc_id"]: r["cluster_id"] for r in rows}
        keepers = sum(r["is_keeper"] for r in rows)
        self.rec.check("fuzzy_dedup", checks.check_clusters(
            cluster_of, keepers, self.planted_text, self.MIN_RECALL,
            self.corpus.by_id, self.JACCARD))
        if self.tr.enabled:
            self.phases(kept)
        kept.unpersist()

    def phases(self, docs) -> None:
        """fuzzy_dedup's stages through their public calls, outside the
        timed pass: signatures, LSH candidates, verified pairs and
        connected components."""
        tr = self.tr
        sh = ensure_parallelism(docs).select("doc_id", shingles("text").alias("shingles"))
        with tr.span("dedup.signatures"):
            minhash_signatures(sh, "doc_id", "shingles").write.format("noop").mode(
                "overwrite").save()
        with tr.span("dedup.candidates") as c:
            cand = lsh_candidates(sh).count()
        with tr.span("dedup.neardup_pairs") as p:
            pairs_df = minhash_neardup_pairs(docs, threshold=self.JACCARD).persist()
            pairs = [(r["id_a"], r["id_b"]) for r in pairs_df.select("id_a", "id_b").collect()]
        with tr.span("dedup.components") as k:
            comp = connected_components(pairs_df).collect()
        pairs_df.unpersist()
        c["dedup.candidate_pairs"] = cand
        p.update({"dedup.verified_pairs": len(pairs),
                  "dedup.verify_yield": len(pairs) / cand if cand else 0.0})
        k["dedup.clusters"] = len({r["cluster_id"] for r in comp})
        self.rec.check("near-dup pairs", checks.check_text_pairs(
            pairs, self.corpus.by_id, self.JACCARD))

    def vector_pass(self) -> None:
        vdf = self.spark.read.parquet(self.vec_path)
        t0 = now()
        with self.tr.span("vectorops.lsh_neardup") as c:
            rows = lsh_cosine_neardup(vdf, self.DIM, threshold=self.COSINE).select(
                "id_a", "id_b").collect()
        self.rec.sample("vector_neardup_s", now() - t0)
        pairs = [(r["id_a"], r["id_b"]) for r in rows]
        c.update({"vectorops.pairs": len(pairs),
                  "vectorops.n_planes": adaptive_plane_count(self.N_VECS)})
        self.rec.check("lsh_cosine_neardup", checks.check_vector_pairs(
            pairs, self.vectors.vecs, self.COSINE, self.planted_vec, self.MIN_RECALL))

    def end_to_end(self):
        m = self.rec.median
        return {"op_p50_s": m("fuzzy_dedup_s"), "op2_p50_s": m("vector_neardup_s"),
                "items_per_s": m("pipeline_docs_per_s")}

    def report(self):
        m = self.rec.median
        return {"fuzzy_dedup_s": (m("fuzzy_dedup_s"), "s"),
                "vector_neardup_s": (m("vector_neardup_s"), "s"),
                "exact_dedup_s": (m("exact_dedup_s"), "s"),
                "pipeline_docs_per_s": (m("pipeline_docs_per_s"), "1/s")}


class CatalogSync(Workload):
    """The lake side of the program: every ROUND_EVERY-th step is a sync
    round, the steps between are lake queries and appends; a burst of
    metadata lookups follows every step. Rounds and queries share no
    data."""

    name = "catalog_sync"
    op_sample = "scan_s"
    #: one cycle: a round, one query of each width, a glob query, an append
    min_steps = 7
    trace_block = 7
    ROUND_EVERY = 7

    def __init__(self, spark, seed, rec, tracer):
        self.rounds = SyncRounds(spark, seed, rec, tracer)
        self.scans = LakeScans(spark, seed, rec, tracer)
        super().__init__(spark, seed, rec, tracer)
        self.n_scans = 0

    @property
    def tr(self):
        return self.rounds.tr

    @tr.setter
    def tr(self, tracer):
        self.rounds.tr = self.scans.tr = tracer

    def generate(self, root: str) -> None:
        self.rounds.generate(root)
        self.scans.generate(root)

    def load(self) -> None:
        self.rounds.load()
        self.scans.load()

    def warmup(self) -> None:
        self.rounds.warmup()
        self.scans.warmup()

    def step(self, i: int) -> None:
        if i % self.ROUND_EVERY == 0:
            self.rounds.step(i)
        else:
            self.scans.step(self.n_scans)
            self.n_scans += 1
            # lookups follow every step, so their rate is sampled across
            # the whole run rather than in one short burst
            self.rounds.lookup_burst()

    def end_to_end(self):
        m = self.rec.median
        return {"op_p50_s": m("sync_round_s"), "op2_p50_s": m("scan_s"),
                "items_per_s": m("lookups_per_s")}

    def report(self):
        return {**self.rounds.report(), **self.scans.report()}


WORKLOADS = {w.name: w for w in (CatalogSync, DedupPipeline)}

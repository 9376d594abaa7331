"""Seeded input generators with closed-form truths.

Everything here is plain numpy/pyarrow: the program under test never
sees the generator, only the files it writes. Each generator keeps
enough state to say, without asking Spark, what every answer must be.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: inputs are written as this many parquet files, as a listing export or
#: corpus drop would be, so scans start with more than one split
PARTS = 8


def write_parts(table: pa.Table, path: str, parts: int = PARTS) -> None:
    """Write ``table`` as ``parts`` parquet files in directory ``path``."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


# ---------------------------------------------------------------------------
# catalog_sync: a synthetic S3 listing that changes between rounds
# ---------------------------------------------------------------------------

PREFIXES = tuple(f"src{i:02d}" for i in range(16))
EXTS = ("json", "csv", "parquet", "txt", "log", "gz")
CATALOG_DAY0 = dt.date(2023, 1, 1)
CATALOG_DAYS = 731  # 2023-01-01 .. 2024-12-31
LM0 = dt.datetime(2025, 1, 1)

# positive brace pattern plus one negation; the truth below restates
# them as predicates over the generator's columns
GLOB_PREFIXES = ("src01", "src03", "src05", "src07", "src11")
GLOB_EXTS = ("json", "csv")
GLOB_PATTERNS = [
    "{" + ",".join(GLOB_PREFIXES) + "}/year=2024/**/*.{" + ",".join(GLOB_EXTS) + "}",
    "!**/month=1[0-2]/**",
]

_DAYS = [CATALOG_DAY0 + dt.timedelta(days=i) for i in range(CATALOG_DAYS)]
_DAY_Y = np.array([d.year for d in _DAYS])
_DAY_M = np.array([d.month for d in _DAYS])
_DAY_D = np.array([d.day for d in _DAYS])


def _mix(*cols: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix of integer columns (splitmix64 rounds)."""
    with np.errstate(over="ignore"):
        h = np.full(np.broadcast(*cols).shape, 0x9E3779B97F4A7C15, dtype=np.uint64)
        for c in cols:
            h ^= np.asarray(c, dtype=np.uint64)
            h *= np.uint64(0xBF58476D1CE4E5B9)
            h ^= h >> np.uint64(31)
            h *= np.uint64(0x94D049BB133111EB)
            h ^= h >> np.uint64(29)
    return h


class Catalog:
    """Object catalog with per-key (prefix, day, ext, invalid kind,
    version). ``write_listing()`` renders the current state as an S3-inventory
    style parquet file with ~2% re-listed stale rows; ``mutate()``
    applies one round of adds, deletes and modifications and returns
    their counts, which is exactly what change detection must report."""

    def __init__(self, seed: int, n_keys: int, dup_rate=0.02, invalid_rate=0.01,
                 churn=0.02):
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.dup_rate, self.invalid_rate, self.churn = dup_rate, invalid_rate, churn
        self.next_id = 0
        self.round = 0
        cap = int(n_keys * 2)
        self.prefix = np.zeros(cap, np.int8)
        self.day = np.zeros(cap, np.int16)
        self.ext = np.zeros(cap, np.int8)
        self.invalid = np.zeros(cap, np.int8)  # 0 ok, 1 month=13, 2 day=32
        self.version = np.zeros(cap, np.int32)
        self.alive = np.zeros(cap, bool)
        self._add(n_keys)

    # -- state ---------------------------------------------------------
    def _add(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        r = self.rng
        self.prefix[ids] = r.integers(0, len(PREFIXES), n)
        self.day[ids] = r.integers(0, CATALOG_DAYS, n)
        self.ext[ids] = r.integers(0, len(EXTS), n)
        bad = r.random(n) < self.invalid_rate
        self.invalid[ids] = np.where(bad, r.integers(1, 3, n), 0)
        self.version[ids] = self.round
        self.alive[ids] = True
        return ids

    def alive_ids(self) -> np.ndarray:
        return np.flatnonzero(self.alive[: self.next_id])

    def mutate(self) -> dict:
        """One round of churn: about ``churn`` of the keys split evenly
        into added, deleted and modified."""
        self.round += 1
        ids = self.alive_ids()
        k = max(1, int(len(ids) * self.churn / 3))
        picked = self.rng.choice(ids, size=2 * k, replace=False)
        deleted, modified = picked[:k], picked[k:]
        self.alive[deleted] = False
        self.version[modified] = self.round
        added = self._add(k)
        return {"added": k, "deleted": k, "modified": k,
                "unchanged": len(ids) - 2 * k,
                "changed_ids": np.concatenate([deleted, modified]),
                "added_ids": added}

    # -- rendering -----------------------------------------------------
    def keys(self, ids: np.ndarray) -> list[str]:
        y, m, d = _DAY_Y[self.day[ids]], _DAY_M[self.day[ids]], _DAY_D[self.day[ids]]
        inv = self.invalid[ids]
        m = np.where(inv == 1, 13, m)
        d = np.where(inv == 2, 32, d)
        pre, ext = self.prefix[ids], self.ext[ids]
        return [
            f"{PREFIXES[p]}/year={yy}/month={mm:02d}/day={dd:02d}/obj-{i:08d}.{EXTS[e]}"
            for p, yy, mm, dd, i, e in zip(pre, y, m, d, ids, ext)
        ]

    def meta(self, ids: np.ndarray, version: np.ndarray) -> tuple:
        """(size, etag, last_modified) of each id at ``version``; a
        higher version always has a later last_modified."""
        h = _mix(ids, version, np.full(len(ids), self.seed))
        size = (h % np.uint64(10_000_000)).astype(np.int64) + 1
        etag = [f"{x:016x}" for x in h]
        lm_s = version.astype(np.int64) * 86_400 + (ids % 3_600)
        lm = np.datetime64(LM0, "us") + lm_s.astype("timedelta64[s]")
        return size, etag, lm

    def write_listing(self, path: str) -> int:
        """Write the current listing plus stale re-listed rows (an older
        version of ~dup_rate of the keys: earlier last_modified, other
        etag and size). Returns the number of rows written."""
        ids = self.alive_ids()
        dups = self.rng.choice(ids, size=int(len(ids) * self.dup_rate), replace=False)
        all_ids = np.concatenate([ids, dups])
        ver = np.concatenate([self.version[ids], self.version[dups] - 1])
        size, etag, lm = self.meta(all_ids, ver)
        table = pa.table({
            "key": self.keys(all_ids),
            "size": size,
            "etag": etag,
            "last_modified": pa.array(lm, pa.timestamp("us")),
        })
        order = self.rng.permutation(len(all_ids))
        write_parts(table.take(order), path)
        return len(all_ids)

    def truth(self) -> dict:
        """Closed-form answers for the current state."""
        ids = self.alive_ids()
        ok = self.invalid[ids] == 0
        month = np.where(self.invalid[ids] == 1, 13, _DAY_M[self.day[ids]])
        glob_pre = np.isin(self.prefix[ids], [PREFIXES.index(p) for p in GLOB_PREFIXES])
        glob_ext = np.isin(self.ext[ids], [EXTS.index(e) for e in GLOB_EXTS])
        in_2024 = _DAY_Y[self.day[ids]] == 2024
        not_neg = ~np.isin(month, (10, 11, 12))
        return {
            "unique_keys": int(len(ids)),
            "valid_keys": int(ok.sum()),
            "invalid_keys": int((~ok).sum()),
            "glob_matched": int((glob_pre & glob_ext & in_2024 & not_neg).sum()),
        }


class LookupStream:
    """Zipf-distributed metadata lookups over a fixed working set of
    catalog ids (larger than the cache), with the fetcher's truth."""

    def __init__(self, catalog: Catalog, working_set: int, zipf_s: float = 1.1):
        self.catalog = catalog
        self.ids = catalog.rng.choice(catalog.alive_ids(), size=working_set, replace=False)
        self.keys = catalog.keys(self.ids)
        ranks = np.arange(1, working_set + 1, dtype=np.float64)
        p = ranks ** -zipf_s
        self.p = p / p.sum()
        self.truth: dict[str, dict | None] = {}
        self.refresh()

    def refresh(self) -> None:
        """Recompute what the fetcher returns for every working-set key:
        its current metadata, or None once deleted."""
        c = self.catalog
        size, etag, lm = c.meta(self.ids, c.version[self.ids])
        lm = lm.astype("datetime64[us]").tolist()
        self.truth = {
            k: ({"key": k, "size": int(s), "etag": e, "last_modified": t}
                if c.alive[i] else None)
            for k, i, s, e, t in zip(self.keys, self.ids, size, etag, lm)
        }

    def fetch(self, bucket: str, key: str) -> dict | None:
        return self.truth.get(key)

    def draw(self, n: int) -> list[str]:
        idx = self.catalog.rng.choice(len(self.keys), size=n, p=self.p)
        return [self.keys[i] for i in idx]


# ---------------------------------------------------------------------------
# lake queries: a day-partitioned event lake
# ---------------------------------------------------------------------------

SCAN_DAY0 = dt.date(2024, 1, 1)
SCAN_DAYS = 365
SCAN_WIDTHS = (1, 7, 30, 90)


class EventLake:
    """Events over SCAN_DAYS days with exact per-day counts and value
    sums kept in numpy; appends update them."""

    def __init__(self, seed: int, n_events: int):
        self.rng = np.random.default_rng(seed)
        self.n_events = n_events
        self.next_id = 0
        self.count = np.zeros(SCAN_DAYS, np.int64)
        self.sum = np.zeros(SCAN_DAYS, np.float64)

    def _events(self, days: np.ndarray) -> pa.Table:
        n = len(days)
        r = self.rng
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        value = np.round(r.lognormal(3.0, 1.0, n), 4)
        secs = r.integers(0, 86_400, n)
        base = np.datetime64(SCAN_DAY0, "s") + days.astype("timedelta64[D]")
        ts = base + secs.astype("timedelta64[s]")
        dates = [SCAN_DAY0 + dt.timedelta(days=int(d)) for d in range(SCAN_DAYS)]
        y = np.array([d.year for d in dates], np.int32)[days]
        m = np.array([d.month for d in dates], np.int32)[days]
        d = np.array([d.day for d in dates], np.int32)[days]
        np.add.at(self.count, days, 1)
        np.add.at(self.sum, days, value)
        return pa.table({
            "event_id": ids,
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": r.integers(0, 100_000, n).astype(np.int32),
            "value": value,
            "year": y, "month": m, "day": d,
        })

    def write_base(self, path: str) -> None:
        """All events, per-day counts varying ±50% around the mean."""
        mean = self.n_events / SCAN_DAYS
        per_day = self.rng.integers(int(mean * 0.5), int(mean * 1.5) + 1, SCAN_DAYS)
        days = np.repeat(np.arange(SCAN_DAYS), per_day)
        write_parts(self._events(days), path)

    def write_append(self, path: str, day: int, n: int) -> None:
        pq.write_table(self._events(np.full(n, day)), path)

    def range_truth(self, lo: int, hi: int) -> tuple[int, float]:
        """(count, sum(value)) over days lo..hi inclusive."""
        return int(self.count[lo:hi + 1].sum()), float(self.sum[lo:hi + 1].sum())

    @staticmethod
    def date(day: int) -> dt.date:
        return SCAN_DAY0 + dt.timedelta(days=day)

    @staticmethod
    def month_days(month: int) -> tuple[int, int]:
        """First and last day index of a month of SCAN_DAY0's year."""
        first = dt.date(SCAN_DAY0.year, month, 1)
        nxt = dt.date(SCAN_DAY0.year + month // 12, month % 12 + 1, 1)
        lo = (first - SCAN_DAY0).days
        return lo, min(SCAN_DAYS - 1, (nxt - SCAN_DAY0).days - 1)


# ---------------------------------------------------------------------------
# dedup_pipeline: a document corpus and an embedding set
# ---------------------------------------------------------------------------

def _word(i: int) -> str:
    return "w" + hashlib.blake2b(i.to_bytes(4, "little"), digest_size=4).hexdigest()


def shingle_set(text: str, k: int = 3) -> frozenset:
    """Distinct word k-shingles of an already-normalized text, as
    ``dedup.shingles`` defines them for texts of at least k tokens."""
    t = text.split(" ")
    return frozenset(" ".join(t[i:i + k]) for i in range(len(t) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


class Corpus:
    """Documents from a Zipf vocabulary, 80-400 tokens each. A share of
    documents are edited copies of an original (near duplicates) and a
    smaller share exact copies; each original feeds at most one copy.
    Texts are lowercase single-spaced, so normalization is identity."""

    def __init__(self, seed: int, n_docs: int, vocab: int = 20_000,
                 near_rate: float = 0.2, exact_rate: float = 0.02,
                 edit_rate: float = 0.02):
        r = np.random.default_rng(seed)
        words = [_word(i) for i in range(vocab)]
        p = 1.0 / np.arange(1, vocab + 1) ** 1.05
        p /= p.sum()
        n_near, n_exact = int(n_docs * near_rate), int(n_docs * exact_rate)
        n_orig = n_docs - n_near - n_exact
        toks = [r.choice(vocab, size=r.integers(80, 401), p=p) for _ in range(n_orig)]
        sources = r.choice(n_orig, size=n_near + n_exact, replace=False)
        self.near_pairs: list[tuple[int, int]] = []
        self.exact_pairs: list[tuple[int, int]] = []
        for j, src in enumerate(sources):
            t = toks[src].copy()
            if j < n_near:
                pos = r.choice(len(t), size=max(1, int(len(t) * edit_rate)), replace=False)
                t[pos] = (t[pos] + r.integers(1, vocab, len(pos))) % vocab
                self.near_pairs.append((int(src), n_orig + j))
            else:
                self.exact_pairs.append((int(src), n_orig + j))
            toks.append(t)
        self.texts = [" ".join(words[i] for i in t) for t in toks]
        # shuffle ids so originals do not always hold the smaller id
        perm = r.permutation(n_docs)
        self.ids = perm.astype(np.int64)
        self.near_pairs = [(int(perm[a]), int(perm[b])) for a, b in self.near_pairs]
        self.exact_pairs = [(int(perm[a]), int(perm[b])) for a, b in self.exact_pairs]
        self.by_id = dict(zip(self.ids.tolist(), self.texts))

    @property
    def n_docs(self) -> int:
        return len(self.texts)

    def exact_keepers(self) -> int:
        return self.n_docs - len(self.exact_pairs)

    def write(self, path: str) -> None:
        write_parts(pa.table({"doc_id": self.ids, "text": self.texts}), path)


class Embeddings:
    """Unit vectors: random directions plus planted clusters of 2-3
    tight neighbours of a centre (cosine to each other ~0.99)."""

    def __init__(self, seed: int, n_vecs: int, dim: int = 64,
                 clustered: float = 0.3, noise: float = 0.012):
        r = np.random.default_rng(seed)
        self.dim = dim
        n_clu = int(n_vecs * clustered)
        sizes, total = [], 0
        while total < n_clu:
            s = int(r.integers(2, 4))
            sizes.append(s)
            total += s
        centres = r.normal(size=(len(sizes), dim))
        centres /= np.linalg.norm(centres, axis=1, keepdims=True)
        clu = np.repeat(centres, sizes, axis=0)
        clu += r.normal(scale=noise, size=clu.shape)
        rand = r.normal(size=(n_vecs - len(clu), dim))
        vecs = np.vstack([clu, rand])
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        # row i of vecs gets id perm[i], so clusters are not id-contiguous
        perm = r.permutation(len(vecs))
        self.vecs = np.empty_like(vecs)
        self.vecs[perm] = vecs
        bounds = np.cumsum([0, *sizes])
        self.groups = [perm[a:b].tolist() for a, b in zip(bounds[:-1], bounds[1:])]

    def planted_pairs(self) -> list[tuple[int, int, float]]:
        out = []
        for g in self.groups:
            for i, a in enumerate(g):
                for b in g[i + 1:]:
                    lo, hi = min(a, b), max(a, b)
                    out.append((lo, hi, float(self.vecs[lo] @ self.vecs[hi])))
        return out

    def write(self, path: str) -> None:
        n = len(self.vecs)
        offsets = pa.array(np.arange(0, n * self.dim + 1, self.dim, dtype=np.int32))
        write_parts(pa.table({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(self.vecs.ravel())),
        }), path)

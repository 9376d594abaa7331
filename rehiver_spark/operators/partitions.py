"""Hive partition schema: parse / validate / format / prune.

Re-expresses the reference's HivePartitionParser (src/index.ts:1558-1793)
— a Zod-schema-driven path parser — as a typed ``PartitionSchema`` that
works at two levels:

- **driver level** (string → dict): API parity for tooling and tests;
- **Column level** (DataFrame of keys → typed columns + validity):
  the scale path — extraction is ``regexp_extract`` + ``cast`` +
  constraint predicates, all codegen'd, applicable to billions of keys.

Partition *pruning* is the headline use (reference createGlobPattern,
src/index.ts:1644-1657): a partial spec becomes a filter on partition
columns, which Catalyst turns into directory pruning on a hive-layout
scan — no custom rule needed (SURVEY §4 row 2).

Documented divergences from the reference (SURVEY §7 risks):
- values containing ``=`` are kept whole (reference ``split("=",2)``
  truncates, src/index.ts:1586);
- values are URL-decoded per Hive convention (reference doesn't).
"""

from __future__ import annotations

import re
import urllib.parse
from dataclasses import dataclass, field
from datetime import date, datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# what Spark's try_cast to int/bigint accepts: an optional sign and
# ASCII digits, after trimming ASCII whitespace and control bytes
# (0x00-0x20, 0x7f) from both ends; Python int() would also take
# ``1_000`` and non-ASCII digits such as ``٣``
_INT_RE = re.compile(r"[\x00-\x20\x7f]*([+-]?[0-9]+)[\x00-\x20\x7f]*")
# the spellings of a double/date/timestamp BOTH rails accept, used by
# both: the driver fullmatches before parsing the captured value, the
# Column rail guards try_cast with ``rlike``. Outside them the parsers
# disagree: Java takes ``1.5d`` and ``0x1p3``, Spark's date cast takes
# ``2024``, ``2024-3-5`` and ``2024-03-05T00:00``, Python's fromisoformat
# takes ``20240305``, ``2024-W10-2`` and ``20240305T010203``; only Spark
# takes year 0000, only Python offsets beyond ±18:00.
_WS = r"[\t-\r ]*"
_YMD = r"(?!0000)[0-9]{4}-[0-9]{2}-[0-9]{2}"
_HMS = (
    r"[T ][0-9]{2}(?::[0-9]{2}(?::[0-9]{2}(?:\.[0-9]{1,6})?"
    r"(?:Z|[+-](?:0[0-9]|1[0-7]):[0-5][0-9]|[+-]18:00)?)?)?"
)
_FLOAT = r"[+-]?(?:(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?|(?i:inf|infinity))|(?i:nan)"
_LEXICAL = {  # dtype -> (spelling, driver parse of its captured value)
    "double": (re.compile(rf"{_WS}({_FLOAT}){_WS}"), float),
    "date": (re.compile(rf"{_WS}({_YMD}){_WS}"), date.fromisoformat),
    "timestamp": (
        re.compile(rf"{_WS}({_YMD}(?:{_HMS})?){_WS}"),
        lambda v: _naive_utc(datetime.fromisoformat(v)),
    ),
}
# a value is URL-decoded only if every ``%`` starts a valid escape
# (both rails: Java's url_decode throws on the rest, and decoding the
# valid escapes of a partly malformed value made the rails disagree)
_DECODABLE = r"(?:[^%]|%[0-9A-Fa-f]{2})*"


def _naive_utc(v):
    """Offset-aware datetime → naive UTC (None/naive pass through).
    Both bounds and parsed values go through this, so temporal
    comparisons are always like-vs-like — mixing aware and naive
    raised TypeError out of ``_check``, escaping the
    PartitionParseError contract."""
    if v is not None and getattr(v, "tzinfo", None) is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    return v

_SPARK_TYPE = {
    "int": "int",
    "long": "bigint",
    "string": "string",
    "double": "double",
    "date": "date",
    "timestamp": "timestamp",
}


class PartitionParseError(ValueError):
    pass


@dataclass
class PartitionField:
    """One partition key with Zod-style constraints
    (reference schemas: tests/index.test.ts:732-736, 957-963, 992-1001)."""

    name: str
    dtype: str = "string"  # int|long|string|double|date|timestamp
    # numeric dtypes take numeric bounds; date/timestamp dtypes take
    # ISO-string (or date/datetime) bounds, coerced in __post_init__.
    # min/max on a plain string dtype is a schema-configuration error —
    # silently skipping the check (the old behavior) let a mis-typed
    # schema pass every value.
    min: "float | str | None" = None
    max: "float | str | None" = None
    values: list[str] | None = None  # enum constraint
    # regex constraint (anchored). Evaluated by Python `re` on the driver
    # and Java regex on executors — restrict to the shared dialect subset:
    # literals, classes, quantifiers, alternation, \d/\w/\s (ASCII-only
    # on both rails, as in Java). No inline flags (?i), \p{} properties,
    # or lookbehind. Java's ``$`` also matches before a final line
    # terminator, so the Column rail anchors the end with ``\z``.
    pattern: str | None = None
    required: bool = True  # optional fields may be absent
    nullable: bool = False  # literal "null" → NULL (tests/index.test.ts:997-1000)
    nonempty: bool = False

    def __post_init__(self):
        if self.min is None and self.max is None:
            return
        if self.dtype in ("int", "long", "double"):
            for b in (self.min, self.max):
                if b is not None and not isinstance(b, (int, float)):
                    raise ValueError(
                        f"{self.name}: {self.dtype} bounds must be numeric, "
                        f"got {b!r}"
                    )
        elif self.dtype == "date":
            from datetime import date, datetime as _dt

            if isinstance(self.min, str):
                self.min = date.fromisoformat(self.min)
            if isinstance(self.max, str):
                self.max = date.fromisoformat(self.max)
            for b in (self.min, self.max):
                # datetime IS a date subclass but compares unlike one
                if b is not None and (
                    not isinstance(b, date) or isinstance(b, _dt)
                ):
                    raise ValueError(
                        f"{self.name}: date bounds must be ISO strings or "
                        f"datetime.date, got {b!r}"
                    )
        elif self.dtype == "timestamp":
            from datetime import datetime as _dt

            if isinstance(self.min, str):
                self.min = _dt.fromisoformat(self.min.replace(" ", "T", 1))
            if isinstance(self.max, str):
                self.max = _dt.fromisoformat(self.max.replace(" ", "T", 1))
            for b in (self.min, self.max):
                if b is not None and not isinstance(b, _dt):
                    raise ValueError(
                        f"{self.name}: timestamp bounds must be ISO strings "
                        f"or datetime.datetime, got {b!r}"
                    )
            # normalize aware bounds to naive UTC so they compare
            # against parsed values (same rule as coerce)
            self.min = _naive_utc(self.min)
            self.max = _naive_utc(self.max)
        else:
            raise ValueError(
                f"{self.name}: min/max not supported on dtype {self.dtype!r} "
                "(use pattern or values for string constraints)"
            )

    # -- driver-side ---------------------------------------------------
    def coerce(self, raw: str):
        if self.nullable and raw == "null":
            return None
        if self.dtype in ("int", "long"):
            m = _INT_RE.fullmatch(raw)
            v = int(m.group(1)) if m else None
            bound = 1 << (31 if self.dtype == "int" else 63)
            if v is None or not -bound <= v < bound:
                raise PartitionParseError(f"{self.name}: expected {self.dtype}, got {raw!r}")
        elif self.dtype in _LEXICAL:
            spelling, parse = _LEXICAL[self.dtype]
            m = spelling.fullmatch(raw)
            try:
                v = parse(m.group(1)) if m else None
            except ValueError:
                v = None
            if v is None:
                raise PartitionParseError(
                    f"{self.name}: expected {self.dtype}, got {raw!r}"
                )
        else:
            v = raw
        self._check(v, raw)
        return v

    def _check(self, v, raw: str):
        # __post_init__ guarantees bounds match the dtype (numeric for
        # int/long/double, date/datetime for temporal), so a direct
        # comparison is always well-typed here
        if self.min is not None and v < self.min:
            raise PartitionParseError(f"{self.name}: {v} < min {self.min}")
        # Spark orders NaN above every double, so NaN fails any max
        if self.max is not None and (v > self.max or v != v):
            raise PartitionParseError(f"{self.name}: {v} > max {self.max}")
        if self.values is not None and raw not in self.values:
            raise PartitionParseError(f"{self.name}: {raw!r} not in {self.values}")
        if self.pattern is not None and not re.fullmatch(self.pattern, raw, re.ASCII):
            raise PartitionParseError(f"{self.name}: {raw!r} !~ /{self.pattern}/")
        if self.nonempty and raw == "":
            raise PartitionParseError(f"{self.name}: empty")

    # -- Column-side ---------------------------------------------------
    def extract_col(self, key: Column) -> Column:
        """Raw string value of this key in the path, NULL if absent.

        URL-decoding is guarded: Java's ``url_decode`` throws
        CANNOT_DECODE_URL on malformed ``%`` sequences and turns ``+``
        into a space (x-www-form-urlencoded), both of which diverge from
        the driver-side ``urllib.parse.unquote``. We pre-escape ``+`` to
        ``%2B`` and only decode values whose ``%`` sequences are all
        valid; a malformed value is returned undecoded, on the driver
        rail too (``split_path``), rather than aborting the job.
        """
        # every occurrence in ONE scan; the LAST wins, matching
        # split_path's dict overwrite (driver parity), and an absent key
        # leaves an empty array, so NULL, not '' (no second presence
        # scan). Each occurrence is decoded through a lambda variable,
        # so the decode test and the chosen branch read the scan once
        # even where this runs interpreted, as in the ``_valid`` fold of
        # ``PartitionSchema.apply`` (no subexpression elimination there).
        # A value without ``%`` decodes to itself, so it skips the test.
        found = F.regexp_extract_all(
            key, F.lit(rf"(?:^|/){re.escape(self.name)}=([^/]*)"), F.lit(1)
        )
        decoded = F.transform(found, lambda v: F.when(~v.contains("%"), v).when(
            v.rlike(rf"^{_DECODABLE}$"),
            F.url_decode(F.replace(v, F.lit("+"), F.lit("%2B"))),
        ).otherwise(v))
        return F.try_element_at(decoded, F.lit(-1))

    def typed_from_raw(self, raw: Column) -> Column:
        """Typed value from an already-extracted raw string column."""
        if self.nullable:
            raw = F.when(raw != F.lit("null"), raw)
        if self.dtype in _LEXICAL:
            spelling = _LEXICAL[self.dtype][0].pattern
            raw = F.when(raw.rlike(rf"^(?:{spelling})\z"), raw)
        # try_cast, not cast: ANSI mode (Spark 4 default) makes plain
        # cast THROW on malformed input; validity detection relies on
        # cast-to-null semantics
        return raw.try_cast(_SPARK_TYPE[self.dtype])

    def valid_from_raw(self, raw: Column, typed: Column) -> Column:
        """Validity from already-extracted raw + typed columns."""
        ok = raw.isNotNull() | F.lit(not self.required)
        # an absent value, or a nullable field's literal ``null``, skips
        # every constraint (as ``coerce`` returns None before ``_check``)
        skip = raw.isNull()
        if self.nullable:
            skip = skip | (raw == "null")
        ok = ok & (typed.isNotNull() | skip)
        if self.min is not None:
            ok = ok & (typed.isNull() | (typed >= F.lit(self.min)))
        if self.max is not None:
            ok = ok & (typed.isNull() | (typed <= F.lit(self.max)))
        if self.values is not None:
            ok = ok & (skip | raw.isin(self.values))
        if self.pattern is not None:
            ok = ok & (skip | raw.rlike(f"^(?:{self.pattern})\\z"))
        if self.nonempty:
            ok = ok & (skip | (raw != ""))
        return ok


@dataclass
class PartitionSchema:
    """Schema over ordered partition keys (reference keys extracted from
    the Zod schema in declaration order, src/index.ts:1566-1571)."""

    fields: list[PartitionField] = field(default_factory=list)

    @property
    def keys(self) -> list[str]:
        return [f.name for f in self.fields]

    def _field(self, name: str) -> PartitionField:
        for f_ in self.fields:
            if f_.name == name:
                return f_
        raise KeyError(name)

    # ---------------- driver-side (API parity) ------------------------
    @staticmethod
    def split_path(path: str) -> dict[str, str]:
        """key=value segments of a path (non-partition segments skipped),
        URL-decoded unless a ``%`` is malformed, full value kept even if
        it contains ``=``."""
        out: dict[str, str] = {}
        for seg in path.split("/"):
            if "=" in seg and not seg.startswith("="):
                k, v = seg.split("=", 1)
                out[k] = urllib.parse.unquote(v) if re.fullmatch(_DECODABLE, v) else v
        return out

    def parse(self, path: str) -> dict:
        """Typed dict or raise (reference parse, src/index.ts:1579-1595)."""
        raw = self.split_path(path)
        out: dict = {}
        for f_ in self.fields:
            if f_.name not in raw:
                if f_.required:
                    raise PartitionParseError(f"{f_.name}: missing")
                continue
            out[f_.name] = f_.coerce(raw[f_.name])
        return out

    def safe_parse(self, path: str) -> tuple[bool, dict | list[str]]:
        """Non-throwing parse (reference safeParse, src/index.ts:1602-1618)."""
        try:
            return True, self.parse(path)
        except PartitionParseError as e:
            return False, [str(e)]

    def is_valid(self, path: str) -> bool:
        return self.safe_parse(path)[0]

    def validation_errors(self, path: str) -> list[str]:
        """All per-field violations (reference getValidationErrors,
        src/index.ts:1674-1682)."""
        raw = self.split_path(path)
        errs: list[str] = []
        for f_ in self.fields:
            if f_.name not in raw:
                if f_.required:
                    errs.append(f"{f_.name}: missing")
                continue
            try:
                f_.coerce(raw[f_.name])
            except PartitionParseError as e:
                errs.append(str(e))
        return errs

    def missing_keys(self, path: str) -> list[str]:
        """Schema keys absent from the path (src/index.ts:1689-1703)."""
        raw = self.split_path(path)
        return [k for k in self.keys if k not in raw]

    def format(self, data: dict) -> str:
        """Typed dict → ``k=v/k=v`` in schema-key order, validated,
        None/absent skipped (reference format, src/index.ts:1625-1637)."""
        parts: list[str] = []
        for f_ in self.fields:
            if f_.name not in data or data[f_.name] is None:
                if f_.required and not f_.nullable:
                    raise PartitionParseError(f"{f_.name}: missing")
                if f_.nullable and f_.name in data:
                    parts.append(f"{f_.name}=null")
                continue
            v = data[f_.name]
            f_._check(v, str(v))
            parts.append(f"{f_.name}={v}")
        return "/".join(parts)

    def glob_pattern(self, partial: dict) -> str:
        """Partial spec → glob with ``*`` for unspecified keys
        (reference createGlobPattern, src/index.ts:1644-1657)."""
        return "/".join(
            f"{k}={partial[k]}" if k in partial and partial[k] is not None else f"{k}=*"
            for k in self.keys
        )

    def extract_keys(self, path: str, keys: list[str]) -> dict:
        """Validate whole path then project a key subset
        (src/index.ts:1711-1726)."""
        full = self.parse(path)
        return {k: full[k] for k in keys if k in full}

    def transform(self, path: str, fn) -> str:
        """parse → patch → format (src/index.ts:1734-1741)."""
        data = self.parse(path)
        data.update(fn(dict(data)))
        return self.format(data)

    def matches_glob(self, path: str, pattern: str) -> bool:
        """Segment-anchored glob (src/index.ts:1750-1793)."""
        from rehiver_spark.functions.globs import segment_glob_to_regex

        return re.match(segment_glob_to_regex(pattern), path) is not None

    # ---------------- Column-side (scale path) ------------------------
    def missing_keys_col(self, key: Column | str) -> Column:
        """ARRAY<STRING> of schema keys absent from the path —
        ``array_except(schema_keys, found_keys)`` (SURVEY §2 R7)."""
        c = F.col(key) if isinstance(key, str) else key
        found = F.filter(
            F.array(*[F.when(c.rlike(rf"(?:^|/){re.escape(k)}="), F.lit(k)) for k in self.keys]),
            lambda x: x.isNotNull(),
        )
        return F.array_except(F.array(*[F.lit(k) for k in self.keys]), found)

    def format_col(self, cols: dict[str, Column] | None = None) -> Column:
        """Inverse of parse as a projection:
        ``concat_ws('/', concat('year=', year), ...)`` (SURVEY §2 R5)."""
        cols = cols or {k: F.col(k) for k in self.keys}
        parts = [
            F.concat(F.lit(f"{k}="), cols[k].cast("string"))
            for k in self.keys
            if k in cols
        ]
        return F.concat_ws("/", *parts)

    def prune_filter(self, partial: dict) -> Column:
        """Partial spec → conjunctive filter on partition columns.
        On a hive-layout read, Catalyst converts this to directory
        pruning (PartitionFilters) — the scalable form of the
        reference's glob-based pruning (README.md:137-147)."""
        cond = F.lit(True)
        for k, v in partial.items():
            self._field(k)  # validate key exists
            cond = cond & (F.col(k) == F.lit(v))
        return cond

    def apply(self, df: DataFrame, key: str = "key") -> DataFrame:
        """Attach typed partition columns (+ ``_valid``) to a keys DF.

        Invariant: each field's extraction appears once in the plan,
        whether the caller projects the result or filters on ``_valid``.
        The raw strings land in a first projection (``_raw_*``), which
        CollapseProject keeps apart because each is read more than once.
        A pushed ``filter("_valid")`` would still substitute that stage
        into every read (for ``date_schema``, 63 regex extractions in
        the Filter against 9 in the projection), so ``_valid`` is folded
        through a LAMBDA binding over one struct of the ``_raw_*``
        columns, the ``textops.winnow_fingerprints`` device: a
        substitution lands once, in the struct, and the fold reads only
        the lambda variable, which the optimizer cannot inline. The
        typed columns stay plain projections, so a filter on one of
        them (``prune_filter``) extracts only the fields it names."""
        raw_names = {f_.name: f"_raw_{f_.name}" for f_ in self.fields}
        staged = df.withColumns(
            {raw_names[f_.name]: f_.extract_col(F.col(key)) for f_ in self.fields}
        )

        def fold(s: Column) -> Column:
            ok = F.lit(True)
            for f_ in self.fields:
                raw = s[raw_names[f_.name]]
                ok = ok & f_.valid_from_raw(raw, f_.typed_from_raw(raw))
            return ok

        typed = {f_.name: f_.typed_from_raw(F.col(raw_names[f_.name])) for f_ in self.fields}
        valid = F.get(F.transform(F.array(F.struct(*raw_names.values())), fold), 0)
        return staged.withColumns({**typed, "_valid": valid}).drop(*raw_names.values())


# Reference example schemas (tests/index.test.ts:732-736, 957-963, 992-1001)
def date_schema() -> PartitionSchema:
    return PartitionSchema(
        [
            PartitionField("year", "int", min=2000, max=2100),
            PartitionField("month", "int", min=1, max=12),
            PartitionField("day", "int", min=1, max=31),
        ]
    )


def analytics_schema() -> PartitionSchema:
    return PartitionSchema(
        [
            PartitionField("region", values=["us-east", "us-west", "eu", "asia"]),
            PartitionField("service", nonempty=True),
            PartitionField("year", "int", min=2000),
            PartitionField("month", "int", min=1, max=12),
            PartitionField("eventType", values=["click", "view", "purchase", "error"]),
        ]
    )


def log_schema() -> PartitionSchema:
    return PartitionSchema(
        [
            PartitionField("app"),
            PartitionField("environment", values=["dev", "test", "staging", "prod"]),
            PartitionField("date", pattern=r"\d{4}-\d{2}-\d{2}"),
            PartitionField("level", values=["INFO", "WARN", "ERROR", "DEBUG"], required=False),
            PartitionField("instance", nullable=True, required=False),
        ]
    )

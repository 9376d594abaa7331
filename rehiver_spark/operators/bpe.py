"""Distributed BPE tokenizer training (Sennrich, Haddow & Birch 2016).

Charter extension X45/X46 — the missing "train the tokenizer on the
corpus" primitive of a training-data pipeline. The reference engine has
no tokenizer surface at all (its scope ends at object matching,
/root/reference/src/index.ts); this follows the published byte-pair-
encoding algorithm directly.

Design for scale — the key classical observation is that BPE trains on
the WORD-FREQUENCY table, not the corpus: after one corpus-sized
``groupBy(word).count()`` (map-side combined, output is vocabulary-
sized), every merge round touches only the vocabulary relation. At
100 TB of text the corpus pass happens once; the per-round work is a
pair-count aggregation whose shuffle is capped at the distinct-pair
count, plus a single 1-row ``collect`` for the arg-max (scalar driver
traffic, same discipline as the connected-components loop in
dedup.py). Lineage is truncated with ``localCheckpoint`` every few
rounds so round N's plan does not replay rounds 1..N-1.

Portability — the merge step is literal ``replace`` calls on a
space-delimited symbol string (no regex, no lookaround), so a SQL
engine (DuckDB/RE2, which lacks lookarounds entirely) reproduces it
exactly:

- a word is rendered ``" l o w </w> "`` (leading/trailing pad spaces,
  ``</w>`` end-of-word marker as its own final symbol);
- merging pair (a, b) must replace ``" a b "`` with ``" ab "`` in the
  classical sequential greedy left-to-right order. A naive literal
  replace CONSUMES the shared delimiter, so adjacent occurrences
  compete for it and the result diverges from the published
  algorithm (a second pass fixes ``a b a b`` but NOT self-pair runs:
  ``a a a a a`` two-pass gives ``aa a aa`` where classical greedy
  gives ``aa aa a``). The fix is the SPACE-DOUBLING transform: double
  every delimiter, match ``"␣a␣␣b␣"`` (each match consumes only its
  own half of each boundary), replace with ``"␣ab␣"``, halve the
  delimiters back. With no shared characters between candidate
  matches, one leftmost-first non-overlapping literal pass IS the
  classical greedy merge — for every pair including ``left == right``
  on arbitrary run lengths. Property-tested against a pure-Python
  reference implementation in tests/test_bpe.py (runs of 3–7,
  alternating pairs, mixed contexts).

Non-BMP text: the character split regex ``(.)`` is CODE-POINT-aware
on both engines — java.util.regex treats a supplementary character
(UTF-16 surrogate pair) as a single unit, as does DuckDB's RE2 — so
astral-plane corpora (emoji, musical symbols, Egyptian hieroglyphs)
train identically everywhere. Measured and pinned on both engines in
tests/test_bpe.py (astral spaced()/SQL-twin parity + an end-to-end
astral learn vs the pure-Python reference); an earlier caveat here
claiming a JVM surrogate split was wrong.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"
# learn_bpe round shape: lineage is truncated every _CHECKPOINT_EVERY
# accepted merges, and each round probes the top _PROBE_PAIRS pair
# counts. Neither changes the merge table, only the job count
_CHECKPOINT_EVERY = 6
_PROBE_PAIRS = 256


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the ONE corpus-sized pass.

    Map-side combined groupBy; output is vocabulary-sized, which is
    what every subsequent merge round operates on.
    """
    from rehiver_spark.operators.textops import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def spaced(word: Column) -> Column:
    """Render a word as its padded space-delimited symbol string:
    ``low`` → ``" l o w </w> "``. The pad spaces let every merge be a
    plain literal substring replace."""
    return F.concat(
        F.lit(" "),
        F.regexp_replace(word, "(.)", "$1 "),
        F.lit(END_OF_WORD + " "),
    )


def spaced_sql(word_expr: str) -> str:
    """DuckDB twin of :func:`spaced` (RE2 backreference is ``\\1``)."""
    return (
        f"' ' || regexp_replace({word_expr}, '(.)', '\\1 ', 'g')"
        f" || '{END_OF_WORD} '"
    )


def merge_once(col: Column, left: str, right: str) -> Column:
    """Apply ONE learned merge to a spaced symbol string — the exact
    classical sequential greedy merge via the space-doubling literal
    replace (see module docstring): double delimiters, replace
    ``"␣l␣␣r␣"`` → ``"␣lr␣"`` (matches never share a character, so
    leftmost-first non-overlapping == greedy), halve delimiters."""
    pat, rep = f" {left}  {right} ", f" {left}{right} "
    doubled = F.replace(col, F.lit(" "), F.lit("  "))
    merged = F.replace(doubled, F.lit(pat), F.lit(rep))
    return F.replace(merged, F.lit("  "), F.lit(" "))


def _symbols(spaced_col: Column) -> Column:
    return F.filter(F.split(spaced_col, " "), lambda s: s != F.lit(""))


def pair_counts(
    vocab: DataFrame, spaced_col: str = "spaced", freq_col: str = "freq"
) -> DataFrame:
    """(left_sym, right_sym, pair_freq) over a spaced vocabulary.

    Adjacent-pair extraction is pure array arithmetic (zip the symbol
    array with itself shifted by one); the only shuffle is the final
    partial-combined groupBy, capped at the distinct-pair count.
    """
    syms = _symbols(F.col(spaced_col))
    shifted = F.concat(
        F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
        F.array(F.lit(None).cast("string")),
    )
    pairs = F.filter(
        F.zip_with(
            syms,
            shifted,
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
        lambda p: p["r"].isNotNull(),
    )
    return (
        vocab.select(F.col(freq_col).alias("freq"), F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
        )
        .agg(F.sum("freq").cast("bigint").alias("pair_freq"))
    )


def _accept_batch(
    rows: list,
    already: int,
    num_merges: int,
    min_freq: int,
    probe: int,
    multi_syms: set,
) -> list:
    """Select the maximal prefix of a sorted pair-count snapshot that
    provably reproduces the classical SEQUENTIAL merge order when
    applied together (the round-9 multi-merge batching — see
    :func:`learn_bpe` for the argument). ``rows`` is the snapshot
    sorted (freq desc, left, right); ``already`` merges exist, so at
    most ``num_merges - already`` may be accepted. Pure driver-side
    arithmetic on the collected rows — no jobs. ``multi_syms`` is the
    set of multi-character symbol spellings alive in the vocabulary
    (``</w>`` plus every prior merge's spelling — initial symbols are
    single code points, so nothing else can collide with a merged
    spelling)."""
    if not rows or rows[0]["pair_freq"] < min_freq:
        return []
    # uncollected pairs sort after the probe window: freq ≤ t
    t = rows[-1]["pair_freq"] if len(rows) >= probe else 0
    first = rows[0]
    accepted = [first]
    # merging (a, b) rewrites exactly the pairs adjacent to its own
    # occurrences: it destroys occurrences of (x, a) and (b, y) and
    # creates (x, ab) / (ab, y). A pair (c, d) with d ∉ lefts and
    # c ∉ rights of every accepted merge is therefore COUNT-STABLE —
    # sharing a left symbol ((e,</w>) then (e,r)) or a right symbol
    # ((g,</w>) after (e,</w>)) is harmless, because one token has one
    # neighbor on each side and so belongs to at most one occurrence.
    lefts = {first["left_sym"]}
    rights = {first["right_sym"]}
    created = {first["left_sym"] + first["right_sym"]}
    # pass 1 — maximal COUNT-STABLE prefix: a candidate stops the
    # batch (never skipped — a skipped pair could still outrank later
    # candidates) when an accepted merge may have changed its count,
    # when its merged spelling collides with a live multi-char symbol
    # or a batch-created one, or when its count no longer strictly
    # beats every pair the probe window did not collect. A SELF-pair
    # merge (l == r) also CLOSES the batch after itself: it creates
    # (ll, ll) whose only source pair is the accepted pair ITSELF
    # (old count = its snapshot count, the round's maximum), so the
    # pass-2 outrank bound — which skips accepted pairs — cannot see
    # it, and (ll, ll) may classically outrank every later candidate
    # (r10 advisor repro: 20×'aaaaaa' corpus, (aa,aa)=40 beats
    # (c,d)=30 after (a,a) merges).
    if (
        first["left_sym"] + first["right_sym"] not in multi_syms
        and first["left_sym"] != first["right_sym"]
    ):
        for q in rows[1:]:
            if already + len(accepted) >= num_merges:
                break
            f, l, r = q["pair_freq"], q["left_sym"], q["right_sym"]
            if f < min_freq or f <= t:
                break
            if r in lefts or l in rights:
                break
            cs = l + r
            if cs in multi_syms or cs in created:
                break
            accepted.append(q)
            lefts.add(l)
            rights.add(r)
            created.add(cs)
            if l == r:
                break
    # pass 2 — new-pair outrank guard: every pair created by the
    # accepted merges has count ≤ the OLD count of one of its SOURCE
    # pairs — (x, ab) ≤ (x, a), (ab, y) ≤ (b, y), cross-batch
    # (ab, cd) ≤ (b, c) — i.e. a snapshot pair with right ∈ accepted
    # lefts or left ∈ accepted rights (or ≤ t if uncollected; source
    # counts cannot have grown earlier in the batch, because batch-
    # created pairs only involve NEW spellings). Trim the prefix so
    # each kept merge strictly beats that bound; using the FULL
    # batch's symbol sets makes the bound conservative, which only
    # shortens the prefix (never admits an unsound merge). Strictness
    # matters: at equality the classical tie-break would compare
    # against a pair whose identity the driver cannot know without
    # another round.
    akeys = {(q["left_sym"], q["right_sym"]) for q in accepted}
    max_touch = t
    for q in rows:
        if (q["left_sym"], q["right_sym"]) in akeys:
            continue  # an accepted pair's residual count is 0
        if q["right_sym"] in lefts or q["left_sym"] in rights:
            max_touch = max(max_touch, q["pair_freq"])
    keep = [accepted[0]]
    for q in accepted[1:]:
        if q["pair_freq"] <= max_touch:
            break
        keep.append(q)
    return keep


def learn_bpe(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_freq: int = 2,
) -> list[dict]:
    """Learn ``num_merges`` BPE merges from the corpus — EXACTLY the
    classical sequential algorithm's merge table, in fewer rounds.

    Returns the merge table as a list of dicts
    ``{rank, left_sym, right_sym, merged, pair_freq}`` (rank 0 first).
    Stops early when the best remaining pair's frequency drops below
    ``min_freq``. The vocabulary relation stays distributed throughout
    and its lineage is truncated every ``_CHECKPOINT_EVERY`` accepted
    MERGES (crossing-based, so the un-checkpointed expression depth is
    bounded regardless of how many merges one round batches).

    Multi-merge rounds (round 9): each round collects the TOP
    ``_PROBE_PAIRS`` rows of the pair-count snapshot (still
    scalar-bounded driver traffic) and applies the longest prefix that
    provably equals the classical sequential order, cutting the
    dominant cost — sequential job rounds — without changing one byte
    of the result (a probe of 1 is the strict one-merge rounds). The
    acceptance argument, each clause test-pinned in
    tests/test_bpe.py:

    - the snapshot's first row IS the classical argmax (same data,
      same (freq desc, left, right) order) — always applied;
    - a later row (l, r, f) is the NEXT classical argmax if nothing
      the earlier accepted merges did could have promoted another
      pair above it or changed its own count:

      * count-stability wrt every accepted merge (a, b): the
        candidate's right symbol is no accepted LEFT and its left
        symbol is no accepted RIGHT. Merging (a, b) rewrites exactly
        the pairs adjacent to its own occurrences — (x, a) and
        (b, y) — so a count-stable pair's occurrences are position-
        disjoint from every merged occurrence (one token has one
        neighbor per side), its count and the relative order of all
        stable snapshot pairs are unchanged, and the literal replaces
        in the space-doubled form touch disjoint character ranges
        (each match consumes only its own half of each boundary), so
        the batched application commutes with the sequential one.
        Sharing a LEFT symbol — (e, </w>) then (e, r) — or a RIGHT
        symbol — (g, </w>) after (e, </w>) — is harmless;
      * the merged spelling l+r must be a NEW symbol. Initial symbols
        are single code points, so only ``</w>`` and prior merge
        spellings can collide (``multi_syms``); on collision the
        merged pair's occurrences would pool with an existing
        symbol's and the count bookkeeping below breaks — the batch
        stops (the colliding merge applies alone, which is always
        exact);
      * every pair an accepted merge creates — (x, ab), (ab, y),
        (ab, ab), or cross-batch (ab, cd) — holds at most the OLD
        count of its source pair ((x,a), (b,y), (b,a), (b,c)
        respectively), and every source pair has right symbol ∈
        accepted lefts or left symbol ∈ accepted rights. So f must
        STRICTLY exceed both the largest snapshot count among source
        pairs and the probe tail bound t (uncollected pairs all have
        count ≤ t). Strictness matters: at equality the classical
        tie-break would compare against a pair whose identity the
        driver cannot know without another round — the batch stops
        instead.

    A candidate that fails any clause ENDS the batch rather than being
    skipped: its true current count is somewhere in [0, f], so any
    later candidate might classically rank after it. Interaction-heavy
    corpora therefore degrade gracefully to the sequential one-merge
    rounds, never to a wrong table.
    """
    # the vocabulary's symbol strings live in DOUBLED-delimiter form
    # for the whole loop (closed under merges — see merge_once): each
    # merge is then ONE literal replace instead of merge_once's three,
    # and pair_counts' symbol split filters the empty strings the
    # doubled spaces produce
    vocab = word_freqs(docs, text_col).withColumn(
        "spaced", F.replace(spaced(F.col("word")), F.lit(" "), F.lit("  "))
    )
    vocab = vocab.persist()
    merges: list[dict] = []
    multi_syms = {END_OF_WORD}
    # lineage is truncated on accumulated MERGES, not rounds: one
    # multi-merge round chains one F.replace per accepted merge, so a
    # rounds-based counter would let the per-column expression tree
    # grow to ~_CHECKPOINT_EVERY * _PROBE_PAIRS nested calls between
    # checkpoints (r10 advisor finding). Crossing-based accounting
    # bounds the un-checkpointed depth at _CHECKPOINT_EVERY plus one
    # batch, independent of the probe size.
    next_ckpt = _CHECKPOINT_EVERY
    prev: DataFrame | None = None
    try:
        while len(merges) < num_merges:
            rows = (
                pair_counts(vocab)
                .orderBy(
                    F.col("pair_freq").desc(),
                    F.col("left_sym"),
                    F.col("right_sym"),
                )
                .limit(_PROBE_PAIRS)
                .collect()
            )
            # the collect has just MATERIALIZED vocab's cache, so the
            # parent it derives from is now safe to release. Releasing
            # it any earlier (the pre-round-9 order) meant each round's
            # cache fill replayed the whole lineage back to the last
            # checkpoint — including the corpus-sized word_freqs pass.
            if prev is not None:
                prev.unpersist()
                prev = None
            batch = _accept_batch(
                rows, len(merges), num_merges, min_freq, _PROBE_PAIRS, multi_syms
            )
            if not batch:
                break
            col = F.col("spaced")
            for q in batch:
                l, r, pf = q["left_sym"], q["right_sym"], q["pair_freq"]
                merges.append(
                    {
                        "rank": len(merges),
                        "left_sym": l,
                        "right_sym": r,
                        "merged": l + r,
                        "pair_freq": pf,
                    }
                )
                multi_syms.add(l + r)
                col = F.replace(col, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
            nxt = vocab.withColumn("spaced", col)
            if len(merges) >= next_ckpt:
                nxt = nxt.localCheckpoint()
                while next_ckpt <= len(merges):
                    next_ckpt += _CHECKPOINT_EVERY
            nxt = nxt.persist()
            prev = vocab
            vocab = nxt
    finally:
        if prev is not None:
            prev.unpersist()
        vocab.unpersist()
    return merges


def apply_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_symbols",
) -> DataFrame:
    """Segment each document with a learned merge list — MAP-ONLY.

    Each word of the document is spaced, the merges are applied in
    rank order as nested literal replaces inside a ``transform`` over
    the token array, and ``out_col`` gets the per-document symbol
    sequence (words flattened in order). No shuffle, no Python rows —
    the whole thing is one projection inside whole-stage codegen.

    For merge lists in the thousands (a production tokenizer), the
    nested-expression form would exceed codegen limits — chunk the
    merges across a handful of intermediate columns, or move the loop
    into an Arrow-batched pandas UDF; at the tested sizes (≤64) the
    single projection is measured faster.
    """
    from rehiver_spark.operators.textops import tokens

    def seg_word(w: Column) -> Column:
        # the doubled-delimiter form is CLOSED under merges (every
        # boundary keeps exactly two spaces after each replace — see
        # merge_once), so the chain doubles ONCE, applies each merge
        # as a single replace, and never halves: the symbol split
        # filters empty strings, which absorbs the doubled spaces.
        # N+2 string passes instead of merge_once's 3N.
        s = F.replace(spaced(w), F.lit(" "), F.lit("  "))
        for left, right in merges:
            s = F.replace(
                s, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
            )
        return _symbols(s)

    return docs.withColumn(
        out_col, F.flatten(F.transform(tokens(F.col(text_col)), seg_word))
    )


def apply_merges_sql(
    merges: list[tuple[str, str]], toks_sql: str
) -> str:
    """DuckDB twin of :func:`apply_merges`'s per-document symbol list
    (``toks_sql`` is the token-array expression) — same double-once /
    merge-per-replace / never-halve chain."""
    s = f"replace({spaced_sql('w')}, ' ', '  ')"
    for left, right in merges:
        pat = f" {left}  {right} ".replace("'", "''")
        rep = f" {left}{right} ".replace("'", "''")
        s = f"replace({s}, '{pat}', '{rep}')"
    return (
        f"flatten(list_transform({toks_sql}, "
        f"w -> list_filter(string_split({s}, ' '), x -> x <> '')))"
    )

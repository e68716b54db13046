"""Text-analysis operators for large-scale training-data pipelines.

All pure column expressions (JVM-side, whole-stage codegen) — no Python UDFs.
Designed for the 100 TB document case: every op is a narrow map over the
`text` column; the only shuffles are the aggregations the caller adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beacon_indexer_spark.functions.core import _col, ColumnOrName

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------

def tokens(text: ColumnOrName) -> Column:
    """Whitespace tokens with empties removed — array<string>."""
    return F.filter(F.split(_col(text), r"\s+"), lambda t: t != "")


def token_count(text: ColumnOrName) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_tokens(text: ColumnOrName) -> Column:
    """A BPE-flavored tokenizer: alpha runs, digit runs, single punctuation
    marks — the standard pre-tokenization split used before byte-pair
    merging. regexp_extract_all keeps it expression-only."""
    return F.regexp_extract_all(_col(text), F.lit(_BPE_ISH), 0)


def bpe_ish_token_count(text: ColumnOrName) -> Column:
    return F.size(bpe_ish_tokens(text))


def _exclusive_prefix(
    sums, key: str, val, out, fan: int = 65536, _level: int = 0,
    max_key: int | None = None,
):
    """Distributed exclusive prefix sum over integer-keyed rows:
    ``out = sum(val) over all rows with key' < key``.

    ``val`` / ``out`` may be single column names or equal-length lists:
    several prefix sums over the SAME key share one window, one
    aggregation and one recursion (callers that would otherwise run the
    machinery twice and equi-join the results pay it once).

    EVERY window is partitioned (bounded fan-in — no unpartitioned window
    anywhere, at any input size): keys group into super-keys of ``fan``
    (integer DIV — trunc-toward-zero, monotone, so grouping preserves key
    order), the within-super exclusive cumsum windows over ≤ 2·fan rows
    per partition, and the super totals recurse. Depth is static from key
    bit-width: ceil(64 / log2(fan)) levels (4 at the default fan=65536),
    after which ANY 64-bit key has collapsed to exactly 0 — the terminal
    level is one group whose exclusive prefix is identically zero, no
    window needed. Each level is a tiny map-side-combined groupBy + a
    broadcast join back.

    ``max_key`` (an upper bound on ``max(key)``, keys assumed >= 0 when
    provided — callers probe it from data, see `pack_documents`) makes the
    depth data-aware without losing the unconditional bound: recursion
    stops as soon as the remaining key domain collapses to the single
    super-key 0 (``max_key == 0``), so a domain fitting one fan costs one
    level instead of the full static depth. The static `_level` guard
    stays as the backstop, so a wrong bound can deepen cost, never
    correctness — and depth never exceeds the static depth either way.
    """
    import math

    from pyspark.sql import DataFrame, Window

    assert isinstance(sums, DataFrame)
    assert fan >= 2, "fan must be >= 2"
    vals = [val] if isinstance(val, str) else list(val)
    outs = [out] if isinstance(out, str) else list(out)
    assert len(vals) == len(outs) and vals, "val/out must pair up"
    if (max_key is not None and max_key <= 0) or _level >= math.ceil(
        64 / math.log2(fan)
    ):
        # keys here have collapsed to the single value 0 (data-aware bound
        # with keys >= 0, or x DIV fan^depth with fan^depth >= 2^64):
        # exactly one group, nothing precedes it
        for o in outs:
            sums = sums.withColumn(o, F.lit(0).cast("long"))
        return sums
    sup = f"__sup{_level}"
    wcols = [f"__within{i}" for i in range(len(vals))]
    lv = sums.withColumn(sup, F.expr(f"CAST({key} DIV {fan} AS BIGINT)"))
    w = (
        Window.partitionBy(sup)
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = lv
    for v, wc in zip(vals, wcols):
        within = within.withColumn(
            wc, F.coalesce(F.sum(v).over(w), F.lit(0))
        )
    if max_key is not None and 0 <= max_key < fan:
        # single super-group (sup == 0 for every row, still ≤ fan rows per
        # window partition): no predecessor groups exist, so the within-
        # group cumsum IS the answer — skip the one-row recursion and its
        # broadcast join entirely
        for o, wc in zip(outs, wcols):
            within = within.withColumn(o, F.col(wc).cast("long"))
        return within.drop(sup, *wcols)
    supoffs = [f"__supoff{_level}_{i}" for i in range(len(vals))]
    supsums = [f"__supsum{i}" for i in range(len(vals))]
    sup_sums = lv.groupBy(sup).agg(
        *[F.sum(v).alias(s) for v, s in zip(vals, supsums)]
    )
    sup_off = _exclusive_prefix(
        sup_sums, sup, supsums, supoffs, fan, _level + 1,
        max_key=None if max_key is None else max_key // fan,
    ).select(sup, *supoffs)
    res = within.join(F.broadcast(sup_off), sup)
    for o, so, wc in zip(outs, supoffs, wcols):
        res = res.withColumn(o, F.col(so) + F.col(wc))
    return res.drop(sup, *wcols, *supoffs)


def pack_documents(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 512,
    range_size: int = 1000,
):
    """Greedy sequential packing of documents into fixed-capacity token
    windows (pretraining context packing): docs in id order fill window 0
    until `capacity` tokens accumulate, then window 1, … Documents may
    straddle a boundary (truncation-style packing); `pack_id` is the
    window the document STARTS in. Returns (id, n_tokens, pack_id).

    Scale shape — a distributed prefix sum, NOT one global window (a
    single ORDER BY window funnels 100 TB through one partition): ids
    bucket into contiguous ranges of `range_size`; per-bucket token sums
    (tiny — one row per bucket) get an exclusive running total via the
    recursive bounded-fan-in `_exclusive_prefix` (every level's window is
    partitioned, ≤ 65536 rows per partition, depth bounded by the 64-bit
    key width and cut data-aware by an id-only max/min probe — typical
    corpora run ONE level), broadcast back; the per-document prefix is
    bucket offset + within-bucket exclusive cumsum, each window parallel
    over buckets. Identical arithmetic to the global-order cumsum the
    oracle computes.

    Local cost floor (sf0.1, local[32], measured): ~0.8 s min-of-8 =
    ~0.17 s id-only probe job (column-pruned scan, fixed job-launch
    overhead) + ~0.3 s driver-side plan construction (py4j, independent of
    data size) + ~0.35 s exec (regex tokenize dominates). Down from 1.23 s
    at the r3 static depth; the two driver-side components are constants
    that vanish at cluster scale.
    """
    from pyspark.sql import DataFrame, Window

    assert isinstance(docs, DataFrame)
    toks = docs.select(
        F.col(id_col).alias("id"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ).withColumn("__bucket", (F.col("id") / range_size).cast("long"))
    # both the bucket-sum branch and the final join consume toks; without
    # this the corpus is regex-tokenized twice (lazy checkpoint → the tiny
    # (id, n_tokens, bucket) projection materializes once on first use)
    toks = toks.localCheckpoint(eager=False)
    bucket_sums = toks.groupBy("__bucket").agg(F.sum("n_tokens").alias("__bn"))
    # probe the bucket-key domain so the prefix-sum recursion can stop as
    # soon as the domain fits one fan instead of paying the full static
    # 64-bit depth (typical corpora: 1 level, not 4). The bucket key is a
    # pure function of the id, so the probe is an id-only aggregate over
    # the input — a column-pruned scan that never touches `text` and does
    # NOT force the toks checkpoint (the single downstream action still
    # materializes it exactly once for both consumers).
    bounds = docs.select(
        F.max(F.col(id_col)).cast("long").alias("mx"),
        F.min(F.col(id_col)).cast("long").alias("mn"),
    ).first()
    # the data-aware bound assumes non-negative keys; negative ids (legal
    # for the static path) fall back to the unconditional depth
    max_key = (
        bounds["mx"] // range_size
        if bounds["mx"] is not None and bounds["mn"] >= 0
        else None
    )
    offsets = _exclusive_prefix(
        bucket_sums, "__bucket", "__bn", "__off", max_key=max_key
    ).select("__bucket", "__off")
    win = Window.partitionBy("__bucket").orderBy("id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        toks.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            "__prefix",
            F.col("__off") + F.coalesce(F.sum("n_tokens").over(win), F.lit(0)),
        )
        .select(
            "id",
            "n_tokens",
            F.expr(f"CAST(__prefix DIV {capacity} AS BIGINT)").alias("pack_id"),
        )
    )


def pack_stats(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 512,
    range_size: int = 1000,
):
    """Packing-efficiency rollup over `pack_documents`: per pack window,
    how many documents START in it and how many of their tokens it
    absorbs (straddling docs count toward their start pack —
    truncation-style accounting, matching pack_id's definition), plus
    utilization = tokens/capacity (can exceed 1 when a straddler starts
    near the boundary). The batch-shape health check run before shipping
    a packed pretraining corpus. Returns (pack_id, n_docs, n_tokens,
    utilization); one extra map-side-combined groupBy over the packing
    output — the prefix-sum plan is unchanged."""
    packed = pack_documents(docs, id_col, text_col, capacity, range_size)
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .withColumn(
            "utilization", F.round(F.col("n_tokens") / F.lit(capacity), 6)
        )
    )


def chunk_windows(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
):
    """Split each document into fixed-size token windows with overlap
    (window − stride) — the chunking step before embedding for RAG or
    packing long documents into bounded training rows. Chunk starts are
    0, stride, 2·stride, …; n_chunks = 1 for docs within one window, else
    ⌈(n − window)/stride⌉ + 1 (the last chunk may be short, never empty);
    zero-token docs produce no chunks.

    Scale shape: stage the token array once per doc (narrow), then
    posexplode a `sequence` of chunk indices and `slice` the staged
    array — per-row cost O(n_tokens), no shuffle anywhere; the fan-out
    factor is n/stride, exactly the output size. Returns
    (id, chunk_idx, chunk_tokens, chunk_text).
    """
    from pyspark.sql import DataFrame

    assert isinstance(docs, DataFrame)
    assert window >= 1 and 1 <= stride <= window
    toks = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__t")
    ).withColumn("__n", F.size("__t"))
    n_chunks = F.when(F.col("__n") <= 0, F.lit(0)).when(
        F.col("__n") <= window, F.lit(1)
    ).otherwise(
        ((F.col("__n") - window + stride - 1) / stride).cast("long") + 1
    )
    chunked = (
        toks.withColumn("__k", n_chunks)
        .filter(F.col("__k") > 0)
        .select(
            "id",
            "__t",
            F.explode(F.sequence(F.lit(0), (F.col("__k") - 1).cast("int"))).alias(
                "chunk_idx"
            ),
        )
    )
    piece = F.slice(F.col("__t"), F.col("chunk_idx") * stride + 1, window)
    return chunked.select(
        "id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(piece).alias("chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def repetition_stats(
    docs, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3
):
    """Within-document repetition profile (Gopher-style repetition filter):
    per document, the total and distinct n-gram shingle counts, the
    duplicate-shingle fraction, and the highest single-shingle frequency.
    Returns (id, n_shingles, n_distinct, dup_ratio, top_freq).

    Scale shape: explode + two map-side-combined aggregations — the
    shuffle carries (id, shingle) pairs exactly like the dedup blocking
    paths, never an in-row O(distinct x total) HOF scan (quadratic for a
    highly repetitive long document, the very thing this op exists to
    catch). Documents too short to produce a shingle keep a row with
    zeros via the left join back to the id spine.
    """
    from pyspark.sql import DataFrame

    assert isinstance(docs, DataFrame)
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    )
    per = (
        sh.groupBy("id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_shingles"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_freq"),
        )
    )
    spine = docs.select(F.col(id_col).alias("id"))
    return (
        spine.join(per, "id", "left")
        .select(
            "id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) > 0,
                1.0 - F.col("n_distinct") / F.col("n_shingles"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_ratio"),
            F.coalesce("top_freq", F.lit(0)).alias("top_freq"),
        )
    )


def tfidf_top_terms(
    docs, id_col: str = "doc_id", text_col: str = "text", k: int = 3
):
    """Top-k characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1 — the sklearn smoothing), ties broken by
    term ascending. Returns (id, term, tf, score, rank).

    Scale shape: one explode + two map-side-combined aggregations (term
    frequency per doc, document frequency per term); the tf⋈df join is an
    equi-join on term (df side is vocabulary-sized — broadcastable at any
    corpus size); the corpus count N attaches via a broadcast one-row
    crossJoin, NOT a driver action, so the whole thing stays one lazy plan.
    """
    from pyspark.sql import DataFrame, Window

    assert isinstance(docs, DataFrame)
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log((F.col("__n") + 1).cast("double") / (F.col("df") + 1))
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "term", "tf", "score", "rank")
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

def punct_count(text: ColumnOrName) -> Column:
    return F.size(F.regexp_extract_all(_col(text), F.lit(r"[^\w\s]"), 0))


def mean_token_length(text: ColumnOrName) -> Column:
    tk = tokens(text)
    total = F.aggregate(tk, F.lit(0), lambda a, t: a + F.length(t))
    return F.when(F.size(tk) > 0, total / F.size(tk)).otherwise(F.lit(0.0))


def quality_score(text: ColumnOrName) -> Column:
    """Composite [0,1] quality heuristic: length, punctuation balance,
    token-length sanity. Deterministic arithmetic over exact int counts —
    reproducible across engines for oracle checking."""
    t = _col(text)
    n_chars = F.length(t)
    n_tok = token_count(t)
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_ratio = F.when(n_chars > 0, punct_count(t) / n_chars).otherwise(F.lit(0.0))
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio * 5)
    mtl = mean_token_length(t)
    tok_score = F.when((mtl >= 2) & (mtl <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    nonempty = F.when(n_tok > 0, F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_score * 0.4 + punct_score * 0.3 + tok_score * 0.3) * nonempty


# ---------------------------------------------------------------------------
# language identification (n-gram / stopword heuristic)
# ---------------------------------------------------------------------------

# tiny per-language marker lexicons — heuristic langid without models.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "it", "for", "with", "a"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un", "una", "es"],
    "fr": ["le", "la", "les", "des", "une", "est", "dans", "pour", "que", "du"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "für", "zu"],
}


def _isin_fn(words: list[str]):
    # NB: a plain `lambda t, m=words:` would be treated as an arity-2
    # higher-order-function lambda by PySpark (second arg = element index) —
    # bind via closure factory instead.
    return lambda t: t.isin(words)


def lang_scores(text: ColumnOrName) -> dict[str, Column]:
    """Marker-hit count per language over lowercase whitespace tokens."""
    tk = tokens(F.lower(_col(text)))
    return {
        lang: F.size(F.filter(tk, _isin_fn(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: ColumnOrName) -> Column:
    """argmax language with deterministic tie-break (alphabetical language
    code wins ties; 'und' when no markers hit)."""
    scores = lang_scores(text)
    # build (score, neg-ordered lang) structs and take greatest — tie-break by
    # lexicographically smallest lang means greatest of (score, reversed lang).
    pairs = [
        F.struct(score.alias("s"), F.lit(_rev(lang)).alias("rl"), F.lit(lang).alias("l"))
        for lang, score in sorted(scores.items())
    ]
    best = F.greatest(*pairs)
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


def _rev(lang: str) -> str:
    """Map a language code to a string whose ordering is reversed, so that
    `greatest` prefers alphabetically-smaller codes on score ties."""
    return "".join(chr(255 - ord(ch)) for ch in lang)


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------

def normalized_text(text: ColumnOrName) -> Column:
    """Lowercase, collapse whitespace, strip — canonical text for hashing."""
    return F.trim(F.regexp_replace(F.lower(_col(text)), r"\s+", " "))


def fingerprint(text: ColumnOrName) -> Column:
    """Content fingerprint: md5 of normalized text. Stable across engines."""
    return F.md5(normalized_text(text))


def sorted_token_fingerprint(text: ColumnOrName) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token set
    (catches shuffled/paraphrase-lite duplicates)."""
    tk = F.array_sort(F.array_distinct(tokens(F.lower(_col(text)))))
    return F.md5(F.array_join(tk, " "))


def word_shingles(text: ColumnOrName, n: int = 3) -> Column:
    """n-gram word shingles as array<string> (space-joined windows).

    Built by zipping the token array with its own shifted copies — every
    lambda uses ONLY its arguments, so the regexp tokenizer evaluates once
    per row (an index-based ``transform(idx, i -> slice(tk, i, n))`` puts
    ``tk`` inside the lambda body, where HOF evaluation re-runs it per
    element with no subexpression elimination — O(len²) tokenize work).
    ``zip_with`` pads the shorter side with null and ``concat`` nulls
    propagate, so the padded tail filters out; documents shorter than one
    shingle yield an EMPTY array, never an error (the old sequence-based
    bound produced the DESCENDING sequence [1, 0] for them, and
    slice(tk, 0, n) raises under ANSI)."""
    tk = tokens(F.lower(_col(text)))
    cur = tk
    for k in range(1, n):
        shifted = F.slice(tk, k + 1, F.greatest(F.size(tk) - k, F.lit(0)))
        cur = F.zip_with(cur, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.coalesce(
        F.filter(cur, lambda s: s.isNotNull()), F.array().cast("array<string>")
    )


def winnow_fingerprints(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    w: int = 4,
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    local fingerprinting scheme) at word-shingle granularity: hash every
    n-word shingle, slide a window of ``w`` consecutive hashes, keep the
    minimum hash of each window — the selected set is guaranteed to share
    a fingerprint with any copy that overlaps by at least w+n-1 WORDS, at
    an expected density of 2/(w+1) of the shingle count. Complements
    minhash (whole-document similarity) with LOCAL match detection: a
    plagiarized passage inside an otherwise-different document still
    collides. Word shingles (not MOSS's char k-grams) keep the hash count
    at O(tokens) per document — at corpus scale the char-gram variant
    costs ~6× the md5 work for the same detection granularity in words.

    Scale shape: pure array expressions, narrow map, no shuffle, no UDF —
    one md5 per shingle, O(tokens·w) window mins per row. The hash array
    is bound as a HOF LAMBDA VARIABLE via `_once` (transform over a
    one-element array): staging it as a projected column is NOT enough —
    CollapseProject inlines a staged column into every consumer,
    including lambda bodies, where HOF evaluation re-runs it per element
    (measured: a `transform(sequence, j -> array_min(slice(h, j, w)))`
    form cost O(len²) hash work per row — minutes for 500 docs; the
    lambda-bound cascade runs the identical semantics in ~1 s).
    Documents shorter than one window keep a single whole-array window;
    documents shorter than one shingle yield no rows. Engine-portable
    hashing (md5 → 60-bit fold, salt 'w:'), mirrored by the DuckDB
    oracle.

    Returns (id, fingerprint) distinct rows.
    """
    from pyspark.sql import DataFrame

    assert isinstance(docs, DataFrame)
    assert n >= 1 and w >= 1

    def _once(col: Column, fn) -> Column:
        """Evaluate `col` exactly once and pass it to `fn` as a lambda
        variable — a binding barrier no optimizer rule can duplicate
        (lambda-variable lookups are O(1) attribute reads)."""
        return F.element_at(F.transform(F.array(col), fn), 1)

    def _min_cascade(h: Column) -> Column:
        # sliding-window min by zipping the hash array with shifted copies
        # (w-1 least steps); least() ignores the null padding, and the
        # final slice keeps only the full windows (or the single short-doc
        # window)
        cur = h
        for s in range(1, w):
            shifted = F.slice(h, s + 1, F.greatest(F.size(h) - s, F.lit(0)))
            cur = F.zip_with(cur, shifted, lambda a, b: F.least(a, b))
        return F.slice(cur, 1, F.greatest(F.size(h) - (w - 1), F.lit(1)))

    fps = _once(
        F.transform(
            word_shingles(F.col("__txt"), n),
            lambda g: F.conv(
                F.substring(F.md5(F.concat(F.lit("w:"), g)), 1, 15), 16, 10
            ).cast("long"),
        ),
        lambda h: F.array_distinct(_min_cascade(h)),
    )
    staged = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(text_col).alias("__txt"),
    ).select("id", fps.alias("__fps"))
    return staged.select("id", F.explode("__fps").alias("fingerprint"))


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# (name, pattern, replacement) in REDACTION ORDER. Patterns use the common
# Java-regex / RE2 subset (character classes, bounded repetition, \b) so the
# DuckDB oracle evaluates the identical expressions. Order matters: emails
# are consumed before IPs/phones so their digit runs can't double-match.
# Reference scope note: the reference engine stores raw chain payloads and
# has no PII pass; this is a training-data-pipeline operator (BASELINE
# north star) in the C4/CCNet curation mold.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
]


def pii_counts(text: ColumnOrName) -> dict[str, Column]:
    """Per-category PII match counts on the ORIGINAL text. Narrow
    regexp_extract_all expressions — JVM-side, codegen, no shuffle."""
    t = _col(text)
    return {
        name: F.size(F.regexp_extract_all(t, F.lit(pat), 0))
        for name, pat, _ in PII_PATTERNS
    }


def redact_pii(text: ColumnOrName) -> Column:
    """Mask every PII category in `PII_PATTERNS` order. A pure chain of
    regexp_replace calls: at 100 TB this is a map-only pass that rides
    whatever partitioning the scan produced — no shuffle, no UDF."""
    out = _col(text)
    for _, pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, F.lit(pat), F.lit(rep))
    return out


# ---------------------------------------------------------------------------
# inverted-index postings
# ---------------------------------------------------------------------------

def build_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 16,
) -> DataFrame:
    """Batch inverted-index builder: per lowercase whitespace term, the
    document frequency (distinct docs), total term frequency, and a CAPPED
    posting list (the `max_postings` smallest doc ids, comma-joined) with
    a truncation flag.

    100-TB shape: the shuffle carries (term, id) pairs only; the posting
    list is capped BEFORE any collect_list via a partitioned row_number
    window, so a stopword's million-document posting list costs one
    window pass and materializes `max_postings` entries — the aggregate
    state is bounded per term.

    ONE tokenize pass and TWO exchanges, no joins (rather than
    tokenizing twice, for tf's map side and the distinct's, and
    reassembling df/tf/head through a three-way join): a single
    map-side-combined (term, id) count gives per-doc tf; the window
    re-keys it by term; and df/tf/postings all fold in ONE aggregate
    that reuses the window's partitioning (groupBy on the window's
    partition key adds no exchange).
    """
    from pyspark.sql import Window

    exploded = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    per_doc = exploded.groupBy("term", "id").agg(
        F.count(F.lit(1)).alias("__tf")
    )
    w = Window.partitionBy("term").orderBy("id")
    ranked = per_doc.withColumn("__r", F.row_number().over(w))
    return ranked.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_docs"),
        F.sum("__tf").cast("long").alias("tf_total"),
        # collect_list skips nulls: only the first max_postings ids per
        # term survive the when(); sorted for a deterministic list
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__r") <= max_postings, F.col("id"))
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    ).select(
        "term",
        "df_docs",
        "tf_total",
        "postings",
        (F.col("df_docs") > max_postings).cast("int").alias("truncated"),
    )


def curriculum_phases(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n_phases: int = 4,
) -> DataFrame:
    """Length-curriculum phase assignment (curriculum learning for LM
    pretraining: feed short/simple documents first, long ones last):
    within each ``group_col`` stratum, rank documents by token count and
    split the ranking into ``n_phases`` equal-population phases via
    NTILE. The ordering is made TOTAL with the id tiebreak so phase
    assignment is deterministic across engines and partitionings.
    Output: (id, group, n_tokens, phase 1..n_phases).

    100-TB shape: token counting is a narrow map; the window is
    PARTITIONED by the stratum (never an unpartitioned global sort).
    Strata are corpus sources — when a single source is itself tens of
    TB, a production run subdivides the stratum key (source x
    date-bucket) before ranking; the phase semantics compose because
    NTILE is population-based per stratum.
    """
    w = Window.partitionBy("group").orderBy("n_tokens", "id")
    return (
        docs.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(group_col).alias("group"),
            token_count(text_col).cast("long").alias("n_tokens"),
        )
        .withColumn("phase", F.ntile(n_phases).over(w).cast("long"))
    )


def char_entropy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the
    cheapest model-free gibberish screen: natural prose sits in a narrow
    entropy band, while base64 blobs / key dumps sit high and repeated-
    character padding sits low; used alongside the Gopher repetition and
    quality gates. Output: (id, n_chars, entropy).

    Computed as ln(n) - (sum c*ln(c))/n over per-character counts — one
    explode + two map-side-combined aggregations. 100-TB shape: the
    first shuffle is keyed by (doc, char) and partial aggregation
    collapses it to at most |alphabet| rows per document (NOT text
    length); the second is one row per document. The log-count identity
    keeps every term exact-integer-derived, so the rounded result is
    engine-reproducible.
    """
    chars = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(F.split(F.col(text_col), "")).alias("__ch"),
    ).filter(F.col("__ch") != "")
    cnts = chars.groupBy("id", "__ch").agg(F.count(F.lit(1)).alias("__c"))
    return (
        cnts.groupBy("id")
        .agg(
            F.sum("__c").alias("__n"),
            F.sum(F.col("__c") * F.log(F.col("__c"))).alias("__clogc"),
        )
        .select(
            "id",
            F.col("__n").cast("long").alias("n_chars"),
            F.round(
                F.log(F.col("__n")) - F.col("__clogc") / F.col("__n"),
                round_to,
            ).alias("entropy"),
        )
    )


_CODE_SYMBOLS = r"[^{}();=<>\[\]#]"
_CODE_KEYWORDS = (
    r"\b(def|return|function|var|const|import|class|void|int"
    r"|if|else|for|while)\b"
)


def code_likeness(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    symbol_threshold: float = 0.02,
    keyword_threshold: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Code-vs-prose detector (the Stack/StarCoder-style source split run
    before mixing code into an LM corpus): per document the density of
    code punctuation ({}();=<>[]#) and the count of hard code keywords,
    with an is_code verdict when either crosses its threshold. Pure
    column expressions (two regexes), no shuffle — the caller aggregates.
    Output: (id, n_chars, symbol_ratio, kw_hits, is_code).
    """
    t = F.col(text_col)
    n = F.length(t)
    sym = F.length(F.regexp_replace(t, _CODE_SYMBOLS, ""))
    kw = F.size(F.regexp_extract_all(F.lower(t), F.lit(_CODE_KEYWORDS), 0))
    ratio = F.when(
        n > 0, F.round(sym.cast("double") / n.cast("double"), round_to)
    ).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col).cast("long").alias("id"),
        n.cast("long").alias("n_chars"),
        ratio.alias("symbol_ratio"),
        kw.cast("long").alias("kw_hits"),
        (
            (ratio > symbol_threshold) | (kw >= keyword_threshold)
        ).cast("int").alias("is_code"),
    )


def lexical_diversity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Per-document type-token ratio (lexical diversity): distinct
    lowercase whitespace tokens over total tokens — low TTR flags
    template/boilerplate expansion that length and quality gates miss
    (a 2,000-token doc built from 40 words). Pure column expressions,
    no shuffle. Output: (id, n_tokens, n_types, ttr).
    """
    tk = tokens(F.lower(F.col(text_col)))
    n = F.size(tk)
    types = F.size(F.array_distinct(tk))
    return docs.select(
        F.col(id_col).cast("long").alias("id"),
        n.cast("long").alias("n_tokens"),
        types.cast("long").alias("n_types"),
        F.when(
            n > 0,
            F.round(types.cast("double") / n.cast("double"), round_to),
        )
        .otherwise(F.lit(0.0))
        .alias("ttr"),
    )


def heaps_law_curve(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_docs: int = 500,
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: documents in id order are
    grouped into buckets of ``bucket_docs``; per bucket the CUMULATIVE
    token count and CUMULATIVE distinct-vocabulary size up to and
    including that bucket — the saturation curve that says whether more
    data still buys new vocabulary. Output: (bucket, cum_tokens,
    cum_vocab).

    100-TB shape: "cumulative distinct" never re-counts — each term
    contributes at its FIRST bucket only (min-bucket per term, a
    vocabulary-bounded aggregate), per-bucket token sums are one row per
    bucket, and both running totals use the bounded-fan-in recursive
    prefix sum from `pack_documents` (every window partitioned; no
    global ORDER BY funnel).

    The vocabulary and token-sum branches both fold from ONE
    map-side-combined (term, bucket) aggregation — identical subtrees,
    so ReuseExchange materializes the tokenize+explode pass once rather
    than tokenizing twice (explode for vocabulary, size() for token
    sums). explode_outer keeps all-empty buckets alive
    (they must still emit a curve row). The joined per-bucket frame is
    lazily checkpointed BEFORE the key-domain probe, so the probe's
    first() materializes the blocks the prefix pass then reads — the old
    probe executed the whole join once at build and again at exec. Both
    running totals share one window via the multi-value prefix.
    """
    bucket = F.floor(F.col(id_col) / bucket_docs).cast("long")
    toks = docs.select(
        bucket.alias("bucket"),
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("__term"),
    )
    tb = toks.groupBy("__term", "bucket").agg(
        # null __term = an empty/whitespace-only document's placeholder
        # row: keeps its bucket present, contributes zero tokens
        F.sum(
            F.when(F.col("__term").isNotNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("__c")
    )
    new_terms = (
        tb.filter(F.col("__term").isNotNull())
        .groupBy("__term")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__new"))
    )
    per_bucket = tb.groupBy("bucket").agg(F.sum("__c").alias("__toks"))
    frame = (
        per_bucket.join(new_terms, "bucket", "left")
        .select(
            "bucket",
            F.col("__toks").cast("long").alias("__toks"),
            F.coalesce(F.col("__new"), F.lit(0)).cast("long").alias("__new"),
        )
        .localCheckpoint(eager=False)
    )
    # the bucket-key domain probe keeps the prefix-sum recursion at one
    # level for any realistic corpus (same pattern as pack_documents)
    mx = frame.select(F.max("bucket").alias("mx")).first()["mx"]
    frame = _exclusive_prefix(
        frame, "bucket", ["__toks", "__new"], ["__tprev", "__vprev"],
        max_key=mx,
    )
    return frame.select(
        "bucket",
        (F.col("__tprev") + F.col("__toks")).cast("long").alias("cum_tokens"),
        (F.col("__vprev") + F.col("__new")).cast("long").alias("cum_vocab"),
    )


def hashed_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    salt: str = "qw",
    n_weights: int = 2001,
) -> DataFrame:
    """fastText-style hashed LINEAR quality classifier (the model-based
    filter CCNet / RefinedWeb pipelines run after the heuristic gates):
    every token hashes to a fixed weight in [-1, 1], the document score
    is the mean token weight, label = 'keep' when the score is
    non-negative. Returns (id, n_tokens, lin_score, label).

    A real deployment loads trained weights (a broadcast map or a
    weight-table join); here the weight table is the md5 hash itself —
    ``w(t) = ((md5_60bit(salt:t) mod n_weights) - (n_weights-1)/2) /
    1024`` — which keeps the operator deterministic and
    oracle-checkable while exercising the exact production plan: a
    shuffle-free narrow map, one sequential fold per document (no token
    explode, no join). Swapping in trained weights changes only the
    ``w(t)`` expression.

    Cross-engine exactness: the weight denominator is a POWER OF TWO,
    so every weight and every running sum is exactly representable and
    the fold is integer-exact in doubles (a /1000 denominator put one
    sf0.01 doc's mean exactly on a 5e-7 decimal boundary, where Spark
    and DuckDB round() disagree); the reported score uses the
    floor(x*1e6 + 0.5) half-up formulation both engines compute
    identically (the `quantized_topk` discipline), and the label
    derives from the UNROUNDED score."""
    half = (n_weights - 1) // 2
    toks = tokens(F.lower(_col(text_col)))

    def w(t: Column) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), t)), 1, 15),
            16, 10,
        ).cast("long")
        return (h % n_weights - F.lit(half)).cast("double") / F.lit(1024.0)

    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + w(t))
    score = F.when(n > 0, total / n.cast("double")).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col).cast("long").alias(id_col),
        n.cast("long").alias("n_tokens"),
        (F.floor(score * 1e6 + F.lit(0.5)) / 1e6).alias("lin_score"),
        F.when(score >= 0, "keep").otherwise("cull").alias("label"),
    )

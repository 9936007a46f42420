"""Text-analysis operators for training-data pipelines.

Language-ID, quality scoring, token counting, fingerprinting — all pure
JVM Column expressions (scan-side, zero shuffle, zero Python in the hot
path), so they compose into any filter/groupBy at 100 TB for free.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def _t(text) -> Column:
    return F.col(text) if isinstance(text, str) else text


# ------------------------------------------------------------- token counts

def whitespace_tokens(text) -> Column:
    return F.split(F.trim(_t(text)), r"\s+")


def token_count(text) -> Column:
    """Whitespace token count."""
    return F.size(whitespace_tokens(text))


# BPE-ish pre-tokenizer: word pieces, numbers, and non-space punctuation —
# the GPT-2 pre-tokenizer shape without the lookbehind (unsupported in
# Java regex used by regexp_* here and in DuckDB's RE2 oracle).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpeish_token_count(text) -> Column:
    """Regex token count approximating a BPE pre-tokenizer's piece count."""
    return F.size(F.regexp_extract_all(_t(text), F.lit(BPE_ISH_PATTERN), 0))


def char_count(text) -> Column:
    return F.length(_t(text))


def distinct_token_ratio(text) -> Column:
    """distinct/total tokens — low values flag boilerplate/spam."""
    toks = whitespace_tokens(text)
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks)


# ----------------------------------------------------------- quality scoring

_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "was", "for",
    "on", "with", "as", "at", "by", "it", "be", "are", "this", "that",
]


def stopword_ratio(text, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords. Natural text ≈ 0.25-0.55;
    keyword spam ≈ 0; boilerplate lists ≈ 0."""
    sw = F.array(*[F.lit(s) for s in (stopwords or _STOPWORDS)])
    toks = whitespace_tokens(text)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return hits.cast("double") / F.size(toks)


def punct_ratio(text) -> Column:
    """Punctuation chars / all chars."""
    t = _t(text)
    stripped = F.regexp_replace(t, r"[^\w\s]", "")
    return (F.length(t) - F.length(stripped)).cast("double") / F.length(t)


def mean_token_length(text) -> Column:
    toks = whitespace_tokens(text)
    return F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    ).cast("double") / F.size(toks)


def quality_score(text) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence
    + token-length sanity + low punctuation. Deterministic and cheap —
    meant as a first-pass filter before model-based scoring."""
    t = _t(text)
    n = F.length(t)
    len_ok = F.when((n >= 100) & (n <= 20000), 1.0).when(n >= 30, 0.5).otherwise(0.0)
    sw = stopword_ratio(t)
    sw_ok = F.when((sw >= 0.1) & (sw <= 0.7), 1.0).otherwise(0.0)
    mtl = mean_token_length(t)
    mtl_ok = F.when((mtl >= 3.0) & (mtl <= 10.0), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(t) <= 0.2, 1.0).otherwise(0.0)
    return (len_ok + sw_ok + mtl_ok + punct_ok) / 4.0


# -------------------------------------------------------------- language id

# Tiny per-language stopword votes — an n-gram/stopword heuristic in the
# fasttext-lid spirit, deterministic and fully expressible in SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"],
    "es": ["el", "la", "los", "las", "es", "una", "por", "para", "con", "del"],
    "pt": ["o", "os", "uma", "os", "das", "nao", "com", "por", "mais", "como"],
    "it": ["il", "di", "che", "e", "la", "per", "una", "sono", "non", "con"],
}


def lang_scores(text, markers: dict[str, list[str]] | None = None) -> Column:
    """Struct of per-language stopword hit counts."""
    m = markers or LANG_MARKERS
    toks = F.transform(whitespace_tokens(text), lambda t: F.lower(t))
    fields = []
    for lang, words in m.items():
        arr = F.array(*[F.lit(w) for w in words])
        fields.append(
            F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).alias(lang)
        )
    return F.struct(*fields)


def language_id(text, markers: dict[str, list[str]] | None = None,
                default: str = "und") -> Column:
    """argmax-language by marker votes; ``default`` when no marker hits.

    Ties break by the (fixed) language order in ``markers`` — the same
    deterministic rule the SQL oracle expresses.
    """
    m = markers or LANG_MARKERS
    scores = lang_scores(text, m)
    langs = list(m.keys())
    best = F.greatest(*[scores[lang] for lang in langs])
    out = F.lit(default)
    for lang in reversed(langs):  # earlier languages win ties
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit(default))


# ------------------------------------------------------------ fingerprinting

def content_fingerprint(text) -> Column:
    """Canonical content hash: md5 of lowercased, whitespace-collapsed
    text. Robust to case/spacing-only edits; identical across engines
    (md5 is md5 everywhere) so it doubles as the cross-engine dedup key."""
    canon = F.lower(F.regexp_replace(F.trim(_t(text)), r"\s+", " "))
    return F.md5(canon)


def rolling_fingerprint(text, window: int = 4, mod: int = 1_000_003) -> Column:
    """Winnowing-style fingerprint: min of polynomial rolling hashes over
    word windows, mod a prime (Schleimer et al., SIGMOD'03 'winnowing').

    Arithmetic stays < 2^63 (acc ≤ mod·31 + mod), so it is safe under
    ANSI mode and reproducible in any engine with integer ops.
    """
    toks = F.transform(whitespace_tokens(text), lambda t: F.lower(t))
    # per-token value: polynomial hash of chars mod `mod`
    tokval = lambda t: F.aggregate(  # noqa: E731
        F.sequence(F.lit(1), F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, i: (acc * 31 + F.ascii(F.substring(t, i, 1))) % mod,
    )
    vals = F.transform(toks, tokval)
    n_win = F.greatest(F.size(vals) - (window - 1), F.lit(1))
    win_hash = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.aggregate(
            F.slice(vals, i, window),
            F.lit(0).cast("long"),
            lambda acc, v: (acc * 37 + v) % mod,
        ),
    )
    return F.array_min(win_hash)


def fingerprint_set(text, window: int = 4, mod: int = 1_000_003,
                    sample_mod: int = 8) -> Column:
    """The document's SET of sampled rolling word-window hashes — the
    multi-fingerprint companion to `rolling_fingerprint` for cross-doc
    overlap detection (MOSS-style). Window hashes are computed exactly
    as there; the set keeps those ≡ 0 (mod sample_mod) — the classic
    "0 mod p" fingerprint sampling, density 1/sample_mod, deterministic
    and engine-reproducible (winnowing's local-min selection needs a
    sequential scan; mod-sampling gives the same guarantee for shared
    substrings ≥ window tokens at equal density).

    Output: array<long> of distinct sampled window hashes (possibly
    empty for short/unlucky docs).
    """
    toks = F.transform(whitespace_tokens(text), lambda t: F.lower(t))
    tokval = lambda t: F.aggregate(  # noqa: E731
        F.sequence(F.lit(1), F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, i: (acc * 31 + F.ascii(F.substring(t, i, 1))) % mod,
    )
    vals = F.transform(toks, tokval)
    n_win = F.greatest(F.size(vals) - (window - 1), F.lit(1))
    win_hash = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.aggregate(
            F.slice(vals, i, window),
            F.lit(0).cast("long"),
            lambda acc, v: (acc * 37 + v) % mod,
        ),
    )
    return F.array_distinct(
        F.filter(win_hash, lambda h: h % sample_mod == 0))


# ------------------------------------------------------------------ chunking

def chunk_documents_by_tokens(docs, id_col: str, text_col: str,
                              chunk_tokens: int = 128,
                              overlap: int = 32) -> "DataFrame":
    """Split documents into fixed-size whitespace-TOKEN chunks with
    overlap — the context-window preprocessing step of embedding/RAG
    pipelines when the budget is a token count, not characters (the
    char-window sibling is `chunk_documents` below; this one guarantees
    every chunk fits a fixed token budget regardless of word length).

    Chunk i covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the last chunk may be short; every
    document yields ≥ 1 chunk (NULL text coalesces to ''). Pure JVM
    array expressions scan-side (sequence + slice + array_join) — a
    flatMap-shaped projection with NO shuffle: at 100 TB chunking
    streams through the scan and pipes straight into the next operator.

    Rejoining chunk 0's tokens with each later chunk's tokens[overlap:]
    reconstructs the whitespace-NORMALIZED token sequence exactly
    (pinned by pytest); original inter-token whitespace is not
    preserved — use `chunk_documents` for byte-exact reconstruction.

    Output: (id_col, chunk_id, chunk_text, chunk_n_tokens) — one row
    per chunk, 0-based chunk_id.
    """
    from pyspark.sql import functions as F  # local: mirrors module import

    if overlap >= chunk_tokens or overlap < 0:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = whitespace_tokens(F.coalesce(_t(text_col), F.lit("")))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"),
        F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.array_join(F.slice(toks, i * stride + 1, chunk_tokens), " ")
            .alias("chunk_text"),
            F.least(n - i * stride, F.lit(chunk_tokens)).cast("long")
            .alias("chunk_n_tokens"),
        ),
    )
    return (docs.select(F.col(id_col), F.explode(chunks).alias("__c"))
                .select(id_col, "__c.chunk_id", "__c.chunk_text",
                        "__c.chunk_n_tokens"))


# ----------------------------------------------- decontamination / budgeting

def decontaminate(
    docs,
    id_col: str,
    text_col: str,
    benchmark,
    bench_text_col: str,
    n_gram: int = 3,
    min_overlap: int = 1,
):
    """Benchmark decontamination: count distinct word n-grams each
    document shares with an evaluation corpus and flag docs at or above
    ``min_overlap`` — the standard eval-leakage filter for training data.

    Scale shape: the benchmark side (eval sets — thousands of rows) is
    reduced to its distinct n-gram set and BROADCAST; the corpus explodes
    its n-grams scan-side and hash-joins the broadcast — the 100 TB side
    never shuffles by n-gram, and the per-doc groupBy is keyed on doc id
    (one shuffle of (id, gram-hit) pairs only for docs with ≥1 hit).
    Output: docs + n_contaminated_grams (long) + contaminated (boolean).
    """
    from pyspark.sql import functions as F

    from .dedup import word_shingles

    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(bench_text_col, n_gram)).alias("__g"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col).alias("__did"),
        F.explode(word_shingles(text_col, n_gram)).alias("__g"),
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__g", "left_semi")
        .groupBy("__did")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
        .withColumnRenamed("__did", id_col)
    )
    out = docs.join(hits, id_col, "left")
    n = F.coalesce(F.col("n_contaminated_grams"), F.lit(0))
    return (out.withColumn("n_contaminated_grams", n)
               .withColumn("contaminated", n >= min_overlap))


# engine-independent id scramble for deterministic corpus ordering:
# ((id % M) * A) % M with A coprime to M — a bijection on [0, M), exactly
# reproducible in any SQL engine with int64 arithmetic (no overflow:
# (M-1)·A < 2^63).
_ORD_M = 2_147_483_647
_ORD_A = 2_654_435_761


def order_scramble(id_col):
    from pyspark.sql import functions as F

    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(F.pmod(c.cast("long"), F.lit(_ORD_M)) * F.lit(_ORD_A),
                  F.lit(_ORD_M))


def sample_to_token_budget(
    docs,
    id_col: str,
    text_col: str,
    budget: int,
):
    """Deterministic corpus subset under a token budget: order docs by a
    pseudorandom (but engine-reproducible) scramble of their id and keep
    the maximal prefix whose cumulative whitespace-token count stays
    within ``budget`` — how you cut a 100 TB corpus down to a target
    training-token count reproducibly.

    The cumulative sum runs through the two-pass range-bucket plan
    (plans/ranks.global_cumsum) — no single-partition window, no sort of
    the corpus; output keeps `tokens` and `cum_tokens` for auditing.
    """
    from pyspark.sql import functions as F

    from ..plans import global_cumsum

    base = docs.withColumn("tokens", token_count(text_col).cast("double")) \
               .withColumn("__ord", order_scramble(id_col))
    cum = global_cumsum(base, "__ord", ["tokens"])
    return (
        cum.where(F.col("cum_tokens") <= budget)
        .withColumn("tokens", F.col("tokens").cast("long"))
        .withColumn("cum_tokens", F.col("cum_tokens").cast("long"))
        .drop("__ord")
    )


# -------------------------------------------------------- repetition signals

def nonempty_lines(text) -> Column:
    return F.filter(F.split(_t(text), r"\n"),
                    lambda l: F.length(F.trim(l)) > 0)


def dup_line_fraction(text) -> Column:
    """Fraction of non-empty lines that repeat an earlier line — the
    Gopher-style repetition signal that flags boilerplate/spam pages.
    Pure JVM array expressions, scan-side."""
    lines = nonempty_lines(text)
    n = F.size(lines)
    uniq = F.size(F.array_distinct(lines))
    return F.when(n > 0, (n - uniq) / n.cast("double")).otherwise(F.lit(0.0))


def word_ngrams_of(text, n: int = 2) -> Column:
    """Whitespace-word n-grams joined with single spaces. Tokens are
    let-bound so the split runs once per row, not once per n-gram
    position (no CSE inside HOF lambdas). Texts shorter than n words
    yield an EMPTY array — the old greatest(…, 0) floor made
    sequence(1, 0) DESCEND to [1, 0] and slice(w, 0, n) then raised
    INVALID_PARAMETER_VALUE.START on any sub-n-token document."""
    from .dedup import _let

    return _let(whitespace_tokens(text), lambda w: F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        )).otherwise(F.array().cast("array<string>")))


def dup_ngram_fraction(text, n: int = 2) -> Column:
    """Fraction of word n-grams that repeat an earlier occurrence
    (Gopher duplicate n-gram signal). 0.0 for texts shorter than n
    words."""
    grams = word_ngrams_of(text, n)
    cnt = F.size(grams)
    uniq = F.size(F.array_distinct(grams))
    return F.when(cnt > 0, (cnt - uniq) / cnt.cast("double")) \
        .otherwise(F.lit(0.0))


def dup_span_stats(docs, id_col: str, text_col: str, n: int = 13):
    """Approximate substring-level duplication signal across the CORPUS
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better" — the ExactSubstr criterion at word granularity): every
    length-``n`` word window is hashed, and a window is *duplicated*
    when its hash occurs in >= 2 distinct documents. Per doc with at
    least ``n`` tokens: (id, n_windows, n_dup_windows, dup_frac).

    The suffix-array the paper builds is a single-machine structure; the
    distributed shape is this window-hash shuffle: the explode is linear
    in corpus tokens, the one shuffle keys on the 8-byte ``xxhash64`` of
    the window (the MinHash shingle-shuffle shape, uniform keys), the
    duplicated-window side is |distinct repeated windows| — corpus-small
    — and both aggregations are map-side combinable. No driver state at
    any scale. Grouping on the 64-bit hash instead of the window string
    keeps shuffle rows at 8 bytes/key; collisions (~n_windows²/2⁶⁴) are
    the documented approximation.
    """
    toks = whitespace_tokens(F.lower(_t(text_col)))
    wins = (
        docs.select(F.col(id_col), toks.alias("__t"))
        .where(F.size("__t") >= n)
        .select(
            id_col,
            F.explode(F.expr(
                f"transform(sequence(0, size(__t) - {n}), "
                f"i -> xxhash64(array_join(slice(__t, i + 1, {n}), ' ')))"
            )).alias("__wh"),
        )
    )
    dup = (
        wins.select("__wh", id_col).distinct()
        .groupBy("__wh").count().where(F.col("count") >= 2)
        .select("__wh", F.lit(1).alias("__dup"))
    )
    return (
        wins.join(dup, "__wh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
            .cast("long").alias("n_dup_windows"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 4))
    )


def contamination_report(
    docs,
    id_col: str,
    text_col: str,
    benchmark,
    bench_text_col: str,
    n_gram: int = 3,
):
    """GRADED benchmark-contamination report: per document, the
    FRACTION of its distinct word n-grams found in the evaluation
    corpus — the decision input when a binary gate (`decontaminate`)
    is too blunt (a 2% incidental overlap and a 95% verbatim leak are
    different problems; thresholding belongs to the caller).

    Same scale shape as `decontaminate`, ONE pass tighter: benchmark
    reduced to its distinct gram set and BROADCAST with a hit flag,
    corpus grams explode scan-side into a broadcast LEFT join, and a
    single per-doc groupBy counts total grams (the denominator —
    word_shingles is distinct, so the explode count IS the distinct
    count) and flagged grams together — one scan, one shuffle keyed on
    doc id. Output: (id_col, n_grams, n_contaminated_grams,
    overlap_frac [4 dp]).
    """
    from pyspark.sql import functions as F

    from .dedup import word_shingles

    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(bench_text_col, n_gram)).alias("__g"))
        .distinct().withColumn("__hit", F.lit(1))
    )
    doc_grams = docs.select(
        F.col(id_col).alias("__did"),
        F.explode(word_shingles(text_col, n_gram)).alias("__g"))
    n_hit = F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
    return (
        doc_grams.join(F.broadcast(bench_grams), "__g", "left")
        .groupBy("__did")
        .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
             n_hit.cast("long").alias("n_contaminated_grams"))
        .select(
            F.col("__did").alias(id_col), "n_grams",
            "n_contaminated_grams",
            F.round(F.col("n_contaminated_grams") / F.col("n_grams"), 4)
            .alias("overlap_frac"),
        )
    )


def dup_char_span_stats(docs, id_col: str, text_col: str, n: int = 50,
                        stride: int = 1, exact_keys: bool = False):
    """CHARACTER-granular ExactSubstr duplication signal (Lee et al.
    2022 fidelity tier): every length-``n`` char window (offsets 0,
    stride, 2·stride, …) is keyed, and a window is *duplicated* when
    its key occurs in ≥ 2 distinct documents. Catches duplicated spans
    the word-13-gram tier (`dup_span_stats`) cannot see — a shared
    45-char run spanning only 6 words produces zero duplicated 13-word
    windows but plenty of duplicated char windows.

    Same distributed shape as the word tier: linear explode, ONE
    shuffle on the window key, map-side-combinable aggs, no driver
    state. ``stride`` trades sensitivity for cost (stride-1 hashes
    n bytes per char — the paper's suffix array is char-exact too, at
    the price of a single-machine structure; stride=k cuts work k× but
    only catches spans whose per-doc offsets AGREE mod k — duplicated
    windows must be sampled at the same span-relative position in both
    docs, so stride>1 is a probabilistic sampler, ~1/k recall on
    arbitrary alignments, not a guarantee). Keys are
    ``xxhash64`` (8-byte shuffle rows) by default; ``exact_keys=True``
    shuffles the raw n-char window instead — collision-free and
    SQL-replayable (DuckDB has no xxhash64), n× heavier rows.
    Per doc with ≥ n chars: (id, n_windows, n_dup_windows, dup_frac).
    """
    if n < 1 or stride < 1:
        raise ValueError("n and stride must be >= 1")
    key = (f"substring(__s, i * {stride} + 1, {n})" if exact_keys
           else f"xxhash64(substring(__s, i * {stride} + 1, {n}))")
    wins = (
        docs.select(F.col(id_col), F.lower(_t(text_col)).alias("__s"))
        .where(F.length("__s") >= n)
        .select(
            id_col,
            F.explode(F.expr(
                f"transform(sequence(0, CAST((length(__s) - {n}) "
                f"/ {stride} AS INT)), i -> {key})")).alias("__wh"),
        )
    )
    dup = (
        wins.select("__wh", id_col).distinct()
        .groupBy("__wh").count().where(F.col("count") >= 2)
        .select("__wh", F.lit(1).alias("__dup"))
    )
    return (
        wins.join(dup, "__wh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
            .cast("long").alias("n_dup_windows"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 4))
    )


# ------------------------------------------------------------- PII scrubbing

# Deliberately lookbehind-free so the SAME patterns run in Java regex
# (Spark) and RE2 (DuckDB oracle) — parity is part of the contract.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def pii_redact(text, kinds: list[str] | None = None) -> Column:
    """Mask PII spans with [KIND] tokens (email → [EMAIL] etc.) — the
    standard scrub pass before training. Chained JVM regexp_replace,
    scan-side; order is ipv4 → phone → email so the digit-hungry phone
    pattern can't eat IP octets."""
    out = _t(text)
    order = [k for k in ("ipv4", "phone", "email")
             if kinds is None or k in kinds]
    for k in order:
        out = F.regexp_replace(out, PII_PATTERNS[k], f"[{k.upper()}]")
    return out


def pii_counts(text) -> Column:
    """Struct of per-kind PII match counts (audit before redaction)."""
    t = _t(text)
    return F.struct(*[
        F.size(F.regexp_extract_all(t, F.lit(p), 0)).alias(k)
        for k, p in PII_PATTERNS.items()
    ])


def chunk_documents(docs, id_col: str, text_col: str,
                    chunk_chars: int = 2048,
                    overlap: int = 256) -> "DataFrame":
    """Split documents into fixed-size overlapping character windows —
    the embedding/RAG prep step (a retriever embeds chunks, not 100 KB
    documents). Chunk i covers characters [i·stride, i·stride +
    chunk_chars) with stride = chunk_chars − overlap, so consecutive
    chunks share exactly ``overlap`` characters and
    ``chunk0 + chunk1[overlap:] + chunk2[overlap:] + …`` reconstructs
    the document verbatim (pinned by a round-trip pytest). Every doc
    emits ≥1 chunk (empty/NULL text → one '' chunk) so per-doc
    accounting stays join-stable through the explode.

    Output: (id_col, chunk_id, chunk, n_chunks) — one row per chunk,
    0-based chunk_id.

    Scale shape: pure scan-side JVM expressions (sequence → transform →
    posexplode); no shuffle at all — the 100 TB corpus chunks at read
    throughput, and the output inherits the input partitioning. Char
    (not byte) windows: substr is codepoint-based in Spark and DuckDB
    alike, so multilingual text never splits inside a codepoint.
    """
    from pyspark.sql import functions as F

    stride = int(chunk_chars) - int(overlap)
    if stride <= 0 or overlap < 0:
        raise ValueError("need 0 <= overlap < chunk_chars")
    t = F.coalesce(_t(text_col), F.lit(""))
    n = F.greatest(F.lit(1), F.ceil(
        (F.length(t) - F.lit(int(overlap))) / F.lit(stride))).cast("int")
    return (docs
            .select(F.col(id_col), t.alias("__t"), n.alias("n_chunks"))
            .select(
                id_col, "n_chunks",
                F.posexplode(F.transform(
                    F.sequence(F.lit(0), F.col("n_chunks") - 1),
                    lambda i: F.col("__t").substr(
                        i * stride + 1, F.lit(int(chunk_chars)))))
                .alias("chunk_id", "chunk"))
            .select(id_col, "chunk_id", "chunk", "n_chunks"))


def pack_sequences(docs, id_col: str, text_col: str,
                   seq_tokens: int = 2048) -> "DataFrame":
    """Assign documents to fixed-token-budget training bins: order by
    the reproducible id scramble, prefix-sum whitespace-token counts
    (two-pass range-bucket plan — no global sort), bin = ceil of the
    prefix at each doc's END over ``seq_tokens``. Contiguous packing:
    every bin holds consecutive scramble-ordered docs totalling
    ~seq_tokens (the standard streaming approximation of bin packing —
    exact first-fit is inherently sequential).

    Output: original columns + tokens, bin (0-based).
    """
    from pyspark.sql import functions as F

    from ..plans import global_cumsum

    base = docs.withColumn("tokens", token_count(text_col).cast("double")) \
               .withColumn("__ord", order_scramble(id_col))
    cum = global_cumsum(base, "__ord", ["tokens"])
    bin_id = F.greatest(
        F.ceil(F.col("cum_tokens") / seq_tokens) - 1, F.lit(0)).cast("long")
    return (cum.withColumn("bin", bin_id)
               .withColumn("tokens", F.col("tokens").cast("long"))
               .drop("__ord", "cum_tokens"))


# ------------------------------------------------------- unicode hygiene

def normalize_unicode(text, form: str = "NFC") -> Column:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) — the first step of
    any multilingual corpus pipeline (decomposed sequences, ligatures,
    and width variants otherwise split token statistics and defeat
    exact dedup). Spark has no ICU normalizer built-in, so this is an
    Arrow-batch pandas UDF over `unicodedata` — vectorized per batch,
    never per-row Python."""
    from pyspark.sql.functions import pandas_udf

    if form not in {"NFC", "NFD", "NFKC", "NFKD"}:
        raise ValueError("form must be NFC|NFD|NFKC|NFKD")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda x: None if x is None
                     else unicodedata.normalize(form, x))

    return _norm(_t(text))


def fix_double_encoded(text) -> Column:
    """Repair the classic UTF-8-read-as-latin-1 mojibake ('\u00c3\u00a9'
    -> 'e-acute'): if the string round-trips latin-1-encode ->
    utf-8-decode, return the re-decoded form, else the original
    (strings with codepoints above U+00FF or invalid UTF-8 byte runs
    are untouched). This is the ftfy-lite heuristic: pure-ASCII text is
    a fixpoint, and the repair is deterministic — apply behind an
    artifact-count filter if the corpus may contain LEGITIMATE latin-1
    text that happens to parse as UTF-8."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _fix(s: pd.Series) -> pd.Series:
        def f(x):
            if x is None:
                return None
            try:
                return x.encode("latin-1").decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                return x

        return s.map(f)

    return _fix(_t(text))


def encoding_artifact_counts(text) -> Column:
    """Struct of encoding-damage signals, pure JVM regexp counts (no
    UDF): ``mojibake_lead`` (U+00C2/U+00C3 — the latin-1 reading of
    UTF-8 continuation prefixes), ``replacement`` (U+FFFD), ``ctrl``
    (C0 controls except tab/newline/CR). High counts mean the document
    went through a broken decode and should be repaired or dropped."""
    t = _t(text)
    return F.struct(
        F.regexp_count(t, F.lit("[\u00c2\u00c3]")).alias("mojibake_lead"),
        F.regexp_count(t, F.lit("\ufffd")).alias("replacement"),
        F.regexp_count(
            t, F.lit("[\u0000-\u0008\u000b\u000c\u000e-\u001f]"))
        .alias("ctrl"),
    )


# ------------------------------------------------- rule-based quality gates

def source_overlap_matrix(
    docs: "DataFrame",
    group_col: str,
    text_col: str,
    n: int = 3,
) -> "DataFrame":
    """Pairwise word-n-gram overlap between corpus SOURCES — the
    which-dumps-duplicate-each-other report that decides whether two
    crawls/snapshots should both enter the mixture (CommonCrawl dumps
    overlap 30-80% snapshot-to-snapshot; doc-level dedup sees trees,
    this sees the forest).

    Plan: distinct (source, gram) pairs with grams as xxhash64 longs
    (8-byte shuffle keys, not n-gram strings; distinct grams stay
    distinct at ~n²/2⁶⁴ collision odds — same contract as
    `dedup.hashed_char_shingles`) → ONE self-equi-join on the gram
    hash. A gram present in s sources emits s·(s−1)/2 pair rows, so
    join output is bounded by |distinct grams| · |sources|²/2 — the
    sources axis is tiny by nature, the corpus axis shuffles once.

    Output: (source_a, source_b, grams_a, grams_b, shared, jaccard)
    for source_a < source_b.
    """
    from .dedup import word_shingles

    grams = (
        docs.select(F.col(group_col).alias("__src"),
                    F.explode(word_shingles(text_col, n)).alias("__g"))
        .select("__src", F.xxhash64("__g").alias("__h"))
        .distinct()
    )
    from .._utils import materialize

    grams = materialize(grams)
    counts = grams.groupBy("__src").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(F.col("__src").alias("source_a"), "__h")
    b = grams.select(F.col("__src").alias("source_b"), "__h")
    shared = (
        a.join(b, "__h")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = counts.select(F.col("__src").alias("source_a"),
                       F.col("n_grams").alias("grams_a"))
    cb = counts.select(F.col("__src").alias("source_b"),
                       F.col("n_grams").alias("grams_b"))
    return (
        shared.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a", "source_b", "grams_a", "grams_b", "shared",
            (F.col("shared").cast("double")
             / (F.col("grams_a") + F.col("grams_b") - F.col("shared"))
             ).alias("jaccard"),
        )
    )


def quality_classifier_scores(
    docs: "DataFrame",
    id_col: str,
    text_col: str,
    label,
    keep_cols: "Sequence[str] | None" = None,
    l2: float = 1.0,
    n_iters: int = 8,
) -> "tuple[list[float], DataFrame]":
    """Model-based quality scoring with WEAK supervision — the
    fastText-classifier step of corpus curation (CCNet/LLaMA-style:
    label a slice of the corpus cheaply, fit a tiny linear model on
    scan-side features, score everything): ``label`` is any 0/1 Column
    (a heuristic rule, a benchmark-overlap flag, a lang tag…), the
    features are the two cheapest fluency signals (stopword ratio and
    mean token length, both pure JVM scan expressions), and the model
    is ridge-logistic via the existing one-pass-per-iteration IRLS
    (`functions.linear.logistic_reg`).

    Ridge (``l2``, bias unpenalized) is load-bearing: weak labels are
    often near-separable in these features, and the penalty keeps the
    Newton fixpoint finite and engine-reproducible.

    Scale shape: each IRLS pass aggregates 9 doubles; scoring is one
    scan-side sigmoid over literal coefficients — the corpus never
    shuffles. Returns ``(beta, scored)`` where beta =
    [coef_stopword, coef_mean_tok_len, intercept] and ``scored`` =
    (id_col, *keep_cols, x_sw, x_mtl, score).
    """
    from ..functions import linear as LIN

    feats = (
        # trim-nonempty, not size(tokens)>0: splitting "" yields [""]
        docs.where(F.trim(_t(text_col)) != "")
        .select(F.col(id_col), *[F.col(c) for c in (keep_cols or [])],
                stopword_ratio(text_col).alias("x_sw"),
                mean_token_length(text_col).alias("x_mtl"),
                label.cast("double").alias("__y"))
    )
    beta = LIN.logistic_reg(feats, ["x_sw", "x_mtl"], "__y",
                            add_bias=True, n_iters=n_iters, l2=l2)
    eta = (F.lit(beta[0]) * F.col("x_sw")
           + F.lit(beta[1]) * F.col("x_mtl") + F.lit(beta[2]))
    scored = feats.drop("__y").withColumn(
        "score", F.lit(1.0) / (F.lit(1.0) + F.exp(-eta)))
    return beta, scored


def gopher_rules(text) -> Column:
    """Struct of the classic repetition-free Gopher quality rules
    (Rae et al. 2021, table A1 — the public heuristics every corpus
    pipeline reimplements), each a named boolean, plus ``pass`` = AND
    of all. Pure JVM expressions, so the gate runs at scan speed and
    pushes into the parquet read:

      * word_count in [50, 100000]
      * mean_word_len in [3, 10]
      * symbol_to_word (#, ellipsis) <= 0.1
      * bullet_start fraction of lines <= 0.9
      * ellipsis_end fraction of lines <= 0.3
      * alpha_word fraction (words containing a letter) >= 0.8
      * stopword_hits >= 2
    """
    t = _t(text)
    w = whitespace_tokens(t)
    nw = F.size(w)
    nw_d = nw.cast("double")
    mean_wl = F.when(
        nw > 0,
        F.aggregate(w, F.lit(0).cast("long"),
                    lambda a, x: a + F.length(x)).cast("double") / nw_d)
    symbols = F.regexp_count(t, F.lit("#")) \
        + F.regexp_count(t, F.lit("\\.\\.\\.")) \
        + F.regexp_count(t, F.lit("\\u2026"))
    lines = F.split(t, "\\n")
    nl = F.size(lines).cast("double")
    bullet = F.size(F.filter(
        lines, lambda x: x.rlike("^\\s*[-*\\u2022]")))
    ell = F.size(F.filter(
        lines, lambda x: x.rlike("(\\.\\.\\.|\\u2026)\\s*$")))
    alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    sw = F.array(*[F.lit(s) for s in LANG_MARKERS["en"]])
    swh = F.size(F.filter(F.transform(w, lambda x: F.lower(x)),
                          lambda x: F.array_contains(sw, x)))
    rules = {
        "word_count": (nw >= 50) & (nw <= 100_000),
        "mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "symbol_to_word": F.when(nw > 0, symbols / nw_d <= 0.1)
                           .otherwise(F.lit(False)),
        "bullet_start": F.when(nl > 0, bullet / nl <= 0.9)
                         .otherwise(F.lit(True)),
        "ellipsis_end": F.when(nl > 0, ell / nl <= 0.3)
                         .otherwise(F.lit(True)),
        "alpha_word": F.when(nw > 0, alpha / nw_d >= 0.8)
                       .otherwise(F.lit(False)),
        "stopword_hits": swh >= 2,
    }
    ok = None
    fields = []
    for name, c in rules.items():
        c = F.coalesce(c, F.lit(False))
        fields.append(c.alias(name))
        ok = c if ok is None else (ok & c)
    return F.struct(*fields, ok.alias("pass"))


_SCRIPT_CLASSES = {
    "latin": "[A-Za-z\\u00c0-\\u024f]",
    "cyrillic": "[\\u0400-\\u04ff]",
    "greek": "[\\u0370-\\u03ff]",
    "arabic": "[\\u0600-\\u06ff]",
    "cjk": "[\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af]",
    "digit": "[0-9]",
}


def script_profile(text) -> Column:
    """Struct of per-script character counts (latin/cyrillic/greek/
    arabic/cjk/digit) + ``dominant`` (argmax, ties to the fixed order
    above, 'und' when all zero) — the script-level complement of
    `language_id`, and the standard first split of a multilingual
    crawl. Pure JVM regexp counts."""
    t = _t(text)
    counts = {k: F.regexp_count(t, F.lit(p))
              for k, p in _SCRIPT_CLASSES.items()}
    names = [k for k in _SCRIPT_CLASSES if k != "digit"]
    best = F.greatest(*[counts[k] for k in names])
    dom = F.lit("und")
    for k in reversed(names):  # earlier scripts win ties
        dom = F.when(counts[k] == best, F.lit(k)).otherwise(dom)
    dom = F.when(best > 0, dom).otherwise(F.lit("und"))
    return F.struct(*[c.alias(k) for k, c in counts.items()],
                    dom.alias("dominant"))


# ------------------------------------------- bloom-prefiltered decontamination

def _bloom_words(positions, num_bits: int) -> list[int]:
    """Pack set bit positions into signed-int64 words (Java long layout)."""
    words = [0] * (num_bits // 64)
    for p in positions:
        words[p >> 6] |= 1 << (p & 63)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _bloom_hit(g, words_lit, masks_lit, num_bits: int, num_hashes: int):
    """All-k-bits-set membership test, pure JVM: xxhash64(gram, seed) %
    m → word index + per-bit mask lookup (variable shifts aren't a
    Column op, so a 64-entry mask array replaces shiftright(col, col))."""
    cond = None
    for seed in range(num_hashes):
        h = F.pmod(F.xxhash64(g, F.lit(seed)), F.lit(num_bits))
        w = F.element_at(words_lit, F.floor(h / 64).cast("int") + 1)
        mask = F.element_at(masks_lit, F.pmod(h, F.lit(64)).cast("int") + 1)
        c = w.bitwiseAND(mask) != 0
        cond = c if cond is None else (cond & c)
    return cond


def bloom_decontaminate(
    docs,
    id_col: str,
    text_col: str,
    benchmark,
    bench_text_col: str,
    n_gram: int = 3,
    min_overlap: int = 1,
    num_bits: int = 1 << 17,
    num_hashes: int = 2,
):
    """`decontaminate` with a Bloom-filter pre-filter: the benchmark's
    distinct n-grams are folded into an m-bit Bloom bitset (k seeded
    xxhash64 probes) that ships to every task as ONE array<long> literal
    (m/8 bytes — 16 KB at the default 2^17), and each corpus n-gram is
    tested scan-side; only Bloom-POSITIVE grams enter the exact
    broadcast semi-join. Blooms have no false negatives, and the exact
    join removes the false positives, so the output is row-for-row
    identical to `decontaminate` — what changes is the scale shape: at
    100 TB the per-doc (id, gram) stream that survives to the join/agg
    is only the contaminated sliver (fpr ≈ (1-e^{-kn/m})^k of the rest),
    instead of every gram of every document.

    The driver collects only the ≤ min(k·|bench grams|, m) distinct bit
    positions — the benchmark side (eval suites) is small by definition.
    """
    from .dedup import word_shingles

    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")

    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(bench_text_col, n_gram)).alias("__g"))
        .distinct()
    )
    pos_rows = (
        bench_grams.select(
            F.explode(F.array(*[
                F.pmod(F.xxhash64(F.col("__g"), F.lit(s)), F.lit(num_bits))
                for s in range(num_hashes)
            ])).alias("__p"))
        .distinct()
        .collect()
    )
    words_lit = F.lit(_bloom_words([r["__p"] for r in pos_rows], num_bits))
    masks_lit = F.lit([(1 << b) - (1 << 64 if b == 63 else 0)
                       for b in range(64)])

    doc_grams = docs.select(
        F.col(id_col).alias("__did"),
        F.explode(word_shingles(text_col, n_gram)).alias("__g"),
    ).where(_bloom_hit(F.col("__g"), words_lit, masks_lit,
                       num_bits, num_hashes))
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__g", "left_semi")
        .groupBy("__did")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
        .withColumnRenamed("__did", id_col)
    )
    out = docs.join(hits, id_col, "left")
    n = F.coalesce(F.col("n_contaminated_grams"), F.lit(0))
    return (out.withColumn("n_contaminated_grams", n)
               .withColumn("contaminated", n >= min_overlap))


# ------------------------------------------------ DSIR importance resampling

def dsir_log_weights(
    corpus,
    id_col: str,
    text_col: str,
    target,
    target_text_col: str,
    smoothing: float = 1.0,
):
    """DSIR-style importance log-weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling",
    arXiv:2302.03169): score every raw-corpus document by
    log p_target(doc) − log p_raw(doc) under add-`smoothing` smoothed
    bag-of-words unigram LMs, where p_target is fit on a small
    in-domain sample and p_raw on the corpus itself. High weight ⇒ the
    document looks like the target domain; resampling by these weights
    is the DSIR selection step. (The paper hashes n-grams into a fixed
    bucket space; on word-sized vocabularies the exact table below is
    the same estimator without the hash collisions — swap the word for
    `pmod(xxhash64(word), B)` to get the hashed variant at 100 TB.)

    Scale shape: two token-count aggregations (map-side partial) build
    the vocab × {target, raw} log-ratio table — vocabulary-sized, so it
    BROADCASTS; the corpus then explodes tokens scan-side, hash-joins
    the broadcast ratio table, and one groupBy(id) shuffle of (id,
    ratio) pairs sums each document's weight. The corpus never shuffles
    by token.

    Returns (id_col, n_tokens, log_weight) — one row per corpus doc.
    """
    toks_c = F.explode(
        F.transform(whitespace_tokens(text_col), lambda t: F.lower(t)))
    toks_t = F.explode(
        F.transform(whitespace_tokens(target_text_col), lambda t: F.lower(t)))

    raw_cnt = (corpus.select(toks_c.alias("__w"))
               .groupBy("__w").agg(F.count(F.lit(1)).alias("__cr")))
    tgt_cnt = (target.select(toks_t.alias("__w"))
               .groupBy("__w").agg(F.count(F.lit(1)).alias("__ct")))

    vocab = raw_cnt.join(tgt_cnt, "__w", "full_outer").select(
        "__w",
        F.coalesce("__cr", F.lit(0)).alias("__cr"),
        F.coalesce("__ct", F.lit(0)).alias("__ct"),
    )
    # r15: totals (inside the ratio broadcast) and the ratio projection
    # both consume vocab — unpinned, the two corpus/target token
    # aggregations ran twice. The frame is vocabulary-sized (it
    # broadcasts downstream), so the cache is trivially bounded.
    from .._utils import materialize
    vocab = materialize(vocab)
    totals = vocab.agg(
        F.sum("__cr").alias("__nr"), F.sum("__ct").alias("__nt"),
        F.count(F.lit(1)).alias("__v"),
    )
    a = F.lit(float(smoothing))
    ratios = vocab.crossJoin(F.broadcast(totals)).select(
        "__w",
        (F.log((F.col("__ct") + a) / (F.col("__nt") + a * F.col("__v")))
         - F.log((F.col("__cr") + a) / (F.col("__nr") + a * F.col("__v"))))
        .alias("__lr"),
    )
    doc_toks = corpus.select(F.col(id_col).alias("__did"),
                             toks_c.alias("__w"))
    weights = (
        doc_toks.join(F.broadcast(ratios), "__w")
        .groupBy("__did")
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum("__lr").alias("log_weight"))
        .withColumnRenamed("__did", id_col)
    )
    # explode drops docs with NULL/whitespace-only text — left-join back
    # so the "one row per corpus doc" contract holds (empty doc ⇒ empty
    # product ⇒ log-weight 0)
    return corpus.select(id_col).join(weights, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
    )


def dsir_sample(
    corpus,
    id_col: str,
    text_col: str,
    target,
    target_text_col: str,
    n: int,
    smoothing: float = 1.0,
):
    """DSIR selection step: keep the `n` corpus documents with the
    highest importance log-weights (deterministic top-n — ties break on
    id — standing in for the paper's Gumbel-top-k draw, which is the
    same order statistic with seeded noise added). orderBy+limit plans
    as TakeOrdered — per-partition top-n, no global sort of the corpus.
    """
    w = dsir_log_weights(corpus, id_col, text_col, target,
                         target_text_col, smoothing)
    return (w.orderBy(F.col("log_weight").desc(), F.col(id_col))
             .limit(int(n)))


# ------------------------------------------------------ corpus-level diversity

def corpus_ngram_diversity(docs, group_col: str, text_col: str, n: int = 3):
    """Per-group corpus diversity profile: distinct-vs-total n-gram and
    token ratios — the corpus-level cousin of the per-doc Gopher
    repetition signals. Template-generated/spammy/synthetic sources
    show low gram_diversity (few distinct n-grams re-used many times)
    long before per-doc signals fire, so this is the standard
    source-triage scan before mixing a crawl.

    One explode + one groupBy(group) pass per unit; distinct counts are
    exact (count_distinct shuffles (group, gram) — the honest global
    statistic; swap in approx_count_distinct for a sketch at 100 TB).
    Returns (group, n_docs, total_tokens, distinct_tokens, token_ttr,
    total_ngrams, distinct_ngrams, ngram_diversity).
    """
    g = F.col(group_col)
    toks = docs.select(
        g.alias("__grp"),
        F.explode(F.transform(whitespace_tokens(text_col),
                              lambda t: F.lower(t))).alias("__tok"),
    ).groupBy("__grp").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.count_distinct(F.col("__tok")).alias("distinct_tokens"),
    )
    grams = docs.select(
        g.alias("__grp"),
        F.explode(word_ngrams_of(text_col, n)).alias("__g"),
    ).groupBy("__grp").agg(
        F.count(F.lit(1)).alias("total_ngrams"),
        F.count_distinct(F.col("__g")).alias("distinct_ngrams"),
    )
    ndocs = docs.groupBy(g.alias("__grp")).agg(
        F.count(F.lit(1)).alias("n_docs"))
    return (
        ndocs.join(toks, "__grp").join(grams, "__grp")
        .select(
            F.col("__grp").alias(group_col), "n_docs",
            "total_tokens", "distinct_tokens",
            (F.col("distinct_tokens") / F.col("total_tokens"))
            .alias("token_ttr"),
            "total_ngrams", "distinct_ngrams",
            (F.col("distinct_ngrams") / F.col("total_ngrams"))
            .alias("ngram_diversity"),
        )
    )

"""Text-analysis operators for training-data pipelines: language ID
(stopword n-gram heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), document fingerprinting (winnowing over
rolling k-gram hashes).  All built-in Column algebra — the per-token
loops unroll into the expression tree, nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from fences_spark.operators import round6

from fences_spark.operators.dedup import _token_hash, tokens

# compact stopword lists (public common-word sets; heuristic only)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "nicht"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "las", "y", "de", "un", "una", "es", "que"],
}


def whitespace_token_count(text: Column) -> Column:
    """Number of alnum word tokens."""
    return F.size(tokens(text))


# GPT-ish pre-tokenizer classes: letter runs, single digits,
# punctuation runs (a regex approximation of BPE pre-splitting)
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def bpeish_token_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def _in_set(words: list[str]):
    # arity-1 lambda factory (an extra lambda param would be bound to
    # the array index by pyspark's higher-order functions)
    return lambda x: x.isin(words)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, _in_set(STOPWORDS[lang])))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def language_id(text: Column) -> Column:
    """Best-scoring language by stopword hit ratio; 'und'
    (undetermined) when nothing hits."""
    toks = tokens(text)
    n = F.size(toks)
    scores = [
        (lang, F.size(F.filter(toks, _in_set(sw))))
        for lang, sw in STOPWORDS.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # first language (in insertion order) achieving the max, like a
    # stable argmax; vacuous when no stopword hit at all
    for lang, s in reversed(scores):
        out = F.when((n > 0) & (best_score > 0) & (s == best_score), F.lit(lang)).otherwise(out)
    return out


def quality_features(text: Column) -> dict[str, Column]:
    """The classic cheap quality signals."""
    n_chars = F.length(text)
    toks = tokens(text)
    n_tokens = F.size(toks)
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n_tokens,
    ).otherwise(F.lit(0.0))
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": round6(mean_tok_len.cast("double")),
        "alpha_ratio": round6(
            F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0)).cast("double")),
        "punct_ratio": round6(
            F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0)).cast("double")),
        "stopword_ratio_en": round6(stopword_ratio(text, "en").cast("double")),
    }


def quality_score(text: Column) -> Column:
    """[0,1] heuristic: reward sane token length, letters, stopwords;
    penalize punctuation soup and empty docs.  The exact formula is a
    documented convention (both engines compute it identically)."""
    f = quality_features(text)
    length_ok = F.when((f["n_tokens"] >= 5) & (f["n_tokens"] <= 100000), 0.25).otherwise(0.0)
    toklen_ok = F.when((f["mean_token_len"] >= 2.5) & (f["mean_token_len"] <= 12), 0.25).otherwise(0.0)
    alpha_part = F.least(f["alpha_ratio"] / F.lit(0.7), F.lit(1.0)) * 0.25
    stop_part = F.least(f["stopword_ratio_en"] / F.lit(0.2), F.lit(1.0)) * 0.25
    return round6(length_ok + toklen_ok + alpha_part + stop_part)


# ---------------------------------------------------------------------------
# fingerprinting: winnowing over rolling k-gram hashes
# ---------------------------------------------------------------------------


def winnow_fingerprints(text: Column, *, k: int = 8, window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    scheme): hash every k-char gram of the normalized text, slide a
    window of ``window`` hashes, keep each window's minimum; the
    distinct minima are the fingerprint set.

    Execution shape (per-row, narrow, no shuffle): higher-order
    lambdas re-evaluate any non-lambda-variable subtree once PER
    ELEMENT, so the naive ``transform(sequence, i -> substr(norm, i,
    k))`` / ``transform(sequence, i -> array_min(slice(hashes, i,
    w)))`` forms are O(n²) interpreted regex/md5 per document
    (observed: minutes for 500 ×300-gram docs).  Instead: all k-grams
    in ONE regex pass via a zero-width lookahead capture
    ``(?=(.{k}))``, then sliding-window minima by log₂(window)
    doubling ``zip_with(least)`` passes — zip_with null-pads the
    shorter side and ``least`` skips nulls, so clipped trailing
    windows match ``array_min(slice(...))`` exactly.  O(n·window)
    total."""
    norm = F.regexp_replace(F.lower(text), "[^a-z0-9]+", " ")
    n_grams = F.greatest(F.length(norm) - (k - 1), F.lit(1))
    grams = F.when(
        F.length(norm) >= k,
        F.regexp_extract_all(norm, F.lit(f"(?=(.{{{k}}}))"), 1),
    ).otherwise(F.array(norm))
    mins = F.transform(grams, _token_hash)
    # doubling passes: after each, mins[i] = min(hashes[i .. i+p-1])
    p = 1
    while p < window:
        step = min(p, window - p)  # overlap-safe for non-power-of-2 windows
        shifted = F.slice(mins, step + 1, F.greatest(n_grams - step, F.lit(1)))
        mins = F.zip_with(mins, shifted, lambda x, y: F.least(x, y))
        p += step
    mins = F.slice(mins, 1, F.greatest(n_grams - (window - 1), F.lit(1)))
    return F.array_sort(F.array_distinct(mins))


def doc_fingerprint(text: Column) -> Column:
    """Whole-document fingerprint: md5 of the normalized text."""
    norm = F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))
    return F.md5(norm.cast("binary"))


def text_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per doc with all text-analysis columns."""
    t = F.col(text_col)
    f = quality_features(t)
    return df.select(
        F.col(id_col),
        whitespace_token_count(t).alias("n_tokens"),
        bpeish_token_count(t).alias("n_bpeish_tokens"),
        language_id(t).alias("lang_pred"),
        *[v.alias(k) for k, v in f.items() if k != "n_tokens"],
        quality_score(t).alias("quality"),
        doc_fingerprint(t).alias("fingerprint"),
    )

# ---------------------------------------------------------------------------
# intra-document repetition signals (Gopher/MassiveText-style filters)
# ---------------------------------------------------------------------------


def repetition_signals(
    df: DataFrame, id_col: str, text_col: str, *, top_k: int = 2, dup_k: int = 3
) -> DataFrame:
    """Per-document repetition quality signals in the style of the
    public Gopher/MassiveText filtering rules (Rae et al. 2021,
    "Scaling Language Models", table A1 — top n-gram character
    fraction and duplicate n-gram fraction; no reference precedent,
    SURVEY.md §2.F):

    - ``top2gram_char_frac``: character mass of the single most
      frequent word ``top_k``-gram over the character mass of all
      ``top_k``-gram positions (ties broken by gram ascending).
    - ``dup3gram_frac``: fraction of ``dup_k``-gram positions whose
      gram occurs more than once within the document.

    Execution shape: one scan — both gram sizes are tagged structs in
    a single concatenated array, exploded once, then ONE
    ``groupBy(doc_id, k, gram)`` count (map-side combined); the
    per-doc folds and the top-gram window all re-key on doc_id, so
    everything after the first shuffle is doc-partitioned.  All
    integer arithmetic until the final two divisions (6-dp rounded,
    cross-engine exact)."""
    from pyspark.sql import Window

    from fences_spark.operators.dedup import ensure_parallelism, word_shingles

    def tagged(k: int):
        toks = tokens(F.col(text_col))
        return F.transform(
            word_shingles(toks, k),
            lambda g: F.struct(F.lit(k).alias("k"), g.alias("gram")),
        )

    g = (
        ensure_parallelism(df, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.concat(tagged(top_k), tagged(dup_k))).alias("t"),
        )
        .select("doc_id", F.col("t.k").alias("k"), F.col("t.gram").alias("gram"))
    )
    cnt = g.groupBy("doc_id", "k", "gram").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("doc_id", "k").agg(
        F.sum("c").alias("total_pos"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("dup_pos"),
        F.sum(F.col("c") * F.length("gram")).alias("char_den"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("gram"))
    top = (
        cnt.filter(F.col("k") == top_k)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("gram").alias("top_gram"), F.col("c").alias("top_c"))
    )
    a_top = agg.filter(F.col("k") == top_k).select("doc_id", "char_den")
    a_dup = agg.filter(F.col("k") == dup_k).select("doc_id", "total_pos", "dup_pos")
    return (
        a_top.join(a_dup, "doc_id")
        .join(top, "doc_id")
        .select(
            "doc_id",
            "top_gram",
            F.round(
                F.when(
                    F.col("char_den") > 0,
                    F.col("top_c") * F.length("top_gram") / F.col("char_den"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("top2gram_char_frac"),
            F.round(
                F.when(
                    F.col("total_pos") > 0, F.col("dup_pos") / F.col("total_pos")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup3gram_frac"),
        )
        .orderBy("doc_id")
    )

# ---------------------------------------------------------------------------
# corpus-level token statistics (heavy hitters)
# ---------------------------------------------------------------------------


def corpus_token_topk(df: DataFrame, id_col: str, text_col: str, *, k: int = 20) -> DataFrame:
    """(token, tf, df) — the ``k`` most frequent word tokens across
    the corpus with term and document frequency, ties broken by token
    ascending.  No reference precedent (corpus statistics for
    training-data curation, SURVEY.md §2.F).

    Execution shape: explode once, ONE ``groupBy(token)`` computing
    both frequencies (map-side combined — the shuffle carries one
    partial row per token per partition, never the exploded tokens);
    document frequency folds into the same aggregate via
    ``count_distinct(id)``.  Top-k lands as TakeOrderedAndProject
    (bounded heap per partition + driver merge of k·partitions rows),
    NOT a global sort."""
    from fences_spark.operators.dedup import ensure_parallelism

    ex = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("_did"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    agg = ex.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct("_did").alias("df"),
    )
    return agg.orderBy(F.col("tf").desc(), F.col("token")).limit(k)

# ---------------------------------------------------------------------------
# training-chunk extraction (sequence prep)
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame, id_col: str, text_col: str, *, chunk_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """(doc_id, chunk_idx, n_tokens, chunk) — overlapping fixed-size
    token windows, the standard sequence-prep step before packing
    training batches.  Full ``chunk_tokens``-token windows start every
    ``stride`` tokens; if the last window does not land on the final
    token, one extra BACK-ALIGNED window ending at the last token is
    emitted (no tail tokens are dropped).  A doc shorter than
    ``chunk_tokens`` yields its whole text as chunk 0; a doc with NO
    tokens yields no chunks.  No reference precedent (SURVEY.md §2.F).

    Execution shape: per-row and linear — every candidate window is a
    word k-gram from the ONE-regex-pass :func:`fences_spark.operators.
    dedup.word_shingles`; stride selection uses the index-aware
    ``filter((x, i) -> i % stride = 0)`` form (both index and element
    are lambda variables, so nothing re-evaluates per element), and
    the back-aligned tail is a single ``slice``.  O(n·chunk_tokens)
    characters per row, then one explode."""
    from fences_spark.operators.dedup import ensure_parallelism, word_shingles

    toks = tokens(F.col(text_col))
    n_g = F.greatest(F.size(toks) - (chunk_tokens - 1), F.lit(1))
    g = word_shingles(toks, chunk_tokens)
    regular = F.filter(g, lambda x, i: i % stride == 0)
    tail = F.slice(g, n_g, 1)
    chunks = F.when(
        (n_g - 1) % stride == 0, regular
    ).otherwise(F.concat(regular, tail))
    ex = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    )
    n_tokens = F.when(F.col("chunk") == "", F.lit(0)).otherwise(
        F.size(F.split(F.col("chunk"), " "))
    )
    return ex.select(
        "doc_id",
        "chunk_idx",
        n_tokens.alias("n_tokens"),
        F.col("chunk"),
    )

# ---------------------------------------------------------------------------
# TF-IDF term weighting (corpus-relative keyword extraction)
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """(doc_id, token, tf, tfidf, rank) — the ``k`` highest-weighted
    terms per document under smooth TF-IDF
    (``tf · (ln((N+1)/(df+1)) + 1)``), ties broken by token ascending.
    No reference precedent (corpus statistics for training-data
    curation, SURVEY.md §2.F).

    Execution shape: explode once → ONE map-side-combined
    ``groupBy(doc, token)`` (the tf relation); document frequency is a
    second, much smaller aggregate OVER the tf relation (never the raw
    exploded tokens — the heavy explode output is reduced exactly
    once); the corpus size N is a one-row aggregate cross-joined in
    (broadcast, no driver action).  The vocabulary join back is
    broadcast by default (vocab ≪ corpus); pass
    ``broadcast_vocab=False`` at vocabulary scales beyond the
    broadcast threshold to fall back to a shuffled join.  Scores are
    rounded to 6 dp BEFORE ranking so ordering is bit-identical
    cross-engine (last-ulp ``ln`` differences cannot flip ranks)."""
    from pyspark.sql import Window

    from fences_spark.operators.dedup import ensure_parallelism

    ex = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    tf = ex.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if broadcast_vocab:
        dfreq = F.broadcast(dfreq)
    n_docs = F.broadcast(df.select(F.count(F.lit(1)).alias("_n")))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(n_docs)
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf") * (F.log((F.col("_n") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "tfidf", "rank")
    )

# ---------------------------------------------------------------------------
# sequence packing (document-atomic offset packing into token budgets)
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    budget: int = 256,
    buckets: int = 64,
) -> DataFrame:
    """(bucket, seq_idx, n_docs, seq_tokens, first_doc, last_doc) —
    pack documents into fixed-token-budget training sequences,
    document-atomic: concatenate docs in doc-id order within a hash
    bucket and start a new sequence every ``budget`` tokens of the
    concatenated stream (a doc lands in the sequence its first token
    falls into).  No reference precedent (sequence prep for training
    batches, SURVEY.md §2.F).

    Execution shape — the scale path is the point: a single GLOBAL
    ordered prefix sum would serialize onto one task, so docs are
    first sharded into ``buckets`` md5 hash buckets (engine-portable
    '0x'+hex15 convention, `operators/dedup._token_hash`) and packed
    independently per bucket — parallelism = ``buckets`` (size it ≈
    4× cluster cores at scale), determinism from (bucket, doc_id)
    ordering.  Within a bucket: one window exclusive cumsum
    (``rowsBetween(unboundedPreceding, -1)``), ``seq_idx = floor(
    cum/budget)``, then ONE map-side-combined groupBy — a doc longer
    than ``budget`` simply spans (never split mid-doc)."""
    from pyspark.sql import Window

    from fences_spark.operators.dedup import ensure_parallelism

    base = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        whitespace_token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % buckets
    ).alias("bucket")
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = base.select(bucket, "doc_id", "n_tokens").withColumn(
        "seq_idx", F.floor(cum / budget).cast("long")
    )
    return packed.groupBy("bucket", "seq_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# PII / secret scrubbing (pattern scan + redaction)
# ---------------------------------------------------------------------------

# Patterns restricted to the syntax subset that Java regex (Spark
# `regexp_count`/`regexp_replace`) and RE2 (the DuckDB oracle) parse
# AND match identically: ASCII classes, \b word boundaries, bounded /
# open repetition, non-capturing groups.  Order matters for
# redaction: emails first (their domains contain dots that the ipv4
# pattern must never see), then ipv4, then bare hex secrets.
#
# Known dialect edge (pinned in tests/test_cross_engine_regex.py):
# Java's \b is Unicode-aware while RE2's is ASCII-only, so the
# engines disagree exactly when a match candidate directly abuts a
# NON-ASCII word character ("1.2.3.4дом": no Java boundary at 4|д,
# but an RE2 one).  RE2 has no lookarounds to emulate Java, so the
# conformance domain is ASCII-adjacent matches — which covers real
# PII (emails/IPs/secrets embedded in non-ASCII prose are still
# delimited by ASCII punctuation or whitespace in practice).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}(?:\.\d{1,3}){3}\b", "<IP>"),
    ("hex_secret", r"\b[0-9a-f]{32}\b", "<SECRET>"),
]


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern match counts on the ORIGINAL text (each pattern
    counted independently, before any replacement)."""
    return {
        name: F.regexp_count(text, F.lit(pat)) for name, pat, _ in PII_PATTERNS
    }


def redact(text: Column) -> Column:
    """Replace every PII match with its placeholder, applying the
    patterns in `PII_PATTERNS` order (sequential `regexp_replace`,
    global per pattern — all JVM codegen, no UDF)."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_email, n_ipv4, n_hex_secret, redacted_digest) — the
    per-document PII scrub report a curation pipeline emits before
    releasing training data.  The redacted text itself is folded to
    its md5 digest so the full output stays value-hash comparable;
    callers wanting the scrubbed column use :func:`redact` directly.
    No reference precedent (SURVEY.md §2.F).

    Execution shape: pure per-row Column algebra — narrow projection
    over the scan, whole-stage codegen, zero shuffles (the orderBy is
    presentation-only at the sink).
    """
    t = F.col(text_col)
    counts = pii_counts(t)
    return df.select(
        F.col(id_col).alias("doc_id"),
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["hex_secret"].alias("n_hex_secret"),
        F.md5(redact(t).cast("binary")).alias("redacted_digest"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Luhn-validated payment-card detection (round 5)
# ---------------------------------------------------------------------------
# Candidate = 13-19 digits with optional single space/dash separators,
# word-delimited.  ASCII \d and \b behave identically in Java regex and
# RE2/DuckDB, and bounded repetition yields the same leftmost
# non-overlapping candidates in both, so the oracle sees the exact
# same candidate list.
CARD_CANDIDATE_RE = r"\b(?:\d[ -]?){12,18}\d\b"

# Luhn checksum over a digit string `d` as a Spark SQL expression
# fragment (pure JVM: sequence + aggregate + ascii arithmetic — no
# Python, no UDF).  Doubles every second digit from the RIGHT.
_LUHN_OK = (
    "length({d}) BETWEEN 13 AND 19 AND aggregate("
    "sequence(1, length({d})), 0, (acc, i) -> acc + "
    "CASE WHEN (length({d}) - i) % 2 = 0 THEN ascii(substr({d}, i, 1)) - 48 "
    "ELSE CASE WHEN (ascii(substr({d}, i, 1)) - 48) * 2 > 9 "
    "THEN (ascii(substr({d}, i, 1)) - 48) * 2 - 9 "
    "ELSE (ascii(substr({d}, i, 1)) - 48) * 2 END END) % 10 = 0"
)


def luhn_valid(digits: Column) -> Column:
    """True iff ``digits`` (a digits-only string column) is 13-19 long
    and passes the Luhn checksum — whole-stage-codegen Column algebra."""
    d = digits.cast("string")
    n = F.length(d)
    # positional fold via aggregate over 1..n (see _LUHN_OK for the
    # SQL-fragment twin used inside array lambdas)
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            (n - i) % 2 == 0, F.ascii(d.substr(i, F.lit(1))) - 48
        ).otherwise(
            F.when(
                (F.ascii(d.substr(i, F.lit(1))) - 48) * 2 > 9,
                (F.ascii(d.substr(i, F.lit(1))) - 48) * 2 - 9,
            ).otherwise((F.ascii(d.substr(i, F.lit(1))) - 48) * 2)
        ),
    )
    return n.between(13, 19) & (total % 10 == 0)


def luhn_card_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_card_candidates, n_card_valid, redacted_digest) —
    payment-card PII scrub: every word-delimited 13-19-digit run
    (optional space/dash separators) is a candidate; only candidates
    whose digit string passes the Luhn checksum count as cards and are
    redacted to ``<CC>`` (checksum-failing runs are order ids / serial
    numbers and stay).  The scrubbed text is folded to its md5 digest
    so the output stays value-hash comparable.

    Execution shape: one narrow projection per row — candidate
    extraction (`regexp_extract_all`), per-candidate Luhn via nested
    higher-order functions (`transform` + indexed `filter` +
    `aggregate`), and redaction as an `aggregate` fold of literal
    `replace` calls.  All whole-stage codegen; zero Python, zero
    shuffles (the orderBy is presentation-only at the sink).  No
    reference precedent (SURVEY.md §2.F).
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.regexp_extract_all(
            F.col(text_col), F.lit(CARD_CANDIDATE_RE), F.lit(0)
        ).alias("_cands"),
    ).withColumn(
        "_digs",
        F.transform(F.col("_cands"), lambda x: F.regexp_replace(x, "[^0-9]", "")),
    )
    # the outer filter's index MUST NOT be named `i`: the Luhn
    # fragment's inner aggregate lambda binds its own `i` (digit
    # position) which would shadow the candidate index
    valid_cands = F.expr(
        "filter(_cands, (x, ci) -> "
        + _LUHN_OK.format(d="element_at(_digs, ci + 1)")
        + ")"
    )
    return (
        base.withColumn("_valid", valid_cands)
        .select(
            "doc_id",
            F.size("_cands").alias("n_card_candidates"),
            F.size("_valid").alias("n_card_valid"),
            F.md5(
                F.aggregate(
                    F.col("_valid"),
                    F.col("_t"),
                    lambda acc, x: F.replace(acc, x, F.lit("<CC>")),
                ).cast("binary")
            ).alias("redacted_digest"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# IBAN detection via the ISO 13616 mod-97 checksum (round 5)
# ---------------------------------------------------------------------------
# Candidate = country code + 2 check digits + 11-30 alphanumerics,
# word-delimited, unspaced (the compact electronic format).  Same
# cross-engine regex reasoning as CARD_CANDIDATE_RE.
IBAN_CANDIDATE_RE = r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b"

# mod-97 fold over the REARRANGED iban (first 4 chars moved to the
# end): digits fold as (acc*10 + d) % 97, letters (A=10..Z=35) as
# (acc*100 + v) % 97 — the standard piecewise big-number modulus,
# expressed as a Spark SQL aggregate fragment over a string variable.
_MOD97_OK = (
    "aggregate(sequence(1, length({r})), 0, (acc, i) -> "
    "CASE WHEN ascii(substr({r}, i, 1)) BETWEEN 48 AND 57 "
    "THEN (acc * 10 + ascii(substr({r}, i, 1)) - 48) % 97 "
    "ELSE (acc * 100 + ascii(substr({r}, i, 1)) - 55) % 97 END) = 1"
)


def iban_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_iban_candidates, n_iban_valid, redacted_digest) —
    IBAN scrub: word-delimited compact-format IBAN candidates whose
    ISO 13616 mod-97 checksum verifies are redacted to ``<IBAN>``;
    checksum-failing lookalikes stay.  Same execution shape as
    :func:`luhn_card_documents` — candidate extraction, a
    per-candidate sequential modular fold via nested higher-order
    functions, and an `aggregate`-fold redaction; all whole-stage
    codegen, zero Python, zero shuffles.  No reference precedent
    (SURVEY.md §2.F)."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.regexp_extract_all(
            F.col(text_col), F.lit(IBAN_CANDIDATE_RE), F.lit(0)
        ).alias("_cands"),
    ).withColumn(
        # rearranged form: chars 5..end then chars 1..4
        "_rearr",
        F.transform(
            F.col("_cands"),
            lambda x: F.concat(x.substr(F.lit(5), F.length(x)), x.substr(F.lit(1), F.lit(4))),
        ),
    )
    # outer index named `ci` — the fold's inner lambda binds `i`
    valid_cands = F.expr(
        "filter(_cands, (x, ci) -> "
        + _MOD97_OK.format(r="element_at(_rearr, ci + 1)")
        + ")"
    )
    return (
        base.withColumn("_valid", valid_cands)
        .select(
            "doc_id",
            F.size("_cands").alias("n_iban_candidates"),
            F.size("_valid").alias("n_iban_valid"),
            F.md5(
                F.aggregate(
                    F.col("_valid"),
                    F.col("_t"),
                    lambda acc, x: F.replace(acc, x, F.lit("<IBAN>")),
                ).cast("binary")
            ).alias("redacted_digest"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# High-entropy secret detection (round 5) — source-code secret
# scanning for the north-rule table: long token-ish runs whose
# Shannon character entropy marks them as machine-generated
# credentials (API keys, tokens) rather than words or identifiers.
# ---------------------------------------------------------------------------
# Candidates are MAXIMAL runs over the charset, kept when at least 20
# chars long, and redacted whole.  A `\b`-delimited form stops before
# trailing base64 `=` padding (leaking it past redaction), and the
# lookaround fix cannot run on the DuckDB oracle (RE2 has none).  No
# upper length bound: a long run (an 88-char padded base64 key,
# `NAME=<token>`) must still be scanned; its entropy is taken over
# bounded windows instead (:func:`secret_entropy`).
SECRET_RUN_RE = r"[A-Za-z0-9+/=_-]+"
SECRET_MIN_LEN = 20
SECRET_WINDOW = 64
# bits/char; generated keys sit near log2(charset)≈5.2-6, English
# words and snake_case identifiers near 3-4.  Compared on the
# round6-rounded value so the JVM and the DuckDB oracle agree at the
# boundary despite last-ulp log2 differences.
SECRET_ENTROPY_BITS = 4.2


def shannon_entropy(token: Column) -> Column:
    """Shannon entropy (bits/char) of a string column — distinct-char
    probability fold, pure Column algebra.  O(distinct·len) per value;
    callers pass ≤``SECRET_WINDOW``-char windows so the quadratic term
    is bounded."""
    chars = F.split(token, "")
    n = F.size(chars)
    return F.aggregate(
        F.array_distinct(chars),
        F.lit(0.0),
        lambda acc, c: acc
        - (F.size(F.filter(chars, lambda y: y == c)) / n)
        * F.log2(F.size(F.filter(chars, lambda y: y == c)) / n),
    )


def secret_candidates(text: Column) -> Column:
    """array<string> of the maximal runs of ``text`` over the
    base64/identifier charset that are at least ``SECRET_MIN_LEN``
    chars long."""
    runs = F.regexp_extract_all(text, F.lit(SECRET_RUN_RE), F.lit(0))
    return F.filter(runs, lambda x: F.length(x) >= SECRET_MIN_LEN)


def secret_entropy(run: Column) -> Column:
    """Entropy of a candidate run, rounded to 6 decimals: the greater
    of its first and last ``SECRET_WINDOW`` chars (one window when the
    run is no longer), so a key at either end of a long run is seen
    and the cost stays bounded however long the run is."""
    wins = F.array_distinct(F.array(
        F.substring(run, 1, SECRET_WINDOW),
        F.substring(run, -SECRET_WINDOW, SECRET_WINDOW),
    ))
    return F.round(F.array_max(F.transform(wins, shannon_entropy)), 6)


def entropy_secret_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_secret_candidates, n_high_entropy, max_entropy,
    redacted_digest) — candidates are :func:`secret_candidates`; those
    whose :func:`secret_entropy` reaches
    ``SECRET_ENTROPY_BITS`` are counted as secrets and redacted to
    ``<KEY>``.  Long ordinary identifiers (snake_case, camelCase) fall
    well under the threshold and survive.  Same execution shape as the
    Luhn/IBAN scrubs: nested higher-order functions, whole-stage
    codegen, zero Python, zero shuffles.  No reference precedent (SURVEY.md §2.F)."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        secret_candidates(F.col(text_col)).alias("_cands"),
    ).withColumn(
        "_ents",
        F.transform(F.col("_cands"), secret_entropy),
    )
    high = F.expr(
        f"filter(_cands, (x, ci) -> element_at(_ents, ci + 1) >= {SECRET_ENTROPY_BITS})"
    )
    return (
        base.withColumn("_high", high)
        .select(
            "doc_id",
            F.size("_cands").alias("n_secret_candidates"),
            F.size("_high").alias("n_high_entropy"),
            F.when(
                F.size("_cands") > 0, F.round(F.array_max("_ents"), 6)
            ).otherwise(F.lit(None).cast("double")).alias("max_entropy"),
            F.md5(
                F.aggregate(
                    F.col("_high"),
                    F.col("_t"),
                    lambda acc, x: F.replace(acc, x, F.lit("<KEY>")),
                ).cast("binary")
            ).alias("redacted_digest"),
        )
        .orderBy("doc_id")
    )


def scrub_text(df: DataFrame, text_col: str) -> DataFrame:
    """Replace ``text_col`` with its fully scrubbed form: regex PII
    (email/IPv4/hex-secret, :data:`PII_PATTERNS`), Luhn-valid payment
    cards, checksum-valid IBANs, and high-entropy secrets — the
    composed release gate a curation pipeline runs before packing.
    Checksum-/entropy-failing lookalikes are deliberately preserved.

    Built as chained narrow projections (candidate arrays as
    intermediate columns, dropped at the end) so each validated fold
    is evaluated once; whole-stage codegen, zero Python, zero
    shuffles."""
    t = F.col(text_col)
    out = df.withColumn(text_col, redact(t))

    # Luhn cards
    out = (
        out.withColumn(
            "_sc_c", F.regexp_extract_all(t, F.lit(CARD_CANDIDATE_RE), F.lit(0))
        )
        .withColumn(
            "_sc_d",
            F.transform(F.col("_sc_c"), lambda x: F.regexp_replace(x, "[^0-9]", "")),
        )
        .withColumn(
            text_col,
            F.aggregate(
                F.expr(
                    "filter(_sc_c, (x, ci) -> "
                    + _LUHN_OK.format(d="element_at(_sc_d, ci + 1)")
                    + ")"
                ),
                t,
                lambda acc, x: F.replace(acc, x, F.lit("<CC>")),
            ),
        )
        .drop("_sc_c", "_sc_d")
    )

    # IBANs
    out = (
        out.withColumn(
            "_sc_c", F.regexp_extract_all(t, F.lit(IBAN_CANDIDATE_RE), F.lit(0))
        )
        .withColumn(
            "_sc_r",
            F.transform(
                F.col("_sc_c"),
                lambda x: F.concat(
                    x.substr(F.lit(5), F.length(x)), x.substr(F.lit(1), F.lit(4))
                ),
            ),
        )
        .withColumn(
            text_col,
            F.aggregate(
                F.expr(
                    "filter(_sc_c, (x, ci) -> "
                    + _MOD97_OK.format(r="element_at(_sc_r, ci + 1)")
                    + ")"
                ),
                t,
                lambda acc, x: F.replace(acc, x, F.lit("<IBAN>")),
            ),
        )
        .drop("_sc_c", "_sc_r")
    )

    # high-entropy keys
    out = (
        out.withColumn("_sc_c", secret_candidates(t))
        .withColumn(
            "_sc_e",
            F.transform(F.col("_sc_c"), secret_entropy),
        )
        .withColumn(
            text_col,
            F.aggregate(
                F.expr(
                    "filter(_sc_c, (x, ci) -> "
                    f"element_at(_sc_e, ci + 1) >= {SECRET_ENTROPY_BITS})"
                ),
                t,
                lambda acc, x: F.replace(acc, x, F.lit("<KEY>")),
            ),
        )
        .drop("_sc_c", "_sc_e")
    )
    return out


def token_surprisal_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_tokens, mean_surprisal) — corpus-relative unigram
    surprisal quality score: build the corpus unigram distribution
    (explode → groupBy token), then score each document by the mean
    of ``-log2(count(tok) / N)`` over its tokens.  Low-surprisal docs
    are boilerplate / repeated template text; high-surprisal docs are
    rare-token-heavy (often noise) — both ends are what mixture
    curation trims.  Zero-token docs score NULL.

    Execution shape (and the 100 TB story): one explode + one
    shuffle-aggregate builds the vocabulary relation (|V| rows — far
    smaller than the corpus; heavy hitters are absorbed by partial
    aggregation map-side), one shuffle join tokens⋈vocab on the token
    key (AQE handles the Zipf skew of hot tokens via skew-split), the
    scalar total N rides a broadcast single-row relation, and one
    final groupBy(doc) re-aggregates.  Everything stays JVM-side;
    surprisal is rounded to 6 decimals so the DuckDB oracle agrees
    despite summation-order float drift.  No reference precedent
    (SURVEY.md §2.F)."""
    from fences_spark.operators import round6
    from fences_spark.operators.dedup import tokens

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            round6(
                F.avg(F.log2(F.col("n_total")) - F.log2(F.col("cnt")))
            ).alias("mean_surprisal"),
        )
    )
    # left join back so zero-token docs keep a row (NULL surprisal)
    ids = df.select(F.col(id_col).alias("doc_id"))
    return (
        ids.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "mean_surprisal",
        )
        .orderBy("doc_id")
    )

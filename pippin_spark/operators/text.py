"""Text-analysis operators for training-data pipelines (north-star
extensions, BASELINE.json): tokenization, token counting, quality
scoring, language-ID heuristic, document fingerprinting.

Everything here is native Column expressions — zero Python UDFs — so
the whole stage stays inside whole-stage codegen and scales linearly
with executors. Each op has an exact DuckDB-SQL equivalent used by the
correctness oracle (pippin_spark/entry_queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pippin_spark.operators.util import bounded_collect

# BPE-ish pre-tokenizer: word runs or single non-space symbols — the
# same regex works in Java (Spark) and RE2-ish (DuckDB) dialects.
BPE_PATTERN = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

# tiny per-language stopword lists for the n-gram/stopword-overlap
# language-ID heuristic (deterministic, public knowledge)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "une", "dans", "pour"],
    "es": ["el", "la", "los", "y", "es", "de", "un", "una", "en", "por"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1", "zhe4", "bu4"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased text — trimmed and empty-free:
    split alone turns leading/trailing whitespace into empty-string
    tokens that inflate every derived count (token_count('') was 1)."""
    return F.filter(
        F.split(F.lower(F.trim(col)), "\\s+"), lambda x: x != ""
    )


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count: word runs + individual symbols (a cheap,
    deterministic proxy for a real BPE vocab)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_PATTERN), 0))


def punct_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit("[^A-Za-z0-9\\s]"), 0))


def stopword_hits(col: Column, lang: str = "en") -> Column:
    """Distinct stopwords of ``lang`` present in the text."""
    stoplist = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(F.array_distinct(tokens(col)), stoplist))


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1]: rewards reasonable length,
    low punctuation density, and stopword presence (a C4/Gopher-rule
    style filter reduced to deterministic arithmetic)."""
    n_chars = F.length(col).cast("double")
    n_tok = token_count(col).cast("double")
    avg_tok_len = n_chars / F.greatest(n_tok, F.lit(1.0))
    punct_ratio = punct_count(col).cast("double") / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = stopword_hits(col).cast("double") / F.lit(10.0)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    tok_len_score = F.when((avg_tok_len >= 3) & (avg_tok_len <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_score = F.when(punct_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(0.5))
    return (
        F.round(
            0.4 * len_score + 0.2 * tok_len_score + 0.2 * punct_score + 0.2 * stop_ratio,
            6,
        )
    )


def lang_id(col: Column) -> Column:
    """Stopword-overlap language ID: argmax over per-language distinct
    stopword hits, deterministic tie-break by language code order."""
    toks = F.array_distinct(tokens(col))
    scored = None
    for code in sorted(STOPWORDS):
        stoplist = F.array(*[F.lit(w) for w in STOPWORDS[code]])
        hits = F.size(F.array_intersect(toks, stoplist))
        entry = F.struct(hits.alias("hits"), F.lit(code).alias("code"))
        scored = entry if scored is None else F.when(
            (entry["hits"] > scored["hits"]), entry
        ).otherwise(scored)
    return scored["code"]


def word_ngrams(col: Column, n: int = 2) -> Column:
    """Word n-grams of the whitespace tokens as an array of
    space-joined strings. Pure Column (sequence + transform + slice):
    map-only, no explode, no shuffle — repetition metrics built on
    this stay embarrassingly parallel at corpus scale."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_stats(df, text_col: str, id_cols=("doc_id",), n: int = 2):
    """Per-document repetition metrics: ``top{n}_frac`` (fraction of
    token positions covered by the most frequent word n-gram, Gopher
    rule) and ``ttr`` (type-token ratio).

    Each intermediate (tokens → grams → top count) lives in its own
    projection stage so Catalyst evaluates it once per row instead of
    re-expanding the lambda tree per consumer — the expression-reuse
    analog of a CTE. Still map-only: no exchange at any scale."""
    ids = list(id_cols)
    toks = df.select(*ids, tokens(F.col(text_col)).alias("__toks"))
    grams = toks.withColumn(
        "__grams",
        F.when(
            F.size(F.col("__toks")) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(F.col("__toks")) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    top = grams.withColumn(
        "__top",
        F.coalesce(
            F.array_max(
                F.transform(
                    F.array_distinct(F.col("__grams")),
                    lambda d: F.size(F.filter(F.col("__grams"), lambda b: b == d)),
                )
            ),
            F.lit(0),
        ),
    )
    return top.select(
        *ids,
        F.round(
            F.least(
                (F.col("__top") * n).cast("double")
                / F.size(F.col("__toks")).cast("double"),
                F.lit(1.0),
            ),
            6,
        ).alias(f"top{n}_frac"),
        F.round(
            F.size(F.array_distinct(F.col("__toks"))).cast("double")
            / F.greatest(F.size(F.col("__toks")), F.lit(1)).cast("double"),
            6,
        ).alias("ttr"),
    )


# PII patterns: the subset of regex syntax that Java (Spark) and RE2
# (DuckDB) interpret identically — char classes, bounded repeats,
# alternation, \b anchors; no lookarounds.
PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ip": "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "phone": "\\+[0-9]{7,15}",
}
# redaction order matters: emails contain dots/digits that the ip/phone
# patterns could partially match, so emails go first
PII_ORDER = ["email", "ip", "phone"]


def pii_count(col: Column, kind: str) -> Column:
    """Occurrences of one PII kind (``email``/``ip``/``phone``)."""
    return F.size(F.regexp_extract_all(col, F.lit(PII_PATTERNS[kind]), 0))


def pii_redact(col: Column) -> Column:
    """Replace every email/IPv4/phone occurrence with ``<KIND>``
    placeholder tokens. Pure regexp_replace chain — JVM-side, global
    replacement, scales linearly with text volume."""
    out = col
    for kind in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized
    lowercased text (md5 is bit-identical across Spark and DuckDB,
    unlike xxhash64)."""
    normalized = F.trim(F.regexp_replace(F.lower(col), "\\s+", " "))
    return F.md5(normalized)


def corpus_manifest(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_buckets: int = 64,
    bucket_width: int | None = None,
) -> DataFrame:
    """Order-independent corpus content manifest — the replication /
    migration verification primitive: two copies of a corpus (across
    regions, engines, or re-partitionings) are content-identical iff
    their manifests match, without ever co-locating or sorting either
    copy.

    Per id-bucket: row count, the SUM of 32-bit content digests
    (integer addition is commutative, so the digest is independent of
    row order, partitioning and merge order — the same reason the HLL
    registers merge freely), and the id range. One map-side-combined
    aggregate; only #buckets rows cross the exchange. Collision note:
    a corrupted doc pair escaping detection needs digest deltas that
    cancel within one bucket — probability ~2^-32 per bucket, and the
    count/min/max arms catch add/drop/reorder corruption outright.
    Overflow bound: digest_sum stays exact below 2^31 rows per bucket
    (32-bit digests into a 64-bit sum) — size num_buckets so buckets
    stay under that; both engines then agree bit-for-bit.

    ``bucket_width`` switches to RANGE buckets (bucket = id div width,
    contiguous id intervals) — the incremental-release form: a changed
    bucket then bounds a [bucket·width, (bucket+1)·width) id range
    that pushes down into the re-scan as a parquet filter, which
    modulo buckets (ids striped across the whole corpus) never can."""
    d32 = F.conv(F.substring(fingerprint(F.col(text_col)), 1, 8), 16, 10).cast(
        "long"
    )
    bucket = (
        F.expr(f"{id_col} div {int(bucket_width)}")
        if bucket_width is not None
        else F.pmod(F.col(id_col), F.lit(num_buckets))
    )
    return (
        df.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(d32).alias("digest_sum"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
    )


def corpus_manifest_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 64,
) -> str:
    """DuckDB mirror of corpus_manifest (same md5-prefix digest)."""
    fp = f"md5(trim(regexp_replace(lower({text_col}), '\\s+', ' ', 'g')))"
    return f"""
    SELECT {id_col} % {num_buckets} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(('0x' || substr({fp}, 1, 8)) AS BIGINT)) AS BIGINT)
             AS digest_sum,
           MIN({id_col}) AS min_id,
           MAX({id_col}) AS max_id
    FROM {table} GROUP BY 1
    """


def corpus_manifest_diff(left: DataFrame, right: DataFrame) -> DataFrame:
    """Diff two corpus manifests (``corpus_manifest`` outputs) — the
    incremental-sync primitive the manifest exists for at 100 TB:
    after a replication / migration / re-ingestion, only buckets whose
    manifest rows differ need a re-scan, and each differing bucket's
    (min_id, max_id) arms bound the id range to re-read.

    Returns one row per bucket that DIFFERS (identical buckets — the
    overwhelming majority in an incremental sync — produce no row):
    (bucket, status, l_n_docs, r_n_docs, l_digest_sum, r_digest_sum,
    l_min_id, r_min_id, l_max_id, r_max_id) with status
    'only_left' / 'only_right' for buckets present on one side and
    'changed' for buckets whose (count, digest, id-range) tuples
    disagree. Scale: both inputs are #buckets-row manifests, so the
    full-outer join moves manifest rows only — the corpora themselves
    never participate."""
    arms = ("n_docs", "digest_sum", "min_id", "max_id")
    l = left.select(
        "bucket", *[F.col(c).alias(f"l_{c}") for c in arms]
    )
    r = right.select(
        "bucket", *[F.col(c).alias(f"r_{c}") for c in arms]
    )
    j = l.join(r, "bucket", "full_outer")
    differs = F.col("l_n_docs").isNull() | F.col("r_n_docs").isNull()
    for c in arms:
        differs = differs | (F.col(f"l_{c}") != F.col(f"r_{c}"))
    status = (
        F.when(F.col("l_n_docs").isNull(), F.lit("only_right"))
        .when(F.col("r_n_docs").isNull(), F.lit("only_left"))
        .otherwise(F.lit("changed"))
    )
    return j.filter(differs).select(
        "bucket",
        status.alias("status"),
        *[F.col(f"{s}_{c}") for c in arms for s in ("l", "r")],
    )


def changed_id_ranges(
    diff: DataFrame, bucket_width: int, max_buckets: int = 65536
) -> list:
    """Collapse a range-bucketed ``corpus_manifest_diff`` into merged,
    disjoint [lo, hi] id intervals — the literal pushdown predicate an
    incremental re-scan filters the snapshots with.

    The diff is a bounded driver artifact BY CONTRACT (an incremental
    sync touches few buckets; that locality is the entire reason the
    manifest exists), so the collect is #changed-buckets rows with a
    loud ``max_buckets`` guard for the regime where changes are so
    scattered a full re-scan is honest anyway."""
    rows = bounded_collect(diff.select("bucket"), max_buckets)
    if rows is None:
        raise ValueError(
            f"changed_id_ranges: more than {max_buckets} buckets differ — "
            "changes are not localized; run the full-corpus diff instead "
            "of an id-range-restricted re-scan"
        )
    w = int(bucket_width)
    ranges: list = []
    for b in sorted(int(r["bucket"]) for r in rows):
        lo, hi = b * w, (b + 1) * w - 1
        if ranges and lo <= ranges[-1][1] + 1:
            ranges[-1][1] = hi
        else:
            ranges.append([lo, hi])
    return [(lo, hi) for lo, hi in ranges]


def id_ranges_predicate(id_col: str, ranges) -> Column:
    """OR-of-BETWEEN Column over merged id ranges — pushes down to the
    parquet scan as range filters (PushedFilters on the id column), so
    row groups outside every changed range are skipped at the source."""
    if not ranges:
        return F.lit(False)
    pred = None
    for lo, hi in ranges:
        c = F.col(id_col).between(F.lit(int(lo)), F.lit(int(hi)))
        pred = c if pred is None else (pred | c)
    return pred


def corpus_doc_diff(
    left: DataFrame, right: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Doc-level snapshot diff — the row-level follow-up to
    ``corpus_manifest_diff`` (run it over the id ranges the bucket
    diff flags, or over whole corpora when small enough): per id whose
    content differs between snapshots, a status row
    'added' (right only) / 'removed' (left only) / 'changed'
    (fingerprints differ); unchanged ids emit no row.

    Scale: only (id, 32-char fingerprint) pairs cross the full-outer
    join — text is digested map-side and never shuffled."""
    l = left.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("__lf__")
    )
    r = right.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("__rf__")
    )
    j = l.join(r, id_col, "full_outer")
    status = (
        F.when(F.col("__lf__").isNull(), F.lit("added"))
        .when(F.col("__rf__").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return j.filter(
        F.col("__lf__").isNull()
        | F.col("__rf__").isNull()
        | (F.col("__lf__") != F.col("__rf__"))
    ).select(id_col, status.alias("status"))


def lang_id_oracle_sql(text_expr: str = "text") -> str:
    """DuckDB SQL computing the identical lang_id (for the oracle)."""
    toks = f"list_distinct(string_split(regexp_replace(lower({text_expr}), '\\s+', ' ', 'g'), ' '))"
    # replicate the fold: later languages win only on strictly-greater hits,
    # evaluated in sorted(code) order (es > en > de beats require >)
    expr = None
    for code in sorted(STOPWORDS):
        lst = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[code]) + "]"
        hits = f"len(list_intersect({toks}, {lst}))"
        if expr is None:
            expr = f"struct_pack(hits := {hits}, code := '{code}')"
        else:
            expr = (
                f"CASE WHEN {hits} > ({expr}).hits "
                f"THEN struct_pack(hits := {hits}, code := '{code}') "
                f"ELSE {expr} END"
            )
    return f"({expr}).code"


# Gopher-style combined quality gate (Rae et al. 2021, "Scaling
# Language Models" §A1.1 — public rule set): word-count bounds, mean
# word length bounds, and a minimum stopword fraction, combined into a
# single keep/drop decision with per-rule flags for audit.
GOPHER_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is"]
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 1000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_STOPWORD_FRAC = 0.01


def gopher_filter_metrics(col: Column):
    """(n_words, mean_word_len, stopword_frac, keep) Column tuple of the
    Gopher rule set over one text column. Pure Column expressions —
    whole-stage codegen, no UDF, no shuffle: at 100 TB this fuses into
    the parquet scan and drops documents before anything downstream
    pays for them."""
    norm = F.trim(F.regexp_replace(F.lower(col), "\\s+", " "))
    toks = F.split(norm, " ")
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    mean_word_len = sum_len.cast("double") / n_words
    stoplist = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stop_frac = (
        F.size(F.filter(toks, lambda t: F.array_contains(stoplist, t))).cast("double")
        / n_words
    )
    keep = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_word_len.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (stop_frac >= GOPHER_MIN_STOPWORD_FRAC)
    )
    return n_words, mean_word_len, stop_frac, keep


def gopher_filter_oracle_sql(text_expr: str = "text") -> str:
    """DuckDB SQL computing identical metrics (per-doc SELECT list
    fragment; aliases n_words, mean_word_len, stopword_frac, keep).
    Both engines divide exact integers as doubles → bit-identical."""
    toks = (
        f"string_split(trim(regexp_replace(lower({text_expr}), "
        f"'\\s+', ' ', 'g')), ' ')"
    )
    lst = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"
    return (
        f"CAST(len({toks}) AS BIGINT) AS n_words, "
        f"CAST(list_sum(list_transform({toks}, x -> length(x))) AS DOUBLE)"
        f" / len({toks}) AS mean_word_len, "
        f"CAST(len(list_filter({toks}, x -> list_contains({lst}, x))) AS DOUBLE)"
        f" / len({toks}) AS stopword_frac, "
        f"(len({toks}) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} "
        f" AND CAST(list_sum(list_transform({toks}, x -> length(x))) AS DOUBLE)"
        f"     / len({toks}) BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN} "
        f" AND CAST(len(list_filter({toks}, x -> list_contains({lst}, x))) AS DOUBLE)"
        f"     / len({toks}) >= {GOPHER_MIN_STOPWORD_FRAC}) AS keep"
    )


def chunk_documents(
    df,
    text_col: str,
    id_col: str,
    chunk_size: int = 128,
    stride: int = 96,
):
    """Split documents into overlapping token windows (the
    chunk-with-overlap step feeding context-window-bounded training and
    embedding pipelines). ``stride < chunk_size`` overlaps consecutive
    chunks by ``chunk_size - stride`` tokens.

    All native: one split, sequence+posexplode for chunk starts, slice
    per chunk — no UDF, no shuffle (row-local fan-out of
    ceil(n_tokens/stride) chunks per doc, linear in corpus tokens).
    Output: (id, chunk_id, n_tokens, chunk_text)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # blank docs (empty or all-whitespace) produce no chunks — split()
    # would otherwise hand them one empty-string token
    base = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), toks.alias("__toks__"), n.alias("__n__"))
        .filter(F.col("__n__") > 0)
    )
    starts = F.sequence(F.lit(0), F.col("__n__") - 1, F.lit(int(stride)))
    return base.select(
        id_col,
        "__toks__",
        F.posexplode(starts).alias("chunk_id", "__start__"),
    ).select(
        id_col,
        "chunk_id",
        F.size(F.slice("__toks__", F.col("__start__") + 1, int(chunk_size))).alias(
            "n_tokens"
        ),
        F.array_join(
            F.slice("__toks__", F.col("__start__") + 1, int(chunk_size)), " "
        ).alias("chunk_text"),
    )


def token_freq_spectrum(df, text_col: str):
    """Corpus frequency spectrum (count-of-counts): how many distinct
    tokens occur exactly f times — the Zipf diagnostic behind
    vocabulary sizing and dedup-threshold tuning. Two partial-agg
    groupBys: tokens shuffle once as (token, count) partials, then the
    tiny (#distinct frequencies) spectrum aggregates. Exact integers
    end-to-end."""
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("tok")).filter(
        F.col("tok") != ""
    )
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    return counts.groupBy("freq").agg(F.count(F.lit(1)).alias("n_tokens"))


# ---------------------------------------------------------------------------
# n-gram language-model scoring (CCNet-style quality filtering)
# ---------------------------------------------------------------------------

def _ws_token_array(col: Column) -> Column:
    """Whitespace token array, lowercased, empties removed — the shared
    tokenization contract with the DuckDB oracles (same regex both
    engines, proven by ngram_lm_counts). Delegates to :func:`tokens`
    so the module has exactly ONE whitespace-tokenization definition
    (the trim there only affects edge tokens the filter drops anyway)."""
    return tokens(col)


_BIGRAM_PAIRS = (
    "filter(transform(__toks__, (t, i) -> "
    "struct(t as w1, try_element_at(__toks__, i + 2) as w2)), "
    "p -> p.w2 is not null)"
)


def lm_bigram_counts(docs, text_col: str = "text", min_count: int = 1):
    """Train a bigram word LM: (w1, w2, cnt) counts over the corpus.

    Scale design: bigrams are generated by zipping each document's
    token ARRAY against itself (`transform` + `try_element_at`) — a
    narrow, per-row expression — NOT by exploding tokens and running a
    `lead` window per doc_id, which would shuffle the entire token
    stream before a single count happened. The only shuffle here
    carries (w1, w2) partial counts, already combined map-side.

    With ``min_count`` > 1, use :func:`lm_bigram_model` instead — it
    derives context totals and vocabulary from the UNPRUNED counts
    before pruning, which this function (returning only the pruned
    table) cannot promise to downstream scorers. Pruning keeps the
    broadcast LM small at corpus scale: a 100 TB corpus has ~10^10
    distinct bigrams raw but only ~10^7 above min_count=5.
    """
    toks = docs.select(_ws_token_array(F.col(text_col)).alias("__toks__"))
    pairs = (
        toks.select(F.explode(F.expr(_BIGRAM_PAIRS)).alias("p"))
        .select("p.w1", "p.w2")
    )
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    if min_count > 1:
        counts = counts.filter(F.col("cnt") >= min_count)
    return counts


def lm_bigram_model(docs, text_col: str = "text", min_count: int = 1):
    """Full LM training artifact: (pruned bigram counts, context
    totals, vocab-size 1-row DF) with contexts and vocabulary derived
    from the UNPRUNED counts — so Laplace denominators keep the full
    probability mass even when rare bigrams are pruned out of the
    broadcast table. Pass all three to :func:`lm_score_docs`."""
    full = lm_bigram_counts(docs, text_col, min_count=1).persist()
    ctx = full.groupBy("w1").agg(F.sum("cnt").alias("ctx_cnt"))
    vocab = full.select("w2").distinct().agg(
        (F.count(F.lit(1)) + F.lit(1)).alias("v")
    )
    counts = (
        full.filter(F.col("cnt") >= min_count) if min_count > 1 else full
    )
    return counts, ctx, vocab


def lm_score_docs(docs, counts, text_col: str = "text",
                  id_col: str = "doc_id", scale: int = 10 ** 9,
                  ctx=None, vocab=None):
    """Score documents by mean Laplace-smoothed bigram probability
    against a trained LM — the CCNet-style "does this look like the
    reference corpus" quality signal, in exact integer arithmetic.

    Per bigram: p = (cnt+1) / (ctx_cnt + V), V = |vocab|+1 (OOV class).
    Stored as ``(cnt+1)*scale div (ctx_cnt+V)`` — integer floor
    division, bit-identical in Spark and DuckDB regardless of plan
    shape, summed per doc as exact longs; ONE double division at the
    end. (Long bound: needs (cnt+1)*scale < 2^63, i.e. per-bigram
    count < 9.2e9 at scale=1e9 — at larger corpora lower ``scale``;
    ANSI mode makes an overflow loud, never silent.)

    Scale design: the LM (counts + contexts + vocab scalar) is
    broadcast — the fact-side token stream never shuffles for the
    lookup; bigrams of one doc stay in one partition (narrow array
    zip + explode), so the per-doc partial aggregate is map-side
    complete and the final shuffle carries ONE row per document.
    """
    # ctx/vocab derived here are only correct for UNPRUNED counts; a
    # min_count-pruned model must pass the lm_bigram_model outputs
    if ctx is None:
        ctx = counts.groupBy("w1").agg(F.sum("cnt").alias("ctx_cnt"))
    if vocab is None:
        vocab = counts.select("w2").distinct().agg(
            (F.count(F.lit(1)) + F.lit(1)).alias("v")
        )
    toks = docs.select(
        F.col(id_col), _ws_token_array(F.col(text_col)).alias("__toks__")
    )
    big = toks.select(
        F.col(id_col), F.explode(F.expr(_BIGRAM_PAIRS)).alias("p")
    ).select(id_col, "p.w1", "p.w2")
    scored = (
        big.join(F.broadcast(counts), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.expr(
                f"(coalesce(cnt, 0L) + 1L) * {scale}L"
                " div (coalesce(ctx_cnt, 0L) + v)"
            ).alias("__p__"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("__p__").alias("score_scaled"),
    )
    return agg.select(
        id_col,
        "n_bigrams",
        "score_scaled",
        (
            F.col("score_scaled").cast("double")
            / F.col("n_bigrams")
            / F.lit(float(scale))
        ).alias("avg_cond_p"),
    )


def collocations_topk(docs, text_col: str = "text", k: int = 25,
                      min_count: int = 5, scale: int = 10 ** 6):
    """Collocation extraction: adjacent word pairs ranked by pointwise
    mutual information, the classic "new york"/"machine learning"
    detector feeding tokenizer-vocab and phrase-mining decisions.

    PMI is kept in exact integer arithmetic: the monotone transform
    pmi_scaled = (pair_cnt * N * scale) div (cnt_a * cnt_b) ranks
    identically to log PMI at fixed N and is bit-exact cross-engine
    (log() differs in ulps between libms; a floor-divided ratio never
    does). The numerator is computed in DECIMAL(38,0) (HUGEINT on the
    oracle side) — a bigint numerator would overflow around 3e7 tokens
    for frequent pairs; only the QUOTIENT must fit a long, and it is
    bounded by scale * N / pair_cnt <= scale * N, fine up to
    ~9e12-token corpora at scale=1e6 (ANSI makes the cast loud
    beyond).

    Scale shape: same narrow array-zip bigram stream as the LM ops
    (no token window shuffle), two count aggregates with map-side
    partials, unigram counts broadcast back onto the (much smaller)
    bigram count table, global top-k via TakeOrdered."""
    toks = docs.select(_ws_token_array(F.col(text_col)).alias("__toks__"))
    # persisted: three consumers (left-word side, right-word side, the
    # corpus total) would otherwise each re-run the corpus scan+agg
    uni = (
        toks.select(F.explode("__toks__").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("w_cnt"))
        .persist()
    )
    total = uni.agg(F.sum("w_cnt").alias("n_tokens"))
    pairs = (
        toks.select(F.explode(F.expr(_BIGRAM_PAIRS)).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= min_count)
    )
    a = uni.select(F.col("w").alias("w1"), F.col("w_cnt").alias("cnt_a"))
    b = uni.select(F.col("w").alias("w2"), F.col("w_cnt").alias("cnt_b"))
    scored = (
        pairs.join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "pair_cnt",
            F.expr(
                f"cast((cast(pair_cnt as decimal(38,0)) * n_tokens * {scale})"
                f" div (cast(cnt_a as decimal(38,0)) * cnt_b) as bigint)"
            ).alias("pmi_scaled"),
        )
    )
    w = [
        F.col("pmi_scaled").desc(),
        F.col("pair_cnt").desc(),
        F.col("w1").asc(),
        F.col("w2").asc(),
    ]
    from pippin_spark.operators.relational import top_k

    return top_k(scored, k, w, rank_col="rank")


def feature_hash_vectors(docs, text_col: str = "text",
                         id_col: str = "doc_id", dim: int = 1024):
    """Hashing-trick featurization (Weinberger et al. 2009): map each
    token to index md5_64(token) mod dim with a sign bit drawn from the
    next hash bit, and emit the signed term-count vector in sparse COO
    form (id, idx, feat_val, n_terms). The signed variant keeps hash
    collisions mean-zero — the property that lets a fixed small `dim`
    survive unbounded vocabulary growth, which is the entire point at
    corpus scale (no vocab dictionary to build, broadcast, or keep
    consistent across 1000 executors).

    Scale shape: tokenize + hash are narrow per-row expressions; the
    groupBy (id, idx) partial-aggregates map-side (a doc's tokens sit
    in one partition after the narrow explode), so the shuffle carries
    at most one row per (doc, nonzero-dim). The md5-prefix hash is the
    shared cross-engine PRF (same trick as winnow_fingerprints)."""
    h = (
        f"cast(conv(substring(md5(__tok__), 1, 8), 16, 10) as bigint)"
    )
    toks = docs.select(
        F.col(id_col), F.explode(_ws_token_array(F.col(text_col))).alias("__tok__")
    )
    hashed = toks.select(
        F.col(id_col),
        F.expr(f"{h} % {dim}").alias("idx"),
        F.expr(f"if(({h} div {dim}) % 2 = 0, 1L, -1L)").alias("__sign__"),
    )
    return hashed.groupBy(id_col, "idx").agg(
        F.sum("__sign__").alias("feat_val"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def compression_ratio(docs, text_col: str = "text", id_col: str = "doc_id",
                      level: int = 6):
    """Per-document zlib compression ratio — the classic
    low-information-content detector (repetitive boilerplate compresses
    far below natural text; high-entropy noise barely compresses).
    Reported as exact integers (compressed_len, raw_len, ratio in ppm)
    so downstream threshold filters are engine-deterministic.

    No DuckDB analog exists (no SQL zlib), so this op is pytest-pinned
    against Python zlib directly rather than oracle-declared. The
    Spark side is one Arrow-batched mapInPandas pass: per-batch Python
    cost is a C-speed zlib call per doc, no per-row interpreter
    round-trip, and the binary payload never leaves the executor."""
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("raw_len", T.LongType()),
            T.StructField("compressed_len", T.LongType()),
            T.StructField("ratio_ppm", T.LongType()),
        ]
    )

    def run(batches):
        import zlib

        import pandas as pd

        for b in batches:
            raw = b[text_col].fillna("").str.encode("utf-8")
            rl = raw.str.len()
            cl = raw.map(lambda x: len(zlib.compress(x, level)))
            yield pd.DataFrame(
                {
                    id_col: b[id_col],
                    "raw_len": rl,
                    "compressed_len": cl,
                    "ratio_ppm": (cl * 1_000_000) // rl.clip(lower=1),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema)


def span_corrupt(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    block: int = 3,
    mask_pct: int = 15,
) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020) — the seq2seq
    denoising objective's data prep: selected token spans are replaced
    by ``<extra_id_K>`` sentinels in the input, and the target is the
    sentinel-delimited sequence of the masked spans, in order.

    Span selection is a pure function of (doc id, span index): token
    positions group into fixed ``block``-length spans, and span b of
    doc d is masked iff md5(d ‖ ':' ‖ b) % 100 < mask_pct — fixed
    blocks instead of T5's geometric span lengths so the mask (and the
    DuckDB oracle, which replays the identical arithmetic) is a pure
    integer function; no RNG state anywhere. The trailing T5 sentinel
    after the last span is omitted (documented divergence).

    Scale shape: one explode + per-doc keyed windows (the per-doc
    token-sequence bound of the ngram/window family — a document's
    tokens always fit a task); reconstruction is a per-doc
    array_sort/array_join aggregation, so only (doc, token) rows
    shuffle, keyed by doc id. Returns (id, input_text, target_text,
    n_masked) for every doc with at least one token."""
    toks = docs.select(
        F.col(id_col).alias("__id__"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("__ord__", "__tok__"),
    ).filter(F.col("__tok__") != "")
    w = Window.partitionBy("__id__").orderBy("__ord__")
    marked = (
        toks.select(
            "__id__",
            "__tok__",
            (F.row_number().over(w) - 1).alias("__idx__"),
        )
        .select(
            "__id__",
            "__tok__",
            "__idx__",
            F.expr(f"__idx__ div {block}").alias("__blk__"),
            (F.col("__idx__") % block).alias("__wi__"),
        )
        .withColumn(
            "__m__",
            F.expr(
                "cast(conv(substring(md5(concat(cast(__id__ as string), ':',"
                " cast(__blk__ as string))), 1, 8), 16, 10) as bigint) % 100"
            )
            < mask_pct,
        )
    )
    # sentinel numbering: dense rank of the masked span within the doc,
    # computed WITHOUT a branch: the running count of masked-span
    # STARTS (m AND wi=0) in idx order equals dense_rank-over-blk + 1
    # for every masked row (block starts appear in idx order, and every
    # block has its wi=0 row — idx is contiguous from 0). Same window
    # partitioning as the row_number above, so no extra exchange.
    wk = Window.partitionBy("__id__").orderBy("__idx__").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    marked = marked.withColumn(
        "__k__",
        F.sum(
            F.when(F.col("__m__") & (F.col("__wi__") == 0), 1).otherwise(0)
        ).over(wk)
        - 1,
    )
    sentinel = F.concat(
        F.lit("<extra_id_"), F.col("__k__").cast("string"), F.lit(">")
    )
    # order keys: token at idx → 2·idx; a span's sentinel sits just
    # before its first token (2·block·blk − 1) and after the previous
    # span's last (≤ 2·block·blk − 2).
    #
    # ONE pass builds everything (formerly the marked subtree — explode
    # + window shuffle — re-ran once per union branch and once for
    # n_masked, 5× in all, then two groupBys and two joins stitched the
    # texts back together; guide §2.4 duplicated subtrees): each row
    # contributes its conditional pieces to per-column collect_lists
    # (collect_list drops NULLs; piece multisets are exactly the former
    # union branches'), and ONE groupBy(id) — partitioned like the
    # window, so no extra exchange — sorts and joins both texts.
    # Docs with no masked span collect empty target lists → "" exactly
    # as the former left-join + coalesce.
    is_start = F.col("__m__") & (F.col("__wi__") == 0)
    inp_piece = F.when(
        ~F.col("__m__"),
        F.struct((F.col("__idx__") * 2).alias("__o__"),
                 F.col("__tok__").alias("__p__")),
    ).when(
        is_start,
        F.struct((F.col("__idx__") * 2).alias("__o__"),
                 sentinel.alias("__p__")),
    )
    tgt_sent = F.when(
        is_start,
        F.struct((F.col("__blk__") * (2 * block) - 1).alias("__o__"),
                 sentinel.alias("__p__")),
    )
    tgt_tok = F.when(
        F.col("__m__"),
        F.struct((F.col("__idx__") * 2).alias("__o__"),
                 F.col("__tok__").alias("__p__")),
    )

    def joined(col):
        return F.array_join(
            F.transform(F.array_sort(col), lambda s: s["__p__"]), " "
        )

    return marked.groupBy("__id__").agg(
        joined(F.collect_list(inp_piece)).alias("input_text"),
        joined(
            F.concat(F.collect_list(tgt_sent), F.collect_list(tgt_tok))
        ).alias("target_text"),
        F.sum(F.when(F.col("__m__"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_masked"),
    ).select(
        F.col("__id__").alias(id_col),
        "input_text",
        "target_text",
        "n_masked",
    )


def fim_transform(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    rate_pct: int = 50,
) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022) — the
    code/infilling pretraining prep: a deterministic fraction of docs
    is rewritten PSM-style as

        <fim_prefix> prefix <fim_suffix> suffix <fim_middle> middle

    (the model learns to emit the middle given both sides); the rest
    pass through unchanged. Document selection and both split points
    are pure md5 integer arithmetic on (id ‖ tag), so the oracle
    replays them exactly and every byte of the reconstruction
    value-hash-checks.

    Scale shape: pure per-row column expressions (substring + concat)
    — zero shuffle, whole-stage codegen end to end; the transform
    composes with pack_sequences downstream exactly like the raw
    text."""
    t = F.col(text_col)
    n = F.length(t)

    def h(tag: str) -> Column:
        return F.expr(
            f"cast(conv(substring(md5(concat(cast({id_col} as string),"
            f" '{tag}')), 1, 8), 16, 10) as bigint)"
        )

    pick = h(":fim") % 100 < rate_pct
    # cut1 ∈ [0, n], cut2 ∈ [cut1, n] — empty prefix/middle/suffix are
    # all legal FIM cases and exercised; % guards need n ≥ 0 only
    cut1 = h(":c1") % (n + 1)
    cut2 = cut1 + h(":c2") % (n - cut1 + 1)
    fim = F.concat(
        F.lit("<fim_prefix>"),
        F.expr("substring(__t__, 1, cast(__c1__ as int))"),
        F.lit("<fim_suffix>"),
        F.expr(
            "substring(__t__, cast(__c2__ + 1 as int),"
            " cast(length(__t__) - __c2__ as int))"
        ),
        F.lit("<fim_middle>"),
        F.expr(
            "substring(__t__, cast(__c1__ + 1 as int),"
            " cast(__c2__ - __c1__ as int))"
        ),
    )
    return docs.select(
        F.col(id_col),
        t.alias("__t__"),
        cut1.alias("__c1__"),
        cut2.alias("__c2__"),
        pick.alias("__pick__"),
    ).select(
        id_col,
        F.when(F.col("__pick__"), fim).otherwise(F.col("__t__")).alias(
            "fim_text"
        ),
        F.col("__pick__").alias("is_fim"),
        F.when(F.col("__pick__"), F.col("__c2__") - F.col("__c1__"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("middle_len"),
    )

"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB (the whole point of these):
- exact dedup is a single hash-aggregate on a digest — never on the
  raw text (shuffle bytes = 16-byte digests, not documents).
- MinHash/LSH: signatures are computed in one pass with nested native
  higher-order functions (no UDF); candidate generation is an
  equi-join on (band, band_hash) — the only shuffle — and exact
  Jaccard verification runs only on candidate pairs.
- SimHash: 64-bit signature via native bit arithmetic; banding on
  16-bit chunks for candidates; bit_count(xor) verification.
- embedding near-dup: blocked cosine within a partition key (label /
  IVF cell) so the pairwise compare never goes quadratic globally.

Shingle/minhash hashing uses xxhash64/md5 (deterministic, 64-bit).
The sketch ops' raw pair sets are non-SQL-expressible in DuckDB, but
they are hash-checked anyway: each declared sketch query scores the op
against an exact ground truth (pair_agreement → recall/precision with
fixed expected values), and the *verification-only* n-gram Jaccard op
carries a complete value oracle.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pippin_spark.operators.text import fingerprint
from pippin_spark.operators.util import CacheHandle, ensure_parallelism


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def cross_source_dup_matrix(
    df: DataFrame, text_col: str, source_col: str
) -> DataFrame:
    """Cross-source duplication matrix — the curation diagnostic behind
    "how much of source A is a copy of source B": for every unordered
    source pair (a ≤ b), the number of exact-duplicate document PAIRS
    with one member in each (and within-source pairs C(n,2) on the
    diagonal).

    Scale shape: one digest-grouped count per (fingerprint, source) —
    corpus text never crosses a shuffle, only digests — then a
    digest-keyed self-join of those counts (each digest's row count is
    #sources at most), so the join input is bounded by
    #distinct-digests × #sources rows. Pair math is exact integers:
    cnt_a·cnt_b off-diagonal, cnt·(cnt−1)/2 on it."""
    from pippin_spark.operators.text import fingerprint

    per = (
        df.groupBy(
            fingerprint(F.col(text_col)).alias("__fp__"),
            F.col(source_col).alias("src"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = per.select("__fp__", F.col("src").alias("source_a"), F.col("cnt").alias("ca"))
    b = per.select("__fp__", F.col("src").alias("source_b"), F.col("cnt").alias("cb"))
    pairs = (
        a.join(b, "__fp__")
        .filter(F.col("source_a") <= F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.when(
                F.col("source_a") == F.col("source_b"),
                F.expr("ca * (ca - 1) div 2"),  # integer-exact C(n,2)
            )
            .otherwise(F.col("ca") * F.col("cb"))
            .cast("long")
            .alias("n_pairs"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum("n_pairs").alias("dup_pairs"))
        .filter(F.col("dup_pairs") > 0)
    )


def dedup_exact_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups by normalized-text digest: returns
    (fp, keep_id, dup_count) for groups with >1 member. Shuffles only
    (digest, id)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col).alias("id"))
        .groupBy("fp")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct normalized text."""
    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") == 1).drop("__rn__")


def dedup_keep_best(
    df: DataFrame, text_col: str, id_col: str, score: Column
) -> DataFrame:
    """Exact dedup keeping the BEST-scoring member of each duplicate
    cluster — the curation form of dedup_exact: when near-identical
    copies differ in provenance/quality, min-id keeps an arbitrary one;
    this keeps argmax(``score``), ties to the LOWEST id (total order:
    ids are unique, so the winner is deterministic in both engines).
    ``score`` must be numeric (it is negated to fold the argmax into
    one min_by); the id may be ANY orderable type — string ids work,
    matching dedup_exact's contract (ADVICE r8).

    Scale: two-phase so document TEXT never rides the digest shuffle —
    only (digest, id, score) triples are exchanged to elect each
    cluster's winner (max_by over a (score, -id) struct: one map-side-
    combining aggregation), then survivors semi-join back on the id
    (id-keyed, text moves zero times). dedup_exact's window form
    shuffles whole rows; at 100 TB the text column IS the corpus, so
    the triple shuffle is ~1% of that volume."""
    triples = df.select(
        fingerprint(F.col(text_col)).alias("__fp__"),
        F.col(id_col).alias("__id__"),
        score.alias("__s__"),
    )
    winners = triples.groupBy("__fp__").agg(
        F.min_by(
            "__id__",
            F.struct((-F.col("__s__")).alias("__ns__"), F.col("__id__")),
        ).alias("keep_id")
    )
    return df.join(
        winners.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    )


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH
# ---------------------------------------------------------------------------


def shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text (native HOFs:
    sequence → transform → slice → array_join)."""
    toks = F.split(F.trim(F.regexp_replace(F.lower(text_col), "\\s+", " ")), " ")
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    # guard BEFORE sequence(): for a doc with < n tokens the greatest()
    # trick yields sequence(1, 0) == the DESCENDING array [1, 0], and
    # slice(toks, 0, n) is a runtime error — short docs get an empty
    # shingle set instead (same guard word_ngrams uses)
    return F.when(
        F.size(toks) >= n, F.array_distinct(grams)
    ).otherwise(F.array().cast("array<string>"))


def _shingle_hash_fn(n: int):
    """Build the per-text shingle hasher used inside the Arrow UDFs:
    text → unique uint64 n-gram hashes. Token md5s are cached for the
    executor lifetime (hot tokens hash once per executor, not once per
    occurrence); the n-gram combine is a vectorized polynomial over the
    token-hash array, so per-shingle Python work is zero. Globally
    deterministic (md5 + fixed odd multiplier) — cross-partition
    Jaccard requires that."""
    import hashlib

    import numpy as np

    cache: dict = {}
    P = np.uint64(0x9E3779B97F4A7C15)  # odd → injective per position
    EMPTY = np.empty(0, dtype=np.uint64)

    def tok_hash(tok):
        h = cache.get(tok)
        if h is None:
            if len(cache) > 2_000_000:  # bound executor memory
                cache.clear()
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            cache[tok] = h
        return h

    def shingles_of(t):
        toks = (t or "").lower().split()
        m = len(toks) - n + 1
        if m <= 0:
            return EMPTY
        ids = np.fromiter((tok_hash(tok) for tok in toks), dtype=np.uint64, count=len(toks))
        h = np.zeros(m, dtype=np.uint64)
        for j in range(n):
            h = h * P + ids[j : j + m]
        return np.unique(h)  # sorted — intersect1d(assume_unique) relies on it

    return shingles_of


def shingle_hashes(df: DataFrame, text_col: str, n: int = 3, out_col: str = "hs") -> DataFrame:
    """Distinct word n-gram shingles of lowercased text, as 64-bit
    hashes, computed in one Arrow pandas UDF straight from the text.

    Why not the Column-level ``shingles()``: Spark evaluates
    sequence/slice/array_join HOF lambdas interpreted (no codegen),
    ~0.5ms/doc. Here only each *distinct token* is md5-hashed (with an
    executor-lifetime cache — hot tokens hash once per executor, not
    once per occurrence), and the n-gram combine is a vectorized
    polynomial over the token-hash array (numpy sliding windows), so
    per-shingle Python work is zero. The hash is globally deterministic
    (md5 tokens + fixed odd multiplier), which cross-partition Jaccard
    requires. Jaccard over injectively-hashed shingles equals Jaccard
    over the strings (64-bit collision odds ~1e-10 at corpus scale),
    so exact-verify downstream is unaffected."""
    from pyspark.sql.functions import pandas_udf

    mk = _shingle_hash_fn

    @pandas_udf("array<long>")
    def sh(texts: pd.Series) -> pd.Series:
        shingles_of = sh.__dict__.setdefault("_fn", mk(n))
        return pd.Series([shingles_of(t).view("int64") for t in texts])

    sh = sh.asNondeterministic()  # collapse barrier (see minhash_signatures)
    others = [c for c in df.columns if c != text_col]
    # spread the Arrow hash pass across the cluster first — a compact
    # single-split input otherwise runs the whole corpus UDF on one
    # task (same guard as text_minhash_signatures); no-op at scale
    return ensure_parallelism(df).select(*others, sh(text_col).alias(out_col))


def text_minhash_signatures(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    out_col: str = "sig",
    bands: Optional[int] = None,
    include_sig: bool = True,
) -> DataFrame:
    """Text → MinHash signature in ONE Arrow stage (shingle hashing and
    permutation minima fused). vs shingle_hashes→minhash_from_hashes
    this halves the Python round-trips and never Arrow-transfers the
    shingle arrays at all — which are ~2.7× the text bytes (8 B/hash vs
    ~6 B/token avg English), so at corpus scale the saved transfer
    exceeds the text scan itself. Null signature for shingle-less docs
    (callers filter).

    With ``bands`` set, also emits a ``bands`` column: the LSH band
    hashes (length ``bands``, ``num_hashes//bands`` rows each),
    computed in the same numpy pass — Spark's HOF slice/array_join
    banding over the signature is interpreted and measured ~as costly
    as the whole signature itself."""
    from pyspark.sql.functions import pandas_udf

    if bands and num_hashes % bands != 0:
        # fail on the driver with a clear message — inside the UDF this
        # would surface as an opaque executor-side reshape ValueError
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    mk, smix = _shingle_hash_fn, _splitmix64
    rpb = num_hashes // bands if bands else 0

    def compute(holder, texts):
        import numpy as np

        shingles_of = holder.setdefault("_fn", mk(n))
        seeds = smix(np.arange(1, num_hashes + 1, dtype=np.uint64))
        P = np.uint64(0x9E3779B97F4A7C15)
        sig_out: list = []
        band_out: list = []
        for t in texts:
            h = shingles_of(t)
            if h.size == 0:
                sig_out.append(None)
                band_out.append(None)
                continue
            perms = smix(h[:, None] ^ seeds[None, :])
            sig = perms.min(axis=0)
            sig_out.append(sig.view(np.int64))
            if bands:
                chunks = sig.reshape(bands, rpb)
                bh = np.zeros(bands, dtype=np.uint64)
                for j in range(rpb):
                    bh = bh * P + chunks[:, j]
                # mix the band index in so identical band VALUES in
                # different bands never collide into one bucket
                band_out.append(
                    smix(bh ^ np.arange(bands, dtype=np.uint64)).view(np.int64)
                )
        return sig_out, band_out

    if bands and not include_sig:
        # bands-only consumers (LSH candidate generation): never Arrow-
        # transfer the full signature — at num_hashes=64 that's 512 B
        # per doc, ~2.5× the text bytes, pure waste on a 100 TB corpus
        @pandas_udf("array<long>")
        def mh(texts: pd.Series) -> pd.Series:
            _, band_out = compute(mh.__dict__, texts)
            return pd.Series(band_out)

    elif bands:

        @pandas_udf("sig: array<long>, bands: array<long>")
        def mh(texts: pd.Series) -> pd.DataFrame:
            sig_out, band_out = compute(mh.__dict__, texts)
            return pd.DataFrame({"sig": sig_out, "bands": band_out})

    else:

        @pandas_udf("array<long>")
        def mh(texts: pd.Series) -> pd.Series:
            sig_out, _ = compute(mh.__dict__, texts)
            return pd.Series(sig_out)

    mh = mh.asNondeterministic()  # see minhash_signatures: prevents double eval
    others = [c for c in df.columns if c != text_col]
    if bands and not include_sig:
        return df.select(*others, mh(text_col).alias("bands"))
    if bands:
        tmp = df.select(*others, mh(text_col).alias("__mh__"))
        return tmp.select(*others, F.col("__mh__.sig").alias(out_col), F.col("__mh__.bands").alias("bands"))
    return df.select(*others, mh(text_col).alias(out_col))


def pair_jaccard_from_text(
    df: DataFrame, col_a: str, col_b: str, n: int = 3, out_col: str = "jaccard"
) -> DataFrame:
    """Exact n-gram Jaccard of two text columns in ONE Arrow stage:
    both sides are shingle-hashed and intersected inside the UDF, so
    the (large) shingle arrays never leave Python. Jaccard over
    injectively-hashed shingles equals Jaccard over the shingle strings
    (64-bit collisions ~1e-10 at corpus scale)."""
    from pyspark.sql.functions import pandas_udf

    mk = _shingle_hash_fn

    @pandas_udf("double")
    def jac(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        shingles_of = jac.__dict__.setdefault("_fn", mk(n))
        out = np.zeros(len(a), dtype=np.float64)
        for i, (ta, tb) in enumerate(zip(a, b)):
            ha, hb = shingles_of(ta), shingles_of(tb)
            union = ha.size + hb.size
            if union == 0:
                continue
            inter = np.intersect1d(ha, hb, assume_unique=True).size
            out[i] = inter / (union - inter)
        return pd.Series(out)

    jac = jac.asNondeterministic()
    return df.withColumn(out_col, jac(col_a, col_b))


def _splitmix64(x):
    """Vectorized splitmix64 finalizer over uint64 numpy arrays —
    the permutation family for MinHash (public-domain constant mix,
    same family used by java.util.SplittableRandom)."""
    import numpy as np

    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    x ^= x >> np.uint64(31)
    return x


def minhash_from_hashes(
    df: DataFrame, hash_col: str, num_hashes: int = 64, out_col: str = "sig"
) -> DataFrame:
    """MinHash signatures from pre-hashed shingles (array<long>): the
    ``num_hashes`` permutation minima are computed in a vectorized
    Arrow pandas UDF (numpy (n_shingles × num_hashes) matrix-min — µs
    per doc, vs ~40ms for the interpreted-HOF fold). Null signature for
    empty inputs (callers filter)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    smix = _splitmix64

    @pandas_udf("array<long>")
    def mh(base: pd.Series) -> pd.Series:
        import numpy as np

        seeds = smix(np.arange(1, num_hashes + 1, dtype=np.uint64))
        out = []
        for arr in base:
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if h.size == 0:
                out.append(None)  # no shingles → no signature (caller filters)
                continue
            perms = smix(h[:, None] ^ seeds[None, :])
            out.append(perms.min(axis=0).view(np.int64))
        return pd.Series(out)

    # Nondeterministic marker = "do not collapse/duplicate": otherwise a
    # filter on the output column makes Catalyst inline the UDF into
    # both Filter and Project → the UDF AND the whole interpreted
    # shingle expression under it run twice (measured 2.5×).
    mh = mh.asNondeterministic()
    others = [c for c in df.columns if c != hash_col]
    return df.select(*others, mh(hash_col).alias(out_col))


def minhash_signatures(
    df: DataFrame, shingle_col: str, num_hashes: int = 64, out_col: str = "sig"
) -> DataFrame:
    """Corpus-scale MinHash over a shingle-string array column: shingle
    strings are hashed JVM-side once (one ``transform``/xxhash64 pass),
    then :func:`minhash_from_hashes` computes the permutation minima.
    Projects ONLY (other cols, base hashes) into the Arrow stage: if the
    (interpreted-HOF) shingle array rode along as a passthrough column
    it would be re-evaluated there — measured ~7× slower. The fastest
    corpus path skips shingle strings entirely: :func:`shingle_hashes`
    → :func:`minhash_from_hashes`."""
    others = [c for c in df.columns if c != shingle_col]
    base = F.transform(F.col(shingle_col), lambda s: F.xxhash64(s)).alias("__base__")
    hashed = df.select(*others, base)
    return minhash_from_hashes(hashed, "__base__", num_hashes, out_col)


def lsh_candidates(
    df: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` of
    ``rows_per_band``, hash each band, and emit candidate pairs
    (id_a < id_b) of docs sharing a (band_idx, band_hash) bucket.

    Implemented as groupBy(bucket) + in-bucket pair expansion, NOT a
    self-join — a self-join would execute the whole upstream
    signature-computation subtree twice; the groupBy computes it once
    and shuffles only (band, bh, id) triples of small ints.

    Scale: pair expansion is quadratic per bucket; real corpora have a
    boilerplate mega-bucket tail — cap it with ``max_bucket_size``
    (dropped buckets are near-duplicate *cliques*; handle them as
    groups, not pairs)."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    # fail LOUDLY when the banding overruns the signature: an
    # out-of-range slice hashes the empty string identically for every
    # doc, silently collapsing the corpus into one mega-bucket per
    # overflowing band (the sibling signature builder raises on the
    # analogous misconfiguration at build time; the signature column
    # length is only knowable here at run time)
    need = bands * rows_per_band
    guard = F.assert_true(
        F.size(F.col(sig_col)) >= F.lit(need),
        F.concat(
            F.lit(f"lsh_candidates: bands*rows_per_band={need} exceeds "
                  "signature length "),
            F.size(F.col(sig_col)).cast("string"),
        ),
    )
    # where(), not an unused projected column — column pruning would
    # silently remove an unreferenced assert; assert_true yields NULL
    # on success so the filter keeps every valid row
    banded = df.where(guard.isNull()).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bh"),
                ),
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice("ids", i + F.lit(2), F.size("ids")),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified:
    shingle → signature → banded candidates → verify. Returns
    (id_a, id_b, jaccard) with jaccard ≥ threshold.

    Mega-bucket guard (default ON): real corpora have boilerplate
    classes whose docs share every band — one such bucket makes the
    quadratic pair expansion O(n²) inside a single task. Buckets larger
    than ``max_bucket_size`` are treated as near-duplicate *cliques*:
    they emit star pairs (bucket-min id ↔ every other member), O(n) per
    bucket, still exact-verified downstream. For true boilerplate
    cliques the keep-lowest-id cleaned corpus is identical; only the
    diagnostic pair list is sparser. Set ``max_bucket_size=None`` to
    force full expansion everywhere."""
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__"))
    )
    # ONE Arrow stage text→(signature, band hashes): fused
    # shingle+minhash+banding — neither the shingle-hash arrays (bigger
    # than the text) nor the interpreted HOF banding ever run JVM-side.
    banded = (
        text_minhash_signatures(
            base, "__text__", n, num_hashes, bands=bands, include_sig=False
        )
        .filter(F.col("bands").isNotNull())
        .select("id", F.explode("bands").alias("bh"))
    )
    buckets = (
        banded.groupBy("bh")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    all_pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    star_pairs = F.transform(
        F.slice("ids", 2, F.size("ids")),
        lambda y: F.struct(F.col("ids")[0].alias("id_a"), y.alias("id_b")),
    )
    pair_expr = (
        all_pairs
        if max_bucket_size is None
        else F.when(F.size("ids") <= max_bucket_size, all_pairs).otherwise(star_pairs)
    )
    cand = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    # Verify by joining candidate ids back to the RAW text and
    # re-shingling post-join: shingles are recomputed only for
    # candidate rows (≪ the corpus), and AQE broadcasts the tiny
    # candidate side against plain scans — the corpus is never
    # shuffled or repartitioned for the join. One fused Arrow stage
    # computes exact Jaccard from both texts.
    raw = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__"))
    ta = raw.select(F.col("id").alias("id_a"), F.col("__text__").alias("__ta__"))
    tb = raw.select(F.col("id").alias("id_b"), F.col("__text__").alias("__tb__"))
    joined = F.broadcast(cand).join(ta, "id_a").join(tb, "id_b")
    verified = (
        pair_jaccard_from_text(joined, "__ta__", "__tb__", n, out_col="__j__")
        .select("id_a", "id_b", F.round(F.col("__j__"), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def dedup_ngram_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block_on: Optional[Sequence[str]] = None,
    max_block_size: Optional[int] = 4096,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs with deterministic blocking
    (default: first token + length bucket) — fully SQL-expressible, so
    this op carries a complete DuckDB oracle and doubles as the ground
    truth for the sketch-based variants.

    Scale: candidate pairs exist only within a block; the block key is
    the shuffle key. Pick block keys that bound block size.

    Mega-block guard (default ON, mirrors dedup_minhash_lsh's
    max_bucket_size): near-dups share first token AND length bucket by
    construction — that's *why* they're near-dups — so a boilerplate
    corpus concentrates in one block and the in-task pair expansion
    goes O(n²). Blocks larger than ``max_block_size`` emit STAR pairs
    (anchor = lowest-id member with non-empty shingles ↔ every other
    member, O(n) per block), each still exact-Jaccard scored.

    Guard semantics caveat: the star assumes an oversized block is ONE
    boilerplate clique. For a true clique the keep-lowest-id cleaned
    corpus is identical (only the diagnostic pair list is sparser); if
    a mega-block mixes several distinct near-dup clusters, pairs not
    involving the anchor's cluster are missed — pick a finer
    ``block_on`` or set ``max_block_size=None`` when that matters
    (the LSH sibling does not share this caveat: its buckets are
    signature-band classes, so an oversized bucket IS a similarity
    clique by construction)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    if block_on is None:
        block = F.struct(
            F.substring_index(norm, " ", 1).alias("tok0"),
            F.floor(F.length(norm) / 32).alias("lenb"),
        )
    else:
        block = F.struct(*[F.col(c) for c in block_on])
    needed = [id_col, text_col] + ([c for c in block_on if c not in (id_col, text_col)] if block_on else [])
    # Shingles as 64-bit hashes straight from text (shingle_hashes):
    # Jaccard over injectively-hashed shingles equals Jaccard over the
    # strings, the interpreted shingle-HOF never runs, and the bucket
    # shuffle moves long arrays instead of string arrays.
    pre = df.select(*[F.col(c) for c in needed]).select(
        F.col(id_col).alias("id"), block.alias("blk"), F.col(text_col).alias("__text__")
    )
    # shingle_hashes applies the ensure_parallelism guard itself now —
    # wrapping here too would evaluate the partition probe twice
    docs = shingle_hashes(pre, "__text__", n, out_col="sh")
    # groupBy-bucket, not a blocked self-join: the self-join would run
    # the shingle pass twice; this shuffles each shingle array once.
    # Blocks are disjoint (each doc in exactly one), so pairs are
    # emitted exactly once — no distinct needed.
    buckets = (
        docs.groupBy("blk")
        .agg(F.collect_list("id").alias("ids"), F.collect_list("sh").alias("shs"))
        .filter(F.size("ids") > 1)
    )

    # In-bucket pair expansion + set intersection in numpy (mapInPandas,
    # columnar output) — the interpreted HOF expansion materialized both
    # arrays per pair and evaluated array_intersect per pair, ~5-10×
    # slower. Only integer (inter, union) counts leave Python, so the
    # jaccard division and rounding stay in the codegen'd projection —
    # bit-identical to the SQL oracle's ROUND(i/u, 6).
    def expand(pdfs):
        import numpy as np
        import pandas as _pd

        for pdf in pdfs:
            out_a: list = []
            out_b: list = []
            out_i: list = []
            out_u: list = []
            for ids_l, shs_l in zip(pdf["ids"], pdf["shs"]):
                order = sorted(range(len(ids_l)), key=lambda k: ids_l[k])  # id_a < id_b
                ids = [ids_l[k] for k in order]
                shs = [np.asarray(shs_l[k], dtype=np.int64) for k in order]
                # mega-block guard: star expansion caps this task's
                # pair count at n-1 instead of n(n-1)/2; the anchor is
                # the lowest-id member that HAS shingles (an empty-
                # shingle anchor would score 0 against everything and
                # silently suppress the whole block)
                star = max_block_size is not None and len(ids) > max_block_size
                if star:
                    a = next((x for x in range(len(ids)) if shs[x].size > 0), 0)
                    pair_iter = (((a, j) for j in range(len(ids)) if j != a))
                else:
                    pair_iter = (
                        (i, j)
                        for i in range(len(ids))
                        for j in range(i + 1, len(ids))
                    )
                for i, j in pair_iter:
                    if i > j:
                        i, j = j, i
                    inter = np.intersect1d(shs[i], shs[j], assume_unique=True).size
                    out_a.append(ids[i])
                    out_b.append(ids[j])
                    out_i.append(inter)
                    out_u.append(shs[i].size + shs[j].size - inter)
            if out_a:
                yield _pd.DataFrame(
                    {"id_a": out_a, "id_b": out_b, "inter": out_i, "union": out_u}
                )

    counts = buckets.mapInPandas(expand, "id_a long, id_b long, inter long, union long")
    return counts.select(
        "id_a",
        "id_b",
        F.round(
            F.when(F.col("union") > 0, F.col("inter") / F.col("union")).otherwise(F.lit(0.0)),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def dedup_filter(
    df: DataFrame, pairs: DataFrame, id_col: str, drop_col: str = "id_b"
) -> DataFrame:
    """Corpus minus near-duplicates: greedy keep-lowest-id policy —
    drop every doc appearing as the HIGHER id of a qualifying pair
    (pairs come from any of the pair generators here; they all emit
    id_a < id_b). The actual operation a training-data pipeline runs:
    pairs are diagnostics, this is the cleaned corpus.

    Scale: a left-anti join against the distinct drop set — the drop
    set is pair-count sized (≪ corpus), so AQE broadcasts it and the
    corpus is never shuffled."""
    drops = pairs.select(F.col(drop_col).alias("__drop__")).distinct()
    return df.join(drops, df[id_col] == F.col("__drop__"), "left_anti")


# dedup_clusters' small-graph guard: below this many (symmetrized,
# distinct) edges the resolution runs as union-find inside one task —
# the min-label fixpoint is unique, so the result is identical to the
# converged propagation. Data-sized, not core-count-sized: corpus-scale
# pair sets exceed it and run the distributed loop.
_LOCAL_EDGES_MAX = 2_000_000


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    components with cluster_id = the minimum member id. This is the
    real resolution step between pair generation and corpus cleaning —
    greedy pair-dropping (dedup_filter) over-keeps when duplicates form
    chains (a~b, b~c but a!~c still means one retained doc per
    component under transitive-dup policy).

    Algorithm: iterative min-label propagation over the symmetrized
    edge set — each round every node takes min(own label, neighbors'
    labels); converges in O(component diameter) rounds. Near-dup
    components are cliques or short chains, so 2-4 rounds in practice;
    ``max_iter`` bounds adversarial chains (switch to alternating
    large-star/small-star if components with huge diameters ever
    matter). Each round is one shuffle on node id; lineage is truncated
    with localCheckpoint so the plan does not grow per iteration, and
    convergence is detected distributed (count of label changes — no
    label data ever reaches the driver).

    Returns (id, cluster_id) for every node appearing in ``pairs``.
    """
    e = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
    )
    e = e.localCheckpoint(eager=True)  # pairs subtree runs exactly once
    n_edges = e.count()  # cheap: reads the checkpoint
    if n_edges <= _LOCAL_EDGES_MAX:
        # small-graph shape (every local run; near-dup pair sets at
        # corpus scale exceed the guard and take the distributed loop
        # below): the whole resolution runs inside ONE task via
        # union-find. The min-label fixpoint is UNIQUE (cluster_id =
        # min member id of each component), so the result is identical
        # to however many propagation rounds would have converged —
        # per-round jobs (join + agg + checkpoint + convergence count,
        # 2 actions each) collapse to one narrow pass. Ids are opaque
        # hashables; Python min over str equals Spark's UTF8 binary
        # order, over ints trivially.
        id_type = e.schema["u"].dataType.simpleString()

        def _cc(batches):
            import pandas as pd

            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for pdf in batches:
                for u, v in zip(pdf["u"], pdf["v"]):
                    if u not in parent:
                        parent[u] = u
                    if v not in parent:
                        parent[v] = v
                    ru, rv = find(u), find(v)
                    if ru != rv:
                        parent[ru] = rv
            roots: dict = {}
            for x in parent:
                r = find(x)
                m = roots.get(r)
                if m is None or x < m:
                    roots[r] = x
            ids = sorted(parent)
            yield pd.DataFrame(
                {"id": ids, "cluster_id": [roots[find(x)] for x in ids]}
            )

        return e.coalesce(1).mapInPandas(
            _cc, f"id {id_type}, cluster_id {id_type}"
        )
    labels = e.select(F.col("u").alias("id")).distinct().select(
        "id", F.col("id").alias("cluster_id")
    )
    for _ in range(max_iter):
        neighbor_min = (
            e.join(labels, e["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["u"], "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.col("nmin") < F.col("cluster_id")).alias("__chg__"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("__chg__")).limit(1).count()
        labels = new_labels.drop("__chg__")
        if changed == 0:
            return labels
    # exhausting max_iter with labels still moving means components
    # wider than the round budget exist; silently returning unconverged
    # labels would under-deduplicate (non-minimal cluster ids), so fail
    # loudly and point at the remedy
    raise RuntimeError(
        f"dedup_clusters did not converge within max_iter={max_iter} rounds: "
        "a component's diameter exceeds the budget. Raise max_iter or use "
        "alternating large-star/small-star for huge-diameter graphs."
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(df: DataFrame, text_col: str, out_col: str = "sig") -> DataFrame:
    """Corpus-scale SimHash in ONE fused Arrow stage: text → tokenize →
    cached token md5 (n=1 shingle hasher, distinct tokens) → per-bit ±1
    votes as an (n_tokens × 64) sign matrix summed per column — µs per
    doc. vs the earlier split (JVM interpreted-HOF xxhash64 per token +
    a second Arrow hop for the hash arrays) this moves only the raw
    text across Arrow and hashes hot tokens once per executor."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mk = _shingle_hash_fn

    @pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        import numpy as np

        shingles_of = sh.__dict__.setdefault("_fn", mk(1))  # n=1 → distinct token hashes
        bits = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            h = shingles_of(t)
            if h.size == 0:
                continue
            votes = (((h[:, None] >> bits[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1).sum(axis=0)
            out[i] = ((votes > 0).astype(np.uint64) << bits).sum(dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    sh = sh.asNondeterministic()  # see minhash_signatures: prevents double eval
    return df.withColumn(out_col, sh(text_col))


def _popcount64(x):
    """Vectorized 64-bit popcount (SWAR) over a uint64 numpy array —
    numpy <2.0 has no np.bitwise_count."""
    import numpy as np

    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return (x * h) >> np.uint64(56)


def dedup_simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into 4×16-bit
    chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk identical), bucket per
    chunk value (groupBy, not self-join — the signature subtree runs
    once), verify hamming ≤ max_hamming in-bucket.

    In-bucket verification is a vectorized ``mapInPandas`` stage:
    block-wise n×n xor + SWAR popcount in numpy, output built as
    columnar numpy arrays (zero per-pair Python objects).
    Boilerplate-heavy corpora produce mega-buckets (observed: 1.6k
    docs sharing one 16-bit chunk → 1.3M candidate pairs from ONE
    bucket, 166k qualifying pairs at sf0.1) where Spark's interpreted
    HOF-lambda expansion was the whole runtime. A pair whose sigs
    share several identical chunks is emitted only from the LOWEST
    one (checked on the xor value, nearly free), so output is
    exactly-once and the final ``distinct`` — a shuffle of every
    emitted pair — disappears. Buckets beyond ``max_bucket_size``
    (near-dup *cliques* — boilerplate classes) can be dropped, as in
    :func:`lsh_candidates`."""
    import numpy as _np
    import pandas as pd

    popcount = _popcount64
    # values of DROPPED (oversized) buckets per chunk — the exactly-
    # once suppression must not credit a lower chunk whose bucket was
    # never expanded, or pairs sharing that chunk vanish from every
    # bucket. Populated below when max_bucket_size is set; bounded by
    # the number of mega-buckets (boilerplate classes), inherently few.
    over_vals = {c: _np.empty(0, dtype=_np.uint64) for c in range(4)}

    def expand(pdfs):
        import numpy as np

        for pdf in pdfs:
            out_a: list = []
            out_b: list = []
            out_h: list = []
            for chunk, ids_l, sigs_l in zip(pdf["chunk"], pdf["ids"], pdf["sigs"]):
                ids = np.asarray(ids_l, dtype=np.int64)
                sig = np.asarray(sigs_l, dtype=np.int64).view(np.uint64)
                order = np.argsort(ids)  # id_a < id_b
                ids, sig = ids[order], sig[order]
                n = len(ids)
                B = 4096  # bounds the xor matrix to B×n — mega-bucket safe
                for s in range(0, n, B):
                    e = min(s + B, n)
                    x = sig[s:e, None] ^ sig[None, s:]
                    d = popcount(x)
                    r, c = np.nonzero(d <= np.uint64(max_hamming))
                    keep = (c + s) > (r + s)  # strict upper triangle
                    r, c = r[keep], c[keep]
                    xv = x[r, c]
                    # exactly-once: skip pairs already emitted by a
                    # lower identical chunk — unless that chunk's
                    # bucket was dropped as oversized (it emitted
                    # nothing, so this bucket must keep the pair)
                    dup = np.zeros(len(r), dtype=bool)
                    for cp in range(int(chunk)):
                        same = (
                            (xv >> np.uint64(16 * cp)) & np.uint64(0xFFFF)
                        ) == np.uint64(0)
                        if over_vals[cp].size:
                            shared = (
                                sig[r + s] >> np.uint64(16 * cp)
                            ) & np.uint64(0xFFFF)
                            same &= ~np.isin(shared, over_vals[cp])
                        dup |= same
                    r, c = r[~dup], c[~dup]
                    out_a.append(ids[r + s])
                    out_b.append(ids[c + s])
                    out_h.append(d[r, c].astype(np.int32))
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "hamming": np.concatenate(out_h),
                    }
                )

    sigs = simhash_signatures(
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col))), text_col
    ).select(F.col(id_col).alias("id"), "sig")
    chunks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("sig"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ch"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("id", "sig", F.col("ck.chunk").alias("chunk"), F.col("ck.ch").alias("ch"))
    # collect_list order is consistent across the two lists (same agg,
    # same row order) so ids/sigs indexes align in the UDF
    buckets = (
        chunks.groupBy("chunk", "ch")
        .agg(F.collect_list("id").alias("ids"), F.collect_list("sig").alias("sigs"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        # checkpoint so the oversized-scan and the expansion share one
        # computation of the signature subtree
        buckets = buckets.localCheckpoint(eager=False)
        dropped = (
            buckets.filter(F.size("ids") > max_bucket_size)
            .select("chunk", "ch")
            .collect()  # ≤ #mega-buckets rows — driver-safe by nature
        )
        for c in range(4):
            over_vals[c] = _np.array(
                sorted(r["ch"] for r in dropped if r["chunk"] == c),
                dtype=_np.uint64,
            )
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return buckets.mapInPandas(expand, "id_a long, id_b long, hamming int")


# ---------------------------------------------------------------------------
# embedding near-dup (cosine within blocks)
# ---------------------------------------------------------------------------


def cosine_similarity(a: Column, b: Column) -> Column:
    """Native cosine over float arrays: zip_with product + aggregate
    sums — JVM-side, no UDF."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    # zero-norm guard: a zero vector (padding row, failed encoder) has
    # undefined cosine — define it as 0 rather than dividing by zero,
    # which under Spark 4's default ANSI mode kills the whole job.
    # dot/denom are bound ONCE as lambda variables: referencing denom
    # in both the condition and the quotient would inline (and
    # re-evaluate) each norm aggregate twice per row
    return F.transform(
        F.array(F.struct(dot.alias("d"), (na * nb).alias("n"))),
        lambda s: F.when(s["n"] > 0, s["d"] / s["n"]).otherwise(F.lit(0.0)),
    )[0]


def dedup_embedding_cosine(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine within a blocking key
    (a label, an IVF cell id, an LSH bucket). The block key bounds the
    quadratic term; the join shuffles on it once.

    In-block scoring is ONE Arrow pass per block: a normalized numpy
    matmul over the block's m×dim matrix, upper triangle only
    (id_a < id_b on ascending-id order), row-chunked against the
    remaining suffix so peak temp is chunk×suffix scores and total
    FLOPs are the ~m²/2 the triangle needs — never m²·dim expanded
    pair rows. The former Catalyst route exploded m²/2 struct pairs
    carrying BOTH vectors and scored each with an interpreted HOF
    cosine.

    Parity contract with that route, preserved exactly: the Arrow
    pass only PRE-FILTERS candidates on the raw score with 1e-6 of
    slack; the returned ``cosine`` is computed by the same JVM
    ``F.round(raw, 6)`` (HALF_UP — numpy's np.round is
    half-to-EVEN, a midpoint divergence from both F.round and the
    DuckDB oracle's ROUND) and the threshold applies to the rounded
    value. NULL vectors and cross-length pairs produced NULL/0
    cosines before (zip_with NULL-pads) and were dropped by the
    threshold filter — here NULL vectors are dropped up front and
    pairs form only within a vector length, the same surviving set
    for any threshold > 0. Zero-norm vectors keep the documented
    cosine=0 guard (operators/util.unit_rows)."""
    import numpy as np
    import pandas as _pd

    from pippin_spark.operators.util import unit_rows

    v = df.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()).select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    id_t = v.schema["id"].dataType.simpleString()
    pre = float(threshold) - 1e-6  # round(raw,6) ≥ t ⇒ raw ≥ t − 5e-7

    def gen(key, pdf):
        empty = _pd.DataFrame({"id_a": [], "id_b": [], "raw": []})
        if len(pdf) < 2:
            return empty
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids_all = pdf["id"].to_numpy()[order]
        vecs = pdf["vec"].iloc[order]
        lens = np.array([len(x) for x in vecs])
        out_a, out_b, out_c = [], [], []
        for L in np.unique(lens):
            sel = np.nonzero(lens == L)[0]
            m = len(sel)
            if m < 2 or L == 0:
                continue
            ids = ids_all[sel]
            Vn = unit_rows(
                np.stack(
                    [np.asarray(vecs.iloc[i], dtype=np.float64) for i in sel]
                )
            )
            chunk = 1024
            for s in range(0, m - 1, chunk):
                e = min(m - 1, s + chunk)
                # suffix-only matmul: row r of S scores ids[s+r]
                # against ids[s+r+1:], so total FLOPs stay ~m²/2
                S = Vn[s:e] @ Vn[s:].T
                for r in range(e - s):
                    row = S[r, r + 1 :]
                    hit = np.nonzero(row >= pre)[0]
                    if len(hit):
                        out_a.append(np.full(len(hit), ids[s + r]))
                        out_b.append(ids[s + r + 1 + hit])
                        out_c.append(row[hit])
        if not out_a:
            return empty
        return _pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "raw": np.concatenate(out_c),
            }
        )

    cands = v.groupBy("blk").applyInPandas(
        gen, f"id_a {id_t}, id_b {id_t}, raw double"
    )
    return cands.select(
        "id_a", "id_b", F.round(F.col("raw"), 6).alias("cosine")
    ).filter(F.col("cosine") >= F.lit(float(threshold)))


# ---------------------------------------------------------------------------
# sketch quality scoring (recall/precision vs an exact ground truth)
# ---------------------------------------------------------------------------


def pair_agreement(
    exact: DataFrame,
    approx: DataFrame,
    keys: Sequence[str] = ("id_a", "id_b"),
) -> DataFrame:
    """Score an approximate pair/edge set against an exact ground truth.

    Returns ONE row: (n_exact, n_approx, n_common, recall, prec) where
    recall = n_common/n_exact and prec = n_common/n_approx, both as
    double divisions of the bigint counts (bit-reproducible in any
    engine that repeats the same division).

    Scale: a single full-outer equi-join on the pair keys + one global
    count aggregate — both sides are result sets (pairs), not corpora,
    so this is cheap relative to the ops it scores.
    """
    ks = list(keys)
    e = exact.select(*ks).withColumn("__e__", F.lit(1))
    a = approx.select(*ks).withColumn("__a__", F.lit(1))
    j = e.join(a, ks, "full_outer")
    agg = j.agg(
        F.count("__e__").alias("n_exact"),
        F.count("__a__").alias("n_approx"),
        F.count(
            F.when(F.col("__e__").isNotNull() & F.col("__a__").isNotNull(), F.lit(1))
        ).alias("n_common"),
    )
    return agg.select(
        "n_exact",
        "n_approx",
        "n_common",
        (F.col("n_common").cast("double") / F.col("n_exact")).alias("recall"),
        (F.col("n_common").cast("double") / F.col("n_approx")).alias("prec"),
    )


def decontaminate(
    corpus: DataFrame,
    test_set: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Train-test contamination check: corpus documents sharing ANY
    word n-gram with a held-out benchmark/test set. Returns the
    distinct contaminated ids.

    Scale shape: the benchmark side is small by nature (thousands of
    eval documents vs billions of corpus docs) — its distinct grams
    broadcast; the corpus side explodes to (id, gram) and semi-joins,
    so the corpus is never shuffled and never carries more than one
    gram per row through the join. (At petabyte scale hash the grams
    to 64-bit before the join to shrink the broadcast; kept as raw
    strings here so the DuckDB oracle can reproduce the join exactly.)
    """
    from pippin_spark.operators.text import word_ngrams

    tg = (
        test_set.select(F.explode(word_ngrams(F.col(text_col), n)).alias("__g__"))
        .distinct()
    )
    cg = corpus.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("__g__")
    )
    return (
        cg.join(F.broadcast(tg), "__g__", "left_semi")
        .select(id_col)
        .distinct()
    )


def dedup_incremental(
    new_df: DataFrame,
    seen_fps: DataFrame,
    text_col: str,
    id_col: str,
    fp_col: str = "fp",
) -> DataFrame:
    """Incremental-ingestion dedup: given a new batch and the
    fingerprint store of everything already ingested, keep one doc per
    novel fingerprint (lowest id within the batch) and drop anything
    the store has seen. Returns (id, fp) — the survivors AND the rows
    to append to the store, closing the loop for the next batch.

    Scale shape: the batch shuffles only (fp, id) digests for its
    within-batch groupBy; the store probe is a left-anti join on the
    digest (broadcast when the store side is a bloom/recent partition,
    shuffle otherwise) — the document payload is joined back by id
    only for survivors."""
    from pippin_spark.operators.text import fingerprint

    fps = new_df.select(
        F.col(id_col).alias("__id__"), fingerprint(F.col(text_col)).alias(fp_col)
    )
    keep = fps.groupBy(fp_col).agg(F.min("__id__").alias("__id__"))
    novel = keep.join(seen_fps.select(fp_col), fp_col, "left_anti")
    return novel.select(F.col("__id__").alias(id_col), fp_col)


def dedup_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-global line-level deduplication (the C4-style boilerplate
    scrub): a line that occurs in multiple documents is kept only at its
    FIRST occurrence (lowest (doc, line-position)); every other copy is
    dropped and each document is reassembled from its surviving lines
    in order. Deterministic: the keeper is an argmin, not "whichever
    task got there first".

    Scale shape: lines shuffle once by line digest (md5 — the digest is
    what crosses the wire, grouped with map-side partials); the argmin
    winner set broadcast-joins back against the exploded lines; the
    reassembly groupBy shuffles (id, pos, line) once. No UDFs, no
    global windows."""
    lines = df.select(
        F.col(id_col).alias("__id__"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos__", "__line__"),
    )
    # lines below min_line_chars are EXEMPT from dedup (kept verbatim
    # in every document) — they are too short to be boilerplate
    # evidence, and deleting them would mangle every doc's structure.
    # ONE pass decides keep/drop (formerly: the explode ran 3× — the
    # short branch, the winner aggregate, and the join-back side — and
    # the winner set joined against the full exploded table; guide
    # §2.4): every line rides one window keyed by its digest, the
    # argmin winner is row_number()==1 under the same (id, pos) order,
    # and exempt short lines get a per-occurrence second partition key
    # (their own (id, pos)) so each is alone in its window partition —
    # always rn 1, never skewing one NULL-keyed partition, and never
    # grouped with a long line of equal digest. The digest shuffle the
    # aggregate used to do is gone; the text-by-digest exchange this
    # window does is the one the join-back side always paid.
    w_keep = Window.partitionBy("__h__", "__exempt__").orderBy(
        "__id__", "__pos__"
    )
    kept = (
        lines.withColumn("__h__", F.md5(F.col("__line__")))
        .withColumn(
            "__exempt__",
            F.when(
                F.length("__line__") < min_line_chars,
                F.struct("__id__", "__pos__"),
            ),
        )
        .withColumn("__rn__", F.row_number().over(w_keep))
        .filter(F.col("__rn__") == 1)
        .select("__id__", "__pos__", "__line__")
    )
    assembled = (
        kept.groupBy("__id__")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos__", "__line__"))),
                    lambda s: s["__line__"],
                ),
                "\n",
            ).alias("text")
        )
    )
    # every input document survives — one whose lines were all
    # duplicate-dropped comes back with empty text, not silently
    # missing (downstream joins on id must not lose rows)
    ids = df.select(F.col(id_col).alias("__id__")).distinct()
    return (
        ids.join(assembled, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
        )
    )


def dedup_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_chars: int = 40,
    stride: int = 20,
) -> DataFrame:
    """Exact repeated-substring detection, the windowed approximation of
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): slide fixed-width character
    windows over each document on a stride grid and flag every window
    whose exact text also occurs in ANOTHER document. Per doc it
    reports total windows, cross-doc duplicated windows, and the
    duplicated fraction — the signal that drives span-level scrubbing
    and boilerplate triage where line/doc-level dedup is too coarse.

    Scale shape: window extraction is a narrow per-row sequence/explode
    (no join, no second scan); instance counts pre-aggregate per
    (doc, window-digest) so the first shuffle carries one row per
    DISTINCT (doc, span) — md5 digests, never the raw 40-char spans;
    the window-level distinct-doc count and the join back are both on
    the digest key. At corpus scale the digest behaves like the
    line-dedup digest: collisions are 2^-128-improbable, and a
    verify-on-digest-match pass can be appended if exactness against
    adversarial input is required. Output fraction is exact integer
    arithmetic (ppm floor division)."""
    # docs shorter than one window yield no windows: ANSI sequence()
    # errors on stop < start with a positive step, so gate it
    grid = F.when(
        F.length(F.col(text_col)) >= window_chars,
        F.sequence(
            F.lit(0),
            F.length(F.col(text_col)) - F.lit(window_chars),
            F.lit(stride),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # the window-digest pass md5-hashes every grid position of every
    # doc — spread a compact single-split input across the cluster
    # first (no-op at scale; the same guard as shingle_hashes)
    wins = ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("__id__"),
        F.explode(grid).alias("__p__"),
        F.col(text_col).alias("__t__"),
    ).select(
        "__id__",
        F.md5(
            F.expr(f"substring(__t__, __p__ + 1, {window_chars})")
        ).alias("__h__"),
    )
    pair = wins.groupBy("__id__", "__h__").agg(
        F.count(F.lit(1)).alias("__n_inst__")
    )
    span = pair.groupBy("__h__").agg(
        F.count(F.lit(1)).alias("__n_docs__")
    )
    per_doc = (
        pair.join(span, "__h__")
        .groupBy("__id__")
        .agg(
            F.sum("__n_inst__").alias("n_windows"),
            F.sum(
                F.when(F.col("__n_docs__") >= 2, F.col("__n_inst__")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup_windows"),
        )
    )
    return per_doc.select(
        F.col("__id__").alias(id_col),
        "n_windows",
        "n_dup_windows",
        F.expr("n_dup_windows * 1000000L div n_windows").alias("dup_ppm"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 10,
    pos_bound: int = 1 << 20,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-gram, slide a
    window of ``window`` consecutive hashes, and select the RIGHTMOST
    MINIMUM hash of each window. The selected (position, hash) set is
    the fingerprint; any substring match of length >= window + k - 1
    between two documents is guaranteed to share a selected hash.
    Density is 2/(window+1) — a tunable local-sampling dedup signature
    that, unlike stride grids, is robust to insertions shifting
    alignment.

    Both engines select via ONE integer key per position:
    key = h * pos_bound + (pos_bound - 1 - pos). Minimizing the key
    minimizes h and, on hash ties, maximizes pos (the rightmost-min
    rule) — no float, no unspecified argmin tie-break, bit-exact
    cross-engine. h is the first 8 md5 hex digits (< 2^32), so the key
    fits a long for any document shorter than ``pos_bound`` chars
    (1M — raise for book-length docs).

    Scale shape: k-gram hashing stays a narrow JVM array pipeline (the
    cheap 4% of the op, measured); the O(n·window) rightmost-min scan —
    which as an interpreted Catalyst HOF was ~97% of the runtime — runs
    as numpy sliding-window minima inside one Arrow pass (the
    shingle_hashes/dedup_span_stats pattern). Still no shuffle at all;
    the output explode emits ~2n/(window+1) fingerprint rows per doc
    for downstream digest-keyed matching (same join shape as
    dedup_span_stats)."""
    from pyspark.sql.functions import pandas_udf

    m = f"(length({text_col}) - {k} + 1)"
    keys = (
        f"transform(sequence(1, {m}), i -> "
        f"cast(conv(substring(md5(substring({text_col}, i, {k})), 1, 8),"
        f" 16, 10) as bigint) * {pos_bound}L + ({pos_bound}L - 1 - i))"
    )
    w = window

    @pandas_udf("array<bigint>")
    def win_min(key_arrays: pd.Series) -> pd.Series:
        import numpy as np

        sw_view = np.lib.stride_tricks.sliding_window_view
        empty = np.empty(0, dtype=np.int64)
        out = []
        for arr in key_arrays:
            a = np.asarray(arr, dtype=np.int64)
            # distinct per-window minima: identical value multiset to
            # the former array_distinct(transform(..., array_min(
            # slice(...)))) — np.unique sorts where array_distinct kept
            # first occurrence, but the explode consumes it as a set
            out.append(
                np.unique(sw_view(a, w).min(axis=1)) if a.size >= w else empty
            )
        return pd.Series(out)

    win_min = win_min.asNondeterministic()  # collapse barrier (see minhash_signatures)
    # a doc at or beyond pos_bound would wrap the inverted-position
    # term and silently corrupt rightmost-min ordering — fail loud.
    # The assert rides INSIDE the keys column (coalesce(NULL-on-pass,
    # keys)) so column pruning can never drop it
    # coalesce: NULL text has no windows (the when() gate yields the
    # empty array) and must not trip the assert — matching the SQL
    # oracle's WHERE length(text) >= k+window-1, which drops NULLs
    guard = F.assert_true(
        F.coalesce(F.length(F.col(text_col)) < pos_bound, F.lit(True)),
        F.lit(
            f"winnow_fingerprints: document length >= pos_bound "
            f"({pos_bound}); raise pos_bound"
        ),
    )
    # the per-position md5 keys are the compute-heavy narrow stage: a
    # compact parquet arrives as ~1 scan split and would hash on one
    # core (no-op at 100 TB where splits abound)
    guarded = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("__id__"),
        F.coalesce(
            guard.cast("array<bigint>"),
            F.when(
                F.length(F.col(text_col)) >= k + window - 1,
                F.expr(keys),
            ).otherwise(F.array().cast("array<bigint>")),
        ).alias("__keys__"),
    )
    out = guarded.select(
        "__id__",
        F.explode(win_min("__keys__")).alias("__key__"),
    )
    return out.select(
        F.col("__id__").alias(id_col),
        (F.lit(pos_bound - 1) - F.col("__key__") % F.lit(pos_bound)).alias(
            "pos"
        ),
        F.expr(f"__key__ div {pos_bound}L").alias("fp"),
    )


def decontaminate_winnow(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    eval_pred: Column,
    k: int = 5,
    window: int = 10,
    caches: CacheHandle | None = None,
) -> DataFrame:
    """Span-level train/eval decontamination via winnowing
    fingerprints: a training document is flagged when it shares ANY
    selected fingerprint with the ``eval_pred`` split — a verbatim
    overlap of >= window + k - 1 chars is guaranteed caught
    (winnow_fingerprints' coverage property), at ~2/(window+1) the
    fingerprint volume of a full n-gram decontamination pass. Returns
    (id_col, n_shared_fps) for the flagged training docs.

    Both splits read the same fingerprint table, so it is persisted —
    the md5-per-k-gram extraction runs once, not once per branch. Pass
    ``caches`` (a ``CacheHandle``) to release that cache
    deterministically after the terminal action (set_similarity_join's
    lifecycle contract).

    Scale shape: only fp digests shuffle; the eval fingerprint set is
    small by nature (held-out benchmarks vs the corpus) and
    broadcast-joins against the train side."""
    fps = winnow_fingerprints(docs, text_col, id_col, k=k, window=window)
    fps = fps.select(id_col, "fp").distinct().persist()
    if caches is not None:
        caches.register(fps)
    ev = fps.filter(eval_pred).select("fp").distinct()
    train = fps.filter(~eval_pred)
    return (
        train.join(F.broadcast(ev), "fp")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    set_col: str,
    tau_num: int = 1,
    tau_den: int = 2,
    caches: CacheHandle | None = None,
) -> DataFrame:
    """Exact set-similarity self-join (SSJoin/PPJoin prefix filtering,
    Chaudhuri et al. / Xiao et al.): all id pairs whose element sets
    have Jaccard >= tau_num/tau_den — with NO blocking assumption
    (unlike dedup_ngram_jaccard's first-token/length blocks, which
    assume near-dups share them). Completeness comes from the prefix
    theorem: order elements by global frequency (then value); a set of
    size n keeps its first n - ceil(tau*n) + 1 elements; two sets with
    Jaccard >= tau MUST share a prefix element. Property-tested
    against a brute-force join.

    Scale shape: element frequencies are one partial-agg pass;
    candidates come from equi-joining PREFIXES only (the rarest
    elements — hot elements sit at the back of every prefix order and
    never generate candidates); verification joins the two full sets
    and evaluates Jaccard with exact integer cross-multiplication
    (inter * tau_den >= tau_num * union — no float threshold).

    Cache lifecycle: the returned (lazy) plan reads a persisted
    ``sets`` intermediate three times (frequency pass, prefix pass,
    verify joins), so it cannot be unpersisted here. Pass ``caches``
    (a ``CacheHandle``) to release it deterministically after the
    terminal action; without one, Spark evicts it LRU under pressure
    or a blanket ``spark.catalog.clearCache()`` clears it.
    """
    sets = (
        # spread the cached sets across the cluster before persisting:
        # a single-split input (one compact parquet file) otherwise
        # pins BOTH cache-fed explode passes (frequency, prefix) to
        # one task — measured 2×1.5 s serial stages at sf0.1; no-op
        # at scale where the scan already has enough splits
        ensure_parallelism(
            df.select(
                F.col(id_col).alias("__id__"),
                F.array_distinct(F.col(set_col)).alias("__sh__"),
            )
        )
        .filter(F.size("__sh__") > 0)
        .persist()
    )
    if caches is not None:
        caches.register(sets)
    tok = sets.select(
        "__id__", F.size("__sh__").alias("__n__"), F.explode("__sh__").alias("__t__")
    )
    freq = tok.groupBy("__t__").agg(F.count(F.lit(1)).alias("__f__"))
    w = Window.partitionBy("__id__").orderBy("__f__", "__t__")
    ceil_tau_n = f"(({tau_num} * __n__ + {tau_den} - 1) div {tau_den})"
    prefix = (
        tok.join(freq, "__t__")
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.expr(f"__rn__ <= __n__ - {ceil_tau_n} + 1"))
        .select("__id__", "__n__", "__t__")
    )
    cand = (
        prefix.select(
            F.col("__id__").alias("__ida__"), F.col("__n__").alias("__na__"),
            "__t__",
        )
        .join(
            prefix.select(
                F.col("__id__").alias("__idb__"),
                F.col("__n__").alias("__nb__"), "__t__",
            ),
            "__t__",
        )
        .filter(F.col("__ida__") < F.col("__idb__"))
        # PPJoin length filter: J(a,b) <= min(|a|,|b|)/max(|a|,|b|), so
        # any pair failing min·tau_den >= max·tau_num can never pass
        # the exact verification below — row-local, prunes BEFORE the
        # candidate-dedup exchange and the two set-fetch joins
        # (measured: 431k -> 329k candidate rows at sf0.1, tau=1/2)
        .filter(
            F.least("__na__", "__nb__") * tau_den
            >= F.greatest("__na__", "__nb__") * tau_num
        )
        .select("__ida__", "__idb__")
        .distinct()
    )
    sa = sets.select(F.col("__id__").alias("__ida__"), F.col("__sh__").alias("__sha__"))
    sb = sets.select(F.col("__id__").alias("__idb__"), F.col("__sh__").alias("__shb__"))
    joined = cand.join(sa, "__ida__").join(sb, "__idb__")
    inter = F.size(F.array_intersect("__sha__", "__shb__"))
    union = F.size("__sha__") + F.size("__shb__") - inter
    return (
        joined.withColumn("__i__", inter)
        .withColumn("__u__", union)
        .filter(F.col("__i__") * tau_den >= tau_num * F.col("__u__"))
        .select(
            F.col("__ida__").alias("id_a"),
            F.col("__idb__").alias("id_b"),
            F.round(
                F.col("__i__").cast("double") / F.col("__u__"), 6
            ).alias("jaccard"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
    max_dist: int = 2,
    barrier: str = "persist",
    caches=None,
) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernandez & Stolfo): sort
    records by a blocking key and compare each record only against its
    next ``window`` neighbors in sort order, verifying with edit
    distance — the linear-scan alternative to q-gram candidate joins
    when a meaningful sort key exists (names, addresses, normalized
    titles).

    Scale shape: the global sort order comes from ranked_sort (range
    partition + offset arithmetic — never a single-partition window);
    the neighbor pairing is TWO equi-joins on rank buckets of width
    ``window`` (same bucket + adjacent bucket cover every pair within
    ``window`` ranks), so candidate generation is co-partitioned and
    linear, never a cross join; exact levenshtein verifies candidates
    in codegen."""
    from pippin_spark.operators.relational import ranked_sort

    keyed = df.select(F.col(id_col).alias("id"), F.col(key_col).alias("k"))
    # the ranked output is consumed TWICE (the a/bt self-join below) —
    # exactly the multi-consumer shape ranked_sort's contract warns
    # about; both consumers are same-shape projections (ReusedExchange-
    # stable, plan-gated) with the default barrier, and a caller at
    # corpus scale can pass barrier='table' for by-construction
    # stability instead
    ranked = ranked_sort(
        keyed, [F.col("k").asc(), F.col("id").asc()], rank_col="r",
        barrier=barrier, caches=caches,
    ).withColumn("b", F.expr(f"(r - 1) div {window}"))
    a = ranked.select(
        F.col("id").alias("id_a"), F.col("k").alias("k_a"),
        F.col("r").alias("r_a"), F.col("b").alias("b_a"),
    )
    bt = ranked.select(
        F.col("id").alias("id_b"), F.col("k").alias("k_b"),
        F.col("r").alias("r_b"), F.col("b").alias("b_b"),
    )
    near = (F.col("r_b") > F.col("r_a")) & (
        F.col("r_b") <= F.col("r_a") + window
    )
    same = a.join(bt, (F.col("b_b") == F.col("b_a")) & near)
    nxt = a.join(bt, (F.col("b_b") == F.col("b_a") + 1) & near)
    cand = same.unionByName(nxt)
    return (
        cand.withColumn("dist", F.levenshtein("k_a", "k_b"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def dedup_span_scrub(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_chars: int = 40,
    stride: int = 20,
) -> DataFrame:
    """Span-level scrubbing — the rewrite step of suffix-array
    substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"), on the same stride-grid window
    approximation as :func:`dedup_span_stats`: every fixed-width
    window whose exact text occurs in at least one OTHER document is
    excised from the document, overlapping/touching excisions are
    merged into maximal intervals, and the surviving segments are
    re-concatenated. Returns ``(id, text, n_removed_chars)`` for every
    input document (documents with no cross-doc span keep their text
    verbatim with ``n_removed_chars = 0``).

    This is the op `dedup_span_stats` only *signals*: stats triage a
    corpus; scrub produces the training corpus itself. Parity of the
    rewritten text is exact (full-string oracle, no digests in the
    output).

    Scale shape mirrors span_stats — window extraction is a narrow
    explode; the first shuffle carries one row per distinct
    (doc, span-digest) md5 digest, never raw spans; cross-doc counting
    and the flag join-back are digest-keyed. The interval merge is a
    per-document window (partitioned by doc id — each document's
    duplicated-window list is grid-bounded at len/stride rows), and
    the rebuild joins ONE interval-array row per affected doc back to
    the corpus, then re-concatenates with a bound-once fold over that
    (small) array — no per-character work crosses an exchange, and
    unaffected documents never enter the interval pipeline (they
    arrive via the left join).

    Reference behavior modeled: the ExactSubstr dedup pass of Lee et
    al. 2022 (arXiv:2107.06499) §4.1 — not a reference-repo operator;
    engine extension for LLM curation parity.
    """
    grid = F.when(
        F.length(F.col(text_col)) >= window_chars,
        F.sequence(
            F.lit(0),
            F.length(F.col(text_col)) - F.lit(window_chars),
            F.lit(stride),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # the window-digest pass md5-hashes every grid position of every
    # doc — spread a compact single-split input across the cluster
    # first (no-op at scale; the same guard as shingle_hashes)
    wins = ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("__id__"),
        F.explode(grid).alias("__p__"),
        F.col(text_col).alias("__t__"),
    ).select(
        "__id__",
        "__p__",
        F.md5(
            F.expr(f"substring(__t__, __p__ + 1, {window_chars})")
        ).alias("__h__"),
    )
    # digest-level cross-doc flag: span text in >= 2 distinct docs
    dup_h = (
        wins.select("__id__", "__h__")
        .distinct()
        .groupBy("__h__")
        .agg(F.count(F.lit(1)).alias("__n_docs__"))
        .filter(F.col("__n_docs__") >= 2)
        .select("__h__")
    )
    ivals = wins.join(dup_h, "__h__").select(
        "__id__",
        F.col("__p__").alias("__s__"),
        (F.col("__p__") + F.lit(window_chars)).alias("__e__"),
    )
    # gaps-and-islands merge of overlapping/touching intervals per doc
    w_prev = (
        Window.partitionBy("__id__")
        .orderBy("__s__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("__id__")
        .orderBy("__s__")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = (
        ivals.withColumn("__pe__", F.max("__e__").over(w_prev))
        .withColumn(
            "__new__",
            F.when(
                F.col("__pe__").isNull() | (F.col("__s__") > F.col("__pe__")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("__isl__", F.sum("__new__").over(w_run))
        .groupBy("__id__", "__isl__")
        .agg(F.min("__s__").alias("__s__"), F.max("__e__").alias("__e__"))
    )
    per_doc = merged.groupBy("__id__").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__s__"), F.col("__e__")))
        ).alias("__iv__"),
        F.sum(F.col("__e__") - F.col("__s__")).alias("__rm__"),
    )
    out = df.select(
        F.col(id_col).alias("__id__"), F.col(text_col).alias("__t__")
    ).join(per_doc, "__id__", "left")
    # bound-once fold: walk the sorted merged intervals, emitting the
    # kept segment before each and the tail after the last
    rebuild = F.expr(
        "aggregate(__iv__, "
        "named_struct('pos', 0, 'acc', ''), "
        "(st, x) -> named_struct("
        "  'pos', x.__e__, "
        "  'acc', concat(st.acc, substring(__t__, st.pos + 1, x.__s__ - st.pos))), "
        "st -> concat(st.acc, substring(__t__, st.pos + 1, length(__t__) - st.pos)))"
    )
    return out.select(
        F.col("__id__").alias(id_col),
        F.when(F.col("__iv__").isNull(), F.col("__t__"))
        .otherwise(rebuild)
        .alias(text_col),
        F.coalesce(F.col("__rm__"), F.lit(0)).cast("long").alias(
            "n_removed_chars"
        ),
    )

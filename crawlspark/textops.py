"""Training-data pipeline operators over document/embedding tables.

The operators a 100 TB web-text corpus pipeline needs beyond the
reference's crawl surface (task brief: dedup, similarity search, text
analysis) — each expressed with built-in Column functions (JVM-side,
codegen) and each designed to be DuckDB-oracle-checkable: hashing uses
md5 (identical hex in Spark and DuckDB), float outputs are rounded,
tokenization is plain whitespace-split so both engines agree byte-wise.

Document operators read the catalog ``documents`` columns (``doc_id``,
``text``, ``source``); embedding operators read the ``embeddings``
columns (``vec_id``, ``embedding``).

Scale notes per op are inline; the common theme: shingle/token
explosion happens once, aggregates are partial+final (map-side
combine), self-joins go through equality on band/bucket keys (hash
shuffle, never cartesian), and candidate verification is bounded by
bucket size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .session import cache_scope, cached

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
def tokens_expr(text: Column) -> Column:
    """Whitespace tokens of lower(text); [] for empty/null."""
    t = F.trim(F.lower(F.coalesce(text, F.lit(""))))
    return F.when(t == "", F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))


def token_count(text: Column) -> Column:
    return F.size(tokens_expr(text))


# GPT-2-style pre-tokenizer classes, RE2-safe (no lookahead so the
# same pattern runs verbatim in Spark's Java regex and DuckDB's RE2):
# contraction suffixes | space?+letters | space?+digits |
# space?+other-runs | whitespace runs
BPE_TOKEN_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def _hash60(x: Column) -> Column:
    """The oracle-replayable hash: the first 15 hex digits (60 bits) of
    md5(x) as a long — inside a signed 64-bit lane in both engines
    (DuckDB: ('0x' || substr(md5(x), 1, 15))::UBIGINT)."""
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")


def _token_chunks(text: Column, size: int) -> Column:
    """Whitespace tokens re-chunked into fixed-size space-joined
    pseudo-lines (the last may be shorter); [] for empty/null text.
    Deterministic, so an oracle replays the identical chunk set."""
    toks = tokens_expr(text)
    n = F.size(toks)
    nchunks = F.ceil(n / F.lit(size)).cast("int")
    return F.when(n > 0, F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * size + 1, size)))) \
        .otherwise(F.array().cast("array<string>"))


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count (task brief): the GPT-2 pre-tokenization
    regex classes counted JVM-side with regexp_count — the cheap
    train-data cost estimator ('how many tokens is this corpus')
    without a vocab; whitespace token_count is the linguistic count."""
    return F.regexp_count(F.coalesce(text, F.lit("")),
                          F.lit(BPE_TOKEN_PATTERN))


_VI_CHARS = ("àáảãạăằắẳẵặâầấẩẫậèéẻẽẹêềếểễệìíỉĩị"
             "òóỏõọôồốổỗộơờớởỡợùúủũụưừứửữựỳýỷỹỵđ")

# ascii target per _VI_CHARS position: 17×a, 11×e, 5×i, 17×o, 11×u, 5×y, d
_VI_FOLDED = "a" * 17 + "e" * 11 + "i" * 5 + "o" * 17 + "u" * 11 + "y" * 5 + "d"
assert len(_VI_CHARS) == len(_VI_FOLDED)


def fold_ascii(text: Column) -> Column:
    """asciifolding for the Vietnamese diacritic set — one built-in
    translate, no UDF. Apply after lower() (the table carries lowercase
    forms; Unicode lowercasing maps Ỹ->ỹ etc. first)."""
    return F.translate(text, _VI_CHARS, _VI_FOLDED)


def norm_text(text: Column) -> Column:
    """The reference's ES ``vietnamese_analyzer`` normalization
    (indexer/elasticsearch.go:163-170: custom analyzer = standard
    tokenizer + [lowercase, asciifolding]) as a column: every full-text
    field (title/company/description/...) gets a ``*_norm`` sibling so
    'ky su' matches 'Kỹ Sư' — the reference's search surface (Q4)."""
    return fold_ascii(F.lower(F.coalesce(text, F.lit(""))))


def vi_char_count(text: Column) -> Column:
    """Count of Vietnamese-diacritic characters (langid signal)."""
    t = F.lower(F.coalesce(text, F.lit("")))
    return F.length(t) - F.length(F.regexp_replace(t, f"[{_VI_CHARS}]", ""))


def lang_id(text: Column) -> Column:
    """n-gram-free heuristic language ID: diacritic density => vi,
    else en. (The corpus is vi/en; extend the char tables per language
    to generalize.)"""
    density = vi_char_count(text) / F.greatest(F.length(F.coalesce(text, F.lit(""))), F.lit(1))
    return F.when(density >= 0.02, F.lit("vi")).otherwise(F.lit("en"))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length band, mean word length
    band, punctuation ratio, uppercase ratio. All integer-count based
    (ratios rounded at the end) so the SQL oracle matches exactly."""
    t = F.coalesce(text, F.lit(""))
    n_chars = F.length(t)
    n_tok = token_count(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, "[A-Z]", ""))
    len_ok = F.when((n_chars >= 80) & (n_chars <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    mean_w = n_chars / F.greatest(n_tok, F.lit(1))
    meanw_ok = F.when((mean_w >= 3.0) & (mean_w <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(n_punct / F.greatest(n_chars, F.lit(1)) <= 0.1, F.lit(1.0)).otherwise(F.lit(0.0))
    upper_ok = F.when(n_upper / F.greatest(n_chars, F.lit(1)) <= 0.3, F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_ok + meanw_ok + punct_ok + upper_ok) / 4.0, 4)


# ---------------------------------------------------------------------------
# Shingles / fingerprints
# ---------------------------------------------------------------------------
def ngrams_all(text: Column, n: int) -> Column:
    """Word n-grams WITH repeats (space-joined), [] when fewer than n
    tokens — the counting form repetition metrics need.

    The short-doc case must be CASE-gated, not clamped: sequence(1, 0)
    is a DESCENDING [1, 0] in Spark, and slice(_, 0, n) throws — a
    1-token doc crashed the un-gated round-1 form (latent until round
    4's repetition metrics hit it; the fixtures have no short docs)."""
    toks = tokens_expr(text)
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), cnt - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return (F.when(cnt >= n, grams)
            .otherwise(F.array().cast("array<string>")))


def word_shingles(text: Column, n: int = 2) -> Column:
    """Distinct word n-grams (space-joined), [] when fewer than n
    tokens — the set form dedup/decontamination need."""
    return F.array_distinct(ngrams_all(text, n))


def doc_fingerprint(text: Column) -> Column:
    """Rolling-hash document fingerprint: min over character 8-grams of
    md5 (a 1-hash winnowing; collision-robust dedup key for near-exact
    clones differing in whitespace tails). Built-in only."""
    t = F.coalesce(text, F.lit(""))
    n = F.greatest(F.length(t) - 7, F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), n), lambda i: F.md5(F.substring(t, i, 8)))
    return F.array_min(grams)


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------
def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Exact-hash dedup: md5 groups with >1 member -> (hash, n_dups,
    keep = min key). One hash-aggregate."""
    return (df.select(F.md5(F.col("text")).alias("text_hash"),
                      F.col("doc_id"))
            .groupBy("text_hash")
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("keep_id"))
            .filter(F.col("n_dups") > 1))


def minhash_signature(df: DataFrame, num_perm: int = 8) -> DataFrame:
    """MinHash signatures over word bigrams via lexicographic MIN over
    md5('<i>:'||shingle) — md5 is a uniform hash, so per-permutation
    lexicographic min is a valid min-wise scheme, and it is exactly
    reproducible in SQL.

    One explode + one grouped aggregate with num_perm partial mins
    (map-side combined). Measured anti-results, kept for the record:
    an array_min(transform(...)) zero-shuffle variant is slower even
    with the shingle array STAGED against re-inlining (r6, sf0.1,
    local[32]: 6.4 s vs 1.1 s warm) — higher-order-function lambdas
    evaluate interpreted, so the per-element md5 loses whole-stage
    codegen, which outweighs saving the Exchange + SortAggregate pair
    (min over STRING buffers cannot hash-aggregate). When the result
    feeds a self-join, callers persist it rather than re-deriving it
    per branch (minhash_lsh_pairs)."""
    sh = df.select(F.col("doc_id"), F.explode(
        word_shingles(F.col("text"))).alias("s"))
    aggs = [F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"mh{i}")
            for i in range(num_perm)]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(df: DataFrame) -> DataFrame:
    """MinHash+LSH near-dup pairs: 8 permutations in 4 bands of 2 rows
    -> band-equality join -> exact bigram Jaccard verification of
    candidates only, keeping Jaccard >= 0.5.

    Scale: the band join is an equi hash join on (band, band_val);
    candidate count ~ true-dup count + banding false positives.

    Verify-form MEASUREMENT (round 4, sf0.1, 5k docs, 256 pairs,
    local[32], warm best-of-3): the array verify (ngram_jaccard —
    cand auto-broadcast into two map-side joins against the per-doc
    shingle-array frames, array_intersect on candidates only) runs
    3.0 s end-to-end; the count-based inverted-index verify
    (ngram_jaccard_for_pairs) runs 7.2 s un-hinted and 22 s with j1
    force-broadcast; a pairs-semi-join variant referencing the cand
    pipeline 3x ran 15 s (each reference recomputes the band join).
    The 9x count-form win on ngram_jaccard_all_pairs does NOT carry
    over: there the pair set is Sigma df^2 (~73M rows) and arrays
    through the join dominate; here the pair set is tiny, arrays
    never shuffle (broadcast joins), and the count form's full-corpus
    (id, s) shuffle is pure overhead. Crossover: when the candidate
    set is too large to broadcast, switch the verify to
    ngram_jaccard_for_pairs."""
    bands, rows_per_band = 4, 2
    # persisted: the band self-join references the signature frame on
    # BOTH sides — unpersisted, each side re-runs the whole shingle
    # explode + grouped-min pipeline (and pays its Janino compile
    # twice cold). The frame is (key, 8 hashes) — tiny relative to the
    # corpus at any scale. It and cand below stay cached for the
    # consumer's action; the caller's cache_scope releases both.
    sig = cached(minhash_signature(df))
    band_structs = [
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("|", *[F.col(f"mh{b * rows_per_band + r}")
                                    for r in range(rows_per_band)]).alias("val"))
        for b in range(bands)
    ]
    banded = (sig.select(F.col("doc_id"),
                         F.explode(F.array(*band_structs)).alias("bv"))
              .select("doc_id", "bv.band", "bv.val"))
    a, b = banded.alias("a"), banded.alias("b")
    # persisted: the verify references the candidate frame 3x (two id
    # prunes + the pair join), and every UNcached reference would
    # re-run the whole band join (the measured r4 3-reference
    # anti-result). The frame is broadcast-sized by this operator's
    # contract, so the cache is tiny.
    cand = cached(a.join(b, (F.col("a.band") == F.col("b.band"))
                         & (F.col("a.val") == F.col("b.val"))
                         & (F.col("a.doc_id") < F.col("b.doc_id")))
                  .select(F.col("a.doc_id").alias("id_a"),
                          F.col("b.doc_id").alias("id_b"))
                  .distinct())
    # r5 scale fix: shingle ONLY candidate members. The previous form
    # shingled the ENTIRE corpus on both verify sides — O(corpus)
    # array construction for an O(candidates) answer; at 100 TB the
    # non-candidate 99.99% of documents would be tokenized twice for
    # nothing. The id prune is a broadcast semi-join off the cached
    # candidate frame. (Measured at sf0.1: full pipeline 2.9 -> 1.8 s
    # warm; the win grows linearly with corpus/candidate ratio.)
    ids = (cand.select(F.col("id_a").alias("doc_id"))
           .union(cand.select(F.col("id_b").alias("doc_id")))
           .distinct())
    cand_docs = df.join(F.broadcast(ids), "doc_id")
    jac = ngram_jaccard(cand_docs, cand)
    return jac.filter(F.col("jaccard") >= 0.5)


def ngram_jaccard_for_pairs(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact word-bigram Jaccard restricted to a candidate pair set,
    COUNT-based: same inverted-index form as ngram_jaccard_all_pairs
    (measured 9x faster than the array_intersect verify, BENCH.md),
    but the exploded shingle frame is first semi-joined against the
    candidate doc ids, so the self-join's Sigma df^2 cost is bounded
    by the candidate population, and the grouped counts are inner-
    joined back to `pairs` so only candidates survive. No shingle
    ARRAYS ever join or shuffle.

    `pairs` is consumed EXACTLY ONCE (one broadcast): when the pair
    set is itself an expensive pipeline (the LSH band join), every
    additional reference would recompute it — a first cut of this
    function referenced it three times and measured 3x SLOWER than
    the array verify it replaced. Per-doc shingle counts ride along
    on the exploded rows (first() under the pair groupBy), so no
    separate size join is needed either.

    WHEN TO USE: only when the pair set is too large to broadcast
    (then the array form's candidate join becomes a shuffle of full
    shingle arrays). For broadcast-sized candidate sets the array
    verify measured 2.4x FASTER (see minhash_lsh_pairs docstring) —
    the full-corpus (id, s) shuffle here is pure overhead at small
    pair counts.

    Pairs with ZERO shingle intersection produce no row (the array
    twin emits jaccard=0.0 for them) — callers filter on a positive
    threshold, so the sets agree wherever jaccard > 0."""
    sh = (df.select(F.col("doc_id"),
                    word_shingles(F.col("text")).alias("_sh"))
          .select(F.col("doc_id"), F.size("_sh").alias("_n"),
                  F.explode("_sh").alias("s")))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("_n").alias("_na"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("_n").alias("_nb"), "s")
    j1 = F.broadcast(pairs).join(a, "id_a")
    inter = (j1.join(b, ["id_b", "s"])
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("_i"),
                  F.first("_na").alias("_na"), F.first("_nb").alias("_nb")))
    jac = F.round(F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i")), 4)
    return inter.select("id_a", "id_b", jac.alias("jaccard"))


def ngram_jaccard(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact word-bigram Jaccard for given (id_a, id_b) pairs of
    ``docs`` — array form: the verify step minhash_lsh_pairs runs on
    broadcast-sized candidate sets. ngram_jaccard_for_pairs (count
    form) is the fallback for pair sets too large to broadcast; nothing
    calls it yet."""
    sh = (docs.select(F.col("doc_id").alias("_id"),
                      word_shingles(F.col("text"), 2).alias("_sh"))
          .withColumn("_n", F.size("_sh")))
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"),
                  F.col("_n").alias("n_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"),
                  F.col("_n").alias("n_b"))
    # r6: pin the pair frame as the broadcast side EXPLICITLY. It is
    # broadcast-sized by the caller's contract, but it arrives as an
    # InMemoryRelation whose size estimate is unknown at plan time, so
    # the planner fell back to SortMergeJoin — AQE converted it back
    # at runtime, but only after paying both shuffle writes. The hint
    # removes the exchanges from the plan outright (guide §3.1: use an
    # explicit broadcast when you know a side is small).
    # Both verify sides are candidate-bounded (the id-prune upstream),
    # so the b side is safely broadcast too — one streamed pass over a.
    j = F.broadcast(pairs).join(a, "id_a").join(F.broadcast(b), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("n_a") + F.col("n_b") - inter
    return j.select(
        "id_a", "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"))


def ngram_jaccard_all_pairs(df: DataFrame,
                            threshold: float = 0.5) -> DataFrame:
    """Exact word-bigram Jaccard >= threshold pairs, COUNT-based: |A∩B|
    comes straight off the inverted-index self-join as a map-side-combined
    ``groupBy(pair).count()`` (shingles are distinct per doc), then two
    tiny per-doc-size joins give |A∪B| = n_a + n_b - inter. No shingle
    ARRAYS ever join or shuffle — the round-3 profile showed the
    array_intersect verify dominating (54 s at sf0.1; this form: ~7 s),
    and a ppjoin prefix filter measured SLOWER here because its
    df-ranking windows cost more than the candidates they prune.

    The join's intrinsic output is Σ_s df(s)² rows — exact all-pairs
    Jaccard is inherently quadratic in hot shingles; at web scale use
    minhash_lsh_pairs, which bounds candidates by banding."""
    sh = df.select(F.col("doc_id"), F.explode(
        word_shingles(F.col("text"))).alias("s"))
    # |A| straight off the shingle array — no second explode + shuffle
    counts = (df.select(F.col("doc_id"),
                        F.size(word_shingles(F.col("text")))
                        .alias("_n"))
              .filter(F.col("_n") > 0))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("_i")))
    na = counts.select(F.col("doc_id").alias("id_a"), F.col("_n").alias("_na"))
    nb = counts.select(F.col("doc_id").alias("id_b"), F.col("_n").alias("_nb"))
    jac = F.round(F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i")), 4)
    return (inter.join(F.broadcast(na), "id_a").join(F.broadcast(nb), "id_b")
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------
def cosine_sim(vec: Column, query: list[float]) -> Column:
    """Cosine similarity against a constant query vector — built-in
    zip_with/aggregate, fully codegen'd, no UDF."""
    q = F.lit(query).cast("array<double>")
    v = vec.cast("array<double>")
    dot = F.aggregate(F.zip_with(v, q, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nq = float(sum(x * x for x in query)) ** 0.5
    return dot / (nv * F.lit(nq))


def brute_force_topk(df: DataFrame, query: list[float],
                     k: int = 10) -> DataFrame:
    """Exact top-k vec_id by cosine of embedding — the ANN baseline.
    orderBy+limit compiles to TakeOrderedAndProject (per-partition heaps
    + driver merge of k rows), not a global sort."""
    return (df.select(F.col("vec_id"),
                      F.round(cosine_sim(F.col("embedding"), query), 6).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(k))


def _hyperplanes(dim: int, n_planes: int):
    """Deterministic pseudo-random hyperplanes from splitmix64 seeded
    with 42 — no RNG state, reproducible across any parallelism."""
    import numpy as np

    idx = np.arange(dim * n_planes, dtype=np.uint64)
    mix = (42 * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = (idx + np.uint64(mix)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = x
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = z ^ (z >> np.uint64(31))
    u = z.astype(np.float64) / float(2**64)
    return (u.reshape(n_planes, dim) * 2.0 - 1.0)


def lsh_bucket(vec: Column, dim: int, n_planes: int = 12) -> Column:
    """Random-hyperplane (SimHash-for-vectors) bucket id: sign bits of
    n_planes dot products packed into a long. Same-bucket vectors are
    cosine-close with high probability."""
    planes = _hyperplanes(dim, n_planes)
    v = vec.cast("array<double>")
    bit_terms = []
    for p in range(n_planes):
        q = F.lit([float(x) for x in planes[p]]).cast("array<double>")
        dot = F.aggregate(F.zip_with(v, q, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        bit_terms.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out.cast("long")


def probe_buckets(query: list[float], n_planes: int = 12,
                  probe_hamming: int = 1) -> list[int]:
    """Multi-probe bucket set for a query: its own bucket plus every
    bucket within probe_hamming sign flips."""
    import itertools

    dim = len(query)
    planes = _hyperplanes(dim, n_planes)
    qsig = 0
    for p in range(n_planes):
        if float(sum(planes[p][i] * query[i] for i in range(dim))) >= 0:
            qsig |= 1 << p
    probes = {qsig}
    for r in range(1, probe_hamming + 1):
        for flips in itertools.combinations(range(n_planes), r):
            s = qsig
            for f in flips:
                s ^= 1 << f
            probes.add(s)
    return sorted(int(x) for x in probes)


def ann_topk_lsh(df: DataFrame, query: list[float], n_planes: int = 12,
                 probe_hamming: int = 1) -> DataFrame:
    """Approximate top-10 over an UN-indexed frame: buckets computed on
    the fly, so the probe filter still scans the corpus — the bounded
    one-shot path. The scale path is build_ann_index +
    ann_topk_lsh_indexed, where the same probe prunes at the storage
    layer (partition pruning) and reads ~(1+n_planes)/2^n_planes of
    the files."""
    probes = probe_buckets(query, n_planes, probe_hamming)
    bucketed = df.withColumn(
        "_bucket", lsh_bucket(F.col("embedding"), len(query), n_planes))
    cand = bucketed.filter(F.col("_bucket").isin(probes))
    return brute_force_topk(cand, query)


def cosine_pair_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two vector columns — built-in zip_with /
    aggregate, codegen, no UDF."""
    va, vb = a.cast("array<double>"), b.cast("array<double>")
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(va, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(vb, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def _embedding_dim(df: DataFrame) -> int:
    """The length of the first vector; an empty frame (or a null first
    vector) has no dimension to infer, so it fails loudly instead of
    with a TypeError on a None subscript."""
    head = df.select("embedding").first()
    if head is None or head["embedding"] is None:
        raise ValueError("cannot infer the embedding dim from an empty "
                         "DataFrame")
    return len(head["embedding"])


def embedding_near_dups(df: DataFrame, threshold: float = 0.9,
                        n_planes: int = 8, exact: bool = False,
                        dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= τ).

    Scale path (default): candidates = same-LSH-bucket pairs (equi
    join on the hyperplane bucket — never cartesian), exact cosine
    verify bounded to candidates; recall < 1 by construction (raise
    n_planes probes or lower n_planes for more recall).
    exact=True: full pair join for bounded corpora / oracle checks.
    """
    if exact:
        a = df.select(F.col("vec_id").alias("id_a"),
                      F.col("embedding").alias("va"))
        b = df.select(F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            dim = _embedding_dim(df)
        bucketed = df.withColumn(
            "_b", lsh_bucket(F.col("embedding"), dim, n_planes))
        a = bucketed.select(F.col("vec_id").alias("id_a"),
                            F.col("embedding").alias("va"), "_b")
        b = bucketed.select(F.col("vec_id").alias("id_b"),
                            F.col("embedding").alias("vb"), "_b")
        pairs = a.join(b, "_b").filter(F.col("id_a") < F.col("id_b"))
    cos = F.round(cosine_pair_sim(F.col("va"), F.col("vb")), 6)
    return (pairs.select("id_a", "id_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def build_ann_index(df: DataFrame, path: str, dim: int,
                    n_planes: int = 12) -> None:
    """Materialize the LSH index: embeddings written PARTITIONED BY
    bucket. A query then reads only its probe buckets' directories
    (Catalyst partition pruning — pinned in tests/test_plans.py); at
    10^10 vectors with 12 planes a 1-hamming probe touches 13/4096 of
    storage instead of scanning everything."""
    (df.withColumn("_bucket", lsh_bucket(F.col("embedding"), dim, n_planes))
     .write.mode("overwrite").partitionBy("_bucket").parquet(path))


def ann_topk_lsh_indexed(spark, path: str, query: list[float], k: int = 10,
                         n_planes: int = 12,
                         probe_hamming: int = 1) -> DataFrame:
    """Approximate top-k against a build_ann_index directory: the
    bucket filter is a partition-column predicate, so only the probe
    buckets' files are read."""
    probes = probe_buckets(query, n_planes, probe_hamming)
    cand = spark.read.parquet(path).filter(F.col("_bucket").isin(probes))
    return brute_force_topk(cand, query, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the k-means-quantizer scale path
# ---------------------------------------------------------------------------
def _l2_normalize(vec: Column) -> Column:
    """x / ||x||2 as a Column expr (zero vectors pass through)."""
    v = vec.cast("array<double>")
    n = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                           F.lit(0.0), lambda acc, x: acc + x))
    return F.transform(v, lambda x: x / F.when(n > 0, n).otherwise(F.lit(1.0)))


def _kmeans_fit(X, k: int, iters: int = 10):
    """Deterministic Lloyd k-means on a numpy sample (the quantizer
    TRAINING step — FAISS-style IVF trains on a bounded sample
    driver-side; only the assignment pass is distributed)."""
    import numpy as np

    rng = np.random.default_rng(42)
    idx = rng.permutation(len(X))[:k]
    C = X[idx].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(k):
            m = a == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def build_ivf_index(df: DataFrame, path: str, n_centroids: int = 64,
                    max_iter: int = 10) -> None:
    """Materialize an IVF index: a k-means coarse quantizer assigns
    every vector to its nearest centroid and the vectors are written
    PARTITIONED BY centroid id; the centroid table (tiny: n_centroids
    rows) sits beside it. A query then reads only its nprobe nearest
    centroids' directories (Catalyst partition pruning — the same
    storage-layer contract as the LSH index). At 10^9 vectors / 4096
    centroids an nprobe=64 probe touches ~1.6% of storage.

    Build shape (the scale-standard IVF recipe): the quantizer TRAINS
    on a bounded deterministic sample driver-side (numpy Lloyd — a
    Spark ML fit paid ~13 s of job overhead for the same tiny k x dim
    problem), then ONE distributed vectorized pandas-UDF pass assigns
    the full corpus. Vectors are L2-NORMALIZED for clustering and
    assignment: the final ranking is cosine, and on the unit sphere
    ||a-b||^2 = 2 - 2cos(a,b) — L2 cells ARE cosine cells (raw
    magnitudes would exile v = 100q from q's cell).

    Complements the hyperplane-LSH index: IVF adapts its cells to the
    data distribution, LSH needs no training; both share the
    probe-then-exact-rerank shape."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    unit = _l2_normalize(F.col("embedding"))
    sample = (df.select(unit.alias("_u"))
              .orderBy(F.col("vec_id")).limit(100_000).toPandas())
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in sample["_u"]])
    C = _kmeans_fit(X, n_centroids, iters=max_iter)

    @pandas_udf("int")
    def nearest(vs: pd.Series) -> pd.Series:
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        if len(V) == 0:
            return pd.Series([], dtype="int32")
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1), dtype="int32")

    assigned = df.withColumn("_centroid", nearest(unit))
    assigned.write.mode("overwrite").partitionBy("_centroid").parquet(path)
    centers = [(int(i), [float(x) for x in c]) for i, c in enumerate(C)]
    spark = df.sparkSession
    (spark.createDataFrame(centers, "centroid_id int, center array<double>")
     .coalesce(1).write.mode("overwrite").parquet(path + "_centroids"))


def ann_topk_ivf(spark, path: str, query: list[float],
                 nprobe: int = 4) -> DataFrame:
    """Approximate top-10 against a build_ivf_index directory: rank
    centroids by distance to the query DRIVER-side (n_centroids rows —
    never a Spark job over the corpus), read only the nprobe nearest
    cells via the partition-column predicate, exact-cosine rerank.
    nprobe = n_centroids degrades gracefully to exact brute force."""
    import numpy as np

    centers = spark.read.parquet(path + "_centroids").collect()
    q = np.asarray(query, dtype=np.float64)
    q = q / (np.linalg.norm(q) or 1.0)  # centroids live on the unit sphere
    ranked = sorted(centers,
                    key=lambda r: float(np.linalg.norm(np.asarray(r["center"]) - q)))
    probes = [int(r["centroid_id"]) for r in ranked[:nprobe]]
    cand = spark.read.parquet(path).filter(F.col("_centroid").isin(probes))
    return brute_force_topk(cand, query)


# ---------------------------------------------------------------------------
# Corpus-hygiene operators (round 4): repetition, decontamination, PII
# ---------------------------------------------------------------------------
def _top_gram_frac(grams: Column) -> Column:
    """Fraction of all n-grams taken by the single most frequent one,
    per ROW: sort the gram array, fold for the longest run of equal
    adjacent elements. No explode, no shuffle, no join."""
    s = F.array_sort(grams)
    m = F.size(s)
    run = lambda acc, g: (F.when(g == acc["prev"], acc["run"] + 1)
                          .otherwise(F.lit(1).cast("long")))
    best = F.aggregate(
        s,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).cast("long").alias("run"),
                 F.lit(0).cast("long").alias("best")),
        lambda acc, g: F.struct(g.alias("prev"), run(acc, g).alias("run"),
                                F.greatest(acc["best"], run(acc, g))
                                .alias("best")),
        lambda acc: acc["best"])
    return F.when(m > 0, F.round(best / m, 4)).otherwise(F.lit(0.0))


def repetition_metrics(df: DataFrame,
                       include_trigram: bool = True) -> DataFrame:
    """Gopher/RefinedWeb-style repetition signals per document:

      n_words        whitespace token count
      distinct_ratio distinct words / words (1.0 = no repeats)
      top_bigram_frac / top_trigram_frac
                     fraction of all n-grams taken by the single most
                     frequent n-gram — the classic boilerplate /
                     degenerate-generation detector

    Shape (r5): every metric is per-document, so the whole operator is
    ONE zero-shuffle projection — gram arrays sorted per row, the top
    gram found as the longest equal-adjacent run (_top_gram_frac).
    The round-4 form exploded each n-gram order and paid a
    (doc, gram) shuffle + grouped aggregate + join-back PER ORDER,
    moving every token across the wire three times for what one
    map-side pass computes; measured 2.4 -> 1.1 s warm at sf0.1 and
    the cold Janino bill of three aggregate stages is gone. Trade-off,
    stated: one pathological row (a single 100M-token doc) now sorts
    in one task where the grouped form spread its grams — web corpora
    are page-size-bounded upstream, and the grouped form remains in
    git history if an unbounded-doc source ever needs it. Docs with no
    qualifying n-grams get 0.0 (not null) so downstream filters stay
    total. Oracle (queries.SQL_DOC_REPETITION) unchanged — the DuckDB
    replay still counts via unnest, pinning both shapes equal."""
    # STAGE the token/gram arrays as named columns: expression trees
    # get no CSE across references (measured round 3: an unstaged form
    # re-tokenized per reference, 8x), and SPARK-36718 keeps a
    # multi-referenced non-cheap alias staged instead of re-inlining
    def grams_of(n):
        cnt = F.size(F.col("_toks"))
        g = F.transform(F.sequence(F.lit(1), cnt - (n - 1)),
                        lambda i: F.concat_ws(" ",
                                              F.slice(F.col("_toks"), i, n)))
        return F.when(cnt >= n, g).otherwise(F.array().cast("array<string>"))

    staged = df.select(F.col("doc_id"), tokens_expr(F.col("text"))
                       .alias("_toks"))
    mids = [F.col("doc_id"), F.col("_toks"), grams_of(2).alias("_w2")]
    if include_trigram:
        mids.append(grams_of(3).alias("_w3"))
    staged = staged.select(*mids)
    nw = F.size(F.col("_toks"))
    cols = [
        F.col("doc_id"),
        nw.cast("long").alias("n_words"),
        F.when(nw > 0, F.round(F.size(F.array_distinct("_toks")) / nw, 4))
        .otherwise(F.lit(0.0)).alias("distinct_ratio"),
        _top_gram_frac(F.col("_w2")).alias("top_bigram_frac")]
    # callers that only gate on bigrams (corpus_filter) skip the
    # trigram column entirely
    if include_trigram:
        cols.append(_top_gram_frac(F.col("_w3")).alias("top_trigram_frac"))
    return staged.select(*cols)


# decontaminate's size gate: an eval side with more tokens than this
# (2M n-grams ~ a few hundred MB of strings) is shuffle-joined, not
# broadcast
EVAL_BROADCAST_LIMIT_TOKENS = 2_000_000


def decontaminate(df: DataFrame, eval_df: DataFrame) -> DataFrame:
    """Train/test decontamination: flag documents sharing >=1 distinct
    word 8-gram (the common eval-overlap window) with any document of
    the held-out eval set.

    Shape: distinct n-grams per side (word_shingles is distinct),
    exploded; when the eval side is benchmark-sized (the normal case)
    it broadcasts into the semi-ish inner join, so the corpus side
    never shuffles; per-doc overlap count is one grouped aggregate.

    SIZE GATE (round-4 verdict: the unconditional broadcast was the
    last one in the pipeline): the eval side's n-gram count is bounded
    by its token count, measured with one cheap narrow scan of eval
    texts (no shuffle, no explode). Above EVAL_BROADCAST_LIMIT_TOKENS
    (past any sane driver/executor broadcast budget) the join falls
    back to a shuffle-hash join on the n-gram key: both sides
    exchange, which is exactly the right trade once the eval set is
    itself corpus-sized.

    Returns every corpus doc: (key, n_overlap, contaminated). Eval
    docs present in df flag themselves (full self-overlap) — that is
    the right answer for 'is this training doc contaminated'."""
    corpus = df.select(F.col("doc_id"),
                       F.explode(word_shingles(F.col("text"), 8))
                       .alias("g"))
    evalg = (eval_df.select(F.explode(word_shingles(F.col("text"), 8))
                            .alias("g"))
             .distinct())
    eval_tokens = (eval_df.select(
        F.sum(F.size(F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    r"\s+"), lambda x: x != F.lit("")))).alias("t"))
        .first()["t"] or 0)
    if eval_tokens <= EVAL_BROADCAST_LIMIT_TOKENS:
        joined = corpus.join(F.broadcast(evalg), "g")
    else:
        joined = corpus.join(evalg.hint("shuffle_hash"), "g")
    hits = joined.groupBy("doc_id").agg(F.count("*").alias("n_overlap"))
    return (df.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"))
            .withColumn("contaminated", F.col("n_overlap") > 0))


def paragraph_dedup(df: DataFrame, para_tokens: int = 0) -> DataFrame:
    """RefinedWeb-style CORPUS-LEVEL exact paragraph dedup: a
    paragraph survives only at its first location — the minimum
    (key, position) over every occurrence in the corpus — and every
    later copy is dropped (the boilerplate/nav/footer killer that
    document-level dedup cannot express).

    para_tokens = 0 splits on newline runs; > 0 re-chunks the token
    stream into fixed-size pseudo-paragraphs (the fixture corpus is
    single-line word soup — deterministic chunking gives the oracle
    an identical paragraph set to replay).

    Returns every doc: (key, n_paras, n_kept, clean_text) where
    clean_text is the surviving paragraphs re-joined in original
    order.

    Shape: posexplode -> ONE window min over struct(key, pos) keyed
    by the paragraph hash (the only corpus-wide exchange, keyed by
    paragraph content — skew = mass-duplicated boilerplate lands in
    one partition's hash bucket, handled by AQE skew split) -> per-doc
    re-aggregate. collect_list order is engine-nondeterministic;
    array_sort on (pos, p) structs restores it deterministically."""
    if para_tokens > 0:
        paras = _token_chunks(F.col("text"), para_tokens)
    else:
        paras = F.split(F.coalesce(F.col("text"), F.lit("")), r"\n+")
    ex = (df.select(F.col("doc_id").alias("key"),
                    F.posexplode(paras).alias("pos", "p"))
          .filter(F.col("p") != ""))
    w = Window.partitionBy("p")
    kept = (ex.withColumn("_first", F.min(F.struct("key", "pos")).over(w))
            .withColumn("_keep", (F.col("key") == F.col("_first.key"))
                        & (F.col("pos") == F.col("_first.pos"))))
    agg = kept.groupBy("key").agg(
        F.count("*").alias("n_paras"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("_keep"), F.struct("pos", "p")))),
                lambda x: x["p"]), " ").alias("clean_text"))
    return (df.select(F.col("doc_id").alias("key")).join(agg, "key", "left")
            .select("key",
                    F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text")))


def lm_quality_score(df: DataFrame) -> DataFrame:
    """CCNet-shape unigram LM quality score: per-document mean
    self-information -log2(p(w)) under the corpus's own unigram
    distribution — the cheap stand-in for the KenLM perplexity filter
    every web-corpus pipeline runs (high score = improbable tokens =
    gibberish/rare-boilerplate candidate; low = stereotypical text).

    Two-pass shape: (1) one grouped count builds the unigram table;
    the TOP-1000 rows (ties broken by word — deterministic) are the
    model and BROADCAST — at 100 TB the vocabulary's heavy head is
    what matters and a bounded-K model is the standard trade
    (everything outside the head scores as OOV at the 1/total floor,
    i.e. -log2(1/total)); (2) one explode + broadcast join + grouped
    mean scores every document. Nothing unbounded ever shuffles except
    the word-count aggregate, which is map-side combined.

    Returns (key, n_scored, lm_score) for every doc; empty docs score
    0.0. lm_score is rounded to 4 decimals: the per-token float sums
    run in partition order (and the oracle's in its own), so the
    guaranteed-identical digits are well inside 1e-4."""
    toks = df.select(F.col("doc_id"),
                     F.explode(tokens_expr(F.col("text"))).alias("w"))
    # persisted: `counts` feeds the total action AND the vocab top-K —
    # unpersisted, the vocab reference re-runs the corpus explode+agg
    # a second time (and the scoring join a third). With the cache the
    # corpus is exploded exactly twice: once into counts, once into
    # the scoring join. The frame is vocab-sized; the caller's
    # cache_scope releases it.
    counts = cached(toks.groupBy("w").agg(F.count("*").alias("c")))
    total = counts.agg(F.sum("c")).first()[0] or 1
    vocab = (counts.orderBy(F.col("c").desc(), "w").limit(1000)
             .select("w", (-F.log2(F.col("c") / F.lit(float(total))))
                     .alias("_info")))
    oov = -__import__("math").log2(1.0 / total)
    scored = (toks.join(F.broadcast(vocab), "w", "left")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_scored"),
                   F.round(F.avg(F.coalesce("_info", F.lit(oov))), 4)
                   .alias("lm_score")))
    return (df.select("doc_id").join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_scored", F.lit(0)).alias("n_scored"),
                    F.coalesce("lm_score", F.lit(0.0)).alias("lm_score")))


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      default_rate: float = 0.0) -> DataFrame:
    """DETERMINISTIC stratified sampling — the training-mix primitive
    (upsample rare languages / downsample the head) done as a pure
    hash filter, so the sample is reproducible across runs, cluster
    sizes and engines (df.sample() is seed+partition-layout dependent
    and NOT reproducible under repartitioning; this is).

    The stratum is the lang column. A row survives iff
    md5('s42|' || stratum || '|' || key) mod 10^6 < rate * 10^6.
    Pure projection+filter: no shuffle, no state; the per-stratum rate
    table is a literal CASE chain (strata are few by definition).
    The hash is the same '0x'+hex-prefix construction the oracles
    replay, so DuckDB draws the identical sample."""
    h = _hash60(F.concat(F.lit("s42|"),
                         F.coalesce(F.col("lang"), F.lit("")),
                         F.lit("|"), F.col("doc_id").cast("string")))
    bucket = F.pmod(h, F.lit(1_000_000))
    rate = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col("lang") == stratum, F.lit(float(r))) \
                .otherwise(rate)
    return df.filter(bucket < rate * 1_000_000)


def mix_corpus(df: DataFrame, weights: dict[str, float],
               budget_tokens: int) -> DataFrame:
    """Static data-mixture sampling (the pretraining 'mix' step):
    given per-source weights and a total token budget, each source s
    gets desired tokens D_s = budget * w_s / Σw and keep rate
    r_s = min(1, D_s / T_s) against its measured token total T_s;
    docs survive a deterministic md5 hash filter at that rate, so the
    drawn mixture is reproducible across runs, partitionings and
    engines. Sources without a weight (or with zero tokens) keep
    nothing.

    Shape at scale: ONE partial-agg'd groupBy for the per-source token
    totals (|sources| rows), rates broadcast back, then a pure hash
    filter — the corpus is scanned twice but never shuffled. D_s is
    computed driver-side so the only in-engine float op is D_s / T_s
    (bit-identical in any IEEE engine, oracle included)."""
    w_sum = float(sum(weights.values()))
    toks = df.select(F.col("source").alias("_src"),
                     F.col("doc_id").alias("key"),
                     token_count(F.col("text")).cast("long")
                     .alias("n_tokens"))
    totals = toks.groupBy("_src").agg(F.sum("n_tokens").alias("_T"))
    des = F.lit(None).cast("double")
    for s, w in sorted(weights.items()):
        des = F.when(F.col("_src") == s,
                     F.lit(budget_tokens * float(w) / w_sum)).otherwise(des)
    rates = totals.withColumn(
        "rate",
        F.when(des.isNull() | (F.col("_T") <= 0), F.lit(0.0))
         .otherwise(F.least(F.lit(1.0), des / F.col("_T").cast("double"))))
    h = _hash60(F.concat(F.lit("m42|"), F.col("_src"), F.lit("|"),
                         F.col("key").cast("string")))
    return (toks.join(F.broadcast(rates.select("_src", "rate")), "_src")
            .filter(F.pmod(h, F.lit(1_000_000)) < F.col("rate") * 1_000_000)
            .select("key", F.col("_src").alias("source"), "n_tokens",
                    "rate"))


def pack_sequences(df: DataFrame, budget: int,
                   num_partitions: int | None = None) -> DataFrame:
    """Training-sequence packing: documents are concatenated in key
    order and addressed into fixed-budget token windows — for every
    doc, the sequence it starts in and its token offset inside that
    sequence (the concat-and-chunk bookkeeping an LLM pretraining
    loader runs over a corpus).

    The global running token total is ``_prefix_sum`` over one
    constant group, weighted by the doc's token count — not a
    single-partition window: a global `Window.orderBy(key)` would pull
    the entire corpus through ONE task (Spark's unpartitioned-window
    trap). Deterministic: range partitioning + in-partition key order
    reproduce the same global order at any parallelism.

    Returns (key, n_tokens, seq_id, seq_offset) where seq_id =
    floor(start / budget) and seq_offset = start % budget, start
    being the doc's first-token position in the global concat."""
    counts = df.select(F.col("doc_id").alias("key"),
                       token_count(F.col("text")).cast("long")
                       .alias("n_tokens"),
                       F.lit("all").alias("_g"))
    summed = _prefix_sum(counts, "_g", ["key"], F.col("n_tokens"),
                         num_partitions)
    start = F.col("_cum") - F.col("n_tokens")
    return summed.select(
        "key", "n_tokens",
        F.floor(start / budget).cast("long").alias("seq_id"),
        F.pmod(start, F.lit(budget)).cast("long").alias("seq_offset"))


def chunk_documents(df: DataFrame) -> DataFrame:
    """RAG-style fixed-size character chunking with overlap: each doc
    yields windows of 512 chars whose starts step by 448 (a 64-char
    overlap). A trailing window is emitted only if it extends past its
    predecessor (chars remaining > overlap), so no chunk is fully
    contained in the previous one; null/empty text yields zero chunks.
    n_chunks = max(1, ceil((len - 64) / 448)).

    Plan: sequence + posexplode + substring — pure whole-stage-codegen
    row expansion, ZERO shuffle, so it scales as a map over the corpus.
    Emits md5(chunk) rather than the chunk text so downstream compares
    and dedup never ship the expanded corpus."""
    size, overlap = 512, 64
    step = size - overlap
    t = F.coalesce(F.col("text"), F.lit(""))
    n = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.greatest(F.lit(1),
                   F.ceil((F.length(t) - F.lit(overlap)) / F.lit(step))))
    staged = df.select(F.col("doc_id").alias("key"), t.alias("_t"),
                       n.cast("int").alias("_n"))
    # posexplode of an empty sequence drops the row: 0-chunk docs vanish
    ex = staged.select(
        "key", "_t",
        F.posexplode(F.when(F.col("_n") > 0,
                            F.sequence(F.lit(0), F.col("_n") - 1))
                     .otherwise(F.array().cast("array<int>")))
        .alias("chunk_idx", "_k"))
    chunk = F.substring(F.col("_t"), F.col("_k") * step + 1, size)
    return ex.select(
        "key",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("_k") * step).cast("long").alias("chunk_start"),
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"))


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage/serving
    compression step for an embedding corpus): scale = max|x| / 127
    in DOUBLE, code = round(x / scale) ∈ [-127, 127]; zero or empty
    vectors get scale 0 and all-zero codes.

    All arithmetic is double-precision IEEE (cast up from float
    BEFORE any op) so the DuckDB oracle computes bit-identical scales
    and codes. Pure per-row HOF transform — zero shuffle; codes are
    emitted as a comma-joined string (the driver's pandas
    canonicalization cannot hash list cells)."""
    v = F.transform(F.coalesce(F.col("embedding"),
                               F.array().cast("array<float>")),
                    lambda x: x.cast("double"))
    # stage _v and _m as named columns: multi-referenced non-cheap
    # expressions get NO CSE otherwise (SPARK-36718)
    staged = (df.select(F.col("vec_id").alias("key"), v.alias("_v"))
              .withColumn("_m", F.coalesce(
                  F.array_max(F.transform("_v", F.abs)), F.lit(0.0))))
    scale = F.col("_m") / F.lit(127.0)
    codes = F.when(F.col("_m") == 0,
                   F.transform("_v", lambda x: F.lit(0))) \
             .otherwise(F.transform(
                 "_v", lambda x: F.round(x / scale).cast("int")))
    return staged.select(
        "key",
        scale.alias("scale"),
        F.size("_v").cast("long").alias("dim"),
        F.coalesce(F.array_join(F.transform(codes,
                                            lambda c: c.cast("string")),
                                ","), F.lit("")).alias("codes"))


def tfidf_topk(df: DataFrame) -> DataFrame:
    """Per-document top-3 keywords by smoothed tf-idf:
    idf = ln((N + 1) / (df + 1)) + 1 over whitespace tokens of
    lower(text), score = tf * idf, ties broken by term so the top-3
    cut is deterministic.

    Shape at scale: explode + two partial-agg'd groupBys (tf by
    (doc, term), df by term); the doc count N rides a 1-row broadcast
    cross join (no driver action); the df-side join is term-keyed —
    vocab is orders of magnitude smaller than the tf table, so Spark
    broadcasts it when small and shuffle-joins otherwise. The top-3
    window partitions by doc (never a global sort)."""
    toks = df.select(F.col("doc_id").alias("key"),
                     F.explode(tokens_expr(F.col("text"))).alias("term"))
    tf = toks.groupBy("key", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = df.agg(F.count_distinct(F.col("doc_id")).alias("_n"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(ndocs))
              .withColumn("_score",
                          F.col("tf") * (F.log((F.col("_n") + 1.0) /
                                               (F.col("df") + 1.0)) + 1.0)))
    w = Window.partitionBy("key").orderBy(F.desc("_score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("key", "term", "tf", "df",
                    F.round("_score", 4).alias("tfidf"),
                    F.col("rank").cast("long").alias("rank")))


# RE2-safe AND Java-safe patterns (no lookaround, no backrefs) so the
# DuckDB oracle runs the identical pattern text
PII_EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RX = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
PII_IPV4_RX = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def pii_scrub(df: DataFrame) -> DataFrame:
    """PII redaction for training corpora: emails, intl-format phone
    numbers and IPv4 literals replaced with typed placeholder tokens,
    plus a per-doc redaction count (the audit metric a scrubbing run
    reports). Order matters and is fixed: emails first (an email must
    not be half-eaten by the IP rule via its dotted domain), then
    phones, then IPs. Pure regexp_replace/regexp_count — JVM codegen,
    embarrassingly parallel, no shuffle."""
    t = F.coalesce(F.col("text"), F.lit(""))
    n_pii = (F.regexp_count(t, F.lit(PII_EMAIL_RX))
             + F.regexp_count(t, F.lit(PII_PHONE_RX))
             + F.regexp_count(
                 F.regexp_replace(t, PII_EMAIL_RX, "<EMAIL>"),
                 F.lit(PII_IPV4_RX)))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RX, "<EMAIL>"),
            PII_PHONE_RX, "<PHONE>"),
        PII_IPV4_RX, "<IP>")
    return df.select(F.col("doc_id"), clean.alias("clean_text"),
                     n_pii.cast("long").alias("n_pii"))


# ---------------------------------------------------------------------------
# Exact duplicate-substring spans / per-group caps
# ---------------------------------------------------------------------------
def duplicate_spans(df: DataFrame) -> DataFrame:
    """ExactSubstr-style duplicate-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", at
    8-gram granularity): every position whose 8-token gram occurs
    anywhere earlier in the corpus — an earlier (key, pos), including
    earlier in the SAME doc — is a duplicate position; consecutive
    duplicate positions merge into maximal spans. Returns one row per
    span: (key, span_start, span_end, n_grams) in token coordinates,
    span covering tokens [span_start, span_end] inclusive. The
    canonical first occurrence of each gram is NOT marked, so cutting
    every reported span keeps exactly one copy of each duplicated
    substring run.

    Shape: posexplode the gram stream once -> ONE window min over
    struct(key, pos) keyed by gram content (an aggregate frame, no
    per-partition sort — cheaper than row_number; same corpus-keyed
    exchange as paragraph_dedup, AQE handles boilerplate-gram skew)
    -> filter non-first -> per-doc gaps-and-islands (pos minus
    row_number is constant within a consecutive run) -> one grouped
    agg per island. Two shuffles total (gram key, then doc key), both
    on bounded partitions."""
    n = 8
    toks = tokens_expr(F.col("text"))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    ).otherwise(F.array().cast("array<string>"))
    ex = df.select(F.col("doc_id").alias("key"),
                   F.posexplode(grams).alias("pos", "g"))
    wg = Window.partitionBy("g")
    dup = (ex.withColumn("_first", F.min(F.struct("key", "pos")).over(wg))
           .filter(~((F.col("key") == F.col("_first.key"))
                     & (F.col("pos") == F.col("_first.pos"))))
           .select("key", "pos"))
    wi = Window.partitionBy("key").orderBy("pos")
    isl = dup.withColumn("_grp", F.col("pos") - F.row_number().over(wi))
    return (isl.groupBy("key", "_grp")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + F.lit(n - 1)).alias("span_end"),
                 F.count("*").alias("n_grams"))
            .drop("_grp"))


def group_topk(df: DataFrame, group_col: str, order_cols: list[Column],
               k: int) -> DataFrame:
    """Per-group top-k WITHOUT a full-frame per-group window sort —
    the per-domain document cap every crawled-corpus pipeline applies
    (keep the k best pages per host so one mega-site cannot dominate
    the training mix).

    ``order_cols`` must be a TOTAL order (include a unique tiebreak
    key) — with ties at rank k the two phases could keep different
    row sets.

    Two-phase, exact: phase 1 ranks per (group, INPUT PARTITION) —
    a row outside its partition's local top-k cannot be in the global
    top-k, so it is dropped before any corpus-wide exchange; phase 2
    ranks the <= k x n_partitions survivors per group. With
    domain-count << corpus-size the naive single window collapses a
    100 TB corpus onto |domains| sort tasks; phase 1 keeps every
    input partition busy and bounds what phase 2 sorts."""
    wl = (Window.partitionBy(F.col(group_col), F.spark_partition_id())
          .orderBy(*order_cols))
    survivors = (df.withColumn("_lrn", F.row_number().over(wl))
                 .filter(F.col("_lrn") <= k).drop("_lrn"))
    wg = Window.partitionBy(group_col).orderBy(*order_cols)
    return (survivors.withColumn("rank", F.row_number().over(wg))
            .filter(F.col("rank") <= k))


# ---------------------------------------------------------------------------
# Search-index + corpus-shape operators (round 5, session 3)
# ---------------------------------------------------------------------------
def length_histogram(df: DataFrame) -> Column:
    """Power-of-two token-length histogram — the sequence-length
    planning table (how many docs land in each 2^k token band drives
    the packing budget and the truncation loss estimate before a
    training run).

    The bucket is INTEGER-exact: floor(log2(n)) computed as
    length(bin(n)) - 1, never a float log2 — libm log2 of an exact
    power of two can land an ulp under the integer in one engine and
    flip the floor against the oracle. One map-side-combined
    aggregate over a narrow projection; no shuffle beyond the final
    |buckets|-row exchange. Scales trivially."""
    n = token_count(F.col("text")).cast("long")
    bucket = (F.length(F.bin(F.greatest(n, F.lit(1)))) - 1).cast("long")
    return (df.select(bucket.alias("bucket"), n.alias("_n"))
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("_n").cast("long").alias("total_tokens"),
                 F.min("_n").cast("long").alias("min_tokens"),
                 F.max("_n").cast("long").alias("max_tokens")))


def build_inverted_index(df: DataFrame,
                         df_cap: int | None = None) -> DataFrame:
    """Positional inverted index: token -> (df, cf, postings) where
    postings = ";"-joined "doc:tf:p0|p1|..." entries in doc order —
    the search-engine build step over the crawled corpus (the engine's
    batch twin of the reference's Elasticsearch index, SURVEY §2 K2 /
    Q1/Q4 serving side; the reference ships documents to ES and lets
    ES build this — internal/common/indexer/elasticsearch.go:77-146
    BulkIndex).

    Two grouped aggregates, both partial+final: (1) positions per
    (token, doc) — bounded by document length; (2) postings per token.
    ``df_cap`` is the stopword-elision guard: a token appearing in
    every page of a 10^10-doc corpus would otherwise collect a
    posting list the size of the corpus into ONE reduce task. Capped
    build drops tokens with df > df_cap (their postings are pure
    noise for retrieval scoring); an uncapped production build would
    shard mega-token postings by doc-range before collecting. The
    postings string is deterministic: positions sorted numerically,
    entries sorted by doc id."""
    toks = df.select(
        F.col("doc_id").alias("_id"),
        F.posexplode(tokens_expr(F.col("text"))).alias("pos", "w"))
    per_doc = (toks.groupBy("w", "_id")
               .agg(F.count("*").cast("long").alias("tf"),
                    F.array_join(F.array_sort(F.collect_list("pos")),
                                 "|").alias("plist")))
    idx = (per_doc.groupBy("w")
           .agg(F.count("*").cast("long").alias("df"),
                F.sum("tf").cast("long").alias("cf"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("_id", "tf", "plist"))),
                        lambda s: F.concat_ws(
                            ":", s["_id"], s["tf"], s["plist"])),
                    ";").alias("postings")))
    if df_cap is not None:
        idx = idx.filter(F.col("df") <= F.lit(df_cap))
    return idx


def grouped_ntile(df: DataFrame, part_col: str, order_cols: list[str],
                  num_partitions: int | None = None) -> DataFrame:
    """Exact per-group tercile (ntile 3) WITHOUT a one-task-per-group
    window — the CCNet head/middle/tail perplexity bucketing step
    (Wenzek et al., 'CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data': per-language terciles of LM score
    decide what is kept, what is mined, what is dropped).

    `Window.partitionBy(lang)` puts each language in ONE sort task —
    at 100 TB the English partition is ~half the corpus through a
    single thread. This is instead grouped_rank, the distributed
    prefix sum seq_pack also runs: global range partition on
    ``order_cols`` (a total order — include a unique key),
    per-(input-partition, group) local running count, a lazy
    prefix-sum window over the P x |groups| count table (numbers, not
    rows), broadcast exclusive offsets back, rank = offset + local.
    A mega-group spreads across ALL partitions, so skew in the group
    column cannot serialize the sort. The bucket is then pure integer
    arithmetic on (rank, group_total) — the exact SQL NTILE closed
    form (first total%n buckets get the +1 row), no float quantile
    interpolation to drift an ulp against an oracle.

    ``order_cols`` must totally order rows (ties across engines would
    otherwise bucket nondeterministically). Returns df + (rank,
    bucket), rank 1-based within part_col, bucket in [1, 3]."""
    nb = 3
    bucket = F.expr(
        f"CASE WHEN n_group div {nb} = 0 THEN rank "
        f"WHEN rank <= (n_group % {nb}) * (n_group div {nb} + 1) "
        f"  THEN (rank - 1) div (n_group div {nb} + 1) + 1 "
        f"ELSE (n_group % {nb}) + (rank - (n_group % {nb}) * (n_group div {nb} + 1) - 1) "
        f"     div (n_group div {nb}) + 1 END")
    return (grouped_rank(df, part_col, order_cols, num_partitions)
            .withColumn("bucket", bucket.cast("long"))
            .drop("n_group"))


def _prefix_sum(df: DataFrame, part_col: str, order_cols: list[str],
                weight: Column, num_partitions: int | None) -> DataFrame:
    """The distributed prefix sum under grouped_rank and
    pack_sequences: the running total of ``weight`` within
    ``part_col`` in ``order_cols`` order, computed WITHOUT a per-group
    window sort — global range partition on the order columns,
    per-(partition, group) local running sum, exclusive offsets from a
    lazy prefix-sum window over the P x |groups| total table (numbers,
    not rows), broadcast back. No action runs while it is built.
    Returns df + (_cum long: inclusive running total, _tot long: group
    total)."""
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    oc = [F.col(c) for c in order_cols]
    parted = (df.repartitionByRange(p, *oc)
              .withColumn("_pid", F.spark_partition_id()))
    w = (Window.partitionBy("_pid", part_col).orderBy(*oc)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # persisted: the local sums feed both the total table and the
    # offset join, and recomputing them re-runs the range shuffle; the
    # caller's cache_scope releases them
    local = cached(parted.withColumn("_lcum", F.sum(weight).over(w)))
    # offsets from a lazy window, not a driver-side collect: no
    # blocking action, no driver-memory exposure to a high-cardinality
    # part_col, and the total table stays distributed
    cnt = local.groupBy("_pid", part_col).agg(F.sum(weight).alias("_c"))
    wo = (Window.partitionBy(part_col).orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1))
    wt = Window.partitionBy(part_col)
    off_df = cnt.select(
        "_pid", part_col,
        F.coalesce(F.sum("_c").over(wo), F.lit(0)).cast("long").alias("_off"),
        F.sum("_c").over(wt).cast("long").alias("_gtot"))
    return (local.join(F.broadcast(off_df), ["_pid", part_col])
            .withColumn("_cum", (F.col("_off") + F.col("_lcum")).cast("long"))
            .withColumn("_tot", F.col("_gtot"))
            .drop("_pid", "_lcum", "_off", "_gtot"))


def grouped_rank(df: DataFrame, part_col: str, order_cols: list[str],
                 num_partitions: int | None = None) -> DataFrame:
    """The distributed-rank primitive under grouped_ntile /
    group_quantiles / shard_plan: exact 1-based rank within
    ``part_col`` by ``order_cols`` (which must totally order rows)
    plus the group total — ``_prefix_sum`` with weight 1.
    Returns df + (rank long, n_group long)."""
    return (_prefix_sum(df, part_col, order_cols, F.lit(1), num_partitions)
            .withColumnRenamed("_cum", "rank")
            .withColumnRenamed("_tot", "n_group"))


def pmi_bigrams(df: DataFrame) -> DataFrame:
    """Top-50 adjacent-bigram collocations (seen >= 5 times) by
    pointwise mutual information — the phrase-mining /
    tokenizer-vocab-seeding analysis (Mikolov et al.'s phrase
    detection runs exactly this shape).
    PMI(a,b) = log2( p(a,b) / (p(a) p(b)) ), bigram probabilities over
    adjacent pairs, unigram over tokens.

    One explode+count per order (both partial-aggregated), two equi-
    joins of the bigram table against the unigram counts (vocab-sized,
    orders of magnitude under the corpus), totals via 1-row broadcast
    cross joins (the tfidf_topk pattern), then a TakeOrderedAndProject
    top-50 — never a global sort. PMI is ROUNDED BEFORE the ordering
    and tie-broken by bigram text, so the top-50 row SET is stable
    across engines and parallelism (an unrounded float order could
    flip the cut on a last-ulp libm difference)."""
    t = F.col("text")
    toks = df.select(F.explode(tokens_expr(t)).alias("w"))
    # uni is referenced 3x (total + both join sides) and big 2x
    # (total + the candidate rows) — without a persist each reference
    # re-tokenizes the corpus (no CSE across DataFrame references, the
    # SPARK-36718 family of traps). Persist the two vocab-sized count
    # tables (the caller's cache_scope releases them); the corpus
    # itself is scanned exactly twice.
    uni = cached(toks.groupBy("w").agg(F.count("*").cast("long").alias("c")))
    big = cached(df.select(F.explode(ngrams_all(t, 2)).alias("bg"))
                 .groupBy("bg").agg(F.count("*").cast("long").alias("cb")))
    nu = uni.agg(F.sum("c").cast("double").alias("_nu"))
    nb = big.agg(F.sum("cb").cast("double").alias("_nb"))
    sp = (big.filter(F.col("cb") >= 5)
          .withColumn("_w1", F.split("bg", " ")[0])
          .withColumn("_w2", F.split("bg", " ")[1]))
    u1 = uni.select(F.col("w").alias("_w1"), F.col("c").alias("_c1"))
    u2 = uni.select(F.col("w").alias("_w2"), F.col("c").alias("_c2"))
    pmi = F.round(F.log2(
        (F.col("cb") / F.col("_nb"))
        / ((F.col("_c1") / F.col("_nu")) * (F.col("_c2") / F.col("_nu")))), 4)
    return (sp.crossJoin(F.broadcast(nu)).crossJoin(F.broadcast(nb))
            .join(u1, "_w1").join(u2, "_w2")
            .select(F.col("bg").alias("bigram"),
                    F.col("cb").alias("n"), pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), "bigram").limit(50))


def group_quantiles(df: DataFrame, part_col: str, value_col: str,
                    key_col: str) -> DataFrame:
    """Exact per-group discrete quantiles — the corpus-QA table
    ("p25/p50/p75 quality per language") that decides filter
    thresholds before a training run. Lower discrete quantile
    semantics: the value at rank ceil(n * q/100) in (value, key)
    order — ALL integer arithmetic ((n*q + 99) div 100), so no float
    quantile interpolation can drift an ulp against an oracle.

    Built on grouped_rank, so no per-group window sort: a mega-group
    (English = half a 100 TB corpus) spreads over every partition.
    The quantile targets (p25, p50, p75) join as a broadcast 3-row
    frame. Returns (part_col, q_pct, value) — one row per (group, q)."""
    base = df.select(part_col, value_col, key_col)
    ranked = grouped_rank(base, part_col, [value_col, key_col])
    sess = df.sparkSession
    qdf = sess.createDataFrame([(25,), (50,), (75,)], "q_pct int")
    # integer ceil: (n*q + 99) div 100
    target = F.expr("(n_group * q_pct + 99) div 100")
    return (ranked.crossJoin(F.broadcast(qdf))
            .filter(F.col("rank") == target)
            .select(part_col, "q_pct", F.col(value_col).alias("value")))


# the candidate vocab sizes vocab_coverage reports
VOCAB_COVERAGE_KS = (1, 16, 256, 4096)


def vocab_coverage(df: DataFrame) -> DataFrame:
    """Tokenizer-vocabulary sizing curve: for each candidate vocab
    size k in VOCAB_COVERAGE_KS, the fraction of all corpus token
    OCCURRENCES covered by the top-k most frequent tokens (count desc,
    token asc ties). The table every tokenizer-budget decision reads
    first.

    Corpus side is ONE partial-agg'd token count; the ranking is a
    TakeOrderedAndProject of max(VOCAB_COVERAGE_KS) rows (vocab-sized,
    never the corpus) whose cumulative sums then run over that bounded frame;
    the corpus total joins as a 1-row broadcast. Coverage is rounded
    to 6 before comparison."""
    toks = df.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
    uni = cached(toks.groupBy("w").agg(F.count("*").cast("long").alias("c")))
    total = uni.agg(F.sum("c").cast("double").alias("_total"))
    top = uni.orderBy(F.col("c").desc(), F.col("w")).limit(
        max(VOCAB_COVERAGE_KS))
    wr = Window.orderBy(F.col("c").desc(), F.col("w"))
    ranked = top.withColumn("_r", F.row_number().over(wr))
    sess = df.sparkSession
    kdf = sess.createDataFrame([(k,) for k in VOCAB_COVERAGE_KS], "k int")
    return (ranked.crossJoin(F.broadcast(kdf))
            .filter(F.col("_r") <= F.col("k"))
            .groupBy("k")
            .agg(F.sum("c").cast("long").alias("covered_tokens"),
                 F.count("*").cast("long").alias("vocab_used"))
            .crossJoin(F.broadcast(total))
            .select("k", "vocab_used", "covered_tokens",
                    F.round(F.col("covered_tokens") / F.col("_total"), 6)
                    .alias("coverage")))


def shard_plan(df: DataFrame, key_col: str, shard_size: int,
               num_partitions: int | None = None) -> DataFrame:
    """Deterministic shard assignment — the training-data writer's
    final step: a reproducible global shuffle (order by md5(key),
    key) split into fixed-size shards. shard = (rank-1) div size,
    pos_in_shard = (rank-1) mod size. Hash order decorrelates shards
    from crawl/source order (so every shard is an unbiased corpus
    sample) while staying bit-reproducible across runs, engines and
    parallelism — df.sample()/repartition-based shuffles are neither.

    Global rank via grouped_rank with a constant group: range
    partition on the hash spreads the corpus evenly (md5 is uniform),
    per-partition counts broadcast back — no SinglePartition
    bottleneck anywhere. Returns (key, shard, pos_in_shard)."""
    h = df.select(F.col(key_col),
                  F.md5(F.col(key_col).cast("string")).alias("_h"),
                  F.lit("all").alias("_g"))
    ranked = grouped_rank(h, "_g", ["_h", key_col], num_partitions)
    return ranked.select(
        F.col(key_col),
        F.expr(f"(rank - 1) div {int(shard_size)}").cast("long")
        .alias("shard"),
        F.expr(f"(rank - 1) % {int(shard_size)}").cast("long")
        .alias("pos_in_shard"))


# the document counts vocab_growth reports the vocabulary size at
VOCAB_GROWTH_CHECKPOINTS = (16, 64, 256, 1024)


def vocab_growth(df: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct token types seen
    within the first k documents (doc_id <= k) for each checkpoint k
    in VOCAB_GROWTH_CHECKPOINTS — the curve that says whether a corpus
    is still contributing new vocabulary or has gone redundant (the
    empirical V ∝ N^beta check papers run before scaling a crawl).

    One partial-agg'd min: each token's FIRST document (min key), a
    vocab-sized table; the checkpoints then join as a broadcast frame
    of a few rows and reduce to one counter each. The corpus is tokenized once;
    nothing corpus-sized crosses a second shuffle. Scales."""
    first = (df.select(F.col("doc_id").alias("_k"),
                       F.explode(tokens_expr(F.col("text"))).alias("w"))
             .groupBy("w")
             .agg(F.min("_k").alias("_first")))
    sess = df.sparkSession
    kdf = sess.createDataFrame([(k,) for k in VOCAB_GROWTH_CHECKPOINTS],
                               "k_docs long")
    return (first.crossJoin(F.broadcast(kdf))
            .filter(F.col("_first") <= F.col("k_docs"))
            .groupBy("k_docs")
            .agg(F.count("*").cast("long").alias("vocab_size")))


def dedup_report(kept: DataFrame, meta: DataFrame,
                 key_col: str = "doc_id") -> DataFrame:
    """Per-source dedup attrition report over keep_best_per_cluster
    output (``kept``: key, kept bool): docs in, docs kept, docs
    dropped, and the token mass kept/dropped — the table a corpus
    owner reads after a dedup pass to see which sources were mostly
    boilerplate. ``meta`` supplies (key_col, source, text).

    One broadcast-or-shuffle equi-join on the doc key plus one
    grouped aggregate (all sums partial-agg'd). Scales."""
    j = (meta.select(F.col(key_col).alias("key"), "source",
                     token_count(F.col("text")).alias("_tok"))
         .join(kept.select("key", "kept"), "key"))
    return (j.groupBy("source")
            .agg(F.count("*").cast("long").alias("docs_in"),
                 F.sum(F.when(F.col("kept"), 1).otherwise(0))
                 .cast("long").alias("docs_kept"),
                 F.sum(F.when(~F.col("kept"), 1).otherwise(0))
                 .cast("long").alias("docs_dropped"),
                 F.sum(F.when(F.col("kept"), F.col("_tok")).otherwise(0))
                 .cast("long").alias("tokens_kept"),
                 F.sum(F.when(~F.col("kept"), F.col("_tok")).otherwise(0))
                 .cast("long").alias("tokens_dropped")))


def bigram_lm_score(df: DataFrame) -> DataFrame:
    """Per-document mean conditional log-probability under the
    corpus's OWN add-alpha-smoothed bigram model — the next step up
    from the unigram lm_quality_score toward the KenLM perplexity
    filter (CCNet): p(w2|w1) = (C(w1 w2) + a) / (C(w1 ·) + a·V), with
    C(w1 ·) the bigram-first marginal and V the distinct-successor
    count. Low mean log-prob = improbable transitions = gibberish /
    shuffled-boilerplate candidate.

    Shape: the corpus explodes to adjacent pairs ONCE (persisted —
    it is referenced by both the count build and the scoring join);
    all model arithmetic runs on the vocab-sized bigram-count table
    (persisted, 3 references): the w1 marginal is a sum over that
    table (no second corpus pass), V is a 1-row broadcast, the
    log-prob attaches per distinct bigram. One final equi-join model →
    pairs + a grouped mean. alpha=0.5 is binary-exact so the smoothing
    adds no cross-engine float noise; the mean is rounded to 4 (float
    sums run in partition order). Docs with <2 tokens score 0.0."""
    t = F.col("text")
    pairs = cached(df.select(F.col("doc_id"),
                             F.explode(ngrams_all(t, 2)).alias("bg")))
    big = cached(pairs.groupBy("bg")
                 .agg(F.count("*").cast("long").alias("c12")))
    w1s = (big.withColumn("_w1", F.split("bg", " ")[0])
           .groupBy("_w1").agg(F.sum("c12").cast("long").alias("c1")))
    v = big.select(F.count_distinct(F.split("bg", " ")[1])
                   .cast("double").alias("_v"))
    model = (big.withColumn("_w1", F.split("bg", " ")[0])
             .join(w1s, "_w1")
             .crossJoin(F.broadcast(v))
             .select("bg",
                     F.log2((F.col("c12") + F.lit(0.5))
                            / (F.col("c1") + F.lit(0.5)
                               * F.col("_v"))).alias("_lp")))
    scored = (pairs.join(model, "bg")
              .groupBy("doc_id")
              .agg(F.count("*").cast("long").alias("n_pairs"),
                   F.round(F.avg("_lp"), 4).alias("bigram_lp")))
    return (df.select("doc_id").join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
                    F.coalesce("bigram_lp", F.lit(0.0))
                    .alias("bigram_lp")))


# ---------------------------------------------------------------------------
# Corpus-cardinality + encoding-health operators (round 5, session 4)
# ---------------------------------------------------------------------------
def kmv_distinct(df: DataFrame) -> DataFrame:
    """Per-group distinct-token cardinality via a K-Minimum-Values
    sketch (Bar-Yossef et al. 2002) with k = 128: hash every distinct
    token to a uniform 60-bit value, keep the k smallest per group,
    estimate |distinct| = (k-1) / u_k with u_k the k-th smallest hash
    normalized to (0,1]. Unlike HLL the estimator is DETERMINISTIC
    given the hash, so a SQL oracle replays it bit-for-bit (_hash60).

    Shape: distinct (group, token) is one partial-agg'd aggregate;
    the rank window then runs over the VOCAB-sized distinct frame
    partitioned by group — never the corpus. The exact distinct count
    rides the same shuffled frame as a grouped count (one extra
    aggregate, no extra scan) and is returned beside the estimate as
    the accuracy exhibit; drop it at 100 TB if only the sketch is
    wanted. 2^60 as a double literal is exact."""
    k = 128
    toks = (df.select(F.col("source").alias("grp"),
                      F.explode(tokens_expr(F.col("text"))).alias("w"))
            .distinct())
    hashed = toks.select("grp", _hash60(F.col("w")).alias("h"))
    wk = Window.partitionBy("grp").orderBy("h")
    ranked = hashed.withColumn("_r", F.row_number().over(wk))
    agg = (ranked.groupBy("grp")
           .agg(F.count("*").cast("long").alias("n_exact"),
                F.max(F.when(F.col("_r") == k, F.col("h")))
                .alias("_hk")))
    two60 = F.lit(1152921504606846976.0)  # 2^60, exactly representable
    est = F.when(F.col("_hk").isNull(),
                 F.col("n_exact").cast("double")) \
           .otherwise(F.round(F.lit(float(k - 1)) * two60
                              / F.col("_hk").cast("double"), 2))
    return (agg.select(F.col("grp").alias("source"), "n_exact",
                       est.alias("kmv_est"))
            .withColumn("kmv_k", F.lit(k).cast("long")))


def zipf_slope(df: DataFrame) -> DataFrame:
    """Per-group Zipf-law fit: the least-squares slope of
    ln(count) ~ ln(rank) over the group's top-200 token types. Natural
    web text sits near -1; a source whose slope is far shallower
    (flat counts = templated boilerplate) or steeper (one token
    dominates = navigation spam) is a mixture-weight red flag — the
    corpus-shape analogue of the repetition filters.

    Shape: one vocab aggregate, a rank window over the vocab frame
    (partitioned by group), the regression as covar_pop/var_pop over
    <= 200 rows per group — the frame is already hash-partitioned by
    group from the window, so the final agg reuses the exchange.
    Rounded to 4: the two engines sum <=200 doubles in different
    orders, which perturbs at ~1e-13 relative."""
    counts = (df.select(F.col("source").alias("grp"),
                        F.explode(tokens_expr(F.col("text"))).alias("w"))
              .groupBy("grp", "w")
              .agg(F.count("*").cast("long").alias("c")))
    wk = Window.partitionBy("grp").orderBy(F.desc("c"), F.asc("w"))
    ranked = (counts.withColumn("r", F.row_number().over(wk))
              .filter(F.col("r") <= 200))
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("c").cast("double"))
    return (ranked.groupBy("grp")
            .agg(F.count("*").cast("long").alias("n_types"),
                 F.round(F.covar_pop(x, y) / F.var_pop(x), 4)
                 .alias("zipf_slope"))
            .withColumnRenamed("grp", "source"))


def utf8_stats(df: DataFrame) -> DataFrame:
    """Per-document encoding-health profile: byte/char counts, the
    UTF-8 width histogram, ASCII ratio, and a control-character
    count — the mojibake / binary-garbage detector every crawled
    corpus runs before training (double-encoded UTF-8 shows up as a
    2-byte-char surge on a Latin-script page; truncated multibyte
    shows as U+FFFD; binary spill shows as C0 controls).

    Only TWO regex passes (ASCII and the 2-byte range); the 3- and
    4-byte counts solve exactly from the byte/char equations
    bytes = a + 2b + 3c + 4d, chars = a + b + c + d =>
    d = bytes - 3*chars + 2a + b, c = chars - a - b - d — integer
    arithmetic, no float drift. Both engines count code points (not
    UTF-16 units) for length(), so the identities hold. Narrow
    projection, no shuffle, whole-stage codegen."""
    t = F.coalesce(F.col("text"), F.lit(""))
    n_bytes = F.octet_length(t).cast("long")
    n_chars = F.length(t).cast("long")
    n_ascii = F.regexp_count(t, F.lit(r"[\x00-\x7f]")).cast("long")
    n_2b = F.regexp_count(t, F.lit(r"[\x{0080}-\x{07ff}]")).cast("long")
    n_4b = (n_bytes - F.lit(3) * n_chars + F.lit(2) * n_ascii + n_2b)
    n_3b = n_chars - n_ascii - n_2b - n_4b
    n_ctrl = F.regexp_count(
        t, F.lit(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")).cast("long")
    n_repl = F.regexp_count(t, F.lit("�")).cast("long")
    return df.select(
        F.col("doc_id"),
        n_bytes.alias("n_bytes"), n_chars.alias("n_chars"),
        n_ascii.alias("n_ascii"), n_2b.alias("n_2byte"),
        n_3b.alias("n_3byte"), n_4b.alias("n_4byte"),
        F.round(n_ascii.cast("double")
                / F.greatest(n_chars, F.lit(1)).cast("double"), 4)
        .alias("ascii_ratio"),
        n_ctrl.alias("n_ctrl"), n_repl.alias("n_replacement"))


def source_reputation(df: DataFrame) -> DataFrame:
    """Domain-level reputation filter (the FineWeb/C4 move of scoring
    the SITE, not just the page): mean per-doc quality_score per
    source, compared against the corpus-wide mean; a source below the
    global mean is flagged low_rep and its doc count is what the
    mixture planner would down-weight.

    Shape: quality is a per-row Column expression; one grouped
    aggregate to source level; the global mean derives from the
    per-source sums (sum-of-sums / count-of-docs — NOT mean-of-means,
    and no second corpus scan) and joins back as a 1-row broadcast.
    The group aggregate is map-side combined; at 100 TB the shuffle
    carries |sources| rows."""
    q = quality_score(F.col("text"))
    per = (df.select(F.col("source").alias("grp"), q.alias("_q"))
           .groupBy("grp")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("_q").alias("_qsum")))
    glob = per.agg((F.sum("_qsum") / F.sum("n_docs")).alias("_gmean"))
    return (per.crossJoin(F.broadcast(glob))
            .select(F.col("grp").alias("source"), "n_docs",
                    F.round(F.col("_qsum") / F.col("n_docs"), 4)
                    .alias("src_quality"),
                    F.round(F.col("_gmean"), 4).alias("corpus_quality"),
                    (F.col("_qsum") / F.col("n_docs") < F.col("_gmean"))
                    .alias("low_rep")))


def line_dedup(df: DataFrame) -> DataFrame:
    """WITHIN-document repeated-line removal (the C4 move of dropping
    duplicated lines inside a page — nav bars, cookie banners, footer
    text repeated mid-page) — the per-doc complement of the
    corpus-level paragraph_dedup. A line survives only at its first
    position; survivors rejoin in original order.

    The fixture corpus is single-line word soup, so 'lines' are
    deterministic 2-token chunks (same device as paragraph_dedup's
    para_tokens). The whole operator is ONE per-row
    projection: array_distinct preserves first-occurrence order in
    Spark, so there is NO explode, NO window, NO shuffle — a 100 TB
    corpus runs this entirely inside whole-stage codegen."""
    lines = _token_chunks(F.col("text"), 2)
    uniq = F.array_distinct(lines)
    return df.select(
        F.col("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(uniq).cast("long").alias("n_kept"),
        F.array_join(uniq, " ").alias("clean_text"))


def vocab_prune_stats(df: DataFrame) -> DataFrame:
    """Fixed-vocab UNK analysis: prune the vocabulary to the top-16
    types (count desc, token asc — a total order), then report per
    document how many token occurrences fall outside it — the
    '<unk> rate' a tokenizer with a capped vocab would see, the
    pre-training sanity check for vocab-size selection.

    Shape: one vocab aggregate; the head is TakeOrdered (16 rows — the
    full vocab is never globally sorted or windowed); scoring is a
    BROADCAST left join of the exploded corpus against the 16-row head
    (never a shuffle join: the corpus side stays where it is), then a
    per-doc re-aggregate keyed by the doc id."""
    toks = df.select(F.col("doc_id"),
                     F.explode(tokens_expr(F.col("text"))).alias("w"))
    head = (toks.groupBy("w").agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), F.asc("w")).limit(16)
            .select("w", F.lit(1).alias("_in")))
    scored = (toks.join(F.broadcast(head), "w", "left")
              .groupBy("doc_id")
              .agg(F.count("*").cast("long").alias("n_tokens"),
                   F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
                   .cast("long").alias("n_unk")))
    return (df.select("doc_id").join(scored, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("n_unk", F.lit(0)).alias("n_unk"),
                    F.round(F.coalesce("n_unk", F.lit(0)).cast("double")
                            / F.greatest(F.coalesce("n_tokens", F.lit(0)),
                                         F.lit(1)).cast("double"), 4)
                    .alias("unk_ratio")))


def semantic_dedup(df: DataFrame, threshold: float = 0.5,
                   n_planes: int = 4) -> DataFrame:
    """SemDeDup-style embedding-level dedup VERDICT per vector: cluster
    by the deterministic splitmix64 LSH bucket (the same hyperplanes
    the ANN path replays in SQL), and within a cluster drop any vector
    that has a LOWER-id neighbor with cosine >= threshold (min-id-wins,
    single pass — deterministic, and the kept set provably contains no
    same-cluster pair above the threshold: if id_a < id_b exceed it,
    id_b is dropped by rule).

    Unlike k-means SemDeDup the cluster assignment here is replayable
    in SQL hyperplane-for-hyperplane, so the whole operator carries a
    full oracle. Cross-cluster near-dups are missed by construction —
    the same stated recall trade as embedding_near_dups; raise
    n_planes for smaller clusters (speed) or lower it for recall.

    Shape: bucket is a per-row expression; the drop set is the
    distinct id_b of embedding_near_dups' pairs (its equi join ON THE
    BUCKET — never cartesian — and its cosine verify); the verdict is
    a left join against it. At 100 TB the bucket join is the only
    corpus-wide exchange."""
    dim = _embedding_dim(df)
    drops = (embedding_near_dups(df, threshold, n_planes, dim=dim)
             .select(F.col("id_b").alias("vec_id")).distinct()
             .withColumn("_drop", F.lit(1)))
    return (df.select(F.col("vec_id"),
                      lsh_bucket(F.col("embedding"), dim, n_planes)
                      .alias("cluster"))
            .join(drops, "vec_id", "left")
            .select(F.col("vec_id"), "cluster",
                    F.col("_drop").isNull().alias("kept")))


def cdc_chunks(df: DataFrame) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/casync storage-dedup
    primitive, token-level): a token OPENS a new chunk when
    md5(token) % 8 == 0, so chunk boundaries depend only on
    LOCAL content — insert one word at the front of a page and every
    chunk after the next boundary still hashes identically, which is
    what makes CDC dedupe recrawls where fixed-size chunking cannot.
    Expected chunk length ~= 8 tokens.

    Returns exploded rows (key, chunk_idx, n_tokens, chunk_md5) —
    chunk_md5 over the space-joined chunk text is the dedup key a
    content store would use.

    Shape: tokenize + boundary-flag are per-row expressions; the
    running boundary count (chunk id per token) is a window sum
    PARTITIONED BY DOC ordered by position — the only exchange is the
    explode shuffle keyed by the doc id, bounded by document length
    (no corpus-wide key). Production rolling hashes (gear/buzhash)
    are cheaper per byte; md5-per-token is chosen because both
    engines replay it bit-for-bit (the simhash/KMV precedent)."""
    toks = tokens_expr(F.col("text"))
    ex = (df.select(F.col("doc_id"),
                    F.posexplode(toks).alias("pos", "w"))
          .withColumn("_flag", (_hash60(F.col("w")) % 8 == 0)
                      .cast("int")))
    wc = (Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    chunked = ex.withColumn("chunk_idx", F.sum("_flag").over(wc))
    return (chunked.groupBy("doc_id", "chunk_idx")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.md5(F.concat_ws(
                     " ", F.transform(F.array_sort(F.collect_list(
                         F.struct("pos", "w"))), lambda s: s["w"])))
                 .alias("chunk_md5"))
            .withColumn("chunk_idx", F.col("chunk_idx").cast("long")))


def cms_frequencies(df: DataFrame) -> DataFrame:
    """Count-Min sketch frequency estimation (Cormode-Muthukrishnan),
    verified against exact counts: a 4 x 64 counter matrix where row
    j buckets tokens by md5(j:token) % 64; a token's estimate is
    the MIN over rows of its bucket sums. Deterministic given the
    hash, so — like the KMV sketch — the DuckDB oracle replays the
    whole sketch bucket-for-bucket. The CMS invariant est >= exact
    (one-sided error) is returned as a checkable column.

    Shape: ONE corpus explode into the exact vocab count (map-side
    combined); every vocab row fans out to its 4 (row, bucket) pairs
    (a posexplode over a 4-element array — 4 x vocab, still
    map-local). The sketch is a 256-row grouped sum of
    ``exact`` over those pairs — a cell is the sum over its bucket's
    words of their counts, the same total as counting raw tokens —
    tiny and broadcast back; vocab estimates join it per row and take
    the grouped min. Both uses of the vocab pairs run one plan, so the
    corpus is read once and nothing is persisted. At 100 TB the sketch
    stays 256 counters — that IS the point of the sketch."""
    buckets = F.array(*[
        (_hash60(F.concat_ws(":", F.lit(str(j)), F.col("w"))) % 64)
        .alias(f"b{j}")
        for j in range(4)])
    vocab = (df.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
             .groupBy("w").agg(F.count("*").cast("long").alias("exact")))
    vb = (vocab.select("w", "exact",
                       F.posexplode(buckets).alias("row", "bucket")))
    sketch = (vb.groupBy("row", "bucket")
              .agg(F.sum("exact").cast("long").alias("cell")))
    est = (vb.join(F.broadcast(sketch), ["row", "bucket"])
           .groupBy("w", "exact")
           .agg(F.min("cell").alias("cms_est")))
    return est.select("w", "exact", "cms_est",
                      (F.col("cms_est") - F.col("exact")).cast("long")
                      .alias("overcount"))


@cache_scope()
def bpe_learn(df: DataFrame) -> list[tuple[int, str, str, int]]:
    """Learn the top-8 byte-pair-encoding merges from the corpus —
    the tokenizer-training step of an LLM data pipeline (Sennrich et
    al. 2016). Classic char-level BPE over the WORD FREQUENCY table:
    each iteration counts adjacent symbol pairs weighted by word
    frequency, merges the argmax pair (count desc, pair asc — a total
    order, so the learned vocabulary is deterministic), and rewrites
    the symbol sequences with a greedy left-to-right fold.

    Returns [(rank, left, right, count)] — a driver-side list: each
    merge is one aggregate + one argmax ACTION on the VOCAB-sized
    frame (tokenizer training is an offline loop by nature; the
    corpus is scanned exactly once, for the word counts). The
    sequence rewrite is a per-row HOF fold — no shuffle. At 100 TB
    the iteration cost is bounded by |vocab|, not corpus size. Runs in
    its own cache_scope: what the loop still holds cached is released
    before the list returns."""
    # words is PERSISTED so recompute of any child stops at the
    # vocab-sized frame instead of re-scanning the corpus (the r5
    # unpersist ordering dropped the only cached ancestor before the
    # child materialized, so every merge re-ran the corpus scan +
    # word-count shuffle — the ADVICE-flagged contradiction of the
    # 'corpus is scanned exactly once' contract).
    words = cached(df.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
                   .groupBy("w").agg(F.count("*").cast("long").alias("c")))
    chars = F.filter(F.split(F.col("w"), ""), lambda s: s != "")
    seqs = cached(words.select(
        "c", F.concat(chars, F.array(F.lit("</w>"))).alias("syms")))
    prev = None
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(8):
        pairs = seqs.select(
            "c", F.explode(F.when(
                F.size("syms") >= 2,
                F.transform(F.sequence(F.lit(0), F.size("syms") - 2),
                            lambda i: F.struct(
                                F.element_at("syms", i + 1).alias("l"),
                                F.element_at("syms", i + 2).alias("r"))))
                .otherwise(F.array().cast(
                    "array<struct<l:string,r:string>>"))).alias("p"))
        best = (pairs.groupBy("p.l", "p.r")
                .agg(F.sum("c").cast("long").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(1).collect())
        if not best:
            break
        a, b, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        merges.append((rank, a, b, int(cnt)))
        ab = a + b
        fold = F.aggregate(
            "syms", F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (s == b),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.lit(ab))))
            .otherwise(F.concat(acc, F.array(s))))
        # the new frame is persisted LAZILY; unpersisting its parent
        # here would drop the only cached ancestor before the child
        # ever materializes (the next collect would recompute the
        # whole lineage). Defer: drop the GRANDPARENT, which the next
        # collect no longer reads.
        nxt = cached(seqs.select("c", fold.alias("syms")))
        if prev is not None:
            prev.unpersist()
        prev, seqs = seqs, nxt
    return merges


def minhash_accuracy(df: DataFrame) -> DataFrame:
    """MinHash sketch-accuracy audit (the third of the sketch trilogy,
    after KMV cardinality and CMS frequency): for every pair with
    EXACT bigram Jaccard >= 0.1, report the 8-permutation
    signature-equality estimate (matching slots / 8) beside the exact
    value and the absolute error — the table that justifies a
    permutation count before an LSH campaign. E[est] = exact by
    min-wise hashing; with 8 permutations the estimate quantizes to
    eighths.

    Caller bounds the input (modulo subset — the ngram_jaccard
    precedent): the pair join is all-pairs BY DESIGN because the audit
    wants true negatives too, and all-pairs is only sane on a bounded
    sample. Signatures and shingle sets compute once each; est/exact
    arithmetic is per-pair expressions; est uses /8 (a power of two)
    so the division is float-exact in both engines."""
    sig = minhash_signature(df)
    sh = df.select(F.col("doc_id"),
                   F.array_distinct(word_shingles(F.col("text"), 2))
                   .alias("sh")) \
           .filter(F.size("sh") > 0)
    # persisted: the all-pairs self-join references base on BOTH sides;
    # unpersisted, the signature aggregate and the shingle arrays are
    # each computed twice. The frame is |subset| rows (the caller caps
    # the input), so the cache is audit-sized. The caller's
    # cache_scope releases it.
    base = cached(sig.join(sh, "doc_id"))
    a = base.select(*[F.col(c).alias(f"a_{c}") for c in base.columns])
    b = base.select(*[F.col(c).alias(f"b_{c}") for c in base.columns])
    pairs = a.join(b, F.col("a_doc_id") < F.col("b_doc_id"))
    eq = sum(F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
             for i in range(8))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    exact = inter.cast("double") / union.cast("double")
    return (pairs.select(F.col("a_doc_id").alias("id_a"),
                         F.col("b_doc_id").alias("id_b"),
                         F.round(eq.cast("double") / 8, 4)
                         .alias("est_jaccard"),
                         F.round(exact, 4).alias("exact_jaccard"))
            .filter(F.col("exact_jaccard") >= 0.1)
            .withColumn("abs_err",
                        F.round(F.abs(F.col("est_jaccard")
                                      - F.col("exact_jaccard")), 4)))

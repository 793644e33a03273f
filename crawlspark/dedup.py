"""Dedup / membership / change detection (SURVEY §2.3 — the engine's heart).

Re-expresses the reference's Redis-keyed state machine
(internal/common/dedup/deduplicator.go) as joins over a salted,
snapshot-committed ``seen`` table, plus a partitioned bloom-filter fast
path and simhash near-dup detection (north_rule upgrades).

Scale design (10^10-URL frontier):
- The per-job Redis round-trip (deduplicator.go:49-67, the reference's
  scalability ceiling) becomes ONE shuffle: candidates LEFT JOIN seen
  on (source, id).
- ``seen`` is salted by xxhash64(host) % N_SALTS so one hot domain
  (Zipf top host owns ~30% of URLs) spreads over N_SALTS buckets in
  the membership layer; politeness grouping stays keyed by TRUE host
  (frontier.py) — salting only where skew hurts, never where semantics
  need the real key.
- Bloom fast path: per-salt blooms built distributively with
  applyInPandas and stored like ``seen``, as layers (scalable-bloom
  style, Almeida et al. 2007): a compacted base sized to the surviving
  keys plus one append layer per enqueuing wave, each sized to that
  wave's seen delta — a wave writes O(delta) bloom bytes, never the
  whole filter. Probed via COGROUP on salt: the cogroup hash-exchanges
  EVERY stored layer row, bit arrays included, on every probe (the
  driver probes only on a wave with list links, the one side that has
  candidate keys), and each probe task then deserializes its own
  salt's layers. At 10^10 keys and fpp 0.01 (~9.6 bits/key) the base
  is ~12 GB across N_SALTS = 16 salts => ~6.3e8 keys and ~750 MB per
  salt bucket per task — never collected to the driver, but the whole
  filter crosses a shuffle per probe.
- TTL without Redis: lazy expiry — reads filter expires_at >= now;
  a compaction wave physically drops expired rows (same observable
  semantics as Redis per-key TTL, deduplicator.go:76-84) and rebuilds
  the bloom base from the surviving keys, folding the wave layers away.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .session import cached

# One salt modulus for the seen table, its blooms and every probe of
# them, so a probe can never salt keys differently from the tables.
N_SALTS = 16
# D2 default TTL when a job carries no future expiry (deduplicator.go:72-89)
DEFAULT_TTL_DAYS = 30
# bloom target false-positive rate (~9.6 bits/key)
BLOOM_FPP = 0.01

STATUS_NEW = "NEW"
STATUS_UPDATED = "UPDATED"
STATUS_UNCHANGED = "UNCHANGED"


def salt_of(host: Column) -> Column:
    """Membership-layer salt (north_rule): xxhash64(host) % N_SALTS."""
    return F.pmod(F.xxhash64(host), F.lit(N_SALTS)).cast("int")


def url_hash(source: Column, id_: Column) -> Column:
    """64-bit key hash of the reference's Redis key
    '{prefix}:{source}:{id}' (deduplicator.go:123-125)."""
    return F.xxhash64(F.concat_ws(":", source, id_))


def seen_live(seen: DataFrame, now: Column | None = None) -> DataFrame:
    """Lazy TTL expiry: rows past expires_at read as unseen
    (Redis TTL equivalence, deduplicator.go:76-84)."""
    now = F.current_timestamp() if now is None else now
    return seen.filter(F.col("expires_at").isNull() | (F.col("expires_at") > now))


def classify(candidates: DataFrame, seen: DataFrame,
             now: Column | None = None, broadcast: bool = True,
             keys: DataFrame | None = None) -> DataFrame:
    """D1 three-way change detection (deduplicator.go:49-67):
    missing -> NEW; stored != last_updated_on -> UPDATED; else UNCHANGED.

    candidates: needs (source, id, last_updated_on). Adds ``status``.

    SHUFFLE SHAPE (the 100 TB invariant): candidates is the wave-
    bounded side, seen is the 10^10-key state side. A plain left join
    would hash-exchange the ENTIRE seen table every wave. Instead seen
    only ever STREAMS (column-pruned scan, zero exchange), probed ONCE:
      hit_vals = seen ⋉ broadcast(candidate KEYS)      (semi, streamed)
      out      = candidates ⟕ broadcast(hit_vals)     (status compare)
    A semi join never fans out on duplicate build keys, so the key set
    needs no distinct (no shuffle), and seen is unique per key, so
    hit_vals holds <=1 row per candidate key. Only (source, id[,
    last_updated_on]) triples are ever broadcast — never full candidate
    rows (a list-heavy wave's payload columns would press the 8 GB
    broadcast hard limit; ADVICE r3) — and the candidate frame itself
    never shuffles either.

    keys narrows the broadcast key set (default: every candidate key).
    A key left out finds no seen row and reads NEW, so it may omit only
    keys known to be unseen — classify_with_bloom passes the bloom hits.

    broadcast=False is the escape hatch for a wave whose KEY SET
    alone outgrows the driver: the same left join unhinted (both sides
    hash-exchange; seen pays a full shuffle) with identical output —
    degradation, not failure.

    NULL semantics match the reference's Redis string compare: presence
    is the join match itself (a stored NULL value is still *seen*), and
    value comparison is null-safe — candidate NULL vs stored non-NULL
    (or vice versa) is UPDATED, NULL vs NULL is UNCHANGED
    (deduplicator.go:60-66: the Redis GET distinguishes key-missing
    from empty-value).
    """
    s = (seen_live(seen, now)
         .select("source", "id", F.col("last_updated_on").alias("_seen_val")))
    if broadcast:
        keys = candidates if keys is None else keys
        s = s.join(F.broadcast(keys.select("source", "id")),
                   ["source", "id"], "left_semi")
    s = s.withColumn("_seen", F.lit(True))
    joined = candidates.join(F.broadcast(s) if broadcast else s,
                             ["source", "id"], "left")
    return joined.withColumn(
        "status",
        F.when(F.col("_seen").isNull(), F.lit(STATUS_NEW))
        .when(~F.col("_seen_val").eqNullSafe(F.col("last_updated_on")),
              F.lit(STATUS_UPDATED))
        .otherwise(F.lit(STATUS_UNCHANGED))
    ).select(*candidates.columns, "status")


def expires_at_expr(expired_on: Column, now: Column | None = None) -> Column:
    """D2 TTL arithmetic (deduplicator.go:72-89): ttl = until(expired_on);
    if <= 0 use DEFAULT_TTL_DAYS; then +24h buffer."""
    now = F.current_timestamp() if now is None else now
    base = F.when(expired_on > now, expired_on).otherwise(
        now + F.make_interval(days=F.lit(DEFAULT_TTL_DAYS)))
    return base + F.make_interval(days=F.lit(1))


def seen_delta(emitted: DataFrame, now: Column | None = None) -> DataFrame:
    """D2 MarkSeenWithTTL, delta form: emit ONLY the wave's new/updated
    seen rows (O(delta) — never touches the stored seen table). The
    MERGE semantics (last-write-wins on (source,id), the Redis SET of
    deduplicator.go:69-89) resolve at read time via the driver's
    seen_view window + periodic compaction — the Iceberg
    merge-on-read analogue.

    emitted: (source, id, host, last_updated_on[, expired_on timestamp]).
    """
    cols = ["source", "id", "url_hash", "last_updated_on", "expires_at", "salt"]
    exp = F.col("expired_on") if "expired_on" in emitted.columns \
        else F.lit(None).cast("timestamp")
    return emitted.select(
        "source", "id",
        url_hash(F.col("source"), F.col("id")).alias("url_hash"),
        F.col("last_updated_on"),
        expires_at_expr(exp, now).alias("expires_at"),
        salt_of(F.col("host")).alias("salt"),
    ).select(*cols)


def content_hash(col: Column) -> Column:
    """D4 (deduplicator.go:127-130): sha256, first 16 bytes as 32 hex chars.
    Built-in — no UDF."""
    return F.substring(F.sha2(col, 256), 1, 32)


def exact_dedup(df: DataFrame) -> DataFrame:
    """Content-hash exact dedup: keep the minimum-url row per text
    hash (deterministic winner), one hash-aggregate shuffle."""
    h = content_hash(F.col("text")).alias("_chash")
    winners = (df.select(h, F.col("url").alias("_k"))
                 .groupBy("_chash").agg(F.min("_k").alias("url")))
    return df.join(winners, "url", "left_semi")


# ---------------------------------------------------------------------------
# Bloom fast path (D1 pre-filter)
# ---------------------------------------------------------------------------
def bloom_params(n: int) -> tuple[int, int]:
    """(m bits, k hashes) for n keys at false-positive rate BLOOM_FPP."""
    n = max(n, 1)
    m = int(math.ceil(-n * math.log(BLOOM_FPP) / (math.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _bloom_positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """k positions per key via double hashing h1 + i*h2 (Kirsch-
    Mitzenmacher); vectorized, deterministic."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = (h ^ (h >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD) & np.uint64(0xFFFFFFFFFFFFFFFF)
    h2 = h2 | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(m)).astype(np.int64)


BLOOM_SCHEMA = "salt int, m long, k int, bits binary, n_keys long"


def build_blooms(seen: DataFrame) -> DataFrame:
    """Build one bloom per salt bucket, distributively
    (groupBy(salt).applyInPandas), each sized by bloom_params to the
    keys of its bucket. Returns a Spark DataFrame (salt, m, k, bits,
    n_keys) — never collected to the driver; the probe side cogroups on
    salt so each task touches exactly one salt's bits (the 10^10-key
    design point is ~750 MB per salt bucket over N_SALTS = 16 salts,
    which must not be closure-shipped or broadcast in aggregate).

    The driver stores the result as one bloom layer: built from a wave's
    seen delta it is that wave's append layer, built from the compacted
    seen base it is the new base layer."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf["url_hash"].to_numpy()
        m, k = bloom_params(len(hashes))
        bits = np.zeros(m // 64, dtype=np.uint64)
        pos = _bloom_positions(hashes, m, k).ravel()
        np.bitwise_or.at(bits, pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64))
        return pd.DataFrame({"salt": [int(pdf["salt"].iloc[0])], "m": [m],
                             "k": [k], "bits": [bits.tobytes()],
                             "n_keys": [len(hashes)]})

    return (seen.select("salt", "url_hash")
            .groupBy("salt")
            .applyInPandas(build, schema=BLOOM_SCHEMA))


def merge_blooms(prev: DataFrame, delta: DataFrame) -> DataFrame:
    """OR-merge two bloom tables built at the SAME m/k per salt:
    per-salt bitwise OR. The wave path no longer merges (it appends a
    layer per wave, see build_blooms); perfbench's tracer still patches
    this name."""
    both = (prev.select("salt", "m", "k", "bits", "n_keys")
            .unionByName(delta.select("salt", "m", "k", "bits", "n_keys")))

    def orr(pdf: pd.DataFrame) -> pd.DataFrame:
        ms = pdf["m"].unique()
        if len(ms) != 1:
            raise ValueError(
                f"bloom m mismatch in salt {pdf['salt'].iloc[0]}: {ms}")
        acc = np.zeros(int(ms[0]) // 64, dtype=np.uint64)
        for b in pdf["bits"]:
            acc |= np.frombuffer(b, dtype=np.uint64)
        return pd.DataFrame({"salt": [int(pdf["salt"].iloc[0])],
                             "m": [int(pdf["m"].iloc[0])],
                             "k": [int(pdf["k"].iloc[0])],
                             "bits": [acc.tobytes()],
                             "n_keys": [int(pdf["n_keys"].sum())]})

    return both.groupBy("salt").applyInPandas(orr, schema=BLOOM_SCHEMA)


def bloom_might_contain(candidates: DataFrame, blooms: DataFrame) -> DataFrame:
    """Adds ``might_contain`` (false => definitively NEW, skip the join).
    candidates: needs (url_hash, salt). blooms: one or more layer rows
    per salt, each with its own m/k; a key hits when any layer of its
    salt contains it (no false negatives: every seen key was added to
    some layer). Each layer is built at BLOOM_FPP, so with L layers the
    false-positive rate is at most L x BLOOM_FPP (union bound); the
    driver's probes see L <= 1 + the enqueuing waves since the last
    compaction.

    Distribution: candidates COGROUP blooms on salt. Both sides are
    hash-exchanged on salt, so every probe shuffles every stored layer
    row (the whole filter), also when ``candidates`` is empty, so the
    driver calls it only on a wave with list links; each task then
    deserializes its salt's bit arrays (no driver collect, no closure
    capture)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + ", might_contain boolean"

    def probe(cand: pd.DataFrame, bl: pd.DataFrame) -> pd.DataFrame:
        hashes = cand["url_hash"].to_numpy().astype(np.uint64)
        hit = np.zeros(len(cand), dtype=bool)  # no layer: all new
        for raw, m, k in zip(bl["bits"], bl["m"], bl["k"]):
            bits = np.frombuffer(raw, dtype=np.uint64)
            in_layer = np.ones(len(cand), dtype=bool)
            for row in _bloom_positions(hashes, int(m), int(k)):
                in_layer &= (bits[row // 64] >> (row % 64).astype(np.uint64)) & np.uint64(1) != 0
            hit |= in_layer
        return cand.assign(might_contain=hit)

    return (candidates.groupBy("salt")
            .cogroup(blooms.groupBy("salt"))
            .applyInPandas(probe, schema=out_schema))


def classify_with_bloom(candidates: DataFrame, seen: DataFrame,
                        blooms: DataFrame, now: Column | None = None
                        ) -> DataFrame:
    """D1 with the bloom pre-filter: only the keys the bloom may contain
    enter the seen semi join's broadcast; a bloom miss cannot match a
    seen row, so it comes out NEW from the same left join. The probe
    reads key columns only (source, id, url_hash, salt), never the
    candidate payload, and nothing is persisted. Keys are salted with
    N_SALTS, the modulus seen_delta builds the seen and bloom tables
    with."""
    keys = candidates.select(
        "source", "id",
        url_hash(F.col("source"), F.col("id")).alias("url_hash"),
        salt_of(F.col("host")).alias("salt"))
    hits = bloom_might_contain(keys, blooms).filter(F.col("might_contain"))
    return classify(candidates, seen, now, keys=hits)


# ---------------------------------------------------------------------------
# D5 simhash near-dup (north_rule upgrade; reference is exact-hash only)
# ---------------------------------------------------------------------------
def simhash64_py(text: str | None) -> int:
    """64-bit simhash: whitespace-tokenize lower(text); per-token 64-bit
    hash = first 16 hex chars of md5 (md5 chosen so the DuckDB oracle
    can reproduce it in SQL); signed bit-vote; sign -> bits.
    Returns a signed int64 (Spark LongType)."""
    import hashlib

    if not text:
        return 0
    tokens = text.lower().split()
    if not tokens:
        return 0
    votes = np.zeros(64, dtype=np.int64)
    for t in tokens:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:16], 16)
        bits = (h >> np.arange(64, dtype=np.uint64)) & 1
        votes += np.where(bits == 1, 1, -1)
    v = int(((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash64_expr(text_col) -> "F.Column":
    """Per-ROW md5 bit-vote simhash as one JVM Column expression —
    bit-for-bit equal to simhash64_py (pinned in tests/test_dedup.py
    and by the DuckDB oracle queries.SQL_DOC_SIMHASH).

    Shape: tokenize -> transform(md5) -> fold a 64-long bit-counter
    array (aggregate + zip_with over each token's little-endian binary
    string) -> sign bits reassembled into a signed long (bit 63
    contributes LONG_MIN; ties vote 0, as votes>0 in the pUDF).

    Why a higher-order-function projection and not the round-4
    explode + 64-sum groupBy (measured anti-result, sf0.1 5k docs /
    256k tokens, local[32]): the 65-buffer HashAggregate generated a
    huge Janino compile — COLD 9.1 s vs 2.3 s warm, and the driver
    always times queries cold — and needed a key shuffle plus a
    multiplicity join-back. This form is a narrow projection: no
    shuffle, no Python stage, tiny codegen (HOF lambdas evaluate as
    interpreted expressions inside the stage), and measured 2.2 s
    cold / 1.1 s warm on the same input. It also composes anywhere a
    Column does (streaming projections, withColumn chains) with no
    aggregation state.

    Implementation notes:
    - conv(hex16, 16, 2) treats the 16-hex-char token hash as
      UNSIGNED 64-bit (Spark conv semantics), so no signed-overflow
      split into hi/lo halves is needed.
    - split(reversed_bits, "") yields a trailing "" element in Spark;
      slice(..., 1, 64) pins exactly 64 chars — zip_with would
      otherwise null-pad the 64-counter accumulator and poison sums.
    - tokenize = split(lower(text), '\\s+') with empties filtered;
      Python str.split() splits on Unicode whitespace, Java regex \\s
      is ASCII-only — identical on the ASCII corpus and both test- and
      oracle-pinned.
    - empty/null text: zero tokens -> all counters 0, n = 0, so every
      sign bit is 0 and sh = 0, matching simhash64_py('') == 0.
    - 2^i for i <= 62 via pow(2.0, i).cast(long): exact (powers of
      two are exact doubles); computed once per DOC, not per token.
    """
    txt = F.lower(F.coalesce(text_col, F.lit("")))
    toks = F.filter(F.split(txt, r"\s+"), lambda x: x != F.lit(""))
    md5s = F.transform(toks, lambda t: F.md5(t))
    bits_of = lambda h: F.slice(
        F.split(F.reverse(F.lpad(F.conv(F.substring(h, 1, 16), 16, 2),
                                 64, "0")), ""), 1, 64)
    zero = F.array_repeat(F.lit(0).cast("long"), 64)
    ones = F.aggregate(
        md5s, zero,
        lambda acc, h: F.zip_with(acc, bits_of(h),
                                  lambda a, c: a + F.when(c == "1", 1)
                                  .otherwise(0)))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.lit(63))
    terms = F.zip_with(ones, idx, lambda o, i:
                       F.when(o * 2 > n,
                              F.when(i == 63, F.lit(-(1 << 63)).cast("long"))
                              .otherwise(F.pow(F.lit(2.0), i.cast("double"))
                                         .cast("long")))
                       .otherwise(F.lit(0).cast("long")))
    return F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)


def simhash64_frame(df: DataFrame, key_col: str = "url") -> DataFrame:
    """(key, sh) with sh the simhash64_expr of the text column — a pure
    zero-shuffle projection, so input multiplicity is preserved natively
    (every row hashes its own text; no grouped collapse, no join-back).
    simhash64_py is the cross-checked pure-Python twin."""
    return df.select(F.col(key_col).alias("key"),
                     simhash64_expr(F.col("text")).alias("sh"))


def simhash_near_dups(df: DataFrame) -> DataFrame:
    """Banded simhash near-dup pairs over (url, text): split the 64-bit
    simhash into 4 16-bit bands; candidate pairs share >=1 band
    (pigeonhole: hamming<=3 over 4 bands guarantees one identical
    band); verify hamming <= 3 on the full hash. Returns (key_a, key_b,
    hamming).

    Scale: the groupBy(band, band_val) shuffle is the only wide op;
    intra-bucket pairing is bounded by bucket size (hot buckets can be
    additionally length-salted upstream if text duplication is extreme).
    """
    base = simhash64_frame(df).withColumnRenamed("key", "k")
    return _banded_pairs(base)


def _banded_pairs(base: DataFrame) -> DataFrame:
    """Banded self-join over a (k, sh) frame -> (key_a, key_b, hamming):
    4 bands of 16 bits, verified at hamming <= 3."""
    bands, band_width = 4, 16
    mask = (1 << band_width) - 1
    bands_df = base.select(
        "k", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(F.col("sh"), b * band_width)
                     .bitwiseAND(F.lit(mask)).alias("val"))
            for b in range(bands)
        ])).alias("bv"),
    ).select("k", "sh", "bv.band", "bv.val")
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.val") == F.col("b.val"))
                    & (F.col("a.k") < F.col("b.k")))
             .select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"),
                     F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
             .distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.withColumn("hamming", hamming)
                 .filter(F.col("hamming") <= 3)
                 .select("key_a", "key_b", "hamming"))


def dup_clusters(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs — the step that turns
    pairwise LSH/simhash hits into KEEP-ONE-PER-CLUSTER decisions (a
    reference dedup pass keeps the minimum key of each component;
    reference parity: the crawler's exact-hash dedup is the 1-edge
    special case of this, deduplicator.go:39-67).

    nodes: one column `key` (every document, so singletons label
    themselves); pairs: (key_a, key_b), undirected. Returns
    (key, cluster) where cluster = the minimum key reachable.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels — one grouped min
    over the edge list + one join, O(E) exchange per round, rounds =
    component diameter. Near-dup graphs are overwhelmingly tiny
    star/clique components (diameter 1-2), so this converges in 2-4
    rounds; a corpus with adversarially long chains would swap this
    loop's body for large-star/small-star alternation (Kiveris et
    al., 'Connected Components in MapReduce and Beyond'), which uses
    the same per-round primitives. Convergence is checked exactly (no
    label changed); every round persists its labels and unpersists
    the previous so lineage stays bounded."""
    # Symmetrize via ONE explode, not a self-union: the union form
    # references `pairs` twice and the pair source is typically itself
    # an expensive banded-join pipeline — each reference re-runs it
    # (the same multi-reference trap measured on the LSH verify, r4).
    # Persisted because every round's neighbor-min re-reads the edges.
    edges = cached(pairs.select(F.explode(F.array(
        F.struct(F.col("key_a").alias("a"), F.col("key_b").alias("b")),
        F.struct(F.col("key_b").alias("a"), F.col("key_a").alias("b"))))
        .alias("e"))
        .select("e.a", "e.b").distinct())
    # r6: fold the FIRST propagation step into initialization. With
    # labels(0) = key, round one's neighbor-min is just min(neighbor
    # key) — computable directly from the edge list with no staged
    # frame, no convergence action. Star/clique components (the
    # overwhelming near-dup shape) then converge inside the loop's
    # FIRST confirmation pass instead of its second, saving one full
    # round of jobs; the fixpoint is unchanged (min-label propagation
    # reaches the same labels from any intermediate state of the
    # propagation lattice).
    nbr0 = edges.groupBy("a").agg(F.min("b").alias("nlbl"))
    labels = cached(nodes.join(nbr0, nodes["key"] == nbr0["a"], "left")
                    .select("key",
                            F.least(F.col("key"),
                                    F.coalesce(F.col("nlbl"), F.col("key")))
                            .alias("lbl")))
    persisted = labels  # unpersist must hit the EXACT persisted plan
    for _ in range(25):  # round cap; near-dup components need 2-4
        nbr = (edges.join(labels, edges["b"] == labels["key"])
               .groupBy("a").agg(F.min("lbl").alias("nlbl")))
        staged = cached(labels.join(nbr, labels["key"] == nbr["a"], "left")
                        .select(labels["key"],
                                F.least(F.col("lbl"),
                                        F.coalesce(F.col("nlbl"), F.col("lbl")))
                                .alias("_new"),
                                F.col("lbl").alias("_old")))
        # ONE full-scan aggregate both (a) answers the convergence
        # check and (b) materializes every cached partition of
        # `staged`. The previous filter(...).limit(1).count() could
        # stop after a few partitions, leaving the rest uncached so
        # the NEXT round's join re-ran this round's lineage for them.
        changed = staged.agg(F.sum(
            (F.col("_new") < F.col("_old")).cast("int")).alias("n")
        ).first()["n"] or 0
        persisted.unpersist()
        persisted = staged
        labels = staged.select("key", F.col("_new").alias("lbl"))
        if changed == 0:
            break
    # the final labels and the edges stay cached for the consumer's
    # action; the caller's cache_scope releases them
    return labels.select("key", F.col("lbl").alias("cluster"))


def simhash_dup_classes(df: DataFrame, key_col: str = "url"
                        ) -> tuple[DataFrame, DataFrame]:
    """D5 under EXTREME duplication — the hot-bucket form, over the
    text column.

    simhash_near_dups emits every qualifying pair, which is inherently
    O(g^2) OUTPUT for a group of g byte-identical docs (10k identical
    docs = 50M pairs x 4 bands): no join strategy can bound it, the
    semantics are quadratic. The scale form collapses exact-simhash
    groups to one representative BEFORE banding, so band buckets hold
    DISTINCT hashes only — the mass-duplication hot bucket disappears
    upstream of the pair join, and the banded join's input is bounded
    by the number of distinct simhashes (residual near-identical skew
    is handled by AQE skew-join splitting).

    Returns (classes, rep_pairs):
      classes: (key, rep, group_size) — every doc assigned to its
        exact-dup class (rep = min key of the class);
      rep_pairs: (key_a, key_b, hamming) — near-dup pairs BETWEEN
        class representatives (4 bands, hamming <= 3), verified on the
        full 64-bit hash.
    """
    base = simhash64_frame(df, key_col)
    w = Window.partitionBy("sh")
    classes = (base.withColumn("rep", F.min("key").over(w))
               .withColumn("group_size", F.count("*").over(w)))
    reps = (classes.filter(F.col("key") == F.col("rep"))
            .select(F.col("key").alias("k"), "sh"))
    rep_pairs = _banded_pairs(reps)
    return classes.select("key", "rep", "group_size"), rep_pairs


def keep_best_per_cluster(labels: DataFrame, scores: DataFrame) -> DataFrame:
    """Cluster-aware retention: given near-dup component labels
    (``labels``: key, cluster — dup_clusters output) and per-doc
    quality (``scores``: key, quality), mark exactly ONE survivor per
    cluster — the highest quality, minimum key on ties. This is the
    decision step every dedup pipeline ends with: the reference keeps
    first-seen (deduplicator.go:39-67 — arrival order IS its quality
    order); a training-data pipeline keeps the best-scored copy.

    Per-cluster argmax via ONE grouped max_by on the (quality, -key)
    struct — partial+final aggregated, so a pathological mega-cluster
    (a boilerplate page duplicated across half the crawl) is combined
    map-side instead of serializing through a single window-sort task
    — then an equi-join back on cluster. (quality, -key) is a total
    order, so the winner is deterministic at any parallelism."""
    j = (labels.join(scores, "key")
         .select("key", "cluster", "quality"))
    winners = (j.groupBy("cluster")
               .agg(F.max_by(
                   "key", F.struct(F.col("quality"),
                                   (-F.col("key")).alias("_nk")))
                   .alias("_best")))
    return (j.join(winners, "cluster")
            .select("key", "cluster", "quality",
                    (F.col("key") == F.col("_best")).alias("kept")))

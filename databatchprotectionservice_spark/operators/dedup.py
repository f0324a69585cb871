"""Deduplication operators over the ``documents`` table.

Four families, all first-class for LLM-training-data pipelines:

* **exact** — hash-groupBy on a canonical fingerprint; one shuffle on the
  hash, fully scalable.
* **MinHash + LSH** — word-3-gram shingles -> 8 min-hashes (salted md5,
  lexicographic min is a valid min-hash family under the hash order) ->
  4 bands of 2 rows -> band-bucket join produces candidate pairs ->
  exact Jaccard verification. At 100 TB the only shuffle is the band
  bucket exchange, whose fan-in is bounded by collision rate, and the
  quadratic verification runs only within buckets.
* **SimHash** — 16-bit sign-of-weighted-sum signature per document via an
  explode/aggregate (maps to two shuffles on doc_id; the signature is a
  compact sortable dedup key).
* **n-gram Jaccard** — the exact quadratic baseline (for verification and
  small tables; the LSH path is the scale path).

Everything is built-in Spark SQL expressions (split/transform/md5/
array_intersect) — no Python in the hot path — and each query has an
exactly-equivalent DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.registry import load_spread, prep, register
from .relational import round_ieee

N_HASHES = 8
N_BANDS = 4  # 2 rows per band
JACCARD_THRESHOLD = 0.8
#: below this many candidate edges, connected components run as
#: driver-side union-find (one Arrow collect) instead of iterative joins.
#: 1M edges ~= 16 MB as two int64 Arrow columns plus a ~24 MB Python
#: parent dict — comfortably inside any driver heap (math in SCALE.md)
CC_DRIVER_EDGE_LIMIT = 1_000_000
#: exact-jaccard inverted-index join: grams appearing in more than this
#: many documents are excluded from the self-join, bounding any single
#: join bucket at CAP² pairs (the Σ df² guard for stop-grams at 100 TB).
#: Chosen far above any df reachable at the oracle scales (≤5k docs), so
#: test/driver results are bit-identical with or without the guard
NGRAM_DF_CAP = 10_000
#: LSH band-bucket fan-in cap: a band bucket holding more than this many
#: signatures is excluded from the candidate self-join, bounding any
#: bucket's pair fan-out at CAP² (the same Σ df² guard NGRAM_DF_CAP
#: gives the exact-jaccard path). A bucket that hot at 100 TB is a
#: degenerate boilerplate cluster (e.g. millions of near-identical
#: license headers) that would otherwise make the band exchange
#: quadratic. Chosen far above any bucket reachable at oracle scale
#: (max duplicate-text group is 2 at sf0.1), so test/driver results are
#: bit-identical with or without the guard.
LSH_BUCKET_CAP = 10_000


def shingled(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, sg) with sg = distinct word-3-gram shingles
    (the shared ``textops._word_ngrams`` shape at width 3)."""
    from .textops import _word_ngrams  # lazy: keeps registration order

    return docs.select(
        "doc_id", _word_ngrams(F.col("text"), 3).alias("sg")
    )


_SHINGLE_ORACLE = """
            SELECT doc_id,
                   list_distinct([array_to_string(w[i:i+2], ' ')
                                  for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS sg
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents)
"""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h7): salted-md5 min-hash signature.

    Shape matters at scale: shingles are *exploded* to rows and the 8
    min-hashes computed as ``min(md5(salt||gram))`` aggregates — md5 and
    min run inside whole-stage codegen with map-side partial aggregation
    (8 hashes x shingles collapse to 8 values per doc before the one
    shuffle). The alternative — 8 interpreted higher-order ``transform``
    passes over materialized shingle arrays — is CodegenFallback and
    re-walks each array 8 times. Duplicate shingles don't need
    dedup first: min() is insensitive to multiplicity."""
    from .textops import _word_ngrams  # lazy: keeps registration order

    grams = _word_ngrams(F.col("text"), 3, distinct=False)
    exploded = docs.select("doc_id", F.explode(grams).alias("gram"))
    return exploded.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{h}|"), F.col("gram")))).alias(f"h{h}")
            for h in range(N_HASHES)
        ]
    )


def _signature_oracle() -> str:
    sig_cols = ",\n                   ".join(
        f"list_aggregate(list_transform(sg, s -> md5('{h}|' || s)), 'min') AS h{h}"
        for h in range(N_HASHES)
    )
    return f"""
            SELECT doc_id, sg,
                   {sig_cols}
            FROM ({_SHINGLE_ORACLE})
    """


def banded_guarded(
    sigs: DataFrame, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """(doc_id, band_idx, band_hash) band rows of a signature frame,
    CACHED pre-guard, with hot buckets (> ``bucket_cap`` members)
    removed by a broadcast anti-join.  The single implementation of
    the banding + hot-bucket guard shared by the batch LSH path
    (``lsh_candidate_pairs``) and the incremental index probe
    (``dedup_incremental_minhash``) — the two paths must band and
    guard IDENTICALLY or the incremental result drifts from the batch
    result it claims to mirror."""
    bands = F.array(
        *[
            F.md5(F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")))
            for b in range(N_BANDS)
        ]
    )
    banded = sigs.select(
        "doc_id", F.posexplode(bands).alias("band_idx", "band_hash")
    ).cache()
    hot = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") > F.lit(bucket_cap))
        .select("band_idx", "band_hash")
    )
    return banded.join(
        F.broadcast(hot), ["band_idx", "band_hash"], "left_anti"
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Band the signatures and self-join on (band_idx, band_hash).

    Hot-bucket guard: buckets larger than ``bucket_cap`` are dropped
    before the self-join (standard LSH practice — such a bucket carries
    no discriminating power and would produce a quadratic bucket in the
    band exchange). Dropping a bucket only removes that ONE band's
    votes; the other ``N_BANDS - 1`` bands still propose the pair, so
    only pairs whose every shared band is degenerate are affected.

    Cost shape (the round-5 version computed the count as a window
    aggregate inside the join subtree, which added a per-side sort AND
    re-ran the whole corpus-wide signature pipeline on both sides of
    the self-join — a measured 2.6x regression): ``banded`` is cached
    once (4 short rows per doc — orders of magnitude smaller than the
    corpus), hot buckets come from a map-side-combined
    ``groupBy.count`` over the cache whose shuffle carries only
    distinct (band_idx, band_hash) keys, and the guard is a broadcast
    anti-join — hot buckets are by construction a tiny set (each one
    needs > cap members). The signature pipeline therefore runs exactly
    once, and the self-join's two exchanges read from memory."""
    guarded = banded_guarded(sigs, bucket_cap)
    a = guarded.alias("a")
    b = guarded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _cached_candidates(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) LSH candidate pairs of ``docs``, cached: the set
    is tiny (band collisions only) but its lineage is the corpus-wide
    signature pipeline, and every caller reads it more than once, so
    without the cache the explode + min-aggregate would run per read."""
    return lsh_candidate_pairs(minhash_signatures(docs)).cache()


@register(
    "dedup_exact_stats",
    oracle="""
        SELECT
            CAST(sum(cnt) AS BIGINT) AS n_docs,
            count(*) AS n_distinct_text,
            count(DISTINCT fp) AS n_distinct_fp,
            CAST(sum(cnt) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups
        FROM (
            SELECT md5(text) AS h_text, md5(lower(trim(text))) AS fp,
                   count(*) AS cnt
            FROM documents
            GROUP BY 1, 2
        )
    """,
    description="exact dedup via canonical-fingerprint hash aggregate",
)
def dedup_exact_stats(spark, sf_dir):
    """Two-level aggregate: group on (md5(text), canonical fp) first, so
    the only shuffle carries 16-byte digests — never document text — and
    the naive plan's 3x Expand (one copy per DISTINCT) disappears. At
    100 TB the first level map-side combines to ~n_distinct rows."""
    prep(spark)
    d = load_spread(spark, sf_dir, "documents")
    g = (
        d.select(
            F.md5("text").alias("h_text"),
            F.md5(F.lower(F.trim("text"))).alias("fp"),
        )
        .groupBy("h_text", "fp")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return g.agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct_text"),
        F.countDistinct("fp").alias("n_distinct_fp"),
        (F.sum("cnt") - F.countDistinct("fp"))
        .cast("bigint")
        .alias("n_exact_dups"),
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH sigs AS ({_signature_oracle()}),
        bands AS (
            SELECT doc_id, b.band_idx, b.band_hash
            FROM sigs, LATERAL (
                SELECT * FROM (VALUES
                    (0, md5(h0 || h1)),
                    (1, md5(h2 || h3)),
                    (2, md5(h4 || h5)),
                    (3, md5(h6 || h7))
                ) AS t(band_idx, band_hash)
            ) b
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx
             AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               floor(len(list_intersect(sa.sg, sb.sg)) * 1.0
                     / len(list_distinct(sa.sg || sb.sg)) * 10000.0 + 0.5)
               / 10000.0 AS jaccard
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b
        WHERE len(list_intersect(sa.sg, sb.sg)) * 1.0
              / len(list_distinct(sa.sg || sb.sg)) >= {JACCARD_THRESHOLD}
    """,
    description="MinHash-LSH near-dup detection with exact Jaccard verify",
)
def dedup_minhash_lsh(spark, sf_dir):
    """Exact-Jaccard verification runs on *exploded* gram rows, all in
    whole-stage codegen: |A∩B| is a count over (pair ⋈ grams_a ⋈ grams_b)
    and |A∪B| = |A|+|B|−|A∩B| from precomputed per-doc sizes. The old
    shape — joining full shingle arrays onto every candidate and walking
    them with ``array_intersect``/``array_union`` — shuffled every doc's
    materialized array and evaluated interpreted collection ops per pair.
    Here the only gram rows that move are those of candidate docs
    (broadcast semi-join filter), so verification cost scales with the
    candidate set, not the corpus."""
    prep(spark)
    docs = load_spread(spark, sf_dir, "documents")
    # three consumers below: two broadcasts and the final join
    cand = _cached_candidates(docs)
    # distinct gram rows + per-doc shingle count, computed row-local
    # (array_distinct before explode — no shuffle)
    sh = shingled(docs)
    g = sh.select(
        "doc_id", F.size("sg").alias("n"), F.explode("sg").alias("gram")
    )
    # candidate pairs are tiny relative to the corpus: broadcast them to
    # prune the gram table before any wide join
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # cached for the same reason: consumed as both join sides (ga, gb),
    # and bounded by the candidate docs' grams, not the corpus
    gc = g.join(F.broadcast(cand_docs), "doc_id").cache()
    ga = gc.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "gram"
    )
    gb = gc.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "gram"
    )
    inter = (
        F.broadcast(cand)
        .join(ga, "doc_a")
        .join(gb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") * F.lit(1.0) / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", round_ieee(F.col("jaccard")).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH sh AS ({_SHINGLE_ORACLE})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               floor(len(list_intersect(a.sg, b.sg)) * 1.0
                     / len(list_distinct(a.sg || b.sg)) * 10000.0 + 0.5)
               / 10000.0 AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sg, b.sg)) * 1.0
              / len(list_distinct(a.sg || b.sg)) >= 0.5
    """,
    description="exact all-pairs n-gram Jaccard via inverted-index join "
    "(every qualifying pair, no LSH approximation)",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact Jaccard over ALL document pairs — the verification baseline
    for the LSH path — computed as an inverted-index self-join: a pair
    can only have jaccard > 0 if it shares a gram, so joining the
    exploded (doc_id, gram) table with itself on gram enumerates exactly
    the candidate pairs, |A∩B| is a codegen count aggregate, and
    |A∪B| = |A|+|B|−|A∩B|. Replaces a true cross join (n² array
    intersections — 42.9 s at sf0.1) with work proportional to
    Σ_gram df(gram)², the classic similarity-join bound.

    The Σ df² bound has one failure mode at 100 TB: a stop-gram shared
    by millions of documents makes one join bucket quadratic. The
    document-frequency cap drops grams with df > ``NGRAM_DF_CAP`` from
    the join, bounding any bucket at CAP² rows. Conservative semantics:
    excluded grams only remove intersection evidence, never add it (a
    pair's computed jaccard can only go down). The cap is far above any
    possible df at the oracle's scales (≤5k documents), so the oracle's
    plain set-jaccard SQL states identical results wherever the oracle
    runs; at production scale the cap is the documented stop-gram
    knob."""
    prep(spark)
    docs = load_spread(spark, sf_dir, "documents")
    sh = shingled(docs)
    # cached: the exploded gram table feeds three consumers — the df
    # aggregate and both sides of the self-join — so without the cache
    # the corpus-wide shingling (split + transform + array_distinct +
    # explode) runs three times. Same justification as the two caches in
    # dedup_minhash_lsh; the cached rows are (long, int, short string).
    # Lifecycle: the cache lives until the session drops it — bench.py
    # clears it between queries, and its min-of-N timings are therefore
    # cache-warm by design (documented there).
    g = sh.select(
        "doc_id", F.size("sg").alias("n"), F.explode("sg").alias("gram")
    ).cache()
    # df guard: grams seen in more than NGRAM_DF_CAP docs are dropped
    # before the self-join; the df aggregate and the join shuffle on the
    # same key, so the exchange is shared
    df_ok = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df_g"))
        .filter(F.col("df_g") <= NGRAM_DF_CAP)
        .select("gram")
    )
    g = g.join(df_ok, "gram")
    ga = g.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "gram"
    )
    gb = g.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "gram"
    )
    inter = (
        ga.join(gb, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") * F.lit(1.0) / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", round_ieee(F.col("jaccard")).alias("jaccard"))
    )


# 16-bit SimHash: per word w, h16(w) = first 4 md5 hex digits as an int;
# signature bit b is set when sum over words of (bit_b(h16)*2 - 1) > 0.
_HEX_TO_INT_SPARK = (
    "(locate(substr(md5(word), 1, 1), '0123456789abcdef') - 1) * 4096"
    " + (locate(substr(md5(word), 2, 1), '0123456789abcdef') - 1) * 256"
    " + (locate(substr(md5(word), 3, 1), '0123456789abcdef') - 1) * 16"
    " + (locate(substr(md5(word), 4, 1), '0123456789abcdef') - 1)"
)
_HEX_TO_INT_DUCK = (
    "(strpos('0123456789abcdef', substr(md5(word), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(word), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(word), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(word), 4, 1)) - 1)"
)


def _simhash_bits_sql(h16_expr: str, acc: str) -> str:
    """SUM-aggregate expressions for the 16 sign counters."""
    return ", ".join(
        f"sum(((({h16_expr}) // {1 << b}) % 2) * 2 - 1) AS {acc}{b}"
        for b in range(16)
    )


@register(
    "dedup_simhash",
    oracle=f"""
        WITH wordhash AS (
            SELECT doc_id, ({_HEX_TO_INT_DUCK}) AS h16
            FROM (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
                FROM documents
            )
        ),
        counters AS (
            SELECT doc_id,
                   {", ".join(f"sum(((h16 // {1 << b}) % 2) * 2 - 1) AS c{b}" for b in range(16))}
            FROM wordhash GROUP BY doc_id
        )
        SELECT doc_id,
               {" + ".join(f"(CASE WHEN c{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))} AS simhash
        FROM counters
    """,
    description="16-bit SimHash signature per document",
)
def dedup_simhash(spark, sf_dir):
    prep(spark)
    docs = load_spread(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("word"),
    )
    h16 = F.expr(_HEX_TO_INT_SPARK)
    counters = words.select("doc_id", h16.alias("h16")).groupBy("doc_id").agg(
        *[
            F.sum(((F.col("h16") / (1 << b)).cast("long") % 2) * 2 - 1).alias(f"c{b}")
            for b in range(16)
        ]
    )
    simhash = sum(
        [F.when(F.col(f"c{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(16)],
        start=F.lit(0),
    )
    return counters.select("doc_id", simhash.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# 60-bit SimHash + hamming-band near-dup pairs (Manku et al., WWW'07)
# ---------------------------------------------------------------------------
# 60 bits (15 md5 hex digits per word) instead of 64: every constructed
# value stays below 2^60, so BIGINT arithmetic is overflow-free in BOTH
# engines and the signature is a sum of distinct powers of two (exact in
# Spark and DuckDB alike). 16 bits is enough for a dedup KEY
# (dedup_simhash above) but banding a 16-bit space is degenerate at
# scale — each band would hold only 16 distinct values, so every bucket
# goes quadratic. 60 bits gives 4 bands x 15 bits (32k values/band).

SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 15 bits per band
HAMMING_MAX = 3  # pigeonhole: <= 3 differing bits -> >= 1 equal band


def _hex_digit_terms(engine: str) -> str:
    """h60 = int of the first 15 md5 hex digits, as a sum of per-digit
    strpos/locate terms — the same construction both engines evaluate
    exactly (the 16-bit simhash's proven pattern, widened)."""
    terms = []
    for i in range(15):
        weight = 16 ** (15 - 1 - i)
        if engine == "spark":
            pos = f"locate(substr(md5(word), {i + 1}, 1), '0123456789abcdef')"
        else:
            pos = f"strpos('0123456789abcdef', substr(md5(word), {i + 1}, 1))"
        terms.append(f"({pos} - 1) * CAST({weight} AS BIGINT)")
    return " + ".join(terms)


# bit extraction is SHIFTS only: h60 reaches 2^60, far past float53, so
# any `/` (double division in both engines) would corrupt high bits
def _bit_sql(engine: str, b: int) -> str:
    return (
        f"(shiftright(h60, {b}) % 2)"
        if engine == "spark"
        else f"((h60 >> {b}) % 2)"
    )


def _simhash60_counters_sql(engine: str) -> str:
    return ", ".join(
        f"sum({_bit_sql(engine, b)} * 2 - 1) AS c{b}"
        for b in range(SIMHASH_BITS)
    )


_SIMHASH60_VALUE_SQL = " + ".join(
    f"(CASE WHEN c{b} > 0 THEN CAST({1 << b} AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END)"
    for b in range(SIMHASH_BITS)
)


def simhash60(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit sign-of-weighted-sum signature, all in
    whole-stage codegen: one explode, 60 map-side-combined sum
    aggregates (one shuffle on doc_id), then a pure projection."""
    words = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    )
    h60 = F.expr(_hex_digit_terms("spark")).cast("long")
    counters = (
        words.select("doc_id", h60.alias("h60"))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.expr(f"{_bit_sql('spark', b)} * 2 - 1")).alias(
                    f"c{b}"
                )
                for b in range(SIMHASH_BITS)
            ]
        )
    )
    return counters.select(
        "doc_id", F.expr(_SIMHASH60_VALUE_SQL).alias("simhash")
    )


_SIMHASH60_ORACLE = f"""
        SELECT doc_id, {_SIMHASH60_VALUE_SQL} AS simhash
        FROM (
            SELECT doc_id, {_simhash60_counters_sql("duck")}
            FROM (
                SELECT doc_id, ({_hex_digit_terms("duck")}) AS h60
                FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(trim(text), '\\s+'))
                               AS word
                    FROM documents
                )
            )
            GROUP BY doc_id
        )
"""


@register(
    "dedup_simhash_hamming_pairs",
    oracle=f"""
        WITH sigs AS ({_SIMHASH60_ORACLE})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
    description="near-dup pairs via 60-bit SimHash hamming banding "
    "(Manku et al. WWW'07): 4x15-bit band buckets propose, exact "
    "bit_count verifies",
)
def dedup_simhash_hamming_pairs(spark, sf_dir):
    """All pairs within hamming distance <= 3 of each other's 60-bit
    SimHash. Pigeonhole completeness: 3 differing bits touch at most 3
    of the 4 bands, so every qualifying pair agrees on >= 1 band and is
    proposed by the band self-join — the oracle's all-pairs scan and
    this banded plan return IDENTICAL rows. At scale the only shuffle
    is the (band_idx, band_value) exchange; within-bucket pairing is
    quadratic only in bucket occupancy (32k values per band), the same
    Σ bucket² bound as the MinHash path, with the same cache shape:
    signatures are computed once and read back for banding and verify."""
    prep(spark)
    docs = load_spread(spark, sf_dir, "documents")
    # tiny frame (doc_id + one long per doc), three consumers below
    sigs = simhash60(docs).cache()
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    bands = F.array(
        *[
            F.expr(
                f"shiftright(simhash, {band_width * b}) % {1 << band_width}"
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    banded = sigs.select(
        "doc_id", F.posexplode(bands).alias("band_idx", "band_val")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("h_a")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("h_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", F.expr("bit_count(h_a ^ h_b)"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection
# ---------------------------------------------------------------------------

from .similarity import _DUCK_BUCKET, _DUCK_COS, _DUCK_NORM  # noqa: E402

# the synthetic embeddings are near-orthogonal (max in-bucket cosine
# ~0.49 at sf0.1), so "near-dup" here means the top ~1% most-similar
# candidate pairs rather than the ~1.0 of a corpus with true duplicates
COSINE_DUP_THRESHOLD = 0.35

_EMB_COS_ORACLE = (
    """
        WITH tagged AS (
            SELECT vec_id, embedding, ("""
    + _DUCK_BUCKET
    + """) AS bucket
            FROM embeddings
            WHERE """
    + _DUCK_NORM.format(c="embedding")
    + """ > 0
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               floor(("""
    + _DUCK_COS
    + """) * 10000.0 + 0.5) / 10000.0 AS cosine
        FROM (SELECT vec_id, embedding AS qe, bucket FROM tagged) a
        JOIN (SELECT vec_id, embedding AS ce, bucket FROM tagged) b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ("""
    + _DUCK_COS
    + f""") >= {COSINE_DUP_THRESHOLD}
    """
)


@register(
    "dedup_embedding_cosine",
    oracle=_EMB_COS_ORACLE,
    description="embedding-cosine near-dup: sign-LSH bucket candidates, "
    "exact cosine verify (the MinHash-LSH pattern on dense vectors)",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Near-duplicate vectors: candidate pairs only form inside a sign-LSH
    bucket (~256x pair reduction), then exact cosine filters. The only
    shuffle is the bucket exchange; within-bucket pairing is quadratic in
    bucket size, which concentration keeps small at scale — the dense-
    vector analogue of MinHash-LSH banding.  Expected bucket size still
    grows linearly with the corpus (256 fixed buckets), so within-bucket
    work is quadratic-by-intent; the guard refuses production-size
    inputs and names the k-means-bucketed twin, whose bucket count
    scales with the data."""
    from .similarity import _norm, bucket_column, cosine_prenormed, guard_allpairs

    prep(spark)
    emb = load_spread(spark, sf_dir, "embeddings")
    guard_allpairs(emb, "dedup_embedding_cosine", "semdedup_embeddings")
    # zero-norm vectors excluded (cosine undefined; ANSI division
    # guard — hostile-corpus sweep finding, r9)
    tagged = emb.select(
        "vec_id",
        "embedding",
        bucket_column(F.col("embedding")).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    ).filter(F.col("nrm") > 0)
    a = tagged.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("norm_a"),
        F.col("bucket").alias("bucket_a"),
    )
    b = tagged.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("norm_b"),
        F.col("bucket").alias("bucket_b"),
    )
    return (
        a.join(
            b,
            (F.col("bucket_a") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn(
            "cos",
            cosine_prenormed(
                F.col("qe"), F.col("ce"), F.col("norm_a"), F.col("norm_b")
            ),
        )
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", round_ieee(F.col("cos")).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Near-duplicate clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------

_CC_ORACLE = f"""
        WITH RECURSIVE sigs AS ({_signature_oracle()}),
        bands AS (
            SELECT doc_id, b.band_idx, b.band_hash
            FROM sigs, LATERAL (
                SELECT * FROM (VALUES
                    (0, md5(h0 || h1)),
                    (1, md5(h2 || h3)),
                    (2, md5(h4 || h5)),
                    (3, md5(h6 || h7))
                ) AS t(band_idx, band_hash)
            ) b
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx
             AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        und AS (
            SELECT doc_a AS a, doc_b AS b FROM cand
            UNION
            SELECT doc_b, doc_a FROM cand
        ),
        closure(a, b) AS (
            SELECT a, b FROM und
            UNION
            SELECT c.a, u.b FROM closure c JOIN und u ON c.b = u.a
        )
        SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
        FROM closure GROUP BY a
"""


@register(
    "dedup_connected_clusters",
    oracle=_CC_ORACLE,
    description="iterative min-label propagation: connected components "
    "over LSH candidate pairs (recursive-CTE oracle)",
)
def dedup_connected_clusters(spark, sf_dir):
    """Cluster near-duplicate candidates into components, assigning each
    doc the minimum doc_id of its component — the 'keep one per cluster'
    primitive of a dedup pipeline.

    Hybrid strategy (what a production dedup system does):

    * LSH candidate edges are SPARSE by construction (bounded by band
      collision rate), so up to ``CC_DRIVER_EDGE_LIMIT`` edges the
      component structure is solved with an O(E a(E)) driver-side
      union-find — one collect, one broadcast join back.
    * Above the limit, distributed min-label propagation: each round is
      one join + one min-aggregate over the edge set, rounds bounded by
      component diameter — the standard Pregel-style CC shape.

    Both paths produce identical (node, min-id-of-component) output."""
    prep(spark)
    docs = load_spread(spark, sf_dir, "documents")
    # both union branches below (and the distributed fallback's
    # per-round joins) consume it
    cand = _cached_candidates(docs)
    und = cand.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        cand.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    return connected_components(spark, und)


def connected_components(
    spark, und: DataFrame, driver_edge_limit: int = CC_DRIVER_EDGE_LIMIT
) -> DataFrame:
    """(src, dst) undirected edge set (both directions present) ->
    (doc_id, cluster_rep) with cluster_rep = min node id of the
    component. Driver union-find below ``driver_edge_limit`` edges,
    distributed min-label propagation above (``driver_edge_limit=0``
    forces the distributed path — the shape that runs at 100 TB)."""
    # ONE action decides the path AND fetches the edges: limit+1 rows via
    # Arrow (two int64 columns). The round-5 shape (count, then a second
    # toPandas job, then an unpersist that forced warm re-runs to rebuild
    # the whole edge set) paid three jobs for what one covers.
    if driver_edge_limit > 0:
        head = und.limit(driver_edge_limit + 1).toPandas()
        if len(head) <= driver_edge_limit:
            # .tolist() yields plain ints for the union-find dict
            edges = zip(head["src"].tolist(), head["dst"].tolist())
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for a, b in edges:
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min so the representative IS the min id
                    lo, hi = min(ra, rb), max(ra, rb)
                    parent[hi] = lo
            import pandas as pd

            # Arrow path (a local-list createDataFrame pickles through a
            # 32-task RDD job — measured 1.7 s for one row; ~0.1 s here)
            out = pd.DataFrame(
                [(n, find(n)) for n in parent],
                columns=["doc_id", "cluster_rep"],
            ).astype("int64")
            return spark.createDataFrame(out)
    # r16 round shape (guide §2.4 remove shuffles / §2.6 size to the
    # work, replacing the r15 checkpoint+count rounds that the driver
    # measured ANTI-scaling 0.51 at sf0.1 — per-round fixed cost, not
    # data, dominated):
    #
    # * weight-free SELF-LOOPS (v, v) ride in the edge leaf, so the
    #   round is ONE join + ONE min-aggregate — min over
    #   neighbors ∪ self IS least(own, neighbor-min), and the old
    #   left-join that re-attached the node's own rep disappears.
    # * the edge set is materialized ONCE, hash-partitioned on the
    #   probe key ``dst`` at a width derived from the EDGE COUNT (one
    #   partition per ~64k edges, capped at the session parallelism —
    #   scale-adaptive, not a local[32] constant): every round's join
    #   then reuses the leaf's partitioning and only the label side
    #   (component-count rows) shuffles.
    # * convergence rides the SAME action that materializes the round
    #   (persist + one sum(rep) aggregate): reps are per-node
    #   monotonically non-increasing, so the sum is strictly decreasing
    #   until the fixed point — sum unchanged <=> labels unchanged.
    #   One job per round, down from the r15 checkpoint job + count
    #   job.  The decimal cast keeps huge id sums exact.
    #
    # Iterative lineage still must not DOUBLE (the r7 lesson: a
    # self-referencing round re-walks a plan that doubles per
    # iteration); with labels referenced ONCE per round the plan grows
    # linearly, and a lineage-truncating localCheckpoint every 8
    # rounds bounds analysis cost for deep (long-path) graphs.  At
    # cluster scale swap ``localCheckpoint`` for ``checkpoint`` into
    # the reliable checkpoint dir — same semantics, durable blocks.
    und = und.localCheckpoint(eager=True)
    n_edges = und.count()
    width = max(
        1,
        min(spark.sparkContext.defaultParallelism, n_edges // 65_536 + 1),
    )
    nodes = und.select(F.col("src").alias("node")).distinct()
    edges_self = (
        und.unionByName(
            nodes.select(
                F.col("node").alias("src"), F.col("node").alias("dst")
            )
        )
        .repartition(width, "dst")
        .localCheckpoint(eager=True)
    )
    labels = edges_self.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("node"), F.col("src").alias("rep")
    )
    prev_sum = None
    converged = False
    cached = []
    # Min-label propagation converges in O(component diameter) rounds.
    # LSH near-dup graphs are overwhelmingly dense star/clique-ish
    # clusters (tiny diameter), but chained near-duplicates CAN form a
    # long path; if one exceeds the round cap we RAISE rather than
    # silently return a partial clustering (the pre-r7 code returned
    # whatever 20 rounds produced — a correctness bug found in the r7
    # self-review). A diameter > 64 component means the corpus needs
    # the O(log n) large-star/small-star CC algorithm — fail loudly and
    # say so instead of emitting wrong clusters.
    for rnd in range(64):
        labels = (
            edges_self.join(labels, edges_self.dst == labels.node)
            .groupBy("src")
            .agg(F.min("rep").alias("rep"))
            .select(F.col("src").alias("node"), "rep")
        ).persist()
        cached.append(labels)
        cur_sum = labels.agg(
            F.sum(F.col("rep").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        if prev_sum is not None and cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
        if rnd % 8 == 7:
            # truncate the linearly-growing lineage for deep graphs
            labels = labels.localCheckpoint(eager=True)
    if not converged:
        raise RuntimeError(
            "connected_components: min-label propagation did not "
            "converge within 64 rounds (a component's diameter exceeds "
            "the cap) — refusing to return a partial clustering; use "
            "the large-star/small-star formulation for such graphs"
        )
    out = labels.select(
        F.col("node").alias("doc_id"), F.col("rep").alias("cluster_rep")
    ).localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    return out


@register(
    "dedup_clusters_distributed",
    oracle=_CC_ORACLE,
    description="connected components via the DISTRIBUTED min-label "
    "propagation branch (driver union-find disabled) — the exact shape "
    "that runs above CC_DRIVER_EDGE_LIMIT at 100 TB",
)
def dedup_clusters_distributed(spark, sf_dir):
    """Same contract as ``dedup_connected_clusters`` but with the driver
    union-find path DISABLED (``driver_edge_limit=0``), so the Pregel-
    style min-label loop — the branch every 100 TB run takes, where the
    edge set exceeds any driver's memory — is itself oracle-verified,
    not just unit-tested. Each round is one join + one min-aggregate
    over the (cached) edge set; rounds are bounded by component
    diameter; no edge or label collection ever reaches the driver
    (``tests/test_plan_shapes.py`` pins the no-LocalTableScan plan)."""
    prep(spark)
    docs = load_spread(spark, sf_dir, "documents")
    # eager checkpoint BEFORE the two-branch union: a merely-cached cand
    # would be cold when the union's single job runs both branches
    # concurrently, and the cache-population race executes the whole
    # corpus-wide signature pipeline twice (measured: und
    # materialization cost ~2x the pipeline). The checkpointed RDD is
    # read twice instead.
    cand = lsh_candidate_pairs(minhash_signatures(docs)).localCheckpoint(
        eager=True
    )
    und = cand.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        cand.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    return connected_components(spark, und, driver_edge_limit=0)


@register(
    "dedup_keep_one",
    oracle="""
        SELECT source,
               count(*) AS n_kept,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS kept_bytes
        FROM (
            SELECT d.source, d.text
            FROM documents d
            JOIN (
                SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id
                FROM documents GROUP BY 1
            ) k ON d.doc_id = k.keep_id
        )
        GROUP BY source
    """,
    description="dedup materialization: keep min-doc_id per canonical "
    "fingerprint, report surviving corpus per source",
)
def dedup_keep_one(spark, sf_dir):
    """The actual dedup operator (not just detection): one survivor per
    canonical fingerprint. Shuffle inventory: one groupBy on the 16-byte
    fp (map-side combined to one row per distinct), one join back on
    doc_id — both scale-linear; the documents' text never shuffles in the
    groupBy, only in the final survivor join."""
    prep(spark)
    d = load_spread(spark, sf_dir, "documents")
    keepers = (
        d.select("doc_id", F.md5(F.lower(F.trim("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
        .select("keep_id")
    )
    kept = d.join(keepers, d.doc_id == keepers.keep_id)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.octet_length(F.encode("text", "UTF-8")))
        .cast("bigint")
        .alias("kept_bytes"),
    )


# ---------------------------------------------------------------------------
# Incremental MinHash index update: dedup the DELTA against the corpus
# ---------------------------------------------------------------------------

DELTA_MOD = 10
DELTA_REMAINDER = 7  # doc_id % 10 == 7 plays the "newly arrived" slice


def _est_sql(prefix_a: str, prefix_b: str) -> str:
    m = " + ".join(
        f"(CASE WHEN {prefix_a}.h{i} = {prefix_b}.h{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    return f"floor(({m}) * 1.0 / {N_HASHES}.0 * 10000.0 + 0.5) / 10000.0"


@register(
    "dedup_incremental_minhash",
    oracle=f"""
        WITH sigs AS ({_signature_oracle()}),
        bands AS (
            SELECT doc_id, b.band_idx, b.band_hash
            FROM sigs, LATERAL (
                SELECT * FROM (VALUES
                    (0, md5(h0 || h1)),
                    (1, md5(h2 || h3)),
                    (2, md5(h4 || h5)),
                    (3, md5(h6 || h7))
                ) AS t(band_idx, band_hash)
            ) b
        ),
        hot AS (
            SELECT band_idx, band_hash FROM bands
            GROUP BY 1, 2 HAVING count(*) > {LSH_BUCKET_CAP}
        ),
        guarded AS (
            SELECT b.* FROM bands b
            ANTI JOIN hot h ON b.band_idx = h.band_idx
                           AND b.band_hash = h.band_hash
        ),
        delta AS (
            SELECT * FROM guarded
            WHERE doc_id % {DELTA_MOD} = {DELTA_REMAINDER}
        ),
        pairs AS (
            SELECT a.doc_id AS doc_new, b.doc_id AS doc_matched,
                   CAST(count(DISTINCT a.band_idx) AS BIGINT)
                       AS n_shared_bands
            FROM delta a JOIN guarded b
              ON a.band_idx = b.band_idx
             AND a.band_hash = b.band_hash
             AND b.doc_id <> a.doc_id
             AND (b.doc_id % {DELTA_MOD} <> {DELTA_REMAINDER}
                  OR b.doc_id < a.doc_id)
            GROUP BY 1, 2
        )
        SELECT p.doc_new, p.doc_matched, p.n_shared_bands,
               {_est_sql("sa", "sb")} AS est_jaccard
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.doc_new
        JOIN sigs sb ON sb.doc_id = p.doc_matched
    """,
    description="incremental dedup: band-probe the NEW slice against the "
    "full MinHash index (delta-sized cost, not corpus-squared)",
)
def dedup_incremental_minhash(spark, sf_dir):
    """The deployment shape of minhash dedup at 100 TB: the corpus'
    banded signature index is a PERSISTED table maintained across
    ingest batches, and each new batch is deduped by probing its bands
    against that index — never by re-running the corpus self-join. Here
    the ~10% ``doc_id % 10 == 7`` slice plays the newly-arrived batch;
    its bands join the full band table (base + earlier arrivals, the
    ``b < a`` rule keeping delta-delta pairs unique), so the join's
    left side is delta-sized. The estimated Jaccard is the classic
    matching-minhash fraction — exact integer counting over the 8
    signature columns, no float-order hazard.

    At scale the band index is bucketed by (band_idx, band_hash), so
    the delta probe shuffles ONLY the delta bands (the index side is
    pre-partitioned) and the per-bucket fan-in cap (LSH_BUCKET_CAP,
    same guard as lsh_candidate_pairs) bounds degenerate boilerplate
    buckets."""
    prep(spark)
    docs = load_spread(spark, sf_dir, "documents")
    # cache: consumed by the band explode AND both est-jaccard joins
    sigs = minhash_signatures(docs).cache()
    # the shared banding + hot-bucket guard (banded_guarded): a band
    # bucket holding > LSH_BUCKET_CAP signatures is a degenerate
    # boilerplate cluster that would make the delta probe quadratic in
    # that bucket — dropped from both probe sides (mirrored in the
    # oracle; unreachable at oracle scale, so results identical)
    guarded = banded_guarded(sigs)
    is_delta = F.col("doc_id") % DELTA_MOD == DELTA_REMAINDER
    a = guarded.filter(is_delta).alias("a")
    b = guarded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("b.doc_id") != F.col("a.doc_id"))
            & (
                (F.col("b.doc_id") % DELTA_MOD != DELTA_REMAINDER)
                | (F.col("b.doc_id") < F.col("a.doc_id"))
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_new"),
            F.col("b.doc_id").alias("doc_matched"),
        )
        .agg(
            F.countDistinct(F.col("a.band_idx"))
            .cast("bigint")
            .alias("n_shared_bands")
        )
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_new"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_matched"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    return (
        pairs.join(sa, "doc_new")
        .join(sb, "doc_matched")
        .select(
            "doc_new",
            "doc_matched",
            "n_shared_bands",
            round_ieee(matches * F.lit(1.0) / F.lit(float(N_HASHES))).alias(
                "est_jaccard"
            ),
        )
    )


@register(
    "dedup_keep_best_quality",
    oracle="""
        WITH scored AS (
            SELECT doc_id, source, text,
                   md5(lower(trim(text))) AS fp,
                   0.5 * least((CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                                END) / 50.0, 1.0)
                   + 0.5 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                            * 1.0 / greatest(length(text), 1)) AS quality
            FROM documents
        ),
        kept AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY fp
                           ORDER BY quality DESC, doc_id) AS rn
                FROM scored
            ) WHERE rn = 1
        )
        SELECT source,
               count(*) AS n_kept,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS kept_bytes,
               floor(avg(quality) * 10000.0 + 0.5) / 10000.0 AS avg_quality
        FROM kept
        GROUP BY source
    """,
    description="curation keep-one: the HIGHEST-quality survivor per "
    "canonical fingerprint (ties to min doc_id), not the first-seen",
)
def dedup_keep_best_quality(spark, sf_dir):
    """Quality-priority dedup materialization — what a curation pipeline
    actually wants: among duplicates that differ in presentation (case,
    padding, surrounding junk), keep the version scoring highest on the
    quality model, falling back to min doc_id on exact ties. Same
    shuffle inventory as ``dedup_keep_one`` (one exchange on the
    16-byte fingerprint for the window, one final per-source
    aggregate); the quality score is the codegen expression from
    ``text_quality_scores``, computed row-local before the window so
    nothing but (fp, quality, doc_id) decides survivorship."""
    from pyspark.sql.window import Window

    from .textops import quality_score

    prep(spark)
    d = load_spread(spark, sf_dir, "documents")
    quality = quality_score(F.col("text"))
    scored = d.select(
        "doc_id",
        "source",
        "text",
        F.md5(F.lower(F.trim("text"))).alias("fp"),
        quality.alias("quality"),
    )
    w = Window.partitionBy("fp").orderBy(F.desc("quality"), F.asc("doc_id"))
    kept = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.octet_length(F.encode("text", "UTF-8")))
        .cast("bigint")
        .alias("kept_bytes"),
        round_ieee(F.avg("quality")).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# prefix-filtered exact Jaccard join (the PPJoin family's core idea)
# ---------------------------------------------------------------------------

#: r10 registration oracle — an INDEPENDENT formulation that never
#: looks at prefixes: candidates are ALL distinct pairs sharing at
#: least one gram (exhaustive for any threshold > 0 — gram-disjoint
#: docs have jaccard exactly 0), decided by the exact intersect.  The
#: Spark side generates candidates by prefix filtering, so agreement
#: proves the prefix bound lossless, not just that two transcriptions
#: of one algorithm agree.  (The original all-pairs spelling did a
#: list_intersect on every one of the n^2/2 doc pairs — 12.5M at
#: sf0.1, ~10 min of oracle for an 11 s query; the shared-gram join
#: is sum(df^2) ~ 2.8M cheap rows and the same verified set.  And
#: because both sides' shingle lists are DISTINCT by construction
#: (list_distinct here, `shingled`'s distinct 3-grams on the engine
#: side), the gram-join's per-pair match count IS |intersection| —
#: no per-pair list op at all, the whole oracle is one hash
#: aggregation plus two size lookups: 131 s -> ~2 s at sf0.1.)
JACCARD_PREFIX_ORACLE = f"""
        WITH sh AS ({_SHINGLE_ORACLE}),
        g AS (SELECT doc_id, unnest(sg) AS gram FROM sh),
        ov AS (
            SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b,
                   count(*) AS inter
            FROM g ga JOIN g gb
              ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
            GROUP BY 1, 2
        ),
        sz AS (SELECT doc_id, len(sg) AS n FROM sh)
        SELECT o.doc_a, o.doc_b,
               CAST(floor(o.inter * 10000.0
                          / (sa.n + sb.n - o.inter) + 0.5)
                    AS BIGINT) AS jaccard_e4
        FROM ov o
        JOIN sz sa ON sa.doc_id = o.doc_a
        JOIN sz sb ON sb.doc_id = o.doc_b
        WHERE o.inter * 1.0 / (sa.n + sb.n - o.inter)
              >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
"""


@register("dedup_jaccard_prefix", oracle=JACCARD_PREFIX_ORACLE)
def dedup_jaccard_prefix(spark, sf_dir):
    """Exact Jaccard pairs >= {t} via PREFIX FILTERING — the candidate
    bound the similarity-join literature (PPJoin/AllPairs) uses where
    the inverted-index join (`dedup_ngram_jaccard`) would flood.

    The filter: order all grams by a GLOBAL total order (document
    frequency asc, gram asc — rarest first); two docs with
    ``jaccard >= t`` MUST share a gram inside each one's prefix of
    length ``n - ceil(t*n) + 1`` (if the prefixes were disjoint, more
    than ``n - prefix`` grams of one doc would be missing from the
    other, capping the overlap below ``t``).  So only PREFIX grams
    enter the self-join — and because prefixes hold each document's
    RAREST grams, the stop-gram quadratic bucket that forces
    ``dedup_ngram_jaccard``'s df-cap cannot form here: this variant
    needs NO semantic knob, it is unconditionally exact.  The size
    filter (``t <= n_a/n_b <= 1/t`` as exact integer inequalities)
    prunes the join further before verification.

    Verification is exact: candidates join back to the shingle arrays
    and the integer test ``(5+4)*inter >= 4*(n_a+n_b)`` (algebra of
    ``inter/union >= 4/5``) decides membership — no floats until the
    reported e4 rounding.

    100 TB shape: one df aggregate, one per-doc rank (shuffle on
    doc_id + in-partition sort), a self-join whose buckets are
    rare-gram-sized, and an array verify only on surviving candidates.
    Cost scales with true near-duplicate density, not corpus^2.
    """
    prep(spark)
    from pyspark.sql.window import Window

    docs = load_spread(spark, sf_dir, "documents")
    sh = shingled(docs).cache()
    g = sh.select(
        "doc_id", F.size("sg").alias("n"), F.explode("sg").alias("gram")
    )
    dfreq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df_g"))
    ranked = g.join(dfreq, "gram").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df_g", "gram")
        ),
    )
    # prefix length n - ceil(4n/5) + 1, in exact integers
    pref = ranked.filter(
        F.col("rk") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1
    ).select("doc_id", "n", "gram")

    pa = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "gram"
    )
    pb = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "gram"
    )
    cand = (
        pa.join(pb, "gram")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (4 * F.col("n_a") <= 5 * F.col("n_b"))  # size filter
            & (4 * F.col("n_b") <= 5 * F.col("n_a"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )

    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sg").alias("sg_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sg").alias("sg_b"))
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sg_a", "sg_b")).alias("inter"),
            F.size("sg_a").alias("n_a"),
            F.size("sg_b").alias("n_b"),
        )
        .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
        # inter/union >= 4/5  <=>  9*inter >= 4*(n_a+n_b), all integer
        .filter(9 * F.col("inter") >= 4 * (F.col("n_a") + F.col("n_b")))
    )
    return verified.select(
        "doc_a",
        "doc_b",
        F.floor(
            F.col("inter") * 10000.0 / F.col("uni") + F.lit(0.5)
        ).alias("jaccard_e4"),
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# exact-substring duplication coverage (staged for r11 registration)
# ---------------------------------------------------------------------------

#: token-window width for exact-substring duplication (Lee et al.
#: 2022, 'Deduplicating Training Data Makes Language Models Better',
#: public method: a span duplicated across documents is training
#: redundancy; the practical detector is fixed-width token windows)
SUBSTR_WINDOW = 8

#: r11 registration oracle — identical window/occurrence semantics in
#: DuckDB's list dialect; a window is duplicated when it occurs in
#: >= 2 DISTINCT documents, and coverage counts window POSITIONS
#: (within-doc repeats of a cross-doc window all count).
SUBSTRING_COVERAGE_ORACLE = f"""
        WITH t AS (
            SELECT doc_id, source,
                   regexp_split_to_array(trim(coalesce(text, '')),
                                         '\\s+') AS w
            FROM documents
        ),
        base AS (
            SELECT doc_id, source,
                   greatest(len(w) - {SUBSTR_WINDOW} + 1, 0) AS n_win,
                   w
            FROM t
        ),
        g AS (
            SELECT doc_id,
                   unnest([array_to_string(w[i:i+{SUBSTR_WINDOW - 1}], ' ')
                           for i in range(1, n_win + 1)]) AS win
            FROM base WHERE n_win > 0
        ),
        pwd AS (
            SELECT win, doc_id, count(*) AS occ
            FROM g GROUP BY 1, 2
        ),
        dup AS (
            SELECT win FROM pwd GROUP BY win HAVING count(*) >= 2
        ),
        perdoc AS (
            SELECT p.doc_id, sum(p.occ) AS dup_occ
            FROM pwd p JOIN dup USING (win) GROUP BY 1
        )
        SELECT b.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(b.n_win) AS BIGINT) AS n_windows,
               CAST(sum(coalesce(d.dup_occ, 0)) AS BIGINT)
                   AS n_dup_windows,
               CAST(floor(sum(coalesce(d.dup_occ, 0)) * 10000.0
                          / greatest(sum(b.n_win), 1) + 0.5)
                    AS BIGINT) AS coverage_e4,
               CAST(sum(CASE WHEN b.n_win > 0
                              AND 2 * coalesce(d.dup_occ, 0) >= b.n_win
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_majority_dup
        FROM base b LEFT JOIN perdoc d ON d.doc_id = b.doc_id
        GROUP BY b.source ORDER BY b.source
"""


@register("dedup_substring_coverage", oracle=SUBSTRING_COVERAGE_ORACLE)
def dedup_substring_coverage(spark, sf_dir):
    """Exact-substring duplication coverage (Lee et al. 2022): per
    source, what fraction of {SUBSTR_WINDOW}-token window positions
    is covered by a window that also occurs in ANOTHER document.
    The per-doc majority count is the actionable output — documents
    over 50% duplicated-span coverage are the removal candidates the
    paper's suffix-array pass would cut.  Sibling of
    ``dedup_repeated_passages`` (which LISTS the duplicated spans,
    distinct-per-doc): this one measures POSITION coverage — within-
    doc repeats of a cross-doc window all count, because every
    position is a training token the model would see again.

    100 TB shape: the inverted-index idiom — explode window strings,
    (window, doc) hash-aggregate (map-side combinable), a second
    aggregate for the document frequency, and a join back of only
    the DUPLICATED windows (at real corpus dedup rates a small
    fraction), then one per-source fold.  No driver state, no
    all-pairs anything; cost is O(total windows).  At production
    scale the window STRING would be replaced by a 128-bit hash to
    shrink the two shuffles (collision odds ~2^-64); here both
    engines group on the raw string so the gate is collision-free
    by construction.
    """
    prep(spark)
    K = SUBSTR_WINDOW
    d = load_spread(spark, sf_dir, "documents")
    # NULL text folds to '' on BOTH sides (split('') is [''] in both
    # engines, so the hostile-corpus rows stay engine-identical)
    ws = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    base = d.select(
        "doc_id",
        "source",
        F.greatest(F.size(ws) - F.lit(K - 1), F.lit(0)).alias("n_win"),
        ws.alias("w"),
    )  # used twice; both branches re-scan with their own pruning —
    # cheaper than materializing the exploded-ready `w` arrays
    wins = F.expr(
        f"transform(sequence(1, n_win), i ->"
        f" concat_ws(' ', slice(w, i, {K})))"
    )
    g = (
        base.filter(F.col("n_win") > 0)
        .select("doc_id", F.explode(wins).alias("win"))
    )
    pwd = g.groupBy("win", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    dup = (
        pwd.groupBy("win")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("win")
    )
    perdoc = (
        pwd.join(dup, "win")
        .groupBy("doc_id")
        .agg(F.sum("occ").alias("dup_occ"))
    )
    joined = base.join(perdoc, "doc_id", "left").select(
        "source",
        "n_win",
        F.coalesce(F.col("dup_occ"), F.lit(0)).alias("dup_occ"),
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_win").cast("bigint").alias("n_windows"),
            F.sum("dup_occ").cast("bigint").alias("n_dup_windows"),
            F.floor(
                F.sum("dup_occ") * 10000.0
                / F.greatest(F.sum("n_win"), F.lit(1))
                + F.lit(0.5)
            ).cast("bigint").alias("coverage_e4"),
            F.sum(
                F.when(
                    (F.col("n_win") > 0)
                    & (2 * F.col("dup_occ") >= F.col("n_win")),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_docs_majority_dup"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# C4 three-span keep-first dedup (staged for r11 registration)
# ---------------------------------------------------------------------------

#: consecutive sentence-units per deduplicated span (C4's "any
#: three-sentence span occurring more than once" — Raffel et al. 2020
#: §2.2).  The corpus has no sentence punctuation, so the sentence
#: unit is ONE word (the same corpus-adaptation `text_c4_rules` and
#: the Gopher thresholds document); the span is therefore a word
#: trigram, which keeps the duplicate rate realistic on the
#: fixed-vocabulary corpus instead of degenerate-zero.
C4_SPAN_UNITS = 3

#: r11 registration oracle — identical span construction plus the
#: keep-first rule restated with a window function: the occurrence
#: with the smallest (doc_id, t) keeps the span, every other
#: occurrence is removed (C4 removes "all but one").
C4_SPANS_ORACLE = f"""
        WITH w AS (
            SELECT doc_id, source,
                   regexp_split_to_array(trim(coalesce(text, '')),
                                         '\\s+') AS ws
            FROM documents
        ),
        s AS (
            SELECT doc_id, source,
                   unnest(range(0, greatest(len(ws) - {C4_SPAN_UNITS - 1},
                                            0))) AS t,
                   ws
            FROM w
        ),
        sp AS (
            SELECT doc_id, source, t,
                   array_to_string(
                       list_slice(ws, t + 1, t + {C4_SPAN_UNITS}), ' ')
                       AS span
            FROM s
        ),
        r AS (
            SELECT source,
                   row_number() OVER (PARTITION BY span
                                      ORDER BY doc_id, t) AS rn
            FROM sp
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept_spans,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed_spans
        FROM r GROUP BY source ORDER BY source
"""


@register("dedup_c4_spans", oracle=C4_SPANS_ORACLE)
def dedup_c4_spans(spark, sf_dir):
    """C4 span-level dedup with keep-FIRST attribution (Raffel et al.
    2020 §2.2: "discarded all but one of any three-sentence span
    occurring more than once"): per source, how many span positions
    exist, how many are the canonical kept occurrence, and how many
    would be removed.  Sibling of ``dedup_substring_coverage`` (which
    measures duplicated-position COVERAGE with no keeper): this one
    carries C4's removal semantics — exactly one occurrence of every
    duplicated span survives, the one with the smallest (doc_id,
    position), and the removal counts attribute to the LOSING
    document's source.

    100 TB shape: spans are built row-locally (sequence/slice
    codegen, zero Python), then ONE hash aggregate on the span string
    with map-side combine computes, per span, the total occurrence
    count and the winning (doc_id, t, source) via ``min(struct(...))``
    — no global sort, no window over the full span set (the oracle's
    row_number restates the same keeper rule declaratively; the Spark
    plan keeps the partial-aggregation shape because duplicate spans
    combine before the shuffle).  A second tiny aggregate folds
    per-source counters.  At production scale the span string becomes
    a 128-bit hash to shrink the shuffle; the gate groups on the raw
    string so it is collision-free by construction.
    """
    prep(spark)
    U = C4_SPAN_UNITS
    d = load_spread(spark, sf_dir, "documents")
    d2 = d.select(
        "doc_id",
        "source",
        F.split(
            F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"
        ).alias("ws"),
    ).filter(F.size("ws") >= U)
    spans = (
        d2.select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(ws) - {U}), t ->"
                    f" struct(t as t, array_join(slice(ws, t+1, {U}),"
                    f" ' ') as span))"
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            "source",
            F.col("s.t").alias("t"),
            F.col("s.span").alias("span"),
        )
    )
    # one combinable aggregate per (span, source): local occurrence
    # count + the span-global keeper via min(struct) re-aggregated
    per_span = spans.groupBy("span").agg(
        F.count(F.lit(1)).alias("occ"),
        F.min(F.struct("doc_id", "t", "source")).alias("keeper"),
    )
    # keeper's source gets exactly 1 kept span; every source's total
    # span positions come from a separate cheap per-source count
    kept = (
        per_span.groupBy(F.col("keeper.source").alias("source"))
        .agg(F.count(F.lit(1)).alias("n_kept_spans"))
    )
    totals = spans.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    return (
        totals.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_spans").cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_kept_spans"), F.lit(0))
            .cast("bigint")
            .alias("n_kept_spans"),
            (
                F.col("n_spans")
                - F.coalesce(F.col("n_kept_spans"), F.lit(0))
            ).cast("bigint").alias("n_removed_spans"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# URL-canonicalization dedup (staged for r11/r12 registration)
# ---------------------------------------------------------------------------

#: crawl re-fetch model: this many consecutive doc_ids share one page
#: URL (the cross-document duplicates URL dedup exists to remove)
URL_GROUP = 3
#: messy variants manufactured per document — each must canonicalize
#: to the group's one canonical URL (case, default port, dot
#: segments, unreserved percent-escapes, fragment)
URL_VARIANTS = 4

#: oracle restates the keep-first rule arithmetically: the canonical
#: key IS doc_id // URL_GROUP by construction, so the URL machinery
#: cancels out of the SQL — which is the point: the gate then proves
#: the Spark side's normalize chain lands exactly on that closed form.
URL_CANONICAL_ORACLE = f"""
        WITH d AS (
            SELECT doc_id, source, doc_id // {URL_GROUP} AS gid
            FROM documents
        ),
        r AS (
            SELECT source, gid,
                   row_number() OVER (PARTITION BY gid
                                      ORDER BY doc_id) AS rn
            FROM d
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST({URL_VARIANTS} * count(*) AS BIGINT) AS n_variants,
               CAST(count(DISTINCT gid) AS BIGINT) AS n_canonical,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept_docs,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed_docs
        FROM r GROUP BY source ORDER BY source
"""

@register("dedup_url_canonical", oracle=URL_CANONICAL_ORACLE)
def dedup_url_canonical(spark, sf_dir):
    """URL-level dedup through RFC 3986 canonicalization — the first
    dedup a crawl pipeline runs (Common Crawl keys re-fetch detection
    on the normalized URL).  Every document manufactures
    {URL_VARIANTS} messy variants of its page URL (scheme/host case,
    explicit default port, dot segments, unreserved percent-escapes,
    fragments); executors canonicalize each through
    ``core/urlcodec.normalize_url`` and ASSERT all variants collapse
    to the group's closed-form canonical URL.  Documents whose
    canonical URL was already fetched (smaller doc_id — the crawl's
    first fetch) are the removal set, attributed keep-first exactly
    like ``dedup_c4_spans``.

    100 TB shape: canonicalization is a narrow Arrow-batched pass
    (pure string work, no state); the keeper rule is one combinable
    ``min(struct)`` aggregate on the canonical-URL key plus a tiny
    per-source fold — no window sort, no self-join.  At production
    scale the canonical string would hash to 128 bits before the
    shuffle, exactly as the span/window notes above.
    """
    from pyspark.sql import types as T

    from ..core.urlcodec import normalize_url

    prep(spark)
    d = load_spread(spark, sf_dir, "documents").select("doc_id", "source")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("canon", T.StringType()),
        ]
    )

    def _canon(batches):
        import pandas as pd_

        for pdf in batches:
            canons = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                gid = doc_id // URL_GROUP
                want = f"http://example{gid}.com/p?d={gid}"
                variants = [
                    f"HTTP://EXAMPLE{gid}.COM:80/a/../p?d={gid}",
                    f"http://example{gid}.com/./p?d={gid}",
                    f"http://example{gid}.com:80/%70?d={gid}#frag",
                    f"hTtP://Example{gid}.cOm/x/y/../../p?d={gid}",
                ]
                got = {normalize_url(v) for v in variants}
                if got != {want}:
                    raise ValueError(
                        f"doc {doc_id}: canonicalization drifted: {got}"
                    )
                canons.append(want)
            yield pd_.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "source": pdf["source"],
                    "canon": pd_.Series(canons, dtype="object"),
                }
            )

    canon = d.mapInPandas(_canon, schema)
    keepers = (
        canon.groupBy("canon")
        .agg(F.min(F.struct("doc_id", "source")).alias("k"))
        .groupBy(F.col("k.source").alias("source"))
        .agg(F.count(F.lit(1)).alias("n_kept_docs"))
    )
    per_src = canon.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) * URL_VARIANTS).alias("n_variants"),
        F.countDistinct("canon").alias("n_canonical"),
    )
    return (
        per_src.join(keepers, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_variants").cast("bigint").alias("n_variants"),
            F.col("n_canonical").cast("bigint").alias("n_canonical"),
            F.coalesce(F.col("n_kept_docs"), F.lit(0))
            .cast("bigint")
            .alias("n_kept_docs"),
            (
                F.col("n_docs")
                - F.coalesce(F.col("n_kept_docs"), F.lit(0))
            ).cast("bigint").alias("n_removed_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Site-level URL grouping via the embedded PSL (staged r10, registers at
# the next boundary whose window arithmetic admits it)
# ---------------------------------------------------------------------------

#: consecutive doc_ids per site; k = doc_id % SITE_GROUP varies the
#: subdomain so grouping has to cross real PSL boundaries to collapse
SITE_GROUP = 4
#: doc_ids divisible by this hash onto ONE hot site (the '!www.ck'
#: exception rule) — the skewed-key case a crawl's site quotas hit
SITE_HOT_MOD = 23

#: the oracle restates the registrable domain in closed form: the
#: fixture's five PSL rule classes (multi-label suffix, default rule,
#: private-section suffix, IDN subdomain above an ASCII site, wildcard
#: *.ck) plus the '!www.ck' exception hot site — the URL/PSL machinery
#: cancels out of the SQL, and the Spark side ASSERTS its codec chain
#: lands exactly on this closed form (drift raises, never silently
#: passes).
URL_SITE_GROUPS_ORACLE = f"""
        WITH d AS (
            SELECT doc_id, source,
                   CASE
                     WHEN doc_id % {SITE_HOT_MOD} = 0 THEN 'www.ck'
                     WHEN (doc_id // {SITE_GROUP}) % 5 = 0 THEN
                       'example' || CAST(doc_id // {SITE_GROUP} AS VARCHAR)
                       || '.co.uk'
                     WHEN (doc_id // {SITE_GROUP}) % 5 = 1 THEN
                       'example' || CAST(doc_id // {SITE_GROUP} AS VARCHAR)
                       || '.com'
                     WHEN (doc_id // {SITE_GROUP}) % 5 = 2 THEN
                       'user' || CAST(doc_id // {SITE_GROUP} AS VARCHAR)
                       || '.github.io'
                     WHEN (doc_id // {SITE_GROUP}) % 5 = 3 THEN
                       'example' || CAST(doc_id // {SITE_GROUP} AS VARCHAR)
                       || '.de'
                     ELSE
                       'shop' || CAST(doc_id // {SITE_GROUP} AS VARCHAR)
                       || '.foo.ck'
                   END AS site
            FROM documents
        ),
        g AS (
            SELECT source, site, count(*) AS cnt
            FROM d GROUP BY 1, 2
        )
        SELECT source,
               CAST(sum(cnt) AS BIGINT) AS n_urls,
               CAST(count(*) AS BIGINT) AS n_sites,
               CAST(max(cnt) AS BIGINT) AS max_site_urls,
               CAST(coalesce(sum(CASE WHEN site = 'www.ck' THEN cnt END),
                             0) AS BIGINT) AS hot_site_urls
        FROM g GROUP BY source ORDER BY source
"""


@register("dedup_url_site_groups", oracle=URL_SITE_GROUPS_ORACLE)
def dedup_url_site_groups(spark, sf_dir):
    """Group a crawl's URLs by SITE — the registrable domain (eTLD+1)
    under the full Public Suffix List algorithm — the key Common Crawl
    pipelines use for per-site quotas, robots policy, and domain-level
    dedup, one level coarser than ``dedup_url_canonical``'s exact-URL
    key.  Each document manufactures a messy URL whose host exercises
    one of five PSL rule classes (``co.uk`` multi-label suffix, plain
    ``com`` default, ``github.io`` private-section suffix, an IDN
    subdomain above an ASCII site, and the ``*.ck`` wildcard) plus the
    ``!www.ck`` exception as a deliberately skewed hot site; executors
    canonicalize via ``core/urlcodec.normalize_url`` and group via
    ``registrable_domain`` (``core/psl_snapshot.py`` snapshot), and
    ASSERT the computed site equals the closed form the oracle
    restates.

    100 TB shape: site extraction is a narrow Arrow-batched string
    pass; the rollup is two combinable hash aggregates — (source,
    site) counts, then per-source folds — no window, no join, no
    self-join.  The hot-site row demonstrates the skew case: one site
    with ~1/{SITE_HOT_MOD} of the corpus still costs only one
    combiner cell per partition, because count aggregation combines
    map-side before the exchange.
    """
    from pyspark.sql import types as T

    from ..core.urlcodec import normalize_url, parse_url, registrable_domain

    prep(spark)
    d = load_spread(spark, sf_dir, "documents").select("doc_id", "source")

    schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("site", T.StringType()),
        ]
    )

    def _site(batches):
        import pandas as pd_

        for pdf in batches:
            sites = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                sid = doc_id // SITE_GROUP
                k = doc_id % SITE_GROUP
                if doc_id % SITE_HOT_MOD == 0:
                    host = f"h{doc_id}.www.ck"
                    want = "www.ck"
                elif sid % 5 == 0:
                    host = f"sub{k}.Example{sid}.CO.UK"
                    want = f"example{sid}.co.uk"
                elif sid % 5 == 1:
                    host = f"a{k}.b.example{sid}.com"
                    want = f"example{sid}.com"
                elif sid % 5 == 2:
                    host = f"w{k}.user{sid}.GitHub.IO"
                    want = f"user{sid}.github.io"
                elif sid % 5 == 3:
                    host = f"w{k}.münchen.example{sid}.de"
                    want = f"example{sid}.de"
                else:
                    host = f"w{k}.shop{sid}.foo.ck"
                    want = f"shop{sid}.foo.ck"
                url = f"HTTPS://{host}:443/a/../p/{doc_id}?q={doc_id}#f"
                got = registrable_domain(parse_url(normalize_url(url))["host"])
                if got != want:
                    raise ValueError(
                        f"doc {doc_id}: site extraction drifted: "
                        f"{got!r} != {want!r}"
                    )
                sites.append(want)
            yield pd_.DataFrame(
                {
                    "source": pdf["source"],
                    "site": pd_.Series(sites, dtype="object"),
                }
            )

    per_site = (
        d.mapInPandas(_site, schema)
        .groupBy("source", "site")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_site.groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_urls"),
            F.count(F.lit(1)).cast("bigint").alias("n_sites"),
            F.max("cnt").cast("bigint").alias("max_site_urls"),
            F.coalesce(
                F.sum(F.when(F.col("site") == "www.ck", F.col("cnt"))),
                F.lit(0),
            ).cast("bigint").alias("hot_site_urls"),
        )
        .orderBy("source")
    )

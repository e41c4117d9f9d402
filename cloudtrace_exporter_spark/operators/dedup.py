"""Document deduplication operators (SURVEY §2 B33 + driver north_star).

Five dedup strategies, ordered by cost/recall:

1. **exact**        — hash-groupBy on normalized text (md5 key).
2. **ngram-Jaccard** — exact pairwise token-set Jaccard (fixture-scale
   ground truth; O(n²) — the LSH variants below are the 100 TB path).
3. **MinHash+LSH**  — shingle→minhash→band→bucket-join, all built-ins.
4. **SimHash**      — 64-bit signature, near-dup by Hamming distance.
5. **embedding-cosine** — near-dup pairs in embedding space.

Scale design: every near-dup operator reduces the candidate space with a
*bucketing shuffle* (LSH bands / simhash blocks) before any pairwise
work, so cost is O(n · bucket_size), never O(n²). The exact-Jaccard
variant exists as the oracle-checkable ground truth at fixture scale.

Two in-bucket pairing shapes, chosen per operator:

- **self-join on the bucket key** (minhash, simhash): pair output
  *streams* out of the join, so a giant bucket (a real cluster of
  thousands of identical docs) costs time but bounded memory, and AQE
  skew-join splits the hot key. Used where bucket size is unbounded.
- **groupBy + posting-list pair expansion** (winnowing): one aggregation
  collects each bucket's (small) posting list and a higher-order
  transform expands (a<b) pairs — two shuffles instead of five. Safe
  ONLY because ``max_doc_freq`` caps the list before expansion; an
  uncapped collect_list would materialize freq² structs in one row.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from cloudtrace_exporter_spark.operators.text import tokens
from cloudtrace_exporter_spark.session import cache_once


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to the session's core count before compute-bound maps —
    but ONLY when the input is under-partitioned.

    Fixture tables arrive as one small parquet file → one input partition,
    so a signature/pairwise operator would run single-threaded no matter
    how many cores exist (Spark sizes scan partitions by bytes, not by
    downstream compute). At 100 TB the scan is already thousands of
    splits, and an unconditional round-robin repartition would be a
    gratuitous full-corpus shuffle — so inputs that already have ≥ the
    session's parallelism keep their partitioning untouched (asserted by
    a no-new-Exchange unit test).
    """
    if df.isStreaming:
        # streaming frames can't expose an RDD (and micro-batch sizing is
        # the trigger's job, not ours) — pass through untouched so the
        # signature pipeline composes with readStream (stream_lsh_dedup_probe)
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # memoized probe (round 12): the raw .rdd conversion costs ~0.1 s of
    # driver planning per call and re-runs on every invocation of the
    # same operator over the same table
    from cloudtrace_exporter_spark.session import rdd_partitions

    if rdd_partitions(df) >= parallelism:
        return df
    return df.repartition(parallelism)


#: modulus of the engine-portable permutation family (2³¹−1, Mersenne)
PORTABLE_P = 2147483647


def portable_hash_family(n_hashes: int = 32, seed: int = 20240801) -> list[tuple[int, int]]:
    """(a_i, b_i) pairs for the linear-congruential MinHash permutation
    family h_i(x) = (a_i·x + b_i) mod 2³¹−1 — classical universal
    hashing, the one MinHash family, chosen because BOTH engines
    replay it bit-for-bit (pure BIGINT arithmetic; x, a < 2³¹ keeps
    a·x < 2⁶² with no 64-bit overflow, which DuckDB would reject and
    Java would silently wrap). Seeded, so the DuckDB oracle embeds the
    identical pairs as literals."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, PORTABLE_P), rng.randrange(0, PORTABLE_P)) for _ in range(n_hashes)
    ]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-text group.

    One hash shuffle on the md5 key (uniform, no skew). Equivalent SQL:
    group by fingerprint, keep min(id) — deterministic winner.
    """
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    keyed = df.withColumn("__fp", F.md5(normalized))
    return (
        keyed.groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .withColumnRenamed("__fp", "fingerprint")
    )


def dup_rate_by_source(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Curation report: per source, document count, distinct normalized
    fingerprints, and the duplication rate (1 − unique/total) — the
    per-provenance health metric every corpus-intake review starts with
    (which crawls/datasets are feeding you copies?).

    One shuffle on (source, fingerprint) via distinct-count aggregation
    with map-side partials; the fingerprint is the same md5 key as
    ``exact_dedup`` so the two reports reconcile.
    """
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.withColumn("__fp", F.md5(normalized))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("__fp").alias("n_unique"),
        )
        .withColumn(
            "dup_rate",
            F.round(1.0 - F.col("n_unique") / F.col("n_docs"), 6),
        )
    )


#: accent-fold table shared verbatim with the DuckDB oracles — a FIXED
#: char→char translate (not locale-dependent NFD) so both engines fold the
#: identical set; letters outside the table (ā, ś, CJK, Cyrillic, …) are
#: preserved by the \p{L} keep-class below, never destroyed
ACCENT_FROM = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿ"
ACCENT_TO = "aaaaaaceeeeiiiinooooouuuuyy"


def aggressive_norm_key(text_col: str = "text") -> Column:
    """CCNet-style aggressive normalization key: lowercase, fixed-table
    accent fold, every non-letter (punctuation, symbols, marks) folded
    to a space, digit runs folded to a ``0`` placeholder, whitespace
    collapsed — then md5. Two documents that differ only in punctuation,
    casing, accents, numbers, or spacing collide; the md5 key is uniform
    (no hot shuffle keys at 100 TB).

    UNICODE-CLASS based (round-6 advice fix): the keep-class is
    ``\\p{L}`` and the digit class ``\\p{Nd}`` — CJK / Cyrillic /
    Devanagari / accented text keeps its letters instead of collapsing
    whole scripts to one empty key (the old ``[^a-z0\\s]`` fold silently
    marked all non-Latin documents as mutual duplicates). Java regex and
    DuckDB's RE2 agree on both classes (parity-tested across scripts in
    test_normalized_dedup_keeps_non_latin_scripts); the md5 input is the
    identical UTF-8 byte sequence in both engines.
    """
    folded = F.translate(F.lower(F.col(text_col)), ACCENT_FROM, ACCENT_TO)
    digits = F.regexp_replace(folded, r"\p{Nd}+", "0")
    stripped = F.regexp_replace(digits, r"[^\p{L}0\s]", " ")
    collapsed = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    return F.md5(collapsed)


def normalized_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalization-hash dedup (the CCNet recipe, one rung above
    ``exact_dedup``): documents equal UP TO case / punctuation /
    digits / whitespace form one group; the lowest id survives. Emits a
    per-document verdict (doc_id, norm_key, group_size, keep) — the
    same verdict shape as semantic_dedup, so curation funnels can chain
    either.

    One hash shuffle on the uniform md5 key; group stats ride on a
    window over the already-partitioned groups (no join back to the
    corpus). Catches the near-miss copies exact dedup leaves behind
    (trailing punctuation, timestamps, issue numbers) without any
    pairwise comparison.
    """
    keyed = df.select(
        F.col(id_col).alias("doc_id"), aggressive_norm_key(text_col).alias("norm_key")
    )
    w = Window.partitionBy("norm_key")
    return keyed.select(
        "doc_id",
        "norm_key",
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


def jaccard_pairs(
    df: DataFrame, threshold: float = 0.8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (a < b, J ≥ threshold).

    O(n²) self-join — the fixture-scale ground truth for the LSH
    operators. At 100 TB NEVER run this raw; run minhash_lsh_pairs and
    use this formula only to verify candidates within buckets.
    """
    toks = _spread(df).select(
        F.col(id_col).alias("id"), F.array_distinct(tokens(text_col)).alias("tok")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tok"), F.col("b.tok")))
    union = F.size(F.array_union(F.col("a.tok"), F.col("b.tok")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingles(t: F.Column, n: int) -> F.Column:
    """Word n-gram shingles as strings (space-joined) over an ALREADY
    MATERIALIZED token-array column, via sequence+transform — pure
    built-ins, no UDF.

    ``t`` must be a bound column (not an inline tokens() expression):
    the lambda references it once per shingle, and an embedded
    split+filter expression would re-tokenize the document per shingle
    (the same O(n²) trap fixed in winnow_fingerprints).
    """
    k = F.size(t)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
    return F.when(
        k >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))
        ),
    ).otherwise(F.array(F.concat_ws(" ", t)))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle: int = 3,
) -> DataFrame:
    """MinHash signature per document: for each of the ``n_hashes``
    linear-congruential permutations of ``portable_hash_family``, the
    min hash over the shingle set.

    Two-level hashing: each string shingle is hashed ONCE to a BIGINT
    base (md5 hex prefix mod 2³¹−1 — identical in DuckDB:
    CAST('0x'||substr(md5(s),1,15) AS BIGINT)), and each permutation
    re-maps that base with pure BIGINT arithmetic — n_shingles string
    hashes + n_shingles·n_hashes multiply-adds instead of
    n_shingles·n_hashes string hashes. The base hashes ride through an
    ``explode``-free nested transform, all JVM-side; one narrow map.
    The whole signature replays bit-for-bit in DuckDB (full oracle).
    """
    df = _spread(df)
    # materialize tokens, then shingle hashes, as columns: each step's
    # lambda must reference a bound attribute, or the producer expression
    # re-evaluates per element (split+filter per shingle, the whole
    # shingle chain per signature slot)
    toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    base = toked.select(
        "id",
        F.transform(
            _shingles(F.col("__t"), shingle),
            lambda s: F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast("long")
            % PORTABLE_P,
        ).alias("__h"),
    )

    def min_ab(a: int, b: int) -> F.Column:
        # arity-1 lambda via closure: a 2-arg lambda is read by
        # transform() as (element, index), silently replacing the
        # permutation constants with the array position
        return F.array_min(
            F.transform(F.col("__h"), lambda h: (h * F.lit(a) + F.lit(b)) % PORTABLE_P)
        )

    sig = F.array(*[min_ab(a, b) for a, b in portable_hash_family(n_hashes)])
    return base.select("id", sig.alias("signature"))


def minhash_banded_index(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
) -> DataFrame:
    """The LSH index table: one row per (doc, band) with the band-bucket
    key and the full signature — ``(id, signature, band, bucket)``.

    This is the build-once artifact of every LSH dedup pipeline (the
    analog of IVF's ``_scaled_kmeans``): build it, ``.cache()`` or
    persist it to parquet, and run the bucket join against it per batch.
    The banding select references the signature column bands×r times, so
    callers who don't materialize it pay the CollapseProject recompute
    trap (~30×, measured) — minhash_lsh_pairs caches it when building
    internally.

    ``bucket`` is the first 8 md5 hex chars of the band's comma-joined
    slots (a string): Java's Long.toString and DuckDB's
    CAST(BIGINT AS VARCHAR) render the non-negative slot values
    identically, so both engines hash the same bytes.
    """
    r = n_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle)

    def bucket(b: int) -> F.Column:
        joined = F.concat_ws(",", *[F.col("signature")[b * r + i] for i in range(r)])
        return F.substring(F.md5(joined.cast("binary")), 1, 8)

    return sigs.select(
        "id",
        "signature",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "signature", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _sig_agreement(sig_a, sig_b) -> F.Column:
    """Number of slots on which two MinHash signatures agree — the
    numerator of the Jaccard estimate (divide by ``n_hashes``)."""
    return F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda eq: eq))


def _banded_candidates(banded: DataFrame) -> DataFrame:
    """Distinct LSH candidate pairs of a banded index: its self equi-join
    on (band, bucket) with ``a.id < b.id``, one row per (doc_a, doc_b)
    however many bands they collide in, carrying both signatures as
    ``sig_a``/``sig_b``."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.5,
    index: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs, verified by signature overlap.

    Pipeline: signature → split into ``bands`` bands of r=n/bands rows →
    hash each band → explode → groupBy (band, band_hash) bucket-join →
    candidate pairs → estimate Jaccard as signature agreement ratio →
    filter ≥ threshold.

    Scale shape: the explode multiplies rows by ``bands`` (cheap, narrow);
    the self-join happens per bucket — O(Σ bucket²) with tiny buckets,
    the standard LSH trade (false negatives for near-linear cost).
    Candidate probability follows the (1-(1-J^r)^b) S-curve.

    Pass a prebuilt ``index`` (see minhash_banded_index) to skip the
    signature build — the steady-state path, and the caller then owns the
    cache lifecycle (no storage accumulates here across repeated calls).
    When building internally the index is ``.cache()``d; Spark's
    CacheManager dedups identical plans, so repeated same-input calls
    share one materialization.
    """
    if index is not None:
        banded = index
    else:
        banded = minhash_banded_index(
            df, text_col=text_col, id_col=id_col, n_hashes=n_hashes, bands=bands,
            shingle=shingle,
        ).cache()
    return (
        _banded_candidates(banded)
        .withColumn(
            "est_jaccard", F.round(_sig_agreement("sig_a", "sig_b") / F.lit(n_hashes), 6)
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def dedup_threshold_sweep(
    df: DataFrame,
    *,
    thresholds: tuple[float, ...] = (0.5, 0.7, 0.9),
    text_col: str = "text",
    id_col: str = "doc_id",
    index: DataFrame | None = None,
) -> DataFrame:
    """Dedup PLANNING table: for each candidate similarity threshold, how
    many near-dup pairs fire, how many documents the greedy
    lower-id-survives rule would remove, and how many tokens that frees —
    the one-pass sweep an operator reads before committing a 100 TB dedup
    threshold (too low deletes paraphrases; too high leaves templates).

    Built on the MinHash-LSH candidate pairs (one index build, shared
    via ``index`` with the other LSH keys), so the whole
    sweep — estimates included — replays in DuckDB. The pair frame is
    computed ONCE at min(thresholds) and re-thresholded per sweep row
    (explode over the literal threshold list): |thresholds| never
    multiplies the corpus work, only the tiny pair frame. Removed docs =
    distinct doc_b (higher id) of passing pairs — exactly what
    dedup_clusters' survivor rule deletes when clusters are pairs; for
    transitive clusters this is the standard upper bound on survivors
    (every removed doc has a surviving smaller partner).
    """
    pairs = minhash_lsh_pairs(
        df, threshold=min(thresholds), text_col=text_col, id_col=id_col,
        index=index,
    ).localCheckpoint()  # tiny; feeds |thresholds| re-filters + a dedup
    toks = df.select(
        F.col(id_col).alias("doc_b"), tokens(text_col).alias("__t")
    ).select("doc_b", F.size("__t").cast("long").alias("n_tokens"))
    thr = F.explode(F.array(*[F.lit(float(t)) for t in thresholds])).alias("threshold")
    swept = pairs.select("doc_a", "doc_b", "est_jaccard", thr).filter(
        F.col("est_jaccard") >= F.col("threshold")
    )
    n_pairs = swept.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    removed = (
        swept.select("threshold", "doc_b")
        .distinct()
        .join(toks, "doc_b")  # the distinct removed set is the small
        # side; AQE broadcasts it into the corpus-sized token frame
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_docs_removed"),
            F.sum("n_tokens").alias("tokens_removed"),
        )
    )
    return (
        n_pairs.join(removed, "threshold", "left")
        .select(
            "threshold",
            "n_pairs",
            F.coalesce("n_docs_removed", F.lit(0)).cast("long").alias("n_docs_removed"),
            F.coalesce("tokens_removed", F.lit(0)).cast("long").alias("tokens_removed"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    *,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    index: DataFrame | None = None,
) -> DataFrame:
    """Cross-source PROVENANCE matrix: for every (source, source) pair —
    including the diagonal — how many near-dup pairs connect them and
    the mean estimated Jaccard. The table that tells a corpus curator
    which feeds mirror which (syndication, scraper loops) before
    deciding per-source dedup order; within-source rates alone
    (near_dup_rate_by_source) can't see cross-feed copying.

    Built on the MinHash-LSH pairs (shared cached index), so
    the whole matrix replays in DuckDB. Pairs are undirected: the cell
    key is (min(source), max(source)). Scale shape: the pair frame is
    LSH-pruned (never O(n²)); two uniform-id joins attach sources; one
    |sources|²-group aggregation ends it.
    """
    pairs = minhash_lsh_pairs(
        df, threshold=threshold, text_col=text_col, id_col=id_col, index=index
    )
    src = df.select(F.col(id_col).alias("__id"), F.col(source_col).alias("__src"))
    joined = (
        pairs.join(src.select(F.col("__id").alias("doc_a"), F.col("__src").alias("sa")), "doc_a")
        .join(src.select(F.col("__id").alias("doc_b"), F.col("__src").alias("sb")), "doc_b")
    )
    return (
        joined.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "est_jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            # order-independent float sum: every estimate is k/32 — a
            # dyadic rational with ≥ -5 exponent (round(.,6) is identity
            # on 5-decimal values) — so partial sums stay EXACT in any
            # accumulation order below 2^48 terms; the final division is
            # the only rounding float op, identical cross-engine
            F.round(F.sum("est_jaccard") / F.count(F.lit(1)), 6).alias("mean_est_jaccard"),
        )
    )


def minhash_jaccard_diag(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    index: DataFrame | None = None,
) -> DataFrame:
    """Estimator-quality diagnostics for the MinHash pipeline: every LSH
    candidate pair with its MinHash-ESTIMATED Jaccard (signature
    agreement ratio) next to the EXACT shingle-set Jaccard and the
    absolute error. The calibration table an operator reads before
    trusting a dedup threshold at 100 TB — E[est] = J per slot, so
    abs_err concentrates around sqrt(J(1-J)/n_hashes).

    The MinHash family replays in DuckDB, so the whole table (estimates
    included) is oracle-checkable. Exact Jaccard is computed ONLY
    for candidate pairs (the LSH-pruned set, not O(n²)): the tiny pair
    frame joins the shingle-set frame twice on the uniform doc id —
    exactly how a bucket-verified dedup confirms candidates at scale.
    Ratios are raw int/int doubles (bit-identical cross-engine);
    union = |A| + |B| − |A∩B| keeps the arithmetic all-integer until
    the final division.
    """
    banded = index if index is not None else minhash_banded_index(
        df, text_col=text_col, id_col=id_col, n_hashes=n_hashes, bands=bands,
        shingle=shingle,
    ).cache()
    est = _banded_candidates(banded).select(
        "doc_a", "doc_b", (_sig_agreement("sig_a", "sig_b") / F.lit(n_hashes)).alias("est_jaccard")
    )
    toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    sh = toked.select("id", _shingles(F.col("__t"), shingle).alias("s"))
    j = (
        est.join(sh.select(F.col("id").alias("doc_a"), F.col("s").alias("s_a")), "doc_a")
        .join(sh.select(F.col("id").alias("doc_b"), F.col("s").alias("s_b")), "doc_b")
    )
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter  # ≥1: whole-text fallback shingle
    return (
        j.select("doc_a", "doc_b", "est_jaccard", (inter / union).alias("exact_jaccard"))
        .select(
            "doc_a", "doc_b", "est_jaccard", "exact_jaccard",
            F.abs(F.col("est_jaccard") - F.col("exact_jaccard")).alias("abs_err"),
        )
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, portable: bool = False
) -> DataFrame:
    """64-bit SimHash per document: sum ±1 per bit over token hashes, sign →
    bit. Built-ins only (Charikar '02): explode the token hashes, take 64
    conditional SUMs per doc, assemble the signature from the majority
    bits.

    Shape: higher-order per-bit filters over the hash array are
    interpreted (no codegen for lambda bodies) — 64 array scans per row
    measured ~4 s warm at sf0.01. Explode + HashAggregate keeps all 64
    bit-counts inside whole-stage codegen (primitive shift/and/sum), and
    map-side partial aggregation collapses the exploded tokens to one row
    per (doc, partition) before the exchange, so the shuffle is n_docs-
    sized, not n_tokens-sized — the scale-correct trade (warm wall 4.0 s
    -> ~0.4 s at sf0.01). explode_outer keeps empty/null-text docs
    (n=0 -> all-zero signature, same as the array formulation)."""
    if portable:
        # engine-portable token hash: md5 hex split into two 32-bit
        # halves (identical in DuckDB via CAST('0x'||substr(md5,…) AS
        # BIGINT)) — powers the full-oracle q_simhash_near_dup_verified.
        # Bit i of the 64-bit token hash reads from lo (i<32) or hi.
        hashed = _spread(df).select(
            F.col(id_col).alias("id"),
            F.transform(tokens(text_col), lambda w: F.md5(w.cast("binary"))).alias("__m"),
        )
        tok = hashed.select("id", F.explode_outer("__m").alias("m")).select(
            "id",
            F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("lo"),
            F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("hi"),
        )
        count_col = "lo"

        def bit_of(idx: int) -> str:
            src, b = ("lo", idx) if idx < 32 else ("hi", idx - 32)
            return f"(shiftright({src}, {b}) & 1)"
    else:
        hashed = _spread(df).select(
            F.col(id_col).alias("id"),
            F.transform(tokens(text_col), lambda w: F.xxhash64(w)).alias("__h"),
        )
        tok = hashed.select("id", F.explode_outer("__h").alias("h"))
        count_col = "h"

        def bit_of(idx: int) -> str:
            return f"(shiftright(h, {idx}) & 1)"

    # SWAR-packed bit counting: 3 bit-counters per accumulator long, each
    # in a 20-bit field (bound: 2^20-1 ≈ 1M tokens/doc before a field
    # overflows; the top field's sum stays under 2^63). 22 packed sums
    # instead of 64 scalar sums — the aggregate's generated update method
    # is what Janino compiles on first execution, and at 65 buffers that
    # compile dominated single-shot wall (~4s of a 7s query, measured);
    # 23 buffers compile ~3× faster with identical semantics.
    # bit_of(i) is already 0/1 — no `when` wrapper. sum(NULL) for the
    # explode_outer placeholder row of an empty doc is NULL, and
    # NULL*2 > 0 is false, so empty docs still get signature 0.
    # The packed sums and the 64-term signature assembly are emitted as SQL
    # strings through ONE F.expr each: building them Column-by-Column costs
    # ~500 py4j round-trips (~1.4 s of pure driver-side construction wall,
    # measured at sf0.01 — more than the query's whole execution). The JVM
    # parses the equivalent SQL text in milliseconds; the resulting
    # expression trees are identical.
    def packed(s: int) -> F.Column:
        fields = [
            f"shiftleft({bit_of(3 * s + k)}, {20 * k})" for k in range(3) if 3 * s + k < 64
        ]
        return F.expr("sum(" + " + ".join(fields) + ")").alias(f"__p{s}")

    counts = tok.groupBy("id").agg(
        F.count(count_col).alias("__n"), *[packed(s) for s in range(22)]
    )
    mask = (1 << 20) - 1
    sig_sql = " + ".join(
        f"shiftleft(CAST((CASE WHEN ((shiftright(__p{i // 3}, {20 * (i % 3)}) & {mask}) * 2 > __n"
        f") THEN 1 ELSE 0 END) AS BIGINT), {i})"
        for i in range(64)
    )
    return counts.select("id", F.expr(sig_sql).alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_bucket_freq: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance, blocked for scale.

    Blocking: split the 64-bit signature into 4 × 16-bit blocks; any pair
    within Hamming ≤ 3·(blocks-1) shares at least one exact block
    (pigeonhole), so bucket per block → in-bucket pairs → exact Hamming
    filter. Cost O(n·block_bucket) instead of O(n²).

    Single-pass bucket groupBy instead of a self-join (same design as
    winnow_near_dups): collect each (block, key) posting list in ONE
    aggregation and expand in-bucket (a<b) pairs with a higher-order
    transform — 2 data shuffles (bucket group, pair dedup) vs ~5 for the
    equi-join formulation, and the signature pipeline is computed once
    (each side of a self-join is a separate plan instance; the broadcast
    side gets no ReusedExchange — measured ~2× the operator's wall).

    ``max_bucket_freq`` caps the posting-list size, the standard
    stop-bucket mitigation (same as winnow's ``max_doc_freq``): a 16-bit
    block value shared by thousands of docs (e.g. the all-zero block from
    very short documents) would expand O(freq²) pairs with ~no
    discriminative power. Fixture buckets max out at 17 docs.
    """
    sigs = simhash_signatures(df, text_col, id_col, portable=portable)
    blocks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select(F.col("bk.block").alias("block"), F.col("bk.key").alias("key"), "id", "simhash")
    buckets = (
        blocks.groupBy("block", "key")
        .agg(F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("docs"))
        .filter(F.size("docs").between(2, max_bucket_freq))
    )
    docs = F.col("docs")
    # all (i < j) combinations of the id-sorted posting list; the two-arg
    # lambda receives (element, index) — exactly the contract here
    pairs = F.flatten(
        F.transform(
            docs,
            lambda a, i: F.transform(
                F.slice(docs, i + F.lit(2), F.size(docs)),
                lambda b: F.struct(
                    a["id"].alias("doc_a"),
                    b["id"].alias("doc_b"),
                    F.bit_count(a["simhash"].bitwiseXOR(b["simhash"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def winnow_fingerprints(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash family, MOSS-style):
    hash every character ``k``-gram, then keep the minimum hash of each
    sliding ``window`` of consecutive gram-hashes.

    Guarantees of winnowing: any shared substring of length ≥ k+window-1
    contributes at least one common fingerprint, and fingerprint density
    is ~2/(window+1) — a constant-factor sketch of the document that is
    robust to insertions/reordering (unlike the exact md5 key) and
    position-independent (unlike raw shingles). All built-ins: sequence +
    substring + xxhash64 + slice + array_min; one narrow map.
    """
    # materialize the normalized text as a column FIRST: an expression
    # (regexp_replace chain) referenced inside the per-gram lambda would
    # re-run the regex once per gram — O(n_grams · len) regex work per
    # document (measured ~2× the whole operator's cost at sf0.01)
    normed = _spread(df).select(
        F.col(id_col).alias("id"),
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ").alias("__norm"),
    )
    norm = F.col("__norm")
    n = F.length(norm)
    gram_idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    # materialize the gram hashes as a bound column, then take the rolling
    # window-min IN-ROW with slice+array_min over that attribute: a bound
    # array reference is an O(1) fetch per lambda call, so each window
    # costs O(window), and the whole operator stays one narrow map — no
    # posexplode (which multiplied rows ~700x), no hash shuffle, no
    # per-doc sort. (The earlier explode+Window.partitionBy(id) version
    # existed because an INLINE gram-hash expression inside the window
    # lambda re-evaluates per element — materializing first removes that
    # trap without the shuffle; replacing it cut warm wall 3.1s -> <1s at
    # sf0.01.)
    if portable:
        # engine-portable gram hash (md5-prefix BIGINT — identical parse
        # in DuckDB), powering the full-oracle q_winnow_dedup_verified
        def gram_hash(i: F.Column) -> F.Column:
            return F.conv(
                F.substring(F.md5(norm.substr(i, F.lit(k)).cast("binary")), 1, 15), 16, 10
            ).cast("long")
    else:
        def gram_hash(i: F.Column) -> F.Column:
            return F.xxhash64(norm.substr(i, F.lit(k)))

    hashed = normed.select(
        "id",
        F.transform(gram_idx, gram_hash).alias("__gh"),
    )
    gh = F.col("__gh")
    n_g = F.size(gh)
    # window starts 0..max(n_grams - window, 0) (1-based slice indexes);
    # slice truncates at the array end, so short documents (< window
    # grams) yield the min over all grams — same semantics as the rolling
    # frame with trailing filter it replaces
    start_idx = F.sequence(F.lit(1), F.greatest(n_g - window, F.lit(0)) + 1)
    fps = F.array_sort(
        F.array_distinct(
            F.transform(start_idx, lambda j: F.array_min(F.slice(gh, j, window)))
        )
    )
    return hashed.select("id", fps.alias("fingerprints"))


def winnow_near_dups(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared_ratio: float = 0.5,
    max_doc_freq: int = 100,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints.

    Bucket-group on the fingerprint value: collect each fingerprint's
    (small) posting list in ONE aggregation, drop stop fingerprints by
    list size in the same pass, and expand in-bucket (a<b) pairs with a
    higher-order transform — no self-join, no second pass over the
    exploded fingerprints. Two data shuffles total (fingerprint group,
    pair group) vs. five for the equi-join formulation.

    ``max_doc_freq`` caps the posting-list size (stop-shingle filtering):
    a gram shared by thousands of docs has no discriminative power but
    would expand O(freq²) pairs — the standard corpus-scale mitigation,
    and here also the bound on per-bucket expansion (≤ freq² structs in
    one array). Pairs whose *every* shared fingerprint is that common are
    missed; near-dups always share rare grams, so recall loss is
    negligible.
    """
    fps = winnow_fingerprints(
        df, text_col=text_col, id_col=id_col, k=k, window=window, portable=portable
    )
    sized = fps.withColumn("n_fp", F.size("fingerprints"))
    # explode_OUTER, then drop the null rows explicitly: a plain explode
    # lets InferFiltersFromGenerate synthesize `size(fingerprints) > 0`,
    # and pushdown inlines the ENTIRE fingerprint expression (gram-hash
    # transform nested inside the rolling-min lambda) into that filter —
    # O(n_grams² · k) hashing per row, a multi-minute stall at sf0.01.
    # The rule skips outer generates, and the post-Generate null filter
    # can't be pushed below it, so the fingerprints column stays a bound
    # attribute computed once per row.
    flat = (
        sized.select("id", "n_fp", F.explode_outer("fingerprints").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    buckets = (
        flat.groupBy("fp")
        .agg(F.sort_array(F.collect_list(F.struct("id", "n_fp"))).alias("docs"))
        .filter(F.size("docs") <= max_doc_freq)
    )
    docs = F.col("docs")
    # all (i < j) combinations of the sorted posting list; the two-arg
    # lambda receives (element, index) — exactly the contract here
    pairs = F.flatten(
        F.transform(
            docs,
            lambda a, i: F.transform(
                F.slice(docs, i + F.lit(2), F.size(docs)),
                lambda b: F.struct(
                    a["id"].alias("doc_a"),
                    b["id"].alias("doc_b"),
                    a["n_fp"].alias("n_a"),
                    b["n_fp"].alias("n_b"),
                ),
            ),
        )
    )
    shared = (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.first("p.n_a").alias("n_a"),
            F.first("p.n_b").alias("n_b"),
        )
    )
    ratio = F.col("n_shared") / F.least("n_a", "n_b")
    return (
        shared.withColumn("shared_ratio", F.round(ratio, 6))
        .filter(F.col("shared_ratio") >= min_shared_ratio)
        .select("doc_a", "doc_b", "n_shared", "shared_ratio")
    )


def embedding_near_dups(
    emb: DataFrame, *, threshold: float = 0.95, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cos ≥ threshold).

    Exact pairwise at fixture scale (the oracle-checkable ground truth);
    the scale path buckets by random hyperplane LSH first — see
    similarity.hyperplane_lsh_neighbors, same verify step per bucket.
    """
    v = _spread(emb).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm_a = F.sqrt(F.aggregate(F.col("a.v"), F.lit(0.0), lambda acc, x: acc + x * x))
    norm_b = F.sqrt(F.aggregate(F.col("b.v"), F.lit(0.0), lambda acc, x: acc + x * x))
    cos = dot / (norm_a * norm_b)
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("vec_a"), F.col("b.id").alias("vec_b"), F.round(cos, 6).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


class NonConvergenceError(RuntimeError):
    """Connected-components failed to reach a fixed point within its round
    budget. Raised instead of returning partial labels — a non-converged
    label set silently splits one dup cluster into several, keeping
    survivors that should have been dropped."""


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (a=max, b=min) rows, self-loops out."""
    return (
        edges.select(
            F.greatest(F.col("a"), F.col("b")).alias("a"),
            F.least(F.col("a"), F.col("b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., SoCC'14): every node u links each
    strictly-larger neighbor to m = min(Γ(u) ∪ {u}). One agg + one join."""
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy(F.col("a").alias("u")).agg(
        F.least(F.min("b"), F.first("a")).alias("m")
    )
    return (
        sym.join(mins, sym["a"] == mins["u"])
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient each edge toward its larger endpoint; every
    node u links its not-larger neighbors (and itself) to their min."""
    o = _canonical_edges(edges)
    mins = o.groupBy(F.col("a").alias("u")).agg(F.min("b").alias("m"))
    spokes = (
        o.join(mins, o["a"] == mins["u"])
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    centers = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return spokes.union(centers).distinct()


def _star_contract(edges: DataFrame, max_rounds: int) -> DataFrame:
    """Alternate large-star/small-star until the edge set is a fixed point
    (a star forest rooted at each component's min id) — O(log n) rounds on
    any graph shape, including diameter-n paths where plain min-label
    propagation needs n rounds. Returns (id, comp) labels for every
    non-isolated node. Raises NonConvergenceError past max_rounds.

    Convergence check is exact set equality (count + subtract-empty), not
    a hash — a collision here would reintroduce the silent-wrong-answer
    hazard this function exists to remove.
    """
    cur = _canonical_edges(edges).localCheckpoint(eager=True)
    n_cur = cur.count()
    for _ in range(max_rounds):
        new = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        n_new = new.count()
        converged = n_new == n_cur and new.subtract(cur).isEmpty()
        cur, n_cur = new, n_new
        if converged:
            children = cur.select(F.col("a").alias("id"), F.col("b").alias("comp"))
            roots = cur.select(F.col("b").alias("id")).distinct().withColumn(
                "comp", F.col("id")
            )
            return children.union(roots).distinct()
    raise NonConvergenceError(
        f"large-star/small-star did not reach a fixed point in {max_rounds} rounds "
        f"({n_cur} edges remaining) — raise max_iter; partial labels are never returned"
    )


def _union_find(edge_rows) -> list[tuple[int, int]]:
    """Exact union-find over a bounded edge list — the driver-side body
    of connected_components' small-graph fast path. Union-by-min-id, so
    every component's root IS its min node id. Returns sorted
    (id, comp) tuples."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        a, b = int(a), int(b)
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the component label
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return [(i, find(i)) for i in sorted(parent)]


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    propagate_rounds: int = 6,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, component),
    component = min node id in the component.

    Two-tier strategy, never silently wrong:

    1. **Min-label propagation** for up to ``propagate_rounds`` rounds:
       each round every node takes the min label among itself and its
       neighbors (one equi-join + one min-agg shuffle per round). Rounds
       needed = graph diameter — near-dup clusters are dense and shallow
       (diameter ≤ ~3), so the production path settles here in a handful
       of the cheapest possible rounds.
    2. **Large-star/small-star** (Kiveris et al., "Connected Components
       in MapReduce and Beyond", SoCC'14) if propagation hasn't converged:
       O(log n) rounds on any shape, so chain-shaped dup graphs
       (sorted-neighborhood adjacency, pathological boilerplate) of
       diameter far beyond ``max_iter`` still resolve exactly.

    If even the log-round phase hits ``max_iter`` rounds without a fixed
    point, NonConvergenceError is raised — partial labels are NEVER
    returned (round 10; previously a silent cap).

    Scale notes: the edge list is persisted once and reused every
    propagation round; per-round frames are localCheckpoint'ed so the
    plan doesn't grow with iteration count (same lineage-truncation
    pattern as IVF k-means). Convergence probes are count()s — a scalar
    per round, never data to the driver — and the propagation changed
    flag is computed INSIDE the checkpointed round frame (one join + one
    agg per round total), so the probe is a filter-scan of
    already-materialized partitions rather than a second join job.

    **Small-graph fast path (round 11):** when the canonical edge set
    holds ≤ ``small_graph_edges`` rows (known from the count that
    materializes the persist), the component labels come from ONE
    bounded driver-side union-find over the collected edge list instead
    of per-round join/agg jobs — the dup-pair graphs every fixture-scale
    query feeds are hundreds of edges, where round-structured CC is pure
    job/codegen overhead (the textrank small-graph lesson). Exactness is
    unchanged (union-by-min-id union-find computes the identical
    min-label components); the collect is bounded by the parameter
    (200k edges ≈ 3 MB of BIGINT pairs — the BPE-merge/centroid
    bounded-metadata discipline), and anything larger takes the
    distributed propagate/star path as before. Deliberately NOT an
    executor-side mapInPandas task: see the in-body note on JVM
    deoptimization. Set ``small_graph_edges=0`` to force the
    distributed path (its tests).
    """
    # Self-loops are dropped from the edge set and their nodes re-added as
    # singleton components at the end — previously the propagation tier
    # labeled a self-loop-only node while the star-contract fallback
    # (whose _canonical_edges filters a != b) silently dropped it, so the
    # two tiers returned different node sets (advisor, round 10). All
    # in-repo pair sources enforce src < dst, so this is symmetry
    # hardening, not a behavior change on production paths. The raw pair
    # frame is persisted so the self-loop scan and the edge build share
    # ONE evaluation of the (often expensive) pair source.
    e0 = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist()
    # only self-loop-ONLY nodes can be absent from the edge labels — any
    # node with a real edge is labeled by either tier
    loop_ids = e0.filter(F.col("a") == F.col("b")).select(F.col("a").alias("id")).distinct()
    e = e0.filter(F.col("a") != F.col("b"))
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    edges = edges.persist()
    # this count materializes the persist (the first consumer forced it
    # anyway) and tells us which path the graph merits
    n_sym_edges = edges.count()
    id_type = dict(edges.dtypes)["a"]
    if (
        small_graph_edges
        and n_sym_edges <= 2 * small_graph_edges
        and id_type in ("tinyint", "smallint", "int", "bigint")
    ):
        # DRIVER-side union-find (round 11, revised): the canonical edge
        # set is ≤ small_graph_edges rows of two integer ids — a few MB,
        # the same bounded-metadata collect discipline as the BPE merge
        # tables and k-means centroids — and the labels re-enter the plan
        # as a LocalRelation. The first cut ran this as a one-partition
        # mapInPandas task; spinning up the executor-side Python/Arrow
        # runner mid-session DEOPTIMIZES hot JVM codegen (measured: the
        # next heavy query in the session ran at 3-10x its steady-state
        # CPU while C2 re-warmed — BENCH r11 q_ivf_topk 29-56 CPU-s vs a
        # 2.6 s steady state; a distributed-CC control showed no spike),
        # so the fast path must keep executors JVM-only.
        canon_rows = (
            edges.filter(F.col("a") < F.col("b")).select("a", "b").collect()
        )
        labels = edges.sparkSession.createDataFrame(
            _union_find(canon_rows), f"id {id_type}, comp {id_type}"
        )
        singletons = loop_ids.join(labels, "id", "left_anti").withColumn(
            "comp", F.col("id")
        )
        # eager checkpoint: consumers fan the label frame out several
        # times (cluster join + survivor filter + ...); without lineage
        # truncation each reference re-expands the whole pair-source plan
        # and Catalyst planning cost explodes multiplicatively (observed:
        # a 1235-join dbscan plan). Same discipline as the per-round
        # frames in the distributed path.
        out = labels.union(singletons).localCheckpoint(eager=True)
        edges.unpersist()
        e0.unpersist()
        return out
    labels = edges.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    converged = False
    for _ in range(min(propagate_rounds, max_iter)):
        mins = (
            edges.join(labels, edges["a"] == labels["id"])
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("comp").alias("mcomp"))
        )
        new = (
            labels.join(mins, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("mcomp", "comp")).alias("comp"),
                (F.col("mcomp") < F.col("comp")).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new.filter(F.col("__chg")).count()
        labels = new.select("id", "comp")
        if changed == 0:
            converged = True
            break
    if not converged:
        labels = _star_contract(edges, max_iter)
    # nodes whose every incident pair was a self-loop have no edge rows:
    # label them as their own singleton component so both tiers cover the
    # full node set of `pairs`; checkpointed for the same plan-hygiene
    # reason as the fast path above
    singletons = loop_ids.join(labels, "id", "left_anti").withColumn(
        "comp", F.col("id")
    )
    out = labels.union(singletons).localCheckpoint(eager=True)
    edges.unpersist()
    e0.unpersist()
    return out


def dedup_clusters(
    df: DataFrame,
    *,
    threshold: float = 0.95,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Cluster assignment for every document: (doc_id, component) where
    component is the min doc id in the doc's near-dup cluster (own id for
    singletons). The survivor-selection step of corpus dedup — keep
    ``doc_id == component``, drop the rest.

    ``pairs`` defaults to exact n-gram Jaccard (fixture-scale ground
    truth); at 100 TB inject ``minhash_lsh_pairs`` output instead — the
    component step is pair-source-agnostic.
    """
    if pairs is None:
        pairs = jaccard_pairs(df, threshold, text_col, id_col)
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp, F.col("doc_id") == F.col("id"), "left")
        .select("doc_id", F.coalesce("comp", F.col("doc_id")).alias("component"))
    )


def survivors_by_quality(
    df: DataFrame,
    *,
    threshold: float = 0.95,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
    assign: DataFrame | None = None,
) -> DataFrame:
    """Quality-aware survivor selection (round 10): keep the LONGEST
    member of each near-dup cluster (token count desc, doc id asc
    tiebreak) instead of the min id — the curation-grade keep rule: when
    a page and its truncated mirror collide, min-id keeps whichever
    crawled first, this keeps the complete one. Same cluster substrate
    as :func:`dedup_clusters` (pair-source-agnostic; inject LSH pairs at
    100 TB).

    Output: (doc_id, component, n_tok, keep) for every document —
    component is the min-id cluster label (stable across keep rules, so
    the two survivor policies are joinable), keep marks the argmax-
    quality member. NULL text counts 0 tokens on both engines (the
    coalesce-the-text-column pin).

    Scale shape: one component-keyed window over the assignment (the
    normalized_dedup group-window precedent); token counts are a narrow
    map; no new joins beyond dedup_clusters' own. Pass ``assign`` (a
    (doc_id, component) frame) to reuse a memoized cluster assignment —
    the assignment table is a build-once artifact.
    """
    from cloudtrace_exporter_spark.operators.text import token_count

    if assign is None:
        assign = dedup_clusters(
            df, threshold=threshold, text_col=text_col, id_col=id_col, pairs=pairs
        )
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_tok"), F.asc("doc_id"))
    return (
        assign.join(toks, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "component", "n_tok", "keep")
        .orderBy("doc_id")
    )


def cluster_sizes(assign: DataFrame) -> DataFrame:
    """Per-cluster summary over a (doc_id, component) assignment:
    survivor doc id (== component label, the min id) and member count.
    One small shuffle on the component key."""
    return assign.groupBy(F.col("component").alias("survivor_doc_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


def incremental_dedup(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivors of a NEW batch deduplicated against an EXISTING corpus —
    the steady-state form of corpus curation: the corpus was deduped
    once; each incoming batch only needs (a) an anti-join against the
    corpus fingerprint set and (b) exact dedup within itself
    (first-wins by id). Nothing ever re-touches corpus text.

    Scale shape: the corpus side is reduced to its distinct md5
    fingerprint column before the anti-join, so the 100 TB corpus
    contributes a narrow key stream (the artifact to persist and append
    to between batches); left_anti shuffles keys only and never widens
    rows. The within-batch pass is one window-min over the same
    fingerprint key.
    """
    fp = lambda c: F.md5(F.regexp_replace(F.lower(F.trim(F.col(c))), r"\s+", " "))  # noqa: E731
    new_keyed = new.withColumn("fingerprint", fp(text_col))
    corpus_fps = corpus.select(fp(text_col).alias("fingerprint")).distinct()
    fresh = new_keyed.join(corpus_fps, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint")
    return (
        fresh.withColumn("__min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__min_id"))
        .select(id_col, "fingerprint")
    )


def save_minhash_index(index: DataFrame, path: str) -> None:
    """Persist a ``minhash_banded_index`` table to parquet — the
    standing artifact of an incremental near-dup pipeline (the analog
    of ``similarity.save_ivf_index``). Write once after a corpus build;
    every subsequent batch joins against the loaded table and never
    touches corpus text again."""
    index.write.mode("overwrite").parquet(path)


def _require_string_bucket(index: DataFrame, path: str) -> DataFrame:
    """Reject a banded MinHash index at rest whose ``bucket`` column is
    not a string — the BIGINT bucket of an index written by an older
    hash family, whose buckets never match this family's. Without the
    check the bucket join fails deep inside the plan with a cast error
    (ANSI) or silently matches nothing (non-ANSI). Returns ``index``."""
    dtype = next((f.dataType for f in index.schema.fields if f.name == "bucket"), None)
    if not isinstance(dtype, StringType):
        found = "no bucket column" if dtype is None else f"bucket {dtype.simpleString()}"
        raise ValueError(
            f"MinHash index at {path} has {found}, expected a string bucket: "
            "rebuild it with minhash_banded_index"
        )
    return index


def load_minhash_index(spark, path: str) -> DataFrame:
    """Load a persisted banded signature index (id, signature, band,
    bucket). Feed it to ``incremental_near_dedup(corpus_index=...)``.
    Raises ``ValueError`` naming ``path`` when ``bucket`` is not a
    string column (see ``_require_string_bucket``)."""
    return _require_string_bucket(spark.read.parquet(path), path)


def incremental_near_dedup(
    new: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.5,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup extension of ``incremental_dedup``: drop NEW docs whose
    MinHash signature agrees ≥ `threshold` with ANY corpus doc sharing an
    LSH band bucket. The steady-state artifact to persist is the
    corpus's banded signature table (narrow: id, band, bucket,
    signature) — build with ``minhash_banded_index``, persist with
    ``save_minhash_index``, and pass the loaded table as
    ``corpus_index``: batches then never touch corpus text (exactly one
    of ``corpus`` / ``corpus_index`` must be given; the index must have
    been built with the SAME n_hashes/bands/shingle settings, or band
    buckets won't line up).

    Scale shape: cross-frame bucket join instead of a self-join — cost
    O(Σ |new bucket|·|corpus bucket|), the same near-linear LSH trade;
    the verify step is signature agreement (zip_with), no text compare.
    Returns the surviving NEW rows (id only).
    """
    if (corpus is None) == (corpus_index is None):
        raise ValueError("pass exactly one of corpus / corpus_index")

    def renamed(index: DataFrame, side: str) -> DataFrame:
        return index.select(
            F.col("id").alias(f"{side}_id"),
            F.col("signature").alias(f"{side}_sig"),
            "band",
            "bucket",
        )

    def build(df: DataFrame) -> DataFrame:
        return minhash_banded_index(
            df, text_col=text_col, id_col=id_col, n_hashes=n_hashes, bands=bands,
            shingle=shingle,
        )

    n_banded = renamed(build(new), "new")
    c_banded = renamed(corpus_index if corpus_index is not None else build(corpus), "old")
    matched = (
        n_banded.join(c_banded, ["band", "bucket"])
        .dropDuplicates(["new_id", "old_id"])
        .withColumn("est_jaccard", _sig_agreement("new_sig", "old_sig") / F.lit(n_hashes))
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new.select(id_col).join(matched, id_col, "left_anti")


def similarity_triangles(pairs: DataFrame) -> DataFrame:
    """Triangle count over a near-dup pair graph — the clustering-density
    probe: triangles are 3-cliques of mutual near-dups (template families
    rather than chance pairs).

    The classic distributed trick is already built into the input: pairs
    arrive id-ordered (doc_a < doc_b), so every triangle a<b<c is counted
    exactly once by one wedge join (a,b)⋈(b,c) closed by (a,c) — no
    degree-direction pass needed and no double counting. Two hash joins
    on edge endpoints; edge lists shuffle, never node payloads.

    The edge list is materialized once (localCheckpoint): it feeds three
    join arms, and without the cut Catalyst re-executes the (possibly
    expensive) pair-generation subplan per arm — the audit showed the
    O(n²) jaccard source running three times. The pair list is orders of
    magnitude smaller than the corpus, so this is the cheap side to pin.
    """
    e = pairs.select("doc_a", "doc_b").localCheckpoint()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e1.doc_a") == F.col("e3.doc_a"))
            & (F.col("e2.doc_b") == F.col("e3.doc_b")),
        )
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def chunk_dup_census(
    df: DataFrame, *, chunk_tokens: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-document duplicated-chunk census: split every document into
    non-overlapping ``chunk_tokens``-token chunks, fingerprint each, and
    report every chunk that appears in MORE THAN ONE document — the
    scalable paragraph-granularity approximation of exact substring
    dedup (the Lee et al. 2022 recipe's workhorse: boilerplate headers,
    license blocks, and syndicated passages all surface here even when
    the full documents differ).

    md5 fingerprints → one uniform hash shuffle; output is only the
    duplicated groups. Engine-portable end to end (full DuckDB oracle).
    """
    from cloudtrace_exporter_spark.operators.text import chunk_documents

    chunks = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap=0, text_col=text_col, id_col=id_col
    ).withColumn("__fp", F.md5(F.col("chunk_text").cast("binary")))
    return (
        chunks.groupBy("__fp")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .withColumnRenamed("__fp", "fingerprint")
    )


def ngram_dup_census(
    df: DataFrame, *, n: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SLIDING repeated-n-gram census: every position's n-token window
    fingerprinted, every fingerprint appearing in ≥2 DOCUMENTS reported
    — the overlap-tolerant sibling of chunk_dup_census (disjoint chunks
    miss a copy that straddles a chunk boundary; a sliding window
    cannot, which is why exact substring dedup à la Lee et al. slides).
    Cost is the flip side: the explode emits ~|tokens| rows (vs
    |tokens|/chunk for chunks) — at 100 TB run the chunk census first
    and slide only over suspect documents, or raise ``n``.

    md5 fingerprints → one uniform hash shuffle; emits (fingerprint,
    n_occurrences, n_docs, first_doc) for cross-document repeats.
    """
    toked = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
    k = F.size("__t")
    grams = toked.filter(k >= n).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), k - (n - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice("__t", i, n)).cast("binary")),
            )
        ).alias("__fp"),
    )
    return (
        grams.groupBy("__fp")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .withColumnRenamed("__fp", "fingerprint")
    )


def source_novelty(
    df: DataFrame,
    *,
    n: int = 20,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Marginal-content analysis per source: of each source's distinct
    sliding n-grams, how many appear in NO other source — the "what
    does this feed uniquely contribute?" question that decides whether
    a crawl is worth its licensing/storage cost. A source can have a
    low dup-rate (few exact copies) yet near-zero novelty (everything
    it says, someone else also says) — this report separates the two.

    Plan: distinct (source, gram-md5) pairs (one uniform shuffle), a
    per-gram source count (grams shared across sources carry
    n_sources ≥ 2), and a per-source rollup — the gram→source-count
    frame is the only intermediate and it's census-sized. Emits
    (source, n_grams, n_unique_grams, novelty).
    """
    toked = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("__t"),
    )
    k = F.size("__t")
    grams = (
        toked.filter(k >= n)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), k - (n - 1)),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("__t", i, n)).cast("binary")),
                )
            ).alias("__fp"),
        )
        .distinct()
    )
    per_gram = grams.groupBy("__fp").agg(F.count(F.lit(1)).alias("n_sources"))
    return (
        grams.join(per_gram, "__fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("n_sources") == 1).cast("long")).alias("n_unique_grams"),
        )
        .select(
            "source",
            "n_grams",
            "n_unique_grams",
            F.round(F.col("n_unique_grams") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


def dup_span_plan(
    df: DataFrame, *, chunk_tokens: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Actionable substring-dedup plan (the step AFTER the census): for
    every duplicated chunk, keep its globally FIRST occurrence (min
    (doc_id, chunk_idx)) and emit every other occurrence as a concrete
    token-offset span to delete — (doc_id, chunk_idx, tok_start,
    tok_end, fingerprint, first_doc). This is the remove-list an exact
    substring dedup pass (Lee et al. 2022 shape) hands the rewrite job;
    the census reports THAT content repeats, this says WHAT to cut.

    Keep-first is computed with one min-struct aggregation per
    fingerprint (struct ordering = (doc_id, chunk_idx) lexicographic)
    joined back to the chunk stream — at 100 TB the duplicated-
    fingerprint frame is census-sized (small) and broadcasts; the chunk
    stream shuffles once on the uniform md5 key. Spans are pure
    arithmetic on the 1-based chunk index (overlap=0 ⇒ start =
    (idx−1)·chunk_tokens, end-exclusive)."""
    from cloudtrace_exporter_spark.operators.text import chunk_documents

    chunks = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap=0, text_col=text_col, id_col=id_col
    ).withColumn("__fp", F.md5(F.col("chunk_text").cast("binary")))
    first = (
        chunks.groupBy("__fp")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct("doc_id", "chunk_idx")).alias("__first"),
        )
        .filter(F.col("__n") >= 2)
        .select(
            "__fp",
            F.col("__first.doc_id").alias("first_doc"),
            F.col("__first.chunk_idx").alias("__first_idx"),
        )
    )
    return (
        chunks.join(F.broadcast(first), "__fp")
        .filter(
            ~(
                (F.col("doc_id") == F.col("first_doc"))
                & (F.col("chunk_idx") == F.col("__first_idx"))
            )
        )
        .select(
            "doc_id",
            "chunk_idx",
            ((F.col("chunk_idx") - 1) * chunk_tokens).cast("long").alias("tok_start"),
            ((F.col("chunk_idx") - 1) * chunk_tokens + F.col("n_chunk_tokens"))
            .cast("long")
            .alias("tok_end"),
            F.col("__fp").alias("fingerprint"),
            "first_doc",
        )
    )


def dedup_rewrite(
    df: DataFrame, *, chunk_tokens: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Execute the substring-dedup plan: rebuild every document WITHOUT
    its duplicated chunks (keeping each chunk's globally first
    occurrence) — the rewrite job ``dup_span_plan`` feeds; its output is
    the cleaned corpus a dedup pass actually ships. Emits (doc_id,
    n_chunks, n_chunks_dropped, n_tokens_kept, clean_text); documents
    reduced to nothing (every chunk was someone else's) come out with
    empty text, preserving corpus accounting.

    Same two-pass shape as the plan: census-sized first-occurrence
    frame broadcast against the chunk stream, then ONE per-doc
    aggregation reassembles the kept chunks in chunk order
    (sort_array over (idx, text) structs — in-row, no window). The
    rebuilt text normalizes inter-chunk whitespace to single spaces,
    which the tokenizer treats identically."""
    from cloudtrace_exporter_spark.operators.text import chunk_documents

    chunks = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap=0, text_col=text_col, id_col=id_col
    ).withColumn("__fp", F.md5(F.col("chunk_text").cast("binary")))
    first = (
        chunks.groupBy("__fp")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct("doc_id", "chunk_idx")).alias("__first"),
        )
        .filter(F.col("__n") >= 2)
        .select(
            "__fp",
            F.col("__first.doc_id").alias("__fdoc"),
            F.col("__first.chunk_idx").alias("__fidx"),
        )
    )
    flagged = chunks.join(F.broadcast(first), "__fp", "left").withColumn(
        "__drop",
        F.col("__fdoc").isNotNull()
        & ~((F.col("doc_id") == F.col("__fdoc")) & (F.col("chunk_idx") == F.col("__fidx"))),
    )
    kept_struct = F.when(
        ~F.col("__drop"), F.struct("chunk_idx", "chunk_text")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.col("__drop").cast("long")).cast("long").alias("n_chunks_dropped"),
            F.sum(F.when(~F.col("__drop"), F.col("n_chunk_tokens")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_tokens_kept"),
            F.sort_array(F.collect_list(kept_struct)).alias("__kept"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_chunks_dropped",
            "n_tokens_kept",
            F.concat_ws(
                " ", F.transform(F.col("__kept"), lambda s: s["chunk_text"])
            ).alias("clean_text"),
        )
    )


def chunk_overlap_ratio(
    df: DataFrame, *, chunk_tokens: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document duplicated-content ratio: the fraction of a doc's
    chunks whose fingerprint also appears in ANOTHER document — the
    curation score that catches partial copies (intra-doc repeats don't
    count; a doc quoting its own refrain isn't a cross-doc dup).

    The duplicated-fingerprint set is the (small) output of
    chunk_dup_census — broadcast back against the chunk stream; one
    groupBy per doc. At 100 TB the census is the artifact to persist and
    the ratio is a cheap second pass.
    """
    from cloudtrace_exporter_spark.operators.text import chunk_documents

    # one chunk+fingerprint derivation feeds BOTH the census and the
    # per-doc pass (calling chunk_dup_census here would re-chunk the
    # corpus from scratch — separate plan instance, no reuse)
    chunks = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap=0, text_col=text_col, id_col=id_col
    ).withColumn("__fp", F.md5(F.col("chunk_text").cast("binary"))).cache()
    dup_fps = (
        chunks.groupBy("__fp")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__fp", F.lit(1).alias("__dup"))
    )
    return (
        chunks.join(F.broadcast(dup_fps), "__fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))).alias("n_dup_chunks"),
        )
        .withColumn("dup_ratio", F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6))
    )


def dedup_intra_doc(
    df: DataFrame,
    *,
    chunk_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Intra-document deduplication: drop repeated token chunks WITHIN a
    document, first occurrence wins — the self-repetition cleaning step
    (template boilerplate, crawler loops, generation stutter) that
    cross-document dedup (chunk_dup_census's family) never touches.

    Non-overlapping ``chunk_tokens`` windows; two shuffles — the
    (doc, chunk) first-occurrence aggregate and the per-doc reassembly.
    Output stays narrow: the cleaned document travels as ``clean_fp``
    (md5 of the order-preserving reassembly) rather than full text —
    at 100 TB the reassembled text is written by the caller from the
    kept (pos, chunk) rows, not carried through the plan.

    Returns (doc_id, n_chunks, n_kept, clean_fp).
    """
    toked = _spread(df).select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
    t = F.col("__t")
    n = F.size(t)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(chunk_tokens))
    chunks = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(t, i, chunk_tokens)))
    flat = toked.filter(n >= 1).select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    firsts = flat.groupBy("doc_id", "chunk").agg(
        F.min("pos").alias("pos"), F.count(F.lit(1)).alias("cnt")
    )
    return firsts.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
            )
        ).alias("clean_fp"),
    )



def _ascii_fold(c: F.Column) -> F.Column:
    """Fold every non-ASCII codepoint to '#' in an edit-distance KEY so a
    byte-based engine and a codepoint-based engine measure IDENTICAL
    lengths, substring positions, and Levenshtein distances (round-8
    differential-fuzz find: Spark's levenshtein counts codepoints,
    DuckDB's counts BYTES — '北京' is distance 2 vs 6 — so any non-ASCII
    key silently diverges at a threshold boundary). ASCII text is
    untouched; non-ASCII codepoints collapse to one symbol class, a
    standard blocking-key normalization for fuzzy matching (distances on
    folded keys lower-bound the true codepoint distances)."""
    return F.regexp_replace(c, r"[^\x00-\x7F]", "#")


def fuzzy_prefix_join(
    df: DataFrame,
    *,
    n_prefix_tokens: int = 8,
    max_dist: int = 10,
    block_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    fold_keys: bool = False,
) -> DataFrame:
    """Fuzzy (edit-distance) self-join — the record-linkage join family:
    pair documents whose leading-token prefix is within ``max_dist``
    Levenshtein edits, candidates generated by BLOCKING on
    (``block_col``, first token) so the quadratic comparison only ever
    runs inside a block, never across the corpus.

    Three scale levers, each standard record-linkage practice:
    - blocking keys bound the candidate set (O(Σ block²), not O(n²));
      a skewed block (a stop-word first token) is the residual risk —
      salt it or add a second blocking attribute;
    - the DP cost per pair is capped by the TOKEN-PREFIX length, not
      document length;
    - Spark's thresholded ``levenshtein(l, r, max_dist)`` abandons a
      pair's DP as soon as the running distance exceeds the bound
      (returns -1), so hopeless pairs cost O(prefix·max_dist), not
      O(prefix²). The DuckDB oracle replays with the unbounded 2-arg
      form + filter — identical kept set and distances.

    Returns (doc_a, doc_b, dist), id-ordered, one row per matched pair.

    ``dist`` is the TRUE codepoint Levenshtein distance of the token
    prefixes (Spark's native semantics). ``fold_keys=True`` switches to
    the ``_ascii_fold``-ed prefix for BOTH the comparison and the
    reported distance — every non-ASCII codepoint collapses to '#', so
    two different CJK prefixes of the same shape report dist 0. That
    mode exists ONLY for byte-based-oracle parity (DuckDB's levenshtein
    counts bytes) and is what the registered ``q_fuzzy_prefix_join``
    uses; never enable it for a real non-ASCII dedup funnel (advisor r8
    find: the silent fold was a false-merge hazard).
    """
    t = tokens(text_col)
    pfx = F.concat_ws(" ", F.slice(t, 1, n_prefix_tokens))
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        # null-tolerant first token (F.get, not element_at): an
        # empty/whitespace-only document has NO tokens — its NULL block
        # key never equi-joins, excluding it in both engines (DuckDB
        # list[1] on an empty list is NULL too). Found by the
        # hypothesis threshold-monotonicity property.
        F.get(t, 0).alias("tok1"),
        (_ascii_fold(pfx) if fold_keys else pfx).alias("pfx"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.tok1") == F.col("b.tok1"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            dist.cast("long").alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def fuzzy_sorted_neighborhood(
    df: DataFrame,
    *,
    n_prefix_tokens: int = 8,
    max_dist: int = 10,
    window: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    fold_keys: bool = False,
) -> DataFrame:
    """Sorted-neighborhood fuzzy matching — the classic second pass after
    blocked matching (``fuzzy_prefix_join``): sort the corpus by its
    token prefix and compare each record only to its next ``window``
    neighbors in sort order. Catches pairs a hard blocking key splits
    (different first token, different block attribute) while still doing
    O(n·window) comparisons.

    Scale shape: the global total order comes from
    ``analytics.global_row_number`` (range-partitioned two-phase
    numbering — never a single-task window), and the rank-range
    neighbor join is a single BUCKET-OWNER aggregation, not a self-join:
    every row emits ``window + 1`` narrow (rank-slot, id, prefix)
    triples keyed by ``bucket = rn - k`` (k = 0 marks the bucket's
    owner, k ≥ 1 its followers), ONE hash shuffle groups each owner
    with exactly its next ``window`` neighbors, and the pairs unfold
    in-row. The ranked frame has a single consumer, so the numbering
    lineage runs once and the whole plan is range-exchange + one
    bucket exchange — no theta join, no probe/rank double exchange, no
    ReusedExchange dependency. Pairs emit id-ordered (least/greatest)
    with their edit distance.

    ``dist`` is the TRUE codepoint Levenshtein distance of the prefixes;
    ``fold_keys=True`` sorts AND compares on the ``_ascii_fold``-ed
    prefix instead (non-ASCII → '#', so distinct CJK prefixes of the
    same shape report dist 0) — byte-oracle parity mode only (used by
    the registered ``q_fuzzy_sorted_neighborhood``), never for a real
    non-ASCII corpus (advisor r8 find).
    """
    from cloudtrace_exporter_spark.operators.analytics import global_row_number

    t = tokens(text_col)
    pfx = F.concat_ws(" ", F.slice(t, 1, n_prefix_tokens))
    keyed = df.select(
        F.col(id_col).alias("id"),
        (_ascii_fold(pfx) if fold_keys else pfx).alias("pfx"),
    )
    rk = global_row_number(keyed, ["pfx", "id"]).select("id", "pfx", "rn")
    slots = rk.select(
        "id",
        "pfx",
        "rn",
        F.explode(F.sequence(F.lit(0), F.lit(window))).alias("k"),
    ).select(
        (F.col("rn") - F.col("k")).alias("bucket"),
        "k",
        F.struct("id", "pfx").alias("row"),
    )
    grouped = (
        slots.groupBy("bucket")
        .agg(
            F.max(F.when(F.col("k") == 0, F.col("row"))).alias("owner"),
            # collect_list drops the NULLs the when() leaves on k = 0 rows
            F.collect_list(F.when(F.col("k") > 0, F.col("row"))).alias("followers"),
        )
        .filter(F.col("owner").isNotNull())
    )
    pairs = grouped.select("owner", F.explode("followers").alias("other"))
    dist = F.levenshtein(F.col("owner.pfx"), F.col("other.pfx"), max_dist)
    return pairs.select(
        F.least(F.col("owner.id"), F.col("other.id")).alias("doc_a"),
        F.greatest(F.col("owner.id"), F.col("other.id")).alias("doc_b"),
        dist.cast("long").alias("dist"),
    ).filter(F.col("dist") >= 0)


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric token-set CONTAINMENT pairs: |A∩B| / |A| ≥ threshold
    with A the smaller set — catches a document quoted or embedded
    inside a larger one, which symmetric Jaccard misses (the union term
    dilutes the score as the host document grows). The subset-dedup
    screen (small doc is the candidate duplicate, the larger its host).

    Same O(n²) fixture-scale shape and bounded-slice discipline as
    jaccard_pairs; at 100 TB generate candidates with minhash_lsh_pairs
    first and apply this formula only within buckets. Emits
    (inner_id, host_id, containment) — inner is the (possibly) engulfed
    smaller-set side; equal sizes tie-break to the lower id as inner.
    """
    toks = _spread(df).select(
        F.col(id_col).alias("id"), F.array_distinct(tokens(text_col)).alias("tok")
    )
    a, b = toks.alias("a"), toks.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    return _containment_verify(pairs, threshold)


def _containment_verify(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact containment scoring over a candidate-pair frame carrying
    ``a.id/a.tok/b.id/b.tok`` (aliased sides): inner = smaller token set
    (ties to the lower id), containment = |A∩B| / |inner|, rounded and
    thresholded — the verification tail of the exact theta join, and the
    reference the prefix-filtered path's Arrow kernel and bitset tier
    match bit-for-bit."""
    sa, sb = F.size(F.col("a.tok")), F.size(F.col("b.tok"))
    inter = F.size(F.array_intersect(F.col("a.tok"), F.col("b.tok")))
    a_inner = (sa < sb) | ((sa == sb) & (F.col("a.id") < F.col("b.id")))
    inner_sz = F.when(a_inner, sa).otherwise(sb)
    cont = F.when(inner_sz > 0, inter / inner_sz).otherwise(F.lit(0.0))
    return (
        pairs.select(
            F.when(a_inner, F.col("a.id")).otherwise(F.col("b.id")).alias("inner_id"),
            F.when(a_inner, F.col("b.id")).otherwise(F.col("a.id")).alias("host_id"),
            F.round(cont, 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def _containment_verify_arrow(pairs: DataFrame, threshold: float) -> DataFrame:
    """Arrow-batched exact containment scoring — the same contract as
    ``_containment_verify`` (bit-identical output, pinned by
    test_fast_paths) with the per-pair ``array_intersect`` hash build
    replaced by ONE vectorized set-intersection per Arrow batch
    (guide §4.2: hand whole batches to native kernels, no pickled rows,
    plan shows ``PythonMapInArrow``, never ``BatchEvalPython``).

    Kernel: per batch, dictionary-encode the concatenated token values
    of both sides (exact string equality — per-batch codes, no hashing
    across batches, so no collision risk), form (pair_idx, code) keys,
    and count per-pair key intersections with one ``np.intersect1d``
    over the whole batch (sides are ``array_distinct`` upstream, so
    keys are unique per side). inner/host roles, the containment
    division, rounding, and the threshold filter all stay JVM-side —
    identical expressions to the fallback. Rows whose token arrays
    contain NULL elements take a per-batch exact Python-set path that
    replays ``array_intersect``'s null semantics (null counts when
    present on both sides)."""
    sa, sb = F.size(F.col("a.tok")), F.size(F.col("b.tok"))
    a_inner = (sa < sb) | ((sa == sb) & (F.col("a.id") < F.col("b.id")))
    base = pairs.select(
        F.when(a_inner, F.col("a.id")).otherwise(F.col("b.id")).alias("inner_id"),
        F.when(a_inner, F.col("b.id")).otherwise(F.col("a.id")).alias("host_id"),
        F.when(a_inner, sa).otherwise(sb).alias("inner_sz"),
        F.col("a.tok").alias("a_tok"),
        F.col("b.tok").alias("b_tok"),
    )
    id_t = base.schema["inner_id"].dataType.simpleString()
    out_schema = f"inner_id {id_t}, host_id {id_t}, inner_sz int, inter int"

    def _batches(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            a, b = batch.column(3), batch.column(4)
            av, bv = a.flatten(), b.flatten()
            if av.null_count or bv.null_count:
                # exact slow path, array_intersect null semantics
                inter = np.array(
                    [
                        len(set(x or []) & set(y or []))
                        for x, y in zip(a.to_pylist(), b.to_pylist())
                    ],
                    dtype=np.int32,
                )
            else:
                la = pc.fill_null(pc.list_value_length(a), 0).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                lb = pc.fill_null(pc.list_value_length(b), 0).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                n_a = len(av)
                enc = pc.dictionary_encode(pa.concat_arrays([av, bv]))
                codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
                n_codes = len(enc.dictionary)
                ia = np.repeat(np.arange(len(la), dtype=np.int64), la)
                ib = np.repeat(np.arange(len(lb), dtype=np.int64), lb)
                key_a = ia * n_codes + codes[:n_a]
                key_b = ib * n_codes + codes[n_a:]
                common = np.intersect1d(key_a, key_b, assume_unique=True)
                inter = (
                    np.bincount(common // n_codes, minlength=len(la)).astype(np.int32)
                    if common.size
                    else np.zeros(len(la), np.int32)
                )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), batch.column(2), pa.array(inter)],
                names=["inner_id", "host_id", "inner_sz", "inter"],
            )

    out = base.mapInArrow(_batches, out_schema)
    cont = F.when(
        F.col("inner_sz") > 0, F.col("inter") / F.col("inner_sz")
    ).otherwise(F.lit(0.0))
    return out.select(
        "inner_id", "host_id", F.round(cont, 6).alias("containment")
    ).filter(F.col("containment") >= threshold)


def containment_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    _cache: bool = True,
    bitset_vocab: int = 64,
) -> DataFrame:
    """Scale-true containment pairs via EXACT prefix filtering (the
    PPJoin principle): if host B contains ≥ threshold·|A| of inner A's
    tokens, then A is missing at most ⌊(1−t)·|A|⌋ of them — so B must
    share at least one of A's ⌊(1−t)·|A|⌋+1 rarest tokens (rarity = global
    document frequency, ties by token). Candidates therefore come from
    joining each document's rare-token PREFIX against a full inverted
    index, and the exact formula verifies in-bucket — the SAME result
    set as the O(n²) theta join (prefix filtering admits no false
    negatives), with only linear shuffles.

    Scale shape at 100 TB: token df is one explode+groupBy; the inverted
    index is corpus-token-volume rows (linear); probes are a few rarest
    tokens per doc, so the candidate join touches only the short rare posting
    lists (common tokens have no probes, and AQE's skew split handles
    residual hot tokens); verification joins the tiny candidate frame
    back to the token arrays on the uniform doc id. No BNLJ anywhere —
    this is the wired default for q_containment_pairs; the theta join
    above survives as the bounded-slice ground truth.
    """
    _c = cache_once if _cache else (lambda d: d)
    # toks feeds df-count, postings, probes, and 2 verify joins. Cached,
    # not localCheckpoint'ed (round 11): an eager checkpoint re-tokenizes
    # on EVERY invocation while the cache is shared by repeated queries
    # over the same corpus slice (measured at sf0.1: wall 2.68 → 2.02,
    # CPU 18.8 → 11.6 for the full operator). The AUX `_cache=False` pin
    # keeps the checkpoint so the uncached index-build fingerprint stays
    # comparable.
    raw_toks = _spread(df).select(
        F.col(id_col).alias("id"), F.array_distinct(tokens(text_col)).alias("tok")
    )
    toks = _c(raw_toks) if _cache else raw_toks.localCheckpoint()
    flat = _c(toks.select("id", F.size("tok").alias("sz"), F.explode("tok").alias("t")))
    # the document-frequency index is consumed twice (probe ranking +
    # posting pruning); cache it so the explode+groupBy shuffle runs once
    # (round 11, r10 verdict order #4 — the containment CPU was mostly
    # rebuilding this index per consumer). ``_cache=False`` exists for the
    # plan_audit AUX pin, which fingerprints the UNCACHED index build so a
    # future regression inside it stays visible.
    tok_df = _c(flat.groupBy("t").agg(F.count(F.lit(1)).alias("df")))
    ranked = flat.join(tok_df, "t")
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("t"))
    # prefix size |A| − ⌈t·|A|⌉ + 1 — the smallest prefix that guarantees
    # a shared token with every qualifying host. The 1e-6 slack covers
    # BOTH float traps at once: the verify tail rounds containment to 6
    # digits before thresholding (a true score of t − 5e-7 still
    # qualifies), and t·|A| computed in binary can land an ulp above the
    # exact product when it is a whole number (0.8·35 = 28.000…004,
    # whose ceil would silently shrink the prefix by one and drop pairs
    # sitting exactly at the threshold)
    probes = (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("sz") - F.ceil((threshold - 1e-6) * F.col("sz")) + 1
        )
        # df=1 tokens can only match their own document — pruning them
        # from both join sides costs nothing and removes the (typically
        # long, since probes are the RAREST tokens) unique-token tail
        .filter(F.col("df") >= 2)
        .select("id", "t")
    )
    postings = flat.join(tok_df.filter(F.col("df") >= 2).select("t"), "t").select(
        F.col("id").alias("pid"), "t"
    )
    # round 12 bitset tier (r11 verdict order #4, redesigned after stage
    # decomposition): the verify intersect was NOT the cost — attaching
    # the token ARRAYS to the candidate pairs (two joins shipping
    # ~0.6 KB/pair) and the pre-verify dropDuplicates exchange were.
    # When the SHAREABLE vocabulary (tokens with df ≥ 2 — a df=1 token
    # can never be in an intersection of two distinct docs) fits one
    # machine word, each document's shareable token set is an exact
    # 64-bit bitmap (the classic bitmap-index representation): candidates
    # carry two LONGs instead of two arrays, |A∩B| = bit_count(maskA &
    # maskB), and the duplicate-candidate collapse moves AFTER the
    # threshold filter (popcount verify is ~free per row, so verifying
    # the 1.6x raw multiplicity is cheaper than an exchange that dedups
    # 717k rows — the r11 "late dedup" rejection inverted, because the
    # verify is no longer array-priced). |A| (inner_sz) still counts ALL
    # tokens incl. df=1. Values are bit-identical to the array paths
    # (pinned by test_fast_paths); vocab > ``bitset_vocab`` (cap 64)
    # falls through to the array candidate path below — at 100 TB the
    # vocabulary never fits and this tier never fires. bitset_vocab=0
    # disables (tests).
    if bitset_vocab:
        shared_toks = (
            tok_df.filter(F.col("df") >= 2)
            .select("t")
            .orderBy("t")
            .limit(min(bitset_vocab, 64) + 1)
            .collect()
        )
        if len(shared_toks) <= min(bitset_vocab, 64):
            # token → its bit VALUE (1 << i as a signed-64 literal; bit 63
            # is the sign bit, OR/AND/bit_count are bitwise-exact on the
            # two's-complement long either way)
            tok_bit = (
                F.create_map(
                    *[
                        x
                        for i, r in enumerate(shared_toks)
                        for x in (
                            F.lit(r["t"]),
                            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long"),
                        )
                    ]
                )
                if shared_toks
                else None
            )
            zero = F.lit(0).cast("long")
            mask_expr = (
                F.aggregate(
                    "tok",
                    zero,
                    lambda acc, t: acc.bitwiseOR(
                        F.coalesce(F.element_at(tok_bit, t), zero)
                    ),
                )
                if tok_bit is not None
                else zero
            )
            masks = _c(
                toks.select("id", F.size("tok").alias("msz"), mask_expr.alias("mask"))
            )
            pm = probes.join(
                masks.select(
                    F.col("id"), F.col("msz").alias("__sa"), F.col("mask").alias("__ma")
                ),
                "id",
            )
            qm = postings.join(
                masks.select(
                    F.col("id").alias("pid"),
                    F.col("msz").alias("__sb"),
                    F.col("mask").alias("__mb"),
                ),
                "pid",
            )
            a_first = F.col("id") < F.col("pid")
            raw = (
                pm.join(qm, "t")
                .filter(F.col("id") != F.col("pid"))
                .select(
                    F.least("id", "pid").alias("a_id"),
                    F.greatest("id", "pid").alias("b_id"),
                    F.when(a_first, F.col("__sa")).otherwise(F.col("__sb")).alias("sa"),
                    F.when(a_first, F.col("__sb")).otherwise(F.col("__sa")).alias("sb"),
                    F.when(a_first, F.col("__ma")).otherwise(F.col("__mb")).alias("ma"),
                    F.when(a_first, F.col("__mb")).otherwise(F.col("__ma")).alias("mb"),
                )
            )
            inter = F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))
            a_inner = (F.col("sa") < F.col("sb")) | (
                (F.col("sa") == F.col("sb")) & (F.col("a_id") < F.col("b_id"))
            )
            inner_sz = F.when(a_inner, F.col("sa")).otherwise(F.col("sb"))
            cont = F.when(inner_sz > 0, inter / inner_sz).otherwise(F.lit(0.0))
            return (
                raw.select(
                    F.when(a_inner, F.col("a_id"))
                    .otherwise(F.col("b_id"))
                    .alias("inner_id"),
                    F.when(a_inner, F.col("b_id"))
                    .otherwise(F.col("a_id"))
                    .alias("host_id"),
                    F.round(cont, 6).alias("containment"),
                )
                .filter(F.col("containment") >= threshold)
                .dropDuplicates(["inner_id", "host_id"])
            )
    cand = (
        probes.join(postings, "t")
        .filter(F.col("id") != F.col("pid"))
        .select(
            F.least("id", "pid").alias("a_id"), F.greatest("id", "pid").alias("b_id")
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    pairs = (
        cand.join(toks.select(F.col("id").alias("a_id"), F.col("tok").alias("a_tok")), "a_id")
        .join(toks.select(F.col("id").alias("b_id"), F.col("tok").alias("b_tok")), "b_id")
        .select(
            F.struct(F.col("a_id").alias("id"), F.col("a_tok").alias("tok")).alias("a"),
            F.struct(F.col("b_id").alias("id"), F.col("b_tok").alias("tok")).alias("b"),
        )
    )
    # round 12 (r11 verdict order #4): the exact-verify kernel — the
    # dominant real compute of the adversarial fixture (449k candidate
    # pairs) — runs as one Arrow-batched set intersection per batch
    # instead of a per-pair array_intersect hash build. Bit-identical to
    # the exact theta join's _containment_verify (pinned by
    # test_fast_paths against containment_pairs).
    return _containment_verify_arrow(pairs, threshold)


def lsh_tuning_report(
    df: DataFrame,
    *,
    n_hashes: int = 32,
    shingle: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_fraction: float | None = None,
) -> DataFrame:
    """LSH PARAMETER-TUNING report: for every (bands, rows) split of the
    signature and every similarity decile, the MEASURED band-collision
    rate next to the THEORETICAL S-curve 1−(1−s^r)^b — the table an
    operator reads to pick bands/rows before building a 100 TB index
    (where is my threshold's knee, what leaks through, what
    false-positives flood in).

    The pair population is the candidates of the LOOSEST banding
    (n_hashes bands × 1 row — collides when ANY slot agrees, so it
    sees every pair the tighter configs could catch); each tighter
    config's collision outcome is then evaluated DIRECTLY on the stored
    signatures (∃ band: all r slots agree) — one pair frame, zero
    re-banding joins. Engine-exactness: similarity deciles come from
    the integer agreement count, measured rate is one int/int division,
    and the theoretical curve is evaluated at the BUCKET MIDPOINT by
    repeated multiplication (never pow/avg — no float summation or libm
    call anywhere), so the full table replays in DuckDB.

    100 TB posture: this is an OFFLINE calibration artifact — pass
    ``sample_fraction`` to estimate the curve from a deterministic
    md5-hash sample of documents (the hash_sample discipline:
    reproducible, engine-portable) instead of the full corpus; the
    loosest banding's candidate volume otherwise grows with the square
    of duplicate-cluster sizes (measured: a dedup-adversarial 10×
    replica pays 25× the wall — sampling is the wired answer, not a
    bigger cluster).
    """
    if sample_fraction is not None:
        hexes = 8
        thr = format(int(round(sample_fraction * 16**hexes)), "08x")
        df = df.filter(
            F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, hexes)
            < F.lit(thr)
        )
    idx = minhash_banded_index(
        df, text_col=text_col, id_col=id_col, n_hashes=n_hashes,
        bands=n_hashes, shingle=shingle,
    ).cache()
    base = _banded_candidates(idx).select(
        "sig_a", "sig_b", _sig_agreement("sig_a", "sig_b").alias("__agree")
    )
    bucket = F.least(F.floor(F.col("__agree") * 10 / n_hashes), F.lit(9)).cast("long")

    configs = []
    bands_opt = [n_hashes]
    while bands_opt[-1] > 1:
        bands_opt.append(bands_opt[-1] // 2)
    for nb in bands_opt:
        r = n_hashes // nb
        # one F.expr per config instead of ~(n_hashes) Column objects:
        # building the collide predicate element-wise cost ~1,000 py4j
        # round trips ≈ 2.7 s of DRIVER time per invocation (round-12
        # decomposition: 3.76 s total, 2.71 s spent constructing the
        # DataFrame before any job ran). The SQL string is one call;
        # semantics identical (slot equality, AND within band, OR across
        # bands, boolean→BIGINT cast; signature slots are never null).
        collide_sql = " OR ".join(
            "("
            + " AND ".join(
                f"sig_a[{s_i}] = sig_b[{s_i}]"
                for s_i in range(band_i * r, band_i * r + r)
            )
            + ")"
            for band_i in range(nb)
        )
        configs.append(
            F.struct(
                F.lit(nb).alias("n_bands"),
                F.lit(r).alias("n_rows"),
                F.expr(f"CAST(({collide_sql}) AS BIGINT)").alias("hit"),
            )
        )
    exploded = base.select(
        bucket.alias("sim_bucket"), F.explode(F.array(*configs)).alias("c")
    ).select("sim_bucket", F.col("c.n_bands"), F.col("c.n_rows"), F.col("c.hit"))
    agg = exploded.groupBy("n_bands", "n_rows", "sim_bucket").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("hit").alias("n_collisions"),
    )
    # theoretical 1-(1-s^r)^b at the decile midpoint, by repeated
    # multiplication only — a per-group CONSTANT, so no float aggregation.
    # Built as one SQL string per config (same driver-side py4j economy
    # as the collide predicates above); the leading 1.0D* factors keep
    # the multiplication chains bit-identical to the previous
    # lit(1.0)-seeded Column loops (IEEE: 1.0*x == x exactly).
    def theo(nb: int, r: int) -> F.Column:
        s_mid = "((CAST(sim_bucket AS DOUBLE) + 0.5D) / 10.0D)"
        p = "*".join(["1.0D"] + [s_mid] * r)
        q = f"(1.0D - {p})"
        acc = "*".join(["1.0D"] + [q] * nb)
        return F.expr(f"1.0D - {acc}")

    theo_expr = None
    for nb in bands_opt:
        r = n_hashes // nb
        cond = (F.col("n_bands") == nb) & (F.col("n_rows") == r)
        theo_expr = (
            F.when(cond, theo(nb, r))
            if theo_expr is None
            else theo_expr.when(cond, theo(nb, r))
        )
    return agg.select(
        "n_bands",
        "n_rows",
        "sim_bucket",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_collisions").cast("long").alias("n_collisions"),
        (F.col("n_collisions") / F.col("n_pairs")).alias("measured_rate"),
        F.round(theo_expr, 6).alias("expected_rate"),
    ).orderBy("n_bands", "sim_bucket")


def lsh_eval_report(
    df: DataFrame,
    *,
    threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_fraction: float | None = None,
) -> DataFrame:
    """LSH dedup QUALITY evaluation: precision/recall/F1 of the
    MinHash+LSH pair set against exact SHINGLE-set Jaccard ground truth
    at the same threshold — the one-row verdict on "is this index
    configuration good enough to delete data with" (the tuning report
    shows the curve; this scores the operating point). Compares like
    with like: the ground truth is shingle Jaccard (what MinHash
    estimates), not token Jaccard — mixing the two inflates apparent
    estimator error.

    The exact side is the all-pairs theta join — fixture-scale ground
    truth ONLY (the jaccard_pairs contract); at 100 TB pass
    ``sample_fraction`` (deterministic md5 document sample) and read
    the report as an estimate. The LSH side is the production
    minhash_lsh_pairs path (full oracle).

    Output: one row — n_truth, n_lsh, n_true_pos, precision, recall,
    f1 (raw int/int doubles; F1's two float ops are order-pinned).
    """
    if sample_fraction is not None:
        hexes = 8
        thr = format(int(round(sample_fraction * 16**hexes)), "08x")
        df = df.filter(
            F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, hexes)
            < F.lit(thr)
        )
    toks = _spread(df).select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    sh = toks.select("id", _shingles(F.col("__t"), shingle).alias("s")).cache()
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.col("a.s")) + F.size(F.col("b.s")) - inter
    exact = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            (inter / union).alias("j"),
        )
        .filter(F.col("j") >= threshold)
        .select("doc_a", "doc_b")
    )
    lsh = minhash_lsh_pairs(
        df, text_col=text_col, id_col=id_col, n_hashes=n_hashes, bands=bands,
        shingle=shingle, threshold=threshold,
    ).select("doc_a", "doc_b")
    tp = lsh.join(exact, ["doc_a", "doc_b"], "left_semi")
    counts = (
        exact.agg(F.count(F.lit(1)).alias("n_truth"))
        .join(lsh.agg(F.count(F.lit(1)).alias("n_lsh")))
        .join(tp.agg(F.count(F.lit(1)).alias("n_true_pos")))
    )
    prec = F.when(F.col("n_lsh") > 0, F.col("n_true_pos") / F.col("n_lsh"))
    rec = F.when(F.col("n_truth") > 0, F.col("n_true_pos") / F.col("n_truth"))
    f1 = F.when(
        (prec + rec) > 0, F.lit(2.0) * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return counts.select(
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_lsh").cast("long").alias("n_lsh"),
        F.col("n_true_pos").cast("long").alias("n_true_pos"),
        prec.alias("precision"),
        rec.alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def passjoin_edit_pairs(
    df: DataFrame,
    *,
    max_dist: int = 3,
    prefix_chars: int = 20,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    fold_keys: bool = False,
) -> DataFrame:
    """EXACT edit-distance self-join via PassJoin segment pigeonholing
    (Li/Deng/Feng, ICDE 2011) — every pair of prefixes within
    ``max_dist`` Levenshtein edits, with NO false negatives: the
    candidate generator is provably complete, unlike the two heuristic
    fuzzy joins above (``fuzzy_prefix_join`` misses pairs whose first
    token differs; ``fuzzy_sorted_neighborhood`` misses pairs the sort
    order separates). This is the ground-truth member of the fuzzy-join
    family — the other two trade recall for cheaper candidates.

    Pigeonhole argument: partition a string r into d+1 contiguous
    segments. Each of the ≤ d edit operations touches at most one
    segment of r, so at least ONE segment survives verbatim as a
    substring of s, displaced by at most d positions (the net
    insertion/deletion count before it). Candidates are therefore an
    EQUI-join: r contributes its d+1 (length, segment-index, segment)
    keys; s contributes, for every plausible r-length |s|±d and every
    segment slot, the substrings at the ±d displaced positions. Per
    string that is ≤ (2d+1)·(d+1) index+probe keys — LINEAR candidate
    volume, never the O(n²) theta-join of the brute-force form (which
    survives only as the DuckDB oracle).

    Verification: Spark's thresholded ``levenshtein(a, b, max_dist)``
    (early-abandoning banded DP) on the deduplicated candidate pairs.

    Scale shape: two narrow generator maps (explode of a bounded
    integer sequence + flat column arithmetic — no Python, no nested
    lambdas), one equi-shuffle on (assumed-length, segment-slot,
    segment), the banded verify in-partition on the joined stream, then
    a pair dedup over survivors only. Segment keys inherit the
    corpus' prefix distribution; a pathological single-prefix corpus
    degrades gracefully into that prefix's bucket (the same residual
    risk as any blocking scheme — salt by a second attribute if known).

    Returns (doc_a, doc_b, dist), doc_a < doc_b, one row per pair.
    ``dist`` is the TRUE codepoint Levenshtein distance. Candidate
    segments are generated from the ``_ascii_fold``-ed prefix — blocking
    only, and still COMPLETE: the fold maps each codepoint to exactly
    one codepoint, so any ≤d edit script on the true strings induces a
    ≤d script on the folded strings (folded dist ≤ true dist ≤ d) and
    the pigeonhole argument applies to the folded pair; extra folded
    collisions are discarded by the true-text verify. ``fold_keys=True``
    verifies and reports on the FOLDED prefix instead (distinct CJK
    prefixes of the same shape → dist 0) — byte-based-oracle parity mode
    only (the registered ``q_passjoin_exact`` uses it), never for a real
    non-ASCII dedup funnel (advisor r8 find).
    """
    d, k = int(max_dist), int(max_dist) + 1
    raw_pfx = F.substring(F.col(text_col), 1, prefix_chars)
    base = (
        df.select(
            F.col(id_col).alias("id"),
            (_ascii_fold(raw_pfx) if fold_keys else raw_pfx).alias("pfx"),
        )
        # fpx: the blocking key (idempotent when pfx is already folded).
        # Spark's length/substring count CODEPOINTS and the fold is
        # 1:1 per codepoint, so every position/length computed below is
        # identical on pfx and fpx.
        .withColumn("fpx", _ascii_fold(F.col("pfx")))
        .filter(F.length("pfx") >= F.lit(min_len))
    )
    # _spread the PROBE side only, after the narrow (id, prefix)
    # projection: the fixture scan is one split, so without it the
    # probe generate, the candidate join's streamed side AND the banded
    # levenshtein verify all ran in ONE task (round 11; measured 2.2 s
    # wall at ~1.7 effective cores → 0.74 s spread — the exchange
    # carries ~48 bytes/row). The index side is the join's broadcast
    # build, so spreading it would only add a shuffle before the
    # collect-for-broadcast. At real scale the scan already has ≥ cores
    # splits and _spread is a no-op.
    probe_base = _spread(base)
    # Both generators are FLAT integer enumerations decoded from ONE
    # exploded sequence — deliberately no nested higher-order functions.
    # (A first cut nested flatten/transform/CASE lambdas three deep;
    # Catalyst spent ~15 s per session analyzing that tree and HOF
    # bodies evaluate interpreted. The decoded form is plain column
    # arithmetic inside whole-stage codegen and plans in milliseconds.)
    #
    # index side: slot i of the string's own length L — 0-based start
    # i·(L div k) + min(i, L mod k), span (L div k) + (i < L mod k).
    index = (
        base.select(
            "id", "pfx", "fpx", F.explode(F.sequence(F.lit(0), F.lit(d))).alias("seg_i")
        )
        .withColumn("lr", F.length("pfx"))
        .withColumn(
            "seg",
            F.expr(
                f"substring(fpx, seg_i * (lr div {k}) + least(seg_i, lr % {k}) + 1,"
                f" (lr div {k}) + if(seg_i < lr % {k}, 1, 0))"
            ),
        )
        .select("id", "pfx", "lr", "seg_i", "seg")
    )
    # probe side: one code per (assumed-length offset, slot, position
    # shift) triple, decoded by integer div/mod; invalid combinations
    # (position off either end, assumed length below the floor) are
    # filtered, which reproduces exactly the clipped ±d position window.
    dd1 = 2 * d + 1
    probe = (
        probe_base.select(
            "id",
            "pfx",
            "fpx",
            F.length("pfx").alias("ls"),
            F.explode(F.sequence(F.lit(0), F.lit(dd1 * k * dd1 - 1))).alias("__x"),
        )
        .withColumn("lr", F.expr(f"ls + (__x div {k * dd1}) - {d}"))
        .withColumn("seg_i", F.expr(f"(__x div {dd1}) % {k}"))
        .withColumn("__len", F.expr(f"(lr div {k}) + if(seg_i < lr % {k}, 1, 0)"))
        .withColumn(
            "__p",
            F.expr(f"seg_i * (lr div {k}) + least(seg_i, lr % {k}) + (__x % {dd1}) - {d}"),
        )
        .filter(
            (F.col("lr") >= F.lit(min_len))
            & (F.col("__len") > 0)
            & (F.col("__p") >= 0)
            & (F.col("__p") + F.col("__len") <= F.col("ls"))
        )
        .withColumn("seg", F.expr("substring(fpx, __p + 1, __len)"))
        .select("id", "pfx", "ls", "lr", "seg_i", "seg")
    )
    # Asymmetry: designate the (length, id)-smaller string as the
    # partitioned side r. Pigeonholing holds with EITHER side
    # partitioned, so one designated direction is complete — this halves
    # the candidate stream. VERIFY BEFORE DEDUP: the banded early-
    # abandoning DP is a narrow in-partition map over the joined stream
    # (pennies per pair), while deduplicating the raw candidates first
    # would shuffle the full multiplicity — so the only data-sized
    # exchange in this plan is the candidate equi-join itself, and the
    # dropDuplicates runs on the ≤|result|·multiplicity survivor frame.
    cand = index.alias("r").join(
        probe.alias("s"),
        (F.col("r.lr") == F.col("s.lr"))
        & (F.col("r.seg_i") == F.col("s.seg_i"))
        & (F.col("r.seg") == F.col("s.seg"))
        & (
            (F.col("r.lr") < F.col("s.ls"))
            | ((F.col("r.lr") == F.col("s.ls")) & (F.col("r.id") < F.col("s.id")))
        ),
    )
    dist = F.levenshtein(F.col("r.pfx"), F.col("s.pfx"), d)
    return (
        cand.withColumn("dist", dist.cast("long"))
        .filter(F.col("dist") >= 0)
        .select(
            F.least(F.col("r.id"), F.col("s.id")).alias("doc_a"),
            F.greatest(F.col("r.id"), F.col("s.id")).alias("doc_b"),
            "dist",
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


def soft_dedup_weights(assign: DataFrame) -> DataFrame:
    """Duplicate-aware LOSS WEIGHTS over a (doc_id, component) near-dup
    assignment — the soft alternative to dropping duplicates (the D4 /
    SemDeDup-adjacent recipe): keep every copy but weight each by
    1/cluster_size so a 40-way duplicated page contributes ONE page of
    gradient signal, not forty. Dropping is a special case (weight the
    survivor 1, the rest 0); weighting preserves within-cluster
    variation (formatting, boilerplate diffs) that hard dedup discards.

    Exactness: weight carried as ppm floor (10⁶ // size) — integer end
    to end; the per-cluster residue 10⁶ mod size is reported so the
    budget accountant can see exactly what flooring discarded.

    Scale shape: one component-keyed count + a broadcast-sized join
    back (the cluster-size frame is ≤ |components| rows).
    """
    sizes = assign.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        assign.join(F.broadcast(sizes), "component")
        .select(
            "doc_id",
            F.col("component").alias("cluster"),
            "cluster_size",
            F.expr("1000000 div cluster_size").cast("long").alias("weight_e6"),
            F.pmod(F.lit(1_000_000), F.col("cluster_size"))
            .cast("long")
            .alias("floor_residue"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership dedup (round 11)
# ---------------------------------------------------------------------------


def bloom_build(
    corpus: DataFrame,
    key_col: str = "text",
    *,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Distributed BUILD of a Bloom filter over ``key_col`` — the
    bounded-memory membership structure for incremental dedup at the
    100 TB tier (the Dolma/CCNet production recipe: you cannot hold an
    exact seen-key set per executor, but an m-bit Bloom bitmap answers
    "definitely new / maybe seen" with a tunable false-positive rate
    and ZERO false negatives).

    Representation: the bitmap is a DataFrame of packed words —
    ``(word_idx BIGINT, word BIGINT)`` where ``word`` holds bits
    ``[32*word_idx, 32*word_idx+32)`` in its low 32 bits. 32-bit
    packing (not 64) keeps ``1 << bit`` inside the BIGINT positive
    range on every engine — the same cross-engine discipline as the
    md5-prefix hash family. At m_bits = 2^20 the filter is ≤ 32,768
    rows no matter how large the corpus — always broadcastable; at
    the 100 TB posture (m ~ 2^35 for ~10^10 keys at 1% FP) it is an
    equi-joinable ~1B-row frame, still O(m) independent of corpus row
    count, which an exact seen-key table is not.

    Hash family: position_i(key) = md5(key || '#' || i) 15-hex-prefix
    → BIGINT mod m_bits, i in [0, k) — deterministic, engine-portable
    (DuckDB: ``('0x' || substr(md5(..), 1, 15))::BIGINT``), and the
    family this repo's MinHash/winnowing oracles already pin.

    Scale shape: one explode (k rows per doc), one distinct on
    positions (bounded above by m_bits), one groupBy(word_idx) with
    map-side-combined bit_or. No driver collect.
    """
    if m_bits % 32 != 0:
        raise ValueError("m_bits must be a multiple of 32")
    key = F.col(key_col).cast("string")
    pos = F.explode(
        F.array(
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(key, F.lit("#"), F.lit(str(i))).cast("binary")),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % m_bits
                )
                for i in range(k)
            ]
        )
    ).alias("pos")
    return (
        corpus.select(pos)
        .distinct()
        .select(
            F.expr("pos div 32").cast("long").alias("word_idx"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_probe(
    batch: DataFrame,
    bloom: DataFrame,
    key_col: str = "text",
    id_col: str = "doc_id",
    *,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """PROBE a batch against a Bloom filter built by :func:`bloom_build`
    with the SAME (m_bits, k): per row, ``bloom_hit`` is true iff every
    one of its k hash positions is set — "maybe seen" (possible false
    positive, never a false negative). The incremental-dedup decision
    is ``NOT bloom_hit ⇒ definitely new``.

    Scale shape: k-row explode per probe doc, ONE broadcast (or equi)
    left join on word_idx against the O(m/32)-row filter, one
    groupBy(id) min — the probe side never shuffles except for its own
    id-grouping, and the corpus never re-enters the plan at all (the
    whole point: the filter is the corpus's fixed-size summary).
    """
    key = F.col(key_col).cast("string")
    positions = batch.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array(
                *[
                    (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(key, F.lit("#"), F.lit(str(i))).cast("binary")
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % m_bits
                    )
                    for i in range(k)
                ]
            )
        ).alias("pos"),
    )
    hit = (
        F.col("word").isNotNull()
        & (F.expr("shiftright(word, cast(pos % 32 as int)) % 2") == 1)
    ).cast("int")
    return (
        positions.withColumn("word_idx", F.expr("pos div 32").cast("long"))
        .join(F.broadcast(bloom), "word_idx", "left")
        .groupBy("__id")
        .agg((F.min(hit) == 1).alias("bloom_hit"))
        .select(F.col("__id").alias(id_col), "bloom_hit")
    )


def bloom_dedup_report(
    corpus: DataFrame,
    batch: DataFrame,
    key_col: str = "text",
    id_col: str = "doc_id",
    *,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """End-to-end Bloom incremental-dedup audit: build the filter over
    ``corpus``, probe ``batch``, and join the EXACT membership verdict
    (one distinct-key semi join) so the output certifies the filter's
    two contracts per row: ``exact_dup ⇒ bloom_hit`` (no false
    negatives, structural) and ``false_positive = bloom_hit AND NOT
    exact_dup`` (the bounded-FP trade, directly observable). Returns
    (id, bloom_hit, exact_dup, false_positive) ordered by id.

    This is the certification harness; production incremental dedup
    runs :func:`bloom_build` once per corpus snapshot and
    :func:`bloom_probe` per arriving batch WITHOUT the exact join.
    """
    flt = bloom_build(corpus, key_col, m_bits=m_bits, k=k)
    probed = bloom_probe(batch, flt, key_col, id_col, m_bits=m_bits, k=k)
    keys = corpus.select(F.col(key_col).cast("string").alias("__k")).distinct()
    # plain equi-join (AQE picks broadcast when the key set is small):
    # the exact key set is unbounded, unlike the O(m/32)-row filter
    exact = (
        batch.select(F.col(id_col), F.col(key_col).cast("string").alias("__k"))
        .join(keys.withColumn("__dup", F.lit(True)), "__k", "left")
        .select(id_col, F.coalesce("__dup", F.lit(False)).alias("exact_dup"))
    )
    return (
        probed.join(exact, id_col)
        .select(
            id_col,
            "bloom_hit",
            "exact_dup",
            (F.col("bloom_hit") & ~F.col("exact_dup")).alias("false_positive"),
        )
        .orderBy(id_col)
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """OR-combine Bloom filters built by :func:`bloom_build` with the
    SAME (m_bits, k) — the snapshot-composition property that makes the
    Bloom posture work operationally at 100 TB: each ingest shard (or
    day, or source) builds its filter independently and in parallel,
    and the union filter is ONE bounded groupBy(word_idx) bit_or away —
    identical, bit for bit, to building over the concatenated corpora
    (OR is associative/commutative; no re-scan of any shard). Probing
    the merged filter keeps zero false negatives over the union; the FP
    rate is that of the combined fill factor.

    Scale shape: input and output are O(m_bits/32)-row frames; the
    merge never touches corpus data.
    """
    if not filters:
        raise ValueError("bloom_merge needs at least one filter")
    out = filters[0]
    for f in filters[1:]:
        out = out.unionByName(f)
    return out.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def minhash_dedup_incremental(
    new: DataFrame | None,
    corpus: DataFrame | None = None,
    *,
    corpus_index: DataFrame | None = None,
    new_index: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """STATUS-emitting steady-state near-dup dedup (round 11): the
    MinHash twin of ``similarity.semdedup_incremental``, upgrading
    ``incremental_near_dedup`` (survivor ids only) to the full
    per-document verdict a pipeline audit needs — one row per NEW doc,
    status ∈ {'kept', 'corpus_dup', 'batch_dup'}, component = min id of
    the doc's within-batch survivor group:

    - est_jaccard ≥ threshold against ANY corpus doc sharing an LSH
      band bucket → ``corpus_dup``;
    - surviving new×new candidate pairs collapse via
      ``connected_components`` → min id ``kept``, the rest
      ``batch_dup``.

    Single-pass steady-state contract (same as the semantic twin,
    documented): a new doc linked only to a DROPPED new doc stays kept —
    nothing re-touches corpus docs beyond the bucket probe.

    Pass ``corpus_index`` (a persisted ``minhash_banded_index`` built
    with the SAME n_hashes/bands/shingle settings) for the
    steady-state path that never touches corpus text. Scale shape:
    both joins are banded-bucket equi-joins (O(Σ |new bkt|·|corpus
    bkt|) and O(Σ bkt²) over the batch only); the verify step is
    signature agreement (zip_with), no text compare; CC runs on the
    batch's survivor pairs, batch-sized, never corpus-sized.

    This is also the per-batch body of
    ``streaming.stream_minhash_dedup`` — the streaming tier is
    literally this operator folded over micro-batches with kept docs'
    banded rows appended to the index.
    """
    if (corpus is None) == (corpus_index is None):
        raise ValueError("pass exactly one of corpus / corpus_index")
    if (new is None) == (new_index is None):
        raise ValueError("pass exactly one of new / new_index")
    # ``new_index``: a prebuilt banded index of the batch — the caller
    # then OWNS the cache lifecycle (the streaming tier persists it per
    # batch and unpersists after the sink, so a long-running stream
    # never accumulates per-batch cache entries)
    nb = (
        new_index
        if new_index is not None
        else cache_once(
            minhash_banded_index(
                new, text_col=text_col, id_col=id_col, n_hashes=n_hashes,
                bands=bands, shingle=shingle,
            )
        )
    )
    cb = (
        corpus_index
        if corpus_index is not None
        else minhash_banded_index(
            corpus, text_col=text_col, id_col=id_col, n_hashes=n_hashes,
            bands=bands, shingle=shingle,
        )
    )

    a, c = nb.alias("a"), cb.alias("c")
    corpus_dups = (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band")) & (F.col("a.bucket") == F.col("c.bucket")),
        )
        .filter(
            _sig_agreement(F.col("a.signature"), F.col("c.signature")) / F.lit(n_hashes)
            >= F.lit(threshold)
        )
        .select(F.col("a.id").alias("id"))
        .distinct()
    )
    survivors = nb.join(corpus_dups, "id", "left_anti")
    sa, sb = survivors.alias("sa"), survivors.alias("sb")
    batch_pairs = (
        sa.join(
            sb,
            (F.col("sa.band") == F.col("sb.band"))
            & (F.col("sa.bucket") == F.col("sb.bucket"))
            & (F.col("sa.id") < F.col("sb.id")),
        )
        .filter(
            _sig_agreement(F.col("sa.signature"), F.col("sb.signature")) / F.lit(n_hashes)
            >= F.lit(threshold)
        )
        .select(F.col("sa.id").alias("ia"), F.col("sb.id").alias("ib"))
        .dropDuplicates(["ia", "ib"])
    )
    comp = connected_components(batch_pairs, src="ia", dst="ib").withColumnRenamed(
        "id", "cid"
    )
    lbl = (
        survivors.select("id")
        .distinct()
        .join(comp, F.col("id") == F.col("cid"), "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("component"))
    )
    out = (
        nb.select("id")
        .distinct()
        .join(
            lbl.select(F.col("id").alias("lid"), "component"),
            F.col("id") == F.col("lid"),
            "left",
        )
    )
    return out.select(
        F.col("id").alias(id_col),
        F.coalesce("component", F.col("id")).alias("component"),
        F.when(F.col("lid").isNull(), F.lit("corpus_dup"))
        .when(F.col("component") == F.col("id"), F.lit("kept"))
        .otherwise(F.lit("batch_dup"))
        .alias("status"),
    ).orderBy(id_col)

"""Text analysis operators (SURVEY §2 B35 + driver north_star).

Everything here is built-in-function-only (whole-stage codegen, zero
Python in the hot path) — at 100 TB these run as narrow maps over the
document scan with column pruning (only ``text`` + projected metadata
read from parquet).

Tokenization contract (shared with the DuckDB oracles): split on single
spaces, drop empty tokens. The BPE-ish counter uses a regex both
engines' regex dialects interpret identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space symbols
#: (the GPT-2 pre-tokenizer family, simplified to a dialect-portable core).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny per-language stopword profiles for the n-gram/stopword heuristic
#: language ID (public common-word lists, truncated to high-frequency heads).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "pour", "dans"],
    "es": ["el", "la", "los", "de", "y", "es", "un", "una", "para", "en"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "他"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empties dropped (multi-space safe)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, " "), lambda t: t != F.lit(""))


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count via the portable pre-tokenizer regex."""
    col = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + composite score.

    Features follow the published pretraining-data heuristics (Gopher /
    C4-style rules): document length, mean word length, stopword ratio,
    punctuation density, repetition (distinct-token ratio). The composite
    is a deterministic linear blend (same formula in the oracle SQL).
    """
    t = tokens(text_col)
    n_tok = F.size(t)
    distinct_ratio = F.when(n_tok > 0, F.size(F.array_distinct(t)) / n_tok).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_ratio = F.when(
        n_tok > 0, F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x))) / n_tok
    ).otherwise(F.lit(0.0))
    n_chars = F.length(text_col)
    mean_word_len = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0,
        F.size(F.regexp_extract_all(text_col, F.lit(r"[^A-Za-z0-9\s]"), 0)) / n_chars,
    ).otherwise(F.lit(0.0))
    score = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.25
        + distinct_ratio * 0.25
        + stop_ratio * 0.25
        + (F.lit(1.0) - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.25
    )
    return df.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),  # long: DuckDB len() is BIGINT
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID — the n-gram-heuristic family.

    Scores each language by its stopword hit-ratio over the document's
    tokens and picks the argmax (ties → lexicographically first language
    for determinism). Pure built-ins: the per-language score is a
    filter+size over the token array; at scale this is one narrow map.
    ``unknown`` when nothing matches.
    """
    t = tokens(F.lower(F.col(text_col)))
    scores = []
    for lang in sorted(LANG_STOPWORDS):
        stop_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        hits = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x)))
        # struct sorts fieldwise: neg_hits asc == hits desc, then lang asc —
        # the deterministic argmax tiebreak (lexicographically first language)
        scores.append(
            F.struct((-hits).alias("neg_hits"), F.lit(lang).alias("lang"))
        )
    best = F.sort_array(F.array(*scores), asc=True)[0]
    return df.withColumn(
        "lang_pred",
        F.when(best["neg_hits"] < 0, best["lang"]).otherwise(F.lit("unknown")),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the case/whitespace-normalized text.

    md5 is identical across engines (oracle-able), stable across runs,
    and uniformly distributed — at 100 TB the fingerprint doubles as the
    dedup shuffle key with no hot spots. The rolling-hash near-dup
    fingerprint is ``dedup.winnow_fingerprints``; this is the exact-dup key.
    """
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(normalized))


def term_frequencies(df: DataFrame, text_col: str = "text", min_count: int = 1) -> DataFrame:
    """Corpus term frequency: explode tokens → count. The shuffle is on the
    token — Zipf-skewed, so at scale enable AQE skew handling or pre-agg
    per partition (partial aggregation already does the heavy lifting)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_count)
    )


def tfidf_top_terms(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """B35: per-document top-k TF-IDF terms (tf · ln(N/df)).

    Three shuffles — (doc, term) tf aggregation, the term-partitioned
    document-frequency window, and the per-doc top-k window. dfreq is a
    ``count() over (partition by term)`` on the tf rows rather than a
    separate aggregate joined back: the join formulation evaluates the
    tf subtree twice and costs 8 exchanges; the window form scans it
    once (audited via tools/plan_audit.py). The corpus size N enters as
    a broadcast scalar, never a driver-side constant baked into the plan
    by collect. Ties break by term for determinism.
    """
    from pyspark.sql import Window

    tok = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    wterm = Window.partitionBy("term")
    scored = (
        tf.withColumn("dfreq", F.count(F.lit(1)).over(wterm))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("dfreq")), 6),
        )
    )
    w = Window.partitionBy("doc").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(F.col("doc").alias("doc_id"), "term", "tfidf", "rnk")
    )


def bm25_topk(
    documents: DataFrame,
    queries: list[tuple[int, str]],
    *,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    stats: tuple[list[tuple[str, int]], int, float] | None = None,
) -> DataFrame:
    """BM25 lexical retrieval: top-k documents per query under the
    Okapi/Lucene scoring function — the sparse-retrieval baseline that
    sits next to the dense ANN paths (similarity.lsh_topk/ivf_topk_scaled) in
    any retrieval or contamination-audit pipeline. idf uses the
    always-positive Lucene form ln(1 + (N − df + 0.5)/(df + 0.5));
    each distinct query term counts once (standard short-query BM25).

    Plan shape — the percolator formulation, not the posting-shuffle
    one: corpus statistics (per-term df, N, avgdl) freeze into a
    KB-sized driver snapshot (``bm25_corpus_stats``, ONE aggregate-only
    job — the sanctioned collect of the IVF/PQ index artifacts), then
    every document's score against every query is ONE narrow map: idf
    and avgdl are literals and per-term tf reads the row's own token
    array (``bm25_score_expr``). No (doc, term) explode, no posting
    shuffle — the only shuffle left is the per-query top-k window,
    which sees ONLY candidates: documents overlapping no query term
    drop before the struct array is built, and zero-hit (doc, query)
    entries filter inside the array before the explode generator runs
    (WAND-lite pruning). Pass ``stats`` to score under an already-frozen
    snapshot (the percolator/serving lifecycle: freeze once at index
    time, serve many batches). Scores round to 4
    decimals (the summed-float precedent of lm_unigram_score); an
    earlier posting-shuffle formulation produced bit-identical scores
    (pinned by the streaming parity test) at ~3× the stage count.
    """
    from pyspark.sql import Window

    all_terms = sorted({t for _, qtext in queries for t in qtext.split(" ") if t})
    if stats is None:
        stats = bm25_corpus_stats(documents, all_terms, text_col=text_col)
    # the scoring map is CPU-bound (tokenize + |terms| array scans per
    # row): when the scan yields fewer splits than cores (small corpus
    # tier / single parquet file), fan out first — a row-cheap exchange
    # that unlocks whole-cluster parallelism; at real scale the scan
    # already has ≥ cores splits and this branch never fires
    sc = documents.sparkSession.sparkContext
    from cloudtrace_exporter_spark.session import rdd_partitions

    if rdd_partitions(documents) < sc.defaultParallelism:
        documents = documents.repartition(sc.defaultParallelism)
    # WAND-lite candidate pruning: a document scores > 0 for SOME query
    # only if it contains SOME query term, so an arrays_overlap against
    # the union term list drops non-candidates BEFORE the |queries|-wide
    # struct array is built and exploded — the ranking window then sees
    # only candidate rows (at 100 TB this is the difference between the
    # window reading the corpus and reading the posting-list union).
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("__t"),
        token_count(text_col).cast("double").alias("__dl"),
    ).filter(
        F.arrays_overlap(F.col("__t"), F.array(*[F.lit(t) for t in all_terms]))
    )
    per_query = []
    for qid, qtext in queries:
        q_terms = [t for t in qtext.split(" ") if t]
        # candidacy is a BOOLEAN (any term present) — arrays_overlap
        # short-circuits per row; counting via distinct+intersect cost
        # two array materializations per (doc, query) for a value only
        # ever compared against zero
        hit = F.arrays_overlap(
            F.col("__t"), F.array(*[F.lit(t) for t in sorted(set(q_terms))])
        )
        per_query.append(
            F.struct(
                F.lit(qid).alias("query_id"),
                F.round(
                    bm25_score_expr(
                        F.col("__t"), F.col("__dl"), q_terms, stats, k1=k1, b=b
                    ),
                    4,
                ).alias("score"),
                hit.alias("hit"),
            )
        )
    # zero-hit entries are filtered INSIDE the array, before the explode
    # generator runs — the explode emits only (doc, query) candidates
    scored = base.select(
        "doc_id",
        F.explode(F.filter(F.array(*per_query), lambda q: q["hit"])).alias("q"),
    ).select(
        F.col("q.query_id").alias("query_id"), "doc_id", F.col("q.score").alias("score")
    )
    # Two-phase top-k: a query batch has FEW distinct query_ids, so a
    # single partitionBy(query_id) window funnels every candidate row
    # through a handful of tasks. Phase 1 takes top-k within
    # (query_id, salt-of-doc_id) — fully parallel, and any global top-k
    # row is necessarily top-k in its salt bucket — phase 2 re-ranks the
    # |queries|·n_salt·k survivors (KBs) for the exact final ranking.
    n_salt = 64
    salt = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_salt))
    w1 = Window.partitionBy("query_id", "__salt").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    survivors = (
        scored.withColumn("__salt", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        survivors.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "score", "rnk")
    )


def bm25_corpus_stats(
    documents: DataFrame,
    terms: list[str],
    *,
    text_col: str = "text",
) -> tuple[list[tuple[str, int]], int, float]:
    """Freeze the corpus-side BM25 statistics for a fixed term set:
    per-term document frequency, corpus size, and average doc length —
    the KB-sized snapshot a percolator/serving path scores against
    (sanctioned collect: output is bounded by |terms| + 2 scalars,
    like the IVF centroid and PQ codebook artifacts).

    ONE corpus pass, ONE job: per-term dfreq rides as |terms|
    conditional sums beside the count/avgdl aggregates (the term list
    is a query-batch-sized literal), instead of a second explode +
    groupBy(term) pass — halves the snapshot wall, and the global
    aggregate tree-reduces map-side like any count. Terms absent from
    the corpus are dropped from the snapshot (they contribute 0 to any
    score), matching the old groupBy semantics.
    """
    hits = F.array_intersect(
        F.array_distinct(tokens(text_col)), F.array(*[F.lit(x) for x in terms])
    )
    row = (
        documents.select(hits.alias("__h"), token_count(text_col).alias("__dl"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("__dl").alias("avgdl"),
            *[
                F.sum(F.array_contains("__h", term).cast("long")).alias(f"__df_{i}")
                for i, term in enumerate(terms)
            ],
        )
        .collect()[0]
    )
    return (
        [
            (term, row[f"__df_{i}"])
            for i, term in enumerate(terms)
            if row[f"__df_{i}"]
        ],
        row["n"],
        # avg() over an EMPTY corpus is NULL — an empty batch is normal
        # (reference A12 semantics), not an error: 0.0 keeps every
        # downstream score expression well-formed and the result empty
        float(row["avgdl"]) if row["avgdl"] is not None else 0.0,
    )


def bm25_score_expr(
    toks: Column,
    dl: Column,
    query_terms: list[str],
    stats: tuple[list[tuple[str, int]], int, float],
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> Column:
    """Narrow-map BM25 score of ONE document against ONE standing query,
    under frozen corpus stats: per-term tf comes from the row's own
    token array (higher-order filter — no explode, no shuffle), idf and
    avgdl are literals. The zero-state building block of the streaming
    percolator (streaming.pipeline.stream_score_bm25) — and of any
    serving path that scores documents one at a time."""
    df_map = dict(stats[0])
    n_docs, avgdl = stats[1], stats[2]
    import math

    def _eq(term: str):
        # arity-1 closure: a 2-parameter lambda (even with a default) is
        # read by F.filter as (element, INDEX) — the documented trap
        return lambda x: x == F.lit(term)

    score = F.lit(0.0)
    for term in query_terms:
        dfreq = df_map.get(term)
        if dfreq is None:  # term absent from the corpus: contributes 0
            continue
        idf = math.log(1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
        tf = F.size(F.filter(toks, _eq(term))).cast("double")
        score = score + F.when(
            tf > 0,
            F.lit(idf) * (tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / F.lit(avgdl)))),
        ).otherwise(F.lit(0.0))
    return score


def bpe_word_vocab(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Word-frequency vocabulary in BPE trainer representation: each
    distinct word as a space-joined character-symbol string with
    leading/trailing space sentinels (`` l o w ``), plus its corpus
    frequency. BPE trains on this dictionary, never the raw corpus —
    the one corpus-sized shuffle happens here; every merge round after
    it touches only the vocab table (KBs–MBs at any corpus size).
    """
    wf = (
        documents.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    sym = F.expr(
        "transform(sequence(1, char_length(word)), i -> substr(word, i, 1))"
    )
    return wf.select(
        "word",
        F.concat(F.lit(" "), F.array_join(sym, " "), F.lit(" ")).alias("w"),
        "wf",
    )


def _vocab_pair_stats(vocab: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent symbol-pair counts over a BPE vocab
    frame (w = sentinel-spaced symbol string, wf = word frequency)."""
    syms = F.split(F.trim(F.col("w")), " ")
    pairs = F.expr(
        "transform(sequence(1, size(s) - 1), i -> concat(s[i - 1], ' ', s[i]))"
    )
    return (
        vocab.select(syms.alias("s"), "wf")
        .filter(F.size("s") >= 2)
        .select(F.explode(pairs).alias("pair"), "wf")
        .groupBy("pair")
        .agg(F.sum("wf").alias("pair_count"))
    )


def bpe_pair_stats(documents: DataFrame, *, top_n: int = 50, text_col: str = "text") -> DataFrame:
    """Round-zero BPE statistics: the ``top_n`` most frequent adjacent
    character pairs across the corpus, weighted by word frequency — the
    table a BPE trainer consults to pick its first merge. TakeOrdered
    top-k on (count desc, pair asc); fully oracle-able (integer counts,
    lexicographic ties).
    """
    stats = _vocab_pair_stats(bpe_word_vocab(documents, text_col))

    # top-k FIRST via orderBy+limit — TakeOrderedAndProject, a per-partition
    # heap + driver merge of k rows, never a global sort (at 100 TB the
    # adjacent-pair vocabulary is millions of rows; an unpartitioned
    # row_number window would funnel all of them through one task).
    # Numbering then runs WINDOWLESSLY over the ≤top_n survivors: rank =
    # 1 + |strictly-before rows| via a broadcast self-join on the cached
    # k-row frame (k² ≤ 2500 comparisons; ordering is total because pair
    # is the groupBy key, so strict-before counting is exact)
    top = stats.orderBy(F.desc("pair_count"), F.asc("pair")).limit(top_n).cache()
    a, b = top.alias("a"), top.alias("b")
    before = (F.col("b.pair_count") > F.col("a.pair_count")) | (
        (F.col("b.pair_count") == F.col("a.pair_count"))
        & (F.col("b.pair") < F.col("a.pair"))
    )
    return (
        a.join(F.broadcast(b), before, "left")
        .groupBy(F.col("a.pair").alias("pair"), F.col("a.pair_count").alias("pair_count"))
        .agg((F.count(F.col("b.pair")) + 1).cast("long").alias("rnk"))
        .select("rnk", "pair", "pair_count")
    )


def bpe_learn_merges(
    documents: DataFrame,
    *,
    n_merges: int = 6,
    text_col: str = "text",
    merges_per_round: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016): run
    ``n_merges`` rounds of pick-most-frequent-adjacent-pair → merge it
    everywhere, over the word-frequency vocabulary. Returns the learned
    merge table (merge_rank, pair, pair_count) — the artifact a BPE
    tokenizer ships.

    Merging uses left-to-right non-overlapping string ``replace`` on the
    sentinel-spaced symbol representation, applied TWICE per merge: a
    single consuming pass under-merges alternating runs (`` a b a b ``
    → `` ab a b ``, the shared separator space being consumed by the
    first match), and a second pass reaches the canonical-BPE fixpoint
    (`` ab ab ``) — two passes always suffice, because pass one leaves
    surviving occurrences isolated between merged symbols and a merge
    can never create a new occurrence of its own pair. The same
    double-replace runs in DuckDB, so the WHOLE iterative trainer
    replays as ``n_merges`` unrolled CTE stages (see the q_bpe_merges
    oracle).

    Scale shape: the corpus reduces to the vocab table once (the only
    corpus-sized shuffle, in ``bpe_word_vocab``); each round shuffles
    only vocab-sized pair stats and collects ONE (pair, count) row — the
    per-round scalar-only driver pattern of IVF/PageRank. Ties break by
    pair string for cross-engine determinism.

    ``merges_per_round > 1`` enables frequency-batched training (the
    standard distributed-BPE cadence): each round greedily takes the
    top-ranked pairs whose SYMBOLS are mutually disjoint and applies
    them in one vocab pass, so a 32k-merge vocabulary costs
    ~32k/batch driver rounds instead of 32k. Symbol-disjoint pairs have
    merge-invariant counts (merging ``a b`` only perturbs pairs that
    touch ``a`` or ``b``), so every batched pair is merged at its true
    pre-batch count; the only deviation from strictly-sequential BPE is
    ordering when a merge CREATES a pair that would outrank the batch
    tail — the documented, industry-standard approximation. The default
    (1) is exact sequential Sennrich BPE and is what every oracle runs.
    """
    merges, _ = _bpe_train(
        documents,
        n_merges=n_merges,
        text_col=text_col,
        merges_per_round=merges_per_round,
        stats=stats,
    )
    return documents.sparkSession.createDataFrame(
        merges, "merge_rank long, pair string, pair_count long"
    )


def _merge_pair_col(w: Column, pair: str) -> Column:
    """Apply one BPE merge to the sentinel-spaced symbol column —
    TWICE, because a consuming left-to-right replace skips alternating
    occurrences (`` a b a b `` → `` ab a b ``); the second pass merges
    the isolated survivors, reaching the canonical lookaround-regex
    fixpoint (two passes always suffice — see bpe_learn_merges)."""
    pat = F.lit(f" {pair} ")
    rep = F.lit(" " + pair.replace(" ", "") + " ")
    return F.replace(F.replace(w, pat, rep), pat, rep)


def _bpe_train(
    documents: DataFrame,
    *,
    n_merges: int,
    text_col: str = "text",
    merges_per_round: int = 1,
    stats: dict | None = None,
    small_vocab_rows: int = 200_000,
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """The shared BPE training loop: returns the learned merge list AND
    the post-merge vocabulary (word, w, wf) — the segmentation table the
    encoder joins against. ``merges_per_round > 1`` batches symbol-
    disjoint top pairs into one vocab pass per driver round (bounds the
    loop at ~n_merges/batch Spark jobs — the cap a 32k-merge vocabulary
    needs); the default is exact sequential BPE."""
    # Small-vocab fast path (round 11): Sennrich BPE is a DICTIONARY-
    # LOCAL algorithm — every round reads and rewrites only the word-
    # frequency vocab, never the corpus — so when the vocab is bounded
    # (≤ 200k rows; the reference trainers run exactly this loop on one
    # machine) the whole merge loop runs driver-side over the collected
    # vocab instead of n_merges × (pair-stats agg + TakeOrdered collect
    # + localCheckpoint) Spark jobs. Pair counts are integer wf sums,
    # tie-break is (count desc, pair asc) — UTF-8 byte order equals
    # codepoint order, so Python sorting reproduces Spark's — and the
    # merge is the same double left-to-right non-overlapping replace,
    # so the merge table and post-merge vocab are identical. A larger
    # vocabulary takes the distributed per-round loop below unchanged
    # (the corpus→vocab reduction is the only corpus-sized shuffle
    # either way). driver_rounds accounting is identical: one pair-stats
    # pass per loop iteration.
    vocab_probe = bpe_word_vocab(documents, text_col)
    rows = (
        vocab_probe.limit(small_vocab_rows + 1).collect() if small_vocab_rows else []
    )
    if small_vocab_rows and len(rows) <= small_vocab_rows:
        voc = [(r["word"], r["w"], r["wf"]) for r in rows]
        merges = []
        batch_n = max(1, merges_per_round)
        driver_rounds = 0
        while len(merges) < n_merges:
            driver_rounds += 1
            counts: dict[str, int] = {}
            for _, w, wf in voc:
                syms = w.strip().split(" ")
                for i in range(len(syms) - 1):
                    p = syms[i] + " " + syms[i + 1]
                    counts[p] = counts.get(p, 0) + wf
            if not counts:
                break
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
                : batch_n * 4 if batch_n > 1 else 1
            ]
            used: set[str] = set()
            batch: list[tuple[str, int]] = []
            for pair, cnt in top:
                if len(batch) >= batch_n:
                    break
                syms = set(pair.split(" "))
                if used & syms:
                    continue
                used.update(syms)
                used.add(pair.replace(" ", ""))
                batch.append((pair, cnt))
            for pair, cnt in batch:
                merges.append((len(merges) + 1, pair, cnt))
                pat = f" {pair} "
                rep = " " + pair.replace(" ", "") + " "
                voc = [
                    (word, w.replace(pat, rep).replace(pat, rep), wf)
                    for word, w, wf in voc
                ]
                if len(merges) >= n_merges:
                    break
        if stats is not None:
            stats["driver_rounds"] = driver_rounds
        vocab_out = documents.sparkSession.createDataFrame(
            voc, "word string, w string, wf bigint"
        )
        return merges, vocab_out
    vocab = vocab_probe.localCheckpoint()
    merges: list[tuple[int, str, int]] = []
    batch_n = max(1, merges_per_round)
    driver_rounds = 0  # observable bound for tests: one pair-stats
    # collect per loop iteration is THE scaling cost of the trainer
    while len(merges) < n_merges:
        driver_rounds += 1
        # over-fetch 4x: the greedy disjointness filter below skips
        # pairs sharing a symbol with a higher-ranked selected pair.
        top = (
            _vocab_pair_stats(vocab)
            .orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(batch_n * 4 if batch_n > 1 else 1)
            .collect()
        )
        if not top:
            break
        used: set[str] = set()
        batch: list[tuple[str, int]] = []
        for row in top:
            if len(batch) >= batch_n:
                break
            syms = set(row["pair"].split(" "))
            if used & syms:
                continue
            used.update(syms)
            # the merge mints a new symbol; later batch members must not
            # touch it either, or their pre-batch counts go stale
            used.add(row["pair"].replace(" ", ""))
            batch.append((row["pair"], row["pair_count"]))
        w = F.col("w")
        for pair, cnt in batch:
            merges.append((len(merges) + 1, pair, cnt))
            w = _merge_pair_col(w, pair)
            if len(merges) >= n_merges:
                break
        vocab = vocab.select("word", w.alias("w"), "wf").localCheckpoint()
    if stats is not None:
        stats["driver_rounds"] = driver_rounds
    return merges, vocab


def bpe_encode_counts(
    documents: DataFrame, *, n_merges: int = 6, text_col: str = "text"
) -> DataFrame:
    """The encode half of BPE: apply the learned merges and report, per
    document, its word count and its BPE token count (pieces after
    segmentation) — the length statistic token-budgeted pipelines charge
    against (a budget in TOKENS, not words; see curate.token_budget_sample).

    The trained vocabulary already IS the segmentation table (word →
    merged symbol string), so encoding is a word-keyed join of the
    exploded corpus against it, then a per-document sum — no per-row
    merge replay. The vocab side is dictionary-sized (≪ corpus), a
    broadcast at 100 TB; the per-doc aggregation is the only
    corpus-sized shuffle beyond the vocab build.
    """
    _, vocab = _bpe_train(documents, n_merges=n_merges, text_col=text_col)
    seg = vocab.select(
        "word", F.size(F.split(F.trim(F.col("w")), " ")).alias("n_pieces")
    )
    tok = documents.select("doc_id", F.explode(tokens(text_col)).alias("word"))
    return (
        tok.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("bpe_tokens"),
        )
    )


def tokenizer_fertility(
    documents: DataFrame,
    *,
    n_merges: int = 6,
    strata_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility report per language: pieces-per-word under
    the corpus-trained BPE — THE metric multilingual tokenizer work
    optimizes (a language with fertility ≫ 1 pays more sequence length
    per sentence, trains slower, and truncates harder; the reason
    vocabularies are rebalanced across languages). Composes the
    verified BPE encoder with a stratum rollup: per language, document/
    word/piece totals, fertility = pieces/words, and chars-per-piece
    (the compression view of the same trade).

    Plan shape: the BPE train+encode dominates (vocab-sized rounds +
    one broadcast segmentation join — see bpe_encode_counts); the
    rollup adds one |strata|-keyed integer aggregation. Ratios are
    single divisions of integer sums (order-independent), rounded to 4
    — engine-exact, so the whole report carries a full oracle composed
    from the BPE CTE chain.
    """
    enc = bpe_encode_counts(documents, n_merges=n_merges, text_col=text_col)
    dims = documents.select(
        "doc_id",
        F.col(strata_col).alias("stratum"),
        F.length(text_col).cast("long").alias("__chars"),
    )
    return (
        enc.join(dims, "doc_id")
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("bpe_tokens").cast("long").alias("n_pieces"),
            F.sum("__chars").cast("long").alias("n_chars"),
        )
        .select(
            "stratum",
            "n_docs",
            "n_words",
            "n_pieces",
            F.round(F.col("n_pieces") / F.col("n_words"), 4).alias("fertility"),
            F.round(F.col("n_chars") / F.col("n_pieces"), 4).alias("chars_per_piece"),
        )
    )


#: Standing alerting rules for the keyword percolator — (rule_id,
#: dialect-portable regex). No lookaround/backreferences: the same
#: pattern text must mean the same thing to Java regex and RE2.
STANDING_RULES: list[tuple[int, str]] = [
    (1, "hash join"),
    (2, "window [a-z]+ stream"),
    (3, "error|failure|denied"),
    (4, "customer [a-z]+ order"),
]


def keyword_percolate(
    df: DataFrame,
    rules: list[tuple[int, str]] | None = None,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyword/regex percolation: every document matched against a
    STANDING rule set (the Elasticsearch percolator's original use —
    alerting and routing rules, beside the scored BM25 percolator).
    Emits one (doc_id, rule_id) row per match.

    One narrow map, zero joins/shuffles before the output: the rule
    table rides as a literal struct array and an in-row filter keeps
    the matching rules (regexp evaluated per rule per row — |rules| is
    alert-config-sized). Patterns must stay in the Java∩RE2 common
    dialect (no lookaround), which is also what keeps the DuckDB oracle
    verbatim.
    """
    rules = STANDING_RULES if rules is None else rules
    rule_arr = F.array(
        *[
            F.struct(F.lit(rid).alias("rule_id"), F.lit(pat).alias("pat"))
            for rid, pat in rules
        ]
    )
    matched = F.filter(rule_arr, lambda r: F.regexp_like(F.col(text_col), r["pat"]))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(matched, lambda r: r["rule_id"])).alias("rule_id"),
    )


def word_ngrams(t: Column, n: int) -> Column:
    """Distinct word n-grams (space-joined) over an ALREADY MATERIALIZED
    token-array column; empty array when the document has fewer than
    ``n`` tokens. Narrow expression, no shuffle.

    ``t`` must be a bound column: the slice lambda references it per
    gram, and an inline tokens() expression would re-tokenize the
    document per gram (O(n²) — same trap as dedup._shingles).

    NOTE: the short-doc fallback differs from ``dedup._shingles`` (which
    degrades to the whole text as one gram so every doc keeps a MinHash
    signature); for contamination checks a doc below n tokens simply has
    no n-grams.
    """
    k = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), k - n + 1), lambda i: F.concat_ws(" ", F.slice(t, i, n))
    )
    return F.when(k >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/eval contamination check: per training document, how many
    distinct word n-grams it shares with a benchmark corpus and how many
    benchmark documents it collides with. The decontamination primitive
    of every published pretraining pipeline (GPT-3 §C / PaLM-style
    13-gram overlap; n is a parameter — fixtures are short so tests use
    n=3).

    Plan shape: both sides explode to (id, gram); the join key is the
    gram. The benchmark side is the tiny one (an eval suite, not the
    corpus) → broadcast, so the 100 TB training side never shuffles; per-
    doc aggregation then groups on the training doc id. Grams are
    distinct per doc before exploding, so counts are collision counts,
    not occurrence counts.
    """
    tg = (
        train.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
        .select("doc_id", F.explode(word_ngrams(F.col("__t"), n)).alias("gram"))
    )
    bg = (
        benchmark.select(F.col(id_col).alias("bench_id"), tokens(text_col).alias("__t"))
        .select("bench_id", F.explode(word_ngrams(F.col("__t"), n)).alias("gram"))
    )
    return (
        tg.join(F.broadcast(bg), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


#: (rule name, predicate builder) — order defines the reasons array order.
_QUALITY_RULES = [
    ("too_short", lambda m: m["n_tokens"] < 10),
    ("low_distinct", lambda m: m["distinct_ratio"] < 0.3),
    ("high_punct", lambda m: m["punct_ratio"] > 0.1),
    ("short_words", lambda m: m["mean_word_len"] < 3.0),
]


def quality_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4/Gopher-style keep/drop decision with audit trail: every document
    gets a ``keep`` flag and the ordered list of failed rule names —
    filter-with-reasons, so curation decisions stay debuggable at corpus
    scale (you can groupBy(reasons) to see WHY data is dropped).

    Built on ``quality_features``' metrics; one narrow map, no shuffle.
    """
    feats = quality_features(df, text_col)
    metrics = {c: F.col(c) for c in feats.columns}
    reason_arrays = [
        F.when(pred(metrics), F.array(F.lit(name))).otherwise(F.array().cast("array<string>"))
        for name, pred in _QUALITY_RULES
    ]
    reasons = F.concat(*reason_arrays)
    return feats.select(
        "doc_id",
        "n_tokens",
        (F.size(reasons) == 0).alias("keep"),
        reasons.alias("reasons"),
    )


def quality_keep(text_col: str = "text") -> Column:
    """The ``keep`` decision of ``quality_filter`` as an inline boolean
    column — for pipelines that filter in place instead of joining the
    flags frame back (one scan instead of a scan + semi join). Kept in
    lockstep with _QUALITY_RULES over the same rounded metrics."""
    t = tokens(text_col)
    n_tok = F.size(t)
    distinct_ratio = F.when(n_tok > 0, F.size(F.array_distinct(t)) / n_tok).otherwise(F.lit(0.0))
    n_chars = F.length(text_col)
    mean_word_len = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0,
        F.size(F.regexp_extract_all(text_col, F.lit(r"[^A-Za-z0-9\s]"), 0)) / n_chars,
    ).otherwise(F.lit(0.0))
    metrics = {
        "n_tokens": n_tok.cast("long"),
        "distinct_ratio": F.round(distinct_ratio, 6),
        "mean_word_len": F.round(mean_word_len, 6),
        "punct_ratio": F.round(punct_ratio, 6),
    }
    cond = F.lit(True)
    for _name, pred in _QUALITY_RULES:
        cond = cond & ~pred(metrics)
    return cond


#: Stopword set for the Gopher "contains ≥2 stopwords" rule — the en
#: profile reused so the two quality surfaces share one vocabulary knob.
GOPHER_STOPWORDS = LANG_STOPWORDS["en"]


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, Table A1 —
    the published rule family, restated over the whitespace-token
    contract): word-count bounds, space-free mean word length, fraction
    of words containing an alphabetic character, distinct-stopword
    presence, duplicate-word fraction, and the repetition rule — the
    fraction of word characters covered by the single most frequent word
    bigram. ``keep`` is the conjunction.

    Complements ``quality_filter`` (C4-ish char-level ratios, pure
    narrow map): the bigram repetition rule needs per-(doc, gram)
    occurrence counts, which at 100 TB is an explode → two-level groupBy
    on (doc_id, gram) — uniform keys, map-side partials — NOT an O(n²)
    per-row array scan (quadratic in document length, and pretraining
    docs run to 10⁵ words). Doc-level scalar stats stay a narrow map and
    rejoin on doc_id.

    Ratios are emitted as raw integer-ratio doubles (no rounding): both
    engines produce bit-identical IEEE quotients, while round() would
    reintroduce HALF_UP/HALF_EVEN tie risk.
    """
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    d = df.select("doc_id", tokens(text_col).alias("__w"))
    base = d.select(
        "doc_id",
        F.size("__w").cast("long").alias("n_words"),
        F.aggregate("__w", F.lit(0).cast("long"), lambda a, x: a + F.length(x)).alias("tot_chars"),
        F.size(F.filter("__w", lambda x: x.rlike("[A-Za-z]"))).cast("long").alias("n_alpha"),
        F.size(F.array_intersect("__w", stop_arr)).cast("long").alias("n_stop_distinct"),
        F.size(F.array_distinct("__w")).cast("long").alias("n_distinct"),
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("__w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__w") - 1),
                    lambda i: F.concat_ws(" ", F.slice("__w", i, 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    top = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max(F.col("c") * (F.length("gram") - 1)).alias("top_chars"))
    )
    j = base.join(top, "doc_id", "left")
    n_words = F.col("n_words")
    mean_word_len = F.col("tot_chars") / F.nullif(n_words, F.lit(0))
    frac_alpha = F.col("n_alpha") / F.nullif(n_words, F.lit(0))
    dup_frac = (n_words - F.col("n_distinct")) / F.nullif(n_words, F.lit(0))
    top_frac = F.coalesce(
        F.col("top_chars") / F.nullif(F.col("tot_chars"), F.lit(0)), F.lit(0.0)
    )
    keep = (
        (n_words >= 50) & (n_words <= 100000)
        & (mean_word_len >= 3) & (mean_word_len <= 10)
        & (frac_alpha >= 0.8)
        & (F.col("n_stop_distinct") >= 2)
        & (dup_frac <= 0.85)
        & (top_frac <= 0.2)
    )
    return j.select(
        "doc_id",
        "n_words",
        mean_word_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        "n_stop_distinct",
        dup_frac.alias("dup_word_frac"),
        top_frac.alias("top_bigram_char_frac"),
        keep.alias("keep"),
    )


#: (pattern, replacement) — applied in order; URL first so emails inside
#: URLs don't split the match. Dialect-portable (no lookaround).
PII_PATTERNS = [
    (r"https?://\S+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{6,}", "<NUM>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """North-star: PII-ish redaction — URLs, emails, and long digit runs
    replaced with typed placeholder tokens. Chained regexp_replace,
    whole-stage-codegen narrow map; the pattern list is the policy knob.
    """
    out = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return df.select("doc_id", out.alias("redacted"))


def pii_report(df: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """PII incidence report per (group, pattern type): documents hit,
    total matches, group size — the audit table that decides whether a
    source needs redaction before training (``redact_pii`` is the
    corresponding rewrite). Each pattern is counted on the text AFTER
    the earlier patterns were redacted, mirroring ``PII_PATTERNS``
    policy order exactly (an email inside a URL counts as URL, not
    both).

    Plan shape: per-doc match counts are a narrow codegen map (chained
    regexp_replace + regexp_extract_all), then one group aggregation and
    a |patterns|-way unpivot explode of the wide row — one scan, one
    shuffle, no joins. Fully DuckDB-replayable (integer counts only).
    """
    names = ["url", "email", "num"]
    cur = F.col(text_col)
    cnt_cols = []
    for (pat, repl), name in zip(PII_PATTERNS, names):
        cnt_cols.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).alias(f"__c_{name}")
        )
        cur = F.regexp_replace(cur, pat, repl)
    per = df.select(F.col(group_col).alias("grp"), *cnt_cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("__total")]
    for name in names:
        aggs.append(
            F.sum(F.when(F.col(f"__c_{name}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"__d_{name}")
        )
        aggs.append(F.sum(F.col(f"__c_{name}")).cast("long").alias(f"__m_{name}"))
    wide = per.groupBy("grp").agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("pii_type"),
                F.col(f"__d_{name}").alias("docs_hit"),
                F.col(f"__m_{name}").alias("matches"),
            )
            for name in names
        ]
    )
    return wide.select(F.col("grp"), F.col("__total"), F.explode(rows).alias("r")).select(
        F.col("grp").alias(group_col),
        F.col("r.pii_type").alias("pii_type"),
        F.col("r.docs_hit").alias("docs_hit"),
        F.col("r.matches").alias("matches"),
        F.col("__total").alias("total_docs"),
    )


def char_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Shannon entropy of the character distribution per document (nats).

    Low entropy flags degenerate/repetitive text (a standard pretraining
    quality signal alongside the ratio heuristics). Two shuffles on the
    doc id: char-frequency aggregation, then the entropy sum — the
    per-doc total rides in on a window over the (already partitioned)
    counts rather than a join back to the source.

    Characters are UTF-16 code units on the Spark side and codepoints in
    DuckDB — identical for BMP text (all fixtures); supplementary-plane
    emoji would count as two units here.
    """
    from pyspark.sql import Window

    chars = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(r"[\s\S]"), 0)).alias("c"),
    )
    cnt = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("doc_id"))
    p = F.col("n") / tot
    return (
        cnt.withColumn("term", -p * F.log(p))
        .groupBy("doc_id")
        .agg(F.round(F.sum("term"), 6).alias("char_entropy"))
    )


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 50,
    overlap: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window preparation step of a pretraining/RAG pipeline.
    Emits (doc_id, chunk_idx, n_chunk_tokens, chunk_text); chunk starts
    advance by ``chunk_tokens - overlap``; every token position is
    covered; a start is emitted while it lies within the document.

    Narrow map (sequence + slice + posexplode) — no shuffle, no UDF.
    Output row count ≈ input tokens / step; repartition downstream if a
    corpus of long documents fans out heavily.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    # tokens as a bound column: the per-chunk slice lambda must not embed
    # the tokenizer expression (re-tokenizes per chunk otherwise)
    toked = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
    t = F.col("__t")
    n = F.size(t)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step))
    chunks = F.transform(starts, lambda i: F.slice(t, i, chunk_tokens))
    return (
        toked.filter(n >= 1)
        .select(
            "doc_id",
            F.posexplode(chunks).alias("pos", "chunk"),
        )
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("long").alias("chunk_idx"),
            F.size("chunk").cast("long").alias("n_chunk_tokens"),
            F.concat_ws(" ", "chunk").alias("chunk_text"),
        )
    )


def pack_documents(
    df: DataFrame,
    *,
    context_len: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
) -> DataFrame:
    """Offline greedy sequence packing index: assign each document a
    pack id such that consecutive documents fill ~context_len-token
    bins — the batching step that turns a curated corpus into training
    rows without padding waste.

    Packing is computed PER ``part_col`` partition (source/domain), in
    deterministic doc-id order: pack_id = floor(cumulative tokens before
    this doc / context_len). Documents may straddle bin boundaries (the
    consumer splits or pads the tail) — this is the standard
    approximate-packing index, not an exact bin-packing solve (which is
    NP-hard and needless at corpus scale).

    One shuffle on the partition column; the running sum is a window in
    that same shuffle. At 100 TB the per-source partitions parallelize;
    a single global ordering would serialize on one reducer — that is
    why ``part_col`` exists.
    """
    from pyspark.sql import Window

    n_tok = token_count(text_col)
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        df.withColumn("n_tokens", n_tok.cast("long"))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(part_col).alias("part"),
            "n_tokens",
            F.floor(cum_before / context_len).cast("long").alias("pack_id"),
        )
    )


def padding_waste_report(
    df: DataFrame,
    *,
    context_lens: tuple[int, ...] = (128, 256, 512),
    text_col: str = "text",
) -> DataFrame:
    """Context-length planning report: for each candidate training
    context length L, the padding cost of NAIVE one-doc-per-sequence
    batching (every document padded up to ceil(n_tok/L)·L) next to the
    packed lower bound (ceil(total_tokens/L) sequences) — the one table
    that decides a run's context length and whether sequence packing
    (pack_documents) is worth wiring before burning GPU-hours.

    All-integer arithmetic until the final waste ratio (raw int/int
    double, bit-identical cross-engine) — full DuckDB oracle. Scale
    shape: one narrow map over the corpus exploded by |context_lens|
    literals (≤ a handful), one |context_lens|-group aggregation; no
    joins, no windows.
    """
    n_tok = token_count(text_col).cast("long")
    lens = F.explode(F.array(*[F.lit(int(c)) for c in context_lens]))
    per = df.select(n_tok.alias("n"), lens.alias("context_len")).select(
        "context_len",
        "n",
        # empty docs contribute no sequences (they are dropped upstream;
        # charging them a padded sequence would overstate waste)
        F.when(F.col("n") > 0, F.ceil(F.col("n") / F.col("context_len")))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("seqs"),
    )
    agg = per.groupBy("context_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum("seqs").alias("naive_seqs"),
        (F.sum(F.col("seqs") * F.col("context_len")) - F.sum("n")).alias("naive_padding_tokens"),
    )
    return agg.select(
        "context_len",
        "n_docs",
        "total_tokens",
        "naive_seqs",
        "naive_padding_tokens",
        (F.col("naive_padding_tokens") / (F.col("naive_seqs") * F.col("context_len"))).alias(
            "waste_ratio"
        ),
        F.ceil(F.col("total_tokens") / F.col("context_len")).cast("long").alias("packed_seqs"),
    )


def lm_unigram_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-self-trained unigram language-model score per document:
    mean log10 probability of its tokens under the corpus's own unigram
    distribution — the cheap LM-quality signal used to rank/filter
    training text (low score = rare-token soup, boilerplate, or noise).

    Plan shape: one explode (narrow), one token-keyed aggregation for the
    vocabulary, and one token-keyed join back. The token shuffle is
    Zipf-skewed by nature — AQE skew-split handles the head terms; the
    grand-total is a 1-row frame broadcast via crossJoin, never a
    driver-side collect. At 100 TB the vocab frame is the thing to
    persist and reuse across scoring runs.
    """
    tok = documents.select("doc_id", F.explode(tokens(text_col)).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("tf"))
    total = freq.agg(F.sum("tf").alias("n"))
    return (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log10(F.col("tf") / F.col("n"))), 4).alias("avg_logp"),
        )
    )


def lm_bigram_score(
    documents: DataFrame, text_col: str = "text", lam: float = 0.7
) -> DataFrame:
    """Corpus-self-trained interpolated bigram LM score per document:
    mean log10 of P(w_i | w_{i-1}) = λ·MLE_bigram + (1−λ)·MLE_unigram
    (Jelinek-Mercer smoothing) over every adjacent token pair — the next
    rung above ``lm_unigram_score`` on the LM-quality-filter ladder
    (CCNet-style ranking): it penalizes scrambled word soup that a
    unigram model scores as fluent.

    Plan shape: bigram expansion is a narrow per-row transform (the
    token array is materialized as a column first — an inline array
    expression inside a higher-order lambda re-evaluates per element);
    counts are three token/pair-keyed aggregations with map-side
    partials (bigram table, its left-context marginal, unigram table);
    scoring joins are Zipf-skewed equi-joins (AQE skew-split); the
    1-row grand total broadcasts via crossJoin. At 100 TB the count
    tables are the persistable LM artifact. Documents with fewer than 2
    tokens have no bigrams and drop out (mirrored by the oracle's
    prev-IS-NOT-NULL filter).
    """
    base = documents.select("doc_id", tokens(text_col).alias("__toks"))
    pairs = base.select(
        "doc_id",
        F.explode(
            F.filter(
                F.transform(
                    F.col("__toks"),
                    lambda x, i: F.struct(
                        F.when(i >= 1, F.element_at(F.col("__toks"), i)).alias("prev"),
                        x.alias("cur"),
                    ),
                ),
                lambda p: p.prev.isNotNull(),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))

    tok = documents.select("doc_id", F.explode(tokens(text_col)).alias("token"))
    uni = tok.groupBy("token").agg(F.count("*").alias("tf"))
    total = uni.agg(F.sum("tf").alias("n"))
    bi = pairs.groupBy("prev", "cur").agg(F.count("*").alias("c_big"))
    ctx = bi.groupBy("prev").agg(F.sum("c_big").alias("c_ctx"))

    p_big = F.col("c_big") / F.col("c_ctx")
    p_uni = F.col("tf") / F.col("n")
    return (
        pairs.join(bi, ["prev", "cur"])
        .join(ctx, "prev")
        .join(uni.withColumnRenamed("token", "cur"), "cur")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg(F.log10(F.lit(lam) * p_big + F.lit(1.0 - lam) * p_uni)), 4).alias(
                "avg_logp"
            ),
        )
    )


def lm_quality_buckets(
    documents: DataFrame, *, n_buckets: int = 3, text_col: str = "text"
) -> DataFrame:
    """CCNet-style LM quality tiers: rank every document by its unigram
    LM score WITHIN its predicted language and cut into ``n_buckets``
    equal tiles — head / middle / tail for the canonical 3 — the
    exact shape CCNet ships its corpus in (head = fluent text worth
    full weight, tail = candidates for dropping). Composes two verified
    operators (lm_unigram_score × language_id); the tier boundary is
    relative PER LANGUAGE, which is the whole point — a global score
    cutoff would empty low-resource languages.

    ntile runs over (rounded score desc, doc_id) — a total order, so
    tiles are deterministic and engine-identical (DuckDB's ntile uses
    the same front-loaded-remainder definition). Per-language total
    ordering is the fixture-exact formulation; at 100 TB swap the
    window for two approx-percentile thresholds per language (same
    tiers to sketch accuracy, no global sort).
    """
    from pyspark.sql import Window

    scored = lm_unigram_score(documents, text_col)
    pred = language_id(documents, text_col).select("doc_id", "lang_pred")
    w = Window.partitionBy("lang_pred").orderBy(F.desc("avg_logp"), F.asc("doc_id"))
    tier = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == n_buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return (
        scored.join(pred, "doc_id")
        .withColumn("bucket", F.ntile(n_buckets).over(w).cast("long"))
        .select("doc_id", "lang_pred", "avg_logp", "bucket", tier.alias("tier"))
    )


def repetition_ratio(documents: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Intra-document repetition: the fraction of a document's token
    n-grams that are repeats of an earlier n-gram in the SAME document —
    the standard cheap signal for boilerplate loops, keyword stuffing,
    and degenerate generations.

    Pure narrow map (tokenize → n-gram transform → distinct-count per
    row), all inside whole-stage codegen: zero shuffles at any scale.
    Documents with fewer than n tokens report 0 n-grams and ratio 0.
    """
    # sequence(1, x) DESCENDS when x < 1 (it never yields empty) — docs
    # shorter than n tokens need the explicit empty-array branch
    grams = F.expr(
        f"CASE WHEN size(__toks) >= {n} THEN "
        f"transform(sequence(1, size(__toks) - {n - 1}), i -> "
        f"concat_ws(' ', slice(__toks, i, {n}))) "
        f"ELSE cast(array() as array<string>) END"
    )
    return (
        documents.withColumn("__toks", tokens(text_col))
        .withColumn("__grams", grams)
        .select(
            "doc_id",
            F.size("__grams").cast("long").alias("n_grams"),
            F.when(F.size("__grams") > 0,
                   F.round(1 - F.size(F.array_distinct("__grams")) / F.size("__grams"), 4))
            .otherwise(F.lit(0.0))
            .alias("rep_ratio"),
        )
    )


def collocations(
    df: DataFrame, *, text_col: str = "text", k: int = 50, min_freq: int = 2
) -> DataFrame:
    """Corpus collocation census: top-k adjacent word pairs by occurrence
    count — the statistic behind phrase-vocabulary induction and the
    pair-count step of a BPE-style merge round (pairs here are
    word-level; a character-level round is the same plan over char
    bigrams).

    Unlike ``word_ngrams`` (distinct per doc, for contamination), pairs
    here are counted per OCCURRENCE. Plan shape: the bigram expansion is
    a narrow map (sequence + slice over the token array, no UDF); the
    one shuffle is the count on the bigram key — Zipf-skewed, handled by
    map-side partial aggregation + AQE skew split; top-k is
    TakeOrderedAndProject, never a global sort.
    """
    t = tokens(text_col)
    n = F.size(t)
    grams = F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(1), n - 1), lambda i: F.concat_ws(" ", F.slice(t, i, 2))),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_freq)
        .orderBy(F.desc("freq"), "bigram")
        .limit(k)
    )


def vocab_coverage(
    documents: DataFrame, *, text_col: str = "text", sizes: tuple[int, ...] = (100, 1000, 10000)
) -> DataFrame:
    """Vocabulary coverage / OOV-rate curve: for each candidate vocab size
    N, the fraction of all corpus token OCCURRENCES covered by the N most
    frequent types (ties broken token-asc for a total order). The
    tokenizer-budget question every pretraining pipeline answers before
    fixing a vocab.

    Plan shape: term frequency is one Zipf-key shuffle; the ranking over
    the type frequency table reuses ``analytics.global_row_number`` —
    range-partitioned two-phase numbering, never a single-partition
    window (the type table is vocab-sized, but at 100 TB that is still
    hundreds of millions of rows). All N cutoffs ride in ONE conditional
    aggregation over the ranked frame; the final explode is over a 1-row
    struct array.
    """
    from cloudtrace_exporter_spark.operators.analytics import global_row_number

    tf = term_frequencies(documents, text_col)
    ranked = global_row_number(tf, [F.desc("freq"), F.asc("token")])
    row = ranked.agg(
        F.sum("freq").alias("_total"),
        *[
            F.sum(F.when(F.col("rn") <= n, F.col("freq")).otherwise(F.lit(0))).alias(f"_c{n}")
            for n in sizes
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(n).alias("vocab_size"),
                (F.col(f"_c{n}") / F.col("_total")).alias("cov"),
            )
            for n in sizes
        ]
    )
    return (
        row.select(F.explode(pairs).alias("p"))
        .select(
            F.col("p.vocab_size").alias("vocab_size"),
            F.round(F.col("p.cov"), 6).alias("coverage"),
            F.round(1 - F.col("p.cov"), 6).alias("oov_rate"),
        )
        .orderBy("vocab_size")
    )


def dsir_importance(
    corpus: DataFrame,
    target: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_hex_digits: int = 2,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    weights: per-document log importance log p_target(x)/p_raw(x) under
    hashed-bigram bag-of-words models — THE modern recipe for tilting a
    web-scale corpus toward a target domain before sampling.

    Both distributions are Laplace-smoothed histograms over ``16^digits``
    hash buckets of word bigrams. The bucket key is an md5 hex prefix —
    engine-portable (identical in the DuckDB oracle, same trick as
    hash_sample) and uniform. A doc with no bigrams scores 0 (length-1
    docs carry no signal).

    Plan shape: bigram explode is narrow (tokens materialized first —
    the per-element lambda trap); each profile is one tiny bucket-keyed
    aggregation (≤16^digits rows); scoring joins the BROADCAST merged
    profile to the exploded grams and sums per document — one data
    shuffle of (doc, bucket) pairs. At 100 TB: profiles are KBs, the
    corpus is touched twice (profile + score), nothing else moves.
    """
    n_buckets = 16 ** bucket_hex_digits

    def grams(df: DataFrame) -> DataFrame:
        toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
        k = F.size("__t")
        g = F.when(
            k >= 2,
            F.transform(
                F.sequence(F.lit(1), k - 1), lambda i: F.concat_ws(" ", F.slice("__t", i, 2))
            ),
        ).otherwise(F.array().cast("array<string>"))
        return toked.select("id", F.explode_outer(g).alias("gram")).select(
            "id", F.substring(F.md5(F.col("gram").cast("binary")), 1, bucket_hex_digits).alias("bucket")
        )

    # BOTH profiles come out of ONE aggregation: the target and corpus
    # gram streams union at GRAM level (tagged 1/0 — a union is free, no
    # exchange) and a single bucket-keyed groupBy counts each side with a
    # conditional sum. The previous two-aggregate-then-merge form cost
    # three exchanges for the same ≤16^digits-row result (round-3 advice
    # #7); map-side partial aggregation still collapses each partition to
    # ≤n_buckets rows before this one exchange, so the shuffled volume is
    # unchanged. A full-outer join form would be worse still: both sides
    # tiny, but full outer cannot broadcast. Totals come from the merged
    # counts themselves — never a third corpus pass — and ride on every
    # row via ONE broadcast 1-row aggregate.
    gt = grams(target).filter(F.col("bucket").isNotNull()).select(
        "bucket", F.lit(1).cast("long").alias("is_t")
    )
    gr = grams(corpus).filter(F.col("bucket").isNotNull()).select(
        "bucket", F.lit(0).cast("long").alias("is_t")
    )
    merged_counts = (
        gt.unionByName(gr)
        .groupBy("bucket")
        .agg(
            F.sum("is_t").alias("ct"),
            F.sum(F.lit(1) - F.col("is_t")).alias("cr"),
        )
    )
    tot = merged_counts.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    b = float(n_buckets)
    merged = merged_counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("ct") + 1.0) / (F.col("nt") + b))
            - F.log((F.col("cr") + 1.0) / (F.col("nr") + b))
        ).alias("log_ratio"),
    )
    scored = (
        grams(corpus)
        .join(F.broadcast(merged), "bucket", "left")
        .groupBy("id")
        .agg(
            F.count(F.col("bucket")).alias("n_grams"),
            F.round(F.coalesce(F.sum("log_ratio"), F.lit(0.0)), 6).alias("log_weight"),
        )
    )
    return scored.select(F.col("id").alias(id_col), "n_grams", "log_weight")


def classifier_weights(n_buckets: int = 256, seed: int = 7) -> list[int]:
    """Int8-quantized hashed-feature weights (seeded uniform in [-8, 8]) —
    the at-rest form of a fastText/CCNet-style linear quality classifier
    (the reference pipeline's filtering stage has no model; this is the
    standard public recipe). In production these come from training;
    the seeded family keeps the fixture deterministic, and INTEGER
    weights make the logit order-independent integer arithmetic, so the
    score replays exactly in the DuckDB oracle (float weights would tie
    to Spark's fold order)."""
    import random

    rng = random.Random(seed)
    return [rng.randint(-8, 8) for _ in range(n_buckets)]


def classifier_quality_score(
    docs: DataFrame,
    *,
    seed: int = 7,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-based quality filtering, the classifier-scored stage of a
    pretraining curation funnel (CCNet / fastText shape): every token
    hashes to one of 256 feature buckets (md5 2-hex prefix — uniform and
    engine-portable, same trick as hash_sample/DSIR) and the document's
    logit is the mean of the bucket weights — a bag-of-hashed-features
    linear model whose weight table ships as a 256-int literal.

    ONE narrow map, zero shuffles: tokens are materialized first (the
    per-element-lambda trap), the per-token weight is an element_at into
    the literal table, and the sum is an in-row left fold — at 100 TB
    this is a pure scan-side filter, exactly how production classifier
    filtering runs (model broadcast, score per row, no joins).

    Returns (doc_id, n_tokens, w_sum, logit, keep); ``logit`` is the raw
    w_sum/n_tokens double (NOT rounded: an exact integer ratio rounds
    differently under Spark HALF_UP vs DuckDB HALF_EVEN; the raw double
    is bit-identical in both engines)."""
    w = classifier_weights(256, seed)
    w_lit = "array(" + ",".join(str(x) + "L" for x in w) + ")"
    toked = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
    summed = toked.selectExpr(
        "doc_id",
        "CAST(size(__t) AS BIGINT) AS n_tokens",
        f"aggregate(transform(__t, x -> element_at({w_lit}, "
        "CAST(conv(substring(md5(CAST(x AS BINARY)), 1, 2), 16, 10) AS INT) + 1)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS w_sum",
    )
    return summed.select(
        "doc_id",
        "n_tokens",
        "w_sum",
        F.when(F.col("n_tokens") > 0, F.col("w_sum") / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("logit"),
        (
            F.when(F.col("n_tokens") > 0, F.col("w_sum") / F.col("n_tokens")).otherwise(F.lit(0.0))
            >= F.lit(threshold)
        ).alias("keep"),
    )


def vocab_growth_curve(
    documents: DataFrame,
    *,
    n_buckets: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary GROWTH curve (Heaps'-law input): walk the corpus in
    ingestion order (doc_id) in ``n_buckets`` equal-width slices and
    report, per slice, how many never-before-seen token types appear —
    plus the cumulative types/tokens and the running type-token ratio.
    The saturation diagnostic a data buyer reads before paying for the
    next crawl tranche: a flattening curve says new data is re-treading
    old vocabulary (the corpus-level twin of source_novelty's per-feed
    marginal-content report).

    Scale shape: bucket width derives from max(doc_id) via a 1-row
    broadcast (never a corpus-sized ntile window); "first time seen" is
    min(bucket) per type — ONE token-keyed shuffle (Zipf head is a
    hot-key: map-side partial min absorbs it); everything after runs on
    the ≤``n_buckets``-row curve. Engine-portable integer arithmetic
    except the final ratio (one division, rounded).
    """
    base = documents.select(
        F.col(id_col).cast("long").alias("__id"), F.col(text_col).alias("__text")
    )
    mx = base.agg(F.max("__id").alias("__mx"))
    width = F.floor(F.col("__mx") / n_buckets) + 1
    bucketed = (
        base.join(F.broadcast(mx))
        .withColumn("bucket", F.floor(F.col("__id") / width).cast("long"))
    )
    firsts = (
        bucketed.select("bucket", F.explode(tokens("__text")).alias("__tok"))
        .groupBy("__tok")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("__text")).cast("long").alias("n_tokens"),
    )
    # [WindowExec: No Partition Defined — BENIGN HERE] the cumulative
    # runs over the ≤n_buckets-row curve, never the corpus.
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(firsts, "bucket", "left")
        .na.fill({"new_types": 0})
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            F.col("new_types").cast("long").alias("new_types"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum("new_types").over(w).cast("long").alias("cum_types"),
        )
        .withColumn(
            # NULL when the prefix has no tokens yet (all-empty buckets):
            # ANSI mode aborts on the raw /0; DuckDB's /0 is already NULL
            # (round-8 differential-fuzz find)
            "type_token_ratio",
            F.when(
                F.col("cum_tokens") > 0,
                F.round(F.col("cum_types") / F.col("cum_tokens"), 6),
            ),
        )
        .orderBy("bucket")
    )


def bm25_prf_topk(
    documents: DataFrame,
    queries: list[tuple[int, str]],
    *,
    k: int = 5,
    fb_docs: int = 3,
    fb_terms: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance feedback retrieval (RM3/Rocchio-lite): run BM25,
    treat each query's top ``fb_docs`` as relevant, harvest the
    ``fb_terms`` most frequent NEW terms from those docs (tf desc, term
    asc — total order), append them to the query, and re-retrieve —
    the classic recall-recovering second pass of sparse retrieval
    (vocabulary-mismatch fix: 'hash join' pulls in 'shuffle'/'probe'
    and recalls docs that never say 'join').

    Both passes ARE bm25_topk (same frozen-stats percolator shape, same
    WAND-lite pruning, same salted two-phase top-k); the only addition
    is the feedback term harvest — one join of the ≤|queries|·fb_docs
    feedback ids against the token explode + a per-query window over
    feedback-doc vocabulary (bounded by fb_docs·doclen, never corpus).
    The expansion-term pull to the driver is |queries|·fb_terms strings
    — the same sanctioned KB-sized snapshot as bm25_corpus_stats.
    Fully deterministic → full DuckDB oracle replays both passes.
    """
    from pyspark.sql import Window

    first = bm25_topk(
        documents, queries, k=fb_docs, k1=k1, b=b, text_col=text_col, id_col=id_col
    )
    toks = documents.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    spark = documents.sparkSession
    orig_rows = [
        (qid, t) for qid, qtext in queries for t in sorted({x for x in qtext.split(" ") if x})
    ]
    orig_df = spark.createDataFrame(orig_rows, "query_id long, term string")
    fb_tf = (
        first.select("query_id", "doc_id")
        .join(toks, "doc_id")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(orig_df, ["query_id", "term"], "left_anti")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("tf"), F.asc("term"))
    sel = (
        fb_tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= fb_terms)
        .select("query_id", "term")
        .collect()
    )
    expansions: dict[int, list[str]] = {}
    for r in sel:
        expansions.setdefault(r["query_id"], []).append(r["term"])
    queries2 = [
        (qid, qtext + "".join(f" {t}" for t in sorted(expansions.get(qid, []))))
        for qid, qtext in queries
    ]
    return bm25_topk(
        documents, queries2, k=k, k1=k1, b=b, text_col=text_col, id_col=id_col
    )


def bm25_snippets(
    documents: DataFrame,
    queries: list[tuple[int, str]],
    *,
    k: int = 3,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Search-result SNIPPETS: for each (query, top-k doc) pair, the
    best ``window``-token span — maximal distinct-query-term coverage,
    then total hits, then earliest start (a total order) — plus the
    span text itself. The last mile of the retrieval surface: ranking
    says WHICH doc, this says WHY, and a labeling pipeline feeds the
    span (not the 100 KB document) to the annotator or judge model.

    Candidate starts are anchored at hit positions (an optimal window
    can always start ON a hit — sliding left to the next hit never
    loses coverage), so span search is a self-join of the per-(query,
    doc) HIT LISTS — a few positions per pair, never the token stream;
    the snippet slice joins back to the top-k docs only. Deterministic
    end to end → full oracle replaying ranking + span selection.
    """
    # ranked (|queries|·k rows) feeds three consumers and toked (top-k
    # docs only) two — cache both or the whole BM25 ranking re-executes
    # per consumer (28 exchanges measured; 8 after)
    ranked = bm25_topk(
        documents, queries, k=k, text_col=text_col, id_col=id_col
    ).cache()
    toked = (
        documents.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
        .join(ranked.select("doc_id").distinct(), "doc_id")
        .cache()
    )
    pos = toked.select(
        "doc_id", F.posexplode("__t").alias("pos", "term")
    ).withColumn("pos", F.col("pos") + 1)
    spark = documents.sparkSession
    qt = spark.createDataFrame(
        [
            (qid, t)
            for qid, qtext in queries
            for t in sorted({x for x in qtext.split(" ") if x})
        ],
        "query_id long, term string",
    )
    hits = (
        ranked.select("query_id", "doc_id")
        .join(pos, "doc_id")
        .join(qt, ["query_id", "term"])
        .select("query_id", "doc_id", "term", "pos")
        .cache()
    )
    a, b = hits.alias("a"), hits.alias("b")
    spans = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") >= F.col("a.pos"))
            & (F.col("b.pos") < F.col("a.pos") + window),
        )
        .groupBy(
            F.col("a.query_id").alias("query_id"),
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.pos").alias("start"),
        )
        .agg(
            F.countDistinct(F.col("b.term")).alias("n_terms"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )
    w = Window.partitionBy("query_id", "doc_id").orderBy(
        F.desc("n_terms"), F.desc("n_hits"), F.asc("start")
    )
    best = spans.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(ranked, ["query_id", "doc_id"])
        .join(toked, "doc_id")
        .select(
            "query_id",
            "doc_id",
            "rnk",
            "score",
            F.col("start").cast("long").alias("start"),
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.concat_ws(" ", F.slice("__t", F.col("start"), window)).alias("snippet"),
        )
        .orderBy("query_id", "rnk")
    )


def ngram_novelty(
    documents: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source n-gram NOVELTY: of each source's per-document distinct
    shingle occurrences (a shingle repeated across a source's documents
    counts once per document, since the denominator sums the per-doc
    distinct sets), how many appear here FIRST (first-seen = minimum doc id
    over the whole corpus — the ingestion-order owner, the
    vocab_growth_curve convention applied at shingle granularity)?
    The marginal-content report a buyer reads per FEED: a source whose
    novelty rate collapses is re-crawling text the corpus already has,
    even when exact/near dedup doesn't fire. Distinct from
    ``dedup.source_novelty`` (n-grams EXCLUSIVE to one source,
    order-free): a source can be 100% exclusive yet 0% novel here if a
    sibling feed landed the same shingles first — exclusivity measures
    overlap, first-seen credit measures ingestion-order redundancy.

    Exactness strategy: all counts are integers over the distinct
    per-document shingle sets (dedup._shingles — word n-grams,
    array_distinct); ``novelty_rate`` is one integer-ratio division
    emitted raw (the percent_rank precedent).

    Scale shape: ONE shingle-keyed exchange (the min-owner window —
    Zipf-headed, AQE skew-split applies) followed by a source
    aggregation on the same rows; no joins. Output is |sources| rows.
    """
    from cloudtrace_exporter_spark.operators.dedup import _shingles

    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        tokens(text_col).alias("__t"),
    )
    sh = toks.select(
        "doc_id", "source", F.explode(_shingles(F.col("__t"), n)).alias("g")
    )
    w = Window.partitionBy("g")
    flagged = sh.withColumn("first_doc", F.min("doc_id").over(w))
    return (
        flagged.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "source",
            "n_docs",
            "n_grams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_grams").cast("double")).alias(
                "novelty_rate"
            ),
        )
        .orderBy("source")
    )


def word_cooccurrence_graph(
    documents: DataFrame,
    *,
    min_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The TextRank edge builder, exposed as its own plan: symmetrized
    distinct ADJACENT candidate-word pairs (src, dst) per document —
    candidates are whitespace tokens of length ≥ ``min_len``. Split out
    (round 10) so the plan-fingerprint regression net can pin the edge
    build's shape directly: textrank's final plan starts from an eager
    localCheckpoint LogicalRDD, which hides the interior joins/exchanges
    from the snapshot."""
    t = F.filter(tokens(F.col(text_col)), lambda w: F.length(w) >= min_len)
    seq = documents.select(
        F.col(id_col).alias("doc_id"), F.posexplode(t).alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        seq.withColumn("prev", F.lag("w").over(win))
        .filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("w")))
        .select(F.col("prev").alias("src"), F.col("w").alias("dst"))
    )
    return adj.union(
        adj.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def textrank_keywords(
    documents: DataFrame,
    *,
    min_len: int = 4,
    n_iter: int = 10,
    top_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): rank
    words by PageRank over the corpus-level word co-occurrence graph —
    the unsupervised keyword/topic surface the per-term counts
    (tfidf_top_terms) can't see, because TextRank credits a word for the
    company it keeps, not its raw frequency.

    Graph construction (deterministic, oracle-replayable):
    - candidate words = whitespace tokens of length ≥ ``min_len``
      (the classic POS-filter proxy, kept engine-portable);
    - edges = ADJACENT candidate pairs per document (window 2 over the
      filtered sequence, self-pairs dropped), symmetrized + distinct —
      the unweighted co-occurrence graph of the original paper;
    - rank = :func:`graph.pagerank_scaled` (INTEGER-scaled power
      iteration, ``n_iter`` rounds) so the whole trajectory is bit-exact
      across engines and the DuckDB oracle replays it as an unrolled CTE
      chain (the q_pagerank_verified machinery pointed at a text graph).

    Output: top ``top_k`` rows (word, pagerank_scaled), ordered by rank
    desc then word asc (total order — the LIMIT boundary is unambiguous).

    Scale shape: tokenize+filter is a narrow map over the document scan;
    the edge list is one lag-window per doc (one doc-keyed exchange) +
    distinct (one edge-keyed exchange); each PageRank round is one
    rank-onto-edges equi-join + one sum — no step is corpus-quadratic.
    Stopwords never rank (length filter drops most; survivors dilute
    across the whole graph), hub content words win.
    """
    from . import graph as _graph

    # materialize the symmetrized edge list ONCE: pagerank_scaled fans its
    # edge input out ~5× (nodes from both endpoints, out-degrees, the
    # weighted join) and the union itself evaluates `adj` twice — without
    # this the tokenize→explode→lag-window chain replays per consumer
    from cloudtrace_exporter_spark.session import cache_once

    und = cache_once(
        word_cooccurrence_graph(
            documents, min_len=min_len, text_col=text_col, id_col=id_col
        )
    )
    ranked = _graph.pagerank_scaled(und, n_iter=n_iter)
    return (
        ranked.orderBy(F.col("pagerank_scaled").desc(), F.col("id"))
        .limit(top_k)
        .select(F.col("id").alias("word"), "pagerank_scaled")
    )


def zipf_fit(documents: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Zipf power-law fit of the corpus frequency spectrum (Zipf 1949;
    the log-log least squares everyone actually runs): rank every token
    by (freq desc, token asc) and regress log10(freq) on log10(rank).
    A healthy natural-language corpus fits slope ≈ −1; a slope far from
    −1 (or a collapsing hapax rate) is the classic symptom of template/
    boilerplate floods or dedup gone wrong — a one-row corpus datacard
    line next to vocab_growth's Heaps-law curve.

    ONE output row: n_vocab, n_tokens, n_hapax (freq==1 types),
    hapax_rate (raw integer-ratio double — bit-identical across
    engines), zipf_slope, zipf_intercept (least squares on log10
    points, round 6 to absorb engine libm/summation-order ulps).

    Scale shape: term_frequencies is one token-keyed partial-agg
    shuffle; ranking uses analytics.global_row_number (range-partitioned
    two-phase numbering — NO single-partition window over the vocab);
    the fit itself is one global reduce of 5 running sums. Degenerate
    spectra (vocab ≤ 1 → zero x-variance) emit NULL slope/intercept on
    both engines instead of dividing by zero.
    """
    from . import analytics as _analytics

    tf = term_frequencies(documents, text_col)
    ranked = _analytics.global_row_number(tf, [F.col("freq").desc(), F.col("token")])
    pts = ranked.select(
        "freq",
        F.log10(F.col("rn").cast("double")).alias("x"),
        F.log10(F.col("freq").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum("freq").alias("n_tokens"),
        F.sum((F.col("freq") == 1).cast("long")).alias("n_hapax"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    den = F.col("n_vocab") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den != 0.0,
        (F.col("n_vocab") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    )
    return s.select(
        "n_vocab",
        "n_tokens",
        "n_hapax",
        (F.col("n_hapax").cast("double") / F.col("n_vocab")).alias("hapax_rate"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n_vocab"), 6).alias(
            "zipf_intercept"
        ),
    )


def nb_quality_score(
    docs: DataFrame,
    *,
    labels: DataFrame | None = None,
    n_buckets: int = 256,
    weight_scale: int = 10**6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TRAINED quality scorer (round 11): Bernoulli Naive Bayes over
    hashed token-presence features — the missing production piece next
    to the heuristic quality surface (Gopher rules, LM tiers, DSIR):
    a classifier FIT to labels rather than a fixed rule family. The
    public fastText/CCNet recipe's statistical core, with counts
    standing in for SGD so the whole fit replays in SQL.

    Training data: ``labels`` (doc_id, label boolean), defaulting to
    this corpus's own ``gopher_quality(...).keep`` — the standard
    bootstrap (train a cheap model on rule labels, then score corpora
    the rules were never tuned for). Features: presence of each of
    ``n_buckets`` hashed token buckets (md5 2-hex prefix at 256 —
    engine-portable, same family as DSIR/classifier_quality_score).

    Exactness discipline (the PageRank quantization argument): per-
    bucket log-likelihood-ratio weights with Laplace smoothing are
    QUANTIZED to BIGINT at ``weight_scale`` — w_b = round(s·[ln((ct+1)/
    (n_pos+2)) − ln((cf+1)/(n_neg+2))]) — and the document score is the
    exact INTEGER sum of its distinct buckets' weights plus the
    quantized class prior. Integer sums are fold-order-independent, so
    the score replays bit-for-bit in DuckDB; ln enters only inside a
    single round() per bucket, the same cross-engine contract BM25/DSIR
    already pin.

    Scale shape: one explode → distinct (doc, bucket) stream; the count
    table is ≤ n_buckets rows (map-side partials collapse each partition
    first); weights broadcast back onto the doc-bucket stream; one
    groupBy(doc) integer sum. No row touches the driver except the
    2-scalar class-prior aggregate.

    Returns (doc_id, n_features, score, predict_pass); score is the
    BIGINT quantized log-odds, predict_pass = score > 0.
    """
    if labels is None:
        labels = gopher_quality(docs, text_col).select("doc_id", F.col("keep").alias("label"))
    lab = labels.select(F.col(id_col).alias("id"), F.col("label").cast("boolean").alias("y"))
    hex_digits = {16: 1, 256: 2, 4096: 3}.get(n_buckets)
    if hex_digits is None:
        raise ValueError("n_buckets must be 16, 256, or 4096 (md5 hex-prefix family)")
    toked = docs.select(
        F.col(id_col).alias("id"), F.array_distinct(tokens(text_col)).alias("__t")
    )
    feats = toked.select(
        "id",
        F.explode_outer(
            F.array_distinct(
                F.transform(
                    "__t",
                    lambda t: F.substring(F.md5(t.cast("binary")), 1, hex_digits),
                )
            )
        ).alias("bucket"),
    )
    labeled = feats.join(lab, "id").filter(F.col("bucket").isNotNull())
    counts = labeled.groupBy("bucket").agg(
        F.sum(F.col("y").cast("long")).alias("ct"),
        F.sum((~F.col("y")).cast("long")).alias("cf"),
    )
    # class totals: ONE 2-scalar agg, broadcast onto the <= n_buckets
    # count rows (never a per-row recount)
    tot = lab.agg(
        F.sum(F.col("y").cast("long")).alias("n_pos"),
        F.sum((~F.col("y")).cast("long")).alias("n_neg"),
    )
    s = float(weight_scale)
    weights = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            s
            * (
                F.log((F.col("ct") + 1.0) / (F.col("n_pos") + 2.0))
                - F.log((F.col("cf") + 1.0) / (F.col("n_neg") + 2.0))
            )
        )
        .cast("long")
        .alias("w"),
    )
    prior = tot.select(
        F.round(
            s
            * (
                F.log((F.col("n_pos") + 1.0) / (F.col("n_pos") + F.col("n_neg") + 2.0))
                - F.log((F.col("n_neg") + 1.0) / (F.col("n_pos") + F.col("n_neg") + 2.0))
            )
        )
        .cast("long")
        .alias("p0")
    )
    scored = (
        feats.join(F.broadcast(weights), "bucket", "left")
        .groupBy("id")
        .agg(
            F.count(F.col("bucket")).cast("long").alias("n_features"),
            F.coalesce(F.sum("w"), F.lit(0).cast("long")).alias("__sw"),
        )
        .crossJoin(F.broadcast(prior))
    )
    return scored.select(
        F.col("id").alias(id_col),
        "n_features",
        (F.col("__sw") + F.col("p0")).alias("score"),
        ((F.col("__sw") + F.col("p0")) > 0).alias("predict_pass"),
    )

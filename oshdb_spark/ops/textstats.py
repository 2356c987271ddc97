"""Text analysis operators over the documents table — pure Catalyst.

- with_token_count      whitespace tokenization + a BPE-ish subword count
- with_quality          quality signals: distinct-word ratio, mean word
                        length, alpha ratio, stopword ratio
- with_lang_guess       marker-word n-gram-style language voting
- with_fingerprint      content fingerprint (min-shingle-hash, md5-based)

Every expression uses only built-in functions so DuckDB oracles can
reproduce results bit-for-bit; float outputs are meant to be rounded by
the caller before cross-engine comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# tiny marker lists per language — deterministic voting, shared with the
# oracle SQL (keep in sync with __spark_entry__)
LANG_MARKERS = {
    "en": ["the", "and", "value", "row"],
    "de": ["der", "und", "wert", "zeile"],
    "es": ["el", "y", "valor", "fila"],
    "fr": ["le", "et", "valeur", "ligne"],
    "zh": ["shu", "biao", "zhi", "hang"],
}


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """token_count: whitespace tokens; subword_count: a BPE-ish proxy =
    ceil(chars-without-spaces / 4) + tokens (every ~4 chars becomes a
    continuation piece)."""
    words = f"split({text_col}, ' ')"
    nospace = f"length(replace({text_col}, ' ', ''))"
    return df.withColumn("token_count", F.expr(f"size({words})")).withColumn(
        "subword_count",
        F.expr(f"cast(ceil({nospace} / 4.0) as bigint) + size({words})"),
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality signals used for corpus filtering."""
    words = f"split({text_col}, ' ')"
    return (
        df.withColumn(
            "distinct_ratio",
            F.expr(f"size(array_distinct({words})) / size({words})"),
        )
        .withColumn(
            "mean_word_len",
            F.expr(
                f"aggregate({words}, cast(0 as double), (a, w) -> a + length(w))"
                f" / size({words})"
            ),
        )
        .withColumn(
            "alpha_ratio",
            F.expr(
                f"length(regexp_replace({text_col}, '[^a-zA-Z]', ''))"
                f" / length({text_col})"
            ),
        )
    )


def with_lang_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax of marker-word hit counts; deterministic tie-break by
    language code order. A real system plugs in a proper LID model — this
    exercises the same plan shape (map-side scoring, no shuffle)."""
    words = f"split({text_col}, ' ')"
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = "array(" + ", ".join(f"'{m}'" for m in markers) + ")"
        scores.append(
            f"named_struct('lang', '{lang}', "
            f"'score', size(array_intersect(array_distinct({words}), {arr})))"
        )
    arr = "array(" + ", ".join(scores) + ")"
    best = (
        f"aggregate({arr}, named_struct('lang', '??', 'score', -1), "
        f"(acc, x) -> CASE WHEN x.score > acc.score THEN x ELSE acc END).lang"
    )
    return df.withColumn("lang_guess", F.expr(best))


def with_fingerprint(
    df: DataFrame, text_col: str = "text", k: int = 5
) -> DataFrame:
    """Rolling-window content fingerprint: min md5 over k-word shingles
    (robust to local edits; equal texts ⇒ equal fingerprints)."""
    words = f"split({text_col}, ' ')"
    sh = (
        f"CASE WHEN size({words}) < {k} THEN array({text_col}) "
        f"ELSE transform(sequence(1, size({words}) - {k} + 1), "
        f"i -> concat_ws(' ', slice({words}, i, {k}))) END"
    )
    return df.withColumn(
        "fingerprint", F.expr(f"array_min(transform({sh}, s -> md5(s)))")
    )


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition quality signals (the Gopher-rules family used to drop
    degenerate/boilerplate text from training corpora):

    - dup_2gram_frac: 1 − distinct bigrams / total bigrams — high when
      the document loops over the same phrases;
    - top_2gram_cover: occurrences of the single most frequent bigram /
      total bigrams — catches one dominant repeated phrase.

    Pure Catalyst: the max bigram frequency is the LONGEST RUN of equal
    adjacent elements in the sorted bigram array, computed with one
    aggregate fold — no explode, no per-doc shuffle, whole plan stays a
    narrow projection. Single-word docs get 0 for both (no bigrams)."""
    words = f"split({text_col}, ' ')"
    grams = (
        f"CASE WHEN size({words}) < 2 THEN array() "
        f"ELSE transform(sequence(1, size({words}) - 1), "
        f"i -> concat_ws(' ', slice({words}, i, 2))) END"
    )
    dup = (
        f"CASE WHEN size({grams}) = 0 THEN cast(0 as double) "
        f"ELSE 1.0 - size(array_distinct({grams})) / size({grams}) END"
    )
    max_run = (
        f"aggregate(array_sort({grams}),"
        f" named_struct('prev', '', 'run', 0, 'best', 0),"
        f" (a, x) -> named_struct("
        f"   'prev', x,"
        f"   'run', CASE WHEN x = a.prev THEN a.run + 1 ELSE 1 END,"
        f"   'best', greatest(a.best,"
        f"     CASE WHEN x = a.prev THEN a.run + 1 ELSE 1 END)),"
        f" a -> a.best)"
    )
    top = (
        f"CASE WHEN size({grams}) = 0 THEN cast(0 as double) "
        f"ELSE {max_run} / size({grams}) END"
    )
    return df.withColumn("dup_2gram_frac", F.expr(dup)).withColumn(
        "top_2gram_cover", F.expr(top)
    )


def chunk_plan(
    df: DataFrame,
    budget: int,
    token_col: str = "token_count",
    order_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk packing plan (the standard pretraining prep:
    documents are concatenated in a deterministic order and cut into
    fixed `budget`-token training sequences; a document may straddle a
    boundary). For each doc: its global token offset, the first chunk it
    lands in, and how many chunks it spans.

    Plan shape — the scalable two-pass prefix sum (a GLOBAL
    Window.orderBy would collapse to one partition, the classic window
    anti-pattern): range-partition by the order column, local cumsum per
    partition (parallel windows), collect the per-partition totals
    (numPartitions rows — driver-sized), prefix-sum them, and join each
    partition's offset back as a BROADCAST 2-column frame — a
    create_map literal would grow the expression tree linearly with the
    partition count (megabytes at 10^5-10^6 partitions). Zero-token docs
    occupy no span: n_chunks = 0. The partitioned frame is eagerly
    localCheckpoint-ed (not just cached): the _pid offsets are only
    correct for the exact partition layout the totals pass saw, and a
    cache eviction would re-run RangePartitioner sampling — checkpointing
    truncates the lineage so recomputation is impossible, and the blocks
    release when the plan is garbage-collected (no unpersist leak)."""
    from pyspark.sql import Window

    part = df.repartitionByRange(F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid").orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.withColumn(
        "_lcum", F.sum(F.col(token_col).cast("long")).over(w)
    ).localCheckpoint(eager=True)
    totals = {
        r["_pid"]: r["t"]
        for r in local.groupBy("_pid").agg(F.max("_lcum").alias("t")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += int(totals[pid] or 0)
    off_df = local_frame(df.sparkSession, offsets, "_off_pid int, _off long")
    local = local.join(
        F.broadcast(off_df), local["_pid"] == off_df["_off_pid"], "left"
    ).drop("_off_pid")
    start = (
        F.coalesce(F.col("_off"), F.lit(0))
        + F.col("_lcum") - F.col(token_col)
    ).cast("long")
    end = start + F.col(token_col).cast("long")
    return (
        local.withColumn("token_offset", start)
        .withColumn(
            "first_chunk", F.floor(F.col("token_offset") / budget).cast("long")
        )
        .withColumn(
            "n_chunks",
            F.when(F.col(token_col) <= 0, F.lit(0)).otherwise(
                F.floor((end - 1) / budget) - F.col("first_chunk") + 1
            ).cast("long"),
        )
        .drop("_pid", "_lcum", "_off")
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a (small) term set — the
    lexical retrieval / keyword-quality baseline next to the embedding
    ANN family. Lucene-style idf: ln(1 + (N - df + 0.5)/(df + 0.5)).

    Scale shape: corpus stats (N, total length, per-term document
    frequencies) are ONE tiny aggregate row; term frequencies are
    ``size(filter(tokens))`` projections — no explode, no inverted-index
    shuffle; scoring is a pure map over the corpus (whole-stage codegen),
    so the only reduce in the plan is the stats row. Returns
    ``(id, score)`` for documents matching ≥1 term.
    """
    if not terms:
        raise ValueError("bm25_scores: empty term set")
    toks = f"split({text_col}, ' ')"
    tf_cols = [
        F.expr(f"size(filter({toks}, w -> w = '{t}'))").alias(f"_tf{i}")
        for i, t in enumerate(terms)
    ]
    base = df.select(F.col(id_col), F.expr(f"size({toks})").alias("_dl"), *tf_cols)

    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n = int(stats["n"])
    avgdl = float(stats["sum_dl"]) / n if n else 1.0

    score = F.lit(0.0)
    for i in range(len(terms)):
        dfreq = int(stats[f"df{i}"])
        idf = F.lit(float(__import__("math").log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))))
        tf = F.col(f"_tf{i}").cast("double")
        denom = tf + k1 * (1.0 - b + b * F.col("_dl").cast("double") / avgdl)
        score = score + idf * (tf * (k1 + 1.0)) / denom
    return (
        base.withColumn("score", score)
        .filter(sum(F.col(f"_tf{i}") for i in range(len(terms))) > 0)
        .select(F.col(id_col), "score")
    )


def chunk_windows(
    df: DataFrame,
    window: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document overlapping token windows — the retrieval-indexing
    chunker (every window embeds/indexes independently), complementing
    ``chunk_plan`` which packs ACROSS documents for training sequences.

    Emits (id, win_idx, win_start, n_tokens, chunk). Windows start every
    ``stride`` tokens; the last window is the remainder (shorter, never
    empty); a doc shorter than one window is a single chunk. Pure
    Catalyst (sequence → transform → slice → concat_ws): the 1→N fan-out
    happens inside codegen with bounded output (≤ n_tokens/stride + 1
    rows per doc), no Python anywhere.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("chunk_windows: window and stride must be positive")
    toks = f"split({text_col}, ' ')"
    starts = (
        f"sequence(1, greatest(1, size({toks}) - {window} + 1), {stride})"
    )
    win = F.expr(
        f"""
        transform({starts}, s -> named_struct(
          'win_start', s - 1,
          'n_tokens', size(slice({toks}, s, {window})),
          'chunk', concat_ws(' ', slice({toks}, s, {window}))))
        """
    )
    return (
        df.select(F.col(id_col), F.posexplode(win).alias("win_idx", "w"))
        .select(
            id_col,
            "win_idx",
            F.col("w.win_start").alias("win_start"),
            F.col("w.n_tokens").alias("n_tokens"),
            F.col("w.chunk").alias("chunk"),
        )
    )


def vocab_stats(
    df: DataFrame, text_col: str = "text", by: str = "source"
) -> DataFrame:
    """Per-group corpus vocabulary statistics: total whitespace tokens,
    distinct types, hapax legomena (types occurring once in the group),
    and the type/token ratio — the first-look lexical profile of a crawl
    slice (vocabulary saturation, boilerplate detection: a low TTR +
    low hapax share flags template-heavy sources).

    Plan shape: explode → ONE (group, token) partial+final hash
    aggregate (the only data-sized shuffle), then a group-sized rollup.
    Token multiplicities aggregate map-side, so the shuffle carries at
    most |distinct (group, token)| rows — bounded by vocabulary, not
    corpus size."""
    toks = df.select(
        F.col(by),
        F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
    )
    per_tok = toks.groupBy(by, "_tok").agg(F.count(F.lit(1)).alias("_n"))
    return (
        per_tok.groupBy(by)
        .agg(
            F.sum("_n").alias("tokens"),
            F.count(F.lit(1)).alias("types"),
            F.sum(F.when(F.col("_n") == 1, 1).otherwise(0)).alias("hapax"),
        )
        .withColumn(
            "type_token_ratio",
            F.round(F.col("types") / F.col("tokens"), 6),
        )
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 5,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the top-k most
    characteristic whitespace tokens of every document — topical tags
    for corpus exploration / stratification (the per-doc complement of
    vocab_stats' per-group profile and bm25_scores' fixed-query arm).

    score = round(tf * ln((N+1) / (df+1)), 6) with tf the in-doc count,
    df the number of documents containing the token, N the corpus size
    (smoothed IDF — never negative, never /0). The round-6 pins the
    cross-engine float contract (one ln + one multiply on identical
    integers); rank ties break on the token's binary string order.

    Plan shape (100 TB): explode → ONE (doc, token) partial+final agg
    (the only data-sized shuffle; multiplicities combine map-side), a
    vocabulary-sized doc-frequency aggregate joined back on the token
    key (AQE broadcasts small vocabularies), a 1-row broadcast N, and a
    per-doc top-k window whose partitions are bounded by per-doc
    vocabulary — never by corpus size."""
    toks = df.select(
        F.col(doc_col).alias("_d"),
        F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
    )
    tf = toks.groupBy("_d", "_tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("_tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "_tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("_n") + 1).cast("double")
                    / (F.col("doc_freq") + 1).cast("double")
                ),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_d").orderBy(
        F.col("score").desc(), F.col("_tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_d").alias(doc_col),
            F.col("rank").cast("long").alias("rank"),
            F.col("_tok").alias("token"),
            "tf",
            "doc_freq",
            "score",
        )
    )


def token_pair_lift(
    docs: DataFrame,
    min_count: int = 5,
    max_tokens_per_doc: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token co-occurrence association (PMI's exact-arithmetic twin):
    for every pair of distinct tokens appearing together in ≥
    ``min_count`` documents, report document frequencies and
    lift = P(a,b)/(P(a)P(b)) = n_ab·D/(n_a·n_b) — the collocation /
    topic-signal statistic. PMI = ln(lift) is monotone in it; lift is
    reported instead so the one float division of exact integers stays
    bit-reproducible (ln is not correctly rounded everywhere).

    Tokens: lowercase whitespace tokens matching [a-z]{3,}, distinct
    per doc, capped to the ``max_tokens_per_doc`` lexicographically
    smallest (the deterministic cap that bounds the per-doc pair
    fan-out at 10^12-doc scale — O(K²) pairs per doc, and the pair
    aggregate shuffles only (pair, count) rows). Marginals n_a/n_b are
    computed over the SAME capped token set, so the contingency table
    is self-consistent. Returns (tok_a, tok_b, n_ab, n_a, n_b, lift).
    """
    from pyspark.sql import Window

    toks = (
        docs.select(
            F.col(id_col).alias("_doc"),
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.col(text_col)), " "),
                        lambda t: t.rlike("^[a-z]{3,}$"),
                    )
                )
            ).alias("tok"),
        )
    )
    w = Window.partitionBy("_doc").orderBy("tok")
    # the capped token set feeds the doc count, both marginals and the
    # pair join — materialize once (vocab-sized) instead of re-running
    # the tokenize/cap pipeline per consumer
    kept = (
        toks.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_tokens_per_doc)
        .select("_doc", "tok")
        .localCheckpoint()
    )
    d_total = kept.agg(
        F.countDistinct("_doc").alias("_d")
    )  # lazy 1-row frame, broadcast below — no driver action
    marg = kept.groupBy("tok").agg(F.count(F.lit(1)).alias("nt"))
    a = kept.select("_doc", F.col("tok").alias("tok_a"))
    b = kept.select("_doc", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "_doc")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    ma = marg.select(F.col("tok").alias("tok_a"), F.col("nt").alias("n_a"))
    mb = marg.select(F.col("tok").alias("tok_b"), F.col("nt").alias("n_b"))
    return (
        pairs.join(ma, "tok_a")
        .join(mb, "tok_b")
        .crossJoin(F.broadcast(d_total))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_ab") * F.col("_d")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


def path_ngrams(
    events: DataFrame,
    n: int = 3,
    min_count: int = 5,
    entity_col: str = "user_id",
    bucket_col: str = "day",
    step_col: str = "event_type",
    sec_col: str = "sec",
    seq_col: str = "seq",
) -> DataFrame:
    """Clickstream path mining: count the n-step event-type sequences
    (path n-grams) across per-(entity, bucket) sessions — 'which
    3-step journeys happen most'. The n-gram at position t is the
    window (step_t, …, step_{t+n−1}) in exact (sec, seq) order, built
    with n−1 lead windows over ONE sort (no arrays, no explode — each
    input row emits at most one n-gram, so the op is row-bounded at
    any scale). Counts are exact; pairs below ``min_count`` are
    dropped (a deterministic threshold — not top-k, so ties cannot
    reorder output). Returns (path, n_occurrences)."""
    from pyspark.sql import Window

    w = Window.partitionBy(entity_col, bucket_col).orderBy(
        sec_col, seq_col
    )
    d = events
    parts = [F.col(step_col)]
    for i in range(1, n):
        d = d.withColumn(f"_s{i}", F.lead(step_col, i).over(w))
        parts.append(F.col(f"_s{i}"))
    d = d.filter(F.col(f"_s{n-1}").isNotNull())
    return (
        d.select(F.concat_ws(">", *parts).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )

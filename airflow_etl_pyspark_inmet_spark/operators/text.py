"""Text-analysis operators for a large-scale training-data pipeline:
token statistics, quality scoring, language ID, fingerprints, corpus
censuses, n-gram language models and BPE.

Each mechanism the text tier shares is built in one place:

- the whitespace tokenizer: :func:`_words`, the package's one
  trim-and-split of raw text;
- the token stream: :func:`_token_stream`, ``(*keep, token)`` rows of
  the non-empty tokens;
- word n-grams: :func:`_word_grams`, behind :func:`exploded_ngrams`
  and :func:`ngram_hash_sets`;
- the gram-hash stream: :func:`_gram_hash_stream`, the xxhash64 of every
  word n-gram;
- bigrams: :func:`_bigrams` (word pairs) and :func:`_hashed_bigrams`
  (hashed keys), with the per-doc integer mean :func:`_per_doc_mean`
  of the bigram LM scores.

Per-row features are map-only Column expressions; censuses, tf-idf,
BM25 and the LM scores aggregate and join; the Misra-Gries sketch runs
in ``mapInPandas``; BPE training and greedy decoding loop on the driver.
Regex patterns are kept to the RE2-compatible subset so the same pattern
is usable in a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .util import lineage_checkpoint, lineage_checkpoint_eager

# Whitespace as the DuckDB oracles see it. RE2's \s (string_split_regex)
# is [\t\n\f\r ] — Java's \s also matches \x0b — and DuckDB's trim
# strips the Unicode Zs set, where Spark's default trim strips U+0020 only.
# Every whitespace rule uses these in place of Java's \s and F.trim(x).
WS_CHARS = "\\t\\n\\f\\r "
WS_RE = f"[{WS_CHARS}]+"
ZS_CHARS = (
    " \u00a0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u202f\u205f\u3000"
)

# Token pattern, BPE-ish: word pieces, digit runs, or single non-space symbols.
BPE_TOKEN_RE = f"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9{WS_CHARS}]"

# tiny marker-word inventories for the language-ID heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "es": ["el", "la", "de", "que"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
}


def _words(text: Column) -> Column:
    """The one whitespace tokenizer, the oracles'
    ``string_split_regex(trim(text), '\\s+')``: ``text`` stripped of
    :data:`ZS_CHARS` at both ends and split on :data:`WS_RE` runs. A
    leading or trailing tab, newline, form feed or carriage return
    yields an empty first or last token, and NULL text a NULL array."""
    return F.split(F.trim(text, F.lit(ZS_CHARS)), WS_RE)


def _token_stream(df: DataFrame, text_col: str, *keep: Column | str) -> DataFrame:
    """``(*keep, token)`` rows, one per non-empty :func:`_words` token
    of ``text_col``: the token stream every census and scorer reads."""
    return df.select(
        *keep, F.explode(_words(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish token count + char count."""
    t = F.col(text_col)
    return df.select(
        *df.columns,
        F.size(_words(t)).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), 0))
        .cast("bigint")
        .alias("bpe_tokens"),
        F.length(t).cast("bigint").alias("chars"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, alpha ratio, punctuation ratio,
    stopword ratio, mean word length — the standard cheap pre-filters of a
    training-data pipeline. Ratios are deterministic IEEE divisions of
    exact integer counts, so they oracle-compare exactly."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("double")
    n_alpha = (n_chars - F.length(F.regexp_replace(t, "[a-zA-Z]", ""))).cast("double")
    n_punct = (n_chars - F.length(F.regexp_replace(t, "[.,;:!?]", ""))).cast("double")
    words = _words(t)
    n_words = F.size(words).cast("double")
    stop = F.lit(["the", "a", "and", "of", "to", "in", "is"])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop, F.lower(w)))).cast(
        "double"
    )
    return df.select(
        *df.columns,
        n_chars.cast("bigint").alias("n_chars_calc"),
        (n_alpha / n_chars).alias("alpha_ratio"),
        (n_punct / n_chars).alias("punct_ratio"),
        (n_stop / n_words).alias("stopword_ratio"),
        ((n_chars - n_words + 1) / n_words).alias("mean_word_len"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language-ID heuristic: count marker hits per language,
    argmax with fixed precedence order (en > es > de > fr > unknown).

    A real pipeline swaps in fastText/CLD3 behind the same column contract;
    the plumbing (pure column expr, no shuffle) is the point here.
    """
    words = F.split(F.lower(F.col(text_col)), WS_RE)
    scores = {
        lang: F.size(F.filter(words, lambda w: F.array_contains(F.lit(ms), w)))
        for lang, ms in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, F.lit("unknown"))
    for lang in ["en", "es", "de", "fr"]:  # fixed precedence for ties
        pred = pred.when(scores[lang] == best, F.lit(lang))
    out = df.select(
        *df.columns,
        *[scores[lang].cast("bigint").alias(f"score_{lang}") for lang in scores],
        pred.alias("lang_pred"),
    )
    return out


def _gram_at(words: Column, i: Column, n: int) -> Column:
    parts: list[Column] = []
    for j in range(n):
        if j:
            parts.append(F.lit(" "))
        parts.append(words[(i + j).cast("int")])
    return F.concat(*parts)


def _word_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    per_gram=lambda g: g,
    elem: str = "string",
) -> tuple[DataFrame, Column]:
    """The one word-n-gram builder: ``(frame, grams)`` where ``frame``
    is ``(_id, _ws)`` (``_ws`` = :func:`_words` of the text, materialized
    once per row, parallelism ensured for small-file scans) and
    ``grams`` is the guarded array of the doc's n-grams in position
    order, each passed through ``per_gram`` (``elem`` names its element
    type). Docs shorter than ``n`` tokens (NULL text included: ``size(split(NULL))``
    is -1) get an empty array. Callers put ``grams`` straight into their
    own generator or aggregate over ``frame``."""
    from .util import ensure_parallelism

    d = ensure_parallelism(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
    d = d.select("_id", _words(F.col(text_col)).alias("_ws"))
    ws = F.col("_ws")
    idx = F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(-1)))
    grams = F.when(
        F.size(ws) >= n, F.transform(idx, lambda i: per_gram(_gram_at(ws, i, n)))
    ).otherwise(F.array().cast(f"array<{elem}>"))
    return d, grams


def exploded_ngrams(
    df, id_col: str, text_col: str, n: int
):
    """(id, g) rows of word n-grams — the shared fast path for dedup and
    fingerprinting (built by :func:`_word_grams`)."""
    d, grams = _word_grams(df, id_col, text_col, n)
    return d.select("_id", F.explode(grams).alias("g"))


def _gram_hash_stream(
    df: DataFrame, id_col: str, text_col: str, n: int, out: str, *keep: Column
) -> DataFrame:
    """``(_id, out, *keep)`` rows: ``out`` is the xxhash64 of every word
    n-gram ``g``, duplicates kept, so grams shuffle as 8-byte keys, never
    strings; ``keep`` are further Columns over ``g``. The MinHash input,
    the shingle verify stream and the hashed LM keys."""
    return exploded_ngrams(df, id_col, text_col, n).select(
        "_id", F.xxhash64("g").alias(out), *keep
    )


def _bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(_id, g, w1, w2)`` rows: every word bigram ``g`` of a doc, in
    order, with its first and second word."""
    w = F.split(F.col("g"), " ")
    return exploded_ngrams(df, id_col, text_col, 2).select(
        "_id", "g", w[0].alias("w1"), w[1].alias("w2")
    )


def _hashed_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """:func:`_bigrams` on hashed keys, ``(_id, gh, w1h, w2h)``, behind a
    lineage checkpoint: the one bigram stream the LM scorers count and
    join back to."""
    w = F.split(F.col("g"), " ")
    return _gram_hash_stream(
        df,
        id_col,
        text_col,
        2,
        "gh",
        F.xxhash64(w[0]).alias("w1h"),
        F.xxhash64(w[1]).alias("w2h"),
    ).transform(lineage_checkpoint)


def _per_doc_mean(
    scored: DataFrame, id_col: str, value: str, total: str, mean: str
) -> DataFrame:
    """Per doc of ``scored`` (``_id``, ``value``): ``n_bigrams``, the
    integer sum ``total`` of ``value`` and their integer quotient
    ``mean`` — the tail of every bigram LM scorer."""
    return (
        scored.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(value).alias(total),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_bigrams",
            total,
            F.expr(f"{total} div n_bigrams").alias(mean),
        )
    )


def ngram_hash_sets(df, id_col: str, text_col: str, n: int):
    """(_id, _sh) rows with ``_sh`` = the doc's DISTINCT word-n-gram
    xxhash64 set as an array column, one row per distinct id. For
    unique ids the whole set construction is per-row (split, gram
    assembly, hash, ``array_distinct``) — MAP-ONLY, no shuffle: the
    explode + corpus-wide ``distinct`` it replaces paid a full Exchange
    of every (id, gram-hash) row just to dedup WITHIN each doc. Dedup is
    on the 64-bit hash: two grams colliding at ~2^-64 collapse to one
    set element (the shingle_sets contract).

    A repeated id gets the UNION of its rows' sets — the oracle's
    ``SELECT DISTINCT doc_id, g`` semantics. One bounded job (any id
    with two rows?) picks the plan: the map-only one when ids are
    unique, else the per-row sets merged by a groupBy on ``_id``."""
    d, hashes = _word_grams(df, id_col, text_col, n, F.xxhash64, "bigint")
    sets = d.select("_id", F.array_distinct(hashes).alias("_sh"))
    if df.groupBy(id_col).count().filter(F.col("count") > 1).isEmpty():
        return sets
    return sets.groupBy("_id").agg(
        F.array_distinct(F.flatten(F.collect_list("_sh"))).alias("_sh")
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                ngram: int = 3) -> DataFrame:
    """Content fingerprint: lexicographic min/max of md5(word-ngram) plus
    ngram count — a winnowing-style rolling-hash signature. md5 is
    identical across engines, so this is oracle-checkable; at scale the
    min/max reduce is a cheap partial aggregate."""
    e = exploded_ngrams(df, id_col, text_col, ngram)
    return e.groupBy("_id").agg(
        F.min(F.md5(F.col("g"))).alias("fp_min"),
        F.max(F.md5(F.col("g"))).alias("fp_max"),
        F.count(F.lit(1)).alias("n_grams"),
    ).withColumnRenamed("_id", id_col)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window preprocessing step of an LLM training/RAG pipeline.
    Pure JVM array ops (split -> sequence of starts -> posexplode ->
    slice -> array_join): per-row fan-out with no UDF and no shuffle;
    chunking 100 TB is a map-only stage."""
    ws = _words(F.col(text_col))
    n = F.size(ws)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    out = df.select(
        F.col(id_col),
        ws.alias("_ws"),
        n.alias("_n"),
        F.posexplode(starts).alias("chunk_idx", "_start"),
    )
    return out.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_start"))
        .cast("int")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("_ws"), F.col("_start") + 1, F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF
    (idf = ln((1+N)/(1+df)) + 1, sklearn-style).

    Plan shape for 100 TB: one explode + two hash aggregates (term
    frequency per (doc, term), then document frequency per term — both
    with map-side partial aggregation), the corpus size N joined in as a
    broadcast scalar, and a WindowGroupLimit top-k per doc. No UDFs; the
    shuffles carry (doc_id, term, count) triples, never document bodies.

    The score is emitted rounded to 6 decimals and the ranking uses the
    rounded value: ln() differs in the last ulp across engines (measured
    Spark vs DuckDB), so rounding is what makes the result — and the
    rank ordering — engine-portable. Ties break on the term string.
    """
    from pyspark.sql import Window

    tokens = exploded_ngrams(df, id_col, text_col, 1)
    # r17 (optimization): tf feeds BOTH the document-frequency branch
    # and the scoring join, and without a checkpoint each consumer
    # re-ran the corpus scan + token explode + (doc, term) aggregate
    # (plan showed two full chains). The frame is (doc, term, count) —
    # data-linear — so one materialization replaces a full corpus
    # re-pass at any scale.
    tf = (
        tokens.groupBy("_id", "g")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(lineage_checkpoint_eager)
    )
    dfreq = tf.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "g")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((1 + F.col("n_docs")) / (1 + F.col("df")))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.desc("tfidf"), F.asc("g"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            F.col("g").alias("term"),
            "tf",
            "df",
            "tfidf",
            "rank",
        )
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
    threshold: float = 0.05,
) -> DataFrame:
    """Benchmark decontamination: for every training document, the number
    of distinct word n-grams it shares with ANY document of the eval set,
    and the contaminated flag at `threshold` overlap ratio.

    Scale shape: the eval set is small (benchmarks are KBs, corpora are
    TBs), so its distinct n-grams BROADCAST to every executor and the
    check is a map-side broadcast left-semi probe per train gram — the
    100 TB corpus is scanned once, shuffled only by doc_id for the final
    per-doc count. Ratios are IEEE divisions of exact integer counts, so
    the result oracle-compares exactly.
    """
    # 64-bit-hash the grams before any shuffle: the distinct and the
    # probe then move (id, int64) rows, never 8-gram strings. Collisions
    # at 64 bits are negligible at any corpus size that fits a cluster
    # (~2e-8 at 1e9 distinct grams), same trade the MinHash path makes.
    train_grams = _gram_hash_stream(train, id_col, text_col, ngram, "gh").distinct()
    eval_grams = (
        _gram_hash_stream(eval_df, id_col, text_col, ngram, "gh")
        .select("gh")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # single pass: mark hits with a broadcast left join, then one
    # per-doc aggregate computes total and shared gram counts together
    out = (
        train_grams.join(F.broadcast(eval_grams), "gh", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_shared"),
        )
        .withColumn(
            "contamination",
            F.col("n_shared") / F.col("n_grams").cast("double"),
        )
    )
    return out.select(
        F.col("_id").alias(id_col),
        "n_shared",
        "n_grams",
        "contamination",
        (F.col("contamination") >= threshold).alias("is_contaminated"),
    )


def _max_run(arr: Column) -> Column:
    """Longest run of equal adjacent elements after sorting — i.e. the
    count of the most frequent element — as a single JVM-side fold:
    O(n log n) per row, no explode, no shuffle. 0 for an empty array."""
    sorted_arr = F.array_sort(arr)

    def step(acc: Column, x: Column) -> Column:
        run = (
            F.when(acc.prev.isNotNull() & (acc.prev == x), acc.run + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.best, run).alias("best"),
        )

    return F.aggregate(
        sorted_arr,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        step,
        lambda acc: acc.best,
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals: distinct-word
    ratio, most-common-word fraction, most-common-bigram fraction. High
    values of the latter two mark boilerplate/spam for quality filtering.

    Every signal is per-document, so the whole operator is MAP-ONLY:
    sort-the-array max-run-length folds replace explode+groupBy pyramids
    — zero shuffles at any corpus size (measured 4.2 s -> sub-second at
    sf0.1 vs the two-pyramid formulation). Ratios are IEEE divisions of
    exact integer counts — exact across engines.
    """
    from .util import ensure_parallelism

    ws = _words(F.col(text_col))
    d = ensure_parallelism(
        df.select(F.col(id_col), ws.alias("_ws"))
    ).select(
        id_col,
        F.size("_ws").cast("bigint").alias("n_words"),
        F.size(F.array_distinct("_ws")).cast("bigint").alias("n_distinct"),
        _max_run(F.col("_ws")).alias("top_word_n"),
        _max_run(
            F.when(
                F.size("_ws") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("_ws") - 2),
                    lambda i: F.concat(
                        F.col("_ws")[i.cast("int")],
                        F.lit(" "),
                        F.col("_ws")[(i + 1).cast("int")],
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("top_bigram_n"),
    )
    return d.select(
        id_col,
        "n_words",
        (F.col("n_distinct") / F.col("n_words").cast("double")).alias(
            "distinct_ratio"
        ),
        (F.col("top_word_n") / F.col("n_words").cast("double")).alias(
            "top_word_frac"
        ),
        F.when(
            F.col("n_words") >= 2,
            F.col("top_bigram_n")
            / F.greatest(F.col("n_words") - 1, F.lit(1)).cast("double"),
        ).alias("top_bigram_frac"),
    )


def normalize_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Canonical text normalization ahead of dedup/fingerprinting: lower,
    strip non-alphanumerics, collapse whitespace. Doing this BEFORE
    shingling makes near-dup detection robust to case/punctuation noise;
    all JVM regexp ops, map-only."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), f"[^a-z0-9{WS_CHARS}]", ""),
            WS_RE,
            " ",
        ),
        F.lit(ZS_CHARS),
    )
    return df.select(F.col(id_col), cleaned.alias("norm_text"))


def oov_stats(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-coverage stats: per document, how many whitespace tokens
    fall outside ``vocab`` (a (token) frame, e.g. ``vocab_top_terms``
    output) — the "will the tokenizer fragment this corpus" census before
    committing to a vocab.

    Scale shape: the vocabulary is bounded (thousands-to-100k rows) so it
    BROADCASTS; the corpus explodes to (doc_id, token) pairs probed
    map-side, and the only shuffle is the per-doc count aggregate carrying
    (id, int) rows. Documents whose text has no tokens after trim/split
    fall out of the explode — guaranteed non-empty here by the corpus
    contract (filter upstream if not). The vocab is a SET: duplicates are
    dropped before the probe join, so a vocab frame with repeated tokens
    can't multiply matched rows and inflate n_tokens/n_covered.
    """
    toks = _token_stream(df, text_col, F.col(id_col).alias("_id"))
    v = vocab.select("token").distinct().withColumn("_in", F.lit(1))
    out = (
        toks.join(F.broadcast(v), "token", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count("_in").alias("n_covered"),
        )
    )
    return out.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.col("n_covered")).alias("n_oov"),
        (
            (F.col("n_tokens") - F.col("n_covered"))
            / F.col("n_tokens").cast("double")
        ).alias("oov_rate"),
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM document scoring (the cheap "perplexity" quality signal
    of a pretraining pipeline): mean negative log-probability of a doc's
    tokens under the corpus's own unigram distribution. Low = templated/
    repetitive, high = rare-token soup; both tails get filtered.

    Plan: tf per (doc, token) — map-side combined — joined to the
    vocab-bounded token frequency table, per-doc weighted sum. Exactness
    contract: each token's -ln p is quantized to integer micro-nats
    (BIGINT) BEFORE the per-doc sum, so WITHIN one engine the result is
    order-free (integer addition) and stable at any parallelism — the same
    trade as t8's rounded tf-idf. Across engines the match is very likely
    but not guaranteed by construction: ln() is computed in doubles first,
    and a value within an ulp of a .5 rounding boundary could quantize
    differently in Spark vs DuckDB. Guaranteeing bit-exactness would need
    a shared fixed-point ln derived from integer (cnt, n_total); not done
    because no boundary case has been observed on this corpus.
    """
    toks = _token_stream(df, text_col, F.col(id_col).alias("_id"))
    # tf feeds both the frequency table and the scoring join; the
    # checkpoint keeps the corpus token explode+aggregate to one pass.
    # freq (vocab-bounded) likewise feeds the join and the total.
    tf = (
        toks.groupBy("_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(lineage_checkpoint)
    )
    freq = (
        tf.groupBy("token")
        .agg(F.sum("tf").alias("cnt"))
        .transform(lineage_checkpoint)
    )
    total = freq.agg(F.sum("cnt").alias("n_total"))
    scored = (
        tf.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_neglogp_u",
            F.round(
                -F.log(F.col("cnt") / F.col("n_total").cast("double")) * 1e6
            ).cast("bigint"),
        )
    )
    out = scored.groupBy("_id").agg(
        F.sum(F.col("tf")).alias("n_tokens"),
        F.sum(F.col("tf") * F.col("_neglogp_u")).alias("_sum_u"),
    )
    return out.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        (F.col("_sum_u") / (F.col("n_tokens") * F.lit(1e6))).alias(
            "mean_neglogp"
        ),
    )


def classifier_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Linear text-classifier scoring — the fastText-style quality filter
    of a pretraining pipeline (score every doc with a bag-of-words linear
    model, threshold into keep/drop). ``weights`` is a (token, weight)
    frame with INTEGER weights; duplicate tokens SUM (linear-model
    semantics: w = sum of contributions), unmatched tokens score 0.

    100 TB shape: the weight table is vocabulary-bounded so it
    BROADCASTS; tokens are probed map-side and the only shuffle is the
    per-doc (id, int) aggregate. Integer weights keep every output exact:
    ``logit_e6 = score_num * 1e6 div n_tokens`` — both Spark ``div`` and
    DuckDB ``//`` truncate toward zero (verified, incl. negatives), so
    the oracle matches bit-for-bit.
    """
    toks = _token_stream(df, text_col, F.col(id_col).alias("_id"))
    w = weights.groupBy("token").agg(
        F.sum("weight").cast("bigint").alias("_w")
    )
    out = (
        toks.join(F.broadcast(w), "token", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("_w"), F.lit(0))).alias("score_num"),
        )
    )
    return out.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        F.col("score_num").cast("bigint").alias("score_num"),
        F.expr("score_num * 1000000 div n_tokens").alias("logit_e6"),
        (F.expr("score_num * 1000000 div n_tokens") >= 0).alias(
            "is_quality"
        ),
    )


def vocab_top_terms(
    df: DataFrame,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide vocabulary: global token frequencies with a total-order
    top-k cut — the "what does the tokenizer need to cover" census step of
    a pretraining pipeline.

    Plan shape: explode whitespace tokens -> two-level hash aggregate
    (partial count per partition, then final — the map-side combine keeps
    the shuffle at |vocab| rows, not |corpus tokens|) -> orderBy().limit(k),
    which Spark executes as a true global TakeOrderedAndProject (per-
    partition heap of k, merged on the driver — never a full vocab sort on
    one task). Rank is then a window over only the k surviving rows.
    Deterministic tie-break (freq DESC, token ASC). At 100 TB the shuffle
    carries one row per distinct token per partition — bounded by
    vocabulary, not corpus.
    """
    from pyspark.sql import Window

    toks = _token_stream(df, text_col)
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    top = counts.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "token", "freq", "rank"
    )


def bigram_condprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram-LM document scoring, the second-order companion of
    :func:`unigram_logprob`: for every bigram occurrence in a doc, the
    corpus MLE conditional probability P(w2 | w1) = cnt(w1 w2) /
    cnt(w1 ·) (prefix count, so probabilities per w1 sum to 1), and per
    doc the bigram count, probability sum, and mean. High mean =
    strongly templated/repetitive continuations; low = incoherent token
    soup — a standard cheap fluency signal between unigram stats and a
    real LM.

    Exactness contract (stronger than t17): probabilities are EXACT
    integer micro-units end to end — p_micro = cnt2 * 10^6 div cnt1, a
    single integer division of exact counts, then integer sums — no
    float ever enters, so the cross-engine match is guaranteed by
    construction, not probabilistic. (Magnitude: cnt2 * 10^6 needs
    cnt2 < 9.2e12 — any real vocabulary is orders of magnitude below a
    single bigram repeating nine trillion times.)

    Plan shape: one bigram explode feeds (via localCheckpoint) the
    bigram-count aggregate, the prefix-count aggregate, and the scoring
    join; counts join back on 8-byte hashed keys (the t9/d3 trade —
    grams never shuffle as strings). Docs with fewer than two tokens
    have no bigrams and emit no row (documented contract).
    """
    big = _hashed_bigrams(df, id_col, text_col)
    cnt2 = big.groupBy("gh").agg(F.count(F.lit(1)).alias("c2"))
    cnt1 = big.groupBy("w1h").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        big.join(cnt2, "gh")
        .join(cnt1, "w1h")
        .select("_id", F.expr("c2 * 1000000L div c1").alias("p_micro"))
    )
    return _per_doc_mean(scored, id_col, "p_micro", "p_sum_micro", "p_avg_micro")


def token_lift(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Collocation detection: the corpus's top-k adjacent token pairs by
    LIFT — observed bigram rate over the rate expected if first and
    second positions were independent: c12 * N / (c1 * c2), where c1/c2
    are positional (first/second-slot) marginals and N the total bigram
    count. High lift = fixed phrases and boilerplate collocations; the
    standard cheap phrase-mining signal.

    Exactness: lift is emitted in EXACT integer milli-units — one
    expression, c12 * N * 1000 div (c1 * c2), over exact counts, so the
    cross-engine match is guaranteed. (Magnitude: needs c12 * N * 1000
    < 2^63, i.e. corpora under ~3e9 bigrams per the worst case c12 = N;
    bigger corpora pre-filter by support first, which production does
    anyway.) ``min_count`` keeps 1-occurrence noise pairs out of the
    ranking; the top-k is a TakeOrderedAndProject with full tiebreak.

    Plan: one bigram explode, three hash aggregates over
    vocabulary-bounded keys, two broadcast marginal joins, global top-k.
    """
    b = _bigrams(df, id_col, text_col).select("w1", "w2").transform(
        lineage_checkpoint
    )
    c12 = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = b.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = b.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    n_total = b.count()
    scored = (
        c12.filter(F.col("c12") >= min_count)
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .select(
            "w1",
            "w2",
            "c12",
            F.expr(f"c12 * {n_total}L * 1000L div (c1 * c2)").alias(
                "lift_milli"
            ),
        )
    )
    return scored.orderBy(
        F.col("lift_milli").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def _apply_bpe_merge(syms: Column, a: str, b: str) -> Column:
    """Apply ONE BPE merge (a, b) -> a+b to a symbol array, greedy
    left-to-right, as a pure JVM fold (map-only, no shuffle, no UDF).

    The fold (compare the last emitted symbol with the incoming one) is
    EXACTLY the canonical left-to-right scan: a merged symbol is a+b,
    which is strictly longer than a, so it can never re-trigger as the
    left side within the same pass — including the a == b run case
    ("aaa" -> ["aa", "a"]), where the merged "aa" != "a" blocks the
    chained re-merge just like the scan's index skip does."""
    merged = F.lit(a + b)

    def step(acc: Column, x: Column) -> Column:
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def bpe_train(df: DataFrame, n_merges: int = 8, text_col: str = "text"):
    """BPE tokenizer TRAINING — the step that builds the vocabulary the
    rest of the text family consumes (t16 OOV, t17/t20 LM scoring, t13
    packing all presuppose a tokenizer): ``n_merges`` rounds of

      count adjacent symbol pairs over the word-frequency dict (weighted
      by corpus occurrences) -> pick the argmax pair, tie-broken
      (count DESC, left ASC, right ASC) -> merge it everywhere.

    Returns the learned merge table — one row per round: (rank,
    merge_left, merge_right, pair_count) — which IS the trained
    tokenizer. Exact integer counts and a total-order tie-break make
    the table deterministic and engine-replayable.

    100 TB shape: one corpus-wide hash-agg builds the word-frequency
    dict (vocabulary-bounded, like vocab_top_terms); every round after
    that touches ONLY the dict — pair counting is a hash-agg over
    symbol positions of distinct words, the argmax is a 1-row bounded
    driver collect (the Lloyd-step precedent of similarity.ivf_topk),
    and the merge application is a map-only fold. Per-round lineage is
    truncated with a lazy localCheckpoint so round k does not replay
    rounds 1..k-1."""
    words = (
        _token_stream(df, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "token", "cnt", F.split("token", "").alias("syms")
    ).transform(lineage_checkpoint)

    spark = df.sparkSession
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("syms") - 2),
                        lambda i: F.struct(
                            F.col("syms")[i.cast("int")].alias("l"),
                            F.col("syms")[(i + 1).cast("int")].alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").cast("bigint").alias("c"))
        )
        best = pairs.orderBy(F.col("c").desc(), "l", "r").limit(1).collect()
        if not best:
            break
        a, b, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((rank, a, b, c))
        cur = cur.select(
            "token", "cnt", _apply_bpe_merge(F.col("syms"), a, b).alias("syms")
        ).transform(lineage_checkpoint)
    return spark.createDataFrame(
        merges,
        schema="rank int, merge_left string, merge_right string, "
        "pair_count bigint",
    )


def interp_bigram_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam_tenths: int = 7,
) -> DataFrame:
    """Jelinek-Mercer interpolated bigram LM scoring — the smoothing
    step between :func:`bigram_condprob` (pure MLE, zero for unseen
    continuations) and a real LM: per bigram occurrence

        p_interp = lam * P(w2 | w1) + (1 - lam) * P(w2)

    with the unigram backoff computed over the FULL token stream (not
    just bigram positions). Exactness contract is t20's, extended:
    both component probabilities are exact integer micro-units from
    one integer division each, and the interpolation is
    ``(lam_tenths * p_bi + (10 - lam_tenths) * p_uni) div 10`` — no
    float anywhere, so the cross-engine match is guaranteed by
    construction.

    Plan shape: the bigram stream (hashed keys, localCheckpoint) feeds
    the pair/prefix counts and the scoring join as in t20; the unigram
    stream adds one hash agg and a broadcast 1-row total. Docs with
    fewer than two tokens emit no row.
    """
    big = _hashed_bigrams(df, id_col, text_col)
    uni = (
        _gram_hash_stream(df, id_col, text_col, 1, "uh")
        .select("uh")
        .transform(lineage_checkpoint)
    )
    cnt2 = big.groupBy("gh").agg(F.count(F.lit(1)).alias("c2"))
    cnt1 = big.groupBy("w1h").agg(F.count(F.lit(1)).alias("c1"))
    cntu = uni.groupBy("uh").agg(F.count(F.lit(1)).alias("cu"))
    total = uni.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        big.join(cnt2, "gh")
        .join(cnt1, "w1h")
        .join(cntu, big.w2h == cntu.uh)
        .crossJoin(F.broadcast(total))
        .select(
            "_id",
            F.expr(
                f"({lam_tenths} * (c2 * 1000000L div c1)"
                f" + {10 - lam_tenths} * (cu * 1000000L div _n)) div 10"
            ).alias("pi_micro"),
        )
    )
    return _per_doc_mean(scored, id_col, "pi_micro", "p_sum_micro", "p_avg_micro")


def kneser_ney_bigram_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995, the
    smoothing used by KenLM-style quality filters) — the third LM tier
    after :func:`bigram_condprob` (MLE) and :func:`interp_bigram_score`
    (Jelinek-Mercer): per bigram occurrence

        p_kn = (c(w1 w2) - D) / c(w1 .)
             + D * N1+(w1 .) / c(w1 .) * N1+(. w2) / N1+(. .)

    with absolute discount D = 3/4 carried in QUARTERS so every term
    is integer: with continuation probability
    ``pcont = N1+(. w2) * 1e6 div N1+(. .)`` the score is

        p_kn_micro = (4*c2 - 3) * 1e6 div (4*c1)
                   + (3 * N1fwd * pcont) div (4*c1)

    (c2 >= 1 wherever a bigram occurs, so the discounted mass is
    positive and no max() is needed). One integer division per term in
    a fixed order — the t20/t25 guaranteed-by-construction cross-engine
    contract, no float anywhere.

    Plan shape: the hashed bigram stream (localCheckpoint) feeds the
    token counts AND one distinct-types frame that is reused for all
    three continuation statistics (N1+ forward, N1+ backward, total
    types) — two shuffles over O(distinct bigrams) keys plus the t20
    scoring joins; the type total is a broadcast 1-row aggregate. Docs
    with fewer than two tokens emit no row."""
    big = _hashed_bigrams(df, id_col, text_col)
    cnt2 = big.groupBy("gh").agg(F.count(F.lit(1)).alias("c2"))
    cnt1 = big.groupBy("w1h").agg(F.count(F.lit(1)).alias("c1"))
    types = (
        big.select("gh", "w1h", "w2h").distinct().transform(lineage_checkpoint)
    )
    n1fwd = types.groupBy("w1h").agg(F.count(F.lit(1)).alias("n1f"))
    ncont = types.groupBy("w2h").agg(F.count(F.lit(1)).alias("nc"))
    ntypes = types.agg(F.count(F.lit(1)).alias("_nt"))
    scored = (
        big.join(cnt2, "gh")
        .join(cnt1, "w1h")
        .join(n1fwd, "w1h")
        .join(ncont, big.w2h == ncont.w2h)
        .crossJoin(F.broadcast(ntypes))
        .select(
            "_id",
            # decimal(38,0) widening (r10 advice, the q111/x9/x6
            # contract): bigint (4*c2-3)*1e6 wraps silently past
            # ~2.3e12 occurrences of one bigram under non-ANSI Spark —
            # at the stated 100 TB scale a stopword bigram gets there.
            F.expr(
                "cast(((cast(c2 as decimal(38,0)) * 4 - 3) * 1000000)"
                " div (cast(c1 as decimal(38,0)) * 4) as bigint)"
                " + cast((cast(n1f as decimal(38,0)) * 3 *"
                " ((cast(nc as decimal(38,0)) * 1000000)"
                " div cast(_nt as decimal(38,0))))"
                " div (cast(c1 as decimal(38,0)) * 4) as bigint)"
            ).alias("pk_micro"),
        )
    )
    return _per_doc_mean(
        scored, id_col, "pk_micro", "pkn_sum_micro", "pkn_avg_micro"
    )


def misra_gries_topk(
    df: DataFrame,
    k_counters: int = 256,
    top: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Heavy hitters via a MERGEABLE bounded-state Misra-Gries sketch —
    the streaming/batched alternative to t15's exact vocabulary census
    when the vocabulary itself no longer fits a hash aggregate (URL
    tokens, n-grams, user ids at 100 TB).

    Tier contract (the s2/s3 pattern): the CANDIDATE set comes from the
    sketch — an Arrow-batched kernel holding exactly ``k_counters``
    counters per batch, O(k) state regardless of batch length — and the
    emitted surface is EXACT: candidates are re-counted with one
    hash-agg semi-join and the top-``top`` by true frequency is
    returned. Correctness of the cut is certified per row, in-engine
    and in the oracle alike, by ``mg_ok`` = (freq * k_counters >
    total_tokens): Misra-Gries guarantees any token with global
    frequency > N/k survives in at least one batch (pigeonhole over
    batches: if every batch-local share is <= n_batch/k the global sum
    is <= N/k), so rows flagged TRUE are provably identical to the
    exact top-k's rows. No full-vocab shuffle anywhere: the shuffle
    carries only sketch survivors (<= k per batch) and their exact
    counts.

    Only mg_ok rows are emitted. A token with global frequency <= N/k
    has NO survival guarantee, so a true top-``top`` row below that
    line could be absent from the candidate set on an adversarial
    distribution — a data-dependent hole no flag can signal because
    the row is missing, not marked false. Filtered, the emitted set is
    PROVABLY the exact top-``top`` of all tokens with freq > N/k (the
    guarantee above gives candidates ⊇ that set; the predicate is
    evaluated on exact re-counts). ``mg_ok`` stays in the output, TRUE
    on every row, as the oracle's per-row certificate."""
    from collections.abc import Iterator as _It

    import pandas as pd

    toks = _token_stream(df, text_col)

    k = int(k_counters)

    def sketch(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            counters: dict[str, int] = {}
            for t in pdf["token"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < k:
                    counters[t] = 1
                else:
                    dead = [c for c, n in counters.items() if n == 1]
                    for c in counters:
                        counters[c] -= 1
                    for c in dead:
                        del counters[c]
            if counters:
                yield pd.DataFrame({"token": list(counters.keys())})

    candidates = toks.mapInPandas(sketch, "token string").distinct()
    exact = (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    n_total = toks.agg(F.count(F.lit(1)).alias("_n"))
    flagged = exact.crossJoin(F.broadcast(n_total)).select(
        "token",
        "freq",
        (F.col("freq") * F.lit(k) > F.col("_n")).alias("mg_ok"),
    )
    return flagged.filter(F.col("mg_ok")).orderBy(
        F.col("freq").desc(), F.col("token").asc()
    ).limit(top)


def bpe_encode_census(
    df: DataFrame,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer APPLICATION census — the consume side of
    :func:`bpe_train`: train the merge table, apply it to the corpus,
    and report per document the character count, the post-merge BPE
    token count, and the compression ratio in exact integer ppm — the
    "how many training tokens is this corpus" measurement every
    pretraining budget starts from (x9 apportions what this measures).

    100 TB shape: the merges (a fixed-size table, <= n_merges rows —
    the bounded Lloyd-step collect) are folded over the DISTINCT word
    dictionary only, a vocabulary-bounded map-only JVM fold; documents
    then join their word stream back to the encoded lengths — one
    vocab-keyed equi-join plus one per-doc hash-agg, so the corpus is
    never re-scanned per merge round. Exact integers end to end (the
    t22 replay contract)."""
    merges = [
        (r["merge_left"], r["merge_right"])
        for r in bpe_train(df, n_merges, text_col)
        .orderBy("rank")
        .collect()
    ]
    words = _token_stream(df, text_col).distinct()
    syms = F.split("token", "")
    for a, b in merges:
        syms = _apply_bpe_merge(syms, a, b)
    wlen = words.select(
        "token",
        F.length("token").cast("bigint").alias("_n_chars"),
        F.size(syms).cast("bigint").alias("_n_syms"),
    )
    toks = _token_stream(df, text_col, F.col(id_col).alias("doc_id"))
    return (
        toks.join(F.broadcast(wlen), "token")
        .groupBy("doc_id")
        .agg(
            F.sum("_n_chars").alias("n_chars"),
            F.sum("_n_syms").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_bpe_tokens",
            F.expr("n_bpe_tokens * 1000000 div n_chars").alias(
                "compression_ppm"
            ),
        )
    )


def _cms_cell(tok_col: Column, j: int, width: int) -> Column:
    """Engine-portable CMS hash: int(md5(j ':' token)[:8 hex], 16) mod
    width — bit-identical in Spark (md5+conv), DuckDB (md5+hex cast)
    and Python (hashlib)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{j}:"), tok_col).cast("binary")),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % width
    )


def count_min_cells(
    df: DataFrame,
    width: int = 512,
    depth: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """The un-aggregated CMS update stream: one (j, c) row per (token
    occurrence, hash row) — ``depth`` rows per token. GROUP BY (j, c)
    COUNT(*) of this frame IS the sketch; because the cells are plain
    additive counts, any partition of this stream (shards,
    micro-batches) folds to the identical sketch — the mergeability
    that makes CMS streamable (st12) and shardable."""
    toks = _token_stream(df, text_col)
    return toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_cell(F.col("token"), j, width).alias("c"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("jc")
    ).select("jc.j", "jc.c")


def count_min_census(
    df: DataFrame,
    k_top: int = 20,
    width: int = 512,
    depth: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Count-Min sketch token census with an ENGINE-PORTABLE hash
    family — the fixed-state companion to misra_gries_topk: where MG
    keeps k candidate counters, CMS keeps a depth x width counter
    MATRIX (here 4 x 512 = 2 KB of state) that answers point
    frequency queries for EVERY token with one-sided error
    (est >= true; est <= true + collisions).

    Hash family: h_j(token) = int(md5(j || ':' || token)[:8 hex], 16)
    mod width — md5 is bit-identical in Spark (md5 + conv), DuckDB
    (md5 + hex cast) and Python (hashlib), so unlike xxhash64 sketches
    the ESTIMATES themselves are replayable cross-engine: the oracle
    rebuilds the same sketch and hash-matches est values exactly, not
    just an envelope boolean.

    Plan shape at 100 TB: the build explodes each token occurrence
    into ``depth`` (row, cell) pairs and hash-aggregates — map-side
    combine collapses each partition to <= depth*width partial cells,
    so the shuffle carries O(partitions * depth * width) fixed-width
    rows regardless of corpus size, and the final sketch is ~2k rows
    (mergeable: sketches of shards ADD). No full-vocabulary shuffle in
    the sketch path. The emitted surface joins the exact top-``k_top``
    (the exact census is the oracle companion, one hash-agg) against
    the broadcast sketch cells to surface est vs truth; ``cms_ok``
    certifies the one-sided bound per row.
    """
    toks = _token_stream(df, text_col)

    cells = count_min_cells(df, width, depth, text_col)
    sketch = cells.groupBy("j", "c").agg(F.count(F.lit(1)).alias("cnt"))

    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(k_top)
    )
    est = None
    q = exact
    for j in range(depth):
        s_j = sketch.filter(F.col("j") == j).select(
            F.col("c").alias(f"_c{j}"), F.col("cnt").alias(f"_e{j}")
        )
        q = q.join(
            F.broadcast(s_j), _cms_cell(F.col("token"), j, width) == F.col(f"_c{j}")
        )
        e_j = F.col(f"_e{j}")
        est = e_j if est is None else F.least(est, e_j)
    return q.select(
        "token",
        "freq",
        est.cast("bigint").alias("cms_est"),
        (est - F.col("freq")).cast("bigint").alias("cms_over"),
        (est >= F.col("freq")).alias("cms_ok"),
    ).orderBy(F.col("freq").desc(), F.col("token").asc())


def vocab_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: distinct whitespace-token
    vocabulary size and cumulative token count after each 1/N-th of the
    corpus in ``id_col`` order — the corpus-diversity diagnostic that
    tells a data-mixing pipeline whether new shards still contribute
    new types or the vocabulary has saturated (sub-linear growth is
    healthy natural text; near-linear growth flags boilerplate/ID-heavy
    shards).

    Distributed shape: ONE corpus-wide shuffle (token -> MIN(doc_id),
    the first-occurrence frame — vocabulary membership at checkpoint k
    is exactly ``first_doc <= threshold_k``); checkpoint thresholds come
    from a distributed rank over the id column (range shuffle of the id
    column only, via :func:`~..relational.global_rank`'s machinery, no
    single-partition window); then every token/doc is bucketed to its
    EARLIEST containing checkpoint by a broadcast CASE (N bounded
    rows, collected as a bounded probe) and partial-aggregated map-side
    to <= N rows, so the curve costs one extra map pass — never an
    N-fold data blowup. The final cumulative sum is a window over the
    N-row checkpoint frame.
    """
    from .relational import _global_rank_with_total

    P = int(n_checkpoints)
    t = F.col(text_col)
    toks_arr = F.filter(_words(t), lambda x: x != "")
    firsts = (
        df.select(
            F.col(id_col).alias("did"),
            F.explode(toks_arr).alias("token"),
        )
        .groupBy("token")
        .agg(F.min("did").alias("first_doc"))
    )
    doc_tok = df.select(
        F.col(id_col).alias("did"),
        F.size(toks_arr).cast("bigint").alias("n_tok"),
    )
    ranked, total = _global_rank_with_total(
        df.select(F.col(id_col).alias("did")), [F.col("did").asc()], "rn"
    )
    cps = [(p, max(1, (total * p) // P)) for p in range(1, P + 1)]
    spark = df.sparkSession
    cp_df = spark.createDataFrame(cps, "decile int, n_docs bigint")
    th_rows = (
        ranked.join(F.broadcast(cp_df), F.col("rn") == F.col("n_docs"))
        .select("decile", F.col("did").alias("tdoc"))
        .collect()  # bounded probe: exactly n_checkpoints rows
    )
    th = sorted((int(r["decile"]), int(r["tdoc"])) for r in th_rows)

    def first_cp(col: Column) -> Column:
        # earliest checkpoint whose threshold covers this id
        expr: Column = F.lit(None).cast("int")
        for dec, tdoc in reversed(th):
            expr = F.when(col <= F.lit(tdoc), F.lit(dec)).otherwise(expr)
        return expr

    new_types = firsts.groupBy(
        first_cp(F.col("first_doc")).alias("decile")
    ).agg(F.count(F.lit(1)).alias("_new_types"))
    new_toks = doc_tok.groupBy(first_cp(F.col("did")).alias("decile")).agg(
        F.sum("n_tok").alias("_new_toks")
    )
    from pyspark.sql import Window

    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # bounded frame: n_checkpoints rows
    return (
        cp_df.join(new_types, "decile", "left")
        .join(new_toks, "decile", "left")
        .withColumn(
            "vocab_size",
            F.sum(F.coalesce("_new_types", F.lit(0))).over(wc).cast("bigint"),
        )
        .withColumn(
            "n_tokens",
            F.sum(F.coalesce("_new_toks", F.lit(0))).over(wc).cast("bigint"),
        )
        .select("decile", "n_docs", "vocab_size", "n_tokens")
        .orderBy("decile")
    )


def zipf_coverage(
    df: DataFrame, k_top: int = 100, text_col: str = "text"
) -> DataFrame:
    """Zipf rank-frequency curve with cumulative corpus coverage: the
    top ``k_top`` whitespace tokens by frequency, each with its rank,
    count, running total, and the exact ppm of all token occurrences
    the top-r types cover — the head-coverage diagnostic behind
    tokenizer vocabulary sizing and stopword lists (natural text
    saturates fast: a heavy head + long tail; flat coverage growth
    flags synthetic/ID-heavy corpora).

    Plan: one token hash-agg (map-side combined), total tokens derived
    from the SAME aggregated vocab frame (no second corpus scan),
    top-k via TakeOrdered (never a global sort of the vocabulary), and
    the running sum over the bounded k-row frame. Coverage widens
    through decimal(38,0) before the exact integer division, so the
    ppm cannot wrap at any corpus size (the x6/t30 contract).
    """
    toks = _token_stream(df, text_col)
    cnt = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("freq")
    ).transform(lineage_checkpoint)  # feeds top-k AND the total
    tot = cnt.agg(F.sum("freq").alias("total_tokens"))
    top = cnt.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(
        k_top
    )
    from pyspark.sql import Window

    worder = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    wcum = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.crossJoin(F.broadcast(tot))  # bounded frame: k_top rows
        .withColumn("rank", F.row_number().over(worder).cast("int"))
        .withColumn("cum_freq", F.sum("freq").over(wcum).cast("bigint"))
        .withColumn(
            "coverage_ppm",
            F.expr(
                "CAST(CAST(cum_freq AS DECIMAL(38,0)) * 1000000"
                " div total_tokens AS BIGINT)"
            ),
        )
        .select(
            "rank",
            "token",
            F.col("freq").cast("bigint").alias("freq"),
            "cum_freq",
            "coverage_ppm",
        )
        .orderBy("rank")
    )


def phrase_occurrences(
    df: DataFrame,
    n_phrases: int = 3,
    phrase_len: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact positional PHRASE SEARCH over an inverted index — the
    search-engine primitive t26's set-based Jaccard search cannot
    express (it ignores order): count, per document, the exact
    occurrences of the corpus's top-``n_phrases`` most frequent
    ``phrase_len``-token phrases.

    Two stages, both declarative:

    1. Phrase DISCOVERY: an n-gram census (explode each doc's
       ``phrase_len``-grams, one hash-agg with map-side combine) takes
       the global top-``n_phrases`` by (count desc, phrase asc) — a
       bounded TakeOrdered, no global sort.
    2. Positional MATCH via the ANCHOR join, the plan that generalizes
       to any phrase length without materializing longer n-grams: the
       phrase table explodes to (phrase, slot, token) — ``n_phrases *
       phrase_len`` rows, broadcast — and joins the positional postings
       (doc, pos, token) on token alone. Each hit votes for anchor =
       pos - slot; an anchor position with ``phrase_len`` DISTINCT
       slot hits is a complete occurrence (DISTINCT, not COUNT: a
       repeated token like "a b a" fills slots 0 and 2 from different
       positions and must not double-count one of them). The broadcast
       token filter prunes the postings stream BEFORE the shuffle, so
       the match stage shuffles only occurrences of the searched
       tokens — at 100 TB that is the selectivity of the phrase
       vocabulary, not the corpus.

    Emits one row per (phrase, matched doc): exact occurrence count.
    Docs with fewer than ``phrase_len`` tokens produce no postings
    anchors and fall out naturally.
    """
    toks_arr = F.filter(_words(F.col(text_col)), lambda x: x != "")
    base = df.select(F.col(id_col), toks_arr.alias("_toks"))

    gram_parts = " , ".join(f"_toks[i + {j}]" for j in range(phrase_len))
    grams = base.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("_toks") >= phrase_len,
                F.expr(
                    f"transform(slice(_toks, 1, size(_toks) - {phrase_len - 1}),"
                    f" (x, i) -> concat_ws(' ', {gram_parts}))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_gram"),
    )
    top = (
        grams.groupBy("_gram")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.col("_cnt").desc(), F.col("_gram").asc())
        .limit(n_phrases)
        .select(F.col("_gram").alias("phrase"))
    )
    slots = top.select(
        "phrase",
        F.posexplode(F.split(F.col("phrase"), " ")).alias("_slot", "_tok"),
    )
    postings = base.select(
        F.col(id_col), F.posexplode("_toks").alias("_pos", "_tok")
    )
    hits = postings.join(F.broadcast(slots), "_tok").select(
        F.col(id_col),
        "phrase",
        (F.col("_pos") - F.col("_slot")).alias("_anchor"),
        "_slot",
    )
    occ = (
        hits.groupBy(id_col, "phrase", "_anchor")
        .agg(F.countDistinct("_slot").alias("_n_slots"))
        .filter(
            (F.col("_n_slots") == phrase_len) & (F.col("_anchor") >= 0)
        )
    )
    return occ.groupBy(id_col, "phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    )


def readability_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch-style readability in EXACT integer milli-units — the
    classic reading-ease curation filter next to :func:`quality_score`'s
    surface ratios and the perplexity tier (c8). Counts are plain
    regexes (words = whitespace tokens, sentences = terminator runs
    ``[.!?]+`` clamped to >= 1, syllables ~ vowel-group runs — the
    standard cheap proxy), and the score is the Flesch formula with
    every coefficient scaled x1000 and floor-divided:

        flesch_milli = 206835 - (1015 * words) div sentences
                              - (84600 * vgroups) div words

    so two engines agree bit for bit (no float path anywhere). The
    whole operator is one projection over the corpus scan — zero
    shuffles, zero Python; at 100 TB it rides the same map stage as
    any other per-doc feature. Products stay < 2^53 for any document
    under ~10^12 words, far past a single row's practical bound."""
    t = F.col(text_col)
    words = F.greatest(F.size(_words(t)), F.lit(1)).cast("bigint")
    sentences = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1),
    ).cast("bigint")
    vgroups = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[aeiouyAEIOUY]+"), F.lit(0))),
        F.lit(1),
    ).cast("bigint")
    base = df.select(
        F.col(id_col),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        vgroups.alias("n_vowel_groups"),
    )
    return base.withColumn(
        "flesch_milli",
        F.expr(
            "cast(206835 - (1015 * n_words) div n_sentences"
            " - (84600 * n_vowel_groups) div n_words as bigint)"
        ),
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document CHARACTER-level Shannon entropy in mean micro-nats
    — the random-bytes / encoded-blob / boilerplate detector of the
    quality family (very low entropy = repeated filler, very high =
    base64/binary paste), complementing token-level repetition (t10)
    and corpus-LM surprise (t17). Engine-portable by the t17 contract:
    each character's -ln(c/n) is quantized to integer micro-nats
    BEFORE the cross-row sum (one correctly-rounded ln + round per
    (doc, char) pair), and the mean is one exact-integer-ratio IEEE
    division at the end. Plan: explode to characters, one (doc, char)
    hash agg, one per-doc agg — both map-side-combinable, no joins,
    no Python; the (doc, char) key space is docs x alphabet."""
    chars = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "")).alias("_ch"),
    ).filter(F.col("_ch") != "")
    # cnt feeds both the per-doc total and the scored join — checkpoint
    # so the explode + first agg materialize once (the q111 lesson)
    cnt = chars.groupBy(id_col, "_ch").agg(
        F.count(F.lit(1)).alias("_c")
    ).transform(lineage_checkpoint)
    w_n = (
        cnt.groupBy(id_col)
        .agg(
            F.sum("_c").alias("_n"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
        )
    )
    scored = cnt.join(w_n, id_col).select(
        F.col(id_col),
        "_c",
        "_n",
        "n_distinct_chars",
        F.round(
            -F.log(F.col("_c") / F.col("_n").cast("double")) * F.lit(1e6)
        )
        .cast("bigint")
        .alias("_nl_u"),
    )
    return scored.groupBy(id_col, "n_distinct_chars").agg(
        F.sum("_c").cast("bigint").alias("n_chars"),
        (
            F.sum(F.col("_c") * F.col("_nl_u")).cast("double")
            / (F.sum("_c") * F.lit(1e6))
        ).alias("entropy_nats"),
    ).select(id_col, "n_chars", "n_distinct_chars", "entropy_nats")


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word ``k``-gram, slide a
    window of ``w`` consecutive hashes over each document, and select the
    minimum hash per window (ties -> RIGHTMOST position, the "robust"
    variant). The selected set is guaranteed to detect any shared
    substring of at least ``w + k - 1`` words while keeping only about
    ``2 / (w + 1)`` of all positions — the density/guarantee trade the
    paper proves.

    Everything is engine-portable and exact: md5 hex strings ordered
    lexicographically are the hash, and the rightmost-min tiebreak is
    encoded in the sort key itself — ``md5(gram) || lpad(99999999 - pos)``
    — so a plain windowed ``min`` picks the right fingerprint with no
    argmin UDF on either engine.

    Scale shape: map-only gram fan-out (the t5/chunk posexplode pattern)
    plus ONE per-document window (partitioned by ``id_col``, never
    global) and a distinct — winnowing 100 TB is an embarrassingly
    parallel per-doc pass whose output is ~2/(w+1) the gram count.
    The position suffix supports documents up to 10^8 grams (~100M
    words — far past any sane document bound; chunk with
    :func:`chunk_documents` first if a corpus can exceed it, since a
    larger position would break the suffix's lexicographic order).

    Returns (id_col, fp_hash, fp_pos): the distinct selected
    fingerprints with their 0-based gram positions.
    """
    from pyspark.sql import Window

    d, grams = _word_grams(df, id_col, text_col, k)
    g = d.select("_id", F.posexplode(grams).alias("pos", "g"))
    # Sort key: min over the window picks the smallest hash; among equal
    # hashes the smaller (99999999 - pos) suffix wins = the LARGEST pos
    # = rightmost occurrence (robust winnowing's tiebreak).
    key = F.concat(
        F.md5(F.col("g")),
        F.lpad((F.lit(99999999) - F.col("pos")).cast("string"), 8, "0"),
    )
    win = Window.partitionBy("_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    sel = (
        g.withColumn("_key", key)
        .withColumn("_wk", F.min("_key").over(win))
        .where(F.col("pos") >= w - 1)  # full windows only
    )
    return sel.select(
        F.col("_id").alias(id_col),
        F.substring("_wk", 1, 32).alias("fp_hash"),
        (F.lit(99999999) - F.substring("_wk", 33, 8).cast("int"))
        .cast("int")
        .alias("fp_pos"),
    ).distinct()


def winnow_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs from winnowing fingerprints: documents
    sharing >= ``min_shared`` distinct selected hashes, with the shared
    count and an exact containment ratio in ppm. This is MOSS's pairing
    stage — the detector that catches verbatim PASSAGES (w + k - 1 words
    or longer) that whole-document MinHash/SimHash dilute away.

    ``max_fp_df`` is the d3-style hot-fingerprint guard: when set,
    fingerprints appearing in more than that many documents are dropped
    before pairing (boilerplate hashes otherwise fan out quadratically).
    Left ``None`` the pairing is exact — the oracle-checked
    configuration.

    Scale shape: the pair join is bucketed by fp_hash over the ~2/(w+1)-
    sparse winnowed subset (the d2 gram-join shape on far fewer rows);
    per-doc sizes join back as equi-joins on ``id_col``. overlap_ppm =
    shared * 1e6 div min(|A|, |B|) stays in int64 (counts are gram-
    bounded, products < 2^43).
    """
    s = fp.select(F.col(id_col).alias("_id"), "fp_hash").distinct()
    if max_fp_df is not None:
        hot = s.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("_df"))
        s = (
            s.join(hot, "fp_hash")
            .filter(F.col("_df") <= max_fp_df)
            .select("_id", "fp_hash")
        )
    s = s.transform(lineage_checkpoint_eager)  # 3 consumers below
    sizes = s.groupBy("_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(b, "fp_hash")
        .where(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return (
        pairs.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_fp", "fp_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_fp", "fp_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "fp_a",
            "fp_b",
            F.expr("n_shared * 1000000 div least(fp_a, fp_b)").alias(
                "overlap_ppm"
            ),
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_terms: int = 5,
    top: int = 10,
) -> DataFrame:
    """BM25 lexical ranking in EXACT integer ppm — the classic
    Robertson/Sparck-Jones ranker (k1 = 6/5, b = 3/4) with one
    determinism substitution: the transcendental log-idf is replaced by
    the RSJ ODDS weight ``(N - df) * 1e6 div df`` (the quantity the log
    wraps), keeping every score an exact integer that replays bit for
    bit in DuckDB — no IEEE ln drift across engines. Query = the
    corpus's own top-``n_terms`` tokens (freq DESC, token ASC — the t15
    census cut), so the operator is self-contained and deterministic.

    Per (term, doc): contribution_ppm =
    ``idf_ppm * 44 * tf * avgdl_milli div
    (20 * tf * avgdl_milli + 6 * avgdl_milli + 18 * dl * 1000)`` —
    the textbook ``idf * tf(k1+1) / (tf + k1(1-b+b*dl/avgdl))``
    multiplied through by ``20 * avgdl_milli`` so the whole fraction is
    a ratio of integers; the numerator is widened to decimal(38,0)
    before the floor division (the q111/x6 overflow contract).

    Scale shape: one token explode feeding three combine-heavy hash
    aggs (dl, term census, tf); the ``n_terms`` query set and the
    per-term df table broadcast (bounded by the query, not the
    corpus); the corpus-level scalars ride one broadcast-literal
    cross join (the c8 pattern); the final cut is a true global
    TakeOrderedAndProject of ``top`` rows + a rank window over only
    the survivors (the t15 pattern). No UDFs anywhere.
    """
    from pyspark.sql import Window

    from .util import ensure_parallelism

    tk = _token_stream(
        ensure_parallelism(df.select(F.col(id_col).alias("_id"), F.col(text_col))),
        text_col,
        "_id",
    ).transform(lineage_checkpoint_eager)  # consumers: dl, census, tf
    dl = tk.groupBy("_id").agg(F.count(F.lit(1)).alias("dl"))
    terms = (
        tk.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(n_terms)
        .select("token")
    )
    tf = (
        tk.join(F.broadcast(terms), "token")
        .groupBy("_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    scal = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("_total"),
    ).select(
        "n_docs", F.expr("1000 * _total div n_docs").alias("avgdl_milli")
    )
    scored = (
        tf.join(dl, "_id")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(scal))
        .select(
            "_id",
            F.expr(
                "cast(cast((n_docs - df_t) * 1000000 div df_t as decimal(38,0))"
                " * 44 * tf * avgdl_milli div cast(20 * tf * avgdl_milli"
                " + 6 * avgdl_milli + 18 * dl * 1000 as decimal(38,0))"
                " as bigint)"
            ).alias("_contrib"),
        )
    )
    agg = scored.groupBy("_id").agg(
        F.sum("_contrib").cast("bigint").alias("score_ppm"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    cut = agg.orderBy(F.desc("score_ppm"), F.asc("_id")).limit(top)
    w = Window.orderBy(F.desc("score_ppm"), F.asc("_id"))
    return cut.withColumn("rank", F.row_number().over(w)).select(
        F.col("_id").alias(id_col), "score_ppm", "n_terms_hit", "rank"
    )


def greedy_decode(
    df: DataFrame,
    n_steps: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GREEDY DECODING from the corpus bigram MLE language model — the
    generation-side counterpart of :func:`bigram_condprob`'s scoring:
    start from the corpus's most frequent token and repeatedly follow
    the argmax continuation ``argmax_w cnt(prev, w)`` (ties -> lexically
    smallest ``w``, the house total order), up to ``n_steps`` tokens or
    until a token with no observed continuation. The argmax is encoded
    the oracle-portable way — ``min(lpad(10^9 - cnt) || w)`` — so the
    whole generated chain (a pure function of the corpus) replays as a
    recursive CTE over the same best-continuation table, bit for bit.
    What it's for: the cheapest possible "what does this corpus sound
    like" probe — templated corpora decode into their boilerplate,
    which makes the chain a human-readable contamination/boilerplate
    signature next to t10/t31's numeric ones.

    Scale shape: the bigram census is one explode + one combine-heavy
    hash agg; the best-continuation table (|vocab| rows) is eagerly
    checkpointed and the decode loop runs ``n_steps`` driver-bounded
    single-row lookups against it (the g1/t22 iterative contract —
    rounds are driver-bounded and each collects exactly one row). The
    emitted chain is <= n_steps rows by construction.

    Returns (step, token), step 0-based.
    """
    big = (
        _bigrams(df, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = (
        big.groupBy("w1")
        .agg(
            F.min(
                F.concat(
                    F.lpad(
                        (F.lit(1_000_000_000) - F.col("cnt")).cast("string"),
                        10,
                        "0",
                    ),
                    F.col("w2"),
                )
            ).alias("_k")
        )
        .select("w1", F.expr("substring(_k, 11)").alias("nxt"))
        .transform(lineage_checkpoint_eager)  # n_steps bounded lookups below
    )
    # the seed is the most frequent non-empty token: '' (the one token
    # of an empty doc, which the oracle's toks CTE drops) would sort
    # first on a frequency tie
    seed_row = (
        _token_stream(df, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(1)
        .collect()
    )
    spark = df.sparkSession
    if not seed_row:
        return spark.createDataFrame([], "step int, token string")
    cur = seed_row[0]["token"]
    path = [(0, cur)]
    for step in range(1, n_steps):
        nxt = best.filter(F.col("w1") == cur).collect()  # bounded: 1 row
        if not nxt:
            break
        cur = nxt[0]["nxt"]
        path.append((step, cur))
    return spark.createDataFrame(path, "step int, token string")


def zipf_profile(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-group Zipf RANK-FREQUENCY profile on power-of-two rank
    buckets — the vocabulary-health census of a pretraining corpus: a
    natural-language slice follows freq ~ 1/rank (bucket totals decay
    smoothly, types per bucket double), while boilerplate/spam/
    machine-generated slices show a truncated head or a fat tail, and
    a corrupted tokenizer shows up as mass collapsing into bucket 0.
    The measurement side of the Zipf assumption t17's unigram model
    and the BM25/LM family lean on.

    Everything is exact integer algebra, so the profile hash-matches
    cross-engine: per group, token frequencies (one explode + map-side
    combined hash agg, shuffle bounded by |vocab| x groups, never
    corpus tokens); dense deterministic ranks by (freq DESC, token
    ASC) via ``relational.grouped_rank`` — groups are a small semantic
    domain (languages), exactly the single-task-window shape the r15
    audit bans from ``Window.partitionBy``; rank buckets by integer
    log2 (``length(bin(rank)) - 1`` — string length of the binary
    representation, no float log anywhere); one final hash agg to the
    bucket census.

    Returns one row per (group, rank_bucket): (``group_col``,
    rank_bucket, n_types, sum_freq, max_freq, min_freq) — bucket b
    covers ranks [2^b, 2^(b+1)).
    """
    return zipf_profile_from_census(
        zipf_census(df, group_col, text_col), group_col
    )


def zipf_census(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """The census half of :func:`zipf_profile`: per-(group, token)
    frequencies — one explode + map-side-combined hash agg, shuffle
    bounded by |vocab| x groups, never corpus tokens. Split out
    because the counters are a SUM monoid: the st22 streaming tier
    folds per-micro-batch censuses into this frame and derives the
    profile at read time."""
    toks = _token_stream(df, text_col, F.col(group_col))
    return toks.groupBy(group_col, "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )


def zipf_profile_from_census(
    counts: DataFrame, group_col: str = "lang"
) -> DataFrame:
    """The profile half of :func:`zipf_profile`: deterministic ranks
    by (freq DESC, token ASC) via ``relational.grouped_rank`` (groups
    are a small semantic domain — never ``Window.partitionBy``),
    integer-log2 rank buckets (``length(bin(rank)) - 1``), one hash
    agg to the bucket census. Derived-at-read-time by the st22
    streaming tier over its folded census state."""
    from .relational import grouped_rank

    ranked = grouped_rank(
        counts,
        [group_col],
        [F.col("freq").desc(), F.col("token").asc()],
        "_rank",
    )
    return (
        ranked.withColumn(
            "rank_bucket", F.expr("length(bin(_rank)) - 1").cast("bigint")
        )
        .groupBy(group_col, "rank_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("freq").cast("bigint").alias("sum_freq"),
            F.max("freq").alias("max_freq"),
            F.min("freq").alias("min_freq"),
        )
    )

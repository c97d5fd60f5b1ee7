"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

All hot-path expressions are JVM-side built-ins (regexp_*, md5, length)
— whole-stage-codegen'd, no Python in the loop — so a 100 TB documents
scan is one codegen stage with the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

TOKEN_RE = r"\S+"
WORD_RE = r"[A-Za-z]+"
BPE_ISH_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
PUNCT_RE = r"[^\w\s]"

# language marker words for the n-gram/stopword heuristic language-ID
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "los", "las", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "des", "et", "est"),
}


def _marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    pat = r"\b(" + "|".join(markers) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), F.lit(0)))


def ws_tokens(text: Column, null_as_empty: bool = False) -> Column:
    """The canonical whitespace tokenizer as an ARRAY expression:
    lowercase, collapse whitespace runs, split, drop empty tokens.
    Every consumer's DuckDB oracle twin is
    ``list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ',
    'g'), ' '), s -> length(s) > 0)`` — keep the two in lockstep;
    oracle parity of every downstream op depends on this exact
    normalization. ``null_as_empty`` coalesces NULL text to an empty
    array for operators that must emit a row per input doc."""
    arr = F.array_remove(
        F.split(F.regexp_replace(F.lower(text), r"\s+", " "), " "), ""
    )
    if null_as_empty:
        arr = F.coalesce(arr, F.array().cast("array<string>"))
    return arr


def token_count(text: Column, pattern: str = TOKEN_RE) -> Column:
    """Whitespace token count; swap BPE_ISH_RE for a subword-ish count."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features: length, token counts, punct /
    stopword / uppercase ratios, mean word length. One pass, pure
    expressions."""
    c = F.col(text_col)
    n_tok = token_count(c).cast("double")
    n_word = token_count(c, WORD_RE).cast("double")
    n_stop = _marker_hits(c, LANG_MARKERS["en"]).cast("double")
    n_punct = token_count(c, PUNCT_RE).cast("double")
    word_chars = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    return df.select(
        F.col(id_col),
        F.length(c).alias("n_chars_m"),
        n_tok.cast("long").alias("n_tokens"),
        token_count(c, BPE_ISH_RE).alias("n_subtokens"),
        F.round(n_punct / F.greatest(F.length(c).cast("double"), F.lit(1.0)), 6).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_tok, F.lit(1.0)), 6).alias("stopword_ratio"),
        F.round(word_chars / F.greatest(n_word, F.lit(1.0)), 6).alias("mean_word_len"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-stopword language-ID heuristic: argmax of per-language
    marker hit counts, 'und' (undetermined) when all are zero.
    Deterministic tie-break: language order en > es > de > fr."""
    c = F.col(text_col)
    hits = {lang: _marker_hits(c, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in ("en", "es", "de", "fr"):
        pred = pred.when(hits[lang] == best, F.lit(lang))
    out = [F.col(id_col)]
    out += [hits[lang].alias(f"{lang}_hits") for lang in LANG_MARKERS]
    out.append(pred.alias("pred_lang"))
    return df.select(*out)


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprint: md5 of the raw text (cross-engine stable) +
    a normalized-text md5 (case/whitespace-insensitive dedup key)."""
    c = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return df.select(
        F.col(id_col),
        F.md5(c).alias("fp_raw"),
        F.md5(norm).alias("fp_norm"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval: score every document against a bag of query
    terms (Okapi BM25 with the Lucene/Robertson non-negative idf,
    ln(1 + (N − df + 0.5)/(df + 0.5))) and return the top-k by
    (score, id) — the lexical-retrieval complement of the ANN family,
    and the scoring half of a retrieve-then-deduplicate or
    decontamination-by-retrieval pass.

    Plan shape: ONE scan of the text column — tokenization happens
    once, into a checkpointed (id, dl, matched-terms) frame that is a
    few dozen bytes per row (the naive three-branch form re-scanned
    and re-tokenized the corpus for tf, df, and the length stats —
    3 text scans at 100 TB). Per-doc length comes from the row, not
    the explode, so avgdl counts zero-token docs; only matching
    postings shuffle for the tf aggregate (|query| × |matching docs|
    rows), which is itself checkpointed so the df aggregate doesn't
    repeat the (doc, term) exchange; df and the (N, avgdl) scalars
    broadcast onto the postings; top-k is orderBy+limit →
    TakeOrderedAndProject, no global sort exchange. Scores round to
    6dp with an id tie-break, so the ranking is total and
    engine-exact."""
    toks = ws_tokens(F.col(text_col))
    # document tokens are lowercased by ws_tokens; lowercase the query
    # the same way so 'Paris' matches (code-review r5)
    qlit = F.array(*[F.lit(t.lower()) for t in query_terms])
    based = df.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: F.array_contains(qlit, t)).alias("_mt"),
    ).localCheckpoint(eager=False)
    stats = based.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg(F.col("dl").cast("double")).alias("_avgdl"),
    )
    flat = based.select(id_col, "dl", F.explode("_mt").alias("term"))
    tf = flat.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    ).localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl"))
    )
    # per-doc score = ordered fold over the matched terms (term asc):
    # float addition is not associative, so a plain SUM's partial-agg
    # order could flip the 6th decimal between engines/partitionings —
    # the ordered fold (≤ |query| elements per doc) makes it total
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.struct("term", (idf * norm).alias("v")).alias("_s"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("_s")).alias("_arr"))
        .select(
            F.col(id_col),
            F.round(
                F.aggregate("_arr", F.lit(0.0), lambda acc, x: acc + x["v"]), 6
            ).alias("bm25_r6"),
        )
    )
    return (
        scored.orderBy(F.desc("bm25_r6"), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "bm25_r6")
    )


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tfidf: float = 0.0,
) -> DataFrame:
    """TF-IDF per (doc, term): tf = term count in doc, idf = ln(N/df).
    Output: (id, term, tf, df, tfidf_r6) — tfidf rounded to 6dp so the
    score is stable across engines' ln implementations.

    Plan shape: one explode + two aggregations, both shuffling on the
    term (small strings), never the document; N is a broadcast scalar.
    At 100 TB the df table is |vocab|-sized — orders smaller than the
    corpus — and tf⋈idf broadcasts it."""
    toks = F.split(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "), " ")
    flat = df.select(F.col(id_col), F.explode(toks).alias("term")).filter(
        F.col("term") != ""
    )
    tf = flat.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("_n"))
    out = (
        tf.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("_n").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf_r6"),
        )
    )
    if min_tfidf > 0:
        out = out.filter(F.col("tfidf_r6") >= min_tfidf)
    return out


def sequence_packing(
    df: DataFrame,
    budget: int = 512,
    shard_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-sequence packing, concat-and-cut form: documents in a
    shard are logically concatenated in ``id`` order and cut every
    ``budget`` tokens (the causal-LM packing most data pipelines use —
    documents may straddle pack boundaries). Output per doc: token
    count and the [start_pack, end_pack] span it lands in.

    Pure integer window arithmetic (one shuffle on the shard key,
    running sum ordered by id) — deterministic on any cluster, and the
    pack assignment is reproducible given the same id order, which is
    what makes resumable tokenization jobs possible. Zero-token docs
    are excluded (they belong to no pack)."""
    from pyspark.sql import Window

    n_tok = token_count(F.col(text_col))
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tk = df.select(
        F.col(id_col), F.col(shard_col), n_tok.alias("n_tokens")
    ).filter(F.col("n_tokens") >= 1)
    cum = F.sum("n_tokens").over(w)
    return tk.select(
        id_col,
        shard_col,
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / budget).cast("long").alias("start_pack"),
        F.floor((cum - 1) / budget).cast("long").alias("end_pack"),
    )


def repetition_features(
    df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signal: the share of a document's word
    n-grams taken by its single most frequent n-gram (template/spam
    pages score high, natural prose low). Output: (id, n_ngrams,
    top_ngram_share) — share rounded to 6dp.

    Plan: n-grams explode → count per (doc, gram) → max/sum per doc.
    Both aggregations key on the doc (or doc+gram) so partial
    aggregation collapses the repeats map-side — the very docs this
    flags (massively repeated grams) are the ones that compress best
    before the shuffle."""
    toks = ws_tokens(F.col(text_col))  # canon: no phantom '' tokens
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
        lambda i: F.array_join(F.slice("_toks", i, n), " "),
    )
    base = df.select(F.col(id_col), toks.alias("_toks")).filter(
        F.size("_toks") >= n
    )
    per_gram = (
        base.select(F.col(id_col), F.explode(grams).alias("_gram"))
        .groupBy(id_col, "_gram")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return per_gram.groupBy(id_col).agg(
        F.sum("_c").alias("n_ngrams"),
        F.round(
            F.max("_c").cast("double") / F.sum("_c").cast("double"), 6
        ).alias("top_ngram_share"),
    )


# PII patterns — portable across Java regex (Spark) and RE2 (DuckDB):
# no backrefs, no lookaround, explicit character classes only.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b"
NUMRUN_RE = r"[0-9]{3,}"


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII redaction pass: emails → <EMAIL>, IPv4 → <IP>, then any
    remaining 3+-digit run → <NUM>, applied in that order so each count
    is over the previous stage's output (digits inside an email are not
    double-counted as a number run). Output: (id, n_redacted, red_md5).

    Pure regexp_replace/regexp_count expressions — whole-stage-codegen'd
    with the scan; at 100 TB this is a map-only pass and only the digest
    of the redacted text leaves the stage."""
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, IPV4_RE, "<IP>")
    t3 = F.regexp_replace(t2, NUMRUN_RE, "<NUM>")
    n = (
        F.regexp_count(t0, F.lit(EMAIL_RE))
        + F.regexp_count(t1, F.lit(IPV4_RE))
        + F.regexp_count(t2, F.lit(NUMRUN_RE))
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_redacted"),
        F.md5(t3).alias("red_md5"),
    )


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style boilerplate / contamination detector: word n-gram
    phrases appearing in ≥ ``min_docs`` DISTINCT documents. Output:
    (gram_md5, n_docs) — the blocklist a cleaning pass then joins
    against (and a train/test contamination probe when ``df`` unions
    both corpora).

    Plan shape: n-grams are built map-side with array expressions and
    deduplicated per doc (array_distinct) BEFORE the explode, so the
    groupBy count is a distinct-doc count without a count_distinct
    shuffle; partial aggregation collapses common grams map-side, which
    is what keeps the ultra-frequent boilerplate grams (the skewed keys)
    from concentrating on one reducer at 100 TB."""
    toks = ws_tokens(F.col(text_col))  # canon: no phantom '' tokens
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_toks")).filter(
        F.size("_toks") >= n
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
            lambda i: F.array_join(F.slice("_toks", i, n), " "),
        )
    )
    return (
        base.select("_id", F.explode(grams).alias("_gram"))
        .groupBy("_gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select(F.md5("_gram").alias("gram_md5"), "n_docs")
    )


POLY_MOD = 2_147_483_647  # 2^31-1 (Mersenne prime)
POLY_BASE = 257


def rolling_fingerprints(
    df: DataFrame,
    k: int = 8,
    mod_p: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rolling-hash document fingerprints (Rabin-Karp over character
    k-grams, content-defined selection): a k-gram's polynomial hash is
    kept iff hash ≡ 0 (mod ``mod_p``) — the classic "0 mod p" chunking
    rule, so the selected fingerprints realign after insertions (unlike
    fixed-stride sampling). Output: one (id, fp) row per distinct
    selected hash; docs shorter than k yield no rows.

    The hash is plain integer arithmetic (base-257 poly mod 2^31-1 over
    code points) — NOT an engine hash function — so any engine computes
    identical fingerprints; this is what makes the op oracle-checkable
    and the fingerprints portable across a mixed-engine lakehouse.
    Map-only: at 100 TB this runs inside the scan stage; only (id, fp)
    pairs ever shuffle."""
    tx = F.lower(F.col(text_col))
    # codes as a materialized column: expressions inside higher-order
    # lambdas are re-evaluated per element (no CSE) — see dedup.shingles
    codes = F.transform(F.split(tx, ""), lambda ch: F.ascii(ch))
    base = df.filter(F.length(tx) >= k).select(
        F.col(id_col), codes.alias("_codes")
    )
    idx = F.sequence(F.lit(1), F.size("_codes") - (k - 1))

    def gram_hash(i):
        h = F.try_element_at("_codes", i).cast("long")
        for j in range(1, k):
            h = (h * POLY_BASE + F.try_element_at("_codes", i + j)) % POLY_MOD
        return h

    grams = F.array_distinct(
        F.filter(F.transform(idx, gram_hash), lambda h: h % mod_p == 0)
    )
    return base.select(F.col(id_col), F.explode(grams).alias("fp"))


def decontaminate_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least one
    word n-gram with the benchmark/eval set, with the count of distinct
    overlapping n-grams. The keep-side twin is ``decontaminate_keep``.

    Scale shape (the step every training-data pipeline runs before a
    model sees the corpus): the benchmark side is eval-set sized
    (thousands of docs), so its distinct n-gram hashes BROADCAST; the
    corpus side is a map-only explode of n-gram hashes checked against
    the broadcast set inside the scan stage — the 100 TB corpus never
    shuffles for the membership test, only (doc_id, gram_hash) pairs of
    actual hits reach the counting shuffle. N-grams are compared as
    xxhash64 longs (2^-64 collision note as in dedup.shingles).
    """
    def ngrams(df: DataFrame) -> DataFrame:
        toks = F.split(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
        )
        staged = df.select(F.col(id_col).alias("_id"), toks.alias("_t"))
        # guard: F.sequence(1, size-n+1) DESCENDS when size < n (Spark
        # sequence auto-steps -1), fabricating out-of-range indices —
        # short docs must yield no n-grams, not reversed garbage
        idx = F.when(
            F.size("_t") >= n, F.sequence(F.lit(1), F.size("_t") - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        gram = F.transform(
            idx,
            lambda i: F.xxhash64(
                F.concat_ws(" ", *[F.try_element_at("_t", i + j) for j in range(n)])
            ),
        )
        return staged.select("_id", F.explode(F.array_distinct(gram)).alias("_g"))

    bench_grams = F.broadcast(ngrams(benchmark).select("_g").distinct())
    hits = ngrams(corpus).join(bench_grams, on="_g", how="left_semi")
    return (
        hits.groupBy(F.col("_id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )


def decontaminate_keep(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus rows with NO n-gram overlap against the benchmark set —
    the clean training corpus (anti-join against the contaminated-id
    set, which is small, so it broadcasts)."""
    dirty = decontaminate_hits(corpus, benchmark, n, text_col, id_col).select(id_col)
    return corpus.join(dirty, on=id_col, how="left_anti")


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_dup_docs: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-line removal (CCNet/Dolma style): a line
    that appears in >= ``min_dup_docs`` DISTINCT documents (navigation
    chrome, cookie banners, boilerplate headers) is dropped from every
    document; surviving lines are reassembled in original order.
    Repeats *within* one document are kept — that is `repetition_features`'
    job, not corpus dedup's.

    Scale shape: the counting pass shuffles only (xxhash64(line),
    doc_id) — never line text; the dup set that comes back is just the
    duplicated hashes (typically tiny vs the corpus, AQE broadcasts it
    when it fits). The single full-width shuffle is the per-doc
    reassembly groupBy, which any per-doc rewrite must pay. Returns
    (id, clean_text, n_kept, n_dropped) for every input document —
    a doc whose every line was boilerplate comes back with
    clean_text = ''.
    """
    lines = df.select(
        F.col(id_col),
        # coalesce: a NULL-text doc must still yield its output row
        # (posexplode of NULL emits nothing — code-review r5)
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    ).withColumn("_lh", F.xxhash64("line"))
    dup = (
        # blank lines are paragraph STRUCTURE, not boilerplate: any two
        # docs with blank lines would otherwise strip every paragraph
        # break corpus-wide (code-review r5)
        lines.filter(F.col("line") != "")
        .groupBy("_lh")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= min_dup_docs)
        .select("_lh", F.lit(True).alias("_dup"))
    )
    flagged = lines.join(dup, "_lh", "left")
    kept = F.when(F.col("_dup").isNull(), F.struct("pos", "line"))
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(F.array_sort(F.collect_list(kept)), lambda x: x["line"]),
        ).alias("clean_text"),
        F.count(kept).alias("n_kept"),
        F.count(F.col("_dup")).alias("n_dropped"),
    )


def linear_model_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Quality-classifier INFERENCE as pure expressions: a fastText-
    style linear model over bag-of-tokens, scored entirely JVM-side.
    Each token maps to a weight, the document logit is the mean token
    weight, and the score is the logistic of the logit — exactly the
    shape of a trained linear quality filter (e.g. the CCNet/GPT-3
    Wikipedia-vs-CommonCrawl classifiers), with the trained weight
    table replaced by a deterministic hash-derived weight so the result
    is reproducible cross-engine (DuckDB computes the identical score).

    Numeric discipline: token weights are INTEGERS in [0, 20011) (a
    modular hash of length/first/last chars), summed exactly as longs —
    order-insensitive, so the score is identical under any partitioning
    — and only the final mean/logistic is floating point (rounded 6dp).

    Scale shape: map-only (tokenize → transform → aggregate inside the
    scan stage); nothing shuffles. With REAL trained weights the lookup
    becomes ``weights[pmod(xxhash64(tok), dim)]`` against a broadcast
    weight array — same plan, one broadcast."""
    _P = 20011  # prime weight-table size; midpoint 10005 ≈ zero logit
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "), " "),
        lambda s: F.length(s) > 0,
    )
    w_int = lambda s: F.pmod(  # noqa: E731
        F.length(s).cast("long") * F.lit(2654435761)
        + F.ascii(F.substring(s, 1, 1)).cast("long") * F.lit(7919)
        + F.ascii(F.substring(s, -1, 1)).cast("long") * F.lit(104729),
        F.lit(_P),
    )
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("_n"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, s: acc + w_int(s)
        ).alias("_wsum"),
    )
    # zero-token (or NULL-text) docs have no evidence: score 0.5
    # exactly (logit 0) instead of an ANSI DIVIDE_BY_ZERO
    # (code-review r5)
    logit = F.when(
        F.col("_n") > 0,
        (F.col("_wsum").cast("double") / (F.col("_n") * F.lit(float(_P))))
        - F.lit(0.5),
    ).otherwise(F.lit(0.0))
    return base.select(
        id_col,
        F.col("_n").alias("n_tokens"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit * 8)), 6).alias(
            "model_score"
        ),
    )


def unigram_perplexity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Perplexity filtering (CCNet-style), with the KenLM n-gram model
    replaced by a corpus-fit add-one-smoothed UNIGRAM LM so the whole
    fit+score is two passes of pure relational algebra: p(tok) =
    (count(tok)+1) / (N+V) fit over the corpus, then per-doc
    ppl = exp(-mean ln p). High-perplexity docs are the gibberish /
    boilerplate tail a training pipeline drops.

    Plan: one token-count aggregation (the model fit — vocabulary-sized
    output), then exploded tokens join the frequency table (AQE
    broadcasts a small vocab; a web-scale vocab falls back to a
    shuffled join on the token, still linear) and re-aggregate per doc.
    Cross-engine determinism: ln is rounded to 6dp per token and the
    per-doc sum runs in DECIMAL — exact and order-insensitive — so the
    score is partitioning-stable (same discipline as tf_idf)."""
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "), " "),
        lambda s: F.length(s) > 0,
    )
    # Per-(doc, token) counts FIRST: the scoring join then moves one
    # row per distinct token per doc instead of one per occurrence
    # (natural text repeats tokens heavily — the skewed stopwords
    # collapse map-side), and Σ c_dt·round6(ln p) in DECIMAL is
    # EXACTLY Σ over occurrences of the rounded ln — bit-identical
    # output, strictly less shuffle volume.
    flat = df.select(F.col(id_col), F.explode(toks).alias("_tok"))
    # checkpoint tf: the fit branch (freq/totals) and the scoring join
    # both consume it — unmaterialized, Catalyst re-runs the corpus
    # tokenize/explode subtree 3x (code-review r5, plan-verified)
    tf = (
        flat.groupBy(id_col, "_tok")
        .agg(F.count(F.lit(1)).alias("_cdt"))
        .localCheckpoint(eager=False)
    )
    freq = tf.groupBy("_tok").agg(F.sum("_cdt").alias("_c"))
    totals = freq.agg(
        F.sum("_c").alias("_N"), F.count(F.lit(1)).alias("_V")
    )
    scored = (
        tf.join(freq, "_tok")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            "_cdt",
            (
                F.col("_cdt").cast("decimal(20,0)")
                * F.round(
                    F.log(
                        (F.col("_c") + 1).cast("double")
                        / (F.col("_N") + F.col("_V")).cast("double")
                    ),
                    6,
                ).cast("decimal(28,6)")
            ).alias("_lp"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("_lp").alias("_slp"), F.sum("_cdt").alias("n_tokens"))
        .select(
            id_col,
            "n_tokens",
            F.round(
                F.exp(-(F.col("_slp").cast("double") / F.col("n_tokens"))), 4
            ).alias("ppl"),
        )
    )


def ngram_perplexity(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """N-gram LM perplexity: the ``unigram_perplexity`` quality filter
    upgraded to conditional probabilities — p(tok | prev n-1 tokens) =
    (c(context, tok)+1) / (c(context)+V), add-one smoothed, fit over
    the corpus and scored per document. ``n=1`` reduces exactly to the
    unigram form (empty context, c('') = corpus token count).

    Plan: one explode into (doc, context, token) position rows, two
    count aggregations over it (the model fit — both keyed on the
    context, so AQE reuses the exchange), a 1-row vocabulary gate, and
    the per-doc re-aggregation. Same cross-engine determinism
    discipline as the unigram form: ln rounded 6dp per position,
    DECIMAL doc sums. Documents with < n tokens have no scorable
    positions and are omitted (a length gate runs before perplexity in
    any real pipeline)."""
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "), " "),
        lambda s: F.length(s) > 0,
    )
    base = df.select(F.col(id_col), toks.alias("_t")).filter(
        F.size("_t") >= n
    )
    pos = F.sequence(F.lit(n), F.size("_t"))
    grams = base.select(
        id_col,
        F.explode(
            F.transform(
                pos,
                lambda i: F.struct(
                    F.array_join(
                        F.slice("_t", i - (n - 1), n - 1), " "
                    ).alias("ctx"),
                    F.element_at("_t", i).alias("tok"),
                ),
            )
        ).alias("g"),
    ).select(id_col, "g.ctx", "g.tok")
    # per-(doc, ctx, tok) counts first — the scoring joins then move one
    # row per distinct (ctx, tok) per doc instead of one per position,
    # and Σ c·round6(ln p) in DECIMAL equals the per-position sum
    # exactly (same argument as unigram_perplexity)
    tfg = grams.groupBy(id_col, "ctx", "tok").agg(
        F.count(F.lit(1)).alias("_cg")
    ).localCheckpoint(eager=False)  # 3 consumers (code-review r5)
    c_ct = tfg.groupBy("ctx", "tok").agg(F.sum("_cg").alias("_cct"))
    c_c = tfg.groupBy("ctx").agg(F.sum("_cg").alias("_cc"))
    vocab = c_ct.agg(F.countDistinct("tok").alias("_V"))
    scored = (
        tfg.join(c_ct, ["ctx", "tok"])
        .join(c_c, "ctx")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            "_cg",
            (
                F.col("_cg").cast("decimal(20,0)")
                * F.round(
                    F.log(
                        (F.col("_cct") + 1).cast("double")
                        / (F.col("_cc") + F.col("_V")).cast("double")
                    ),
                    6,
                ).cast("decimal(28,6)")
            ).alias("_lp"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("_lp").alias("_slp"), F.sum("_cg").alias("n_scored"))
        .select(
            id_col,
            "n_scored",
            F.round(
                F.exp(-(F.col("_slp").cast("double") / F.col("n_scored"))), 4
            ).alias("ppl"),
        )
    )


def _gram_frame(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, array<int64> gram hashes) — tokenized + gram-hashed ONCE
    and localCheckpoint'ed, because every span-dedup consumer (the
    doc-frequency aggregate, the position stream) reads it; without
    the checkpoint Catalyst re-evaluates the regex/slice/hash subtree
    per consumer (measured 2× query cost). ~2 KB/doc of longs —
    smaller than the text it replaces."""
    toks = ws_tokens(F.col(text_col))  # canon: no phantom '' tokens
    # hash token LONGS, not per-gram strings: xxhash64 over n token
    # hashes replaces the array_join slice allocation (the shingles()
    # trick, ~2x on the gram stage); the gram key is only ever a
    # grouping key, so any injective-up-to-2^-64 hash gives identical
    # span/dup/novelty results — the same collision contract the
    # string-hash form already carried vs the raw-string oracles
    base = df.select(
        F.col(id_col).alias("_id"),
        F.transform(toks, lambda s: F.xxhash64(s)).alias("_tokh"),
    ).filter(F.size("_tokh") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_tokh") - (n - 1)),
        lambda i: F.xxhash64(*[F.try_element_at("_tokh", i + j) for j in range(n)]),
    )
    return base.select("_id", grams.alias("_grams")).localCheckpoint(eager=False)


def _dup_gram_freq(with_grams: DataFrame, min_docs: int) -> DataFrame:
    """Gram keys present in >= min_docs DISTINCT docs (ids only)."""
    return (
        with_grams.select("_id", F.explode(F.array_distinct("_grams")).alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_g")
    )


def duplicated_span_stats(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    flag_share: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication signal (the span-dedup family of
    "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2021, arXiv:2107.06499 — suffix-array spans re-expressed
    relationally as fixed-length word n-gram positions): for each
    document, the share of its n-gram POSITIONS whose n-gram also
    occurs in >= ``min_docs`` distinct documents. A doc whose text is
    largely stitched from corpus-repeated spans gets dup_share -> 1
    (mirror/boilerplate pages); ``flag_cut`` marks docs above
    ``flag_share`` for trimming or dropping.

    Plan shape: the text is tokenized and gram-hashed ONCE into a
    (doc, array<int64>) frame that is localCheckpoint'ed — ~2 KB/doc of
    xxhash64 gram ids, smaller than the text itself — because BOTH the
    doc-frequency aggregate and the position stream read it (without
    the checkpoint Catalyst re-evaluates the whole regex/slice/hash
    subtree per consumer, which measured 2× the query cost). Gram
    doc-frequency is then a distinct-per-doc explode + count (map-side
    partials collapse the skewed ultra-common grams) and the position
    stream semi-joins it on the int64 gram key before re-aggregating
    per doc. Two key-shuffles total, both carrying longs — payload
    text never shuffles. At 100 TB the ≥min_docs frequency table is
    far smaller than the vocabulary and lands behind AQE's broadcast
    decision; the fallback shuffled join stays linear. Determinism:
    counts and an int/int ratio rounded to 6dp — no float-sum ordering
    anywhere (gram identity via 64-bit hash: collisions ~n²/2⁶⁴,
    vanishing at any realistic vocabulary)."""
    with_grams = _gram_frame(df, n, text_col, id_col)
    freq = _dup_gram_freq(with_grams, min_docs)
    pos = with_grams.select("_id", F.explode("_grams").alias("_g"))
    dup = (
        pos.join(freq, "_g", "left_semi")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_dup_positions"))
    )
    totals = with_grams.select("_id", F.size("_grams").alias("n_grams"))
    share = F.round(
        F.col("n_dup_positions").cast("double") / F.col("n_grams"), 6
    )
    return (
        totals.join(dup, "_id", "left")
        .na.fill({"n_dup_positions": 0})
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "n_dup_positions",
            share.alias("dup_share"),
            (share >= flag_share).alias("flag_cut"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target_filter: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-shaped data selection (Xie et al. 2023, arXiv:2302.03169
    "Data Selection for Language Models via Importance Resampling"):
    importance of a raw document toward a target distribution as the
    per-token mean log-likelihood ratio ln p_target(tok) - ln p_raw(tok)
    under two add-one-smoothed unigram LMs — one fit on the rows where
    ``target_filter`` holds, one on the full corpus. (DSIR's hashed
    bigram features reduce to this exact relational form for a unigram
    feature map.) Positive ``log_ratio`` means the doc looks more like
    the target than the background; ``keep`` marks those rows — the
    resampling step then feeds sample_* operators.

    Plan shape: token explode feeds BOTH LM fits (two vocabulary-sized
    aggregations, the target one over a filtered slice), then one join
    of the token stream against the merged frequency table and a
    per-doc re-aggregation — three key-shuffles on the token, payload
    never shuffles, every expression JVM-side. Determinism: per-token
    ln rounded to 6dp then DECIMAL-summed (order-insensitive), the
    same discipline as unigram_perplexity."""
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "), " "),
        lambda s: F.length(s) > 0,
    )
    flat = df.select(
        F.col(id_col), target_filter.alias("_tgt"), F.explode(toks).alias("_tok")
    )
    # per-(doc, token) counts first — the scoring join moves one row per
    # distinct token per doc, and the c·round6(ln) DECIMAL sums equal
    # the per-occurrence sums exactly (the unigram_perplexity argument)
    tf = flat.groupBy(id_col, "_tok").agg(
        F.count(F.lit(1)).alias("_cdt"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("_cdt_t"),
    ).localCheckpoint(eager=False)  # fit + scoring consumers (code-review r5)
    freq = tf.groupBy("_tok").agg(
        F.sum("_cdt").alias("_cr"),
        F.sum("_cdt_t").alias("_ct"),
    )
    totals = freq.agg(
        F.sum("_cr").alias("_Nr"),
        F.sum("_ct").alias("_Nt"),
        F.count(F.lit(1)).alias("_V"),
    )
    lp = lambda c, n: F.round(  # noqa: E731
        F.log((F.col(c) + 1).cast("double") / (F.col(n) + F.col("_V")).cast("double")),
        6,
    ).cast("decimal(28,6)")
    scored = (
        tf.join(freq, "_tok")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            "_cdt",
            (
                F.col("_cdt").cast("decimal(20,0)")
                * (lp("_ct", "_Nt") - lp("_cr", "_Nr"))
            ).alias("_lr"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("_lr").alias("_slr"), F.sum("_cdt").alias("n_tokens"))
        .select(
            id_col,
            "n_tokens",
            F.round(F.col("_slr").cast("double") / F.col("n_tokens"), 6).alias(
                "log_ratio"
            ),
        )
        .withColumn("keep", F.col("log_ratio") > 0)
    )


def longest_dup_span(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    trim_at: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Longest corpus-duplicated span per document, in tokens — the
    trim-decision statistic of Lee et al. 2021 (arXiv:2107.06499 drops
    duplicated spans ≥ 50 tokens): consecutive duplicated n-gram
    positions form islands, and an island of L positions is a
    duplicated span of L + n − 1 tokens. Output: docs with at least one
    duplicated position, their longest span, how many distinct islands
    they carry, and a ``trim`` flag at ``trim_at`` tokens.

    Plan shape: reuses the checkpointed gram frame and the ≥min_docs
    frequency cut of duplicated_span_stats, then ONE partitioned
    window (per-doc position order) turns positions into islands via
    gaps-and-islands (pos − row_number is constant within an island) —
    scale-safe because the window key is the doc id. All-integer."""
    with_grams = _gram_frame(df, n, text_col, id_col)
    freq = _dup_gram_freq(with_grams, min_docs)
    pos = with_grams.select(
        "_id", F.posexplode("_grams").alias("_pos", "_g")
    )
    dup_pos = pos.join(freq, "_g", "left_semi").select("_id", "_pos")
    w = Window.partitionBy("_id").orderBy("_pos")
    islands = dup_pos.select(
        "_id", (F.col("_pos") - F.row_number().over(w)).alias("_run")
    )
    runs = islands.groupBy("_id", "_run").agg(F.count(F.lit(1)).alias("_len"))
    span = F.col("_maxrun") + F.lit(n - 1)
    return (
        runs.groupBy("_id")
        .agg(F.max("_len").alias("_maxrun"), F.count(F.lit(1)).alias("n_spans"))
        .select(
            F.col("_id").alias(id_col),
            span.alias("longest_span_tokens"),
            "n_spans",
            (span >= trim_at).alias("trim"),
        )
    )


def ngram_novelty(
    df: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document novelty: the share of a doc's DISTINCT word
    n-grams that appear in no other document — the "how much unseen
    content does this doc add" selection signal (the distinct-gram
    complement of duplicated_span_stats' position-level dup_share;
    high novelty = keep for diversity, near-zero = the corpus already
    has it).

    Reuses the checkpointed xxhash64 gram frame, so only 8-byte gram
    hashes shuffle for the doc-frequency aggregate (vocabulary-sized,
    orders smaller than the corpus at 100 TB); the join-back is on the
    same hashed key. Docs with fewer than n tokens have no grams and
    are absent from the output (they carry no n-gram evidence either
    way)."""
    g = _gram_frame(df, n, text_col, id_col)
    flat = g.select("_id", F.explode(F.array_distinct("_grams")).alias("_g"))
    dfreq = flat.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    return (
        flat.join(dfreq, "_g")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_distinct_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_distinct_grams"), 6
            ).alias("novelty"),
        )
    )


def zipf_fit(
    df: DataFrame,
    top_k: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Zipf power-law fit over the corpus token frequencies: OLS of
    ln(freq) on ln(rank) for the top_k types — the one-row corpus
    health check (natural text sits near slope −1; a slope collapsing
    toward 0 means boilerplate flooding, a cliff past −1.5 means the
    corpus lost its long tail). Output: (n_types, slope_r4,
    intercept_r4).

    The rank window runs over the VOCABULARY frame (types, orders
    smaller than the corpus — the text_vocab_coverage sanctioned
    class); the OLS sums are ORDERED folds over the rank-sorted
    (x, y) array on one row, so the float sums are engine-exact (the
    BM25 non-associativity argument, here over top_k elements)."""
    flat = df.select(F.explode(ws_tokens(F.col(text_col))).alias("tok"))
    freq = flat.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    ranked = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.struct(
                F.col("rank"),
                F.log(F.col("rank").cast("double")).alias("x"),
                F.log(F.col("c").cast("double")).alias("y"),
            ).alias("_p")
        )
    )
    arr = ranked.agg(F.array_sort(F.collect_list("_p")).alias("_a"))

    def fold(expr):
        return F.aggregate("_a", F.lit(0.0), lambda acc, p: acc + expr(p))

    n = F.size("_a").cast("double")
    sx = fold(lambda p: p["x"])
    sy = fold(lambda p: p["y"])
    sxy = fold(lambda p: p["x"] * p["y"])
    sxx = fold(lambda p: p["x"] * p["x"])
    # degenerate corpora (0 or 1 distinct types) have no defined fit:
    # the variance denominator is 0 and ANSI mode would raise
    # DIVIDE_BY_ZERO — degrade to NULL slope/intercept instead. The
    # guards never change the value on a fittable corpus, so the
    # oracle expression stays identical there.
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    return arr.select(
        F.size("_a").alias("n_types"),
        F.round(slope, 4).alias("slope_r4"),
        F.round(F.when(n > 0, (sy - slope * sx) / n), 4).alias("intercept_r4"),
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token-type Shannon entropy, H = ln(n) − (Σ c·ln c)/n
    over the doc's token-type counts — the diversity/repetition signal
    a quality pass reads next to repetition_features (H → 0 means one
    token dominates; H ≈ ln(n_types) means a flat distribution;
    boilerplate and keyword-stuffed docs sit low).

    Engine-exact by the perplexity recipe: each c·ln(c) term rounds to
    6dp and sums as DECIMAL (order-insensitive exact addition — no
    ordered fold needed), so the 4dp entropy hash-matches at any
    partitioning. One explode + one (doc, token) aggregate; only token
    strings shuffle."""
    flat = df.select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("tok")
    )
    counts = flat.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    term = F.round(
        F.col("c").cast("double") * F.log(F.col("c").cast("double")), 6
    ).cast("decimal(28,6)")
    per = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(term).alias("_s"),
    )
    return per.select(
        F.col(id_col),
        "n_tokens",
        "n_types",
        F.round(
            F.log(F.col("n_tokens").cast("double"))
            - F.col("_s").cast("double") / F.col("n_tokens"),
            4,
        ).alias("entropy_r4"),
    )


GOPHER_STOPWORDS = ("the", "and", "of", "to", "a", "in", "for")


def gopher_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style document quality rules (arXiv:2112.11446 §A1.1,
    adapted): per-doc booleans for word count in [50, 100k], mean word
    length in [3, 10], symbol-to-word ratio (#/ellipsis) < 0.1, ≥ 80%
    of words containing an alphabetic character, and ≥ 2 distinct
    stopwords present; ``keep`` is their conjunction. The classic
    rule-bundle front gate of an LLM curation pipeline, beside the
    learned quality model.

    Pure map-side expressions — split/regexp/array ops fused into the
    scan, no shuffle at all; regexes are plain character classes so
    Java regex (Spark) and RE2 (DuckDB) agree. NULL or empty text
    degrades to zero words (every rule false, keep false) instead of a
    DIVIDE_BY_ZERO — the ratio denominators clamp to 1, which never
    changes a non-empty doc's booleans."""
    c = F.col(text_col)
    toks = ws_tokens(c, null_as_empty=True)
    n_words = F.size(toks)
    nz = F.greatest(n_words, F.lit(1))
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_wl = sum_len.cast("double") / nz
    n_symbol = F.coalesce(
        F.size(F.regexp_extract_all(c, F.lit(r"(#|\.\.\.)"), F.lit(0))), F.lit(0)
    )
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        ((n_words >= 50) & (n_words <= 100000)).alias("ok_word_count"),
        ((mean_wl >= 3.0) & (mean_wl <= 10.0)).alias("ok_mean_word_len"),
        (n_symbol.cast("double") / nz < 0.1).alias("ok_symbol_ratio"),
        (n_alpha.cast("double") / nz >= 0.8).alias("ok_alpha_share"),
        (n_stop >= 2).alias("ok_stopwords"),
    )
    keep = (
        F.col("ok_word_count")
        & F.col("ok_mean_word_len")
        & F.col("ok_symbol_ratio")
        & F.col("ok_alpha_share")
        & F.col("ok_stopwords")
    )
    return out.withColumn("keep", keep)


def bpe_learn(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch: int = 1,
    driver_vocab_cap: int = 65_536,
) -> DataFrame:
    """Iterated BPE tokenizer training (Sennrich et al. 2016,
    arXiv:1508.07909): learn ``n_merges`` merge rules by repeatedly
    taking the frequency-weighted argmax adjacent token pair and
    rewriting the working vocabulary — the actual trainer whose single
    inner-loop statistic text_bpe_merge_candidates exposes.

    Output: (rank, left, right, merged, pair_count) — one row per
    learned rule, in learning order, with a total
    (count desc, left asc, right asc) argmax tie-break; pair_count is
    the count at the START of the rule's round.

    ``batch`` > 1 learns up to ``batch`` rules per round (the standard
    parallel-BPE trick, VERDICT r6 item 5): from the round's top
    4·batch pairs in (count desc, left, right) order, a candidate is
    eligible iff its two tokens are DISJOINT from every higher-ranked
    candidate's tokens (so the selected rules are pairwise disjoint —
    their pre-round counts stay valid and their rewrites commute); the
    first ``batch`` eligible pairs apply in one rewrite pass. This is
    a deterministic, window-expressible schedule (the DuckDB oracle
    replays it exactly); batch=1 degenerates to the classic
    one-rule-per-round argmax, bit-identical to the original trainer.

    Scale shape — the classic BPE insight made relational: the corpus
    is scanned ONCE for word counts; every merge round then runs on
    the VOCABULARY frame (distinct words × counts — orders smaller
    than the corpus), so round cost is independent of corpus size.
    Each round is one pair-explode aggregate (candidate argmax via a
    ≤4·batch-row bounded collect, the kmeans/kcenter driver-iteration
    footprint) plus a map-side fold rewrite, checkpointed so plans
    stay flat — and batching divides the driver-round count (the
    ≈0.2 s/round fixed cost that dominates 10k-rule training) by up
    to ``batch``. The fold applies each merge greedily left-to-right
    (an 'aaa' run under merge (a,a) becomes ('aa','a') — the
    reference implementation's semantics).

    r14 (optimization): after the one corpus-sized aggregation, the
    merge rounds run over the VOCABULARY — and when that vocabulary
    is driver-small, paying a Spark job per round is pure scheduler
    overhead (measured ~0.4 s/round over a 31-row vocab at sf0.1).
    The word-count table is probed with a BOUNDED ``limit(cap+1)``
    collect (never more than ``driver_vocab_cap + 1`` rows cross to
    the driver — the kmeans/boundary-sample bounded-collect pattern);
    if it fits, the remaining rounds replay through ``py_bpe_learn``
    (``batch == 1``) or ``py_bpe_learn_batched`` (``batch > 1``), the
    incremental driver trainers whose schedules are pinned
    BIT-IDENTICAL to this loop by the parity tests — same weighted
    pair counts, same (count desc, left, right) candidate ranking,
    same disjointness exclusion, same greedy folds. Over the cap
    (web-scale vocabularies) the distributed rounds run exactly as
    before; ``driver_vocab_cap=0`` forces the distributed path (tests
    pin the two paths against each other)."""
    wc = (
        df.select(F.explode(ws_tokens(F.col(text_col))).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    out_schema = (
        "rank int, left string, right string, merged string, pair_count long"
    )
    if driver_vocab_cap > 0:
        # Pin the corpus-sized aggregation before probing it (ADVICE
        # r14): without this the over-cap fallback recomputed the
        # heaviest job — once for the probe, again for the distributed
        # loop — exactly on the web-scale inputs the fallback exists
        # for. The lazy local checkpoint caches partitions as the probe
        # computes them and completes the rest on demand.
        wc = wc.localCheckpoint(eager=False)
        head = wc.limit(driver_vocab_cap + 1).collect()
        if len(head) <= driver_vocab_cap:
            counts = {r["_w"]: r["_n"] for r in head}
            rules = (
                py_bpe_learn(counts, n_merges)
                if batch == 1
                else py_bpe_learn_batched(counts, n_merges, batch)
            )
            return local_frame(df.sparkSession, rules, out_schema)
    vocab = (
        wc.select(F.split(F.col("_w"), "").alias("_t"), "_n")
        .localCheckpoint(eager=False)
    )
    merges = []
    while len(merges) < n_merges:
        cand_rows = (
            vocab.select(
                "_n",
                F.explode(
                    # sequence(1, 0) DESCENDS in Spark, it is not empty
                    # -> guard 1-token words to an empty pair array
                    F.when(
                        F.size("_t") > 1,
                        F.transform(
                            F.sequence(F.lit(1), F.size("_t") - 1),
                            lambda i: F.struct(
                                F.element_at("_t", i).alias("l"),
                                F.element_at("_t", i + 1).alias("r"),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast("array<struct<l:string,r:string>>")
                    )
                ).alias("_p"),
            )
            .groupBy(F.col("_p.l").alias("l"), F.col("_p.r").alias("r"))
            .agg(F.sum("_n").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(4 * batch)
            .collect()
        )
        if not cand_rows:
            break
        # greedy disjoint selection over the ranked candidates: a pair
        # is skipped if either of its tokens appears among ANY
        # higher-ranked candidate's tokens OR merged output (selected
        # or not — that's what a SQL window over preceding rows can
        # express). Token-disjointness makes the selected rewrites
        # commute; the merged-output exclusion closes the one hole in
        # that argument (a later rule consuming tokens an earlier
        # selected rule CREATES — e.g. (a,b) then (ab,d) — would make
        # sequential folds diverge from the oracle's simultaneous
        # marking).
        sel: list = []
        prev_tokens: set = set()
        for row in cand_rows:
            a, b = row["l"], row["r"]
            if a not in prev_tokens and b not in prev_tokens:
                sel.append((a, b, row["c"]))
                if len(sel) == min(batch, n_merges - len(merges)):
                    break
            prev_tokens.update((a, b, a + b))
        for a, b, cnt in sel:
            merges.append((len(merges) + 1, a, b, a + b, cnt))
        # disjoint rules commute: apply the batch as chained folds
        col = F.col("_t")
        for a, b, _ in sel:
            col = _bpe_fold(col, a, b)
        vocab = vocab.select(col.alias("_t"), "_n").localCheckpoint(
            eager=False
        )
    return local_frame(df.sparkSession, merges, out_schema)


def py_bpe_learn(
    word_counts: dict[str, int], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Driver-side BPE trainer over a word-count dict — the SAME merge
    sequence as bpe_learn (identical weighted pair counts, identical
    (count desc, left, right) argmax, identical greedy left-to-right
    rewrite), computed incrementally: pair counts update only for the
    words the chosen merge touches (a pair→words index), and the
    argmax is a lazy-deletion heap — O(touched words) per round, so
    1k+ rule lists train in seconds.

    This is the rule-list GENERATOR for production-size encode tests
    and benches (bpe_encode's Arrow engine consumes 30k-rule lists;
    bpe_learn at 1 Spark round per rule is the wrong tool to mint
    them). Training from a bounded corpus sample is the standard
    tokenizer workflow; the sample's word counts are the bounded
    artifact this takes as input. Parity with bpe_learn is pinned in
    tests/test_ext_ops."""
    import heapq

    vocab: list[list] = []  # [tokens, weight] per distinct word
    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for w, n in word_counts.items():
        toks = list(w)
        idx = len(vocab)
        vocab.append([toks, n])
        for i in range(len(toks) - 1):
            p = (toks[i], toks[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + n
            where.setdefault(p, set()).add(idx)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)
    out: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            # lazy deletion: only a heap entry matching the CURRENT
            # count is live — stale entries (count since changed) skip
            if -negc > 0 and pair_counts.get(p, 0) == -negc:
                best = (p, -negc)
                break
        if best is None:
            break
        (left, right), c = best
        out.append((rank, left, right, left + right, c))
        for idx in where.pop((left, right), set()):
            toks, n = vocab[idx]
            if len(toks) < 2:
                continue
            for i in range(len(toks) - 1):
                q = (toks[i], toks[i + 1])
                nc = pair_counts.get(q, 0) - n
                pair_counts[q] = nc
                heapq.heappush(heap, (-nc, q))
            new = _bpe_merge_pass_py(toks, left, right)
            vocab[idx][0] = new
            for i in range(len(new) - 1):
                q = (new[i], new[i + 1])
                nc = pair_counts.get(q, 0) + n
                pair_counts[q] = nc
                where.setdefault(q, set()).add(idx)
                heapq.heappush(heap, (-nc, q))
        pair_counts.pop((left, right), None)
    return out


def py_bpe_learn_batched(
    word_counts: dict[str, int], n_merges: int, batch: int
) -> list[tuple[int, str, str, str, int]]:
    """Driver-side replay of bpe_learn's BATCHED rounds — a verbatim
    twin of the distributed loop (r14): per round, rank pairs by
    (count desc, left, right), walk the top 4·batch candidates with
    the SAME greedy disjoint selection (a candidate is skipped when
    either token appeared among any higher-ranked candidate's tokens
    OR merged output — updated for every walked row, selected or
    not), select up to ``batch`` rules, apply them as chained greedy
    left-to-right folds in selection order, recount. Counts are
    recomputed per round (the cap bounds the vocab, and round counts
    are what the schedule is DEFINED over), so equivalence with the
    relational loop is by construction; parity is pinned in
    test_ext_ops against the distributed path."""
    vocab: list[list] = [[list(w), n] for w, n in word_counts.items()]
    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < n_merges:
        pc: dict[tuple[str, str], int] = {}
        for toks, n in vocab:
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                pc[p] = pc.get(p, 0) + n
        if not pc:
            break
        cand = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[
            : 4 * batch
        ]
        sel: list[tuple[str, str, int]] = []
        prev: set[str] = set()
        for (a, b), c in cand:
            if a not in prev and b not in prev:
                sel.append((a, b, c))
                if len(sel) == min(batch, n_merges - len(merges)):
                    break
            prev.update((a, b, a + b))
        for a, b, c in sel:
            merges.append((len(merges) + 1, a, b, a + b, c))
        for a, b, _ in sel:
            for entry in vocab:
                entry[0] = _bpe_merge_pass_py(entry[0], a, b)
    return merges


def _bpe_fold(tokens_col, left: str, right: str):
    """Greedy left-to-right application of ONE merge (left,right) to a
    token array — the rewrite shared by training (bpe_learn) and
    encoding (bpe_encode). An 'aaa' run under merge (a,a) becomes
    ('aa','a'): a just-merged token never re-merges as the LEFT side
    within the same pass (reference BPE semantics)."""
    return F.aggregate(
        tokens_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(left + right)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_merge_pass_py(toks: list[str], left: str, right: str) -> list[str]:
    """Pure-Python twin of _bpe_fold: ONE greedy left-to-right pass of
    merge (left,right) over a token list ('aaa' under (a,a) →
    ('aa','a'))."""
    acc: list[str] = []
    for x in toks:
        if acc and acc[-1] == left and x == right:
            acc[-1] = left + right
        else:
            acc.append(x)
    return acc


def bpe_rules_sequential_safe(merges: list[tuple[str, str]]) -> bool:
    """Is rank-priority merging provably equivalent to the sequential
    per-rule fold for this rule list?

    True iff (a) every multi-character rule component is the merged
    output of a UNIQUE earlier rule (well-formedness — the invariant
    every LEARNED list satisfies by construction: a pair can only be
    counted once its parts exist), and (b) no two rules produce the
    same merged string (unique derivation). Under (a)+(b) a rule's
    pair can never REAPPEAR after its pass — the only creator of its
    component tokens runs strictly earlier — so both algorithms apply
    exactly one pass per applicable rule in increasing rank order and
    produce identical tokenizations. Hand-written lists violating
    either condition take the (slower, always-correct) sequential
    path in bpe_encode's Arrow engine."""
    produced: set[str] = set()
    for left, right in merges:
        for comp in (left, right):
            if len(comp) > 1 and comp not in produced:
                return False
        m = left + right
        if m in produced:
            return False
        produced.add(m)
    return True


def _bpe_word_tokens_py(
    word: str,
    rules: list[tuple[str, str]],
    ranks: dict[tuple[str, str], int],
    fast: bool,
) -> list[str]:
    """Tokenize ONE word with the full rule list, Python-side.

    fast=True (sequential-safe lists): classic priority merging — find
    the lowest-ranked pair present, run its greedy pass, repeat. Cost
    is O(applied merges × |word|), INDEPENDENT of rule-list size — the
    property that makes 30k-rule production tokenizers tractable where
    30k sequential passes (or a 30k-deep column-fold expression tree)
    are not. fast=False: the definitional sequential per-rule fold."""
    toks = list(word)
    if len(toks) < 2:
        return toks
    if fast:
        while True:
            best = -1
            for i in range(len(toks) - 1):
                r = ranks.get((toks[i], toks[i + 1]), -1)
                if r >= 0 and (best < 0 or r < best):
                    best = r
            if best < 0:
                break
            toks = _bpe_merge_pass_py(toks, *rules[best])
    else:
        for left, right in rules:
            if len(toks) < 2:
                break
            toks = _bpe_merge_pass_py(toks, left, right)
    return toks


# 'auto' engine switch point: 'fold' (pure-JVM chained column folds) up
# to this many rules, 'arrow' beyond. MEASURED, not asserted (VERDICT
# r7 item 7, the since-deleted tools/bench_bpe_crossover.py + a
# 200k-word synthetic-vocab probe, both median-of-3): arrow wins at
# EVERY size on both the
# testdata corpus (8 rules: 0.94 s vs fold 1.46 s; 128 rules: 0.64 vs
# 6.4 s at sf0.1) and a wide 200k-word vocabulary (8 rules: 1.7 s vs
# 12.7 s; 32 rules: 0.95 s vs 38 s — fold's per-rule plan/codegen and
# per-rule passes over the vocab frame dominate long before any Python
# overhead matters). So the measured crossover is 0: 'auto' is always
# 'arrow'. The fold engine stays available explicitly (engine="fold")
# as the no-Python-worker fallback, held bit-identical by the parity
# pytests.
_BPE_AUTO_FOLD_MAX = 0


def _bpe_arrow_ctx(merges):
    """(rules, ranks, fast) shared by bpe_encode / bpe_encode_tokens'
    Arrow engines — one construction of the rule list, rank index, and
    the sequential-safety gate decision, so the count path and the
    token-sequence path can never drift (code-review r7 wave 2)."""
    rules = [(left, right) for left, right in merges]
    ranks = {pr: i for i, pr in enumerate(rules)}
    return rules, ranks, bpe_rules_sequential_safe(rules)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "auto",
) -> DataFrame:
    """Apply a learned BPE merge list to the corpus — the ENCODE half
    of the tokenizer (bpe_learn trains the rules; this tokenizes with
    them). Per document: whitespace words → character tokens → each
    merge applied greedily left-to-right in rank order (identical fold
    to training, so train→encode round-trips are self-consistent).

    Output: (doc_id, n_words, n_chars, n_bpe_tokens, chars_per_token)
    — the corpus token accounting a training run reads for budget
    math; chars_per_token is the achieved compression.

    Scale shape — the word-cache insight: merges apply to DISTINCT
    words (the vocabulary frame, orders smaller than the corpus), and
    per-word token counts join back to the word instances. One word
    shuffle for the distinct, map-side vocabulary rewrite, one join
    back (word-keyed; at 100 TB this is the standard shuffle join both
    sides partition on the word). ``merges`` is a driver-side
    constant — a tokenizer model is a bounded artifact (the
    k-means-parameter class).

    ``engine`` picks the vocabulary rewrite (VERDICT r6 item 1):
    - 'fold': one chained JVM column fold per rule — whole-stage
      codegen, zero Python, ideal for short lists, but the expression
      tree grows with the rule count (a 30k-rule list would build a
      30k-deep plan: analysis/codegen blowup).
    - 'arrow': ONE Arrow-batched pandas UDF carrying the whole rule
      list; per word it runs priority merging (cost independent of
      list size) when bpe_rules_sequential_safe proves it equivalent
      to the fold, else the literal sequential passes. Bit-identical
      to 'fold' either way (pinned by the 8-rule DuckDB oracle, a
      fold-vs-arrow pytest, and a 1k-rule python-reference pytest).
    - 'auto': 'arrow' — measured fastest at every rule-list size and
      vocabulary width tried (see _BPE_AUTO_FOLD_MAX); pass
      engine='fold' explicitly for the no-Python-worker path."""
    if engine == "auto":
        engine = "fold" if len(merges) <= _BPE_AUTO_FOLD_MAX else "arrow"
    words = df.select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("_w")
    )
    vocab = words.select("_w").distinct()
    if engine == "fold":
        vocab = vocab.withColumn("_t", F.split("_w", ""))
        for i, (left, right) in enumerate(merges, 1):
            vocab = vocab.withColumn("_t", _bpe_fold("_t", left, right))
            if i % 64 == 0:
                # bound the expression-tree depth: past ~1k chained
                # folds the analyzer's recursion overflows the JVM
                # stack (observed at 1024); materializing the small
                # vocabulary frame every 64 rules keeps each segment's
                # plan shallow with identical semantics
                vocab = vocab.localCheckpoint(eager=True)
        n_tokens = F.size("_t")
    elif engine == "arrow":
        from pyspark.sql.functions import pandas_udf

        rules, ranks, fast = _bpe_arrow_ctx(merges)

        @pandas_udf("int")
        def _bpe_ntokens(w):  # pd.Series[str] -> pd.Series[int]
            return w.map(
                lambda s: len(_bpe_word_tokens_py(s, rules, ranks, fast))
            )

        vocab = vocab.withColumn("_t_n", _bpe_ntokens(F.col("_w")))
        n_tokens = F.col("_t_n")
    else:
        raise ValueError(f"engine must be auto|fold|arrow, got {engine!r}")
    vlen = vocab.select(
        "_w",
        F.length("_w").alias("_cl"),
        n_tokens.alias("_bl"),
    )
    return (
        words.join(vlen, "_w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_cl").alias("n_chars"),
            F.sum("_bl").alias("n_bpe_tokens"),
            F.round(
                F.sum("_cl").cast("double") / F.sum("_bl"), 4
            ).alias("chars_per_token"),
        )
    )


def bpe_encode_tokens(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "auto",
) -> DataFrame:
    """Tokenize the corpus and return the actual per-document TOKEN
    SEQUENCE in document order — what a training pipeline feeds the
    model (bpe_encode returns only the count accounting). Output:
    (id_col, tokens array<string>); documents with no words produce no
    row, matching bpe_encode.

    Scale shape: the same word-cache plan as bpe_encode (merges fold
    over the DISTINCT-word frame, word-keyed join back) with word
    POSITION carried through, so per-document reassembly is a
    collect_list of (pos, word-tokens) sorted in-plan and flattened —
    the per-group buffer is bounded by document length (the
    text_chunking class), never corpus-sized, and document order is
    deterministic regardless of partitioning. ``engine`` mirrors
    bpe_encode exactly (code-review r7: the production-size 30k-rule
    list this function's use case implies must not compile 30k chained
    folds): 'fold' = per-rule JVM folds, 'arrow' = one pandas UDF
    returning each word's token array via priority merging with the
    sequential-safety gate, 'auto' = arrow (measured fastest at every
    size — see _BPE_AUTO_FOLD_MAX)."""
    if engine == "auto":
        engine = "fold" if len(merges) <= _BPE_AUTO_FOLD_MAX else "arrow"
    words = df.select(
        F.col(id_col),
        F.posexplode(ws_tokens(F.col(text_col))).alias("_pos", "_w"),
    )
    vocab = words.select("_w").distinct()
    if engine == "fold":
        vocab = vocab.withColumn("_t", F.split("_w", ""))
        for i, (left, right) in enumerate(merges, 1):
            vocab = vocab.withColumn("_t", _bpe_fold("_t", left, right))
            if i % 64 == 0:
                vocab = vocab.localCheckpoint(eager=True)  # see bpe_encode
    elif engine == "arrow":
        from pyspark.sql.functions import pandas_udf

        rules, ranks, fast = _bpe_arrow_ctx(merges)

        @pandas_udf("array<string>")
        def _bpe_tokens(w):  # pd.Series[str] -> pd.Series[list[str]]
            return w.map(lambda s: _bpe_word_tokens_py(s, rules, ranks, fast))

        vocab = vocab.withColumn("_t", _bpe_tokens(F.col("_w")))
    else:
        raise ValueError(f"engine must be auto|fold|arrow, got {engine!r}")
    return (
        words.join(vocab, "_w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_t"))),
                    lambda s: s["_t"],
                )
            ).alias("tokens")
        )
    )

"""Text-analysis operators for training-data pipelines.

All JVM-native (split / higher-order array functions / regexp) — no Python
UDFs, so they run inside whole-stage codegen at full scan throughput.

- quality stats: token counts, type-token ratio, stopword ratio, length
  shape — the usual cheap quality-filter features.
- token counting: whitespace tokens plus a BPE-ish regex token count
  (letter runs / digit runs / other symbols).
- language-ID: profile-based n-gram heuristic — build per-language top-N
  token profiles from a labeled sample, classify by profile overlap.
  (Two aggregations + one equi-join; profiles are tiny and broadcast.)
- fingerprinting: bottom-k sketch of md5 shingle hashes per document
  (winnowing-style); md5 keeps fingerprints engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from skope_api_spark.operators.dedup import with_token_shingles

STOPWORDS = ("a", "the")
BPE_ISH = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def quality_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality features.

    avg_token_len uses the identity (chars - separators) / n for
    single-space-separated text — no per-token length pass needed.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).alias("n_chars"),
        n.cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct_tokens"),
        F.round(F.size(F.array_distinct(toks)) / n, 4).alias("type_token_ratio"),
        F.round((F.length(text_col) - (n - 1)) / n, 4).alias("avg_token_len"),
        F.round(n_stop / n, 4).alias("stopword_ratio"),
    )


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace token count and a BPE-ish regex token count."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " ")).cast("int").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH), 0))
        .cast("int")
        .alias("n_bpe_tokens"),
    )


def langid_profiles(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    *,
    top_n: int = 10,
) -> DataFrame:
    """Per-language profile: top-N tokens by frequency (ties → token asc)."""
    tok = df.select(
        F.col(lang_col).alias("profile_lang"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    counts = tok.groupBy("profile_lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("profile_lang").orderBy(F.desc("n"), "tok")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_n)
        .select("profile_lang", "tok")
    )


def langid_classify(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    *,
    top_n: int = 10,
) -> DataFrame:
    """Classify each doc as the language whose profile overlaps most.

    Overlap = |distinct doc tokens ∩ profile| ; ties break lang-ascending.
    Profiles are tiny ((#langs · top_n) rows) → broadcast equi-join on token.
    Returns (doc_id, lang, predicted_lang, overlap).
    """
    profiles = langid_profiles(df, text_col, lang_col, top_n=top_n)
    doc_toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    overlaps = (
        doc_toks.join(F.broadcast(profiles), "tok")
        .groupBy("doc_id", "profile_lang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("overlap"), "profile_lang")
    best = (
        overlaps.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("profile_lang").alias("predicted_lang"),
            F.col("overlap").cast("int").alias("overlap"),
        )
    )
    truth = df.select(F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang"))
    return truth.join(best, "doc_id", "left")


def bottomk_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    k: int = 4,
) -> DataFrame:
    """Bottom-k document fingerprint: the k smallest md5(shingle) digests.

    A winnowing-style sketch — documents sharing most shingles share most of
    the sketch. Returns (doc_id, rk, fp) rows, rk in 1..k.
    """
    sh = with_token_shingles(df, text_col, shingle_n, "shingles")
    ex = sh.select(
        F.col(id_col).alias("doc_id"), F.explode("shingles").alias("shingle")
    ).select("doc_id", F.md5("shingle").alias("fp"))
    w = W.partitionBy("doc_id").orderBy("fp")
    return (
        ex.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "fp")
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality features (Rae et al. 2021, §A1.1):
    the token fraction covered by the most frequent 2-gram and the
    duplicate-3-gram fraction. High values mark boilerplate/spam documents
    that repetition filters drop before training.

    Entirely per-row array math inside the scan projection — NO shuffle
    (the alternative explode→groupBy(doc, gram)→groupBy(doc) shape costs
    two corpus-sized shuffles for a per-document statistic). The
    max-gram-multiplicity is computed as a sorted-runs aggregate —
    O(grams log grams) per document. (The original
    count-per-distinct-gram form — transform(distinct, u ->
    size(filter(grams, x -> x = u))) — was O(grams²) per document; the
    r13 megadoc class measured it as a >90 s single row on a 30k-token
    doc, and .count() probes never see it because only a consumer that
    projects the column pays the projection.)
    """
    from skope_api_spark.operators.dedup import sliding_gram_sql

    toks = "__rep_toks"
    # 2.0D: a bare 2.0 literal parses as DECIMAL in Spark SQL, which would
    # propagate decimal(17,4) into the output instead of double.
    # Sorted-runs max multiplicity: sort the gram list, then one linear
    # aggregate tracking the current run length and the best run.
    top2 = (
        f"2.0D * aggregate(array_sort(__g2), "
        f"named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
        f"(a, x) -> named_struct("
        f"'prev', x, "
        f"'run', IF(a.prev <=> x, a.run + 1, 1), "
        f"'best', GREATEST(a.best, IF(a.prev <=> x, a.run + 1, 1))), "
        f"a -> a.best) / size({toks})"
    )
    # position-ordered gram lists via the zip-of-shifted-slices form
    # (sliding_gram_sql): the per-element lambda must not reference the
    # token array — see the r13 megadoc notes in operators/dedup.py.
    # sliding_gram_sql's CASE guard also covers the sequence(1, n)
    # DESCENDS-for-n<1 trap the old inline form guarded by hand; docs too
    # short for an n-gram get empty lists → NULL fractions, matching the
    # oracle (DuckDB list_max([]) and 0/0 → NULL).
    g2 = sliding_gram_sql(toks, 2)
    g3 = sliding_gram_sql(toks, 3)
    return (
        df.withColumn(toks, F.split(F.col(text_col), " "))
        .withColumn("__g2", F.expr(g2))
        .withColumn("__g3", F.expr(g3))
        .select(
            F.col(id_col).alias("doc_id"),
            F.when(F.size("__g2") > 0, F.round(F.expr(top2), 4)).alias(
                "top2gram_frac"
            ),
            F.when(
                F.size("__g3") > 0,
                F.round(
                    (F.size("__g3") - F.size(F.array_distinct("__g3")))
                    / F.size("__g3").cast("double"),
                    4,
                ),
            ).alias("dup3gram_frac"),
        )
    )


def decontaminate(
    df: DataFrame,
    probe_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    ``shingle_n``-gram with a probe (benchmark/eval) set — the standard
    n-gram-overlap contamination check run before training.

    Returns (doc_id, n_shared_grams) for contaminated documents only.
    Scale shape: the probe side is benchmark-sized (thousands of docs, not
    corpus-sized), so its distinct gram set is broadcast; the corpus scan
    explodes shingles once and semi-aggregates — one broadcast join, one
    groupBy(doc_id) shuffle of only the matching rows.
    """
    probe_grams = (
        with_token_shingles(probe_df, text_col, shingle_n, "shingles")
        .select(F.explode("shingles").alias("gram"))
        .distinct()
    )
    corpus = with_token_shingles(df, text_col, shingle_n, "shingles").select(
        F.col(id_col).alias("doc_id"), F.explode("shingles").alias("gram")
    )
    return (
        corpus.join(F.broadcast(probe_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_shared_grams"))
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the cheap stand-in for the LM-perplexity quality
    filter (CCNet-style): gibberish and off-distribution documents score
    low, fluent in-distribution text scores high.

    Two aggregations + one token-keyed join (vocabulary-sized side, no
    forced broadcast — AQE decides, same reasoning as TF-IDF). Returns
    (doc_id, n_tokens, mean_logprob).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # corpus total folded into the plan as a broadcast 1-row aggregate of
    # the (vocab-sized) freq table — no separate driver-side count() pass
    total = freq.agg(F.sum("n").cast("double").alias("t"))
    scored = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("n") / F.col("t")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard pre-embedding / pre-tokenization segmentation step (RAG
    indexing, long-document training examples).

    Windows start every ``chunk_tokens - overlap`` tokens; the final chunk
    may be shorter; a document never yields a chunk fully contained in the
    previous one. Entirely per-row array math (sequence → slice →
    array_join) followed by one ``posexplode`` — NO shuffle: chunking is
    embarrassingly parallel and stays inside the scan projection, so at
    100 TB it runs at full scan throughput and the output lands
    partition-aligned with the input for any downstream per-chunk work.

    Returns (doc_id, chunk_id, n_chunks, chunk_text, n_chunk_tokens).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap={overlap} < chunk_tokens={chunk_tokens}")
    stride = chunk_tokens - overlap
    chunks = (
        f"transform(sequence(0, CAST(__nc AS INT) - 1), "
        f"i -> array_join(slice(__toks, i * {stride} + 1, {chunk_tokens}), ' '))"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .withColumn(
            "__nc",
            F.when(F.col("__n") <= chunk_tokens, F.lit(1)).otherwise(
                F.floor(
                    (F.col("__n") - chunk_tokens + stride - 1) / F.lit(stride)
                ).cast("int")
                + 1
            ),
        )
        .select(
            "doc_id",
            F.col("__nc").cast("int").alias("n_chunks"),
            F.posexplode(F.expr(chunks)).alias("chunk_id", "chunk_text"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            "n_chunks",
            "chunk_text",
            F.size(F.split("chunk_text", " ")).cast("int").alias("n_chunk_tokens"),
        )
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Corpus-wide boilerplate detector: the ``top_k`` n-grams by DOCUMENT
    frequency (C4-style — phrases appearing verbatim across many documents
    are navigation chrome / license headers / templates, and the top of
    this list is the removal candidate set).

    Per-doc distinct shingles in the scan projection (no per-occurrence
    explosion), one gram-keyed count aggregation (map-side partial combine
    — each task emits at most one row per distinct gram), then
    ``orderBy().limit(top_k)`` → TakeOrderedAndProject: per-partition
    top-k, tiny driver merge — never a global sort of the gram table. The
    corpus doc count folds in as a broadcast 1-row aggregate (no separate
    driver-side count pass). Returns (gram, doc_freq, doc_frac).
    """
    grams = with_token_shingles(df, text_col, shingle_n, "shingles").select(
        F.explode("shingles").alias("gram")  # shingles are per-doc distinct
    )
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__nd"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "gram",
            F.col("doc_freq").cast("int").alias("doc_freq"),
            F.round(F.col("doc_freq") / F.col("__nd"), 4).alias("doc_frac"),
        )
        .orderBy(F.desc("doc_freq"), "gram")
        .limit(top_k)
    )


# domain charset kept conservative so Java regex and RE2 (DuckDB) agree
URL_PATTERN = "https?://[a-z0-9.-]+(/[a-z0-9./-]*)?"
DOMAIN_PATTERN = "https?://([a-z0-9.-]+)"


def url_domains(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Extract every http(s) URL from free text and parse its domain.

    ``regexp_extract_all`` + ``explode`` in the scan projection — no
    shuffle, no Python. Returns (doc_id, url, domain), one row per URL
    occurrence.
    """
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
            ).alias("url"),
        )
        .withColumn("domain", F.regexp_extract("url", DOMAIN_PATTERN, 1))
    )


def domain_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    blocklist: tuple[str, ...] = (),
) -> DataFrame:
    """Per-domain corpus profile with blocklist flags — the provenance
    filter step of a web-crawl pipeline (count what each domain
    contributes; drop or down-weight blocked domains).

    One URL-extraction scan + one domain-keyed aggregation; the blocklist
    is a literal IN-set (broadcast by construction — blocklists are
    curated, not corpus-sized). Returns (domain, n_docs, n_urls, blocked)
    sorted by domain.
    """
    urls = url_domains(df, text_col, id_col)
    blocked = (
        F.col("domain").isin(*blocklist) if blocklist else F.lit(False)
    )
    return (
        urls.groupBy("domain")
        .agg(
            F.count_distinct("doc_id").cast("int").alias("n_docs"),
            F.count(F.lit(1)).cast("int").alias("n_urls"),
        )
        .withColumn("blocked", blocked)
        .orderBy("domain")
    )


# conservative patterns; identical semantics in Java regex and RE2 so the
# DuckDB oracle reproduces the redaction byte-for-byte
# The email pattern anchors its start with an explicit CONSUMING
# boundary group `(^|[^local-class])`, preserved via `$1` in the
# replacement, so a failed attempt inside a long local-part-class run
# dies in O(1): without an anchor, Java regex re-scans the remaining
# run at EVERY start offset — O(run²), measured >90 s on the r13
# megadoc 500 kB single-token doc. A negative LOOKBEHIND is not
# equivalent: Java lookbehind inspects the ORIGINAL preceding char, so
# after a redaction, an email starting right after the previous match
# (joined by a local-class char like '_' or '%') is skipped — a
# replace-all divergence from the unanchored RE2 form (r14 ADVICE,
# verified: 'a@b.cc_x@d.ee'). The consuming group is RE2-compatible,
# so the DuckDB oracle runs the IDENTICAL pattern (`\1` rewrite
# syntax) — both engines agree by construction on every input, and
# both are linear on megadocs (in-run start offsets fail the one-char
# boundary class in O(1); RE2 is non-backtracking by construction).
PII_PATTERNS = (
    (
        "(^|[^A-Za-z0-9._%+-])"
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "$1<EMAIL>",
    ),
    ("\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}", "<PHONE>"),
    ("([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub emails / phone numbers / IPv4 literals from a text column —
    the standard pre-training PII pass. Pure ``regexp_replace`` chain in
    the scan projection (no shuffle, no Python); returns
    (doc_id, clean_text, n_redactions).
    """
    # count each pattern on the PROGRESSIVELY-redacted text, so a span
    # matched by two patterns (e.g. digit-heavy email local parts) counts
    # once — n_redactions equals actual replacements performed
    clean = F.col(text_col)
    n_red = F.lit(0)
    for pat, token in PII_PATTERNS:
        n_red = n_red + F.size(F.regexp_extract_all(clean, F.lit(pat), 0))
        clean = F.regexp_replace(clean, pat, token)
    return df.select(
        F.col(id_col).alias("doc_id"),
        clean.alias("clean_text"),
        n_red.cast("int").alias("n_redactions"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    lam: float = 0.8,
) -> DataFrame:
    """Interpolated bigram LM quality score: per document, the mean of
    ``log(λ·p(wᵢ|wᵢ₋₁) + (1−λ)·p(wᵢ))`` over token positions 2..n, with
    MLE probabilities from the corpus itself — one step up the KenLM
    ladder from ``unigram_logprob`` (captures local fluency: shuffled
    or concatenated-fragment documents score visibly lower even when
    their unigram distribution is clean).

    Plan shape: bigram pairs via one in-projection transform +
    posexplode; two vocabulary-sized count aggregations (bigram and
    unigram tables, map-side partial agg); three token-keyed joins left
    to AQE (vocabulary tables are Zipf-bounded, not corpus-proportional —
    same reasoning as TF-IDF). Returns (doc_id, n_scored, mean_logprob).
    """
    toks = "__bg_toks"
    pairs_expr = (
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"transform(sequence(1, size({toks}) - 1), "
        f"i -> struct({toks}[i - 1] AS w1, {toks}[i] AS w2)) "
        f"ELSE array() END"
    )
    pairs = (
        df.withColumn(toks, F.split(F.col(text_col), " "))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.expr(pairs_expr)).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    uni = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    total = uni.agg(F.sum("c").alias("t"))
    bi = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c12")
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_w2"))
    scored = (
        pairs.join(bi, ["w1", "w2"])
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.log(
                F.lit(lam) * F.col("c12") / F.col("c_w1")
                + F.lit(1.0 - lam) * F.col("c_w2") / F.col("t")
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_scored"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
    )

def with_doc_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    line_delim: str | None = None,
    tokens_per_line: int | None = None,
) -> DataFrame:
    """Explode documents into (doc_id, n_lines, pos, line) rows.

    Lines come from ``line_delim`` (real multi-line corpora) or — for
    corpora stored as single-line token streams, like the TESTDATA
    documents table — from fixed ``tokens_per_line`` chunks of the
    whitespace tokenization. Both are pure in-projection array math
    (split / slice / posexplode); the only data movement is the explode
    fan-out itself.
    """
    lines, n_lines = _lines_exprs(text_col, line_delim, tokens_per_line)
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_lines.alias("n_lines"),
        F.posexplode(lines).alias("pos", "line"),
    )


def _lines_exprs(text_col, line_delim, tokens_per_line):
    if line_delim is not None and tokens_per_line is not None:
        raise ValueError("pass at most one of line_delim / tokens_per_line")
    if line_delim is None and tokens_per_line is None:
        line_delim = "\n"
    if tokens_per_line is not None:
        toks = F.split(F.col(text_col), " ")
        t = int(tokens_per_line)
        if t < 1:
            raise ValueError("tokens_per_line must be >= 1")
        n_lines = F.ceil(F.size(toks) / F.lit(float(t))).cast("int")
        # Lambda-free line cutting: one linear regex pass inserts a
        # record separator after every t-th token, then one split. The
        # previous form — transform(sequence(0, n_lines-1),
        # i -> array_join(slice(toks, i*t+1, t))) — referenced the token
        # ARRAY inside the per-line lambda, so the downstream explode's
        # inferred filter inlined split(text) per line: O(tokens²/t) per
        # document (>90 s on the r13 megadoc 100k-token doc). This form
        # references only the scalar text column, so any optimizer
        # inlining re-evaluates one O(L) regex — linear whoever inlines.
        # LITERAL-space classes ([^ ]/' '), not \S/\s: a "token" here is
        # whatever split(' ') yields, INCLUDING empty tokens between
        # consecutive spaces and tab/newline-containing tokens — \s++
        # would swallow whitespace runs and diverge from the split-based
        # n_lines on any text that is not single-space-tokenized (r14
        # ADVICE; e.g. 'a  b' t=2 must give ['a ', 'b'], not ['a  b']).
        # [^ ]*+ admits the empty token; each match consumes exactly t
        # tokens plus ONE separator space, so global replace tiles the
        # string precisely like the slice form — on ANY input, not just
        # the single-space corpus contract. Possessive *+ plus the
        # (?<![^ ]) token-start anchor keep failed attempts O(1) per
        # in-token position and O(run) per token start: linear on
        # megadocs.
        if t == 1:
            cut = r"(?<![^ ])([^ ]*+) "
        else:
            cut = r"(?<![^ ])((?:[^ ]*+ ){%d}[^ ]*+) " % (t - 1)
        lines = F.split(
            F.regexp_replace(F.col(text_col), cut, "$1\x1e"), "\x1e"
        )
    else:
        # F.split's pattern is a Java regex; the documented semantics here
        # are a LITERAL delimiter, so quote it (Pattern.quote's \Q...\E
        # form) — otherwise '.', '|' or '\t' would split on every char.
        quoted = "\\Q" + str(line_delim).replace("\\E", "\\E\\\\E\\Q") + "\\E"
        lines = F.split(F.col(text_col), quoted)
        n_lines = F.size(lines).cast("int")
    return lines, n_lines


def line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    line_delim: str | None = None,
    tokens_per_line: int | None = None,
    min_line_tokens: int | None = None,
    blocklist: tuple[str, ...] = (),
    max_line_docfreq: int | None = None,
    rejoin_delim: str = " ",
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2): drop lines
    failing per-line rules (too few tokens; containing a blocklisted
    token) and — the corpus-level step — lines whose distinct-document
    frequency exceeds ``max_line_docfreq`` (boilerplate: nav bars, cookie
    banners, license headers repeat across many pages). Survivors are
    reassembled in original order.

    Returns (doc_id, n_lines, n_kept, cleaned_text); fully-filtered docs
    keep their row with n_kept = 0 and cleaned_text = ''.

    Scale shape: per-line rules are scan-projection predicates. The
    docfreq pass groups on md5(line) — a 32-char shuffle key instead of
    the full line text — and the over-threshold set anti-joins back on the
    same key with NO forced broadcast: the boilerplate set is small for
    sane thresholds but corpus-proportional in the worst case, so AQE
    picks the strategy (round-3 forced-broadcast audit rule). Rebuild is
    one groupBy(doc_id) with an array_sort(collect_list(struct(pos,
    line))) — partial-aggregatable, ordered without a window sort.
    """
    lines = with_doc_lines(
        df,
        text_col,
        id_col,
        line_delim=line_delim,
        tokens_per_line=tokens_per_line,
    )

    keep = F.lit(True)
    if min_line_tokens is not None:
        keep = keep & (F.size(F.split("line", " ")) >= int(min_line_tokens))
    if blocklist:
        blocked = F.array(*[F.lit(b) for b in blocklist])
        keep = keep & ~F.arrays_overlap(F.split("line", " "), blocked)
    kept = lines.where(keep)

    if max_line_docfreq is not None:
        boilerplate = (
            lines.groupBy(F.md5("line").alias("__lh"))
            .agg(F.count_distinct("doc_id").alias("__df"))
            .where(F.col("__df") > int(max_line_docfreq))
            .select("__lh")
        )
        kept = kept.join(
            boilerplate, F.md5(kept["line"]) == boilerplate["__lh"], "left_anti"
        )

    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            rejoin_delim,
        ).alias("cleaned_text"),
    )
    _, n_lines = _lines_exprs(text_col, line_delim, tokens_per_line)
    base = df.select(F.col(id_col).alias("doc_id"), n_lines.alias("n_lines"))
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


def linear_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_buckets: int = 10,
) -> DataFrame:
    """Hashed-feature linear quality scorer — the fasttext-style
    discriminative stage of a CCNet/FineWeb cleaning pipeline (distinct
    from the generative ``unigram_logprob``/``bigram_logprob`` proxies):
    score = sigmoid(mean token weight), where each token's weight is a
    deterministic hash-derived stand-in for a trained embedding-table row
    (md5 → [-0.5, 0.5); a real deployment joins/broadcasts trained
    weights through the same shape).

    ZERO shuffle: the weight lookup is pure projection math
    (``transform`` over the token array + a fold), so scoring runs at
    scan throughput on 100 TB. Bucketing uses fixed score thresholds, not
    ntile — a global ntile would funnel the corpus through one sorted
    partition.

    Returns (doc_id, n_tokens, quality_score, quality_bucket 0..n-1).
    """
    toks = F.split(F.col(text_col), " ")
    # md5-derived weight in [-0.5, 0.5): engine-independent. Both engines
    # fold the token array SEQUENTIALLY (Spark `aggregate`, DuckDB
    # list_sum over list_transform), so the double accumulation order —
    # and therefore the sum — is bit-identical; no mid-fold rounding
    # needed, only the final 6-decimal display rounding.
    weight = lambda t: (
        F.pmod(
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
            F.lit(1000),
        )
        / 1000.0
        - 0.5
    )
    total = F.aggregate(
        F.transform(toks, weight), F.lit(0.0), lambda acc, x: acc + x
    )
    mean_w = total / F.size(toks)
    score = F.round(1.0 / (1.0 + F.exp(-mean_w * 10)), 6)
    bucket = F.least(
        F.lit(n_buckets - 1), F.floor(score * n_buckets)
    ).cast("int")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("int").alias("n_tokens"),
        score.alias("quality_score"),
        bucket.alias("quality_bucket"),
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap
    "compressibility" quality signal (boilerplate/repetitive junk scores
    low, natural text sits in a narrow band; cf. the entropy filters in
    web-corpus cleaning pipelines).

    H = ln(n) - (1/n) * sum_c count_c * ln(count_c), computed from the
    (doc, char) histogram: one explode + groupBy whose shuffle carries at
    most |alphabet| rows per document after map-side combine.
    """
    counts = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), "")).alias("ch"),
        )
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n = F.sum("c")
    return counts.groupBy("doc_id").agg(
        n.cast("long").alias("n_chars"),
        F.round(
            F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 6
        ).alias("entropy"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    form: str = "NFC",
    out_col: str = "text_norm",
) -> DataFrame:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) of a text column.

    Mojibake and combining-character variants defeat exact dedup and
    fingerprinting ('Café' composed vs decomposed hash differently), so
    normalization belongs at the head of every text pipeline. The JVM
    exposes no normalizer expression, so this is an Arrow-batched
    ``mapInPandas`` stage — pandas ``str.normalize`` is vectorized
    C-level ICU-equivalent work, and only (id-free) projected columns
    flow through Python; everything downstream stays in-scan.
    """
    import pandas as pd  # noqa: F401

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    if out_col in df.columns:
        raise ValueError(f"column {out_col!r} already exists")
    from pyspark.sql.types import StringType, StructField, StructType

    # a fresh StructType: .add() mutates the DataFrame's cached schema
    # object, which breaks mapInPandas's own column resolution
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, StringType())]
    )

    def batches(it):
        for pdf in it:
            pdf[out_col] = pdf[text_col].str.normalize(form)
            yield pdf

    return df.mapInPandas(batches, schema=schema)


def keyness_llr(
    df: DataFrame,
    focus,
    *,
    text_col: str = "text",
    top_k: int = 30,
    min_count: int = 5,
) -> DataFrame:
    """Corpus keyness by Dunning's log-likelihood ratio (Dunning 1993,
    public): for every token, G² = 2·Σ O·ln(O/E) over the 2×2 table
    (focus vs reference occurrence counts), the standard "what terms
    distinguish this slice" statistic — more robust than raw frequency
    ratios for rare terms. ``focus`` is a boolean Column splitting the
    corpus (e.g. lang == 'en').

    Plan: ONE tokenized conditional aggregation produces (token, k1, k2)
    — focus/reference counts side by side, partial-aggregatable — the
    two corpus totals are a broadcast 1-row aggregate, the G² arithmetic
    lives in the projection (counts are exact integers; the only floats
    are the final ln terms), and the cut is a TakeOrdered top_k keyed on
    the 6-dp-rounded G² with token tie-break. Zero cells are handled by
    the defining convention O·ln(O/E) = 0 when O = 0.
    """
    tok = df.select(
        focus.alias("__f"),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    )
    counts = tok.groupBy("__tok").agg(
        F.count(F.when(F.col("__f"), 1)).alias("k1"),
        F.count(F.when(~F.col("__f"), 1)).alias("k2"),
    )
    totals = counts.agg(
        F.sum("k1").alias("__n1"), F.sum("k2").alias("__n2")
    )
    j = counts.where(
        (F.col("k1") + F.col("k2")) >= min_count
    ).crossJoin(F.broadcast(totals))
    n1, n2 = F.col("__n1").cast("double"), F.col("__n2").cast("double")
    k1, k2 = F.col("k1").cast("double"), F.col("k2").cast("double")
    e1 = n1 * (k1 + k2) / (n1 + n2)
    e2 = n2 * (k1 + k2) / (n1 + n2)
    term = lambda k, e: F.when(k > 0, k * F.log(k / e)).otherwise(  # noqa: E731
        F.lit(0.0)
    )
    g2 = 2.0 * (term(k1, e1) + term(k2, e2))
    # cross-multiplied leaning test: k1/n1 >= k2/n2 without divisions,
    # so an empty slice (n = 0) cannot raise under ANSI mode
    signed = F.when(k1 * n2 >= k2 * n1, g2).otherwise(-g2)
    out = j.select(
        F.col("__tok").alias("token"),
        F.col("k1").alias("n_focus"),
        F.col("k2").alias("n_reference"),
        g2.alias("g2"),
        signed.alias("signed_g2"),
    )
    return out.orderBy(
        F.round("g2", 6).desc(), "token"
    ).limit(top_k)

"""Declarative text analysis for training-data curation: language ID,
quality scoring, token counting, fingerprinting.

Everything here is built-in pyspark.sql.functions expressions (JVM-side,
whole-stage codegen, vectorized parquet input) — no Python in the hot path,
and each operator has an exact ANSI-SQL oracle. Ratios are quantized as
floor(1000 * int / int), which is exact in IEEE doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tika_wrap_spark.operators.dedup import NORM_EXPR

# language -> (java regex, re2 regex) stopword/charclass markers
LANG_MARKERS: dict[str, tuple[str, str]] = {
    "en": (r"\\b(the|and|of|in|is)\\b", r"\b(the|and|of|in|is)\b"),
    "fr": (r"\\b(le|la|et|les|des)\\b", r"\b(le|la|et|les|des)\b"),
    "es": (r"\\b(el|los|las|una|y)\\b", r"\b(el|los|las|una|y)\b"),
    "de": (r"\\b(der|die|das|und|ein)\\b", r"\b(der|die|das|und|ein)\b"),
    "zh": (r"[\\u4e00-\\u9fff]", r"[\x{4e00}-\x{9fff}]"),
}
LANG_ORDER = ["en", "fr", "es", "de", "zh"]

STOPWORD_JAVA = r"\\b(the|a|of|and|in)\\b"
STOPWORD_RE2 = r"\b(the|a|of|and|in)\b"
PUNCT_JAVA = r"[^a-z0-9 ]"
BPE_JAVA = r"[a-z]+|[0-9]+|[^a-z0-9\\s]"
BPE_RE2 = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.expr(NORM_EXPR))


def lang_scores(df: DataFrame) -> DataFrame:
    """n-gram/stopword-marker counts per language + argmax prediction
    (first language wins ties, in LANG_ORDER)."""
    out = _norm(df)
    for lang in LANG_ORDER:
        java_pat = LANG_MARKERS[lang][0]
        out = out.withColumn(
            f"s_{lang}", F.expr(f"regexp_count(norm, '{java_pat}')")
        )
    pred: Column | None = None
    # build CASE from last to first so earlier languages win ties
    pred = F.lit(LANG_ORDER[-1])
    for lang in reversed(LANG_ORDER[:-1]):
        cond = None
        for other in LANG_ORDER:
            if other == lang:
                continue
            later = LANG_ORDER.index(other) > LANG_ORDER.index(lang)
            c = (
                F.col(f"s_{lang}") >= F.col(f"s_{other}")
                if later
                else F.col(f"s_{lang}") > F.col(f"s_{other}")
            )
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang", pred)


def quality_features(df: DataFrame) -> DataFrame:
    """Length / punctuation / stopword features + a quality bucket."""
    out = _norm(df)
    out = (
        out.withColumn("n_chars_norm", F.length("norm"))
        .withColumn("n_tokens", F.size(F.split(F.col("norm"), " ")))
        .withColumn("punct_cnt", F.expr(f"regexp_count(lower(text), '{PUNCT_JAVA}')"))
        .withColumn("stop_cnt", F.expr(f"regexp_count(norm, '{STOPWORD_JAVA}')"))
    )
    out = out.withColumn(
        "punct_ratio_q",
        F.floor(F.lit(1000) * F.col("punct_cnt") / F.greatest(F.col("n_chars_norm"), F.lit(1))).cast("long"),
    ).withColumn(
        "stop_ratio_q",
        F.floor(F.lit(1000) * F.col("stop_cnt") / F.greatest(F.col("n_tokens"), F.lit(1))).cast("long"),
    )
    bucket = (
        F.when(F.col("n_tokens") < 10, F.lit("too_short"))
        .when(F.col("punct_ratio_q") > 300, F.lit("punct_heavy"))
        .when(F.col("stop_ratio_q") >= 100, F.lit("high"))
        .otherwise(F.lit("medium"))
    )
    return out.withColumn("quality", bucket)


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (letters / digits /
    single punctuation — the standard pre-tokenizer shape)."""
    out = _norm(df)
    return out.withColumn(
        "tokens_ws", F.size(F.split(F.col("norm"), " "))
    ).withColumn("tokens_bpe", F.expr(f"regexp_count(lower(text), '{BPE_JAVA}')"))


def fingerprints(df: DataFrame) -> DataFrame:
    """Content fingerprints: full/head/tail digests of the normalized text
    (the cheap whole-doc analog of a rolling-hash family)."""
    out = _norm(df)
    return out.select(
        "doc_id",
        F.md5(F.col("norm").cast("binary")).alias("fp_full"),
        F.md5(F.substring(F.col("norm"), 1, 64).cast("binary")).alias("fp_head"),
        F.md5(
            F.expr("substring(norm, greatest(length(norm) - 63, 1))").cast("binary")
        ).alias("fp_tail"),
    )


TFIDF_MIN_TERM_LEN = 4
TFIDF_TOPK = 3
TFIDF_IDF_SCALE = 1_000_000


def tfidf_topk(df: DataFrame) -> DataFrame:
    """Per-document top-``TFIDF_TOPK`` salient terms by tf-idf — the
    keyword/topic signal a curation pipeline uses for domain balancing and
    index keys.

    Arithmetic is INTEGER-exact in both engines: idf is the rational
    surrogate ``(SCALE * N) div df`` (monotone in the usual ln(N/df) —
    identical ranking for any df, and no libm ln whose last-ulp could flip
    a floor at a quantization boundary); score = tf * idf_q, ties broken
    by term text.

    Scale: tokenize+explode is map-side; tf and df are partial-aggregable
    groupBys; the doc-count side is a broadcast 1-row crossJoin; the final
    per-doc top-k is a window partitioned by doc_id (millions of small
    groups — no hot partition). The tf⋈df join shuffles on term, the same
    key df was already aggregated on."""
    terms = df.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
    ).filter(F.length("term") >= TFIDF_MIN_TERM_LEN)
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # tf rows are one per (doc, term), so count(*) here IS document frequency
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf_q", F.expr(f"({TFIDF_IDF_SCALE} * n_docs) div df"))
        .withColumn("score_q", (F.col("tf") * F.col("idf_q")).cast("long"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "rnk", "term", "tf", "df", "score_q")
    )


# PII patterns shared by both engines (Java regex and RE2 agree on this
# subset: explicit [0-9] classes, \b word boundaries, bounded repeats).
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
_PII_ORDER = [  # replacement order matters: emails first (they contain dots/digits)
    (PII_EMAIL, "<EMAIL>"),
    (PII_IPV4, "<IP>"),
    (PII_PHONE, "<PHONE>"),
]


def scrub_pii(df: DataFrame) -> DataFrame:
    """PII redaction — the scrub pass every training-data pipeline runs
    before tokenization: replace emails / IPv4s / phone numbers with typed
    placeholder tokens, and surface per-doc match counts plus a digest of
    the scrubbed text (the audit trail proving WHAT was redacted, without
    retaining it). All JVM-side regexp built-ins, embarrassingly parallel,
    no shuffle."""
    t = F.col("text")
    red: Column = t
    for pat, token in _PII_ORDER:
        red = F.regexp_replace(red, pat, token)
    return df.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count(t, F.lit(PII_IPV4)).cast("long").alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_PHONE)).cast("long").alias("n_phone"),
        F.length(red).cast("long").alias("n_chars_scrubbed"),
        F.md5(red.cast("binary")).alias("scrubbed_md5"),
    )


def repetition_features(df: DataFrame) -> DataFrame:
    """Repetition signals for training-data filtering (the Gopher /
    RefinedWeb family of filters, see PAPERS.md): duplicate-line ratio and
    most-frequent-token share, both exact quantized integers.

    LINEAR at any document size: line stats are per-row array ops, and the
    most-frequent-token count is explode -> groupBy(doc_id, tok) -> max —
    O(tokens) total work with two partial-aggregable shuffles, so a
    1M-token document costs 1M map-side-combined rows, never the
    O(distinct x tokens) per-row array fold that made one giant document an
    unsplittable straggler task. The line stats and the token array are
    computed in one ``select`` BELOW the explode, leaving only column
    references and the O(1) ``size(toks)`` beside the generator: whatever is
    selected beside it Spark evaluates in a Project above the ``Generate``,
    once per exploded token, and re-splitting the document there made the
    operator quadratic (``tests/test_dedup_edge.py`` pins the growth ratio).
    The per-doc stats ride THROUGH the explode (first() in each aggregate),
    so the whole operator stays a single scan."""
    lines = F.split(F.col("text"), "\n")
    toks = F.split(F.col("norm"), " ")
    per_doc = df.withColumn("norm", F.expr(NORM_EXPR)).select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.array_distinct(lines)).cast("long").alias("n_uniq_lines"),
        F.filter(toks, lambda t: t != "").alias("toks"),
    )
    base = per_doc.select(
        "doc_id",
        "n_lines",
        "n_uniq_lines",
        F.size("toks").cast("long").alias("n_toks"),
        # explode_outer keeps zero-token docs as one null-tok row, so every
        # input doc surfaces in the output (with max_tok_cnt = 0)
        F.explode_outer("toks").alias("tok"),
    )
    tok_counts = base.groupBy("doc_id", "tok").agg(
        F.count("*").alias("c"),
        F.first("n_lines").alias("n_lines"),
        F.first("n_uniq_lines").alias("n_uniq_lines"),
        F.first("n_toks").alias("n_toks"),
    )
    return (
        tok_counts.groupBy("doc_id")
        .agg(
            F.first("n_lines").alias("n_lines"),
            F.first("n_uniq_lines").alias("n_uniq_lines"),
            F.first("n_toks").alias("n_toks"),
            F.max(
                F.when(F.col("tok").isNull(), F.lit(0)).otherwise(F.col("c"))
            ).cast("long").alias("max_tok_cnt"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_uniq_lines",
            F.floor(
                F.lit(1000)
                * (F.col("n_lines") - F.col("n_uniq_lines"))
                / F.greatest(F.col("n_lines"), F.lit(1))
            ).cast("long").alias("dup_line_q"),
            "n_toks",
            "max_tok_cnt",
            F.floor(
                F.lit(1000) * F.col("max_tok_cnt") / F.greatest(F.col("n_toks"), F.lit(1))
            ).cast("long").alias("max_tok_share_q"),
        )
    )


# gopher_repetition n-gram orders: top-share for 2/3-grams, duplicate-char
# share for 5-grams (Rae et al. 2021 "Gopher" §A1.1 repetition filters)
GOPHER_TOP_NS = (2, 3)
GOPHER_DUP_N = 5


def _gram_structs(n: int) -> str:
    """SQL expr: the document's word ``n``-grams as (n, gram) structs —
    empty for docs shorter than ``n`` tokens. The ``size >= n`` CASE guard
    matters: Spark ``sequence(0, -1)`` is DESCENDING ``[0, -1]``, not empty
    (round-2 invariant), so the guard cannot be folded into the sequence."""
    return (
        "CASE WHEN size(toks) >= {n} THEN "
        "transform(sequence(0, size(toks) - {n}), "
        "i -> struct({n}L AS n, concat_ws(' ', slice(toks, i + 1, {n})) AS gram)) "
        "ELSE array() END"
    ).format(n=n)


def gopher_repetition(df: DataFrame) -> DataFrame:
    """Gopher-style n-gram repetition signals per document: the character
    share of the single most frequent 2-gram and 3-gram, and the character
    share of all 5-grams that occur more than once — the three filters the
    Gopher appendix applies beyond line/token repetition (those live in
    ``repetition_features``). Shares are exact quantized integers:
    ``floor(1000 * gram_chars / n_chars_norm)`` where gram_chars counts the
    gram string's characters (separator spaces included) times occurrences.

    LINEAR single-scan shape at any corpus size: all three orders ride ONE
    explode (a union'd (n, gram) struct array) into groupBy(doc_id, n,
    gram) -> groupBy(doc_id) — two partial-aggregable shuffles total, with
    per-doc stats carried through via first(); no joins, no windows, so a
    10^12-doc run pays exactly the token volume."""
    gram_arrays = ", ".join(_gram_structs(n) for n in (*GOPHER_TOP_NS, GOPHER_DUP_N))
    base = (
        _norm(df)
        .withColumn("toks", F.filter(F.split(F.col("norm"), " "), lambda t: t != ""))
        .select(
            "doc_id",
            F.length("norm").cast("long").alias("n_chars_norm"),
            F.size("toks").cast("long").alias("n_toks"),
            F.explode_outer(F.expr("concat(%s)" % gram_arrays)).alias("g"),
        )
    )
    counts = base.groupBy("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram")).agg(
        F.count("*").alias("c"),
        F.first("n_chars_norm").alias("n_chars_norm"),
        F.first("n_toks").alias("n_toks"),
    )
    chars = F.col("c") * F.length("gram")

    def top_chars(n: int) -> Column:
        return (
            F.max(F.when(F.col("n") == n, chars).otherwise(F.lit(0)))
            .cast("long")
        )

    agg = counts.groupBy("doc_id").agg(
        F.first("n_chars_norm").alias("n_chars_norm"),
        F.first("n_toks").alias("n_toks"),
        top_chars(GOPHER_TOP_NS[0]).alias("top2_chars"),
        top_chars(GOPHER_TOP_NS[1]).alias("top3_chars"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("n") == GOPHER_DUP_N) & (F.col("c") > 1), chars
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("dup5_chars"),
    )

    def share_q(col: str) -> Column:
        return (
            F.floor(F.lit(1000) * F.col(col) / F.greatest(F.col("n_chars_norm"), F.lit(1)))
            .cast("long")
            .alias(col.replace("_chars", "_share_q"))
        )

    return agg.select(
        "doc_id",
        "n_chars_norm",
        "n_toks",
        "top2_chars",
        share_q("top2_chars"),
        "top3_chars",
        share_q("top3_chars"),
        "dup5_chars",
        share_q("dup5_chars"),
    )


CMS_D = 3
CMS_W = 512
CMS_K = 20


def _cms_cells(key: Column) -> Column:
    """Array of (r, bucket) cells for a key: one md5 bucket per sketch row
    (the curation bucket_expr family, cross-engine exact)."""
    from tika_wrap_spark.operators.curation import bucket_expr  # noqa: PLC0415

    return F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                (bucket_expr(key, f"cms{i}:", 3) % CMS_W).alias("bucket"),
            )
            for i in range(CMS_D)
        ]
    )


def cms_heavy_hitters(df: DataFrame) -> DataFrame:
    """Count-min-sketch heavy hitters over the token stream: the top-CMS_K
    tokens by exact count, each with its CMS estimate and the (always
    non-negative) collision overestimate — a standing record of sketch
    accuracy, the KMV/HLL pattern applied to point frequencies.

    Scale shape: the sketch build shuffles at most D*W (= CMS_D x CMS_W)
    counter cells per map partition (partial-aggregable groupBy on (r, bucket) —
    fixed-size mergeable state regardless of vocabulary size, which is why
    CMS is the 100 TB frequency operator when the vocab doesn't fit). The
    exact side is one token groupBy (the verification baseline); estimates
    come from broadcasting the tiny finished sketch to the candidate rows.
    """
    toks = _norm(df).select(
        F.explode(F.split(F.col("norm"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    topk = exact.orderBy(F.desc("exact_n"), F.asc("tok")).limit(CMS_K)
    sketch = (
        toks.select(F.explode(_cms_cells(F.col("tok"))).alias("c"))
        .select("c.r", "c.bucket")
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    cand = topk.select(
        "tok", "exact_n", F.explode(_cms_cells(F.col("tok"))).alias("c")
    ).select("tok", "exact_n", "c.r", "c.bucket")
    return (
        cand.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "tok",
            F.col("exact_n").cast("long").alias("exact_n"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_n")).cast("long").alias("overest"),
        )
    )


RARITY_SCALE = 1_000_000


def token_rarity(df: DataFrame) -> DataFrame:
    """Unigram-LM perplexity surrogate, integer-exact: each token scores
    ``RARITY_SCALE div global_count`` (monotone in -log p(tok) for
    ranking, with no libm log whose last ulp could flip a floor); a doc's
    rarity is the per-token mean. High rarity = unusual vocabulary
    (gibberish or specialist text), low = boilerplate — the cheap
    LM-quality signal a curation cascade thresholds on.

    Scale: the global count table is one partial-aggregable groupBy(tok);
    scoring re-joins the token stream on tok (the same key it was just
    aggregated on) and reduces per doc — two shuffles, both linear, no
    driver state."""
    toks = _norm(df).select(
        "doc_id", F.explode(F.split(F.col("norm"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    global_tf = toks.groupBy("tok").agg(F.count("*").alias("gtf"))
    scored = toks.join(global_tf, "tok").withColumn(
        "r_q", F.expr(f"{RARITY_SCALE} div gtf")
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_toks"), F.sum("r_q").alias("rarity_sum"))
        .select(
            "doc_id",
            F.col("n_toks").cast("long").alias("n_toks"),
            F.col("rarity_sum").cast("long").alias("rarity_sum"),
            F.expr("rarity_sum div n_toks").cast("long").alias("rarity_mean_q"),
        )
    )


BPE_ROUNDS = 3


def bpe_train(df: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
    Machine Translation of Rare Words with Subword Units"): the first
    ``rounds`` merge rules learned from the corpus, each round fully
    declarative — count adjacent symbol pairs weighted by word frequency
    (partial-aggregable groupBy), pick the argmax (a 1-row broadcast),
    apply the merge to every vocab entry, repeat. No driver collect, no
    Python in the loop; ``rounds`` chained groupBy+broadcast cycles in one
    plan. Output: one row per learned merge (round, left/right symbol,
    merged symbol, weighted pair count).

    The classic scale trick is built in: the corpus first reduces to the
    (word, freq) VOCAB — pair statistics then cost O(|vocab| * word_len)
    per round, not O(corpus); at 10^12 docs the vocab is millions of rows
    while the corpus is trillions. Symbol sequences ride as
    ``|sym|  |sym|`` strings so the merge application is a plain
    ``replace`` whose leftmost non-overlapping semantics (identical in
    Spark and DuckDB — and exactly BPE's greedy merge order) need no
    fold; the pipe fences stop cross-symbol false matches."""
    _states, tops = _bpe_loop(df, rounds)
    out = None
    for r, top in enumerate(tops):
        row = top.select(
            F.lit(r).cast("long").alias("round"),
            F.translate(F.element_at(F.split(F.col("pair"), "  "), 1), "|", "")
            .alias("left_sym"),
            F.translate(F.element_at(F.split(F.col("pair"), "  "), 2), "|", "")
            .alias("right_sym"),
            F.translate(F.col("pair"), "| ", "").alias("merged"),
            F.col("pair_n").cast("long").alias("pair_n"),
        )
        out = row if out is None else out.unionByName(row)
    return out


BPE_CHECKPOINT_EVERY = 4


def _bpe_loop(df: DataFrame, rounds: int):
    """Shared BPE machinery: returns (vocab states v0..v_rounds, top-pair
    DataFrames t0..t_{rounds-1}) — the ONLY implementation of the pair
    count / argmax / merge-apply round (bpe_train and bpe_compression both
    derive from it; never fork the loop).

    Finding-15 discipline (BENCH.md): every ``BPE_CHECKPOINT_EVERY`` rounds
    the vocab state is EAGERLY ``localCheckpoint``ed, truncating the chained
    plan — without it a real 30k-merge vocab builds a plan with 30k stacked
    exchanges and per-round compile cost grows without bound. At the default
    rounds=3 no checkpoint triggers, so the oracle path stays one pure
    declarative plan."""
    words = _norm(df).select(
        F.explode(F.split(F.col("norm"), " ")).alias("word")
    ).filter(F.col("word") != "")
    vocab = words.groupBy("word").agg(F.count("*").alias("freq"))
    seq0 = F.concat(
        F.lit("|"), F.array_join(F.split(F.col("word"), ""), "|  |"), F.lit("|")
    )
    v = vocab.select(seq0.alias("seq"), "freq")
    pairs = F.expr(
        "CASE WHEN size(syms) >= 2 THEN transform(sequence(1, size(syms) - 1), "
        "i -> concat(element_at(syms, i), '  ', element_at(syms, i + 1))) "
        "ELSE cast(array() as array<string>) END"
    )
    states, tops = [v], []
    for _r in range(rounds):
        pc = (
            v.withColumn("syms", F.split(F.col("seq"), "  "))
            .select("freq", F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("pair_n"))
        )
        top = pc.orderBy(F.desc("pair_n"), F.asc("pair")).limit(1)
        tops.append(top)
        merged = F.translate(F.col("pair"), "| ", "")
        v = v.crossJoin(F.broadcast(top)).select(
            F.replace(
                F.col("seq"),
                F.col("pair"),
                F.concat(F.lit("|"), merged, F.lit("|")),
            ).alias("seq"),
            "freq",
        )
        if (_r + 1) % BPE_CHECKPOINT_EVERY == 0 and _r + 1 < rounds:
            v = v.localCheckpoint(eager=True)
        states.append(v)
    return states, tops


def bpe_compression(df: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Corpus-level compression trajectory of the learned BPE merges: the
    weighted symbol total (sum over vocab of freq x symbols-per-word) after
    0..rounds merges — round 0 is the character baseline, each later row
    shows how many corpus tokens the merge table saves. The tokens-per-doc
    budget this buys is exactly what sequence packing (pack_sequences)
    consumes downstream."""
    states, _tops = _bpe_loop(df, rounds)
    out = None
    for r, v in enumerate(states):
        row = v.agg(
            F.sum(
                F.col("freq") * F.size(F.split(F.col("seq"), "  "))
            ).cast("long").alias("total_syms"),
            F.sum("freq").cast("long").alias("total_words"),
        ).select(F.lit(r).cast("long").alias("round"), "total_syms", "total_words")
        out = row if out is None else out.unionByName(row)
    return out


QC_W_STOP = 8
QC_W_PUNCT = -3
QC_LEN_CAP = 400
QC_BIAS = -600


def quality_classifier(df: DataFrame) -> DataFrame:
    """Model-based quality filtering — the CCNet/GPT-3-family learned-
    filter seam: a linear scorer with FIXED integer weights over the same
    features ``quality_features`` computes (stopword density up, punct
    noise down, capped length up). A production deployment swaps the
    weight constants for an offline-trained fasttext/logreg export; the
    Spark plan — one scan, codegen'd expressions, no shuffle — is
    identical either way, and the integer logit is engine-exact."""
    f = quality_features(df)
    len_feat = F.least(F.col("n_tokens"), F.lit(QC_LEN_CAP))
    logit = (
        F.lit(QC_W_STOP) * F.col("stop_ratio_q")
        + F.lit(QC_W_PUNCT) * F.col("punct_ratio_q")
        + len_feat
        + F.lit(QC_BIAS)
    )
    return f.select(
        "doc_id",
        F.col("stop_ratio_q").cast("long").alias("stop_ratio_q"),
        F.col("punct_ratio_q").cast("long").alias("punct_ratio_q"),
        len_feat.cast("long").alias("len_feat"),
        logit.cast("long").alias("logit_q"),
        (logit >= 0).alias("keep"),
    )


# CCNet-style LM quality filtering (Wenzek et al. 2020, arXiv:1911.00359):
# score held-out docs with an n-gram LM trained on the corpus itself.
LM_SCALE = 1000
LM_TRAIN_4096 = 3686  # ~90% of docs train the LM (md5 coin, retry-stable)
LM_OOV_SURPRISAL = 1_000_000  # fixed cost for a bigram the LM never saw
LM_SALT = "lm:"


def lm_perplexity(df: DataFrame, keep_max_mean: int) -> DataFrame:
    """Bigram-LM perplexity filter over the documents table — the CCNet
    curation step (train a LM on the corpus, drop what it finds
    surprising), integer-exact so the whole pass is oracle-checkable.

    Split: a deterministic md5 coin puts ~90% of docs in the LM TRAIN
    split; the rest are SCORED. Surprisal surrogate per scored bigram:
    ``(LM_SCALE * c(w1)) div c(w1, w2)`` — the quantized inverse
    conditional probability, exactly monotone in -log p(w2|w1) and
    identical integer arithmetic in Spark and DuckDB; bigrams the train
    split never produced cost the fixed ``LM_OOV_SURPRISAL``. Output per
    scored doc: bigram count, surprisal sum/mean, keep flag
    (``mean <= keep_max_mean``).

    Scale shape: bigram and prefix counts are partial-aggregable groupBys
    over the train split (the classic vocab reduction — counts, never
    text, flow into the joins); scoring joins each held-out doc's bigrams
    against the two count tables on their natural keys — co-partitioned
    shuffles, no broadcast of anything corpus-sized, nothing all-pairs,
    no driver state. At 10^12 docs the count tables are the n-gram vocab
    (millions of rows), the scored side streams through."""
    from tika_wrap_spark.operators.curation import bucket_expr  # noqa: PLC0415

    toks = F.expr(
        "filter(split(norm, ' '), x -> x != '')"
    )
    base = _norm(df).select(
        "doc_id",
        toks.alias("toks"),
        (
            bucket_expr(F.col("doc_id").cast("string"), LM_SALT, 3) < LM_TRAIN_4096
        ).alias("is_train"),
    )
    bigrams = base.select(
        "doc_id",
        "is_train",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2)) "
                "ELSE cast(array() as array<struct<w1:string,w2:string>>) END"
            )
        ).alias("b"),
    ).select("doc_id", "is_train", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    train = bigrams.filter(F.col("is_train"))
    cnt2 = train.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    cnt1 = train.groupBy("w1").agg(F.count("*").alias("c1"))
    scored = (
        bigrams.filter(~F.col("is_train"))
        .join(cnt2, ["w1", "w2"], "left")
        .join(cnt1, ["w1"], "left")
        .withColumn(
            "surprisal",
            F.when(
                F.col("c2").isNotNull(),
                F.expr(f"({LM_SCALE} * c1) div c2"),
            ).otherwise(F.lit(LM_OOV_SURPRISAL)),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("surprisal").cast("long").alias("surprisal_sum"),
    )
    held = base.filter(~F.col("is_train")).select("doc_id")
    return (
        held.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("surprisal_sum", F.lit(0)).cast("long").alias("surprisal_sum"),
            F.expr("coalesce(surprisal_sum, 0) div greatest(coalesce(n_bigrams, 0), 1)")
            .cast("long")
            .alias("surprisal_mean_q"),
        )
        .withColumn("keep", F.col("surprisal_mean_q") <= keep_max_mean)
    )


def bpe_apply(df: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Apply the learned BPE merge table to the corpus — the train->apply
    half that turns ``bpe_train`` into an actual tokenizer: every doc's
    words re-segment under the same ``rounds`` merges (identical leftmost
    non-overlapping ``replace`` semantics, same fenced-string trick), and
    the per-doc output reports the character-baseline vs post-merge token
    budget that sequence packing consumes downstream.

    Scale shape: the merge table is ``rounds`` 1-row broadcasts applied as
    chained column expressions — the per-doc word table never shuffles for
    the application itself; the only shuffle is the final per-doc
    aggregate. Output: (doc_id, n_words, tokens_char, tokens_bpe,
    saved_q = floor(1000 * saved / char-baseline))."""
    _states, tops = _bpe_loop(df, rounds)
    dwords = _norm(df).select(
        "doc_id",
        F.explode(F.expr("filter(split(norm, ' '), w -> w != '')")).alias("word"),
    )
    seq0 = F.concat(
        F.lit("|"), F.array_join(F.split(F.col("word"), ""), "|  |"), F.lit("|")
    )
    w = dwords.select(
        "doc_id", F.length("word").alias("n_chars"), seq0.alias("seq")
    )
    for top in tops:
        merged = F.translate(F.col("pair"), "| ", "")
        w = w.crossJoin(F.broadcast(top)).select(
            "doc_id",
            "n_chars",
            F.replace(
                F.col("seq"),
                F.col("pair"),
                F.concat(F.lit("|"), merged, F.lit("|")),
            ).alias("seq"),
        )
    agg = w.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("n_chars").cast("long").alias("tokens_char"),
        F.sum(F.size(F.split(F.col("seq"), "  "))).cast("long").alias("tokens_bpe"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "tokens_char",
        "tokens_bpe",
        F.expr("(1000 * (tokens_char - tokens_bpe)) div greatest(tokens_char, 1)")
        .cast("long")
        .alias("saved_q"),
    )

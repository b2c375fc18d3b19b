"""Deduplication family for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

All variants are pure DataFrame expressions (no Python UDFs): hashing uses
md5 (present and identical in every engine), minima over hex strings give a
valid MinHash total order, and bit arithmetic is integer-exact — so every
operator here is DuckDB-oracle checkable bit-for-bit.

Scale notes:
  * exact/fingerprint: one shuffle on the 128-bit digest; at 100 TB
    pre-aggregate per partition, digests distribute uniformly (no skew).
  * MinHash+LSH: cost is (docs x tokens) for the signature pass, then a
    self-join only on (band_idx, band_val) buckets — the classic way to
    avoid the O(N^2) pair blowup. Band width trades recall vs candidates.
  * SimHash: one signature row per doc; near-dup = same/adjacent signature
    buckets, hamming check within buckets only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# THE normalization every dedup/quality operator keys on. Single template;
# NORM_EXPR (SQL-string form over the `text` column) and functions.norm_text
# (Column form) are both derived from it — they cannot drift.
NORM_TEMPLATE = "regexp_replace(trim(lower({col})), '\\\\s+', ' ')"
NORM_EXPR = NORM_TEMPLATE.format(col="text")


def norm_col(c):
    """Column form of NORM_TEMPLATE — the ONLY place the normalization is
    written as pyspark functions; ``tests/test_sources_functions.py``
    pins its equality with the SQL-string form."""
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def normalized(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.expr(NORM_EXPR))


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact dedup by content digest: keeper = min doc_id per fingerprint."""
    return (
        normalized(df)
        .select("doc_id", F.md5(F.col("norm").cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


def doc_tokens(df: DataFrame) -> DataFrame:
    """Distinct unigram shingles per doc (the MinHash/SimHash input set)."""
    return (
        normalized(df)
        .select("doc_id", F.explode(F.split(F.col("norm"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )


def doc_ngrams(df: DataFrame, n: int = 2) -> DataFrame:
    """Distinct word n-gram shingles per doc, built JVM-side with
    transform(sequence(...)) — no Python.

    Scale note (BENCH.md finding 28): the lambda's ``slice(w, ...)``
    reference inlines ``w``'s normalize+split chain per element (~3
    normalize copies in the plan). Bounded here (shingle inputs are
    normalized docs, measured ≤1 s at sf0.1); an operator over LONG raw
    text must build adjacent n-grams with posexplode + lead() instead
    (see queries_training.q_ngram_novelty)."""
    # Spark sequence(1, 0) yields DESCENDING [1, 0] (implicit step -1), unlike
    # DuckDB generate_series(1, 0) = [] — guard the empty case explicitly or
    # short docs emit spurious grams / crash slice() with start 0.
    grams = F.expr(
        f"CASE WHEN size(w) >= {n} THEN "
        f"transform(sequence(1, size(w) - {n - 1}), "
        f"i -> concat_ws(' ', slice(w, i, {n}))) "
        f"ELSE cast(array() as array<string>) END"
    )
    return (
        normalized(df)
        .withColumn("w", F.split(F.col("norm"), " "))
        .select("doc_id", F.explode(grams).alias("gram"))
        .distinct()
    )


def minhash_signatures(tokens: DataFrame, n_hashes: int = 16) -> DataFrame:
    """MinHash over the hex-string total order: mh_i = min(md5(i || tok)).
    Any injective hash + total order is a valid MinHash family."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("tok")).cast("binary"))).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return tokens.groupBy("doc_id").agg(*aggs)


# Default band-bucket size cap for the PAIR-AUDIT path. A bucket of m
# members emits m*(m-1)/2 join rows; on a web corpus one templated
# near-dup cluster routinely puts 10^4-10^6 docs in a single band bucket
# (they survive exact dedup because of per-page noise), and that one
# skewed key then produces 10^8-10^12 shuffle rows — task OOM. Buckets
# over the cap are DROPPED FROM THE PAIR JOIN ONLY (clustering uses
# star edges instead, which are O(m) and need no cap) and the drop is
# SURFACED via ``lsh_bucket_stats`` — never a silent truncation.
DEFAULT_MAX_BUCKET = 64


def lsh_bands(sigs: DataFrame, n_hashes: int = 16, band_rows: int = 4) -> DataFrame:
    """Explode MinHash signatures into (doc_id, band_idx, band_val) bucket
    membership rows — the shared input of the pair join, the star-edge
    builder, and the bucket audit."""
    n_bands = n_hashes // band_rows
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "", *[F.col(f"mh{b * band_rows + r}") for r in range(band_rows)]
                ).cast("binary")
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.posexplode(bands).alias("band_idx", "band_val"))


def _capped(exploded: DataFrame, max_bucket: int | None) -> DataFrame:
    """Keep only bucket-membership rows whose (band_idx, band_val) bucket
    holds <= max_bucket members: one partial-aggregable groupBy on the
    bucket key + one equi-join back on the key just aggregated."""
    if max_bucket is None:
        return exploded
    bsz = exploded.groupBy("band_idx", "band_val").agg(F.count("*").alias("bm"))
    return (
        exploded.join(bsz.filter(F.col("bm") <= max_bucket), ["band_idx", "band_val"])
        .select(*exploded.columns)
    )


def bucket_drop_stats(exploded: DataFrame, max_bucket: int) -> DataFrame:
    """ONE-row audit of what the pair-cap drops: total buckets, dropped
    buckets, and the pair volume those buckets would have emitted
    (sum m*(m-1)/2). Cross-joined onto capped pair-audit outputs so the
    truncation is always on the record (the no-silent-caps rule)."""
    return (
        exploded.groupBy("band_idx", "band_val")
        .agg(F.count("*").alias("bm"))
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum((F.col("bm") > max_bucket).cast("long")).alias("dropped_buckets"),
            # integer div keeps the pair count exact (bm*(bm-1) is even);
            # the sum rides a decimal so a genuinely giant bucket can't
            # raise the ANSI long-sum overflow before the final cast
            F.sum(
                F.when(
                    F.col("bm") > max_bucket,
                    F.expr("bm * (bm - 1) div 2").cast("decimal(38,0)"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("dropped_pairs"),
        )
        .select(
            F.col("n_buckets").cast("long").alias("n_buckets"),
            F.coalesce(F.col("dropped_buckets"), F.lit(0)).cast("long").alias("dropped_buckets"),
            F.coalesce(F.col("dropped_pairs"), F.lit(0)).cast("long").alias("dropped_pairs"),
        )
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_hashes: int = 16,
    band_rows: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature (bands of ``band_rows``), bucket-join on band
    value: pairs sharing >=1 band are candidates.

    ``max_bucket`` bounds the self-join per bucket (see DEFAULT_MAX_BUCKET
    for why an uncapped bucket is the web-scale killer); callers that cap
    must also surface ``bucket_drop_stats`` so the drop is never silent.
    Clustering should NOT use this at all — ``lsh_star_edges`` spans the
    same connected components in O(m) rows per bucket with no cap."""
    exploded = _capped(lsh_bands(sigs, n_hashes, band_rows), max_bucket)
    left = exploded.alias("a")
    right = exploded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def lsh_star_edges(
    sigs: DataFrame, n_hashes: int = 16, band_rows: int = 4
) -> DataFrame:
    """LSH candidate edges for CLUSTERING, O(m) per bucket: each bucket
    member joins the bucket's min(doc_id) hub instead of every other
    member. A star spans exactly the nodes the bucket's m*(m-1)/2 pair
    clique spans, so connected components over UNVERIFIED buckets reach
    the identical fixpoint — while a 10^6-member template bucket emits
    10^6-1 edges instead of ~5*10^11. This is the only LSH edge generator
    that survives a hot near-dup cluster at web scale; no cap needed.

    When edges are subsequently Jaccard-VERIFIED, verification runs
    member-vs-hub (anchor verification): a member whose similarity to the
    hub is below threshold drops out even if it matches some non-hub
    member. That recall trade is the standard production choice — the
    alternative (verify all bucket pairs) is exactly the quadratic this
    exists to avoid.

    Output matches ``lsh_candidate_pairs``'s shape (doc_a < doc_b,
    n_shared_bands = bands in which the pair shared a bucket) so
    ``jaccard_verify`` composes unchanged. Cost: one partial-aggregable
    groupBy on the bucket key (the hub), one equi-join back on that key,
    one groupBy on the edge."""
    exploded = lsh_bands(sigs, n_hashes, band_rows)
    hubs = exploded.groupBy("band_idx", "band_val").agg(F.min("doc_id").alias("hub"))
    return (
        exploded.join(hubs, ["band_idx", "band_val"])
        .filter(F.col("doc_id") != F.col("hub"))
        .groupBy(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def jaccard_verify(pairs: DataFrame, shingles: DataFrame) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs (integer-exact
    quantization: j_q = floor(1000 * |A∩B| / |A∪B|))."""
    col = shingles.columns[1]  # tok or gram
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        pairs.join(shingles.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            shingles.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col(f"sa.{col}") == F.col(f"sb.{col}")),
        )
        .groupBy("doc_a", "doc_b", "n_shared_bands")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            "inter",
            (F.col("za.sz") + F.col("zb.sz") - F.col("inter")).alias("union_sz"),
            F.floor(
                F.lit(1000) * F.col("inter") / (F.col("za.sz") + F.col("zb.sz") - F.col("inter"))
            ).cast("long").alias("j_q"),
        )
    )


def winnow_fingerprints(df: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    character k-gram of the normalized text, slide a window of w hashes,
    keep each window's minimum — the guaranteed-coverage local fingerprint
    set used for plagiarism/near-dup detection. All JVM-side expressions
    (substring/md5/array ops over sequence()); hex-string min is a valid
    total order in both engines. O(n·w) string work per doc — bound the
    doc set or pre-truncate at 100 TB."""
    # sequence(1, 0) is DESCENDING [1, 0] in Spark (DuckDB's generate_series
    # gives []): docs shorter than k would emit spurious md5('') grams, and
    # docs with fewer than w grams would evaluate slice(grams, 0, w), which
    # raises INVALID_PARAMETER_VALUE.START and kills the whole job. Guard both.
    grams = F.expr(
        f"CASE WHEN length(norm) >= {k} THEN "
        f"transform(sequence(1, length(norm) - {k - 1}),"
        f" i -> md5(cast(substring(norm, i, {k}) as binary))) "
        f"ELSE cast(array() as array<string>) END"
    )
    wins = F.expr(
        f"CASE WHEN size(grams) >= {w} THEN "
        f"transform(sequence(1, size(grams) - {w - 1}),"
        f" i -> array_min(slice(grams, i, {w}))) "
        f"ELSE cast(array() as array<string>) END"
    )
    return (
        normalized(df)
        .withColumn("grams", grams)
        .withColumn("fp", F.explode(F.array_distinct(wins)))
        .select("doc_id", "fp")
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected ``(doc_a, doc_b)`` edge
    list: every node gets ``cluster`` = the smallest node id reachable from
    it (the canonical keeper of its near-dup group). Node ids may be ANY orderable type —
    numeric or string (min/least are total orders either way).

    Iterative driver loop, each step fully distributed (join + partial-agg
    groupBy); converges in <= diameter steps — near-dup components are
    shallow (pairs share content), so the loop usually exits after 2-3
    rounds via the converged check, but its 64-round cap leaves headroom for
    long-chain graphs (``tests/test_dedup_edge.py`` pins a diameter-19
    path).

    Every round's label table is EAGERLY ``localCheckpoint``ed: that both
    truncates lineage (plan size stays O(1) in rounds) and makes each
    round's result independent of any cache entry. The previous cache-and-
    unpersist scheme was quadratic in practice — unpersisting round N-1's
    labels invalidated round N's dependent cache entry (Spark re-compiles
    dependent caches without the parent), so every subsequent access
    recomputed the WHOLE lineage back through the upstream candidate-pair
    pipeline; per-round wall time grew every round and the final read paid
    the full history again. With eager per-round checkpoints the rounds are
    constant-cost and the returned labels read from materialized blocks.
    The superseded round's blocks are freed explicitly each step.
    """
    # materialize the edge list ONCE: every propagation round joins against
    # it, and without the cache each round would recompute the (expensive)
    # upstream candidate-pair pipeline from scratch
    sym = (
        edges.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        .union(edges.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")))
        .cache()
    )
    nodes = sym.select(F.col("s").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("label"))

    sc = edges.sparkSession.sparkContext

    def _persistent_ids() -> dict:
        # JVM-side registry of actually-persisted RDDs; neither
        # DataFrame.rdd nor queryExecution().toRdd() hands back the RDD
        # localCheckpoint persisted (both wrap it in fresh derived RDDs,
        # so unpersist on them is a silent no-op — verified empirically)
        out = {}
        it = sc._jsc.sc().getPersistentRDDs().toList().iterator()
        while it.hasNext():
            t = it.next()
            out[t._1()] = t._2()
        return out

    prev_blocks: list = []
    for _it in range(64):
        prop = (
            sym.join(labels, sym["s"] == labels["id"])
            .groupBy(F.col("d").alias("id2"))
            .agg(F.min("label").alias("nl"))
        )
        # carry a per-node `changed` flag through the step: convergence is
        # then sum(changed) == 0 on the SAME materialized table — no
        # extra join, no arithmetic over the label values themselves (a
        # long-sum would both overflow under ANSI at 10^12 nodes and bar
        # string ids; a 0/1 count does neither)
        before = set(_persistent_ids())
        stepped = labels.join(prop, labels["id"] == prop["id2"], "left").select(
            "id",
            F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias("label"),
            (F.col("nl").isNotNull() & (F.col("nl") < F.col("label")))
            .cast("long")
            .alias("changed"),
        ).localCheckpoint(eager=True)
        after = _persistent_ids()
        this_blocks = [r for i, r in after.items() if i not in before]
        n_changed = stepped.agg(F.sum("changed").alias("c")).collect()[0]["c"] or 0
        # the new checkpoint's blocks are self-contained (eager=True
        # materialized them above), so the superseded round's blocks can
        # be freed NOW instead of lingering until driver GC — up to 64
        # rounds of label tables otherwise pile up in block storage
        for r in prev_blocks:
            r.unpersist(False)
        prev_blocks = this_blocks
        labels = stepped.select("id", "label")
        if n_changed == 0:
            break
    sym.unpersist()
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster"))


def simhash_bands(
    sigs: DataFrame, n_bands: int = 4, band_bits: int = 4
) -> DataFrame:
    """Explode 16-bit SimHash signatures into (doc_id, simhash, band_idx,
    band_val) bucket rows — shared by the pair join and the bucket audit."""
    bands = F.array(
        *[
            F.expr(
                f"CAST(floor(simhash / {1 << (band_bits * b)}) % {1 << band_bits} AS BIGINT)"
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(
        "doc_id", "simhash", F.posexplode(bands).alias("band_idx", "band_val")
    )


def simhash_pairs(
    sigs: DataFrame,
    n_bands: int = 4,
    band_bits: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: bucket by signature bands, verify hamming
    within buckets only — never all-pairs.

    Pigeonhole guarantee: with ``n_bands`` = ``max_hamming`` + 1 bands, any
    pair within ``max_hamming`` bits differs in at most ``max_hamming``
    bands, so at least one band matches — bucketing loses NO qualifying
    pair. All integer arithmetic (band extract = floor-div/mod, hamming =
    bit_count(xor)), DuckDB-oracle exact.

    ``max_bucket`` bounds the within-bucket self-join exactly like the
    MinHash path (see DEFAULT_MAX_BUCKET): a 16-bit signature over a
    homogeneous web corpus puts whole template families in one band
    bucket, and m members there cost m^2/2 join rows. Capped buckets are
    dropped from the join and MUST be surfaced via ``bucket_drop_stats``
    over ``simhash_bands`` output (the pigeonhole completeness guarantee
    then holds for pairs outside dropped buckets only — on the record,
    never silent).
    """
    exploded = _capped(simhash_bands(sigs, n_bands, band_bits), max_bucket)
    pairs = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # a pair matching in several bands appears once per band: group to
        # dedup (one shuffle over candidate rows only)
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )
    return pairs.withColumn(
        "hamming", F.expr("bit_count(sig_a ^ sig_b)").cast("long")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_16(tokens: DataFrame) -> DataFrame:
    """16-bit SimHash: per-bit majority vote of token md5 hashes, all in
    exact integer arithmetic (hex chars -> nibbles via locate())."""
    h16 = F.expr(
        "(locate(substring(md5(cast(tok as binary)), 1, 1), '0123456789abcdef') - 1) * 4096"
        " + (locate(substring(md5(cast(tok as binary)), 2, 1), '0123456789abcdef') - 1) * 256"
        " + (locate(substring(md5(cast(tok as binary)), 3, 1), '0123456789abcdef') - 1) * 16"
        " + (locate(substring(md5(cast(tok as binary)), 4, 1), '0123456789abcdef') - 1)"
    )
    hashed = tokens.withColumn("h", h16)
    bit_sums = [
        F.sum(
            F.expr(f"CAST(floor(h / {1 << b}) % 2 AS BIGINT) * 2 - 1")
        ).alias(f"s{b}")
        for b in range(16)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.cast("long").alias("simhash"))


def substring_dup_ratio(df: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Cross-document verbatim-substring duplication audit — the
    ExactSubstr signal of Lee et al. 2021 (arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better"),
    approximated on winnowing fingerprints: a window whose fingerprint
    appears in at least one OTHER document is a duplicated substring;
    report per-doc window counts and the quantized duplicated share.

    Scale shape: one partial-aggregable groupBy(fp) for cross-doc
    document frequency, one re-join of the (doc, fp) postings on the key
    just aggregated (output size == postings size — no pair blowup even
    for boilerplate fingerprints in millions of docs), one per-doc
    reduce."""
    fps = winnow_fingerprints(df, k, w)  # distinct (doc_id, fp) postings
    fp_df = fps.groupBy("fp").agg(F.count("*").alias("fp_df"))
    return (
        fps.join(fp_df, "fp")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fp"),
            F.sum((F.col("fp_df") > 1).cast("long")).alias("n_dup_fp"),
        )
        .select(
            "doc_id",
            F.col("n_fp").cast("long").alias("n_fp"),
            F.col("n_dup_fp").cast("long").alias("n_dup_fp"),
            F.floor(F.lit(1000) * F.col("n_dup_fp") / F.col("n_fp"))
            .cast("long")
            .alias("dup_share_q"),
        )
    )


CHUNK_W = 8
# chunk_idx < 2^20 per doc and doc_id << 2^43, so this composite key is
# collision-free in a long and orders (doc_id, chunk_idx) lexicographically
CHUNK_KEY_SCALE = 1_048_576


def chunk_dedup_stats(df: DataFrame, w: int = CHUNK_W) -> DataFrame:
    """C4-style duplicated-span REMOVAL audit (the "discard repeated
    three-sentence spans" rule of Raffel et al. 2020, arXiv:1910.10683,
    re-expressed on fixed ``w``-token chunks since the synthetic corpus has
    no sentence boundaries): split each normalized document into
    consecutive w-token chunks, keep only each chunk's globally FIRST
    occurrence (min (doc_id, chunk_idx) across the corpus — duplicates
    within one doc count too), and report per doc how many chunks/tokens
    the rewrite would drop.

    Scale shape — linear, no pair blowup: chunking is per-row map work;
    the keeper is one partial-aggregable groupBy(chunk) min; the verdict
    re-joins the occurrence postings on the chunk key just aggregated
    (output == postings size, so a boilerplate chunk in d docs costs d
    rows, never d^2 — contrast pair-join dedup); the per-doc reduce is the
    second shuffle. Exactly the shape that survives a 10^12-doc corpus."""
    toks = F.expr("filter(split(norm, ' '), t -> t != '')")
    base = normalized(df).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        F.expr(
            f"cast((size(filter(split(norm, ' '), t -> t != '')) + {w - 1}) "
            f"div {w} as long)"
        ).alias("n_chunks"),
        toks.alias("toks"),
    )
    # sequence(0, -1) is DESCENDING in Spark — guard the zero-chunk case
    chunks = F.expr(
        f"CASE WHEN n_chunks > 0 THEN transform(sequence(0, n_chunks - 1), "
        f"i -> struct(cast(i as long) as chunk_idx, "
        f"array_join(slice(toks, cast(i * {w} + 1 as int), {w}), ' ') as chunk, "
        f"least({w}, n_toks - i * {w}) as chunk_len)) "
        f"ELSE cast(array() as array<struct<chunk_idx:long,chunk:string,chunk_len:long>>) END"
    )
    occ = (
        base.select("doc_id", "n_toks", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            "n_toks",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk").alias("chunk"),
            F.col("c.chunk_len").cast("long").alias("chunk_len"),
            (F.col("doc_id") * CHUNK_KEY_SCALE + F.col("c.chunk_idx"))
            .cast("long")
            .alias("occ_key"),
        )
    )
    keeper = occ.groupBy("chunk").agg(F.min("occ_key").alias("keep_key"))
    flags = occ.join(keeper, "chunk").withColumn(
        "is_dup", F.col("occ_key") != F.col("keep_key")
    )
    agg = flags.groupBy("doc_id").agg(
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_chunks"),
        F.sum(F.when(F.col("is_dup"), F.col("chunk_len")).otherwise(F.lit(0)))
        .alias("dup_toks"),
    )
    return (
        base.select("doc_id", "n_toks", "n_chunks")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            "n_chunks",
            F.coalesce("n_dup_chunks", F.lit(0)).cast("long").alias("n_dup_chunks"),
            F.coalesce("dup_toks", F.lit(0)).cast("long").alias("dup_toks"),
            (F.col("n_toks") - F.coalesce("dup_toks", F.lit(0)))
            .cast("long")
            .alias("kept_toks"),
            F.floor(
                F.lit(1000)
                * F.coalesce("dup_toks", F.lit(0))
                / F.greatest("n_toks", F.lit(1))
            ).cast("long").alias("dup_q"),
        )
    )

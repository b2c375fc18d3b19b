"""Corpus-curation operators beyond dedup/similarity: deterministic
stratified sampling, training-shard assignment, and bloom-filter-pruned
incremental anti-join.

Everything here is engine-portable integer/string arithmetic over md5
(present and identical in Spark and DuckDB), so every operator is
oracle-checkable bit-for-bit — the same discipline as operators/dedup.py.
A hash "bucket" is the integer value of the first ``nibbles`` hex chars of
``md5(salt || key)``; both engines decode hex chars through an index scan
of '0123456789abcdef' (Spark ``locate`` / DuckDB ``strpos``), never through
engine-specific conv()/from_hex().

Scale notes:
  * stratified_sample / shard_assign are PER-ROW expressions — no shuffle,
    no RNG (rand() is neither reproducible across retries nor oracle-able);
    the md5 bucket is stable under task retry, which a 10^12-doc sampling
    job requires for exactly-once semantics.
  * bloom-pruned anti-join: the classic incremental-ingest problem — the
    seen-set is petabytes, but its bloom projection (distinct bit
    positions) is tiny and broadcastable. Membership check = explode each
    candidate's k positions, broadcast-join the seen-position set, count
    hits; only docs with all k positions present (the "maybe" set, exact
    dups + a measurable false-positive tail) pay the exact fingerprint
    anti-join. No bitmap ever materializes on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tika_wrap_spark.operators.dedup import normalized

HEX = "0123456789abcdef"


def bucket_expr(key: Column, salt: str, nibbles: int) -> Column:
    """Integer in [0, 16**nibbles) from the first ``nibbles`` hex chars of
    ``md5(salt || key)``. Spark side decodes the hex prefix with
    ``conv(.., 16, 10)``; the DuckDB side (bucket_sql_expr) decodes the
    same chars with strpos nibble arithmetic — identical values
    (``tests/test_curation.py`` pins the cross-engine equality)."""
    digest = F.md5(F.concat(F.lit(salt), key).cast("binary"))
    return F.conv(F.substring(digest, 1, nibbles), 16, 10).cast("long")


def bucket_sql_expr(key_sql: str, salt: str, nibbles: int) -> str:
    """The same bucket as bucket_expr, as DuckDB SQL over ``key_sql``."""
    terms = []
    for i in range(nibbles):
        scale = 16 ** (nibbles - 1 - i)
        terms.append(
            f"(strpos('{HEX}', substr(md5('{salt}' || {key_sql}), {i + 1}, 1)) - 1)"
            + (f" * {scale}" if scale > 1 else "")
        )
    return "(" + " + ".join(terms) + ")"


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates_4096: dict[str, int],
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its doc_id's md5
    bucket (12 bits) falls below its stratum's threshold out of 4096 — per-
    stratum Bernoulli sampling with a reproducible, retry-stable coin. A
    stratum with no rate keeps every row."""
    bucket = bucket_expr(F.col("doc_id").cast("string"), "samp:", 3)
    thr = None
    for stratum, rate in rates_4096.items():
        cond = F.col(strata_col) == stratum
        thr = F.when(cond, rate) if thr is None else thr.when(cond, rate)
    thr = thr.otherwise(4096) if thr is not None else F.lit(4096)
    return df.withColumn("bucket", bucket).filter(F.col("bucket") < thr)


def shard_assign(df: DataFrame, n_shards: int, key_col: str = "doc_id") -> DataFrame:
    """Deterministic training-shard assignment: shard = md5 bucket mod
    n_shards. Uniform by construction (no hot shard), stable across runs
    and retries — the property a resumable multi-day export needs."""
    bucket = bucket_expr(F.col(key_col).cast("string"), "shard:", 2)
    return df.withColumn("shard", (bucket % n_shards).cast("long"))


def shard_shuffle(df: DataFrame, n_shards: int, epoch: int = 0) -> DataFrame:
    """Deterministic global training-order shuffle — the 'shuffled shards'
    construction every pretraining data loader consumes: each doc draws a
    32-bit md5 shuffle key (salted by ``epoch``, so every epoch is an
    independent permutation), lands in ``shard = key mod n_shards``, and
    takes ``pos`` = its rank within the shard by (key, doc_id). Retry- and
    partitioning-stable: the whole permutation is a pure function of
    (doc_id, epoch), never of RNG state or row order.

    Scale shape: ONE shuffle on the uniform md5 shard key, then per-shard
    window sorts of ~n_docs/n_shards rows each — parallelism equals
    n_shards, so size n_shards to the cluster (docs/10M shards keeps a
    10^12-doc sort bounded at ~10M rows per task). No global sort exists
    anywhere in the plan."""
    key = bucket_expr(F.col("doc_id").cast("string"), "shuf%d:" % epoch, 8)
    keyed = df.withColumn("shuffle_key", key).withColumn(
        "shard", (F.col("shuffle_key") % n_shards).cast("long")
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.withColumn("pos", F.row_number().over(w).cast("long"))


PACK_BUDGET = 512
PACK_FANOUT = 4096


def pack_sequences(toks: DataFrame, fanout: int = PACK_FANOUT) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    step that concatenates the token stream in deterministic doc_id order
    and chunks it into fixed ``PACK_BUDGET``-token training sequences. Input:
    (doc_id, n_toks). Output per doc: its global token offset and the
    first/last sequence ids it lands in (a doc can straddle a boundary).

    Scale shape — a THREE-LEVEL distributed prefix sum, never one global
    sort and never an unbounded single-partition window:

      * leaf buckets  b1 = doc_id div fanout   (<= fanout docs each),
      * mid buckets   b2 = b1 div fanout       (<= fanout leaves each),
      * the only unpartitioned window runs over the MID-bucket table —
        ceil(id_range / fanout^2) rows, i.e. <= ~60k rows even at 10^12
        docs (fanout 4096) — bounded single-partition state, the same
        shape as the KMV two-stage bottom-k;
      * every partitioned window (per-b2 leaf cumsum, per-b1 doc cumsum)
        sees <= fanout rows per partition.

    The leaf-base join keys on b1 — co-partitioned with the per-b1 doc
    window's shuffle, NOT broadcast (the leaf table is id_range/fanout
    rows: broadcastable at test SF, not at 10^12). The mid-base table IS
    broadcast (always tiny). One-window oracle proves the decomposition
    exact regardless of fanout."""
    b = toks.withColumn("b1", F.expr(f"doc_id div {fanout}")).withColumn(
        "b2", F.expr(f"doc_id div {fanout} div {fanout}")
    )
    s1 = b.groupBy("b2", "b1").agg(F.sum("n_toks").alias("s1sum"))
    mid_base = (
        s1.groupBy("b2")
        .agg(F.sum("s1sum").alias("s2sum"))
        .withColumn(
            "b2base",
            F.coalesce(
                F.sum("s2sum").over(
                    Window.orderBy("b2").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("b2", "b2base")
    )
    w_leaf = (
        Window.partitionBy("b2").orderBy("b1").rowsBetween(Window.unboundedPreceding, -1)
    )
    leaf_base = (
        s1.withColumn("l1off", F.coalesce(F.sum("s1sum").over(w_leaf), F.lit(0)))
        .join(F.broadcast(mid_base), "b2")
        .select("b1", (F.col("b2base") + F.col("l1off")).alias("b1base"))
    )
    w_in = (
        Window.partitionBy("b1")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        b.withColumn("local_off", F.coalesce(F.sum("n_toks").over(w_in), F.lit(0)))
        .join(leaf_base, "b1")
        .withColumn("start_off", (F.col("b1base") + F.col("local_off")).cast("long"))
    )
    seq_first = F.expr(f"start_off div {PACK_BUDGET}")
    seq_last = F.expr(
        f"CASE WHEN n_toks > 0 THEN (start_off + n_toks - 1) div {PACK_BUDGET} "
        f"ELSE start_off div {PACK_BUDGET} END"
    )
    return placed.select(
        "doc_id",
        F.col("n_toks").cast("long").alias("n_toks"),
        "start_off",
        seq_first.cast("long").alias("seq_first"),
        seq_last.cast("long").alias("seq_last"),
        F.when(F.col("n_toks") > 0, seq_last - seq_first + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_seqs"),
    )


PAD_BATCH = 32


def padding_waste(toks: DataFrame, batch: int = PAD_BATCH) -> DataFrame:
    """Length-bucketed-batching audit — the padding-efficiency question a
    training-data pipeline answers before exporting shards: when documents
    are grouped into fixed-size batches and each batch pads to its longest
    member, how many pad tokens does 'arrival' (doc_id) order waste vs
    sorting by length first? Input: (doc_id, source, n_toks). Output: one
    row per (strategy, source shard) with real/padded token totals and the
    quantized waste share.

    Scale shape: both strategies are row_number windows partitioned by
    ``source`` — the shard key — never a global sort; per-shard batch stats
    and the final rollup are partial-aggregable groupBys. At 10^12 docs the
    shard count is the parallelism, exactly how a real packing/export job
    partitions."""
    out = []
    for strategy, order in (
        ("arrival", [F.col("doc_id")]),
        ("sorted", [F.col("n_toks"), F.col("doc_id")]),
    ):
        w = Window.partitionBy("source").orderBy(*order)
        out.append(
            toks.withColumn("rn", F.row_number().over(w) - 1)
            .withColumn("batch_idx", F.expr(f"rn div {batch}"))
            .groupBy("source", "batch_idx")
            .agg(
                F.count("*").alias("n_docs"),
                F.max("n_toks").alias("max_len"),
                F.sum("n_toks").alias("real_toks"),
            )
            .groupBy("source")
            .agg(
                F.count("*").alias("n_batches"),
                F.sum("n_docs").alias("n_docs"),
                F.sum("real_toks").alias("real_toks"),
                F.sum(F.col("n_docs") * F.col("max_len")).alias("padded_toks"),
            )
            .select(
                F.lit(strategy).alias("strategy"),
                "source",
                F.col("n_batches").cast("long").alias("n_batches"),
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("real_toks").cast("long").alias("real_toks"),
                F.col("padded_toks").cast("long").alias("padded_toks"),
                F.floor(
                    F.lit(1000)
                    * (F.col("padded_toks") - F.col("real_toks"))
                    / F.greatest("padded_toks", F.lit(1))
                ).cast("long").alias("waste_q"),
            )
        )
    return out[0].unionByName(out[1])


CONTAM_N = 3
CONTAM_EVAL_MOD = 50
CONTAM_DF_CAP = 20


def contamination_check(grams: DataFrame) -> DataFrame:
    """Benchmark-contamination (decontamination) check — the train/eval
    n-gram-overlap audit every corpus release runs: which eval-set
    documents share word shingles with the training split, and how much.
    Input: (doc_id, gram) distinct shingles; the eval split is the
    deterministic ``doc_id % CONTAM_EVAL_MOD == 0`` subset.

    Scale shape: the eval side is a small fixed benchmark — broadcast it;
    the train side never shuffles for the probe. Train-side shingles with
    document frequency > CONTAM_DF_CAP are dropped before the join (one
    boilerplate shingle in d train docs would emit d rows per eval hit —
    the same hot-shingle quadratic the ngram_jaccard cap defuses; a
    stop-shingle signals boilerplate, not contamination)."""
    is_eval = (F.col("doc_id") % CONTAM_EVAL_MOD) == 0
    eval_g = grams.filter(is_eval)
    train_g = grams.filter(~is_eval)
    train_kept = train_g.join(
        train_g.groupBy("gram")
        .agg(F.count("*").alias("gram_df"))
        .filter(F.col("gram_df") <= CONTAM_DF_CAP),
        "gram",
    ).select(F.col("doc_id").alias("train_doc"), "gram")
    hits = (
        train_kept.join(
            F.broadcast(eval_g.withColumnRenamed("doc_id", "eval_doc")), "gram"
        )
        .groupBy("eval_doc")
        .agg(
            F.countDistinct("gram").alias("n_hit_shingles"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
    )
    sizes = eval_g.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        sizes.join(hits, sizes["doc_id"] == hits["eval_doc"], "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("n_hit_shingles", F.lit(0)).cast("long").alias("n_hit_shingles"),
            F.coalesce("n_train_docs", F.lit(0)).cast("long").alias("n_train_docs"),
            F.floor(
                F.lit(1000)
                * F.coalesce("n_hit_shingles", F.lit(0))
                / F.greatest("n_shingles", F.lit(1))
            ).cast("long").alias("contam_q"),
        )
    )


def bloom_positions(fp: Column, k: int = 3) -> Column:
    """Array of k bit positions (12-bit space, m=4096) for a fingerprint:
    position_i = bucket of md5('bloom{i}:' || fp). k independent positions
    via salted digests — the standard k-hash bloom construction."""
    return F.array(*[bucket_expr(fp, f"bloom{i}:", 3) for i in range(k)])


def bloom_prune_flags(
    incoming: DataFrame,
    seen: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Per-incoming-row bloom verdict against the seen-set, fully
    distributed: ``bloom_maybe`` (all k positions present in the seen
    bloom projection — never a false negative) and ``is_dup`` (exact
    fingerprint membership). An is_dup row without bloom_maybe would be a
    bloom soundness bug (``tests/test_curation.py`` pins the implication);
    bloom_maybe without is_dup is the measurable false-positive tail the
    pruning trades for.

    The seen side reduces to (a) its distinct bit positions and (b) its
    distinct fingerprints — both broadcast; the incoming corpus is never
    shuffled. At 100 TB only the bloom-maybe sliver pays join (b)."""
    seen_pos = (
        seen.select(F.explode(bloom_positions(F.col("fp"), k)).alias("pos"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    seen_fps = seen.select("fp").distinct().withColumn("seen_dup", F.lit(True))
    inc = incoming.withColumn("_positions", bloom_positions(F.col("fp"), k))
    hits = (
        inc.select("doc_id", F.explode("_positions").alias("pos"))
        .join(F.broadcast(seen_pos), "pos", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("present"), F.lit(0))).alias("hits"))
    )
    return (
        inc.join(hits, "doc_id")
        .join(F.broadcast(seen_fps), "fp", "left")
        .select(
            "doc_id",
            (F.col("hits") == k).alias("bloom_maybe"),
            F.coalesce(F.col("seen_dup"), F.lit(False)).alias("is_dup"),
        )
    )


TEMP_SCALE = 4096


def temperature_rates(df: DataFrame, strata_col: str) -> DataFrame:
    """Temperature-resampling keep rates (alpha = 0.5) per stratum — the
    multilingual/domain rebalancing step of a pretraining mix: the rarest
    stratum keeps everything, a stratum k times larger keeps ~1/sqrt(k) of
    its docs, flattening the mixture toward p^alpha.

    rate_q = min(S, floor(S * sqrt(n_min / n_s))), S = TEMP_SCALE, computed with
    IEEE-exact ops only (division and sqrt are correctly rounded, the
    scale multiply and floor are exact) so both engines produce the
    identical integer rate. The per-stratum count table is one
    partial-aggregable groupBy; the min is a 1-row broadcast."""
    counts = df.groupBy(strata_col).agg(F.count("*").alias("n_docs"))
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    return (
        counts.join(F.broadcast(n_min))
        .withColumn(
            "rate_q",
            F.least(
                F.lit(TEMP_SCALE),
                F.floor(F.lit(TEMP_SCALE) * F.sqrt(F.col("n_min") / F.col("n_docs"))),
            ).cast("long"),
        )
        .select(strata_col, F.col("n_docs").cast("long").alias("n_docs"), "rate_q")
    )


def temperature_sample(df: DataFrame, strata_col: str) -> DataFrame:
    """Apply temperature_rates: keep a doc iff its md5 bucket falls under
    its stratum's rate (same deterministic coin as stratified_sample —
    retry-stable, partitioning-independent). Returns the per-stratum
    audit row (n_docs, rate_q, n_kept) rather than the kept rows, as the
    standing record of the achieved mixture."""
    rates = temperature_rates(df, strata_col)
    kept = (
        df.join(F.broadcast(rates), strata_col)
        .withColumn("b", bucket_expr(F.col("doc_id").cast("string"), "temp:", 3))
        .withColumn("keep", F.col("b") < F.col("rate_q"))
    )
    return (
        kept.groupBy(strata_col)
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("rate_q").alias("rate_q"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
        .select(
            strata_col,
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("rate_q").cast("long").alias("rate_q"),
            F.col("n_kept").cast("long").alias("n_kept"),
        )
    )


# DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
# select raw-pool docs whose hashed n-gram profile looks like the target
# domain. The feature space is a FIXED number of hash buckets, so the two
# domain profiles are tiny broadcastable tables at any corpus scale.
DSIR_BUCKETS = 64
DSIR_SCALE = 1_000_000
DSIR_SALT = "dsir:"
DSIR_TARGET_SOURCE = "src0"


def importance_weights(df: DataFrame) -> DataFrame:
    """Hashed-unigram importance weights over the documents table. Docs
    from ``DSIR_TARGET_SOURCE`` define the TARGET feature profile; every other
    doc is the RAW pool to be scored. Per token, feature bucket =
    md5-bucket mod DSIR_BUCKETS; per-bucket ratio is the add-one-smoothed
    integer surrogate, quantized in two overflow-proof stages:

        p_t_q   = (SCALE * (t_b + 1)) div (t_tot + B)
        p_r_q   = (SCALE * (r_b + 1)) div (r_tot + B)
        ratio_q = (SCALE * p_t_q) div greatest(p_r_q, 1)

    — the smoothed p_target(b)/p_raw(b) probability ratio times SCALE;
    every intermediate is bounded by SCALE^2 = 1e12 REGARDLESS of corpus
    size (no count product ever forms, so ANSI long arithmetic can't
    overflow at 10^12 docs), identical BIGINT ops in Spark and DuckDB. A
    raw doc's weight is the mean ratio over its token occurrences; high
    mean = its mass sits in buckets the target over-represents.

    Scale shape: both profiles are partial-aggregable groupBys that land
    in a DSIR_BUCKETS-row table (fixed size — broadcast); scoring is one
    map-side broadcast join + a per-doc aggregate. Nothing shuffles on
    content; at 10^12 docs the only large movement is the doc-level
    aggregate of (doc_id, ratio) pairs, keyed by doc_id."""
    toks = normalized(df).select(
        "doc_id",
        "source",
        F.explode(F.expr("filter(split(norm, ' '), x -> x != '')")).alias("tok"),
    )
    bucketed = toks.withColumn(
        "b", bucket_expr(F.col("tok"), DSIR_SALT, 2) % DSIR_BUCKETS
    )
    tgt = bucketed.filter(F.col("source") == DSIR_TARGET_SOURCE)
    raw = bucketed.filter(F.col("source") != DSIR_TARGET_SOURCE)
    tprof = tgt.groupBy("b").agg(F.count("*").alias("t_b"))
    rprof = raw.groupBy("b").agg(F.count("*").alias("r_b"))
    ttot = tgt.agg(F.count("*").alias("t_tot"))
    rtot = raw.agg(F.count("*").alias("r_tot"))
    # dense 64-row ratio table: every bucket present (missing -> count 0)
    buckets = df.sparkSession.range(DSIR_BUCKETS).select(F.col("id").alias("b"))
    ratios = (
        buckets.join(tprof, "b", "left")
        .join(rprof, "b", "left")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(rtot))
        .select(
            "b",
            F.expr(
                f"({DSIR_SCALE} * (({DSIR_SCALE} * (coalesce(t_b, 0) + 1)) div (t_tot + {DSIR_BUCKETS}))) div "
                f"greatest(({DSIR_SCALE} * (coalesce(r_b, 0) + 1)) div (r_tot + {DSIR_BUCKETS}), 1)"
            ).alias("ratio_q"),
        )
    )
    scored = raw.join(F.broadcast(ratios), "b")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum("ratio_q").cast("long").alias("weight_sum"),
        )
        .select(
            "doc_id",
            "n_toks",
            "weight_sum",
            F.expr("weight_sum div greatest(n_toks, 1)").cast("long").alias("weight_mean_q"),
        )
    )

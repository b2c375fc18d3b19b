"""Training-data pipeline queries: dedup family, similarity search, text
analysis, multimodal + extraction-pipeline demos.

Same contract as queries.py: Spark impl + DuckDB oracle with identical
column names. Oracles for minhash/simhash/LSH are generated from the same
parameters as the Spark expressions, so both engines compute the identical
integer/string arithmetic.
"""

from __future__ import annotations

import functools
import hashlib
import operator
import os
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tika_wrap_spark import formats as fm
from tika_wrap_spark.core.procmemo import proc_memo
from tika_wrap_spark.operators import curation as cu
from tika_wrap_spark.operators import dedup as dd
from tika_wrap_spark.operators import similarity as sim
from tika_wrap_spark.operators import text_analysis as ta
from tika_wrap_spark.operators.multimodal import decode_media, media_payloads
from tika_wrap_spark.operators.extract_ops import sniffed_spans


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_NORM_DUCK = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, d):
    """Exact dedup via content digest (hash-groupBy)."""
    return dd.exact_dedup_groups(_t(spark, d, "documents"))


SQL_DEDUP_EXACT = f"""
SELECT md5({_NORM_DUCK}) AS fp, count(*) AS n_docs, min(doc_id) AS keeper
FROM documents GROUP BY 1
"""


NGRAM_DF_CAP = 20


def q_ngram_jaccard(spark, d):
    """n-gram Jaccard near-dup: 2-gram shingles, pairs within the same
    source, exact integer Jaccard.

    Scale shape: a shingle appearing in d documents emits d^2 join rows, so
    ONE hot stop-shingle makes the self-join quadratic at 100 TB. Shingles
    with document frequency > NGRAM_DF_CAP are dropped BEFORE the join (they
    carry no discriminative signal anyway); the DF tally is a
    partial-aggregable groupBy and the filter join shuffles on the same
    gram key as the pair join. ``tests/test_dedup_edge.py`` pins the
    candidate bound on a stop-shingle-heavy corpus."""
    docs = _t(spark, d, "documents").filter(F.col("doc_id") < 100)
    grams = dd.doc_ngrams(docs, n=2)
    src = docs.select("doc_id", "source")
    g0 = grams.join(src, "doc_id").select("doc_id", "source", "gram")
    gram_df = g0.groupBy("gram").agg(F.count("*").alias("gram_df"))
    g = g0.join(
        gram_df.filter(F.col("gram_df") <= NGRAM_DF_CAP), "gram"
    ).select("doc_id", "source", "gram")
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    pairs = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
        .filter(F.col("inter") >= 2)
    )
    return (
        pairs.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("za.sz") + F.col("zb.sz") - F.col("inter")).alias("union_sz"),
            F.floor(
                F.lit(1000)
                * F.col("inter")
                / (F.col("za.sz") + F.col("zb.sz") - F.col("inter"))
            ).cast("long").alias("j_q"),
        )
    )


SQL_NGRAM_JACCARD = f"""
WITH docs AS (
  SELECT doc_id, source, str_split({_NORM_DUCK}, ' ') AS w
  FROM documents WHERE doc_id < 100
), grams0 AS (
  SELECT DISTINCT doc_id, source, w[t.i] || ' ' || w[t.i+1] AS gram
  FROM docs, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
), gdf AS (
  SELECT gram, count(*) AS gram_df FROM grams0 GROUP BY gram
), grams AS (
  SELECT g.doc_id, g.source, g.gram
  FROM grams0 g JOIN gdf USING (gram) WHERE gram_df <= {NGRAM_DF_CAP}
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM grams a JOIN grams b
    ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT doc_a, doc_b, inter, za.sz + zb.sz - inter AS union_sz,
       CAST(floor(1000.0 * inter / (za.sz + zb.sz - inter)) AS BIGINT) AS j_q
FROM pairs JOIN sizes za ON doc_a = za.doc_id JOIN sizes zb ON doc_b = zb.doc_id
"""


CONTAIN_MIN_Q = 800  # containment-of-the-smaller-side flag threshold
CONTAIN_LOW_J_Q = 500  # ...while Jaccard stays below this = subset-like


def q_shingle_containment(spark, d):
    """Doc-in-doc duplication audit: n-gram CONTAINMENT of the smaller
    document, C = |S(A) n S(B)| / min(|S(A)|, |S(B)|) (Broder's resemblance
    companion) — catches a short doc quoted/embedded inside a long one,
    where symmetric Jaccard stays low and the MinHash family goes blind.
    Emits both metrics per candidate pair plus the subset-like flag
    (containment high, Jaccard low).

    Scale shape: identical to ngram_jaccard — DF-capped shingles defuse
    the hot-shingle quadratic join; sizes and pair intersections are
    partial-aggregable; the two size joins key on doc ids."""
    docs = _t(spark, d, "documents").filter(F.col("doc_id") < 100)
    grams0 = dd.doc_ngrams(docs, n=2).join(
        docs.select("doc_id", "source"), "doc_id"
    ).select("doc_id", "source", "gram")
    gram_df = grams0.groupBy("gram").agg(F.count("*").alias("gram_df"))
    g = grams0.join(
        gram_df.filter(F.col("gram_df") <= NGRAM_DF_CAP), "gram"
    ).select("doc_id", "source", "gram")
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    pairs = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
        .filter(F.col("inter") >= 2)
    )
    out = (
        pairs.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.col("za.sz").cast("long").alias("sz_a"),
            F.col("zb.sz").cast("long").alias("sz_b"),
            F.expr("(1000 * inter) div least(za.sz, zb.sz)").cast("long").alias("cont_q"),
            F.floor(
                F.lit(1000) * F.col("inter")
                / (F.col("za.sz") + F.col("zb.sz") - F.col("inter"))
            ).cast("long").alias("j_q"),
        )
    )
    return out.withColumn(
        "subset_like",
        (F.col("cont_q") >= CONTAIN_MIN_Q) & (F.col("j_q") < CONTAIN_LOW_J_Q),
    )


SQL_SHINGLE_CONTAINMENT = f"""
WITH docs AS (
  SELECT doc_id, source, str_split({_NORM_DUCK}, ' ') AS w
  FROM documents WHERE doc_id < 100
), grams0 AS (
  SELECT DISTINCT doc_id, source, w[t.i] || ' ' || w[t.i+1] AS gram
  FROM docs, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
), gdf AS (
  SELECT gram, count(*) AS gram_df FROM grams0 GROUP BY gram
), grams AS (
  SELECT g.doc_id, g.source, g.gram
  FROM grams0 g JOIN gdf USING (gram) WHERE gram_df <= {NGRAM_DF_CAP}
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM grams a JOIN grams b
    ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT doc_a, doc_b, inter,
       CAST(za.sz AS BIGINT) AS sz_a, CAST(zb.sz AS BIGINT) AS sz_b,
       CAST((1000 * inter) // least(za.sz, zb.sz) AS BIGINT) AS cont_q,
       CAST(floor(1000.0 * inter / (za.sz + zb.sz - inter)) AS BIGINT) AS j_q,
       (1000 * inter) // least(za.sz, zb.sz) >= {CONTAIN_MIN_Q}
         AND floor(1000.0 * inter / (za.sz + zb.sz - inter)) < {CONTAIN_LOW_J_Q}
         AS subset_like
FROM pairs JOIN sizes za ON doc_a = za.doc_id JOIN sizes zb ON doc_b = zb.doc_id
"""


N_MINHASH = 16
BAND_ROWS = 4
# band-bucket size cap for the PAIR-AUDIT queries (dedup_minhash_lsh /
# minhash_est_error / split_leakage / dedup_simhash_pairs): a bucket of m
# members costs m*(m-1)/2 join rows, and one hot template cluster at web
# scale puts 10^4+ docs in a single bucket — the cap bounds the join and
# the dropped volume is SURFACED as columns (never silent). Clustering
# does not cap: it rides O(m) star edges (dd.lsh_star_edges).
LSH_MAX_BUCKET = dd.DEFAULT_MAX_BUCKET


def _lsh_toks_sigs(spark, d):
    docs = _t(spark, d, "documents").filter(F.col("doc_id") < 60)
    toks = dd.doc_tokens(docs)
    return toks, dd.minhash_signatures(toks, N_MINHASH)


def _lsh_verified_pairs(spark, d):
    """Bucket-capped LSH candidates + exact-Jaccard verification — the
    shared audit-path core of dedup_minhash_lsh / minhash_est_error /
    split_leakage (doc_id<60 bounds the oracle's verify)."""
    toks, sigs = _lsh_toks_sigs(spark, d)
    pairs = dd.lsh_candidate_pairs(
        sigs, N_MINHASH, BAND_ROWS, max_bucket=LSH_MAX_BUCKET
    )
    return dd.jaccard_verify(pairs, toks)


def q_dedup_minhash_lsh(spark, d):
    """MinHash(16) + LSH(4 bands x 4 rows) over unigram shingles, candidates
    verified with exact Jaccard. Buckets over LSH_MAX_BUCKET members are
    dropped from the pair join (the web-scale m^2 defuse) and the dropped
    volume rides every row as dropped_buckets/dropped_pairs via a 1-row
    broadcast crossJoin — the no-silent-caps rule. Restricted to doc_id<60
    to bound the all-pairs verify in the oracle."""
    toks, sigs = _lsh_toks_sigs(spark, d)
    pairs = dd.lsh_candidate_pairs(
        sigs, N_MINHASH, BAND_ROWS, max_bucket=LSH_MAX_BUCKET
    )
    verified = dd.jaccard_verify(pairs, toks).select(
        "doc_a", "doc_b", "n_shared_bands", "inter", "union_sz", "j_q"
    )
    stats = dd.bucket_drop_stats(
        dd.lsh_bands(sigs, N_MINHASH, BAND_ROWS), LSH_MAX_BUCKET
    )
    return verified.crossJoin(
        F.broadcast(stats.select("dropped_buckets", "dropped_pairs"))
    )


def _minhash_base_ctes() -> str:
    """Shared CTE prefix (toks -> sigs -> bands -> bsz) of every
    minhash-derived oracle."""
    mins = ",\n         ".join(
        f"min(md5('{i}:' || tok)) AS mh{i}" for i in range(N_MINHASH)
    )
    n_bands = N_MINHASH // BAND_ROWS
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {idx} AS band_idx, md5({cat}) AS band_val FROM sigs".format(
            idx=b,
            cat=" || ".join(f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS)),
        )
        for b in range(n_bands)
    )
    return f"""toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(str_split({_NORM_DUCK}, ' ')) AS tok
        FROM documents WHERE doc_id < 60)
  WHERE tok <> ''
), sigs AS (
  SELECT doc_id, {mins}
  FROM toks GROUP BY doc_id
), bands AS (
{band_rows}
), bsz AS (
  SELECT band_idx, band_val, count(*) AS bm FROM bands GROUP BY 1, 2
)"""


_MINHASH_TAIL = """sizes AS (
  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
), inter AS (
  SELECT p.doc_a, p.doc_b, p.n_shared_bands, count(*) AS inter
  FROM pairs p
  JOIN toks sa ON p.doc_a = sa.doc_id
  JOIN toks sb ON p.doc_b = sb.doc_id AND sa.tok = sb.tok
  GROUP BY 1, 2, 3
)"""


def _minhash_ctes() -> str:
    """Audit-path CTE chain: bucket-CAPPED pair join, then sizes/inter."""
    return f"""{_minhash_base_ctes()}, kept AS (
  SELECT b.doc_id, b.band_idx, b.band_val
  FROM bands b JOIN bsz USING (band_idx, band_val) WHERE bm <= {LSH_MAX_BUCKET}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
  FROM kept a JOIN kept b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), {_MINHASH_TAIL}"""


def _minhash_star_ctes() -> str:
    """Clustering-path CTE chain: STAR edges (member -> bucket min) instead
    of the within-bucket pair clique — O(m) per bucket, no cap needed."""
    return f"""{_minhash_base_ctes()}, hubs AS (
  SELECT band_idx, band_val, min(doc_id) AS hub FROM bands GROUP BY 1, 2
), pairs AS (
  SELECT h.hub AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
  FROM bands b JOIN hubs h
    ON b.band_idx = h.band_idx AND b.band_val = h.band_val
  WHERE b.doc_id <> h.hub
  GROUP BY 1, 2
), {_MINHASH_TAIL}"""


_DROP_COLS_SQL = f"""
       (SELECT CAST(coalesce(sum(CASE WHEN bm > {LSH_MAX_BUCKET} THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM bsz) AS dropped_buckets,
       (SELECT CAST(coalesce(sum(CASE WHEN bm > {LSH_MAX_BUCKET} THEN bm * (bm - 1) // 2 ELSE 0 END), 0) AS BIGINT)
        FROM bsz) AS dropped_pairs"""


def _sql_minhash() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT doc_a, doc_b, n_shared_bands, inter,
       za.sz + zb.sz - inter AS union_sz,
       CAST(floor(1000.0 * inter / (za.sz + zb.sz - inter)) AS BIGINT) AS j_q,{_DROP_COLS_SQL}
FROM inter JOIN sizes za ON doc_a = za.doc_id JOIN sizes zb ON doc_b = zb.doc_id
"""


SQL_DEDUP_MINHASH_LSH = _sql_minhash()


def q_dedup_star_edges(spark, d):
    """LSH STAR edges — the clustering-path candidate generator: each band
    bucket's members join the bucket's min(doc_id) hub (O(m) rows per
    bucket instead of the m*(m-1)/2 pair clique), then exact-Jaccard
    verification runs member-vs-hub. This is the edge set connected
    components consume at web scale; a 10^6-member template bucket emits
    10^6-1 edges, never 5*10^11."""
    toks, sigs = _lsh_toks_sigs(spark, d)
    edges = dd.lsh_star_edges(sigs, N_MINHASH, BAND_ROWS)
    return dd.jaccard_verify(edges, toks).select(
        "doc_a", "doc_b", "n_shared_bands", "inter", "union_sz", "j_q"
    )


def _sql_star_edges() -> str:
    return f"""
WITH {_minhash_star_ctes()}
SELECT doc_a, doc_b, n_shared_bands, inter,
       za.sz + zb.sz - inter AS union_sz,
       CAST(floor(1000.0 * inter / (za.sz + zb.sz - inter)) AS BIGINT) AS j_q
FROM inter JOIN sizes za ON doc_a = za.doc_id JOIN sizes zb ON doc_b = zb.doc_id
"""


SQL_DEDUP_STAR_EDGES = _sql_star_edges()


# edit-distance verification window: norms are clipped to this many chars
# before levenshtein so per-pair cost is a fixed O(EDIT_CLIP^2) at ANY
# corpus scale (the pair count itself is star/LSH-bounded)
EDIT_CLIP = 120


def q_dedup_edit_distance(spark, d):
    """Edit-distance verification of LSH candidates (r5) — the standard
    alternative to Jaccard verify when near-dups differ by small in-place
    edits rather than token swaps: STAR candidate edges (O(m) per bucket)
    join both docs' normalized texts clipped to EDIT_CLIP chars, and
    levenshtein (integer-exact, identical in Spark and DuckDB) scores each
    pair; ed_sim_q = floor(1000*(maxlen-lev)/maxlen). One extra broadcast-
    size join over the candidate set — no new shuffle shape."""
    docs = _t(spark, d, "documents").filter(F.col("doc_id") < 60)
    snorm = dd.normalized(docs).select(
        "doc_id", F.substring("norm", 1, EDIT_CLIP).alias("snorm")
    )
    toks, sigs = _lsh_toks_sigs(spark, d)
    edges = dd.lsh_star_edges(sigs, N_MINHASH, BAND_ROWS)
    a = snorm.select(F.col("doc_id").alias("doc_a"), F.col("snorm").alias("na"))
    b = snorm.select(F.col("doc_id").alias("doc_b"), F.col("snorm").alias("nb"))
    ed = (
        edges.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            F.levenshtein("na", "nb").cast("long").alias("lev"),
            F.greatest(F.length("na"), F.length("nb")).alias("maxlen"),
        )
    )
    return ed.select(
        "doc_a",
        "doc_b",
        "n_shared_bands",
        "lev",
        F.when(F.col("maxlen") == 0, F.lit(1000))
        .otherwise(
            F.floor(1000.0 * (F.col("maxlen") - F.col("lev")) / F.col("maxlen"))
        )
        .cast("long")
        .alias("ed_sim_q"),
    )


SQL_DEDUP_EDIT_DISTANCE = f"""
WITH {_minhash_star_ctes()}, ntext AS (
  SELECT doc_id, substr({_NORM_DUCK}, 1, {EDIT_CLIP}) AS snorm
  FROM documents WHERE doc_id < 60
), ed AS (
  SELECT p.doc_a, p.doc_b, p.n_shared_bands,
         CAST(levenshtein(na.snorm, nb.snorm) AS BIGINT) AS lev,
         greatest(length(na.snorm), length(nb.snorm)) AS maxlen
  FROM pairs p
  JOIN ntext na ON p.doc_a = na.doc_id
  JOIN ntext nb ON p.doc_b = nb.doc_id
)
SELECT doc_a, doc_b, n_shared_bands, lev,
       CAST(CASE WHEN maxlen = 0 THEN 1000
            ELSE floor(1000.0 * (maxlen - lev) / maxlen) END AS BIGINT) AS ed_sim_q
FROM ed
"""


def q_vocab_growth(spark, d):
    """Corpus vocabulary audit (r5, Heaps/Zipf observability): per source,
    token volume vs distinct-type count vs hapax legomena — the numbers a
    training-data curator watches to spot template spam (TTR collapses)
    and OCR noise (hapax share explodes). Two partial-aggregable shuffles
    (per-(source,tok) counts, then per-source rollup); linear in token
    volume at any corpus size, no joins or windows."""
    docs = _t(spark, d, "documents")
    toks = (
        dd.normalized(docs)
        .select("source", F.explode(F.split("norm", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    per_tok = toks.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    return (
        per_tok.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum((F.col("cnt") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.floor(1000.0 * F.col("n_types") / F.col("n_tokens"))
            .cast("long")
            .alias("ttr_q"),
            F.floor(1000.0 * F.col("n_hapax") / F.col("n_types"))
            .cast("long")
            .alias("hapax_share_q"),
        )
    )


SQL_VOCAB_GROWTH = f"""
WITH toks AS (
  SELECT source, tok
  FROM (SELECT source, unnest(str_split({_NORM_DUCK}, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), per_tok AS (
  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2
), per_source AS (
  SELECT source,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         count(*) AS n_types,
         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM per_tok GROUP BY 1
)
SELECT source, n_tokens, n_types, n_hapax,
       CAST(floor(1000.0 * n_types / n_tokens) AS BIGINT) AS ttr_q,
       CAST(floor(1000.0 * n_hapax / n_types) AS BIGINT) AS hapax_share_q
FROM per_source
"""


LINE_DEDUP_MIN_CHARS = 10  # C4-style: only lines this long count as content


def q_line_dedup(spark, d):
    """C4-style duplicate-line audit (continuation r5): split every
    document into trimmed lines, keep the content-bearing ones (>=
    ``LINE_DEDUP_MIN_CHARS`` chars), and measure per source how much of
    the corpus is boilerplate — lines whose exact content recurs in >= 2
    distinct documents corpus-wide (nav bars, cookie banners, footer
    legalese: the material C4's line-level dedup strips before training).
    Output per source: kept line occurrences, duplicate occurrences,
    distinct duplicated contents, and the duplicate share quantized to
    thousandths. Scale shape: one linear explode, then ALL joins/aggs run
    at line-TYPE grain (doc-grain -> (line, source) -> line rollups, each
    partial-aggregable), so a hot line ("Home") costs one aggregated row
    per source, never an occurrence-level join — the same
    postings-not-pairs rule the dedup family follows — and every
    shuffle/join key is the line's md5 DIGEST, not the line itself, so
    shuffle row width is 32 chars regardless of line length (both
    engines key on the digest, so the comparison is exact). Integer-exact
    in both engines (count/sum + integer div only)."""
    docs = _t(spark, d, "documents")
    lines = (
        docs.select(
            "doc_id", "source", F.explode(F.split("text", "\n")).alias("raw")
        )
        .select("doc_id", "source", F.trim("raw").alias("line"))
        .filter(F.length("line") >= LINE_DEDUP_MIN_CHARS)
        .select(
            "doc_id", "source", F.md5(F.col("line").cast("binary")).alias("fp")
        )
    )
    per_doc = lines.groupBy("fp", "source", "doc_id").agg(
        F.count("*").alias("occ")
    )
    per_src = per_doc.groupBy("fp", "source").agg(
        F.sum("occ").cast("long").alias("occ"),
        F.count("*").alias("n_docs_src"),
    )
    per_line = per_src.groupBy("fp").agg(
        F.sum("n_docs_src").cast("long").alias("n_docs_total")
    )
    dup = F.col("n_docs_total") >= 2
    return (
        per_src.join(per_line, "fp")
        .groupBy("source")
        .agg(
            F.sum("occ").cast("long").alias("n_lines"),
            F.sum(F.when(dup, F.col("occ")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup_lines"),
            F.sum(F.when(dup, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup_contents"),
        )
        .withColumn(
            "dup_q", F.expr("(1000 * n_dup_lines) div n_lines").cast("long")
        )
    )


SQL_LINE_DEDUP = f"""
WITH lines AS (
  SELECT doc_id, source, md5(trim(l)) AS fp
  FROM (SELECT doc_id, source, unnest(str_split(text, chr(10))) AS l
        FROM documents)
  WHERE length(trim(l)) >= {LINE_DEDUP_MIN_CHARS}
), per_doc AS (
  SELECT fp, source, doc_id, count(*) AS occ FROM lines GROUP BY 1, 2, 3
), per_src AS (
  SELECT fp, source, CAST(sum(occ) AS BIGINT) AS occ,
         count(*) AS n_docs_src
  FROM per_doc GROUP BY 1, 2
), per_line AS (
  SELECT fp, CAST(sum(n_docs_src) AS BIGINT) AS n_docs_total
  FROM per_src GROUP BY 1
)
SELECT s.source,
       CAST(sum(s.occ) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN p.n_docs_total >= 2 THEN s.occ ELSE 0 END)
            AS BIGINT) AS n_dup_lines,
       CAST(sum(CASE WHEN p.n_docs_total >= 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_contents,
       (1000 * CAST(sum(CASE WHEN p.n_docs_total >= 2 THEN s.occ ELSE 0 END)
                    AS BIGINT))
         // CAST(sum(s.occ) AS BIGINT) AS dup_q
FROM per_src s JOIN per_line p USING (fp)
GROUP BY 1
"""


def q_readability(spark, d):
    """Flesch-Kincaid-style readability grade per (source, lang)
    (continuation r5), in the house integer-exact surrogate form: grade
    x1000 = (390 * words) div sentences + (11800 * syllable_groups) div
    words - 15590 — the standard FK coefficients (0.39 / 11.8 / 15.59)
    scaled to milli-grades with integer division in BOTH engines.
    Sentences = terminal-punct count via translate-delete (no regex
    drift); syllable groups = maximal [aeiouy]+ runs on the normalized
    lowercase text (the classic vowel-group syllable estimator). The
    curation read: a source whose mean grade collapses toward 0 is
    listicle/fragment spam, one that explodes is OCR noise or legalese —
    the quality-mix dial next to [[text_quality]]'s surface features.
    Scale shape: per-doc projections (codegen'd, linear) + one
    partial-aggregable shuffle to the (source, lang) grain."""
    docs = dd.normalized(_t(spark, d, "documents")).filter(F.col("norm") != "")
    vrep = F.regexp_replace(F.col("norm"), "[aeiouy]+", "V")
    feats = docs.select(
        "source",
        "lang",
        F.size(F.split("norm", " ")).cast("long").alias("words"),
        F.greatest(
            F.lit(1).cast("long"),
            (
                F.length("text") - F.length(F.translate("text", ".!?", ""))
            ).cast("long"),
        ).alias("sentences"),
        F.greatest(
            F.lit(1).cast("long"),
            (F.length(vrep) - F.length(F.replace(vrep, F.lit("V"), F.lit("")))).cast(
                "long"
            ),
        ).alias("syll"),
    ).withColumn(
        "fk_milli",
        F.expr(
            "(390 * words) div sentences + (11800 * syll) div words - 15590"
        ).cast("long"),
    )
    return feats.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.expr("sum(fk_milli) div count(*)").cast("long").alias("mean_fk_milli"),
        F.min("fk_milli").cast("long").alias("min_fk_milli"),
        F.max("fk_milli").cast("long").alias("max_fk_milli"),
    )


SQL_READABILITY = f"""
WITH feats AS (
  SELECT source, lang,
         CAST(array_length(str_split({_NORM_DUCK}, ' ')) AS BIGINT) AS words,
         greatest(CAST(1 AS BIGINT),
                  CAST(length(text) - length(translate(text, '.!?', ''))
                       AS BIGINT)) AS sentences,
         greatest(CAST(1 AS BIGINT),
                  CAST(length(regexp_replace({_NORM_DUCK}, '[aeiouy]+', 'V', 'g'))
                       - length(replace(regexp_replace({_NORM_DUCK},
                                                       '[aeiouy]+', 'V', 'g'),
                                        'V', '')) AS BIGINT)) AS syll
  FROM documents
  WHERE {_NORM_DUCK} <> ''
), fk AS (
  SELECT source, lang,
         (390 * words) // sentences + (11800 * syll) // words - 15590
           AS fk_milli
  FROM feats
)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(fk_milli) AS BIGINT) // count(*) AS mean_fk_milli,
       CAST(min(fk_milli) AS BIGINT) AS min_fk_milli,
       CAST(max(fk_milli) AS BIGINT) AS max_fk_milli
FROM fk GROUP BY 1, 2
"""


ZIPF_TOP = 16  # rank checkpoints: head coverage window for the profile


def q_zipf_profile(spark, d):
    """Rank-frequency (Zipf) audit per source (r5): counts at the
    log-spaced rank checkpoints 1/2/4/8/16 plus the head (top-16)
    coverage share — the integer-exact observables a curator reads off a
    Zipf plot without fitting it (a healthy natural-language source has
    cnt_r1/cnt_r2 near 2 and a moderate head share; template spam drives
    the head share toward 1000). Deterministic tie-break: rank by
    (cnt DESC, tok ASC). Integer division keeps both engines exact —
    house rule: no transcendental math in oracled paths. Scale shape:
    two partial-aggregable shuffles plus one window PARTITIONED BY
    source (state = one source's vocabulary, bounded by type count, not
    corpus size)."""
    docs = _t(spark, d, "documents")
    toks = (
        dd.normalized(docs)
        .select("source", F.explode(F.split("norm", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    per_tok = toks.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranked = per_tok.withColumn("rank", F.row_number().over(w))

    def cnt_at(r):
        return F.coalesce(
            F.max(F.when(F.col("rank") == r, F.col("cnt"))), F.lit(0)
        ).cast("long")

    return (
        ranked.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.count("*").alias("n_types"),
            cnt_at(1).alias("cnt_r1"),
            cnt_at(2).alias("cnt_r2"),
            cnt_at(4).alias("cnt_r4"),
            cnt_at(8).alias("cnt_r8"),
            cnt_at(16).alias("cnt_r16"),
            F.sum(F.when(F.col("rank") <= ZIPF_TOP, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("top16_tokens"),
        )
        .withColumn(
            "top16_share_q",
            F.expr("(1000 * top16_tokens) div n_tokens").cast("long"),
        )
    )


SQL_ZIPF_PROFILE = f"""
WITH toks AS (
  SELECT source, tok
  FROM (SELECT source, unnest(str_split({_NORM_DUCK}, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), per_tok AS (
  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2
), ranked AS (
  SELECT source, cnt,
         row_number() OVER (PARTITION BY source ORDER BY cnt DESC, tok ASC) AS rank
  FROM per_tok
), agg AS (
  SELECT source,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         count(*) AS n_types,
         CAST(coalesce(max(CASE WHEN rank = 1 THEN cnt END), 0) AS BIGINT) AS cnt_r1,
         CAST(coalesce(max(CASE WHEN rank = 2 THEN cnt END), 0) AS BIGINT) AS cnt_r2,
         CAST(coalesce(max(CASE WHEN rank = 4 THEN cnt END), 0) AS BIGINT) AS cnt_r4,
         CAST(coalesce(max(CASE WHEN rank = 8 THEN cnt END), 0) AS BIGINT) AS cnt_r8,
         CAST(coalesce(max(CASE WHEN rank = 16 THEN cnt END), 0) AS BIGINT) AS cnt_r16,
         CAST(sum(CASE WHEN rank <= {ZIPF_TOP} THEN cnt ELSE 0 END) AS BIGINT) AS top16_tokens
  FROM ranked GROUP BY 1
)
SELECT source, n_tokens, n_types, cnt_r1, cnt_r2, cnt_r4, cnt_r8, cnt_r16,
       top16_tokens,
       CAST((1000 * top16_tokens) // n_tokens AS BIGINT) AS top16_share_q
FROM agg
"""


def q_tokenizer_fertility(spark, d):
    """Tokenizer fertility per (source, lang) (r5): BPE-ish subword tokens
    per whitespace word and chars per subword token — the number that
    tells a pipeline owner which slices blow up their token budget (CJK
    and noisy sources run high-fertility). Integer-exact quantized
    ratios; one partial-aggregable shuffle, linear in corpus size."""
    tc = ta.token_counts(_t(spark, d, "documents"))
    return (
        tc.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens_ws").cast("long").alias("sum_tokens_ws"),
            F.sum("tokens_bpe").cast("long").alias("sum_tokens_bpe"),
            F.sum(F.length("text")).cast("long").alias("sum_chars"),
        )
        .withColumn(
            "fertility_q",
            F.expr("(1000 * sum_tokens_bpe) div sum_tokens_ws").cast("long"),
        )
        .withColumn(
            "chars_per_tok_q",
            F.expr("(1000 * sum_chars) div sum_tokens_bpe").cast("long"),
        )
    )


SQL_TOKENIZER_FERTILITY = f"""
WITH agg AS (
  SELECT source, lang, count(*) AS n_docs,
         CAST(sum(len(str_split({_NORM_DUCK}, ' '))) AS BIGINT) AS sum_tokens_ws,
         CAST(sum(len(regexp_extract_all(lower(text), '{ta.BPE_RE2}'))) AS BIGINT) AS sum_tokens_bpe,
         CAST(sum(length(text)) AS BIGINT) AS sum_chars
  FROM documents GROUP BY 1, 2
)
SELECT source, lang, n_docs, sum_tokens_ws, sum_tokens_bpe, sum_chars,
       CAST((1000 * sum_tokens_bpe) // sum_tokens_ws AS BIGINT) AS fertility_q,
       CAST((1000 * sum_chars) // sum_tokens_bpe AS BIGINT) AS chars_per_tok_q
FROM agg
"""


def q_url_domain_stats(spark, d):
    """Per-domain URL audit (continuation r5) — the link-census a web
    curator runs before domain-level filtering (blocklists, per-domain
    caps a la C4/RefinedWeb): extract every URL, parse the host, strip
    the www. label, reduce to the registrable domain, and tally urls /
    distinct docs / distinct hosts / https share per domain. The
    synthetic documents carry no URLs, so both engines append the SAME
    two doc_id-derived links first (the text_scrub injection pattern) —
    extraction, parsing, and tallies are then verified engine-exact.
    Scale shape: one linear regexp explode, one partial-aggregable
    groupBy on a low-cardinality key (distinct counts bounded by hosts
    per domain, never corpus size); no joins, no windows."""
    docs = _t(spark, d, "documents")
    withu = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://www.h"),
            (F.col("doc_id") % 23).cast("string"),
            F.lit(".example.com/p/"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(" and http://cdn"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.org/"),
        ).alias("text"),
    )
    urls = withu.select(
        "doc_id",
        F.explode(
            F.expr(
                "regexp_extract_all(text, 'https?://[a-z0-9.]+/[a-z0-9/]*', 0)"
            )
        ).alias("url"),
    )
    host = F.regexp_extract("url", "https?://([a-z0-9.]+)/", 1)
    parsed = urls.select(
        "doc_id",
        "url",
        F.regexp_extract(host, "([a-z0-9]+\\.[a-z]+)$", 1).alias("domain"),
        F.regexp_replace(host, "^www\\.", "").alias("host"),
    )
    return parsed.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum(F.col("url").startswith("https://").cast("long"))
        .cast("long")
        .alias("n_https"),
    )


SQL_URL_DOMAIN_STATS = """
WITH withu AS (
  SELECT doc_id,
         text || ' see https://www.h' || CAST(doc_id % 23 AS VARCHAR)
              || '.example.com/p/' || CAST(doc_id % 7 AS VARCHAR)
              || ' and http://cdn' || CAST(doc_id % 5 AS VARCHAR)
              || '.example.org/' AS text
  FROM documents
), u AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, 'https?://[a-z0-9.]+/[a-z0-9/]*')) AS url
  FROM withu
), parsed AS (
  SELECT doc_id, url,
         regexp_extract(regexp_extract(url, 'https?://([a-z0-9.]+)/', 1),
                        '([a-z0-9]+\\.[a-z]+)$', 1) AS domain,
         regexp_replace(regexp_extract(url, 'https?://([a-z0-9.]+)/', 1),
                        '^www\\.', '') AS host
  FROM u
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(sum(CASE WHEN url LIKE 'https://%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_https
FROM parsed
GROUP BY domain
"""


def q_source_divergence(spark, d):
    """Per-source unigram-distribution divergence vs the global mix
    (final r5): a chi-square-shaped integer statistic over quantized
    token shares — p = floor(1e6*cnt/n_s) per source, q = floor(1e6*g/N)
    global, contribution (p-q)^2 div (q+1) summed per source, plus the
    single most divergent token (tie-break: min tok at the max
    contribution). The domain-shift alarm a curator reads before mixing
    sources — template spam or an off-distribution crawl slice shows up
    as a big chisq_q with its signature token named. Integer-exact in
    both engines (house rule: no libm in oracled paths). Scale shape:
    token counts are one partial-aggregable shuffle; the global table
    re-aggregates it (vocab-bounded); N rides a 1-row broadcast
    crossJoin; per-source totals broadcast (dimension-sized); the argmax
    is a second vocab-bounded pass — no windows, no all-pairs."""
    docs = _t(spark, d, "documents")
    toks = (
        dd.normalized(docs)
        .select("source", F.explode(F.split("norm", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    per = toks.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    totals = per.groupBy("source").agg(F.sum("cnt").cast("long").alias("n_s"))
    glob = per.groupBy("tok").agg(F.sum("cnt").cast("long").alias("g"))
    n_row = per.agg(F.sum("cnt").cast("long").alias("big_n"))
    joined = (
        per.join(glob, "tok")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(n_row))
        .withColumn("p", F.expr("(1000000 * cnt) div n_s").cast("long"))
        .withColumn("q", F.expr("(1000000 * g) div big_n").cast("long"))
        .withColumn(
            "contrib", F.expr("((p - q) * (p - q)) div (q + 1)").cast("long")
        )
    )
    agg = joined.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.col("contrib").cast("decimal(38,0)")).cast("long").alias("chisq_q"),
        F.max("contrib").alias("top_contrib"),
    )
    top = (
        joined.join(
            agg.select("source", "top_contrib"),
            ["source"],
        )
        .filter(F.col("contrib") == F.col("top_contrib"))
        .groupBy("source")
        .agg(F.min("tok").alias("top_tok"))
    )
    return agg.join(top, "source").select(
        "source", "n_tokens", "n_types", "chisq_q", "top_contrib", "top_tok"
    )


SQL_SOURCE_DIVERGENCE = f"""
WITH toks AS (
  SELECT source, tok
  FROM (SELECT source, unnest(str_split({_NORM_DUCK}, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), per AS (
  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2
), totals AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM per GROUP BY 1
), gtab AS (
  SELECT tok, CAST(sum(cnt) AS BIGINT) AS g FROM per GROUP BY 1
), joined AS (
  SELECT per.source, per.tok, per.cnt,
         (1000000 * per.cnt) // totals.n_s AS p,
         (1000000 * gtab.g) // (SELECT CAST(sum(cnt) AS BIGINT) FROM per) AS q
  FROM per JOIN gtab USING (tok) JOIN totals USING (source)
), contribs AS (
  SELECT source, tok, cnt,
         ((p - q) * (p - q)) // (q + 1) AS contrib
  FROM joined
), agg AS (
  SELECT source,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         count(*) AS n_types,
         CAST(sum(contrib) AS BIGINT) AS chisq_q,
         CAST(max(contrib) AS BIGINT) AS top_contrib
  FROM contribs GROUP BY 1
), top AS (
  SELECT c.source, min(c.tok) AS top_tok
  FROM contribs c JOIN agg USING (source)
  WHERE c.contrib = agg.top_contrib
  GROUP BY 1
)
SELECT source, n_tokens, n_types, chisq_q, top_contrib, top_tok
FROM agg JOIN top USING (source)
"""


def q_ngram_novelty(spark, d):
    """N-gram novelty saturation (final r5): bucket the corpus into 8
    doc-id batches (train order without a global sort — the batch index
    is derived arithmetically from doc_id against a 1-row max broadcast)
    and, per batch, count bigram OCCURRENCES and the bigram TYPES whose
    FIRST occurrence (min batch) lands there. The new-type share per
    batch is the diminishing-returns curve curators read to decide
    whether more data from a source still buys vocabulary — flat share =
    novel content, collapsing share = the source is exhausted/templated.
    Integer-exact.

    Scale shape (finding 27): the occurrence grain and the first-occurrence
    grain must NOT each derive from the exploded bigrams — Catalyst folds
    the two aggregates into independent corpus scans, doubling the explode
    (measured 15 s -> 8 s at sf0.1). ONE linear chain instead: explode
    once, reduce to the (bigram, batch) mid-grain (partial-aggregable,
    bounded by types x 8), take min-batch as a WINDOW over the mid-grain
    (windows block the aggregate fold), then the 8-row batch rollup reads
    both measures off the same rows. Exactly one documents scan,
    plan-pinned in tests/test_corpus_audits.py."""
    docs = _t(spark, d, "documents")
    max_row = docs.agg(F.max(F.col("doc_id").cast("long")).alias("max_id"))
    toks = (
        dd.normalized(docs)
        .crossJoin(F.broadcast(max_row))
        .withColumn(
            "batch",
            F.expr("(CAST(doc_id AS LONG) * 8) div (max_id + 1)").cast("long"),
        )
        .withColumn("arr", F.split("norm", " "))
        # bigrams via posexplode + lead() over the doc, NOT a
        # transform(sequence(...)) lambda: a lambda body referencing `arr`
        # inlines arr's regex-normalize chain PER ELEMENT (finding 28 —
        # the optimized plan showed 9 regexp_replace copies and the stage
        # cost 14 s at sf0.1 vs 0.6 s for this form). The per-doc window
        # shuffle is linear and skew-bounded; the inline re-eval is
        # quadratic CPU in doc length.
        .select(
            "doc_id", "batch", F.posexplode("arr").alias("pos", "tok")
        )
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    toks = (
        toks.withColumn("nxt", F.lead("tok").over(wdoc))
        .filter(F.col("nxt").isNotNull() & (F.col("tok") != "") & (F.col("nxt") != ""))
        .select("batch", F.concat_ws(" ", "tok", "nxt").alias("bg"))
    )
    mid = toks.groupBy("bg", "batch").agg(F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("bg")
    mid = mid.withColumn("first_batch", F.min("batch").over(w))
    return (
        mid.groupBy("batch")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("batch") == F.col("first_batch"), 1).otherwise(0))
            .cast("long")
            .alias("n_new_types"),
        )
        .withColumn(
            "new_share_q",
            F.expr("(1000 * n_new_types) div n_bigrams").cast("long"),
        )
        .orderBy("batch")
    )


SQL_NGRAM_NOVELTY = f"""
WITH base AS (
  SELECT (CAST(doc_id AS BIGINT) * 8) //
           ((SELECT max(CAST(doc_id AS BIGINT)) FROM documents) + 1) AS batch,
         str_split({_NORM_DUCK}, ' ') AS arr
  FROM documents
), toks AS (
  -- range(1, 1) is already [] in DuckDB; only Spark needs the
  -- descending-sequence guard (sequence(1, 0) = [1, 0])
  SELECT batch, arr[i] || ' ' || arr[i + 1] AS bg
  FROM base, unnest(range(1, len(arr))) AS t(i)
  WHERE arr[i] <> '' AND arr[i + 1] <> ''
), per_bg AS (
  SELECT bg, min(batch) AS first_batch, count(*) AS cnt FROM toks GROUP BY 1
), occ AS (
  SELECT batch, CAST(count(*) AS BIGINT) AS n_bigrams FROM toks GROUP BY 1
), new_types AS (
  SELECT first_batch AS batch, count(*) AS n_new_types FROM per_bg GROUP BY 1
)
SELECT occ.batch, occ.n_bigrams,
       coalesce(new_types.n_new_types, 0) AS n_new_types,
       CAST((1000 * coalesce(new_types.n_new_types, 0)) // occ.n_bigrams AS BIGINT)
         AS new_share_q
FROM occ LEFT JOIN new_types USING (batch)
ORDER BY batch
"""


def q_collocations(spark, d):
    """Collocation mining (continuation r5): the top-50 bigrams by
    pointwise lift — ``count(xy) * N / (count(x) * count(y))``, the
    integer-exact core of PMI ranking (log is monotone, so the lift
    ordering IS the PMI ordering without a float in sight) — over the
    whitespace-normalized corpus, pair count >= 3. This is the phrase
    detector (word2vec-phrases / NLTK collocations shape) a tokenizer or
    curation pipeline runs to find multiword units worth protecting.

    Scale shape: bigrams ride the finding-28 posexplode + lead() window
    (never a transform(sequence) lambda over a derived array); unigram
    and pair counts are partial-aggregable groupBys; the two
    count-lookup joins key on words (dimension-sized at the pair_cnt>=3
    grain), the 1-row total broadcasts, and the top-50 is
    TakeOrderedAndProject. Arithmetic stays in BIGINT — exact for corpora
    to ~10^12 tokens; beyond that the product needs decimal(38,0).
    Ties break on (pair_cnt desc, w1, w2) so the limit is deterministic."""
    docs = _t(spark, d, "documents")
    toks = dd.normalized(docs).select(
        "doc_id", F.posexplode(F.split("norm", " ")).alias("pos", "tok")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    # BOTH aggregates hang off the SAME windowed subtree: the doc_id
    # Exchange feeding the window is then byte-identical in the two
    # branches and AQE reuses it (ReusedExchange) — one scan + one
    # explode, not the finding-27 double-scan fold
    wtoks = toks.withColumn("nxt", F.lead("tok").over(wdoc))
    pairs = (
        wtoks.filter(
            F.col("nxt").isNotNull() & (F.col("tok") != "") & (F.col("nxt") != "")
        )
        .groupBy(F.col("tok").alias("w1"), F.col("nxt").alias("w2"))
        .agg(F.count("*").cast("long").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 3)
    )
    uni = (
        wtoks.filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    total = uni.agg(F.sum("cnt").cast("long").alias("total"))
    return (
        pairs.join(
            uni.select(F.col("tok").alias("w1"), F.col("cnt").alias("c1")), "w1"
        )
        .join(uni.select(F.col("tok").alias("w2"), F.col("cnt").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "lift_milli",
            F.expr("(1000 * pair_cnt * total) div (c1 * c2)").cast("long"),
        )
        .select("w1", "w2", "pair_cnt", "lift_milli")
        .orderBy(
            F.desc("lift_milli"), F.desc("pair_cnt"), "w1", "w2"
        )
        .limit(50)
    )


SQL_COLLOCATIONS = f"""
WITH base AS (
  SELECT doc_id, str_split({_NORM_DUCK}, ' ') AS arr FROM documents
), toks AS (
  SELECT unnest(arr) AS tok FROM base
), uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks WHERE tok <> ''
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uni
), pairs AS (
  SELECT arr[i] AS w1, arr[i + 1] AS w2, CAST(count(*) AS BIGINT) AS pair_cnt
  FROM base, unnest(range(1, len(arr))) AS t(i)
  WHERE arr[i] <> '' AND arr[i + 1] <> ''
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT w1, w2, pair_cnt,
       CAST((1000 * pair_cnt * tot.total) // (u1.cnt * u2.cnt) AS BIGINT)
         AS lift_milli
FROM pairs
JOIN uni u1 ON u1.tok = pairs.w1
JOIN uni u2 ON u2.tok = pairs.w2
CROSS JOIN tot
ORDER BY lift_milli DESC, pair_cnt DESC, w1, w2
LIMIT 50
"""


def q_token_burstiness(spark, d):
    """Token burstiness audit (continuation r5): the top-30 frequent
    tokens by variance-to-mean ratio of their per-document counts
    (Church & Gale's burstiness, zeros included) — VMR ~ 1000 is
    Poisson-like function-word behavior, VMR >> 1000 marks content/
    template tokens that clump into few documents (the boilerplate-spam
    signal a curator reads next to line_dedup). Integer-exact:
    vmr_milli = (1000 * (N*Σc² - T²)) div (N*T) with T = total count,
    Σc² from per-doc counts, N the doc count on a 1-row broadcast.
    BIGINT-exact while T < ~3e9 (T² < 2^63); beyond that the squares
    need decimal(38,0).

    Scale shape: one (tok, doc) partial-aggregable groupBy (bounded by
    tokens-per-doc, the same grain token_count uses), one token-grain
    rollup, a count-threshold filter BEFORE the ratio, and a
    TakeOrderedAndProject top-30 with a full (vmr, T, tok) tie-break."""
    docs = _t(spark, d, "documents")
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    per_doc = (
        dd.normalized(docs)
        .select("doc_id", F.explode(F.split("norm", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok", "doc_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return (
        per_doc.groupBy("tok")
        .agg(
            F.sum("c").cast("long").alias("total_cnt"),
            F.sum(F.expr("c * c")).cast("long").alias("sum_sq"),
            F.count("*").cast("long").alias("n_docs_with"),
        )
        .filter(F.col("total_cnt") >= 50)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "vmr_milli",
            F.expr(
                "(1000 * (n_docs * sum_sq - total_cnt * total_cnt))"
                " div (n_docs * total_cnt)"
            ).cast("long"),
        )
        .select("tok", "total_cnt", "n_docs_with", "vmr_milli")
        .orderBy(F.desc("vmr_milli"), F.desc("total_cnt"), "tok")
        .limit(30)
    )


SQL_TOKEN_BURSTINESS = f"""
WITH per_doc AS (
  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT doc_id, unnest(str_split({_NORM_DUCK}, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
  GROUP BY 1, 2
), tok_stats AS (
  SELECT tok,
         CAST(sum(c) AS BIGINT) AS total_cnt,
         CAST(sum(c * c) AS BIGINT) AS sum_sq,
         CAST(count(*) AS BIGINT) AS n_docs_with
  FROM per_doc GROUP BY 1
  HAVING sum(c) >= 50
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
)
SELECT tok, total_cnt, n_docs_with,
       CAST((1000 * (nd.n_docs * sum_sq - total_cnt * total_cnt))
            // (nd.n_docs * total_cnt) AS BIGINT) AS vmr_milli
FROM tok_stats CROSS JOIN nd
ORDER BY vmr_milli DESC, total_cnt DESC, tok
LIMIT 30
"""


def q_length_gini(spark, d):
    """Per-source length-inequality audit (continuation r5): the exact
    Gini coefficient of document lengths, integer-exact via the grouped
    formula — a mixture designer reads this next to length_drift to spot
    sources whose token mass concentrates in a few giant documents
    (gini -> 1) vs uniform shards (gini -> 0).

    Scale shape (the pack_sequences mid-grain discipline): the corpus
    reduces FIRST to the bounded (source, n_chars) grain — one
    partial-aggregable shuffle; distinct lengths per source are
    thousands, not corpus-sized — and the rank-dependent sums run as a
    window over THAT mid-table only. For a value group with count n at
    cumulative offset N_<, the sorted-rank sum is
    n*N_< + n*(n+1)/2, so  S = sum v * rank_sum  is exact without ever
    sorting documents. gini_milli = (1000 * (2*S - (N+1)*T)) div (N*T)
    with T = sum v*n, N = doc count — all BIGINT."""
    docs = _t(spark, d, "documents")
    mid = docs.groupBy("source", F.col("n_chars").cast("long").alias("v")).agg(
        F.count("*").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mid = mid.withColumn("n_before", F.coalesce(F.sum("n").over(w), F.lit(0)))
    return (
        mid.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum(F.expr("v * n")).cast("long").alias("total_chars"),
            F.sum(F.expr("v * (n * n_before + (n * (n + 1)) div 2)"))
            .cast("long")
            .alias("rank_mass"),
        )
        .withColumn(
            "gini_milli",
            F.expr(
                "(1000 * (2 * rank_mass - (n_docs + 1) * total_chars))"
                " div (n_docs * total_chars)"
            ).cast("long"),
        )
        .select("source", "n_docs", "total_chars", "gini_milli")
        .orderBy("source")
    )


SQL_LENGTH_GINI = """
WITH mid AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
), cum AS (
  SELECT source, v, n,
         CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_before
  FROM mid
), agg AS (
  SELECT source,
         CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(v * n) AS BIGINT) AS total_chars,
         CAST(sum(v * (n * n_before + (n * (n + 1)) // 2)) AS BIGINT)
           AS rank_mass
  FROM cum GROUP BY 1
)
SELECT source, n_docs, total_chars,
       CAST((1000 * (2 * rank_mass - (n_docs + 1) * total_chars))
            // (n_docs * total_chars) AS BIGINT) AS gini_milli
FROM agg
ORDER BY source
"""


def q_source_vocab_overlap(spark, d):
    """Cross-source vocabulary overlap (r5): Jaccard over the type sets of
    every source pair — the domain-similarity matrix a mixture designer
    reads before setting sampling weights (near-duplicate sources waste
    mixture mass). Scale shape: the per-token join fans out to at most
    |sources|² rows per type (sources are a DIMENSION, bounded, never
    corpus-sized), then one partial-aggregable pair rollup; no window, no
    driver loop. Integer-exact: intersection counted, union by
    inclusion-exclusion, share quantized by integer division."""
    docs = _t(spark, d, "documents")
    types = (
        dd.normalized(docs)
        .select("source", F.explode(F.split("norm", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = types.groupBy("source").agg(F.count("*").alias("n_types"))
    a = types.alias("a")
    b = types.alias("b")
    inter = (
        a.join(b, F.col("a.tok") == F.col("b.tok"))
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a").withColumnRenamed("n_types", "n_a")),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "source_b").withColumnRenamed("n_types", "n_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("long").alias("n_union"),
            F.expr("(1000 * n_inter) div (n_a + n_b - n_inter)").cast("long").alias("jaccard_q"),
        )
    )


SQL_SOURCE_VOCAB_OVERLAP = f"""
WITH types AS (
  SELECT DISTINCT source, tok
  FROM (SELECT source, unnest(str_split({_NORM_DUCK}, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), sizes AS (
  SELECT source, count(*) AS n_types FROM types GROUP BY 1
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_inter
  FROM types a JOIN types b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n_types + sb.n_types - n_inter AS BIGINT) AS n_union,
       CAST((1000 * n_inter) // (sa.n_types + sb.n_types - n_inter) AS BIGINT) AS jaccard_q
FROM inter
JOIN sizes sa ON sa.source = inter.source_a
JOIN sizes sb ON sb.source = inter.source_b
"""


def q_lexical_diversity(spark, d):
    """Within-document lexical diversity (late r5): per-doc Simpson
    concentration over the token distribution — sum(c_i^2)/n^2, the
    collision probability of drawing the same type twice — quantized to
    thousandths, then aggregated per (source, lang). A doc of one repeated
    token scores 1000; natural prose scores low. This is the within-doc
    complement to `text_repetition`'s max-token share (Simpson weighs the
    WHOLE distribution, not just the mode) and the standard "effective
    vocabulary" diagnostic curators read next to [[zipf_profile]].
    Integer-exact at ANY corpus scale: every product is per-doc (n and
    c_i are bounded by document length, never corpus size), and the
    rollup sums quantized per-doc scores. Scale shape: two
    partial-aggregable shuffles (doc grain, then source grain) — linear,
    no joins, no windows."""
    docs = _t(spark, d, "documents")
    toks = (
        dd.normalized(docs)
        .select("doc_id", "source", "lang", F.explode(F.split("norm", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    per_tok = toks.groupBy("doc_id", "source", "lang", "tok").agg(
        F.count("*").alias("cnt")
    )
    per_doc = (
        per_tok.groupBy("doc_id", "source", "lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_toks"),
            F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sum_c2"),
        )
        .withColumn(
            "simpson_q",
            F.expr("(1000 * sum_c2) div (n_toks * n_toks)").cast("long"),
        )
    )
    return per_doc.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.expr("sum(simpson_q) div count(*)").cast("long").alias("mean_simpson_q"),
        F.min("simpson_q").cast("long").alias("min_simpson_q"),
        F.max("simpson_q").cast("long").alias("max_simpson_q"),
    )


SQL_LEXICAL_DIVERSITY = f"""
WITH toks AS (
  SELECT doc_id, source, lang, tok
  FROM (SELECT doc_id, source, lang,
               unnest(str_split({_NORM_DUCK}, ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
), per_tok AS (
  SELECT doc_id, source, lang, tok, count(*) AS cnt FROM toks GROUP BY 1, 2, 3, 4
), per_doc AS (
  SELECT doc_id, source, lang,
         CAST(sum(cnt) AS BIGINT) AS n_toks,
         CAST(sum(cnt * cnt) AS BIGINT) AS sum_c2
  FROM per_tok GROUP BY 1, 2, 3
), pd AS (
  SELECT source, lang, (1000 * sum_c2) // (n_toks * n_toks) AS simpson_q
  FROM per_doc
)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(simpson_q) // count(*) AS BIGINT) AS mean_simpson_q,
       CAST(min(simpson_q) AS BIGINT) AS min_simpson_q,
       CAST(max(simpson_q) AS BIGINT) AS max_simpson_q
FROM pd GROUP BY 1, 2
"""


LEN_BIN = 64  # doc-length histogram bin width (chars); bins are bounded
# by max document length / LEN_BIN — a constant, never corpus-sized


def q_length_drift(spark, d):
    """Per-source document-length drift (late r5): the Kolmogorov-Smirnov
    distance between each source's n_chars distribution and the GLOBAL
    one, computed on a LEN_BIN-char histogram — the distribution-shift
    alarm a pipeline owner reads when a crawl slice suddenly ships
    truncated or concatenated pages. Integer-exact KS: CDF shares are
    quantized to millionths by integer division BEFORE the max-abs-diff,
    so both engines agree bit-for-bit and no product exceeds 10^6 x
    corpus-count (long-safe to ~9e12 docs).

    Exactness without a sources-x-bins grid: the sup of |F_s - F| over a
    step function is attained at a jump of EITHER CDF, and between two
    consecutive source jumps F_s is constant while F is monotone — so per
    (source, bin) row it suffices to score d1 AT the source's jump
    (F evaluated at the bin) and d2 just BEFORE it (F minus the bin's own
    global mass, F_s minus the row's count; d2 at the first source bin
    also covers the interval before the source's first mass). Quantized
    shares stay monotone in the cumulative counts, so the endpoint max
    equals the all-bins max bit-for-bit.

    Scale shape: ONE corpus scan reduced by one partial-aggregable
    (source, bin) count; every window runs over that dimension-sized
    table (per-source partitions, per-bin partitions, and two
    unpartitioned windows whose single partition holds sources x bins
    rows — bounded by format dimensions, never corpus-sized: the
    pack_sequences mid-bucket precedent); one final groupBy."""
    docs = _t(spark, d, "documents").select(
        "source", F.expr(f"n_chars div {LEN_BIN}").alias("bin")
    )
    per = docs.groupBy("source", "bin").agg(F.count("*").alias("cnt"))
    w_s = Window.partitionBy("source").orderBy("bin")
    w_g = Window.orderBy("bin")  # RANGE default: same-bin peers included
    scored = (
        per.withColumn("cum_s", F.sum("cnt").over(w_s))
        .withColumn("gcum", F.sum("cnt").over(w_g))
        .withColumn("gmass", F.sum("cnt").over(Window.partitionBy("bin")))
        .withColumn("n_docs", F.sum("cnt").over(Window.partitionBy("source")))
        .withColumn("n_total", F.sum("cnt").over(Window.partitionBy()))
        .withColumn(
            "d1",
            F.abs(
                F.expr("(1000000 * cum_s) div n_docs")
                - F.expr("(1000000 * gcum) div n_total")
            ),
        )
        .withColumn(
            "d2",
            F.abs(
                F.expr("(1000000 * (cum_s - cnt)) div n_docs")
                - F.expr("(1000000 * (gcum - gmass)) div n_total")
            ),
        )
    )
    return scored.groupBy("source", F.col("n_docs").cast("long").alias("n_docs")).agg(
        F.greatest(F.max("d1"), F.max("d2")).cast("long").alias("ks_q")
    )


SQL_LENGTH_DRIFT = f"""
WITH b AS (
  SELECT source, n_chars // {LEN_BIN} AS bin FROM documents
), per AS (
  SELECT source, bin, count(*) AS cnt FROM b GROUP BY 1, 2
), scored AS (
  SELECT source, bin, cnt,
         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum_s,
         CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS gcum,
         CAST(sum(cnt) OVER (PARTITION BY bin) AS BIGINT) AS gmass,
         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_docs,
         CAST(sum(cnt) OVER () AS BIGINT) AS n_total
  FROM per
)
SELECT source, n_docs,
       CAST(greatest(
         max(abs((1000000 * cum_s) // n_docs - (1000000 * gcum) // n_total)),
         max(abs((1000000 * (cum_s - cnt)) // n_docs
               - (1000000 * (gcum - gmass)) // n_total))
       ) AS BIGINT) AS ks_q
FROM scored GROUP BY 1, 2
"""


SPLIT_TEST_4096 = 410  # ~10% held-out test split
CLUSTER_JQ_MIN = 500  # verified-pair threshold shared by clusters/keep-best/leakage


def q_split_leakage(spark, d):
    """Train/test split-leakage audit — the companion to `contamination`
    for NEAR duplicates: assign every doc a deterministic md5-coin split
    (~10% test, the same retry-stable coin as stratified sampling), then
    surface every MinHash-LSH verified near-dup pair with its two split
    labels; a pair that crosses the boundary is evaluation leakage the
    split inherited from the corpus. Costs two equi-joins of the (small)
    verified pair set against the per-doc split column — the pair volume
    is LSH-bounded AND bucket-capped (LSH_MAX_BUCKET), never all-pairs."""
    pairs = (
        _lsh_verified_pairs(spark, d)
        .filter(F.col("j_q") >= CLUSTER_JQ_MIN)
        .select("doc_a", "doc_b", "j_q")
    )
    split = F.when(
        cu.bucket_expr(F.col("doc_id").cast("string"), "split:", 3)
        < SPLIT_TEST_4096,
        F.lit("test"),
    ).otherwise(F.lit("train"))
    docs = _t(spark, d, "documents").select("doc_id", split.alias("split"))
    return (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "j_q",
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("crosses"),
        )
    )


def _sql_split_leakage() -> str:
    coin = cu.bucket_sql_expr("CAST(doc_id AS VARCHAR)", "split:", 3)
    return f"""
WITH {_minhash_ctes()},
jq AS (
  SELECT doc_a, doc_b,
         CAST(floor(1000.0 * inter / (za.sz + zb.sz - inter)) AS BIGINT) AS j_q
  FROM inter JOIN sizes za ON doc_a = za.doc_id JOIN sizes zb ON doc_b = zb.doc_id
),
sp AS (
  SELECT doc_id,
         CASE WHEN {coin} < {SPLIT_TEST_4096} THEN 'test' ELSE 'train' END AS split
  FROM documents
)
SELECT j.doc_a, j.doc_b, j.j_q, a.split AS split_a, b.split AS split_b,
       a.split <> b.split AS crosses
FROM jq j JOIN sp a ON j.doc_a = a.doc_id JOIN sp b ON j.doc_b = b.doc_id
WHERE j.j_q >= {CLUSTER_JQ_MIN}
"""


SQL_SPLIT_LEAKAGE = _sql_split_leakage()


def q_minhash_est_error(spark, d):
    """MinHash sketch-agreement metric (the ann_recall / approx_percentile
    pattern applied to dedup): for every LSH candidate pair, the signature
    estimate j_est = n_agree/16 next to the exact Jaccard and the absolute
    error — at 100 TB the signature estimate is what a first-pass filter
    uses, and this query keeps its observed error on the record. Costs one
    extra broadcast-sized join over the already-bucketed (and bucket-capped)
    candidates."""
    toks, sigs = _lsh_toks_sigs(spark, d)
    pairs = dd.lsh_candidate_pairs(
        sigs, N_MINHASH, BAND_ROWS, max_bucket=LSH_MAX_BUCKET
    )
    exact = dd.jaccard_verify(pairs, toks).select("doc_a", "doc_b", "j_q")
    agree = None
    for i in range(N_MINHASH):
        t = (F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}")).cast("long")
        agree = t if agree is None else agree + t
    est_q = F.floor(F.lit(1000) * F.col("n_agree") / N_MINHASH).cast("long")
    return (
        exact.join(sigs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", "j_q", agree.alias("n_agree"))
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            est_q.alias("est_q"),
            "j_q",
            F.abs(est_q - F.col("j_q")).alias("err_q"),
        )
    )


def _sql_minhash_est_error() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
    )
    return f"""
WITH {_minhash_ctes()},
exact AS (
  SELECT doc_a, doc_b,
         CAST(floor(1000.0 * inter / (za.sz + zb.sz - inter)) AS BIGINT) AS j_q
  FROM inter JOIN sizes za ON doc_a = za.doc_id JOIN sizes zb ON doc_b = zb.doc_id
),
est AS (
  SELECT e.doc_a, e.doc_b, e.j_q, ({agree}) AS n_agree
  FROM exact e
  JOIN sigs sa ON e.doc_a = sa.doc_id
  JOIN sigs sb ON e.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, CAST(n_agree AS BIGINT) AS n_agree,
       CAST(floor(1000.0 * n_agree / {N_MINHASH}) AS BIGINT) AS est_q,
       j_q,
       CAST(abs(floor(1000.0 * n_agree / {N_MINHASH}) - j_q) AS BIGINT) AS err_q
FROM est
"""


SQL_MINHASH_EST_ERROR = _sql_minhash_est_error()


def q_dedup_simhash(spark, d):
    """16-bit SimHash signature per doc (integer-exact bit votes)."""
    docs = _t(spark, d, "documents")
    return dd.simhash_16(dd.doc_tokens(docs))


def _sql_simhash(where: str = "") -> str:
    nibble = (
        lambda pos: f"(strpos('0123456789abcdef', substr(md5(tok), {pos}, 1)) - 1)"
    )
    h = f"({nibble(1)} * 4096 + {nibble(2)} * 256 + {nibble(3)} * 16 + {nibble(4)})"
    bit_sums = ",\n         ".join(
        f"sum(CAST(floor(h / {1 << b}) % 2 AS BIGINT) * 2 - 1) AS s{b}"
        for b in range(16)
    )
    simhash = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(str_split({_NORM_DUCK}, ' ')) AS tok
        FROM documents {where})
  WHERE tok <> ''
), hashed AS (
  SELECT doc_id, {h} AS h FROM toks
), sums AS (
  SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash FROM sums
"""


SQL_DEDUP_SIMHASH = _sql_simhash()


SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 4
SIMHASH_MAX_HAMMING = 3


def q_dedup_simhash_pairs(spark, d):
    """SimHash near-dup PAIRS: band the 16-bit signatures (4x4), bucket-join
    on equal bands, verify hamming <= 3 within buckets only. Pigeonhole:
    4 bands never miss a <=3-bit pair AMONG KEPT BUCKETS; buckets over
    LSH_MAX_BUCKET members are dropped from the join (a 16-bit signature
    over a homogeneous web corpus puts whole template families in one
    bucket — m^2/2 join rows otherwise) and the dropped volume rides every
    row as dropped_buckets/dropped_pairs. doc_id<300 bounds the oracle's
    pair payload."""
    docs = _t(spark, d, "documents").filter(F.col("doc_id") < 300)
    sigs = dd.simhash_16(dd.doc_tokens(docs))
    pairs = dd.simhash_pairs(
        sigs,
        SIMHASH_BANDS,
        SIMHASH_BAND_BITS,
        SIMHASH_MAX_HAMMING,
        max_bucket=LSH_MAX_BUCKET,
    )
    stats = dd.bucket_drop_stats(
        dd.simhash_bands(sigs, SIMHASH_BANDS, SIMHASH_BAND_BITS), LSH_MAX_BUCKET
    )
    return pairs.crossJoin(
        F.broadcast(stats.select("dropped_buckets", "dropped_pairs"))
    )


def _sql_simhash_pairs() -> str:
    base = _sql_simhash(where="WHERE doc_id < 300").strip()
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band_idx, "
        f"CAST(floor(simhash / {1 << (SIMHASH_BAND_BITS * b)}) % {1 << SIMHASH_BAND_BITS} AS BIGINT) AS band_val FROM sig"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
WITH sig AS ({base}),
bands AS (
{band_rows}
), bsz AS (
  SELECT band_idx, band_val, count(*) AS bm FROM bands GROUP BY 1, 2
), kept AS (
  SELECT b.* FROM bands b JOIN bsz USING (band_idx, band_val)
  WHERE bm <= {LSH_MAX_BUCKET}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b, count(*) AS n_shared_bands
  FROM kept a JOIN kept b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, sig_a, sig_b, n_shared_bands,
       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming,{_DROP_COLS_SQL}
FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_MAX_HAMMING}
"""


SQL_DEDUP_SIMHASH_PAIRS = _sql_simhash_pairs()


_EQ_DUCK = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"


def q_embed_cosine_pairs(spark, d):
    """Embedding-cosine near-dup: top pairs by quantized-int cosine among
    vec_id<100 (brute force at this SF; LSH-bucketed is the scale path)."""
    emb = sim.with_quantized(_t(spark, d, "embeddings").filter(F.col("vec_id") < 100))
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("eq").alias("ea"), F.col("nq").alias("na"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("eq").alias("eb"), F.col("nq").alias("nb"))
    dot = sim.int_dot(F.col("ea"), F.col("eb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            sim.cosine_q(dot, F.col("na"), F.col("nb")).alias("cos_q"),
        )
        .orderBy(F.col("cos_q").desc(), "vec_a", "vec_b")
        .limit(50)
    )


SQL_EMBED_COSINE_PAIRS = f"""
WITH q AS (
  SELECT vec_id, {_EQ_DUCK} AS eq FROM embeddings WHERE vec_id < 100
), n AS (
  SELECT vec_id, eq,
         (SELECT CAST(sum(eq[t.i] * eq[t.i]) AS BIGINT)
          FROM unnest(generate_series(1, len(eq))) AS t(i)) AS nq
  FROM q
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(floor(1000 * (SELECT CAST(sum(a.eq[t.i] * b.eq[t.i]) AS BIGINT)
                          FROM unnest(generate_series(1, len(a.eq))) AS t(i))::DOUBLE
            / (sqrt(a.nq::DOUBLE) * sqrt(b.nq::DOUBLE))) AS BIGINT) AS cos_q
FROM n a JOIN n b ON a.vec_id < b.vec_id
ORDER BY cos_q DESC, vec_a, vec_b LIMIT 50
"""


def q_dedup_clusters(spark, d):
    """Near-dup CLUSTERS: connected components (min-label propagation) over
    verified STAR edges (member vs bucket-hub, quantized Jaccard >= 0.5) —
    each doc gets the smallest doc_id in its component as ``cluster`` and
    the canonical keeper flag. Star edges are O(m) per band bucket, so a
    hot template cluster at web scale costs m-1 edges instead of m^2/2
    pair rows; verification is member-vs-hub (anchor verification, the
    standard production recall trade). Iterative (driver-coordinated loop,
    each step a distributed join+agg); the DuckDB oracle computes the
    identical fixpoint with a recursive CTE."""
    pairs = q_dedup_star_edges(spark, d).filter(F.col("j_q") >= CLUSTER_JQ_MIN)
    cc = dd.connected_components(pairs.select("doc_a", "doc_b"))
    return cc.select(
        "doc_id", "cluster", (F.col("doc_id") == F.col("cluster")).alias("is_keeper")
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE base AS ({{star}}),
pairs AS (
  SELECT doc_a, doc_b FROM base WHERE j_q >= {CLUSTER_JQ_MIN}
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON r.id = e.s
)
SELECT id AS doc_id, min(label) AS cluster, id = min(label) AS is_keeper
FROM reach GROUP BY id
""".format(star=SQL_DEDUP_STAR_EDGES.strip())


def q_dedup_cluster_stats(spark, d):
    """Near-dup cluster-SIZE histogram — the dedup observability view a
    production run reads first: how many clusters of each size exist, how
    many docs they hold, and how many docs dedup would remove (size - 1
    keeper per cluster). Two partial-aggregable groupBys on top of the
    connected-components fixpoint; scale cost is the CC itself."""
    cc = q_dedup_clusters(spark, d)
    sizes = cc.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias("n_removable"),
        )
    )


SQL_DEDUP_CLUSTER_STATS = f"""
WITH cc AS ({{clusters}}),
sizes AS (
  SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY cluster
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
FROM sizes GROUP BY cluster_size
""".format(clusters=SQL_DEDUP_CLUSTERS.strip())


def q_winnow_fp(spark, d):
    """Winnowing (rolling k-gram min) fingerprints, k=8 w=4, doc_id<40."""
    docs = _t(spark, d, "documents").filter(F.col("doc_id") < 40)
    return dd.winnow_fingerprints(docs, k=8, w=4)


SQL_WINNOW_FP = f"""
WITH n AS (
  SELECT doc_id, {_NORM_DUCK} AS norm FROM documents WHERE doc_id < 40
), g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(norm) - 7, 0)),
                        i -> md5(substr(norm, i, 8))) AS grams
  FROM n
), w AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(grams) - 3, 0)),
                        i -> list_aggregate(grams[i : i + 3], 'min')) AS wins
  FROM g
)
SELECT DISTINCT doc_id, unnest(wins) AS fp FROM w
"""


def q_substr_dup(spark, d):
    """Cross-doc verbatim-substring duplication share (ExactSubstr audit
    on winnowing fingerprints), doc_id<120."""
    docs = _t(spark, d, "documents").filter(F.col("doc_id") < 120)
    return dd.substring_dup_ratio(docs, k=8, w=4)


SQL_SUBSTR_DUP = f"""
WITH n AS (
  SELECT doc_id, {_NORM_DUCK} AS norm FROM documents WHERE doc_id < 120
), g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(norm) - 7, 0)),
                        i -> md5(substr(norm, i, 8))) AS grams
  FROM n
), w AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(grams) - 3, 0)),
                        i -> list_aggregate(grams[i : i + 3], 'min')) AS wins
  FROM g
), fps AS (
  SELECT DISTINCT doc_id, unnest(wins) AS fp FROM w
), dfq AS (
  SELECT fp, count(*) AS fp_df FROM fps GROUP BY 1
)
SELECT f.doc_id,
       CAST(count(*) AS BIGINT) AS n_fp,
       CAST(sum(CASE WHEN d.fp_df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_fp,
       CAST(floor(1000.0 * sum(CASE WHEN d.fp_df > 1 THEN 1 ELSE 0 END)
                  / count(*)) AS BIGINT) AS dup_share_q
FROM fps f JOIN dfq d USING (fp)
GROUP BY 1
"""


def q_chunk_dedup(spark, d):
    """C4-style duplicated-span removal audit over the FULL documents
    table: fixed 8-token chunks, keep each chunk's globally first
    occurrence, report per-doc dropped chunks/tokens (linear — groupBy +
    postings re-join, no pair blowup)."""
    return dd.chunk_dedup_stats(_t(spark, d, "documents"), w=dd.CHUNK_W)


SQL_CHUNK_DEDUP = f"""
WITH n AS (
  SELECT doc_id, list_filter(str_split({_NORM_DUCK}, ' '), t -> t <> '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_toks,
         (len(toks) + {dd.CHUNK_W - 1}) // {dd.CHUNK_W} AS n_chunks, toks
  FROM n
), occ AS (
  SELECT doc_id, n_toks, t.i AS chunk_idx,
         array_to_string(toks[t.i * {dd.CHUNK_W} + 1 :
                              least((t.i + 1) * {dd.CHUNK_W}, n_toks)], ' ') AS chunk,
         least({dd.CHUNK_W}, n_toks - t.i * {dd.CHUNK_W}) AS chunk_len,
         doc_id * {dd.CHUNK_KEY_SCALE} + t.i AS occ_key
  FROM base, unnest(generate_series(0, n_chunks - 1)) AS t(i)
), keeper AS (
  SELECT chunk, min(occ_key) AS keep_key FROM occ GROUP BY 1
), agg AS (
  SELECT o.doc_id,
         sum(CASE WHEN o.occ_key <> k.keep_key THEN 1 ELSE 0 END) AS n_dup_chunks,
         sum(CASE WHEN o.occ_key <> k.keep_key THEN o.chunk_len ELSE 0 END) AS dup_toks
  FROM occ o JOIN keeper k USING (chunk)
  GROUP BY 1
)
SELECT b.doc_id,
       CAST(b.n_toks AS BIGINT) AS n_toks,
       CAST(b.n_chunks AS BIGINT) AS n_chunks,
       CAST(coalesce(a.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
       CAST(coalesce(a.dup_toks, 0) AS BIGINT) AS dup_toks,
       CAST(b.n_toks - coalesce(a.dup_toks, 0) AS BIGINT) AS kept_toks,
       CAST(floor(1000.0 * coalesce(a.dup_toks, 0) / greatest(b.n_toks, 1)) AS BIGINT) AS dup_q
FROM base b LEFT JOIN agg a USING (doc_id)
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def q_ann_cosine_topk(spark, d):
    """Brute-force cosine top-k for query vectors (vec_id<3), broadcast
    query side — the exact baseline an ANN index is measured against."""
    emb = _t(spark, d, "embeddings")
    return sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)


SQL_ANN_COSINE_TOPK = f"""
WITH q AS (
  SELECT vec_id, {_EQ_DUCK} AS eq FROM embeddings
), n AS (
  SELECT vec_id, eq,
         (SELECT CAST(sum(eq[t.i] * eq[t.i]) AS BIGINT)
          FROM unnest(generate_series(1, len(eq))) AS t(i)) AS nq
  FROM q
), scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(floor(1000 * (SELECT CAST(sum(qs.eq[t.i] * c.eq[t.i]) AS BIGINT)
                            FROM unnest(generate_series(1, len(c.eq))) AS t(i))::DOUBLE
              / (sqrt(c.nq::DOUBLE) * sqrt(qs.nq::DOUBLE))) AS BIGINT) AS cos_q
  FROM n c, (SELECT * FROM n WHERE vec_id < 3) qs
)
SELECT query_id, cand_id, cos_q, rank FROM (
  SELECT query_id, cand_id, cos_q,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 10
"""

N_PLANES = 8


def q_ann_lsh_bucket(spark, d):
    """Random-hyperplane LSH buckets (the ANN scale path): per-vector
    bucket id + bucket size. Integer plane weights => exact signs."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    b = sim.lsh_bucket(_t(spark, d, "embeddings"), N_PLANES)
    return b.select(
        "vec_id",
        "bucket",
        F.count("*").over(Window.partitionBy("bucket")).alias("bucket_size"),
    )


def _sql_lsh_bucket() -> str:
    bits = " || ".join(
        "(CASE WHEN (SELECT sum((((%d*31 + (t.i-1)*17) %% 13) - 6) * eq[t.i]) "
        "FROM unnest(generate_series(1, len(eq))) AS t(i)) >= 0 THEN '1' ELSE '0' END)" % p
        for p in range(N_PLANES)
    )
    return f"""
WITH q AS (
  SELECT vec_id, {_EQ_DUCK} AS eq FROM embeddings
), b AS (
  SELECT vec_id, {bits} AS bucket FROM q
)
SELECT vec_id, bucket, count(*) OVER (PARTITION BY bucket) AS bucket_size FROM b
"""


SQL_ANN_LSH_BUCKET = _sql_lsh_bucket()


def q_ann_lsh_topk(spark, d):
    """End-to-end ANN scale path: LSH-bucket both sides, compare only
    within matching buckets, exact-cosine re-rank to top-k. The recall gap
    vs ann_cosine_topk is the LSH trade-off; multiple tables raise it."""
    emb = _t(spark, d, "embeddings")
    return sim.lsh_topk(emb, emb.filter(F.col("vec_id") < 3), k=10, n_planes=N_PLANES)


def _sql_lsh_topk() -> str:
    bits = " || ".join(
        "(CASE WHEN (SELECT sum((((%d*31 + (t.i-1)*17) %% 13) - 6) * eq[t.i]) "
        "FROM unnest(generate_series(1, len(eq))) AS t(i)) >= 0 THEN '1' ELSE '0' END)" % p
        for p in range(N_PLANES)
    )
    return f"""
WITH q AS (
  SELECT vec_id, {_EQ_DUCK} AS eq FROM embeddings
), n AS (
  SELECT vec_id, eq, {bits} AS bucket,
         (SELECT CAST(sum(eq[t.i] * eq[t.i]) AS BIGINT)
          FROM unnest(generate_series(1, len(eq))) AS t(i)) AS nq
  FROM q
), scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(floor(1000 * (SELECT CAST(sum(qs.eq[t.i] * c.eq[t.i]) AS BIGINT)
                            FROM unnest(generate_series(1, len(c.eq))) AS t(i))::DOUBLE
              / (sqrt(c.nq::DOUBLE) * sqrt(qs.nq::DOUBLE))) AS BIGINT) AS cos_q
  FROM n c JOIN (SELECT * FROM n WHERE vec_id < 3) qs ON c.bucket = qs.bucket
)
SELECT query_id, cand_id, cos_q, rank FROM (
  SELECT query_id, cand_id, cos_q,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


SQL_ANN_LSH_TOPK = _sql_lsh_topk()

# multi-table config: coarser buckets (4 planes = 16 buckets/table) x 8
# tables. Measured on this corpus (tools sweep, BENCH.md): recall 17/30 vs
# 5/30 for one 8-plane table, probing ~31% of the corpus — the synthetic
# embeddings are near-uniform (worst case for LSH); clustered real
# embeddings sharpen this trade-off dramatically.
MULTI_PLANES = 4
N_TABLES = 8


def q_ann_lsh_topk_multi(spark, d):
    """Multi-table ANN (L=8 independent 4-plane hash tables): union of
    per-table bucket collisions, exact-cosine re-rank. A true neighbor only
    needs to collide in ONE table — recall rises exponentially in L while
    candidate volume grows linearly."""
    emb = _t(spark, d, "embeddings")
    return sim.lsh_topk_multi(
        emb, emb.filter(F.col("vec_id") < 3), k=10, n_planes=MULTI_PLANES, n_tables=N_TABLES
    )


def _duck_bits(table: int) -> str:
    return " || ".join(
        "(CASE WHEN (SELECT sum((((%d*31 + (t.i-1)*17) %% 13) - 6) * eq[t.i]) "
        "FROM unnest(generate_series(1, len(eq))) AS t(i)) >= 0 THEN '1' ELSE '0' END)"
        % (table * MULTI_PLANES + p)
        for p in range(MULTI_PLANES)
    )


def _sql_lsh_topk_multi() -> str:
    tables_sql = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {t} AS table_idx, {_duck_bits(t)} AS bucket FROM n"
        for t in range(N_TABLES)
    )
    return f"""
WITH q AS (
  SELECT vec_id, {_EQ_DUCK} AS eq FROM embeddings
), n AS (
  SELECT vec_id, eq,
         (SELECT CAST(sum(eq[t.i] * eq[t.i]) AS BIGINT)
          FROM unnest(generate_series(1, len(eq))) AS t(i)) AS nq
  FROM q
), b AS (
{tables_sql}
), pairs AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS cand_id
  FROM b cb JOIN b qb ON cb.table_idx = qb.table_idx AND cb.bucket = qb.bucket
  WHERE qb.vec_id < 3
), scored AS (
  SELECT p.query_id, p.cand_id,
         CAST(floor(1000 * (SELECT CAST(sum(qn.eq[t.i] * cn.eq[t.i]) AS BIGINT)
                            FROM unnest(generate_series(1, len(cn.eq))) AS t(i))::DOUBLE
              / (sqrt(cn.nq::DOUBLE) * sqrt(qn.nq::DOUBLE))) AS BIGINT) AS cos_q
  FROM pairs p JOIN n cn ON p.cand_id = cn.vec_id JOIN n qn ON p.query_id = qn.vec_id
)
SELECT query_id, cand_id, cos_q, rank FROM (
  SELECT query_id, cand_id, cos_q,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


SQL_ANN_LSH_TOPK_MULTI = _sql_lsh_topk_multi()


IVF_CELLS = 16
IVF_NPROBE = 4


def q_ann_ivf_topk(spark, d):
    """IVF-Flat ANN (the LSH tables' documented swap-in for clustered
    corpora): deterministic integer-exact index build — seed cells, one
    distributed Lloyd refinement (floor(avg) centroids), nearest-cell
    assignment — then nprobe-cell probing + exact-cosine re-rank. Probes
    ~nprobe/n_cells of the corpus per query instead of all of it."""
    emb = _t(spark, d, "embeddings")
    return sim.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=10, n_cells=None, nprobe=IVF_NPROBE
    )


def _cosq_duck(dot: str, na: str, nb: str) -> str:
    return (
        f"CAST(floor(1000 * ({dot})::DOUBLE / (sqrt(({na})::DOUBLE) * "
        f"sqrt(({nb})::DOUBLE))) AS BIGINT)"
    )


def _sql_ivf_prefix() -> str:
    """Shared CTE prefix rebuilding the exact IVF index (quantize -> seed
    -> assign -> one Lloyd step -> reassign): ends with ``asn(cand_id,
    cell)`` and exposes ``n(vec_id, eq, nq)`` and ``ranked`` — the common
    front of every IVF-backed oracle (ann_ivf_topk, semantic_dedup)."""
    cosq = _cosq_duck

    dot_seed = (
        "(SELECT CAST(sum(v.eq[t.i] * s.ceq[t.i]) AS BIGINT) "
        "FROM unnest(generate_series(1, len(v.eq))) AS t(i))"
    )
    return f"""
WITH q AS (
  SELECT vec_id, {_EQ_DUCK} AS eq FROM embeddings
), n AS (
  SELECT vec_id, eq,
         (SELECT CAST(sum(eq[t.i] * eq[t.i]) AS BIGINT)
          FROM unnest(generate_series(1, len(eq))) AS t(i)) AS nq
  FROM q
), seeds AS (
  SELECT CAST(vec_id AS BIGINT) AS cell, eq AS ceq, nq AS cnq
  FROM n WHERE vec_id < greatest({IVF_CELLS}, (SELECT count(*) FROM embeddings) // {sim.IVF_VECS_PER_CELL})
), a0 AS (
  SELECT v.vec_id, s.cell,
         {cosq(dot_seed, "v.nq", "greatest(s.cnq, 1)")} AS cell_cos
  FROM n v, seeds s
), asn0 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, cell) AS rn
    FROM a0
  ) WHERE rn = 1
), comp AS (
  SELECT a.cell, t.i AS pos, v.eq[t.i] AS x
  FROM asn0 a JOIN n v USING (vec_id),
       unnest(generate_series(1, len(v.eq))) AS t(i)
), centc AS (
  SELECT cell, pos, CAST(floor(avg(x)) AS BIGINT) AS c FROM comp GROUP BY cell, pos
), cents AS (
  SELECT cell, array_agg(c ORDER BY pos) AS ceq FROM centc GROUP BY cell
), cents2 AS (
  SELECT cell, ceq,
         (SELECT CAST(sum(ceq[t.i] * ceq[t.i]) AS BIGINT)
          FROM unnest(generate_series(1, len(ceq))) AS t(i)) AS cnq
  FROM cents
), a1 AS (
  SELECT v.vec_id, s.cell,
         {cosq(dot_seed, "v.nq", "greatest(s.cnq, 1)")} AS cell_cos
  FROM n v, cents2 s
), ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, cell) AS rn
  FROM a1
), asn AS (
  SELECT vec_id AS cand_id, cell FROM ranked WHERE rn = 1
)"""


def _sql_ivf_topk() -> str:
    cosq = _cosq_duck
    return f"""{_sql_ivf_prefix()}, probe AS (
  SELECT vec_id AS query_id, cell FROM ranked WHERE rn <= {IVF_NPROBE} AND vec_id < 3
), cands AS (
  SELECT p.query_id, a.cand_id FROM probe p JOIN asn a USING (cell)
), scored AS (
  SELECT c.query_id, c.cand_id,
         {cosq("(SELECT CAST(sum(cn.eq[t.i] * qn.eq[t.i]) AS BIGINT) FROM unnest(generate_series(1, len(cn.eq))) AS t(i))", "cn.nq", "qn.nq")} AS cos_q
  FROM cands c JOIN n cn ON c.cand_id = cn.vec_id JOIN n qn ON c.query_id = qn.vec_id
)
SELECT query_id, cand_id, cos_q, rank FROM (
  SELECT query_id, cand_id, cos_q,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


SQL_ANN_IVF_TOPK = _sql_ivf_topk()


def q_semantic_dedup(spark, d):
    """SemDeDup-style semantic near-dup audit over the embeddings table:
    IVF-cell clustering (integer-exact index build) + within-cell cosine
    threshold; one keep/drop row per vector."""
    return sim.semantic_dedup(_t(spark, d, "embeddings"), n_cells=None)


def _sql_semantic_dedup() -> str:
    cosq = _cosq_duck
    dot_ab = (
        "(SELECT CAST(sum(a.eq[t.i] * b.eq[t.i]) AS BIGINT) "
        "FROM unnest(generate_series(1, len(a.eq))) AS t(i))"
    )
    return f"""{_sql_ivf_prefix()}, vv AS (
  SELECT a.cand_id AS vec_id, a.cell, n.eq, n.nq
  FROM asn a JOIN n ON a.cand_id = n.vec_id
), close AS (
  SELECT b.vec_id AS b_id, CAST(count(*) AS BIGINT) AS n_close
  FROM vv a JOIN vv b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {cosq(dot_ab, "a.nq", "b.nq")} >= {sim.SEM_TAU_Q}
  GROUP BY 1
)
SELECT v.vec_id, CAST(v.cell AS BIGINT) AS cell,
       CAST(coalesce(c.n_close, 0) AS BIGINT) AS n_close,
       coalesce(c.n_close, 0) = 0 AS keep
FROM vv v LEFT JOIN close c ON v.vec_id = c.b_id
"""


SQL_SEMANTIC_DEDUP = _sql_semantic_dedup()


def q_ann_pq_topk(spark, d):
    """Product-quantization ADC top-k (32 subspaces x 16 codes) with the
    exact squared-L2 and signed ADC error on the record — codebook train,
    encode, LUT scoring all integer-exact and oracled."""
    emb = _t(spark, d, "embeddings")
    return sim.pq_adc_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)


def _sql_pq_topk() -> str:
    mm, kk, sc = sim.PQ_M, sim.PQ_K, sim.PQ_CODE_SCALE
    l2_seed = (
        "(SELECT CAST(sum((s.sv[t.i] - d.csv[t.i]) * (s.sv[t.i] - d.csv[t.i])) AS BIGINT) "
        "FROM unnest(generate_series(1, len(s.sv))) AS t(i))"
    )
    l2_cb = (
        "(SELECT CAST(sum((s.sv[t.i] - c.csv[t.i]) * (s.sv[t.i] - c.csv[t.i])) AS BIGINT) "
        "FROM unnest(generate_series(1, len(s.sv))) AS t(i))"
    )
    l2_full = (
        "(SELECT CAST(sum((qe.eq[t.i] - ce.eq[t.i]) * (qe.eq[t.i] - ce.eq[t.i])) AS BIGINT) "
        "FROM unnest(generate_series(1, len(qe.eq))) AS t(i))"
    )
    return f"""
WITH q AS (
  SELECT vec_id, {_EQ_DUCK} AS eq FROM embeddings
), subs AS (
  SELECT vec_id, CAST(j.m AS BIGINT) AS m,
         eq[j.m * (len(eq) // {mm}) + 1 : (j.m + 1) * (len(eq) // {mm})] AS sv
  FROM q, unnest(generate_series(0, {mm - 1})) AS j(m)
), seeds AS (
  SELECT m, CAST(vec_id AS BIGINT) AS code, sv AS csv FROM subs WHERE vec_id < {kk}
), a0 AS (
  SELECT s.vec_id, s.m, min({l2_seed} * {sc} + d.code) AS k0
  FROM subs s JOIN seeds d USING (m) GROUP BY 1, 2
), asn0 AS (
  SELECT vec_id, m, k0 % {sc} AS code FROM a0
), comp AS (
  SELECT a.m, a.code, t.i AS pos, s.sv[t.i] AS x
  FROM asn0 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m,
       unnest(generate_series(1, len(s.sv))) AS t(i)
), cbc AS (
  SELECT m, code, pos, CAST(floor(avg(x)) AS BIGINT) AS c FROM comp GROUP BY 1, 2, 3
), cb AS (
  SELECT m, code, array_agg(c ORDER BY pos) AS csv FROM cbc GROUP BY 1, 2
), enc AS (
  SELECT s.vec_id AS cand_id, s.m, min({l2_cb} * {sc} + c.code) % {sc} AS code
  FROM subs s JOIN cb c USING (m) GROUP BY 1, 2
), lut AS (
  SELECT s.vec_id AS query_id, s.m, c.code, {l2_cb} AS pdist
  FROM subs s JOIN cb c USING (m) WHERE s.vec_id < 3
), scored AS (
  SELECT l.query_id, e.cand_id, CAST(sum(l.pdist) AS BIGINT) AS adc_l2
  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, cand_id, adc_l2,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_l2 ASC, cand_id) AS INTEGER) AS rank
  FROM scored
)
SELECT r.query_id, r.cand_id, r.rank, r.adc_l2,
       {l2_full} AS exact_l2,
       CAST(r.adc_l2 - {l2_full} AS BIGINT) AS err_l2
FROM ranked r JOIN q qe ON r.query_id = qe.vec_id JOIN q ce ON r.cand_id = ce.vec_id
WHERE r.rank <= 10
"""


SQL_ANN_PQ_TOPK = _sql_pq_topk()


def q_ann_recall(spark, d):
    """Measured ANN recall: per query, |multi-table LSH top-k ∩ exact
    top-k| / k — the quality metric that justifies the LSH scale path."""
    emb = _t(spark, d, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    exact = sim.brute_force_topk(emb, qs, k=10).select("query_id", "cand_id")
    approx = sim.lsh_topk_multi(
        emb, qs, k=10, n_planes=MULTI_PLANES, n_tables=N_TABLES
    ).select("query_id", "cand_id")
    hits = (
        exact.join(approx, ["query_id", "cand_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("k_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "k_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.floor(
                F.lit(1000) * F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k_exact")
            ).cast("long").alias("recall_q"),
        )
    )


SQL_ANN_RECALL = f"""
WITH exact AS ({SQL_ANN_COSINE_TOPK.strip()}),
approx AS ({SQL_ANN_LSH_TOPK_MULTI.strip()}),
hits AS (
  SELECT e.query_id, count(*) AS n_hits
  FROM exact e JOIN approx a ON e.query_id = a.query_id AND e.cand_id = a.cand_id
  GROUP BY 1
)
SELECT e.query_id, count(*) AS k_exact,
       CAST(coalesce(any_value(h.n_hits), 0) AS BIGINT) AS n_hits,
       CAST(floor(1000.0 * coalesce(any_value(h.n_hits), 0) / count(*)) AS BIGINT) AS recall_q
FROM exact e LEFT JOIN hits h ON e.query_id = h.query_id
GROUP BY e.query_id
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_text_langid(spark, d):
    """Language ID by stopword/charclass marker counts + argmax."""
    return ta.lang_scores(_t(spark, d, "documents")).select(
        "doc_id", "s_en", "s_fr", "s_es", "s_de", "s_zh", "pred_lang",
        (F.col("pred_lang") == F.col("lang")).alias("is_match"),
    )


def _langid_scores_and_pred_sql() -> tuple[str, str]:
    """(score column list, argmax CASE) for the langid rules as DuckDB SQL
    — shared by the per-doc query and the confusion-matrix audit."""
    scores = ",\n       ".join(
        f"len(regexp_extract_all({_NORM_DUCK}, '{ta.LANG_MARKERS[lang][1]}')) AS s_{lang}"
        for lang in ta.LANG_ORDER
    )
    # same tie-break: first language in LANG_ORDER wins
    cases = []
    for i, lang in enumerate(ta.LANG_ORDER[:-1]):
        conds = []
        for j, other in enumerate(ta.LANG_ORDER):
            if other == lang:
                continue
            op = ">=" if j > i else ">"
            conds.append(f"s_{lang} {op} s_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    pred = "CASE " + " ".join(cases) + f" ELSE '{ta.LANG_ORDER[-1]}' END"
    return scores, pred


def _sql_langid() -> str:
    scores, pred = _langid_scores_and_pred_sql()
    return f"""
WITH s AS (
  SELECT doc_id, lang, {scores} FROM documents
)
SELECT doc_id, s_en, s_fr, s_es, s_de, s_zh, {pred} AS pred_lang,
       ({pred}) = lang AS is_match
FROM s
"""


SQL_TEXT_LANGID = _sql_langid()


def q_langid_confusion(spark, d):
    """Language-ID CONFUSION MATRIX against the corpus's labeled lang — the
    audit a curation pipeline keeps next to any heuristic classifier: per
    (true, predicted) cell the doc count and its quantized share of the
    true language's documents. Two partial-aggregable groupBys + a
    broadcast of the tiny per-lang totals — no new scale surface."""
    scored = ta.lang_scores(_t(spark, d, "documents"))
    totals = scored.groupBy("lang").agg(F.count("*").alias("n_lang"))
    return (
        scored.groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "pred_lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.floor(F.lit(1000) * F.col("n_docs") / F.col("n_lang"))
            .cast("long")
            .alias("share_q"),
            (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
        )
    )


def _sql_langid_confusion() -> str:
    scores, pred = _langid_scores_and_pred_sql()
    return f"""
WITH s AS (
  SELECT doc_id, lang, {scores} FROM documents
), p AS (
  SELECT lang, {pred} AS pred_lang FROM s
), cells AS (
  SELECT lang, pred_lang, count(*) AS n_docs FROM p GROUP BY 1, 2
), totals AS (
  SELECT lang, count(*) AS n_lang FROM p GROUP BY 1
)
SELECT c.lang, c.pred_lang, CAST(c.n_docs AS BIGINT) AS n_docs,
       CAST(floor(1000.0 * c.n_docs / t.n_lang) AS BIGINT) AS share_q,
       c.lang = c.pred_lang AS is_correct
FROM cells c JOIN totals t USING (lang)
"""


SQL_LANGID_CONFUSION = _sql_langid_confusion()


def q_text_quality(spark, d):
    """Quality features + bucket."""
    return ta.quality_features(_t(spark, d, "documents")).select(
        "doc_id", "n_chars_norm", "n_tokens", "punct_cnt", "stop_cnt",
        "punct_ratio_q", "stop_ratio_q", "quality",
    )


SQL_TEXT_QUALITY = f"""
WITH f AS (
  SELECT doc_id,
         length({_NORM_DUCK}) AS n_chars_norm,
         len(str_split({_NORM_DUCK}, ' ')) AS n_tokens,
         len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS punct_cnt,
         len(regexp_extract_all({_NORM_DUCK}, '{ta.STOPWORD_RE2}')) AS stop_cnt
  FROM documents
), r AS (
  SELECT *,
         CAST(floor(1000.0 * punct_cnt / greatest(n_chars_norm, 1)) AS BIGINT) AS punct_ratio_q,
         CAST(floor(1000.0 * stop_cnt / greatest(n_tokens, 1)) AS BIGINT) AS stop_ratio_q
  FROM f
)
SELECT doc_id, n_chars_norm, n_tokens, punct_cnt, stop_cnt, punct_ratio_q, stop_ratio_q,
       CASE WHEN n_tokens < 10 THEN 'too_short'
            WHEN punct_ratio_q > 300 THEN 'punct_heavy'
            WHEN stop_ratio_q >= 100 THEN 'high'
            ELSE 'medium' END AS quality
FROM r
"""


def q_token_count(spark, d):
    """Token counting, aggregated per source."""
    tc = ta.token_counts(_t(spark, d, "documents"))
    return tc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens_ws").alias("sum_tokens_ws"),
        F.sum("tokens_bpe").alias("sum_tokens_bpe"),
    )


SQL_TOKEN_COUNT = f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(len(str_split({_NORM_DUCK}, ' '))) AS BIGINT) AS sum_tokens_ws,
       CAST(sum(len(regexp_extract_all(lower(text), '{ta.BPE_RE2}'))) AS BIGINT) AS sum_tokens_bpe
FROM documents GROUP BY source
"""


def q_text_repetition(spark, d):
    """Repetition filters (Gopher/RefinedWeb family): duplicate-line ratio
    + most-frequent-token share, exact quantized integers over the FULL
    documents table (the operator is linear — explode + groupBy — so no
    doc_id bound is needed on either engine)."""
    return ta.repetition_features(_t(spark, d, "documents"))


SQL_TEXT_REPETITION = f"""
WITH n AS (
  SELECT doc_id, text, {_NORM_DUCK} AS norm FROM documents
), f AS (
  SELECT doc_id,
         str_split(text, chr(10)) AS lines,
         list_filter(str_split(norm, ' '), t -> t <> '') AS toks
  FROM n
), tok_counts AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM f)
  GROUP BY doc_id, tok
), m AS (
  SELECT doc_id, max(c) AS max_tok_cnt FROM tok_counts GROUP BY doc_id
), g AS (
  SELECT f.doc_id,
         len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_uniq_lines,
         len(toks) AS n_toks,
         coalesce(m.max_tok_cnt, 0) AS max_tok_cnt
  FROM f LEFT JOIN m ON f.doc_id = m.doc_id
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_uniq_lines AS BIGINT) AS n_uniq_lines,
       CAST(floor(1000.0 * (n_lines - n_uniq_lines) / greatest(n_lines, 1)) AS BIGINT) AS dup_line_q,
       CAST(n_toks AS BIGINT) AS n_toks,
       CAST(max_tok_cnt AS BIGINT) AS max_tok_cnt,
       CAST(floor(1000.0 * max_tok_cnt / greatest(n_toks, 1)) AS BIGINT) AS max_tok_share_q
FROM g
"""


def q_gopher_repetition(spark, d):
    """Gopher n-gram repetition filters (top-2/3-gram char share,
    duplicate-5-gram char share) — the appendix-A1.1 family beyond
    text_repetition's line/token signals. One explode, two
    partial-aggregable shuffles, full documents table."""
    return ta.gopher_repetition(_t(spark, d, "documents"))


def _sql_grams(n: int) -> str:
    """DuckDB n-gram list over toks (1-based inclusive array_slice);
    generate_series(1, 0) is [] in DuckDB, so no CASE guard is needed —
    the asymmetry with Spark's descending sequence() is the round-2
    invariant, handled on the Spark side."""
    return (
        "list_transform(generate_series(1, greatest(len(toks) - {m}, 0)), "
        "i -> array_to_string(array_slice(toks, i, i + {m}), ' '))"
    ).format(m=n - 1)


SQL_GOPHER_REPETITION = f"""
WITH t AS (
  SELECT doc_id, {_NORM_DUCK} AS norm FROM documents
), f AS (
  SELECT doc_id, length(norm) AS n_chars_norm,
         list_filter(str_split(norm, ' '), w -> w <> '') AS toks
  FROM t
), grams AS (
  SELECT doc_id, 2 AS n, unnest({_sql_grams(2)}) AS gram FROM f
  UNION ALL
  SELECT doc_id, 3 AS n, unnest({_sql_grams(3)}) AS gram FROM f
  UNION ALL
  SELECT doc_id, 5 AS n, unnest({_sql_grams(5)}) AS gram FROM f
), c AS (
  SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3
), agg AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN c * length(gram) ELSE 0 END) AS top2_chars,
         max(CASE WHEN n = 3 THEN c * length(gram) ELSE 0 END) AS top3_chars,
         sum(CASE WHEN n = 5 AND c > 1 THEN c * length(gram) ELSE 0 END) AS dup5_chars
  FROM c GROUP BY 1
)
SELECT f.doc_id,
       CAST(f.n_chars_norm AS BIGINT) AS n_chars_norm,
       CAST(len(f.toks) AS BIGINT) AS n_toks,
       CAST(coalesce(agg.top2_chars, 0) AS BIGINT) AS top2_chars,
       CAST(floor(1000.0 * coalesce(agg.top2_chars, 0) / greatest(f.n_chars_norm, 1)) AS BIGINT) AS top2_share_q,
       CAST(coalesce(agg.top3_chars, 0) AS BIGINT) AS top3_chars,
       CAST(floor(1000.0 * coalesce(agg.top3_chars, 0) / greatest(f.n_chars_norm, 1)) AS BIGINT) AS top3_share_q,
       CAST(coalesce(agg.dup5_chars, 0) AS BIGINT) AS dup5_chars,
       CAST(floor(1000.0 * coalesce(agg.dup5_chars, 0) / greatest(f.n_chars_norm, 1)) AS BIGINT) AS dup5_share_q
FROM f LEFT JOIN agg ON f.doc_id = agg.doc_id
"""


def q_tfidf_topk(spark, d):
    """Top-3 salient terms per document by integer-exact tf-idf."""
    return ta.tfidf_topk(_t(spark, d, "documents"))


SQL_TFIDF_TOPK = f"""
WITH terms AS (
  SELECT doc_id, unnest(str_split_regex(lower(text), '[^a-z]+')) AS term
  FROM documents
), t AS (
  SELECT doc_id, term, count(*) AS tf
  FROM terms WHERE length(term) >= {ta.TFIDF_MIN_TERM_LEN}
  GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df FROM t GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, dfreq.df,
         t.tf * (({ta.TFIDF_IDF_SCALE} * n.n_docs) // dfreq.df) AS score_q
  FROM t JOIN dfreq USING (term) CROSS JOIN n
), r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, rnk, term, tf, df, CAST(score_q AS BIGINT) AS score_q
FROM r WHERE rnk <= {ta.TFIDF_TOPK}
"""


def q_bpe_train(spark, d):
    """First 3 BPE merge rules learned from the documents corpus —
    vocab-reduced pair counting, declarative argmax-broadcast-merge
    rounds, no driver collect."""
    return ta.bpe_train(_t(spark, d, "documents"), rounds=ta.BPE_ROUNDS)


def _sql_bpe_train() -> str:
    parts = [
        f"""
WITH words AS (
  SELECT unnest(list_filter(str_split({_NORM_DUCK}, ' '), w -> w <> '')) AS word
  FROM documents
), vocab AS (
  SELECT word, count(*) AS freq FROM words GROUP BY 1
), v0 AS (
  SELECT '|' || array_to_string(str_split(word, ''), '|  |') || '|' AS seq, freq
  FROM vocab
)"""
    ]
    selects = []
    for r in range(ta.BPE_ROUNDS):
        parts.append(f""", p{r} AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_n FROM (
    SELECT s.freq, s.syms[t.i] || '  ' || s.syms[t.i + 1] AS pair
    FROM (SELECT str_split(seq, '  ') AS syms, freq FROM v{r}) s,
         unnest(generate_series(1, len(s.syms) - 1)) AS t(i)
  ) GROUP BY 1
), t{r} AS (
  SELECT pair, pair_n FROM p{r} ORDER BY pair_n DESC, pair LIMIT 1
), v{r + 1} AS (
  SELECT replace(v.seq, t.pair,
                 '|' || replace(replace(t.pair, '|', ''), ' ', '') || '|') AS seq,
         v.freq
  FROM v{r} v, t{r} t
)""")
        selects.append(
            f"""SELECT CAST({r} AS BIGINT) AS round,
       replace(str_split(pair, '  ')[1], '|', '') AS left_sym,
       replace(str_split(pair, '  ')[2], '|', '') AS right_sym,
       replace(replace(pair, '|', ''), ' ', '') AS merged,
       pair_n
FROM t{r}"""
        )
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


SQL_BPE_TRAIN = _sql_bpe_train()


def q_bpe_apply(spark, d):
    """Apply the 3 learned BPE merges to every doc (the tokenizer's
    train->apply loop closed): per-doc character-baseline vs post-merge
    token budget, quantized savings share."""
    return ta.bpe_apply(_t(spark, d, "documents"), rounds=ta.BPE_ROUNDS)


def _sql_bpe_apply() -> str:
    # reuse the train chain's CTEs (v0..vN + t0..tN merge picks), then run
    # the same fenced-replace application over PER-DOC word sequences
    prefix = SQL_BPE_TRAIN.split("\nSELECT CAST(0", 1)[0]
    parts = [prefix]
    parts.append(f""", dwords AS (
  SELECT doc_id, unnest(list_filter(str_split({_NORM_DUCK}, ' '), w -> w <> '')) AS word
  FROM documents
), a0 AS (
  SELECT doc_id, CAST(length(word) AS BIGINT) AS n_chars,
         '|' || array_to_string(str_split(word, ''), '|  |') || '|' AS seq
  FROM dwords
)""")
    for r in range(ta.BPE_ROUNDS):
        parts.append(f""", a{r + 1} AS (
  SELECT a.doc_id, a.n_chars,
         replace(a.seq, t.pair,
                 '|' || replace(replace(t.pair, '|', ''), ' ', '') || '|') AS seq
  FROM a{r} a, t{r} t
)""")
    last = ta.BPE_ROUNDS
    parts.append(f"""
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_chars) AS BIGINT) AS tokens_char,
       CAST(sum(len(str_split(seq, '  '))) AS BIGINT) AS tokens_bpe,
       CAST((1000 * (sum(n_chars) - sum(len(str_split(seq, '  '))))) //
            greatest(sum(n_chars), 1) AS BIGINT) AS saved_q
FROM a{last}
GROUP BY 1
""")
    return "".join(parts)


SQL_BPE_APPLY = _sql_bpe_apply()


def q_bpe_compression(spark, d):
    """Compression trajectory of the learned BPE merges: weighted corpus
    symbol totals after 0..3 merge rounds (round 0 = char baseline)."""
    return ta.bpe_compression(_t(spark, d, "documents"), rounds=ta.BPE_ROUNDS)


def _sql_bpe_compression() -> str:
    # reuse _sql_bpe_train's CTE chain (v0..vN states) with a different tail
    prefix = SQL_BPE_TRAIN.split("\nSELECT CAST(0", 1)[0]
    selects = [
        f"""SELECT CAST({r} AS BIGINT) AS round,
       CAST(sum(freq * len(str_split(seq, '  '))) AS BIGINT) AS total_syms,
       CAST(sum(freq) AS BIGINT) AS total_words
FROM v{r}"""
        for r in range(ta.BPE_ROUNDS + 1)
    ]
    return prefix + "\n" + "\nUNION ALL\n".join(selects)


SQL_BPE_COMPRESSION = _sql_bpe_compression()


def q_mixture_temperature(spark, d):
    """Temperature (alpha=0.5) mixture rebalancing over the documents
    table by source: per-stratum keep rate + achieved kept counts, the
    deterministic md5 coin shared with stratified sampling."""
    return cu.temperature_sample(_t(spark, d, "documents"), "source")


def _sql_mixture_temperature() -> str:
    b = cu.bucket_sql_expr("CAST(doc_id AS VARCHAR)", "temp:", 3)
    return f"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
), m AS (SELECT min(n_docs) AS n_min FROM counts),
rates AS (
  SELECT source, n_docs,
         CAST(least({cu.TEMP_SCALE},
              floor({cu.TEMP_SCALE} * sqrt(CAST(n_min AS DOUBLE) / n_docs))) AS BIGINT)
           AS rate_q
  FROM counts CROSS JOIN m
)
SELECT r.source, r.n_docs, r.rate_q,
       CAST(sum(CASE WHEN {b} < r.rate_q THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN rates r USING (source)
GROUP BY 1, 2, 3
"""


SQL_MIXTURE_TEMPERATURE = _sql_mixture_temperature()


def q_text_rarity(spark, d):
    """Unigram-rarity (perplexity-surrogate) score per document,
    integer-exact in both engines."""
    return ta.token_rarity(_t(spark, d, "documents"))


SQL_TEXT_RARITY = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(str_split({_NORM_DUCK}, ' '), x -> x <> '')) AS tok
  FROM documents
), gtf AS (
  SELECT tok, count(*) AS gtf FROM toks GROUP BY 1
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum({ta.RARITY_SCALE} // g.gtf) AS BIGINT) AS rarity_sum,
       CAST(sum({ta.RARITY_SCALE} // g.gtf) // count(*) AS BIGINT) AS rarity_mean_q
FROM toks t JOIN gtf g USING (tok)
GROUP BY 1
"""


def q_importance_resample(spark, d):
    """DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    hashed-unigram importance weights of every raw-pool doc against the
    src0 target profile — two fixed-64-bucket domain profiles (broadcast),
    overflow-proof two-stage integer ratio, per-doc mean weight."""
    return cu.importance_weights(_t(spark, d, "documents"))


def _sql_importance_resample() -> str:
    b = DSIR_B_SQL = "(" + cu.bucket_sql_expr("t.tok", cu.DSIR_SALT, 2) + f" % {cu.DSIR_BUCKETS})"
    s, nb = cu.DSIR_SCALE, cu.DSIR_BUCKETS
    tgt = cu.DSIR_TARGET_SOURCE
    return f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(str_split({_NORM_DUCK}, ' '), x -> x <> '')) AS tok
  FROM documents
), bk AS (
  SELECT doc_id, source, {b.replace('t.tok', 'tok')} AS b FROM toks t
), tprof AS (
  SELECT b, CAST(count(*) AS BIGINT) AS t_b FROM bk WHERE source = '{tgt}' GROUP BY 1
), rprof AS (
  SELECT b, CAST(count(*) AS BIGINT) AS r_b FROM bk WHERE source <> '{tgt}' GROUP BY 1
), tot AS (
  SELECT CAST((SELECT count(*) FROM bk WHERE source = '{tgt}') AS BIGINT) AS t_tot,
         CAST((SELECT count(*) FROM bk WHERE source <> '{tgt}') AS BIGINT) AS r_tot
), ratios AS (
  SELECT g.b,
         CAST(({s} * (({s} * (coalesce(t.t_b, 0) + 1)) // (tot.t_tot + {nb}))) //
              greatest(({s} * (coalesce(r.r_b, 0) + 1)) // (tot.r_tot + {nb}), 1) AS BIGINT)
           AS ratio_q
  FROM range({nb}) AS g(b)
  LEFT JOIN tprof t ON g.b = t.b
  LEFT JOIN rprof r ON g.b = r.b
  CROSS JOIN tot
)
SELECT k.doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(rt.ratio_q) AS BIGINT) AS weight_sum,
       CAST(sum(rt.ratio_q) // greatest(count(*), 1) AS BIGINT) AS weight_mean_q
FROM bk k JOIN ratios rt ON k.b = rt.b
WHERE k.source <> '{tgt}'
GROUP BY 1
"""


SQL_IMPORTANCE_RESAMPLE = _sql_importance_resample()


LM_KEEP_MAX_MEAN = 40_000  # keep when mean surprisal <= this (tuned at sf0.01: drops the high-surprisal tail)


def q_lm_perplexity(spark, d):
    """CCNet-style LM quality filter (Wenzek et al. 2020, arXiv:1911.00359):
    a bigram LM trained on ~90% of the corpus (md5-coin split) scores the
    held-out docs; surprisal is the integer surrogate
    (SCALE * c(w1)) div c(w1,w2), OOV bigrams cost a fixed constant. The
    whole pass — split, counts, scoring join, per-doc aggregate — is
    oracle-checkable integer arithmetic."""
    return ta.lm_perplexity(_t(spark, d, "documents"), keep_max_mean=LM_KEEP_MAX_MEAN)


def _sql_lm_perplexity() -> str:
    coin = cu.bucket_sql_expr("CAST(doc_id AS VARCHAR)", ta.LM_SALT, 3)
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(str_split({_NORM_DUCK}, ' '), x -> x <> '') AS toks,
         {coin} < {ta.LM_TRAIN_4096} AS is_train
  FROM documents
), bigrams AS (
  SELECT doc_id, is_train, toks[i.i] AS w1, toks[i.i + 1] AS w2
  FROM base, unnest(generate_series(1, len(toks) - 1)) AS i(i)
  WHERE len(toks) >= 2
), cnt2 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bigrams WHERE is_train GROUP BY 1, 2
), cnt1 AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bigrams WHERE is_train GROUP BY 1
), scored AS (
  SELECT b.doc_id,
         CASE WHEN c.c2 IS NOT NULL THEN ({ta.LM_SCALE} * p.c1) // c.c2
              ELSE {ta.LM_OOV_SURPRISAL} END AS surprisal
  FROM bigrams b
  LEFT JOIN cnt2 c ON b.w1 = c.w1 AND b.w2 = c.w2
  LEFT JOIN cnt1 p ON b.w1 = p.w1
  WHERE NOT b.is_train
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(surprisal) AS BIGINT) AS surprisal_sum
  FROM scored GROUP BY 1
)
SELECT h.doc_id,
       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(p.surprisal_sum, 0) AS BIGINT) AS surprisal_sum,
       CAST(coalesce(p.surprisal_sum, 0) // greatest(coalesce(p.n_bigrams, 0), 1) AS BIGINT)
         AS surprisal_mean_q,
       coalesce(p.surprisal_sum, 0) // greatest(coalesce(p.n_bigrams, 0), 1)
         <= {LM_KEEP_MAX_MEAN} AS keep
FROM (SELECT doc_id FROM base WHERE NOT is_train) h
LEFT JOIN per_doc p USING (doc_id)
"""


SQL_LM_PERPLEXITY = _sql_lm_perplexity()


def q_quality_classifier(spark, d):
    """Fixed-integer-weight linear quality model over the documents table
    (the learned-filter seam; engine-exact logit)."""
    return ta.quality_classifier(_t(spark, d, "documents"))


SQL_QUALITY_CLASSIFIER = f"""
WITH f AS (
  SELECT doc_id,
         length({_NORM_DUCK}) AS n_chars_norm,
         len(str_split({_NORM_DUCK}, ' ')) AS n_tokens,
         len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS punct_cnt,
         len(regexp_extract_all({_NORM_DUCK}, '{ta.STOPWORD_RE2}')) AS stop_cnt
  FROM documents
), r AS (
  SELECT *,
         CAST(floor(1000.0 * punct_cnt / greatest(n_chars_norm, 1)) AS BIGINT) AS punct_ratio_q,
         CAST(floor(1000.0 * stop_cnt / greatest(n_tokens, 1)) AS BIGINT) AS stop_ratio_q
  FROM f
)
SELECT doc_id, stop_ratio_q, punct_ratio_q,
       CAST(least(n_tokens, {ta.QC_LEN_CAP}) AS BIGINT) AS len_feat,
       CAST({ta.QC_W_STOP} * stop_ratio_q + {ta.QC_W_PUNCT} * punct_ratio_q
            + least(n_tokens, {ta.QC_LEN_CAP}) + {ta.QC_BIAS} AS BIGINT) AS logit_q,
       ({ta.QC_W_STOP} * stop_ratio_q + {ta.QC_W_PUNCT} * punct_ratio_q
            + least(n_tokens, {ta.QC_LEN_CAP}) + {ta.QC_BIAS}) >= 0 AS keep
FROM r
"""


def q_sketch_cms(spark, d):
    """Count-min-sketch heavy hitters over the documents token stream:
    top-20 tokens with exact count, CMS estimate, and collision
    overestimate (engine-exact md5 bucket arithmetic; the oracle rebuilds
    the identical 3x512 sketch)."""
    return ta.cms_heavy_hitters(_t(spark, d, "documents"))


def _sql_sketch_cms() -> str:
    b = [cu.bucket_sql_expr("tok", f"cms{i}:", 3) for i in range(ta.CMS_D)]
    cells = " UNION ALL ".join(
        f"SELECT {i} AS r, {b[i]} % {ta.CMS_W} AS bucket FROM toks"
        for i in range(ta.CMS_D)
    )
    cand = " UNION ALL ".join(
        f"SELECT tok, exact_n, {i} AS r, {b[i]} % {ta.CMS_W} AS bucket FROM topk"
        for i in range(ta.CMS_D)
    )
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(str_split({_NORM_DUCK}, ' '), x -> x <> '')) AS tok
  FROM documents
), exact AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY 1
), topk AS (
  SELECT * FROM exact ORDER BY exact_n DESC, tok LIMIT {ta.CMS_K}
), cells AS (
  {cells}
), sketch AS (
  SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2
), cand AS (
  {cand}
)
SELECT c.tok, c.exact_n,
       CAST(min(s.cnt) AS BIGINT) AS cms_est,
       CAST(min(s.cnt) - c.exact_n AS BIGINT) AS overest
FROM cand c JOIN sketch s USING (r, bucket)
GROUP BY 1, 2
"""


SQL_SKETCH_CMS = _sql_sketch_cms()


def q_text_scrub(spark, d):
    """PII scrub over the documents table with deterministic injected PII
    (the synthetic corpus carries none, so both engines append the SAME
    doc_id-derived email/IP/phone before scrubbing — the redaction itself,
    counts, and scrubbed digests are then verified engine-exact)."""
    docs = _t(spark, d, "documents")
    pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" tel 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return ta.scrub_pii(pii)


def _sql_text_scrub() -> str:
    reps = "text"
    for pat, token in ta._PII_ORDER:
        reps = f"regexp_replace({reps}, '{pat}', '{token}', 'g')"
    return f"""
WITH pii AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.' || CAST(doc_id % 100 AS VARCHAR)
              || ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{ta.PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{ta.PII_IPV4}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{ta.PII_PHONE}')) AS BIGINT) AS n_phone,
       CAST(length({reps}) AS BIGINT) AS n_chars_scrubbed,
       md5({reps}) AS scrubbed_md5
FROM pii
"""


SQL_TEXT_SCRUB = _sql_text_scrub()


def q_doc_fingerprint(spark, d):
    """Full/head/tail content digests per doc."""
    return ta.fingerprints(_t(spark, d, "documents"))


SQL_DOC_FINGERPRINT = f"""
WITH n AS (SELECT doc_id, {_NORM_DUCK} AS norm FROM documents)
SELECT doc_id, md5(norm) AS fp_full,
       md5(substr(norm, 1, 64)) AS fp_head,
       md5(substr(norm, greatest(length(norm) - 63, 1))) AS fp_tail
FROM n
"""


def q_curate_corpus(spark, d):
    """The end-user training-data curation pipeline as ONE query: keep a
    document iff (a) quality bucket is high/medium, (b) predicted language
    matches the labeled one, and (c) it is its exact-dup group's keeper —
    the composition every corpus build runs before tokenization.

    Quality and language are PER-ROW expressions, so they chain onto ONE
    scan (no self-joins — at 100 TB a join per signal would shuffle the
    corpus once per stage); the only join is the dedup-keeper set, which is
    an aggregate of the same scan joined back on doc_id."""
    docs = _t(spark, d, "documents")
    signals = ta.lang_scores(ta.quality_features(docs))
    keepers = dd.exact_dedup_groups(docs).select(
        F.col("keeper").alias("doc_id"), F.lit(True).alias("is_keeper")
    )
    return (
        signals.join(keepers, "doc_id", "left")
        .filter(
            F.col("quality").isin("high", "medium")
            & (F.col("pred_lang") == F.col("lang"))
            & F.coalesce(F.col("is_keeper"), F.lit(False))
        )
        .select("doc_id", "source", "n_chars", "quality")
    )


def _sql_curate() -> str:
    # reuse the oracled component SQL verbatim as CTEs: the composition is
    # graded against the same engine-exact stage definitions
    quality = SQL_TEXT_QUALITY.strip()
    langid = SQL_TEXT_LANGID.strip()
    dedup = SQL_DEDUP_EXACT.strip()
    return f"""
WITH q AS ({quality}),
l AS ({langid}),
k AS (SELECT keeper AS doc_id FROM ({dedup}))
SELECT d.doc_id, d.source, d.n_chars, q.quality
FROM documents d
JOIN q ON d.doc_id = q.doc_id
JOIN l ON d.doc_id = l.doc_id
JOIN k ON d.doc_id = k.doc_id
WHERE q.quality IN ('high', 'medium') AND l.is_match
"""


SQL_CURATE_CORPUS = _sql_curate()


# ---------------------------------------------------------------------------
# corpus curation: deterministic sampling, shard export, bloom-pruned
# incremental dedup, cluster-level keep-best
# ---------------------------------------------------------------------------

SAMPLE_RATES_4096 = {"en": 512, "fr": 1024, "es": 2048, "de": 4096, "zh": 3072}


def q_sample_stratified(spark, d):
    """Deterministic stratified sampling for corpus balancing: per-language
    keep rates (12-bit md5 bucket < threshold/4096) — downsample the
    over-represented languages, keep the rare ones whole. Per-row
    expression, no shuffle, no RNG: the coin is stable under task retry
    (exactly-once at 10^12 docs) and bit-identical in the oracle."""
    docs = _t(spark, d, "documents")
    return cu.stratified_sample(docs, "lang", SAMPLE_RATES_4096).select(
        "doc_id", "lang", "source", "bucket"
    )


def _sql_sample_stratified() -> str:
    b = cu.bucket_sql_expr("CAST(doc_id AS VARCHAR)", "samp:", 3)
    cases = " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES_4096.items())
    return f"""
SELECT doc_id, lang, source, CAST({b} AS BIGINT) AS bucket
FROM documents
WHERE {b} < CASE lang {cases} ELSE 4096 END
"""


SQL_SAMPLE_STRATIFIED = _sql_sample_stratified()


N_SHARDS = 8
SHUFFLE_EPOCH = 1


def q_shard_shuffle(spark, d):
    """Epoch-deterministic global shuffle into training shards (the
    'shuffled shards' data-loader order): md5(epoch-salted) 32-bit key ->
    shard + within-shard rank. One uniform shuffle + bounded per-shard
    window sorts; the permutation is a pure function of (doc_id, epoch)."""
    return cu.shard_shuffle(
        _t(spark, d, "documents"), N_SHARDS, epoch=SHUFFLE_EPOCH
    ).select("doc_id", "shuffle_key", "shard", "pos")


def _sql_shard_shuffle() -> str:
    key = cu.bucket_sql_expr("CAST(doc_id AS VARCHAR)", "shuf%d:" % SHUFFLE_EPOCH, 8)
    return f"""
WITH k AS (
  SELECT doc_id, CAST({key} AS BIGINT) AS shuffle_key FROM documents
), s AS (
  SELECT doc_id, shuffle_key, shuffle_key % {N_SHARDS} AS shard FROM k
)
SELECT doc_id, shuffle_key, CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
FROM s
"""


SQL_SHARD_SHUFFLE = _sql_shard_shuffle()


def q_shard_export(spark, d):
    """Deterministic training-shard assignment + per-shard accounting:
    shard = md5 bucket mod {N_SHARDS}, then docs/bytes per shard. Uniform
    by construction (the balance is the observable this query pins) and
    retry-stable — the export layout a multi-day 100 TB tokenization run
    resumes against. The write path is ``pipeline.write_shards``."""
    docs = cu.shard_assign(_t(spark, d, "documents"), N_SHARDS)
    return docs.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def _sql_shard_export() -> str:
    b = cu.bucket_sql_expr("CAST(doc_id AS VARCHAR)", "shard:", 2)
    return f"""
WITH s AS (
  SELECT doc_id, n_chars, CAST({b} % {N_SHARDS} AS BIGINT) AS shard FROM documents
)
SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM s GROUP BY shard
"""


SQL_SHARD_EXPORT = _sql_shard_export()


BLOOM_K = 3
BLOOM_SEEN_MAX_DOC = 250


def q_bloom_antijoin(spark, d):
    """Bloom-filter-pruned incremental dedup: the seen-set (docs already
    ingested, doc_id < {BLOOM_SEEN_MAX_DOC} here) projects to its distinct
    bloom bit positions (k={BLOOM_K}, m=4096) — tiny and broadcastable even
    when the seen store is petabytes; each incoming doc checks its k
    positions via a broadcast join (no bitmap on the driver, corpus never
    shuffles) and only the all-k-hit "maybe" sliver pays the exact
    fingerprint join. Output pins BOTH flags per doc, so the oracle
    verifies soundness (is_dup implies bloom_maybe) and the observed
    false-positive tail."""
    docs = dd.normalized(_t(spark, d, "documents")).select(
        "doc_id", F.md5(F.col("norm").cast("binary")).alias("fp")
    )
    seen = docs.filter(F.col("doc_id") < BLOOM_SEEN_MAX_DOC)
    return cu.bloom_prune_flags(docs, seen, k=BLOOM_K)


def _sql_bloom_antijoin() -> str:
    pos = [cu.bucket_sql_expr("fp", f"bloom{i}:", 3) for i in range(BLOOM_K)]
    hits = " + ".join(
        f"(CASE WHEN {p} IN (SELECT pos FROM seen_pos) THEN 1 ELSE 0 END)" for p in pos
    )
    return f"""
WITH n AS (
  SELECT doc_id, md5({_NORM_DUCK}) AS fp FROM documents
),
seen AS (SELECT DISTINCT fp FROM n WHERE doc_id < {BLOOM_SEEN_MAX_DOC}),
seen_pos AS (
  SELECT DISTINCT pos FROM (SELECT unnest([{", ".join(pos)}]) AS pos FROM seen)
)
SELECT doc_id, ({hits}) = {BLOOM_K} AS bloom_maybe,
       fp IN (SELECT fp FROM seen) AS is_dup
FROM n
"""


SQL_BLOOM_ANTIJOIN = _sql_bloom_antijoin()


def q_pack_sequences(spark, d):
    """Concat-and-chunk sequence packing over the documents table: each
    doc's global token offset and the training-sequence ids it occupies.
    The Spark side is the scalable two-phase prefix sum (bucketed partial
    sums + tiny bucket-base window); the oracle is the straight one-window
    cumsum — a green hash proves the decomposition exact."""
    docs = _t(spark, d, "documents")
    toks = dd.normalized(docs).select(
        "doc_id",
        F.size(F.filter(F.split(F.col("norm"), " "), lambda t: t != ""))
        .cast("long")
        .alias("n_toks"),
    )
    return cu.pack_sequences(toks)


SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(str_split({_NORM_DUCK}, ' '), x -> x <> '')) AS n_toks
  FROM documents
), c AS (
  SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
         CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
  FROM t
)
SELECT doc_id, n_toks, start_off,
       CAST(start_off // {cu.PACK_BUDGET} AS BIGINT) AS seq_first,
       CAST(CASE WHEN n_toks > 0 THEN (start_off + n_toks - 1) // {cu.PACK_BUDGET}
                 ELSE start_off // {cu.PACK_BUDGET} END AS BIGINT) AS seq_last,
       CAST(CASE WHEN n_toks > 0 THEN
                 ((start_off + n_toks - 1) // {cu.PACK_BUDGET}) - (start_off // {cu.PACK_BUDGET}) + 1
                 ELSE 0 END AS BIGINT) AS n_seqs
FROM c
"""


def q_padding_waste(spark, d):
    """Length-bucketed batching audit: padding waste of arrival-order vs
    length-sorted batching (batch=32, pad to batch max) per source shard."""
    docs = _t(spark, d, "documents")
    toks = dd.normalized(docs).select(
        "doc_id",
        "source",
        F.size(F.filter(F.split(F.col("norm"), " "), lambda t: t != ""))
        .cast("long")
        .alias("n_toks"),
    )
    return cu.padding_waste(toks)


def _sql_padding_waste() -> str:
    batches = []
    for strategy, order in (
        ("arrival", "doc_id"),
        ("sorted", "n_toks, doc_id"),
    ):
        batches.append(f"""
  SELECT '{strategy}' AS strategy, source, n_batches, n_docs, real_toks, padded_toks,
         CAST(floor(1000.0 * (padded_toks - real_toks) / greatest(padded_toks, 1)) AS BIGINT) AS waste_q
  FROM (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(real_toks) AS BIGINT) AS real_toks,
           CAST(sum(n_docs * max_len) AS BIGINT) AS padded_toks
    FROM (
      SELECT source, batch_idx, count(*) AS n_docs, max(n_toks) AS max_len,
             sum(n_toks) AS real_toks
      FROM (
        SELECT source, n_toks,
               (row_number() OVER (PARTITION BY source ORDER BY {order}) - 1)
                 // {cu.PAD_BATCH} AS batch_idx
        FROM t
      ) GROUP BY 1, 2
    ) GROUP BY 1
  )""")
    return f"""
WITH t AS (
  SELECT doc_id, source,
         len(list_filter(str_split({_NORM_DUCK}, ' '), x -> x <> '')) AS n_toks
  FROM documents
)
{' UNION ALL '.join(batches)}
"""


SQL_PADDING_WASTE = _sql_padding_waste()


def q_contamination(spark, d):
    """Benchmark-contamination audit: eval docs (doc_id % 50 == 0) vs the
    training split by 3-gram shingle overlap, hot shingles capped."""
    docs = _t(spark, d, "documents")
    return cu.contamination_check(dd.doc_ngrams(docs, n=cu.CONTAM_N))


SQL_CONTAMINATION = f"""
WITH docs AS (
  SELECT doc_id, str_split({_NORM_DUCK}, ' ') AS w FROM documents
), grams AS (
  SELECT DISTINCT doc_id, w[t.i] || ' ' || w[t.i+1] || ' ' || w[t.i+2] AS gram
  FROM docs, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
), eval_g AS (
  SELECT * FROM grams WHERE doc_id % {cu.CONTAM_EVAL_MOD} = 0
), train_g AS (
  SELECT * FROM grams WHERE doc_id % {cu.CONTAM_EVAL_MOD} <> 0
), train_kept AS (
  SELECT g.doc_id AS train_doc, g.gram
  FROM train_g g JOIN (
    SELECT gram, count(*) AS gram_df FROM train_g GROUP BY 1
  ) d USING (gram)
  WHERE d.gram_df <= {cu.CONTAM_DF_CAP}
), hits AS (
  SELECT e.doc_id AS eval_doc,
         count(DISTINCT t.gram) AS n_hit_shingles,
         count(DISTINCT t.train_doc) AS n_train_docs
  FROM eval_g e JOIN train_kept t USING (gram)
  GROUP BY 1
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM eval_g GROUP BY 1
)
SELECT s.doc_id,
       CAST(s.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(h.n_hit_shingles, 0) AS BIGINT) AS n_hit_shingles,
       CAST(coalesce(h.n_train_docs, 0) AS BIGINT) AS n_train_docs,
       CAST(floor(1000.0 * coalesce(h.n_hit_shingles, 0) / greatest(s.n_shingles, 1)) AS BIGINT) AS contam_q
FROM sizes s LEFT JOIN hits h ON s.doc_id = h.eval_doc
"""


def q_dedup_keep_best(spark, d):
    """Cluster-level dedup KEEP-BEST — what a corpus build actually runs
    after near-dup clustering: every doc in scope joins its MinHash-LSH
    connected component (singletons cluster with themselves), and each
    cluster keeps its highest-quality member (stopword-ratio score,
    min-doc_id tie-break). The argmax rides through an ordinary min() over
    a zero-padded (inverted-score, doc_id) sort key — partial-aggregable,
    one shuffle, no window over the corpus, and a valid total order in
    both engines."""
    docs = _t(spark, d, "documents").filter(F.col("doc_id") < 60)
    pairs = q_dedup_star_edges(spark, d).filter(F.col("j_q") >= CLUSTER_JQ_MIN)
    cc = dd.connected_components(pairs.select("doc_a", "doc_b"))
    qual = ta.quality_features(docs).select("doc_id", "stop_ratio_q")
    member = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"))
    )
    bk = F.concat(
        F.lpad((F.lit(9999) - F.col("stop_ratio_q")).cast("string"), 4, "0"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0"),
    )
    return (
        member.join(qual, "doc_id")
        .withColumn("bk", bk)
        .groupBy("cluster")
        .agg(F.count("*").alias("n_members"), F.min("bk").alias("best"))
        .select(
            "cluster",
            "n_members",
            F.substring("best", 5, 8).cast("long").alias("keep_doc"),
            (F.lit(9999) - F.substring("best", 1, 4).cast("long")).alias("keep_score"),
        )
    )


def _sql_keep_best() -> str:
    star = SQL_DEDUP_STAR_EDGES.strip()
    quality = SQL_TEXT_QUALITY.strip()
    return f"""
WITH RECURSIVE base AS ({star}),
pairs AS (SELECT doc_a, doc_b FROM base WHERE j_q >= {CLUSTER_JQ_MIN}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON r.id = e.s
),
cl AS (SELECT id AS doc_id, min(label) AS cluster FROM reach GROUP BY id),
scope AS (
  SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
  FROM (SELECT doc_id FROM documents WHERE doc_id < 60) d
  LEFT JOIN cl ON d.doc_id = cl.doc_id
),
q AS ({quality}),
s AS (
  SELECT scope.cluster, scope.doc_id,
         lpad(CAST(9999 - q.stop_ratio_q AS VARCHAR), 4, '0')
           || lpad(CAST(scope.doc_id AS VARCHAR), 8, '0') AS bk
  FROM scope JOIN q ON scope.doc_id = q.doc_id
)
SELECT cluster, count(*) AS n_members,
       CAST(substr(min(bk), 5, 8) AS BIGINT) AS keep_doc,
       CAST(9999 - CAST(substr(min(bk), 1, 4) AS BIGINT) AS BIGINT) AS keep_score
FROM s GROUP BY cluster
"""


SQL_DEDUP_KEEP_BEST = _sql_keep_best()


# ---------------------------------------------------------------------------
# extraction pipeline demos (rows-only: inputs are the synthetic corpus)
# ---------------------------------------------------------------------------

_CORPUS_MIN_DOCS = 200


def _corpus_docs(spark, d) -> int:
    """SF-proportional corpus size: one synthetic doc per ``documents`` row
    of the sf dir, floor 200. A single parquet file answers from its footer
    with no Spark job; a directory takes a Spark count."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    path = f"{d}/documents.parquet"
    if os.path.isfile(path):
        return max(pq.ParquetFile(path).metadata.num_rows, _CORPUS_MIN_DOCS)
    return max(int(spark.read.parquet(path).count()), _CORPUS_MIN_DOCS)


def _corpus_df(spark, d):
    """The extraction-family input corpus, synthesized ON THE EXECUTORS
    (data.distributed_corpus_df, per-doc seeded — identical under any
    partitioning) and sized by the sf dir, adversarial docs included. The
    registry queries therefore exercise the same corpus path a real-scale
    run uses; nothing is materialized on the driver."""
    from tika_wrap_spark.data import distributed_corpus_df  # noqa: PLC0415

    return distributed_corpus_df(
        spark, _corpus_docs(spark, d), seed=42, adversarial=True
    )


# the modules whose source decides the store's rows: editing any of them
# (a fix in a rare-kind parser included) moves the key and rebuilds the store
_STORE_SOURCES = (
    "core/*.py", "corpus.py", "data.py", "pipeline.py", "schemas.py",
    "catalog.py", "operators/extract_ops.py", "operators/skew.py",
)


def _store_source_digest() -> str:
    """md5 over the ``_STORE_SOURCES`` files, read once per process."""
    memo = proc_memo("extract_store_sources")
    if "md5" not in memo:
        root = Path(__file__).parent
        h = hashlib.md5()
        for pattern in _STORE_SOURCES:
            for path in sorted(root.glob(pattern)):
                h.update(path.relative_to(root).as_posix().encode() + b"\0")
                h.update(path.read_bytes())
        memo["md5"] = h.hexdigest()
    return memo["md5"]


def _extract_store_key(n_docs: int) -> str:
    """Content key for the shared extracted store: a hash of the source
    bytes of the modules that produce its rows plus n_docs and the
    adversarial count."""
    from tika_wrap_spark.corpus import N_ADVERSARIAL  # noqa: PLC0415

    key = "%s|%d|%d" % (_store_source_digest(), n_docs, N_ADVERSARIAL)
    return hashlib.md5(key.encode()).hexdigest()[:16]


def _extracted_df(spark, d):
    """Extract-ONCE store for the route/observability tallies: at 100 TB
    you extract into a sink once (`pipeline.run_extraction` — dynamic
    partition overwrite, resumable) and run every downstream tally off the
    consistent read (`read_extracted` — partition-pruned, shuffle-free),
    instead of re-running extraction per query. The first caller per
    (corpus size, content key) builds the store under the system temp dir;
    later callers get the pruned scan. Crash-safe: the store is complete
    once lineage commits every part (run_extraction commits a row for each
    part, empty ones included, after its data lands), and run_extraction
    itself resumes any partial store. The live-extraction
    benchmarks (`extract_pipeline`, `container_extract`, `fixture_verify`)
    deliberately do NOT use this — they measure extraction itself."""
    import tempfile  # noqa: PLC0415
    import time  # noqa: PLC0415

    from tika_wrap_spark import pipeline  # noqa: PLC0415

    n = _corpus_docs(spark, d)
    # ~64 docs a part; stable per store, since n is in the store key
    parts = range(min(64, max(1, n // 64)))
    out = os.path.join(
        tempfile.gettempdir(), "tws_extract_store_%s" % _extract_store_key(n)
    )
    if not pipeline.committed_parts(spark, out).issuperset(parts):
        # cross-process guard: one builder at a time (the driver runs
        # queries sequentially — this only matters for concurrent dev
        # sessions). mkdir is atomic; a second process waits for the lock
        # to go, then checks lineage again, and resumes the (idempotent)
        # build if the first builder died and left its work or a stale
        # lock behind. A build takes well under 3 min.
        lock = out + ".lock"
        try:
            os.mkdir(lock)
            owner = True
        except FileExistsError:
            owner = False
            for _ in range(180):
                if not os.path.exists(lock):
                    break
                time.sleep(1)
        try:
            if not pipeline.committed_parts(spark, out).issuperset(parts):
                # the build reads its corpus twice (snapshot hash,
                # extraction): persist it so it is synthesized once, unless
                # the caller's frame is already cached (then it is theirs
                # to unpersist)
                corpus = _corpus_df(spark, d)
                own_cache = corpus.storageLevel == StorageLevel.NONE
                if own_cache:
                    corpus.persist()
                try:
                    pipeline.run_extraction(spark, corpus, out, parts=len(parts))
                finally:
                    if own_cache:
                        corpus.unpersist()
        finally:
            if owner:
                try:
                    os.rmdir(lock)
                except OSError:
                    pass
    return pipeline.read_extracted(spark, out)


def q_extract_pipeline(spark, d):
    """Flagship: full sniff->route->extract->assemble over the synthetic
    corpus; per-doc status + order-sensitive span-sequence hash."""
    from tika_wrap_spark.pipeline import extract_in_memory  # noqa: PLC0415

    from tika_wrap_spark import functions as tw  # noqa: PLC0415

    ext = extract_in_memory(spark, _corpus_df(spark, d))
    return ext.select(
        "doc_id",
        "parse_ok",
        "error",
        F.size("spans").alias("n_spans"),
        tw.span_seq_hash("spans").alias("span_seq_hash"),
    )


def q_container_extract(spark, d):
    """Recursive container (zip-analog) extraction: raw TWC1 archives in the
    corpus flatten into ordered child spans (nested archives recurse, media
    members get zip:// back-pointers), malformed archives become
    parse_ok=false rows. The reference's own TODO
    (/root/reference/README.md:25; zip smoke inputs example/demo1.cpp:48-49)."""
    from tika_wrap_spark.pipeline import extract_in_memory  # noqa: PLC0415

    from tika_wrap_spark import functions as tw  # noqa: PLC0415

    ext = extract_in_memory(spark, _corpus_df(spark, d))
    zip_refs = F.size(
        F.filter("spans", lambda s: s["media_ref"].startswith("zip://"))
    )
    # try_element_at: failed docs carry meta={} (ANSI element_at would raise)
    return ext.filter(
        ~_meta_at("n_containers").isin("", "0") | F.col("error").contains("container")
    ).select(
        "doc_id",
        "parse_ok",
        "error",
        _meta_at("n_containers").alias("n_containers"),
        _meta_at("n_container_entries").alias("n_entries"),
        _meta_at("container_depth").alias("depth"),
        zip_refs.alias("n_zip_media_refs"),
        F.size("spans").alias("n_spans"),
        tw.span_seq_hash("spans").alias("span_seq_hash"),
    )


def q_error_taxonomy(spark, d):
    """Operational error observability: parse failures tallied by CLASS
    (timeout / bomb / container / archive / pdf / rtf / eml / ole / html /
    internal / other)
    — the monitoring view a 10^12-doc run pages on. Pure when-chain over
    the error string + partial-agg count; the reference exposes only a
    per-doc bool (src/java-env.h:17), this is its production-grade
    upgrade. The ``bomb`` class (r4) counts decompression-cap hits — the
    adversarial corpus plants one 65-MiB bomb per wrapper so the cap is
    continuously exercised, and it must register HERE, never as a task
    failure."""
    ext = _extracted_df(spark, d)
    cls = _error_class_col()
    return (
        ext.groupBy(cls.alias("error_class"))
        .agg(F.count("*").alias("n_docs"))
    )


def _error_class_col():
    """The first-match chain mapping an extraction error string to its
    monitoring class, generated from ``formats.FORMATS`` between the
    fixed timeout/bomb head and internal/other tail — shared by
    q_error_taxonomy and the soak tool (single source)."""
    err = F.col("error")
    chain = (
        F.when(F.col("parse_ok"), F.lit("ok"))
        .when(err.startswith("timeout:"), F.lit("timeout"))
        .when(
            err.contains("inflated payload exceeds") | err.contains("exceeds cap"),
            F.lit("bomb"),
        )
    )
    for cls, prefixes, needles in fm.error_classes():
        conds = [err.startswith(p) for p in prefixes] + [err.contains(n) for n in needles]
        chain = chain.when(functools.reduce(operator.or_, conds), F.lit(cls))
    return chain.when(err.startswith("internal:"), F.lit("internal")).otherwise(
        F.lit("other")
    )


def q_fixture_verify(spark, d):
    """north_star verification as a DISTRIBUTED operator end to end: the
    golden span sequences are generated ON THE EXECUTORS (same per-doc-
    seeded pure core, data.distributed_golden_df) and aligned with the
    Spark pipeline's output per doc_id via cogroup().applyInPandas — no
    driver collect and no driver-side fixture list, so the verification
    itself scales with the corpus. Output: per-doc match row; the pipeline
    is correct iff every seq_match is true."""
    from tika_wrap_spark.data import distributed_golden_df  # noqa: PLC0415
    from tika_wrap_spark.operators.extract_ops import verify_against_golden  # noqa: PLC0415
    from tika_wrap_spark.pipeline import extract_in_memory  # noqa: PLC0415

    n = _corpus_docs(spark, d)
    golden = distributed_golden_df(spark, n, seed=42, adversarial=True)
    actual = extract_in_memory(spark, _corpus_df(spark, d)).select("doc_id", "spans")
    return verify_against_golden(golden, actual)


def q_sniff_route(spark, d):
    """Per-span content sniffing (the JVM ``when`` chain) + route tallies."""
    return (
        sniffed_spans(_corpus_df(spark, d))
        .groupBy("kind")
        .agg(F.count("*").alias("n_spans"), F.countDistinct("doc_id").alias("n_docs"))
    )


def q_media_decode(spark, d):
    """Multimodal stub plumbing: media spans -> binary payloads ->
    mapInPandas decode -> typed metadata."""
    ext = _extracted_df(spark, d)
    return decode_media(media_payloads(ext), num_partitions=8)


def q_media_resize(spark, d):
    """Multimodal resize plumbing: binary in -> resized binary out, summary
    counts (binary column itself isn't oracle-comparable)."""
    from tika_wrap_spark.operators.multimodal import resize_media  # noqa: PLC0415
    ext = _extracted_df(spark, d)
    r = resize_media(media_payloads(ext), 224, 224)
    return r.select(
        "media_ref", "out_width", "out_height", F.length("resized").alias("n_bytes")
    )


def q_media_embed_ann(spark, d):
    """End-to-end multimodal -> similarity bridge: media payloads ->
    embeddings (REAL pixel grayscale-grid features for BMP/PNG, encoder-
    seam stub for compressed formats) -> quantize -> LSH bucket stats.
    Exercises the full typed array<float> flow the ANN operators consume."""
    from tika_wrap_spark.operators.multimodal import embed_media  # noqa: PLC0415
    ext = _extracted_df(spark, d)
    emb = embed_media(media_payloads(ext))
    b = sim.lsh_bucket(emb, n_planes=4)
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_media"),
        F.min("media_ref").alias("first_ref"),
    )


def q_media_frames(spark, d):
    """Video frame sampling: 1:N flatMap shape, one row per sampled frame."""
    from tika_wrap_spark.operators.multimodal import frame_sample  # noqa: PLC0415
    ext = _extracted_df(spark, d)
    return frame_sample(media_payloads(ext))


def q_charset_stats(spark, d):
    """Charset-detection observability (r5): the AutoDetectReader analog —
    per detected codec, how many docs transcoded and how many went through
    a post-decode re-route (a BOM'd UTF-16 html file sniffs text-family on
    the wire, then routes html once decoded; core/charset.py ladder:
    BOM > NUL-interleave UTF-16 > strict multibyte UTF-8 > confidence-gated
    Shift-JIS/GBK). The reference inherits this from Tika's text parse path
    (/root/reference/src/java-env.cpp:313)."""
    ext = _extracted_df(spark, d)
    return (
        ext.filter(_meta_at("charset") != "")
        .select(
            _meta_at("charset").alias("charset"),
            _meta_at("n_transcoded").cast("int").alias("n_transcoded"),
            # re-route evidence: the decoded payload sniffed non-text
            (~F.split(_meta_at("kinds"), ",").getItem(0).isin("text", "csv", "json"))
            .cast("int")
            .alias("rerouted"),
        )
        .groupBy("charset")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_transcoded").alias("n_transcoded"),
            F.sum("rerouted").alias("n_rerouted"),
        )
    )



def _meta_at(key: str):
    """A meta value as a string column, '' when the key is absent."""
    return F.coalesce(F.try_element_at("meta", F.lit(key)), F.lit(""))


def _in_store(f: fm.Format):
    """The store rows of format ``f``: its container_format values or
    prefix, a ``kinds`` entry, its marker meta key, or one of its error
    prefixes."""
    cf = _meta_at("container_format")
    kinds = F.split(_meta_at("kinds"), ",")
    conds = [cf.isin(*f.formats)] if f.formats else []
    conds += [cf.startswith(f.format_prefix)] if f.format_prefix else []
    conds += [F.array_contains(kinds, k) for k in f.kinds]
    conds += [_meta_at(f.meta_key) != ""] if f.meta_key else []
    conds += [F.col("error").startswith(p + ":") for p in f.prefixes]
    return functools.reduce(operator.or_, conds)


def _tally_col(kind: str, key: str):
    """One column of the formats.py tally vocabulary."""
    from tika_wrap_spark import functions as tw  # noqa: PLC0415

    if kind == "parse_ok":
        return F.col("parse_ok")
    if kind == "n_spans":
        return F.size("spans")
    if kind == "span_seq_hash":
        return tw.span_seq_hash("spans")
    if kind == "int":  # un-coalesced: NULL-safe on failed rows under ANSI
        return F.try_element_at("meta", F.lit(key)).cast("int")
    v = _meta_at(key)
    if kind == "count":
        return F.when(v == "", 0).otherwise(F.size(F.split(v, ",")))
    if kind == "flag":
        return (v != "").cast("int")
    return v  # str


def route_tally(name: str):
    """The registry entry ``<name>_route``: one pruned scan of the
    extract-once store keeping format ``name``'s rows (formats.py), one
    row per document: doc_id, then the format's tally columns. Malformed
    inputs show up as parse_ok=false rows under the format's error
    prefixes, never as task failures."""
    f = fm.BY_NAME[name]

    def q(spark, d):
        return (
            _extracted_df(spark, d)
            .filter(_in_store(f))
            .select(
                "doc_id", *[_tally_col(k, key).alias(a) for a, k, key in fm.columns(f)]
            )
        )

    return q

def q_xml_route(spark, d):
    """XML subkind tallies (continuation r5): the root element of the
    first xml payload — the signal Tika's XML detectors read to refine
    application/xml into image/svg+xml / application/rss+xml /
    application/atom+xml before the generic parse (the reference reaches
    those detectors through QMimeDatabase + Tika,
    /root/reference/src/java-env.cpp:233-242) — surfaced as the
    ``xml_root`` meta key and tallied per root over the extract-once
    store. One pruned scan + one partial-aggregable groupBy."""
    ext = _extracted_df(spark, d)
    return (
        ext.filter(_in_store(fm.BY_NAME["xml"]))
        .groupBy(_meta_at("xml_root").alias("xml_root"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("spans")).cast("long").alias("n_spans"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def q_pdf_security_stats(spark, d):
    """Encrypted-PDF observability (late r5): per crypt method — rc4
    (V1/V2 40-128 bit), aesv2 (/V 4 crypt filter), aesv3 (/V 5 R 6
    AES-256) — how many docs opened transparently with the empty user
    password, plus the password-locked rejects ('locked'). The reference
    inherits every one of these from Tika's PDFBox security handlers
    (/root/reference/src/java-env.cpp:313); core/pdfbin.py implements
    them natively (core/aes.py FIPS-197 AES underneath)."""
    ext = _extracted_df(spark, d)
    crypt = (
        F.when(F.col("error").startswith("pdf: encrypted"), F.lit("locked"))
        .otherwise(_meta_at("pdf_crypt"))
    )
    return (
        ext.select(crypt.alias("crypt"), F.col("parse_ok").cast("int").alias("ok"))
        .filter(F.col("crypt") != "")
        .groupBy("crypt")
        .agg(F.count("*").alias("n_docs"), F.sum("ok").alias("n_opened"))
    )


def q_pdf_meta_stats(spark, d):
    """PDF structure-metadata observability (final r5): tallies of docs
    carrying an XMP dc:title (`pdf_title`) and/or a document outline
    (`pdf_outline` — the /Outlines bookmark walk, PDF 32000-1 §12.3.3;
    Tika surfaces both as metadata, never body text). Rows: one per
    (has_title, has_outline) combination with doc and total-bookmark
    counts — pins the whole builder → corpus → executor-extraction →
    meta path for the structure surfaces. Same shape as
    `pdf_security_stats`: one fused extraction, one partial-aggregable
    groupBy."""
    ext = _extracted_df(spark, d)
    outline = _meta_at("pdf_outline")
    return (
        ext.filter(F.col("parse_ok"))
        .select(
            (_meta_at("pdf_title") != "").cast("int").alias("has_title"),
            (outline != "").cast("int").alias("has_outline"),
            F.when(outline == "", F.lit(0))
            .otherwise(F.size(F.split(outline, " / ")))
            .alias("n_bookmarks"),
        )
        .filter((F.col("has_title") == 1) | (F.col("has_outline") == 1))
        .groupBy("has_title", "has_outline")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bookmarks").cast("long").alias("n_bookmarks"),
        )
    )


def q_exif_meta(spark, d):
    """EXIF metadata surface (r5): JPEG APP1/TIFF-IFD walk
    (core/exifbin.py — the exiftool runtime dep the reference declares,
    /root/reference/README.md:19) riding the multimodal decode; per-
    orientation tallies + timestamped-media counts."""
    from tika_wrap_spark.operators.multimodal import decode_media  # noqa: PLC0415
    ext = _extracted_df(spark, d)
    dec = decode_media(media_payloads(ext), num_partitions=8)
    return (
        dec.filter(F.col("media_kind") == "image")
        .groupBy("exif_orientation")
        .agg(
            F.count("*").alias("n_images"),
            F.sum((F.col("exif_datetime") != "").cast("int")).alias("n_dated"),
            F.min("media_ref").alias("first_ref"),
        )
    )

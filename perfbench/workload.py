"""The benchmark's workloads: set-up, the timed window, the correctness
checks, and the layer probes of the traced run.

Every workload runs the same cycle, so every end-to-end metric is
measured on every workload:

1. set-up: Spark session; the workload's corpus generated on the executors
   and cached; the registry's store corpus (seed 42, sized by the sf dir,
   adversarials included) cached;
2. timed window: the first store query, whose build of the registry's
   extract-once store is the timed store write; then a closed loop, one
   client, of rounds, each one extraction pass over the cached corpus, one
   no-op resume of the store and one call of each panel query, at least
   MIN_ROUNDS rounds and until ``--seconds`` have passed; the first
   WARMUP_ROUNDS rounds are warm-up, left out of the metrics. Interleaving
   spreads every metric's samples over the whole window, so a burst of
   load from other tenants of the host moves each metric a little instead
   of one metric a lot;
3. correctness checks (untimed);
4. traced run only: layer probes.
"""

from __future__ import annotations

import hashlib
import json
import itertools
import math
import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from statistics import median

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark import cloudpickle
from pyspark.sql import functions as F

from perfbench.probes import SparkStatus, TreeSampler, cpu_ticks, sample_tree, steal_share
from perfbench.tracer import Tracer, covered

# Store-backed registry queries: every registry entry that reads
# ``queries_training._extracted_df``, in registry order. All must exist.
STORE_QUERIES = (
    "parquet_route", "avro_route", "xps_route", "cab_route", "iso_route",
    "lzma_route", "zstd_route", "rar_route", "sevenz_route", "midi_route",
    "lz4_route", "dbf_route", "tnef_route", "xml_route", "z_route",
    "ar_route", "cpio_route", "warc_route", "mbox_route", "plist_route",
    "sqlite_route", "font_route", "pdf_security_stats", "pdf_attach_route",
    "pdf_meta_stats", "charset_stats", "ole_route", "odf_route",
    "ical_route", "exif_meta", "error_taxonomy", "media_embed_ann",
    "media_decode", "media_resize", "media_frames",
)

# Document classes of the pure-core profile; a doc's class is its single
# span's kind hint, or ``interleaved`` for multi-span docs.
CLASSES = ("pdf", "interleaved", "html", "text", "zip", "eml", "ole", "other")

# Rows of the sf dir's documents table: the registry sizes its store by it
# (floor 200), so the store holds 200 seed-42 docs plus the adversarials.
SF_DOCS = 200

# The store queries the window samples, chosen from one timing of all of
# STORE_QUERIES (README.md): the query at the registry's median latency (a
# filter+groupBy tally) and the one at its 90th percentile (a media decode).
# tally_p50_s and tally_p90_s are their median latencies. The first call of
# the first builds the registry's store.
P50_QUERY = "pdf_security_stats"
P90_QUERY = "media_decode"
QUERY_PANEL = (P50_QUERY, P90_QUERY)

# Least rounds of the window (each: one pass, one resume, one call of each
# panel query); rounds go on while the window is shorter than ``--seconds``.
MIN_ROUNDS = 3
# The first round runs cold paths (the first pass over the cached corpus,
# the first no-op resume plan, the first query calls that do not build the
# store): on mix-extract, seeds 1-5, its resume and queries took a median
# 25% longer than the third round's, and on web-extract its pass 28%
# longer, after a warm pass. It is warm-up, left out of every metric.
WARMUP_ROUNDS = 1
# A sample is left out of its metric when the hypervisor withheld more than
# this share of the VM's CPU time while it ran (when every measured sample
# did, the one with the least steal is kept). Steal stayed near 1% in quiet
# runs; in a web-extract run with 17.5% steal the no-op resume took 3.9 s
# against 1.8 s, and within runs it comes and goes in bursts.
STEAL_MAX = 0.03

# ``corpus.gen_doc`` makes a doc a giant PDF (~100x the median payload)
# when the first draw of its own generator is below 1/GIANT_EVERY. A giant
# costs the pure core 34 ms on average, up to 0.44 s, and giants take ~57%
# of the mix's core CPU, so at 3,000 docs the seed alone moved the mix's
# core time by an IQR of about half its median (seeds 1-10). The mix
# therefore pins its giant tail: every GIANT_EVERY-th doc is the next giant
# of GIANT_SEED, and the others are the seed's own non-giant docs in order.
GIANT_EVERY = 100
GIANT_SEED = 42

SPAN_SAMPLE = 48  # ~docs whose span_seq_hash is checked against the pure core
CORE_SAMPLE = 1000  # seeded mix docs timed through the pure core (traced run)
PROBE_REPS = 2  # exchange-only and crossing-only jobs (traced run)
OVERHEAD_PAIRS = 2  # untraced/traced pass pairs for the tracing overhead


# Span-name prefixes of the real layers of a timed pass: the plan build,
# Spark SQL's execution of the action (planning, adaptive re-planning and
# its jobs), and Spark's jobs and stages. The action's own span is a
# wrapper, so time that none of these accounts for lowers the pass coverage.
REAL_LAYERS = ("pipeline.extract_in_memory", "spark.sql", "spark.job", "spark.stage.")


@dataclass(frozen=True)
class Workload:
    name: str
    gen_docs: int  # docs generated on the executors
    web_only: bool  # keep single-span text/html docs (filtered JVM-side)
    copies: int  # each kept doc is extracted this many times, under new ids
    pin_giants: bool  # giant PDFs from GIANT_SEED, 1 in GIANT_EVERY docs


# Generation costs more than extraction (~9x for web docs), so a pass
# extracts each generated doc ``copies`` times.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("mix-extract", 3000, False, 2, True),  # 6,000 docs a pass
        Workload("web-extract", 3000, True, 8, False),  # ~13,000 docs a pass
    )
}


def is_giant(i: int, seed: int) -> bool:
    """Whether ``corpus.gen_doc(i, seed)`` is a giant PDF."""
    return random.Random("%d:%09d" % (seed, i)).random() < 1 / GIANT_EVERY


def sources(w: Workload, seed: int) -> list[tuple[int, int]]:
    """The ``gen_doc`` (index, seed) of each generated doc, by position."""
    if not w.pin_giants:
        return [(i, seed) for i in range(w.gen_docs)]
    giants = (j for j in itertools.count() if is_giant(j, GIANT_SEED))
    rest = (i for i in itertools.count() if not is_giant(i, seed))
    return [
        (next(giants), GIANT_SEED) if k % GIANT_EVERY == GIANT_EVERY // 2 else (next(rest), seed)
        for k in range(w.gen_docs)
    ]


def corpus_df(spark, srcs: list[tuple[int, int]], num_partitions: int):
    """``gen_doc`` of each source, generated on the executors as
    ``data.distributed_corpus_df`` does; the doc at position k is
    ``doc_<k>``."""
    from tika_wrap_spark.corpus import gen_doc
    from tika_wrap_spark.portability import make_portable
    from tika_wrap_spark.schemas import CORPUS_SCHEMA

    make_portable()

    def gen(batches):
        for pdf in batches:
            ks = [int(k) for k in pdf["id"]]
            yield pd.DataFrame({
                "doc_id": ["doc_%07d" % k for k in ks],
                "spans": [gen_doc(*srcs[k])["spans"] for k in ks],
            })

    return spark.range(0, len(srcs), numPartitions=num_partitions).mapInPandas(
        gen, schema=CORPUS_SCHEMA
    )


def doc_class(spans: list[dict]) -> str:
    if len(spans) > 1:
        return "interleaved"
    kind = spans[0]["kind"] if spans else "other"
    return kind if kind in CLASSES else "other"


def is_web(spans: list[dict]) -> bool:
    return len(spans) == 1 and spans[0]["kind"] in ("text", "html")


def is_web_col():
    """``is_web`` as a JVM-side column over the corpus."""
    return (F.size("spans") == 1) & F.col("spans")[0]["kind"].isin("text", "html")


def base_index(doc_id: str) -> int:
    """Position of a doc id among the generated docs; a copy's id is
    ``doc_NNNNNNN.<copy>``."""
    return int(doc_id[4:11])


def with_copies(df, copies: int):
    """Every row ``copies`` times, copy ``c > 0`` under the id
    ``<doc_id>.<c>``. One pass over ``df``, so generation runs once."""
    rep = df.withColumn("copy", F.explode(F.sequence(F.lit(0), F.lit(copies - 1))))
    doc_id = F.when(F.col("copy") == 0, F.col("doc_id")).otherwise(
        F.format_string("%s.%d", F.col("doc_id"), F.col("copy"))
    )
    return rep.select(doc_id.alias("doc_id"), "spans")


def core_adversarial(base: int) -> list[tuple[str, dict]]:
    """The pure core's results for the adversarial rows planted after
    ``base`` docs."""
    from tika_wrap_spark.corpus import adversarial_rows
    from tika_wrap_spark.core.extract import extract_document

    return [(r["doc_id"], extract_document(r["spans"])) for r in adversarial_rows(base)]


def pass_coverage(tr: Tracer, pass_span) -> float:
    """Share of a pass's wall covered by the union of its real-layer spans
    (REAL_LAYERS), clipped to the pass."""
    layers = [
        (s.start, s.end) for s in tr.subtree(pass_span)[1:] if s.name.startswith(REAL_LAYERS)
    ]
    return covered(layers, pass_span.start, pass_span.end) / pass_span.dur


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows; floats are compared to
    12 significant digits, since partial aggregates may sum in another
    order."""

    def norm(v):
        if isinstance(v, float):
            return float("%.12g" % v) if math.isfinite(v) else repr(v)
        if isinstance(v, dict):
            return {str(k): norm(x) for k, x in v.items()}
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        if isinstance(v, (bytes, bytearray)):
            return hashlib.md5(v).hexdigest()
        return v

    lines = sorted(
        json.dumps(norm(r.asDict(recursive=True)), sort_keys=True, default=str)
        for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def fmt(walls: list[float]) -> list[str]:
    return ["%.2f" % w for w in walls]


def row_hash(df):
    """Hash of an extracted row's spans, status, error and meta."""
    return F.xxhash64(
        df["spans"], df["parse_ok"], df["error"], F.array_sort(F.map_entries(df["meta"]))
    )


def _identity_batches(batches):
    """The extraction schema's shape with no parsing: the Arrow crossing
    in and out of a Python worker and nothing else."""
    for pdf in batches:
        n = len(pdf)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "spans": pdf["spans"],
                "parse_ok": [True] * n,
                "error": [""] * n,
                "meta": [{}] * n,
            }
        )


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: Workload, seed: int, seconds: float, trace: bool,
                 tmp: str, cores: int, driver_memory: str, log) -> None:
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp = tmp
        self.cores = cores
        self.driver_memory = driver_memory
        self.log = log
        self.tracer = Tracer(enabled=trace)
        self.sampler = TreeSampler(os.getpid())
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.info: dict = {}
        self.spark = None
        self.sources = sources(workload, seed)
        # workers unpickle the identity crossing function without importing
        # this package
        cloudpickle.register_pickle_by_value(sys.modules[__name__])

    # -- bookkeeping ---------------------------------------------------------

    def ops(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.failures.append("%s: %d of %d failed" % (what, failed, attempted))
            self.log("FAIL " + self.failures[-1])

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    # -- set-up --------------------------------------------------------------

    def setup(self) -> None:
        from tika_wrap_spark import registry
        from tika_wrap_spark import session as sess

        tr = self.tracer
        self.sampler.start()
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.get_spark"):
                self.spark = sess.get_spark(
                    master="local[%d]" % self.cores,
                    app_name="perfbench",
                    driver_memory=self.driver_memory,
                )
                self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            self.status = SparkStatus(self.spark)
            self.install_wrappers()
            self.queries = registry.spark_queries()
            missing = [q for q in STORE_QUERIES if q not in self.queries]
            if missing:
                raise RuntimeError("store queries missing from the registry: %s" % missing)
            self.sf = os.path.join(self.tmp, "sf")
            os.makedirs(self.sf)
            pq.write_table(
                pa.table({"doc_id": list(range(SF_DOCS))}),
                os.path.join(self.sf, "documents.parquet"),
            )

            # Beside the corpus generation: the checks' pure-core side, in
            # this process, and the registry's store corpus (seed 42, sized
            # by the sf dir, adversarials included), cached so the timed
            # store write and resumes do not generate it. Its job takes
            # the cores the generation's last tasks leave idle.
            with ThreadPoolExecutor(max_workers=2) as pool:
                core_adv = pool.submit(core_adversarial, SF_DOCS)
                store_corpus = pool.submit(self.cache_store_corpus, tr.current())
                with tr.span("corpus.generate"):
                    self.group("corpus")
                    # one generation task per core: every Python task pays
                    # a worker spawn, and generation is set-up, not the subject
                    corpus = corpus_df(self.spark, self.sources, self.cores)
                    if self.w.web_only:
                        corpus = corpus.filter(is_web_col())
                    self.corpus = with_copies(corpus, self.w.copies).cache()
                    self.n_docs = self.corpus.count()
                t2 = time.perf_counter()
                self.core_adv = core_adv.result()
                store_corpus.result()
        setup_s = time.perf_counter() - t0
        self.put("setup_s", setup_s, "s")
        self.put("session.start_s", t1 - t0, "s")
        self.put("corpus.gen_docs_per_s", self.w.gen_docs / (t2 - t1), "docs/s")
        self.info.update(docs=self.n_docs, setup_s=setup_s)

    def cache_store_corpus(self, parent: int | None) -> None:
        from tika_wrap_spark import queries_training as qt

        with self.tracer.span("store.corpus", parent):
            self.group("store-corpus")
            self.store_corpus = qt._corpus_df(self.spark, self.sf).cache()
            self.n_store = self.store_corpus.count()

    def set_tracing(self, on: bool) -> None:
        self.tracer.enabled = on
        if on:
            self.install_wrappers()
        else:
            self.tracer.unwrap_all()

    def install_wrappers(self) -> None:
        """Traced run: spans around the package functions each layer is
        entered through."""
        from tika_wrap_spark import catalog, pipeline
        from tika_wrap_spark import queries_training as qt

        wrap = self.tracer.wrap
        wrap(pipeline, "run_extraction", "pipeline.run_extraction")
        wrap(pipeline, "read_extracted", "pipeline.read_extracted")
        wrap(pipeline, "read_lineage", "pipeline.read_lineage")
        wrap(pipeline, "lineage_for_run", "pipeline.lineage_for_run")
        wrap(pipeline, "salt_repartition", "skew.salt_repartition")
        wrap(pipeline, "extract_spans", "extract_ops.extract_spans")
        wrap(catalog, "overwrite_partitions", "catalog.overwrite_partitions")
        wrap(catalog, "append_table", "catalog.append_table")
        wrap(catalog, "input_snapshot_id", "catalog.input_snapshot_id")
        wrap(qt, "_extracted_df", "queries_training.extracted_df")
        wrap(qt, "_extract_store_key", "queries_training.store_key")

    # -- operations ----------------------------------------------------------

    def extract_pass(self, group: str) -> float:
        from tika_wrap_spark import pipeline

        self.group(group)
        with self.tracer.span("pass"):
            t0 = time.perf_counter()
            with self.tracer.span("pipeline.extract_in_memory"):
                df = pipeline.extract_in_memory(self.spark, self.corpus)
            with self.tracer.span("spark.count"):
                n = df.count()
            wall = time.perf_counter() - t0
        self.ops(self.n_docs, abs(self.n_docs - n), "extraction pass docs out")
        return wall

    def query(self, name: str) -> tuple[float, str | None]:
        t0 = time.perf_counter()
        try:
            with self.tracer.span("query." + name):
                rows = self.queries[name](self.spark, self.sf).collect()
        except Exception as exc:  # a query that raised is a failed operation
            self.log("query %s raised: %r" % (name, exc))
            self.ops(1, 1, "query " + name)
            return time.perf_counter() - t0, None
        self.ops(1, 0, "query")
        return time.perf_counter() - t0, rows_digest(rows)

    # -- timed window --------------------------------------------------------

    def measure(self) -> None:
        from tika_wrap_spark import pipeline
        from tika_wrap_spark import queries_training as qt

        tr = self.tracer
        start = time.perf_counter()
        elapsed = lambda: time.perf_counter() - start  # noqa: E731
        self.sampler.reset()

        # The first panel query builds the registry's store from the cached
        # store corpus: its run_extraction call into a fresh store dir is
        # the timed store write, and its arguments are kept for the resumes
        # and the checks.
        self.group("store-write")
        calls = []
        build, corpus_of = pipeline.run_extraction, qt._corpus_df

        def timed(*args, **kwargs):
            with tr.span("store.write"):
                t0 = time.perf_counter()
                out = build(*args, **kwargs)
                calls.append((args, kwargs, time.perf_counter() - t0))
            return out

        pipeline.run_extraction = timed
        qt._corpus_df = lambda spark, d: self.store_corpus
        try:
            self.digests = {QUERY_PANEL[0]: [self.query(QUERY_PANEL[0])[1]]}
        finally:
            pipeline.run_extraction, qt._corpus_df = build, corpus_of
        if len(calls) != 1:
            raise RuntimeError("the first store query ran %d store builds, not 1" % len(calls))
        self.store_args, self.store_kwargs, write_s = calls[0]
        self.store_dir = self.store_args[2]

        # Closed loop, one client: rounds of one extraction pass, one no-op
        # resume of the store and one call of each panel query. Each sample
        # keeps the share of CPU time the hypervisor withheld while it ran.
        self.pass_groups = []
        self.walls: dict[str, list[float]] = {}
        self.steal: dict[str, list[float]] = {}

        def record(key: str, wall: float, ticks0: list[int]) -> None:
            self.walls.setdefault(key, []).append(wall)
            self.steal.setdefault(key, []).append(steal_share(ticks0, cpu_ticks()))

        cpu = {"jvm": 0.0, "python": 0.0}
        gc_s = 0.0
        rounds = 0
        # memory peaks by role over the window, and of the tree per round
        self.window_rss, round_peaks = dict(self.sampler.peak), []
        while rounds < MIN_ROUNDS or elapsed() < self.seconds:
            self.sampler.reset()
            g = "pass-%d" % rounds
            cpu0, gc0, ticks0 = sample_tree(os.getpid()), self.status.gc_s(), cpu_ticks()
            wall = self.extract_pass(g)
            record("pass", wall, ticks0)
            cpu1, gc1 = sample_tree(os.getpid()), self.status.gc_s()
            if rounds >= WARMUP_ROUNDS:
                gc_s += gc1 - gc0
                for r in cpu:
                    cpu[r] += cpu1.cpu.get(r, 0) - cpu0.cpu.get(r, 0)
            self.pass_groups.append(g)
            self.group("store-resume-%d" % rounds)
            ticks0 = cpu_ticks()
            with tr.span("store.resume"):
                t0 = time.perf_counter()
                pipeline.run_extraction(*self.store_args, **self.store_kwargs)
                wall = time.perf_counter() - t0
            record("resume", wall, ticks0)
            for name in QUERY_PANEL:
                ticks0 = cpu_ticks()
                wall, digest = self.query(name)
                record("query." + name, wall, ticks0)
                self.digests.setdefault(name, []).append(digest)
            round_peaks.append(self.sampler.peak_total / 2**20)
            for role, b in self.sampler.peak.items():
                self.window_rss[role] = max(self.window_rss.get(role, 0), b)
            rounds += 1
        measured = rounds - WARMUP_ROUNDS
        self.pass_gc_s = gc_s / measured
        self.pass_cpu = {r: v / measured for r, v in cpu.items()}
        self.put("extract_docs_per_s", self.n_docs / self.typical("pass"), "docs/s")
        self.put("store_write_docs_per_s", self.n_store / write_s, "docs/s")
        self.put("resume_noop_s", self.typical("resume"), "s")
        self.put("tally_p50_s", self.typical("query." + P50_QUERY), "s")
        self.put("tally_p90_s", self.typical("query." + P90_QUERY), "s")
        # The set-up overlaps two job chains, so its peak depends on how
        # they interleave; the peak is taken per measured round instead.
        # Python workers' memory briefly doubles in about one run in eight,
        # so the metric is the median of the rounds' peaks.
        self.put("peak_rss_mb", median(round_peaks[WARMUP_ROUNDS:]), "MB")
        self.info.update(
            window_s=elapsed(), rounds=rounds, store_docs=self.n_store,
            peak_mb={k: v >> 20 for k, v in self.window_rss.items()},
            round_peak_mb=round_peaks,
            samples_s={"store_write": write_s, **self.walls},
            samples_steal={k: [round(x, 4) for x in v] for k, v in self.steal.items()},
        )
        self.log("rounds %d: %s" % (rounds, {k: fmt(w) for k, w in self.walls.items()}))

    def typical(self, key: str) -> float:
        """The typical wall of a sampled operation: the median of its
        samples after the warm-up rounds that ran with at most STEAL_MAX
        steal, or, when none did, the one with the least steal."""
        samples = list(zip(self.steal[key], self.walls[key]))[WARMUP_ROUNDS:]
        clean = [wall for steal, wall in samples if steal <= STEAL_MAX]
        return median(clean) if clean else min(samples)[1]

    # -- correctness ---------------------------------------------------------

    def check(self) -> None:
        """All output checks:

        - docs in equal docs out, once each, in the store;
        - no ``parse_ok=false`` row outside the planted adversarials;
        - each adversarial in the error class the pure core gives it, and
          none ``internal``;
        - every store row equals the in-memory extraction of the same
          corpus (spans, status, error and meta);
        - per-doc ``span_seq_hash`` of the workload's corpus equals the
          pure core's on a deterministic sample;
        - each sampled store query returned the same rows every round.
        """
        from tika_wrap_spark import corpus as cp
        from tika_wrap_spark import data, pipeline
        from tika_wrap_spark import functions as tw
        from tika_wrap_spark import queries_training as qt
        from tika_wrap_spark.core.extract import extract_document

        self.group("check")
        r = self.check_store()
        self.ops(r["n_in"], abs(r["n_in"] - r["n"]) + (r["n"] - r["ids"]), "store docs in vs out")
        self.ops(r["n_in"], r["bad"] or 0, "parse_ok=false outside the adversarials")
        self.ops(r["n_in"], r["diff"] or 0, "store rows vs in-memory extraction")

        want_cls = {
            x["doc_id"]: x["cls"]
            for x in self.spark.createDataFrame(
                [(d, res["parse_ok"], res["error"]) for d, res in self.core_adv],
                "doc_id string, parse_ok boolean, error string",
            ).select("doc_id", qt._error_class_col().alias("cls")).collect()
        }
        got_cls = {x["sid"]: x["cls"] for x in r["adv_cls"]}
        classes: dict[str, int] = {}
        for c in got_cls.values():
            classes[c] = classes.get(c, 0) + 1
        self.info["adversarial_classes"] = classes
        bad = sum(got_cls.get(d) != c for d, c in want_cls.items())
        bad += len(set(got_cls) - set(want_cls)) + (r["adv_internal"] or 0)
        self.ops(len(want_cls), bad, "adversarial error classes vs pure core")

        # a deterministic sample of the corpus's first copies
        every = max(self.n_docs // self.w.copies // SPAN_SAMPLE, 1)
        in_sample = F.pmod(F.xxhash64("doc_id"), F.lit(every)) == 0
        sample = self.corpus.filter(~F.col("doc_id").contains(".") & in_sample)
        got = {
            x["doc_id"]: x["seq"]
            for x in pipeline.extract_in_memory(self.spark, sample)
            .select("doc_id", tw.span_seq_hash("spans").alias("seq"))
            .collect()
        }
        expected = [
            {"doc_id": d,
             "spans": extract_document(cp.gen_doc(*self.sources[base_index(d)])["spans"])["spans"]}
            for d in sorted(got)
        ]
        want = {
            x["doc_id"]: x["h"]
            for x in data.corpus_to_df(self.spark, expected)
            .select("doc_id", tw.span_seq_hash("spans").alias("h"))
            .collect()
        } if expected else {}
        bad = sum(got[d] != want[d] for d in got) + (not got)
        self.ops(max(len(got), 1), bad, "span_seq_hash vs pure core")
        self.check_queries()

    def check_store(self):
        """One joined aggregate: the store against an in-memory extraction
        of the corpus it was written from."""
        from tika_wrap_spark import pipeline
        from tika_wrap_spark import queries_training as qt

        mem = pipeline.extract_in_memory(self.spark, self.store_corpus)
        mem = mem.select("doc_id", row_hash(mem).alias("mh"))
        store = pipeline.read_extracted(self.spark, self.store_dir)
        store = store.select(
            F.col("doc_id").alias("sid"), row_hash(store).alias("sh"), "parse_ok",
            qt._error_class_col().alias("cls"),
            F.col("error").startswith("internal:").alias("internal"),
        )
        adv = F.coalesce(F.col("doc_id"), F.col("sid")) >= "doc_%07d" % SF_DOCS
        return (
            mem.join(store, mem["doc_id"] == store["sid"], "full_outer")
            .agg(
                F.count("doc_id").alias("n_in"),
                F.count("sid").alias("n"),
                F.countDistinct("sid").alias("ids"),
                F.sum((F.col("mh").isNull() | F.col("sh").isNull()
                       | (F.col("mh") != F.col("sh"))).cast("int")).alias("diff"),
                F.sum((~adv & ~F.col("parse_ok")).cast("int")).alias("bad"),
                F.collect_list(F.when(adv, F.struct("sid", "cls"))).alias("adv_cls"),
                F.sum((adv & F.col("internal")).cast("int")).alias("adv_internal"),
            )
            .first()
        )

    def check_queries(self) -> None:
        """Each sampled store query returned the same rows in every round."""
        bad = sum(len(set(d)) > 1 for d in self.digests.values())
        self.ops(len(self.digests), bad, "store query rows identical across rounds")

    # -- traced run: layer probes -------------------------------------------

    def probe_layers(self) -> None:
        from tika_wrap_spark.operators.skew import salt_repartition
        from tika_wrap_spark.schemas import EXTRACTED_SCHEMA

        tr = self.tracer
        parts = self.spark.sparkContext.defaultParallelism * 2

        # Extraction passes: spans for each Spark job and stage under the
        # pass span, and the tracing overhead against untraced passes.
        coverage, tasks, skew, run_s, cpu_s, pass_shuffle = [], [], [], [], [], []
        passes = zip(self.pass_groups[WARMUP_ROUNDS:], tr.named("pass")[WARMUP_ROUNDS:])
        for g, pass_span in passes:
            jobs = self.status.group(g)
            stages = [st for job in jobs for st in job.stages]
            ext = max(stages, key=lambda st: st.run_s)
            exch = max(stages, key=lambda st: st.shuffle_write)
            action = next(c for c in tr.children(pass_span) if c.name == "spark.count")
            for start, end in self.status.sql_executions(pass_span.start, pass_span.end):
                tr.add("spark.sql", start, end, action.id)
            for job in jobs:
                js = tr.add("spark.job", job.start, job.end, action.id)
                for st in job.stages:
                    kind = "extract" if st is ext else "exchange" if st is exch else "other"
                    tr.add("spark.stage." + kind, st.start, st.end, js.id)
            coverage.append(pass_coverage(tr, pass_span))
            tasks.append(len(ext.tasks))
            skew.append(max(ext.tasks) / max(median(ext.tasks), 1e-9))
            run_s.append(sum(st.run_s for st in stages))
            cpu_s.append(sum(st.cpu_s for st in stages))
            pass_shuffle.append(exch.shuffle_write)
        self.put("trace.pass_coverage", median(coverage), "fraction")
        self.put("extract_ops.tasks", median(tasks), "count")
        self.put("extract_ops.task_max_over_median", median(skew), "ratio")
        self.put("spark.executor_run_s", median(run_s), "s")
        self.put("spark.executor_cpu_s", median(cpu_s), "s")
        self.put("spark.gc_s", self.pass_gc_s, "s")
        self.put("cpu.jvm_s", self.pass_cpu["jvm"], "s")
        self.put("cpu.python_s", self.pass_cpu["python"], "s")
        self.put("rss.jvm_mb", self.window_rss.get("jvm", 0) / 2**20, "MB")
        self.put("rss.python_mb", self.window_rss.get("python", 0) / 2**20, "MB")

        # tracing overhead: untraced and traced passes, alternating
        traced, untraced = [], []
        for i in range(OVERHEAD_PAIRS):
            self.set_tracing(False)
            untraced.append(self.extract_pass("untraced-%d" % i))
            self.set_tracing(True)
            traced.append(self.extract_pass("traced-%d" % i))
        self.put("trace.overhead_frac", median(traced) / median(untraced) - 1, "fraction")

        # The salt exchange alone. A bare count lets the optimizer prune
        # ``spans`` out of the shuffle, so the reduce side folds a hash of
        # every payload, which forces it across.
        exch, shuffle = [], []
        for i in range(PROBE_REPS):
            g = "exchange-%d" % i
            self.group(g)
            t0 = time.perf_counter()
            salt_repartition(self.corpus, parts).agg(
                F.bit_xor(F.xxhash64("doc_id", "spans"))
            ).collect()
            exch.append(time.perf_counter() - t0)
            shuffle.append(sum(s.shuffle_write for j in self.status.group(g) for s in j.stages))
        self.put("skew.exchange_s", median(exch), "s")
        self.put("skew.shuffle_write_mb", median(shuffle) / 2**20, "MB")
        ratio = median(shuffle) / max(median(pass_shuffle), 1)
        self.info["exchange_vs_pass_shuffle_bytes"] = ratio
        self.ops(1, int(abs(ratio - 1) > 0.1), "exchange probe moves the pass's shuffle bytes")

        # The Arrow crossing: the same salt, then an identity mapInPandas
        # on the extraction schema.
        cross = []
        for i in range(PROBE_REPS):
            self.group("crossing-%d" % i)
            t0 = time.perf_counter()
            salt_repartition(self.corpus, parts).select("doc_id", "spans").mapInPandas(
                _identity_batches, schema=EXTRACTED_SCHEMA
            ).count()
            cross.append(time.perf_counter() - t0)
        self.put("extract_ops.crossing_s", median(cross), "s")
        self.put("extract_ops.udf_body_s", median(untraced) - median(cross), "s")

        self.probe_core()
        self.probe_store()

    def probe_core(self) -> None:
        """The pure core in this process, one doc at a time: per-class
        µs/doc and CPU share over the workload's first generated docs
        (before web-extract's text/html filter), and docs/s and
        sniff µs/doc over the sample docs this workload's corpus keeps."""
        from tika_wrap_spark import corpus as cp
        from tika_wrap_spark.core.extract import extract_document
        from tika_wrap_spark.core.sniff import sniff_kind

        docs = [cp.gen_doc(*src) for src in self.sources[:CORE_SAMPLE]]
        by_class: dict[str, list[float]] = {c: [] for c in CLASSES}
        own_s, own_n, sniff_s = 0.0, 0, 0.0
        for doc in docs:
            spans = doc["spans"]
            t0 = time.perf_counter()
            extract_document(spans)
            dt = time.perf_counter() - t0
            by_class[doc_class(spans)].append(dt)
            if self.w.web_only and not is_web(spans):
                continue
            own_s += dt
            own_n += 1
            t0 = time.perf_counter()
            for s in spans:
                sniff_kind(s["text"] or "", s["media_ref"] or "")
            sniff_s += time.perf_counter() - t0
        total = sum(sum(v) for v in by_class.values())
        for c, v in by_class.items():
            self.put("core.us_per_doc." + c, 1e6 * sum(v) / max(len(v), 1), "us")
            self.put("core.share." + c, sum(v) / total, "fraction")
        self.put("core.docs_per_s", own_n / own_s, "docs/s")
        self.put("sniff.us_per_doc", 1e6 * sniff_s / own_n, "us")

    def probe_store(self) -> None:
        tr = self.tracer
        write, resume = tr.named("store.write")[-1], tr.named("store.resume")[-1]

        def inside(span_name: str, parent):
            return [s for s in tr.subtree(parent) if s.name == span_name]

        w_over = inside("catalog.overwrite_partitions", write)[0]
        self.put("pipeline.write_s", w_over.dur, "s")
        self.put("pipeline.lineage_s", write.end - w_over.end, "s")
        r_over = inside("catalog.overwrite_partitions", resume)[0]
        self.put("pipeline.resume_plan_s", r_over.start - resume.start, "s")

        files = nbytes = 0
        for root, _dirs, names in os.walk(self.store_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
        self.put("catalog.files_written", files, "count")
        self.put("catalog.bytes_per_doc", nbytes / self.n_store, "B")

        for name in QUERY_PANEL:
            self.put("query.%s_s" % name, self.typical("query." + name), "s")
        queries = [s for s in tr.spans if s.name.startswith("query.")]
        reads = [s.dur for q in queries for s in inside("pipeline.read_extracted", q)]
        keys = [s.dur for q in queries for s in inside("queries_training.store_key", q)]
        calls = [s for q in queries for s in inside("queries_training.extracted_df", q)]
        builds = [s for c in calls for s in inside("pipeline.run_extraction", c)]
        self.put("pipeline.read_s", median(reads), "s")
        self.put("queries_training.store_key_s", median(keys), "s")
        self.put("queries_training.store_builds", len(builds), "count")
        self.put("queries_training.store_reuse_frac", 1 - len(builds) / len(calls), "fraction")

    def close(self) -> None:
        self.tracer.unwrap_all()
        self.sampler.stop()

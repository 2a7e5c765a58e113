"""The benchmark's workloads: ``extract``, ``crawl_expand``, ``crawl_steady``.

Each workload is a closed loop from one process against the public
entry points of ``cuphic_spark``. It exposes:

* ``setup(rep)``      one set-up repetition (timed by the runner as ``setup_s``);
* ``warmup()``        optional untimed pass before the timed loop;
* ``prepare(i)``      untimed work before timed iteration ``i``;
* ``run(i)``          timed iteration ``i``; returns the pages it processed;
* ``bytes_written(i)`` bytes iteration ``i`` wrote;
* ``checks()``        output checks, run after the timed loop;
* ``counters()``      per-layer counters for the traced run.

Every call into the program runs inside a span named after the module
and function it calls (see ledger.Tracer).

Workloads differ only in their inputs. Crawl strategy fields
(``seen_check``, ``use_cuckoo``, ``bloom_mode`` and the rest) stay at
their ``CrawlConfig`` defaults, so routing is the program's own choice.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

from ledger import median


class InputError(RuntimeError):
    """An input is empty or missing: the run stops without metrics."""


@dataclass
class Check:
    name: str
    attempted: int
    failed: int
    detail: str = ""


@dataclass
class Ctx:
    spark: object
    work: str          # this run's scratch directory inside the checkout
    seed: int
    nproc: int
    tracer: object


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _ratio(num, den) -> float:
    return num / den if den else 0.0


# ------------------------------------------------------------------ extract

# the four patterns bench.py scrapes, as pattern source text
PATTERNS = {
    "links": "[:a {:href href} ???]",
    "term": "[:term {:type term/type} term/name]",
    "p_id": "[:p {:id ?id} ???]",
    "title": "[:title {:id title/id} title/text]",
}
VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector customer join the").split()
LANGS = ("en", "de", "fr", "es", "zh")


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """The ``documents`` table synth_pages reads: (doc_id, text, lang),
    word texts of 8-96 words drawn from ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    rows = [{"doc_id": i,
             "text": " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 96))),
             "lang": rng.choice(LANGS)}
            for i in range(n_docs)]
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "documents.parquet"))


def closed_form_match_counts(sf_dir: str, copies: int) -> dict[str, int]:
    """Per-pattern match counts from synth_pages' closed forms, computed
    in DuckDB from ``oracle_pages_cte`` over the documents table: one
    <a> per link, one <term> on has_term pages, one <p id> and one
    <title id> on every page."""
    import duckdb

    from cuphic_spark.sources.pagegen import oracle_pages_cte

    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        links, term, pages = con.execute(
            f"WITH pages AS ({oracle_pages_cte(copies)}) "
            "SELECT sum(n_links), sum(has_term::INT), count(*) FROM pages").fetchone()
    finally:
        con.close()
    return {"links": int(links), "term": int(term), "p_id": int(pages), "title": int(pages)}


class Extract:
    """A materialized synth_pages corpus through pages_extract_text,
    scrape_pages, pages_to_nodes (write), match_nodes (read) and
    minhash_signature, in that order."""

    N_DOCS = 2_000
    COPIES = 8
    SETUP_REPS = 3
    MIN_ITERS = 4
    # the JVM's CPU per iteration keeps falling over the first few
    # full-size passes (JIT and heap sizing); the median over the timed
    # iterations absorbs what one warm-up pass leaves
    WARMUP_ITERS = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.pages = None
        self.n_pages = 0
        self.results: dict[int, dict] = {}

    def setup(self, rep: int) -> None:
        """Materialize synth_pages over the seeded documents table."""
        from cuphic_spark.sources.pagegen import synth_pages

        if rep == 0:
            write_documents(self.sf_dir, self.ctx.seed, self.N_DOCS)
        if not os.path.isfile(os.path.join(self.sf_dir, "documents.parquet")):
            raise InputError(f"missing input table {self.sf_dir}/documents.parquet")
        spark = self.ctx.spark
        out = os.path.join(self.ctx.work, f"corpus-{rep}")
        with self.ctx.tracer.span("sources.pagegen.synth_pages", "setup", rep) as sp:
            (synth_pages(spark, self.sf_dir, self.COPIES)
             .repartition(4 * self.ctx.nproc)
             .write.mode("overwrite").parquet(out))
            self.pages = spark.read.parquet(out)
            self.n_pages = sp.counters["pages"] = self.pages.count()
        if self.n_pages == 0:
            raise InputError(f"synth_pages produced 0 corpus pages in {out}")

    def warmup(self) -> None:
        for k in range(self.WARMUP_ITERS):
            self._iteration(-1 - k, "warmup")

    def prepare(self, i: int) -> None:
        pass

    def run(self, i: int) -> int:
        self.results[i] = self._iteration(i, "timed")
        return self.n_pages

    def _iteration(self, i: int, phase: str) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from cuphic_spark.compiler import compile_pattern, match_nodes
        from cuphic_spark.operators.dedup import minhash_signature
        from cuphic_spark.operators.parse import (
            pages_extract_text,
            pages_to_nodes,
            scrape_pages,
        )

        span, spark, pages = self.ctx.tracer.span, self.ctx.spark, self.pages
        res: dict = {}
        with span("operators.parse.pages_extract_text", phase, i) as sp:
            row = pages_extract_text(pages).agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.length("text"))).collect()[0]
            res["extracted"] = row["n"]
            sp.counters["pages_dropped"] = self.n_pages - row["n"]
        with span("operators.parse.scrape_pages", phase, i) as sp:
            res["kernel"] = {r["pattern_key"]: r["count"] for r in
                             scrape_pages(pages, PATTERNS)
                             .groupBy("pattern_key").count().collect()}
            sp.counters.update({f"matches.{k}": v for k, v in res["kernel"].items()})
        nodes_dir = os.path.join(self.ctx.work, f"nodes-{i}")
        with span("operators.parse.pages_to_nodes", phase, i) as sp:
            obs = Observation("nodes")
            (pages_to_nodes(pages).observe(obs, F.count(F.lit(1)).alias("n"))
             .write.mode("overwrite").parquet(nodes_dir))
            sp.counters["rows_written"] = obs.get["n"]
        with span("compiler.match_nodes", phase, i) as sp:
            compiled = [compile_pattern(k, v) for k, v in PATTERNS.items()]
            res["relational"] = {r["pattern_key"]: r["count"] for r in
                                 match_nodes(spark.read.parquet(nodes_dir), compiled)
                                 .groupBy("pattern_key").count().collect()}
            sp.counters.update({f"matches.{k}": v for k, v in res["relational"].items()})
        with span("operators.dedup.minhash_signature", phase, i) as sp:
            docs = pages.select(F.xxhash64("url").alias("doc_id"), "text")
            row = minhash_signature(docs, k=3, n_hashes=4).agg(
                F.count(F.lit(1)).alias("n"), F.min("minhash_0")).collect()[0]
            res["minhash_rows"] = sp.counters["rows"] = row["n"]
        res["nodes_bytes"] = dir_bytes(nodes_dir)
        return res

    def bytes_written(self, i: int) -> int:
        return self.results[i]["nodes_bytes"]

    def checks(self) -> list[Check]:
        from pyspark.sql import functions as F

        from cuphic_spark.operators.parse import pages_extract_text

        out = []
        with self.ctx.tracer.span("bench.check", "check"):
            got = pages_extract_text(self.pages).select(
                "url", F.col("text").alias("got"))
            row = (self.pages.select("url", "text").join(got, "url", "left")
                   .agg(F.count(F.lit(1)).alias("rows"),
                        F.sum((F.col("got").isNull()
                               | (F.col("got") != F.col("text"))).cast("int"))
                        .alias("bad")).collect()[0])
        # a dropped page has no extracted row and counts as a failure;
        # duplicated rows show as rows > pages
        bad = int(row["bad"] or 0) + max(0, row["rows"] - self.n_pages)
        out.append(Check("extract.text_byte_identity", self.n_pages, bad))
        expected = closed_form_match_counts(self.sf_dir, self.COPIES)
        for i, res in sorted(self.results.items()):
            out.append(Check(f"extract.rows[{i}]", 1,
                             int(res["extracted"] != self.n_pages)))
            for key, want in expected.items():
                for path in ("kernel", "relational"):
                    have = res[path].get(key, 0)
                    out.append(Check(f"{path}.{key}[{i}]", 1, int(have != want),
                                     f"{have} != {want}" if have != want else ""))
            out.append(Check(f"minhash.rows[{i}]", 1,
                             int(res["minhash_rows"] != self.n_pages)))
        return out

    def counters(self) -> dict:
        return {}


# -------------------------------------------------------------------- crawl

@dataclass
class CrawlShape:
    universe: int
    n_seeds: int
    wave_cap: int
    budget_per_host: int


class Crawl:
    """Set-up builds a crawl checkpoint through wave 0 from the seeds.
    Each timed iteration resumes that checkpoint for one more wave: the
    iterations are consecutive waves of one crawl, and the run reports
    medians over them."""

    # one checkpoint build: it costs a full wave plus the JVM's warm-up
    # of the crawl path
    SETUP_REPS = 1
    # a fixed count of timed waves: more than --seconds needs on a
    # 4-core host, so every run measures the same waves. The first
    # resumed wave pays the JVM's warm-up of the resume and cuckoo-probe
    # path; the median of four drops it, at less cost than an untimed
    # warm-up wave
    MIN_ITERS = 4

    def __init__(self, ctx: Ctx, shape: CrawlShape):
        self.ctx = ctx
        self.shape = shape
        self.ckpt = os.path.join(ctx.work, "ckpt")
        self.waves_done = 0
        self.before_bytes: dict[int, int] = {}
        self.summaries: dict[int, dict] = {}

    def cfg(self, n_waves: int):
        from cuphic_spark.frontier.crawl import CrawlConfig

        s = self.shape
        return CrawlConfig(universe=s.universe, n_seeds=s.n_seeds,
                           wave_cap=s.wave_cap, budget_per_host=s.budget_per_host,
                           n_waves=n_waves, checkpoint_dir=self.ckpt)

    def _advance(self, n: int, phase: str, idx: int) -> dict:
        """Resume the checkpoint for ``n`` more waves; fail on a wave
        that scheduled nothing."""
        from cuphic_spark.frontier.crawl import crawl

        with self.ctx.tracer.span("frontier.crawl.crawl", phase, idx):
            summary = crawl(self.ctx.spark, self.cfg(self.waves_done + n))
        waves = summary["metrics"]
        if len(waves) != n or any(m["scheduled"] == 0 for m in waves):
            raise InputError(
                f"crawl {self.ckpt} from wave {self.waves_done}: scheduled "
                f"{[m['scheduled'] for m in waves]} urls, expected {n} non-empty waves")
        self.waves_done += n
        return summary

    def setup(self, rep: int) -> None:
        if rep:
            raise ValueError("crawl workloads build their checkpoint once")
        self._advance(1, "setup", rep)

    def warmup(self) -> None:
        pass  # see MIN_ITERS

    def prepare(self, i: int) -> None:
        self.before_bytes[i] = dir_bytes(self.ckpt)

    def run(self, i: int) -> int:
        summary = self._advance(1, "timed", i)
        self.summaries[i] = summary
        return sum(m["scheduled"] for m in summary["metrics"])

    def bytes_written(self, i: int) -> int:
        return dir_bytes(self.ckpt) - self.before_bytes[i]

    def _lineage(self, wave: int) -> dict:
        with open(os.path.join(self.ckpt, f"wave={wave:05d}", "_lineage.json")) as fh:
            return json.load(fh)

    def checks(self) -> list[Check]:
        """Every wave of the checkpoint against the oracle, and every
        resumed wave against the exact invariants."""
        from tests.oracle import crawl_oracle

        s = self.shape
        with self.ctx.tracer.span("bench.check", "check"):
            oracle = crawl_oracle.run(s.universe, s.n_seeds, s.budget_per_host,
                                      s.wave_cap, self.waves_done).metrics
        out = []
        for w in range(self.waves_done):
            m = self._lineage(w)["metrics"]
            for key in ("scheduled", "new_urls", "frontier_size"):
                have, want = m[key], oracle[w][key]
                out.append(Check(f"oracle.{key}[{w}]", 1, int(have != want),
                                 f"{have} != {want}" if have != want else ""))
        return out + self._invariants()

    def _read(self, *parts: str, columns=("url",)):
        """A checkpoint table as Python columns, read with pyarrow."""
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(self.ckpt, *parts), columns=list(columns))
        return [table.column(c).to_pylist() for c in columns]

    def _invariants(self) -> list[Check]:
        """Exact invariants of every resumed wave, read back from the
        checkpoint's files."""
        from collections import Counter

        s = self.shape
        out = []
        with self.ctx.tracer.span("bench.check", "check"):
            fetched_before: set = set()
            (seen,) = self._read("seen_seed")
            seen = set(seen)
            for w in range(self.waves_done):
                wave = f"wave={w:05d}"
                urls, hosts = self._read(wave, "fetch_log", columns=("url", "host"))
                (delta,) = self._read(wave, "seen_delta")
                if w:
                    m = self._lineage(w)["metrics"]
                    worst = max(Counter(hosts).values(), default=0)
                    re_f = sum(u in fetched_before for u in urls)
                    re_s = sum(u in seen for u in delta)
                    tag = f"[{w}]"
                    out += [
                        Check("crawl.fetch_log_rows" + tag, 1, int(len(urls) != m["scheduled"])),
                        Check("crawl.scheduled_le_cap" + tag, 1, int(m["scheduled"] > s.wave_cap)),
                        Check("crawl.host_le_budget" + tag, 1, int(worst > s.budget_per_host)),
                        Check("crawl.no_refetch" + tag, 1, int(re_f != 0), f"{re_f} refetched"),
                        Check("crawl.seen_delta_rows" + tag, 1, int(len(delta) != m["new_urls"])),
                        Check("crawl.new_urls_unseen" + tag, 1, int(re_s != 0), f"{re_s} reseen"),
                        Check("crawl.pages_dropped" + tag, 1, int(m["pages_dropped"] != 0)),
                    ]
                fetched_before.update(urls)
                seen.update(delta)
        return out

    def counters(self) -> dict:
        """Crawl-layer counters over the timed waves, as medians over
        waves (per-wave ratios) or over iterations (per-iteration wave
        counts)."""
        seen = self.shape.n_seeds + self._lineage(0)["metrics"]["new_urls"]
        waves, per_iter = [], []
        for _i, summary in sorted(self.summaries.items()):
            counts = {"cuckoo": 0, "shuffle": 0, "pruned": 0, "broadcast": 0}
            for m, tt in zip(summary["metrics"], summary["timings"]):
                lin = self._lineage(m["wave"])
                counts["cuckoo"] += int(bool(lin.get("cuckoo_probe")))
                strategy = lin.get("seen_strategy")
                if strategy in counts:
                    counts[strategy] += 1
                waves.append((m, tt, seen))
                seen += m["new_urls"]
            per_iter.append(counts)
        if not waves:
            return {}

        def med(fn):
            return median(fn(m, tt, seen) for m, tt, seen in waves)

        def med_iter(key):
            return median(c[key] for c in per_iter)

        out = {
            "frontier.crawl.crawl.spark_jobs_per_wave": med(lambda m, tt, _: tt.get("spark_jobs", 0)),
            "frontier.bands.rows_read_per_scheduled":
                med(lambda m, tt, _: _ratio(m["frontier_rows_read"], m["scheduled"])),
            "frontier.bands.rows_written": med(lambda m, tt, _: m["frontier_rows_written"]),
            "frontier.bands.frontier_size": med(lambda m, tt, _: m["frontier_size"]),
            "frontier.seen.new_ratio": med(lambda m, tt, _: _ratio(m["new_urls"], m["links_distinct"])),
            "frontier.seen.seen_to_candidates":
                med(lambda m, tt, seen: _ratio(seen, m["links_distinct"])),
            "frontier.seen.bloom_est_fp": med(lambda m, tt, _: m.get("bloom_est_fp") or 0.0),
            "frontier.seen.cuckoo_probe_waves": med_iter("cuckoo"),
            "frontier.seen.shuffle_waves": med_iter("shuffle"),
            "frontier.seen.pruned_waves": med_iter("pruned"),
            "frontier.seen.broadcast_waves": med_iter("broadcast"),
        }
        for key in CRAWL_PHASES:
            out[f"frontier.crawl.{key}_s"] = med(lambda m, tt, _: tt.get(key, 0.0))
        return out


# per-wave phase timings the crawl returns in its summary
CRAWL_PHASES = ("schedule", "seen_frontier_cuckoo", "bloom_build",
                "prev_wave_drain", "fetch_log_drain")


def universe_for(base: int) -> int:
    """The first universe size from ``base`` up that shares no factor
    with the link stride: webgraph links page i to (31*i + 17*k + 7) mod
    U, so a U divisible by 31 reaches only a 31st of the pages' targets
    and gives a graph of another size class."""
    u = base
    while u % 31 == 0:
        u += 1
    return u


def make(name: str, ctx: Ctx):
    jitter = ctx.seed % 1000
    if name == "extract":
        return Extract(ctx)
    if name == "crawl_expand":
        # seeds comparable to the wave cap over a large universe: almost
        # every discovered link is new
        return Crawl(ctx, CrawlShape(universe=universe_for(2_000_000 + 1009 * jitter),
                                     n_seeds=10_000, wave_cap=10_000,
                                     budget_per_host=10_000 // 3))
    if name == "crawl_steady":
        # a frontier ~40x the wave and a seen set >8x a wave's candidates,
        # over a universe the seeds mostly cover: the cuckoo probe runs
        # and most links are dupes
        return Crawl(ctx, CrawlShape(universe=universe_for(64_000 + jitter),
                                     n_seeds=60_000, wave_cap=1_500,
                                     budget_per_host=1_500 // 3))
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("extract", "crawl_expand", "crawl_steady")

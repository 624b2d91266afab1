"""The ``crawl_deep`` workload: a policy-heavy crawl of large pages.

``CrawlEngine`` runs with robots rules, the Python cuckoo seen-filter, a
per-host epoch budget (the hot host defers part of its frontier), and
compaction every two epochs, over a corpus of ~16 KB pages that
corpus-aligned seeds hit five times in six. The fetch join therefore
moves the HTML payload, Python extraction parses large pages, and the
epoch pays the engine's per-epoch job barriers.

The crawl resumes from a catalog that already holds a committed epoch 0
``seen`` set: the URL hashes of the epoch-0 seeds, written through the
public ``EpochCatalog.commit_epoch`` during set-up (at most the per-host
budget of them per host), as a crawl restarted on a recorded seen set
would find it. ``CrawlEngine.run`` skips committed epochs, so
``run(seeds, n_epochs=2)`` runs exactly epoch 1 — the one
measured operation — with its cuckoo probe against that seen set (a
third of the epoch-1 seeds repeat an epoch-0 URL), the robots denials,
the per-host deferrals, and the compaction due after it. A second engine
epoch does not fit the run's time budget: each epoch costs dozens of
Spark jobs whatever the input size.

The seed picks one of ``VARIANTS`` corpora (the page generator's seed)
and the row order of both inputs within their partitions, which the
engine must not depend on. Every committed table is checked against
golden digests of the variant, recorded in ``golden.json`` by
``--record-golden``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import digest
from bench_stats import median
from spans import sum_groups

PAGES, PAGE_SCALE = 600, 8
PER_HOST = 40               # seeds per host per epoch; the hot host gets 10×
HOST_BUDGET = 3 * PER_HOST // 2  # only the hot host exceeds it, and defers the rest
MEASURED_EPOCH = 1  # epoch 0 is the recorded seen set the crawl resumes from
VARIANTS = 4
TABLES = ("fetched", "extracted", "outlinks", "seen", "metrics", "deferred")
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")
_ZERO = [0, "0" * 16]

# Lazy layer functions the traced run replays, by (module, function).
# They only build plans, so a span around the call would time nothing.
REPLAYED = (
    ("web_crawler_spark.operators.dedup", "keep_latest"),
    ("web_crawler_spark.operators.cuckoo", "anti_join_seen_cuckoo"),
    ("web_crawler_spark.operators.cuckoo", "build_cuckoo_shards"),
    ("web_crawler_spark.operators.cuckoo", "cuckoo_filter_stage"),
    ("web_crawler_spark.operators.robots", "apply_robots"),
    ("web_crawler_spark.operators.robots", "politeness_schedule_with_delays"),
    ("web_crawler_spark.plans.extract", "combined_extract_stage"),
    ("web_crawler_spark.plans.extract", "resolve_links"),
)


class DeepCrawl:
    # generating the corpus and seeds is the process's first Spark work
    # (~25 s cold on a loaded 4-vCPU VM); repeating it would not fit the
    # run's time budget, so it runs once
    setup_repeats = 1
    min_units = 1

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark, self.seed = spark, seed
        self.variant = seed % VARIANTS
        self.root = os.path.join(work_dir, "catalog")
        self.measured = False
        self.engine = None
        self.recorded: list[tuple] = []  # (module, fn, args, kwargs)
        self._record_now = False
        self._tracer = None
        self.prep_s = 0.0

    # -- inputs ----------------------------------------------------------
    def generate(self) -> None:
        from web_crawler_spark.sources.pages import generate_pages
        from web_crawler_spark.sources.seeds import seeds_from_pages

        # the seed orders the rows within each partition
        order = F.xxhash64(F.col("url"), F.lit(self.seed))
        self.pages = (
            generate_pages(self.spark, PAGES, seed=1000 + self.variant, scale=PAGE_SCALE)
            .sortWithinPartitions(order).localCheckpoint()
        )
        self.seeds = (
            seeds_from_pages(self.spark, PAGES, n_per_host=PER_HOST, n_epochs=MEASURED_EPOCH + 1)
            .sortWithinPartitions(order).localCheckpoint()
        )

    def build(self) -> float:
        from web_crawler_spark.plans.epoch import CrawlEngine
        from web_crawler_spark.sources.robots import ROBOTS_BODIES

        shutil.rmtree(self.root, ignore_errors=True)
        # the fixture's rules plus a robots.txt for the one host without,
        # denying some of its seeds every epoch, so the robots_denied path
        # runs in the measured epoch too
        bodies = dict(ROBOTS_BODIES)
        bodies["example-commodities.net"] = "User-agent: *\nDisallow: /simple_table/1\n"
        robots = self.spark.createDataFrame(sorted(bodies.items()), "host string, body string")
        t0 = time.perf_counter()
        self.engine = CrawlEngine(
            self.spark, self.root, self.pages, max_depth=2, robots_pages=robots,
            seen_filter="cuckoo", max_per_host_per_epoch=HOST_BUDGET, compact_every=2,
        )
        return time.perf_counter() - t0

    # -- operations --------------------------------------------------------
    def warm_up(self) -> float:
        """Commit the seen set the crawl resumes from, as epoch 0 of
        ``seen`` with its lineage (the engine sizes the cuckoo filter from
        it): the distinct epoch-0 seed URLs, at most ``HOST_BUDGET`` per
        host in priority order, as the per-host budget would have admitted
        them. The hot host's other URLs are still unseen, so it fetches
        and defers again in the measured epoch."""
        from pyspark.sql import Window

        t0 = time.perf_counter()
        first = Window.partitionBy("host").orderBy("priority", "url_hash")
        seen = (
            self.seeds.filter(F.col("epoch") == 0)
            .dropDuplicates(["url_hash"])
            .withColumn("seq", F.row_number().over(first))
            .filter(F.col("seq") <= HOST_BUDGET)
            .select("url_hash", "canonical_url", F.lit(0).alias("first_seen_epoch"))
            .localCheckpoint()
        )
        n = seen.count()
        self.engine.catalog.commit_epoch(
            "seen", 0, seen, lineage={"fetched": n}
        )
        return time.perf_counter() - t0

    def run_unit(self, tracer=None) -> dict:
        """Epoch 1 and the compaction due after it."""
        self.measured = True
        self.prep_s = 0.0
        t0 = time.perf_counter()
        try:
            if tracer is None:
                result = self.engine.run(self.seeds, n_epochs=MEASURED_EPOCH + 1)[-1]
            else:
                with tracer.span(f"epoch:{MEASURED_EPOCH}"):
                    result = self.engine.run(self.seeds, n_epochs=MEASURED_EPOCH + 1)[-1]
        except Exception:  # an epoch that raises is a failed operation
            traceback.print_exc()
            return {"op_walls": [], "rows": 0, "attempted": 1, "failed": 1}
        wall = time.perf_counter() - t0 - self.prep_s
        return {"op_walls": [wall], "rows": result["fetched"], "attempted": 1, "failed": 0,
                "ok": result["ok"]}

    @staticmethod
    def summarize(units: list[dict]) -> tuple[list[float], int]:
        """The measured epoch's wall and the URLs it fetched."""
        return [w for u in units for w in u["op_walls"]], sum(u["rows"] for u in units)

    @property
    def exhausted(self) -> bool:
        return self.measured

    # -- output checks -----------------------------------------------------
    def digests(self) -> dict[str, dict]:
        """Per-epoch digests of every table, in one Spark job (a table with
        no rows reads as None from the catalog and digests to no epochs)."""
        frames = {t: self.engine.catalog.read(self.spark, t) for t in TABLES}
        return {t: {} for t in TABLES} | digest.digest_tables(
            {t: df for t, df in frames.items() if df is not None}
        )

    def check(self, units: list[dict]) -> tuple[list[str], int]:
        """Failures, and how many measured epochs failed. The epochs pass
        when every committed table matches the variant's golden digest,
        ``url_hash`` is unique in ``seen`` and the measured epoch's ``seen``
        rows equal its ``fetched`` rows."""
        with open(GOLDEN) as f:
            golden = json.load(f)["variants"][str(self.variant)]
        got = self.digests()
        failures = []
        for e in map(str, range(MEASURED_EPOCH + 1)):
            for table in TABLES:
                have = got[table].get(e, _ZERO)
                if have != golden[table].get(e, _ZERO):
                    failures.append(f"epoch {e}: {table} {have} != golden")
        e = str(MEASURED_EPOCH)
        if got["seen"].get(e, _ZERO)[0] != got["fetched"].get(e, _ZERO)[0]:
            failures.append(f"epoch {e}: seen rows != fetched rows")
        seen = self.engine.catalog.read(self.spark, "seen")
        n, distinct = seen.agg(F.count(F.lit(1)), F.countDistinct("url_hash")).first()
        if n != distinct:
            failures.append("url_hash is not unique in seen")
        return failures, sum(1 for u in units if u["op_walls"]) if failures else 0

    def record_golden(self) -> dict:
        self.warm_up()
        self.engine.run(self.seeds, n_epochs=MEASURED_EPOCH + 1)
        return self.digests()

    # -- tracing -------------------------------------------------------------
    def instrument(self, tracer) -> None:
        """Spans around the eager public calls; recording of the lazy layer
        calls made during the measured epoch, for replay."""
        import importlib

        from web_crawler_spark.plans.epoch import CrawlEngine
        from web_crawler_spark.sources.catalog import EpochCatalog

        self._tracer = tracer
        tracer.wrap(CrawlEngine, "run_epoch")
        tracer.wrap(EpochCatalog, "read", lambda cat, spark, table, *a, **k: f"read:{table}")
        tracer.wrap(EpochCatalog, "vacuum", lambda cat, table: f"vacuum:{table}")
        for method in ("commit_epoch", "compact"):
            _wrap_writer(tracer, EpochCatalog, method)
        # the concrete DataFrame class overrides localCheckpoint
        tracer.wrap(type(self.pages), "localCheckpoint", _caller_name)
        for mod_name, fn in REPLAYED:
            tracer.patch(importlib.import_module(mod_name), fn, self._recorder)
        tracer.patch(CrawlEngine, "run_epoch", self._materializing)

    def _recorder(self, orig):
        """``orig`` that also records its calls made during the measured epoch."""
        module = orig.__module__

        def recording(*args, **kwargs):
            if self._record_now:
                self.recorded.append((module, orig.__name__, args, kwargs))
            return orig(*args, **kwargs)

        return recording

    def _materializing(self, run_epoch):
        """``run_epoch`` that records the measured epoch's layer calls and
        materializes their inputs when it ends, before compaction can
        vacuum the files they read; that time is taken out of the epoch's
        wall."""

        def run_epoch_recording(engine, seeds, epoch):
            if epoch != MEASURED_EPOCH:
                return run_epoch(engine, seeds, epoch)
            self._record_now = True
            try:
                result = run_epoch(engine, seeds, epoch)
            finally:
                self._record_now = False
            t0 = time.perf_counter()
            with self._tracer.span("replay:prepare"):
                self.recorded = [
                    (mod, fn, tuple(_materialize(a) for a in args),
                     {k: _materialize(v) for k, v in kwargs.items()})
                    for mod, fn, args, kwargs in self.recorded
                ]
            self.prep_s = time.perf_counter() - t0
            return result

        return run_epoch_recording

    def replay(self, tracer) -> list[dict]:
        """Re-run each recorded layer call once on its materialized inputs,
        forced by a noop write in its own span, and count its rows."""
        import importlib

        # set-up keyed the seeds and the corpus, so the measured epoch makes
        # no with_url_columns call; replay one on its seed URLs
        urls = self.seeds.filter(F.col("epoch") == MEASURED_EPOCH).select("url").localCheckpoint()
        out = []
        for module, fn, args, kwargs in [
            ("web_crawler_spark.functions.urltools", "with_url_columns", (urls,), {}),
            *self.recorded,
        ]:
            call = getattr(importlib.import_module(module), fn)
            with tracer.span(f"replay:{fn}") as sp:
                res = call(*args, **kwargs)
                if isinstance(res, DataFrame):
                    res.write.format("noop").mode("overwrite").save()
            rec = {"fn": fn, "span": sp, "rows_in": _rows(args), "rows_out": 0}
            if isinstance(res, DataFrame):
                rec["rows_out"] = res.count()
                if fn == "cuckoo_filter_stage":
                    rec["flagged"] = res.filter(F.col("might_be_seen")).count()
                if fn == "combined_extract_stage":
                    rec["tables_out"] = res.filter(F.col("name").isNotNull()).count()
                    rec["links_out"] = res.filter(F.col("link").isNotNull()).count()
            out.append(rec)
        return out

    def layer_metrics(self, tracer, groups: dict, units: list[dict], replays: list[dict]) -> dict:
        """The measured epoch's metrics, and the layer metrics of the
        replayed calls."""
        per_epoch = [
            self._epoch_metrics(tracer, groups, sp, u)
            for u in units for sp in u["spans"] if sp.name.startswith("epoch:")
        ]
        m = {k: median([p[k] for p in per_epoch]) for k in per_epoch[0]} if per_epoch else {}
        by_fn: dict[str, list[dict]] = {}
        for r in replays:
            by_fn.setdefault(r["fn"], []).append(r)

        def wall(*fns):
            return sum(r["span"].wall_s for f in fns for r in by_fn.get(f, []))

        def stage(key, *fns):
            spans = [s for f in fns for r in by_fn.get(f, []) for s in tracer.subtree(r["span"])]
            return sum_groups(groups, spans)[key]

        def first(fn, key, default=0):
            rs = by_fn.get(fn, [])
            return rs[0].get(key, default) if rs else default

        anti, sched = "anti_join_seen_cuckoo", "politeness_schedule_with_delays"
        anti_in, probe_in = first(anti, "rows_in"), first("cuckoo_filter_stage", "rows_in")
        flagged = first("cuckoo_filter_stage", "flagged")
        wave_in, robots_in = first("keep_latest", "rows_in"), first("apply_robots", "rows_in")
        pages = first("combined_extract_stage", "rows_in")
        extract_wall = wall("combined_extract_stage", "resolve_links")
        m.update({
            "urltools.rows": sum(r["rows_in"] for r in by_fn.get("with_url_columns", [])),
            "urltools.wall_s": wall("with_url_columns"),
            "dedup.rows_in": wave_in,
            "dedup.wave_dropped": wave_in - first("keep_latest", "rows_out"),
            "dedup.seen_dropped": anti_in - first(anti, "rows_out"),
            "dedup.exact_probe_ratio": flagged / anti_in if anti_in else 0.0,
            "dedup.wall_s": wall("keep_latest", anti),
            "dedup.shuffle_bytes": stage("shuffle_write_bytes", "keep_latest", anti),
            "politeness.rows": first(sched, "rows_out"),
            "politeness.wall_s": wall(sched),
            "politeness.task_skew": stage("task_skew", sched),
            "cuckoo.build_s": wall("build_cuckoo_shards"),
            "cuckoo.probe_s": wall("cuckoo_filter_stage"),
            "cuckoo.exact_probe_ratio": flagged / probe_in if probe_in else 0.0,
            "robots.denied_rows": robots_in - first("apply_robots", "rows_out"),
            "robots.wall_s": wall("apply_robots"),
            "extract.pages": pages,
            "extract.rows_out": first("combined_extract_stage", "tables_out"),
            "extract.links_out": first("combined_extract_stage", "links_out"),
            "extract.wall_s": extract_wall,
            "extract.cpu_s": stage("cpu_ns", "combined_extract_stage", "resolve_links") / 1e9,
            "extract.pages_per_s": pages / extract_wall if extract_wall else 0.0,
        })
        return m

    def _epoch_metrics(self, tracer, groups: dict, op_span, unit: dict) -> dict:
        tree = tracer.subtree(op_span, prune="replay")
        inc = sum_groups(groups, tree)
        checkpoints = sorted(
            (s for s in tree if s.name.startswith("localCheckpoint@epoch.py")),
            key=lambda s: s.start,
        )
        commits = [s for s in tree if s.name.startswith("commit:")]
        data = [s for s in commits if s.name != "commit:seen"]
        seen = [s for s in commits if s.name == "commit:seen"]
        compacts = [s for s in tree if s.name.startswith("compact:")]
        fetched, ok = unit["rows"], unit.get("ok", 0)

        def interval(spans):
            return max(s.end for s in spans) - min(s.start for s in spans) if spans else 0.0

        return {
            "epoch.jobs": inc["jobs"],
            "epoch.stages": inc["stages"],
            "epoch.tasks": inc["tasks"],
            "epoch.exec_cpu_s": inc["cpu_ns"] / 1e9,
            "epoch.materialize_fetched_s": checkpoints[0].wall_s if checkpoints else 0.0,
            "epoch.extract_s": checkpoints[1].wall_s if len(checkpoints) > 1 else 0.0,
            "epoch.commits_s": interval(commits),
            "fetch.rows": fetched,
            "fetch.ok_ratio": ok / fetched if fetched else 0.0,
            "fetch.shuffle_bytes": (
                sum_groups(groups, tracer.subtree(checkpoints[0]))["shuffle_write_bytes"]
                if checkpoints else 0
            ),
            "catalog.commit_s": interval(data),
            "catalog.seen_commit_s": sum(s.wall_s for s in seen),
            "catalog.read_s": sum(s.wall_s for s in tree if s.name.startswith("read:")),
            "catalog.files_written": sum(s.attrs.get("files", 0) for s in commits),
            "catalog.bytes_written": sum(s.attrs.get("bytes", 0) for s in commits),
            "catalog.compact_s": sum(s.wall_s for s in compacts),
            "catalog.bytes_rewritten": sum(s.attrs.get("bytes", 0) for s in compacts),
            "spark.shuffle_write_bytes": inc["shuffle_write_bytes"],
            "spark.spill_bytes": inc["spill_bytes"],
            "spark.jvm_gc_s": inc["gc_ms"] / 1e3,
        }


def _wrap_writer(tracer, cls, method: str) -> None:
    """Span around a catalog write that also records the files and bytes
    the call left in the directory it wrote."""

    def make(orig):
        def traced(cat, *args, **kwargs):
            table = args[1] if method == "compact" else args[0]  # compact(spark, table)
            with tracer.span(f"{method.replace('_epoch', '')}:{table}") as sp:
                res = orig(cat, *args, **kwargs)
            if method == "commit_epoch":
                path = os.path.join(cat.root, table, f"epoch={args[1]}")
            else:
                path = os.path.join(cat.root, table, cat.manifest(table)["compaction"]["dir"])
            sp.attrs["files"], sp.attrs["bytes"] = _dir_usage(path)
            return res
        return traced

    tracer.patch(cls, method, make)


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _caller_name(*_args, **_kwargs) -> str:
    import sys

    f = sys._getframe(2)  # the caller of DataFrame.localCheckpoint
    return f"localCheckpoint@{os.path.basename(f.f_code.co_filename)}:{f.f_lineno}"


def _materialize(v):
    return v.localCheckpoint() if isinstance(v, DataFrame) else v


def _rows(args) -> int:
    return next((a.count() for a in args if isinstance(a, DataFrame)), 0)

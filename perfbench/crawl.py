"""crawl_resume: a crawl resumed from its last committed epoch, then the
resume read of the state it committed.

Input: ``synth.generate_web(seed, n_hosts=200, n_pages=1000)``: Zipf page
counts over 200 hosts, robots rules, link traps. Set-up converts it to
DataFrames and canonicalizes the page table (``prepare_pages``), as a
deployment does. Then, untimed, ``run_epochs`` crawls epoch 0 (it fetches
the seeds) into a base catalog, and one operation runs as a warm-up. One
operation copies the base catalog, resumes the crawl there with
``run_epochs`` for epoch 1 (it ingests the links epoch 0 found: every
frontier layer, from canonicalize to the seen-set anti-join and the
schedule, then the fetch join, link extraction and the catalog writes and
commit), and then opens a fresh ``Catalog`` on the root to resolve the
frontier (``last_committed_epoch`` + ``read_merged("frontier").count()``).

Check, as tests/test_epoch.py does: every epoch's schedule order and
counters, the final seen set and the resolved frontier statuses equal
``oracle.run_oracle`` on the same inputs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from contextlib import ExitStack
from unittest import mock

N_HOSTS = 200
N_PAGES = 1000
# epoch 0 runs in set-up; the operation resumes the crawl at epoch 1
N_EPOCHS = 2
# untimed operations after epoch 0: on a fresh JVM the first resumed epoch
# takes about a quarter longer than the next one and varies most from run
# to run (JIT, code generation)
WARM_UP_OPS = 1


def _config():
    from webcrawler_spark.config import CrawlConfig

    return CrawlConfig(epoch_seconds=600, hot_host_salt=4)


def _digest(*parts) -> int:
    h = hashlib.sha256("\0".join("" if p is None else str(p) for p in parts).encode())
    return int.from_bytes(h.digest()[:8], "little")


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files)


def fingerprint(web: dict) -> dict:
    """Row counts plus an order-independent hash (sum of per-row sha256
    prefixes mod 2^64) of every generated table."""
    out = {}
    for table, cols in (
        ("pages", ("url", "warc_ts", "html", "text", "lang")),
        ("seeds", ("url", "priority", "depth")),
        ("robots", ("host", "allow_prefixes", "disallow_prefixes", "crawl_delay")),
    ):
        rows = web[table]
        out[table] = {
            "rows": len(rows),
            "hash": f"{sum(_digest(*(r[c] for c in cols)) for r in rows) % 2**64:016x}",
        }
    return out


class Crawl:
    name = "crawl_resume"
    LAYER_UNITS = {
        # the frontier layers, as the epoch loop calls them
        "urlnorm.canonicalize_s": "s",
        "urlnorm.cpu_s": "s",
        "urlnorm.native_share": "1",
        "dedup.merge_s": "s",
        "dedup.merge_shuffle_mb": "MB",
        "dedup.antijoin_s": "s",
        "dedup.new_ratio": "1",
        "columns.priority_s": "s",
        "scheduler.schedule_s": "s",
        "scheduler.shuffle_mb": "MB",
        "scheduler.task_skew": "1",
        "scheduler.scheduled": "count",
        "scheduler.deferred": "count",
        "epoch.e0_s": "s",  # the untimed epoch of set-up
        **{f"epoch.e{i}_s": "s" for i in range(1, N_EPOCHS)},
        "epoch.jobs": "count",
        "epoch.stages": "count",
        "catalog.stage_s": "s",
        "catalog.stage_max_s": "s",
        "catalog.write_mb": "MB",
        "catalog.write_bytes_per_page": "B",
        "catalog.commit_s": "s",
        "catalog.read_merged_s": "s",
        "links.extract_s": "s",
        "links.per_page": "1",
        "pages.prepare_s": "s",
    }

    # page preparation is repeated; setup_s takes the median
    SETUP_REPS = 3
    # traced spans materialize each layer's output, which changes the plan:
    # a traced run resumes untraced, traced, then untraced again
    SPANS_CHANGE_PLAN = True

    def __init__(self, work: str):
        self.work = work
        self.web = None
        self.pages_prepared = None
        self.prepare_times: list[float] = []
        self.n_ops = 0

    # ---- set-up ------------------------------------------------------------
    def make_inputs(self, spark, seed: int) -> None:
        from webcrawler_spark import synth
        from webcrawler_spark.plans import epoch as E

        self.web = web = synth.generate_web(seed=seed, n_hosts=N_HOSTS, n_pages=N_PAGES)
        pages = spark.createDataFrame(
            [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"]) for p in web["pages"]],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        self.seeds = spark.createDataFrame(
            [(s["url"], s["priority"], s["depth"]) for s in web["seeds"]],
            "url string, priority int, depth int",
        )
        self.robots = spark.createDataFrame(
            [
                (r["host"], r["allow_prefixes"], r["disallow_prefixes"], r["crawl_delay"])
                for r in web["robots"]
            ],
            "host string, allow_prefixes array<string>, "
            "disallow_prefixes array<string>, crawl_delay double",
        )
        if self.pages_prepared is not None:
            self.pages_prepared.unpersist()
        t = time.perf_counter()
        self.pages_prepared = E.prepare_pages(pages).persist()
        self.pages_prepared.count()
        self.prepare_times.append(time.perf_counter() - t)

    def inputs_fingerprint(self) -> dict:
        return fingerprint(self.web)

    def prepare(self, spark) -> None:
        """The oracle's crawl, epoch 0 into the base catalog every operation
        resumes from, then WARM_UP_OPS untimed operations, which also warm
        the JVM."""
        from webcrawler_spark.oracle import run_oracle
        from webcrawler_spark.plans import epoch as E
        from webcrawler_spark.storage.catalog import Catalog

        t = time.perf_counter()
        w = self.web
        self.oracle = run_oracle(w["pages"], w["seeds"], w["robots"], N_EPOCHS, _config())
        self.base = os.path.join(self.work, "catalog-base")
        self.base_counters = E.run_epochs(
            spark, Catalog(spark, self.base), None, self.seeds, self.robots, 1,
            _config(), pages_prepared=self.pages_prepared,
        )
        self.base_bytes = _dir_bytes(self.base)
        for _ in range(WARM_UP_OPS):
            self.run_op(spark, None)
        self.prepare_s = time.perf_counter() - t

    def fingerprint_of(self, spark, seed: int) -> dict:
        from webcrawler_spark import synth

        return fingerprint(synth.generate_web(seed=seed, n_hosts=N_HOSTS, n_pages=N_PAGES))

    def record(self, spark, seed: int) -> dict:
        return {"inputs": self.fingerprint_of(spark, seed)}

    # ---- the operation -----------------------------------------------------
    def run_op(self, spark, tracer) -> dict:
        from perfbench.trace import maybe_span
        from webcrawler_spark.plans import epoch as E
        from webcrawler_spark.storage.catalog import Catalog

        self.n_ops += 1
        root = os.path.join(self.work, f"catalog-{self.n_ops}")
        shutil.copytree(self.base, root)
        with ExitStack() as stack:
            stack.enter_context(maybe_span(tracer, "op"))
            if tracer is not None:
                for patch in self._layer_patches(tracer):
                    stack.enter_context(patch)
            t0 = time.perf_counter()
            counters = E.run_epochs(
                spark, Catalog(spark, root), None, self.seeds, self.robots, N_EPOCHS - 1,
                _config(), pages_prepared=self.pages_prepared,
            )
            t1 = time.perf_counter()
            with maybe_span(tracer, "catalog.read_merged"):
                cat = Catalog(spark, root)
                last = cat.last_committed_epoch()
                n_resolved = cat.read_merged("frontier", last).count()
            t2 = time.perf_counter()
        result = {
            # the crawl loop plus the resume read
            "seconds": t2 - t0,
            "crawl_s": t1 - t0,
            "resume_s": t2 - t1,
            "items": sum(c["pages_fetched"] for c in counters),
            "counters": counters,
            "write_bytes": _dir_bytes(root) - self.base_bytes,
        }
        result.update(self._check(cat, self.base_counters + counters, last, n_resolved))
        shutil.rmtree(root, ignore_errors=True)
        return result

    def _check(self, cat, counters, last, n_resolved) -> dict:
        """One operation per epoch plus the resume read."""
        o = self.oracle
        notes = []
        sched = (
            cat.read_delta_union("schedule", N_EPOCHS - 1)
            .select("epoch", "host", "rank_in_host", "url_norm")
            .collect()
        )
        for e in range(N_EPOCHS):
            got = sorted(
                (r["host"], r["rank_in_host"], r["url_norm"]) for r in sched if r["epoch"] == e
            )
            if got != o.schedules[e]:
                notes.append(f"epoch {e}: schedule differs from the oracle")
            for k in ("urls_new", "urls_scheduled", "urls_deferred", "links_discovered"):
                if counters[e][k] != o.counters[e][k]:
                    notes.append(f"epoch {e}: {k} {counters[e][k]} != oracle {o.counters[e][k]}")
        seen = {r["url_norm"] for r in cat.read_delta_union("seen", last).select("url_norm").collect()}
        frontier = {
            (r["url_norm"], r["status"])
            for r in cat.read_merged("frontier", last).select("url_norm", "status").collect()
        }
        resume_ok = (
            last == N_EPOCHS - 1
            and seen == o.seen
            and frontier == {(n, row["status"]) for n, row in o.frontier.items()}
            and n_resolved == len(o.frontier)
        )
        if not resume_ok:
            notes.append("resume read: seen set or resolved frontier differs from the oracle")
        failed_epochs = {n.split(":")[0] for n in notes if n.startswith("epoch")}
        return {
            "attempted": N_EPOCHS + 1,
            "failed": len(failed_epochs) + (0 if resume_ok else 1),
            "notes": notes,
        }

    # ---- tracing -----------------------------------------------------------
    def _layer_patches(self, tracer) -> list:
        """Spans around the calls the epoch loop makes into each layer.

        Spark evaluates lazily, so a wrapper that only timed the call would
        time plan construction. The canonicalize, merge and anti-join
        wrappers therefore materialize the layer's output
        (``localCheckpoint``) inside the span, and the epoch's own block
        clean-up frees it at commit. ``schedule_epoch`` and ``Catalog.stage``
        /``commit_epoch`` already execute eagerly. Priority is a column
        expression evaluated inside the ingest job; its span evaluates the
        same expression over the anti-join's output on its own."""
        from pyspark.sql import functions as F

        from webcrawler_spark.functions import columns as C
        from webcrawler_spark.functions.urlnorm_native import is_simple_url
        from webcrawler_spark.operators import dedup as D
        from webcrawler_spark.operators import scheduler as S
        from webcrawler_spark.storage.catalog import Catalog

        def materialized(name, count_into=None, after=None):
            def make(orig):
                def wrapper(*args, **kwargs):
                    df = orig(*args, **kwargs)
                    with tracer.span(name) as rec:
                        df = df.localCheckpoint(eager=True)
                    if count_into is not None:
                        rec["rows_in"] = count_into(*args, **kwargs)
                        rec["rows_out"] = df.count()
                    if after is not None:
                        after(df)
                    return df
                return wrapper
            return make

        def native_rows(df, url_col="url", **_):
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.coalesce(is_simple_url(F.col(url_col)), F.lit(False)).cast("long")).alias("k"),
            ).first()
            return (r["k"] or 0, r["n"])

        def priority_span(new):
            with tracer.span("columns.priority"):
                new.select(
                    C.url_priority(F.col("url_norm"), F.col("depth"), F.col("source_priority")).alias("p")
                ).agg(F.sum("p")).collect()

        def patch(owner, attr, make):
            return mock.patch.object(owner, attr, make(getattr(owner, attr)))

        def timed(name, counters=True):
            def make(orig):
                def wrapper(*args, **kwargs):
                    with tracer.span(name, counters=counters):
                        return orig(*args, **kwargs)
                return wrapper
            return make

        return [
            patch(D, "canonicalize", materialized("urlnorm.canonicalize", count_into=native_rows)),
            patch(D, "merge_candidates", materialized(
                "dedup.merge", count_into=lambda canon: canon.count())),
            patch(D, "dedupe_new_urls", materialized(
                "dedup.antijoin", count_into=lambda merged, *a, **k: merged.count(),
                after=priority_span)),
            patch(S, "schedule_epoch", timed("scheduler.schedule")),
            # concurrent writes: durations only (see Tracer)
            patch(Catalog, "stage", timed("catalog.stage", counters=False)),
            patch(Catalog, "commit_epoch", timed("catalog.commit", counters=False)),
        ]

    def layer_metrics(self, spark, tracer, traced: list[dict]) -> dict:
        from pyspark.sql import functions as F

        from webcrawler_spark.operators import links as L

        n_pages = len(self.web["pages"])
        with tracer.span("links.extract"):
            n_links = L.extract_all_links(
                self.pages_prepared.select("url_norm", "html", F.lit(0).alias("depth")), 0
            ).count()

        n_traced = len(traced)
        canon = tracer.named("urlnorm.canonicalize")
        native = sum(s["rows_in"][0] for s in canon)
        rows = sum(s["rows_in"][1] for s in canon)
        merged_in = sum(s["rows_out"] for s in tracer.named("dedup.merge"))
        new_out = sum(s["rows_out"] for s in tracer.named("dedup.antijoin"))
        sched = tracer.named("scheduler.schedule")
        stages = tracer.named("catalog.stage")
        counters = [r["counters"] for r in traced]
        fetched = sum(r["items"] for r in traced)

        out = {
            "urlnorm.canonicalize_s": tracer.total("urlnorm.canonicalize") / n_traced,
            "urlnorm.cpu_s": tracer.total("urlnorm.canonicalize", "cpu_s") / n_traced,
            "urlnorm.native_share": native / rows if rows else 0.0,
            "dedup.merge_s": tracer.total("dedup.merge") / n_traced,
            "dedup.merge_shuffle_mb": tracer.total("dedup.merge", "shuffle_write_b") / 2**20 / n_traced,
            "dedup.antijoin_s": tracer.total("dedup.antijoin") / n_traced,
            "dedup.new_ratio": new_out / merged_in if merged_in else 0.0,
            "columns.priority_s": tracer.total("columns.priority") / n_traced,
            "scheduler.schedule_s": tracer.total("scheduler.schedule") / n_traced,
            "scheduler.shuffle_mb": tracer.total("scheduler.schedule", "shuffle_write_b") / 2**20 / n_traced,
            "scheduler.task_skew": max(sched, key=lambda s: s["run_ms"])["task_skew"],
            "scheduler.scheduled": sum(c["urls_scheduled"] for cs in counters for c in cs) / n_traced,
            "scheduler.deferred": sum(c["urls_deferred"] for cs in counters for c in cs) / n_traced,
            "epoch.jobs": sum(c["_telemetry"]["jobs"] for cs in counters for c in cs) / n_traced,
            "epoch.stages": sum(c["_telemetry"]["stages"] for cs in counters for c in cs) / n_traced,
            "catalog.stage_s": tracer.total("catalog.stage") / n_traced,
            "catalog.stage_max_s": max(s["end"] - s["start"] for s in stages),
            "catalog.write_mb": statistics.mean(r["write_bytes"] for r in traced) / 2**20,
            "catalog.write_bytes_per_page": sum(r["write_bytes"] for r in traced) / fetched,
            "catalog.commit_s": tracer.total("catalog.commit") / n_traced,
            "catalog.read_merged_s": tracer.total("catalog.read_merged") / n_traced,
            "links.extract_s": tracer.total("links.extract"),
            "links.per_page": n_links / n_pages,
            "pages.prepare_s": statistics.median(self.prepare_times),
        }
        out["epoch.e0_s"] = self.base_counters[0]["_telemetry"]["wall_seconds"]
        for i in range(1, N_EPOCHS):
            out[f"epoch.e{i}_s"] = statistics.mean(
                cs[i - 1]["_telemetry"]["wall_seconds"] for cs in counters
            )
        return out

    def summary(self, plain: list[dict]) -> list[tuple[str, list[float], str]]:
        return [
            ("crawl_pages_per_s", [r["items"] / r["crawl_s"] for r in plain], "1/s"),
            ("crawl_resume_s", [r["resume_s"] for r in plain], "s"),
        ]

    def close(self, spark) -> None:
        if self.pages_prepared is not None:
            self.pages_prepared.unpersist()

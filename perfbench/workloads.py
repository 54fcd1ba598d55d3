"""The two benchmark workloads.

Each workload is a closed loop with one client: the driver process issues
one user command through ``timesearch_spark.api`` (or
``operators.pipeline.curate_corpus``), waits for it, checks its output
against the generator's ground truth outside the timed region, then
issues the next.  ``setup`` generates the inputs, warms the JVM on the
workload's own code paths; ``measure`` repeats whole cycles until the
time budget has passed, at least one.

Why each workload exists is recorded in perfbench/README.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import gen

now = time.perf_counter


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def end_to_end(samples: dict[str, list[float]]) -> dict[str, tuple[float, str]]:
    """The cycle metrics of BENCHMARK.json over one workload's samples:
    median cycle wall time and median items per second."""
    return {
        "cycle_s": (median(samples.get("cycle_s")), "s"),
        "items_per_s": (median(samples.get("items_per_s")), "1/s"),
    }


class Checks:
    """Counts API calls and the calls whose output check failed.

    A call counts as failed once, however many of its checks fail; a call
    that raises is counted failed and the exception propagates."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.log: list[str] = []

    def call(self, name: str, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:
            self.failed += 1
            self.log.append(f"{name}: raised {exc!r}")
            raise

    def expect(self, name: str, pairs: list[tuple[str, object, object]]):
        """Compare (label, got, want) triples for the last call ``name``."""
        bad = [f"{label}: got {got!r}, want {want!r}"
               for label, got, want in pairs if got != want]
        if bad:
            self.failed += 1
            self.log.append(f"{name}: " + "; ".join(bad)[:2000])


class Workload:
    #: Each cycle is one closed-loop unit of user work.
    name = ""
    MIN_CYCLES = 1

    def __init__(self, spark, data_dir: str, seed: int, tracer):
        self.spark = spark
        self.data = data_dir
        self.seed = seed
        self.tr = tracer
        self.checks = Checks()
        self.cycles = 0
        #: phase name -> measured samples (seconds or rates)
        self.samples: dict[str, list[float]] = {}
        #: the samples each measured cycle added, in cycle order
        self.cycle_samples: list[dict[str, list[float]]] = []
        #: per-cycle phase timings, warm-up included (diagnostics only)
        self.phase_log: list[dict] = []
        #: streaming progress dicts of every drained micro-batch
        self.batches: list[dict] = []
        os.makedirs(data_dir, exist_ok=True)

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self, i: int) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        """Run whole cycles until ``seconds`` have passed and at least
        ``MIN_CYCLES`` have run.  A traced run traces only the odd cycles
        and runs at least three (untraced, traced, untraced), so the
        tracing overhead is measured inside one process and a cycle time
        still falling after warm-up biases neither side."""
        t0 = now()
        while True:
            traced = self.tr.enabled and self.cycles % 2 == 1
            self.tr.active = traced
            marks = {k: len(v) for k, v in self.samples.items()}
            self.cycle(self.cycles)
            self.cycle_samples.append({k: v[marks.get(k, 0):]
                                       for k, v in self.samples.items()})
            self.cycles += 1
            self.tr.cycle_done(traced)
            least = max(self.MIN_CYCLES, 3 if self.tr.enabled else 1)
            if self.cycles >= least and now() - t0 >= seconds:
                break
        self.tr.active = False

    def merged_samples(self, parity: int) -> dict[str, list[float]]:
        """The samples of the even (0) or odd (1) measured cycles."""
        out: dict[str, list[float]] = {}
        for cs in self.cycle_samples[parity::2]:
            for k, v in cs.items():
                out.setdefault(k, []).extend(v)
        return out

    # -- per-phase metrics; zero when the workload does not run the phase

    def phase_metrics(self) -> dict[str, tuple[float, str]]:
        s = self.samples
        return {
            "ingest_rows_per_s": (median(s.get("bulk_rows_per_s")), "rows/s"),
            "tail_batch_p50_s": (median(s.get("batch_s")), "s"),
            "tail_batch_count": (len(s.get("batch_s", [])), "count"),
            "tail_rows_per_s": (median(s.get("tail_rows_per_s")), "rows/s"),
            "store_bytes_per_input_byte":
                (median(s.get("store_bytes_ratio")), "ratio"),
            "listing_s": (median(s.get("listing_s")), "s"),
            "render_pages_per_s":
                (median(s.get("render_pages_per_s")), "pages/s"),
            "refresh_s": (median(s.get("refresh_s")), "s"),
            "curate_docs_per_s": (median(s.get("curate_docs_per_s")), "docs/s"),
            "failed_op_ratio": (
                self.checks.failed / max(1, self.checks.attempted),
                "fraction"),
        }

    # -- shared archive steps ----------------------------------------------

    def drain(self, name: str, archive, drop_dir: str) -> list[dict]:
        """One ``livestream(once=True, limit=1)`` call: every file in the
        drop directory becomes one micro-batch.  Returns the progress of
        the batches that carried rows."""
        from timesearch_spark import api

        def run():
            q = api.livestream(archive, drop_dir, once=True, limit=1)
            q.awaitTermination()
            return q.recentProgress

        progress = [json.loads(p.json)
                    for p in self.checks.call(name, run)]
        return [p for p in progress if p.get("numInputRows", 0) > 0]

    def check_archive(self, name: str, archive, truth: gen.ArchiveTruth,
                      edited: list[str]) -> None:
        """Snapshot row counts, the latest text of edited ids and one
        edit-log row per real edit (none for identical re-sends)."""
        from pyspark.sql import functions as F

        subs = archive.submissions.snapshot()
        coms = archive.comments.snapshot()
        got = {}
        for df, col in ((subs, "selftext"), (coms, "body")):
            for r in (df.filter(F.col("idstr").isin(edited))
                      .select("idstr", col).collect()):
                got[r["idstr"]] = r[col]
        self.checks.expect(name, [
            ("submissions", subs.count(), len(truth.subs)),
            ("comments", coms.count(), len(truth.coms)),
            ("edited text", got, {i: truth.last_edit[i] for i in edited}),
            ("submission edits", archive.submissions.edits().count(),
             truth.edits["submissions"]),
            ("comment edits", archive.comments.edits().count(),
             truth.edits["comments"]),
        ])


class ArchiveLifecycle(Workload):
    """One archive's life, on a fresh archive each cycle: bulk-load a
    dump, render every thread page, drain small delta files through
    livestream (one micro-batch per file), refresh the pages
    incrementally, then write the breakdown and the HTML index."""

    name = "archive_lifecycle"
    N_SUBS, N_COMMENTS = 300, 4_500
    N_DELTAS = 2
    #: per delta; new comments and edits land in ~1 % of threads each
    DELTA = dict(n_new=6, n_com_edits=4, n_sub_edits=2, n_resends=6)

    def setup(self) -> None:
        self.main = self._inputs("main", self.seed, self.N_SUBS,
                                 self.N_COMMENTS, self.N_DELTAS)
        # warm-up: the same commands on a small archive whose only delta
        # is a pure re-send, which must re-render nothing
        warm = self._inputs("warm", self.seed + 1, 30, 300, 0)
        self._run_cycle("warm", warm, record=False)

    def _inputs(self, tag: str, seed: int, n_subs: int, n_comments: int,
                n_deltas: int) -> dict:
        """Dump plus ``n_deltas`` mixed delta files, or one pure re-send
        file when ``n_deltas`` is 0."""
        g = gen.ArchiveGen(seed)
        dump = os.path.join(self.data, f"{tag}_dump.ndjson")
        g.write_dump(dump, n_subs, n_comments)
        drop = os.path.join(self.data, f"{tag}_drop")
        os.makedirs(drop)
        subs = sorted(g.truth.subs)
        k = max(1, len(subs) // 100)
        deltas = [g.write_delta(os.path.join(drop, f"delta_{i:04d}.json"),
                                threads=g.rng.sample(subs, k), **self.DELTA)
                  for i in range(n_deltas)]
        if not deltas:
            deltas = [g.write_resend(os.path.join(drop, "resend.json"), 10)]
        return {
            "dump": dump, "drop": drop, "truth": g.truth,
            "dump_counts": (n_subs, n_comments),
            "edited": sorted(g.truth.last_edit),
            "n_files": len(deltas),
            "touched": set().union(*(d.touched_threads for d in deltas)),
            "delta_rows": sum(d.rows for d in deltas),
            "input_bytes": os.path.getsize(dump) + dir_bytes(drop),
        }

    def cycle(self, i: int) -> None:
        self._run_cycle(f"c{i}", self.main, record=True)

    def _run_cycle(self, tag: str, inp: dict, record: bool) -> None:
        from timesearch_spark import api

        path = os.path.join(self.data, f"archive_{tag}")
        pages = os.path.join(self.data, f"pages_{tag}")
        truth = inp["truth"]
        ns, nc = inp["dump_counts"]
        ar = api.Archive(self.spark, path)

        with self.tr.span("bulk"):
            t = now()
            res = self.checks.call("ingest_jsonfile", api.ingest_jsonfile,
                                   ar, inp["dump"])
            bulk_s = now() - t
        self.checks.expect("ingest_jsonfile", [("counts", res, {
            "new_submissions": ns, "new_comments": nc,
            "total_submissions": ns, "total_comments": nc})])

        # the first incremental render is a full render into a fresh
        # directory that also writes the fingerprint manifest
        with self.tr.span("render"):
            t = now()
            n = self.checks.call("offline_reading", api.offline_reading,
                                 ar, pages, incremental=True)
            render_s = now() - t
        files = sum(1 for f in os.listdir(pages) if f.endswith(".html"))
        self.checks.expect("offline_reading", [
            ("pages returned", n, ns), ("page files", files, ns)])

        with self.tr.span("tail"):
            t = now()
            batches = self.drain("livestream", ar, inp["drop"])
            tail_s = now() - t
        self.checks.expect("livestream", [
            ("micro-batches", len(batches), inp["n_files"])])
        self.check_archive("livestream", ar, truth, inp["edited"])

        with self.tr.span("refresh"):
            t = now()
            n = self.checks.call("offline_reading", api.offline_reading,
                                 ar, pages, incremental=True)
            refresh_s = now() - t
        self.checks.expect("offline_reading", [
            ("re-rendered threads", n, len(inp["touched"]))])
        if record:
            self.tr.note("rerender_ratio", n / max(1, len(inp["touched"])))

        with self.tr.span("listing"):
            t = now()
            out = os.path.join(self.data, f"listing_{tag}")
            bd_path = self.checks.call("breakdown", api.breakdown, ar,
                                       sort="total_posts", out_dir=out)
            ix_path = self.checks.call("index", api.index, ar, out,
                                       html=True)
            listing_s = now() - t
        self._check_listing(bd_path, ix_path, truth)

        self.phase_log.append({"cycle": tag, "bulk_s": bulk_s,
                               "render_s": render_s, "tail_s": tail_s,
                               "refresh_s": refresh_s,
                               "listing_s": listing_s})
        if record:
            rows = ns + nc + inp["delta_rows"]
            self.add("bulk_rows_per_s", (ns + nc) / bulk_s)
            self.add("render_pages_per_s", ns / render_s)
            self.add("tail_rows_per_s", inp["delta_rows"] / tail_s)
            for p in batches:
                self.add("batch_s", p["durationMs"]["triggerExecution"] / 1e3)
            self.batches.extend(batches)
            self.add("refresh_s", refresh_s)
            self.add("listing_s", listing_s)
            self.add("store_bytes_ratio", dir_bytes(path) / inp["input_bytes"])
            self.add("cycle_s", bulk_s + render_s + tail_s + refresh_s
                     + listing_s)
            self.add("items_per_s", rows / (bulk_s + tail_s))
        for d in (path, pages, out):
            shutil.rmtree(d, ignore_errors=True)

    def _check_listing(self, bd_path: str, ix_path: str,
                       truth: gen.ArchiveTruth) -> None:
        with open(bd_path, encoding="utf-8") as f:
            got = json.load(f)
        self.checks.expect("breakdown", [
            ("per-author counts", got, truth.author_counts())])
        with open(ix_path, encoding="utf-8") as f:
            lines = sum(1 for line in f if line.startswith("<div>"))
        want = sum(1 for s in truth.subs.values() if s["score"] >= 0)
        self.checks.expect("index", [("listed submissions", lines, want)])


class CorpusCurate(Workload):
    """The default ``curate_corpus`` ladder over a seeded document
    corpus, written to parquet."""

    name = "corpus_curate"
    N_DOCS = 4_000
    #: a median of three: the first cycle after warm-up is the slowest
    #: (by 20-30 %), and short cycles are exposed to CPU-steal bursts
    MIN_CYCLES = 3
    N_FILES = 8

    def setup(self) -> None:
        self.corpus, self.truth = self._write("corpus", self.seed,
                                              self.N_DOCS)
        # curate time is mostly plan construction, whose cost does not
        # depend on corpus size, so a tenth of the corpus warms it up
        warm, warm_truth = self._write("warm", self.seed + 1,
                                       self.N_DOCS // 10)
        self._curate("warm", warm, warm_truth, record=False)

    def _write(self, tag: str, seed: int, n: int):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows, truth = gen.corpus_rows(seed, n)
        d = os.path.join(self.data, tag)
        os.makedirs(d)
        step = -(-len(rows) // self.N_FILES)
        for k in range(0, len(rows), step):
            part = rows[k:k + step]
            pq.write_table(pa.table({
                "doc_id": pa.array([r[0] for r in part], pa.int64()),
                "text": [r[1] for r in part],
            }), os.path.join(d, f"part-{k // step:03d}.parquet"))
        return d, truth

    def _curate(self, tag: str, corpus: str, truth: gen.CorpusTruth,
                record: bool) -> None:
        from timesearch_spark.operators import pipeline
        from timesearch_spark.operators.dedup import release_pins

        out = os.path.join(self.data, f"curated_{tag}")
        with self.tr.span("curate"):
            t = now()
            docs = self.spark.read.parquet(corpus)
            with self.tr.phase("construct"):
                cur = self.checks.call("curate_corpus", pipeline.curate_corpus,
                                       docs)
            with self.tr.phase("action"):
                cur.write.parquet(out)
            dt = now() - t
        release_pins(cur)
        self.phase_log.append({"cycle": tag, "curate_s": dt})
        kept = {r["doc_id"] for r in
                self.spark.read.parquet(out).select("doc_id").collect()}
        multi = [g for g in truth.exact_groups if len(kept & set(g)) > 1]
        self.checks.expect("curate_corpus", [
            ("exact groups with >1 survivor", multi, []),
            ("non-English survivors", sorted(kept & truth.non_en)[:5], []),
            ("short/repetitive survivors", sorted(kept & truth.junk)[:5], []),
        ])
        if record:
            self.add("curate_docs_per_s", truth.n_docs / dt)
            self.add("cycle_s", dt)
            self.add("items_per_s", truth.n_docs / dt)
            self.tr.note("kept_ratio", len(kept) / truth.n_docs)
        shutil.rmtree(out, ignore_errors=True)

    def cycle(self, i: int) -> None:
        self._curate(f"c{i}", self.corpus, self.truth, record=True)

WORKLOADS = {w.name: w for w in (ArchiveLifecycle, CorpusCurate)}

"""The benchmark workloads, driven through the package's public entry
points: pages and curate (the two in BENCHMARK.json), and spans and
serve, which are run by hand. The pages traced run measures the spans
and serving layers as well (see ``Pages.layers``).

Each workload has four phases, which ``run.py`` sequences:

- ``prepare``: build or load its seeded inputs (never timed);
- ``start`` + ``warm``: part of set-up (server start, one untimed pass);
- ``measure``: the timed window, repeated operations for ``seconds``
  (a batch window holds at least MIN_CALLS job calls, after ``settle``
  untimed calls that let the JIT finish warming up);
- ``check``: compare the last window's outputs with the package's
  reference implementations (``oracle.py``) or the jobs' invariants,
  returning (attempted, failed);

and, for a traced run, ``layers`` (after ``check``): per-module timings
and counts taken from the benchmark's own calls into each module,
returned with the (attempted, failed) counts of any output checks those
calls make.

Batch operations (spans, pages, curate) each get a fresh output
directory and a released operator cache, so no call resumes from
committed lineage or reuses a persisted table of the previous one.
Before each call a full GC on both sides of py4j lets Spark's context
cleaner drop what earlier calls left behind (the curation job's
localCheckpoints are only released when the JVM collects their RDDs):
without it curate's calls slow down as blocks pile up, and a window's
figure depends on how many calls came before it.
"""

from __future__ import annotations

import gc
import http.client
import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import inputs

CALLERS = 2  # closed-loop serve callers
MIN_CALLS = 4  # least job calls in a batch window, however short --seconds is


@dataclass
class Window:
    """One timed window: wall seconds per operation, and when it ran."""

    ops: list[float] = field(default_factory=list)
    t0: float = 0.0  # epoch seconds
    t1: float = 0.0
    results: list = field(default_factory=list)

    @property
    def median_s(self) -> float:
        return statistics.median(self.ops)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn) -> float:
    """Median wall seconds of two calls of a module probe."""
    walls = []
    for _ in range(2):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


class BatchWorkload:
    """A workload whose operation is one job call over the whole input."""

    name = ""
    n_docs = 0
    settle = 0  # untimed calls between set-up and the window
    extra_units: dict = {}

    def __init__(self, work_dir: str) -> None:
        self.work_dir = work_dir
        self.out_root = os.path.join(work_dir, "out", self.name)
        shutil.rmtree(self.out_root, ignore_errors=True)  # no stale lineage
        self._k = 0
        self.last_out = ""
        self.props: dict = {}

    def _fresh_out(self) -> str:
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self._k += 1
        self.last_out = os.path.join(self.out_root, f"call-{self._k}")
        return self.last_out

    def _call(self, spark):
        from deepseek_ocr_spark.operators import _cache

        out = self._fresh_out()
        _cache.release()
        gc.collect()  # drop py4j handles first, so the JVM can collect their objects
        spark._jvm.System.gc()
        time.sleep(0.2)  # the context cleaner runs on its own thread
        t = time.perf_counter()
        res = self.call(spark, out)
        wall = time.perf_counter() - t
        self.last_res = res
        return wall, res

    def start(self, spark) -> None:
        pass

    def stop(self) -> None:
        from deepseek_ocr_spark.operators import _cache

        _cache.release()  # its tables belong to the session about to stop

    def warm(self, spark) -> None:
        self._call(spark)

    def measure(self, spark, seconds: float, min_calls: int = MIN_CALLS) -> Window:
        for _ in range(self.settle):
            self._call(spark)
        w = Window(t0=time.time())
        deadline = time.perf_counter() + seconds
        while len(w.ops) < min_calls or time.perf_counter() < deadline:
            wall, res = self._call(spark)
            w.ops.append(wall)
            w.results.append(res)
        w.t1 = time.time()
        return w

    def end_to_end(self, w: Window) -> dict:
        return {"docs_per_s": self.n_docs / w.median_s}


# ---------------------------------------------------------------------------
# spans: pipeline B + the resumable lineage write path
# ---------------------------------------------------------------------------


class Spans(BatchWorkload):
    """Not in BENCHMARK.json's workloads: a run of set-up plus a window
    of MIN_CALLS job calls (about 4.5 s each at this size, mostly fixed
    per-call cost) does not fit the run budget beside pages and curate,
    so the pages traced run measures its layers instead. Run it by hand."""

    name = "spans"
    n_docs = 4_000
    sample = 256  # oracle-checked docs

    def prepare(self, cache_dir: str, seed: int) -> None:
        def build():
            rows = inputs.documents_rows(seed, self.n_docs)
            step = self.n_docs // self.sample
            return inputs.documents_table(rows), {
                "properties": inputs.span_properties(rows),
                "sample": rows[::step][: self.sample],
            }

        self.path, meta = inputs.cached(cache_dir, "documents", seed, self.n_docs, build)
        self.props = meta["properties"]
        self.sample_rows = meta["sample"]

    def call(self, spark, out: str) -> dict:
        from deepseek_ocr_spark import jobs

        return jobs.run_spans_job(spark, self.path, out)

    def check(self, spark) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from deepseek_ocr_spark.oracle import oracle_spans_doc

        ids = [d for d, _ in self.sample_rows]
        got = {
            r["doc_id"]: r
            for r in spark.read.parquet(f"{self.last_out}/spans")
            .filter(F.col("doc_id").isin(ids))
            .collect()
        }
        failed = 0
        for doc_id, spans in self.sample_rows:
            want = oracle_spans_doc(spans)
            r = got.get(doc_id)
            if r is None or [s.asDict() for s in r["spans"]] != want["spans"] or any(
                r[k] != v for k, v in want["metrics"].items()
            ):
                failed += 1
        return len(self.sample_rows), failed

    def layers(self, spark, w: Window, seconds: float) -> tuple[dict, int, int]:
        from pyspark.sql import functions as F

        from deepseek_ocr_spark.operators.spans_pipeline import extract_spans

        extract_s = _median_time(lambda: _noop(extract_spans(spark.read.parquet(self.path))))
        m = spark.read.parquet(f"{self.last_out}/metrics").agg(
            *[F.sum(c).alias(c) for c in
              ("blocks_kept", "blocks_dropped", "parse_failures", "media_spans")]
        ).collect()[0]
        p = "operators.spans_pipeline."
        return {
            p + "extract_s": extract_s,
            p + "blocks_kept": m["blocks_kept"],
            p + "blocks_dropped": m["blocks_dropped"],
            p + "parse_failures": m["parse_failures"],
            p + "media_spans": m["media_spans"],
            "plans.lineage.write_commit_s": w.median_s - extract_s,
        }, 0, 0


# ---------------------------------------------------------------------------
# pages: pipeline A (pandas UDF, one shuffle) + the markdown sink
# ---------------------------------------------------------------------------


class Pages(BatchWorkload):
    name = "pages"
    n_docs = 10_000
    # the JIT is still warming up after set-up: on a 4-core VM the next
    # call runs 10-40% slower than the ones after it, by an amount that
    # varies from run to run
    settle = 1
    sample = 256

    def prepare(self, cache_dir: str, seed: int) -> None:
        def build():
            docs = inputs.pages_docs(seed, self.n_docs)
            step = self.n_docs // self.sample
            return inputs.pages_table(docs), {
                "properties": inputs.page_properties([p for _, ps in docs for p in ps]),
                "sample": docs[::step][: self.sample],
            }

        self.path, meta = inputs.cached(cache_dir, "pages", seed, self.n_docs, build)
        self.cache_dir, self.seed = cache_dir, seed
        self.props = meta["properties"]
        self.sample_docs = meta["sample"]

    def call(self, spark, out: str):
        from deepseek_ocr_spark import jobs

        jobs.run_pages_job(spark, self.path, out)

    def check(self, spark) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from deepseek_ocr_spark.oracle import oracle_pdf_doc

        ids = [d for d, _ in self.sample_docs]
        docs = {
            r["doc_id"]: r
            for r in spark.read.parquet(f"{self.last_out}/documents")
            .filter(F.col("doc_id").isin(ids))
            .collect()
        }
        md = {
            r["doc_id"]: r["markdown"]
            for r in spark.read.parquet(f"{self.last_out}/markdown")
            .filter(F.col("doc_id").isin(ids))
            .collect()
        }
        failed = 0
        for doc_id, pages in self.sample_docs:
            want = oracle_pdf_doc(pages)
            r = docs.get(doc_id)
            ok = (
                r is not None
                and r["clean_text"] == want["clean_text"]
                and md.get(doc_id) == want["clean_text"]
                and [s.asDict() for s in r["spans"]] == want["spans"]
                and all(r[k] == v for k, v in want["metrics"].items())
            )
            failed += not ok
        return len(self.sample_docs), failed

    def layers(self, spark, w: Window, seconds: float) -> tuple[dict, int, int]:
        from deepseek_ocr_spark.operators.extraction import extract_pdf
        from deepseek_ocr_spark.sources.sinks import write_markdown_table

        extract_s = _median_time(lambda: _noop(extract_pdf(spark.read.parquet(self.path))))
        md_dir = os.path.join(self.out_root, "markdown-probe")
        markdown_s = _median_time(
            lambda: write_markdown_table(
                spark.read.parquet(f"{self.last_out}/documents"), md_dir
            )
        )
        shutil.rmtree(md_dir, ignore_errors=True)
        m = spark.read.parquet(f"{self.last_out}/metrics").collect()[0]
        p = "operators.extraction."
        out = {
            p + "extract_s": extract_s,
            p + "pages_in": m["pages_in"],
            p + "pages_kept": m["pages_kept"],
            p + "parse_failures": m["parse_failures"],
            "sources.sinks.markdown_s": markdown_s,
            "jobs.pages_write_s": w.median_s - extract_s - markdown_s,
        }
        # the serving layer runs the same extract_pdf as one small job
        # per request; measured here because serve is not in the rotation,
        # and every reply is checked as the serve workload checks it
        probe = ServeProbe(self.sample_docs[: Serve.pool])
        probe.start(spark)
        try:
            closed_loop(probe.post, n=Serve.warm_requests)
            replies = closed_loop(probe.post, seconds / 2)
            out.update(probe.layers(spark, replies, seconds / 2))
        finally:
            probe.stop()
        attempted, failed = probe.check(replies)

        # pipeline B and the lineage write path, which share no operator
        # with pipeline A, on span documents of the same seed; spans is
        # not in the rotation either, so its layers are measured here
        spans = Spans(self.work_dir)
        spans.prepare(self.cache_dir, self.seed)
        try:
            spans.warm(spark)
            sw = spans.measure(spark, 0, min_calls=2)
            n, bad = spans.check(spark)
            out.update(spans.layers(spark, sw, seconds)[0])
        finally:
            spans.stop()
        return out, attempted + n, failed + bad


# ---------------------------------------------------------------------------
# curate: curation job, then training prep on its output
# ---------------------------------------------------------------------------

SEQ_BUDGET = 2048  # run_training_prep_job's default sequence budget


class Curate(BatchWorkload):
    name = "curate"
    # a call is ~75 small jobs, whose fixed cost dominates: on a 4-core
    # VM 1.5k docs take ~7 s a call and 3k docs ~8.5 s, so the smaller
    # corpus fits a MIN_CALLS window in the run budget. There is no
    # settling call: the window's median damps the slower first call.
    n_docs = 1_500

    def prepare(self, cache_dir: str, seed: int) -> None:
        def build():
            table, pairs = inputs.flat_table(seed, self.n_docs)
            return table, {"pairs": pairs}

        self.path, meta = inputs.cached(cache_dir, "flat", seed, self.n_docs, build)
        self.pairs = meta["pairs"]
        self.props = {"planted_dup_share": len(self.pairs) / self.n_docs}
        self.gate_kept: set | None = None

    def call(self, spark, out: str) -> dict:
        from deepseek_ocr_spark import jobs

        cur = jobs.run_curation_job(spark, self.path, f"{out}/curated", keep_cols=("lang",))
        prep = jobs.run_training_prep_job(spark, f"{out}/curated/corpus", f"{out}/trainprep")
        return {"curation": cur, "trainprep": prep}

    def _gate_kept(self, spark) -> set:
        """doc_ids that pass the job's first two stages (PII redaction,
        Gopher repetition gate), run alone on the input. The package has
        no independent reference of the gate, so this fixes which planted
        pairs reach dedup and checks the job's wiring of the gate, not
        the gate itself."""
        if self.gate_kept is None:
            from pyspark.sql import functions as F

            from deepseek_ocr_spark.operators.quality import redact_pii, repetition_signals

            docs = redact_pii(spark.read.parquet(self.path).select("doc_id", "text"))
            dropped = {
                r["doc_id"] for r in repetition_signals(docs)
                .filter(~F.col("gopher_repetition_ok")).select("doc_id").collect()
            }
            ids = spark.read.parquet(self.path).select("doc_id").collect()
            self.gate_kept = {r["doc_id"] for r in ids} - dropped
        return self.gate_kept

    def check(self, spark) -> tuple[int, int]:
        """The gate keeps what the gate operator keeps on its own; each
        planted pair keeps exactly one survivor (none when the gate drops
        both); dedup removes exactly one row per planted pair that reaches
        it (no false collapse); holdout and mixed are disjoint; every
        mixed row is packed once; each normal pack started under budget
        (the packer's contract: only a pack's last document may overflow
        it) and each oversize pack is one document above budget."""
        from pyspark.sql import functions as F

        out = self.last_out
        kept = self._gate_kept(spark)
        survivors = {
            r["doc_id"] for r in spark.read.parquet(f"{out}/curated/corpus").select("doc_id").collect()
        }
        pair_fail = sum(
            (a in survivors) + (b in survivors) != min(1, (a in kept) + (b in kept))
            for a, b in self.pairs
        )
        both = [(a, b) for a, b in self.pairs if a in kept and b in kept]
        self.recall = sum((a in survivors) + (b in survivors) == 1 for a, b in both) / max(len(both), 1)
        cur = self.last_res["curation"]
        checks = [
            cur["after_repetition_gate"] == len(kept),
            cur["after_repetition_gate"] - cur["after_dedup"] == len(both),
        ]

        tp = f"{out}/trainprep"
        hold = spark.read.parquet(f"{tp}/holdout").select("doc_id")
        mixed = spark.read.parquet(f"{tp}/mixed")
        checks.append(hold.join(mixed.select("doc_id"), "doc_id").count() == 0)
        tokens = {
            r["k"]: r["n"]
            for r in mixed.select(
                F.concat_ws("#", F.col("doc_id").cast("string"), F.col("epoch").cast("string")).alias("k"),
                F.size(F.split("text", r"\s+")).alias("n"),
            ).collect()
        }
        packs = spark.read.parquet(f"{tp}/packs").collect()
        packed = [k for p in packs for k in p["doc_ids"]]
        checks.append(sorted(packed) == sorted(tokens))
        checks.append(all(
            (p["n_docs"] == 1 and p["total_tokens"] > SEQ_BUDGET)
            if p["oversize"]
            else p["total_tokens"] - tokens.get(p["doc_ids"][-1], 0) < SEQ_BUDGET
            for p in packs
        ))
        self.props["repetition_drop_share"] = 1 - cur["after_repetition_gate"] / cur["docs_in"]
        self.props["planted_pairs_reaching_dedup"] = len(both)
        return len(self.pairs) + len(checks), pair_fail + checks.count(False)

    def layers(self, spark, w: Window, seconds: float) -> tuple[dict, int, int]:
        """Stage seconds from the jobs' own stats (medians over the
        window), counts from its last call; run after ``check``."""

        def med(job: str, key: str) -> float:
            return statistics.median(r[job][key] for r in w.results)

        last = w.results[-1]
        return {
            "operators.quality.redact_repetition_s": med("curation", "sec_redact_repetition"),
            "operators.quality.after_repetition_gate": last["curation"]["after_repetition_gate"],
            "operators.dedup.dedup_collapse_s": med("curation", "sec_dedup_collapse"),
            "operators.dedup.after_dedup": last["curation"]["after_dedup"],
            "operators.dedup.planted_recall": self.recall,
            "operators.substring_dedup.excision_s": med("curation", "sec_substring_excision"),
            "jobs.curation_write_s": med("curation", "sec_write"),
            "operators.mixing.holdout_s": med("trainprep", "sec_holdout_split"),
            "operators.mixing.mix_s": med("trainprep", "sec_mix"),
            "operators.mixing.mixed_docs": last["trainprep"]["mixed_docs"],
            "operators.packing.pack_s": med("trainprep", "sec_pack"),
            "operators.packing.packs": last["trainprep"]["packs"],
            "jobs.trainprep_write_s": med("trainprep", "sec_write"),
        }, 0, 0


# ---------------------------------------------------------------------------
# serve: /process over loopback HTTP, one document per request
# ---------------------------------------------------------------------------


def closed_loop(fn, seconds: float = 0.0, n: int | None = None) -> list:
    """CALLERS threads, each calling ``fn(i)`` back to back (caller c
    takes i = c, c + CALLERS, ...) until ``seconds`` have passed or,
    with ``n``, until each has made n calls. Returns [(i, fn(i))]."""
    out: list[list] = [[] for _ in range(CALLERS)]
    errors: list[BaseException] = []
    deadline = time.perf_counter() + seconds

    def caller(c: int) -> None:
        i = c
        try:
            while (len(out[c]) < n) if n is not None else (time.perf_counter() < deadline):
                out[c].append((i, fn(i)))
                i += CALLERS
        except BaseException as e:  # re-raised on the main thread
            errors.append(e)

    threads = [threading.Thread(target=caller, args=(c,)) for c in range(CALLERS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return [r for rs in out for r in rs]


class ServeProbe:
    """An ExtractServer on loopback, a pool of documents to post and
    the spans ``oracle_pdf_doc`` expects for each."""

    def __init__(self, docs: list) -> None:
        from deepseek_ocr_spark.oracle import oracle_pdf_doc

        self.docs = docs
        self.want = [oracle_pdf_doc(pages)["spans"] for _, pages in docs]
        self.server = None

    def start(self, spark) -> None:
        from deepseek_ocr_spark.serving import ExtractServer

        self.server = ExtractServer(spark)
        self.server.start()

    def stop(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None

    def post(self, i: int) -> tuple[float, int, bytes]:
        """Seconds from send to the last response byte, status, body."""
        doc_id, pages = self.docs[i % len(self.docs)]
        body = json.dumps({"doc_id": doc_id, "pages": pages})
        conn = http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=120)
        try:
            t = time.perf_counter()
            conn.request("POST", "/process", body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
            return time.perf_counter() - t, resp.status, data
        finally:
            conn.close()

    def check(self, replies: list) -> tuple[int, int]:
        """(attempted, failed) over [(i, post(i))]: a reply fails unless
        it is a 200 whose spans equal the oracle's."""
        failed = sum(
            status != 200 or json.loads(data)["spans"] != self.want[i % len(self.docs)]
            for i, (_, status, data) in replies
        )
        return len(replies), failed

    def layers(self, spark, http_results: list, seconds: float) -> dict:
        """serving.process_document_ms: p50 of direct calls from the
        same closed loop without HTTP; http_overhead_ms: the HTTP p50
        minus that."""
        from deepseek_ocr_spark.serving import process_document

        def direct(i: int) -> float:
            doc_id, pages = self.docs[i % len(self.docs)]
            t = time.perf_counter()
            process_document(spark, doc_id, pages)
            return time.perf_counter() - t

        direct_ms = statistics.median(r for _, r in closed_loop(direct, seconds)) * 1000
        http_ms = statistics.median(r[0] for _, r in http_results) * 1000
        return {
            "serving.process_document_ms": direct_ms,
            "serving.http_overhead_ms": http_ms - direct_ms,
        }


class Serve:
    """Closed loop of CALLERS callers posting one document per request.

    Not in BENCHMARK.json's workloads: its set-up plus a window long
    enough for a stable p50 does not fit the run budget next to the
    batch workloads, so the pages traced run measures the serving layer
    instead. Run it by hand for request latency; a p95 needs at
    least 200 requests (ten beyond it): about --seconds 150 at the
    1.2-2 requests/s measured on a 4-core VM."""

    name = "serve"
    pool = 64  # distinct documents the callers cycle through
    warm_requests = 2  # per caller
    # printed beside BENCHMARK.json's end-to-end metrics
    extra_units = {"latency_p50_ms": "ms", "latency_p95_ms": "ms", "requests": "count"}

    def __init__(self, work_dir: str) -> None:
        self.props: dict = {}

    def prepare(self, cache_dir: str, seed: int) -> None:
        docs = inputs.pages_docs(seed, self.pool)
        self.probe = ServeProbe(docs)
        self.props = inputs.page_properties([p for _, ps in docs for p in ps])

    def start(self, spark) -> None:
        self.probe.start(spark)

    def stop(self) -> None:
        self.probe.stop()

    def warm(self, spark) -> None:
        closed_loop(self.probe.post, n=self.warm_requests)

    def measure(self, spark, seconds: float) -> Window:
        w = Window(t0=time.time())
        t = time.perf_counter()
        w.results = closed_loop(self.probe.post, seconds)
        self.elapsed = time.perf_counter() - t
        w.t1 = time.time()
        w.ops = [r[0] for _, r in w.results]
        self.last = w
        return w

    def end_to_end(self, w: Window) -> dict:
        q = statistics.quantiles(w.ops, n=20, method="inclusive")
        return {
            "docs_per_s": len(w.ops) / self.elapsed,  # one document per request
            "latency_p50_ms": w.median_s * 1000,
            "latency_p95_ms": q[18] * 1000,
            "requests": len(w.ops),
        }

    def check(self, spark) -> tuple[int, int]:
        return self.probe.check(self.last.results)

    def layers(self, spark, w: Window, seconds: float) -> tuple[dict, int, int]:
        out = self.probe.layers(spark, w.results, seconds / 2)
        seen = {i % self.pool: json.loads(r[2]) for i, r in w.results if r[1] == 200}
        for k in ("pages_in", "pages_kept", "parse_failures"):
            out["operators.extraction." + k] = sum(d[k] for d in seen.values())
        return out, *self.probe.check(w.results)


WORKLOADS = {w.name: w for w in (Spans, Pages, Curate, Serve)}

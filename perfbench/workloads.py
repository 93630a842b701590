"""The benchmark's four workloads.

Each workload drives the program only through its public functions and
offers the same steps to ``run.py``:

- ``prepare(rep)``: untimed per-repetition set-up (a fresh output path);
- ``run(state)``: one timed repetition, which consumes every result;
- ``check(state, out)``: compare every output with the expected outputs of
  ``gen.py``; returns ``(attempted, failed, broken)``, where ``broken``
  lists checks that fail the whole run;
- ``layers()``: the traced run's extra per-layer measurements, timed from
  outside around calls into one layer each.

``items`` is what one repetition finishes (turns, pages or documents).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from pdf_parse_new_spark.kernels import cinterp, pdfb
from pdf_parse_new_spark.operators import concat, dedup, extract
from pdf_parse_new_spark.plans import planner
from pdf_parse_new_spark.sources import checkpoint, lineage

import pdfgen

PAGES_PER_CHUNK = 200  # extract_pdf_files_chunked's default


class Tracer:
    """In-memory spans (name, start, end, parent) around calls into one
    layer; written out once at the end of a traced run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None,
                           "parent": self._stack[-1] if self._stack else None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *args, **kwargs) -> float:
    t0 = time.perf_counter()
    fn(*args, **kwargs)
    return time.perf_counter() - t0


def _median_of(n: int, fn) -> float:
    return statistics.median(_timed(fn) for _ in range(n))


def _check_pdf_doc(row, pages: list[str], info: dict) -> list[bool]:
    """Per expected page: is it right? A page is right when the document's
    text, page count, error and /Info are, and its ``page_spans`` entry
    covers exactly the page's text."""
    if row is None:
        return [False] * len(pages)
    whole = (row["text"] == pdfgen.expected_text(pages)
             and row["error"] is None and row["n_pages"] == len(pages)
             and json.loads(row["info"]) == info)
    spans = {s["page"]: (s["start"], s["end"]) for s in row["page_spans"] or []}
    return [whole and i in spans and row["text"][slice(*spans[i])] == want
            for i, want in enumerate(pages, 1)]


# ------------------------------------------------------------ transcripts --

class TurnsPipeline:
    """The ``scripts/run_pipeline.py`` job: plan, base commit, resume by
    anti-join, run stats, salted conversation concat to parquet."""

    def __init__(self, spark, inputs: str, scratch: str, tracer: Tracer):
        self.spark, self.scratch, self.tr = spark, scratch, tracer
        self.src = os.path.join(inputs, "transcripts")
        self.base_files = sorted(
            os.path.join(self.src, f) for f in os.listdir(self.src)
            if f.startswith("part-base-"))
        with open(os.path.join(inputs, "meta.json")) as f:
            self.meta = json.load(f)
        self.new_ids = set(self.meta["new_convs"])
        exp = pq.read_table(os.path.join(inputs, "expected_turns.parquet"))
        self.expected = {
            (c, t): (fam, txt, err, [tuple(s) for s in json.loads(sp)], npg)
            for c, t, fam, txt, err, sp, npg in zip(
                *(exp.column(k).to_pylist() for k in exp.column_names))
        }
        convs = pq.read_table(os.path.join(inputs, "expected_convs.parquet"))
        self.expected_convs = {
            r["conv_id"]: (r["full_text"], r["n_turns"], r["n_extracted"],
                           r["n_errors"])
            for r in convs.to_pylist()
        }
        self.expected_stats: dict[str, list[int]] = {}
        for fam, _txt, err, _sp, _np in self.expected.values():
            s = self.expected_stats.setdefault(fam, [0, 0])
            s[0] += 1
            s[1] += err is not None
        self.items = self.meta["turns"]
        self.plan = None

    def prepare(self, rep: int) -> str:
        out = os.path.join(self.scratch, f"pipeline-{rep}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def run(self, out: str) -> dict:
        spark, tr = self.spark, self.tr
        full = spark.read.parquet(self.src)
        base = spark.read.parquet(*self.base_files)
        with tr.span("planner.make_plan"):
            plan = planner.make_plan(full)
            planner.apply_plan(spark, plan)
        self.plan = plan
        with tr.span("checkpoint.run_incremental_base"):
            c1 = checkpoint.run_incremental(spark, base, out,
                                            partitions=plan.partitions)
        with tr.span("checkpoint.run_incremental_resume"):
            c2 = checkpoint.run_incremental(spark, full, out,
                                            partitions=plan.partitions)
        written = checkpoint.read_committed(spark, out)
        with tr.span("lineage.run_stats"):
            stats = [r.asDict() for r in lineage.run_stats(written).collect()]
        with tr.span("concat.salted"):
            convs = concat.concat_conversations_salted(
                written, block=plan.salt_block)
            convs.write.mode("overwrite").parquet(os.path.join(out, "conversations"))
        return {"base": c1, "resume": c2, "stats": stats}

    def check(self, out: str, res: dict) -> tuple[int, int, list[str]]:
        broken = []
        seen: dict[tuple, int] = {}
        failed = 0
        snaps = {}
        for kind in ("base", "resume"):
            dirs = res[kind].get("data_dirs") or []
            rows = []
            for d in dirs:
                rows.extend(pq.read_table(d, columns=[
                    "conv_id", "turn_idx", "family", "extracted_text",
                    "error", "spans", "n_pages"]).to_pylist())
            snaps[kind] = rows
        base_convs = {r["conv_id"] for r in snaps["base"]}
        resume_convs = {r["conv_id"] for r in snaps["resume"]}
        if resume_convs != self.new_ids:
            broken.append("resume extracted other conversations than the "
                          "ones missing from the base commit")
        if base_convs & self.new_ids:
            broken.append("base commit holds resumed conversations")
        for r in snaps["base"] + snaps["resume"]:
            key = (r["conv_id"], r["turn_idx"])
            seen[key] = seen.get(key, 0) + 1
            want = self.expected.get(key)
            got = (r["family"], r["extracted_text"], r["error"],
                   [(s["start"], s["end"], s["kind"]) for s in r["spans"] or []],
                   r["n_pages"])
            if want is None or got != want or seen[key] > 1:
                failed += 1
        failed += sum(1 for k in self.expected if k not in seen)
        attempted = len(self.expected)

        conv_rows = pq.read_table(os.path.join(out, "conversations")).to_pylist()
        got_convs = {r["conv_id"]: (r["full_text"], r["n_turns"],
                                    r["n_extracted"], r["n_errors"])
                     for r in conv_rows}
        attempted += len(self.expected_convs)
        failed += sum(got_convs.get(c) != v for c, v in self.expected_convs.items())
        failed += len(set(got_convs) - set(self.expected_convs))

        got_stats = {s["family"]: [s["n"], s["n_errors"]] for s in res["stats"]}
        if got_stats != self.expected_stats:
            broken.append(f"run_stats {got_stats} != {self.expected_stats}")
        return attempted, failed, broken

    def cleanup(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def layers(self) -> dict:
        spark, plan = self.spark, self.plan
        cols = ("conv_id", "turn_idx", "role", "text")
        full = spark.read.parquet(self.src)
        planned = full.select(*cols).repartition(
            plan.partitions, "conv_id", "turn_idx")

        def identity(batches):  # nested, so it is pickled by value
            yield from batches

        m = {
            "spark.scan_s": _median_of(3, lambda: _noop(full.select(*cols))),
            "spark.handoff_pandas_s": _median_of(3, lambda: _noop(
                planned.mapInPandas(identity, planned.schema))),
            "spark.handoff_arrow_s": _median_of(3, lambda: _noop(
                planned.mapInArrow(identity, planned.schema))),
            "extract.extract_turns_s": _median_of(3, lambda: _noop(
                extract.extract_turns(full, partitions=plan.partitions))),
        }
        out = self.prepare(10_000)
        checkpoint.run_incremental(spark, full, out, partitions=plan.partitions)
        written = checkpoint.read_committed(spark, out)
        m["lineage.partition_manifest_s"] = _median_of(
            3, lambda: lineage.partition_manifest(written))
        m["checkpoint.output_mb"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(out) for f in fs) / 1e6
        self.cleanup(out)
        m.update(self._kernels())
        for name in ("planner.make_plan", "checkpoint.run_incremental_base",
                     "checkpoint.run_incremental_resume", "lineage.run_stats",
                     "concat.salted"):
            m[name + "_s"] = self.tr.median(name)
        m["turns"] = self.meta["turns"]
        m["turns_resumed"] = self.meta["turns_resumed"]
        m["convs"] = self.meta["convs"]
        m.update(dedup_layers(self.spark, self.meta["seed"], self.tr))
        return m

    def _kernels(self) -> dict:
        """In-process, single-threaded kernel time per turn, by family
        kernel and for the whole dispatcher."""
        from pdf_parse_new_spark import kernels
        from pdf_parse_new_spark.kernels import htmlk, pdfk, plaink

        texts = pq.read_table(self.src, columns=["text"]).column("text").to_pandas()
        texts = texts.fillna("")
        is_bin = texts.str.contains("\x00", regex=False)
        is_pdf = texts.str.startswith("%PDF-") & ~is_bin
        head = texts.str.lstrip().str.slice(0, 16).str.lower()
        is_html = (head.str.startswith("<!doctype")
                   | head.str.startswith("<html")) & ~is_bin & ~is_pdf
        is_plain = ~(is_bin | is_pdf | is_html)
        m = {"kernels.extract_batch_us_per_turn":
             _timed(kernels.extract_batch, texts) / len(texts) * 1e6}
        for name, mod, sel in (("pdfk", pdfk, is_pdf), ("htmlk", htmlk, is_html),
                               ("plaink", plaink, is_plain)):
            part = texts[sel]
            m[f"kernels.{name}_us_per_turn"] = (
                _timed(mod.extract, part) / max(len(part), 1) * 1e6)
        return m


# -------------------------------------------------------------------- PDF --

class PdfDocs:
    """Thousands of small PDFs read by path through ``extract_pdf_files``."""

    def __init__(self, spark, inputs: str, scratch: str, tracer: Tracer):
        self.spark, self.scratch, self.tr = spark, scratch, tracer
        with open(os.path.join(inputs, "meta.json")) as f:
            self.meta = json.load(f)
        with open(os.path.join(inputs, "expected.json")) as f:
            self.expected = json.load(f)
        self.docdir = os.path.join(inputs, "docs")
        self.paths = [os.path.abspath(os.path.join(self.docdir, n))
                      for n in sorted(self.expected)]
        self.items = self.meta["pages"]

    def prepare(self, rep: int):
        return None

    def run(self, _state):
        import pandas as pd

        df = self.spark.createDataFrame(pd.DataFrame({"path": self.paths}))
        cores = self.spark.sparkContext.defaultParallelism
        with self.tr.span("extract.extract_pdf_files"):
            return extract.extract_pdf_files(
                df, partitions=4 * cores).toArrow().to_pylist()

    def check(self, _state, rows) -> tuple[int, int, list[str]]:
        by_name = {os.path.basename(r["doc_id"]): r for r in rows}
        failed = 0
        for name, want in self.expected.items():
            if not all(_check_pdf_doc(by_name.get(name), want["pages"],
                                      pdfgen.info_dict(want["dialect"]))):
                failed += 1
        extra = len(set(by_name) - set(self.expected))
        return len(self.expected) + extra, failed + extra, []

    def cleanup(self, state) -> None:
        pass

    def layers(self) -> dict:
        raws = {}
        t_read = time.perf_counter()
        for p in self.paths:
            with open(p, "rb") as f:
                raws[os.path.basename(p)] = f.read()
        m = {"io.read_s": time.perf_counter() - t_read}
        t_doc, t_parse, pages = {}, {}, {}
        for name, raw in raws.items():
            kind = "type0" if self.expected[name]["dialect"] == "type0" else "simple"
            t_doc[kind] = t_doc.get(kind, 0.0) + _timed(pdfb.Document, raw)
            t_parse[kind] = t_parse.get(kind, 0.0) + _timed(pdfb.parse_pdf_bytes, raw)
            pages[kind] = pages.get(kind, 0) + len(self.expected[name]["pages"])
        m["pdfb.document_us_per_doc"] = sum(t_doc.values()) / len(raws) * 1e6
        for kind in ("type0", "simple"):
            m[f"pdfb.parse_us_per_page_{kind}"] = (
                (t_parse[kind] - t_doc[kind]) / pages[kind] * 1e6)
        m["cinterp.interpret_us_per_page"] = _interpret_us(
            [p for n, e in self.expected.items() if e["dialect"] != "type0"
             for p in e["pages"]])
        m["extract.extract_pdf_files_s"] = self.tr.median("extract.extract_pdf_files")
        m["docs"] = self.meta["docs"]
        m["pages"] = self.meta["pages"]
        m["pages_type0"] = self.meta["pages_type0"]
        print(f"perfbench: Type0 pages are {pages['type0'] / sum(pages.values()):.1%} "
              f"of pages and {t_parse['type0'] / sum(t_parse.values()):.1%} of "
              "in-process parse time", file=sys.stderr)
        m.update(huge_layers(self.spark, self.scratch, self.meta["seed"]))
        return m


def _interpret_us(pages: list[str]) -> float:
    """C content-stream interpreter time per page, on the decoded content
    streams the generator wrote."""
    streams = [pdfgen.content(p.split("\n"), two_byte=False) for p in pages]
    t0 = time.perf_counter()
    for s in streams:
        cinterp.interpret(s)
    return (time.perf_counter() - t0) / len(streams) * 1e6


def huge_layers(spark, scratch: str, seed: int) -> dict:
    """Chunk orchestration on one 20,000-page simple-font document: the
    driver-side structure probe, the per-chunk parse, and
    ``extract_pdf_files_chunked`` against ``extract_pdf_files`` (one task).
    Each call reads the document at a path it has not seen, so no probe
    result cached by path can serve it. A wrong page fails the run."""
    import random

    import pandas as pd

    import gen

    cfg = gen.SIZES["pdf_huge"]
    pages = gen.doc_pages(random.Random(f"pdf_huge:{seed}"), cfg["pages"],
                          cfg["lines"])
    raw = pdfgen.build("simple", pages)
    texts = ["\n".join(p) for p in pages]
    n = len(pages)

    def extract_fresh(fn, k: int) -> float:
        path = os.path.abspath(os.path.join(scratch, f"huge-{k}.pdf"))
        with open(path, "wb") as f:
            f.write(raw)
        df = spark.createDataFrame(pd.DataFrame({"path": [path]}))
        t0 = time.perf_counter()
        rows = fn(df).toArrow().to_pylist()
        dt = time.perf_counter() - t0
        os.remove(path)
        ok = _check_pdf_doc(rows[0] if len(rows) == 1 else None, texts,
                            pdfgen.info_dict("simple"))
        if not all(ok):
            raise RuntimeError(
                f"{fn.__name__}: {ok.count(False)} of {n} pages wrong")
        return dt

    # the first chunked call pays the session's one-off planning costs
    chunked = [extract_fresh(extract.extract_pdf_files_chunked, k) for k in (0, 1)]
    single = extract_fresh(extract.extract_pdf_files, 2)
    starts = [k * n // 5 // PAGES_PER_CHUNK * PAGES_PER_CHUNK for k in range(5)]
    chunk = statistics.median(
        _timed(pdfb.parse_pdf_bytes, raw, page_range=(s, s + PAGES_PER_CHUNK))
        for s in starts)
    return {
        "pdfb.probe_s": _timed(pdfb.parse_pdf_bytes, raw, page_range=(0, 0)),
        "pdfb.parse_us_per_page_chunk": chunk / PAGES_PER_CHUNK * 1e6,
        "extract.extract_pdf_files_chunked_s": chunked[1],
        "extract.extract_pdf_files_single_s": single,
        "chunks": -(-n // PAGES_PER_CHUNK),
    }


# ------------------------------------------------------------------ dedup --

def _keyed(query: str, rows) -> dict:
    """Pair rows by (id1, id2) -> score; SimHash rows by doc_id -> (hex,
    bucket)."""
    if query == "simhash":
        return {r[0]: (r[1], r[2]) for r in rows}
    return {(r[0], r[1]): r[2] for r in rows}


class DedupPairs:
    """The four declared dedup queries over generated documents."""

    QUERIES = (
        ("dedup.jaccard_join", "jaccard",
         lambda d: dedup.jaccard_join(d, threshold=0.6)),
        ("dedup.containment_join", "containment",
         lambda d: dedup.containment_join(d, threshold=0.8)),
        ("dedup.minhash_dedup_pairs", "minhash",
         lambda d: dedup.minhash_dedup_pairs(d, threshold=0.9)),
        ("dedup.simhash_md5_buckets", "simhash",
         lambda d: dedup.simhash_md5_buckets(d)),
    )

    def __init__(self, spark, inputs: str, tracer: Tracer):
        self.spark, self.tr = spark, tracer
        self.path = os.path.join(inputs, "documents.parquet")
        with open(os.path.join(inputs, "meta.json")) as f:
            self.meta = json.load(f)
        with open(os.path.join(inputs, "expected.json")) as f:
            exp = json.load(f)
        self.expected = {k: _keyed(k, rows) for k, rows in exp.items()}

    def run(self, _state) -> dict:
        docs = self.spark.read.parquet(self.path)
        out = {}
        for span, key, fn in self.QUERIES:
            with self.tr.span(span):
                out[key] = [tuple(r) for r in fn(docs).collect()]
        return out

    def check(self, _state, out: dict) -> tuple[int, int, list[str]]:
        attempted = failed = 0
        for key, want in self.expected.items():
            got = _keyed(key, out[key])
            for k in set(want) | set(got):
                attempted += 1
                a, b = want.get(k), got.get(k)
                if key == "simhash":
                    good = a is not None and a == b
                else:
                    good = (a is not None and b is not None
                            and abs(a - b) <= 1e-9)
                failed += not good
        return attempted, failed, []

    def layers(self) -> dict:
        m = {f"{span}_s": self.tr.median(span) for span, _, _ in self.QUERIES}
        m["docs"] = self.meta["docs"]
        for k in ("jaccard", "containment", "minhash"):
            m[f"pairs.{k}"] = self.meta[f"pairs.{k}"]
        return m


def dedup_layers(spark, seed: int, tr: Tracer) -> dict:
    """The four dedup queries over the seed's generated documents: one
    warm-up and two checked repetitions. A wrong output row fails the run."""
    import gen

    wl = DedupPairs(spark, gen.ensure("dedup_pairs", seed), tr)
    for _ in range(3):
        attempted, failed, _ = wl.check(None, wl.run(None))
        if failed:
            raise RuntimeError(f"dedup: {failed} of {attempted} rows wrong")
    for span, _, _ in wl.QUERIES:  # drop the warm-up repetition
        tr.spans.remove(next(x for x in tr.spans if x["name"] == span))
    return wl.layers()


WORKLOADS = {
    "turns_pipeline": TurnsPipeline,
    "pdf_docs": PdfDocs,
}

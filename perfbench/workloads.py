"""The benchmark's workloads.

Each workload generates its inputs from the seed and builds any day-1
state in ``setup``, makes one untimed cold call in ``warm_up``, readies
the next call's input and state in ``prepare`` (untimed), makes the
timed call in ``call`` (returning the rows it brought to a final state),
verifies the last call's committed output in ``check`` and compares
with the references in ``final_check``.  Checks append messages to
``self.errors``; a non-empty list fails the run.
"""

from __future__ import annotations

import json
import linecache
import os
import random
import shutil

from pyspark.sql import functions as F

import checks
import sparkprobe
from longtail import LongTailCorpus, write_parquet

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected_hashes.json")
HARNESS_SAMPLE = 100


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


class Workload:
    name = ""
    default_pages = 0

    def __init__(self, spark, seed: int, run_dir: str, pages: int | None):
        self.spark, self.seed, self.dir = spark, seed, run_dir
        self.n = pages or self.default_pages
        self.errors: list[str] = []
        self.error_rows = 0          # status='error' rows + missing rows
        self.hashes: dict = {}

    @property
    def expected_rows(self) -> int:
        """Rows one timed call should bring to a final state."""
        return self.n

    # -- hooks -----------------------------------------------------------
    def setup(self) -> None: ...
    def warm_up(self) -> None: ...
    def prepare(self) -> None: ...
    def call(self) -> int: raise NotImplementedError
    def check(self) -> None: ...
    def final_check(self, ref_rows: dict | None = None) -> None: ...
    def sample_pages(self, warm: bool = False) -> list: return []
    def pipeline_metrics(self, window: dict) -> dict: return {}

    # -- helpers ---------------------------------------------------------
    def fail(self, msg: str) -> None:
        self.errors.append(msg)

    def recorded(self) -> dict | None:
        """The recorded hashes for (workload, size, seed), if any."""
        return load_expected().get(self.name, {}).get(f"{self.n}/{self.seed}")

    def check_recorded(self, got: dict) -> None:
        for k, v in (self.recorded() or {}).items():
            if got.get(k) != v:
                self.fail(f"{k}: {got.get(k)} != recorded {v}")

    def compare_reference(self, got: dict, ref_rows: dict) -> None:
        """Spark output for the harness sample (``per_url_hashes``) must
        equal the single-process layer composition, url by url (text and
        every chunk field)."""
        bad = [u for u, v in ref_rows.items() if got.get(u) != v]
        if bad:
            self.fail(f"{len(bad)} sampled urls differ from the layer "
                      f"harness, e.g. {bad[:3]}")


# ------------------------------------------------------------- W1
class StageRepeat(Workload):
    """pages_df cached in memory → extract_pages → noop sink."""
    name = "stage_repeat"
    default_pages = 3000

    def setup(self):
        from ragflow_core16_spark.datagen.pages import pages_df
        self.pages = pages_df(self.spark, self.n, self.seed).cache()
        if self.pages.count() != self.n:
            self.fail("pages_df row count")

    def warm_up(self):
        # the warm-up pass is also the checked pass: same call, same input
        from ragflow_core16_spark.operators.extract import extract_pages
        out = extract_pages(self.pages).cache()
        self.hashes = checks.extracted_hashes(out)
        if self.hashes["rows"] != self.n:
            self.fail(f"extracted rows {self.hashes['rows']} != {self.n}")
        self.error_rows = out.filter(F.col("status") != "ok").count()
        self.sample_out = checks.per_url_hashes(
            out, [p[0] for p in self.sample_pages()])
        # uncached before timing, or the timed plan would read this cache
        out.unpersist()

    def call(self):
        from ragflow_core16_spark.operators.extract import extract_pages
        extract_pages(self.pages).write.format("noop").mode("overwrite") \
            .save()
        return self.n

    def sample_pages(self, warm=False):
        from ragflow_core16_spark.datagen.pages import generate_page
        ids = _sample_ids(self.seed, range(self.n), warm)
        return [(u, t, h, l) for u, t, h, _, l in
                (generate_page(i, self.seed) for i in ids)]

    def final_check(self, ref_rows=None):
        if ref_rows:
            self.compare_reference(self.sample_out, ref_rows)
        self.check_recorded(self.hashes)


def _sample_ids(seed: int, ids, warm: bool) -> list:
    """Two disjoint fixed-size samples of ``ids``: the measured one and a
    warm-up one (fills per-process memos with the workload's vocabulary
    without pre-seeing the measured pages)."""
    ids = list(ids)
    random.Random(f"{seed}:sample").shuffle(ids)
    k = min(HARNESS_SAMPLE, len(ids) // 2)
    return sorted(ids[k:2 * k] if warm else ids[:k])


# ------------------------------------------------------------- W2
class JobLongtail(Workload):
    """run_extraction over a long-tail parquet input into a fresh
    warehouse.  Every call reads a new ``part`` of the seed's corpus, so
    worker-side memos never see a page twice."""
    name = "job_longtail"
    default_pages = 1000

    def setup(self):
        self.part = -1
        self.input = None
        self.wh = os.path.join(self.dir, "warehouse")

    def warm_up(self):
        # one cold call on a quarter-size part (the JVM and worker start
        # costs do not depend on size); its tables are checked like the
        # last timed call's and compared with the recorded hashes
        self.prepare(max(1, self.n // 4))
        self.call()
        self.check()
        self.check_recorded(self.hashes)

    def _pages(self):
        return self.spark.read.parquet(self.input)

    def prepare(self, n: int | None = None):
        if self.input:
            os.remove(self.input)
        self.part += 1
        self.cur_n = n or self.n
        self.input = os.path.join(self.dir, f"input-{self.part}.parquet")
        self.input_bytes = write_parquet(self.input, self.seed, self.cur_n,
                                         self.part)
        shutil.rmtree(self.wh, ignore_errors=True)
        self.spark.catalog.clearCache()
        self.wh_before = (0, 0)

    def call(self):
        from ragflow_core16_spark.pipeline.run import run_extraction
        self.summary = run_extraction(self.spark, self._pages(), self.wh)
        self.last_rows = int(self.summary["rows"])
        return self.last_rows

    def check(self):
        """The committed tables of the last call: chunks/ equals the
        extracted chunk arrays, lineage holds every url exactly once."""
        ext = self.spark.read.parquet(os.path.join(self.wh, "extracted"))
        h = checks.extracted_hashes(ext)
        flat = checks.chunk_table_hash(
            self.spark.read.parquet(os.path.join(self.wh, "chunks")))
        if flat != {"chunk_hash": h["chunk_hash"],
                    "chunk_rows": h["chunk_rows"]}:
            self.fail(f"chunks/ table {flat} != extracted chunks {h}")
        lin = self.spark.read.parquet(os.path.join(self.wh, "lineage"))
        n_lin, n_url = lin.agg(F.count(F.lit(1)),
                               F.countDistinct("url")).collect()[0]
        if not (n_lin == n_url == self.cur_n):
            self.fail(f"lineage holds {n_lin} rows / {n_url} urls, "
                      f"want each of {self.cur_n} urls once")
        bad = ext.filter(F.col("status") != "ok").count()
        self.error_rows = max(self.error_rows,
                              bad + abs(self.cur_n - h["rows"]))
        self.hashes = h

    def sample_pages(self, warm=False):
        corpus = LongTailCorpus(self.seed, self.cur_n, self.part)
        ids = _sample_ids(self.seed, self._new_ids(), warm)
        return [(u, t, h, l) for u, t, h, _, l in map(corpus.page, ids)]

    def _new_ids(self):
        return range(self.cur_n)

    def final_check(self, ref_rows=None):
        if ref_rows:
            ext = self.spark.read.parquet(os.path.join(self.wh, "extracted"))
            self.compare_reference(checks.per_url_hashes(ext, ref_rows),
                                   ref_rows)

    def pipeline_metrics(self, window):
        out = attribute_jobs(
            window["jobs"], RUN_RULES, "pipeline/run.py",
            extra={"pipeline/partitioning.py":
                   "pipeline.partitioning.stats_s"})
        out["pipeline.run.files_written"] = float(
            _files(self.wh) - self.wh_before[1])
        out["pipeline.run.bytes_written_per_input_byte"] = (
            (_du(self.wh) - self.wh_before[0]) / self.input_bytes)
        out["pipeline.run.resume_skipped_frac"] = (
            1.0 - self.last_rows / self.cur_n)
        return out


# ------------------------------------------------------------- W3
class ResumeCommit(JobLongtail):
    """A job_longtail part with 90% already committed (day 1, rebuilt
    untimed before every call); the timed call is the resume over the
    full input."""
    name = "resume_commit"
    COMMITTED = 0.9

    @property
    def expected_rows(self):
        return self.n - int(self.n * self.COMMITTED)

    def prepare(self, n: int | None = None):
        from ragflow_core16_spark.pipeline.run import run_extraction
        super().prepare(n)
        self.n_done = int(self.cur_n * self.COMMITTED)
        corpus = LongTailCorpus(self.seed, self.cur_n, self.part)
        urls = [corpus.page(i)[0] for i in range(self.n_done)]
        run_extraction(self.spark,
                       self._pages().filter(F.col("url").isin(urls)), self.wh)
        self.wh_before = (_du(self.wh), _files(self.wh))

    def call(self):
        rows = super().call()
        if rows != self.cur_n - self.n_done:
            self.fail(f"resume extracted {rows} rows, "
                      f"want {self.cur_n - self.n_done}")
        return rows

    def _new_ids(self):
        return range(self.n_done, self.cur_n)

    def final_check(self, ref_rows=None):
        # the resumed table must equal the one-shot extraction of the
        # same input (job_longtail's table)
        from ragflow_core16_spark.operators.extract import extract_pages
        one_shot = checks.extracted_hashes(extract_pages(self._pages()))
        if one_shot != self.hashes:
            self.fail(f"resumed extracted/ {self.hashes} != one-shot "
                      f"{one_shot}")
        super().final_check(ref_rows)


# ------------------------------------------------------------- W4
DELTA_KINDS = ("minhash_sigwide", "dedup_pairs", "dedup_labels",
               "simhash_fp", "decon_bench_grams", "decon_train_grams",
               "web_decisions", "term_postings", "doc_stats")
CHECKED_KINDS = ("web_decisions", "dedup_pairs", "dedup_labels",
                 "term_postings")


class CurateDelta(Workload):
    """Day-2 merge: incremental_update of a 10% documents batch into a
    day-1 base whose index tables are built in setup."""
    name = "curate_delta"
    default_pages = 3000

    def setup(self):
        self.write_inputs()
        _build_index(self.spark, self.day1)

    def write_inputs(self):
        from ragflow_core16_spark.datagen.documents import generate_document
        self.batch_n = max(1, self.n // 10)
        self.day1 = os.path.join(self.dir, "day1")
        self.batch = os.path.join(self.dir, "batch")
        self.comb = os.path.join(self.dir, "combined")
        self.wh = os.path.join(self.dir, "curation")
        os.environ["RAG_CURATION_DIR"] = self.wh
        base = [generate_document(i, self.seed) for i in range(self.n)]
        new = [generate_document(i, self.seed)
               for i in range(self.n, self.n + self.batch_n)]
        _write_docs(self.day1, base)
        _write_docs(self.batch, new)
        _write_docs(self.comb, base + new)

    @property
    def expected_rows(self):
        return self.batch_n

    def prepare(self):
        from ragflow_core16_spark.operators.dedup import reset_shared_cache
        from ragflow_core16_spark.pipeline.snapshot_cache import table_path
        reset_shared_cache()
        self.spark.catalog.clearCache()
        for kind in DELTA_KINDS:
            shutil.rmtree(table_path(kind, self.comb), ignore_errors=True)

    def call(self):
        from ragflow_core16_spark.pipeline.incremental import \
            incremental_update
        self.paths = incremental_update(self.spark, self.day1, self.batch,
                                        self.comb)
        return self.batch_n

    def check(self):
        self.hashes = {
            k: checks.value_hash(self.spark.read.parquet(self.paths[k]))
            for k in CHECKED_KINDS}

    def final_check(self, ref_rows=None):
        want = self.recorded() or self._cached_rebuild_hashes()
        for k in CHECKED_KINDS:
            if self.hashes.get(k) != want.get(k):
                self.fail(f"{k}: delta {self.hashes.get(k)} != rebuild "
                          f"{want.get(k)}")

    def _cached_rebuild_hashes(self) -> dict:
        """The rebuild is computed once per (size, seed, engine source) in
        a checkout and reused by later runs of the same combination."""
        path = os.path.join(HERE, "_cache", f"rebuild-{self.n}-{self.seed}-"
                            f"{_engine_fingerprint()}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        want = self.rebuild_hashes()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(want, f)
        os.replace(path + ".tmp", path)
        return want

    def rebuild_hashes(self) -> dict:
        from ragflow_core16_spark.operators.dedup import reset_shared_cache
        from ragflow_core16_spark.pipeline.snapshot_cache import read_table
        os.environ["RAG_CURATION_DIR"] = os.path.join(self.dir, "rebuild")
        try:
            reset_shared_cache()
            self.spark.catalog.clearCache()
            _build_index(self.spark, self.comb)
            return {k: checks.value_hash(read_table(self.spark, k, self.comb))
                    for k in CHECKED_KINDS}
        finally:
            os.environ["RAG_CURATION_DIR"] = self.wh

    def pipeline_metrics(self, window):
        out = attribute_jobs(window["jobs"], INCREMENTAL_RULES,
                             "pipeline/incremental.py", outermost=True)
        out["pipeline.snapshot_cache.bytes_written"] = float(sum(
            _du(p) for p in self.paths.values()))
        return out


def _write_docs(sf_dir: str, rows: list) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ragflow_core16_spark.datagen.documents import DOCUMENTS_SCHEMA
    cols = list(zip(*rows))
    names = [f.name for f in DOCUMENTS_SCHEMA.fields]
    types = (pa.int64(), pa.string(), pa.string(), pa.string(), pa.int64())
    table = pa.table({n: pa.array(c, t) for n, c, t in
                      zip(names, cols, types)})
    os.makedirs(os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet",
                                       "part-00000.parquet"))


def _build_index(spark, sf_dir: str) -> None:
    """The full curate/index build of one corpus snapshot."""
    from ragflow_core16_spark.operators.dedup import materialize_dedup_index
    from ragflow_core16_spark.operators.retrieval import \
        materialize_retrieval_index
    from ragflow_core16_spark.operators.training import \
        materialize_decon_index
    from ragflow_core16_spark.operators.webclean import \
        materialize_web_decisions
    materialize_dedup_index(spark, sf_dir)
    materialize_web_decisions(spark, sf_dir)
    materialize_decon_index(spark, sf_dir)
    materialize_retrieval_index(spark, sf_dir)


def _engine_fingerprint() -> str:
    """md5 over the Python sources of the engine package and of this
    benchmark (whose generators and hashes the cached values depend on)."""
    import hashlib
    h = hashlib.md5()
    for root in (sparkprobe.PKG_DIR, HERE):
        for d, dirs, files in sorted(os.walk(root)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    with open(os.path.join(d, name), "rb") as f:
                        h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


# ------------------------------------------- job → engine-layer attribution
RUN_RULES = (("collect", "pipeline.run.summary_s"),
             ("read.parquet", "pipeline.run.read_s"),
             ("lineage", "pipeline.run.lineage_write_s"),
             ("metrics", "pipeline.run.metrics_write_s"),
             ("chunks", "pipeline.run.chunks_write_s"),
             ("extracted", "pipeline.run.extract_write_s"))
INCREMENTAL_RULES = (("web_decisions", "pipeline.incremental.web_decisions_s"),
                     ("dedup", "pipeline.incremental.dedup_s"),
                     ("decon", "pipeline.incremental.decon_s"),
                     ("retr", "pipeline.incremental.retrieval_s"))


def _statement(path: str, line: int) -> str:
    """The source statement starting at ``line`` (continued while its
    brackets are open)."""
    full = os.path.join(sparkprobe.PKG_DIR, path)
    text = linecache.getline(full, line)
    for k in range(1, 6):
        if text.count("(") + text.count("[") <= \
                text.count(")") + text.count("]"):
            break
        text += linecache.getline(full, line + k)
    return text


def attribute_jobs(jobs, rules, module: str, outermost: bool = False,
                   extra: dict | None = None) -> dict:
    """Sum job wall time per layer metric: a job belongs to the rule
    matching the source statement of its (innermost or outermost) frame
    in ``module``; ``extra`` maps other modules to a metric."""
    out = {metric: 0.0 for _, metric in rules}
    other = module.split("/")[-1][:-3]
    other = f"pipeline.{other}.other_s"
    out[other] = 0.0
    for metric in (extra or {}).values():
        out[metric] = 0.0
    for job in jobs:
        dur = (job["end"] or 0) - (job["start"] or 0)
        frames = sparkprobe.engine_frames(job["name"])
        metric = next((m for p, _ in frames
                       for mod, m in (extra or {}).items() if p == mod), None)
        if metric is None:
            mine = [f for f in frames if f[0] == module]
            if mine:
                path, line = mine[-1] if outermost else mine[0]
                stmt = _statement(path, line)
                metric = next((m for key, m in rules if key in stmt), other)
            else:
                metric = other
        out[metric] += dur
    return out


WORKLOADS = {w.name: w for w in (StageRepeat, JobLongtail, ResumeCommit,
                                 CurateDelta)}

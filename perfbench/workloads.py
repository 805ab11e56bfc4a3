"""The two workloads: ``query`` (reads on the index held in Spark's cache)
and ``update`` (0.1%-churn commits beside reads, on the block-rows layout
read from disk).  Both start with the same cold-build set-up.

Each workload fills ``Run.e2e`` (the end-to-end metrics), ``Run.layer``
(per-layer metrics, traced runs only) and ``Run.report`` (every end-to-end
number the benchmark doc names, printed as ``name value unit`` lines).
Correctness checks run after the measured phase, outside its timings."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

import check
import inputs
from procs import descendants
from spans import Tracer

T0 = time.perf_counter()
N_DOCS = 1000
SETUP_REPS = 2
WARMUP_DOCS = 64
CHURN_FRAC = 0.001
K = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or (None, None) when there are too few samples."""
    n = len(xs)
    if n < 21:  # anything lower is not above the median
        return None, None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(xs)[n - 11]


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dp, _, fs in os.walk(path):
        for fn in fs:
            st = os.stat(os.path.join(dp, fn))
            out[os.path.join(dp, fn)] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes in files created or rewritten between two snapshots."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


class Run:
    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float, work: str):
        self.spark = spark
        self.tracer = tracer
        self.span = tracer.span
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = spark.sparkContext.defaultParallelism
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.report: list[tuple[str, float | str, str]] = []
        self.attempted = 0
        self.failed = 0  # operations that raised, plus wrong answers

    # -- bookkeeping -----------------------------------------------------------
    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - T0:7.1f}s {what}", file=sys.stderr)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def op(self, what: str, fn):
        """Run one counted operation; a raise counts as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.fail(what)
            return None

    def peak_rss(self) -> None:
        """Sum of the peak resident sets (VmHWM) of this process and every
        descendant: the JVM and its Python workers."""
        total_kb = 0
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                continue
        self.e2e["peak_rss_mb"] = (total_kb / 1024.0, "MB")

    # -- set-up: cold build -----------------------------------------------------
    def setup(self, layout: str | None):
        """Warm the process up, then load the cached corpus and cold-build
        the index SETUP_REPS times; keep the last build and, when
        ``layout`` is given, write it once in that layout.  ``setup_s`` is
        the median repetition plus the write; ``build_files_per_s`` comes
        from the last, warmest build.

        The warm-up builds an index of the first WARMUP_DOCS documents: it
        starts the Python workers and generates the code of the build's
        Spark plans, once per process.  Its time is ``session.warmup_s``,
        not ``setup_s``."""
        from groonga_spark.index.build import build_index

        t0 = time.perf_counter()
        with self.span("inputs.generate"):
            path, meta = inputs.corpus_file(
                os.path.join(self.work, "cache"), N_DOCS, self.seed
            )
        self.layer_gen_s = time.perf_counter() - t0
        self.corpus_meta = meta
        self.rows = inputs.read_rows(path)
        parts = max(self.cores, 8) * 4  # corpus_df's own output layout
        t0 = time.perf_counter()
        with self.span("warmup"):
            small = self.spark.read.parquet(path).limit(WARMUP_DOCS).repartition(parts)
            build_index(small, ["content"], tokenizer="code").persist().unpersist()
        self.warmup_s = time.perf_counter() - t0
        self.log(f"warm-up: {self.warmup_s:.2f}s")
        reps, builds, build_spans = [], [], []
        for r in range(SETUP_REPS):
            if r:
                self.idx.unpersist()
                self.corpus.unpersist()
            t0 = time.perf_counter()
            with self.span("setup"):
                with self.span("inputs.load"):
                    self.corpus = (
                        self.spark.read.parquet(path).repartition(parts).persist()
                    )
                    self.corpus.count()
                t1 = time.perf_counter()
                with self.span("index.build") as sp:
                    self.idx = build_index(self.corpus, ["content"], tokenizer="code")
                    self.idx.persist()
                builds.append(time.perf_counter() - t1)
                build_spans.append(sp)
            reps.append(time.perf_counter() - t0)
            self.log(f"setup rep {r}: {reps[-1]:.2f}s (build {builds[-1]:.2f}s)")
        self.index_dir = os.path.join(self.work, "index")
        shutil.rmtree(self.index_dir, ignore_errors=True)
        t0 = time.perf_counter()
        if layout == "packed":
            from groonga_spark.index.checkpoint import write_index

            with self.span("index.checkpoint.write") as wsp:
                write_index(self.idx, self.index_dir)
        elif layout == "block_rows":
            from groonga_spark.index.blockrows import write_index_block_rows

            with self.span("index.blockrows.write") as wsp:
                write_index_block_rows(self.idx, self.index_dir)
        write_s = time.perf_counter() - t0 if layout else 0.0
        if layout:
            self.log(f"index written: {write_s:.2f}s")
            self.index_bytes = sum(sz for sz, _ in dir_files(self.index_dir).values())
            self.report.append(
                (
                    "index_bytes_per_source_byte",
                    self.index_bytes / meta["source_bytes"],
                    "B/B",
                )
            )
        self.e2e["setup_s"] = (median(reps) + write_s, "s")
        self.e2e["build_files_per_s"] = (N_DOCS / builds[-1], "1/s")
        if self.tracer.enabled:
            b = build_spans[-1]
            self.layer.update(
                {
                    "index.build.wall_s": (b.wall_s, "s"),
                    "index.build.executor_cpu_s": (b.total("executor_run_s"), "s"),
                    "index.build.core_util": (
                        b.total("executor_run_s") / (b.wall_s * self.cores),
                        "ratio",
                    ),
                    "index.build.shuffle_write_bytes": (
                        b.total("shuffle_write_bytes"),
                        "B",
                    ),
                    "index.build.spill_bytes": (b.total("spill_bytes"), "B"),
                    "index.build.tasks": (b.total("tasks"), "count"),
                    "index.build.jobs": (b.total("jobs"), "count"),
                    "inputs.generate_s": (self.layer_gen_s, "s"),
                    "session.warmup_s": (self.warmup_s, "s"),
                }
            )
            if layout:
                key = "index.checkpoint" if layout == "packed" else "index.blockrows"
                self.layer[f"{key}.write_s"] = (wsp.wall_s, "s")
                self.layer[f"{key}.write_bytes"] = (self.index_bytes, "B")

    # -- engine calls -------------------------------------------------------------
    def select(self, eng, q: str, spans: list):
        """One closed-loop select: plan (``select()`` itself, which already
        runs dictionary collects) then execute (collect of the top-k)."""
        with self.span("query.engine.plan") as p:
            out = eng.select(q, k=K, escalate=False)
        with self.span("query.engine.exec") as x:
            rows = out.collect()
        if p is not None:
            spans.append((p, x))
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def timed_select(self, eng, q: str, lat: list, spans: list, answers: list, label):
        t0 = time.perf_counter()
        got = self.op(f"select {q!r}", lambda: self.select(eng, q, spans))
        if got is not None:
            lat.append(time.perf_counter() - t0)
            answers.append((label, q, got))

    def engine_layer_metrics(self, spans: list) -> None:
        if not spans:
            return
        n = len(spans)

        def per_q(attr):
            return sum(p.total(attr) + x.total(attr) for p, x in spans) / n

        self.layer.update(
            {
                "query.engine.plan_s": (median([p.wall_s for p, _ in spans]), "s"),
                "query.engine.exec_s": (median([x.wall_s for _, x in spans]), "s"),
                "query.engine.jobs_per_query": (per_q("jobs"), "count"),
                "query.engine.stages_per_query": (per_q("stages"), "count"),
                "query.engine.tasks_per_query": (per_q("tasks"), "count"),
                "query.engine.executor_cpu_s_per_query": (per_q("executor_run_s"), "s"),
                "query.engine.shuffle_bytes_per_query": (
                    per_q("shuffle_write_bytes"),
                    "B",
                ),
            }
        )

    def overhead_ab(self, eng, queries: list[str]) -> None:
        """Traced runs only: the same queries on the same index, each run
        untraced and traced (alternating which goes first); the ratio of
        the sums is the tracing overhead on end-to-end query latency."""
        took = {False: 0.0, True: 0.0}
        for i, q in enumerate(queries):
            for traced in (i % 2 == 1, i % 2 == 0):  # alternate which goes first
                self.tracer.enabled = traced
                t0 = time.perf_counter()
                self.select(eng, q, [])
                took[traced] += time.perf_counter() - t0
        self.tracer.enabled = True
        off, on = took[False], took[True]
        self.layer["trace.overhead_frac"] = (on / off - 1.0, "ratio")

    # -- in-process kernel measurements (traced runs) --------------------------
    def kernel_metrics(self, blocks_df) -> None:
        """tokenize and encoding throughput, measured in this process."""
        from groonga_spark import encoding
        from groonga_spark.tokenize import tokenize_batch

        texts = [self.rows[d] for d in sorted(self.rows)[:500]]
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            tokenize_batch(texts, "code")
            runs.append(time.perf_counter() - t0)
        with self.span("tokenize"):
            n_tok = sum(len(t) for t, _ in tokenize_batch(list(self.rows.values()), "code"))
        self.layer["tokenize.docs_per_s"] = (len(texts) / median(runs), "1/s")
        self.layer["tokenize.tokens_per_doc"] = (n_tok / len(self.rows), "count")

        with self.span("encoding.sizes"):
            sz = blocks_df.select(
                F.sum(
                    F.length("doc_deltas")
                    + F.length("sids")
                    + F.length("tfs")
                    + F.length("dls")
                    + F.length("pos_deltas")
                ).alias("b"),
                F.sum("n").alias("n"),
            ).collect()[0]
            sample = blocks_df.orderBy("term", "first_doc_id").limit(2000).collect()
        self.layer["encoding.bytes_per_posting"] = (sz["b"] / sz["n"], "B")

        def dec(b):
            n = int(b["n"])
            enc = int(b["enc"])
            f = encoding.pfor_decode
            v = encoding.vb_decode
            (f if enc & 1 else v)(b["doc_deltas"], n)
            tfs = (f if enc & 2 else v)(b["tfs"], n)
            v(b["sids"], n)
            v(b["dls"], n)
            total = int(tfs.astype("int64").sum()) + n
            (f if enc & 4 else v)(b["pos_deltas"], total)

        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            for b in sample:
                dec(b)
            runs.append(time.perf_counter() - t0)
        self.layer["encoding.decode_blocks_per_s"] = (len(sample) / median(runs), "1/s")


# -- workload: query -------------------------------------------------------------


def run_query(run: Run) -> None:
    from groonga_spark.index.checkpoint import read_index
    from groonga_spark.query import parser as qp
    from groonga_spark.query.engine import SearchEngine

    # the index lives in Spark's cache; only traced runs also write it out,
    # for the checkpoint layer's numbers
    run.setup("packed" if run.tracer.enabled else None)
    eng = SearchEngine(run.idx)
    cycle = inputs.QueryGen(run.rows, run.seed).cycle()

    # measured phase: whole cycles of the mix, one closed-loop client
    lat, spans, answers = [], [], []
    t_start = time.perf_counter()
    while not lat or time.perf_counter() - t_start < run.seconds:
        for label, q in cycle:
            run.timed_select(eng, q, lat, spans, answers, label)
    batch = {str(i): q for i, (_, q) in enumerate(cycle)}
    t0 = time.perf_counter()
    with run.span("query.engine.batch") as bsp:
        got_batch = run.op(
            "select_batch", lambda: eng.select_batch(batch, k=K).collect()
        )
    batch_s = time.perf_counter() - t0
    run.log(f"queries {[round(x, 2) for x in lat]} batch {batch_s:.2f}s")
    run.peak_rss()

    run.e2e["query_p50_s"] = (median(lat), "s")
    run.e2e["op_p50_s"] = (batch_s / len(batch), "s")
    pct, tv = tail(lat)
    run.report += [
        ("query_p50_s", median(lat), "s"),
        ("query_samples", len(lat), "count"),
        ("query_tail_s", tv if tv is not None else "n/a", "s"),
        ("query_tail_pct", pct if pct is not None else "n/a", "%"),
        ("batch_qps", len(batch) / batch_s, "1/s"),
    ]

    # correctness, outside the timed region
    oracle = check.Oracle(run.rows)
    want = {}
    for label, q, got in answers:
        if q not in want:
            want[q] = oracle.select(q, k=K)
        if not check.same_ranking(got, want[q]):
            run.fail(f"{label} {q!r}: engine {got} != oracle {want[q]}")
    if got_batch is not None:
        by_q: dict[str, list] = {}
        for r in got_batch:
            by_q.setdefault(r["query_id"], []).append(
                (-float(r["score"]), int(r["doc_id"]))
            )
        for qid, q in batch.items():
            got = [(d, -s) for s, d in sorted(by_q.get(qid, []))]
            if not check.same_ranking(got, want[q]):
                run.fail(f"batch {q!r}: engine {got} != oracle {want[q]}")
    run.log("answers checked")

    if run.tracer.enabled:
        run.attempted += 1
        with run.span("index.checkpoint.read") as rsp:
            back = read_index(run.spark, run.index_dir)
            back.dictionary.count()
            back.postings.count()
        if not check.index_stats_ok(back.stats, run.rows, oracle):
            run.fail(f"read-back stats {back.stats} disagree with the oracle")
        run.engine_layer_metrics(spans)
        run.layer.update(
            {
                "query.engine.batch.jobs": (bsp.total("jobs"), "count"),
                "query.engine.batch.tasks": (bsp.total("tasks"), "count"),
                "query.engine.batch.executor_cpu_s": (bsp.total("executor_run_s"), "s"),
                "query.engine.batch.shuffle_bytes": (
                    bsp.total("shuffle_write_bytes"),
                    "B",
                ),
                "index.checkpoint.read_s": (rsp.wall_s, "s"),
                "query.parser.parse_us": (parse_us(qp, [q for _, q in cycle]), "us"),
            }
        )
        run.kernel_metrics(
            run.idx.postings.select("term", F.explode("blocks").alias("b")).select(
                "term", "b.*"
            )
        )
        run.overhead_ab(eng, [q for _, q in cycle[:4]])


def parse_us(qp, queries: list[str]) -> float:
    """Median microseconds to parse one query of the mix."""
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(20):
            for q in queries:
                qp.parse_query(q)
        runs.append((time.perf_counter() - t0) / (20 * len(queries)))
    return median(runs) * 1e6


# -- workload: update -------------------------------------------------------------


def run_update(run: Run) -> None:
    from groonga_spark.index import blockrows
    from groonga_spark.index.checkpoint import _append_manifest, verify_lineage
    from groonga_spark.query import parser as qp
    from groonga_spark.query.engine import SearchEngine

    run.setup("block_rows")
    # the build, read back: stats and corpus lineage.  write_index keeps no
    # lineage manifest (only the checkpointed build does), so record the
    # generator's own fingerprint, computed in plain Python; verify_lineage
    # recomputes it from the loaded corpus frame
    run.attempted += 1
    back = blockrows.read_index_block_rows(run.spark, run.index_dir)
    oracle = check.Oracle(run.rows)
    if not check.index_stats_ok(back.stats, run.rows, oracle):
        run.fail(f"read-back stats {back.stats} disagree with the oracle")
    _append_manifest(
        run.spark,
        run.index_dir,
        [("corpus", -1, N_DOCS, 0, 0, run.corpus_meta["sha_xor"], 0, "ok")],
    )
    if not verify_lineage(run.corpus, run.index_dir):
        run.fail("verify_lineage: corpus fingerprint differs from the generator's")
    run.idx.unpersist()
    run.corpus.unpersist()
    run.log("build checked")

    live = dict(run.rows)
    next_id = max(live) + 1
    gen = inputs.QueryGen(run.rows, run.seed)
    schema = "doc_id long, content string"
    commit_s, commit_bytes, user_bytes = [], [], []
    reads, spans, answers = [], [], []
    commit_spans, read_spans, tombs = [], [], []
    t_start = time.perf_counter()
    n = 0
    while not commit_s or time.perf_counter() - t_start < run.seconds:
        old, new, next_id = inputs.churn_batch(live, run.seed, n, next_id, CHURN_FRAC)
        old_df = run.spark.createDataFrame(sorted(old.items()), schema)
        new_df = run.spark.createDataFrame(sorted(new.items()), schema)
        before = dir_files(run.index_dir)
        t0 = time.perf_counter()
        with run.span("index.blockrows.commit") as csp:
            idx = run.op(
                f"commit {n}",
                lambda: blockrows.commit_update(run.index_dir, old_df, new_df),
            )
        if idx is None:
            break
        commit_s.append(time.perf_counter() - t0)
        run.log(f"commit {n}: {commit_s[-1]:.2f}s")
        commit_spans.append(csp)
        commit_bytes.append(written_bytes(before, dir_files(run.index_dir)))
        user_bytes.append(sum(len(c.encode()) for c in new.values()))
        for d in old:
            live.pop(d)
        live.update(new)
        if run.tracer.enabled:
            with run.span("index.blockrows.read") as rsp:
                idx = blockrows.read_index_block_rows(run.spark, run.index_dir)
                idx.postings_rows.count()
            read_spans.append(rsp)
            tombs.append(
                run.spark.read.parquet(
                    os.path.join(run.index_dir, "postings_deletes")
                ).count()
            )
        eng = SearchEngine(idx)
        q = gen.new_doc_term(new[max(new)])
        run.timed_select(eng, q, reads, spans, answers, ("term/new", n, dict(live)))
        run.log(f"read after commit {n} {q!r}: {reads[-1] if reads else 0:.2f}s")
        n += 1
    run.peak_rss()

    run.e2e["query_p50_s"] = (median(reads), "s")
    run.e2e["op_p50_s"] = (median(commit_s), "s")
    run.report += [
        ("commit_p50_s", median(commit_s), "s"),
        ("commits", len(commit_s), "count"),
        ("read_after_commit_p50_s", median(reads), "s"),
        (
            "write_bytes_per_user_byte",
            sum(commit_bytes) / max(1, sum(user_bytes)),
            "B/B",
        ),
    ]

    # correctness: each post-commit answer against the oracle over the
    # corpus as it stood after that commit
    oracle_commit = None
    for (label, c, state), q, got in answers:
        if c != oracle_commit:
            oracle, oracle_commit = check.Oracle(state), c
        want = oracle.select(q, k=K)
        if not check.same_ranking(got, want):
            run.fail(f"after commit {c} {label} {q!r}: engine {got} != oracle {want}")
    run.log("answers checked")

    if run.tracer.enabled:
        run.engine_layer_metrics(spans)
        before = dir_files(run.index_dir)
        with run.span("index.blockrows.compact") as ksp:
            run.op("compact", lambda: blockrows.compact(run.index_dir))
        compact_bytes = written_bytes(before, dir_files(run.index_dir))
        eng = SearchEngine(blockrows.read_index_block_rows(run.spark, run.index_dir))
        q = gen.query("term/head")
        got = run.op(f"select after compact {q!r}", lambda: run.select(eng, q, []))
        want = check.Oracle(live).select(q, k=K)
        if got is not None and not check.same_ranking(got, want):
            run.fail(f"after compact {q!r}: engine {got} != oracle {want}")
        run.layer.update(
            {
                "index.blockrows.commit_s": (median(commit_s), "s"),
                "index.blockrows.commit_jobs": (
                    median([s.total("jobs") for s in commit_spans]),
                    "count",
                ),
                "index.blockrows.commit_bytes_written": (median(commit_bytes), "B"),
                "index.blockrows.read_s": (median([s.wall_s for s in read_spans]), "s"),
                "index.blockrows.compact_s": (ksp.wall_s, "s"),
                "index.blockrows.compact_bytes_written": (compact_bytes, "B"),
                "index.blockrows.pending_tombstones": (max(tombs), "count"),
            }
        )
        run.layer["query.parser.parse_us"] = (
            parse_us(qp, [q for _, q, _ in answers]),
            "us",
        )
        run.kernel_metrics(eng.index.postings_rows)
        run.overhead_ab(eng, [gen.query("term/head"), gen.query("phrase/doc")])


WORKLOADS = {"query": run_query, "update": run_update}

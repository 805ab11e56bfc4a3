"""Measure incremental index update vs full rebuild (r3 verdict #7):
0.1% churn on an N-doc index via index/update.apply_update (the
grn_ii_column_update analogue, lib/ii.c:5120) against rebuilding the
whole index, interleaved reps, medians.  The claim under test:
churn-proportional cost — the update's shuffle touches only the affected
terms' postings + the delta docs' tokens, never the index.

Each "update" arm re-applies the same churn batch to the ORIGINAL index
(results discarded; cost is what's measured).  Each "rebuild" arm builds
from the updated corpus.  Both end in a materializing action over the
resulting postings so lazy frames don't understate either arm.

Run: PYTHONPATH=. python tools/bench_incremental.py
Env: INC_DOCS (default 1_000_000), INC_CHURN_PCT (0.1), INC_REPS (3).
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from groonga_spark.corpus import corpus_df
from groonga_spark.index.update import apply_update
from groonga_spark.query.engine import SearchEngine
from groonga_spark.session import get_spark

N_DOCS = int(os.environ.get("INC_DOCS", "1000000"))
CHURN_PCT = float(os.environ.get("INC_CHURN_PCT", "0.1"))
REPS = int(os.environ.get("INC_REPS", "3"))
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

spark = get_spark("inc_ab", cores=CORES)
spark.sparkContext.setLogLevel("ERROR")

corpus = corpus_df(spark, N_DOCS, n_partitions=max(CORES, 8)).persist()
corpus.count()

t0 = time.perf_counter()
eng = SearchEngine.build(corpus, ["content"], tokenizer="code")
eng.index.persist()
base_build_s = round(time.perf_counter() - t0, 1)
print(f"base build {base_build_s}s", file=sys.stderr)

# churn batch: every doc with doc_id % (100/CHURN_PCT) == 0 gets its
# content rewritten (a deterministic replace — same id, new text)
mod = max(1, int(round(100.0 / CHURN_PCT)))
old_docs = corpus.filter(F.col("doc_id") % mod == 0).persist()
n_churn = old_docs.count()
new_docs = old_docs.withColumn(
    "content", F.concat(F.lit("updated revision "), F.col("content"))
).persist()
new_docs.count()
updated_corpus = (
    corpus.join(old_docs.select("doc_id"), "doc_id", "left_anti")
    .unionByName(new_docs)
    .persist()
)
updated_corpus.count()
print(f"churn batch: {n_churn} docs ({CHURN_PCT}%)", file=sys.stderr)


def run_update():
    t0 = time.perf_counter()
    idx2 = apply_update(eng.index, old_docs, new_docs)
    # materialize the changed postings + dictionary (what a commit writes)
    idx2.postings.select(F.count("*")).collect()
    idx2.dictionary.select(F.count("*")).collect()
    return round(time.perf_counter() - t0, 3)


def run_rebuild():
    t0 = time.perf_counter()
    e2 = SearchEngine.build(updated_corpus, ["content"], tokenizer="code")
    e2.index.postings.select(F.count("*")).collect()
    e2.index.dictionary.select(F.count("*")).collect()
    return round(time.perf_counter() - t0, 3)


res = {"update": [], "rebuild": []}
for rep in range(REPS):
    arms = ("update", "rebuild") if rep % 2 == 0 else ("rebuild", "update")
    for arm in arms:
        t = run_update() if arm == "update" else run_rebuild()
        res[arm].append(t)
        print(f"rep{rep} {arm}: {t}s", file=sys.stderr)

med = lambda xs: sorted(xs)[len(xs) // 2]
out = {
    "metric": "incremental update (%.2f%% churn) vs full rebuild "
    "(median of %d interleaved reps)" % (CHURN_PCT, REPS),
    "n_docs": N_DOCS,
    "n_churn_docs": n_churn,
    "cores": CORES,
    # local mode: driver heap IS the executor memory — an undersized heap
    # (the 8g default) makes BOTH arms measure spill, not the algorithm
    "driver_mem": os.environ.get("SPARK_DRIVER_MEM", "8g"),
    "base_build_s": base_build_s,
    "update_s": med(res["update"]),
    "rebuild_s": med(res["rebuild"]),
    "speedup_update": round(med(res["rebuild"]) / max(med(res["update"]), 1e-9), 2),
    "raw": res,
}
print(json.dumps(out))

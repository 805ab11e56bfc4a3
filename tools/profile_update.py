"""Phase-level timing of one apply_update call (diagnosis harness for
the incremental A/B): times each materialization barrier separately so
the dominant cost is visible instead of inferred.

Run: PYTHONPATH=. python tools/profile_update.py
Env: PROF_DOCS (default 200_000), PROF_CHURN_PCT (0.1).
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from groonga_spark.corpus import corpus_df
from groonga_spark.index.update import _update_parts
from groonga_spark.query.engine import SearchEngine
from groonga_spark.session import get_spark

N = int(os.environ.get("PROF_DOCS", "200000"))
PCT = float(os.environ.get("PROF_CHURN_PCT", "0.1"))
spark = get_spark("prof_update", cores=32)
spark.sparkContext.setLogLevel("ERROR")

corpus = corpus_df(spark, N, n_partitions=32).persist()
corpus.count()
t0 = time.perf_counter()
eng = SearchEngine.build(corpus, ["content"], tokenizer="code")
eng.index.persist()
print(f"build: {time.perf_counter()-t0:.1f}s", file=sys.stderr)

mod = max(1, int(round(100.0 / PCT)))
old_docs = corpus.filter(F.col("doc_id") % mod == 0).persist()
old_docs.count()
new_docs = old_docs.withColumn(
    "content", F.concat(F.lit("updated revision "), F.col("content"))
).persist()
new_docs.count()


def t(label, fn):
    t0 = time.perf_counter()
    r = fn()
    print(f"{label}: {time.perf_counter()-t0:.2f}s", file=sys.stderr)
    return r


total0 = time.perf_counter()
p = t("parts (eager: batch collect + touched-block checkpoint)", lambda: _update_parts(eng.index, old_docs, new_docs))
t("dictionary count", lambda: p["dictionary"].count())
t("touched_keys count", lambda: p["touched_keys"].count())
t("reenc count", lambda: p["reenc"].count())
t("untouched count", lambda: p["untouched"].count())
t("kept_aff count", lambda: p["kept_aff"].count())
t(
    "full postings count (as bench does)",
    lambda: p["untouched"]
    .unionByName(p["kept_aff"])
    .unionByName(p["reenc"])
    .select(F.count("*"))
    .collect(),
)
t("doclens count", lambda: p["doclens"].count())
print(f"TOTAL: {time.perf_counter()-total0:.2f}s", file=sys.stderr)

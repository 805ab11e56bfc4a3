"""Driver-side commit delta (index/update._update_parts): the commit's
Spark job count stays bounded, its stats (now delta arithmetic) equal a
full rebuild's, and touched-block detection is exact for WIDE blocks —
blocks whose doc-id span covers >= 64 of the 4096-id detection buckets —
on both the commit path and the append-only read mask."""

import shutil

import pytest
from pyspark.sql import functions as F

from groonga_spark import SearchEngine, build_index
from groonga_spark.corpus import corpus_df
from groonga_spark.index.blockrows import (
    commit_update,
    read_index_block_rows,
    write_index_block_rows,
)
from groonga_spark.query.decode import decoded_postings
from test_blockrows import QUERIES, _top, corpora  # noqa: F401  (fixture)

# a commit here runs ~25 jobs (28 on the benchmark's 1000-doc index, where
# the plan that computed the delta on the cluster ran 74) — the bound
# catches a quiet regrowth
MAX_COMMIT_JOBS = 30


@pytest.fixture(scope="module")
def base_and_full(spark, corpora, tmp_path_factory):
    v1, v2, _, _ = corpora
    path = str(tmp_path_factory.mktemp("base") / "idx")
    write_index_block_rows(
        build_index(v1, ["content"], tokenizer="code", n_pbuckets=8), path
    )
    return path, build_index(v2, ["content"], tokenizer="code", n_pbuckets=8)


@pytest.mark.parametrize("mode", ["surgical", "append_only"])
def test_commit_job_count_and_stats(spark, corpora, base_and_full, tmp_path, mode):
    # the batch as driver rows, so only commit_update's own jobs count
    old_docs, new_docs = (
        spark.createDataFrame(d.collect(), d.schema) for d in corpora[2:]
    )
    base, full = base_and_full
    path = str(tmp_path / "idx")
    shutil.copytree(base, path)
    sc = spark.sparkContext
    group = f"commit-jobs-{mode}"
    sc.setJobGroup(group, f"commit_update {mode}")
    try:
        upd = commit_update(path, old_docs, new_docs, n_pbuckets=8, mode=mode)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= MAX_COMMIT_JOBS, n_jobs
    # section_tokens / n_docs are driver arithmetic on the batch now
    assert upd.stats == full.stats


# -- wide blocks --------------------------------------------------------------

_B, _WIDE_BKTS = 1 << 12, 64
# three dense ids (narrow blocks) and three ids 400k apart: a term present
# in both groups has one block spanning ~292 buckets
_IDS = [1, 2, 3, 400_000, 800_000, 1_200_000]


def _spread(df):
    pairs = [x for i, d in enumerate(_IDS) for x in (i + 1, d)]
    mapping = F.create_map(*[F.lit(x) for x in pairs])
    return df.withColumn("doc_id", mapping[F.col("doc_id")].cast("long"))


def _postings(idx):
    """Sorted (term, doc_id, sid, tf, dl) of every LIVE posting: block
    tombstones anti-joined and the append-only doc mask applied."""
    rows = getattr(idx, "postings_rows", None)
    if rows is None:
        rows = idx.postings.select("term", F.explode("blocks").alias("b")).select(
            "term", "b.*"
        )
    dec = decoded_postings(rows.withColumn("df", F.lit(0)), with_pos=False)
    return sorted(
        tuple(r) for r in dec.select("term", "doc_id", "sid", "tf", "dl").collect()
    )


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    v1 = _spread(corpus_df(spark, len(_IDS), seed=5)).persist()
    fresh = corpus_df(spark, 8, seed=77)
    # replace 400_000 (inside the wide blocks), delete 2, insert 1_600_000
    old_docs = v1.filter(F.col("doc_id").isin([2, 400_000]))
    new_docs = fresh.filter(F.col("doc_id") == 7).withColumn(
        "doc_id", F.lit(400_000).cast("long")
    ).unionByName(
        fresh.filter(F.col("doc_id") == 8).withColumn(
            "doc_id", F.lit(1_600_000).cast("long")
        )
    )
    v2 = (
        v1.join(old_docs.select("doc_id"), "doc_id", "left_anti")
        .unionByName(new_docs)
        .persist()
    )
    base = str(tmp_path_factory.mktemp("wide") / "idx")
    write_index_block_rows(
        build_index(v1, ["content"], tokenizer="code", n_pbuckets=8), base
    )
    full = build_index(v2, ["content"], tokenizer="code", n_pbuckets=8)
    return base, old_docs, new_docs, full


def test_wide_blocks_present(spark, wide):
    # the fixture really exercises the wide branch: a live block spans
    # >= _WIDE_BKTS buckets AND holds a tombstoned doc
    base = wide[0]
    rows = read_index_block_rows(spark, base).postings_rows
    n_bkts = (F.col("last_doc_id") / _B).cast("long") - (
        F.col("first_doc_id") / _B
    ).cast("long")
    hit = (F.col("first_doc_id") <= 400_000) & (F.col("last_doc_id") >= 400_000)
    assert rows.filter((n_bkts >= _WIDE_BKTS) & hit).count() > 0
    assert rows.filter(n_bkts < _WIDE_BKTS).count() > 0


@pytest.mark.parametrize("mode", ["surgical", "append_only"])
def test_wide_block_commit_matches_rebuild(spark, wide, tmp_path, mode):
    base, old_docs, new_docs, full = wide
    path = str(tmp_path / "idx")
    shutil.copytree(base, path)
    upd = commit_update(path, old_docs, new_docs, n_pbuckets=8, mode=mode)
    assert upd.stats == full.stats
    # the live postings (surgical: touched wide blocks re-encoded;
    # append_only: the read-time _excl mask on wide blocks) equal the
    # rebuild's exactly, so no dead doc's posting survives
    assert _postings(upd) == _postings(full)
    e_upd, e_full = SearchEngine(upd), SearchEngine(full)
    for q in QUERIES:
        assert _top(e_upd, q) == _top(e_full, q), q

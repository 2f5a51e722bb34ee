"""Phrase search: zero-shuffle scan path vs persisted inverted index.

The scan path is hash-verified against a DuckDB posting-list replay by
the ``phrase_search`` oracle entry; these tests pin overlap semantics,
the scan/index parity, and the index probe's token pushdown.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blueetl_spark.operators import invindex, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a a a b"),            # "a a" overlaps: starts at 1 and 2
        (2, "the quick brown fox the quick brown fox"),
        (3, "quick brown"),
        (4, "x y z"),
        (5, ""),
        (6, "a"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_phrase_count_overlapping_starts(spark, docs):
    got = {r["doc_id"]: r["n_occ"] for r in text.phrase_count(docs, "a a").collect()}
    assert got == {1: 2}


def test_phrase_count_multiword_and_keep_zero(spark, docs):
    got = {
        r["doc_id"]: r["n_occ"]
        for r in text.phrase_count(docs, "quick brown fox").collect()
    }
    assert got == {2: 2}
    full = text.phrase_count(docs, "quick brown fox", keep_zero=True).collect()
    assert len(full) == 6
    with pytest.raises(ValueError, match="empty"):
        text.phrase_count(docs, "   ")


def test_phrase_count_is_shuffle_free(spark, docs):
    plan = (
        text.phrase_count(docs, "quick brown")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


@pytest.mark.parametrize(
    "phrase", ["a a", "quick brown fox", "x y z", "missing token", "a"]
)
def test_index_search_matches_scan(spark, docs, tmp_path, phrase):
    path = str(tmp_path / "idx")
    invindex.build_inverted_index(docs, path, n_files=2)
    scan = sorted(map(tuple, text.phrase_count(docs, phrase).collect()))
    idx = sorted(map(tuple, invindex.phrase_search(spark, path, phrase).collect()))
    assert idx == scan


def test_index_probe_pushes_token_filter(spark, docs, tmp_path):
    path = str(tmp_path / "idx")
    invindex.build_inverted_index(docs, path, n_files=2)
    out = invindex.phrase_search(spark, path, "quick brown")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the probe must read ONLY phrase tokens from the index scan
    assert "PushedFilters" in plan
    assert "In(token" in plan or "EqualTo(token" in plan


def test_repeated_phrase_token_offsets(spark):
    df = spark.createDataFrame([(1, "b a b a b")], "doc_id long, text string")
    got = {r["doc_id"]: r["n_occ"] for r in text.phrase_count(df, "b a b").collect()}
    assert got == {1: 2}  # starts at tokens 1 and 3 (overlapping)


def test_search_survives_df_side_table_gap(spark, docs, tmp_path):
    """A crash between the postings append and the _df delta write leaves
    postings containing tokens the side table lacks; phrase_search must
    still find them (_df is a planning aid only, never a correctness
    input)."""
    path = str(tmp_path / "gap_idx")
    b1 = docs.filter(F.col("doc_id") <= 3)
    b2 = docs.filter(F.col("doc_id") > 3)
    invindex.build_inverted_index(b1, path, n_files=2)
    # simulate the crash: postings land, the _df delta never does
    invindex._write_postings(
        invindex._postings(b2, "text", "doc_id"),
        f"{path}/postings.parquet", 2, "append",
    )
    # "x y z" tokens exist ONLY in the gapped batch
    assert sorted(
        map(tuple, invindex.phrase_search(spark, path, "x y z").collect())
    ) == [(4, 1)]
    # mixed phrase: one token known to _df ("a" from b1), one not ("x")
    assert invindex.phrase_search(spark, path, "a x").count() == 0
    # genuinely-absent token still yields empty with the right schema
    out = invindex.phrase_search(spark, path, "nowhere token")
    assert out.count() == 0 and [f.name for f in out.schema] == ["doc_id", "n_occ"]


def test_incremental_lifecycle_append_replay_purge_compact(spark, docs, tmp_path):
    path = str(tmp_path / "inc_idx")
    b1 = docs.filter(F.col("doc_id") <= 3)
    b2 = docs.filter(F.col("doc_id") > 3)
    invindex.build_inverted_index(b1, path, n_files=2)
    invindex.append_inverted_index(b2, path)
    phrase = "quick brown"

    scan = sorted(map(tuple, text.phrase_count(docs, phrase).collect()))
    assert sorted(map(tuple, invindex.phrase_search(spark, path, phrase).collect())) == scan

    # at-least-once replay of batch 2: duplicate postings must not
    # double-count occurrences
    invindex.append_inverted_index(b2, path)
    assert sorted(map(tuple, invindex.phrase_search(spark, path, phrase).collect())) == scan

    # purge doc 2 -> excluded at search; doc 3 ("quick brown") remains
    invindex.purge_inverted_index(
        spark.createDataFrame([(2,)], "doc_id long"), path
    )
    assert sorted(
        map(tuple, invindex.phrase_search(spark, path, phrase).collect())
    ) == [(3, 1)]

    # compact folds tombstones + replay dups out of the layout
    n = invindex.compact_inverted_index(spark, path, n_files=2)
    from blueetl_spark.plans.atomic import fs_exists

    assert not fs_exists(spark, f"{path}/tombstones.parquet")
    post = spark.read.parquet(f"{path}/postings.parquet")
    assert post.count() == n == post.dropDuplicates(["doc_id", "pos"]).count()
    assert post.filter(F.col("doc_id") == 2).count() == 0
    assert sorted(
        map(tuple, invindex.phrase_search(spark, path, phrase).collect())
    ) == [(3, 1)]
    # untouched docs still searchable, with exact df side table
    assert sorted(
        map(tuple, invindex.phrase_search(spark, path, "a a").collect())
    ) == [(1, 2)]


def test_append_after_interrupted_compaction_keeps_history(spark, tmp_path):
    """A compaction stopped after its backup rename leaves the postings
    in ``postings.parquet.old``. An append must restore them first: an
    append into a fresh dir would make the next search's recovery take
    the new batch as the live state and drop the backed-up history."""
    import shutil

    path = str(tmp_path / "crash_idx")
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")], "doc_id long, text string"
    )
    invindex.build_inverted_index(b1, path, n_files=2)
    post = f"{path}/postings.parquet"
    shutil.move(post, post + ".old")
    b2 = spark.createDataFrame([(3, "epsilon zeta")], "doc_id long, text string")
    invindex.append_inverted_index(b2, path)
    got = invindex.phrase_search(spark, path, "beta gamma").collect()
    assert sorted(r.doc_id for r in got) == [1, 2]


def test_compaction_after_purging_every_doc_is_empty(spark, docs, tmp_path):
    """Purging every document and compacting leaves a readable, empty
    index: the count is 0 and searches return no rows."""
    path = str(tmp_path / "purge_all_idx")
    invindex.build_inverted_index(docs, path, n_files=2)
    invindex.purge_inverted_index(docs.select("doc_id"), path)
    assert invindex.compact_inverted_index(spark, path, n_files=2) == 0
    assert spark.read.parquet(f"{path}/postings.parquet").count() == 0
    assert invindex.phrase_search(spark, path, "quick brown").count() == 0

"""The two backends of ``IndexQueryEngine._scatter``.

Every scatter caller must return the same rows whether its shard
function runs in the driver (pyarrow postings read, local relation to
the gather) or in Spark Python workers (``applyInPandas``); the
backend is picked per call by the ``LOCAL_MAX_POSTINGS`` guard on the
estimated postings, which the tests move with monkeypatch.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.operators import query
from gxdindexer_spark.operators.index_build import IndexBuilder
from gxdindexer_spark.operators.query import IndexQueryEngine
from gxdindexer_spark.sources.synth import generate_corpus
from gxdindexer_spark.sources.tables import prepare_docs

LOCAL = 1 << 62  # every test scan fits: driver-local backend
SPARK = -1  # no scan fits: Spark backend


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_scatter"))
    corpus = generate_corpus(spark, 300, seed=11, partitions=4)
    docs = (
        prepare_docs(corpus, docs_per_shard=50, partitions=4)
        .withColumn("n_chars", F.length("content"))
        .withColumn(
            "opt_val", F.when(F.col("doc_id") % 7 != 0, F.col("doc_id") * 3)
        )
    )
    IndexBuilder(
        docs_per_shard=50, salt_range=64, block_size=16, with_positions=True
    ).build(docs, idx, resume=False)
    return IndexQueryEngine(spark, idx)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _python_udf(df) -> bool:
    return "FlatMapGroupsInPandas" in _plan(df)


Q = "getIndexList if return"

# (name, call, ordered): ``ordered`` gathers end in a total order, so
# their row lists must match exactly; the rest compare as multisets
CALLERS = [
    ("topk_wand", lambda e: e.topk(Q, k=7, mode="wand"), True),
    ("topk_taat", lambda e: e.topk(Q, k=7, mode="taat"), True),
    ("topk_auto", lambda e: e.topk(Q, k=7, mode="auto"), True),
    ("topk_boolean", lambda e: e.topk("+if return -the", k=7), True),
    ("topk_where", lambda e: e.topk(Q, k=7, where="n_chars < 2500"), True),
    ("topk_boosted", lambda e: e.topk_boosted(Q, k=7), True),
    ("phrase_topk", lambda e: e.phrase_topk("if return", k=7), True),
    (
        "topk_many",
        lambda e: e.topk_many(
            {"a": Q, "b": "if", "c": "+return -if"}, k=3, mode="auto"
        ),
        False,
    ),
    ("matching_docs", lambda e: e.matching_docs(Q), False),
    ("count_matches", lambda e: e.count_matches(Q), True),
    ("facet_counts", lambda e: e.facet_counts_stored(Q, by="lang"), False),
    (
        "facet_ranges",
        lambda e: e.facet_ranges_stored(
            Q, by="n_chars", start=0, end=3000, gap=250
        ),
        False,
    ),
    (
        "facet_pivot",
        lambda e: e.facet_pivot_stored(Q, by_a="lang", by_b="repo"),
        False,
    ),
    (
        "facet_stats",
        lambda e: e.facet_stats_stored(Q, on="opt_val", by="lang"),
        False,
    ),
    (
        "facet_percentiles",
        lambda e: e.facet_percentiles_stored(Q, on="n_chars"),
        False,
    ),
    (
        "sorted_offset",
        lambda e: e.sorted_matches(Q, by="path", k=5, offset=3),
        True,
    ),
    (
        "sorted_cursor",
        lambda e: e.sorted_matches(
            Q, by="n_chars", k=5, after=(3000, 10), ascending=False
        ),
        True,
    ),
    (
        "export",
        lambda e: e.export_matches(Q, by="path", columns=("lang",)),
        True,
    ),
    (
        "grouped_1",
        lambda e: e.grouped_topk(Q, by="lang", k_groups=3),
        True,
    ),
    (
        "grouped_2",
        lambda e: e.grouped_topk(Q, by="lang", k_groups=3, k_per_group=2),
        True,
    ),
    ("highlight", lambda e: e.highlight_topk(Q, k=5), True),
    ("explain", lambda e: e.explain_score(Q, 17), True),
]


@pytest.mark.parametrize(
    "call,ordered", [c[1:] for c in CALLERS], ids=[c[0] for c in CALLERS]
)
def test_backends_return_identical_rows(eng, monkeypatch, call, ordered):
    got = {}
    for guard in (LOCAL, SPARK):
        monkeypatch.setattr(query, "LOCAL_MAX_POSTINGS", guard)
        df = call(eng)
        # the guard really picked the backend under test
        assert _python_udf(df) == (guard == SPARK)
        got[guard] = [tuple(r) for r in df.collect()]
    local, spark_rows = got[LOCAL], got[SPARK]
    assert local, "caller returned no rows: the comparison proves nothing"
    if ordered:
        assert local == spark_rows
    else:
        assert sorted(local, key=repr) == sorted(spark_rows, key=repr)


def test_guard_boundary_picks_backend(eng, monkeypatch):
    """A scan whose estimate equals the guard stays driver-local; one
    posting over it takes the Spark path. -must_not postings count:
    they are read to exclude docs even though they score nothing."""

    def est(q: str) -> int:
        return sum(eng._scan_keys(eng.make_spec(q)).values())

    q = "getIndexList return"
    monkeypatch.setattr(query, "LOCAL_MAX_POSTINGS", est(q))
    assert not _python_udf(eng.topk(q, k=5))
    monkeypatch.setattr(query, "LOCAL_MAX_POSTINGS", est(q) - 1)
    assert _python_udf(eng.topk(q, k=5))

    # only the -must_not stopword pushes the estimate over the guard
    rare, with_not = "getIndexList", "getIndexList -if"
    assert (
        eng.make_spec(with_not).term_weights
        == eng.make_spec(rare).term_weights
    )
    assert est(with_not) > est(rare)
    monkeypatch.setattr(query, "LOCAL_MAX_POSTINGS", est(rare))
    assert not _python_udf(eng.topk(rare, k=5))
    assert _python_udf(eng.topk(with_not, k=5))


def test_spark_only_without_pyarrow_dataset(eng, monkeypatch):
    """An engine whose postings pyarrow could not open at construction
    runs every scatter on Spark, whatever the estimate."""
    monkeypatch.setattr(query, "LOCAL_MAX_POSTINGS", LOCAL)
    want = eng.topk(Q, k=5).collect()
    monkeypatch.setattr(eng, "_postings_ds", None)
    df = eng.topk(Q, k=5)
    assert _python_udf(df)
    assert df.collect() == want


def test_local_dataset_is_the_relations_file_list(eng, spark, monkeypatch):
    """The pyarrow dataset is built from the Spark relation's own file
    list, not from a second directory listing, so both backends read
    the same snapshot; it still carries the hive ``shard`` column."""
    from urllib.parse import unquote, urlparse

    sources = []
    real = query.ds.dataset

    def spy(source, *args, **kw):
        # pq.read_table of the small artifacts goes through here too
        if "/postings" in str(source):
            sources.append(source)
        return real(source, *args, **kw)

    monkeypatch.setattr(query.ds, "dataset", spy)
    opened = IndexQueryEngine(spark, eng.index_dir)
    spark_files = sorted(
        unquote(urlparse(u).path) for u in opened._postings.inputFiles()
    )
    assert [sorted(s) for s in sources] == [spark_files]
    assert sorted(opened._postings_ds.files) == spark_files
    assert "shard" in opened._postings_ds.schema.names

"""Crash-resume: a build killed right after any checkpointed stage (or
after one postings bucket) resumes, with the same arguments, to the same
postings, terms and doc_stats as an uninterrupted build."""

import hashlib

import pytest

from search_engine_spark.index import STAGES

_CFG = dict(num_shards=2, num_buckets=4, block_size=32, attr_cols=("lang",))


def _build(spark, pages_pdf, d, **kw):
    from search_engine_spark.build import build_index
    from search_engine_spark.config import IndexConfig

    sdf = spark.createDataFrame(pages_pdf.head(150))
    return build_index(spark, sdf, d, IndexConfig(**_CFG), **kw)


def _digests(d: str) -> dict[str, list[str]]:
    """Per table, the sorted sha256 of every row's content (file names and
    row order differ between builds; the rows must not)."""
    import pyarrow.dataset as ds

    from search_engine_spark.index import IndexPaths

    paths = IndexPaths(d)
    out = {}
    for name in ("postings", "terms", "doc_stats"):
        rows = ds.dataset(getattr(paths, name), format="parquet",
                          partitioning="hive").to_table().to_pylist()
        out[name] = sorted(
            hashlib.sha256(repr(sorted(r.items())).encode()).hexdigest()
            for r in rows)
    return out


@pytest.fixture(scope="module")
def clean_digests(spark, pages_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("resume") / "clean")
    _build(spark, pages_pdf, d)
    return _digests(d)


@pytest.mark.parametrize("stage", [*STAGES[:-1], "postings:bucket=1"])
def test_killed_build_resumes_to_clean_build(spark, pages_pdf, tmp_path,
                                             clean_digests, stage):
    from search_engine_spark.build import BuildError

    d = str(tmp_path / "idx")
    with pytest.raises(BuildError, match="injected failure"):
        _build(spark, pages_pdf, d, fail_after=stage)
    _build(spark, pages_pdf, d, fail_after=None)
    got = _digests(d)
    assert all(got.values())
    assert got == clean_digests


@pytest.mark.parametrize("name", ["finalize", "postings:bucket=4", "dcos"])
def test_fail_after_rejects_unknown_injection_point(spark, pages_pdf,
                                                    tmp_path, name):
    """A name no stage injects at would build silently: it raises."""
    with pytest.raises(ValueError, match="fail_after"):
        _build(spark, pages_pdf, str(tmp_path / "idx"), fail_after=name)

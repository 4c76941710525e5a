"""The suite plan memo's table-scoped invalidation: a memoized plan is
served while the tables it scans are unchanged, rebuilt when one of
them is rewritten, and depends on the whole sf dir when it cannot name
what it reads. Every check runs on a tmp sf dir of tiny parquet tables
and compares the rows a rebuilt plan returns with pandas."""
from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import go_pandas_spark as gp
from go_pandas_spark import _internal as I
from go_pandas_spark import suite


def _write(path, pdf, part="part-0.parquet"):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, part))


def _table(n, scale=1):
    return pd.DataFrame({"k": np.arange(n) % 3, "v": np.arange(n) * scale})


@pytest.fixture
def sf(tmp_path):
    sf = str(tmp_path / "sf")
    _write(f"{sf}/a.parquet", _table(6))
    _write(f"{sf}/b.parquet", _table(4))
    return sf


def _sum_by_k(spark, sf_dir, table="a"):
    f = suite.load(spark, sf_dir, table)
    return (f.groupby("k", as_index=False).agg(s=("v", "sum"))
            .sort_values("k")._sdf)


def _rows(df):
    return sorted(map(tuple, df.select("k", "s").toPandas().values.tolist()))


def _expected(pdf):
    exp = pdf.groupby("k", as_index=False).agg(s=("v", "sum"))
    return sorted(map(tuple, exp.values.tolist()))


def _entries(name):
    return [k for k in suite._QUERY_PLAN_MEMO if k[1] == name]


def _stored(q, spark, sf_dir):
    """Build until the memo stores the plan: the first read of a new
    table, or of one rewritten with another schema, runs Spark's parquet
    schema-inference job, so that build is never stored; the next one
    reuses read_parquet's plan. A same-schema rewrite is read over the
    stored schema, so its first build is stored."""
    q(spark, sf_dir)
    df = q(spark, sf_dir)
    assert q(spark, sf_dir) is df
    return df


def test_unrelated_rewrite_keeps_plan(spark, sf):
    q = suite._memoized_query("memo_a_only", _sum_by_k)
    q(spark, sf)  # the table's first read runs a job: not stored
    assert suite.memo_decisions()["memo_a_only"].startswith("skip:")
    first = q(spark, sf)
    assert suite.memo_decisions()["memo_a_only"] == "miss:new"
    assert suite._QUERY_PLAN_MEMO[_entries("memo_a_only")[0]][1].keys() \
        == {f"{sf}/a.parquet"}
    _write(f"{sf}/b.parquet", _table(9, scale=5))
    assert q(spark, sf) is first
    assert suite.memo_decisions()["memo_a_only"] == "hit"
    assert _rows(first) == _expected(_table(6))


def test_rewrite_or_added_file_rebuilds(spark, sf):
    q = suite._memoized_query("memo_a_rewrite", _sum_by_k)
    first = _stored(q, spark, sf)
    _write(f"{sf}/a.parquet", _table(6, scale=10))  # in place, same name
    second = q(spark, sf)
    assert second is not first
    assert suite.memo_decisions()["memo_a_rewrite"] == \
        f"miss:stale {sf}/a.parquet"
    assert _rows(second) == _expected(_table(6, scale=10))

    _write(f"{sf}/a.parquet", _table(5, scale=100), part="part-1.parquet")
    third = q(spark, sf)
    assert third is not second
    both = pd.concat([_table(6, scale=10), _table(5, scale=100)])
    assert _rows(third) == _expected(both)
    # an added file with the same schema: stored on its first build
    assert suite.memo_decisions()["memo_a_rewrite"] == \
        f"miss:stale {sf}/a.parquet"
    assert _stored(q, spark, sf) is third


def test_join_misses_on_either_table(spark, sf):
    def joined(spark_, sf_dir):
        a = suite.load(spark_, sf_dir, "a")
        b = suite.load(spark_, sf_dir, "b")
        return gp.merge(a, b, on="k", suffixes=("_a", "_b"))._sdf

    def expected():
        a = pd.read_parquet(f"{sf}/a.parquet")
        b = pd.read_parquet(f"{sf}/b.parquet")
        m = a.merge(b, on="k", suffixes=("_a", "_b"))
        return sorted(map(tuple, m[["k", "v_a", "v_b"]].values.tolist()))

    q = suite._memoized_query("memo_join", joined)
    first = _stored(q, spark, sf)
    assert suite._QUERY_PLAN_MEMO[_entries("memo_join")[0]][1].keys() \
        == {f"{sf}/a.parquet", f"{sf}/b.parquet"}
    _write(f"{sf}/b.parquet", _table(5, scale=7))
    second = q(spark, sf)
    assert second is not first
    assert sorted(map(tuple, second.select("k", "v_a", "v_b")
                      .toPandas().values.tolist())) == expected()
    second = _stored(q, spark, sf)
    _write(f"{sf}/a.parquet", _table(8, scale=3))
    third = q(spark, sf)
    assert third is not second
    assert sorted(map(tuple, third.select("k", "v_a", "v_b")
                      .toPandas().values.tolist())) == expected()


def test_lazy_leaf_falls_back_to_whole_dir(spark, sf):
    """A lazy ``materialize`` leaf is built without a job and hides the
    table it reads, so the plan depends on the whole sf dir: a rewrite
    of its source misses, and so does one of any other table."""
    def leafy(spark_, sf_dir):
        return I.materialize(suite.load(spark_, sf_dir, "a")._sdf)

    q = suite._memoized_query("memo_leaf", leafy)
    first = _stored(q, spark, sf)
    assert suite._QUERY_PLAN_MEMO[_entries("memo_leaf")[0]][1].keys() == {sf}
    _write(f"{sf}/a.parquet", _table(7, scale=11))
    second = q(spark, sf)
    assert second is not first
    got = second.select("k", "v").toPandas().sort_values("v").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, _table(7, scale=11), check_dtype=False)

    second = _stored(q, spark, sf)
    _write(f"{sf}/b.parquet", _table(3))
    assert q(spark, sf) is not second
    assert suite.memo_decisions()["memo_leaf"] == f"miss:stale {sf}"


def test_refresh_through_to_parquet(spark, sf):
    """Mirrors a refresh workload: ``b`` is overwritten through
    ``gp.to_parquet`` before every pass. The query over ``a`` keeps its
    plan, the query over ``b`` is rebuilt with the new rows, and each
    query holds one memo entry however many rewrites there were."""
    qa = suite._memoized_query("memo_refresh_a", _sum_by_k)
    qb = suite._memoized_query(
        "memo_refresh_b", lambda s, d: _sum_by_k(s, d, "b"))
    a0 = _stored(qa, spark, sf)
    for i in range(5):
        pdf = _table(10 + i, scale=i + 2)
        gp.to_parquet(gp.Frame.from_pandas(spark, pdf), f"{sf}/b.parquet")
        assert qa(spark, sf) is a0
        assert _rows(qb(spark, sf)) == _expected(pdf)
        assert _rows(_stored(qb, spark, sf)) == _expected(pdf)
    assert len(_entries("memo_refresh_a")) == 1
    assert len(_entries("memo_refresh_b")) == 1
    assert _rows(a0) == _expected(_table(6))


def _read_jobs(spark, path):
    """``gp.read_parquet(path)`` and the Spark jobs the read launched."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs0 = sched.nextJobId()
    f = gp.read_parquet(spark, path)
    return f, sched.nextJobId() - jobs0


def test_same_schema_rewrite_reads_without_inference_job(spark, sf):
    path = f"{sf}/a.parquet"
    gp.read_parquet(spark, path)
    for i in range(2):
        _write(path, _table(7 + i, scale=3 + i))  # in place, same schema
        f, jobs = _read_jobs(spark, path)
        assert jobs == 0
        got = f.to_pandas().sort_values("v").reset_index(drop=True)
        pd.testing.assert_frame_equal(got, _table(7 + i, scale=3 + i),
                                      check_dtype=False)


def test_schema_changing_rewrite_is_read_with_new_schema(spark, sf):
    path = f"{sf}/a.parquet"
    gp.read_parquet(spark, path)
    wider = _table(5).assign(w=np.arange(5) * 0.5)  # an added column
    _write(path, wider)
    f, jobs = _read_jobs(spark, path)
    assert jobs > 0  # inferred again
    assert f.columns == ["k", "v", "w"]
    got = f.to_pandas().sort_values("v").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, wider, check_dtype=False)

    typed = pd.DataFrame({"k": np.arange(4) % 3, "v": np.arange(4) + 0.25,
                          "w": np.arange(4) * 2.0})  # v: int64 -> double
    _write(path, typed)
    f, jobs = _read_jobs(spark, path)
    assert jobs > 0
    assert dict(f._sdf.dtypes)["v"] == "double"
    got = f.to_pandas().sort_values("v").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, typed, check_dtype=False)


def test_nanos_column_keeps_micros_after_schema_reuse(spark, tmp_path):
    path = str(tmp_path / "ev.parquet")

    def write(base):
        ts = pd.to_datetime(base) + pd.to_timedelta(np.arange(4) * 1_001, "ns")
        pq.write_table(pa.table({"i": np.arange(4),
                                 "ts": pa.array(ts, pa.timestamp("ns"))}), path)
        return ts.floor("us")

    write("2024-01-01")
    gp.read_parquet(spark, path)
    exp = write("2025-06-30 12:00")
    f, jobs = _read_jobs(spark, path)
    assert jobs == 0  # read over the stored schema
    assert dict(f._sdf.dtypes)["ts"] == "timestamp"
    got = f.to_pandas().sort_values("i")["ts"].reset_index(drop=True)
    assert list(got) == list(exp)

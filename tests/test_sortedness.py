"""Sortedness tracking ported from the reference's
``python/tests/unit/arcticdb/version_store/test_date_range.py`` (UNSORTED
writes, date_range rejection) and the append/update sorted-input rules.
"""
import numpy as np
import pandas as pd
import pytest
# multi-version lifecycle / property stress: run in the FULL gate;
# deselect with -m "not slow" for the fast (<10 min) loop
pytestmark = pytest.mark.slow


from arcticdb_spark.catalog import ArcticException, SortingException


def _unsorted_df(n=20):
    dtidx = pd.date_range("2019-01-01", periods=n)
    return pd.DataFrame({"c": np.arange(n, dtype=np.int64)},
                        index=pd.DatetimeIndex(np.roll(dtidx, 3), name="ts"))


def test_write_unsorted_marks_unsorted(tmp_lib):
    # reference test_read_unsorted_date_range_dataframe
    df = _unsorted_df()
    assert not df.index.is_monotonic_increasing
    # v2 default validates (see test_write_unsorted_default_raises);
    # validate_index=False is the native-API path these cases model
    tmp_lib.write("sym", df, validate_index=False)
    assert tmp_lib.get_info("sym")["sorted"] == "UNSORTED"
    # values roundtrip (row order is partition order — a documented
    # deviation; values and count must survive)
    out = tmp_lib.read("sym", output_format="pandas")
    assert sorted(out["c"].tolist()) == sorted(df["c"].tolist())
    with pytest.raises(SortingException):
        tmp_lib.read("sym", date_range=(pd.Timestamp("2019-01-03"),
                                        pd.Timestamp("2019-01-06")))


def test_write_sorted_marks_ascending(tmp_lib):
    df = pd.DataFrame({"c": np.arange(5, dtype=np.int64)},
                      index=pd.date_range("2019-01-01", periods=5, name="ts"))
    tmp_lib.write("sym", df)
    assert tmp_lib.get_info("sym")["sorted"] == "ASCENDING"
    out = tmp_lib.read("sym", date_range=(pd.Timestamp("2019-01-02"),
                                          pd.Timestamp("2019-01-04")))
    assert out.count() == 3


def test_unsorted_multiindex_write(tmp_lib):
    # reference test_read_unsorted_date_range_dataframe_multi_index
    n = 20
    lvl0 = np.roll(pd.date_range("2019-01-01", periods=n), 3)
    lvl1 = np.roll(np.arange(n), 3)
    df = pd.DataFrame({"c": np.arange(n, dtype=np.int64)},
                      index=pd.MultiIndex.from_arrays(
                          [lvl0, lvl1], names=["datetime", "level"]))
    tmp_lib.write("sym", df, validate_index=False)
    assert tmp_lib.get_info("sym")["sorted"] == "UNSORTED"
    with pytest.raises(SortingException):
        tmp_lib.read("sym", date_range=(pd.Timestamp("2019-01-03"),
                                        pd.Timestamp("2019-01-06")))


def test_date_range_on_range_indexed_symbol_raises(tmp_lib):
    # reference test_read_date_range_not_date_time_dataframe
    tmp_lib.write("r", pd.DataFrame({"c": np.arange(5, dtype=np.int64)}))
    with pytest.raises(ArcticException):
        tmp_lib.read("r", date_range=(pd.Timestamp("2019-01-03"),
                                      pd.Timestamp("2019-01-06")))


def test_append_sortedness_rules(tmp_lib):
    sorted_df = pd.DataFrame(
        {"c": np.arange(5, dtype=np.int64)},
        index=pd.date_range("2019-01-01", periods=5, name="ts"))
    later = pd.DataFrame(
        {"c": np.arange(5, dtype=np.int64)},
        index=pd.date_range("2019-02-01", periods=5, name="ts"))
    # append to an UNSORTED symbol raises unless validate_index=False
    tmp_lib.write("u", _unsorted_df(), validate_index=False)
    with pytest.raises(SortingException):
        tmp_lib.append("u", later)
    m = tmp_lib.append("u", later, validate_index=False)
    assert m.sorted == "UNSORTED"
    # appending an unsorted chunk to a sorted symbol raises
    tmp_lib.write("s", sorted_df)
    unsorted_later = _unsorted_df().copy()
    unsorted_later.index = pd.DatetimeIndex(
        np.roll(pd.date_range("2020-01-01", periods=20), 3), name="ts")
    with pytest.raises(SortingException):
        tmp_lib.append("s", unsorted_later)
    m = tmp_lib.append("s", unsorted_later, validate_index=False)
    assert m.sorted == "UNSORTED"
    # overlapping append with validate_index=False lands as UNSORTED
    tmp_lib.write("o", sorted_df)
    overlap = pd.DataFrame(
        {"c": [99]}, index=pd.DatetimeIndex([pd.Timestamp("2019-01-02")],
                                            name="ts"))
    with pytest.raises(SortingException):
        tmp_lib.append("o", overlap)
    m = tmp_lib.append("o", overlap, validate_index=False)
    assert m.sorted == "UNSORTED"
    assert tmp_lib.read("o").count() == 6
    # clean append stays ASCENDING
    tmp_lib.write("a", sorted_df)
    assert tmp_lib.append("a", later).sorted == "ASCENDING"


def test_update_unsorted_raises(tmp_lib):
    tmp_lib.write("u", _unsorted_df(), validate_index=False)
    upd = pd.DataFrame({"c": [42]},
                       index=pd.DatetimeIndex([pd.Timestamp("2019-01-05")],
                                              name="ts"))
    with pytest.raises(SortingException):
        tmp_lib.update("u", upd)


def test_sort_index_repairs_out_of_order_appends(tmp_lib):
    # reference test_append_out_of_order_and_sort / test_sort_index
    rng = np.random.default_rng(5)
    n = 200
    full = pd.DataFrame(
        {"c": np.arange(n, dtype=np.int64)},
        index=pd.date_range("2020-01-01", periods=n, name="ts"))
    chunks = [full.iloc[i:i + 25] for i in range(0, n, 25)]
    order = rng.permutation(len(chunks))
    tmp_lib.write("sym", chunks[order[0]])
    for i in order[1:]:
        tmp_lib.append("sym", chunks[i], validate_index=False)
    assert tmp_lib.get_info("sym")["sorted"] == "UNSORTED"
    n_chunks = len(chunks)
    tmp_lib.sort_index("sym")
    out = tmp_lib.read("sym", output_format="pandas").sort_values("ts")
    assert out["c"].tolist() == full["c"].tolist()
    assert tmp_lib.get_info("sym")["sorted"] == "ASCENDING"
    # sorted symbol supports date_range again
    got = tmp_lib.read("sym", date_range=(full.index[10], full.index[19]))
    assert got.count() == 10
    # idempotent
    tmp_lib.sort_index("sym")
    out2 = tmp_lib.read("sym", output_format="pandas").sort_values("ts")
    assert out2["c"].tolist() == full["c"].tolist()
    # versions: n_chunks writes + 2 sorts
    assert len(tmp_lib.list_versions("sym")) == n_chunks + 2
    tmp_lib.sort_index("sym", prune_previous_versions=True)
    assert len(tmp_lib.list_versions("sym")) == 1


def test_sort_index_rejects_rangeindex_and_pickled(tmp_lib):
    from arcticdb_spark.catalog import ArcticException
    tmp_lib.write("r", pd.DataFrame({"c": [1, 2]}))
    with pytest.raises(ArcticException):
        tmp_lib.sort_index("r")
    tmp_lib.write_pickle("p", {"x": 1})
    with pytest.raises(ArcticException):
        tmp_lib.sort_index("p")


def _desc_df(start, n=10):
    idx = pd.DatetimeIndex(list(reversed(pd.date_range(start, periods=n))),
                           name="ts")
    return pd.DataFrame({"c": np.arange(n, dtype=np.int64)}, index=idx)


def test_write_descending_marks_descending(tmp_lib):
    # reference test_append.py test_append_mix_descending_not_sorted
    df = _desc_df("2019-01-01")
    assert df.index.is_monotonic_decreasing
    tmp_lib.write("d", df, validate_index=False)
    assert tmp_lib.get_info("d")["sorted"] == "DESCENDING"
    # values/pairs survive exactly (row order for non-ascending multi-file
    # writes is file order — same documented deviation as UNSORTED writes)
    out = tmp_lib.read("d", output_format="pandas")
    assert sorted(zip(out.index, out["c"])) == sorted(zip(df.index, df["c"]))
    # date_range needs ascending
    with pytest.raises(SortingException):
        tmp_lib.read("d", date_range=(pd.Timestamp("2019-01-02"),
                                      pd.Timestamp("2019-01-05")))
    # update needs ascending
    with pytest.raises(SortingException):
        tmp_lib.update("d", pd.DataFrame(
            {"c": [1]}, index=pd.DatetimeIndex([pd.Timestamp("2019-01-03")],
                                               name="ts")))


def test_append_descending_state_machine(tmp_lib):
    # reference test_append_mix_descending_not_sorted /
    # test_append_mix_ascending_descending: per-chunk status merge
    tmp_lib.write("d", _desc_df("2019-01-01"), validate_index=False)
    # appending to a non-ascending symbol needs validate_index=False
    with pytest.raises(SortingException):
        tmp_lib.append("d", _desc_df("2020-01-01"))
    m = tmp_lib.append("d", _desc_df("2020-01-01"), validate_index=False)
    assert m.sorted == "DESCENDING"            # DESC + DESC -> DESC
    m = tmp_lib.append("d", _unsorted_df(), validate_index=False)
    assert m.sorted == "UNSORTED"              # DESC + UNSORTED -> UNSORTED
    m = tmp_lib.append(
        "d", pd.DataFrame({"c": np.arange(5, dtype=np.int64)},
                          index=pd.date_range("2022-01-01", periods=5,
                                              name="ts")),
        validate_index=False)
    assert m.sorted == "UNSORTED"              # sticky

    tmp_lib.write("m", _desc_df("2019-01-01"), validate_index=False)
    m = tmp_lib.append(
        "m", pd.DataFrame({"c": np.arange(5, dtype=np.int64)},
                          index=pd.date_range("2020-01-01", periods=5,
                                              name="ts")),
        validate_index=False)
    assert m.sorted == "UNSORTED"              # DESC + ASC -> UNSORTED


def test_sort_index_repairs_descending(tmp_lib):
    df = _desc_df("2019-01-01")
    tmp_lib.write("d", df, validate_index=False)
    tmp_lib.sort_index("d")
    assert tmp_lib.get_info("d")["sorted"] == "ASCENDING"
    out = tmp_lib.read("d", date_range=(pd.Timestamp("2019-01-02"),
                                        pd.Timestamp("2019-01-05")))
    assert out.count() == 4


def test_unsorted_multifile_write_preserves_original_row_order(spark, tmp_path):
    """Reference keeps INPUT row order for unsorted data across segment
    boundaries (test_append.py mix-order cases): a multi-file unsorted
    write must read back in exactly the order given, not ts-of-file order.
    rows_per_file=500 forces 4 segments for 2000 rows (segment sizing is
    contractual since the coalesce fix — fragmentation is no longer an
    accident of default parallelism)."""
    from arcticdb_spark.catalog import Arctic
    tmp_lib = Arctic(str(tmp_path), spark).create_library(
        "sortlib", rows_per_file=500)
    rng = np.random.default_rng(11)
    n = 2000
    perm = rng.permutation(n)
    idx = pd.DatetimeIndex(
        pd.date_range("2024-01-01", periods=n, freq="1min")[perm], name="ts")
    df = pd.DataFrame({"v": np.arange(n, dtype=np.int64)}, index=idx)
    m = tmp_lib.write("u", df, validate_index=False)
    assert m.sorted == "UNSORTED"
    assert len(m.files) > 1, "test needs a multi-file write to be meaningful"
    back = tmp_lib.read("u", output_format="pandas")
    assert back["v"].tolist() == df["v"].tolist()
    assert list(back.index) == list(df.index)


def test_descending_multifile_write_preserves_original_row_order(spark, tmp_path):
    from arcticdb_spark.catalog import Arctic
    tmp_lib = Arctic(str(tmp_path), spark).create_library(
        "sortlib", rows_per_file=500)
    n = 2000
    idx = pd.date_range("2024-01-01", periods=n, freq="1min",
                        name="ts")[::-1]
    df = pd.DataFrame({"v": np.arange(n, dtype=np.int64)}, index=idx)
    m = tmp_lib.write("d", df, validate_index=False)
    assert m.sorted == "DESCENDING"
    assert len(m.files) > 1
    back = tmp_lib.read("d", output_format="pandas")
    assert back["v"].tolist() == df["v"].tolist()
    assert list(back.index) == list(df.index)


def test_unsorted_append_chunks_keep_chunk_order(tmp_lib):
    """Unsorted chunks appended with validate_index=False read back in
    write order: first chunk's rows (in its order), then the second's."""
    i1 = pd.DatetimeIndex(["2024-01-05", "2024-01-02", "2024-01-09"],
                          name="ts")
    i2 = pd.DatetimeIndex(["2024-01-04", "2024-01-01"], name="ts")
    tmp_lib.write("m", pd.DataFrame({"v": [0, 1, 2]}, index=i1),
                  validate_index=False)
    tmp_lib.append("m", pd.DataFrame({"v": [3, 4]}, index=i2),
                   validate_index=False)
    back = tmp_lib.read("m", output_format="pandas")
    assert back["v"].tolist() == [0, 1, 2, 3, 4]
    assert list(back.index) == list(i1) + list(i2)


def test_write_unsorted_default_raises(tmp_lib):
    """v2 Library.write default validate_index=True rejects a
    non-monotonic-increasing datetime index (reference test_write.py
    test_write_not_sorted_exception / _multi_index_exception)."""
    with pytest.raises(SortingException):
        tmp_lib.write("bad", _unsorted_df())
    n = 20
    lvl0 = np.roll(pd.date_range("2019-01-01", periods=n), 3)
    mdf = pd.DataFrame({"c": np.arange(n, dtype=np.int64)},
                       index=pd.MultiIndex.from_arrays(
                           [lvl0, np.arange(n)], names=["datetime", "lvl"]))
    with pytest.raises(SortingException):
        tmp_lib.write("bad", mdf)
    # descending is also not monotonic increasing under the v2 contract
    with pytest.raises(SortingException):
        tmp_lib.write("bad", _desc_df("2019-01-01"))
    assert not tmp_lib.has_symbol("bad")


# --- write order is restored on the driver, not by a Spark global sort ----

# append sizes that differ enough for Spark's FilePartition packing (files
# sorted largest-first, one small file per partition) to collect the files
# out of write order
_CHUNK_ROWS = [5, 4000, 40, 2500, 300, 1200, 10, 800, 60, 3000]


def _multi_size_symbol(lib, sym="mf"):
    """A 10-file RangeIndex symbol (start 100, step 2) built by appends of
    very different sizes; returns the frame it models."""
    chunks, start = [], 0
    for i, n in enumerate(_CHUNK_ROWS):
        chunk = pd.DataFrame(
            {"v": np.arange(start, start + n, dtype=np.int64),
             "s": [f"r{j}" for j in range(start, start + n)]},
            index=pd.RangeIndex(100 + 2 * start, 100 + 2 * (start + n), 2))
        (lib.write if i == 0 else lib.append)(sym, chunk)
        chunks.append(chunk)
        start += n
    assert len(lib._resolve_version(sym, None).files) == len(_CHUNK_ROWS)
    full = pd.concat(chunks)
    # precondition: the unordered Spark scan really is out of write order
    scanned = lib.read(sym, output_format="spark").toPandas()["v"].tolist()
    assert scanned != full["v"].tolist()
    return full


def test_multi_size_read_restores_write_order(tmp_lib):
    full = _multi_size_symbol(tmp_lib)
    out = tmp_lib.read("mf", output_format="pandas")
    pd.testing.assert_frame_equal(out, full)

    tbl = tmp_lib.read("mf", output_format="arrow")
    assert "__row_id__" not in tbl.column_names
    assert tbl.column("v").to_pylist() == full["v"].tolist()
    assert tbl.column("s").to_pylist() == full["s"].tolist()


def test_multi_size_read_polars_write_order(tmp_lib):
    pytest.importorskip("polars")
    full = _multi_size_symbol(tmp_lib)
    out = tmp_lib.read("mf", output_format="polars")
    assert out["v"].to_list() == full["v"].tolist()


def test_multi_size_read_with_row_ids_keeps_ids_in_order(tmp_lib):
    full = _multi_size_symbol(tmp_lib)
    n = len(full)
    out = tmp_lib.read("mf", output_format="pandas", with_row_ids=True)
    assert out["v"].tolist() == full["v"].tolist()
    assert out["__row_id__"].tolist() == list(range(n))
    tbl = tmp_lib.read("mf", output_format="arrow", with_row_ids=True)
    assert tbl.column("__row_id__").to_pylist() == list(range(n))
    assert tbl.column("v").to_pylist() == full["v"].tolist()


def test_multi_size_row_range_write_order(tmp_lib):
    from arcticdb_spark import QueryBuilder
    full = _multi_size_symbol(tmp_lib)
    lo, hi = 3, 9000
    # plain pandas row_range: the RangeIndex positions are rebuilt from the
    # original row ids (range_positions path)
    out = tmp_lib.read("mf", output_format="pandas", row_range=(lo, hi))
    pd.testing.assert_frame_equal(out, full.iloc[lo:hi])
    tbl = tmp_lib.read("mf", output_format="arrow", row_range=(lo, hi))
    assert tbl.column("v").to_pylist() == full["v"].tolist()[lo:hi]
    # the same positions through a QueryBuilder row_range / tail clause
    q = QueryBuilder().row_range((lo, hi))
    out = tmp_lib.read("mf", output_format="pandas", query_builder=q)
    pd.testing.assert_frame_equal(out, full.iloc[lo:hi])
    out = tmp_lib.read("mf", output_format="pandas",
                       query_builder=QueryBuilder().tail(7000))
    pd.testing.assert_frame_equal(out, full.iloc[-7000:])


def test_plain_pandas_read_is_one_spark_job(tmp_lib):
    """Write order costs no Spark work: a global orderBy would add a
    sampling and a shuffle job to what is one scan-and-collect job."""
    full = _multi_size_symbol(tmp_lib)
    sc = tmp_lib.spark.sparkContext
    group = "test_plain_pandas_read_is_one_spark_job"
    sc.setJobGroup(group, group)
    try:
        out = tmp_lib.read("mf", output_format="pandas")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()   # job events are async
    assert out["v"].tolist() == full["v"].tolist()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

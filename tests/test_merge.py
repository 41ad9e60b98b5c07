"""Golden merge-semantics tests on the FIXTURES §B pairs (SURVEY §2.11)."""

import os

import pytest

from parquet_merger_spark.operators.export import export_csv
from parquet_merger_spark.operators.merge import merge_batches, merged_df, write_parquet
from parquet_merger_spark.plans.planner import MergePlan
from parquet_merger_spark.plans.schema import (
    NoCommonColumnsError,
    NoFilesToMergeError,
    UnreadableSchemaError,
)


def test_compatible_pair_keeps_all_columns(spark, fixture_dir):
    _, f = fixture_dir
    df = merged_df(spark, [f["compat_a"], f["compat_b"]])
    assert df.columns == ["key", "name", "val"]
    assert df.count() == 200


def test_reordered_pair_is_mismatch_but_full_intersection(spark, fixture_dir):
    _, f = fixture_dir
    df = merged_df(spark, [f["compat_a"], f["reordered"]])
    # intersection contains all 3 columns, ordered by FIRST file's schema
    assert df.columns == ["key", "name", "val"]
    assert df.count() == 200


def test_subset_pair_drops_extra_not_null_fills(spark, fixture_dir):
    _, f = fixture_dir
    df = merged_df(spark, [f["subset_super"], f["compat_a"]])
    assert df.columns == ["key", "name", "val"]  # 'extra' dropped entirely
    assert df.count() == 200


def test_type_conflict_excludes_column(spark, fixture_dir):
    _, f = fixture_dir
    df = merged_df(spark, [f["compat_a"], f["type_conflict"]])
    assert df.columns == ["name", "val"]  # key: int64 vs int32 -> excluded
    assert df.count() == 200


def test_no_common_columns_errors(spark, fixture_dir):
    _, f = fixture_dir
    with pytest.raises(NoCommonColumnsError):
        merged_df(spark, [f["no_common_a"], f["no_common_b"]])


def test_empty_batch_errors(spark):
    with pytest.raises(NoFilesToMergeError):
        merged_df(spark, [])


def test_unreadable_schema_errors(spark, tmp_path):
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(UnreadableSchemaError):
        merged_df(spark, [str(bad)])


def test_single_file_sink_and_row_count(spark, fixture_dir, tmp_path):
    _, f = fixture_dir
    df = merged_df(spark, [f["compat_a"], f["compat_b"]])
    out = str(tmp_path / "out.parquet")
    rows = write_parquet(df, out, single_file=True)
    assert rows == 200
    assert os.path.isfile(out)
    assert spark.read.parquet(out).count() == 200


def test_partitioned_sink(spark, fixture_dir, tmp_path):
    _, f = fixture_dir
    df = merged_df(spark, [f["compat_a"], f["compat_b"]])
    out = str(tmp_path / "out_dir")
    rows = write_parquet(df, out, single_file=False)
    assert rows == 200
    assert os.path.isdir(out)
    assert spark.read.parquet(out).count() == 200


def test_csv_export_drops_internal_cols_parquet_keeps(spark, fixture_dir, tmp_path):
    _, f = fixture_dir
    df = merged_df(spark, [f["internal_cols"]])
    assert "__index_level_0__" in df.columns  # parquet path keeps it
    out = str(tmp_path / "out.csv")
    export_csv(df, out, single_file=True)
    header = open(out).readline().strip()
    assert header == "key,val"


def test_csv_rfc4180_quoting(spark, tmp_path):
    df = spark.createDataFrame(
        [("has,comma", 1), ('has"quote', 2), ("has\nnewline", 3), (None, 4)],
        "s string, i int",
    )
    out = str(tmp_path / "esc.csv")
    export_csv(df, out, single_file=True)
    text = open(out).read()
    assert '"has,comma"' in text
    assert '"has""quote"' in text  # RFC-4180 doubled inner quote
    roundtrip = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(out)
    )
    got = {r["i"]: r["s"] for r in roundtrip.collect()}
    assert got["1"] == "has,comma"
    assert got["2"] == 'has"quote'
    assert got["3"] == "has\nnewline"
    assert got["4"] is None


def test_merge_batches_isolates_failures(spark, fixture_dir, tmp_path):
    _, f = fixture_dir
    plans = [
        MergePlan(name="good", paths=[f["compat_a"], f["compat_b"]]),
        MergePlan(name="bad", paths=[f["no_common_a"], f["no_common_b"]]),
    ]
    results = merge_batches(spark, plans, str(tmp_path), single_file=True)
    by_name = {r.name: r for r in results}
    assert by_name["good"].ok and by_name["good"].rows == 200
    assert not by_name["bad"].ok
    assert "No common columns" in by_name["bad"].error
    assert os.path.isfile(os.path.join(str(tmp_path), "merged", "good.parquet"))


def test_single_file_sink_honors_compression(spark, fixture_dir, tmp_path):
    """The compression option must reach the parquet footer in BOTH sink
    modes (the single-file branch used to silently drop it)."""
    import pyarrow.parquet as pq

    _, f = fixture_dir
    df = merged_df(spark, [f["compat_a"]])

    single = str(tmp_path / "zstd_single.parquet")
    write_parquet(df, single, single_file=True, compression="zstd")
    assert pq.ParquetFile(single).metadata.row_group(0).column(0).compression == "ZSTD"

    multi = str(tmp_path / "zstd_dir")
    write_parquet(df, multi, single_file=False, compression="zstd")
    part = next(p for p in os.listdir(multi) if p.endswith(".parquet"))
    meta = pq.ParquetFile(os.path.join(multi, part)).metadata
    assert meta.row_group(0).column(0).compression == "ZSTD"


def test_csv_roundtrip_all_type_families(spark, tmp_path):
    """The CSV sink through the reference's full type surface (F7):
    int/bigint/double/timestamp/date/boolean/string, with nulls -> empty.
    Re-read with the written schema reproduces every value."""
    import datetime

    from pyspark.sql import Row, functions as F
    from pyspark.sql import types as T

    rows = [
        Row(i=1, big=2**40, d=1.5, ts=datetime.datetime(2024, 5, 1, 12, 30, 45),
            dt=datetime.date(2024, 5, 1), b=True, s='quote"comma, and\nnewline'),
        Row(i=None, big=None, d=None, ts=None, dt=None, b=None, s=None),
        Row(i=-7, big=-1, d=0.125, ts=datetime.datetime(1999, 12, 31, 23, 59, 59),
            dt=datetime.date(1970, 1, 1), b=False, s=""),
    ]
    schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("big", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("dt", T.DateType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("s", T.StringType()),
    ])
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "typed.csv")
    export_csv(df, out, single_file=True)

    back = (
        spark.read.schema(schema)
        .options(header="true", escape='"', multiLine="true",
                 timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSS", dateFormat="yyyy-MM-dd")
        .csv(out)
    )
    orig = {tuple(str(v) for v in r) for r in df.collect()}
    rt = {tuple(str(v) for v in r) for r in back.collect()}
    # CSV cannot distinguish null string from empty string (both write "");
    # normalize that one documented lossy case
    fix = lambda t: tuple(("" if (i == 6 and v == "None") else v) for i, v in enumerate(t))
    assert {fix(t) for t in orig} == {fix(t) for t in rt}


def test_widen_merge_keeps_all_columns_null_filled(spark, tmp_path):
    from parquet_merger_spark.operators.merge import (
        merge_dataframes_widen,
        merged_df_widen,
    )

    a = spark.createDataFrame([(1, "x")], "id long, a string")
    b = spark.createDataFrame([(2, 9.5)], "id long, b double")
    p_a, p_b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    a.write.parquet(p_a)
    b.write.parquet(p_b)

    merged = merged_df_widen(spark, [p_a, p_b])
    assert set(merged.columns) == {"id", "a", "b"}
    rows = {tuple(r) for r in merged.select("id", "a", "b").collect()}
    assert rows == {(1, "x", None), (2, None, 9.5)}

    # frame-level twin produces the identical row set
    framed = merge_dataframes_widen([a, b])
    assert {tuple(r) for r in framed.select("id", "a", "b").collect()} == rows


def test_widen_vs_intersection_contract(spark, tmp_path):
    # same inputs: reference-parity merge drops the drifting column,
    # widening merge keeps it — both are deliberate, separate contracts
    from parquet_merger_spark.operators.merge import merged_df, merged_df_widen

    a = spark.createDataFrame([(1, "x")], "id long, extra string")
    b = spark.createDataFrame([(2,)], "id long")
    p_a, p_b = str(tmp_path / "wa.parquet"), str(tmp_path / "wb.parquet")
    a.write.parquet(p_a)
    b.write.parquet(p_b)
    assert merged_df(spark, [p_a, p_b]).columns == ["id"]
    assert set(merged_df_widen(spark, [p_a, p_b]).columns) == {"id", "extra"}


def test_merge_batches_concurrent_equals_serial(spark, tmp_path):
    import glob as _glob

    from parquet_merger_spark.operators.merge import merge_batches
    from parquet_merger_spark.plans.planner import MergePlan

    plans = []
    for i in range(4):
        d = spark.createDataFrame([(i, j) for j in range(50)], "batch long, v long")
        p1, p2 = str(tmp_path / f"in{i}_a.parquet"), str(tmp_path / f"in{i}_b.parquet")
        d.write.parquet(p1)
        d.write.parquet(p2)
        plans.append(MergePlan(name=f"b{i}", paths=[p1, p2], schema_mismatch=False))
    plans.append(MergePlan(name="bad", paths=[str(tmp_path / "missing.parquet")],
                           schema_mismatch=False))

    serial = merge_batches(spark, plans, str(tmp_path / "ser"), max_concurrency=1)
    conc = merge_batches(spark, plans, str(tmp_path / "conc"), max_concurrency=4)
    assert [r.name for r in conc] == [r.name for r in serial]  # plan order kept
    assert [r.rows for r in conc] == [r.rows for r in serial] == [100, 100, 100, 100, None]
    assert conc[-1].error and serial[-1].error  # failure isolation in both modes
    for r in conc[:-1]:
        got = spark.read.parquet(r.output_path)
        assert got.count() == 100


def test_merge_batches_live_progress(spark, fixture_dir, tmp_path):
    """The progress hook (twin of the reference's MergeProgress struct,
    src/main.rs:56-67) must deliver one terminal event per batch with
    complete task tallies and a monotone batch counter; a failing batch
    reports state 'failed'; any live samples stay within bounds."""
    from parquet_merger_spark.operators.merge import merge_batches

    _, f = fixture_dir
    plans = [
        MergePlan(name="good", paths=[f["compat_a"], f["compat_b"]]),
        MergePlan(name="bad", paths=[f["no_common_a"], f["no_common_b"]]),
    ]
    events = []
    results = merge_batches(
        spark,
        plans,
        str(tmp_path),
        single_file=True,
        progress=events.append,
        progress_poll_sec=0.05,
    )
    assert [r.ok for r in results] == [True, False]
    finals = [e for e in events if e.state in ("done", "failed")]
    assert [(e.batch_name, e.state) for e in finals] == [
        ("good", "done"),
        ("bad", "failed"),
    ]
    good = finals[0]
    assert good.tasks_total > 0 and good.tasks_done == good.tasks_total
    assert [e.batches_done for e in finals] == [1, 2]
    assert all(e.batches_total == 2 for e in events)
    for e in events:
        assert 0 <= e.tasks_done <= e.tasks_total
        if e.state == "running":
            assert e.batch_name in {"good", "bad"}


def test_single_file_output_row_order_is_reference_order(spark, tmp_path):
    """merge_batches(single_file=True) must emit rows EXACTLY as the
    reference would: files in plan order, rows within a file in file
    order (src/main.rs:580-599 appends batches to the writer in member
    order).  repartition(1) alone is a round-robin shuffle with
    nondeterministic reduce-side fetch order — the ordered merge path
    pins it (advisor finding, r07).  Also covers the CSV twin."""
    import pandas as pd

    from parquet_merger_spark.operators.merge import merged_df_ordered

    files, want = [], []
    for i in range(4):
        # per-file rows deliberately NOT sorted by any data column, so a
        # "sorted output" false-pass is impossible
        vals = [(i * 10 + j) * 7 % 13 for j in range(50)]
        pdf = pd.DataFrame({"k": vals, "src": [f"f{i}"] * 50})
        p = str(tmp_path / f"part_{i}.parquet")
        pdf.to_parquet(p, index=False)
        files.append(p)
        want.append(pdf)
    expected = pd.concat(want, ignore_index=True)

    plan = MergePlan(name="ordered", paths=files)
    out_dir = str(tmp_path / "out")
    for _ in range(2):  # determinism across runs, not just one lucky fetch
        res = merge_batches(spark, [plan], out_dir, single_file=True, csv=True)
        assert res[0].ok and res[0].rows == 200
        got = pd.read_parquet(os.path.join(out_dir, "merged", "ordered.parquet"))
        pd.testing.assert_frame_equal(got, expected)
        csv = pd.read_csv(os.path.join(out_dir, "merged", "ordered.csv"))
        pd.testing.assert_frame_equal(csv, expected, check_dtype=False)

    # the helper columns never leak into the output schema
    assert not [c for c in got.columns if c.startswith("__pm_")]

    # merged_df_ordered honors CALLER order, not sorted order
    rev = list(reversed(files))
    df, order_cols = merged_df_ordered(spark, rev)
    import pyspark.sql.functions as F

    seqs = (
        df.groupBy("src").agg(F.min(order_cols[0]).alias("seq"))
        .orderBy("seq").select("src").collect()
    )
    assert [r.src for r in seqs] == ["f3", "f2", "f1", "f0"]


def test_single_file_order_with_schema_mismatch_groups(spark, tmp_path):
    """Reference order must hold on the INTERSECTION path too, where files
    with distinct schemas land in different scan groups and plan order
    interleaves the groups (file 0 and 2 share a schema, 1 differs)."""
    import pandas as pd

    pd.DataFrame({"k": range(0, 30), "name": ["a"] * 30}).to_parquet(
        tmp_path / "m0.parquet", index=False
    )
    pd.DataFrame(
        {"k": range(100, 140), "name": ["b"] * 40, "extra": [1.5] * 40}
    ).to_parquet(tmp_path / "m1.parquet", index=False)
    pd.DataFrame({"k": range(200, 220), "name": ["c"] * 20}).to_parquet(
        tmp_path / "m2.parquet", index=False
    )
    paths = [str(tmp_path / f"m{i}.parquet") for i in range(3)]
    plan = MergePlan(name="mix", paths=paths)
    out_dir = str(tmp_path / "out_mix")
    res = merge_batches(spark, [plan], out_dir, single_file=True)
    assert res[0].ok and res[0].rows == 90
    got = pd.read_parquet(os.path.join(out_dir, "merged", "mix.parquet"))
    assert got.columns.tolist() == ["k", "name"]
    assert got["k"].tolist() == list(range(0, 30)) + list(range(100, 140)) + list(
        range(200, 220)
    )


def test_ordered_merge_directory_inputs(spark, tmp_path):
    """r09 advisor fix: a DIRECTORY input (multi-part dataset) must keep
    reference order too.  Pre-fix, _metadata.file_path (the LEAF part
    file) never matched the directory's qualified URI, the LEFT join left
    __pm_file_seq__ NULL, and those rows silently sorted FIRST — wrong
    order, no error.  Now the mapping expands directories to their leaf
    files (sorted part order = Spark's write order) and any unresolved
    URI raises instead of misordering."""
    import pandas as pd
    import pyspark.sql.functions as F

    from parquet_merger_spark.operators.merge import merged_df_ordered

    # input 0: a 3-part DIRECTORY dataset with known per-part contents
    part_frames = []
    dir0 = str(tmp_path / "multi")
    for j in range(3):
        pdf = pd.DataFrame(
            {"k": [(j * 50 + i) * 7 % 13 for i in range(40)],
             "src": [f"d{j}"] * 40}
        )
        part_frames.append(pdf)
    # write parts via Spark so the layout is a genuine part-file dataset;
    # one file per part, names sorted in part order
    for j, pdf in enumerate(part_frames):
        mode = "overwrite" if j == 0 else "append"
        spark.createDataFrame(pdf).coalesce(1).write.mode(mode).parquet(dir0)
    # input 1: a plain file AFTER the directory in caller order
    tail = pd.DataFrame({"k": [99] * 10, "src": ["tail"] * 10})
    f1 = str(tmp_path / "tail.parquet")
    tail.to_parquet(f1, index=False)

    df, order_cols = merged_df_ordered(spark, [dir0, f1])
    got = (
        df.orderBy(*order_cols)
        .drop(*order_cols)
        .toPandas()
    )
    # every directory row precedes every tail row (caller order), no NULL
    # seq ordered anything first
    assert got["src"].tolist()[-10:] == ["tail"] * 10
    assert set(got["src"].tolist()[:-10]) == {"d0", "d1", "d2"}
    # within the directory, part files appear whole and in one block each
    # (sorted part-name order), rows inside each part in file order
    dir_rows = got.iloc[:-10].reset_index(drop=True)
    blocks = [
        dir_rows[dir_rows["src"] == s]["k"].tolist()
        for s in sorted(set(dir_rows["src"]))
    ]
    expected_blocks = sorted(
        ([pf["k"].tolist() for pf in part_frames]), key=lambda b: b
    )
    assert sorted(blocks) == sorted(expected_blocks)
    # each src block is contiguous (a part file is never interleaved)
    src_seq = dir_rows["src"].tolist()
    seen, prev = set(), None
    for s in src_seq:
        if s != prev:
            assert s not in seen, f"part {s} interleaved"
            seen.add(s)
            prev = s


def test_ordered_merge_uri_directory_input(spark, tmp_path):
    """r09: scheme-qualified directory inputs (object-store shape) expand
    through the Hadoop FS API — same leaves, same order, same result as
    the plain-path form of the identical directory."""
    import pandas as pd

    from parquet_merger_spark.operators.merge import merged_df_ordered

    d0 = str(tmp_path / "ds")
    spark.createDataFrame(
        pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    ).coalesce(1).write.mode("overwrite").parquet(d0)
    spark.createDataFrame(
        pd.DataFrame({"a": [3, 4], "b": ["z", "w"]})
    ).coalesce(1).write.mode("append").parquet(d0)

    def rows(paths):
        df, cols = merged_df_ordered(spark, paths)
        return [r.a for r in df.orderBy(*cols).drop(*cols).collect()]

    plain = rows([d0])
    via_uri = rows(["file:" + d0])
    assert plain == via_uri and sorted(plain) == [1, 2, 3, 4]


def _order_map_inputs(tmp_path):
    """Two small files under a directory whose name Hadoop URL-encodes
    (space, '%', '#') and holds non-ASCII, with schema drift (the second
    file has an extra column), plus the expected reference-order result."""
    import pandas as pd

    d = tmp_path / "dätä, ü #%"
    d.mkdir()
    a = pd.DataFrame({"k": [5, 3, 9], "s": ['x,1', 'y"2', "ü3"]})
    b = pd.DataFrame({"k": [2, 8], "s": ["p", "q"], "extra": [1.5, 2.5]})
    paths = [str(d / "a.parquet"), str(d / "b.parquet")]
    a.to_parquet(paths[0], index=False)
    b.to_parquet(paths[1], index=False)
    return paths, pd.concat([a, b[["k", "s"]]], ignore_index=True)


def test_ordered_merge_file_map_is_local_relation(spark, tmp_path):
    """The file-sequence map is a JVM LocalRelation, not a Python-list
    LogicalRDD whose broadcast would start Python workers per batch."""
    from parquet_merger_spark.operators.merge import merged_df_ordered

    paths, _ = _order_map_inputs(tmp_path)
    df, _ = merged_df_ordered(spark, paths)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


def test_single_file_merge_order_without_arrow(spark, tmp_path):
    """Same rows, same order with Arrow conversion disabled: the map
    must not depend on spark.sql.execution.arrow.pyspark.enabled."""
    import pandas as pd

    paths, expected = _order_map_inputs(tmp_path)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        res = merge_batches(
            spark, [MergePlan(name="noarrow", paths=paths)], str(tmp_path / "out"),
            single_file=True,
        )
    finally:
        spark.conf.set(key, prev)
    assert res[0].ok and res[0].rows == 5
    got = pd.read_parquet(res[0].output_path)
    pd.testing.assert_frame_equal(got, expected)


@pytest.mark.parametrize("single_file", [True, False])
def test_merge_batches_csv_equals_merged_parquet(spark, tmp_path, single_file):
    """The CSV leg re-reads the merged parquet with its known schema; the
    CSV must carry the parquet's header and rows (in order, single-file)."""
    import glob as _glob

    import pandas as pd

    paths, expected = _order_map_inputs(tmp_path)
    out_dir = str(tmp_path / "out")
    res = merge_batches(
        spark, [MergePlan(name="csvleg", paths=paths)], out_dir,
        single_file=single_file, csv=True,
    )
    assert res[0].ok and res[0].rows == 5
    csv_out = os.path.join(out_dir, "merged", "csvleg.csv")
    if single_file:
        pq_rows = pd.read_parquet(res[0].output_path)
        csv_rows = pd.read_csv(csv_out)
        pd.testing.assert_frame_equal(pq_rows, expected)
    else:
        parts = sorted(_glob.glob(os.path.join(csv_out, "part-*.csv")))
        csv_rows = pd.concat(map(pd.read_csv, parts), ignore_index=True)
        pq_rows = pd.read_parquet(res[0].output_path)
        csv_rows = csv_rows.sort_values("k", ignore_index=True)
        pq_rows = pq_rows.sort_values("k", ignore_index=True)
    assert list(csv_rows.columns) == list(pq_rows.columns) == ["k", "s"]
    pd.testing.assert_frame_equal(csv_rows, pq_rows, check_dtype=False)


@pytest.mark.parametrize(
    "single_file,csv,max_concurrency", [(True, False, 1), (True, True, 2), (False, True, 2)]
)
def test_merge_batches_sanitized_name_collision(
    spark, tmp_path, single_file, csv, max_concurrency
):
    """Plans 'my file' and 'my_file' sanitize to one output name: the
    later batch must fail, naming the earlier batch and the shared path,
    and leave the earlier batch's output intact."""
    import glob as _glob

    import pandas as pd

    from parquet_merger_spark.plans import smart_batch
    from parquet_merger_spark.sources import scan_folders

    for sub in ("a", "b"):
        (tmp_path / sub).mkdir()
        pd.DataFrame({"k": [1, 2]}).to_parquet(tmp_path / sub / "my file.parquet")
        pd.DataFrame({"k": [3, 4, 5]}).to_parquet(tmp_path / sub / "my_file.parquet")
    plans, _ = smart_batch(spark, scan_folders([str(tmp_path / "a"), str(tmp_path / "b")]))
    assert sorted(p.name for p in plans) == ["my file", "my_file"]

    out_dir = str(tmp_path / "out")
    first, second = merge_batches(
        spark, plans, out_dir, single_file=single_file, csv=csv,
        max_concurrency=max_concurrency,
    )
    assert first.ok and first.rows == {"my file": 4, "my_file": 6}[first.name]
    assert not second.ok and second.output_path is None
    assert repr(first.name) in second.error
    assert os.path.join(out_dir, "merged", "my_file") in second.error
    assert spark.read.parquet(first.output_path).count() == first.rows
    if csv:
        csv_out = os.path.join(out_dir, "merged", "my_file.csv")
        parts = [csv_out] if single_file else _glob.glob(os.path.join(csv_out, "part-*.csv"))
        assert sum(len(pd.read_csv(p)) for p in parts) == first.rows

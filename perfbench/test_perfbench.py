"""Self-tests of the benchmark's generator and output checks (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
from dataclasses import dataclass

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import gen  # noqa: E402
from run import tail  # noqa: E402


@dataclass
class Result:
    """The fields of ``merge.BatchResult`` the checks read."""

    name: str
    rows: int | None
    error: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture
def small_large_rows(monkeypatch):
    monkeypatch.setattr(gen, "LARGE_ROWS_PER_FILE", 2_000)


@pytest.mark.parametrize("make", ["small_files", "large_batches", "analytics_tables"])
def test_generator_is_deterministic_per_seed(tmp_path, make, small_large_rows):
    a = _digests(getattr(gen, make)(str(tmp_path / "a"), 7))
    b = _digests(getattr(gen, make)(str(tmp_path / "b"), 7))
    c = _digests(getattr(gen, make)(str(tmp_path / "c"), 8))
    assert a == b
    assert a != c


def test_generated_trees_have_a_fixed_shape(tmp_path):
    """Different seeds give the same batch sizes, row counts and drift
    pattern, so every seed does the same amount of work."""
    shapes = []
    for seed in (1, 2):
        m = gen.read_manifest(gen.small_files(str(tmp_path / str(seed)), seed))
        shapes.append(
            [
                (len(b["paths"]), b["drift"], sum(pq.ParquetFile(p).metadata.num_rows for p in b["paths"]))
                for _, b in sorted(m["batches"].items())
            ]
        )
        assert len(m["singletons"]) == gen.SMALL_SINGLETONS
    assert shapes[0] == shapes[1]


def _write_reference_outputs(tree: str, merged: str, csv: bool) -> list[Result]:
    """Correct outputs for every batch, written without Spark."""
    os.makedirs(merged)
    results = []
    for name, batch in sorted(gen.read_manifest(tree)["batches"].items()):
        table = checks.expected_merge(batch["paths"])
        pq.write_table(table, os.path.join(merged, name + ".parquet"))
        if csv:
            with open(os.path.join(merged, name + ".csv"), "w") as fh:
                fh.write(",".join(table.column_names) + "\n" + "x\n" * table.num_rows)
        results.append(Result(name, table.num_rows))
    return results


def _corrupt_swap_rows(path: str) -> None:
    t = pq.read_table(path)
    order = list(range(t.num_rows))
    order[0], order[1] = order[1], order[0]
    pq.write_table(t.take(order), path)


def _corrupt_drop_row(path: str) -> None:
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows - 1), path)


def _corrupt_drop_column(path: str) -> None:
    t = pq.read_table(path)
    pq.write_table(t.drop_columns([t.column_names[-1]]), path)


def _corrupt_to_directory(path: str) -> None:
    t = pq.read_table(path)
    os.remove(path)
    os.makedirs(path)
    pq.write_table(t, os.path.join(path, "part-00000.parquet"))


@pytest.mark.parametrize(
    "corrupt",
    [_corrupt_swap_rows, _corrupt_drop_row, _corrupt_drop_column, _corrupt_to_directory],
)
def test_corrupted_merge_output_counts_as_failure(tmp_path, corrupt):
    tree = gen.small_files(str(tmp_path / "in"), 3)
    merged = str(tmp_path / "merged")
    results = _write_reference_outputs(tree, merged, csv=False)
    manifest = gen.read_manifest(tree)
    assert all(v is None for v in checks.check_merge(manifest, merged, results, csv=False).values())

    victim = results[1].name  # a schema-drift batch
    assert manifest["batches"][victim]["drift"]
    corrupt(os.path.join(merged, victim + ".parquet"))
    verdict = checks.check_merge(manifest, merged, results, csv=False)
    assert verdict[victim] is not None
    assert sum(v is not None for v in verdict.values()) == 1


def test_merge_errors_stray_files_and_bad_csv_count_as_failures(tmp_path, small_large_rows):
    tree = gen.large_batches(str(tmp_path / "in"), 3)
    merged = str(tmp_path / "merged")
    results = _write_reference_outputs(tree, merged, csv=True)
    manifest = gen.read_manifest(tree)
    assert all(v is None for v in checks.check_merge(manifest, merged, results, csv=True).values())

    results[0] = Result(results[0].name, None, error="boom")
    with open(os.path.join(merged, results[2].name + ".csv"), "a") as fh:
        fh.write("x\n")
    shutil.copy(os.path.join(merged, results[1].name + ".parquet"), os.path.join(merged, "stray.parquet"))
    verdict = checks.check_merge(manifest, merged, results, csv=True)
    assert verdict[results[0].name].startswith("merge error")
    assert verdict[results[1].name] is None
    assert "csv rows" in verdict[results[2].name]
    assert verdict["unexpected:stray.parquet"] is not None


def test_contract_check_detects_a_changed_value():
    import pandas as pd

    from parquet_merger_spark.oracle import canon_hash

    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    expected = (2, ["k", "v"], canon_hash(good))
    assert checks.check_key(good.iloc[::-1], expected) is None
    assert checks.check_key(good.assign(v=[0.5, 1.25]), expected) is not None
    assert checks.check_key(good.head(1), expected) is not None


def test_tail_leaves_ten_samples_beyond_it():
    xs = [float(i) for i in range(40)]
    pct, value = tail(xs)
    assert value == 29.0 and sum(x > value for x in xs) == 10 and pct == 75.0
    assert tail(xs[:21]) == (90.0, 18.0)

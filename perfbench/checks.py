"""Output checks.  They run outside every timed region and decide which
operations count as failed.

Merge outputs are checked against the generated inputs with pyarrow: one
file per batch, the row count, the intersection schema in first-file column
order, and row order (files in plan order, then rows in file order) by exact
equality with a concatenation of the inputs.  CSV outputs are checked for
their header and row count.  Contract keys are checked by
``oracle.canon_hash`` against their DuckDB ``ORACLE_SQL``.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq


def expected_merge(paths: list[str]) -> pa.Table:
    """The reference's merge of ``paths`` computed with pyarrow: columns
    present with the same type in every file, in the first file's order,
    rows of each file in file order, files in ``paths`` order."""
    tables = [pq.read_table(p) for p in paths]
    first = tables[0].schema
    common = [
        f.name
        for f in first
        if all(t.schema.get_field_index(f.name) >= 0 and t.schema.field(f.name).type == f.type for t in tables[1:])
    ]
    return pa.concat_tables([t.select(common) for t in tables])


def check_batch(name: str, paths: list[str], merged_dir: str, rows: int | None, csv: bool) -> str | None:
    """None when batch ``name`` merged correctly, else the first problem."""
    out = os.path.join(merged_dir, name + ".parquet")
    if not os.path.isfile(out):
        return f"{out} is not a single file"
    expected = expected_merge(paths)
    got = pq.read_table(out)
    if got.num_rows != expected.num_rows or rows != expected.num_rows:
        return f"rows {got.num_rows} (reported {rows}), expected {expected.num_rows}"
    if got.column_names != expected.column_names:
        return f"columns {got.column_names}, expected {expected.column_names}"
    if not got.equals(expected.cast(got.schema)):
        return "row values or order differ from the inputs in plan order"
    if csv:
        return check_csv(os.path.join(merged_dir, name + ".csv"), got.column_names, got.num_rows)
    return None


def check_csv(path: str, columns: list[str], rows: int) -> str | None:
    if not os.path.isfile(path):
        return f"{path} is not a single file"
    with open(path, "rb") as fh:
        header = fh.readline().rstrip(b"\r\n").decode()
        lines = sum(chunk.count(b"\n") for chunk in iter(lambda: fh.read(1 << 20), b""))
    if header != ",".join(columns):
        return f"csv header {header!r}"
    if lines != rows:
        return f"csv rows {lines}, expected {rows}"
    return None


def check_merge(manifest: dict, merged_dir: str, results: list, csv: bool) -> dict[str, str | None]:
    """Per expected batch: None if its output is correct, else why not.
    Also fails a batch whose result reports an error, and reports files in
    ``merged_dir`` that no batch should have written."""
    by_name = {r.name: r for r in results}
    verdict: dict[str, str | None] = {}
    for name, batch in sorted(manifest["batches"].items()):
        r = by_name.get(name)
        if r is None:
            verdict[name] = "batch not planned"
        elif not r.ok:
            verdict[name] = f"merge error: {r.error}"
        else:
            verdict[name] = check_batch(name, batch["paths"], merged_dir, r.rows, csv)
    allowed = {n + ext for n in manifest["batches"] for ext in ([".parquet", ".csv"] if csv else [".parquet"])}
    for extra in sorted(set(os.listdir(merged_dir)) - allowed):
        verdict[f"unexpected:{extra}"] = f"unexpected output {extra}"
    return verdict


def oracle_hashes(sf_dir: str, keys: list[str], oracle_sql: dict[str, str]) -> dict[str, tuple]:
    """(rows, sorted columns, canon hash) of each key's DuckDB oracle."""
    import duckdb

    from parquet_merger_spark.oracle import canon_hash, register_views

    con = duckdb.connect()
    try:
        register_views(con, sf_dir)
        out = {}
        for k in keys:
            pdf = con.execute(oracle_sql[k]).df()
            out[k] = (len(pdf), sorted(pdf.columns), canon_hash(pdf))
        return out
    finally:
        con.close()


def check_key(pdf, expected: tuple) -> str | None:
    from parquet_merger_spark.oracle import canon_hash

    rows, cols, digest = expected
    if len(pdf) != rows:
        return f"rows {len(pdf)}, oracle {rows}"
    if sorted(pdf.columns) != cols:
        return f"columns {sorted(pdf.columns)}, oracle {cols}"
    if canon_hash(pdf) != digest:
        return "value hash differs from the oracle"
    return None

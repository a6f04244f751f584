"""The parquet schema memo in ``queries._util`` must never serve a
stale schema: it keys on a file's identity stamp, which says nothing
about the files inside a dataset directory."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from oracle_to_oracle_data_integration_pipeline_spark.queries._util import load


def test_dataset_dir_part_rewritten_in_place(spark, tmp_path):
    part = tmp_path / "t.parquet" / "part-0.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"id": [1, 2]}), part)
    assert load(spark, str(tmp_path), "t").columns == ["id"]
    # same file name, new schema: the directory's own stat is unchanged
    pq.write_table(pa.table({"id": [1, 2], "val": ["a", "b"]}), part)
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["id", "val"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_single_file_rewrite_invalidates(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"id": [1]}), path)
    assert load(spark, str(tmp_path), "t").columns == ["id"]
    pq.write_table(pa.table({"id": [1], "val": ["longer value"]}), path)
    assert load(spark, str(tmp_path), "t").columns == ["id", "val"]

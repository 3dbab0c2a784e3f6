"""Sliced-export directory hygiene + manifest metadata parsing
(ADVICE r1: hidden .crc files corrupt KBC sliced uploads; string
'false' nullable metadata parsed truthy)."""

import csv
import glob
import os

import pytest

from component_duckdb_transformation_spark.component import _schema_from_manifest
from component_duckdb_transformation_spark.configuration import OutputTable
from component_duckdb_transformation_spark.sinks.table_export import export_table


def test_sliced_export_dir_contains_only_part_csvs(spark, tmp_path):
    spark.range(100).selectExpr("id", "id * 2 AS v").createOrReplaceTempView(
        "slice_me"
    )
    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir, exist_ok=True)
    export_table(
        spark,
        "slice_me",
        OutputTable(source="slice_me.csv", destination="out.c-x.slice_me"),
        out_dir,
        sliced=True,
    )
    entries = os.listdir(os.path.join(out_dir, "slice_me.csv"))
    assert entries, "sliced dir should contain data slices"
    bad = [e for e in entries if not (e.startswith("part-") and e.endswith(".csv"))]
    assert bad == [], f"non-slice files left in sliced dir: {bad}"


@pytest.mark.parametrize("sliced", [False, True])
def test_csv_export_keeps_leading_and_trailing_blanks(spark, tmp_path, sliced):
    values = ["  a  ", " ", "\tb"]
    spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i INT, s STRING") \
        .createOrReplaceTempView("blanks")
    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    export_table(
        spark,
        "blanks",
        OutputTable(source="blanks.csv", destination="out.c-x.blanks"),
        out_dir,
        order_by="i",
        sliced=sliced,
    )
    path = os.path.join(out_dir, "blanks.csv")
    files = sorted(glob.glob(os.path.join(path, "*.csv"))) if sliced else [path]
    rows = []
    for f in files:
        with open(f, "rb") as fh:
            raw = fh.read()
        rows += list(csv.reader(raw.decode("utf-8").splitlines()))
    if not sliced:
        assert rows.pop(0) == ["i", "s"]
    assert sorted((int(i), s) for i, s in rows) == list(enumerate(values))


def test_nullable_metadata_string_false():
    manifest = {
        "columns": ["a", "b", "c"],
        "column_metadata": {
            "a": [{"key": "KBC.datatype.nullable", "value": "false"}],
            "b": [{"key": "KBC.datatype.nullable", "value": "0"}],
            "c": [{"key": "KBC.datatype.nullable", "value": "true"}],
        },
    }
    _, schema = _schema_from_manifest(manifest)
    by_name = {c.name: c.nullable for c in schema}
    assert by_name == {"a": False, "b": False, "c": True}

"""End-to-end golden-datadir tests, modeled on the reference's functional
test strategy (reference tests/test_functional.py + tests/functional/*;
SURVEY §5): build a Keboola data directory, run the Component, assert on
the exported CSVs + manifests.

Fixtures are authored here (reference-shaped, not copied): CSV input with
header, a headerless sliced-table directory with manifest column types, a
parquet input, and block/code/script configs exercising views, CTAS,
string-literal table names, ORDER BY at export, and type mapping.
"""

from __future__ import annotations

import csv
import json
import os

import pytest

from component_duckdb_transformation_spark.component import Component
from component_duckdb_transformation_spark.exceptions import UserException

DAYS_CSV = (
    '"id","name"\n'
    '"1","Monday"\n'
    '"2","Tuesday"\n'
    '"3","Wednesday"\n'
    '"4","Thursday"\n'
    '"5","Friday"\n'
    '"6","Saturday"\n'
    '"7","Sunday"\n'
)


def _write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(content)


def _make_simple_datadir(tmp_path) -> str:
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    _write(str(in_tables / "days.csv"), DAYS_CSV)
    _write(
        str(in_tables / "days.csv.manifest"),
        json.dumps({"id": "in.c-app.days", "incremental": False}),
    )
    # sliced: headerless slices + manifest columns with base types
    _write(str(in_tables / "sliced" / "a.csv"), '"1","100","x"\n"2","200","y"\n')
    _write(str(in_tables / "sliced" / "b.csv"), '"3","300","z"\n')
    _write(
        str(in_tables / "sliced.manifest"),
        json.dumps(
            {
                "id": "in.c-app.sliced",
                "delimiter": ",",
                "enclosure": '"',
                "columns": ["id", "value", "role"],
                "column_metadata": {
                    "id": [{"key": "KBC.datatype.basetype", "value": "INTEGER"}],
                    "value": [{"key": "KBC.datatype.basetype", "value": "INTEGER"}],
                    "role": [{"key": "KBC.datatype.basetype", "value": "STRING"}],
                },
            }
        ),
    )
    config = {
        "parameters": {
            "threads": 4,
            "blocks": [
                {
                    "name": "Block 1",
                    "codes": [
                        {
                            "name": "Views",
                            "script": [
                                "CREATE VIEW 'week.csv' AS (SELECT * FROM 'days.csv' "
                                "WHERE id::INT <= 5) ORDER BY id;",
                                "CREATE VIEW 'out-table.csv' AS (SELECT * FROM sliced) "
                                "ORDER BY id;",
                            ],
                        }
                    ],
                },
                {
                    "name": "Block 2",
                    "codes": [
                        {
                            "name": "Join",
                            "script": [
                                "CREATE VIEW 'joined.csv' AS (SELECT * FROM sliced "
                                "LEFT JOIN 'days.csv' USING (id)) ORDER BY id;"
                            ],
                        }
                    ],
                },
            ],
        },
        "storage": {
            "input": {
                "tables": [
                    {"source": "in.c-app.days", "destination": "days.csv"},
                    {"source": "in.c-app.sliced", "destination": "sliced"},
                ]
            },
            "output": {
                "tables": [
                    {"source": "week.csv", "destination": "out.c-out.week"},
                    {"source": "out-table.csv", "destination": "out.c-out.out-table"},
                    {"source": "joined.csv", "destination": "out.c-out.joined"},
                ]
            },
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    return str(data)


def _read_rows(path: str) -> list[list[str]]:
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.reader(fh))


def test_simple_datadir_end_to_end(spark, tmp_path):
    data_dir = _make_simple_datadir(tmp_path)
    Component(data_dir=data_dir, spark=spark).run()
    out = os.path.join(data_dir, "out", "tables")

    week = _read_rows(os.path.join(out, "week.csv"))
    assert week[0] == ["id", "name"]
    assert [r[0] for r in week[1:]] == ["1", "2", "3", "4", "5"]
    assert week[1] == ["1", "Monday"]

    # raw text must be fully quoted (FORCE_QUOTE * behavior)
    with open(os.path.join(out, "week.csv"), encoding="utf-8") as fh:
        first_data_line = fh.read().splitlines()[1]
    assert first_data_line == '"1","Monday"'

    # sliced table glob read + ORDER BY id
    out_table = _read_rows(os.path.join(out, "out-table.csv"))
    assert out_table[0] == ["id", "value", "role"]
    assert [r[0] for r in out_table[1:]] == ["1", "2", "3"]

    joined = _read_rows(os.path.join(out, "joined.csv"))
    assert joined[0] == ["id", "value", "role", "name"]
    assert joined[1] == ["1", "100", "x", "Monday"]

    # manifest: typed via sliced manifest INTEGER basetypes
    with open(os.path.join(out, "joined.csv.manifest"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert manifest["destination"] == "out.c-out.joined"
    assert manifest["manifest_type"] == "out"
    assert manifest["has_header"] is True
    types = {c["name"]: c["data_type"]["base"]["type"] for c in manifest["schema"]}
    assert types["id"] == "INTEGER"
    assert types["value"] == "INTEGER"
    assert types["role"] == "STRING"
    assert types["name"] == "STRING"


def test_parquet_input_and_ctas(spark, tmp_path):
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    os.makedirs(in_tables / "orders_pq")
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet").limit(100).write.mode(
        "overwrite"
    ).parquet(str(in_tables / "orders_pq"))
    _write(
        str(in_tables / "orders_pq.manifest"),
        json.dumps({"id": "in.c-app.orders"}),
    )
    config = {
        "parameters": {
            "threads": 2,
            "blocks": [
                {
                    "name": "B",
                    "codes": [
                        {
                            "name": "C",
                            "script": [
                                "CREATE TABLE agg AS SELECT o_orderstatus, count(*) AS n, "
                                "round(sum(o_totalprice), 2) AS total FROM orders "
                                "GROUP BY o_orderstatus ORDER BY o_orderstatus;"
                            ],
                        }
                    ],
                }
            ],
        },
        "storage": {
            "input": {
                "tables": [
                    {
                        "source": "in.c-app.orders",
                        "destination": "orders",
                        "file_type": "parquet",
                    }
                ]
            },
            "output": {
                "tables": [{"source": "agg", "destination": "out.c-out.agg"}]
            },
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    Component(data_dir=str(data), spark=spark).run()

    rows = _read_rows(os.path.join(str(data), "out", "tables", "agg"))
    assert rows[0] == ["o_orderstatus", "n", "total"]
    assert [r[0] for r in rows[1:]] == sorted(r[0] for r in rows[1:])
    with open(
        os.path.join(str(data), "out", "tables", "agg.manifest"), encoding="utf-8"
    ) as fh:
        manifest = json.load(fh)
    types = {c["name"]: c["data_type"]["base"]["type"] for c in manifest["schema"]}
    assert types["n"] == "INTEGER"
    assert types["total"] in ("FLOAT", "NUMERIC")


def test_dtypes_manifest_typing(spark, tmp_path):
    """Manifest base types must type the view (reference dtypes/ case)."""
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    _write(str(in_tables / "t.csv"), '"id","amount","flag"\n"1","1.5","true"\n')
    _write(
        str(in_tables / "t.csv.manifest"),
        json.dumps(
            {
                "id": "in.c-app.t",
                "column_metadata": {
                    "id": [{"key": "KBC.datatype.basetype", "value": "INTEGER"}],
                    "amount": [{"key": "KBC.datatype.basetype", "value": "FLOAT"}],
                    "flag": [{"key": "KBC.datatype.basetype", "value": "BOOLEAN"}],
                },
            }
        ),
    )
    config = {
        "parameters": {
            "blocks": [
                {
                    "name": "B",
                    "codes": [
                        {"name": "C", "script": ["CREATE VIEW o AS SELECT * FROM t;"]}
                    ],
                }
            ]
        },
        "storage": {
            "input": {"tables": [{"source": "in.c-app.t", "destination": "t"}]},
            "output": {"tables": [{"source": "o", "destination": "out.c-out.o"}]},
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    Component(data_dir=str(data), spark=spark).run()
    with open(
        os.path.join(str(data), "out", "tables", "o.manifest"), encoding="utf-8"
    ) as fh:
        manifest = json.load(fh)
    types = {c["name"]: c["data_type"]["base"]["type"] for c in manifest["schema"]}
    assert types == {"id": "INTEGER", "amount": "FLOAT", "flag": "BOOLEAN"}


def test_sync_actions(spark, tmp_path):
    data_dir = _make_simple_datadir(tmp_path)
    comp = Component(data_dir=data_dir, spark=spark)

    plan = comp.execution_plan_visualization()
    assert plan.type.value == "success"
    assert "Total Queries:** 3" in plan.message
    assert "Block 1" in plan.message and "Block 2" in plan.message

    lineage = comp.lineage_visualization()
    assert "days.csv" in lineage.message
    assert "Created by" in lineage.message

    expected = comp.expected_input_tables()
    # reference parity quirk: suffixes are stripped from *available*
    # destinations only (reference src/actions/expected_input_tables.py:52-55),
    # so the dependency 'days.csv' vs available 'days' reports as missing
    assert expected.type.value == "danger"
    assert "days.csv" in expected.message
    assert "sliced" in expected.message

    check = comp.syntax_check()
    assert check.type.value == "success"


def test_syntax_check_danger(spark, tmp_path):
    data = tmp_path / "data"
    config = {
        "parameters": {
            "blocks": [
                {
                    "name": "B",
                    "codes": [
                        {
                            "name": "C",
                            "script": ["CREATE VIEW v AS SELECT * FROM t WHERE ((x = 1;"],
                        }
                    ],
                }
            ]
        }
    }
    _write(str(data / "config.json"), json.dumps(config))
    comp = Component(data_dir=str(data), spark=spark)
    result = comp.syntax_check()
    assert result.type.value == "danger"


def test_missing_config_raises(tmp_path):
    with pytest.raises(UserException):
        Component(data_dir=str(tmp_path / "nope"))


def test_round3_surface_datadir(spark, tmp_path):
    """Full component path over the round-3 statement surface: MERGE,
    ALTER TABLE, UPDATE..FROM, dynamic PIVOT, engine no-ops, and a
    FROM-first view — one config, golden assertions on the export."""
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    _write(str(in_tables / "days.csv"), DAYS_CSV)
    _write(
        str(in_tables / "days.csv.manifest"),
        json.dumps({"id": "in.c-app.days", "incremental": False}),
    )
    config = {
        "parameters": {
            "blocks": [
                {
                    "name": "b",
                    "codes": [
                        {
                            "name": "mutations",
                            "script": [
                                "PRAGMA memory_limit='1GB';",
                                "CREATE TABLE wk AS SELECT id::INT AS id, name, "
                                "0::INT AS seen FROM 'days.csv';",
                                "CREATE TABLE weekend AS SELECT * FROM "
                                "(VALUES (6), (7)) v(id);",
                                "ALTER TABLE wk ADD COLUMN kind VARCHAR DEFAULT 'weekday';",
                                "UPDATE wk SET kind = 'weekend' FROM weekend "
                                "WHERE wk.id = weekend.id;",
                                "MERGE INTO wk USING weekend ON wk.id = weekend.id "
                                "WHEN MATCHED THEN UPDATE SET seen = 1;",
                                "CREATE VIEW 'wk.csv' AS FROM wk SELECT id, name, "
                                "kind, seen WHERE id <= 7 ORDER BY id;",
                                "CREATE TABLE pv AS PIVOT wk ON kind USING "
                                "CAST(count(*) AS INT) GROUP BY seen;",
                                "CREATE VIEW 'pv.csv' AS SELECT * FROM pv ORDER BY seen;",
                            ],
                        }
                    ],
                }
            ]
        },
        "storage": {
            "input": {
                "tables": [
                    {"source": "in.c-app.days", "destination": "days.csv"}
                ]
            },
            "output": {
                "tables": [
                    {"source": "wk.csv", "destination": "out.c-out.wk"},
                    {"source": "pv.csv", "destination": "out.c-out.pv"},
                ]
            },
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    Component(data_dir=str(data), spark=spark).run()
    out = os.path.join(str(data), "out", "tables")

    wk = _read_rows(os.path.join(out, "wk.csv"))
    assert wk[0] == ["id", "name", "kind", "seen"]
    assert wk[6] == ["6", "Saturday", "weekend", "1"]
    assert wk[7] == ["7", "Sunday", "weekend", "1"]
    assert wk[1] == ["1", "Monday", "weekday", "0"]

    pv = _read_rows(os.path.join(out, "pv.csv"))
    assert pv[0] == ["seen", "weekday", "weekend"]
    # count over the absent combination is 0 (count never yields NULL),
    # matching DuckDB's native PIVOT
    assert pv[1] == ["0", "5", "0"]
    assert pv[2] == ["1", "0", "2"]


def _write_config(data, blocks, inputs=(), outputs=(), **params) -> None:
    config = {
        "parameters": {"threads": 4, "blocks": blocks, **params},
        "storage": {
            "input": {"tables": list(inputs)},
            "output": {"tables": [{"source": s, "destination": f"out.c-out.{s}"} for s in outputs]},
        },
    }
    _write(str(data / "config.json"), json.dumps(config))


def _block(*scripts: str) -> list[dict]:
    return [{"name": "B", "codes": [{"name": f"C{i}", "script": [s]} for i, s in enumerate(scripts)]}]


def test_inputs_whose_names_slug_alike_keep_their_own_data(spark, tmp_path):
    """``a.b``, ``a-b`` and ``a_b`` share one slug; each must still bind
    its own file, also when they are registered concurrently."""
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    for name, x in (("a.b", 1), ("a-b", 2), ("a_b", 3)):
        _write(str(in_tables / name), f'"x"\n"{x}"\n')
    _write_config(
        data,
        _block(
            "CREATE TABLE r AS SELECT (SELECT x FROM 'a.b') AS dot, "
            "(SELECT x FROM 'a-b') AS dash, (SELECT x FROM a_b) AS under;"
        ),
        outputs=["r"],
    )
    Component(data_dir=str(data), spark=spark).run()
    rows = _read_rows(os.path.join(str(data), "out", "tables", "r"))
    assert rows == [["dot", "dash", "under"], ["1", "2", "3"]]


def test_failed_export_names_first_failing_table_and_finishes_the_others(spark, tmp_path):
    """Exports run concurrently: every export finishes, the first failing
    one in config order raises, the others' CSVs and manifests are
    complete, and no temp dir is left behind."""
    data = tmp_path / "data"
    _write(str(data / "in" / "tables" / "s.csv"), '"s"\n"abc"\n')
    good = [f"good{i}" for i in range(4)]
    _write_config(
        data,
        _block(
            *[f"CREATE TABLE {g} AS SELECT range AS id, '{g}' AS tag FROM range(3);" for g in good],
            # both views fail at export, when the write evaluates the cast
            "CREATE VIEW bad_first AS SELECT CAST(s AS INTEGER) AS x FROM 's.csv';",
            "CREATE VIEW bad_second AS SELECT CAST(s AS INTEGER) + 1 AS x FROM 's.csv';",
        ),
        outputs=["good0", "bad_first", "good1", "good2", "bad_second", "good3"],
        dtypes_infer=True,
    )
    with pytest.raises(UserException, match="Error exporting table bad_first: "):
        Component(data_dir=str(data), spark=spark).run()
    out = os.path.join(str(data), "out", "tables")
    for g in good:
        rows = _read_rows(os.path.join(out, g))
        assert rows[0] == ["id", "tag"]
        assert sorted(rows[1:]) == [["0", g], ["1", g], ["2", g]]
        with open(os.path.join(out, g + ".manifest"), encoding="utf-8") as fh:
            assert json.load(fh)["destination"] == f"out.c-out.{g}"
    assert sorted(os.listdir(out)) == sorted(good + [g + ".manifest" for g in good])


def test_malformed_inputs_raise_the_first_in_listing_order(spark, tmp_path):
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    # listing order is by name: a_bad before b_bad, whichever fails first
    for name in ("b_bad.csv", "a_bad.csv"):
        _write(str(in_tables / name), '"x","y"\n"1","2"\n')
        _write(
            str(in_tables / (name + ".manifest")),
            json.dumps({"id": f"in.c-app.{name}", "columns": ["x", "y", "z"]}),
        )
    _write(str(in_tables / "ok.csv"), '"x"\n"1"\n')
    _write_config(data, _block("CREATE TABLE r AS SELECT * FROM 'ok.csv';"), dtypes_infer=True)
    with pytest.raises(UserException, match=r"^Table a_bad\.csv: manifest lists 3 columns"):
        Component(data_dir=str(data), spark=spark).run()


def test_import_and_export_jobs_run_in_the_callers_job_group(spark, tmp_path):
    """Pool threads take the caller's job group, so a harness keyed on it
    (and a cancel of it) still covers the import and export jobs."""
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    for name in ("p.csv", "q.csv"):
        _write(str(in_tables / name), '"x"\n"1"\n"2"\n')
    _write_config(
        data,
        _block(
            "CREATE VIEW pv AS SELECT * FROM 'p.csv';",
            "CREATE VIEW qv AS SELECT * FROM 'q.csv';",
        ),
        outputs=["pv", "qv"],
        dtypes_infer=True,
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"caller-{tmp_path.name}"
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "component job")
    try:
        Component(data_dir=str(data), spark=spark).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # two schema-inference reads and two CSV writes at least
    assert len(tracker.getJobIdsForGroup(group)) >= 4
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before

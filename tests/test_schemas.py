"""Schema-contract tests: every fixture loaded through ``load_table``
must match the declared ``TABLE_SCHEMAS`` registry (the engine's
declared-schema discipline — io.py reads the parquet footer, so drift
between the files and the registry must fail loudly here, not in a query).
"""

from __future__ import annotations

import pytest

from final_project_big_data_spark.io import _check_fixture_schema, load_table
from final_project_big_data_spark.schemas import TABLE_NAMES, TABLE_SCHEMAS


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_loaded_schema_matches_registry(spark, sf_dir, name):
    got = [(f.name, f.dataType) for f in load_table(spark, sf_dir, name).schema]
    want = [(f.name, f.dataType) for f in TABLE_SCHEMAS[name]]
    assert got == want, f"{name}: {got} != {want}"


def test_fixture_drift_tripwire_names_column(spark, sf_dir):
    """Simulated fixture drift must raise one loud error naming the drifted
    column — not N cryptic downstream AnalysisExceptions (the round-2
    failure mode when events.ts moved ns-int64 → µs-timestamp)."""
    from pyspark.sql import functions as F

    drifted = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("double")
    )
    with pytest.raises(RuntimeError, match=r"fixture drift.*'ts'.*expected timestamp"):
        _check_fixture_schema("events", drifted)


def test_fixture_drift_tripwire_names_missing_column(spark, sf_dir):
    drifted = load_table(spark, sf_dir, "events").drop("props")
    with pytest.raises(RuntimeError, match=r"fixture drift.*missing.*props"):
        _check_fixture_schema("events", drifted)


def test_fixture_drift_tripwire_names_extra_column(spark, sf_dir):
    from pyspark.sql import functions as F

    drifted = load_table(spark, sf_dir, "events").withColumn(
        "surprise", F.lit(1)
    )
    with pytest.raises(RuntimeError, match=r"fixture drift.*unexpected.*surprise"):
        _check_fixture_schema("events", drifted)


def test_fixture_drift_in_file_raises_on_load(spark, sf_dir, tmp_path):
    """End to end through a file: an sf0.01 copy whose ``events.ts`` was
    rewritten as double must fail ``load_table`` with the named error."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    shutil.copytree(
        src, tmp_path, dirs_exist_ok=True, copy_function=shutil.copyfile
    )
    path = os.path.join(tmp_path, "events.parquet")
    events = pq.read_table(path)
    i = events.schema.get_field_index("ts")
    as_double = pc.cast(pc.cast(events["ts"], pa.int64()), pa.float64())
    pq.write_table(events.set_column(i, "ts", as_double), path)
    drift = r"fixture drift in table 'events'.*'ts'.*scanned double"
    with pytest.raises(RuntimeError, match=drift):
        load_table(spark, str(tmp_path), "events")

import uuid
import warnings

import numpy as np
import pandas as pd
import pytest

warnings.filterwarnings("ignore")


@pytest.fixture(scope="session")
def spark():
    from meteaudata_spark.session import get_spark

    spark = get_spark("meteaudata-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture()
def drain(spark):
    """``drain(stream_df, mode="append")`` runs a streaming DataFrame to
    completion (``trigger(availableNow=True)``) into a memory sink with a
    unique name, asserts the query terminated, and returns the sink's
    table.  A query that raises fails the test with its own error; one
    still running after the timeout fails it instead of letting the test
    read a partial table."""

    def run(stream_df, mode="append"):
        name = f"drain_{uuid.uuid4().hex}"
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        done = q.awaitTermination(300)
        if not done:
            q.stop()
        assert done, f"stream query {name} did not terminate within 300 s"
        return spark.table(name)

    return run


@pytest.fixture()
def sample_series():
    """The reference's canonical fixture: 100 normals @ 6min
    (reference tests/test_metEAUdata.py:15-19)."""
    rng = np.random.default_rng(42)
    idx = pd.date_range("2020-01-01", freq="6min", periods=100)
    return pd.Series(rng.standard_normal(100), index=idx, name="RAW")


@pytest.fixture()
def provenance():
    from meteaudata_spark.metadata import DataProvenance

    return DataProvenance(
        source_repository="random generation",
        project="PhD Thesis - metadata chapter",
        location="CPU",
        equipment="numpy",
        parameter="COD",
        purpose="Testing the metadata capture",
        metadata_id=1,
    )


@pytest.fixture()
def sample_signal(spark, sample_series, provenance):
    from meteaudata_spark.signal import Signal

    return Signal(
        input_data=sample_series,
        name="CODs",
        units="mg/l",
        provenance=provenance,
        spark=spark,
    )

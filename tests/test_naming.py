"""Name grammar + versioning semantics (reference: types.py:608-676,
tests/test_metEAUdata.py:252-321)."""

import pytest

from meteaudata_spark import naming


def test_split_full_name():
    assert naming.split_full_name("CODs#1_RESAMPLED#2") == ("CODs#1", "RESAMPLED#2")


def test_split_rejects_extra_underscores():
    with pytest.raises(ValueError):
        naming.split_full_name("CODs#1_RE_SAMPLED#2")
    with pytest.raises(ValueError):
        naming.split_full_name("NOUNDERSCORE")


def test_parse_version():
    assert naming.parse_version("RESAMPLED#2") == ("RESAMPLED", 2)
    assert naming.parse_version("RESAMPLED") == ("RESAMPLED", None)


def test_ensure_versioned():
    assert naming.ensure_versioned("CODs") == "CODs#1"
    assert naming.ensure_versioned("CODs#3") == "CODs#3"


def test_max_version_integer_comparison():
    # deliberate divergence from the reference's string max ("9" > "10")
    names = [f"RESAMPLED#{i}" for i in (1, 2, 9, 10)]
    assert naming.max_version_number(names, "RESAMPLED") == 10


def test_next_version_name():
    assert naming.next_version_name(["RAW#1", "RAW#2"], "RAW") == "RAW#3"
    assert naming.next_version_name([], "RAW#7") == "RAW#1"


def test_suffix_validation():
    assert naming.validate_suffix("LIN-INT") == "LIN-INT"
    with pytest.raises(ValueError):
        naming.validate_suffix("LIN_INT")


def test_signal_versioning(spark, sample_series, provenance):
    from meteaudata_spark.signal import Signal

    sig = Signal(
        input_data=sample_series, name="CODs", units="mg/l",
        provenance=provenance, spark=spark,
    )
    # unnumbered signal gets #1 (reference CHANGELOG 0.4.1)
    assert sig.name == "CODs#1"
    assert sig.all_time_series == ["CODs#1_RAW#1"]
    # update_numbered_ts_name bumps to max+1
    assert sig.update_numbered_ts_name("CODs#1_RAW#1") == "CODs#1_RAW#2"
    assert sig.update_numbered_ts_name("CODs#1_NEW#5") == "CODs#1_NEW#1"


def test_signal_rename(spark, sample_series, provenance):
    from meteaudata_spark.signal import Signal

    sig = Signal(
        input_data=sample_series, name="CODs", units="mg/l",
        provenance=provenance, spark=spark,
    )
    sig.rename("BOD")
    assert sig.name == "BOD#1"
    assert sig.all_time_series == ["BOD#1_RAW#1"]
    assert sig.time_series["BOD#1_RAW#1"].name == "BOD#1_RAW#1"

"""The scale-smoke runner (tools/scale_smoke.py): every spec in the
table is wired, and one batch and one streaming spec pass their own
exact checks at a tiny size on the shared session."""

import pytest

from tools import scale_smoke


def test_every_spec_is_callable():
    assert len(scale_smoke.SPECS) > 40
    for name, (fn, default) in scale_smoke.SPECS.items():
        assert callable(fn) and fn.__doc__, name
        assert isinstance(default, (int, str)), name


@pytest.mark.parametrize(
    "name, size, key, want",
    [
        # every 20th of 2000 docs shares one boilerplate segment
        ("segment_dedup", 2000, "deduped", 99),
        # 7 unique segments per doc plus the boilerplate once
        ("stream_segment_dedup", 100, "kept", 701),
    ],
)
def test_spec_passes_its_check_at_tiny_size(spark, name, size, key, want):
    rec = scale_smoke.run_spec(spark, name, size)
    assert (rec["spec"], rec["size"], rec[key]) == (name, size, want)

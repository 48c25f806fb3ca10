"""``merge_inferred_with_extracted`` rejects a same-region threshold
outside (0, 1): its output-order invariant needs IoU 1.0 > threshold."""

import pytest

from unstructured_spark.operators import layout_merge as lm


def _empty(spark):
    return spark.createDataFrame([], lm.BOX_SCHEMA)


@pytest.mark.parametrize("t", [0.0, 1.0, 1.5, -0.2])
def test_same_region_threshold_outside_open_unit_interval_rejected(spark, t):
    with pytest.raises(ValueError, match="same_region_threshold"):
        lm.merge_inferred_with_extracted(
            _empty(spark), _empty(spark), 612.0, 792.0, same_region_threshold=t
        )


def test_same_region_threshold_inside_unit_interval_accepted(spark):
    out = lm.merge_inferred_with_extracted(
        _empty(spark), _empty(spark), 612.0, 792.0, same_region_threshold=0.999
    )
    assert out.collect() == []

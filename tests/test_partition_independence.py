"""Results must not depend on spark.sql.shuffle.partitions: each query of
the frozen lane (``FROZEN_LANE`` in test_oracle_parity.py) is executed at
width 7 and width 32 and the stringified outputs compared exactly, with
no oracle in between. The query's sf0.001 parity cell runs the same two
widths and keeps its frames for this cell, so a default run executes
nothing here twice; run on its own, the cell executes both widths."""

from __future__ import annotations

import pytest

from dynamodb_stream_processor_2_0_spark.plans import registry
from tests.oracle_harness import canon
from tests.test_oracle_parity import FROZEN_LANE, WIDTHS, spark_frame


def _specs():
    registry._load()
    return [registry.REGISTRY[n] for n in FROZEN_LANE]


@pytest.mark.parametrize("spec", _specs(), ids=lambda s: s.name)
def test_width_invariant(spark, sf_dir, spec):
    narrow, wide = (spark_frame(spark, spec, sf_dir, w, keep=True) for w in WIDTHS)
    assert canon(narrow) == canon(wide), f"{spec.name}: output depends on shuffle width"

"""Scale claims as deterministic counters: each candidate-generating
family's ``volume(spark, sf_dir)`` read at sf0.01 and sf0.1 must grow as
docs/SCALE.md ("Volume counters") claims against the family's input rows.

The two fixtures are not 10x apart in every table: documents go
500 -> 5,000 and embeddings 500 -> 2,000. A linear counter must therefore
grow within ``LINEAR_SLACK`` of its own input's growth (12x at 10x rows).
"""

from __future__ import annotations

import os

import pytest

from hive3_replication_spark.llm import dedup, similarity, web
from tests.conftest import SF_DIR

TESTDATA = os.path.dirname(SF_DIR.rstrip("/"))
LINEAR_SLACK = 1.2

#: family -> (volume function, its input-row counter, the counters
#: claimed linear in those rows). n-gram's scored pairs claim no growth
#: yet: they grow ~98x for 10x documents (docs/SCALE.md, ROADMAP item 6).
FAMILIES = {
    "dedup": (dedup.volume, "documents", ()),
    "similarity": (similarity.volume, "embeddings", ("ann_candidates",)),
    "web": (web.volume, "documents", ("url_groups", "domain_edge_mass")),
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_volume_grows_as_claimed(spark, family):
    volume, rows, linear = FAMILIES[family]
    small, large = (
        volume(spark, f"{TESTDATA}/{sf}") for sf in ("sf0.01", "sf0.1")
    )
    assert small.keys() == large.keys()
    assert all(isinstance(v, int) and v > 0 for v in small.values()), small
    row_growth = large[rows] / small[rows]
    assert row_growth >= 4, (small, large)
    for counter in linear:
        growth = large[counter] / small[counter]
        assert (
            row_growth / LINEAR_SLACK <= growth <= row_growth * LINEAR_SLACK
        ), f"{counter}: {growth:.2f}x for {row_growth:.2f}x {rows}"

"""The registry's ordering contract, checked without a Spark session: the
first 50 ``queries()`` keys are ``_DRIVER_WINDOW`` (the window the
external CORRECTNESS gate checks), and every entry has a recorded
CORRECTNESS row."""

import json
import os

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.registry import (
    _DRIVER_WINDOW,
    build_queries,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _correctness(r: int) -> dict:
    with open(os.path.join(ROOT, f"CORRECTNESS_r{r:02d}.json")) as fh:
        return json.load(fh)


class TestDriverWindow:
    def test_first_50_keys_are_the_window(self):
        assert list(build_queries())[:50] == _DRIVER_WINDOW
        assert len(_DRIVER_WINDOW) == 50
        assert len(set(_DRIVER_WINDOW)) == 50

    def test_window_matches_last_correctness_record(self):
        assert _DRIVER_WINDOW == list(_correctness(13))

    def test_every_entry_has_a_correctness_row(self):
        seen = set()
        for r in range(1, 14):
            seen |= set(_correctness(r))
        assert [k for k in build_queries() if k not in seen] == []

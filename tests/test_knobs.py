"""Guard on the engine's user-settable environment knobs.

Every ``SPARK_GRAFT_*`` name the engine source mentions is a setting a
user can change, and each one doubles the configurations tests must
cover. Tuning values are module constants; a new knob has to be a
deliberate edit to the set below.
"""

from __future__ import annotations

import pathlib
import re

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "pandas_spark"

KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_PROFILE",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MAX_RESULT",
    "SPARK_GRAFT_PLAN_MEMO",
}


def test_engine_env_knobs_are_pinned():
    found = {
        name
        for path in ENGINE.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]", path.read_text())
    }
    assert found == KNOBS

from __future__ import annotations

import os

import pytest

TESTDATA = os.environ.get("ADT_TESTDATA_ROOT", "/root/testdata")
#: sf0.001 keeps the suite fast; set ADT_TEST_SF=sf0.01 for the
#: driver-equivalent scale before committing.
SF_DIR = os.path.join(TESTDATA, os.environ.get("ADT_TEST_SF", "sf0.001"))


@pytest.fixture(scope="session")
def spark():
    from adt_spark import ADTContext

    ctx = ADTContext(app_name="adt-spark-tests")
    yield ctx.spark
    # release memoized localCheckpointed state BEFORE stopping the
    # session — the teardown hook the clear_* functions exist for
    # (long-lived processes that restart sessions would otherwise
    # accumulate per-applicationId checkpoint references)
    from adt_spark.operators.dedup import clear_dedup_state
    from adt_spark.operators.multimodal import clear_multimodal_state
    from adt_spark.operators.quality import clear_quality_state
    from adt_spark.operators.sampling import clear_sampling_state
    from adt_spark.operators.similarity import clear_similarity_state
    from adt_spark.operators.text import clear_text_state
    from adt_spark.streaming.events import clear_streaming_state

    for clear in (
        clear_dedup_state,
        clear_multimodal_state,
        clear_quality_state,
        clear_sampling_state,
        clear_similarity_state,
        clear_text_state,
    ):
        clear()
    clear_streaming_state(ctx.spark)
    ctx.spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from biomed_timeseries_preprocessing_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]")
    yield s


@pytest.fixture(scope="session")
def small_transcripts(spark):
    """FIXTURES F1 t_small: 10 conversations, deterministic."""
    from biomed_timeseries_preprocessing_spark.sources.synth import synth_transcripts

    df = synth_transcripts(spark, 10)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def synth_lake(spark, tmp_path_factory):
    """``synth_lake(n)``: path of a parquet lake of ``n`` synth
    conversations (the rollup job's ``--source``), written once per n."""
    from biomed_timeseries_preprocessing_spark.sources.synth import synth_transcripts

    paths: dict[int, str] = {}

    def path(n_convs: int = 6) -> str:
        if n_convs not in paths:
            paths[n_convs] = str(tmp_path_factory.mktemp("lake") / f"synth_{n_convs}")
            synth_transcripts(spark, n_convs).write.parquet(paths[n_convs])
        return paths[n_convs]

    return path

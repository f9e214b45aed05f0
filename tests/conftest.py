import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgweasel_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="pgweasel-spark-tests",
        master="local[4]",
        shuffle_partitions="4",
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def webtext_dir(tmp_path_factory):
    """Small deterministic webtext table (fixtures + 120 synthetic pages)."""
    from pgweasel_spark.gen import write_webtext

    out = str(tmp_path_factory.mktemp("webtext"))
    write_webtext(out, n_pages=120, seed=42)
    return out


@pytest.fixture(scope="session")
def generated_pages_dir(tmp_path_factory):
    """Generated pages only (no reference fixture logs): 80 pages over
    the generator's seven warc_days."""
    from pgweasel_spark.gen import write_webtext

    out = str(tmp_path_factory.mktemp("generated_pages"))
    write_webtext(out, n_pages=80, seed=7, include_fixtures=False)
    return out

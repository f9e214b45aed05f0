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
    """Small deterministic webtext table (fixtures + 120 synthetic pages).

    The fixture pages are the reference's own test logs, read from
    ``gen.FIXTURE_DIR`` at generation time; the tests that use this
    table assert the reference's golden counts on them. Skips unless
    every ``gen.FIXTURE_FILES`` entry is a file under ``gen.FIXTURE_DIR``.
    Tests that need only some data use ``generated_pages_dir``."""
    from pgweasel_spark.gen import FIXTURE_DIR, FIXTURE_FILES, write_webtext

    if not all(os.path.isfile(os.path.join(FIXTURE_DIR, n)) for n in FIXTURE_FILES):
        pytest.skip(f"reference fixture logs not under {FIXTURE_DIR}")

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

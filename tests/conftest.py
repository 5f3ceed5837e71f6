import pytest

from no_fasel_scrapers_spark.operators import seen_filter
from no_fasel_scrapers_spark.session import get_spark
from no_fasel_scrapers_spark.sources.fixture import Fixture


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture():
    return Fixture()


@pytest.fixture(params=["held", "table"])
def filter_form(request, monkeypatch):
    """The crawl's seen-filter form: held on the driver (every test-sized
    filter is), or the blob table, forced by a 0-byte ceiling."""
    if request.param == "table":
        monkeypatch.setattr(seen_filter, "BROADCAST_MAX_BYTES", 0)
    return request.param

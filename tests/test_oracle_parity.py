"""Every registered query with an oracle must match DuckDB exactly —
the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from flink_luad_pipeline_spark import plans

from .compare import compare
from .conftest import make_duck

QUERIES = plans.all_queries()
ORACLES = plans.all_oracles()


class _Answer:
    """A fetched DuckDB result with the relation surface ``compare``
    reads (``description``, ``fetchall``)."""

    def __init__(self, rel) -> None:
        self.description = rel.description
        self._rows = rel.fetchall()

    def fetchall(self) -> list[tuple]:
        return self._rows


@pytest.fixture(scope="module")
def oracle_answers(request, sf_dir):
    """The DuckDB answer of every selected oracle, computed in test
    order on one background thread with its own connection. The
    oracles are pure SQL over the source tables and take ~6 min in
    all at sf0.001, so they run while the Spark side of the earlier
    cases runs instead of after it; each case waits for its own
    answer, and an oracle error re-raises in that case."""
    names = [
        item.callspec.params["name"]
        for item in request.session.items
        if getattr(item, "originalname", None) == "test_oracle_parity"
    ]
    con = make_duck(sf_dir)
    pool = ThreadPoolExecutor(max_workers=1)

    def fetch(name: str) -> _Answer:
        return _Answer(con.sql(ORACLES[name]))

    yield {n: pool.submit(fetch, n) for n in names}
    # drop the queued oracles, stop the running one, then wait for it
    pool.shutdown(wait=False, cancel_futures=True)
    con.interrupt()
    pool.shutdown()
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, oracle_answers, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    compare(df, oracle_answers[name].result())


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())

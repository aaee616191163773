"""Query registry consumed by ``__spark_entry__.py``.

Each submodule registers (name -> callable(spark, sf_dir) -> DataFrame)
pairs and, where SQL-expressible, a DuckDB oracle SQL twin. The driver
runs both at sf0.01 and compares row-count + schema + order-insensitive
value-hash, so every computed column is aliased identically on both
sides and floating-point aggregates are rounded identically on both
sides (see plans/registry.py docstring).
"""

from __future__ import annotations

import functools
import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Import order sets registration order: the contractual SURVEY §2 core
# first, then the graded extension families. Registration order is not
# the correctness-check order; ``sweep_order`` below derives that from
# the CORRECTNESS records and uses registration order only within tiers.
from . import relational_queries  # noqa: F401  (SURVEY §2 core: S/P/A/J/U/O + b/j/s/x)
from . import analytics_queries  # noqa: F401  (§2 iteration + ML: I1, C1-C5, g1/g2)
from . import streaming_queries  # noqa: F401  (ss1-ss8)
from . import llm_queries  # noqa: F401  (LLM data-pipeline ops)
from . import datapipe_queries  # noqa: F401  (chunk/split/pack/decontaminate)
from . import extended_queries  # noqa: F401  (OLAP b-family)
from .registry import ORACLES, QUERIES

#: correctness runs write one ``CORRECTNESS_r<N>.json`` per round at the
#: repo root; found relative to this file because the package may be
#: imported from another working directory
_RECORDS_DIR = Path(__file__).resolve().parents[2]
_RECORD_NAME = re.compile(r"CORRECTNESS_r(\d+)\.json")

# Queries whose code changed since the latest record: every caller of
# the two stream readers (streaming.ops), whose file staging changed.
# Reset it when the round's CORRECTNESS record lands.
_TOUCHED = (
    "ss1_tumbling_window",
    "ss2_sliding_window",
    "ss3_session_window",
    "ss4_streaming_dedup",
    "ss5_stateful_totals",
    "ss6_stream_stream_join",
    "ss7_stream_static_enrich",
    "ss8_foreach_batch_sink",
    "ss9_stateful_ewma",
    "ss10_snapshot_dedup_ingest",
    "ss11_transform_with_state",
    "ss13_streaming_ohlc",
    "ss14_dedup_within_watermark",
    "ss15_stream_stream_left_outer",
    "ss16_chained_stateful_ops",
    "ss17_dynamic_session_window",
    "ss18_streaming_neardup_probe",
    "ss19_streaming_dsir_gate",
    "ss20_streaming_curation_gate",
)


def sweep_order(
    records: Iterable[Path] | None = None, touched: Iterable[str] = _TOUCHED
) -> list[str]:
    """Every registered query, in the order it should be checked.

    A correctness run checks ~50 queries per round in ``all_queries()`` order,
    so the queries most in need of a check come first:

    1. oracle-backed queries whose latest record is not ``hash_match``;
    2. oracle-backed queries with no record;
    3. ``touched``: queries changed since their latest record;
    4. every other oracle-backed query, stalest first, by (round of its
       latest record, name);
    5. queries with no oracle, which can never be hash-green.

    Tiers 1, 2 and 5 keep registration order. ``records`` defaults to
    the ``CORRECTNESS_r<N>.json`` files beside the package; with none
    present every oracle-backed query is in tier 2, so the result is
    registration order.
    """
    if records is None:
        records = _RECORDS_DIR.glob("CORRECTNESS_r*.json")
    rounds = sorted(
        (int(m[1]), path)
        for path in records
        if (m := _RECORD_NAME.fullmatch(path.name))
    )
    latest: dict[str, tuple[int, bool]] = {}
    for rnd, path in rounds:
        for name, rec in json.loads(path.read_text()).items():
            latest[name] = (rnd, rec.get("hash_match") is True)
    checked = [k for k in QUERIES if k in ORACLES]
    front = dict.fromkeys(
        [
            *(k for k in checked if k in latest and not latest[k][1]),
            *(k for k in checked if k not in latest),
            *(k for k in touched if k in ORACLES),
        ]
    )
    rest = sorted(
        (k for k in checked if k not in front), key=lambda k: (latest[k][0], k)
    )
    return [*front, *rest, *(k for k in QUERIES if k not in ORACLES)]


@functools.cache
def _order() -> tuple[str, ...]:
    return tuple(sweep_order())


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: QUERIES[k] for k in _order()}


def all_oracles() -> dict[str, str]:
    return {k: ORACLES[k] for k in _order() if k in ORACLES}

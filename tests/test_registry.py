"""Contract of the gate-query table (``entry_queries.queries()``).

``queries()`` is the one name → callable table: ``oracle_sql()`` twins it
key for key, ``bench_queries()`` is a named subset of it, and calling an
entry only builds a DataFrame. No Spark action runs here.
"""

from __future__ import annotations

import os
import sys

from conftest import SF_SMALL
from paddleocr_spark.entry_queries import BENCH, oracle_sql, queries
from paddleocr_spark.functions import bench_queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(ROOT, "GATE_COVERAGE.json")


def test_every_query_has_an_oracle_twin():
    assert set(queries()) == set(oracle_sql())
    assert len(queries()) == 171


def test_entries_are_the_module_functions_themselves():
    for name, fn in queries().items():
        module = sys.modules[fn.__module__]
        assert getattr(module, fn.__name__, None) is fn, name


def test_bench_queries_is_a_subset_of_the_table():
    assert len(BENCH) == len(set(BENCH))
    table = queries()
    bench = bench_queries()
    assert list(bench) == list(BENCH)
    for name, fn in bench.items():
        assert fn is table[name], name


def test_calling_a_query_leaves_the_ledger_alone(spark):
    with open(LEDGER, "rb") as fh:
        before = fh.read()
    queries()["strq2b"](spark, SF_SMALL)
    with open(LEDGER, "rb") as fh:
        assert fh.read() == before

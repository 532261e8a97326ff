"""The driver contract is frozen: every ``oracle_sql()`` string and the
``queries()`` key order are pinned by sha256, so a refactor of the
entry module or of a helper an oracle string is built from (for
example the 9dp quantize SQL in functions/pca.py) cannot change what
the driver compares against without this test failing.  Spark-free:
it only builds the two dicts."""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as E

# sha256 of json.dumps(sorted(oracle_sql().items()))
ORACLE_SHA256 = "20ef34c578d153f22aa7921de85273c2fe896d90d050ad36a9187166f461d66a"
# sha256 of json.dumps(list(queries()))
QUERY_ORDER_SHA256 = (
    "92eeb45a0304654d03fd5584491f0d6c354b2c290f733abb41f4bf4ed71b6598"
)


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_oracle_sql_strings_unchanged():
    assert _sha(sorted(E.oracle_sql().items())) == ORACLE_SHA256


def test_queries_key_order_unchanged():
    assert _sha(list(E.queries())) == QUERY_ORDER_SHA256

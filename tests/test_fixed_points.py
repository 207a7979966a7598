"""The registered query names and their oracle SQL are fixed points:
every refactor behind them must leave the 80 names and each
``oracle_sql()`` text byte for byte as they are.  The digest below is
of the texts as first pinned; change it only together with a
deliberate, documented oracle change."""

import hashlib
import json

import __spark_entry__ as entry

_ORACLE_SHA256 = (
    "8a6c811b230ac0b1dbd8da15241de0a5e83e7897fee7515204ce23a474092a87")


def test_oracle_sql_texts_are_pinned():
    texts = json.dumps(sorted(entry.oracle_sql().items()))
    assert hashlib.sha256(texts.encode()).hexdigest() == _ORACLE_SHA256


def test_every_query_has_an_oracle():
    assert set(entry.queries()) == set(entry.oracle_sql())
    assert len(entry.queries()) == 80

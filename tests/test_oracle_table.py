"""``__spark_entry__.ORACLES`` is the catalog's one index: each name is
the name of a query function defined in ``catalog``, each oracle renders, and
``queries()`` and ``oracle_sql()`` list the same names in the table's
order. Nothing here starts a Spark job."""

from __future__ import annotations

import __spark_entry__ as entry
from topnotch_spark import catalog


def test_every_name_is_a_same_named_catalog_function():
    for name in entry.ORACLES:
        fn = getattr(catalog, name, None)
        assert callable(fn), name
        assert fn.__name__ == name and fn.__module__ == catalog.__name__


def test_every_oracle_renders_sql():
    sqls = entry.oracle_sql()
    assert len(sqls) == 211
    assert all(isinstance(sql, str) and sql.strip() for sql in sqls.values())


def test_queries_and_oracles_list_the_same_names_in_order():
    assert list(entry.queries()) == list(entry.oracle_sql())
    assert list(entry.queries()) == list(entry.ORACLES)
